"""URL canonicalization rules (RFC 3986 §6 syntax-based normalization)
and the canonical-URL dedup aggregate."""

import os
import sys

sys.path.insert(0, os.path.dirname(__file__))

from pyspark.sql import functions as F

from learnhtml_spark.functions.urls import canonical_url, url_dedup


def _canon(spark, urls):
    df = spark.createDataFrame([(u,) for u in urls], ["url"])
    return [
        r.c for r in df.select(canonical_url(F.col("url")).alias("c")).collect()
    ]


def test_rules(spark):
    cases = {
        # scheme + host case
        "HTTP://EXAMPLE.com/x": "http://example.com/x",
        # default ports dropped, per scheme
        "http://example.com:80/x": "http://example.com/x",
        "https://example.com:443/x": "https://example.com/x",
        # non-default ports kept (including the OTHER scheme's default)
        "http://example.com:443/x": "http://example.com:443/x",
        "https://example.com:8443/x": "https://example.com:8443/x",
        # empty path -> /
        "http://example.com": "http://example.com/",
        "http://example.com?a=1": "http://example.com/?a=1",
        # fragment dropped, even with empty query
        "http://example.com/x#frag": "http://example.com/x",
        "http://example.com/x?#frag": "http://example.com/x",
        # query param sort + empty-run removal; '?' dropped when empty
        "http://example.com/x?b=2&a=1": "http://example.com/x?a=1&b=2",
        "http://example.com/x?b=2&&a=1&": "http://example.com/x?a=1&b=2",
        "http://example.com/x?": "http://example.com/x",
        # path case and params' case are PRESERVED (only scheme/host fold)
        "http://example.com/X?A=1": "http://example.com/X?A=1",
        # userinfo-free host with subdomain
        "https://WWW.Site.example/a/b?z=9&y=8#s": (
            "https://www.site.example/a/b?y=8&z=9"
        ),
    }
    got = _canon(spark, list(cases))
    assert got == list(cases.values())


def test_idempotent(spark):
    urls = [
        "HTTP://EXAMPLE.com:80?b=2&&a=1#f",
        "https://x.example:443/p?q=1",
    ]
    once = _canon(spark, urls)
    twice = _canon(spark, once)
    assert once == twice


def test_dedup_groups(spark):
    df = spark.createDataFrame(
        [
            ("http://a.example/p?x=1&y=2",),
            ("HTTP://A.EXAMPLE/p?x=1&y=2",),
            ("http://a.example:80/p?y=2&x=1#f",),
            ("http://b.example/q",),
        ],
        ["url"],
    )
    rows = {r.canonical_url: r for r in url_dedup(df).collect()}
    a = rows["http://a.example/p?x=1&y=2"]
    assert (a.n_variants, a.n_spellings) == (3, 3)
    assert a.keeper_url == "HTTP://A.EXAMPLE/p?x=1&y=2"  # bytewise min
    assert rows["http://b.example/q"].n_variants == 1


def test_normalize_docs_forms(spark):
    from learnhtml_spark.functions.textstats import normalize_docs

    df = spark.createDataFrame(
        [(1, "Café"), (2, "Café"), (3, "ﬁne"), (4, None)],
        "doc_id long, text string",
    )
    nfc = {r.doc_id: r for r in normalize_docs(df, "NFC").collect()}
    assert nfc[1].text_norm == "Café" and nfc[1].changed
    assert nfc[2].text_norm == "Café" and not nfc[2].changed
    assert (nfc[1].n_chars_raw, nfc[1].n_chars_norm) == (5, 4)
    # NFC leaves compatibility ligatures alone; NFKC folds them
    assert nfc[3].text_norm == "ﬁne" and not nfc[3].changed
    nfkc = {r.doc_id: r for r in normalize_docs(df, "NFKC").collect()}
    assert nfkc[3].text_norm == "fine" and nfkc[3].changed
    assert nfc[4].text_norm == "" and not nfc[4].changed  # NULL-safe

    import pytest

    with pytest.raises(ValueError, match="normalization form"):
        normalize_docs(df, "NFX")


def test_documented_scope(spark):
    # dot segments and percent-encodings pass through UNCHANGED — the
    # documented contract (crawl URLs arrive fetcher-resolved; see the
    # canonical_url docstring).  This test pins the behavior so a future
    # change is a conscious one.
    assert _canon(spark, ["http://x.example/a/../b", "http://x.example/%7Eu"]) == [
        "http://x.example/a/../b",
        "http://x.example/%7Eu",
    ]


def test_ipv6_authority_passthrough(spark):
    # bracketed (IPv6) authorities are out of scope and pass through
    # UNCHANGED — without the guard the reg-name host/port split yields
    # a corrupt '[' host (see the canonical_url docstring)
    urls = [
        "http://[::1]:8080/x",
        "HTTP://[2001:db8::1]/p?b=2&a=1#f",
        "https://[::1]:443/",
        "http://u@[::1]:80/x",  # userinfo before the bracket
    ]
    assert _canon(spark, urls) == urls


def test_normalize_docs_string_doc_id(spark):
    # doc_id keeps the input table's key type: WARC-derived tables key
    # on URL strings (a hardcoded 'doc_id long' schema raised an Arrow
    # type error here)
    from learnhtml_spark.functions.textstats import normalize_docs

    df = spark.createDataFrame(
        [("https://a.example/x", "Café"), ("https://b.example/y", "ok")],
        "doc_id string, text string",
    )
    rows = {r.doc_id: r for r in normalize_docs(df, "NFC").collect()}
    assert rows["https://a.example/x"].text_norm == "Café"
    assert rows["https://b.example/y"].changed is False
