"""URL canonicalization and canonical-URL dedup — crawl-pipeline surface.

A web-scale extraction corpus keys on URLs, and the same page arrives
under many spellings (case-variant scheme/host, explicit default ports,
fragments, permuted query parameters).  Canonicalizing before dedup is
the first dedup stage of every crawl pipeline (CommonCrawl's index keys
on a canonical form; see also RFC 3986 §6 "Normalization and
Comparison", whose syntax-based normalization this implements).

Everything here is pure JVM column expressions (regexp + higher-order
array functions) — no Python in the hot path, whole-stage codegen keeps
the canonicalization inside the scan projection, and the dedup is one
hash aggregate on the canonical key.  At 10^12 rows the aggregate
shuffles once on md5-sized keys; no skew hazard beyond what AQE handles
(a hot canonical URL is exactly the thing the count surfaces).

Reference parity note: the reference repo has no URL handling (its CSVs
carry opaque doc ids); this is beyond-reference crawl surface motivated
by the north rule's web-scale framing.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: RFC 3986 generic-syntax split (scheme://authority path ?query #fragment)
_RE_SCHEME = r"^([A-Za-z][A-Za-z0-9+.\-]*)://"
_RE_AUTH = r"^[A-Za-z][A-Za-z0-9+.\-]*://([^/?#]*)"
_RE_PATH = r"^[A-Za-z][A-Za-z0-9+.\-]*://[^/?#]*([^?#]*)"
_RE_QUERY = r"\?([^#]*)"

#: default ports dropped during normalization (RFC 3986 §6.2.3)
DEFAULT_PORTS = {"http": "80", "https": "443"}


def canonical_url(url: Column) -> Column:
    """Syntax-based canonical form of an absolute http(s) URL:

    - scheme and host lowercased (RFC 3986 §6.2.2.1);
    - explicit default port dropped (``:80`` for http, ``:443`` https);
    - empty path becomes ``/`` (§6.2.3);
    - query parameters sorted bytewise (the order carries no meaning for
      dedup purposes; CommonCrawl's SURT form sorts them too), empty
      ``&&`` runs dropped, ``?`` dropped when the query is empty;
    - fragment dropped (never sent to the server).

    Bracketed (IPv6) authorities are OUT OF SCOPE and passed through
    unchanged: the host/port split below is written for reg-names, and
    mangling ``http://[::1]:8080/x`` into a corrupt form would be worse
    than not normalizing it (crawl corpora key on hostnames; IPv6
    literals are vanishingly rare and never arrive in case/port-variant
    spellings from the same fetcher).  Guarded by a ``[`` anywhere in
    the authority (``http://u@[::1]:80/x`` carries userinfo before the
    bracket), pinned by a unit test.

    Deliberately NOT applied (documented scope, not an oversight):
    path dot-segment removal and percent-encoding normalization
    (§6.2.2.2/.3).  Both are iterative/character-class rewrites that a
    pure column expression cannot express; crawl URLs arrive ALREADY
    resolved (the fetcher resolved references before requesting — see
    ``functions/links.py``, whose urljoin removes dot segments), so in
    the dedup position this canonicalizer sits behind, those spellings
    do not occur.  If an un-resolved feed must be canonicalized, resolve
    through ``links.doc_outlinks``'s urljoin first.

    Pure column expression — safe in a scan projection at any scale.
    """
    scheme = F.lower(F.regexp_extract(url, _RE_SCHEME, 1))
    auth = F.lower(F.regexp_extract(url, _RE_AUTH, 1))
    host = F.regexp_extract(auth, r"^([^:]*)", 1)
    port = F.regexp_extract(auth, r":(\d+)$", 1)
    is_default = (
        ((scheme == "http") & (port == F.lit("80")))
        | ((scheme == "https") & (port == F.lit("443")))
    )
    port_part = F.when(
        (port == "") | is_default, F.lit("")
    ).otherwise(F.concat(F.lit(":"), port))
    path = F.regexp_extract(url, _RE_PATH, 1)
    path = F.when(path == "", F.lit("/")).otherwise(path)
    query = F.regexp_extract(url, _RE_QUERY, 1)
    sorted_q = F.array_join(
        F.array_sort(F.filter(F.split(query, "&"), lambda p: p != "")), "&"
    )
    q_part = F.when(
        sorted_q == "", F.lit("")
    ).otherwise(F.concat(F.lit("?"), sorted_q))
    canon = F.concat(scheme, F.lit("://"), host, port_part, path, q_part)
    # IPv6/bracketed authority: out of scope, pass through (see docstring)
    return F.when(auth.contains("["), url).otherwise(canon)


def url_canonicalize(df: DataFrame, url_col: str = "url") -> DataFrame:
    """Add ``canonical_url`` next to the raw URL column.  Narrow."""
    return df.withColumn("canonical_url", canonical_url(F.col(url_col)))


def url_dedup(df: DataFrame, url_col: str = "url") -> DataFrame:
    """Canonical-URL dedup summary: one row per canonical form with the
    variant count, distinct raw spellings, and the keeper (bytewise-min
    raw URL — deterministic, no window).  ONE hash aggregate; partial
    (map-side) aggregation applies since every column is an agg of the
    group key's rows."""
    canon = canonical_url(F.col(url_col)).alias("canonical_url")
    return (
        df.select(canon, F.col(url_col).alias("_raw"))
        .groupBy("canonical_url")
        .agg(
            F.count("*").alias("n_variants"),
            F.countDistinct("_raw").alias("n_spellings"),
            F.min("_raw").alias("keeper_url"),
        )
    )
