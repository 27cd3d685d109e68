"""Text-analysis functions over a documents table — all built-in
pyspark.sql.functions (JVM-side, whole-stage codegen; no Python UDFs).

Each function takes/returns DataFrames; the equivalent ANSI-SQL oracles
live in __spark_entry__.oracle_sql().  Numeric outputs are rounded so the
driver's value-hash comparison is float-stable.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: small multilingual stopword sets for the language-ID heuristic
STOPWORDS = {
    "en": ["the", "a", "of", "and", "to"],
    "de": ["der", "die", "und", "das", "ist"],
    "es": ["el", "la", "de", "que", "los"],
    "fr": ["le", "la", "et", "les", "des"],
}


def tokens(col) -> Column:
    """Whitespace tokens (empty text -> empty array) — kernel F2 analog.

    Note: ``trim`` strips ASCII spaces only (Spark and DuckDB agree), so
    text leading with a tab/newline yields an empty first token.  The
    SQL oracles pin the identical semantics; a property test
    (test_shingle_array_matches_python_reference) documents it."""
    t = F.trim(col)
    return F.when(F.length(t) == 0, F.array().cast("array<string>")).otherwise(
        F.split(t, r"\s+")
    )


def with_token_stats(docs: DataFrame) -> DataFrame:
    """token_count, avg word length, punctuation & whitespace ratios,
    stopword ratio — the quality-scoring feature set."""
    # the tokenizer split and the two regexp_replace passes are each
    # referenced several times by the ratio expressions below; a single
    # projection would re-evaluate them per reference (Catalyst does not
    # CSE non-cheap expressions within a Project), so the expensive
    # scalars are materialized in a FIRST projection and the ratios
    # computed from plain column refs in a second — identical values
    stop_arr = F.array(*[F.lit(w) for w in STOPWORDS["en"]])
    pre = docs.select(
        "doc_id",
        "lang",
        "source",
        tokens(F.col("text")).alias("_toks"),
        F.length("text").alias("_text_len"),
        (
            F.length("text")
            - F.length(F.regexp_replace("text", r"[^\w\s]", ""))
        ).alias("_punct"),
        (
            F.length("text") - F.length(F.regexp_replace("text", r"\s", ""))
        ).alias("_spaces"),
    ).select(
        "doc_id",
        "lang",
        "source",
        F.size("_toks").alias("_n_tok"),
        "_text_len",
        "_punct",
        "_spaces",
        F.size(
            F.filter("_toks", lambda t: F.array_contains(stop_arr, F.lower(t)))
        ).alias("_n_stop"),
    )
    n_tok = F.col("_n_tok")
    text_len = F.col("_text_len")
    punct = F.col("_punct")
    spaces = F.col("_spaces")
    n_stop = F.col("_n_stop")
    return pre.select(
        "doc_id",
        "lang",
        "source",
        n_tok.cast("long").alias("token_count"),
        F.round(
            F.when(n_tok > 0, (text_len - spaces - punct) / n_tok).otherwise(0.0), 6
        ).alias("avg_word_len"),
        F.round(F.when(text_len > 0, punct / text_len).otherwise(0.0), 6).alias(
            "punct_ratio"
        ),
        F.round(F.when(n_tok > 0, n_stop / n_tok).otherwise(0.0), 6).alias(
            "stopword_ratio"
        ),
    )


def quality_score(docs: DataFrame) -> DataFrame:
    """Composite quality score + keep/drop flag (training-data filtering)."""
    s = with_token_stats(docs)
    score = (
        F.when(F.col("token_count") >= 10, 0.4).otherwise(0.0)
        + F.when(F.col("stopword_ratio") > 0.05, 0.3).otherwise(0.0)
        + F.when(
            (F.col("avg_word_len") >= 2.5) & (F.col("avg_word_len") <= 10.0), 0.3
        ).otherwise(0.0)
    )
    return s.select(
        "doc_id",
        "token_count",
        F.round(score, 6).alias("quality"),
        (score >= 0.7).alias("keep"),
    )


def language_id(docs: DataFrame) -> DataFrame:
    """Stopword-vote language guess; 'unknown' when no stopwords hit.
    Deterministic tie-break by language code order."""
    # lowered token array materialized once; scoring it per language in
    # the same projection would re-run the tokenizer split per language
    # (no CSE of non-cheap exprs within a Project)
    base = docs.select(
        "doc_id",
        "lang",
        F.transform(tokens(F.col("text")), lambda t: F.lower(t)).alias(
            "_toks"
        ),
    )

    def _score(ws):
        arr = F.array(*[F.lit(w) for w in ws])
        return F.size(F.filter("_toks", lambda t: F.array_contains(arr, t)))

    scored = base.select(
        "doc_id",
        "lang",
        *[_score(ws).alias(f"score_{code}") for code, ws in STOPWORDS.items()],
    )
    codes = list(STOPWORDS)
    best = F.greatest(*[F.col(f"score_{c}") for c in codes])
    pred = F.when(best == 0, F.lit("unknown"))
    for c in codes:
        pred = pred.when(F.col(f"score_{c}") == best, F.lit(c))
    return scored.select("doc_id", "lang", pred.alias("lang_pred"))


def with_domain(df: DataFrame, url_col: str = "url") -> DataFrame:
    """Fully-qualified domain of a URL column (reference F8,
    features.py:289-292) — built-in parse_url, JVM-side."""
    return df.withColumn("domain", F.parse_url(F.col(url_col), F.lit("HOST")))


def grouped_shuffle(df: DataFrame, group_col: str = "doc_id", seed: int = 42) -> DataFrame:
    """Group-preserving shuffle (reference O1, utils/general.py:45-59):
    rows of the same group stay contiguous, group order is randomized
    deterministically — expressed as a repartition+sort on a seeded group
    hash, which is how the semantics distribute (no driver-side argsort)."""
    h = F.xxhash64(F.col(group_col), F.lit(seed))
    return df.repartition(F.col(group_col)).sortWithinPartitions(h, F.col(group_col))


def fingerprint(docs: DataFrame, keep: tuple = ()) -> DataFrame:
    """Document fingerprint: md5 of the whitespace-normalized, lowercased
    text (kernel F1-style normalization, exact-dup key).  ``keep`` names
    extra input columns to carry through (so callers never re-derive the
    normalization and drift)."""
    # the normalization (trim + regexp_replace + lower) is referenced by
    # both fp and norm_len — materialize it once in a prior projection so
    # the regexp pass runs once per row, not twice
    norm = F.lower(F.regexp_replace(F.trim(F.col("text")), r"\s+", " "))
    return docs.select(
        "doc_id", norm.alias("_norm"), *[F.col(c) for c in keep]
    ).select(
        "doc_id",
        F.md5("_norm").alias("fp"),
        F.length("_norm").cast("long").alias("norm_len"),
        *[F.col(c) for c in keep],
    )


def gopher_quality(docs: DataFrame) -> DataFrame:
    """Repetition-oriented quality signals (the Gopher/MassiveText rules
    family): per document —

    - ``n_words``            whitespace token count (lowercased tokens)
    - ``mean_word_len``      average token length
    - ``dup_2gram_frac``     1 - distinct/total word 2-grams (repetition)
    - ``top_word``           most frequent token (ties to lexicographic
                             smallest), '' for empty docs
    - ``top_word_frac``      its share of all tokens

    Plan shape (scale-reviewed): the repetition and length stats are PURE
    NARROW array expressions (zero shuffles); the top-word branch is two
    map-side-combined hash aggregates (token counts, then a struct-min
    per doc) re-joined on the doc_id primary key — one equi-join AQE
    sizes freely.  No windows, no per-row Python."""
    toks = F.transform(tokens(F.col("text")), lambda t: F.lower(t))
    # base feeds both the narrow repetition stats and the top-word
    # aggregate branch — checkpoint so the tokenizer runs once per row
    # (A/B r7: ~0.95 -> ~0.79s at sf0.1; a tf-style checkpoint on an
    # aggregate output measured WORSE, this one sits before the fork)
    base = docs.select("doc_id", toks.alias("t")).localCheckpoint(
        eager=False
    )
    n = F.size("t")
    # slice length n-1 is negative for empty docs — legal only because
    # grams is referenced solely inside the n >= 2 branch of the
    # dup_2gram_frac conditional (Spark's If evaluates branches lazily)
    g1 = F.slice(F.col("t"), 1, n - 1)
    g2 = F.slice(F.col("t"), 2, n - 1)
    grams = F.zip_with(g1, g2, lambda a, b: F.concat(a, F.lit(" "), b))
    char_sum = F.aggregate(
        F.col("t"), F.lit(0).cast("long"), lambda acc, x: acc + F.length(x)
    )
    narrow = base.select(
        "doc_id",
        n.cast("long").alias("n_words"),
        F.round(F.when(n > 0, char_sum / n).otherwise(0.0), 6).alias(
            "mean_word_len"
        ),
        F.round(
            F.when(
                n >= 2, 1.0 - F.size(F.array_distinct(grams)) / (n - 1)
            ).otherwise(0.0),
            6,
        ).alias("dup_2gram_frac"),
    )
    tok_counts = (
        base.select("doc_id", F.explode("t").alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count("*").alias("cnt"))
    )
    # min of struct(-cnt, tok): highest count, ties to smallest token
    top = (
        tok_counts.groupBy("doc_id")
        .agg(
            F.min(
                F.struct((-F.col("cnt")).alias("nc"), F.col("tok").alias("tok"))
            ).alias("m")
        )
        .select(
            "doc_id",
            F.col("m.tok").alias("top_word"),
            (-F.col("m.nc")).alias("top_cnt"),
        )
    )
    return narrow.join(top, "doc_id", "left").select(
        "doc_id",
        "n_words",
        "mean_word_len",
        "dup_2gram_frac",
        F.coalesce("top_word", F.lit("")).alias("top_word"),
        F.round(
            F.when(
                F.col("n_words") > 0,
                F.coalesce(F.col("top_cnt"), F.lit(0)) / F.col("n_words"),
            ).otherwise(0.0),
            6,
        ).alias("top_word_frac"),
    )


#: BPE-ish pre-tokenizer: disjoint character-class alternatives (alpha runs,
#: digit runs, symbol runs — optionally space-prefixed, GPT-2-style) so
#: Java-regex and RE2 engines agree without alternation-priority semantics
BPE_PATTERN = r" ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\s]+"


def bpe_token_count(docs: DataFrame) -> DataFrame:
    """(doc_id, token_count, bpe_count): whitespace word count plus a
    BPE-ish subword count — each pre-token match contributes
    max(1, ceil(len/4)) pieces, approximating how byte-pair vocabularies
    split long words into ~4-char merges.  The estimator LLM pipelines
    use to budget sequence lengths without shipping a tokenizer model;
    pure JVM expressions, whole-stage codegen."""
    pieces = F.regexp_extract_all(F.col("text"), F.lit(BPE_PATTERN), F.lit(0))
    per_piece = lambda m: F.greatest(
        F.lit(1).cast("long"),
        F.ceil(F.length(F.trim(m)).cast("double") / 4).cast("long"),
    )
    bpe = F.aggregate(
        pieces, F.lit(0).cast("long"), lambda acc, m: acc + per_piece(m)
    )
    return docs.select(
        "doc_id",
        F.size(tokens(F.col("text"))).cast("long").alias("token_count"),
        bpe.alias("bpe_count"),
    )


def unigram_lm_score(docs: DataFrame) -> DataFrame:
    """(doc_id, n_tokens, mean_tok_ppm): the CCNet-style unigram language
    -model quality signal — how "ordinary" a document's vocabulary is
    under the corpus's own unigram distribution.  ``mean_tok_ppm`` is the
    frequency-weighted mean corpus frequency of the document's tokens, in
    parts-per-million: stop-wordy boilerplate scores high, rare-token
    gibberish (mojibake, hashes, base64 blobs) scores low — the same
    ranking CCNet's wikipedia-LM perplexity filter produces, in a
    LOG-FREE form.

    Log-free on purpose (the ``tfidf_topk`` precedent): a true mean
    log-prob sums ``ln()`` values whose cross-engine bit patterns and
    addition order differ, breaking the driver's round(…,6) value hash.
    Here the numerator ``sum(cnt·gcnt)`` and both denominators are exact
    int64 aggregates; one canonical double expression
    ``s·10⁶ / n / total`` (identical association in the SQL oracle)
    produces bit-equal output.

    Plan shape (scale-reviewed): token counts and the vocabulary rollup
    are two map-side-combined hash aggregates; vocabulary joins back on
    ``tok`` (AQE-sized — vocab ≪ corpus); the corpus total arrives as a
    broadcast one-row cross join, never a driver action; the final
    left join restores empty docs.  No windows, no Python, no collect.
    At 10^12 docs ``sum(cnt·gcnt)`` can exceed int64 — production casts
    the product to double (the test-scale int64 keeps the oracle
    bit-exact)."""
    tf = (
        docs.select(
            "doc_id", F.explode(tokens(F.lower(F.col("text")))).alias("tok")
        )
        .filter(F.col("tok") != "")
        .groupBy("doc_id", "tok")
        .agg(F.count("*").alias("cnt"))
    )
    gl = tf.groupBy("tok").agg(F.sum("cnt").cast("long").alias("gcnt"))
    total = gl.agg(F.sum("gcnt").cast("long").alias("total"))
    per = (
        tf.join(gl, "tok")
        .groupBy("doc_id")
        .agg(
            F.sum("cnt").cast("long").alias("n_tokens"),
            F.sum(F.col("cnt") * F.col("gcnt")).cast("long").alias("s"),
        )
    )
    scored = per.crossJoin(F.broadcast(total)).select(
        "doc_id",
        "n_tokens",
        F.round(
            F.col("s").cast("double")
            * 1000000.0
            / F.col("n_tokens").cast("double")
            / F.col("total").cast("double"),
            6,
        ).alias("mean_tok_ppm"),
    )
    return (
        docs.select("doc_id")
        .join(scored, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_tokens", F.lit(0)).cast("long").alias("n_tokens"),
            F.coalesce("mean_tok_ppm", F.lit(0.0)).alias("mean_tok_ppm"),
        )
    )


#: PII redaction patterns — deliberately conservative, alternation-free
#: where possible, and verified to match IDENTICALLY under Java regex
#: (Spark) and RE2 (DuckDB): character classes, bounded quantifiers and
#: ASCII \b only.  The email pattern requires an alphabetic TLD, so
#: user@1.2.3.4 is left for the ipv4 pass.
PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_PHONE = r"\+\d{9,15}|\b\d{3}-\d{3,4}-\d{4}\b"
PII_IPV4 = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"


def pii_scrub(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc_id, n_email, n_phone, n_ipv4, clean_text): PII redaction —
    the compliance pass every web-scale training corpus runs before
    anything else sees the text.  Emails, phone numbers (international
    +digits or NNN-NNN(N)-NNNN) and IPv4 literals are replaced by
    ``<EMAIL>`` / ``<PHONE>`` / ``<IP>`` tokens, in that fixed order;
    each ``n_*`` counts the replacements its own pass made (counted on
    that pass's INPUT, so a digit run inside an already-redacted email
    is never double-counted).

    Scale: pure narrow JVM regexp expressions — zero shuffles, zero
    Python, whole-stage codegen; at 10^12 docs this is a map-only pass
    whose cost is the regex scan itself.  Redaction-token collisions
    with pre-existing text are accepted (standard for this op); counts
    are exact per pass, not per distinct entity."""
    t0 = F.col(text_col)
    t1 = F.regexp_replace(t0, PII_EMAIL, "<EMAIL>")
    t2 = F.regexp_replace(t1, PII_PHONE, "<PHONE>")
    t3 = F.regexp_replace(t2, PII_IPV4, "<IP>")
    return docs.select(
        "doc_id",
        F.regexp_count(t0, F.lit(PII_EMAIL)).cast("long").alias("n_email"),
        F.regexp_count(t1, F.lit(PII_PHONE)).cast("long").alias("n_phone"),
        F.regexp_count(t2, F.lit(PII_IPV4)).cast("long").alias("n_ipv4"),
        t3.alias("clean_text"),
    )


def quality_gate(
    docs: DataFrame,
    min_words: int = 5,
    max_words: int = 100000,
    min_word_len: float = 2.0,
    max_word_len: float = 12.0,
    max_dup_2gram: float = 0.3,
    max_top_word: float = 0.3,
) -> DataFrame:
    """(doc_id, first_violation, keep): the Gopher-rules FILTER — the
    composition step that turns ``gopher_quality``'s signals into the
    keep/drop verdicts a corpus build actually applies, with an
    AUDITABLE reason: ``first_violation`` names the first failing rule
    in the fixed order (too_few_words, too_many_words, short_words,
    long_words, repetitive, top_word_dominates) or '' for keepers.
    Thresholds compare the 6dp-ROUNDED signals ``gopher_quality``
    emits, so verdicts are bit-stable cross-engine.

    Scale: inherits ``gopher_quality``'s shape (narrow exprs + two hash
    aggs + one pk join); the verdict itself is a narrow CASE chain."""
    g = gopher_quality(docs)
    viol = (
        F.when(F.col("n_words") < min_words, "too_few_words")
        .when(F.col("n_words") > max_words, "too_many_words")
        .when(F.col("mean_word_len") < min_word_len, "short_words")
        .when(F.col("mean_word_len") > max_word_len, "long_words")
        .when(F.col("dup_2gram_frac") > max_dup_2gram, "repetitive")
        .when(F.col("top_word_frac") > max_top_word, "top_word_dominates")
        .otherwise("")
    )
    return g.select(
        "doc_id",
        viol.alias("first_violation"),
        (viol == "").alias("keep"),
    )


def normalize_docs(docs: DataFrame, form: str = "NFC") -> DataFrame:
    """Unicode normalization pass (CCNet-style preprocessing: crawled
    text mixes precomposed and combining-sequence spellings of the same
    grapheme, which breaks exact dedup and tokenizer vocab lookups).

    -> (doc_id, text_norm, changed, n_chars_raw, n_chars_norm).

    Spark has no built-in Unicode normalizer, so this is one
    Arrow-batched mapInPandas over the text column (vectorized
    ``unicodedata.normalize`` per batch) — narrow, zero shuffles; the
    DuckDB oracle side is ``nfc_normalize`` (verified codepoint-exact
    against CPython's unicodedata)."""
    import unicodedata
    from typing import Iterator

    import pandas as pd

    from learnhtml_spark.kernels.document import python_task

    if form not in ("NFC", "NFD", "NFKC", "NFKD"):
        raise ValueError(f"unknown normalization form: {form}")

    @python_task
    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            raw = pdf["text"].fillna("")
            norm = raw.map(lambda s: unicodedata.normalize(form, s))
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "text_norm": norm,
                    "changed": norm != raw,
                    "n_chars_raw": raw.str.len().astype("int64"),
                    "n_chars_norm": norm.str.len().astype("int64"),
                }
            )

    # doc_id keeps the INPUT table's key type (WARC-derived tables key on
    # URL strings; the sf tables on longs) instead of hardcoding long
    from pyspark.sql.types import (
        BooleanType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    narrow = docs.select("doc_id", "text")
    out_schema = StructType(
        [
            StructField("doc_id", narrow.schema["doc_id"].dataType),
            StructField("text_norm", StringType()),
            StructField("changed", BooleanType()),
            StructField("n_chars_raw", LongType()),
            StructField("n_chars_norm", LongType()),
        ]
    )
    return narrow.mapInPandas(run, schema=out_schema)
