"""Deterministic stratified sampling — training pipelines carve
per-source (per-language, per-domain) subsets with EXACT proportions;
a plain hash filter only approximates the rate within each stratum.

``stratified_sample`` keeps, in every stratum, the first
``floor(n * num / den)`` rows of a deterministic pseudo-random order
(multiplicative hash of doc_id, doc_id tie-break).  Exactness rules:
- the sampling bound is pure INTEGER arithmetic (``rank * den <=
  n * num``) — a float ``ceil(fraction * n)`` differs between engines at
  representation boundaries (0.2 * 15 is 3.0000000000000004 in float64
  but 3.0 in decimal);
- the rank comes from the skew-safe two-phase distributed rank
  (``windows.sibling_positions``) — never a whole-stratum window — over
  a zero-padded ``hash|doc_id`` string key whose lexicographic order
  equals the numeric (hash, doc_id) order.

Scale: two narrow passes + the rank's two small exchanges + a broadcast
of per-stratum counts; no stratum is ever sorted in one task.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from learnhtml_spark.functions.windows import sibling_positions
from learnhtml_spark.schemas import local_frame

#: Knuth multiplicative hash over the Mersenne prime — portable to any
#: SQL engine as (doc_id * A) % P (same family as doc_split)
_A = 2654435761
_P = 2147483647


def _sample_key(op_name: str):
    """Zero-padded ``hash|doc_id`` string key whose lexicographic order
    equals the numeric (hash, doc_id) order — the shared deterministic
    sampling order of this module.

    The padded-string invariant needs 0 <= doc_id and doc_id*A within
    int64: Spark silently wraps the product on overflow (doc_id >
    ~3.47e9) yielding a NEGATIVE hv whose '%010d' rendering sorts before
    all digits, silently diverging from the documented hash order
    (ADVICE r4).  Out-of-range ids fail the job with a clear error
    instead; the guard is a plan-level expression, free on valid data."""
    max_id = (2**63 - 1) // _A
    did = F.col("doc_id").cast("long")
    safe_id = F.when(
        did.isNull() | (did < 0) | (did > max_id),
        F.raise_error(
            F.concat(
                F.lit(
                    f"{op_name}: doc_id must be a non-null integer "
                    f"in [0, {max_id}] (hash-key invariant); got "
                ),
                F.coalesce(did.cast("string"), F.lit("NULL")),
            )
        ).cast("long"),
    ).otherwise(did)
    hv = F.pmod(safe_id * F.lit(_A), F.lit(_P))
    return F.format_string("%010d|%019d", hv, safe_id)


def stratified_sample(
    docs: DataFrame, num: int = 1, den: int = 5, strata: str = "source"
) -> DataFrame:
    """(doc_id, <strata>): exactly ``floor(n_stratum * num / den)`` rows
    per stratum, deterministically pseudo-randomly chosen (hash order),
    stable across runs, partitionings and engines."""
    if not (0 < num <= den):
        raise ValueError("need 0 < num <= den")
    base = docs.select(F.col("doc_id").cast("long").alias("doc_id"), strata).withColumn(
        "_ord", _sample_key("stratified_sample")
    )
    ranked = sibling_positions(base, group=strata, order="_ord", out="_rank")
    counts = base.groupBy(strata).agg(F.count("*").alias("_n"))
    kept = (
        ranked.join(F.broadcast(counts), strata)
        # 0-based rank: keep ranks 0 .. floor(n*num/den)-1
        .filter((F.col("_rank") + 1) * den <= F.col("_n") * num)
        .select(
            F.split(F.col("_ord"), r"\|").getItem(1).cast("long").alias("doc_id"),
            strata,
        )
    )
    return kept


def mixture_sample(
    docs: DataFrame,
    rates: dict[str, tuple[int, int]],
    strata: str = "source",
) -> DataFrame:
    """(doc_id, <strata>): data-mixing sampler — every stratum gets its
    OWN exact rate.  ``rates`` maps stratum value -> ``(num, den)``;
    the output keeps exactly ``floor(n_stratum * num / den)`` rows per
    listed stratum, in the same deterministic hash order as
    ``stratified_sample`` (so a stratum's ``(1, 5)`` sample here is
    row-identical to its slice of a corpus-wide 1/5 sample — rates can
    be retuned without resampling everything).  Strata absent from
    ``rates`` are dropped: a mixture spec is an explicit allowlist,
    and ``num = 0`` is the in-band way to keep a stratum visible in the
    spec while contributing nothing.

    This is the "data mixing" step of LLM corpus assembly (e.g.
    up-weighting curated feeds and down-weighting raw crawl): the usual
    formulation samples source s with probability w_s, which only
    approximates the target proportions; the integer-ratio bound makes
    them exact per stratum.

    Scale: the rates table is ``len(rates)`` rows — broadcast at any
    corpus size; everything else is the ``stratified_sample`` shape
    (two narrow passes + the skew-safe two-phase rank + a broadcast of
    per-stratum counts; no whole-stratum window or sort)."""
    if not rates:
        raise ValueError("mixture_sample: rates must name at least one stratum")
    rows = []
    for key in sorted(rates):
        num, den = rates[key]
        num, den = int(num), int(den)
        if not (0 <= num <= den and den > 0):
            raise ValueError(
                f"mixture_sample: need 0 <= num <= den for stratum {key!r}, "
                f"got ({num}, {den})"
            )
        rows.append((key, num, den))
    spark = docs.sparkSession
    rdf = local_frame(spark, rows, f"{strata} string, _num long, _den long")
    base = (
        docs.select(F.col("doc_id").cast("long").alias("doc_id"), strata)
        .join(F.broadcast(rdf.select(strata)), strata)
        .withColumn("_ord", _sample_key("mixture_sample"))
    )
    ranked = sibling_positions(base, group=strata, order="_ord", out="_rank")
    counts = base.groupBy(strata).agg(F.count("*").alias("_n")).join(rdf, strata)
    kept = (
        ranked.join(F.broadcast(counts), strata)
        # 0-based rank: keep ranks 0 .. floor(n*num/den)-1
        .filter((F.col("_rank") + 1) * F.col("_den") <= F.col("_n") * F.col("_num"))
        .select(
            F.split(F.col("_ord"), r"\|").getItem(1).cast("long").alias("doc_id"),
            strata,
        )
    )
    return kept
