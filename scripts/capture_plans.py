"""Regenerate PLANS.md: capture explain('formatted') for the load-bearing
plans and the per-query exchange inventory.  Run from repo root."""

import contextlib
import io
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF = "/root/testdata/sf0.01"

NOTES = {
    "extract_spans": "scan -> python stage, no shuffle",
    "node_features": "scan -> python stage, no shuffle",
    "label_ratios": "scan -> python stages, no shuffle",
    "minhash_lsh": "sig agg (1 shuffle, 16 mins in one groupBy) + band-group cap window + band self-join + distinct",
    "neardup_pipe": "LSH candidates -> Jaccard verify over candidate pairs only, off ONE checkpointed shingle base (explode + narrow sizes; 2 text splits in all); size joins AQE-sided (no forced per-doc broadcast)",
    "neardup_groups": "keeper-edge scale-default: band rows -> group-min agg -> join back on same key -> per-doc min; O(m) per band group",
    "dup_clusters": "band rows checkpointed once; within the broadcast threshold (as here) ONE bounded collect, then band-group min, edges, large-star/small-star contraction and labels in numpy (plan shown is the returned local relation); above it a window group-min builds the edges and each contraction round is one fused small∘large plan, one job",
    "gopher_quality": "narrow repetition/length exprs + two hash aggs for top word + one pk join",
    "simhash_neardup": "Manku-table: one sig aggregate -> capped block equi-join -> popcount verify (AQE-sided sig joins)",
    "tfidf_topk": "tf agg -> df agg -> token join (vocab-sized, AQE) -> doc_id rank window; N = broadcast one-row count in-plan (no eager docs.count())",
    "pack_sequences": "md5 bucket -> two-phase distributed cumsum (literal-boundary chunks + broadcast offsets) -> integer bin math",
    "simhash": "SINGLE hash-aggregate: 16 vote sums in one groupBy, no bit explode; built as SQL expression text (~190 py4j commands)",
    "ann_topk": "_cells (LSH code, home cell only) inline -> ONE shuffle (groupBy cell) -> _cell_topk_pdf gram + rank-keyed top-k per bucket (applyInPandas)",
    "ann_multiprobe": "_cells (code + one row per single-bit flip; home rows are the members) -> groupBy cell -> _cell_topk_pdf -> the one row_number re-rank on vec_id",
    "ivf_topk": "IVF-flat: centroid broadcast -> _cells (nearest centroid, _fold_dot order) -> ONE shuffle -> _cell_topk_pdf per cell",
    "ivf_probe": "_cells (2 nearest centroids; home rows are the members) -> groupBy cell -> _cell_topk_pdf -> the one row_number re-rank on vec_id (ann_multiprobe's tail)",
    "sibling_pos": "two-phase rank: literal-boundary chunk ids (pure row fn) + (chunk,group) window + broadcast offsets",
    "embedding_neardup": "_cells (LSH code) inline -> ONE shuffle -> per-bucket gram + threshold filter",
    "ngram_jaccard": "shingle self-join + AQE-sided size joins (no forced per-doc broadcast) — exact verify step",
    "cosine_topk": "broadcast unit corpus (_sorted_unit) -> one python stage: batch matmul + rank-keyed top-k (exact baseline; ann_topk is the scale path)",
    "pca_project": "one narrow mapInPandas: _fold_dot of the centered vector against the broadcast components, zero exchanges",
    "source_rollup": "dim broadcast (BroadcastHashJoin), partial aggs map-side",
    "token_stats": "pure narrow plan",
    "quality": "pure narrow plan",
    "lang_id": "pure narrow plan",
    "fingerprint": "pure narrow plan",
    "doc_split": "pure narrow plan",
    "ann_buckets": "one narrow mapInPandas (plane matrix is a python constant)",
    "token_bpe": "pure narrow plan (regexp_extract_all + aggregate, JVM-side)",
    "dedup_stream": "plan shown is the batch read of the stream's sink; the streaming plan is scan -> applyInPandasWithState (state store keyed by fp) -> sink",
    "dup_rate_by_source": "one (source, fp) two-phase distinct aggregate, map-side combined",
    "source_overlap": "distinct (source, shingle) agg computed ONCE (ReuseExchange covers per-source counts + both self-join sides); per-gram fan-out bounded by source cardinality",
    "unigram_lm": "tf agg computed ONCE (ReuseExchange) -> vocab rollup -> AQE-sized token join; corpus total = broadcast 1-row cross join",
    "exact_substr_dedup": "ExactSubstr (Lee et al.): narrow overlapping-window hash emission (~1 row/token — the heavy dedup, run post-shrink) -> min-window keeper per span_key (O(m) per boilerplate span, no pairs) -> doc_id-partitioned interval-merge windows -> reassembly via index-filter (no token explode on the rebuild side)",
    "segment_dedup": "C4-style: narrow segmentation (tokenize -> posexplode -> slice) -> min-window on seg_key (O(m) per boilerplate cluster, no pairs) -> per-doc reassembly agg",
    "bloom_decontaminate": "constant-size Bloom bitmap as a plan literal (built eagerly from the eval side) -> fully narrow md5+mod probe (no bloom join) -> per-doc agg + zero-hit restore join",
    "neardup_clean": "cleaned-corpus composition: keeper-edge verdicts -> duplicate-id anti-join on high-cardinality doc_id (AQE-sided)",
    "asof_events": "as-of join: union-tag + ONE high-cardinality (user_id) window carrying last(dim payload, ignorenulls) -> probe filter; one shuffle total",
    "range_join": "neighbor COUNT form: ONE range-frame window on integer-us ts (partition by user) — zero joins, zero pair materialization",
    "range_pairs": "two-table range join (pair output): 3-cell bucket replication turns the inequality join into a (key, cell) equi-join; each pair matched exactly once",
    "fuzzy_decontaminate": "broadcast per-eval-doc gram set; corpus exploded ONCE (n_grams is the narrow array-size expr, no second shingle pass) -> (doc, eval) overlap agg -> per-doc struct-min",
    "incremental_dedup": "snapshot-over-snapshot: corpus bands -> per-signature min aggregate (ONE probe row per sig, skew-immune) -> new-side band join -> per-doc min + unique restore join",
    "cluster_size_hist": "within the broadcast threshold (as here) two numpy counts over dup_clusters' driver labels, no Spark job after the band-row collect (plan shown is the returned local relation); above it two hash aggregates over the distributed labels (the second agg keys on the tiny distinct-size domain — aggregate, never window)",
    "hll_distinct": "deterministic HLL sketch: two map-side-combined hash aggs — (group, bucket) register max then per-group register sum (order-exact doubles); registers-only by default (exact countDistinct is an include_exact=True opt-in)",
    "mixture_sample": "data-mixing sampler: broadcast rates allowlist join -> shared deterministic hash order -> skew-safe two-phase rank -> per-stratum integer-ratio bound",
    "cluster_keepers": "band rows and the (doc_id, quality) projection both within the broadcast threshold (as here): two bounded collects, then labels, pk join, struct-min keeper and is_kept in numpy (plan shown is the returned local relation); otherwise dup_clusters' labels -> pk join with quality column (AQE-sided) -> ONE min(struct(-q, id)) argmax aggregate per cluster -> keeper join back on cluster_id",
    "pii_scrub": "pure narrow plan (JVM regexp redaction passes, map-only, zero shuffles)",
    "quality_gate": "gopher signals (narrow exprs + two hash aggs + pk join) -> narrow CASE verdict chain",
    "corpus_build": "four stage branches (exact fp agg, keeper-edge LSH, gopher gate, broadcast-eval decontaminate) -> three AQE-sized doc_id equi-joins; whole pipeline one plan",
    "contamination_report": "eval grams broadcast (bounded by eval suite) -> one corpus shingle pass -> per-eval-doc agg + zero-leak restore join",
    "embedding_decontaminate": "semantic decontamination: eval matrix broadcast (_sorted_unit; small by construction) -> ONE narrow mapInPandas gram pass; vec_id>cutoff pushed to the parquet scan, ZERO exchanges",
    "semdedup": "SemDeDup: centroid broadcast -> _cells (nearest centroid) -> ONE shuffle -> per-cell gram + in-kernel min-keeper fold by dense id rank (no pair rows)",
    "quantile_filter": "guarded padded desc key -> skew-safe two-phase rank -> broadcast per-group counts -> integer-ratio cut",
    "pdf_spans": "pure narrow plan: synthesize -> build/Flate-compress -> inflate/parse, one python stage, zero exchanges",
    "heuristic_spans": "scan -> repartition (2x cores: python-stage balancing, the _docs_balanced pattern) -> ONE mapInPandas (parse + blockify + density rules)",
    "warc_docs": "binaryFile listing fan-out (one task per archive) -> ONE mapInPandas (framing + gzip + HTTP) -> narrow digest projection, zero shuffles",
    "warc_extract": "fused crawl extraction: binaryFile -> interleaved assembly -> parser -> blockifier -> density rules, two chained python stages, zero exchanges",
    "outlinks": "binaryFile -> interleaved assembly -> DOM walk + RFC 3986 resolution, narrow, zero exchanges",
    "url_canon": "pure JVM canonicalization exprs inside the scan projection, zero exchanges",
    "url_dedup": "canonicalize in-projection -> ONE hash aggregate on the canonical key (map-side partial agg)",
    "link_graph": "edge derivation: broadcast one-row count cross join -> narrow modular exprs + explode",
    "components": "connected components via large-star/small-star contraction: an edge list within the broadcast threshold (as here) is contracted in numpy from ONE bounded collect (plan shown joins the nodes with the stars' local relation); above it each round is one fused small∘large plan, one job",
    "nfc_normalize": "pure narrow plan: scan -> ONE Arrow-batched mapInPandas (unicodedata), zero exchanges",
    "warc_cdx": "binaryFile listing fan-out -> ONE mapInPandas (member/record span index), narrow",
    "warc_stream": "plan shown is the batch read of the stream's parquet sink; the streaming plan is binaryFile source -> fused per-archive kernel -> sink (stateless, checkpoint = processed-archive manifest)",
    "pagerank": "6 integer-exact rounds, each ONE equi-join (ranks on src, AQE-sided) + ONE hash aggregate; localCheckpoint truncates lineage (plan shown reads the converged checkpoint blocks)",
}


def cap(df):
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def main():
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    import __spark_entry__ as E
    from learnhtml_spark.corpus import synthesize_docs
    from learnhtml_spark.operators.extract import extract_content_spans

    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "8g")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    docs = synthesize_docs(spark.read.parquet(f"{SF}/documents.parquet"))
    extraction_plan = cap(extract_content_spans(docs, E._model_bytes()))

    d = spark.read.parquet(f"{SF}/documents.parquet")
    pushdown_plan = cap(d.filter(F.col("lang") == "en").select("doc_id", "n_chars"))

    conf = spark.conf.get
    settings = (
        f"master `{spark.sparkContext.master}`, "
        f"`spark.sql.adaptive.enabled={conf('spark.sql.adaptive.enabled')}`, "
        f"`spark.sql.shuffle.partitions={conf('spark.sql.shuffle.partitions')}`, "
        "`spark.sql.autoBroadcastJoinThreshold="
        f"{conf('spark.sql.autoBroadcastJoinThreshold')}`, input `{SF}`"
    )
    lines = [
        "# PLANS — Catalyst physical-plan audit",
        "",
        '`df.explain("formatted")` captures for the load-bearing plans.',
        "Regenerate with `python scripts/capture_plans.py`.",
        f"Captured with {settings}; exchange counts depend on these.",
        "",
        "## 1. Flagship extraction — ZERO exchanges",
        "",
        "```",
        extraction_plan.strip()[:900],
        "```",
        "",
        "## 2. Predicate pushdown + column pruning reach the parquet scan",
        "",
        "```",
        pushdown_plan.strip()[:1100],
        "```",
        "",
        "## 3. Shuffle/exchange inventory per query",
        "",
        "| query | exchanges | notes |",
        "|---|---|---|",
    ]
    for name, fn in E.queries().items():
        t = cap(fn(spark, SF))
        note = NOTES.get(name, "")
        if "BroadcastHashJoin" in t:
            note = (note + "; broadcast join").strip("; ")
        lines.append(f"| {name} | {t.count('Exchange')} | {note} |")
    lines += [
        "",
        "Counts are raw `Exchange` node occurrences in explain('formatted') —",
        "they include BroadcastExchange (cheap, deliberate) and AQE-reused",
        "exchanges printed in multiple subtrees, so they upper-bound the",
        "number of distinct data shuffles.",
        "",
        "Higher-order functions run JVM-side but outside WholeStageCodegen —",
        "acceptable: projection-only, no shuffle.",
    ]
    with open("PLANS.md", "w") as f:
        f.write("\n".join(lines) + "\n")
    print("PLANS.md regenerated")
    spark.stop()


if __name__ == "__main__":
    main()
