"""Streaming NEAR-duplicate detection — the streaming twin of the batch
``functions.dedup.neardup_pairs`` candidate generator: MinHash band
signatures kept in keyed state, so an incoming document is flagged the
moment ANY of its bands collides with a band seen earlier in the stream.

Semantics (first-seen-wins, mirroring ``dedup_stream``): for every band
group (band index, band signature) the state holds the keeper = smallest
doc_id first seen in that group; an incoming doc's verdict is
``keep_doc_id = min over its bands of the group keepers`` and
``is_duplicate = keep_doc_id != doc_id``.  Replayed with
``Trigger.AvailableNow`` over a single-file table this equals the batch
window ``min(doc_id) over (partition by band, band_sig)`` — which is what
the SQL oracle attests (one-hop keeper, deliberately NOT the transitive
closure: connected-component dedup is a batch job, not an online verdict).

Scale notes:
- the band signature is computed NARROWLY — one ``aggregate`` pass over
  the shingle hash array per document, all 16 minhashes folded in a
  single lambda accumulator and the band strings assembled in the
  ``finish`` lambda (the accumulator is a bound variable there, so
  nothing is re-evaluated; the batch explode+groupBy shape would be a
  stateful aggregation Spark cannot chain before keyed state);
- state = one (band, band_sig) -> keeper entry per distinct band
  signature: ``n_bands`` entries per distinct doc, hash-partitioned by
  signature (no skew — signatures are minhash-random).  A production
  deployment bounds it with state TTL (drop bands not seen for N days)
  — the operator itself is oblivious to eviction;
- output mode ``update``: O(incoming bands) rows per micro-batch, never
  O(state); the per-doc rollup (``neardup_verdicts``) runs inside the
  sink's ``foreachBatch`` over just that micro-batch's band verdicts
  (a doc's bands always share a micro-batch — they come from one row).

Reference parity: extends learnhtml beyond its batch corpus tooling
(SURVEY.md §2 training-pipeline operators); shingling, hashing and
banding are built from the same SQL helpers as
``functions.dedup.lsh_band_rows``, so stream and batch agree on
candidates.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from learnhtml_spark.functions.dedup import (
    _MH_P,
    _band_structs_sql,
    _check_lsh_params,
    _mh_constants,
    _minhash_sql,
    _shingle_hash_sql,
    _shingle_sql,
    _tokenized,
)


def band_signatures_narrow(
    docs: DataFrame, num_hashes: int = 16, band_size: int = 4, k: int = 3
) -> DataFrame:
    """(doc_id, band, band_sig) computed WITHOUT any shuffle or stateful
    aggregation — streaming-safe and value-identical to the batch
    ``lsh_band_rows``: both are built from the same shingle, hash,
    minhash and band SQL helpers of ``functions.dedup``.

    Everything folds in ONE ``aggregate`` expression over the shingle
    hashes: the merge lambda updates all ``num_hashes`` running minima,
    and the finish lambda (where the accumulator is a bound variable —
    evaluated once, the HOF re-evaluation hazard of r3 cannot apply)
    assembles the per-band sorted signature strings.  Documents with no
    shingles (empty/whitespace text) keep the sentinel accumulator and
    are filtered AFTER the explode, matching their absence from the
    batch signature table."""
    _check_lsh_params(num_hashes, k, band_size)
    A, B = _mh_constants(num_hashes)
    hashes = f"transform({_shingle_sql('_toks', k)}, s -> {_shingle_hash_sql('s')})"
    init = "array({})".format(", ".join([f"CAST({_MH_P} AS BIGINT)"] * num_hashes))
    merge = "(acc, h) -> array({})".format(", ".join(
        f"least(acc[{j}], {_minhash_sql('h', a, b)})"
        for j, (a, b) in enumerate(zip(A, B))
    ))
    finish = "acc -> " + _band_structs_sql(
        [f"acc[{j}]" for j in range(num_hashes)], band_size
    )
    sentinel = "|".join([str(_MH_P)] * band_size)
    return (
        _tokenized(docs, "doc_id")
        .selectExpr(
            "doc_id", f"inline(aggregate({hashes}, {init}, {merge}, {finish}))"
        )
        .filter(F.col("band_sig") != sentinel)
    )


def streaming_neardup_bands(
    docs: DataFrame,
    num_hashes: int = 16,
    band_size: int = 4,
    k: int = 3,
    state_ttl_ms: int | None = None,
) -> DataFrame:
    """(doc_id, band, grp_min) per incoming document band — ``grp_min`` is
    the first-seen-wins keeper of the (band, band_sig) state group
    (within-batch ties break to the smallest doc_id).  Feed the output of
    one micro-batch to ``neardup_verdicts`` for per-doc verdicts.

    ``state_ttl_ms`` bounds state growth for long-running production
    streams (ADVICE r4: NoTimeout state holds n_bands entries per
    distinct doc forever): with a TTL, a band group not refreshed within
    the window is evicted — a later duplicate of an evicted page is
    simply treated as first-seen, the standard recall/state trade of
    windowed dedup.  The replay-oracle harness leaves it None (exact
    first-seen semantics over one AvailableNow micro-batch).  Use a TTL
    only with a continuous trigger: AvailableNow stops before the empty
    cleanup batches that process timeouts can run (the TTL test drives a
    processingTime trigger for exactly this reason)."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    bands = band_signatures_narrow(docs, num_hashes, band_size, k)

    def fn(key, pdfs, state: GroupState):
        if state.hasTimedOut:
            state.remove()
            return
        doc_ids = []
        for pdf in pdfs:
            doc_ids.extend(int(d) for d in pdf["doc_id"])
        if state.exists:
            keeper = state.get[0]
        else:
            keeper = min(doc_ids)
            state.update((int(keeper),))
        if state_ttl_ms is not None:
            # refreshed on every sighting: eviction clock restarts while
            # a group keeps appearing in the stream
            state.setTimeoutDuration(state_ttl_ms)
        yield pd.DataFrame(
            {
                "doc_id": doc_ids,
                "band": [int(key[0])] * len(doc_ids),
                "grp_min": [int(keeper)] * len(doc_ids),
            }
        )

    timeout = (
        GroupStateTimeout.NoTimeout
        if state_ttl_ms is None
        else GroupStateTimeout.ProcessingTimeTimeout
    )
    return bands.groupBy("band", "band_sig").applyInPandasWithState(
        fn,
        outputStructType="doc_id long, band int, grp_min long",
        stateStructType="keeper long",
        outputMode="update",
        timeoutConf=timeout,
    )


def neardup_verdicts(band_verdicts: DataFrame) -> DataFrame:
    """Per-doc rollup of one micro-batch's band verdicts: (doc_id,
    keep_doc_id, is_duplicate) — a doc is a near-dup candidate if ANY of
    its bands had an earlier (or smaller, within the batch) keeper."""
    return (
        band_verdicts.groupBy("doc_id")
        .agg(F.min("grp_min").alias("keep_doc_id"))
        .select(
            "doc_id",
            "keep_doc_id",
            (F.col("keep_doc_id") != F.col("doc_id")).alias("is_duplicate"),
        )
    )
