"""Similarity search over an embedding column (array<float>).

- ``cosine_topk``: brute-force exact top-k neighbors — the correctness
  baseline.  The corpus is broadcast once (the same data movement a
  broadcast join performs for its build side) and each Arrow batch does
  ONE numpy (batch × corpus) matmul; a row-count guard refuses corpora
  too large to broadcast and points at ``ann_lsh_topk``.
- ``hyperplane_lsh_buckets`` / ``ann_lsh_topk`` / ``embedding_neardup_pairs``:
  the scale path — random hyperplanes derived deterministically from md5
  (portable to the SQL oracle), sign-pattern bucketing, then exact cosine
  within buckets only.
- ``ivf_topk`` / ``semdedup``: the same shape over IVF cells (nearest
  fitted or data-seeded centroid); ``pca_project`` and
  ``embedding_decontaminate`` are narrow passes against broadcast
  constants.

Shared parts — each concept has one implementation:

- ``_unit``: the zero-guarded row normalization;
- ``_fold_dot``: the dim-by-dim projection fold in DuckDB's ``list_sum``
  order (LSH codes, IVF cells, PCA) so values are bit-stable across
  engines;
- ``_topk_pairs``: top-k by (-sim, neighbor_id) with self excluded, for
  any id type (ids are ordered by their dense rank);
- ``_cells``: the one cell map, one row per (vector, probed cell) with
  ``is_home`` marking the vector's own cell; ``_cell_topk``: the one
  per-cell kernel (every row a query, home rows the members) plus, when
  a vector probes more than its home cell, the one global re-rank;
- ``_sorted_unit``: a small collected side (exact corpus, IVF seeds,
  eval set) as ascending ids and a unit matrix.

Plan economics (the round-2 lesson): the plane matrix depends only on
(bit, dim) — it is a CONSTANT.  Deriving it per row × bit × dim with
interpreted ``conv(substr(md5(...)))`` expressions cost ~355 s on 2,000
vectors; precomputing it once in Python (same md5 derivation, so the
DuckDB oracle is unchanged) and folding inside an Arrow batch brings the
whole ANN query to seconds.  All kernels here are ``mapInPandas`` /
``applyInPandas`` — no per-row Python, no interpreted higher-order
lambdas in hot paths.

Rounding: sims and projections are rounded to 6 dp with HALF-AWAY-FROM-ZERO
(``_round6``), matching DuckDB's binary ``round`` — NOT numpy's default
banker's rounding, which differs on exact 5e-7 boundaries.  Spark's
``F.round`` (BigDecimal over the shortest decimal string) can differ from
both at decimal-representation boundaries, so no kernel here may mix
``F.round`` with ``_round6`` on the same values (none does — rounding
happens only inside the numpy kernels).
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from learnhtml_spark.kernels.document import python_task

_MAX_BROADCAST_ROWS = 200_000  # ~100 MB at 64 float64 dims — broadcast ceiling


def _round6(x):
    """round(x, 6) half-away-from-zero on the BINARY double — parity with
    DuckDB's ``round`` (the oracle engine), NOT numpy's np.round
    (half-to-even, ADVICE r2) and not necessarily Spark's ``F.round``
    (BigDecimal over the shortest decimal string, which can differ at
    decimal-representation boundaries — ADVICE r3).  Spark-side kernels
    must round via this function only, never ``F.round``."""
    import numpy as np

    return np.copysign(np.floor(np.abs(x) * 1e6 + 0.5), x) / 1e6


def _check_at_least_1(**params) -> None:
    for name, value in params.items():
        if value < 1:
            raise ValueError(f"{name} must be >= 1, got {value}")


def _check_bits(bits: int) -> None:
    # codes are int32 sign patterns: bit 31 would make them negative and a
    # multiprobe flip of it would overflow the column type
    if not 1 <= bits <= 31:
        raise ValueError(f"bits must be in 1..31, got {bits}")


def _unit(m):
    """Rows of ``m`` scaled to unit norm; zero rows stay zero."""
    import numpy as np

    norms = np.sqrt((m * m).sum(axis=1))
    norms[norms == 0] = 1.0
    return m / norms[:, None]


def _fold_dot(q, m):
    """(rows of q) · (rows of m), folded dim-by-dim (vectorized across
    rows × targets) so the float64 addition ORDER matches a sequential
    left-fold — the same associativity as DuckDB's ``list_sum`` — and
    engine-specific matmul associativity cannot move a bit."""
    import numpy as np

    out = np.zeros((q.shape[0], m.shape[0]), dtype=np.float64)
    for d in range(m.shape[1]):
        out += q[:, d : d + 1] * m[:, d]
    return out


def _plane_matrix(bits: int, dims: int):
    """Deterministic (bits × dims) hyperplane matrix: component (b, d) is
    nibble(md5('b:d')) - 7.5 in [-7.5, 7.5] — the exact derivation the
    DuckDB oracle replays with strpos('0123456789abcdef', substr(md5(...)))
    (see __spark_entry__._ANN_BUCKETS_SQL).  Each component is k - 7.5,
    k ∈ 0..15 — exactly representable in float64, so precomputing here is
    bit-identical to the former per-row Catalyst expression."""
    import numpy as np

    m = np.empty((bits, dims), dtype=np.float64)
    for b in range(bits):
        for d in range(dims):
            nib = hashlib.md5(f"{b}:{d}".encode()).hexdigest()[0]
            m[b, d] = int(nib, 16) - 7.5
    return m


def _bucket_codes(emb_mat, bits: int):
    """Bucket id per row: sign pattern of the ``bits`` plane projections,
    rounded at 6 dp before the sign test (``_fold_dot`` order)."""
    import numpy as np

    proj = _fold_dot(emb_mat, _plane_matrix(bits, emb_mat.shape[1]))
    signs = _round6(proj) > 0
    return (signs * (1 << np.arange(bits))).sum(axis=1).astype(np.int32)


def _nearest(sims, p: int):
    """Column indices of each row's ``p`` largest sims, best first; ties
    keep the smaller column (stable sort)."""
    import numpy as np

    return np.argsort(-sims, axis=1, kind="stable")[:, :p].astype(np.int32)


def _emb_f64(series):
    """Stack an Arrow list<float> column into an (n × dims) float64 matrix.
    float32 → float64 widening is exact, matching ``embedding[d]::double``."""
    import numpy as np

    return np.array([np.asarray(v, dtype=np.float64) for v in series])


def _id_type(embeddings: DataFrame) -> str:
    """The ``vec_id`` column's own type, as DDL for the output schemas."""
    return dict(embeddings.dtypes)["vec_id"]


def _sorted_unit(rows):
    """Collected (vec_id, embedding) rows → (ascending ids, unit matrix)."""
    import numpy as np

    ids = np.array([r["vec_id"] for r in rows])
    order = np.argsort(ids, kind="stable")
    mat = np.array([r["embedding"] for r in rows], dtype=np.float64)
    return ids[order], _unit(mat[order])


def _topk_pairs(q_ids, cand_ids, sims, k):
    """Vectorized top-k over a (queries × candidates) rounded-sim matrix
    with exact (-sim, neighbor_id ASC) ordering and self-exclusion, for
    any id type.

    sims are 6-dp-rounded, so ``sim * 1e6`` is an exact integer, and the
    candidate ids are replaced by their dense rank (< 2^32), so the
    composite int64 key ``-sim_int * 2^32 + rank`` reproduces the
    (-sim, id) lexicographic order bit-for-bit — one argsort instead of a
    lexsort per query row.  Returns (qi, ci, ranks) index arrays into
    q_ids / cand_ids."""
    import numpy as np

    _, id_rank = np.unique(cand_ids, return_inverse=True)
    sim_int = np.rint(sims * 1e6).astype(np.int64)
    key = -sim_int * (1 << 32) + id_rank[None, :].astype(np.int64)
    # self matches sort last (key = +max), so non-self ranks stay 1..kk
    key = np.where(
        q_ids[:, None] == cand_ids[None, :], np.iinfo(np.int64).max, key
    )
    kk = min(k, len(cand_ids))
    idx = np.argpartition(key, kk - 1, axis=1)[:, :kk] if kk < len(cand_ids) \
        else np.broadcast_to(np.arange(kk), (len(q_ids), kk)).copy()
    order = np.argsort(np.take_along_axis(key, idx, axis=1), axis=1)
    idx = np.take_along_axis(idx, order, axis=1)
    qi = np.repeat(np.arange(len(q_ids)), kk)
    ci = idx.ravel()
    ranks = np.tile(np.arange(1, kk + 1), len(q_ids))
    keep = q_ids[qi] != cand_ids[ci]
    return qi[keep], ci[keep], ranks[keep]


def _topk_frame(q_ids, cand_ids, sims, k):
    """(vec_id, neighbor_id, sim, rank) rows of ``_topk_pairs``."""
    import pandas as pd

    qi, ci, ranks = _topk_pairs(q_ids, cand_ids, sims, k)
    return pd.DataFrame(
        {
            "vec_id": q_ids[qi],
            "neighbor_id": cand_ids[ci],
            "sim": sims[qi, ci],
            "rank": ranks,
        }
    )


def _cells(embeddings: DataFrame, cells_of) -> DataFrame:
    """(vec_id, cell, embedding, is_home): the one cell map.  ``cells_of``
    takes a batch's (n × dims) float64 matrix and returns an (n × p) int
    matrix; column 0 is each vector's home cell (where it is INDEXED) and
    every column becomes one row (where it QUERIES).  The vector travels
    with its cells, so the downstream groupBy shuffles the corpus once."""
    import numpy as np
    import pandas as pd

    @python_task
    def run(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            cells = np.asarray(cells_of(_emb_f64(pdf["embedding"])))
            n, p = cells.shape
            yield pd.DataFrame(
                {
                    "vec_id": np.concatenate([pdf["vec_id"].to_numpy()] * p),
                    "cell": cells.T.ravel().astype(np.int32),
                    "embedding": np.concatenate(
                        [pdf["embedding"].to_numpy()] * p
                    ),
                    "is_home": np.arange(n * p) < n,
                }
            )

    schema = (
        f"vec_id {_id_type(embeddings)}, cell int, embedding array<float>, "
        "is_home boolean"
    )
    return embeddings.select("vec_id", "embedding").mapInPandas(run, schema=schema)


def _cell_topk_pdf(pdf, k: int):
    """Per-cell kernel: every row is a query, the ``is_home`` rows are the
    members (each vector is indexed in exactly one cell, so a (query,
    member) pair occurs in exactly one cell — merging cells needs no
    dedup); exact (-sim, neighbor_id) top-k per query, self excluded."""
    home = pdf["is_home"].to_numpy()
    ids = pdf["vec_id"].to_numpy()
    u = _unit(_emb_f64(pdf["embedding"]))
    if home.all():
        # numpy computes a @ a.T on one array with another BLAS kernel than
        # a product of two arrays, and the two can differ in the last bit:
        # cells without probe rows keep the one-array gram
        return _topk_frame(ids, ids, _round6(u @ u.T), k)
    return _topk_frame(ids, ids[home], _round6(u @ u[home].T), k)


def _cell_topk(cells: DataFrame, k: int, probes: bool) -> DataFrame:
    """The one top-k tail over ``_cells`` rows.  Without probes each
    vector's cell holds all its candidates, so the kernel's ranks are
    final (ONE shuffle).  With probes each query's winners are spread over
    its probed cells: a second small shuffle re-ranks them globally by the
    same (-sim, neighbor_id) order."""
    id_t = _id_type(cells)
    per_cell = cells.groupBy("cell").applyInPandas(
        lambda pdf: _cell_topk_pdf(pdf, k),
        schema=f"vec_id {id_t}, neighbor_id {id_t}, sim double, rank int",
    )
    if not probes:
        return per_cell
    from pyspark.sql import Window

    w = Window.partitionBy("vec_id").orderBy(
        F.desc("sim"), F.asc("neighbor_id")
    )
    return (
        per_cell.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .withColumn("rank", F.col("rank").cast("int"))
    )


def cosine_topk(
    embeddings: DataFrame, k: int = 5, max_rows: int | None = None
) -> DataFrame:
    """Exact top-k cosine neighbors per vector: (vec_id, neighbor_id, sim,
    rank); ties broken by neighbor_id; sim rounded (HALF_UP) for
    float-stable comparison.

    EAGER at call time: the corpus is counted and collected to the driver
    (the explicit broadcast build side of an all-pairs comparison — exact
    top-k needs the whole corpus against every row by definition).  A
    row-count guard caps the collect at ``max_rows`` (default
    ``_MAX_BROADCAST_ROWS``; callers with ample driver memory may raise
    it — ADVICE r3 escape hatch); beyond that the right tool is
    ``ann_lsh_topk`` (bucketed, no driver materialization).  Each Arrow
    batch then does ONE numpy (batch × corpus) matmul + top-k: zero
    shuffles, embarrassingly parallel over the query rows."""
    _check_at_least_1(k=k)
    if max_rows is None:
        max_rows = _MAX_BROADCAST_ROWS
    spark = embeddings.sparkSession
    # limit(cap+1): one job, and the driver never materializes more than
    # cap+1 rows even when the corpus is huge — the guard IS the collect
    rows = (
        embeddings.select("vec_id", "embedding")
        .limit(max_rows + 1)
        .collect()
    )
    if len(rows) > max_rows:
        raise ValueError(
            f"cosine_topk is the exact all-pairs baseline and broadcasts the "
            f"corpus (> cap {max_rows} rows); raise max_rows= if the driver "
            f"can hold the corpus, or use ann_lsh_topk (LSH-bucketed, "
            f"distributed) for large corpora."
        )
    id_t = _id_type(embeddings)
    schema = f"vec_id {id_t}, neighbor_id {id_t}, sim double, rank int"
    if not rows:
        return spark.createDataFrame([], schema)
    bc = spark.sparkContext.broadcast(_sorted_unit(rows))

    @python_task
    def run(batches):
        all_ids, unit = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            sims = _round6(_unit(_emb_f64(pdf["embedding"])) @ unit.T)
            yield _topk_frame(pdf["vec_id"].to_numpy(), all_ids, sims, k)

    return embeddings.select("vec_id", "embedding").mapInPandas(run, schema=schema)


def hyperplane_lsh_buckets(embeddings: DataFrame, bits: int = 8) -> DataFrame:
    """(vec_id, bucket): sign pattern of ``bits`` (1..31) deterministic
    hyperplane projections.  One narrow mapInPandas — no shuffle, no join;
    the plane matrix is a process-level constant (see ``_plane_matrix``)."""
    import pandas as pd

    _check_bits(bits)

    @python_task
    def run(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            codes = _bucket_codes(_emb_f64(pdf["embedding"]), bits)
            yield pd.DataFrame({"vec_id": pdf["vec_id"], "bucket": codes})

    schema = f"vec_id {_id_type(embeddings)}, bucket int"
    return embeddings.select("vec_id", "embedding").mapInPandas(run, schema=schema)


def embedding_neardup_pairs(
    embeddings: DataFrame, threshold: float = 0.92, bits: int = 4
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: LSH-bucket candidates first
    (near-identical vectors agree on every hyperplane sign with high
    probability), then exact cosine within buckets — the scale path for
    embedding dedup.  Returns (vec_id_a, vec_id_b, sim) with sim rounded.

    Plan: one mapInPandas to bucket, ONE shuffle (groupBy bucket), then a
    numpy gram matrix per bucket — O(Σ n_b²) work confined to buckets, no
    all-pairs join, nothing on the driver."""
    import numpy as np
    import pandas as pd

    _check_bits(bits)

    def per_bucket(pdf: pd.DataFrame) -> pd.DataFrame:
        n = len(pdf)
        if n < 2:
            return pd.DataFrame({"vec_id_a": [], "vec_id_b": [], "sim": []})
        ids = pdf["vec_id"].to_numpy()
        unit = _unit(_emb_f64(pdf["embedding"]))
        sims = _round6(unit @ unit.T)
        ai, bi = np.where(
            np.triu(np.ones((n, n), dtype=bool), 1) & (sims >= threshold)
        )
        a, b, s = ids[ai], ids[bi], sims[ai, bi]
        swap = a > b  # emit (min, max) regardless of intra-bucket order
        a2 = np.where(swap, b, a)
        b2 = np.where(swap, a, b)
        return pd.DataFrame({"vec_id_a": a2, "vec_id_b": b2, "sim": s})

    id_t = _id_type(embeddings)
    schema = f"vec_id_a {id_t}, vec_id_b {id_t}, sim double"
    return (
        _cells(embeddings, lambda q: _bucket_codes(q, bits)[:, None])
        .groupBy("cell")
        .applyInPandas(per_bucket, schema=schema)
    )


def fit_ivf_centroids(mat, n_centroids: int, n_iter: int = 8):
    """Deterministic spherical k-means: ``mat`` is an (n × dims) float
    matrix whose ROW ORDER the caller must fix (sort by vec_id) — the fit
    is then a pure function of the data, no RNG.  Init = the vectors at
    ``n_centroids`` evenly spaced positions of the given order (spread
    across the corpus without randomness); ``n_iter`` Lloyd rounds assign
    by cosine (argmax, first-max tie-break) and recenter to the normalized
    mean direction; empty clusters keep their previous centroid.  Returns
    a unit-norm (n_centroids × dims) float64 centroid matrix — ship it to
    ``ivf_topk`` AND embed the identical values as SQL literals in oracles
    (the data-dependent analog of ``_plane_matrix``)."""
    import numpy as np

    mat = np.asarray(mat, dtype=np.float64)
    n = mat.shape[0]
    if n < n_centroids:
        raise ValueError(f"need >= {n_centroids} vectors, got {n}")
    unit = _unit(mat)
    idx = (np.arange(n_centroids, dtype=np.int64) * n) // n_centroids
    cent = unit[idx].copy()
    for _ in range(n_iter):
        assign = np.argmax(unit @ cent.T, axis=1)
        for c in range(n_centroids):
            members = unit[assign == c]
            if len(members):
                v = members.sum(axis=0)
                nv = np.sqrt((v * v).sum())
                if nv > 0:
                    cent[c] = v / nv
    return cent


def ivf_centroid_literals(cent) -> str:
    """DuckDB literal for the fitted centroid matrix: a list-of-lists whose
    float components are ``repr``-round-trip exact, for embedding in oracle
    SQL (``unnest`` zip against ``range(n)`` yields (cid, cemb) rows)."""
    return (
        "["
        + ", ".join(
            "[" + ", ".join(repr(float(x)) for x in row) + "]" for row in cent
        )
        + "]"
    )


def ivf_assign_cells(q_mat, cent_unit):
    """Cell index per row: argmax over centroids of the 6-dp-rounded dot
    product with the UNIT centroid (same argmax as cosine — the query norm
    is constant across centroids), ties to the smallest cell id.  The dot
    is ``_fold_dot``'s sequential fold, so cell assignment is bit-stable
    across engines by construction (ADVICE r3: the previous
    matmul-vs-list_cosine_similarity pairing was only tolerance-stable)."""
    return _nearest(_round6(_fold_dot(q_mat, cent_unit)), 1)[:, 0]


def ivf_topk(
    embeddings: DataFrame,
    n_centroids: int = 8,
    k: int = 3,
    centroids=None,
    nprobe: int = 1,
) -> DataFrame:
    """IVF-flat approximate top-k: coarse-quantize each vector to its
    nearest centroid's inverted list, then exact cosine ranking within the
    list (nprobe=1).  The second ANN family next to ``ann_lsh_topk``
    (hyperplane LSH): IVF adapts to the data's cluster structure where LSH
    buckets are data-oblivious.

    ``centroids`` is the fitted unit-norm centroid matrix
    (``fit_ivf_centroids``, fitted offline on a corpus sample and shipped
    as an artifact — the production IVF deployment shape); cells are
    centroid indices and assignment is bit-stable vs the SQL oracle
    (``ivf_assign_cells``).  With ``centroids=None`` the legacy DATA-SEEDED
    mode runs (centroids = the ``n_centroids`` vectors with smallest
    vec_id; assignment by rounded cosine vs each seed) — kept for recall
    comparison against the fitted fit (BENCH.md).

    ``nprobe > 1`` is the standard IVF recall lever: each vector stays
    indexed in its ONE nearest cell, but its query side also probes the
    next ``nprobe - 1`` nearest cells — candidate volume grows ~nprobe×
    with the index still single-copy; a second small shuffle re-ranks the
    per-cell winners globally.

    Plan (all modes): centroid matrix broadcast into a narrow mapInPandas
    assignment, ONE shuffle (groupBy cell), one numpy gram matrix per
    inverted list via applyInPandas (+ the re-rank exchange when
    nprobe > 1)."""
    import numpy as np

    _check_at_least_1(k=k, nprobe=nprobe, n_centroids=n_centroids)
    spark = embeddings.sparkSession
    if centroids is not None:
        bc = spark.sparkContext.broadcast(np.asarray(centroids, dtype=np.float64))

        def cells_of(q):
            return _nearest(_round6(_fold_dot(q, bc.value)), nprobe)

    else:
        rows = (
            embeddings.select("vec_id", "embedding")
            .orderBy("vec_id")
            .limit(n_centroids)
            .collect()
        )
        bc = spark.sparkContext.broadcast(_sorted_unit(rows)[1])

        def cells_of(q):
            # seeds ascend by vec_id: ties go to the smallest seed id
            return _nearest(_round6(_unit(q) @ bc.value.T), nprobe)

    return _cell_topk(_cells(embeddings, cells_of), k, probes=nprobe > 1)


def ann_lsh_topk(
    embeddings: DataFrame, bits: int = 6, k: int = 3, multiprobe: int = 0
) -> DataFrame:
    """Approximate top-k: exact cosine ranking within each LSH bucket.

    Plan: bucket inline (mapInPandas), ONE shuffle (groupBy bucket), one
    numpy gram matrix + per-row top-k per bucket — replaces round 2's
    bucket self-join with interpreted per-pair zip_with/aggregate dots
    (355 s → seconds on the same input, same oracle answers).  Recall and
    bucket size are tuned via ``bits`` (1..31); skewed buckets are bounded
    by 2^bits fan-out — at larger scale raise ``bits`` (and/or multiprobe)
    so Σ n_b² stays linear-ish.

    ``multiprobe=1`` additionally probes every bucket at Hamming distance
    1 from the query's own (the standard multiprobe-LSH recall lever: a
    near-neighbor differing on ONE hyperplane sign is recovered).  Each
    vector stays INDEXED in exactly its home bucket; its query side fans
    out to ``bits + 1`` probe rows, so candidate volume grows ~(bits+1)×
    while the index stays single-copy.  Costs one extra narrow fan-out
    plus a second small shuffle (global re-rank over n×k×probes rows);
    measured recall@3 at sf0.1: 0.06 → ~0.3 at bits=6 (BENCH.md)."""
    import numpy as np

    _check_bits(bits)
    _check_at_least_1(k=k)
    if multiprobe not in (0, 1):
        raise ValueError("multiprobe must be 0 or 1 (Hamming radius)")

    def cells_of(q):
        codes = _bucket_codes(q, bits)
        flips = [codes ^ (1 << b) for b in range(bits)] if multiprobe else []
        return np.column_stack([codes, *flips])

    return _cell_topk(_cells(embeddings, cells_of), k, probes=multiprobe == 1)


def pca_project(embeddings: DataFrame, mean, components) -> DataFrame:
    """(vec_id, pc1..pck): project each embedding onto offline-fitted
    principal components (``scripts/fit_pca.py`` artifact — mean vector +
    component matrix shipped as constants to BOTH engines, the IVF
    centroid pattern).  The projection is ``_fold_dot`` of the centered
    vector, so values are bit-stable across engines after the 6dp round.
    One narrow mapInPandas: zero shuffles; the standard
    dimensionality-reduction front of an embedding pipeline (cheaper ANN,
    visualization, drift monitoring)."""
    import numpy as np
    import pandas as pd

    mean = np.asarray(mean, dtype=np.float64)
    comp = np.asarray(components, dtype=np.float64)
    k = comp.shape[0]
    spark = embeddings.sparkSession
    bc = spark.sparkContext.broadcast((mean, comp))

    @python_task
    def run(batches):
        m, c = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            proj = _round6(_fold_dot(_emb_f64(pdf["embedding"]) - m, c))
            out = {"vec_id": pdf["vec_id"]}
            for j in range(k):
                out[f"pc{j + 1}"] = proj[:, j]
            yield pd.DataFrame(out)

    schema = f"vec_id {_id_type(embeddings)}, " + ", ".join(
        f"pc{j + 1} double" for j in range(k)
    )
    return embeddings.select("vec_id", "embedding").mapInPandas(run, schema=schema)


def semdedup(embeddings: DataFrame, centroids, threshold: float = 0.5) -> DataFrame:
    """(vec_id, cell, keeper_id, is_kept): SemDeDup-style semantic
    deduplication (Abbas et al. 2023, arXiv:2303.09540) — coarse-quantize
    every vector to its nearest fitted centroid (the same bit-stable IVF
    assignment as ``ivf_topk``), then within each cell mark semantic
    duplicates by EXACT pairwise cosine: a row's keeper is the smallest
    vec_id in {self} ∪ {cell-mates with rounded sim >= threshold} — the
    one-hop min-keeper semantics of ``neardup_groups``, with embedding
    cosine in place of shingle Jaccard.  ``is_kept`` rows are the
    semantically-deduplicated corpus.

    Scale: centroid matrix broadcast into one narrow mapInPandas
    assignment, ONE shuffle (groupBy cell), one numpy gram per cell —
    O(Σ n_cell²) confined to cells, whose size the operator controls via
    the centroid count (SemDeDup's own scaling contract: centroids grow
    with the corpus so cells stay bounded); no pair materialization, the
    keeper fold happens inside the kernel."""
    import numpy as np
    import pandas as pd

    spark = embeddings.sparkSession
    id_t = _id_type(embeddings)
    bc = spark.sparkContext.broadcast(np.asarray(centroids, dtype=np.float64))

    def per_cell(pdf: pd.DataFrame) -> pd.DataFrame:
        ids = pdf["vec_id"].to_numpy()
        unit = _unit(_emb_f64(pdf["embedding"]))
        mask = _round6(unit @ unit.T) >= threshold
        np.fill_diagonal(mask, True)
        # the keeper is the smallest id in each row's mask: min dense rank
        uniq, id_rank = np.unique(ids, return_inverse=True)
        keep = uniq[np.where(mask, id_rank[None, :], len(uniq)).min(axis=1)]
        return pd.DataFrame(
            {
                "vec_id": ids,
                "cell": pdf["cell"].to_numpy(),
                "keeper_id": keep,
                "is_kept": keep == ids,
            }
        )

    return (
        _cells(embeddings, lambda q: ivf_assign_cells(q, bc.value)[:, None])
        .groupBy("cell")
        .applyInPandas(
            per_cell,
            schema=f"vec_id {id_t}, cell int, keeper_id {id_t}, is_kept boolean",
        )
    )


def embedding_decontaminate(
    embeddings: DataFrame, eval_n: int = 20, threshold: float = 0.95
) -> DataFrame:
    """(vec_id, max_sim, nearest_eval_id, contaminated): SEMANTIC
    decontamination — the embedding-space twin of the n-gram family
    (``chunking.decontaminate`` exact, ``fuzzy_decontaminate``,
    ``bloom_decontaminate``).  The first ``eval_n`` vectors by vec_id
    are the held-out benchmark set (the same deterministic eval-set
    rule as ``chunking.decontaminate``); every remaining corpus vector
    reports its max rounded cosine against the eval set, the smallest
    eval id attaining it, and a ``contaminated`` verdict at
    ``threshold`` (paraphrased/translated benchmark leaks that n-gram
    overlap misses).

    Scale shape: the eval matrix is SMALL BY CONSTRUCTION (eval_n ×
    dims — benchmark suites are 10^3-10^5 rows, never corpus-sized),
    fetched in one TakeOrderedAndProject job and broadcast; the corpus
    side is ONE narrow mapInPandas pass — per Arrow batch a
    (batch × dims) @ (dims × eval_n) gram + rowwise max/argmax.  ZERO
    shuffles and no join: because the eval set is "first eval_n ids",
    corpus membership is the scan-pushed filter ``vec_id > max eval
    id``, never an anti-join.  Beyond-reference operator (learnhtml has
    no embedding tooling); decontamination practice per Brown et al.
    2020 appendix C / Touvron et al. 2023."""
    import numpy as np
    import pandas as pd

    _check_at_least_1(eval_n=eval_n)
    spark = embeddings.sparkSession
    id_t = _id_type(embeddings)
    schema = (
        f"vec_id {id_t}, max_sim double, "
        f"nearest_eval_id {id_t}, contaminated boolean"
    )
    rows = (
        embeddings.select("vec_id", "embedding")
        .orderBy("vec_id")
        .limit(eval_n)
        .collect()
    )
    if not rows:
        # no eval set means an empty frame: nothing to decontaminate
        return spark.createDataFrame([], schema)
    eval_ids, eval_unit = _sorted_unit(rows)
    cutoff = eval_ids[-1]
    bc = spark.sparkContext.broadcast((eval_ids, eval_unit))

    @python_task
    def run(batches):
        e_ids, e_unit = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            sims = _round6(_unit(_emb_f64(pdf["embedding"])) @ e_unit.T)
            # argmax returns the FIRST max column; columns ascend by
            # eval id, so ties resolve to the smallest eval id — the
            # oracle's (sim desc, eval_id asc) rank-1 row
            j = sims.argmax(axis=1)
            best = sims[np.arange(len(sims)), j]
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"],
                    "max_sim": best,
                    "nearest_eval_id": e_ids[j],
                    "contaminated": best >= threshold,
                }
            )

    # .item() unwraps the numpy scalar for F.lit; string ids pass through
    # (orderBy, the cutoff comparison and the argmax tie-break are all the
    # same lexicographic order there — self-consistent, and consistent
    # with the oracle's ORDER BY)
    corpus = embeddings.filter(
        F.col("vec_id") > F.lit(cutoff.item() if hasattr(cutoff, "item") else cutoff)
    )
    return corpus.select("vec_id", "embedding").mapInPandas(run, schema=schema)
