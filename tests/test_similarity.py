"""Unit tests for the similarity family's shared parts: rounding mode,
plane-matrix derivation, the rank-keyed top-k for every id type, the
bucketed and cell-probing Spark plans, and the call-time parameter ranges.

Semantics are ALSO pinned end-to-end by the DuckDB oracles in
__spark_entry__.py; these tests pin the internals that make those oracles
pass (HALF_UP rounding, md5 plane derivation, composite-key top-k) so a
refactor can't silently drift them.  String ids and longs outside 0..2^32
have no oracle; they are checked against a per-row lexsort reference.
"""

import hashlib

import numpy as np
import pytest


def test_round6_half_away_from_zero():
    from learnhtml_spark.functions.similarity import _round6

    # np.round is banker's (half-to-even): 0.1234565 -> 0.123456;
    # Spark F.round / DuckDB round are half-away-from-zero -> 0.123457
    assert _round6(0.1234565) == pytest.approx(0.123457)
    assert _round6(-0.1234565) == pytest.approx(-0.123457)
    assert _round6(0.9999995) == pytest.approx(1.0)
    assert _round6(np.array([0.5e-6, -0.5e-6, 0.0])).tolist() == pytest.approx(
        [1e-6, -1e-6, 0.0]
    )


def test_plane_matrix_matches_md5_derivation():
    from learnhtml_spark.functions.similarity import _plane_matrix

    m = _plane_matrix(bits=6, dims=64)
    assert m.shape == (6, 64)
    for b, d in [(0, 0), (3, 17), (5, 63)]:
        nib = int(hashlib.md5(f"{b}:{d}".encode()).hexdigest()[0], 16)
        assert m[b, d] == nib - 7.5  # exactly representable, no rounding
    assert m.min() >= -7.5 and m.max() <= 7.5


def test_topk_pairs_matches_naive_lexsort():
    from learnhtml_spark.functions.similarity import _topk_pairs

    rng = np.random.default_rng(0)
    n, k = 40, 5
    ids = rng.permutation(n).astype(np.int64)
    # rounded sims with deliberate tie plateaus
    sims = np.round(rng.random((n, n)) * 4) / 4.0

    qi, ci, ranks = _topk_pairs(ids, ids, sims, k)
    got = {}
    for a, b, r in zip(qi, ci, ranks):
        got.setdefault(ids[a], []).append((ids[b], r))

    for i in range(n):
        cand = np.where(ids != ids[i])[0]
        order = cand[np.lexsort((ids[cand], -sims[i, cand]))][:k]
        want = [(ids[j], r) for r, j in enumerate(order, 1)]
        assert got[ids[i]] == want, ids[i]


def test_topk_pairs_k_exceeds_candidates():
    from learnhtml_spark.functions.similarity import _topk_pairs

    ids = np.array([3, 1, 2], dtype=np.int64)
    sims = np.round(np.eye(3) * 0 + 0.5, 6)
    qi, ci, ranks = _topk_pairs(ids, ids, sims, k=10)
    # each query gets exactly the 2 non-self candidates, ranks 1..2
    for i in range(3):
        mine = sorted(ranks[qi == i])
        assert mine == [1, 2]
        assert ids[i] not in set(ids[ci[qi == i]])


@pytest.fixture(scope="module")
def emb(spark):
    # two tight clusters + one orthogonal outlier, 8 dims
    rows = []
    base_a = [1.0, 0.2, 0.1, 0.0, 0.0, 0.0, 0.0, 0.0]
    base_b = [0.0, 0.0, 0.0, 0.0, 0.1, 0.2, 1.0, 0.0]
    for i in range(5):
        rows.append((i, [v * (1.0 + 0.01 * i) for v in base_a]))
    for i in range(5, 10):
        rows.append((i, [v * (1.0 + 0.01 * i) for v in base_b]))
    rows.append((10, [0.0] * 7 + [1.0]))
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_identical_direction_vectors_share_bucket(emb):
    from learnhtml_spark.functions.similarity import hyperplane_lsh_buckets

    buckets = {
        r["vec_id"]: r["bucket"]
        for r in hyperplane_lsh_buckets(emb, bits=6).collect()
    }
    assert len(buckets) == 11
    assert len({buckets[i] for i in range(5)}) == 1     # cluster A coherent
    assert len({buckets[i] for i in range(5, 10)}) == 1  # cluster B coherent
    assert buckets[0] != buckets[5]  # orthogonal clusters separate


def test_ann_topk_equals_within_bucket_cosine(emb):
    """ann_lsh_topk must equal cosine ranking restricted to each bucket."""
    from learnhtml_spark.functions.similarity import (
        ann_lsh_topk,
        hyperplane_lsh_buckets,
    )

    got = {
        (r["vec_id"], r["rank"]): (r["neighbor_id"], r["sim"])
        for r in ann_lsh_topk(emb, bits=4, k=2).collect()
    }
    buckets = {
        r["vec_id"]: r["bucket"]
        for r in hyperplane_lsh_buckets(emb, bits=4).collect()
    }
    vecs = {
        r["vec_id"]: np.asarray(r["embedding"], dtype=np.float64)
        for r in emb.collect()
    }

    def cos(a, b):
        return float(
            np.dot(a, b) / (np.linalg.norm(a) * np.linalg.norm(b))
        )

    for vid, bkt in buckets.items():
        cands = sorted(
            (
                (-round(cos(vecs[vid], vecs[o]), 6), o)
                for o, b2 in buckets.items()
                if b2 == bkt and o != vid
            ),
        )[:2]
        for rank, (negsim, o) in enumerate(cands, 1):
            nb, sim = got[(vid, rank)]
            assert nb == o
            assert sim == pytest.approx(-negsim, abs=2e-6)


def test_embedding_neardup_finds_cluster_pairs_only(emb):
    from learnhtml_spark.functions.similarity import embedding_neardup_pairs

    pairs = {
        (r["vec_id_a"], r["vec_id_b"])
        for r in embedding_neardup_pairs(emb, threshold=0.99, bits=4).collect()
    }
    assert pairs  # near-identical cluster members found
    for a, b in pairs:
        assert a < b
        assert (a < 5 and b < 5) or (5 <= a < 10 and 5 <= b < 10)


def test_cosine_topk_guard_refuses_unbounded_collect(emb, monkeypatch):
    import learnhtml_spark.functions.similarity as sim

    monkeypatch.setattr(sim, "_MAX_BROADCAST_ROWS", 5)
    with pytest.raises(ValueError, match="ann_lsh_topk"):
        sim.cosine_topk(emb, k=3)


def test_similarity_plans_have_one_shuffle(emb):
    """ann_lsh_topk / embedding_neardup: exactly ONE exchange (groupBy
    bucket) — the round-2 self-join recomputed the projection per side."""
    from learnhtml_spark.functions.similarity import (
        ann_lsh_topk,
        embedding_neardup_pairs,
        hyperplane_lsh_buckets,
    )

    for df, max_ex in (
        (hyperplane_lsh_buckets(emb, bits=6), 0),
        (ann_lsh_topk(emb, bits=4, k=2), 1),
        (embedding_neardup_pairs(emb, threshold=0.5, bits=4), 1),
    ):
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert plan.count("Exchange") <= max_ex, plan[:400]


def test_ivf_topk_equals_within_cell_cosine(emb):
    """ivf_topk must equal cosine ranking restricted to each inverted
    list, with cells = argmax-cosine over the data-seeded centroids."""
    from learnhtml_spark.functions.similarity import ivf_topk

    got = {
        (r["vec_id"], r["rank"]): (r["neighbor_id"], r["sim"])
        for r in ivf_topk(emb, n_centroids=3, k=2).collect()
    }
    vecs = {
        r["vec_id"]: np.asarray(r["embedding"], dtype=np.float64)
        for r in emb.collect()
    }

    def cos(a, b):
        return round(
            float(np.dot(a, b) / (np.linalg.norm(a) * np.linalg.norm(b))), 6
        )

    cents = sorted(vecs)[:3]
    cell = {
        v: max(cents, key=lambda c: (cos(vecs[v], vecs[c]), -c))
        for v in vecs
    }
    for vid in vecs:
        cands = sorted(
            ((-cos(vecs[vid], vecs[o]), o)
             for o in vecs if o != vid and cell[o] == cell[vid]),
        )[:2]
        for rank, (negsim, o) in enumerate(cands, 1):
            nb, sim = got[(vid, rank)]
            assert nb == o, (vid, rank)
            assert sim == pytest.approx(-negsim, abs=2e-6)
        # no extra ranks beyond the cell's candidate count
        assert (vid, len(cands) + 1) not in got


def test_cosine_topk_max_rows_escape_hatch(emb, monkeypatch):
    """ADVICE r3: callers with ample driver memory may raise the collect
    cap explicitly instead of being hard-refused."""
    import learnhtml_spark.functions.similarity as sim

    monkeypatch.setattr(sim, "_MAX_BROADCAST_ROWS", 5)
    out = sim.cosine_topk(emb, k=2, max_rows=100)
    assert out.count() > 0


def test_fit_ivf_centroids_deterministic_unit_and_clustered(emb):
    """The offline fit is a pure function of the (ordered) input: two fits
    are byte-identical, centroids are unit-norm, and the two synthetic
    clusters land in different cells."""
    from learnhtml_spark.functions.similarity import (
        fit_ivf_centroids,
        ivf_assign_cells,
    )

    rows = sorted(emb.collect(), key=lambda r: r["vec_id"])
    mat = np.array([r["embedding"] for r in rows], dtype=np.float64)
    c1 = fit_ivf_centroids(mat, 3, n_iter=8)
    c2 = fit_ivf_centroids(mat, 3, n_iter=8)
    assert c1.tobytes() == c2.tobytes()
    assert np.allclose(np.sqrt((c1 * c1).sum(axis=1)), 1.0)
    cells = ivf_assign_cells(mat, c1)
    assert len(set(cells[:5])) == 1          # cluster A coherent
    assert len(set(cells[5:10])) == 1        # cluster B coherent
    assert cells[0] != cells[5]              # clusters separated


def test_ivf_topk_fitted_equals_within_cell_cosine(emb):
    """Fitted-centroid mode: result equals cosine ranking restricted to
    each inverted list under ivf_assign_cells' bit-stable assignment."""
    from learnhtml_spark.functions.similarity import (
        fit_ivf_centroids,
        ivf_assign_cells,
        ivf_topk,
    )

    rows = sorted(emb.collect(), key=lambda r: r["vec_id"])
    ids = [r["vec_id"] for r in rows]
    mat = np.array([r["embedding"] for r in rows], dtype=np.float64)
    cent = fit_ivf_centroids(mat, 3, n_iter=8)
    got = {
        (r["vec_id"], r["rank"]): (r["neighbor_id"], r["sim"])
        for r in ivf_topk(emb, k=2, centroids=cent).collect()
    }
    cells = dict(zip(ids, ivf_assign_cells(mat, cent)))
    vecs = dict(zip(ids, mat))

    def cos(a, b):
        return round(
            float(np.dot(a, b) / (np.linalg.norm(a) * np.linalg.norm(b))), 6
        )

    n_checked = 0
    for vid in ids:
        cands = sorted(
            ((-cos(vecs[vid], vecs[o]), o)
             for o in ids if o != vid and cells[o] == cells[vid]),
        )[:2]
        for rank, (negsim, o) in enumerate(cands, 1):
            nb, sim = got[(vid, rank)]
            assert nb == o, (vid, rank)
            assert sim == pytest.approx(-negsim, abs=2e-6)
            n_checked += 1
        assert (vid, len(cands) + 1) not in got
    assert n_checked > 0


def test_ann_multiprobe_equals_python_reference(emb):
    """multiprobe=1 must equal brute-force top-k restricted to the union
    of the home bucket and all Hamming-distance-1 buckets, with members
    drawn from home buckets only (single-copy index)."""
    from learnhtml_spark.functions.similarity import (
        _bucket_codes,
        _round6,
        ann_lsh_topk,
    )

    bits, k = 4, 2
    rows = sorted(emb.collect(), key=lambda r: r["vec_id"])
    ids = [r["vec_id"] for r in rows]
    mat = np.array([r["embedding"] for r in rows], dtype=np.float64)
    codes = dict(zip(ids, _bucket_codes(mat, bits)))
    vecs = dict(zip(ids, mat))

    def cos(a, b):
        na, nb = np.linalg.norm(a), np.linalg.norm(b)
        return float(_round6(np.dot(a / (na or 1.0), b / (nb or 1.0))))

    got = {}
    for r in ann_lsh_topk(emb, bits=bits, k=k, multiprobe=1).collect():
        got.setdefault(r["vec_id"], []).append(
            (r["rank"], r["neighbor_id"], r["sim"])
        )
    for vid in ids:
        probe_buckets = {codes[vid]} | {
            codes[vid] ^ (1 << b) for b in range(bits)
        }
        cands = sorted(
            (-cos(vecs[vid], vecs[o]), o)
            for o in ids
            if o != vid and codes[o] in probe_buckets
        )[:k]
        want = [(i + 1, o, -negs) for i, (negs, o) in enumerate(cands)]
        have = sorted(got.get(vid, []))
        assert [(r, n) for r, n, _ in have] == [(r, n) for r, n, _ in want]
        for (_, _, s_have), (_, _, s_want) in zip(have, want):
            assert s_have == pytest.approx(s_want, abs=2e-6)


def test_ivf_nprobe_equals_python_reference(emb):
    """nprobe=2 must equal brute-force top-k over members of the query's 2
    best cells, members indexed in their single best cell only."""
    from learnhtml_spark.functions.similarity import (
        _round6,
        fit_ivf_centroids,
        ivf_topk,
    )

    k = 2
    rows = sorted(emb.collect(), key=lambda r: r["vec_id"])
    ids = [r["vec_id"] for r in rows]
    mat = np.array([r["embedding"] for r in rows], dtype=np.float64)
    cent = fit_ivf_centroids(mat, 3, n_iter=8)

    proj = np.zeros((len(ids), len(cent)), dtype=np.float64)
    for d in range(mat.shape[1]):
        proj += mat[:, d : d + 1] * cent[:, d]
    order = np.argsort(-_round6(proj), axis=1, kind="stable")
    home = dict(zip(ids, order[:, 0]))
    probe2 = {v: set(order[i, :2]) for i, v in enumerate(ids)}
    vecs = dict(zip(ids, mat))

    def cos(a, b):
        na, nb = np.linalg.norm(a), np.linalg.norm(b)
        return float(_round6(np.dot(a / (na or 1.0), b / (nb or 1.0))))

    got = {}
    for r in ivf_topk(emb, k=k, centroids=cent, nprobe=2).collect():
        got.setdefault(r["vec_id"], []).append(
            (r["rank"], r["neighbor_id"], r["sim"])
        )
    for vid in ids:
        cands = sorted(
            (-cos(vecs[vid], vecs[o]), o)
            for o in ids
            if o != vid and home[o] in probe2[vid]
        )[:k]
        want = [(i + 1, o) for i, (_, o) in enumerate(cands)]
        have = [(r, n) for r, n, _ in sorted(got.get(vid, []))]
        assert have == want, vid


def test_pca_project_matches_numpy_and_artifact_roundtrip(emb):
    """pca_project must equal the straightforward centered projection of
    the fitted components, and the fit must be deterministic."""
    import sys, os
    sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "scripts"))
    from fit_pca import fit_pca

    from learnhtml_spark.functions.similarity import _round6, pca_project

    rows = sorted(emb.collect(), key=lambda r: r["vec_id"])
    ids = [r["vec_id"] for r in rows]
    mat = np.array([r["embedding"] for r in rows], dtype=np.float64)
    mean1, comp1 = fit_pca(mat, 2)
    mean2, comp2 = fit_pca(mat, 2)
    assert mean1.tobytes() == mean2.tobytes()
    assert comp1.tobytes() == comp2.tobytes()
    got = {
        r["vec_id"]: (r["pc1"], r["pc2"])
        for r in pca_project(emb, mean1, comp1).collect()
    }
    want = _round6((mat - mean1) @ comp1.T)
    for i, vid in enumerate(ids):
        assert got[vid][0] == pytest.approx(want[i, 0], abs=2e-6)
        assert got[vid][1] == pytest.approx(want[i, 1], abs=2e-6)


def test_semdedup_keeper_semantics_and_invariance(spark):
    """Hand-built geometry: two orthogonal centroid directions; three
    near-identical vectors land in one cell and collapse to the smallest
    id; the orthogonal vector keeps itself in its own cell.  Result is
    invariant under input partitioning."""
    from learnhtml_spark.functions.similarity import semdedup

    cents = np.zeros((2, 4))
    cents[0, 0] = 1.0
    cents[1, 1] = 1.0
    rows = [
        (10, [1.0, 0.0, 0.01, 0.0]),
        (11, [0.99, 0.0, 0.0, 0.02]),      # near-dup of 10
        (12, [1.0, 0.01, 0.0, 0.0]),       # near-dup of 10
        (20, [0.0, 1.0, 0.0, 0.0]),        # other cell, unique
        (21, [0.0, 0.9, 0.3, 0.1]),        # same cell as 20, sim ~0.93
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = {r["vec_id"]: r for r in semdedup(df, cents, threshold=0.9).collect()}
    assert len(out) == 5
    assert out[10]["cell"] == out[11]["cell"] == out[12]["cell"] == 0
    assert out[20]["cell"] == out[21]["cell"] == 1
    for v in (10, 11, 12):
        assert out[v]["keeper_id"] == 10
    assert out[20]["keeper_id"] == 20 and out[20]["is_kept"]
    assert out[21]["keeper_id"] == 20 and not out[21]["is_kept"]
    assert {v for v in out if out[v]["is_kept"]} == {10, 20}
    out2 = {
        r["vec_id"]: r["keeper_id"]
        for r in semdedup(df.repartition(5), cents, threshold=0.9).collect()
    }
    assert out2 == {v: out[v]["keeper_id"] for v in out}
    # raising the bar to > any within-cell sim keeps everything
    all_kept = semdedup(df, cents, threshold=0.999999).collect()
    assert all(r["is_kept"] for r in all_kept)


def test_semdedup_threshold_monotone_and_cell_consistency(spark):
    """Raising tau can only keep MORE rows (fewer pairs clear the bar),
    and cell assignment must agree with ivf_topk's fitted-mode
    assignment on the same centroids."""
    import numpy as np

    from learnhtml_spark.functions.similarity import (
        _emb_f64,
        ivf_assign_cells,
        semdedup,
    )

    rng = np.random.RandomState(7)
    cents = rng.randn(4, 8)
    cents /= np.sqrt((cents * cents).sum(axis=1))[:, None]
    base = rng.randn(30, 8)
    rows = [(i, [float(x) for x in base[i % 30] + 0.05 * rng.randn(8) * (i // 30)])
            for i in range(60)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    kept = {}
    for tau in (0.7, 0.9, 0.99):
        out = semdedup(df, cents, threshold=tau).collect()
        kept[tau] = {r["vec_id"] for r in out if r["is_kept"]}
        cells = {r["vec_id"]: r["cell"] for r in out}
    assert kept[0.7] <= kept[0.9] <= kept[0.99]
    import pandas as pd

    pdf = pd.DataFrame({"embedding": [r[1] for r in rows]})
    want = ivf_assign_cells(_emb_f64(pdf["embedding"]), cents)
    for i, (vid, _) in enumerate(rows):
        assert cells[vid] == want[i]


def test_embedding_decontaminate_matches_bruteforce(spark):
    """Max-cosine verdicts vs a plain numpy all-pairs oracle, including
    the smallest-eval-id tie-break and partitioning invariance."""
    import numpy as np

    from learnhtml_spark.functions.similarity import (
        _round6,
        embedding_decontaminate,
    )

    rng = np.random.RandomState(11)
    mat = rng.randn(50, 6)
    mat[30] = mat[2]          # corpus row identical to eval row 2
    mat[31] = 2.0 * mat[7]    # scaled copy: cosine 1.0 vs eval row 7
    mat[32] = 0.0             # zero vector: guarded norm, sim 0 everywhere
    rows = [(i, [float(x) for x in mat[i]]) for i in range(50)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    out = {r["vec_id"]: r for r in
           embedding_decontaminate(df, eval_n=10, threshold=0.9).collect()}
    assert set(out) == set(range(10, 50))

    # numpy oracle over the float32-widened values (what Spark stores)
    m32 = mat.astype(np.float32).astype(np.float64)
    norms = np.sqrt((m32 * m32).sum(axis=1))
    norms[norms == 0] = 1.0
    unit = m32 / norms[:, None]
    sims = _round6(unit[10:] @ unit[:10].T)
    for i in range(10, 50):
        s = sims[i - 10]
        j = int(s.argmax())
        r = out[i]
        assert r["max_sim"] == s[j], i
        assert r["nearest_eval_id"] == j, i
        assert r["contaminated"] == bool(s[j] >= 0.9), i
    assert out[30]["contaminated"] and out[30]["nearest_eval_id"] == 2
    assert out[31]["contaminated"] and out[31]["nearest_eval_id"] == 7
    assert not out[32]["contaminated"] and out[32]["max_sim"] == 0.0

    # repartitioning must not change a single row
    again = {r["vec_id"]: r for r in
             embedding_decontaminate(df.repartition(7), eval_n=10,
                                     threshold=0.9).collect()}
    assert all(tuple(again[i]) == tuple(out[i]) for i in out)


def test_embedding_decontaminate_edges(spark):
    """eval set swallowing the whole corpus yields an empty result; a
    duplicated eval vector resolves ties to the smaller eval id."""
    import numpy as np

    from learnhtml_spark.functions.similarity import embedding_decontaminate

    rng = np.random.RandomState(3)
    mat = rng.randn(8, 4)
    mat[1] = mat[4]  # eval ids 1 and 4 identical
    rows = [(i, [float(x) for x in mat[i]]) for i in range(8)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    assert embedding_decontaminate(df, eval_n=8).count() == 0
    near = rows[1][1][:]
    df2 = spark.createDataFrame(rows + [(99, near)],
                                "vec_id long, embedding array<float>")
    out = embedding_decontaminate(df2, eval_n=8, threshold=0.5).collect()
    assert len(out) == 1 and out[0]["nearest_eval_id"] == 1
    assert out[0]["contaminated"] and out[0]["max_sim"] == 1.0

    import pytest

    with pytest.raises(ValueError):
        embedding_decontaminate(df, eval_n=0)


def test_embedding_decontaminate_string_ids(spark):
    """String vec_ids: eval set, cutoff filter and tie-break all follow
    one lexicographic order (and the schema carries the id type)."""
    import numpy as np

    from learnhtml_spark.functions.similarity import embedding_decontaminate

    rng = np.random.RandomState(5)
    mat = rng.randn(6, 4)
    rows = [(f"id{i}", [float(x) for x in mat[i]]) for i in range(6)]
    df = spark.createDataFrame(rows, "vec_id string, embedding array<float>")
    out = embedding_decontaminate(df, eval_n=3, threshold=0.99).collect()
    assert {r["vec_id"] for r in out} == {"id3", "id4", "id5"}
    assert all(r["nearest_eval_id"] in {"id0", "id1", "id2"} for r in out)
    assert dict(out[0].asDict())["max_sim"] <= 1.0


def _lexsort_topk(q_id, ids, sims_row, cand_mask, k):
    """Per-row reference top-k: candidates in ``cand_mask`` other than the
    query itself, ordered by (-sim, id), first k as (id, sim)."""
    cand = np.where(cand_mask & (ids != q_id))[0]
    best = cand[np.lexsort((ids[cand], -sims_row[cand]))][:k]
    return [(ids[j], sims_row[j]) for j in best]


_ID_KINDS = {
    # lexicographic order differs from numeric order ("v10" < "v2")
    "string": lambda n: np.array([f"v{(i * 17) % n}" for i in range(n)], dtype=object),
    # negative longs and longs beyond 2^32, both signs
    "wide": lambda n: np.array(
        [-i - 1 if i % 3 == 0 else (-1) ** i * (2 ** 33 + i * 1_000_003)
         for i in range(n)],
        dtype=np.int64,
    ),
}


@pytest.mark.parametrize("id_kind", ["string", "wide"])
def test_topk_pairs_any_id_type_matches_lexsort(id_kind):
    """The dense-rank key equals the per-row lexsort on tie plateaus, with
    queries outside the candidates and k beyond the candidate count."""
    from learnhtml_spark.functions.similarity import _topk_pairs

    rng = np.random.default_rng(21)
    pool = _ID_KINDS[id_kind](30)
    for _ in range(60):
        n_c = int(rng.integers(1, 12))
        cand = pool[rng.choice(len(pool), n_c, replace=False)]
        q_ids = pool[rng.choice(len(pool), int(rng.integers(1, 8)), replace=False)]
        sims = rng.integers(-4, 5, (len(q_ids), n_c)) / 4.0
        k = int(rng.integers(1, n_c + 3))
        qi, ci, ranks = _topk_pairs(q_ids, cand, sims, k)
        for i, q in enumerate(q_ids):
            mine = qi == i
            got = list(zip(cand[ci[mine]], sims[i, ci[mine]]))
            assert got == _lexsort_topk(q, cand, sims[i], np.ones(n_c, bool), k)
            assert ranks[mine].tolist() == list(range(1, len(got) + 1))


def _frame(spark, ids, mat):
    t = "string" if ids.dtype == object else "long"
    rows = [(ids[i].item() if t == "long" else ids[i], [float(x) for x in mat[i]])
            for i in range(len(ids))]
    return spark.createDataFrame(rows, f"vec_id {t}, embedding array<float>")


def _unit_rows(m):
    norms = np.sqrt((m * m).sum(axis=1))
    norms[norms == 0] = 1.0
    return m / norms[:, None]


def _probe_order(sims):
    from learnhtml_spark.functions.similarity import _round6

    return np.argsort(-_round6(sims), axis=1, kind="stable")


def _fold(q, m):
    out = np.zeros((len(q), len(m)))
    for d in range(q.shape[1]):
        out += q[:, d : d + 1] * m[:, d]
    return out


@pytest.mark.parametrize("id_kind", ["string", "wide"])
def test_similarity_family_any_id_type_matches_lexsort(spark, id_kind):
    """Every top-k operator, and semdedup's keeper, on string ids and on
    negative / beyond-2^32 longs equals the per-row lexsort reference over
    the operator's candidate sets; exact duplicate vectors make tie
    plateaus that only the id order breaks."""
    from learnhtml_spark.functions.similarity import (
        _bucket_codes,
        _round6,
        ann_lsh_topk,
        cosine_topk,
        fit_ivf_centroids,
        ivf_topk,
        semdedup,
    )

    n = 48
    rng = np.random.default_rng(13)
    mat = rng.standard_normal((n, 8)).astype(np.float32).astype(np.float64)
    mat[40:44] = mat[0]
    mat[44:48] = mat[5]
    ids = _ID_KINDS[id_kind](n)
    df = _frame(spark, ids, mat)
    unit = _unit_rows(mat)
    sims = _round6(unit @ unit.T)
    by_id = np.argsort(ids, kind="stable")
    cent = fit_ivf_centroids(mat[by_id], 3)
    codes = _bucket_codes(mat, 3)
    flips = np.stack([codes] + [codes ^ (1 << b) for b in range(3)], axis=1)
    fitted = _probe_order(_fold(mat, cent))
    seeds = _probe_order(unit @ unit[by_id[:4]].T)

    def probes(order, p):
        return (order[:, :p][:, :, None] == order[None, :, 0]).any(axis=1)

    cases = {
        "cosine_topk": (cosine_topk(df, k=4), np.ones((n, n), bool), 4),
        "ann_topk": (
            ann_lsh_topk(df, bits=3, k=3), codes[:, None] == codes[None, :], 3
        ),
        "ann_multiprobe": (
            ann_lsh_topk(df, bits=3, k=3, multiprobe=1),
            (flips[:, :, None] == codes[None, None, :]).any(axis=1), 3,
        ),
        "ivf_seeded": (ivf_topk(df, n_centroids=4, k=3), probes(seeds, 1), 3),
        "ivf_fitted": (ivf_topk(df, k=3, centroids=cent), probes(fitted, 1), 3),
        "ivf_nprobe2": (
            ivf_topk(df, k=3, centroids=cent, nprobe=2), probes(fitted, 2), 3
        ),
    }
    pos = {v: i for i, v in enumerate(ids.tolist())}
    for name, (out, mask, k) in cases.items():
        assert dict(out.dtypes)["neighbor_id"] == dict(df.dtypes)["vec_id"]
        got = {}
        for r in out.collect():
            got.setdefault(r["vec_id"], []).append(
                (r["rank"], r["neighbor_id"], r["sim"])
            )
        for v, i in pos.items():
            want = _lexsort_topk(ids[i], ids, sims[i], mask[i], k)
            have = sorted(got.get(v, []))
            assert [r for r, _, _ in have] == list(range(1, len(have) + 1))
            assert [nb for _, nb, _ in have] == [w for w, _ in want], (name, v)
            for (_, _, s_have), (_, s_want) in zip(have, want):
                assert s_have == pytest.approx(s_want, abs=2e-6)

    cell = fitted[:, 0]
    got = {r["vec_id"]: r for r in semdedup(df, cent, threshold=0.3).collect()}
    for v, i in pos.items():
        mates = (cell == cell[i]) & (sims[i] >= 0.3)
        mates[i] = True
        assert got[v]["keeper_id"] == min(ids[mates].tolist()), v
        assert got[v]["cell"] == cell[i]
        assert got[v]["is_kept"] == (got[v]["keeper_id"] == v)


@pytest.fixture(scope="module")
def random_emb(spark):
    rng = np.random.default_rng(5)
    mat = rng.standard_normal((40, 8)).astype(np.float32).astype(np.float64)
    return _frame(spark, np.arange(40, dtype=np.int64), mat), mat


def test_similarity_keeps_int_vec_id_type(spark, random_emb):
    """An ``int`` vec_id keeps its type through the top-k operators (it
    was declared ``string`` and failed the task) and gives the same rows
    as the ``bigint`` frame."""
    from learnhtml_spark.functions.similarity import (
        ann_lsh_topk, cosine_topk, embedding_decontaminate)

    df, _ = random_emb
    narrow = df.selectExpr("cast(vec_id as int) vec_id", "embedding")
    for call in (lambda d: cosine_topk(d, k=3),
                 lambda d: ann_lsh_topk(d, bits=2, k=3),
                 lambda d: embedding_decontaminate(d, eval_n=5,
                                                   threshold=0.3)):
        out = call(narrow)
        assert {t for c, t in out.dtypes if "id" in c} == {"int"}
        assert sorted(map(tuple, out.collect())) == sorted(
            map(tuple, call(df).collect()))


def test_similarity_empty_frame_returns_empty(spark):
    """``cosine_topk`` and ``embedding_decontaminate`` on an empty frame
    return no rows with their declared schema (the driver-side unit
    matrix of zero rows raised numpy's AxisError)."""
    from learnhtml_spark.functions.similarity import (
        cosine_topk, embedding_decontaminate)

    empty = spark.createDataFrame([], "vec_id long, embedding array<float>")
    out = cosine_topk(empty, k=3)
    assert out.dtypes == [("vec_id", "bigint"), ("neighbor_id", "bigint"),
                          ("sim", "double"), ("rank", "int")]
    assert out.collect() == []
    out = embedding_decontaminate(empty, eval_n=4)
    assert out.dtypes == [("vec_id", "bigint"), ("max_sim", "double"),
                          ("nearest_eval_id", "bigint"),
                          ("contaminated", "boolean")]
    assert out.collect() == []


def test_ivf_seeded_nprobe_equals_python_reference(random_emb):
    """Data-seeded mode honours nprobe: nprobe=2 equals brute-force top-k
    over members of the query's 2 best seed cells, members indexed in
    their single best cell only — and differs from nprobe=1."""
    from learnhtml_spark.functions.similarity import _round6, ivf_topk

    df, mat = random_emb
    k, n_seeds = 2, 4
    unit = _unit_rows(mat)
    order = _probe_order(unit @ unit[:n_seeds].T)
    home = order[:, 0]
    sims = _round6(unit @ unit.T)

    def run(nprobe):
        got = {}
        for r in ivf_topk(df, n_centroids=n_seeds, k=k, nprobe=nprobe).collect():
            got.setdefault(r["vec_id"], []).append((r["rank"], r["neighbor_id"]))
        return {v: sorted(x) for v, x in got.items()}

    got = run(2)
    for i in range(len(mat)):
        mask = np.isin(home, order[i, :2])
        want = _lexsort_topk(i, np.arange(len(mat)), sims[i], mask, k)
        assert got.get(i, []) == [(r + 1, w) for r, (w, _) in enumerate(want)], i
    assert got != run(1)


@pytest.mark.parametrize(
    "name,params",
    [
        ("cosine_topk", {"k": 0}),
        ("cosine_topk", {"k": -2}),
        ("ann_lsh_topk", {"k": -1}),
        ("ann_lsh_topk", {"k": 0, "multiprobe": 1}),
        ("ann_lsh_topk", {"bits": 0}),
        ("ann_lsh_topk", {"bits": 32, "multiprobe": 1}),
        ("hyperplane_lsh_buckets", {"bits": 0}),
        ("hyperplane_lsh_buckets", {"bits": 32}),
        ("embedding_neardup_pairs", {"bits": 33}),
        ("ivf_topk", {"k": 0}),
        ("ivf_topk", {"nprobe": 0}),
        ("ivf_topk", {"nprobe": 0, "centroids": "fitted"}),
        ("ivf_topk", {"n_centroids": 0}),
        ("embedding_decontaminate", {"eval_n": 0}),
    ],
    ids=lambda v: v if isinstance(v, str) else ",".join(f"{a}={b}" for a, b in v.items()),
)
def test_similarity_params_out_of_range(spark, random_emb, request, name, params):
    """Out-of-range k / nprobe / n_centroids / bits / eval_n raise
    ValueError at call time, before any Spark job."""
    import learnhtml_spark.functions.similarity as sim

    df, mat = random_emb
    if params.get("centroids") == "fitted":
        params = dict(params, centroids=sim.fit_ivf_centroids(mat, 3))
    sc = spark.sparkContext
    group = request.node.name  # one group per case: the tracker keeps old jobs
    sc.setJobGroup(group, "driver-side parameter checks")
    try:
        with pytest.raises(ValueError, match="must be"):
            getattr(sim, name)(df, **params)
        assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    finally:
        sc.setJobGroup(None, None)


def test_similarity_params_bound_values_run(random_emb):
    """The bounds themselves are in range: k, nprobe and n_centroids of 1,
    bits of 1 and 31 (codes stay non-negative int32, a multiprobe flip of
    bit 30 included)."""
    import learnhtml_spark.functions.similarity as sim

    df, mat = random_emb
    cent = sim.fit_ivf_centroids(mat, 3)
    n = len(mat)
    for out in (
        sim.cosine_topk(df, k=1),
        sim.ann_lsh_topk(df, bits=1, k=1),
        sim.ivf_topk(df, n_centroids=1, k=1),
        sim.ivf_topk(df, k=1, centroids=cent, nprobe=1),
    ):
        rows = out.collect()
        assert 0 < len(rows) <= n and {r["rank"] for r in rows} == {1}
    # at 31 bits each vector's only candidate is its exact twin
    twins = df.union(df.selectExpr("vec_id + 100 as vec_id", "embedding"))
    rows = sim.ann_lsh_topk(twins, bits=31, k=1, multiprobe=1).collect()
    assert sorted((r["vec_id"], r["neighbor_id"]) for r in rows) == sorted(
        [(i, i + 100) for i in range(n)] + [(i + 100, i) for i in range(n)]
    )
    assert len(sim.cosine_topk(df, k=1).collect()) == n
    buckets = [r["bucket"] for r in sim.hyperplane_lsh_buckets(df, bits=31).collect()]
    assert len(buckets) == n and min(buckets) >= 0
    assert sim.embedding_neardup_pairs(df, threshold=0.0, bits=1).count() > 0
    assert sim.embedding_decontaminate(df, eval_n=1).count() == n - 1
