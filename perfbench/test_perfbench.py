"""Tests of the benchmark's own parts (no Spark session needed).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import os
import subprocess
import sys

import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import checks  # noqa: E402
import gen  # noqa: E402
import ledger  # noqa: E402
import procstat  # noqa: E402
import tracing  # noqa: E402


def _extract_case():
    from learnhtml_spark.corpus import expected_extraction

    docs = gen.documents(5, 12, lo=20, scale=40.0, cap=400)
    expected = expected_extraction(docs)
    lineage = pd.DataFrame({"bucket": range(4), "doc_count": [3] * 4,
                            "error_count": [1, 0, 0, 0], "status": ["ok"] * 4})
    return lineage, ["7"], expected


def test_extract_check_passes_on_correct_output():
    lineage, malformed, expected = _extract_case()
    assert checks.check_extract(lineage, 12, 4, ["7"], malformed,
                                expected, expected) == []


def test_extract_check_fails_on_corrupted_output():
    lineage, malformed, expected = _extract_case()
    corrupted = [r if i != 3 else (r[0], r[1], r[2] + " x", r[3], r[4])
                 for i, r in enumerate(expected)]
    fails = checks.check_extract(lineage, 12, 4, ["7"], malformed, corrupted, expected)
    assert any("differ" in f for f in fails)
    # a lost error row and a double-counted bucket are caught as well
    dup = pd.concat([lineage, lineage.iloc[:1]])
    fails = checks.check_extract(dup, 12, 4, [], malformed, expected, expected)
    assert len(fails) >= 3


def test_crawl_check_fails_on_reprocessed_archive():
    truth = {"u1": (["title", "body"], ["u1/img.png"])}
    rows = checks.warc_truth_rows("u1", *truth["u1"])
    lineage = pd.DataFrame({"archive": ["a", "b"], "doc_count": [1, 0],
                            "error_count": [0, 0], "status": ["ok", "ok"]})
    assert checks.check_crawl([["a"], ["b"], []], ["a", "b"], lineage, 1,
                              rows, truth) == []
    fails = checks.check_crawl([["a"], ["a", "b"], []], ["a", "b"], lineage, 1,
                               rows[:-1], truth)
    assert any("repeated" in f for f in fails)
    assert any("differ" in f for f in fails)


def _dedup_truth(corpus: pd.DataFrame) -> pd.DataFrame:
    """cluster_keepers output for a perfect dedup of the planted chains."""
    c = corpus.copy()
    c["label"] = c["chain"].where(c["chain"] >= 0, -c["doc_id"])
    c["cluster_id"] = c.groupby("label")["doc_id"].transform("min")
    best = (c.sort_values(["cluster_id", "n_chars", "doc_id"],
                          ascending=[True, False, True])
            .drop_duplicates("cluster_id").set_index("cluster_id")["doc_id"])
    c["keeper_id"] = c["cluster_id"].map(best)
    c["is_kept"] = c["doc_id"] == c["keeper_id"]
    return c[["doc_id", "cluster_id", "keeper_id", "is_kept"]]


def test_dedup_check_fails_on_wrong_keeper_and_merge():
    corpus = gen.dedup_corpus(3, 40, 6)
    out = _dedup_truth(corpus)
    assert checks.check_dedup(out, corpus) == []
    assert checks.dedup_recall(out, corpus) == 1.0

    wrong = out.copy()
    chained = corpus.loc[corpus["chain"] == 0, "doc_id"]
    loser = [d for d in chained if d != wrong.set_index("doc_id").loc[d, "keeper_id"]][0]
    wrong.loc[wrong["cluster_id"] == wrong.set_index("doc_id").loc[loser, "cluster_id"],
              "keeper_id"] = loser
    assert any("keeper" in f for f in checks.check_dedup(wrong, corpus))

    merged = out.copy()
    single = corpus.loc[corpus["chain"] < 0, "doc_id"].iloc[0]
    merged.loc[merged["doc_id"] == single, "cluster_id"] = merged.loc[
        merged["doc_id"] == chained.iloc[0], "cluster_id"].iloc[0]
    assert any("unrelated" in f for f in checks.check_dedup(merged, corpus))

    dropped = out.iloc[1:]
    assert checks.check_dedup(dropped, corpus)


def test_generators_are_seeded_and_size_stable():
    a, b = gen.documents(1, 300, 20, 40.0, 3000), gen.documents(1, 300, 20, 40.0, 3000)
    c = gen.documents(2, 300, 20, 40.0, 3000)
    pd.testing.assert_frame_equal(a, b)
    assert not a["text"].equals(c["text"])
    # the seed moves sizes between docs, never the size multiset
    wa = sorted(a["text"].str.split().str.len())
    wc = sorted(c["text"].str.split().str.len())
    assert wa == wc
    d1, d2 = gen.dedup_corpus(4, 30, 5), gen.dedup_corpus(4, 30, 5)
    pd.testing.assert_frame_equal(d1, d2)


def test_ledger_rows_equal_expected_extraction():
    from learnhtml_spark.corpus import expected_extraction, synthesize_docs_pdf
    from learnhtml_spark.exact_model import load_any_model
    from workloads import ARROW_BATCH, model_bytes

    docs = gen.documents(9, 24, lo=20, scale=40.0, cap=600)
    spans = synthesize_docs_pdf(docs[["doc_id", "text", "lang", "source"]])
    pairs = list(zip(spans["doc_id"], spans["spans"]))
    pairs.append(("bad", [{"kind": "html", "text": "<p>x</p>", "media_ref": None,
                           "offset": None},
                          {"kind": "html", "text": "", "media_ref": None, "offset": 1}]))
    rows, t, counts = ledger.run_kernel(pairs, load_any_model(model_bytes()), ARROW_BATCH)
    good = [r for r in rows if r[0] != "bad"]
    assert sorted(good, key=str) == sorted(expected_extraction(docs), key=str)
    assert counts["error_rows"] == 1 and counts["docs"] == 25
    m = ledger.ledger_metrics(t, counts)
    parts = sum(v for k, v in m.items() if k.endswith("_ms_per_doc")
                and k != "kernel.total_ms_per_doc")
    assert m["kernel.total_ms_per_doc"] == pytest.approx(parts)


def test_self_time_subtracts_child_union():
    spans = [
        {"id": 0, "parent": None, "start": 0.0, "end": 10.0},
        {"id": 1, "parent": 0, "start": 1.0, "end": 4.0},
        {"id": 2, "parent": 0, "start": 3.0, "end": 5.0},  # overlaps 1
        {"id": 3, "parent": 0, "start": 8.0, "end": 12.0},  # runs past 0
        {"id": 4, "parent": 1, "start": 2.0, "end": 3.0},
    ]
    s = tracing.self_times(spans)
    assert s[0] == pytest.approx(10 - 4 - 2)
    assert s[1] == pytest.approx(2.0)
    assert s[4] == pytest.approx(1.0)


def test_tracer_off_records_nothing():
    off = tracing.Tracer(enabled=False)
    with off.span("x"):
        pass
    assert off.spans == []
    on = tracing.Tracer(enabled=True)
    with on.span("a"), on.span("b"):
        pass
    assert [(s["name"], s["parent"]) for s in on.spans] == [("a", None), ("b", 0)]


def test_cpu_of_exited_child_is_counted():
    me = os.getpid()
    before = procstat.cpu_seconds(procstat.tree(me))
    subprocess.run([sys.executable, "-c",
                    "import time\nt=time.process_time()\n"
                    "while time.process_time()-t<0.3: pass"], check=True)
    after = procstat.cpu_seconds(procstat.tree(me))
    assert after - before >= 0.25
    assert me in procstat.tree(me)
    assert procstat.peak_rss_mb([me]) > 0
