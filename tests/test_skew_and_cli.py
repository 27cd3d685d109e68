"""Giant-page skew handling and the CLI surface."""

import os
import subprocess
import sys

import pytest

sys.path.insert(0, os.path.dirname(__file__))

from collections import defaultdict


def test_giant_page_extraction(spark):
    """A multi-hundred-KB page among small ones must extract exactly and
    not break the salted-repartition path."""
    import __spark_entry__ as E
    from learnhtml_spark.corpus import synthesize_page
    from learnhtml_spark.operators.extract import (
        docs_from_pairs,
        extract_content_spans,
    )

    giant_text = " ".join(f"w{i % 977}" for i in range(60000))  # ~350 KB page
    pairs = []
    expected = {}
    for doc_id, text in [("giant", giant_text)] + [
        (f"small{i}", f"doc {i} body words " * 10) for i in range(30)
    ]:
        spans, exp = synthesize_page(doc_id, text, "srcX", "en")
        pairs.append((doc_id, spans))
        expected[doc_id] = exp
    docs = docs_from_pairs(spark, pairs)
    out = extract_content_spans(
        docs, E._model_bytes(), num_partitions=8
    ).orderBy("doc_id", "offset").collect()
    per = defaultdict(list)
    for r in out:
        if r.kind == "text":
            per[r.doc_id].append(r.text)
    assert per["giant"] == expected["giant"]
    assert sum(len(v) for v in per.values()) == sum(len(v) for v in expected.values())


def test_repartition_docs_salting(spark):
    from learnhtml_spark.operators.extract import repartition_docs

    df = spark.createDataFrame([(f"d{i}",) for i in range(200)], ["doc_id"])
    out = repartition_docs(df, 16, salt_buckets=4)
    assert out.count() == 200
    assert out.rdd.getNumPartitions() == 16


def test_repartition_salt_is_deterministic(spark):
    """The shuffle key must be a pure function of the row — a
    nondeterministic salt loses/duplicates rows under stage retry on a
    real cluster (SPARK-23207)."""
    from learnhtml_spark.operators.extract import repartition_docs

    df = spark.createDataFrame([(f"d{i}",) for i in range(500)], ["doc_id"])
    out = repartition_docs(df, 16, salt_buckets=8)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "monotonically_increasing_id" not in plan
    assert "rand(" not in plan
    # same row -> same partition, run to run
    p1 = sorted(out.rdd.mapPartitionsWithIndex(
        lambda i, it: [(r.doc_id, i) for r in it]).collect())
    p2 = sorted(out.rdd.mapPartitionsWithIndex(
        lambda i, it: [(r.doc_id, i) for r in it]).collect())
    assert p1 == p2


def test_cli_extract_html(fixture_docs, tmp_path):
    """Drive the CLI end-to-end on a fixture page (single-doc path)."""
    name, html, gold = fixture_docs[0]  # R578, utf-8
    f = tmp_path / "page.html"
    f.write_text(html)
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    r = subprocess.run(
        [sys.executable, "-m", "learnhtml_spark.cli", "extract-html", str(f)],
        capture_output=True, text=True, cwd=repo, timeout=300,
    )
    assert r.returncode == 0, r.stderr[-2000:]
    lines = [l for l in r.stdout.splitlines() if l.strip()]
    assert any("Ford Escape" in l for l in lines)

    r2 = subprocess.run(
        [sys.executable, "-m", "learnhtml_spark.cli", "extract-html", "--paths", str(f)],
        capture_output=True, text=True, cwd=repo, timeout=300,
    )
    assert r2.returncode == 0
    assert all(p.startswith("/html") for p in r2.stdout.splitlines() if p.strip())


def test_cli_label_dataset_dir(spark, tmp_path):
    """`label` subcommand (reference cli/utils.py:50-80 `convert`): a
    dragnet-layout dataset dir -> per-node label parquet, values equal to
    a direct get_ratios_per_html run."""
    import pandas as pd

    from learnhtml_spark.kernels.labeling import get_ratios_per_html
    from learnhtml_spark.kernels.tokenize import get_blocks

    fix = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fixtures")
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = str(tmp_path / "labels_parquet")
    r = subprocess.run(
        [sys.executable, "-m", "learnhtml_spark.cli", "label",
         os.path.join(fix, "dragnet"), "--output", out, "--cores", "4"],
        capture_output=True, text=True, cwd=repo, timeout=600,
    )
    assert r.returncode == 0, r.stderr[-2000:]
    got = pd.read_parquet(out)
    assert set(got.columns) == {
        "doc_id", "node_path", "content_label", "ratio",
        "is_extracted_block", "block_text",
    }
    # cross-check one document against the kernel run
    html = open(os.path.join(fix, "dragnet/HTML/R578.html"), encoding="utf-8").read()
    gold = get_blocks(
        open(os.path.join(fix, "dragnet/Corrected/R578.html.corrected.txt"),
             encoding="utf-8").read())
    want = {p: r_ for p, r_, _ in get_ratios_per_html(html, gold)}
    doc = got[got["doc_id"] == "R578"].set_index("node_path")
    assert len(doc) == len(want)
    for p, ratio in want.items():
        assert abs(doc.loc[p, "ratio"] - ratio) < 1e-9


def test_exact_model_roundtrip_and_dispatch(fixture_docs):
    """The exact-vectorizer pipeline artifact round-trips through npz and
    load_any_model dispatches on artifact kind (VERDICT r3 #8)."""
    import numpy as np

    import __spark_entry__ as E
    from learnhtml_spark.exact_model import ExactNodeClassifier, load_any_model
    from learnhtml_spark.model import NodeClassifier
    from learnhtml_spark.training import build_training_pair

    frames, labels = [], []
    for _, html, gold in fixture_docs[:2]:
        f, y = build_training_pair(html, gold)
        frames.append(f)
        labels.append(y)
    model = ExactNodeClassifier.fit(
        frames, labels, min_df=1, topk=100, epochs=20, batch_size=32
    )
    data = model.to_bytes()
    back = load_any_model(data)
    assert isinstance(back, ExactNodeClassifier)
    for f in frames:
        assert np.array_equal(model.predict(f), back.predict(f))
        assert np.allclose(model.predict_proba(f), back.predict_proba(f))
    # hashed artifact still dispatches to NodeClassifier
    assert isinstance(load_any_model(E._model_bytes()), NodeClassifier)


def test_cli_extract_with_exact_model(spark, tmp_path):
    """End-to-end: `extract --model exact.npz` over a docs table produces
    an ordered span parquet using the exact-vectorizer pipeline."""
    import os

    from learnhtml_spark import cli
    from learnhtml_spark.corpus import synthesize_page
    from learnhtml_spark.operators.extract import docs_from_pairs

    exact_path = os.path.join(
        os.path.dirname(os.path.abspath(cli.__file__)), "artifacts", "exact.npz"
    )
    pairs = []
    for i in range(6):
        spans, _ = synthesize_page(f"d{i}", f"body words number {i} " * 12, "s1", "en")
        pairs.append((f"d{i}", spans))
    ind = str(tmp_path / "docs_in")
    outd = str(tmp_path / "spans_out")
    docs_from_pairs(spark, pairs).write.parquet(ind)
    cli.main(
        [
            "extract",
            "--input", ind,
            "--output", outd,
            "--model", exact_path,
            "--cores", "4",
        ]
    )
    out = spark.read.parquet(outd)
    assert out.count() > 0
    assert set(out.columns) == {"doc_id", "kind", "text", "media_ref", "offset"}
    # every input doc produced an ordered, 0-based contiguous span sequence
    rows = out.orderBy("doc_id", "offset").collect()
    per = {}
    for r in rows:
        per.setdefault(r["doc_id"], []).append(r["offset"])
    assert set(per) == {f"d{i}" for i in range(6)}
    assert all(offs == list(range(len(offs))) for offs in per.values())


def test_cli_train_param_file_e2e(tmp_path):
    """Reference `train` CLI surface (cli/script.py:85-109): a params JSON
    in the reference schema (scalars pin, lists search, unknown sklearn
    pipeline keys ignored with a warning) drives the grouped random
    search; the refit artifact extracts end-to-end."""
    import json
    import os
    import subprocess
    import sys

    params = {
        "height": 3,
        "depth": 3,
        "blocks_only": True,
        "gbdt_rounds": [20, 30],
        "reduce_dim__percentile": [100, 90],
        "epochs": 50,
        "lr": 0.5,
        "classify__criterion": ["gini", "entropy"],  # no engine analog
    }
    pf = tmp_path / "params.json"
    pf.write_text(json.dumps(params))
    model_file = tmp_path / "searched.npz"
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    r = subprocess.run(
        [sys.executable, "-m", "learnhtml_spark.cli", "train",
         "-j", str(pf), "-p", "gbdt_depth", "3",
         "--n-iter", "2", "--internal-folds", "2", "3",
         "--n-synth", "6", "--model-file", str(model_file)],
        capture_output=True, text=True, cwd=repo, timeout=600,
    )
    assert r.returncode == 0, r.stderr[-2000:]
    assert "best params" in r.stdout
    assert "classify__criterion" in r.stderr  # warned, not crashed
    assert model_file.exists()

    from learnhtml_spark.exact_model import load_any_model_path
    from learnhtml_spark.extractor import HTMLExtractor

    ex = HTMLExtractor(load_any_model_path(str(model_file)), depth=3, height=3)
    blocks = ex.extract_text_blocks(
        "<html><body><div><p>real article content here with words</p>"
        "</div><div><a href='x'>nav</a></body></html>"
    )
    assert isinstance(blocks, list)


def test_cli_train_nested_cv_score_files(tmp_path):
    """--score-files {suffix} writes the reference's two CSVs (scores +
    cv results) from nested grouped CV."""
    import os
    import subprocess
    import sys

    # reference semantics: {suffix} is replaced by 'scores.csv'/'cv.csv'
    # (extension included), so the pattern itself carries none
    pattern = str(tmp_path / "out_{suffix}")
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    r = subprocess.run(
        [sys.executable, "-m", "learnhtml_spark.cli", "train",
         "-p", "gbdt_rounds", "[20]", "-p", "epochs", "40",
         "--n-iter", "1", "--internal-folds", "2", "2",
         "--external-folds", "2", "3", "--n-synth", "6",
         "--score-files", pattern],
        capture_output=True, text=True, cwd=repo, timeout=600,
    )
    assert r.returncode == 0, r.stderr[-2000:]
    import pandas as pd

    scores = pd.read_csv(str(tmp_path / "out_scores.csv"))
    assert list(scores.columns) == ["run_nb", "f1"]
    assert len(scores) == 2  # 2 of 3 external folds evaluated
    cv = pd.read_csv(str(tmp_path / "out_cv.csv"))
    assert {"candidate", "fold", "f1", "run_nb"} <= set(cv.columns)


def test_cli_resume_extract_rejects_partitions(tmp_path, capsys):
    """`extract --resume-base` takes its kernel parallelism from
    spark.sql.shuffle.partitions: --partitions with it is a usage error,
    raised before a session starts or anything is written."""
    from learnhtml_spark import cli

    base = tmp_path / "run"
    with pytest.raises(SystemExit) as err:
        cli.main(["extract", "--input", str(tmp_path / "docs"),
                  "--resume-base", str(base), "--partitions", "4"])
    assert err.value.code == 2
    assert "--partitions does not apply with --resume-base" in capsys.readouterr().err
    assert not base.exists()


def test_cli_keeps_caller_session_conf(spark, tmp_path):
    """A command run in-process reuses the caller's active session as it
    is: the CLI's own shuffle-partition setting applies only to a session
    it creates, so the caller's spark.sql.shuffle.partitions survives."""
    from learnhtml_spark import cli
    from learnhtml_spark.corpus import synthesize_page
    from learnhtml_spark.operators.extract import docs_from_pairs

    key = "spark.sql.shuffle.partitions"
    old = spark.conf.get(key)
    spark.conf.set(key, "7")
    try:
        spans, _ = synthesize_page("d0", "body words for the cli " * 6)
        ind, outd = str(tmp_path / "docs"), str(tmp_path / "features")
        docs_from_pairs(spark, [("d0", spans)]).write.parquet(ind)
        cli.main(["features", "--input", ind, "--output", outd, "--cores", "2"])
        assert spark.conf.get(key) == "7"
        assert spark.read.parquet(outd).count() > 0
    finally:
        spark.conf.set(key, old)
