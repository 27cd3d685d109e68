"""Training on the serving kernel: training rows are the rows serving
predicts on, models name their input columns, and every serving surface
checks a model against the block featurizer on the driver."""

import os

import numpy as np
import pytest

from learnhtml_spark.kernels.document import (
    BLOCK_STAT_COLUMNS,
    ModelColumnsError,
    block_frame_columns,
    check_model_columns,
    extract_rows,
)
from learnhtml_spark.kernels.labeling import get_ratios_per_html
from learnhtml_spark.model import NodeClassifier
from learnhtml_spark.operators.extract import docs_from_pairs, extract_content_spans
from learnhtml_spark.training import (
    RATIO_THRESHOLD,
    build_training_pair,
    build_training_pair_exact,
    synthetic_training_docs,
)

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ARTIFACTS = os.path.join(REPO, "learnhtml_spark", "artifacts")
TINY = dict(epochs=20, gbdt_rounds=5)


def _one_span(html):
    return [{"kind": "html", "text": html, "media_ref": None, "offset": 0}]


class _Recorder:
    """A classifier that records the frames serving asks it to predict."""

    def __init__(self):
        self.frames = []

    def predict(self, frame):
        self.frames.append(frame)
        return np.zeros(len(frame), dtype=np.int64)


def _served_frame(html, depth=5, height=5):
    rec = _Recorder()
    extract_rows([(("d",), _one_span(html))], rec, depth, height)
    (frame,) = rec.frames
    return frame


def _fixture_frames(fixture_docs):
    pairs = [build_training_pair(html, gold) for _, html, gold in fixture_docs]
    return [f for f, _ in pairs], [y for _, y in pairs]


def test_training_rows_are_serving_rows(fixture_docs):
    """The training frame of a page is the frame serving predicts on:
    same columns, order, dtypes and values; LCS labels match the label
    operator's ratios and exact labels the known content texts."""
    for _, html, gold in fixture_docs:
        frame, y = build_training_pair(html, gold)
        served = _served_frame(html)
        assert list(frame.columns) == list(served.columns) == block_frame_columns(5, 5)
        assert (frame.dtypes == served.dtypes).all()
        assert frame.equals(served)
        ratio = {p: r for p, r, _ in get_ratios_per_html(html, gold)}
        assert y.tolist() == [int(ratio[p] > RATIO_THRESHOLD) for p in served["path"]]
    assert [len(build_training_pair(h, g)[0]) for _, h, g in fixture_docs] == [
        126, 354, 32, 34]
    for html, texts in synthetic_training_docs(4):
        frame, y = build_training_pair_exact(html, texts)
        served = _served_frame(html)
        assert frame.equals(served) and (frame.dtypes == served.dtypes).all()
        assert y.sum() == len(texts)


def test_named_model_reads_columns_by_name(fixture_docs):
    frames, labels = _fixture_frames(fixture_docs)
    model = NodeClassifier.fit(frames, labels, **TINY)
    assert model.input_columns() == [c for c in frames[0].columns if c != "path"]
    back = NodeClassifier.from_bytes(model.to_bytes())
    assert back.columns == model.columns
    rng = np.random.default_rng(0)
    for f in frames:
        permuted = f[list(rng.permutation(f.columns))]
        np.testing.assert_array_equal(back.predict_proba(permuted), model.predict_proba(f))
    with pytest.raises(ValueError, match="disagree"):
        NodeClassifier.fit([frames[0], frames[1].drop(columns=["blk_position"])],
                           labels[:2], **TINY)
    # a page without blocks gives an empty pair that fitting skips
    empty, y = build_training_pair("<html><body></body></html>", ["x"])
    assert list(empty.columns) == list(frames[0].columns) and len(y) == 0
    again = NodeClassifier.fit([empty] + frames, [y] + labels, **TINY)
    np.testing.assert_array_equal(again.predict_proba(frames[0]), model.predict_proba(frames[0]))


def test_mismatched_model_rejected_on_driver(spark, tmp_path, fixture_docs):
    """A model fit without the block stats fails with the named error on
    the driver, before any Spark job, on every serving surface."""
    from learnhtml_spark.extractor import HTMLExtractor
    from learnhtml_spark.sources.tables import write_extraction_run

    frames, labels = _fixture_frames(fixture_docs)
    model = NodeClassifier.fit(
        [f.drop(columns=BLOCK_STAT_COLUMNS) for f in frames], labels, **TINY)
    nameless = NodeClassifier.from_bytes(model.to_bytes())
    nameless.columns = None  # a positional artifact of the same width
    docs = docs_from_pairs(spark, [("d", _one_span(fixture_docs[0][1]))])
    sc = spark.sparkContext
    sc.setJobGroup("model-check", "driver-side model check")
    try:
        for clf in (model, nameless):
            calls = (
                lambda: extract_content_spans(docs, clf),
                lambda: extract_content_spans(docs, clf.to_bytes()),
                lambda: write_extraction_run(docs, clf.to_bytes(),
                                             str(tmp_path / "run"), "r1"),
                lambda: HTMLExtractor(clf),
            )
            for call in calls:
                with pytest.raises(ModelColumnsError) as err:
                    call()
                if clf is model:
                    assert "blk_link_density" in str(err.value)
                else:
                    assert "72 numeric columns" in str(err.value)
        assert list(sc.statusTracker().getJobIdsForGroup("model-check")) == []
    finally:
        sc.setJobGroup(None, None)
    assert not (tmp_path / "run").exists()


def test_exact_model_vocabulary_column_must_exist(fixture_docs):
    from learnhtml_spark.exact_model import ExactNodeClassifier
    from learnhtml_spark.extractor import HTMLExtractor

    frames, labels = _fixture_frames(fixture_docs[:2])
    fit = dict(topk=50, epochs=5, batch_size=64)
    check_model_columns(ExactNodeClassifier.fit(frames, labels, **fit))
    extra = [f.assign(bogus_tag="div") for f in frames]
    model = ExactNodeClassifier.fit(extra, labels, **fit)
    assert "bogus_tag" in model.input_columns()
    with pytest.raises(ModelColumnsError, match="bogus_tag"):
        check_model_columns(model)
    with pytest.raises(ModelColumnsError, match="bogus_tag"):
        HTMLExtractor(model)
    # the vectorizer no longer reads a missing column as zeros
    with pytest.raises(KeyError):
        model.predict(frames[0])


def test_nameless_packaged_model_still_serves(spark, fixture_docs):
    """The committed model.npz carries no column names: it loads, reads
    its 80 numeric columns by position, passes the check at the default
    window only, and keeps its extraction."""
    from learnhtml_spark.exact_model import load_any_model_path
    from learnhtml_spark.extractor import HTMLExtractor

    model = load_any_model_path(os.path.join(ARTIFACTS, "model.npz"))
    assert model.columns is None and model.input_columns() == 80
    check_model_columns(model)
    with pytest.raises(ModelColumnsError, match="80 numeric columns"):
        check_model_columns(model, 3, 3)
    ex = HTMLExtractor(model)
    kept = [len(ex.extract_from_html(html)) for _, html, _ in fixture_docs]
    assert kept == [7, 17, 31, 17]
    prefix = "/html/body/div[1]/div/div[7]/div/div[2]"
    assert ex.extract_from_html(fixture_docs[0][1]) == [f"{prefix}/h1"] + [
        f"{prefix}/div[1]/p[{i}]" for i in range(1, 7)]
    html = fixture_docs[0][1]
    rows = extract_content_spans(
        docs_from_pairs(spark, [("d", _one_span(html))]),
        open(os.path.join(ARTIFACTS, "model.npz"), "rb").read(),
    ).collect()
    served = [r.text for r in sorted(rows, key=lambda r: r.offset) if r.kind == "text"]
    assert served == ex.extract_text_blocks(html)


def _docs_with_gold(spark, n):
    from pyspark.sql.types import ArrayType, StringType, StructField, StructType

    from learnhtml_spark.corpus import synthesize_page
    from learnhtml_spark.schemas import SPAN, local_frame

    rows = []
    for i in range(n):
        text = f"page {i} reports on topic {i % 3} with plain words " * (2 + i)
        spans, expected = synthesize_page(f"d{i}", text, f"s{i % 2}", "en")
        rows.append((f"d{i}", spans, expected))
    schema = StructType([
        StructField("doc_id", StringType()),
        StructField("spans", ArrayType(SPAN)),
        StructField("gold_blocks", ArrayType(StringType())),
    ])
    return rows, local_frame(spark, rows, schema)


def test_distributed_training_rows_fit_a_serving_model(spark):
    """training_rows (one mapInPandas) gives per document the serial
    training pair; a model fit on them serves through
    extract_content_spans without error rows."""
    from learnhtml_spark.spans import html_from_spans
    from learnhtml_spark.training import training_rows

    rows, with_gold = _docs_with_gold(spark, 6)
    pdf = training_rows(with_gold).toPandas()
    frames, labels = [], []
    for doc_id, spans, gold in rows:
        g = pdf[pdf["doc_id"] == doc_id].reset_index(drop=True)
        y = g.pop("label").to_numpy()
        f = g.drop(columns=["doc_id"])
        want_f, want_y = build_training_pair(html_from_spans(spans)[0], gold)
        assert f.equals(want_f) and (f.dtypes == want_f.dtypes).all()
        np.testing.assert_array_equal(y, want_y)
        frames.append(f)
        labels.append(y)
    model = NodeClassifier.fit(frames, labels, **TINY)
    out = extract_content_spans(
        docs_from_pairs(spark, [(d, s) for d, s, _ in rows]), model
    ).collect()
    assert {r.doc_id for r in out} == {d for d, _, _ in rows}
    assert not [r for r in out if r.kind == "error"]


def test_cli_resume_extract_forwards_window(spark, tmp_path, fixture_docs):
    """`extract --resume-base` runs the kernel at --depth/--height: a
    depth-3 model writes the same spans as extract_content_spans at 3/3,
    and without the flags it is rejected on the driver."""
    from learnhtml_spark import cli
    from learnhtml_spark.training import train

    _, html, gold = fixture_docs[0]
    model = train([(html, gold)], depth=3, height=3, **TINY)
    model_file = str(tmp_path / "d3.npz")
    model.save(model_file)
    rows, _ = _docs_with_gold(spark, 4)
    pairs = [(d, s) for d, s, _ in rows] + [("fx", _one_span(html))]
    ind = str(tmp_path / "docs")
    docs_from_pairs(spark, pairs).write.parquet(ind)
    base = str(tmp_path / "run")
    args = ["extract", "--input", ind, "--model", model_file,
            "--resume-base", base, "--buckets", "2", "--cores", "4"]
    with pytest.raises(ModelColumnsError):
        cli.main(args)
    cli.main(args + ["--depth", "3", "--height", "3"])
    got = spark.read.parquet(os.path.join(base, "spans")).drop("bucket")
    want = extract_content_spans(spark.read.parquet(ind), model, depth=3, height=3)
    key = ["doc_id", "offset"]
    assert got.orderBy(key).collect() == want.select(got.columns).orderBy(key).collect()
    assert "error" not in {r.kind for r in got.select("kind").distinct().collect()}


def test_train_params_reject_all_node_training():
    from learnhtml_spark.cli import parse_train_params

    data, *_ = parse_train_params({"blocks_only": True, "depth": 3})
    assert data == {"height": 5, "depth": 3}
    with pytest.raises(ValueError, match="blocks_only"):
        parse_train_params({"blocks_only": False})
