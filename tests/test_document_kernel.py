"""The shared document kernel (kernels/document.py) and its callers:
single-document API == distributed serving, composite keys and the one
error-row contract, the fused WARC plan shape, and session hygiene of the
span-table sink."""

import os
import re
import sys

import pytest

sys.path.insert(0, os.path.dirname(__file__))

from learnhtml_spark.kernels.document import (
    drop_zip_importers, error_row, extract_rows, python_task)
from learnhtml_spark.operators.extract import docs_from_pairs, extract_content_spans
from learnhtml_spark.sources.warc_source import build_warc
from learnhtml_spark.spans import split_html_to_spans

FIX = os.path.join(os.path.dirname(__file__), "fixtures", "dragnet", "HTML")

PAGE = (
    "<html><body><h1>Heading of the report page</h1><p>"
    + " ".join(["content"] * 20)
    + "</p><div><a href='x'>nav</a> <a href='y'>links</a></div></body></html>"
)


def _one_span(html):
    return [{"kind": "html", "text": html, "media_ref": None, "offset": 0}]


@pytest.mark.parametrize("name", sorted(os.listdir(FIX)))
def test_html_extractor_equals_serving(spark, fixture_model, name):
    from learnhtml_spark.extractor import HTMLExtractor

    html = open(os.path.join(FIX, name), encoding="utf-8").read()
    got = HTMLExtractor(fixture_model).extract_text_blocks(html)
    rows = extract_content_spans(
        docs_from_pairs(spark, [(name, _one_span(html))]), fixture_model
    ).collect()
    served = [r.text for r in sorted(rows, key=lambda r: r.offset) if r.kind == "text"]
    assert got and got == served


def test_composite_keys_and_error_rows(fixture_model):
    spans = split_html_to_spans(PAGE, 3, media_refs=["m1"])
    plain = extract_rows([(("d",), spans)], fixture_model)
    keyed = extract_rows([(("a.warc", "d"), spans)], fixture_model)
    # the leading key tuple rides through untouched on every row
    assert keyed == [("a.warc", *r) for r in plain]
    assert any(r[1] == "media" for r in plain)

    # two different pages under one key in one batch: verdicts stay per
    # document, not per key
    other = _one_span(open(os.path.join(FIX, "9.html"), encoding="utf-8").read())
    alone = extract_rows([(("d",), other)], fixture_model)
    both = extract_rows([(("d",), spans), (("d",), other)], fixture_model)
    assert both == plain + alone

    # a poison document becomes one error row; its batch neighbours survive
    for clf in (None, fixture_model):
        out = extract_rows(
            [(("bad",), [{"kind": "html"}]), (("ok",), spans)], clf
        )
        errs = [r for r in out if r[1] == "error"]
        assert errs == [("bad", "error", "KeyError: 'offset'", None, -1)]
        assert [r for r in out if r[0] == "ok"] == extract_rows([(("ok",), spans)], clf)
    assert error_row(("a", ""), ValueError("x" * 600))[3] == "ValueError: " + "x" * 488


@pytest.mark.parametrize("verdict", ["heuristic", "model"])
def test_warc_fused_plan_shape(spark, tmp_path, verdict):
    from learnhtml_spark.sources.warc_run import warc_spans_fused
    from test_warc_run import _packaged_model

    d = tmp_path / "warc"
    d.mkdir()
    (d / "a.warc").write_bytes(build_warc([f"p{i}" for i in range(6)], False))
    raw = spark.read.format("binaryFile").load(str(d)).select("path", "content")
    out = warc_spans_fused(raw, _packaged_model() if verdict == "model" else None)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("MapInPandas") == 1
    assert "Exchange" not in plan
    rows = out.collect()
    assert rows and all(r.kind != "error" for r in rows)


@pytest.mark.parametrize("verdict", ["heuristic", "model"])
def test_warc_fused_kernel_batches(spark, tmp_path, verdict):
    from learnhtml_spark.sources.warc_run import warc_spans_fused
    from learnhtml_spark.sources.warc_source import build_record, http_response
    from test_warc_run import _packaged_model

    d = tmp_path / "warc"
    d.mkdir()
    bad = build_record("response", {"WARC-Target-URI": "u"},
                       http_response(200, "OK", "text/html", b"x" * 50))
    (d / "a.warc").write_bytes(
        build_warc([f"p{i}" for i in range(7)], False) + bad[:-30]
    )
    raw = spark.read.format("binaryFile").load(str(d)).select("path", "content")
    model = _packaged_model() if verdict == "model" else None
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    whole = sorted(map(tuple, warc_spans_fused(raw, model).collect()), key=repr)
    before = spark.conf.get(key)
    # the kernel sees the archive's pages two at a time: same rows
    spark.conf.set(key, "2")
    try:
        paired = sorted(map(tuple, warc_spans_fused(raw, model).collect()), key=repr)
    finally:
        spark.conf.set(key, before)
    assert paired == whole
    # an undecodable record follows the kernel's error-row format
    assert [r for r in whole if r[2] == "error"] == [
        ("a.warc", "u", "error", "ValueError: truncated WARC block", None, -1)
    ]


def test_write_extraction_run_keeps_session_conf(spark, fixture_model, tmp_path):
    from pyspark.sql import functions as F

    from learnhtml_spark.sources.tables import bucket_col, write_extraction_run

    key = "spark.sql.sources.partitionOverwriteMode"
    before = spark.conf.get(key)
    # one page per bucket
    ids = spark.createDataFrame([(f"p{i}",) for i in range(20)], ["doc_id"])
    by_bucket = dict(
        ids.select("doc_id", bucket_col(2).alias("b")).groupBy("b")
        .agg(F.min("doc_id")).collect()
    )
    html = open(os.path.join(FIX, "R578.html"), encoding="utf-8").read()
    docs = docs_from_pairs(
        spark, [(by_bucket[b], split_html_to_spans(html, 2)) for b in (0, 1)]
    )
    model = fixture_model.to_bytes()
    base = str(tmp_path / "run")
    assert write_extraction_run(docs, model, base, "r", num_buckets=2)["docs"] == 2
    assert spark.conf.get(key) == before
    # the write itself still overwrites dynamically: re-running bucket 0
    # under a new run id leaves bucket 1's landed rows in place
    spans = os.path.join(base, "spans")
    landed = spark.read.parquet(spans).filter("bucket = 1").count()
    write_extraction_run(docs, model, base, "r2", num_buckets=2,
                         max_buckets_per_call=1)
    assert landed and spark.read.parquet(spans).filter("bucket = 1").count() == landed
    assert spark.conf.get(key) == before


def _written_plans(spark, path: str, details: bool = False) -> list[str]:
    """Physical plan trees of the SQL executions that wrote under
    ``path``, as the session's SQL status store recorded them; with
    ``details``, the whole formatted plan."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    execs = spark._jsparkSession.sharedState().statusStore().executionsList()
    newest = range(max(execs.size() - 20, 0), execs.size())
    plans = (execs.apply(i).physicalPlanDescription() for i in newest)
    # the formatted plan: the node tree, a blank line, then node details
    return [p if details else p.split("\n\n")[0] for p in plans if path in p]


@pytest.mark.parametrize("surface", ["table", "crawl-heuristic", "crawl-model"])
def test_run_counters_in_write_result_stage(spark, fixture_model, tmp_path, surface):
    # the lineage counters are exactly-once only while the kernel runs in
    # the write's result stage: no Exchange between the kernel's
    # MapInPandas and the writer, on every sink surface and verdict
    from learnhtml_spark.sources.tables import write_extraction_run
    from learnhtml_spark.sources.warc_run import write_warc_run
    from test_warc_run import _packaged_model

    base = str(tmp_path / "run")
    if surface == "table":
        html = open(os.path.join(FIX, "R578.html"), encoding="utf-8").read()
        docs = docs_from_pairs(spark, [(f"p{i}", split_html_to_spans(html, 2))
                                       for i in range(4)])
        write_extraction_run(docs, fixture_model.to_bytes(), base, "r", num_buckets=2)
    else:
        d = tmp_path / "warc"
        d.mkdir()
        (d / "a.warc").write_bytes(build_warc([f"p{i}" for i in range(6)], False))
        model = _packaged_model() if surface == "crawl-model" else None
        write_warc_run(spark, str(d), base, "r", model_bytes=model)
    plans = [p for p in _written_plans(spark, os.path.join(base, "spans"))
             if "MapInPandas" in p]
    assert len(plans) == 1
    tree = plans[0].splitlines()
    kernels = [i for i, line in enumerate(tree) if "MapInPandas" in line]
    assert kernels
    for i in kernels:  # AQE prints its final and initial plans
        assert "WriteFiles" in "".join(_ancestors(tree, i))
        assert "Exchange" not in "".join(_ancestors(tree, i)), plans[0]


def test_table_sink_range_partitions_below_kernel(spark, fixture_model, tmp_path):
    # the one Exchange of the table surface's write is a range exchange on
    # (bucket, doc_id) under the kernel's MapInPandas
    from learnhtml_spark.sources.tables import write_extraction_run

    base = str(tmp_path / "run")
    docs = docs_from_pairs(spark, [(f"p{i}", split_html_to_spans(PAGE, 2))
                                   for i in range(6)])
    write_extraction_run(docs, fixture_model.to_bytes(), base, "r", num_buckets=2)
    [plan] = [p for p in _written_plans(spark, os.path.join(base, "spans"), True)
              if "MapInPandas" in p]
    tree = plan.split("\n\n")[0].splitlines()
    # AQE prints its final and initial plans: one node id in both
    exchanges = {i: re.search(r"Exchange \((\d+)\)", line).group(1)
                 for i, line in enumerate(tree) if "Exchange" in line}
    assert len(set(exchanges.values())) == 1, plan
    for i in exchanges:
        assert "MapInPandas" in "".join(_ancestors(tree, i))
    node = plan.split(f"({exchanges.popitem()[1]}) Exchange")[1].split("\n\n")[0]
    assert re.search(r"Arguments: rangepartitioning\(bucket#\d+ ASC NULLS FIRST, "
                     r"doc_id#\d+ ASC NULLS FIRST, 8\)", node), node


def test_table_sink_files_per_call(spark, fixture_model, tmp_path):
    # each kernel task writes one contiguous (bucket, doc_id) range: a call
    # writes at most pending + shuffle partitions - 1 span files, and one
    # pending bucket still spreads over several tasks
    from learnhtml_spark.corpus import synthesize_page
    from learnhtml_spark.sources.tables import read_lineage, write_extraction_run
    from test_warc_run import landed_counts

    ind = str(tmp_path / "docs")
    pages = [synthesize_page(f"p{i:02d}", f"body words number {i} " * 12)[0]
             for i in range(48)]
    docs_from_pairs(spark, [(f"p{i:02d}", sp) for i, sp in enumerate(pages)]
                    ).repartition(6).write.parquet(ind)
    docs = spark.read.parquet(ind)
    assert docs.rdd.getNumPartitions() > 1
    n = int(spark.conf.get("spark.sql.shuffle.partitions"))
    base = str(tmp_path / "run")
    spans = tmp_path / "run" / "spans"
    model = fixture_model.to_bytes()

    def files(buckets):
        return [f for b in buckets for f in (spans / f"bucket={b}").glob("*.parquet")]

    r1 = write_extraction_run(docs, model, base, "r", num_buckets=4,
                              max_buckets_per_call=1)
    assert 1 < len(files(r1["processed_buckets"])) <= n
    r2 = write_extraction_run(docs, model, base, "r", num_buckets=4)
    pending = r2["processed_buckets"]
    assert len(pending) == 3
    assert len(files(pending)) <= len(pending) + n - 1
    assert r1["docs"] + r2["docs"] == 48 and r1["spans"] and r2["spans"]
    # the counters still count each landed row once
    landed = landed_counts(spark, base, "bucket")
    for r in read_lineage(spark, base).collect():
        assert (r.doc_count, r.span_count, r.error_count) == landed[r.bucket], r.bucket


def test_sink_rejects_out_of_range_parameters(spark, fixture_model, tmp_path):
    # a bucket count or per-call cap below 1 fails on the driver, before
    # any job, on both sink surfaces
    from learnhtml_spark.sources.tables import write_extraction_run
    from learnhtml_spark.sources.warc_run import write_warc_run

    d = tmp_path / "warc"
    d.mkdir()
    (d / "a.warc").write_bytes(build_warc(["p0"], False))
    docs = docs_from_pairs(spark, [("p0", _one_span(PAGE))])
    model = fixture_model.to_bytes()
    base = str(tmp_path / "run")
    calls = [
        ("num_buckets", lambda: write_extraction_run(docs, model, base, "r",
                                                     num_buckets=0)),
        ("num_buckets", lambda: write_extraction_run(docs, model, base, "r",
                                                     num_buckets=-3)),
    ]
    for cap in (0, -1):
        calls += [
            ("max_per_call", lambda cap=cap: write_extraction_run(
                docs, model, base, "r", max_buckets_per_call=cap)),
            ("max_per_call", lambda cap=cap: write_warc_run(
                spark, str(d), base, "r", max_archives_per_call=cap)),
        ]
    sc = spark.sparkContext
    sc.setJobGroup("sink-params", "driver-side parameter checks")
    try:
        for name, call in calls:
            with pytest.raises(ValueError, match=name):
                call()
        assert list(sc.statusTracker().getJobIdsForGroup("sink-params")) == []
    finally:
        sc.setJobGroup(None, None)
    assert not (tmp_path / "run").exists()


def _ancestors(tree: list[str], i: int) -> list[str]:
    """The lines of a plan tree's node ``i``'s ancestors: each is the
    nearest line above with a smaller indent."""
    def indent(line):
        return len(line) - len(line.lstrip(" :+-"))

    out, depth = [], indent(tree[i])
    for line in reversed(tree[:i]):
        if indent(line) < depth:
            out.append(line)
            depth = indent(line)
    return out


def test_drop_zip_importers_keeps_zip_imports(tmp_path, monkeypatch):
    """The worker-task helper drops every cached zip importer (each one
    re-reads its archive on the next ``importlib.invalidate_caches()``)
    and leaves ``sys.path`` alone: a later import from the same zip still
    works."""
    import importlib
    import zipfile
    import zipimport

    archive = tmp_path / "pkgs.zip"
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("zipmod_first.py", "VALUE = 1\n")
        z.writestr("zipmod_second.py", "VALUE = 2\n")
    monkeypatch.syspath_prepend(str(archive))
    for name in ("zipmod_first", "zipmod_second"):
        monkeypatch.delitem(sys.modules, name, raising=False)

    def zip_importers():
        return [p for p, f in sys.path_importer_cache.items()
                if isinstance(f, zipimport.zipimporter)]

    assert importlib.import_module("zipmod_first").VALUE == 1
    assert str(archive) in zip_importers()
    path = list(sys.path)
    drop_zip_importers()
    assert zip_importers() == [] and sys.path == path
    second = importlib.import_module("zipmod_second")
    assert second.VALUE == 2 and second.__file__.startswith(str(archive))


def test_python_task_drops_zip_importers_first(tmp_path, monkeypatch):
    """A ``python_task`` body starts with no cached zip importer, keeps
    its argument and its generator output, and leaves ``sys.path``
    alone."""
    import importlib
    import zipfile
    import zipimport

    archive = tmp_path / "task.zip"
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("zipmod_task.py", "VALUE = 3\n")
    monkeypatch.syspath_prepend(str(archive))
    monkeypatch.delitem(sys.modules, "zipmod_task", raising=False)
    assert importlib.import_module("zipmod_task").VALUE == 3
    path = list(sys.path)
    seen = []

    @python_task
    def run(batches):
        seen.append([p for p, f in sys.path_importer_cache.items()
                     if isinstance(f, zipimport.zipimporter)])
        for b in batches:
            yield b * 2

    assert list(run(iter([1, 2]))) == [2, 4]
    assert seen == [[]] and sys.path == path
