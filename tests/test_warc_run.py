"""Checkpoint-resumable WARC extraction runs: full-run, no-op resume,
incremental catch-up of newly landed archives, per-archive lineage
metrics, and poison-archive accounting."""

import hashlib
import os
import shutil
import sys

import pytest

sys.path.insert(0, os.path.dirname(__file__))

from learnhtml_spark.sources.warc_run import write_warc_run
from learnhtml_spark.sources.warc_source import (
    build_warc,
    synth_media_for,
    synth_response_for,
    synth_url,
)


def _archive_dir(tmp_path, n_files=3, docs_per_file=4):
    d = tmp_path / "warc"
    d.mkdir()
    ids = []
    for fno in range(n_files):
        chunk = [f"d{fno}_{i}" for i in range(docs_per_file)]
        ids.extend(chunk)
        gz = fno % 2 == 1
        name = f"part-{fno:05d}.warc" + (".gz" if gz else "")
        (d / name).write_bytes(build_warc(chunk, gz))
    return d, ids


@pytest.mark.parametrize("scheme", ["", "file://"], ids=["plain", "file-uri"])
def test_run_resume_and_catchup(spark, tmp_path, scheme):
    # the base path may be a plain path or any Hadoop-compatible URI: the
    # landed metrics must count the same either way
    d, ids = _archive_dir(tmp_path)
    base = scheme + str(tmp_path / "out")

    s1 = write_warc_run(spark, str(d), base, "r1")
    assert len(s1["processed"]) == 3 and s1["skipped"] == []
    n200 = sum(1 for i in ids if synth_response_for(i)[0] == 200)
    n_media = sum(1 for i in ids if synth_media_for(i) is not None)
    assert s1["docs"] == n200
    # heading + paragraph per 200-page, plus its interleaved page asset
    assert s1["spans"] == 2 * n200 + n_media
    assert s1["errors"] == 0

    # no-op resume: nothing re-read, nothing re-written
    s2 = write_warc_run(spark, str(d), base, "r1")
    assert s2["processed"] == [] and len(s2["skipped"]) == 3

    # incremental catch-up: a new archive lands, only it is processed
    new_ids = ["late_0", "late_1"]
    (d / "part-00099.warc").write_bytes(build_warc(new_ids, gz=False))
    s3 = write_warc_run(spark, str(d), base, "r1")
    assert s3["processed"] == ["part-00099.warc"]

    # landed spans cover ALL archives, value-correct per doc
    spans = spark.read.parquet(os.path.join(base, "spans"))
    rows = spans.filter(spans.kind != "error").collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(r)
    for doc_id in ids + new_ids:
        status, _ = synth_response_for(doc_id)
        url = synth_url(doc_id)
        if status != 200:
            assert url not in by_doc
            continue
        h = hashlib.md5(f"{doc_id}:warc".encode()).hexdigest()
        got = sorted(by_doc[url], key=lambda r: r.offset)
        want = [
            f"Doc {doc_id} crawl report",
            f"Paragraph {h[:12]} for {doc_id} retains sixteen deterministic "
            "tokens covering corpus fetch parse extract verify stages end "
            "to end.",
        ]
        if synth_media_for(doc_id) is not None:
            want.append("")  # interleaved page asset, in reading order
            assert got[-1].kind == "media"
        assert [r.text for r in got] == want

    # lineage: one ok row per archive with consistent metrics
    lin = spark.read.parquet(os.path.join(base, "lineage")).collect()
    assert {r.archive for r in lin} == {
        "part-00000.warc", "part-00001.warc.gz", "part-00002.warc",
        "part-00099.warc",
    }
    assert all(r.status == "ok" and r.run_id == "r1" for r in lin)
    all_media = sum(
        1 for i in ids + new_ids if synth_media_for(i) is not None
    )
    assert sum(r.span_count for r in lin) == 2 * (n200 + len(new_ids)) + all_media


def _packaged_model() -> bytes:
    import importlib.resources as res

    return (res.files("learnhtml_spark") / "artifacts" / "model.npz").read_bytes()


def landed_counts(spark, base, key):
    """{key: (distinct docs with a non-error row, non-error rows, error
    rows)} recounted from the landed ``<base>/spans``."""
    from pyspark.sql import functions as F

    is_error = F.col("kind") == "error"
    out = spark.read.parquet(os.path.join(base, "spans")).groupBy(key).agg(
        F.countDistinct(F.when(~is_error, F.col("doc_id"))),
        F.sum((~is_error).cast("long")),
        F.sum(is_error.cast("long")),
    )
    return {r[0]: tuple(r[1:]) for r in out.collect()}


@pytest.mark.parametrize("verdict", ["heuristic", "model"])
def test_poison_archive_is_lineage_error_count(spark, tmp_path, verdict):
    from learnhtml_spark.sources.warc_source import build_record, http_response

    # both verdicts share one error-row contract: a corrupt archive is an
    # error row in its lineage, never a silent "ok" with zero docs
    model_bytes = _packaged_model() if verdict == "model" else None
    d, ids = _archive_dir(tmp_path, n_files=2)
    (d / "bad.warc.gz").write_bytes(b"\x1f\x8b\x08\x00not-really-gzip")
    # an archive whose last record is truncated
    cut = build_record("response", {"WARC-Target-URI": "u"},
                       http_response(200, "OK", "text/html", b"x" * 50))[:-30]
    (d / "part-00002.warc").write_bytes(build_warc(["t0", "t1", "t2"], False) + cut)
    base = str(tmp_path / "out")
    # interrupted after two archives, then resumed, then a no-op
    s = write_warc_run(spark, str(d), base, "r1", model_bytes=model_bytes,
                       max_archives_per_call=2)
    assert len(s["processed"]) == 2 and s["errors"] == 1
    s2 = write_warc_run(spark, str(d), base, "r1", model_bytes=model_bytes)
    assert s2["processed"] == ["part-00001.warc.gz", "part-00002.warc"]
    assert s2["errors"] == 1
    s3 = write_warc_run(spark, str(d), base, "r1", model_bytes=model_bytes)
    assert s3["processed"] == [] and len(s3["skipped"]) == 4
    lin = {
        r.archive: r
        for r in spark.read.parquet(os.path.join(base, "lineage")).collect()
    }
    assert lin["bad.warc.gz"].error_count == 1
    assert lin["bad.warc.gz"].doc_count == 0
    assert lin["part-00000.warc"].error_count == 0
    assert lin["part-00002.warc"].error_count == 1
    # every lineage row's counts equal a recount of the landed rows
    landed = landed_counts(spark, base, "archive")
    assert sorted(lin) == sorted(landed)
    for name, r in lin.items():
        assert (r.doc_count, r.span_count, r.error_count) == landed[name], name
    assert sum(r.doc_count for r in lin.values()) == s["docs"] + s2["docs"]


def test_max_archives_batching(spark, tmp_path):
    d, _ = _archive_dir(tmp_path, n_files=4)
    base = str(tmp_path / "out")
    s1 = write_warc_run(spark, str(d), base, "r1", max_archives_per_call=3)
    assert len(s1["processed"]) == 3
    s2 = write_warc_run(spark, str(d), base, "r1", max_archives_per_call=3)
    assert len(s2["processed"]) == 1 and len(s2["skipped"]) == 3


def test_classifier_extractor_path(spark, tmp_path):
    d, ids = _archive_dir(tmp_path, n_files=2)
    base = str(tmp_path / "out")
    model_bytes = _packaged_model()
    s = write_warc_run(spark, str(d), base, "r1", model_bytes=model_bytes)
    assert len(s["processed"]) == 2 and s["errors"] == 0
    spans = spark.read.parquet(os.path.join(base, "spans"))
    rows = spans.collect()
    n200 = sum(1 for i in ids if synth_response_for(i)[0] == 200)
    # archive/doc keys unpacked correctly; no error rows; media carried
    assert {r.archive for r in rows} <= {"part-00000.warc", "part-00001.warc.gz"}
    assert all(r.kind in ("text", "media") for r in rows)
    urls = {r.doc_id for r in rows}
    assert urls <= {synth_url(i) for i in ids}
    media = [r for r in rows if r.kind == "media"]
    n_media = sum(1 for i in ids if synth_media_for(i) is not None)
    assert len(media) == n_media
    # resume works identically on the classifier path
    s2 = write_warc_run(spark, str(d), base, "r1", model_bytes=model_bytes)
    assert s2["processed"] == [] and len(s2["skipped"]) == 2
    assert n200 > 0
