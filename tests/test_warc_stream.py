"""Streaming WARC ingestion: stream == batch row equality, exactly-once
checkpoint resume, and incremental catch-up of newly landed archives."""

import os
import sys

sys.path.insert(0, os.path.dirname(__file__))

from learnhtml_spark.sources.warc_run import warc_spans_fused
from learnhtml_spark.sources.warc_source import build_warc
from learnhtml_spark.streaming.warc_stream import run_available_now


def _rows(df):
    return sorted(
        (r.archive, r.doc_id, r.kind, r.text, r.media_ref, r.offset)
        for r in df.collect()
    )


def test_stream_equals_batch(spark, tmp_path):
    d = tmp_path / "warc"
    d.mkdir()
    (d / "a.warc").write_bytes(build_warc([f"s{i}" for i in range(6)], False))
    (d / "b.warc.gz").write_bytes(build_warc([f"t{i}" for i in range(6)], True))

    streamed = run_available_now(
        spark, str(d), str(tmp_path / "sink"), str(tmp_path / "ckpt")
    )
    batch = warc_spans_fused(
        spark.read.format("binaryFile").load(str(d)).select("path", "content")
    )
    assert _rows(streamed) == _rows(batch)


def test_checkpoint_resume_and_catchup(spark, tmp_path):
    d = tmp_path / "warc"
    d.mkdir()
    (d / "a.warc").write_bytes(build_warc(["u1", "u2"], False))
    sink, ckpt = str(tmp_path / "sink"), str(tmp_path / "ckpt")

    first = _rows(run_available_now(spark, str(d), sink, ckpt))
    assert first

    # no-op restart: the checkpoint remembers every processed archive
    again = _rows(run_available_now(spark, str(d), sink, ckpt))
    assert again == first

    # catch-up: a new archive lands; only its rows are appended
    (d / "b.warc").write_bytes(build_warc(["u3", "u4"], False))
    third = _rows(run_available_now(spark, str(d), sink, ckpt))
    new = [r for r in third if r not in first]
    assert len(third) == len(first) + len(new) and new
    assert all(r[0] == "b.warc" for r in new)
