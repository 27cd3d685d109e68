"""Per-layer metrics of the traced run.

Every layer is measured from outside the program: by timing calls into
its public functions (in a span, under a Spark job group) and by reading
Spark's event log and ``/proc``.  ``measure`` runs each layer's ladder or
ledger once and returns raw timings; ``metrics`` turns them, together
with the parsed event log, into the per-layer metrics keyed by name.
"""

from __future__ import annotations

import gzip
import os
import time

import numpy as np
import pandas as pd

import ledger
import procstat
import workloads as W
from tracing import Tracer, job_group

LEDGER_DOCS = 1024
LEDGER_ARCHIVES = 8
#: untraced/traced pairs of no-op calls for the tracing overhead
OVERHEAD_PAIRS = 10


def _ladder_step(spark, tracer, raw: dict, name: str, fn) -> None:
    """Time ``fn`` in a span under job group ``ladder.<name>``."""
    t0 = time.perf_counter()
    with tracer.span(name), job_group(spark, f"ladder.{name}"):
        fn()
    raw[name] = time.perf_counter() - t0


def _table_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, files in os.walk(path) for f in files
               if f.endswith(".parquet"))


def _files(path: str) -> int:
    return sum(f.endswith(".parquet")
               for _, _, files in os.walk(path) for f in files)


def kernel_ledger(inputs: dict, tracer: Tracer, raw: dict) -> None:
    """Single-process kernel ledger on seeded samples of extract_resume's
    spans table and crawl_resume's archives."""
    from learnhtml_spark.exact_model import load_any_model
    from learnhtml_spark.sources.warc_source import assemble_interleaved, parse_warc

    clf = load_any_model(W.model_bytes())
    ex = inputs["extract_resume"]
    pdf = pd.read_parquet(ex["path"])
    rng = np.random.default_rng(len(pdf))
    pick = np.sort(rng.choice(len(pdf), size=min(LEDGER_DOCS, len(pdf)), replace=False))
    docs = [(d, [dict(s) for s in spans] if spans is not None else [])
            for d, spans in zip(pdf["doc_id"].iloc[pick], pdf["spans"].iloc[pick])]
    ledger.run_kernel(docs[:64], clf, W.ARROW_BATCH)  # first-call costs
    with tracer.span("kernel.ledger.extract_resume"):
        _, t, counts = ledger.run_kernel(docs, clf, W.ARROW_BATCH)
    raw["kernel"] = ledger.ledger_metrics(t, counts)

    cr = inputs["crawl_resume"]
    names = cr["truth"]["archives"][:LEDGER_ARCHIVES]
    parse_s = assemble_s = 0.0
    crawl_docs = []
    with tracer.span("warc_source.ledger"):
        for name in names:
            with open(os.path.join(cr["dir"], name), "rb") as f:
                data = f.read()
            t0 = time.perf_counter()
            if name.endswith(".gz"):
                data = gzip.decompress(data)
            records = parse_warc(data)
            t1 = time.perf_counter()
            docs_a, _ = assemble_interleaved(records)
            t2 = time.perf_counter()
            parse_s += t1 - t0
            assemble_s += t2 - t1
            crawl_docs.extend(docs_a)
    raw["warc_source.parse_ms_per_archive"] = 1000 * parse_s / len(names)
    raw["warc_source.assemble_ms_per_archive"] = 1000 * assemble_s / len(names)
    with tracer.span("kernel.ledger.crawl_resume"):
        _, t, counts = ledger.run_kernel(crawl_docs, clf, W.ARROW_BATCH)
    raw["kernel.crawl_total_ms_per_doc"] = ledger.ledger_metrics(t, counts)[
        "kernel.total_ms_per_doc"]


def extract_ladder(spark, inputs, tracer, raw) -> None:
    """scan → identity ``mapInPandas`` → fused extraction, each to a noop sink."""
    from learnhtml_spark.operators.extract import extract_content_spans
    from learnhtml_spark.schemas import DOCS

    ex = inputs["extract_resume"]
    docs = W.WORKLOADS["extract_resume"].frame(spark, ex)

    def identity(batches):
        yield from batches

    _ladder_step(spark, tracer, raw, "sources.scan_noop_s", lambda: W.noop_sink(docs))
    _ladder_step(spark, tracer, raw, "operators.arrow_identity_s",
                 lambda: W.noop_sink(docs.mapInPandas(identity, schema=DOCS)))
    _ladder_step(spark, tracer, raw, "operators.extract_noop_s",
                 lambda: W.noop_sink(extract_content_spans(docs, ex["model"])))


def dedup_ladder(spark, inputs, tracer, raw) -> None:
    """minhash → LSH band rows → clusters, each to a noop sink; the last
    rung, keepers, is the dedup_keepers lifecycle's own call."""
    from learnhtml_spark.functions import dedup

    wl = W.WORKLOADS["dedup_keepers"]
    docs = wl.frame(spark, inputs["dedup_keepers"])
    for name, fn in (("dedup.minhash_signatures_s", dedup.minhash_signatures),
                     ("dedup.lsh_band_rows_s", dedup.lsh_band_rows),
                     ("dedup.dup_clusters_s", dedup.dup_clusters)):
        _ladder_step(spark, tracer, raw, name, lambda fn=fn: W.noop_sink(fn(docs)))


def lifecycles(spark, inputs, tracer, raw, workload: str) -> None:
    """One traced lifecycle per workload; ``/proc`` window around the
    lifecycle of ``workload``."""
    from learnhtml_spark.sources.warc_run import completed_archives, list_archives

    for name in W.WORKLOADS:
        wl = W.WORKLOADS[name]
        win = procstat.Window()
        with win, tracer.span(f"lifecycle.{name}"):
            lc = wl.lifecycle(spark, inputs[name], tracer, f"traced.{name}")
        raw[f"lc.{name}"] = lc
        if name == workload:
            raw["window"] = win
    cr = inputs["crawl_resume"]
    with tracer.span("warc_run.list_archives"):
        t0 = time.perf_counter()
        list_archives(spark, cr["dir"])
        raw["warc_run.list_archives_s"] = time.perf_counter() - t0
    lc = raw["lc.crawl_resume"]
    with tracer.span("warc_run.completed_archives"):
        t0 = time.perf_counter()
        completed_archives(spark, lc["base"], lc["run_id"])
        raw["warc_run.completed_archives_s"] = time.perf_counter() - t0


def trace_overhead(spark, inputs, tracer, raw) -> None:
    """Interleaved untraced and traced no-op ``write_extraction_run`` calls
    on the completed extract run.  A span costs the same on any call, so
    the cheapest call of the lifecycle shows its share largest."""
    from learnhtml_spark.sources.tables import write_extraction_run

    ex, lc = inputs["extract_resume"], raw["lc.extract_resume"]
    docs = W.WORKLOADS["extract_resume"].frame(spark, ex)

    def noop_call():
        write_extraction_run(docs, ex["model"], lc["base"], lc["run_id"], W.N_BUCKETS)

    noop_call()  # the no-op path's own first call
    walls = {False: 0.0, True: 0.0}
    for i in range(OVERHEAD_PAIRS):
        # untraced-traced, then traced-untraced: in the sums, a steady
        # speed-up over the calls cancels
        for on in ((False, True), (True, False))[i % 2]:
            t0 = time.perf_counter()
            with (tracer if on else Tracer(enabled=False)).span("trace.overhead.noop_call"):
                noop_call()
            walls[on] += time.perf_counter() - t0
    # 1 - traced / untraced rate
    raw["trace.overhead_frac"] = 1.0 - walls[False] / walls[True]


def measure(spark, inputs, tracer, workload: str) -> dict:
    raw: dict = {}
    with tracer.span("layers"):
        kernel_ledger(inputs, tracer, raw)
        extract_ladder(spark, inputs, tracer, raw)
        dedup_ladder(spark, inputs, tracer, raw)
        lifecycles(spark, inputs, tracer, raw, workload)
        trace_overhead(spark, inputs, tracer, raw)
    return raw


def metrics(raw: dict, ev, inputs: dict, setup: dict, workload: str,
            cores: int) -> dict:
    """Per-layer metrics from the raw timings and the parsed event log."""
    m = dict(raw["kernel"])
    m["kernel.crawl_total_ms_per_doc"] = raw["kernel.crawl_total_ms_per_doc"]

    scan, ident, extract = (raw["sources.scan_noop_s"],
                            raw["operators.arrow_identity_s"],
                            raw["operators.extract_noop_s"])
    n_ex = len(inputs["extract_resume"]["docs_pdf"])
    m["sources.scan_noop_s"] = scan
    m["operators.arrow_identity_s"] = ident
    m["operators.extract_noop_s"] = extract
    m["operators.python_boundary_s"] = ident - scan
    m["operators.kernel_s"] = extract - ident
    m["kernel.ledger_coverage"] = (
        m["kernel.total_ms_per_doc"] / 1000.0 * n_ex / cores / max(extract - ident, 1e-9))

    lc = raw["lc.extract_resume"]
    for call, wall in zip(("interrupted", "resume", "noop"), lc["walls"]):
        m[f"tables.{call}_call_s"] = wall
    m["tables.sink_overhead_s"] = sum(lc["walls"]) - extract
    ex_sum = ev.summary(lc["groups"])
    table_b = _table_bytes(inputs["extract_resume"]["path"])
    m["tables.jobs"] = ex_sum["jobs"]
    m["tables.input_read_ratio"] = ex_sum["input_mb"] * 2**20 / table_b
    m["tables.bytes_written_per_input_byte"] = ex_sum["output_mb"] * 2**20 / table_b
    m["tables.files_written"] = _files(lc["base"])
    m["trace.overhead_frac"] = raw["trace.overhead_frac"]

    lc = raw["lc.crawl_resume"]
    m["warc_source.parse_ms_per_archive"] = raw["warc_source.parse_ms_per_archive"]
    m["warc_source.assemble_ms_per_archive"] = raw["warc_source.assemble_ms_per_archive"]
    m["warc_run.list_archives_s"] = raw["warc_run.list_archives_s"]
    m["warc_run.completed_archives_s"] = raw["warc_run.completed_archives_s"]
    for call, wall in zip(("interrupted", "resume", "noop"), lc["walls"]):
        m[f"warc_run.{call}_call_s"] = wall
    m["warc_run.jobs"] = ev.summary(lc["groups"])["jobs"]
    m["warc_run.files_written"] = _files(lc["base"])

    for name in ("minhash_signatures", "lsh_band_rows", "dup_clusters"):
        m[f"dedup.{name}_s"] = raw[f"dedup.{name}_s"]
    lc = raw["lc.dedup_keepers"]
    m["dedup.cluster_keepers_s"] = sum(lc["walls"])
    dd = ev.summary(lc["groups"])
    m["dedup.jobs"] = dd["jobs"]
    m["dedup.stages"] = dd["stages"]
    m["dedup.shuffle_write_mb"] = dd["shuffle_write_mb"]

    lc = raw[f"lc.{workload}"]
    sp = ev.summary(lc["groups"])
    m["spark.tasks"] = sp["tasks"]
    m["spark.task_s_p50"] = sp["task_s_p50"]
    m["spark.task_s_p90"] = sp["task_s_p90"]
    m["spark.busy_frac"] = sp["run_s"] / (sum(lc["walls"]) * cores)
    m["spark.gc_s"] = sp["gc_s"]
    m["spark.failed_tasks"] = sp["failed_tasks"]
    m["spark.input_mb"] = sp["input_mb"]
    m["spark.output_mb"] = sp["output_mb"]

    win = raw["window"]
    m["cpu.s_per_kdoc"] = win.cpu_s / lc["docs"] * 1000.0
    m["mem.peak_rss_mb"] = win.peak_mb
    m["mem.jvm_peak_mb"] = win.jvm_peak_mb
    m["mem.python_workers_peak_mb"] = win.python_workers_peak_mb

    m["setup.session_s"] = setup["session_s"]
    m["setup.generate_s"] = setup["generate_s"]
    m["setup.warmup_s"] = setup["warmup_s"]
    return m
