"""Benchmark entry point.

    python3 perfbench/run.py --workload extract_resume --seed 1 --seconds 20 --trace 0

Run from the repository root.  Generates the workload's inputs from the
seed (into ``.perfbench_work/`` under the current directory), starts a
``local[<cores>]`` Spark session, warms it up with one call of the
workload's function, times about ``--seconds`` of the workload's
lifecycles, checks the outputs and prints one JSON object as the last line
of stdout.  ``--trace 0`` reports the end-to-end metrics; ``--trace 1``
makes a separate traced run that reports every per-layer metric and writes
its spans to ``.perfbench_out/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import uuid

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)


def _session(work: str, cores: int, event_log: str | None):
    from pyspark.sql import SparkSession

    b = (SparkSession.builder.master(f"local[{cores}]")
         .appName("perfbench")
         .config("spark.driver.memory", "2g")
         .config("spark.driver.extraJavaOptions",
                 f"-Djava.io.tmpdir={work}/tmp -Dderby.system.home={work}/tmp")
         .config("spark.local.dir", f"{work}/spark-local")
         .config("spark.sql.warehouse.dir", f"{work}/warehouse")
         .config("spark.ui.enabled", "false")
         .config("spark.ui.showConsoleProgress", "false")
         .config("spark.sql.shuffle.partitions", str(2 * cores))
         .config("spark.sql.adaptive.enabled", "true")
         .config("spark.sql.session.timeZone", "UTC")
         .config("spark.sql.execution.arrow.pyspark.enabled", "true")
         .config("spark.sql.execution.arrow.maxRecordsPerBatch", "512")
         .config("spark.sql.files.maxPartitionBytes", str(256 * 1024))
         .config("spark.sql.files.openCostInBytes", "0"))
    if event_log:
        b = (b.config("spark.eventLog.enabled", "true")
             .config("spark.eventLog.dir", f"file://{event_log}")
             .config("spark.eventLog.compress", "false")
             .config("spark.eventLog.rolling.enabled", "false"))
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop_jvm(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if proc is None:
        return
    try:
        gw.shutdown()
    except Exception:  # noqa: BLE001 — the JVM may already be gone
        pass
    if proc.stdin:
        proc.stdin.close()  # the gateway exits when its stdin closes
    try:
        proc.wait(timeout=30)
    except Exception:  # noqa: BLE001
        proc.kill()
        proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def setup(wl, args, work, cores, event_log):
    """One cold set-up: JVM and session start, input generation and the
    warm-up call, which pays the session's first-call costs."""
    t0 = time.perf_counter()
    spark = _session(work, cores, event_log)
    t1 = time.perf_counter()
    root = os.path.join(work, "inputs")
    os.makedirs(root)
    inp = wl.generate(spark, args.seed, root)
    t2 = time.perf_counter()
    wl.warmup(spark, inp)
    t3 = time.perf_counter()
    return spark, inp, {"session_s": t1 - t0, "generate_s": t2 - t1,
                        "warmup_s": t3 - t2, "setup_s": t3 - t0}


def timed(spark, wl, inp, seconds):
    """About ``seconds`` of lifecycles; -> (metrics, lifecycles, info).

    The count is fixed by ``seconds`` and the workload's nominal
    lifecycle time, not by the clock: calls keep getting faster over the
    first few, so a count that shrank on a busy machine would also time
    colder calls."""
    import procstat
    from tracing import Tracer, status_counts

    off = Tracer(enabled=False)
    n = max(1, round(seconds / wl.lifecycle_s))
    with procstat.Window() as win:
        lcs = [wl.lifecycle(spark, inp, off, f"{wl.name}.{i}") for i in range(n)]
    docs = sum(lc["docs"] for lc in lcs)
    wall = sum(sum(lc["walls"]) for lc in lcs)
    # the median lifecycle: one slow lifecycle on a busy machine moves it little
    rate = statistics.median(lc["docs"] / sum(lc["walls"]) for lc in lcs)
    calls = sum(len(lc["walls"]) for lc in lcs)
    failed = sum(lc["failed"] for lc in lcs)
    st = status_counts(spark, [g for lc in lcs for g in lc["groups"]])
    m = {
        "docs_per_s": rate,
        "ok_frac": 1.0 - (st["failed_tasks"] + failed) / (st["tasks"] + calls),
    }
    info = {"lifecycles": len(lcs), "calls": calls, "failed_calls": failed,
            "walls_s": [[round(w, 3) for w in lc["walls"]] for lc in lcs],
            "timed_wall_s": wall, "cpu_s_per_kdoc": win.cpu_s / docs * 1000.0,
            "spark": st,
            "failed_frac": 1.0 - m["ok_frac"],
            "peak_rss_mb": win.peak_mb, "jvm_peak_mb": win.jvm_peak_mb,
            "python_workers_peak_mb": win.python_workers_peak_mb}
    return m, lcs, info


def traced(spark, wl, inp, args, work):
    """The traced run: every layer's ladder or ledger, and the output
    checks of each workload it ran; -> (tracer, inputs, raw, fails)."""
    import layers
    import workloads as W
    from tracing import Tracer

    tracer = Tracer(enabled=True)
    inputs = {wl.name: inp}
    for name, other in W.WORKLOADS.items():
        if name not in inputs:
            root = os.path.join(work, f"inputs-{name}")
            os.makedirs(root)
            with tracer.span(f"setup.{name}"):
                inputs[name] = other.generate(spark, args.seed, root)
                # keep every layer's first-call costs out of its figures
                other.warmup(spark, inputs[name])
    raw = layers.measure(spark, inputs, tracer, wl.name)
    fails = []
    for name, inp_w in inputs.items():
        with tracer.span(f"check.{name}"):
            fails += W.WORKLOADS[name].check(spark, inp_w, raw[f"lc.{name}"])
    return tracer, inputs, raw, fails


def main(argv=None) -> int:
    if os.environ.get("PYTHONHASHSEED") != "0":
        # string hashing (set and dict order) must not differ between runs
        # of one seed: restart the interpreter with a fixed hash seed
        os.environ["PYTHONHASHSEED"] = "0"
        os.execv(sys.executable, [sys.executable, os.path.abspath(__file__), *sys.argv[1:]])
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    # the program under test must be importable before anything starts
    import learnhtml_spark  # noqa: F401
    import workloads as W

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    names = sorted(w["name"] for w in bench["workloads"])
    if args.workload not in names:
        print(f"unknown workload {args.workload!r}; one of {names}", file=sys.stderr)
        return 2
    wl = W.WORKLOADS[args.workload]
    declared = {m["name"]: m["unit"]
                for m in bench["per_layer" if args.trace else "end_to_end"]}
    cores = len(os.sched_getaffinity(0))
    work = os.path.join(os.getcwd(), ".perfbench_work", uuid.uuid4().hex[:12])
    for sub in ("tmp", "spark-local", "eventlog"):
        os.makedirs(os.path.join(work, sub))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    for v in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
        os.environ.setdefault(v, "1")

    spark = None
    try:
        spark, inp, setup_info = setup(
            wl, args, work, cores,
            os.path.join(work, "eventlog") if args.trace else None)
        props = wl.properties(inp)
        if args.trace:
            import layers
            from tracing import EventLog

            tracer, inputs, raw, fails = traced(spark, wl, inp, args, work)
            _stop_jvm(spark)  # flushes the event log
            spark = None
            metrics = layers.metrics(raw, EventLog(os.path.join(work, "eventlog")),
                                     inputs, setup_info, wl.name, cores)
            out_dir = os.path.join(os.getcwd(), ".perfbench_out")
            os.makedirs(out_dir, exist_ok=True)
            tracer.dump(os.path.join(
                out_dir, f"spans-{wl.name}-{args.seed}-{tracer.run_id}.jsonl"))
            lcs = [v for k, v in raw.items() if k.startswith("lc.")]
            calls = sum(len(lc["walls"]) for lc in lcs)
            failed = sum(lc["failed"] for lc in lcs)
        else:
            metrics, lcs, info = timed(spark, wl, inp, args.seconds)
            metrics["setup_s"] = setup_info["setup_s"]
            fails = [f for lc in lcs[:-1] for f in lc["errors"]]
            fails += wl.check(spark, inp, lcs[-1])
            calls, failed = info["calls"], info["failed_calls"]
            print(json.dumps({"info": info, "setup": setup_info}, default=str))
        print(json.dumps({"workload": wl.name, "seed": args.seed, "inputs": props}))
        if set(metrics) != set(declared):
            fails.append(f"metrics {sorted(set(metrics) ^ set(declared))} are not "
                         "both measured and declared in BENCHMARK.json")
        for k, v in metrics.items():
            print(f"{k:40s} {v:14.6g} {declared.get(k, '?')}")
        for f in fails:
            print(f"CHECK FAILED: {f}")
    finally:
        try:
            if spark is not None:
                _stop_jvm(spark)
        finally:
            shutil.rmtree(work, ignore_errors=True)

    result = {
        "correct": not fails,
        "attempted": max(calls, 1),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": declared.get(k, "?")}
                    for k, v in metrics.items()},
    }
    print(json.dumps(result))
    return 0 if not fails else 1


if __name__ == "__main__":
    sys.exit(main())
