"""Spans around the benchmark's calls into each layer, and Spark's own
accounting of the jobs those calls ran.

A ``Tracer`` records (id, name, start, end, parent, run_id) per span in
memory; ``dump`` writes them out when the run ends.  Self time is a span's
duration minus the part of it that its child spans cover.  With tracing
off, ``span`` is a no-op context, so timed runs pay nothing for it.

Spark metrics come from the event log the traced session writes: jobs are
attributed to the job group the benchmark sets around each call.
"""

from __future__ import annotations

import contextlib
import json
import os
import time
import uuid


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        rec = {"id": len(self.spans), "name": name,
               "parent": self._stack[-1] if self._stack else None,
               "run_id": self.run_id, "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def dump(self, path: str) -> None:
        selfs = self_times(self.spans)
        with open(path, "w") as f:
            for rec in self.spans:
                f.write(json.dumps({**rec, "self_s": selfs[rec["id"]]}) + "\n")


def self_times(spans: list[dict]) -> dict[int, float]:
    """{span id: duration minus the union of its children's intervals}."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out = {}
    for s in spans:
        covered, cur_lo, cur_hi = 0.0, None, None
        for lo, hi in sorted(kids.get(s["id"], ())):
            lo, hi = max(lo, s["start"]), min(hi, s["end"])
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s["id"]] = (s["end"] - s["start"]) - covered
    return out


@contextlib.contextmanager
def job_group(spark, group: str):
    """Attribute the Spark jobs run inside the block to ``group``."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        yield
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)


def status_counts(spark, groups) -> dict:
    """Jobs, stages, tasks and failed tasks of job ``groups``, from the
    status tracker (available with or without the event log)."""
    st = spark.sparkContext.statusTracker()
    out = {"jobs": 0, "stages": 0, "tasks": 0, "failed_tasks": 0}
    for g in groups:
        for jid in st.getJobIdsForGroup(g):
            out["jobs"] += 1
            info = st.getJobInfo(jid)
            for sid in (info.stageIds if info else ()):
                stage = st.getStageInfo(sid)
                if stage is None:
                    continue
                out["stages"] += 1
                out["tasks"] += stage.numTasks
                out["failed_tasks"] += stage.numFailedTasks
    return out


class EventLog:
    """Task-level accounting per job group, parsed from a Spark event log."""

    def __init__(self, log_dir: str):
        self.tasks: dict[str, list[dict]] = {}
        self.jobs: dict[str, set[int]] = {}
        self.stages: dict[str, set[int]] = {}
        stage_group: dict[int, str] = {}
        for name in sorted(os.listdir(log_dir)):
            with open(os.path.join(log_dir, name)) as f:
                for line in f:
                    ev = json.loads(line)
                    kind = ev.get("Event")
                    if kind == "SparkListenerJobStart":
                        g = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                        if g is None:
                            continue
                        self.jobs.setdefault(g, set()).add(ev["Job ID"])
                        for sid in ev.get("Stage IDs", ()):
                            stage_group[sid] = g
                    elif kind == "SparkListenerTaskEnd":
                        g = stage_group.get(ev["Stage ID"])
                        if g is None:
                            continue
                        self.stages.setdefault(g, set()).add(ev["Stage ID"])
                        self.tasks.setdefault(g, []).append(_task(ev))

    def summary(self, groups) -> dict:
        tasks = [t for g in groups for t in self.tasks.get(g, ())]
        durs = sorted(t["run_s"] for t in tasks)

        def q(p):
            return durs[min(len(durs) - 1, int(p * len(durs)))] if durs else 0.0

        return {
            "jobs": sum(len(self.jobs.get(g, ())) for g in groups),
            "stages": sum(len(self.stages.get(g, ())) for g in groups),
            "tasks": len(tasks),
            "failed_tasks": sum(t["failed"] for t in tasks),
            "task_s_p50": q(0.5),
            "task_s_p90": q(0.9),
            "run_s": sum(durs),
            "gc_s": sum(t["gc_s"] for t in tasks),
            "input_mb": sum(t["input_b"] for t in tasks) / 2**20,
            "output_mb": sum(t["output_b"] for t in tasks) / 2**20,
            "shuffle_write_mb": sum(t["shuffle_b"] for t in tasks) / 2**20,
        }


def _task(ev: dict) -> dict:
    m = ev.get("Task Metrics") or {}
    info = ev.get("Task Info") or {}
    return {
        "run_s": m.get("Executor Run Time", 0) / 1000.0,
        "gc_s": m.get("JVM GC Time", 0) / 1000.0,
        "input_b": (m.get("Input Metrics") or {}).get("Bytes Read", 0),
        "output_b": (m.get("Output Metrics") or {}).get("Bytes Written", 0),
        "shuffle_b": (m.get("Shuffle Write Metrics") or {}).get(
            "Shuffle Bytes Written", 0),
        "failed": int(bool(info.get("Failed")) or bool(info.get("Killed"))),
    }
