"""The three benchmark workloads.

Each workload generates its inputs from a seed, warms up, runs its timed
lifecycle (the calls whose wall time the end-to-end metrics measure), and
checks the program's outputs.  ``warmup`` is one call of the workload's own
function, so the session's one-off first-call costs (several times a warm
call's) fall in set-up, not in the timed calls.  A lifecycle always writes
to a fresh output base with a fresh ``run_id``, so resume state never leaks
between runs.
"""

from __future__ import annotations

import os
import time
import uuid

import pyarrow as pa
from pyspark.sql import functions as F

import checks
import gen
from tracing import job_group

#: buckets of the extraction run; the interrupted call takes half of them
N_BUCKETS = 16
#: ``spark.sql.execution.arrow.maxRecordsPerBatch`` of the benchmark session
ARROW_BATCH = 512
SAMPLE = 40


def model_bytes() -> bytes:
    import learnhtml_spark

    path = os.path.join(os.path.dirname(learnhtml_spark.__file__),
                        "artifacts", "model.npz")
    with open(path, "rb") as f:
        return f.read()


def _fresh(root: str, name: str) -> str:
    path = os.path.join(root, f"{name}-{uuid.uuid4().hex[:8]}")
    os.makedirs(path)
    return path


def _timed(spark, tracer, span: str, group: str, fn, out: dict):
    """Run one timed call: wall time into ``out['walls']``, a raised call
    into ``out['failed']``; returns the call's result or None."""
    out["groups"].append(group)
    t0 = time.perf_counter()
    try:
        with tracer.span(span), job_group(spark, group):
            return fn()
    except Exception as exc:  # noqa: BLE001 — a failed call is counted, not fatal
        out["failed"] += 1
        out["errors"].append(f"{span}: {type(exc).__name__}: {exc}"[:300])
        return None
    finally:
        out["walls"].append(time.perf_counter() - t0)


def noop_sink(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _slice(docs, k: int):
    """About 1/k of ``docs``, picked by a hash of the doc id."""
    return docs.filter(F.xxhash64("doc_id") % k == 0)


#: Arrow form of ``learnhtml_spark.schemas.DOCS``
DOCS_ARROW = pa.schema([
    pa.field("doc_id", pa.string(), nullable=False),
    ("spans", pa.list_(pa.struct([("kind", pa.string()), ("text", pa.string()),
                                  ("media_ref", pa.string()),
                                  ("offset", pa.int32())]))),
])


def _new_lifecycle(n_docs: int) -> dict:
    return {"docs": n_docs, "walls": [], "groups": [], "failed": 0,
            "errors": [], "results": []}


class ExtractResume:
    """``learnhtml extract --resume-base``: interrupted, resumed and no-op
    ``write_extraction_run`` calls over a spans table of unique pages."""

    name = "extract_resume"
    #: sized so that one lifecycle fills ``run_seconds`` and the traced run
    #: stays well inside its time limit; the fused extraction stage is
    #: about 40% of the lifecycle (the sink's per-call cost is mostly
    #: fixed, so its share falls as the corpus grows)
    n_docs = 8000
    #: seconds of one lifecycle at 4 cores (10-17 s as the machine's speed varied)
    lifecycle_s = 16.0

    def generate(self, spark, seed: int, root: str) -> dict:
        from learnhtml_spark.corpus import synthesize_docs_pdf

        docs = gen.documents(seed, self.n_docs, lo=20, scale=40.0, cap=3000)
        malformed = gen.malformed_ids(seed, docs["doc_id"])
        # the per-batch transform of corpus.synthesize_docs, run in-process
        spans = synthesize_docs_pdf(docs[["doc_id", "text", "lang", "source"]])
        bad = set(malformed)
        # a null offset makes the span sort raise inside the kernel: the
        # document must come back as one auditable error row
        spans["spans"] = [
            [dict(s, offset=None) if s["offset"] == 2 else s for s in sp]
            if d in bad else sp
            for d, sp in zip(spans["doc_id"], spans["spans"])]
        path = os.path.join(root, "spans_table")
        gen.write_parquet(spans, DOCS_ARROW, path, 4 * _cores(spark))
        sample = gen.sample_ids(seed, docs["doc_id"], SAMPLE, exclude=malformed)
        return {"path": path, "docs_pdf": docs, "malformed": malformed,
                "sample": sample, "model": model_bytes(), "root": root}

    def frame(self, spark, inp):
        from learnhtml_spark.schemas import DOCS

        return spark.read.schema(DOCS).parquet(inp["path"])

    def warmup(self, spark, inp) -> None:
        from learnhtml_spark.sources.tables import write_extraction_run

        # an eighth of the corpus: after a call on a much smaller slice the
        # first timed call still ran about a sixth slower than later ones
        write_extraction_run(_slice(self.frame(spark, inp), 8), inp["model"],
                             _fresh(inp["root"], "warm"), "warm", 2)

    def lifecycle(self, spark, inp, tracer, tag: str) -> dict:
        from learnhtml_spark.sources.tables import write_extraction_run

        docs = self.frame(spark, inp)
        base, run_id = _fresh(inp["root"], "run"), uuid.uuid4().hex
        out = _new_lifecycle(self.n_docs)
        out["base"], out["run_id"] = base, run_id
        for call, kw in (("interrupted", {"max_buckets_per_call": N_BUCKETS // 2}),
                         ("resume", {}), ("noop", {})):
            res = _timed(spark, tracer, f"tables.{call}_call", f"{tag}.{call}",
                         lambda kw=kw: write_extraction_run(
                             docs, inp["model"], base, run_id, N_BUCKETS, **kw),
                         out)
            out["results"].append(res)
        return out

    def check(self, spark, inp, lc) -> list[str]:
        from learnhtml_spark.corpus import expected_extraction
        from learnhtml_spark.sources.tables import read_lineage

        fails = list(lc["errors"])
        done = sum(r["docs"] for r in lc["results"] if r)
        if done != self.n_docs:
            fails.append(f"extract: calls reported {done} docs of {self.n_docs}")
        lineage = (read_lineage(spark, lc["base"])
                   .filter(F.col("run_id") == lc["run_id"]).toPandas())
        out = spark.read.parquet(os.path.join(lc["base"], "spans"))
        error_ids = [r.doc_id for r in
                     out.filter(F.col("kind") == "error").select("doc_id").collect()]
        sample_rows = [tuple(r) for r in out.filter(F.col("doc_id").isin(inp["sample"]))
                       .select("doc_id", "kind", "text", "media_ref", "offset")
                       .collect()]
        pdf = inp["docs_pdf"]
        expected = expected_extraction(pdf[pdf["doc_id"].astype(str).isin(inp["sample"])])
        return fails + checks.check_extract(lineage, self.n_docs, N_BUCKETS, error_ids,
                                            inp["malformed"], sample_rows, expected)

    def properties(self, inp) -> dict:
        pdf = inp["docs_pdf"]
        return {"docs": len(pdf), "malformed": len(inp["malformed"]),
                "text_chars": gen.size_quantiles(pdf["n_chars"])}


class CrawlResume:
    """Crawl ingest: interrupted, resumed and no-op ``write_warc_run``
    calls with the packaged model over seeded ``.warc``/``.warc.gz``."""

    name = "crawl_resume"
    n_archives = 16
    pages_per_archive = 40

    def generate(self, spark, seed: int, root: str) -> dict:
        warc_dir = os.path.join(root, "warcs")
        truth = gen.write_archives(seed, warc_dir, self.n_archives,
                                   self.pages_per_archive, id_base=10**7)
        urls = sorted(truth["pages"])
        rng = gen._rng(seed, "crawl-sample")
        sample = sorted(urls[i] for i in rng.choice(len(urls), SAMPLE, replace=False))
        return {"dir": warc_dir, "truth": truth, "sample": sample,
                "model": model_bytes(), "root": root,
                "n_docs": self.n_archives * self.pages_per_archive}

    def warmup(self, spark, inp) -> None:
        from learnhtml_spark.sources.warc_run import write_warc_run

        write_warc_run(spark, inp["dir"], _fresh(inp["root"], "warm"), "warm",
                       max_archives_per_call=2, model_bytes=inp["model"])

    def lifecycle(self, spark, inp, tracer, tag: str) -> dict:
        from learnhtml_spark.sources.warc_run import write_warc_run

        base, run_id = _fresh(inp["root"], "run"), uuid.uuid4().hex
        out = _new_lifecycle(inp["n_docs"])
        out["base"], out["run_id"] = base, run_id
        for call, kw in (("interrupted", {"max_archives_per_call": self.n_archives // 2}),
                         ("resume", {}), ("noop", {})):
            res = _timed(spark, tracer, f"warc_run.{call}_call", f"{tag}.{call}",
                         lambda kw=kw: write_warc_run(
                             spark, inp["dir"], base, run_id,
                             model_bytes=inp["model"], **kw),
                         out)
            out["results"].append(res)
        return out

    def check(self, spark, inp, lc) -> list[str]:
        from learnhtml_spark.sources.warc_run import _read_lineage

        truth = inp["truth"]
        lineage = (_read_lineage(spark, lc["base"])
                   .filter(F.col("run_id") == lc["run_id"]).toPandas())
        out = spark.read.parquet(os.path.join(lc["base"], "spans"))
        sample_rows = [tuple(r) for r in out.filter(F.col("doc_id").isin(inp["sample"]))
                       .select("doc_id", "kind", "text", "media_ref", "offset")
                       .collect()]
        return list(lc["errors"]) + checks.check_crawl(
            [r["processed"] for r in lc["results"] if r], truth["archives"],
            lineage, len(truth["pages"]), sample_rows,
            {u: truth["pages"][u] for u in inp["sample"]})

    def properties(self, inp) -> dict:
        t = inp["truth"]
        sizes = [os.path.getsize(os.path.join(inp["dir"], a)) for a in t["archives"]]
        return {"docs": inp["n_docs"], "pages_200": len(t["pages"]),
                "pages_404": t["n_404"], "image_records": t["n_images"],
                "archives": len(t["archives"]),
                "archives_gz": sum(a.endswith(".gz") for a in t["archives"]),
                "page_words": gen.size_quantiles(t["page_words"]),
                "archive_bytes": gen.size_quantiles(sizes)}


class DedupKeepers:
    """Corpus cleaning: ``cluster_keepers`` over singletons plus planted
    near-duplicate chains."""

    name = "dedup_keepers"
    lifecycle_s = 5.0
    n_singletons = 2000
    n_chains = 150

    def generate(self, spark, seed: int, root: str) -> dict:
        corpus = gen.dedup_corpus(seed, self.n_singletons, self.n_chains)
        path = os.path.join(root, "dedup_docs")
        gen.write_parquet(corpus[["doc_id", "text", "n_chars"]], None, path,
                          _cores(spark))
        return {"path": path, "corpus": corpus, "root": root,
                "n_docs": len(corpus)}

    def frame(self, spark, inp):
        return spark.read.schema("doc_id long, text string, n_chars long") \
            .parquet(inp["path"])

    def warmup(self, spark, inp) -> None:
        from learnhtml_spark.functions.dedup import cluster_keepers

        # the full corpus: a call on a slice cost as much (the first
        # call's cost is mostly fixed) and left the next full call colder
        cluster_keepers(self.frame(spark, inp)).toPandas()

    def lifecycle(self, spark, inp, tracer, tag: str) -> dict:
        from learnhtml_spark.functions.dedup import cluster_keepers

        out = _new_lifecycle(inp["n_docs"])
        docs = self.frame(spark, inp)
        # collected (a few thousand rows) rather than sent to a noop sink,
        # so the checked output is the timed call's own
        res = _timed(spark, tracer, "dedup.cluster_keepers",
                     f"{tag}.cluster_keepers",
                     lambda: cluster_keepers(docs).toPandas(), out)
        out["results"].append(res)
        return out

    def check(self, spark, inp, lc) -> list[str]:
        out = lc["results"][0]
        if out is None:
            return list(lc["errors"])
        print(f"dedup recall {checks.dedup_recall(out, inp['corpus']):.4f}")
        return list(lc["errors"]) + checks.check_dedup(out, inp["corpus"])

    def properties(self, inp) -> dict:
        c = inp["corpus"]
        return {"docs": len(c), "singletons": int((c["chain"] < 0).sum()),
                "planted_chains": int(c.loc[c["chain"] >= 0, "chain"].nunique()),
                "text_chars": gen.size_quantiles(c["n_chars"]),
                "cluster_size_hist": gen.cluster_size_hist(c["chain"])}


WORKLOADS = {w.name: w for w in (ExtractResume(), CrawlResume(), DedupKeepers())}


def _cores(spark) -> int:
    return spark.sparkContext.defaultParallelism
