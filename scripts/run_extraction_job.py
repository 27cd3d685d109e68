"""spark-submit entry point: extraction job over a docs table.

    spark-submit --py-files learnhtml_spark.zip \\
        scripts/run_extraction_job.py <input_docs_parquet> <output_base> \\
        [--run-id RUN] [--buckets N] [--model PATH]

The packaged module zip ships to executors via --py-files; the model
artifact rides inside the zip (learnhtml_spark/artifacts/model.npz) or is
passed with --model.  Output is the bucketed span table + lineage
(checkpoint-resume: re-submitting the same run-id processes only
unfinished buckets).
"""

import argparse
import sys


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("input")
    ap.add_argument("output_base")
    ap.add_argument("--run-id", default="run1")
    ap.add_argument("--buckets", type=int, default=64)
    ap.add_argument("--model", default=None)
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    spark = SparkSession.builder.appName("learnhtml-spark-extract").getOrCreate()

    # import AFTER the session exists so --py-files zips are importable
    from learnhtml_spark.exact_model import load_any_model
    from learnhtml_spark.sources.tables import write_extraction_run

    if args.model:
        model_bytes = open(args.model, "rb").read()
    else:
        import importlib.resources as res

        model_bytes = (
            res.files("learnhtml_spark") / "artifacts" / "model.npz"
        ).read_bytes()
    # validate the artifact before shipping it to every executor; either
    # kind loads (model.npz or the exact pipeline's exact.npz), as in
    # ``learnhtml extract --model``
    load_any_model(model_bytes)

    docs = spark.read.parquet(args.input)
    summary = write_extraction_run(
        docs, model_bytes, args.output_base, args.run_id, num_buckets=args.buckets
    )
    print(
        f"run_id={args.run_id} processed={len(summary['processed_buckets'])} "
        f"skipped={len(summary['skipped_buckets'])} docs={summary['docs']} "
        f"spans={summary['spans']}"
    )
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
