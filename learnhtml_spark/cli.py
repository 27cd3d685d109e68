"""Command-line surface (parity with the reference's click CLI:
`learnhtml dom/train/extract`, cli/script.py) re-expressed over the Spark
operators.  Run as ``python -m learnhtml_spark.cli <cmd> ...``.

Commands:
  extract   docs parquet (doc_id, spans) -> extracted span parquet
  features  docs parquet -> per-node feature parquet (reference `dom`)
  train     train the classifier from fixture + synthetic corpora
  label     dragnet/cleaneval dataset dir -> per-node label parquet
            (reference `convert`, cli/utils.py:50-80)
  extract-html  one HTML file -> content block texts on stdout
"""

from __future__ import annotations

import argparse
import os

DEFAULT_MODEL = os.path.join(
    os.path.dirname(os.path.abspath(__file__)), "artifacts", "model.npz"
)


def _session(cores: str):
    from pyspark.sql import SparkSession

    return (
        SparkSession.builder.master(f"local[{cores}]")
        .appName("learnhtml-spark-cli")
        .config("spark.sql.shuffle.partitions", "32")
        .getOrCreate()
    )


def cmd_extract(args):
    from learnhtml_spark.exact_model import load_any_model_path
    from learnhtml_spark.operators.extract import extract_content_spans
    from learnhtml_spark.sources.tables import write_extraction_run

    spark = _session(args.cores)
    docs = spark.read.parquet(args.input)
    # --model accepts either artifact kind: the hashed production model
    # (model.npz) or the exact-vectorizer pipeline (exact.npz,
    # scripts/train_exact_model.py — MODEL.md's measured-better config)
    model = load_any_model_path(args.model)
    if args.resume_base:
        summary = write_extraction_run(
            docs, model.to_bytes(), args.resume_base, args.run_id,
            num_buckets=args.buckets, depth=args.depth, height=args.height,
        )
        print(summary)
    else:
        out = extract_content_spans(
            docs, model, depth=args.depth, height=args.height,
            num_partitions=args.partitions,
        )
        out.write.mode("overwrite").parquet(args.output)
        print(f"wrote {args.output}")


def cmd_features(args):
    from learnhtml_spark.operators.extract import extract_node_features

    spark = _session(args.cores)
    docs = spark.read.parquet(args.input)
    out = extract_node_features(docs, depth=args.depth, height=args.height)
    out.write.mode("overwrite").parquet(args.output)
    print(f"wrote {args.output}")


#: reference param-file key -> engine fit-kwarg translation
#: (cli/script.py:85-109 + data/params/example.json).  Scalars pin a value
#: for every candidate; JSON lists become search distributions.  Keys with
#: no engine analog (e.g. sklearn pipeline internals like
#: union__classes__vectorize__estimator__use_idf) are warned and ignored,
#: so the reference's own example.json runs end-to-end.
_PARAM_ALIASES = {
    "reduce_dim__percentile": "chi2_percentile",
    "classify__n_estimators": "gbdt_rounds",
    "classify__max_depth": "gbdt_depth",
    "classify__C": "l2",  # inverse-reg strength analog
}
_FIT_PARAMS = {
    "lr", "l2", "epochs", "gbdt_rounds", "gbdt_depth", "chi2_percentile",
    "head", "seed",
}
_DATA_PARAMS = {"height", "depth", "blocks_only"}


def parse_train_params(params: dict):
    """Split a reference-schema param dict into (data_params, fixed_fit,
    distributions, ignored_keys).  ``blocks_only`` must be true: models
    train on the block rows serving predicts on."""
    data = {"height": 5, "depth": 5, "blocks_only": True}
    fixed, dists, ignored = {}, {}, []
    for key, val in params.items():
        k = _PARAM_ALIASES.get(key, key)
        if k in _DATA_PARAMS:
            data[k] = val[0] if isinstance(val, list) else val
        elif k in _FIT_PARAMS:
            if isinstance(val, list):
                dists[k] = val
            else:
                fixed[k] = val
        else:
            ignored.append(key)
    if not data.pop("blocks_only"):
        raise ValueError("blocks_only=false is not supported: serving "
                         "predicts on block-start rows only, with block stats")
    return data, fixed, dists, ignored


def cmd_train(args):
    """Reference `train` surface (cli/script.py:79-195): randomized search
    over a param-file/-p search space with grouped internal folds, optional
    nested-CV score files, and a refit-on-everything model artifact."""
    import json

    import numpy as np
    import pandas as pd

    from learnhtml_spark import selection
    from learnhtml_spark.model import NodeClassifier
    from learnhtml_spark.training import training_frames

    if args.legacy_full:
        import runpy

        repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        runpy.run_path(
            os.path.join(repo, "scripts", "train_model.py"),
            run_name="__main__",
        )
        return

    params = {}
    if args.param_file:
        with open(args.param_file) as fh:
            params = json.load(fh)
    for key, val in args.param or []:
        params[key] = json.loads(val)  # JSON values, reference semantics

    from learnhtml_spark.log import logger

    data, fixed, dists, ignored = parse_train_params(params)
    for key in ignored:
        logger.warning("no engine analog for param %r — ignored", key)
    logger.debug("data params: %s; fixed fit params: %s", data, fixed)
    if not dists:
        dists = {
            k: v
            for k, v in selection.DEFAULT_PARAM_DISTRIBUTIONS.items()
            if k not in fixed
        }
    # fixed fit params ride along as single-value distributions so every
    # candidate carries them
    dists = {**dists, **{k: [v] for k, v in fixed.items()}}

    frames, labels = training_frames(
        n_synth=args.n_synth,
        depth=int(data["depth"]),
        height=int(data["height"]),
    )
    int_n, int_total = args.internal_folds
    ext_n, ext_total = args.external_folds

    spark = _session(args.cores) if args.spark_search else None
    if args.score_files:
        scores, results = selection.nested_cv(
            frames,
            labels,
            dists,
            n_iter=args.n_iter,
            internal_n_folds=int_n,
            internal_total_folds=int_total,
            external_n_folds=ext_n,
            external_total_folds=ext_total,
            seed=args.random_seed,
            spark=spark,
        )
        # reference cli/script.py:175-176 formats {suffix} with
        # 'scores.csv' / 'cv.csv' (extension included) — match exactly
        pd.DataFrame({"run_nb": range(len(scores)), "f1": scores}).to_csv(
            args.score_files.format(suffix="scores.csv"), index=False
        )
        results.to_csv(args.score_files.format(suffix="cv.csv"), index=False)
        print(f"nested-cv f1 per external fold: {np.round(scores, 4).tolist()}")

    # final search + refit uses the EXTERNAL folds, like the reference's
    # cv_train call (cli/script.py:184-187) — the internal folds only
    # drive the nested-CV inner search above
    best, results = selection.search_params(
        frames,
        labels,
        dists,
        n_iter=args.n_iter,
        n_folds=ext_n,
        total_folds=ext_total,
        seed=args.random_seed,
        spark=spark,
    )
    print(f"best params: {best}")
    if args.model_file:
        clf = NodeClassifier.fit(frames, labels, **best)
        clf.save(args.model_file)
        print(f"wrote {args.model_file}")


def cmd_label(args):
    """Dataset conversion/labeling (reference cli/utils.py:50-80 `convert`):
    a dragnet/cleaneval-layout directory (HTML/*.html +
    Corrected/*.corrected.txt) -> per-node label parquet via the LCS
    labeling operator.  File reads are distributed (binaryFile source);
    decoding/gold-block parsing runs inside the Arrow batch."""
    import pandas as pd
    from pyspark.sql import functions as F
    from pyspark.sql.types import (
        ArrayType,
        StringType,
        StructField,
        StructType,
    )

    from learnhtml_spark.operators.extract import label_documents
    from learnhtml_spark.schemas import SPAN

    spark = _session(args.cores)
    enc = "latin-1" if args.cleaneval else "utf-8"
    cleaneval = bool(args.cleaneval)

    html = (
        spark.read.format("binaryFile")
        .load(os.path.join(args.dataset, "HTML", "*.html"))
        .select(
            F.regexp_extract("path", r"([^/]+)\.html$", 1).alias("doc_id"),
            F.col("content").alias("raw_html"),
        )
    )
    gold = (
        spark.read.format("binaryFile")
        .load(os.path.join(args.dataset, "Corrected", "*.corrected.txt"))
        .select(
            F.regexp_extract(
                "path", r"([^/]+?)(?:\.html)?\.corrected\.txt$", 1
            ).alias("doc_id"),
            F.col("content").alias("raw_gold"),
        )
    )
    joined = html.join(gold, "doc_id")

    schema = StructType(
        [
            StructField("doc_id", StringType()),
            StructField("spans", ArrayType(SPAN)),
            StructField("gold_blocks", ArrayType(StringType())),
        ]
    )

    def gen(batches):
        from learnhtml_spark.kernels.tokenize import get_blocks

        for pdf in batches:
            rows = []
            for doc_id, raw_html, raw_gold in zip(
                pdf["doc_id"], pdf["raw_html"], pdf["raw_gold"]
            ):
                page = bytes(raw_html).decode(enc, errors="replace")
                blocks = get_blocks(
                    bytes(raw_gold).decode(enc, errors="replace"),
                    cleaneval=cleaneval,
                )
                spans = [
                    {"kind": "html", "text": page, "media_ref": None, "offset": 0}
                ]
                rows.append((doc_id, spans, blocks))
            yield pd.DataFrame(rows, columns=["doc_id", "spans", "gold_blocks"])

    labels = label_documents(joined.mapInPandas(gen, schema=schema))
    labels.write.mode("overwrite").parquet(args.output)
    print(f"wrote {args.output}")


def cmd_extract_html(args):
    from learnhtml_spark.extractor import HTMLExtractor

    html = open(args.file, encoding=args.encoding).read()
    ex = HTMLExtractor.load(args.model, depth=args.depth, height=args.height)
    if args.paths:
        for p in ex.extract_from_html(html):
            print(p)
    else:
        for t in ex.extract_text_blocks(html):
            print(t)


def main(argv=None):
    ap = argparse.ArgumentParser(prog="learnhtml-spark")
    ap.add_argument(
        "-v", "--verbosity", default="INFO", type=str.upper,
        choices=["DEBUG", "INFO", "WARNING", "ERROR", "CRITICAL"],
        help="package log level, case-insensitive (reference click_log "
             "verbosity option)",
    )
    sub = ap.add_subparsers(dest="cmd", required=True)

    p = sub.add_parser("extract", help="extract content spans from a docs table")
    p.add_argument("--input", required=True)
    p.add_argument("--output")
    p.add_argument("--model", default=DEFAULT_MODEL)
    p.add_argument("--depth", type=int, default=5)
    p.add_argument("--height", type=int, default=5)
    p.add_argument("--partitions", type=int, default=None,
                   help="kernel input partitions (not with --resume-base)")
    p.add_argument("--cores", default="*")
    p.add_argument("--resume-base", help="bucketed sink base dir (checkpoint-resume mode)")
    p.add_argument("--run-id", default="run1")
    p.add_argument("--buckets", type=int, default=16)
    p.set_defaults(fn=cmd_extract)

    p = sub.add_parser("features", help="per-node DOM feature table (reference `dom`)")
    p.add_argument("--input", required=True)
    p.add_argument("--output", required=True)
    p.add_argument("--depth", type=int, default=5)
    p.add_argument("--height", type=int, default=5)
    p.add_argument("--cores", default="*")
    p.set_defaults(fn=cmd_features)

    p = sub.add_parser(
        "train",
        help="param-search training (reference `train`: -j/--param-file, "
        "-p, --n-iter, --external-folds, --internal-folds)",
    )
    p.add_argument("-j", "--param-file", default=None,
                   help="JSON search-space file (reference data/params schema: "
                        "scalars pin values, lists are search distributions)")
    p.add_argument("-p", "--param", nargs=2, action="append",
                   metavar=("KEY", "VALUE"),
                   help="single param as 'key json-value'; repeatable, "
                        "overrides the file")
    p.add_argument("--n-iter", type=int, default=10,
                   help="random-search candidates (default 10)")
    p.add_argument("--external-folds", nargs=2, type=int, default=(4, 4),
                   metavar=("N_FOLDS", "TOTAL_FOLDS"),
                   help="external loop: evaluate N of TOTAL grouped folds")
    p.add_argument("--internal-folds", nargs=2, type=int, default=(3, 3),
                   metavar=("N_FOLDS", "TOTAL_FOLDS"),
                   help="internal search loop folds")
    p.add_argument("--score-files", default=None,
                   help="output pattern with {suffix} -> 'scores.csv'/"
                        "'cv.csv' (runs nested CV, reference --score-files)")
    p.add_argument("--model-file", default=None,
                   help="refit best params on everything and save here")
    p.add_argument("--random-seed", type=int, default=42)
    p.add_argument("--n-synth", type=int, default=24,
                   help="synthetic training docs to add to the 4 fixtures")
    p.add_argument("--spark-search", action="store_true",
                   help="fan the (candidate x fold) grid out over Spark")
    p.add_argument("--cores", default="*")
    p.add_argument("--legacy-full", action="store_true",
                   help="run the round-4 full training script instead")
    p.set_defaults(fn=cmd_train)

    p = sub.add_parser(
        "label",
        help="convert+label a dragnet/cleaneval dataset dir (reference `convert`)",
    )
    p.add_argument("dataset", help="dir with HTML/ and Corrected/ subdirs")
    p.add_argument("--output", required=True)
    p.add_argument("--cleaneval", action="store_true",
                   help="cleaneval layout/encoding (default dragnet)")
    p.add_argument("--cores", default="*")
    p.set_defaults(fn=cmd_label)

    p = sub.add_parser("extract-html", help="extract one local HTML file")
    p.add_argument("file")
    p.add_argument("--model", default=DEFAULT_MODEL)
    p.add_argument("--paths", action="store_true", help="print XPaths instead of text")
    p.add_argument("--encoding", default="utf-8")
    p.add_argument("--depth", type=int, default=5)
    p.add_argument("--height", type=int, default=5)
    p.set_defaults(fn=cmd_extract_html)

    args = ap.parse_args(argv)
    if args.cmd == "extract" and args.resume_base and args.partitions is not None:
        # the resume path's kernel runs spark.sql.shuffle.partitions tasks
        ap.error("extract: --partitions does not apply with --resume-base")
    from learnhtml_spark.log import set_verbosity

    set_verbosity(args.verbosity)
    args.fn(args)


if __name__ == "__main__":
    main()
