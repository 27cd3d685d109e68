"""Distributed training-data generation + model fit.

The reference builds its training matrix by merging a features csv with a
labels csv on (url, path) (J1, cli/utils.py:27-47) after dask-parallel
feature/label extraction.  This script is the Spark rendition at corpus
scale, with the join gone: a training row is a serving row.

    docs table ── training_rows (one mapInPandas: the serving kernel's
                  block featurizer + LCS labels, per document)
      → grouped train/holdout split by portable doc hash
      → block rows to the driver → NodeClassifier.fit

Feature/label generation is fully distributed; the final fit is
driver-side numpy (the collected block-row matrix is tiny relative to the
corpus — ~25 rows per document — and the reference's nested CV was
single-node too).  The saved model records the featurizer's column names, so it serves through ``extract`` and
``HTMLExtractor``.  Usage: python scripts/train_distributed.py [n_docs]
"""

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import numpy as np
import pandas as pd


def main(n_docs: int = 300):
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F
    from pyspark.sql.types import ArrayType, StringType, StructField, StructType

    from learnhtml_spark.model import NodeClassifier
    from learnhtml_spark.schemas import SPAN
    from learnhtml_spark.training import training_rows

    spark = (
        SparkSession.builder.master("local[16]")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.driver.memory", "8g")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    # synthesize docs + gold in one distributed pass
    documents = (
        spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
        .orderBy("doc_id")
        .limit(n_docs)
    )
    schema = StructType(
        [
            StructField("doc_id", StringType()),
            StructField("spans", ArrayType(SPAN)),
            StructField("gold_blocks", ArrayType(StringType())),
        ]
    )

    def gen(batches):
        from learnhtml_spark.corpus import synthesize_page

        for pdf in batches:
            rows = []
            for doc_id, text, lang, source in zip(
                pdf["doc_id"], pdf["text"], pdf["lang"], pdf["source"]
            ):
                spans, expected = synthesize_page(str(doc_id), text, source, lang)
                rows.append((str(doc_id), spans, expected))
            yield pd.DataFrame(rows, columns=["doc_id", "spans", "gold_blocks"])

    with_gold = documents.select("doc_id", "text", "lang", "source").mapInPandas(
        gen, schema=schema
    )
    with_gold = with_gold.repartition(32, "doc_id").cache()

    t0 = time.time()
    # block rows only (reference P4 filter), labeled in the same pass
    all_rows = training_rows(with_gold, depth=5, height=5)

    # grouped split by portable doc hash (reference O2/M9: whole documents
    # go to one side, never split)
    bucket = (F.abs(F.xxhash64("doc_id")) % 100)
    pdf_train = all_rows.filter(bucket < 80).toPandas()
    pdf_hold = all_rows.filter(bucket >= 80).toPandas()
    print(
        f"distributed training rows: {time.time() - t0:.1f}s, "
        f"{len(pdf_train)} train / {len(pdf_hold)} holdout block rows "
        f"from {n_docs} docs"
    )

    def per_doc(pdf):
        frames, labels = [], []
        for _, g in pdf.groupby("doc_id", sort=True):
            labels.append(g.pop("label").to_numpy())
            frames.append(g.drop(columns=["doc_id"]).reset_index(drop=True))
        return frames, labels

    frames, labels = per_doc(pdf_train)
    h_frames, h_labels = per_doc(pdf_hold)

    # M9: randomized search over grouped folds, fanned out on the cluster
    # (each task = one candidate on one fold, training frames broadcast
    # once); reference model_selection.py:297-331
    from learnhtml_spark.selection import (
        DEFAULT_PARAM_DISTRIBUTIONS,
        f1_score,
        search_params,
    )

    t0 = time.time()
    best, results = search_params(
        frames,
        labels,
        DEFAULT_PARAM_DISTRIBUTIONS,
        n_iter=int(os.environ.get("SEARCH_ITERS", "8")),
        n_folds=3,
        seed=42,
        spark=spark,
    )
    top = results.drop_duplicates("candidate").nlargest(3, "mean_f1")
    print(f"search: {time.time() - t0:.1f}s over "
          f"{results['candidate'].nunique()} candidates x 3 grouped folds")
    print("top candidates:\n", top.to_string(index=False))
    print("best params:", best)

    # refit on all training docs with the selected params
    t0 = time.time()
    model = NodeClassifier.fit(frames, labels, **best)
    pred_tr = np.concatenate([np.asarray(model.predict(f)) for f in frames])
    y_tr = np.concatenate(labels)
    acc = float((pred_tr == (y_tr > 0.5)).mean())
    # honest score: untouched grouped holdout
    pred_h = np.concatenate([np.asarray(model.predict(f)) for f in h_frames])
    y_h = np.concatenate(h_labels)
    f1_h = f1_score(y_h > 0.5, pred_h)
    print(f"refit: {time.time() - t0:.1f}s, train accuracy {acc:.4f}, "
          f"holdout F1 {f1_h:.4f}, trees {model.gbdt.n_trees}")

    out = "/tmp/model_distributed.npz"
    model.save(out)
    print("saved", out)
    spark.stop()


if __name__ == "__main__":
    main(int(sys.argv[1]) if len(sys.argv) > 1 else 300)
