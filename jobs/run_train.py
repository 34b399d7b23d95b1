"""spark-submit entry point for the MODEL-TRAIN job: distill the regex
rule teacher into a hashed-BoW linear model the engine can apply as a
plan literal at 10^12-doc scale (the trained counterpart of
jobs/run_index.py's write-once index artifacts; reference
document_classifier.py:117-136 loads exactly this kind of persisted
model, but ships none).

    spark-submit --py-files dist/pdf_extractor_spark.zip \\
        jobs/run_train.py \\
        --documents /path/documents.parquet \\
        --output /path/model [--buckets 256] [--keyword spark] \\
        [--label sparky]

Teacher: the keyword rule `\\b<keyword>\\b` over the raw text (the
weak-supervision label a rules pass produces for free). Training:
train_hash_lr_weights' closed-form centroid-difference fit — one token
explode + one bounded groupBy, fully distributed, deterministic.

Writes under --output:
    hash_lr_weights/  (bucket, n_pos, n_neg, weight) — dense model;
                      mlhook.HashLRModel.load reads it for
                      extract_documents(model=...), and
                      hash_lr_score(weights=...) applies it columnar
    manifest.json     {buckets, label, keyword, n_docs, n_pos_docs,
                      train_accuracy} for audit/promotion gates
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--documents", required=True)
    ap.add_argument("--output", required=True)
    ap.add_argument("--buckets", type=int, default=256)
    ap.add_argument("--keyword", default="spark")
    ap.add_argument("--label", default="sparky")
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from pdf_extractor_spark.operators.textstats import (
        hash_lr_score,
        train_hash_lr_weights,
    )
    from pdf_extractor_spark.session import build_session

    spark = build_session("model-train")
    docs = spark.read.parquet(args.documents)
    teacher = F.coalesce(F.col("text"), F.lit("")).rlike(
        rf"\b{args.keyword}\b"
    )
    labeled = docs.withColumn("_label", teacher)

    weights_df = train_hash_lr_weights(labeled, "_label", buckets=args.buckets)
    out = args.output
    weights_df.write.mode("overwrite").parquet(f"{out}/hash_lr_weights")

    # train-set threshold + accuracy (the promotion-gate numbers):
    # re-score with the persisted weights, fit the LDA-midpoint
    # threshold tau = (mean pos margin + mean neg margin)/2, and compare
    # thresholded predictions to the teacher
    rows = sorted(
        spark.read.parquet(f"{out}/hash_lr_weights").collect(),
        key=lambda r: r["bucket"],
    )
    weights = [r["weight"] for r in rows]
    scored = hash_lr_score(
        labeled, buckets=args.buckets, weights=weights, binary=True
    ).join(labeled.select("doc_id", "_label"), "doc_id")
    st = scored.agg(
        F.sum(F.when(F.col("_label"), F.col("margin"))).alias("sp"),
        F.sum(F.when(~F.col("_label"), F.col("margin"))).alias("sn"),
        F.sum(F.col("_label").cast("long")).alias("cp"),
        F.sum((~F.col("_label")).cast("long")).alias("cn"),
    ).collect()[0]
    tau = (
        (st["sp"] * st["cn"] + st["sn"] * st["cp"])
        / (2.0 * st["cp"] * st["cn"])
        if st["cp"] and st["cn"]
        else 0.0
    )
    agg = scored.agg(
        F.count("*").alias("n_docs"),
        F.sum(F.col("_label").cast("long")).alias("n_pos"),
        F.sum(
            ((F.col("margin") > tau) == F.col("_label")).cast("long")
        ).alias("n_correct"),
    ).collect()[0]

    manifest = {
        "buckets": args.buckets,
        "keyword": args.keyword,
        "label": args.label,
        "threshold": tau,
        "n_docs": agg["n_docs"],
        "n_pos_docs": agg["n_pos"],
        "train_accuracy": round(agg["n_correct"] / max(agg["n_docs"], 1), 6),
    }
    os.makedirs(out, exist_ok=True)
    with open(os.path.join(out, "manifest.json"), "w") as f:
        json.dump(manifest, f, sort_keys=True)
    print(json.dumps(manifest, sort_keys=True))
    spark.stop()


if __name__ == "__main__":
    main()
