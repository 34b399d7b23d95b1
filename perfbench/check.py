"""Correctness gate over one committed run_pipeline output.

* every input doc_id appears exactly once in extracted/ and in metrics/;
* a seeded sample plus every whale is compared with the per-document
  oracle (`oracle.extract.extract_document`) in spans (kind, text,
  media_ref, order, offset), doc_type, confidence, fields, validation and
  meta;
* rows with a non-null `error` are counted as failed documents.
"""

from __future__ import annotations

import math
import os
import random
from collections import Counter

from workloads import WHALE_MIN_SPANS, Row

ORACLE_SAMPLE = 200


def _exactly_once(spark, ids: set[str], path: str) -> int:
    """Input ids missing from, or duplicated in, the table at `path`, plus
    ids in it that are not input ids."""
    got = Counter(r[0] for r in spark.read.parquet(path).select("doc_id").collect())
    return sum(1 for d in ids if got[d] != 1) + sum(1 for d in got if d not in ids)


def _span_key(s: dict) -> tuple:
    return (s["kind"], s["text"], s["media_ref"], s["order"], s["offset"])


def _same(got: dict, want: dict) -> bool:
    if [_span_key(s) for s in got["spans"]] != [_span_key(s) for s in want["spans"]]:
        return False
    if got["doc_type"] != want["doc_type"] or not math.isclose(
        got["confidence"], want["confidence"], rel_tol=1e-12, abs_tol=1e-12
    ):
        return False
    if (got["fields"] or {}) != want["fields"] or got["meta"] != want["meta"]:
        return False
    gv, wv = got["validation"], want["validation"]
    if wv is None or gv is None:
        return gv is None and wv is None
    return (
        gv["valid"] == wv["valid"]
        and (gv["errors"] or {}) == wv["errors"]
        and (gv["warnings"] or {}) == wv["warnings"]
    )


def oracle_sample(rows: list[Row], seed: int) -> list[Row]:
    """Seeded sample of ORACLE_SAMPLE docs plus every whale."""
    rng = random.Random(seed ^ 0x5EED)
    picked = set(rng.sample(range(len(rows)), min(ORACLE_SAMPLE, len(rows))))
    picked |= {k for k, (_, spans) in enumerate(rows) if len(spans) >= WHALE_MIN_SPANS}
    return [rows[k] for k in sorted(picked)]


def check_output(spark, rows: list[Row], out_dir: str, seed: int) -> dict:
    from pyspark.sql import functions as F

    from pdf_extractor_spark.config import load_patterns, load_schemas, load_templates
    from pdf_extractor_spark.oracle.extract import extract_document

    data_path = os.path.join(out_dir, "extracted")
    ids = {d for d, _ in rows}
    not_once = _exactly_once(spark, ids, data_path) + _exactly_once(
        spark, ids, os.path.join(out_dir, "metrics")
    )

    out = spark.read.parquet(data_path)
    agg = out.agg(
        F.count("*").alias("n"),
        F.count("error").alias("errors"),
        F.count("validation").alias("validated"),
    ).first()

    sample = oracle_sample(rows, seed)
    got = {
        r["doc_id"]: r.asDict(recursive=True)
        for r in out.filter(F.col("doc_id").isin([d for d, _ in sample])).collect()
    }
    patterns, templates, schemas = load_patterns(), load_templates(), load_schemas()
    mismatch = sum(
        1
        for d, spans in sample
        if d not in got
        or not _same(got[d], extract_document(d, spans, patterns, templates, schemas))
    )
    return {
        "docs": len(rows),
        "not_exactly_once": not_once,
        "mismatch_docs": mismatch,
        "oracle_sampled": len(sample),
        "failed_docs": agg["errors"],
        "failed_doc_ratio": agg["errors"] / len(rows),
        "templated_ratio": agg["validated"] / len(rows),
    }
