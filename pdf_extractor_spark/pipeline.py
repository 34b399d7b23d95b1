"""The end-to-end extraction job: normalize -> classify -> extract+validate,
with explicit doc_id hash bucketing, skew salting, per-bucket checkpointing
to the lakehouse (parquet locally, Iceberg on a cluster — see sinks.py), a
per-doc metrics/lineage table, and idempotent resume (north_rule).

Scale design (for a 1000-executor / 10^12-doc cluster; measured on local[4]):
  * documents are hash-bucketed on xxhash64(doc_id) % num_buckets — the unit
    of checkpointing, resume, and output partitioning.
  * within a bucket, a salt (xxhash64(doc_id) % salts) spreads rows across
    tasks so a hot bucket or a run of giant documents (the 10^4-span skew
    tail) does not serialize on one task; Arrow batch size is bounded in
    session.py so a batch of whales fits in worker memory.
  * the whole flow is one narrow pipeline per row (no joins, no aggregation
    until metrics), so each wave has ONE shuffle: place_wave's
    bucket-aligned placement of (bucket, salt) keys, which writes at most
    W + n files per table for a wave of W buckets over n tasks.
  * waves: buckets are processed in `waves` groups; each wave commits its
    output partitions + metrics before the next starts, so a failed run
    resumes at wave granularity by anti-joining completed buckets from the
    lineage table (SURVEY.md §4.3).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .config import load_patterns, load_schemas, load_templates
from .operators.spans import normalize_documents
from .operators.validate import classify_extract_validate_udf

DEFAULT_BUCKETS = 64
DEFAULT_SALTS = 8

OUTPUT_COLUMNS = [
    "doc_id", "spans", "doc_type", "confidence",
    "fields", "validation", "meta", "error",
]


def _raw_schemas_conf(schema_dir: str | None = None) -> dict[str, dict]:
    """Raw JSON dicts (picklable for the UDF closure). Delegates to the
    zip-safe loader so the --py-files artifact works (config._load_json_dir
    falls back to importlib.resources inside a zip)."""
    from .config import _load_json_dir

    conf_dir = schema_dir or os.path.join(
        os.path.dirname(__file__), "conf", "schemas"
    )
    return {data["name"]: data for data in _load_json_dir(conf_dir)}


def extract_documents(
    df: DataFrame,
    patterns=None,
    templates=None,
    schemas_conf=None,
    lang_col: str | None = None,
) -> DataFrame:
    """documents(doc_id, spans) -> extracted (SURVEY.md §1.4 output schema).
    Pure transformation — no partitioning/sink concerns (see run_pipeline)."""
    patterns = patterns or load_patterns()
    templates = templates or load_templates()
    schemas_conf = schemas_conf if schemas_conf is not None else _raw_schemas_conf()

    out = normalize_documents(df, lang_col=lang_col)

    # classification + template extraction + validation fused into ONE
    # pandas UDF: one Python worker per task, one Arrow crossing of
    # all_text (see classify_extract_validate_udf docstring; language
    # detection and span normalization stay fully columnar upstream)
    pattern_items = tuple(
        (dt, p.keywords, p.patterns) for dt, p in patterns.items()
    )
    cev = classify_extract_validate_udf(pattern_items, templates, schemas_conf)
    out = out.withColumn("_r", cev(F.col("all_text")))
    out = (
        out.withColumn("doc_type", F.col("_r.doc_type"))
        .withColumn("confidence", F.col("_r.confidence"))
        .withColumn("fields", F.col("_r.fields"))
        .withColumn("validation", F.col("_r.validation"))
        .withColumn("error", F.col("_r.error"))
        .drop("_r", "all_text")
    )
    return out.select(*OUTPUT_COLUMNS)


def bucket_col(
    num_buckets: int = DEFAULT_BUCKETS, key: str = "doc_id"
) -> "F.Column":
    return F.pmod(F.xxhash64(key), F.lit(num_buckets)).cast("int")


def with_bucket_and_salt(
    df: DataFrame, num_buckets: int = DEFAULT_BUCKETS, salts: int = DEFAULT_SALTS
) -> DataFrame:
    """+ bucket (unless the input already carries one — a pre-bucketed
    write-time-partitioned source, see write_bucketed_input) and salt."""
    if "bucket" not in df.columns:
        df = df.withColumn("bucket", bucket_col(num_buckets))
    return df.withColumn(
        "salt", F.pmod(F.xxhash64("doc_id", F.lit(1)), F.lit(salts)).cast("int")
    )


def write_bucketed_input(
    docs: DataFrame, path: str, num_buckets: int = DEFAULT_BUCKETS
) -> None:
    """Write-time bucket partitioning — the flat-parquet analog of an
    Iceberg `bucket(num_buckets, doc_id)` partition transform: the corpus
    is laid out as bucket=N directories, so run_pipeline's per-wave
    `bucket IN (...)` filter becomes a PARTITION FILTER that prunes at the
    scan. Round 1 measured waves=4 at 2.1x the waves=1 wall time on an
    unpartitioned input (every wave re-scanned the full corpus); on a
    bucket-partitioned input each wave reads only its own 1/waves of the
    data. On a real cluster the same effect comes from writing the Iceberg
    table with a bucket partition spec.

    The repartition on bucket before the write is load-bearing: without it
    every input task writes a fragment into every bucket directory
    (tasks x buckets tiny files — measured SLOWER than the flat scan), with
    it each bucket directory gets tasks/buckets-proportional files."""
    docs.withColumn("bucket", bucket_col(num_buckets)).repartition(
        num_buckets, "bucket"
    ).write.mode("overwrite").partitionBy("bucket").parquet(path)


def place_wave(
    df: DataFrame, wave_buckets: list[int], salts: int, num_partitions: int
) -> DataFrame:
    """The wave's one shuffle: each task gets a contiguous run of
    (bucket, salt) keys. A key's position in the wave is
    rank(bucket) * salts + salt, where rank is the bucket's index in
    wave_buckets (so a resumed wave with gaps stays balanced), and the
    W * salts keys are cut into num_partitions equal runs. A key never
    splits, key counts per task differ by at most 1, and a task spans
    ~W / num_partitions bucket directories instead of all W, so the
    partitioned write opens at most W + num_partitions files per table."""
    keys = len(wave_buckets) * salts
    buckets = ", ".join(str(b) for b in wave_buckets)
    pid = F.expr(
        f"CAST(((array_position(array({buckets}), bucket) - 1) * {salts}"
        f" + salt) * {num_partitions} div {keys} AS INT)"
    )
    return df.repartitionById(num_partitions, pid)


def metrics_rows(extracted: DataFrame, run_id: str, wave: int) -> DataFrame:
    """Per-doc metrics/lineage record (FIXTURES.md §4; analytics.py:154-216
    record shape + our lineage extensions)."""
    return extracted.select(
        F.lit(run_id).alias("run_id"),
        F.lit(wave).alias("wave"),
        F.col("bucket").alias("partition_id"),
        "doc_id",
        "doc_type",
        F.col("error").isNull().alias("success"),
        F.when(F.col("confidence") > 0, F.col("confidence")).alias("confidence"),
        F.current_timestamp().alias("timestamp"),
        F.lit(None).cast("double").alias("processing_time"),
        F.col("error").alias("error"),
        F.col("meta.num_pages").cast("long").alias("pages_parsed"),
        F.size("spans").cast("long").alias("spans_emitted"),
        F.coalesce(F.col("validation.valid"), F.lit(True)).alias("validation_valid"),
    )


def completed_buckets(spark: SparkSession, metrics_path: str, run_id: str) -> set[int]:
    try:
        rows = (
            spark.read.parquet(metrics_path)
            .filter(F.col("run_id") == run_id)
            .select("partition_id")
            .distinct()
            .collect()
        )
    except Exception:
        return set()
    return {r.partition_id for r in rows}


def run_pipeline(
    spark: SparkSession,
    docs: DataFrame,
    out_dir: str,
    run_id: str = "run-0",
    num_buckets: int = DEFAULT_BUCKETS,
    salts: int = DEFAULT_SALTS,
    waves: int = 1,
    resume: bool = True,
    fail_after_wave: int | None = None,
    lang_col: str | None = None,
    transform=None,
    metrics_fn=None,
) -> dict:
    """Run the full job with per-bucket checkpointing. Returns summary stats.

    fail_after_wave simulates a mid-job crash (for resume tests): raises
    after committing that wave.

    transform/metrics_fn generalize the machinery beyond extraction: any
    per-doc columnar stage that preserves doc_id rides the same bucketed
    checkpoint/resume/lineage scheme (used by jobs/run_curation.py).
    transform: DataFrame -> DataFrame; metrics_fn: (df, run_id, wave) ->
    lineage rows with a partition_id column. Defaults = the extraction
    pipeline."""
    data_path = os.path.join(out_dir, "extracted")
    metrics_path = os.path.join(out_dir, "metrics")

    done = completed_buckets(spark, metrics_path, run_id) if resume else set()

    bucketed = with_bucket_and_salt(docs, num_buckets, salts)
    shuffle_n = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))

    waves_run = 0
    for wave in range(waves):
        wave_buckets = [
            b for b in range(num_buckets) if b % waves == wave and b not in done
        ]
        if not wave_buckets:
            continue
        subset = place_wave(
            bucketed.filter(F.col("bucket").isin(wave_buckets)),
            wave_buckets, salts, shuffle_n,
        )
        stage = (
            transform
            if transform is not None
            else (lambda d: extract_documents(d, lang_col=lang_col))
        )
        extracted = stage(subset).withColumn(
            "bucket", F.pmod(F.xxhash64("doc_id"), F.lit(num_buckets)).cast("int")
        )
        # persist the wave once: the SAME materialized rows feed the data
        # write and the metrics write (previously the metrics pass re-read
        # the just-written parquet from disk — correct but a full extra
        # scan per wave)
        extracted = extracted.persist()
        # idempotent per-partition commit: dynamic partition overwrite
        # replaces exactly the bucket dirs this wave touches
        (
            extracted.write.mode("overwrite")
            .partitionBy("bucket")
            .parquet(data_path)
        )
        m = (metrics_fn or metrics_rows)(extracted, run_id, wave).withColumn(
            "bucket", F.col("partition_id")
        )
        m.write.mode("overwrite").partitionBy("bucket").parquet(metrics_path)
        extracted.unpersist()
        waves_run += 1
        if fail_after_wave is not None and wave >= fail_after_wave:
            raise RuntimeError(f"simulated failure after wave {wave}")

    return {
        "run_id": run_id,
        "waves_run": waves_run,
        "data_path": data_path,
        "metrics_path": metrics_path,
    }


def run_metrics_summary(
    spark: SparkSession, metrics_path: str, run_id: str
) -> DataFrame:
    """(doc_type, n_docs, n_success, pages_parsed, spans_emitted) — the
    run-level extraction-metrics rollup over the lineage table: classifier
    label counts plus total pages parsed / spans emitted per label (the
    north_star's named metrics). One scan of the metrics table, one
    hash aggregate over the handful of labels; doc_type NULL (unclassified
    or failed rows) groups as its own line so totals reconcile with the
    corpus count."""
    return (
        spark.read.parquet(metrics_path)
        .filter(F.col("run_id") == run_id)
        .groupBy("doc_type")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum(F.col("success").cast("long")).alias("n_success"),
            F.coalesce(F.sum("pages_parsed"), F.lit(0))
            .cast("long")
            .alias("pages_parsed"),
            F.coalesce(F.sum("spans_emitted"), F.lit(0))
            .cast("long")
            .alias("spans_emitted"),
        )
        .orderBy("doc_type")
    )
