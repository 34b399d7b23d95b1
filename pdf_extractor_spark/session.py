"""SparkSession factory tuned for this engine.

Local-mode defaults mirror what we would set on a real cluster: AQE on
(runtime shuffle coalescing + skew-join splitting), Arrow enabled for the
pandas-UDF stages, shuffle partitions sized to cores rather than the 200
default, and a bounded Arrow batch size so a single batch never holds many
huge span arrays (SURVEY.md §7.3-4).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

# Records per Arrow batch for pandas-UDF stages. Documents can carry up to
# ~10^4 spans (skew tail); 2048 rows/batch keeps a batch under ~100MB even
# for the skewed tail while amortizing Arrow transfer overhead.
ARROW_BATCH_ROWS = 2048


def build_session(
    app_name: str = "pdf_extractor_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        # local[N] -> N; local[*]/cluster -> leave a sane default
        try:
            shuffle_partitions = int(master.split("[")[1].rstrip("]*") or cpus)
        except (IndexError, ValueError):
            shuffle_partitions = cpus

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(
            "spark.sql.execution.arrow.maxRecordsPerBatch", str(ARROW_BATCH_ROWS)
        )
        .config("spark.sql.session.timeZone", "UTC")
        # dict-overwrite semantics for validation error maps (reference
        # overwrites the required-field message with the type error)
        .config("spark.sql.mapKeyDedupPolicy", "LAST_WIN")
        # Idempotent per-partition re-writes for checkpoint/resume (the
        # parquet fallback of the Iceberg overwritePartitions contract).
        .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "16g"))
        # Throughput batch job, no latency SLO: ParallelGC beats G1 here —
        # the columnar string/regex stages allocate heavily and G1's
        # concurrent cycles throttled task threads (measured: 3.2x scaling
        # 4->16 cores with ParallelGC vs 2.3x with default G1).
        .config("spark.driver.extraJavaOptions", "-XX:+UseParallelGC")
        .config("spark.executor.extraJavaOptions", "-XX:+UseParallelGC")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def values_df(spark: SparkSession, rows, schema: str):
    """JVM-side LocalRelation from small literal rows.

    `spark.createDataFrame(py_list)` builds a Python-RDD-backed plan:
    every downstream task pays Python-worker round-trips, and
    materializing it costs SECONDS even for two rows (measured 4.0s for
    a 2-row seed localCheckpoint at local[32] — Python worker spin-up
    across 32 shuffle tasks). A VALUES literal parses to a pure Catalyst
    LocalRelation: constant-foldable, broadcastable, zero Python in the
    scan (same 2-row checkpoint: 0.1s). Use ONLY for small literal
    frames — the rows travel through the SQL parser.

    `schema` is a DDL column list ("query_id string, qtext string");
    every cell is CAST to its declared type so the result schema never
    depends on literal inference.
    """
    cols = []
    for part in schema.split(","):
        name, typ = part.strip().split(None, 1)
        cols.append((name, typ))

    def lit(v) -> str:
        if v is None:
            return "NULL"
        if isinstance(v, bool):
            return "TRUE" if v else "FALSE"
        if isinstance(v, (int, float)):
            return repr(v)
        s = str(v).replace("\\", "\\\\").replace("'", "''")
        return f"'{s}'"

    tuples = ", ".join(
        "(" + ", ".join(lit(v) for v in row) + ")" for row in rows
    )
    proj = ", ".join(
        f"CAST(c{i} AS {typ}) AS {name}" for i, (name, typ) in enumerate(cols)
    )
    anon = ", ".join(f"c{i}" for i in range(len(cols)))
    return spark.sql(f"SELECT {proj} FROM VALUES {tuples} AS t({anon})")


def fan_out(df, min_parts: int | None = None):
    """Repartition a degenerately-partitioned input before CPU-heavy
    per-row work (tokenize/shingle/hash pipelines whose cost is
    O(tokens) per row).

    At target scale the input scan arrives with thousands of splits and
    this is a structural no-op (the partition count already exceeds the
    cluster's parallelism). At test scale a small parquet table is one
    row-group — one task — so every downstream narrow op runs on a
    single core no matter how many the session has; a round-robin
    repartition costs one shuffle of the projected input columns and
    buys full-width execution. Guarded, not unconditional: inputs that
    are already parallel are returned unchanged so no shuffle is ever
    added at scale."""
    if df.isStreaming:
        # no .rdd on streaming frames; micro-batch parallelism comes from
        # the source's own partitioning
        return df
    target = min_parts or df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def cap_heavy_keys(df, keys, cap: int | None):
    """(kept, heavy) — the one hot-key guard, applied BEFORE a fan-out
    (self-join, wedge join, block join) so a key group with more than
    `cap` rows never reaches it. `heavy` holds one (keys..., sz) row per
    over-cap group, which doubles as the report of what the cap dropped;
    `kept` is `df` broadcast-anti-joined against it. `cap=None` disables
    the guard and returns (df, None). A group of exactly `cap` rows is
    kept."""
    if cap is None:
        return df, None
    keys = [keys] if isinstance(keys, str) else list(keys)
    heavy = (
        df.groupBy(*keys)
        .agg(F.count("*").alias("sz"))
        .filter(F.col("sz") > cap)
    )
    return df.join(F.broadcast(heavy), keys, "left_anti"), heavy


def drop_zip_finders() -> None:
    """Delete every `zipimport.zipimporter` from `sys.path_importer_cache`,
    leaving `FileFinder` and `None` entries alone. Called in Python workers.

    PySpark's worker calls `importlib.invalidate_caches()` at every task
    start (`worker_util.setup_spark_files`). On CPython 3.11 and 3.12 that
    makes each cached zipimporter re-read its archive's whole directory:
    ~16 finders over pyspark.zip, the spark-core jar and the py4j zip,
    ~27k entries, ~0.2 CPU-s per task whatever the task does. The archives
    never change while a worker lives, so the re-read buys nothing; with
    no zipimporter left in the cache there is nothing to re-read. A later
    import from a zip rebuilds its finder from zipimport's own directory
    cache without reading the archive again."""
    import sys
    import zipimport

    cache = sys.path_importer_cache
    zips = [p for p, f in cache.items() if isinstance(f, zipimport.zipimporter)]
    for path in zips:
        del cache[path]


def read_input(spark: SparkSession, path: str, fmt: "str | None" = None):
    """Shared spark-submit input dispatch for jobs/: 'table' = catalog /
    temp-view name, 'parquet' = path; with fmt=None, dotted slash-free
    names read as tables and anything else as a parquet path (the one
    inference rule, so all jobs accept the same --input forms and a fix
    here fixes every entry point)."""
    if fmt == "table":
        return spark.read.table(path)
    if fmt == "parquet":
        return spark.read.parquet(path)
    if "." in path and "/" not in path and not path.endswith(".parquet"):
        return spark.read.table(path)
    return spark.read.parquet(path)


CORPUS_TABLES = (
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
)


def register_views(spark: SparkSession, sf_dir: str) -> list[str]:
    """Register every corpus parquet table under `sf_dir` as a temp view
    and return the registered names — the SQL front door: after this,
    `spark.sql("SELECT ... FROM documents JOIN events ...")` works
    directly, with the identical Catalyst plans the DataFrame operators
    produce (both APIs compile to the same logical plan; pushdown,
    pruning, and AQE apply equally). Missing files are skipped, so the
    helper works on partial corpora."""
    import os

    registered = []
    for name in CORPUS_TABLES:
        p = os.path.join(sf_dir, f"{name}.parquet")
        if os.path.exists(p):
            spark.read.parquet(p).createOrReplaceTempView(name)
            registered.append(name)
    return registered
