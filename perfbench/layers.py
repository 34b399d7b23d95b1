"""Per-layer measurements for the traced run.

* cumulative cut points of the extraction path, each executed to a discard
  sink (`queryExecution().toRdd().count()`); a stage's time is the median
  of its cut minus the median of the cut before it, so a stage cheaper than
  the cuts' jitter (tens of milliseconds) can read slightly negative;
* Spark's own SQL metrics, read by walking the final (AQE) physical plan
  of every query the traced run_pipeline repetitions execute, including
  the cached plan of the persisted wave both writes read. Timing metrics
  are task-seconds summed over tasks, so they can exceed wall time;
* the oracle kernels the fused UDF calls, timed on the driver over the
  `all_text` column of a sample.
"""

from __future__ import annotations

import statistics
import time
from collections import defaultdict

from workloads import NUM_BUCKETS

CUT_REPEATS = 3
KERNEL_REPEATS = 3
ORACLE_BATCH = 2048  # session.ARROW_BATCH_ROWS: rows per fused-UDF call

# SQLMetric.metricType -> factor to seconds; other types are bytes or counts
_TO_SECONDS = {"timing": 1e-3, "nsTiming": 1e-9}


def _scala_iter(seq):
    it = seq.iterator()
    while it.hasNext():
        yield it.next()


def walk_plan(plan, below_exchange: bool = False, seen: set | None = None):
    """Yield (node name, {metric: value}, below_exchange) for every node of
    a physical plan, descending through AdaptiveSparkPlanExec's final plan,
    query stages, and the cached plan under an in-memory scan. Timing
    metrics are in seconds. A node object reached twice (the two scans of
    one persisted wave) is yielded once."""
    from pyspark import SparkContext

    seen = set() if seen is None else seen
    ident = SparkContext._jvm.System.identityHashCode(plan)
    if ident in seen:
        return
    seen.add(ident)
    cls = plan.getClass().getSimpleName()
    if cls == "AdaptiveSparkPlanExec":
        yield from walk_plan(plan.executedPlan(), below_exchange, seen)
        return
    if cls.endswith("QueryStageExec"):
        yield from walk_plan(plan.plan(), below_exchange, seen)
        return
    metrics = {}
    for kv in _scala_iter(plan.metrics()):
        m = kv._2()
        metrics[kv._1()] = m.value() * _TO_SECONDS.get(m.metricType(), 1)
    yield plan.nodeName(), metrics, below_exchange
    if cls == "InMemoryTableScanExec":
        yield from walk_plan(plan.relation().cachedPlan(), below_exchange, seen)
    below = below_exchange or "Exchange" in cls
    for child in _scala_iter(plan.children()):
        yield from walk_plan(child, below, seen)


class QueryCapture:
    """A QueryExecutionListener, served through the py4j callback server,
    that keeps (action, seconds, QueryExecution) for every query that
    succeeds while `enabled`."""

    def __init__(self, spark):
        from pyspark.java_gateway import ensure_callback_server_started

        self._spark = spark
        self.enabled = False
        self.events: list = []
        ensure_callback_server_started(spark.sparkContext._gateway)
        spark._jsparkSession.listenerManager().register(self)

    def onSuccess(self, func, qe, duration_ns):  # noqa: N802 — Java interface
        if self.enabled:
            self.events.append((func, duration_ns / 1e9, qe))

    def onFailure(self, func, qe, exc):  # noqa: N802
        pass

    def drain(self) -> None:
        """Wait until every listener event posted so far is delivered."""
        self._spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()

    def close(self) -> None:
        self.drain()
        self._spark._jsparkSession.listenerManager().unregister(self)

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


def plan_metrics(events, reps: int) -> dict:
    """Per-repetition totals of the SQL metrics of the captured queries,
    and the median wave time (a wave = its data write + metrics write)."""
    tot: dict[str, float] = defaultdict(float)
    seen: set = set()
    writes = []
    for func, seconds, qe in events:
        for name, m, _below in walk_plan(qe.executedPlan(), seen=seen):
            if name == "ArrowEvalPython":
                for k in ("pythonDataSent", "pythonDataReceived", "pythonTotalTime",
                          "pythonInitTime"):
                    tot[k] += m.get(k, 0)
            for k in ("shuffleWriteTime", "shuffleBytesWritten", "numFiles"):
                tot[k] += m.get(k, 0)
            tot["spill"] += sum(v for k, v in m.items() if "spill" in k.lower())
        if func == "command":
            writes.append(seconds)
    waves = [a + b for a, b in zip(writes[::2], writes[1::2])]
    out = {k: v / reps for k, v in tot.items()}
    out["wave_s"] = statistics.median(waves) if waves else 0.0
    return out


def cut_points(spark, input_path: str) -> tuple[dict, list]:
    """Wall seconds of each cumulative cut, CUT_REPEATS samples each, and
    the WholeStageCodegen pipeline time (task-seconds) of the post-shuffle
    stages of each normalize cut."""
    from pyspark.sql import functions as F

    from pdf_extractor_spark.operators.spans import (
        add_detected_language,
        normalize_documents,
        sorted_spans,
        text_sample,
    )
    from pdf_extractor_spark.pipeline import extract_documents, with_bucket_and_salt

    n = int(spark.conf.get("spark.sql.shuffle.partitions"))

    def scan():
        return spark.read.parquet(input_path)

    def shuffled():
        return with_bucket_and_salt(scan(), NUM_BUCKETS).repartition(n, "bucket", "salt")

    def sort():
        return shuffled().withColumn("_s", sorted_spans(F.col("spans")))

    def lang():
        return add_detected_language(
            sort().withColumn("_smp", text_sample(F.col("_s"))), "_smp", "lang"
        )

    cuts = {
        "scan": scan,
        "shuffle": shuffled,
        "sort": sort,
        "lang": lang,
        "normalize": lambda: normalize_documents(shuffled()),
        "extract": lambda: extract_documents(shuffled()),
    }
    samples = defaultdict(list)
    codegen = []
    for _ in range(CUT_REPEATS):
        for name, build in cuts.items():
            qe = build()._jdf.queryExecution()
            t0 = time.perf_counter()
            qe.toRdd().count()
            samples[name].append(time.perf_counter() - t0)
            if name == "normalize":
                codegen.append(
                    sum(
                        m.get("pipelineTime", 0)
                        for _n, m, below in walk_plan(qe.executedPlan())
                        if not below
                    )
                )
    return dict(samples), codegen


def partition_span_skew(spark, input_path: str) -> float:
    """Largest shuffle partition's spans over the mean, after run_pipeline's
    (bucket, salt) repartition."""
    from pyspark.sql import functions as F

    from pdf_extractor_spark.pipeline import with_bucket_and_salt

    n = int(spark.conf.get("spark.sql.shuffle.partitions"))
    parts = (
        with_bucket_and_salt(spark.read.parquet(input_path), NUM_BUCKETS)
        .repartition(n, "bucket", "salt")
        .select(F.spark_partition_id().alias("p"), F.size("spans").alias("k"))
        .groupBy("p")
        .agg(F.sum("k").alias("k"))
        .collect()
    )
    spans = [r["k"] for r in parts]
    return max(spans) / (sum(spans) / n)


def _per_item(fn, items: int) -> float:
    """Median seconds of KERNEL_REPEATS calls of fn, per item."""
    times = []
    for _ in range(KERNEL_REPEATS):
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    return statistics.median(times) / max(items, 1)


def oracle_kernels(spark, input_path: str, doc_ids: list[str]) -> dict:
    """Time the fused UDF's kernels on the driver over the normalized
    `all_text` of the sampled docs, in the order the UDF runs them."""
    import pandas as pd
    from pyspark.sql import functions as F

    from pdf_extractor_spark.config import load_patterns, load_schemas, load_templates
    from pdf_extractor_spark.operators.spans import normalize_documents
    from pdf_extractor_spark.operators.validate import AUTO_TEMPLATE_MIN_CONFIDENCE
    from pdf_extractor_spark.oracle.classifier import (
        classify_by_rules,
        fuse_classification,
        keyword_presence_batch,
    )
    from pdf_extractor_spark.oracle.template import extract_template_fields
    from pdf_extractor_spark.oracle.validator import eval_condition_sql_batch, validate_data

    docs = spark.read.parquet(input_path).filter(F.col("doc_id").isin(doc_ids))
    texts = pd.Series(
        [r["all_text"] for r in normalize_documents(docs).select("all_text").collect()]
    )
    pats, templates, schemas = load_patterns(), load_templates(), load_schemas()
    kws = tuple(sorted({kw for p in pats.values() for kw in p.keywords}))

    presence = keyword_presence_batch(texts, kws)
    keyword_s = _per_item(lambda: keyword_presence_batch(texts, kws), len(texts))

    def classify():
        return [
            fuse_classification(*classify_by_rules(t, pats, present=p))
            for t, p in zip(texts, presence)
        ]

    labels = classify()
    classify_s = _per_item(classify, len(texts))

    todo = [
        (t, templates[dt], schemas.get(f"{dt}_schema"))
        for t, (dt, conf) in zip(texts, labels)
        if dt in templates and t and conf > AUTO_TEMPLATE_MIN_CONFIDENCE
    ]
    fields = [extract_template_fields(t, tpl) for t, tpl, _s in todo]
    template_s = _per_item(
        lambda: [extract_template_fields(t, tpl) for t, tpl, _s in todo], len(todo)
    )
    checked = [(f, s) for f, (_t, _tpl, s) in zip(fields, todo) if s is not None]
    validate_s = _per_item(
        lambda: [validate_data(f, s, apply_custom=False) for f, s in checked], len(checked)
    )

    custom_s = 0.0
    if checked:
        schema = checked[0][1]
        batch = [checked[k % len(checked)][0] for k in range(ORACLE_BATCH)]
        custom_s = _per_item(
            lambda: [
                eval_condition_sql_batch(cv["condition_sql"], batch, schema)
                for cv in schema.custom_validations
            ],
            1,
        )
    return {
        "oracle.keyword_presence_us_per_doc": keyword_s * 1e6,
        "oracle.classify_us_per_doc": classify_s * 1e6,
        "oracle.template_us_per_doc": template_s * 1e6,
        "oracle.validate_us_per_doc": validate_s * 1e6,
        "oracle.custom_sql_ms_per_batch": custom_s * 1e3,
    }
