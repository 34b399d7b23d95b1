"""Benchmark harness (driver contract).

Runs the headline queries at $SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1)
on local[$SPARK_GRAFT_CPUS] and prints ONE JSON line:

    {"metric": "...", "value": <total sec>, "unit": "sec",
     "queries": {name: sec, ...}, "sf": <sf>,
     "extraction_docs_per_sec": N, ...}

Each query is forced with a noop sink (full computation, no driver
collect) so the measured time is the distributed plan, not toPandas().
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import __spark_entry__ as entry  # noqa: E402

# Headline set: every catalog query, in catalog order, except NOT_HEADLINE.
# The excluded ones are mostly thin scans, aggregates and projections (the
# dashboard §2.7 analytics among them) whose plan shape a headline sibling
# already exercises, so timing them adds run time but no coverage.
NOT_HEADLINE = {
    "approx_distinct_users", "approx_value_quantiles", "avg_purchase_value",
    "avg_time_tiers", "click_not_purchase_users", "count_by_date",
    "dedup_apply", "distinct_types", "events_pivot", "grouped_mean_value",
    "hash_sample", "html_blocks", "kpis", "lang_name", "layout_order",
    "media_meta", "media_resize", "model_accuracy", "moving_avg_daily",
    "preprocess_text", "recent_events", "success_rate", "top_error_props",
    "value_quantiles",
}
HEADLINE = [n for n in entry.queries() if n not in NOT_HEADLINE]


def _force(df) -> int:
    """Fully evaluate a DataFrame without materializing on the driver."""
    df.write.format("noop").mode("overwrite").save()
    return 0


# Host-contention canary (round-4 verdict #2): a fixed cheap reference
# query (tpch_q6: one scan + one agg, untouched since round 1) is timed
# best-of-2 at bench start, middle, and end. Its quiet-host floor at
# sf0.1 / local[32] is committed here (measured best-of-3 warm, see
# BENCH.md "Contention canary"); if any sample drifts past
# floor x CANARY_DRIFT the emitted JSON is marked "contended": true —
# a polluted driver round then reads as contention, not as a code
# regression (round 4's 216.8s headline was exactly this artifact).
CANARY_QUERY = "tpch_q6"
CANARY_FLOOR_SEC = 0.30
CANARY_DRIFT = 1.3


def canary_contended(samples, floor=CANARY_FLOOR_SEC, drift=CANARY_DRIFT):
    """True when any canary sample exceeds the quiet-host floor by more
    than the drift factor. Pure so the contract test can pin it."""
    return any(s > floor * drift for s in samples)


def _time_best_of_2(fn, spark, sf_dir) -> float:
    best = float("inf")
    for _ in range(2):
        t0 = time.perf_counter()
        _force(fn(spark, sf_dir))
        best = min(best, time.perf_counter() - t0)
    return round(best, 3)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    try:
        sf = float(os.path.basename(sf_dir.rstrip("/")).replace("sf", ""))
    except ValueError:
        sf = -1.0

    from pdf_extractor_spark.session import build_session

    spark = build_session(
        "bench", master=f"local[{cpus}]", shuffle_partitions=cpus
    )

    qmap = entry.queries()
    timings: dict[str, float] = {}
    n_docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet")).count()

    # untimed warmup: spawn the Python UDF workers on every core and let the
    # JVM JIT the scan/agg paths, so timings below are steady-state (what a
    # long-running cluster job sees), not process-start cost
    from pyspark.sql import types as T
    from pyspark.sql.functions import pandas_udf

    @pandas_udf(T.LongType())
    def _noop_udf(s):
        return s

    warm = spark.range(0, cpus * 4, 1, cpus).select(_noop_udf("id").alias("x"))
    _force(warm)
    _force(qmap["extract_pipeline"](spark, sf_dir))
    print("[bench] warmup done", file=sys.stderr, flush=True)

    # the committed canary floor is only meaningful at the configuration
    # it was measured at; at other sf/cpus the canary still reports its
    # samples but draws no contended verdict
    canary_applicable = abs(sf - 0.1) < 1e-9 and cpus == 32
    canary_samples: list[float] = []

    loadavg_samples: list[float] = []

    def _canary_sample() -> None:
        canary_samples.append(
            _time_best_of_2(qmap[CANARY_QUERY], spark, sf_dir)
        )
        # 1-min loadavg alongside each canary sample: a contended verdict
        # with loadavg ~0 is the hypervisor-budget phase (BENCH.md), one
        # with high loadavg is visible co-tenancy — different remedies
        loadavg_samples.append(round(os.getloadavg()[0], 2))
        print(
            f"[bench] canary {CANARY_QUERY}: {canary_samples[-1]}s "
            f"(load {loadavg_samples[-1]})",
            file=sys.stderr, flush=True,
        )

    # untimed canary warmup: the start sample must measure the HOST, not
    # this query's first-ever codegen (measured 0.337s cold vs 0.14-0.15s
    # for the mid/end samples on the same uncontended run — 0.05s from a
    # false trip at floor x drift = 0.39s)
    _force(qmap[CANARY_QUERY](spark, sf_dir))
    _canary_sample()

    # best-of-2: the first run pays codegen/JIT compilation for the query's
    # generated code paths; the second measures steady state (what the
    # 100 TB job sees, where compile cost amortizes over hours)
    for i, name in enumerate(HEADLINE):
        if i == len(HEADLINE) // 2:
            _canary_sample()
        timings[name] = _time_best_of_2(qmap[name], spark, sf_dir)
        print(f"[bench] {name}: {timings[name]}s", file=sys.stderr, flush=True)

    _canary_sample()
    contended = (
        canary_contended(canary_samples) if canary_applicable else None
    )

    total = round(sum(timings.values()), 3)
    extraction_dps = (
        round(n_docs / timings["extract_pipeline"], 2)
        if timings.get("extract_pipeline")
        else None
    )

    print(
        json.dumps(
            {
                "metric": "headline query wall time at sf (sum of best-of-2 per query)",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "sf": sf,
                "n_headline": len(HEADLINE),
                "extraction_docs": n_docs,
                "extraction_docs_per_sec": extraction_dps,
                "canary": {
                    "query": CANARY_QUERY,
                    "floor_sec": CANARY_FLOOR_SEC,
                    "drift_threshold": CANARY_DRIFT,
                    "samples": canary_samples,
                    "loadavg_1m": loadavg_samples,
                    "applicable": canary_applicable,
                },
                "contended": contended,
                "cpus": cpus,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
