"""Wave pruning on a bucket-partitioned input (round-1 verdict #9): with
write-time bucket partitioning (the Iceberg bucket-transform analog),
each wave's `bucket IN (...)` filter prunes at the scan instead of
re-reading the full corpus — and results are identical to the
unpartitioned path.

Wave placement: each shuffle task holds a contiguous run of
(bucket, salt) keys, so a wave of W buckets over n tasks writes at most
W + n part files per table (a hash scatter writes ~W * n)."""

import glob
import os

import pytest
from pyspark.sql import functions as F

from pdf_extractor_spark.pipeline import (
    place_wave,
    run_pipeline,
    write_bucketed_input,
)
from pdf_extractor_spark.sources.corpus import SPANS_SCHEMA, corpus_rows


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (did, [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in spans])
        for did, spans in corpus_rows(200)
    ]
    return spark.createDataFrame(rows, SPANS_SCHEMA)


def test_bucketed_scan_prunes(spark, docs, tmp_path):
    path = str(tmp_path / "bucketed")
    write_bucketed_input(docs, path, num_buckets=8)
    b = spark.read.parquet(path)
    sub = b.filter(F.col("bucket").isin([0, 2]))
    plan = sub._jdf.queryExecution().executedPlan().toString()
    scan = next(l for l in plan.splitlines() if "FileScan" in l)
    # the bucket predicate must be a partition filter (prunes directories),
    # NOT a data filter (full scan + row filter)
    assert "DataFilters: []" in scan
    assert sub.count() < b.count()


def test_waves_prebucketed_matches_unpartitioned(spark, docs, tmp_path):
    path = str(tmp_path / "bucketed_in")
    write_bucketed_input(docs, path, num_buckets=8)
    pre = spark.read.parquet(path)

    out_a = str(tmp_path / "out_raw")
    out_b = str(tmp_path / "out_pre")
    run_pipeline(spark, docs, out_a, run_id="raw", num_buckets=8, waves=1)
    run_pipeline(spark, pre, out_b, run_id="pre", num_buckets=8, waves=2)

    a = {
        (r.doc_id, r.doc_type)
        for r in spark.read.parquet(out_a + "/extracted").collect()
    }
    b = {
        (r.doc_id, r.doc_type)
        for r in spark.read.parquet(out_b + "/extracted").collect()
    }
    assert a == b and len(a) == docs.count()


def _wave_files(out_dir, table, wave_buckets):
    return sum(
        len(glob.glob(os.path.join(out_dir, table, f"bucket={b}", "part-*")))
        for b in wave_buckets
    )


def _assert_wave_files(out_dir, wave_buckets, n):
    for table in ("extracted", "metrics"):
        files = _wave_files(out_dir, table, wave_buckets)
        assert 0 < files <= len(wave_buckets) + n, (table, wave_buckets, files)


def test_wave_writes_at_most_w_plus_n_files(spark, docs, tmp_path):
    n = int(spark.conf.get("spark.sql.shuffle.partitions"))
    out = str(tmp_path / "out")
    run_pipeline(spark, docs, out, run_id="p", num_buckets=8, waves=2)
    _assert_wave_files(out, [0, 2, 4, 6], n)
    _assert_wave_files(out, [1, 3, 5, 7], n)

    # a resumed wave whose bucket list has gaps: waves=4 commits buckets
    # {0, 4} and crashes; the waves=1 resume runs [1, 2, 3, 5, 6, 7]
    out = str(tmp_path / "resumed")
    with pytest.raises(RuntimeError, match="simulated failure"):
        run_pipeline(spark, docs, out, run_id="r", num_buckets=8, waves=4,
                     fail_after_wave=0)
    summary = run_pipeline(spark, docs, out, run_id="r", num_buckets=8,
                           waves=1)
    assert summary["waves_run"] == 1
    _assert_wave_files(out, [1, 2, 3, 5, 6, 7], n)
    assert spark.read.parquet(out + "/metrics").count() == docs.count()


@pytest.mark.parametrize("n", [4, 5])
@pytest.mark.parametrize(
    "wave_buckets, salts",
    [([0, 2, 4, 6], 8), ([1, 2, 3, 5, 6, 7], 8), ([2, 6], 2)],
)
def test_place_wave_keys_contiguous_and_balanced(spark, wave_buckets, salts, n):
    # three rows for every (bucket, salt) key of the wave
    keys = len(wave_buckets) * salts
    df = spark.range(3 * keys).select(
        F.element_at(
            F.array(*[F.lit(b) for b in wave_buckets]),
            (F.col("id") % keys / salts).cast("int") + 1,
        ).alias("bucket"),
        (F.col("id") % salts).cast("int").alias("salt"),
    )
    placed = place_wave(df, wave_buckets, salts, n).select(
        "bucket", "salt", F.spark_partition_id().alias("pid")
    )
    pids = {}
    for r in placed.collect():
        pids.setdefault((r.bucket, r.salt), set()).add(r.pid)
    assert len(pids) == keys
    # a key never splits across tasks
    assert all(len(p) == 1 for p in pids.values())
    # each task holds a contiguous run of keys in (rank, salt) order
    order = sorted(pids, key=lambda k: (wave_buckets.index(k[0]), k[1]))
    ranked = [next(iter(pids[k])) for k in order]
    assert ranked == sorted(ranked)
    # key counts per task differ by at most 1
    per_task = [ranked.count(p) for p in range(n)]
    assert max(per_task) - min(per_task) <= 1, per_task
