"""The write-once index-state store behind the queries' centroids,
codebooks, trained rules and persisted parquet artifacts: one build per
(artifact, corpus, parameters) key, and a persisted artifact is a parquet
directory that reads back what was built."""

import os

import pytest

import __spark_entry__ as entry


@pytest.fixture
def store(monkeypatch):
    fresh = {}
    monkeypatch.setattr(entry, "_INDEX_STATE", fresh)
    return fresh


def _counting(log):
    def build(*params):
        log.append(params)
        return ("built", *params)

    return build


def test_index_state_builds_once_per_key(store, tmp_path):
    calls = []
    build = _counting(calls)
    a, b = str(tmp_path / "a"), str(tmp_path / "b")

    first = entry._index_state("art", a, build, 16, 2)
    for _ in range(3):
        assert entry._index_state("art", a, build, 16, 2) is first
    # the same corpus reached through another spelling of its path
    assert entry._index_state("art", a + "/./", build, 16, 2) is first
    assert calls == [(16, 2)]

    # other parameters, corpus or artifact name: a separate build each
    assert entry._index_state("art", a, build, 8, 2) == ("built", 8, 2)
    assert entry._index_state("art", b, build, 16, 2) is not first
    assert entry._index_state("other", a, build, 16, 2) is not first
    assert calls == [(16, 2), (8, 2), (16, 2), (16, 2)]
    assert len(store) == 4


def test_persisted_writes_once_and_reads_back(spark, store, tmp_path):
    from pyspark.sql import functions as F

    calls = []
    sf = str(tmp_path)

    def build(n):
        calls.append(n)
        return spark.range(n).select(
            F.col("id"), (F.col("id") * 3).alias("x")
        )

    df = entry._persisted(spark, "tiny_table", sf, build, 5)
    again = entry._persisted(spark, "tiny_table", sf, build, 5)
    assert calls == [5]

    path = store[("tiny_table", os.path.abspath(sf), 5)]
    assert os.path.isdir(path) and os.path.basename(path) == "tiny_table"
    want = sorted(tuple(r) for r in build(5).collect())
    assert sorted(tuple(r) for r in df.collect()) == want
    assert sorted(tuple(r) for r in again.collect()) == want

    other = entry._persisted(spark, "tiny_table", sf, build, 2)
    assert other.count() == 2
    assert store[("tiny_table", os.path.abspath(sf), 2)] != path
