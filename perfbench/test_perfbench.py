"""Tests of the benchmark's own code: seeded generators and the plan walker.

    python3 -m pytest perfbench/test_perfbench.py -q
"""

import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
sys.path[:0] = [str(HERE), str(HERE.parent)]

import workloads  # noqa: E402


@pytest.mark.parametrize(
    "gen, n",
    [(workloads.mixed_rows, 2000), (workloads.whale_rows, 3), (workloads.invoice_rows, 50)],
)
def test_generators_are_pure_functions_of_the_seed(gen, n):
    first = gen(7, n)
    assert first == gen(7, n)
    assert first != gen(8, n)
    assert len({d for d, _ in first}) == len(first) == n


def test_whales_cover_every_stratum_of_the_tail():
    n = 8
    width = (workloads.WHALE_MAX_SPANS - workloads.WHALE_MIN_SPANS + 1) / n
    for seed in (1, 2):
        sizes = sorted(len(s) for _, s in workloads.whale_rows(seed, n))
        strata = [int((k - workloads.WHALE_MIN_SPANS) / width) for k in sizes]
        assert strata == list(range(n))


def test_mixed_holds_the_production_whale_rate():
    rows = workloads.mixed_rows(3, 3000)
    whales = [d for d, s in rows if len(s) >= workloads.WHALE_MIN_SPANS]
    assert len(rows) == 3000 and len(whales) == 3


@pytest.fixture(scope="module")
def spark():
    from run import put_repo_on_worker_path

    from pdf_extractor_spark.session import build_session

    put_repo_on_worker_path()
    spark = build_session(
        "perfbench_tests", master="local[2]", extra_conf={"spark.driver.memory": "1g"}
    )
    yield spark
    spark.stop()


def test_plan_walker_finds_python_and_exchange_nodes(spark, tmp_path):
    import layers

    from pdf_extractor_spark.pipeline import extract_documents, with_bucket_and_salt

    path = str(tmp_path / "docs")
    workloads.write_parquet(workloads.invoice_rows(1, 40), path, files=2)
    docs = with_bucket_and_salt(spark.read.parquet(path), workloads.NUM_BUCKETS)
    qe = extract_documents(docs.repartition(2, "bucket", "salt"))._jdf.queryExecution()
    qe.toRdd().count()

    nodes = list(layers.walk_plan(qe.executedPlan()))
    names = [name for name, _m, _below in nodes]
    python = [m for name, m, _below in nodes if name == "ArrowEvalPython"]
    assert len(python) == 1 and python[0]["pythonDataSent"] > 0
    assert any("Exchange" in name for name in names)
    # nodes under the exchange are flagged, the python node is above it
    assert any(below for _n, _m, below in nodes)
    assert not [b for name, _m, b in nodes if name == "ArrowEvalPython"][0]
