"""Hand-computed parity for the round-5 graph additions: Adamic-Adar
link prediction, degree assortativity, and modularity of the LPA
communities.

Fixture graph (undirected): a path 1-2-3 plus a 4-clique {4,5,6,7}
bridged to the path by edge 3-4.

    1 - 2 - 3 - 4 - 5
                | X |
                6 - 7     (4,5,6,7 all mutually linked)
"""
import pytest
from pyspark.sql import functions as F

from pdf_extractor_spark.operators.graph import (
    adamic_adar_topk,
    degree_assortativity,
    modularity,
)

EDGES = [
    ("n1", "n2"),
    ("n2", "n3"),
    ("n3", "n4"),
    ("n4", "n5"),
    ("n4", "n6"),
    ("n4", "n7"),
    ("n5", "n6"),
    ("n5", "n7"),
    ("n6", "n7"),
]


@pytest.fixture(scope="module")
def edges(spark):
    return spark.createDataFrame(EDGES, "src string, dst string")


def test_adamic_adar_hand_computed(edges):
    rows = {
        (r.host_a, r.host_b): (r.common_neighbors, r.aa_score)
        for r in adamic_adar_topk(edges).collect()
    }
    import math

    # n1-n3 share only n2 (deg 2): score = 1/ln(2)
    assert rows[("n1", "n3")] == (1, round(1 / math.log(2), 6))
    # n2-n4 share only n3 (deg 2)
    assert rows[("n2", "n4")] == (1, round(1 / math.log(2), 6))
    # n5-n6, n5-n7, n6-n7 are EDGES -> excluded (only open wedges scored)
    assert ("n5", "n6") not in rows
    # n3-n5 share n4 (deg 4): 1/ln(4)
    assert rows[("n3", "n5")] == (1, round(1 / math.log(4), 6))
    # n5 and n6 linked; but n5,n6 both neighbor n4 and n7 — still excluded
    # top score is the 1/ln(2) pairs
    top = adamic_adar_topk(edges).first()
    assert top.aa_score == round(1 / math.log(2), 6)


def test_adamic_adar_respects_top_n(edges):
    assert adamic_adar_topk(edges, top_n=2).count() == 2


def test_degree_assortativity_hand_computed(edges):
    # degrees: n1:1 n2:2 n3:2 n4:4 n5:3 n6:3 n7:3
    # directed stubs m=18; hand-checked Pearson over (dx, dy) pairs
    row = degree_assortativity(edges).first()
    assert row.n_edges == 9
    degs = {"n1": 1, "n2": 2, "n3": 2, "n4": 4, "n5": 3, "n6": 3, "n7": 3}
    pairs = []
    for a, b in EDGES:
        pairs.append((degs[a], degs[b]))
        pairs.append((degs[b], degs[a]))
    m = len(pairs)
    sx = sum(p[0] for p in pairs)
    sy = sum(p[1] for p in pairs)
    sxy = sum(p[0] * p[1] for p in pairs)
    sxx = sum(p[0] ** 2 for p in pairs)
    syy = sum(p[1] ** 2 for p in pairs)
    import math

    r = (m * sxy - sx * sy) / (
        math.sqrt(m * sxx - sx * sx) * math.sqrt(m * syy - sy * sy)
    )
    assert row.assortativity == round(r, 6)


def test_degree_assortativity_perfect_positive(spark):
    # two disjoint edges between equal-degree nodes: r undefined (all
    # degrees equal -> zero variance -> NULL, never a crash)
    e = spark.createDataFrame(
        [("a", "b"), ("c", "d")], "src string, dst string"
    )
    row = degree_assortativity(e).first()
    assert row.assortativity is None


def test_modularity_two_cliques(spark):
    # two triangles joined by one bridge: LPA(min-label, 2 iters) floods
    # everything to the single min label -> one community, Q = 0 - ...
    # use a DISCONNECTED pair of triangles so communities stay separate
    e = spark.createDataFrame(
        [
            ("a1", "a2"),
            ("a1", "a3"),
            ("a2", "a3"),
            ("b1", "b2"),
            ("b1", "b3"),
            ("b2", "b3"),
        ],
        "src string, dst string",
    )
    row = modularity(e).first()
    # each triangle: intra directed = 6, dc = 6; M = 12
    # Q = (M*intra_total - sum dc^2)/M^2 = (12*12 - 72)/144 = 0.5
    assert row.communities == 2
    assert row.n_edges == 6
    assert row.q_modularity == pytest.approx(0.5)


def test_modularity_path_clique_fixture(edges):
    # 2-iteration min-label LPA on the diameter-4 fixture settles at
    # {n1,n2,n3}->n1, {n4}->n2, {n5,n6,n7}->n3 (hand-traced). Stubs
    # M=18; intra = 4 (path prefix) + 0 (n4 alone) + 6 (clique face) = 10;
    # sum dc^2 = 5^2 + 4^2 + 9^2 = 122 -> Q = (18*10 - 122)/324 = 58/324.
    row = modularity(edges).first()
    assert row.communities == 3
    assert row.q_modularity == round(58 / 324, 6)


def test_degenerate_graphs_never_crash(spark):
    # empty edge set and a self-loop-only graph: every operator returns
    # empty / NULL-metric rows instead of tripping an ANSI division
    from pdf_extractor_spark.operators.graph import clustering_coefficient

    empty = spark.createDataFrame([], "src string, dst string")
    loop = spark.createDataFrame([("a", "a")], "src string, dst string")
    for g in (empty, loop):
        assert adamic_adar_topk(g).count() == 0
        assert clustering_coefficient(g).count() == 0
        da = degree_assortativity(g).first()
        assert da.n_edges == 0 and da.assortativity is None
        q = modularity(g).first()
        assert q.communities == 0 and q.q_modularity is None


def _join_output_rows(df):
    """(join type, has condition, numOutputRows) for every join of the
    AQE-final executed plan, after running the query once."""
    qe = df._jdf.queryExecution()
    qe.toRdd().count()

    def children(p):
        it = p.children().iterator()
        while it.hasNext():
            yield it.next()

    def walk(p):
        cls = p.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            yield from walk(p.executedPlan())
        elif cls.endswith("QueryStageExec"):
            yield from walk(p.plan())
        else:
            yield p
            for c in children(p):
                yield from walk(c)

    return [
        (
            p.joinType().toString(),
            p.condition().isDefined(),
            p.metrics().get("numOutputRows").get().value(),
        )
        for p in walk(qe.executedPlan())
        if "Join" in p.nodeName()
    ]


def test_adamic_adar_pivot_cap_bounds_wedge_join(spark):
    # hub h linked to every node of the 60-node path n0-...-n59. With
    # max_pivot_degree=10 the hub (deg 60) is no pivot, so the wedge
    # self-join emits one u<v wedge for each of n0, n59 (deg 2) and
    # three for each of n1..n58 (deg 3): 2 + 58*3 = 176. Capping after
    # the join instead would still emit the hub's C(60,2) = 1,770.
    import math
    from collections import defaultdict

    cap = 10
    path = [f"n{i}" for i in range(60)]
    edges = [("h", n) for n in path] + list(zip(path, path[1:]))
    df = adamic_adar_topk(
        spark.createDataFrame(edges, "src string, dst string"),
        top_n=10_000,
        max_pivot_degree=cap,
    )
    wedge = [rows for jt, cond, rows in _join_output_rows(df)
             if jt == "Inner" and cond]
    assert wedge == [176]

    nbrs = defaultdict(set)
    for a, b in edges:
        nbrs[a].add(b)
        nbrs[b].add(a)
    want = set()
    nodes = sorted(nbrs)
    for i, u in enumerate(nodes):
        for v in nodes[i + 1:]:
            if v in nbrs[u]:
                continue
            ws = [w for w in nbrs[u] & nbrs[v] if len(nbrs[w]) <= cap]
            if ws:
                score = sum(1 / math.log(len(nbrs[w])) for w in ws)
                want.add((u, v, len(ws), round(score, 6)))
    got = {
        (r.host_a, r.host_b, r.common_neighbors, r.aa_score)
        for r in df.collect()
    }
    assert got == want
