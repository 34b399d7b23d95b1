"""Exact connected components (graph.connected_components — hash-to-min
with pointer doubling to a fixpoint): hand-checkable toy graphs,
convergence beyond label_propagation's fixed rounds on a long path, and
the undirected-closure / self-loop edge cases."""

from pyspark.sql import functions as F


def _edges(spark, pairs):
    return spark.createDataFrame(pairs, "src string, dst string")


def test_cc_two_components_toy(spark):
    from pdf_extractor_spark.operators.graph import connected_components

    out = connected_components(
        _edges(spark, [("a", "b"), ("b", "c"), ("x", "y")])
    ).collect()
    comp = {r.host: (r.component, r.component_size) for r in out}
    assert comp == {
        "a": ("a", 3),
        "b": ("a", 3),
        "c": ("a", 3),
        "x": ("x", 2),
        "y": ("x", 2),
    }


def test_cc_long_path_converges(spark):
    """A 40-node path has diameter 39 — fixed-round min propagation
    (label_propagation's 2 rounds) cannot label it correctly; the
    pointer-doubling fixpoint must: every node gets the single min."""
    from pdf_extractor_spark.operators.graph import connected_components

    n = 40
    pairs = [(f"n{i:03d}", f"n{i + 1:03d}") for i in range(n - 1)]
    out = connected_components(_edges(spark, pairs)).collect()
    assert len(out) == n
    assert all(r.component == "n000" and r.component_size == n for r in out)


def test_cc_direction_and_self_loops_ignored(spark):
    """Edges are undirected (closure taken internally) and self-loops
    drop out: a<-b plus c->c yields one 2-component, no c node (c has
    no non-loop edge, so it never enters the node set)."""
    from pdf_extractor_spark.operators.graph import connected_components

    out = connected_components(
        _edges(spark, [("b", "a"), ("c", "c")])
    ).collect()
    comp = {r.host: (r.component, r.component_size) for r in out}
    assert comp == {"a": ("a", 2), "b": ("a", 2)}


def test_cc_lexicographic_min_is_component_id(spark):
    """Host ids compare as strings: 'h10' < 'h2', so the component id
    of {h2, h10} is h10 — the binary-collation contract both engines
    share."""
    from pdf_extractor_spark.operators.graph import connected_components

    out = connected_components(_edges(spark, [("h2", "h10")])).collect()
    assert {r.component for r in out} == {"h10"}


def test_cc_matches_bruteforce_on_seeded_graph(spark):
    """The entry wrapper's chain-with-bridges shape at toy scale vs a
    python union-find ground truth."""
    from pdf_extractor_spark.operators.graph import connected_components

    pairs = []
    for d in range(120):
        u = d % 60
        if u % 11 != 10:
            pairs.append((f"h{u}", f"h{u + 1}"))
        if u % 13 == 3:
            pairs.append((f"h{u}", f"h{u + 7}"))
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        if a != b:
            parent[find(a)] = find(b)
    truth = {}
    for node in parent:
        truth.setdefault(find(node), set()).add(node)
    want = {}
    for members in truth.values():
        cid = min(members)
        for n in members:
            want[n] = (cid, len(members))

    out = connected_components(_edges(spark, pairs)).collect()
    got = {r.host: (r.component, r.component_size) for r in out}
    assert got == want


def test_cc_contract_matches_iterative_on_seeded_graph(spark):
    """Star contraction (multi-group recursion exercised: n_groups=8,
    fanin=2 -> 4 levels) computes the identical partition to the
    iterative fixpoint — and both match union-find ground truth."""
    from pdf_extractor_spark.operators.graph import (
        connected_components,
        connected_components_contract,
    )

    pairs = []
    for d in range(120):
        u = d % 60
        if u % 11 != 10:
            pairs.append((f"h{u}", f"h{u + 1}"))
        if u % 13 == 3:
            pairs.append((f"h{u}", f"h{u + 7}"))
    e = _edges(spark, pairs)
    it = {
        r.host: (r.component, r.component_size)
        for r in connected_components(e).collect()
    }
    ct = {
        r.host: (r.component, r.component_size)
        for r in connected_components_contract(
            e, n_groups=8, fanin=2
        ).collect()
    }
    assert it == ct


def test_cc_contract_long_path_single_group(spark):
    from pdf_extractor_spark.operators.graph import (
        connected_components_contract,
    )

    n = 40
    pairs = [(f"n{i:03d}", f"n{i + 1:03d}") for i in range(n - 1)]
    out = connected_components_contract(
        _edges(spark, pairs), n_groups=1
    ).collect()
    assert len(out) == n
    assert all(r.component == "n000" and r.component_size == n for r in out)


def test_np_cc_vectorized_union_find():
    """The numpy Shiloach-Vishkin kernel against a python union-find on
    a deterministic pseudo-random graph."""
    import numpy as np

    from pdf_extractor_spark.operators.graph import _np_cc

    n = 300
    a = np.array([(7 * i + 3) % n for i in range(200)], dtype=np.int64)
    b = np.array([(11 * i + 5) % (i + 1) for i in range(200)], dtype=np.int64)
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for x, y in zip(a.tolist(), b.tolist()):
        parent[find(x)] = find(y)
    roots = _np_cc(a, b, n)
    # same partition: map python roots -> min member, numpy roots are
    # already min members within each component
    comp = {}
    for x in range(n):
        comp.setdefault(find(x) if x in parent else x, []).append(x)
    want = {}
    for members in comp.values():
        m = min(members)
        for x in members:
            want[x] = m
    assert [want[x] for x in range(n)] == roots.tolist()


def test_cc_incremental_merges_batch_exactly(spark):
    """Base = two chains; batch = one bridge merging them + one edge
    introducing two brand-new hosts. Incremental result must equal the
    batch recompute over the union, untouched components must keep
    their label, and new hosts must appear."""
    from pdf_extractor_spark.operators.graph import (
        connected_components,
        connected_components_contract,
        connected_components_incremental,
    )

    old = _edges(
        spark, [("a", "b"), ("b", "c"), ("p", "q"), ("x", "y")]
    )
    batch = _edges(spark, [("c", "p"), ("m", "n")])
    base = connected_components_contract(old, n_groups=1).select(
        "host", "component"
    )
    got = {
        r.host: (r.component, r.component_size)
        for r in connected_components_incremental(
            base, batch, n_groups=1
        ).collect()
    }
    full = {
        r.host: (r.component, r.component_size)
        for r in connected_components(
            _edges(
                spark,
                [("a", "b"), ("b", "c"), ("p", "q"), ("x", "y"),
                 ("c", "p"), ("m", "n")],
            )
        ).collect()
    }
    assert got == full
    # untouched component keeps its label; new hosts present
    assert got["x"] == ("x", 2)
    assert got["m"] == ("m", 2) and got["n"] == ("m", 2)
    # merged component spans both old chains
    assert got["q"] == ("a", 5)


def test_cc_long_node_ids_keep_numeric_order(spark):
    """Node ids need only a total order: `long` ids compare numerically
    (2 < 9 < 10), and every variant hands them back as longs."""
    from pdf_extractor_spark.operators.graph import (
        connected_components,
        connected_components_contract,
        connected_components_incremental,
    )

    e = spark.createDataFrame([(2, 10), (10, 9)], "src long, dst long")
    want = {2: (2, 3), 9: (2, 3), 10: (2, 3)}
    for out in (
        connected_components(e),
        connected_components_contract(e, n_groups=1),
        # empty base assignment: every endpoint enters as a new host
        connected_components_incremental(
            connected_components_contract(e.limit(0), n_groups=1).select(
                "host", "component"
            ),
            e,
        ),
    ):
        got = {r.host: (r.component, r.component_size) for r in out.collect()}
        assert got == want
