"""bench.py and query-catalog contract invariants: every headline name
resolves to a real queries() entry (a typo would silently drop a query from
the per-round bench measurement), each query sits in exactly one CATALOG
family, every query but the pipeline has an oracle, and OPERATORS.md is what
the catalog renders."""


def test_headline_subset_of_queries():
    import bench

    import __spark_entry__ as entry

    qs = set(entry.queries())
    missing = [n for n in bench.HEADLINE if n not in qs]
    assert missing == []


def test_headline_has_no_duplicates():
    import bench

    assert len(bench.HEADLINE) == len(set(bench.HEADLINE))


def test_canary_query_is_a_headline_query():
    import bench

    import __spark_entry__ as entry

    assert bench.CANARY_QUERY in entry.queries()
    assert bench.CANARY_QUERY in bench.HEADLINE


def test_canary_contended_thresholds():
    import bench

    floor, drift = bench.CANARY_FLOOR_SEC, bench.CANARY_DRIFT
    # exactly at the threshold is NOT contended; past it is
    assert not bench.canary_contended([floor, floor * drift, floor])
    assert bench.canary_contended([floor, floor * drift + 0.001, floor])
    # a single polluted sample anywhere in the run trips the flag
    assert bench.canary_contended([floor * 1.7, floor, floor])
    assert not bench.canary_contended([])


def test_canary_floor_is_the_committed_quiet_host_number():
    # the floor is a measured constant (BENCH.md "Contention canary");
    # pin it so an accidental edit can't silently widen the gate
    import bench

    assert bench.CANARY_QUERY == "tpch_q6"
    assert 0.1 <= bench.CANARY_FLOOR_SEC <= 0.6
    assert 1.0 < bench.CANARY_DRIFT <= 1.5


def test_catalog_families_are_disjoint():
    import __spark_entry__ as entry

    n_entries = sum(len(members) for members in entry.CATALOG.values())
    assert n_entries == len(entry.queries())


def test_every_query_but_the_pipeline_has_an_oracle():
    import __spark_entry__ as entry

    qs, oracles = set(entry.queries()), set(entry.oracle_sql())
    assert oracles <= qs
    assert qs - oracles == {"extract_pipeline"}


def test_not_headline_names_are_queries():
    import bench

    import __spark_entry__ as entry

    assert bench.NOT_HEADLINE <= set(entry.queries())


def test_operators_md_is_fresh():
    from tools.gen_operator_docs import OUT, render

    with open(OUT) as f:
        committed = f.read()
    assert committed == render(), (
        "OPERATORS.md is stale; run python tools/gen_operator_docs.py"
    )
