"""Scale guards for the LSH dedup family (round-1 verdict items #3/#4):
a duplicate-heavy corpus — the NORMAL input for dedup — must not send any
single (band, bucket) or (combo, key) group quadratic. The guards drop
oversized buckets; exact duplicates remain exact_dedup's job.
"""

import pytest

from pyspark.sql import functions as F

from pdf_extractor_spark.operators.dedup import (
    minhash_bucket_stats,
    minhash_lsh_pairs,
    simhash_neardup_pairs,
)


@pytest.fixture(scope="module")
def dup_heavy(spark):
    """200 exact copies of one document + 20 distinct documents."""
    dup = "spark shuffles partitions across the cluster stage by stage"
    rows = [(i, dup) for i in range(200)]
    rows += [
        (1000 + i, f"distinct document number {i} with its own words {i * 7}")
        for i in range(20)
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_minhash_hot_bucket_guard_bounds_candidates(spark, dup_heavy):
    # uncapped: the 200-copy cluster alone is C(200,2) = 19,900 pairs
    uncapped = minhash_lsh_pairs(dup_heavy, max_bucket=None, verify=False)
    assert uncapped.count() >= 19_900

    # capped: every bucket holding the duplicate cluster exceeds the cap
    # and is dropped, so no quadratic group survives
    capped = minhash_lsh_pairs(dup_heavy, max_bucket=50, verify=False)
    assert capped.count() < 1_000


def test_minhash_bucket_stats_reports_drops(spark, dup_heavy):
    stats = minhash_bucket_stats(dup_heavy, max_bucket=50).collect()
    assert len(stats) >= 1
    assert all(r.sz == 200 for r in stats)


def test_simhash_hot_bucket_guard_bounds_candidates(spark, dup_heavy):
    uncapped = simhash_neardup_pairs(dup_heavy, max_bucket=None)
    assert uncapped.count() >= 19_900

    capped = simhash_neardup_pairs(dup_heavy, max_bucket=50)
    assert capped.count() < 1_000


def test_simhash_completeness_parameter_guard(spark, dup_heavy):
    # pigeonhole completeness: max_hamming <= blocks - seg_match
    with pytest.raises(AssertionError):
        simhash_neardup_pairs(dup_heavy, max_hamming=5, blocks=6, seg_match=2)


def test_simhash_empty_docs_emit_no_pairs(spark):
    # round-1 advice: zero-token docs must not all collide at signature 0
    df = spark.createDataFrame(
        [(1, ""), (2, None), (3, "   "), (4, "real text here"),
         (5, "real text here")],
        ["doc_id", "text"],
    )
    pairs = simhash_neardup_pairs(df).collect()
    ids = {i for r in pairs for i in (r.id1, r.id2)}
    assert ids <= {4, 5}


def test_simhash_wider_keys_same_pairs(spark):
    # the scale knob changes the key width, not the result: any (blocks,
    # seg_match) with max_hamming <= blocks - seg_match finds the same pairs
    rows = [
        (1, "the quick brown fox jumps over the lazy dog today"),
        (2, "the quick brown fox jumps over the lazy cat today"),
        (3, "completely different content about spark partitions"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    a = sorted(
        (r.id1, r.id2, r.hamming)
        for r in simhash_neardup_pairs(df, blocks=6, seg_match=2).collect()
    )
    b = sorted(
        (r.id1, r.id2, r.hamming)
        for r in simhash_neardup_pairs(df, blocks=10, seg_match=4).collect()
    )
    assert a == b


def test_neardup_clusters_chain_and_singleton(spark):
    from pdf_extractor_spark.operators.dedup import neardup_clusters

    docs = spark.createDataFrame(
        [(i,) for i in range(1, 6)], ["doc_id"]
    )
    # chain 1-2-3 (transitive closure!), pair 4-5
    pairs = spark.createDataFrame(
        [(2, 3), (1, 2), (4, 5)], ["id1", "id2"]
    )
    got = {r.id: r.cluster for r in neardup_clusters(docs, pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 4, 5: 4}


def test_neardup_clusters_no_pairs_is_identity(spark):
    from pdf_extractor_spark.operators.dedup import neardup_clusters

    docs = spark.createDataFrame([(7,), (8,)], ["doc_id"])
    pairs = spark.createDataFrame([], "id1 long, id2 long")
    got = {r.id: r.cluster for r in neardup_clusters(docs, pairs).collect()}
    assert got == {7: 7, 8: 8}


def test_neardup_clusters_long_chain_is_one_cluster(spark):
    """A near-dup chain (i, i+1) is one duplicate class however long it
    is: every doc's cluster is the chain's min id. 31 docs is past what
    a 20-round one-hop propagation reaches; 201 docs is a 200-hop chain."""
    from pdf_extractor_spark.operators.dedup import neardup_clusters

    for n in (31, 201):
        docs = spark.createDataFrame([(i,) for i in range(n)], "doc_id long")
        pairs = spark.createDataFrame(
            [(i, i + 1) for i in range(n - 1)], "id1 long, id2 long"
        )
        got = {
            r.id: r.cluster for r in neardup_clusters(docs, pairs).collect()
        }
        assert got == {i: 0 for i in range(n)}


def test_minhash_star_mode_keeps_class_connected(spark, dup_heavy):
    from pdf_extractor_spark.operators.dedup import neardup_clusters

    # star: oversized buckets emit bucket-min -> member edges instead of
    # dropping — O(sz) candidates, exact-verified, full connectivity
    star = minhash_lsh_pairs(dup_heavy, max_bucket=50, oversize="star")
    pairs = star.collect()
    dup_ids = set(range(200))
    touched = {r.id1 for r in pairs} | {r.id2 for r in pairs}
    assert dup_ids <= touched
    # linear, not quadratic: the 200-copy class yields ~199 star edges,
    # nowhere near C(200,2) = 19,900
    assert len(pairs) < 1_000
    assert all(r.jaccard == 1.0 for r in pairs if r.id1 in dup_ids)

    # the downstream pipeline sees ONE duplicate class
    clusters = neardup_clusters(dup_heavy, star).collect()
    labels = {r.id: r.cluster for r in clusters}
    assert len({labels[i] for i in dup_ids}) == 1
    # distinct docs stay singletons
    assert all(labels[1000 + i] == 1000 + i for i in range(20))


def test_minhash_star_requires_verify(spark, dup_heavy):
    with pytest.raises(ValueError):
        minhash_lsh_pairs(
            dup_heavy, max_bucket=50, oversize="star", verify=False
        )


def test_simhash_star_mode_keeps_class_connected(spark, dup_heavy):
    star = simhash_neardup_pairs(dup_heavy, max_bucket=50, oversize="star")
    pairs = star.collect()
    dup_ids = set(range(200))
    touched = {r.id1 for r in pairs} | {r.id2 for r in pairs}
    assert dup_ids <= touched
    assert len(pairs) < 1_000  # linear star edges, not C(200,2)
    assert all(r.hamming == 0 for r in pairs if r.id1 in dup_ids)


def test_incremental_minhash_pairs_cross_split_only(spark):
    from pyspark.sql import functions as F

    from pdf_extractor_spark.operators.dedup import incremental_minhash_pairs

    base = "the quick brown fox jumps over the lazy sleeping dog tonight"
    rows = [
        # index side: two docs, one a near-dup of a batch doc
        (1, base, "idx"),
        (2, "completely different content with no shared shingles here at all", "idx"),
        # batch side: 10 = near-dup of 1 (one token changed), 11 = exact dup
        # of 2? no — 11 unique, 12 = near-dup of 2? keep one clean positive
        (10, base.replace("tonight", "today"), "new"),
        (11, "unrelated fresh text that matches nothing in the index corpus", "new"),
        # batch-internal near-dups must NOT pair (probe is batch-vs-index)
        (12, "unrelated fresh text that matches nothing in the index corpuz", "new"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    batch = docs.filter(F.col("source") == "new")
    index = docs.filter(F.col("source") == "idx")
    got = {
        (r.batch_id, r.index_id): r.jaccard
        for r in incremental_minhash_pairs(batch, index, threshold=0.5).collect()
    }
    assert set(got) == {(10, 1)}
    assert 0.5 <= got[(10, 1)] <= 1.0


def test_incremental_minhash_hot_bucket_cap(spark):
    from pyspark.sql import functions as F

    from pdf_extractor_spark.operators.dedup import incremental_minhash_pairs

    # 30 exact copies in the index: every bucket they share blows the cap,
    # so a probing copy in the batch yields NO pairs under a tiny cap
    # (exact dups are incremental_dedup's job) but pairs without the cap
    text = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    idx_rows = [(i, text, "idx") for i in range(30)]
    docs = spark.createDataFrame(idx_rows + [(100, text, "new")],
                                 "doc_id long, text string, source string")
    batch = docs.filter(F.col("source") == "new")
    index = docs.filter(F.col("source") == "idx")
    capped = incremental_minhash_pairs(batch, index, max_bucket=5)
    assert capped.count() == 0
    uncapped = incremental_minhash_pairs(batch, index, max_bucket=None)
    assert uncapped.count() == 30


def test_incremental_minhash_precomputed_index_equivalent(spark):
    from pyspark.sql import functions as F

    from pdf_extractor_spark.operators.dedup import (
        _banded_buckets,
        incremental_minhash_pairs,
        minhash_signatures,
    )

    base = "the quick brown fox jumps over the lazy sleeping dog tonight"
    docs = spark.createDataFrame(
        [(1, base, "idx"), (2, "some other indexed corpus text body", "idx"),
         (10, base.replace("tonight", "today"), "new"),
         (11, "fresh unrelated arrival matching nothing indexed", "new")],
        "doc_id long, text string, source string",
    )
    batch = docs.filter(F.col("source") == "new")
    index = docs.filter(F.col("source") == "idx")
    # the artifact run_dedup --write-index persists
    sigs = minhash_signatures(index).filter(F.col("sig").isNotNull())
    buckets = _banded_buckets(sigs, bands=16, rows_per_band=4).select(
        "band", "bucket", F.col("id").alias("doc_id")
    )
    live = {
        tuple(r)
        for r in incremental_minhash_pairs(
            batch, index, threshold=0.5
        ).collect()
    }
    pre = {
        tuple(r)
        for r in incremental_minhash_pairs(
            batch, index, threshold=0.5, index_buckets=buckets
        ).collect()
    }
    assert live == pre and live  # identical and non-empty


def test_fuzzy_key_pairs_hand_computed(spark):
    from pdf_extractor_spark.operators.dedup import fuzzy_key_pairs

    left = spark.createDataFrame(
        [(1, "spark"), (2, "flint"), (3, "x")], "id long, key string"
    )
    right = spark.createDataFrame(
        [(10, "spak"), (11, "flint"), (12, "zzz"), (13, "")],
        "id long, key string",
    )
    got = {
        (r.id1, r.id2): r.edit_dist
        for r in fuzzy_key_pairs(left, right).collect()
    }
    # spark~spak: deletion, dist 1; flint==flint: dist 0; x~"": dist 1
    assert got == {(1, 10): 1, (2, 11): 0, (3, 13): 1}


def test_fuzzy_key_pairs_exact_recall_dist1(spark):
    from pdf_extractor_spark.operators.dedup import fuzzy_key_pairs

    keys = [
        "alpha", "alpa", "alphax", "blpha", "beta", "betta", "gamma",
        "gamm", "delta", "dalta", "delt", "deltaa", "epsilon",
    ]

    def lev(a, b):
        import functools

        @functools.lru_cache(maxsize=None)
        def d(i, j):
            if i == 0:
                return j
            if j == 0:
                return i
            return min(
                d(i - 1, j) + 1,
                d(i, j - 1) + 1,
                d(i - 1, j - 1) + (a[i - 1] != b[j - 1]),
            )

        return d(len(a), len(b))

    want = {
        (i, j): lev(a, b)
        for i, a in enumerate(keys)
        for j, b in enumerate(keys)
        if lev(a, b) <= 1
    }
    df = spark.createDataFrame(list(enumerate(keys)), "id long, key string")
    got = {
        (r.id1, r.id2): r.edit_dist
        for r in fuzzy_key_pairs(df, df).collect()
    }
    assert got == want  # exact recall AND no false positives at dist <= 1


def test_containment_catches_quotation_jaccard_misses(spark):
    """A short doc fully embedded in a long one: containment 1.0 even
    though Jaccard is far below any near-dup threshold."""
    from pdf_extractor_spark.operators.dedup import containment_pairs

    quote = "alpha beta gamma delta epsilon zeta eta"
    filler = " ".join(f"w{i} x{i} y{i}" for i in range(40))
    rows = [
        (1, quote),
        (2, filler + " " + quote + " " + filler.upper()),
        (3, "totally disjoint words live here now today ok"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {(r.id1, r.id2): r for r in containment_pairs(df, n=5, threshold=0.5).collect()}
    assert set(got) == {(1, 2)}
    assert got[(1, 2)].containment == 1.0
    assert got[(1, 2)].jaccard < 0.05


def test_containment_symmetric_on_equal_sets(spark):
    from pdf_extractor_spark.operators.dedup import containment_pairs

    t = "one two three four five six seven eight nine ten"
    df = spark.createDataFrame([(1, t), (2, t)], "doc_id long, text string")
    r = containment_pairs(df, n=5, threshold=0.5).collect()[0]
    assert (r.id1, r.id2, r.containment, r.jaccard) == (1, 2, 1.0, 1.0)


def test_cap_heavy_keys_boundary(spark):
    from pdf_extractor_spark.session import cap_heavy_keys

    cap = 3
    # key "a" has exactly cap rows, key "b" has cap + 1
    rows = [("a", i) for i in range(cap)] + [("b", i) for i in range(cap + 1)]
    df = spark.createDataFrame(rows, "k string, v int")
    kept, heavy = cap_heavy_keys(df, "k", cap)
    assert sorted((r.k, r.v) for r in kept.collect()) == [
        ("a", i) for i in range(cap)
    ]
    assert [(r.k, r.sz) for r in heavy.collect()] == [("b", cap + 1)]

    same, none = cap_heavy_keys(df, ["k"], None)
    assert same is df and none is None
