"""Hand-computed parity for clustering_coefficient, yule_k, and
lsh_bands_sweep (batch-C round-5 additions)."""
import pytest

from pdf_extractor_spark.operators.dedup import lsh_bands_sweep
from pdf_extractor_spark.operators.graph import clustering_coefficient
from pdf_extractor_spark.operators.textstats import yule_k


def test_clustering_coefficient_hand_computed(spark):
    # 4-clique {a,b,c,d} plus pendant e-a: cc(a)=3/(4*3/2)=0.5,
    # cc(b|c|d)=3/3=1.0, cc(e)=NULL (degree 1)
    e = spark.createDataFrame(
        [
            ("a", "b"),
            ("a", "c"),
            ("a", "d"),
            ("b", "c"),
            ("b", "d"),
            ("c", "d"),
            ("e", "a"),
        ],
        "src string, dst string",
    )
    rows = {r.host: r for r in clustering_coefficient(e).collect()}
    assert rows["a"].degree == 4 and rows["a"].triangles == 3
    assert rows["a"].clustering_coeff == 0.5
    for n in "bcd":
        assert rows[n].clustering_coeff == 1.0
        assert rows[n].triangles == 3
    assert rows["e"].degree == 1
    assert rows["e"].clustering_coeff is None


def test_clustering_coefficient_triangle_free(spark):
    # star graph: no triangles anywhere, hub cc = 0.0
    e = spark.createDataFrame(
        [("h", "x"), ("h", "y"), ("h", "z")], "src string, dst string"
    )
    rows = {r.host: r for r in clustering_coefficient(e).collect()}
    assert rows["h"].clustering_coeff == 0.0
    assert rows["x"].clustering_coeff is None


def test_yule_k_hand_computed(spark):
    # "a a a b" -> N=4, counts {a:3, b:1}, sum c^2 = 10
    # K = 10^4 * (10 - 4) / 16 = 3750
    docs = spark.createDataFrame(
        [(1, "s", "a a a b")], "doc_id long, source string, text string"
    )
    row = yule_k(docs).first()
    assert (row.n_tokens, row.vocab) == (4, 2)
    assert row.yule_k == 3750.0


def test_yule_k_all_hapax_is_zero(spark):
    # every token unique: sum c^2 = N -> K = 0 (maximum diversity)
    docs = spark.createDataFrame(
        [(1, "s", "w1 w2 w3 w4 w5")], "doc_id long, source string, text string"
    )
    assert yule_k(docs).first().yule_k == 0.0


def test_lsh_bands_sweep_layout_rows(spark):
    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "the quick brown fox jumps over the lazy dog"),
            (3, "completely different words in this document here now"),
        ],
        "doc_id long, text string",
    )
    rows = lsh_bands_sweep(docs).collect()
    assert [(r.bands, r.rows_per_band) for r in rows] == [(8, 2), (4, 4), (2, 8)]
    # an identical pair (Jaccard 1.0) is caught by every layout
    for r in rows:
        assert r.n_truth == 1 and r.true_pairs == 1 and r.recall == 1.0


def test_lsh_bands_sweep_matches_single_eval(spark):
    # the (4,4) sweep row must equal lsh_candidate_eval's scoreboard
    from pdf_extractor_spark.operators.dedup import lsh_candidate_eval

    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta eta theta"),
            (2, "alpha beta gamma delta epsilon zeta eta iota"),
            (3, "one two three four five six seven eight"),
        ],
        "doc_id long, text string",
    )
    sweep = {
        (r.bands, r.rows_per_band): (r.n_candidates, r.n_truth, r.true_pairs)
        for r in lsh_bands_sweep(docs).collect()
    }
    ev = lsh_candidate_eval(docs).first()
    assert sweep[(4, 4)] == (ev.n_candidates, ev.n_truth, ev.true_pairs)


@pytest.mark.parametrize(
    "kwargs, msg",
    [
        ({"layouts": []}, "must not be empty"),
        ({"layouts": [(4, 4), (4, 8)]}, r"layout \(4, 8\)"),
        ({"num_hashes": 8, "layouts": [(4, 4)]}, "num_hashes=8"),
    ],
)
def test_lsh_bands_sweep_rejects_bad_layouts_at_entry(spark, kwargs, msg):
    # rejected before any Spark job: a bad layout used to fail late, on an
    # unresolved signature column or None.orderBy
    docs = spark.createDataFrame([(1, "a b c d")], "doc_id long, text string")
    with pytest.raises(ValueError, match=msg):
        lsh_bands_sweep(docs, **kwargs)
