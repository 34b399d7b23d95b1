"""Driver contract for the spark-graft builder (PySpark target).

entry(spark)   — flagship: the full extract->classify->validate pipeline on a
                 spans corpus derived from sf0.001 documents.
queries()      — every query of CATALOG, the family-grouped table that is the
                 one place a query is declared; each takes (spark, sf_dir).
oracle_sql()   — DuckDB-runnable ANSI SQL mirrors. Every query has an oracle
                 except extract_pipeline (pandas-UDF pipeline, covered by
                 span-sequence-parity pytest) — the LSH families are
                 mirrored via md5-derived hashes/planes re-computed in SQL,
                 the ANN rerank via a sequential-fold dot product, and
                 clustering via a recursive reachability CTE.

Column names are aliased identically on both sides; float columns are rounded
(4-6 dp) in BOTH engines so order-of-summation noise cannot flip the value
hash; integer aggregates are CAST to BIGINT (DuckDB HUGEINT would hash as
float64); vector math mirrors Spark's fold order exactly (see _seq_dot).
OPERATORS.md (generated from CATALOG) carries the live query and oracle
counts.
"""

from __future__ import annotations

import atexit
import os
import shutil
import sys
import tempfile
from collections.abc import Callable

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pdf_extractor_spark.session import values_df

DEFAULT_SF_DIR = "/root/testdata/sf0.001"

# synthetic doc-type rules over the driver documents table's vocabulary —
# same shape as conf/patterns (keyword weight 1, regex weight 2, normalized
# score, strictly-greater argmax)
DOC_RULES: list[tuple[str, list[str], list[str]]] = [
    ("sparky", ["spark", "vector", "stream"], [r"batch\s+batch"]),
    ("sqlish", ["join", "filter", "window"], [r"merge\s+sort"]),
]


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


def _t_wide(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Table + repartition across cores: the tiny test parquet reads as ONE
    split, which would serialize heavy per-row work (shingling, signatures,
    UDF pipelines). On a production table the scan's many splits provide
    this parallelism for free; the explicit spread is the local stand-in."""
    df = _t(spark, sf_dir, name)
    key = "doc_id" if "doc_id" in df.columns else df.columns[0]
    return df.repartition(spark.sparkContext.defaultParallelism, key)


# Write-once index state (the jobs/run_index.py discipline): centroids,
# codebooks, trained rules and weights, signature, pair and bucket tables
# are built once per (artifact, corpus, build parameters) per process and
# read by every later query. Every build is deterministic, so reuse cannot
# change results.
_INDEX_STATE: dict = {}


def _index_state(name, sf_dir, build, *params):
    """Artifact `name` of the corpus at `sf_dir`: `build(*params)` runs
    once per (name, corpus path, params) key; later calls return the
    stored value."""
    key = (name, os.path.abspath(sf_dir), *params)
    if key not in _INDEX_STATE:
        _INDEX_STATE[key] = build(*params)
    return _INDEX_STATE[key]


def _persisted(spark, name, sf_dir, build, *params):
    """Artifact `name` as a persisted parquet table: the frame
    `build(*params)` returns is written once per key into a temp
    directory that is removed at exit; every call reads the parquet."""

    def write(*params):
        tmp = tempfile.mkdtemp(prefix=f"{name}_")
        atexit.register(shutil.rmtree, tmp, ignore_errors=True)
        path = os.path.join(tmp, name)
        build(*params).write.mode("overwrite").parquet(path)
        return path

    return spark.read.parquet(_index_state(name, sf_dir, write, *params))


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: spans corpus derived from sf0.001 documents -> full
    extraction pipeline -> per-doc summary."""
    from pdf_extractor_spark.pipeline import extract_documents
    from pdf_extractor_spark.sources.corpus import corpus_from_documents_table

    docs = _t(spark, DEFAULT_SF_DIR, "documents")
    # the tiny parquet reads as one split; spread the UDF-heavy pipeline
    # across cores (on a real table, scan splits provide this for free)
    docs = docs.repartition(spark.sparkContext.defaultParallelism, "doc_id")
    spans = corpus_from_documents_table(docs)
    out = extract_documents(spans)
    return out.select(
        "doc_id",
        "doc_type",
        "confidence",
        F.size("spans").alias("n_spans"),
        F.col("meta.language").alias("language"),
        F.col("meta.num_pages").alias("num_pages"),
    )


# ---------------------------------------------------------------------------
# queries
# ---------------------------------------------------------------------------

def _success(spark, sf_dir):
    """Batch success rate over the analytics log (dashboard batch report)."""
    from pdf_extractor_spark.operators.analytics import success_rate

    ev = _t(spark, sf_dir, "events")
    return success_rate(ev, F.col("event_type") != "error")


def _kpis(spark, sf_dir):
    """The dashboard's 4-cell KPI row: total / success / today / avg processing time."""
    from pdf_extractor_spark.operators.analytics import kpis

    ev = _t(spark, sf_dir, "events")
    return kpis(
        ev, F.col("event_type") != "error", ts_col="ts", today="2024-01-15",
        time_col="value",
    )


def _count_by_type(spark, sf_dir):
    """Event count per type (dashboard bar chart)."""
    from pdf_extractor_spark.operators.analytics import count_by_type

    return count_by_type(_t(spark, sf_dir, "events"), type_col="event_type")


def _distinct_types(spark, sf_dir):
    """Distinct event types, sorted."""
    from pdf_extractor_spark.operators.analytics import distinct_types

    return distinct_types(_t(spark, sf_dir, "events"), type_col="event_type")


def _avg_purchase(spark, sf_dir):
    """Average value of purchase events."""
    from pdf_extractor_spark.operators.analytics import avg_confidence

    ev = _t(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    return avg_confidence(ev, conf_col="value").withColumnRenamed(
        "avg_confidence", "avg_value"
    )


def _count_by_date(spark, sf_dir):
    """Events per calendar day."""
    from pdf_extractor_spark.operators.analytics import count_by_date

    out = count_by_date(_t(spark, sf_dir, "events"), ts_col="ts")
    return out.withColumn("date", F.col("date").cast("string"))


def _densified(spark, sf_dir):
    """Daily counts densified over the full date range (zero-filled gaps)."""
    from pdf_extractor_spark.operators.analytics import densified_daily_counts

    out = densified_daily_counts(
        _t(spark, sf_dir, "events"), "2024-01-01", "2024-02-10", ts_col="ts"
    )
    return out.withColumn("date", F.col("date").cast("string"))


def _filtered_range(spark, sf_dir):
    """Events in a timestamp range with a type filter (pushdown-checked)."""
    from pdf_extractor_spark.operators.analytics import filtered

    ev = _t(spark, sf_dir, "events")
    return filtered(
        ev, ts_col="ts", start="2024-01-10", end="2024-01-20",
        type_col="event_type", doc_type="click",
    ).select("event_id", "ts", "user_id", F.round("value", 6).alias("value"))


def _top_error_props(spark, sf_dir):
    """Most common error properties (top-k with deterministic ties)."""
    from pdf_extractor_spark.operators.analytics import top_k

    ev = _t(spark, sf_dir, "events").filter(F.col("event_type") == "error")
    keyed = ev.select(F.get_json_object("props", "$.k").alias("err_key"))
    return top_k(keyed, "err_key", k=10)


def _recent_events(spark, sf_dir):
    """Most recent N events (TakeOrderedAndProject)."""
    from pdf_extractor_spark.operators.analytics import most_recent

    ev = _t(spark, sf_dir, "events").select(
        "event_id", "ts", "event_type", F.round("value", 6).alias("value")
    )
    return most_recent(ev, ts_col="ts", n=20, tiebreak="event_id")


def _grouped_mean(spark, sf_dir):
    """Mean event value per type (batch report row)."""
    from pdf_extractor_spark.operators.analytics import grouped_mean

    return grouped_mean(
        _t(spark, sf_dir, "events"), type_col="event_type", value_col="value"
    )


def _user_top_event(spark, sf_dir):
    """Each user's most frequent event type (per-user window argmax)."""
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.desc("value"), F.desc("event_id"))
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "event_id", "event_type", F.round("value", 6).alias("value"))
    )


def _tpch_q1(spark, sf_dir):
    """TPC-H Q1 pricing summary: the canonical wide partial-agg scan."""
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") <= "1998-09-02")
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


def _top_revenue_orders(spark, sf_dir):
    """Top orders by lineitem revenue (join + agg + top-k)."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    rev = (
        li.groupBy("l_orderkey")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
    )
    return (
        orders.join(rev, orders.o_orderkey == rev.l_orderkey)
        .select("o_orderkey", F.to_date("o_orderdate").cast("string").alias("o_orderdate"), "revenue")
        .orderBy(F.desc("revenue"), "o_orderkey")
        .limit(10)
    )


def _customers_per_region(spark, sf_dir):
    """Customer counts rolled up region<-nation (broadcast dims)."""
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    return (
        cust.join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy(F.col("r_name").alias("region"))
        .agg(
            F.count("*").alias("n_customers"),
            F.round(F.avg("c_acctbal"), 4).alias("avg_acctbal"),
        )
        .orderBy("region")
    )


def _tpch_q6(spark, sf_dir):
    """TPC-H Q6 forecast revenue: pure scan-filter-agg (pushdown showcase)."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= "1996-01-01")
            & (F.col("l_shipdate") < "1997-01-01")
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2
            ).alias("revenue")
        )
    )


def _tpch_q3(spark, sf_dir):
    """TPC-H Q3 shipping priority: 3-way join + top-k revenue."""
    cust = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = _t(spark, sf_dir, "orders").filter(F.col("o_orderdate") < "1997-03-15")
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > "1997-03-15")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy(
            "l_orderkey",
            F.to_date("o_orderdate").cast("string").alias("o_orderdate"),
            "o_orderpriority",
        )
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .orderBy(F.desc("revenue"), "o_orderdate", "l_orderkey")
        .limit(10)
    )


def _tpch_q5(spark, sf_dir):
    """TPC-H Q5 local supplier volume: 6-way join, broadcast dims."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1997-01-01")
    )
    li = _t(spark, sf_dir, "lineitem")
    supp = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(
            supp,
            (li.l_suppkey == supp.s_suppkey)
            & (cust.c_nationkey == supp.s_nationkey),
        )
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .orderBy(F.desc("revenue"), "nation")
    )


def _tpch_q10(spark, sf_dir):
    """TPC-H Q10 (returned-item revenue by customer) on the slim driver
    schema: customer address/phone columns don't exist here, so the group
    key is (custkey, name, acctbal, nation)."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-10-01") & (F.col("o_orderdate") < "1997-01-01")
    )
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    nation = _t(spark, sf_dir, "nation")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("c_custkey", "c_name", "c_acctbal", F.col("n_name").alias("nation"))
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(20)
    )


def _tpch_q4(spark, sf_dir):
    """TPC-H Q4 (order priority checking) adapted to the slim schema: the
    commit/receipt date columns don't exist, so the EXISTS predicate is
    'some lineitem shipped after the order date' — same shape (left-semi
    join + group count), different date columns."""
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-07-01") & (F.col("o_orderdate") < "1996-10-01")
    )
    li = _t(spark, sf_dir, "lineitem")
    late = orders.join(
        li,
        (orders.o_orderkey == li.l_orderkey)
        & (li.l_shipdate > orders.o_orderdate),
        "left_semi",
    )
    return (
        late.groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
        .orderBy("o_orderpriority")
    )


def _classify_rules(spark, sf_dir):
    """Columnar rule classification (keyword weight 1 via \\b rlike, pattern
    weight 2, normalized, strictly-greater argmax) over the documents table
    — the SQL-checkable twin of the pipeline's pandas-UDF classifier."""
    docs = _t(spark, sf_dir, "documents")
    text = F.col("text")
    best_type = F.lit(None).cast("string")
    best_score = F.lit(0.0)
    for doc_type, kws, pats in DOC_RULES:
        score = F.lit(0)
        for kw in kws:
            score = score + text.rlike(rf"\b{kw}\b").cast("int")
        for p in pats:
            score = score + 2 * text.rlike(p).cast("int")
        max_score = len(kws) + 2 * len(pats)
        norm = score / F.lit(float(max_score))
        nb_type = F.when(norm > best_score, F.lit(doc_type)).otherwise(best_type)
        nb_score = F.when(norm > best_score, norm).otherwise(best_score)
        best_type, best_score = nb_type, nb_score
    return docs.select(
        "doc_id",
        best_type.alias("doc_type"),
        F.round(best_score, 6).alias("score"),
    )


def _preprocess_text(spark, sf_dir):
    """Reference text preprocessing (Python whitespace-class parity, lowercase)."""
    from pdf_extractor_spark.operators.spans import preprocess_text

    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", preprocess_text(F.col("text"), F.col("lang")).alias("normalized")
    )


def _lang_name(spark, sf_dir):
    """Language code -> display name lookup (reference language map)."""
    from pdf_extractor_spark.operators.spans import language_name_col

    docs = _t(spark, sf_dir, "documents")
    return docs.select("doc_id", language_name_col(F.col("lang")).alias("lang_name"))


def _token_count(spark, sf_dir):
    """Whitespace token count per document, fully columnar."""
    from pdf_extractor_spark.operators.textstats import token_count

    docs = _t(spark, sf_dir, "documents")
    return docs.select("doc_id", token_count(F.col("text")).alias("n_tokens"))


def _bpe_token_count(spark, sf_dir):
    """BPE-ish subword count via the reference regex, columnar."""
    from pdf_extractor_spark.operators.textstats import bpe_token_count

    docs = _t(spark, sf_dir, "documents")
    return docs.select("doc_id", bpe_token_count(F.col("text")).alias("n_bpe"))


def _quality(spark, sf_dir):
    """Length/stopword/punct/digit quality score per document."""
    from pdf_extractor_spark.operators.textstats import add_quality_score

    docs = _t(spark, sf_dir, "documents")
    return add_quality_score(docs, "text", "quality").select("doc_id", "quality")


def _lang_id(spark, sf_dir):
    """N-gram heuristic language identification, columnar (no UDF)."""
    from pdf_extractor_spark.operators.textstats import add_lang_id

    docs = _t(spark, sf_dir, "documents")
    return add_lang_id(docs, "text", "lang_pred").select("doc_id", "lang_pred")


def _repetition_stats(spark, sf_dir):
    """Gopher-style repetition stats: dup-unigram fraction, top-bigram share."""
    from pdf_extractor_spark.operators.textstats import repetition_stats

    return repetition_stats(_t(spark, sf_dir, "documents"))


def _tfidf_top_terms(spark, sf_dir):
    """Per-doc top TF-IDF terms (corpus df join + per-doc window top-k)."""
    from pdf_extractor_spark.operators.textstats import tfidf_top_terms

    return tfidf_top_terms(_t(spark, sf_dir, "documents"), k=3)


def _bm25_topk(spark, sf_dir):
    """BM25 lexical top-10 retrieval for a 3-query batch: broadcast
    query-term probe of the token stream, rational (log-free) idf."""
    from pdf_extractor_spark.operators.textstats import bm25_topk

    return bm25_topk(_t(spark, sf_dir, "documents"), k=10)


def _fingerprint(spark, sf_dir):
    """Rolling-hash document fingerprint (integer arithmetic, columnar)."""
    from pdf_extractor_spark.operators.textstats import fingerprint

    docs = _t(spark, sf_dir, "documents")
    return docs.select("doc_id", fingerprint(F.col("text")).alias("fp"))


def _exact_dedup(spark, sf_dir):
    """Exact duplicate groups by text digest (digest-first shuffle)."""
    from pdf_extractor_spark.operators.dedup import exact_dedup

    return exact_dedup(_t(spark, sf_dir, "documents"))


def _ngram_jaccard(spark, sf_dir):
    """Exact n-gram Jaccard similarity pairs via shingle inverted index."""
    from pdf_extractor_spark.operators.dedup import ngram_jaccard_pairs

    return ngram_jaccard_pairs(
        _t_wide(spark, sf_dir, "documents"), n=3, threshold=0.8
    )


def _winnow_fingerprints(spark, sf_dir):
    """MOSS winnowing index: 5-token-gram md5 hashes, window-of-4 minima,
    distinct per doc — the w+1-times-smaller inverted index for near-dup
    candidate generation."""
    from pdf_extractor_spark.operators.dedup import winnow_fingerprints

    return winnow_fingerprints(
        _t_wide(spark, sf_dir, "documents"), k=5, w=4
    )


def _winnow_pairs(spark, sf_dir):
    """Candidate near-dup pairs from the winnowed index: >= 2 shared
    fingerprints (k=5, w=4), hot-fingerprint cap at 1000 docs."""
    from pdf_extractor_spark.operators.dedup import winnow_pairs

    return winnow_pairs(
        _t_wide(spark, sf_dir, "documents"), k=5, w=4, min_shared=2
    )


def _minhash_sigs_persisted(spark, sf_dir):
    """(id, sig) MinHash signature table AS PERSISTED INDEX STATE (the
    jobs/run_index.py `minhash_signatures/` artifact): the corpus-sized
    shingle explode + 64-min aggregate — the dominant cost of every
    recurring full-corpus LSH run — happens ONCE at index-build time;
    the recurring query banding+joins the parquet (the same discipline
    as `neardup_pairs/` / `lattice_pieces/` / `bpe_word_pieces/`)."""
    from pdf_extractor_spark.operators.dedup import minhash_signatures

    def build():
        return minhash_signatures(
            _t_wide(spark, sf_dir, "documents"), n=3, num_hashes=64
        ).filter(F.col("sig").isNotNull())

    return _persisted(spark, "minhash_signatures", sf_dir, build)


def _minhash_lsh(spark, sf_dir):
    """Banded LSH near-dup pairs with exact-Jaccard verification over the
    full corpus. Signatures come from the persisted `minhash_signatures/`
    index artifact (jobs/run_index.py), so the recurring query is
    band+bucket join + candidate verify — the corpus shingle aggregate
    runs once at index-build time. Output is identical to the inline
    build (tests/test_index_job.py) and oracle-checked against
    brute-force Jaccard."""
    from pdf_extractor_spark.operators.dedup import minhash_lsh_pairs

    return minhash_lsh_pairs(
        _t_wide(spark, sf_dir, "documents"), n=3, num_hashes=64, bands=16,
        threshold=0.7, signatures=_minhash_sigs_persisted(spark, sf_dir),
    )


def _simhash_sigs_persisted(spark, sf_dir):
    """(id, simhash) signature table AS PERSISTED INDEX STATE (the
    jobs/run_index.py `simhash_signatures/` artifact): the corpus token
    explode + 60-balance aggregate runs ONCE at index-build time; the
    recurring near-dup query reads the parquet and does only the combo
    explode + bucket aggregate (the `minhash_signatures/` discipline)."""
    from pdf_extractor_spark.operators.dedup import simhash64

    return _persisted(
        spark, "simhash_signatures", sf_dir,
        lambda: simhash64(_t_wide(spark, sf_dir, "documents")),
    )


def _simhash(spark, sf_dir):
    """SimHash near-dup pairs at hamming<=3 via pigeonhole blocking.
    Signatures come from the persisted `simhash_signatures/` index
    artifact (jobs/run_index.py); output is identical to the inline
    signature build (tests/test_index_job.py)."""
    from pdf_extractor_spark.operators.dedup import simhash_neardup_pairs

    return simhash_neardup_pairs(
        _t_wide(spark, sf_dir, "documents"), max_hamming=3,
        signatures=_simhash_sigs_persisted(spark, sf_dir),
    )


def _neardup_clusters(spark, sf_dir):
    """Canonical assignment over the minhash near-dup pairs: cluster = min
    doc_id reachable through near-dup edges; keeping id == cluster keeps
    exactly one survivor per duplicate class. Pairs come from the
    persisted neardup_pairs index artifact."""
    from pdf_extractor_spark.operators.dedup import neardup_clusters

    docs = _t_wide(spark, sf_dir, "documents")
    pairs = _neardup_pairs_persisted(spark, sf_dir)
    return neardup_clusters(docs, pairs).select(
        F.col("id").alias("doc_id"), "cluster"
    )


def _cosine_topk(spark, sf_dir):
    """Exact brute-force cosine top-k (the ANN recall baseline)."""
    from pdf_extractor_spark.operators.similarity import cosine_topk

    emb = _t(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 5).withColumnRenamed("vec_id", "query_id")
    return cosine_topk(emb, q, k=10)


def _bitext_mine(spark, sf_dir):
    """Margin-based bitext mining for ONE language pair (label 0 =
    source "language", label 1 = target): ratio margin over top-4
    neighborhoods, all-integer scoring. One pair, not all-vs-all — the
    real pipeline mines per language pair, and the exact cross-score
    baseline is quadratic in the pair's size by construction."""
    from pdf_extractor_spark.operators.similarity import bitext_margin_pairs

    emb = _t(spark, sf_dir, "embeddings")
    src = emb.filter(F.col("label") == 0)
    tgt = emb.filter(F.col("label") == 1)
    return bitext_margin_pairs(src, tgt, k=4, margin_threshold_e4=11500)


def _embedding_outliers(spark, sf_dir):
    """Embedding ingest gate: per-vector norm z-score against the corpus
    norm distribution + cosine to the 6dp-defined corpus centroid."""
    from pdf_extractor_spark.operators.similarity import embedding_outliers

    return embedding_outliers(_t(spark, sf_dir, "embeddings"), dim=64)


def _hard_negatives(spark, sf_dir):
    """Contrastive-training hard negatives: per query (vec_id < 5), the
    10 most-similar vectors with a DIFFERENT (non-null) label."""
    from pdf_extractor_spark.operators.similarity import hard_negatives

    emb = _t(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 5).withColumnRenamed("vec_id", "query_id")
    return hard_negatives(emb, q, k=10)


def _ocr_garble(spark, sf_dir):
    """OCR damage scoring over deterministically poisoned text: doc_id %
    13 == 0 gets a consonant-noise run, % 17 == 3 a symbol burst."""
    from pdf_extractor_spark.operators.textstats import ocr_garble_score

    docs = _t_wide(spark, sf_dir, "documents")
    synth = docs.withColumn(
        "text",
        F.concat(
            F.coalesce(F.col("text"), F.lit("")),
            F.when(
                F.col("doc_id") % 13 == 0, F.lit(" tkqzxwfgbcdp noise")
            ).otherwise(F.lit("")),
            F.when(
                F.col("doc_id") % 17 == 3,
                F.lit(" @@##$$%%^^&&**scan**&&^^%%$$##@@"),
            ).otherwise(F.lit("")),
        ),
    )
    return ocr_garble_score(synth)


def _script_mix(spark, sf_dir):
    """Unicode script composition over deterministically mixed-script
    text: doc_id % 5 picks which script sample is appended (0 = none)."""
    from pdf_extractor_spark.operators.textstats import script_mix

    docs = _t_wide(spark, sf_dir, "documents")
    m = F.col("doc_id") % 5
    synth = docs.withColumn(
        "text",
        F.concat(
            F.coalesce(F.col("text"), F.lit("")),
            F.when(m == 1, F.lit(" 中文资料处理系统测试数据"))
            .when(m == 2, F.lit(" русский текст для проверки"))
            .when(m == 3, F.lit(" نص عربي للاختبار هنا"))
            .when(m == 4, F.lit(" ελληνικό κείμενο δοκιμής"))
            .otherwise(F.lit("")),
        ),
    )
    return script_mix(synth)


def _lsh_ann(spark, sf_dir):
    """Random-hyperplane LSH bucketed ANN top-k."""
    from pdf_extractor_spark.operators.similarity import lsh_topk

    emb = _t(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 5).withColumnRenamed("vec_id", "query_id")
    return lsh_topk(emb, q, dim=64, k=10, bits=6, tables=6)


def _centroids(spark, sf_dir, k, refine_iters=1, augmented=False):
    """IVF / k-means centroids as index state: K deterministic coarse
    centroids after `refine_iters` Lloyd iterations over the embeddings
    (or `_augmented_embeddings`), built once per (corpus, K, iterations,
    input) and shared by every query that quantizes with them."""
    from pdf_extractor_spark.operators.similarity import ivf_centroids

    def build(k, refine_iters, augmented):
        emb = (
            _augmented_embeddings(spark, sf_dir)
            if augmented
            else _t(spark, sf_dir, "embeddings")
        )
        return ivf_centroids(emb, k, refine_iters=refine_iters)

    return _index_state(
        "ivf_centroids", sf_dir, build, k, refine_iters, augmented
    )


def _ivf_ann(spark, sf_dir):
    """IVF coarse-quantizer ANN top-k with precomputed centroids."""
    from pdf_extractor_spark.operators.similarity import ivf_topk

    emb = _t(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 5).withColumnRenamed("vec_id", "query_id")
    return ivf_topk(
        emb, q, k=10, n_centroids=16, n_probe=8,
        centroids=_centroids(spark, sf_dir, 16),
    )


def _pq_books(spark, sf_dir):
    """Product-quantization codebooks as cached index state (the
    ivf_centroids discipline): m=8 subspaces x ks=16 code words, strided
    seeds + one distributed Lloyd iteration, cells rounded to 9 dp so
    both engines read bit-identical codebooks."""
    from pdf_extractor_spark.operators.similarity import pq_codebooks

    return _index_state(
        "pq_codebooks", sf_dir,
        lambda: pq_codebooks(_t(spark, sf_dir, "embeddings"), m=8, ks=16),
    )


def _pq_encode(spark, sf_dir):
    """Every embedding compressed to 8 PQ code ids (8 nibbles vs 256 bytes: the
    compressed representation ADC scans; Jegou et al. 2011). Codes as a
    csv string so list renderings cannot diverge cross-engine. Oracle
    replays seeding, the Lloyd iteration, and both argmin assignments
    with identical left-fold float arithmetic."""
    from pdf_extractor_spark.operators.similarity import pq_encode

    emb = _t(spark, sf_dir, "embeddings")
    return pq_encode(emb, books=_pq_books(spark, sf_dir)).select(
        F.col("id").alias("vec_id"),
        F.array_join(
            F.transform("codes", lambda c: c.cast("string")), ","
        ).alias("codes_csv"),
    )


def _pq_adc_topk(spark, sf_dir):
    """Asymmetric-distance top-10 for 8 query vectors over the PQ codes:
    per-query m x ks lookup tables broadcast, every corpus code row
    scored with m lookups + m-1 adds — the compressed linear scan that
    composes with the IVF coarse quantizer at scale (IVFADC). Ranking
    uses the 6-dp-rounded distance (round BEFORE rank, id tiebreak) so
    1-ulp drift can never flip the order."""
    from pdf_extractor_spark.operators.similarity import pq_adc_topk

    emb = _t(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 8).withColumnRenamed(
        "vec_id", "query_id"
    )
    return pq_adc_topk(emb, q, k=10, books=_pq_books(spark, sf_dir))


def _pq_rerank_topk(spark, sf_dir):
    """The production PQ cascade (IVFADC refinement / LSH-then-verify
    discipline): ADC nominates 40 candidates per query off the 8-byte
    codes, then only those read their float vectors for an exact
    squared-L2 rerank to top-10 — exact cost O(queries x rerank)
    regardless of corpus size. Round-before-rank, id tiebreak."""
    from pdf_extractor_spark.operators.similarity import pq_rerank_topk

    emb = _t(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 8).withColumnRenamed(
        "vec_id", "query_id"
    )
    return pq_rerank_topk(
        emb, q, k=10, rerank=40, books=_pq_books(spark, sf_dir)
    )


def _ivfpq_ann_topk(spark, sf_dir):
    """IVF+PQ composition (IVFADC sans residuals): corpus rows route to
    their nearest of 16 coarse centroids and compress to 8 PQ codes in
    one fused pass; each of the 8 queries probes its 8 nearest lists and
    ADC-scores only those lists' code rows — `ivf_topk`'s probe cost at
    `pq_adc_topk`'s byte cost, the 10^12-vector index shape. Centroids
    and codebooks are cached index state; round-before-rank at 6 dp."""
    from pdf_extractor_spark.operators.similarity import ivfpq_topk

    emb = _t(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 8).withColumnRenamed(
        "vec_id", "query_id"
    )
    return ivfpq_topk(
        emb, q, k=10, n_centroids=16, n_probe=8,
        centroids=_centroids(spark, sf_dir, 16),
        books=_pq_books(spark, sf_dir),
    )


def _ann_recall_eval(spark, sf_dir):
    """ANN quality scoreboard — recall@10 of each approximate method
    against ITS OWN exact baseline on the same corpus, in one query:
    `ivf` (5 queries, vs exact cosine top-10), `pq_adc` and `ivfpq`
    (8 queries, vs exact L2 top-10, the 6-dp round + id-tiebreak order
    the PQ family ranks by). The index-selection eval every ANN
    deployment runs before choosing its operating point; hits/totals
    are exact integers, recall is one double division."""
    from pdf_extractor_spark.operators.similarity import (
        cosine_topk,
        ivf_topk,
        ivfpq_topk,
        pq_adc_topk,
    )

    emb = _t(spark, sf_dir, "embeddings")
    cents = _centroids(spark, sf_dir, 16)
    books = _pq_books(spark, sf_dir)
    q5 = emb.filter(F.col("vec_id") < 5).withColumnRenamed(
        "vec_id", "query_id"
    )
    q8 = emb.filter(F.col("vec_id") < 8).withColumnRenamed(
        "vec_id", "query_id"
    )

    exact_cos = cosine_topk(emb, q5, k=10).select("query_id", "id")
    # exact L2 top-10 (the PQ family's ground truth): strict left fold,
    # 6-dp round-before-rank, id tiebreak — identical to pq_rerank's
    # exact stage
    from pyspark.sql import Window

    qdf = q8.select(
        "query_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("qv"),
    )
    cand = emb.select(
        F.col("vec_id").alias("id"), F.col("embedding").alias("vec")
    ).crossJoin(F.broadcast(qdf))
    l2 = F.aggregate(
        F.zip_with(
            "vec", "qv",
            lambda x, y: (x.cast("double") - y) * (x.cast("double") - y),
        ),
        F.lit(0.0),
        lambda a, b: a + b,
    )
    w = Window.partitionBy("query_id").orderBy(
        F.asc("l2"), F.asc("id")
    )
    exact_l2 = (
        cand.select("query_id", "id", F.round(l2, 6).alias("l2"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 10)
        .select("query_id", "id")
    )

    methods = [
        (
            "ivf",
            ivf_topk(
                emb, q5, k=10, n_centroids=16, n_probe=8, centroids=cents
            ).select("query_id", "id"),
            exact_cos,
        ),
        (
            "pq_adc",
            pq_adc_topk(emb, q8, k=10, books=books).select(
                "query_id", "id"
            ),
            exact_l2,
        ),
        (
            "ivfpq",
            ivfpq_topk(
                emb, q8, k=10, centroids=cents, books=books
            ).select("query_id", "id"),
            exact_l2,
        ),
    ]
    out = None
    for name, approx, exact in methods:
        row = (
            exact.join(approx, ["query_id", "id"], "left_semi")
            .agg(F.count("*").alias("hits"))
            .crossJoin(
                F.broadcast(exact.agg(F.count("*").alias("total")))
            )
            .select(
                F.lit(name).alias("method"),
                F.col("hits").cast("long").alias("hits"),
                F.col("total").cast("long").alias("total"),
                F.round(F.col("hits") / F.col("total"), 6).alias(
                    "recall_at_10"
                ),
            )
        )
        out = row if out is None else out.unionByName(row)
    return out


def _mutual_knn(spark, sf_dir):
    """Reciprocal top-5 cosine pairs within the 16 IVF coarse clusters —
    the hub-robust alignment filter (b in a's kNN AND a in b's), at
    semdedup's cluster-bounded-quadratic cost. Cached centroids;
    4-dp round-before-rank."""
    from pdf_extractor_spark.operators.similarity import mutual_knn

    return mutual_knn(
        _t(spark, sf_dir, "embeddings"), k=5, n_centroids=16,
        centroids=_centroids(spark, sf_dir, 16),
    )


def _augmented_embeddings(spark, sf_dir):
    """embeddings + a deterministic near-duplicate of every vector (id +
    1,000,000; component (vec_id % 64) zeroed) — the driver testdata has no
    natural near-dups (max pairwise cosine ~0.47), so round 1's
    embedding_neardup check was vacuous (0 == 0 rows). Zeroing one of 64
    components gives cosine ~sqrt(63/64) ~ 0.992 without any float
    multiplication, so the DuckDB oracle reproduces the corpus exactly."""
    emb = _t(spark, sf_dir, "embeddings")
    pert = emb.select(
        (F.col("vec_id") + F.lit(1_000_000)).alias("vec_id"),
        F.transform(
            "embedding",
            lambda x, i: F.when(
                i == (F.col("vec_id") % 64).cast("int"),
                F.lit(0.0).cast("float"),
            ).otherwise(x),
        ).alias("embedding"),
    )
    return emb.select("vec_id", "embedding").unionByName(pert)


def _embedding_neardup(spark, sf_dir):
    """Embedding near-duplicate pairs blocked by LSH bucket."""
    from pdf_extractor_spark.operators.dedup import embedding_neardup_pairs

    return embedding_neardup_pairs(
        _augmented_embeddings(spark, sf_dir),
        threshold=0.95, lsh_dim=64, lsh_bits=8, lsh_tables=2,
    )


def _semdedup(spark, sf_dir):
    """SemDeDup-style semantic dedup over the seeded near-duplicate corpus
    (the base testdata has no natural near-dups — max pairwise cosine
    ~0.47): K=16 deterministic coarse centroids over the augmented set,
    within-cluster pairwise cosine >= 0.95 drops the later id. Centroids
    are index state, cached like ivf_ann_topk's."""
    from pdf_extractor_spark.operators.similarity import semdedup

    return semdedup(
        _augmented_embeddings(spark, sf_dir),
        _centroids(spark, sf_dir, 16, augmented=True),
        threshold=0.95,
    )


def _kmeans_clusters(spark, sf_dir):
    """Per-cluster occupancy + mean cosine-to-centroid after TWO full
    Lloyd iterations (K=8, deterministic stride seeding) — the clustering
    surface behind cluster-balanced sampling / SemDeDup / IVF builds.
    The oracle replays both Lloyd rounds in SQL (the ivf_ann_topk pattern
    unrolled once more)."""
    from pdf_extractor_spark.operators.similarity import kmeans_cluster_stats

    return kmeans_cluster_stats(
        _t(spark, sf_dir, "embeddings"), n_clusters=8,
        centroids=_centroids(spark, sf_dir, 8, refine_iters=2),
    )


def _cluster_balanced_sample(spark, sf_dir):
    """Cluster-balanced diversity sample: nearest-centroid assignment
    (cached kmeans8x2 centroids, kmeans_clusters' index state) + quota-16
    per-cluster pick under a seeded md5 order."""
    from pdf_extractor_spark.operators.similarity import cluster_balanced_sample

    return cluster_balanced_sample(
        _t(spark, sf_dir, "embeddings"),
        _centroids(spark, sf_dir, 8, refine_iters=2),
        quota=16,
    )


def _fuzzy_name_match(spark, sf_dir):
    """Record linkage via deletion-neighborhood (FastSS) blocking: the
    customer names matched against a deterministically corrupted variant
    of each name (char at custkey % len dropped) — every pair within
    edit distance 1 recovered by the variant equi-join, verified with
    exact Levenshtein. Exact recall at distance <= 1, no crossjoin."""
    from pdf_extractor_spark.operators.dedup import fuzzy_key_pairs

    c = _t(spark, sf_dir, "customer")
    left = c.select(
        F.col("c_custkey").alias("id"), F.lower("c_name").alias("key")
    )
    n = F.lower(F.col("c_name"))
    pos = (F.col("c_custkey") % F.length(n)).cast("int") + 1
    corrupted = F.concat(
        n.substr(F.lit(1), pos - 1), n.substr(pos + 1, F.length(n))
    )
    right = c.select(F.col("c_custkey").alias("id"), corrupted.alias("key"))
    return fuzzy_key_pairs(left, right)


def _props_variant_stats(spark, sf_dir):
    """Typed aggregation over the semi-structured props column via Spark 4
    VARIANT (try_parse_json once, variant_get typed path probes): per
    event type, count/min/max/avg of $.k. Malformed or missing props
    aggregate as NULL, never as errors."""
    from pdf_extractor_spark.operators.analytics import props_variant_stats

    return props_variant_stats(_t(spark, sf_dir, "events"))


def _heavy_hitters(spark, sf_dir):
    """CMS-prefiltered two-pass heavy hitters over events.user_id
    (threshold 75): the bounded 4x256 sketch rides the plan as an array
    literal, rows are filtered map-side by their sketch estimate, and
    only the survivors are exact-counted. CMS never underestimates, so
    the output equals plain GROUP BY HAVING — the oracle — and a broken
    prefilter shows up loudly as missing keys."""
    from pdf_extractor_spark.operators.sketches import heavy_hitters

    return heavy_hitters(
        _t(spark, sf_dir, "events"), "user_id", threshold=75
    )


def _event_dedup(spark, sf_dir):
    """Debounce duplicate events: same (user, type) within 1h of the
    previous firing -> is_dup (lag semantics, microsecond-exact)."""
    from pdf_extractor_spark.operators.events import event_dedup

    ev = _t(spark, sf_dir, "events")
    out = event_dedup(ev, gap_seconds=3600)
    return out.select("event_id", "user_id", "event_type", "ts", "is_dup")


def _rendezvous_shards(spark, sf_dir):
    """HRW (rendezvous) shard assignment at 16 shards plus the 17-shard
    reassignment in one pass: `moved` marks the minimal-movement set —
    every moved doc provably lands on the new shard (id 16); expected
    moved fraction 1/17. The oracle reproduces every md5 weight."""
    from pdf_extractor_spark.operators.maintenance import rendezvous_shards

    d = _t(spark, sf_dir, "documents")
    return rendezvous_shards(d, num_shards=16, new_shards=17)


def _dsir_weights(spark, sf_dir):
    """DSIR importance-resampling weights: log p_target(x) - log p_raw(x)
    under 256-bucket hashed unigram models with add-1 smoothing; target =
    docs with doc_id % 97 == 0 (the decontaminate convention). The oracle
    rebuilds the identical md5-bucketed models and log-ratios."""
    from pdf_extractor_spark.operators.curation import dsir_weights

    return dsir_weights(_t_wide(spark, sf_dir, "documents"))


def _snapshot_diff(spark, sf_dir):
    """Changelog between two corpus snapshots (Iceberg
    create_changelog_view semantics) keyed by md5(text) digest: snapshot B
    is derived deterministically from the documents table — doc_id % 11
    removed, % 13 rewritten (text + ' v2'), % 17 spawns an added doc at
    id + 1,000,000 — so every status value occurs."""
    from pdf_extractor_spark.merge import snapshot_diff

    d = _t(spark, sf_dir, "documents")
    txt = F.coalesce(F.col("text"), F.lit(""))
    old = d.select("doc_id", F.md5(txt).alias("digest"))
    changed = F.when(
        F.col("doc_id") % 13 == 0, F.concat(txt, F.lit(" v2"))
    ).otherwise(txt)
    new = (
        d.filter(F.col("doc_id") % 11 != 0)
        .select("doc_id", F.md5(changed).alias("digest"))
        .unionByName(
            d.filter(F.col("doc_id") % 17 == 0).select(
                (F.col("doc_id") + 1_000_000).alias("doc_id"),
                F.md5(F.concat(txt, F.lit(" new"))).alias("digest"),
            )
        )
    )
    return snapshot_diff(old, new)


def _compaction_plan(spark, sf_dir):
    """Iceberg rewrite_data_files binpack planning over a synthetic file
    inventory (one file per document: partition = source, bytes = text
    length + 512): greedy in-order 8 KiB rewrite bins per partition, with
    single-file bins flagged as no-rewrite."""
    from pdf_extractor_spark.operators.maintenance import compaction_plan

    d = _t(spark, sf_dir, "documents")
    files = d.select(
        F.col("source").alias("part"),
        F.concat(
            F.lit("doc-"), F.lpad(F.col("doc_id").cast("string"), 12, "0")
        ).alias("file_name"),
        (F.coalesce(F.length("text"), F.lit(0)) + F.lit(512))
        .cast("long")
        .alias("bytes"),
    )
    return compaction_plan(files, target_bytes=8192)


def _phrase_search(spark, sf_dir):
    """Exact phrase matching over a positional inverted index: each probe
    phrase is tokens 3-4 of docs 0 / 7 / 42 (deterministically derived, so
    every phrase occurs at least once and, with the synthetic vocabulary,
    tens of times), matched wherever token p+i equals term i per offset."""
    from pdf_extractor_spark.operators.textstats import (
        phrase_search,
        tokens_col,
    )

    docs = _t_wide(spark, sf_dir, "documents")
    toks = tokens_col(F.lower(F.col("text")))
    ph = docs.filter(F.col("doc_id").isin(0, 7, 42)).select(
        F.col("doc_id").alias("phrase_id"),
        F.array_join(F.slice(toks, 3, 2), " ").alias("phrase"),
    )
    return phrase_search(docs, ph)


def _mix_weights(spark, sf_dir):
    """Data-mixing weights: reshape the corpus's per-source token mass into
    a deterministic non-uniform target (src k gets (k+1)/210 of the mix)."""
    from pdf_extractor_spark.operators.curation import mix_weights

    targets = {f"src{k}": (k + 1) / 210.0 for k in range(20)}
    return mix_weights(_t(spark, sf_dir, "documents"), targets)


def _epoch_plan(spark, sf_dir):
    """Epoch-assembly read plan: the (k+1)/210 target mixture at a fixed
    100k-token budget under a 4-epoch repeat cap — full passes,
    partial-pass tail tokens, and the clipped shortfall per source, all
    exact-integer (the budget sits between the smallest and largest
    target/capacity crossovers at sf0.01, so BOTH branches of the clip
    are exercised at the driver's gate scale)."""
    from pdf_extractor_spark.operators.curation import epoch_plan

    targets = {f"src{k}": (k + 1) / 210.0 for k in range(20)}
    return epoch_plan(
        _t(spark, sf_dir, "documents"),
        targets,
        budget_tokens=100_000,
        max_epochs=4,
    )


def _global_shuffle(spark, sf_dir):
    """Deterministic global training order (seeded md5 ranking) with the
    sharded two-level position assignment — no corpus-wide window."""
    from pdf_extractor_spark.operators.curation import global_shuffle

    return global_shuffle(_t(spark, sf_dir, "documents"), seed="shuf1")


def _gopher_filter(spark, sf_dir):
    """Gopher-style composite accept/reject filter — six doc-local rules,
    zero operator shuffle, exact-ratio comparisons (no rounding boundary)."""
    from pdf_extractor_spark.operators.textstats import gopher_filter

    return gopher_filter(_t_wide(spark, sf_dir, "documents"))


def _c4_filter(spark, sf_dir):
    """C4 cleaning filter (the T5 corpus recipe): line-level terminal-
    punctuation + min-words retention, page-level lorem-ipsum / brace /
    blocklist-word and min-sentence rules — over a deterministically
    synthesized newline-structured page per document (the synthesize_html
    pattern; the driver corpus is a flat token bag). All rules doc-local,
    zero shuffle; the oracle rebuilds page synthesis AND filter in SQL."""
    from pdf_extractor_spark.operators.curation import (
        c4_filter,
        synthesize_pages,
    )

    return c4_filter(synthesize_pages(_t_wide(spark, sf_dir, "documents")))


def _hash_lr(spark, sf_dir):
    """Hashed bag-of-words linear classifier (fastText-style quality filter)
    applied as a zero-shuffle columnar projection; md5-derived deterministic
    weights ride the plan as a foldable array literal."""
    from pdf_extractor_spark.operators.textstats import hash_lr_score

    return hash_lr_score(_t_wide(spark, sf_dir, "documents"))


def _wordpiece_encode(spark, sf_dir):
    """Greedy longest-match WordPiece segmentation of the corpus's
    distinct words under the literal WORDPIECE_VOCAB (index state)."""
    from pdf_extractor_spark.operators.textstats import wordpiece_encode

    return wordpiece_encode(_t_wide(spark, sf_dir, "documents"))


def _k_anonymity(spark, sf_dir):
    """k-anonymity audit over the (lang, source, length-centile) quasi-
    identifier tuple, k=5: which demographic slices of the corpus are
    small enough to re-identify."""
    from pdf_extractor_spark.operators.curation import k_anonymity

    docs = _t_wide(spark, sf_dir, "documents").withColumn(
        "len_bucket", F.floor(F.col("n_chars") / 100).cast("int")
    )
    return k_anonymity(docs, ["lang", "source", "len_bucket"], k=5)


def _dataset_split(spark, sf_dir):
    """Deterministic salted-md5 train/val/test split (100/100 per 10k
    buckets) with per-(lang, split) doc/char accounting — reproducible
    corpus freezes without RNG state."""
    from pdf_extractor_spark.operators.curation import dataset_split

    return dataset_split(_t_wide(spark, sf_dir, "documents"))


def _pareto_frontier(spark, sf_dir):
    """Per-language Pareto frontier over (length, tokens-per-char score):
    linear window scan in Spark, checked against an independent O(n^2)
    NOT EXISTS skyline in the oracle."""
    from pdf_extractor_spark.operators.curation import pareto_frontier

    return pareto_frontier(_t_wide(spark, sf_dir, "documents"))


def _zipf_fit(spark, sf_dir):
    """Closed-form OLS fit of the term rank-frequency curve; the heavy
    groupBy(term) reduces the corpus to the (much smaller) vocabulary
    before the single-partition rank window."""
    from pdf_extractor_spark.operators.textstats import zipf_fit

    return zipf_fit(_t_wide(spark, sf_dir, "documents"))


def _heaps_law(spark, sf_dir):
    """Vocabulary-growth checkpoints at 20 doc-id-range buckets plus the
    Heaps' V=K*N^beta fit — bucketed so the only window runs over 20
    rows, never per document."""
    from pdf_extractor_spark.operators.textstats import heaps_law

    return heaps_law(_t_wide(spark, sf_dir, "documents"))


def _word_burstiness(spark, sf_dir):
    """Church-Gale burstiness per term (df>=2 share among df>=1 docs),
    min_df=5; two partial-aggregated groupBys, integer counts plus
    6dp-rounded ratios."""
    from pdf_extractor_spark.operators.textstats import word_burstiness

    return word_burstiness(_t_wide(spark, sf_dir, "documents"))


def _ab_test(spark, sf_dir):
    """Deterministic md5-parity A/B assignment over events with a pooled
    two-proportion z-score; exposure = first click, conversion = a later
    purchase."""
    from pdf_extractor_spark.operators.events import ab_test

    return ab_test(_t(spark, sf_dir, "events"))


def _dow_seasonality(spark, sf_dir):
    """Day-of-week traffic profile + chi-square vs the uniform-week null;
    one 7-key aggregation, scalar broadcast back."""
    from pdf_extractor_spark.operators.events import dow_seasonality

    return dow_seasonality(_t(spark, sf_dir, "events"))


def _section_split(spark, sf_dir):
    """Heading-based document segmentation over a deterministic sectioned
    synthesis (ALL-CAPS 'HEADING s 1' lines, 6-token body lines, an
    unheaded preamble for doc_id % 7 == 0): short uppercase lines open
    sections; preamble lines form section 0."""
    from pdf_extractor_spark.operators.layout import (
        section_split,
        synthesize_sections,
    )

    return section_split(synthesize_sections(_t(spark, sf_dir, "documents")))


def _keyword_rake(spark, sf_dir):
    """RAKE keyword extraction per document: phrases split at the
    stopword boundaries, words scored degree/freq over the phrase
    co-occurrence graph, top-3 distinct phrases by summed word score."""
    from pdf_extractor_spark.operators.keywords import keyword_rake

    return keyword_rake(_t_wide(spark, sf_dir, "documents"))


def _reverse_search(spark, sf_dir):
    """Percolator-style stored-query matching: five standing conjunctive
    term queries (STORED_QUERIES index state) matched against every
    document's token set; per query, match count + smallest doc id."""
    from pdf_extractor_spark.operators.keywords import reverse_search

    return reverse_search(_t_wide(spark, sf_dir, "documents"))


def _sentence_segment(spark, sf_dir):
    """Rule-based sentence segmentation stats over a deterministically
    punctuated corpus (abbreviation trap 'Dr.' at i%17==0, '.' at i%5==4,
    '?' at i%11==7): sentence counts, mean length, the C4/Gopher-style
    short-sentence fraction, and the unterminated-tail flag."""
    from pdf_extractor_spark.operators.textstats import (
        sentence_segment,
        synthesize_sentences,
    )

    return sentence_segment(
        synthesize_sentences(_t_wide(spark, sf_dir, "documents"))
    )


def _badword_filter(spark, sf_dir):
    """Wordlist safety filter with leetspeak normalization over a
    deterministically obfuscated corpus (tokens at i%13==0 leetified):
    normalize-then-match, drop docs whose flagged fraction >= 0.08."""
    from pdf_extractor_spark.operators.curation import (
        badword_filter,
        synthesize_obfuscation,
    )

    return badword_filter(
        synthesize_obfuscation(_t_wide(spark, sf_dir, "documents"))
    )


def _assoc_rules(spark, sf_dir):
    """Apriori association rules over documents-as-baskets: frequent
    token pairs at support >= 1/5, both directional rules, top-20 by
    lift with deterministic tie-breaks."""
    from pdf_extractor_spark.operators.keywords import assoc_rules

    # plain _t: the operator fan_outs its tokenize branches itself and
    # keeps the basket-count scan narrow (no repartition of text bytes)
    return assoc_rules(_t(spark, sf_dir, "documents"))


def _quote_extract(spark, sf_dir):
    """Quotation-span extraction over a deterministically quoted corpus
    (every 19th token opens a 3-token quote; truncated tails stay
    unclosed and must not match)."""
    from pdf_extractor_spark.operators.layout import (
        quote_extract,
        synthesize_quotes,
    )

    return quote_extract(synthesize_quotes(_t_wide(spark, sf_dir, "documents")))


def _sample_alloc(spark, sf_dir):
    """Largest-remainder (Hamilton) allocation of a 100-doc eval budget
    across (lang, source) strata — all-integer arithmetic, quotas sum to
    the budget exactly."""
    from pdf_extractor_spark.operators.curation import sample_alloc

    return sample_alloc(_t(spark, sf_dir, "documents"))


def _time_to_convert(spark, sf_dir):
    """Conversion-latency distribution: per user the first view and the
    first strictly-later purchase, integer-microsecond deltas, median and
    p90 seconds over converted users."""
    from pdf_extractor_spark.operators.events import time_to_convert

    return time_to_convert(_t(spark, sf_dir, "events"))


def _luhn_scan(spark, sf_dir):
    """Payment-card PII detection over deterministically seeded digit
    runs: doc_id % 4 selects valid-Luhn / invalid-Luhn / too-short / no
    digits; candidates are 13-19 digit runs, validity is the mod-10
    checksum — both computed columnar (array fold, no UDF)."""
    from pdf_extractor_spark.operators.curation import (
        luhn_scan,
        synthesize_pans,
    )

    return luhn_scan(synthesize_pans(_t_wide(spark, sf_dir, "documents")))


def _cusum_changepoint(spark, sf_dir):
    """One-sided CUSUM drift detection on the daily event-count series,
    all-integer (residuals scaled by n_days), earliest-peak alarm day."""
    from pdf_extractor_spark.operators.events import cusum_changepoint

    return cusum_changepoint(_t(spark, sf_dir, "events"))


def _event_paths(spark, sf_dir):
    """Top-10 3-step event-type paths across users (the Sankey feed),
    microsecond-ordered with event_id tie-breaks."""
    from pdf_extractor_spark.operators.events import event_paths

    return event_paths(_t(spark, sf_dir, "events"))


def _rfm_segments(spark, sf_dir):
    """RFM purchase segmentation: recency/frequency/monetary ntile(5)
    tiers under fully deterministic orderings (monetary in exact integer
    cents), rolled up per segment."""
    from pdf_extractor_spark.operators.events import rfm_segments

    return rfm_segments(_t(spark, sf_dir, "events"))


def _span_interleave_stats(spark, sf_dir):
    """Interleaving profile of north-rule span arrays (runs, max
    same-kind stretch, transitions) over the deterministic interleaved
    synthesis; arrays arrive REVERSED so the offset sort is exercised."""
    from pdf_extractor_spark.operators.multimodal import (
        span_interleave_stats,
        synthesize_interleaved,
    )

    return span_interleave_stats(
        synthesize_interleaved(_t_wide(spark, sf_dir, "documents"))
    )


def _media_ref_integrity(spark, sf_dir):
    """Referential-integrity audit of interleaved media spans against a
    synthesized asset store with deterministically missing rows."""
    from pdf_extractor_spark.operators.multimodal import (
        media_ref_integrity,
        synthesize_assets,
        synthesize_interleaved,
    )

    docs = _t_wide(spark, sf_dir, "documents")
    return media_ref_integrity(
        synthesize_interleaved(docs), synthesize_assets(docs)
    )


def _toc_extract(spark, sf_dir):
    """Dotted-number outline extraction (depth = dots + 1) over the
    deterministic TOC synthesis; plain body lines must not match."""
    from pdf_extractor_spark.operators.layout import (
        synthesize_toc,
        toc_extract,
    )

    return toc_extract(synthesize_toc(_t_wide(spark, sf_dir, "documents")))


def _footnote_link(spark, sf_dir):
    """Footnote marker-to-definition linking with dangling markers and
    orphan definitions, via array set algebra (no joins)."""
    from pdf_extractor_spark.operators.layout import (
        footnote_link,
        synthesize_footnotes,
    )

    return footnote_link(
        synthesize_footnotes(_t_wide(spark, sf_dir, "documents"))
    )


def _acronym_extract(spark, sf_dir):
    """Schwartz-Hearst-style acronym mining over seeded definition
    sites: parenthesized caps candidates validated by initial matching
    (the doc_id%3 'Q' variant is usually invalid — except when the
    second word genuinely starts with q)."""
    from pdf_extractor_spark.operators.keywords import (
        acronym_extract,
        synthesize_acronyms,
    )

    return acronym_extract(
        synthesize_acronyms(_t_wide(spark, sf_dir, "documents"))
    )


def _unit_normalize(spark, sf_dir):
    """Storage-quantity extraction with unit canonicalization to exact
    integer bytes; unknown-unit decoys must not match."""
    from pdf_extractor_spark.operators.curation import (
        synthesize_quantities,
        unit_normalize,
    )

    return unit_normalize(
        synthesize_quantities(_t_wide(spark, sf_dir, "documents"))
    )


def _list_detect(spark, sf_dir):
    """Bulleted-list block detection (gaps-and-islands over item lines)
    with zero-list docs reported, over the deterministic list
    synthesis."""
    from pdf_extractor_spark.operators.layout import (
        list_detect,
        synthesize_lists,
    )

    return list_detect(synthesize_lists(_t_wide(spark, sf_dir, "documents")))


def _column_conformance(spark, sf_dir):
    """Derived-column conformance audit (stored n_chars vs
    length(text)) per source, over deterministically drifted metadata."""
    from pdf_extractor_spark.operators.maintenance import (
        column_conformance,
        synthesize_meta_drift,
    )

    return column_conformance(
        synthesize_meta_drift(_t(spark, sf_dir, "documents"))
    )


def _zone_map_prune(spark, sf_dir):
    """Manifest-pruning audit: zone-map file inventory (32 docs/file)
    vs the truth for a length-range predicate — pruned files, scanned
    files, and zone-map false positives."""
    from pdf_extractor_spark.operators.maintenance import (
        synthesize_file_stats,
        zone_map_prune,
    )

    docs = _t(spark, sf_dir, "documents")
    return zone_map_prune(synthesize_file_stats(docs), docs)


def _lang_confusion(spark, sf_dir):
    """Confusion matrix between the stored lang column and the stopword
    -vote lang_id prediction — the label-quality audit run before
    trusting either side for curation decisions."""
    from pdf_extractor_spark.operators.textstats import add_lang_id

    docs = add_lang_id(_t_wide(spark, sf_dir, "documents"))
    return docs.groupBy("lang", "lang_pred").agg(
        F.count("*").cast("long").alias("n")
    )


def _bot_detect(spark, sf_dir):
    """Rate-based bot detection over traffic with deterministic bot
    users injected (user_id % 37 == 0 rewritten to a half-second
    cadence): flags users whose average inter-event gap is under the
    human floor, all-integer cross-multiplied."""
    from pdf_extractor_spark.operators.events import (
        bot_detect,
        synthesize_bot_traffic,
    )

    return bot_detect(synthesize_bot_traffic(_t(spark, sf_dir, "events")))


def _centroid_drift(spark, sf_dir):
    """Per-label cosine similarity between even- and odd-half embedding
    centroids — the distribution-drift gate for embedding ingest."""
    from pdf_extractor_spark.operators.similarity import centroid_drift

    return centroid_drift(_t(spark, sf_dir, "embeddings"))


def _stylometry_delta(spark, sf_dir):
    """Burrows' Delta over the 10 most frequent corpus tokens: top-5
    closest source pairs by mean |z_a - z_b| (ranked on the rounded
    delta so float noise cannot reorder)."""
    from pdf_extractor_spark.operators.stylometry import stylometry_delta

    return stylometry_delta(_t_wide(spark, sf_dir, "documents"))


def _source_diversity(spark, sf_dir):
    """Per-source vocabulary size and Simpson diversity index (integer
    numerator, single rounded division)."""
    from pdf_extractor_spark.operators.stylometry import source_diversity

    return source_diversity(_t_wide(spark, sf_dir, "documents"))


def _autocomplete_prefix(spark, sf_dir):
    """Autocomplete prefix index: per 3-char prefix, occurrence total
    and the most frequent completion."""
    from pdf_extractor_spark.operators.keywords import autocomplete_prefix

    return autocomplete_prefix(_t_wide(spark, sf_dir, "documents"))


def _anomaly_mad(spark, sf_dir):
    """Robust per-type outlier counts: median absolute deviation
    threshold (|v - med| > 5 * MAD), exact percentiles."""
    from pdf_extractor_spark.operators.events import anomaly_mad

    return anomaly_mad(_t(spark, sf_dir, "events"))


def _table_column_types(spark, sf_dir):
    """Column-type inference over extracted pipe-table grids: doc_id %
    4 == 1 docs carry a (text, int, num) 3-col table; doc_id % 8 == 5
    docs add a second (int, num) table behind a separator."""
    from pdf_extractor_spark.operators.layout import (
        extract_text_tables,
        table_column_types,
    )

    docs = _t(spark, sf_dir, "documents")
    did = F.col("doc_id")

    def data_row(r: int):
        line = F.concat(
            F.lit(f"\nitem{r} | "),
            ((did % 10) + r).cast("string"),
            F.lit(" | "),
            ((did * (r + 1)) % 97).cast("string"),
            F.lit(".5"),
        )
        return F.when(F.lit(r) < (did % 3) + 2, line).otherwise(F.lit(""))

    t1 = F.concat(
        F.lit("\nname | qty | price"),
        data_row(0), data_row(1), data_row(2), data_row(3),
    )
    t2 = F.lit("\n--\nx | y\n1 | 2.25")
    aug = F.concat(
        F.col("text"),
        F.when(did % 4 == 1, t1).otherwise(F.lit("")),
        F.when(did % 8 == 5, t2).otherwise(F.lit("")),
    )
    return table_column_types(
        extract_text_tables(docs.select("doc_id", aug.alias("text")))
    )


def _vocab_prune(spark, sf_dir):
    """Tokenizer vocabulary sizing: smallest vocab covering 99% of
    occurrences (integer threshold) plus top-10/top-50 coverage."""
    from pdf_extractor_spark.operators.textstats import vocab_prune

    return vocab_prune(_t_wide(spark, sf_dir, "documents"))


def _value_histogram(spark, sf_dir):
    """Equi-width 10-bucket histogram of event values over [min, max]."""
    from pdf_extractor_spark.operators.events import value_histogram

    return value_histogram(_t(spark, sf_dir, "events"))


def _link_reciprocity(spark, sf_dir):
    """Per-host link reciprocity over the same deterministic host graph
    pagerank_hosts uses (distinct directed edges, self-loops removed)."""
    from pdf_extractor_spark.operators.graph import reciprocity

    edges = _host_graph_edges(_t_wide(spark, sf_dir, "documents"))
    return reciprocity(edges)


def _label_propagation(spark, sf_dir):
    """Min-label propagation communities (2 synchronous rounds) over
    the undirected closure of the deterministic host graph."""
    from pdf_extractor_spark.operators.graph import label_propagation

    edges = _host_graph_edges(_t_wide(spark, sf_dir, "documents"))
    return label_propagation(edges)


def _cc_chain_bridge(docs):
    """The chain and bridge edges of the cc_hosts / cc_incremental host
    graph (see _cc_hosts). The corpus collapses to its distinct u values
    FIRST (<= 500 rows), so the edge construction and the undirected
    closure run on the bounded table, not per document."""
    us = docs.select((F.col("doc_id") % 500).alias("u")).distinct()
    u = F.col("u")

    def h(e):
        return F.concat(
            F.lit("h"), e.cast("string"), F.lit(".example.com")
        )

    chain = us.filter(u % 17 != 16).select(
        h(u).alias("src"), h(u + 1).alias("dst")
    )
    bridge = us.filter(u % 29 == 3).select(
        h(u).alias("src"), h(u + 13).alias("dst")
    )
    return chain, bridge


def _cc_hosts(spark, sf_dir):
    """EXACT connected components by star contraction (converged in
    O(log P) shuffles, not O(diameter) rounds — unlike
    label_propagation's fixed 2 rounds) over a deterministic
    chain-with-bridges host graph: nodes h(doc_id % 500), chain edges
    u—u+1 broken at u % 17 == 16 (17-node path segments), bridge edges
    u—u+13 where u % 29 == 3 (merges some segments into larger,
    higher-diameter components). The oracle computes true components
    via a recursive min-reachable-label CTE, so ONLY a genuinely
    converged algorithm matches it. The bounded host domain (<= 502
    nodes) starts at one group, i.e. exactly one vectorized union-find
    pass. `connected_components` (the iterative
    pointer-doubling fixpoint) computes the identical partition —
    pinned by tests/test_connected_components.py."""
    from pdf_extractor_spark.operators.graph import (
        connected_components_contract,
    )

    chain, bridge = _cc_chain_bridge(_t_wide(spark, sf_dir, "documents"))
    # the node domain is bounded by construction (<= 502 hosts), so the
    # contraction starts — and ends — at a single group
    return connected_components_contract(
        chain.unionByName(bridge), n_groups=1
    )


def _cc_incremental(spark, sf_dir):
    """Incremental CC: the chain edges form the BASE assignment (path
    segments) AS PERSISTED INDEX STATE (the minhash_signatures/
    discipline — built once per (session, sf_dir), read as parquet),
    then the bridge edges arrive as the CDC batch and merge segments on
    the CONTRACTED graph — batch-proportional work, zero re-walk of the
    old edges. The oracle is cc_hosts' recursive CTE
    over the FULL edge union, so the check proves incremental == batch
    recompute exactly."""
    from pdf_extractor_spark.operators.graph import (
        connected_components_contract,
        connected_components_incremental,
    )

    chain, bridge = _cc_chain_bridge(_t_wide(spark, sf_dir, "documents"))
    base = _persisted(
        spark, "cc_base_labels", sf_dir,
        lambda: connected_components_contract(chain, n_groups=1).select(
            "host", "component"
        ),
    )
    return connected_components_incremental(base, bridge, n_groups=1)


def _expire_snapshots(spark, sf_dir):
    """Snapshot retention planning (keep last 7 + weekly heads) over a
    snapshot timeline synthesized from the distinct event dates."""
    from pdf_extractor_spark.operators.maintenance import expire_snapshots
    from pyspark.sql import Window

    snaps = (
        _t(spark, sf_dir, "events")
        .select(F.to_date("ts").alias("snap_date"))
        .distinct()
        .withColumn(
            "snapshot_id",
            F.row_number()
            .over(Window.orderBy("snap_date"))
            .cast("long"),
        )
    )
    return expire_snapshots(snaps)


def _text_tiling(spark, sf_dir):
    """TextTiling-style topic segmentation: Jaccard between adjacent
    20-token blocks, boundaries where similarity < 0.1."""
    from pdf_extractor_spark.operators.textstats import text_tiling

    return text_tiling(_t_wide(spark, sf_dir, "documents"))


def _event_rle(spark, sf_dir):
    """Run-length profile of each user's event-type sequence — the
    repetition smell complementary to bot_detect's timing signal."""
    from pdf_extractor_spark.operators.events import event_rle

    return event_rle(_t(spark, sf_dir, "events"))


def _quality_percentile(spark, sf_dir):
    """Per-language percentile rank of the quality score — rank
    normalization before cross-language threshold filtering. Scalable
    shape: cumulative counts over the (lang, score) distribution table,
    never a per-row window; the oracle uses native percent_rank()."""
    from pdf_extractor_spark.operators.textstats import (
        add_quality_score,
        quality_percentile,
    )

    docs = add_quality_score(_t_wide(spark, sf_dir, "documents"))
    return quality_percentile(docs.select("doc_id", "lang", "quality"))


def _dehyphenate(spark, sf_dir):
    """End-of-line hyphenation repair over a deterministically wrapped
    corpus (token midpoint breaks at (doc_id + i) % 5 == 0): repairing
    must reproduce the original text exactly, and `restored` certifies
    it via md5 equality."""
    from pdf_extractor_spark.operators.layout import (
        dehyphenate,
        synthesize_hyphen_wraps,
    )

    docs = _t(spark, sf_dir, "documents")
    wrapped = synthesize_hyphen_wraps(docs)
    out = dehyphenate(wrapped).join(
        docs.select("doc_id", "text"), "doc_id"
    )
    return out.select(
        "doc_id",
        "n_wraps",
        F.md5(F.col("dehyphenated")).alias("repaired_md5"),
        (
            F.md5(F.col("dehyphenated"))
            == F.md5(
                F.array_join(
                    F.filter(
                        F.split(F.coalesce(F.col("text"), F.lit("")), " "),
                        lambda t: t != "",
                    ),
                    " ",
                )
            )
        ).alias("restored"),
    )


def _header_footer_strip(spark, sf_dir):
    """Running header/footer removal over a deterministic multi-page
    synthesis (repeating 'Report doc N' header, numbered footer):
    digit-normalized lines on >= max(2, ceil(0.8 * n_pages)) distinct
    pages are boilerplate; body_md5 pins the surviving text."""
    from pdf_extractor_spark.operators.layout import (
        header_footer_strip,
        synthesize_doc_pages,
    )

    return header_footer_strip(
        synthesize_doc_pages(_t(spark, sf_dir, "documents"))
    )


def _event_transitions(spark, sf_dir):
    """First-order Markov transition table over per-user event sequences:
    lead() window keyed by user, then a tiny |types|² rollup with
    row-normalized probabilities."""
    from pdf_extractor_spark.operators.events import event_transitions

    return event_transitions(_t(spark, sf_dir, "events"))


def _attribution_credit(spark, sf_dir):
    """Linear multi-touch attribution: each purchase's value split equally
    across the user's clicks in the preceding 72h, rolled up to the
    click's calendar day."""
    from pdf_extractor_spark.operators.events import attribution_credit

    return attribution_credit(_t(spark, sf_dir, "events"))


def _decayed_activity(spark, sf_dir):
    """Half-life-decayed per-user activity score anchored at the newest
    event in the snapshot (deterministic — no wall clock)."""
    from pdf_extractor_spark.operators.events import decayed_activity

    return decayed_activity(_t(spark, sf_dir, "events"))


def _entity_mentions(spark, sf_dir):
    """Entity-mention stats over a deterministically capitalized corpus:
    tokens at positions ≡ 0,1 (mod 7) get their first letter uppercased,
    creating 2-token Capitalized runs for the islands fold to recover."""
    from pdf_extractor_spark.operators.textstats import (
        entity_mentions,
        tokens_col,
    )

    docs = _t_wide(spark, sf_dir, "documents")
    cap = F.array_join(
        F.transform(
            tokens_col(F.col("text")),
            lambda t, i: F.when(
                i % 7 < 2,
                F.concat(
                    F.upper(t.substr(F.lit(1), F.lit(1))),
                    t.substr(F.lit(2), F.length(t)),
                ),
            ).otherwise(t),
        ),
        " ",
    )
    return entity_mentions(
        docs.select("doc_id", cap.alias("text")), min_count=2
    )


def _calibration_bins(spark, sf_dir):
    """Reliability-diagram counts for the hash_lr quality filter against
    a deterministic long-document gold (n_chars >= 400): 10 fixed bins
    over the rounded score plus the NULL-score bin, integer counts."""
    from pdf_extractor_spark.operators.textstats import (
        calibration_bins,
        hash_lr_score,
    )

    docs = _t_wide(spark, sf_dir, "documents")
    scored = hash_lr_score(docs, as_columns=True).withColumn(
        "gold", F.col("n_chars") >= 400
    )
    return calibration_bins(scored)


def _incremental_dedup(spark, sf_dir):
    """Daily-increment exact dedup: the whole corpus arrives as a batch and
    is deduped against the digest index of the already-ingested sources
    (src0..src9) — batch-internal min-id, then anti-join on the digest."""
    from pdf_extractor_spark.operators.curation import incremental_dedup

    docs = _t(spark, sf_dir, "documents")
    # try_cast: a source value that is not 'srcN' (or is null) must select
    # nothing, not throw under ANSI mode (degenerate-corpus gate)
    seen = docs.filter(
        F.col("source").substr(4, 10).try_cast("int") < 10
    ).select(F.md5("text").alias("digest"))
    return incremental_dedup(docs, seen)


# weak-supervision teacher for the trained hashed-BoW model (the regex
# rule a rules pass yields for free; jobs/run_train.py --keyword spark)
_LR_TEACHER = lambda: F.coalesce(F.col("text"), F.lit("")).rlike(  # noqa: E731
    r"\bspark\b"
)


def _lattice_vocab_list(spark, sf_dir):
    """Trained lattice-tokenizer vocabulary as a persisted artifact
    (piece, cnt): built once per corpus, written, read back, collected —
    the bounded train-once state the encoder ships as a plan literal
    (same class as the hash_lr weights / dsir models)."""
    from pdf_extractor_spark.operators.curation import lattice_vocab

    def build():
        vocab = _persisted(
            spark, "lattice_vocab", sf_dir,
            lambda: lattice_vocab(_t(spark, sf_dir, "documents")),
        )
        return [(r["piece"], r["cnt"]) for r in vocab.collect()]

    return _index_state("lattice_vocab_list", sf_dir, build)


def _lattice_pieces_persisted(spark, sf_dir):
    """Encoded distinct-word table (w, pieces, n_pieces) AS PERSISTED
    INDEX STATE (the jobs/run_index.py `lattice_pieces/` artifact, the
    neardup_pairs discipline): the unrolled Viterbi DP — whose Catalyst
    analysis/codegen cost dominates every inline invocation — runs ONCE
    per corpus at index-build time; every recurring lattice_encode
    collapses to one word-key join against the parquet."""
    from pdf_extractor_spark.operators.curation import (
        _lattice_word_pieces,
        tokens_col,
    )

    def build():
        words = (
            _t(spark, sf_dir, "documents")
            .select(
                F.explode(tokens_col(F.lower(F.col("text")))).alias("w")
            )
            .distinct()
        )
        return _lattice_word_pieces(words, _lattice_vocab_list(spark, sf_dir))

    return _persisted(spark, "lattice_pieces", sf_dir, build)


def _host_ranks_persisted(spark, sf_dir):
    """(pagerank, hits) host-rank tables as persisted index state: host
    importance is a periodically recomputed artifact in a crawl pipeline
    (like IVF centroids and the neardup_pairs index), so the fusion /
    ranking-agreement queries read the persisted tables instead of
    re-running the power iterations per invocation."""
    from pdf_extractor_spark.operators.graph import hits, pagerank

    def edges():
        return _host_graph_edges(_t_wide(spark, sf_dir, "documents"))

    pr = _persisted(
        spark, "pagerank", sf_dir,
        lambda: pagerank(edges(), iters=3, damping=0.85).withColumnRenamed(
            "node", "host"
        ),
    )
    ht = _persisted(
        spark, "hits", sf_dir,
        lambda: hits(edges(), iters=2).withColumnRenamed("node", "host"),
    )
    return pr, ht


def _trained_lr_weights(spark, sf_dir):
    """Trained hash-LR weights as a persisted artifact (the
    jobs/run_train.py `hash_lr_weights/` shape): trained once per corpus,
    written, and read back — scoring queries load the artifact instead of
    refitting inline."""
    from pdf_extractor_spark.operators.textstats import train_hash_lr_weights

    def build():
        docs = _t(spark, sf_dir, "documents").withColumn(
            "_label", _LR_TEACHER()
        )
        weights = _persisted(
            spark, "hash_lr_weights", sf_dir,
            lambda: train_hash_lr_weights(docs, "_label"),
        )
        rows = sorted(weights.collect(), key=lambda r: r["bucket"])
        return [r["weight"] for r in rows]

    return _index_state("hash_lr_weight_list", sf_dir, build)


def _neardup_pairs_persisted(spark, sf_dir):
    """Verified minhash near-dup pairs AS PERSISTED INDEX STATE (the
    jobs/run_index.py `neardup_pairs/` artifact): first use per corpus
    builds and writes them once; every later consumer —
    cluster_size_hist, dedup_survivors, dedup_apply, i.e. the recurring
    corpus-health reports — scans the parquet instead of re-running
    signatures + banded self-join + exact verify per invocation. Same
    write-once/read-many discipline as the IVF centroids and the
    incremental-LSH bucket index."""
    from pdf_extractor_spark.operators.dedup import minhash_lsh_pairs

    def build():
        return minhash_lsh_pairs(
            _t_wide(spark, sf_dir, "documents"),
            n=3, num_hashes=64, bands=16, threshold=0.7,
        )

    return _persisted(spark, "neardup_pairs", sf_dir, build)


def _incremental_lsh_dedup(spark, sf_dir):
    """Daily-increment NEAR-dup dedup (the LSH twin of incremental_dedup):
    batch docs (src5..src19 — the 15 newer of the corpus's 20 sources)
    probed against the banded signature index of the already-ingested
    sources (src0..src4); candidates verified at exact shingle
    Jaccard >= 0.7. Oracle = brute-force cross-split Jaccard, so LSH
    recall is checked exactly.

    The index side's (band, bucket, doc_id) table is persisted index
    state (the artifact `jobs/run_dedup.py --write-index` ships daily;
    the IVF-centroid / BPE-rule pattern): built+written once per corpus,
    re-invocations pay only the batch-side probe — signatures never
    recompute for already-ingested docs."""
    from pdf_extractor_spark.operators.dedup import (
        _banded_buckets,
        incremental_minhash_pairs,
        minhash_signatures,
    )

    docs = _t_wide(spark, sf_dir, "documents")
    src_no = F.col("source").substr(4, 10).try_cast("int")
    index = docs.filter(src_no < 5)
    batch = docs.filter(src_no >= 5)
    # ONE copy of the banding parameters: the persisted buckets and the
    # batch-side probe must agree or the equi-join silently goes empty.
    num_hashes, bands = 64, 16

    def build(num_hashes, bands):
        si = minhash_signatures(index, num_hashes=num_hashes).filter(
            F.col("sig").isNotNull()
        )
        return _banded_buckets(
            si, bands=bands, rows_per_band=num_hashes // bands
        ).select("band", "bucket", F.col("id").alias("doc_id"))

    return incremental_minhash_pairs(
        batch,
        index,
        num_hashes=num_hashes,
        bands=bands,
        threshold=0.7,
        index_buckets=_persisted(
            spark, "minhash_buckets", sf_dir, build, num_hashes, bands
        ),
    )


def _curation_funnel(spark, sf_dir):
    """End-to-end curation pipeline composed on one frame (quality rules ->
    learned classifier -> exact dedup), reported as a one-row stage funnel;
    one corpus scan, no stage joins."""
    from pdf_extractor_spark.operators.curation import curation_funnel

    return curation_funnel(_t_wide(spark, sf_dir, "documents"))


def _lm_perplexity(spark, sf_dir):
    """Bigram-LM perplexity quality scoring, model trained on the corpus
    itself (the CCNet-style LM filter without an external model)."""
    from pdf_extractor_spark.operators.curation import lm_perplexity

    return lm_perplexity(_t(spark, sf_dir, "documents"))


def _pagerank_hosts(spark, sf_dir):
    """Damped PageRank (3 iterations) over a deterministic host link graph
    synthesized from the documents table: each doc's host (source) links
    to three arithmetically derived peer hosts. The host-quality signal of
    crawl curation; oracle = the same 3 iterations unrolled in SQL."""
    from pdf_extractor_spark.operators.graph import pagerank

    edges = _host_graph_edges(_t_wide(spark, sf_dir, "documents"))
    out = pagerank(edges, iters=3, damping=0.85)
    return out.select(F.col("node").alias("host"), "rank")


def _crawl_frontier(spark, sf_dir):
    """2-hop frontier BFS from two seed hosts over the same synthetic host
    graph as pagerank_hosts — min-hop label per reached node."""
    from pdf_extractor_spark.operators.graph import khop_reachable

    edges = _host_graph_edges(_t_wide(spark, sf_dir, "documents")).where(
        F.col("src") != F.col("dst")
    )
    seeds = values_df(
        spark,
        [("src0.example.com",), ("src1.example.com",)],
        "node string",
    )
    return khop_reachable(edges, seeds, k=2)


def _triangle_hosts(spark, sf_dir):
    """Per-host triangle counts (degree-ordered wedge closure) over the
    same synthetic host graph as pagerank_hosts — the link-farm /
    tight-community density signal of crawl curation."""
    from pdf_extractor_spark.operators.graph import triangle_count

    edges = _host_graph_edges(_t_wide(spark, sf_dir, "documents"))
    out = triangle_count(edges)
    return out.select(F.col("node").alias("host"), "degree", "triangles")


def _quality_tiers(spark, sf_dir):
    """CCNet-style per-language head/middle/tail bucketing by LM
    perplexity — the partition step downstream mixing policies consume."""
    from pdf_extractor_spark.operators.curation import quality_tiers

    return quality_tiers(_t(spark, sf_dir, "documents"))


def _vocab_coverage(spark, sf_dir):
    """Per-doc coverage by the corpus top-100 vocabulary — the
    tokenizer-fit / out-of-domain signal."""
    from pdf_extractor_spark.operators.textstats import vocab_coverage

    return vocab_coverage(_t_wide(spark, sf_dir, "documents"))


def _ngram_lm(spark, sf_dir):
    """The corpus bigram LM table (top-50 bigrams + MLE conditional
    probabilities) — the persisted "train" half of the lm_perplexity
    scorer's train-once / score-many split."""
    from pdf_extractor_spark.operators.curation import ngram_lm

    return ngram_lm(_t_wide(spark, sf_dir, "documents"))


def _kn_bigram_lm(spark, sf_dir):
    """Interpolated Kneser-Ney bigram model over the corpus (top-50
    bigrams): discount 3/4, continuation counts from distinct-context
    types — the KenLM-standard smoothing reduced to one exact-integer
    division per bigram so the 6-dp probability hashes identically
    cross-engine."""
    from pdf_extractor_spark.operators.curation import kn_bigram_lm

    return kn_bigram_lm(_t_wide(spark, sf_dir, "documents"))


def _kn_perplexity(spark, sf_dir):
    """Per-doc Kneser-Ney transition cross-entropy / perplexity under the
    corpus-trained bigram KN model — the scoring half of kn_bigram_lm's
    train/score split (lm_perplexity's rounding conventions)."""
    from pdf_extractor_spark.operators.curation import kn_perplexity

    return kn_perplexity(_t_wide(spark, sf_dir, "documents"))


def _text_tables(spark, sf_dir):
    """Text-mode table extraction over deterministically synthesized
    pipe tables: every doc_id % 4 == 1 doc gains a 3-col table with
    2 + doc_id % 3 data rows; every doc_id % 8 == 5 doc gains a second
    2-col table behind a non-table separator line (multi-table index)."""
    from pdf_extractor_spark.operators.layout import extract_text_tables

    docs = _t(spark, sf_dir, "documents")
    did = F.col("doc_id")

    def data_row(r: int):
        line = F.concat(
            F.lit(f"\nitem{r} | "),
            ((did % 10) + r).cast("string"),
            F.lit(" | "),
            ((did * (r + 1)) % 97).cast("string"),
        )
        return F.when(F.lit(r) < (did % 3) + 2, line).otherwise(F.lit(""))

    t1 = F.concat(
        F.lit("\nname | qty | price"),
        data_row(0), data_row(1), data_row(2), data_row(3),
    )
    t2 = F.lit("\n--\nx | y\n1 | 2")
    aug = F.concat(
        F.col("text"),
        F.when(did % 4 == 1, t1).otherwise(F.lit("")),
        F.when(did % 8 == 5, t2).otherwise(F.lit("")),
    )
    return extract_text_tables(docs.select("doc_id", aug.alias("text")))


def _span_regression(spark, sf_dir):
    """The north-star invariant as an operator: span-sequence diff
    between two extraction runs over the deterministic interleaved span
    layout (page_filter's 5-page/2-media synthesis). Run B simulates a
    regressed extractor: every 7th doc's page-1 text (offset 2) gains a
    trailing '!' and every (doc_id % 11 == 3) doc loses its second media
    span (m1)."""
    from pdf_extractor_spark.operators.spans import span_diff

    docs = _t(spark, sf_dir, "documents")
    did = F.col("doc_id")
    spans = _interleaved_span_layout(F.col("text"))
    banged = F.transform(
        spans,
        lambda s: s.withField(
            "text",
            F.when(
                (s["offset"] == 2) & (did % 7 == 0),
                F.concat(s["text"], F.lit("!")),
            ).otherwise(s["text"]),
        ),
    )
    regressed = F.filter(
        banged,
        lambda s: ~(s["media_ref"].eqNullSafe("m1") & (did % 11 == 3)),
    )

    def run(spans_col):
        return docs.select(
            did.cast("string").alias("doc_id"), spans_col.alias("spans")
        )

    return span_diff(run(spans), run(regressed))


def _interleaved_span_layout(t):
    """Deterministic interleaved span layout derived from a document's
    text column: up to 5 text pages (40-char windows, present while text
    is long enough) with media spans after pages 0 and 2 — the
    RE2-replicable span synthesis shared by page_filter,
    extract_pipeline_digest and span_regression (offsets 0..6 in order:
    t0, m0, t1, t2, m1, t3, t4)."""
    empty = F.array().cast(
        "array<struct<kind:string,text:string,media_ref:string,offset:int>>"
    )

    def tspan(i: int, off: int):
        return F.when(
            F.length(t) > i * 40,
            F.array(
                F.struct(
                    F.lit("text").alias("kind"),
                    F.substring(t, 1 + i * 40, 40).alias("text"),
                    F.lit(None).cast("string").alias("media_ref"),
                    F.lit(off).cast("int").alias("offset"),
                )
            ),
        ).otherwise(empty)

    def mspan(ref: str, off: int, min_len: int):
        return F.when(
            F.length(t) > min_len,
            F.array(
                F.struct(
                    F.lit("image").alias("kind"),
                    F.lit(None).cast("string").alias("text"),
                    F.lit(ref).alias("media_ref"),
                    F.lit(off).cast("int").alias("offset"),
                )
            ),
        ).otherwise(empty)

    return F.concat(
        tspan(0, 0), mspan("m0", 1, 0), tspan(1, 2), tspan(2, 3),
        mspan("m1", 4, 80), tspan(3, 5), tspan(4, 6),
    )


def _page_filter(spark, sf_dir):
    """Page-range predicate (reference extractor.py:46-51 semantics) over a
    deterministic interleaved span layout derived from each document's
    text: up to 5 text pages (40-char windows, present while text is long
    enough) with media spans after pages 0 and 2. pages='0,2' keeps page-0
    and page-2 text plus their trailing media; docs too short for page 2
    silently drop it — the reference's out-of-range behavior."""
    from pdf_extractor_spark.operators.spans import filter_spans_by_page

    docs = _t(spark, sf_dir, "documents")
    spans = _interleaved_span_layout(F.col("text"))
    df = docs.select(
        F.col("doc_id").cast("string").alias("doc_id"), spans.alias("spans")
    )
    out = filter_spans_by_page(df, pages="0,2")
    return out.select(
        "doc_id",
        F.size("spans").alias("n_kept"),
        F.array_join(
            F.transform(
                F.filter(F.col("spans"), lambda s: s["kind"] == "text"),
                lambda s: s["text"],
            ),
            "",
        ).alias("kept_text"),
    )


def _media_dedup(spark, sf_dir):
    """Exact media dedup by payload digest. The dup population is seeded
    deterministically: every doc_id % 5 == 0 media item also exists as a
    'copy-' variant with identical bytes, so the check compares a corpus
    with a real 20% duplicate rate (non-vacuous by construction)."""
    from pdf_extractor_spark.operators.multimodal import (
        media_dedup,
        media_from_documents,
    )

    docs = _t_wide(spark, sf_dir, "documents")
    media = media_from_documents(docs)
    dups = media_from_documents(
        docs.filter(F.col("doc_id") % 5 == 0)
    ).withColumn("media_id", F.concat(F.lit("copy-"), F.col("media_id")))
    return media_dedup(media.unionByName(dups))


def _media_phash(spark, sf_dir):
    """Perceptual-hash duplicate clusters over the decoded media features
    (same seeded-duplicate corpus as media_dedup, so real clusters)."""
    from pdf_extractor_spark.operators.multimodal import (
        extract_media_features,
        media_from_documents,
        media_phash,
    )

    docs = _t_wide(spark, sf_dir, "documents")
    media = media_from_documents(docs)
    dups = media_from_documents(
        docs.filter(F.col("doc_id") % 5 == 0)
    ).withColumn("media_id", F.concat(F.lit("copy-"), F.col("media_id")))
    return media_phash(
        extract_media_features(media.unionByName(dups), dim=8)
    )


def _media_phash_neardup(spark, sf_dir):
    """Hamming-1 perceptual near-duplicate pair volume between phash
    clusters (bit-flip probe of the signature table, FastSS-in-bit-space);
    same seeded-duplicate media corpus as media_phash."""
    from pdf_extractor_spark.operators.multimodal import (
        extract_media_features,
        media_from_documents,
        media_phash_neardup,
    )

    docs = _t_wide(spark, sf_dir, "documents")
    media = media_from_documents(docs)
    dups = media_from_documents(
        docs.filter(F.col("doc_id") % 5 == 0)
    ).withColumn("media_id", F.concat(F.lit("copy-"), F.col("media_id")))
    return media_phash_neardup(
        extract_media_features(media.unionByName(dups), dim=8), bits=8
    )


def _media_meta(spark, sf_dir):
    """Typed metadata projection over the interleaved media table."""
    from pdf_extractor_spark.operators.multimodal import media_from_documents

    media = media_from_documents(_t(spark, sf_dir, "documents"))
    return media.select(
        "media_id",
        "kind",
        F.length("payload").cast("long").alias("n_bytes"),
        F.col("meta.width").alias("width"),
        F.col("meta.height").alias("height"),
    )


_MIME_MAGIC_BY_MOD = {
    0: "89504E470D0A1A0A",              # PNG
    1: "FFD8FFE000104A464946",          # JPEG/JFIF
    2: "474946383961",                  # GIF89a
    3: "255044462D312E34",              # %PDF-1.4
    4: "524946462408000057415645",      # RIFF....WAVE
    5: "000000186674797069736F6D",      # ISO BMFF ftyp isom (mp4)
    6: "",                              # bare text -> octet-stream
    7: "504B0304",                      # ZIP local header
}


def _media_mime_sniff(spark, sf_dir):
    """Magic-byte MIME detection over synthetic binary payloads: each
    doc's utf-8 text is prefixed with a real container magic chosen by
    doc_id % 8 (PNG/JPEG/GIF/PDF/WAV-in-RIFF/MP4-ftyp/none/ZIP), so the
    sniffer must exercise the prefix table, the RIFF bytes-9..12
    disambiguation, AND the offset-5 ftyp rule. Pure JVM hex/CASE
    columnar pass — the ingest-time container sanity gate."""
    from pdf_extractor_spark.operators.multimodal import media_mime_sniff

    docs = _t(spark, sf_dir, "documents")
    m = F.col("doc_id") % 8
    magic = F.lit(None).cast("string")
    for mod, hx in _MIME_MAGIC_BY_MOD.items():
        magic = F.when(m == mod, F.lit(hx)) if mod == 0 else magic.when(
            m == mod, F.lit(hx)
        )
    payload = F.concat(
        F.unhex(magic),
        F.encode(F.coalesce(F.col("text"), F.lit("")), "UTF-8"),
    )
    media = docs.select(
        F.concat(F.lit("media-"), F.col("doc_id").cast("string")).alias(
            "media_id"
        ),
        payload.alias("payload"),
    )
    return media_mime_sniff(media)


def _media_features(spark, sf_dir):
    """mapInPandas decode+featurize plumbing (stubbed kernel, real batches)."""
    from pdf_extractor_spark.operators.multimodal import (
        extract_media_features,
        media_from_documents,
    )

    media = media_from_documents(_t(spark, sf_dir, "documents"))
    feats = extract_media_features(media, dim=8)
    return feats.select(
        "media_id", "kind", "n_bytes", "checksum",
        F.round(F.element_at("feature", 1), 6).alias("f0"),
    )


def _audio_segments(spark, sf_dir):
    """VAD-style voiced-segment islands over the audio tracks: whitespace
    = silence under the fake-decode convention, 16-sample frames, >= 13
    non-silence samples = voiced, consecutive voiced frames coalesce."""
    from pdf_extractor_spark.operators.multimodal import (
        audio_segments,
        media_from_documents,
    )

    media = media_from_documents(_t(spark, sf_dir, "documents"))
    return audio_segments(media, window=16, min_voiced=13)


def _media_resize(spark, sf_dir):
    """Image-resize stage plumbing: metadata transform to the target
    dimensions (payload passes through untouched until a real pixel kernel
    plugs in), image rows only."""
    from pdf_extractor_spark.operators.multimodal import (
        media_from_documents,
        resize_images,
    )

    media = media_from_documents(_t(spark, sf_dir, "documents"))
    out = resize_images(media, 224, 224)
    return out.select(
        "media_id",
        F.col("meta.width").alias("width"),
        F.col("meta.height").alias("height"),
        F.col("meta.sample_rate").alias("sample_rate"),
        F.col("meta.n_frames").alias("n_frames"),
        F.length("payload").cast("long").alias("n_bytes"),
    )


def _frame_sample(spark, sf_dir):
    """Every-nth frame sampling via explode of a frame sequence."""
    from pdf_extractor_spark.operators.multimodal import (
        media_from_documents,
        sample_frames,
    )

    media = media_from_documents(_t(spark, sf_dir, "documents"))
    return sample_frames(media, every_n=10).select("media_id", "frame_idx")


def _extract_pipeline(spark, sf_dir):
    """The flagship end-to-end extract->classify->validate pipeline (rows-only;
    span-parity pytest)."""
    from pdf_extractor_spark.pipeline import extract_documents
    from pdf_extractor_spark.sources.corpus import corpus_from_documents_table

    docs = _t(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism, "doc_id"
    )
    spans = corpus_from_documents_table(docs)
    out = extract_documents(spans)
    return (
        out.groupBy("doc_type")
        .agg(
            F.count("*").alias("n_docs"),
            F.round(F.avg("confidence"), 6).alias("avg_confidence"),
            F.sum(F.size("spans")).alias("total_spans"),
        )
        .orderBy(F.desc("n_docs"), "doc_type")
    )


def _extract_pipeline_digest(spark, sf_dir):
    """Driver-hashable digest of the FULL extraction pipeline (closes the
    one remaining rows-only gap): the deterministic interleaved span
    layout (shared with page_filter; REVERSED so the pipeline must
    rebuild order from offsets) runs through `extract_documents` — offset
    sort, columnar language detection, Python-ws preprocess, span/order
    rebuild, fused rule-classification UDF — and each document emits an
    md5 over its ordered (kind, text, media_ref, order) sequence plus
    doc_type / confidence / detected language / page count. The DuckDB
    oracle recomputes the identical layout, detection cascade,
    normalization, digest, and classification in pure SQL (reference
    extractor.py:38-95 + document_classifier.py:84-173 semantics)."""
    from pdf_extractor_spark.config import DocTypePattern
    from pdf_extractor_spark.pipeline import extract_documents

    docs = _t(spark, sf_dir, "documents")
    spans = _interleaved_span_layout(F.col("text"))
    df = docs.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.reverse(spans).alias("spans"),
    )
    patterns = {
        dt: DocTypePattern(dt, tuple(kws), tuple(pats))
        for dt, kws, pats in DOC_RULES
    }
    out = extract_documents(df, patterns=patterns)
    seq = F.array_join(
        F.transform(
            F.col("spans"),
            lambda s: F.concat_ws(
                "|",
                s["kind"],
                F.coalesce(s["text"], F.lit("")),
                F.coalesce(s["media_ref"], F.lit("")),
                s["order"].cast("string"),
            ),
        ),
        "\x01",
    )
    return out.select(
        "doc_id",
        F.md5(seq).alias("span_digest"),
        F.col("doc_type"),
        (F.round(F.col("confidence"), 6) + F.lit(0.0)).alias("confidence"),
        F.col("meta.language").alias("lang"),
        F.col("meta.num_pages").alias("num_pages"),
    )


def _train_hash_lr(spark, sf_dir):
    """Distributed model TRAINING as a query: exact-integer
    centroid-difference hashed-BoW weights over distinct-token features,
    fit against the regex-rule teacher (weak-supervision distillation —
    jobs/run_train.py is the operational wrapper). 256 rows: the dense
    model artifact itself."""
    from pdf_extractor_spark.operators.textstats import train_hash_lr_weights

    docs = _t(spark, sf_dir, "documents").withColumn("_label", _LR_TEACHER())
    return train_hash_lr_weights(docs, "_label")


def _hash_lr_trained(spark, sf_dir):
    """The TRAINED model applied: per-doc integer margin from the
    persisted hash_lr_weights artifact + the trained LDA-midpoint
    threshold (tau = (mean pos margin + mean neg margin)/2, computed
    from exact integer sums and compared in identically-shaped double
    arithmetic on both engines) vs the teacher label — the
    student-vs-teacher audit of the distillation (0.994 accuracy at
    sf0.01 vs a 0.77 base rate)."""
    from pdf_extractor_spark.operators.textstats import hash_lr_score

    weights = _trained_lr_weights(spark, sf_dir)
    docs = _t(spark, sf_dir, "documents").withColumn("_label", _LR_TEACHER())
    scored = hash_lr_score(docs, weights=weights, binary=True).join(
        docs.select("doc_id", "_label"), "doc_id"
    )
    # margins are integer-valued doubles (integer weights), so the class
    # sums are exact regardless of aggregation order; the threshold
    # compare happens in doubles with the same expression shape as the
    # DuckDB oracle
    stats = scored.agg(
        F.sum(F.when(F.col("_label"), F.col("margin"))).alias("_sp"),
        F.sum(F.when(~F.col("_label"), F.col("margin"))).alias("_sn"),
        F.sum(F.col("_label").cast("long")).alias("_cp"),
        F.sum((~F.col("_label")).cast("long")).alias("_cn"),
    )
    j = scored.crossJoin(F.broadcast(stats))
    tau = F.when(
        (F.col("_cp") > 0) & (F.col("_cn") > 0),
        (
            F.col("_sp") * F.col("_cn") + F.col("_sn") * F.col("_cp")
        )
        / (2.0 * F.col("_cp") * F.col("_cn")),
    ).otherwise(F.lit(0.0))
    pred = F.col("margin") > tau
    return j.select(
        "doc_id",
        "n_tokens",
        "margin",
        pred.alias("pred"),
        F.col("_label").alias("label"),
        (pred == F.col("_label")).alias("correct"),
    )


def _roc_auc(spark, sf_dir):
    """ROC AUC of the TRAINED hash-LR margin against the teacher label —
    the threshold-free companion to `model_accuracy`/`hash_lr_trained`:
    Mann-Whitney rank-sum with tie correction over per-margin class
    counts, the strictly-below cumulative from the range-partitioned
    rank engine (no global window). Exact integer pair counts; single
    final double division, bit-identical cross-engine."""
    from pdf_extractor_spark.operators.curation import roc_auc
    from pdf_extractor_spark.operators.textstats import hash_lr_score

    weights = _trained_lr_weights(spark, sf_dir)
    docs = _t(spark, sf_dir, "documents").withColumn(
        "_label", _LR_TEACHER()
    )
    scored = hash_lr_score(docs, weights=weights, binary=True).join(
        docs.select("doc_id", "_label"), "doc_id"
    )
    return roc_auc(scored, score_col="margin", label_col="_label")


def _stupid_backoff_score(spark, sf_dir):
    """Trigram Stupid Backoff (Brants et al. 2007) scoring with a
    train/score split (even doc_ids train the count tables, odd ones
    score) so unseen trigrams actually exercise the 0.4-backoff chain.
    Per-doc mean ln S at 6 dp — the lm_perplexity ln-space rounding
    discipline."""
    from pdf_extractor_spark.operators.curation import stupid_backoff_score

    docs = _t(spark, sf_dir, "documents")
    return stupid_backoff_score(
        docs.filter(F.col("doc_id") % 2 == 0),
        docs.filter(F.col("doc_id") % 2 == 1),
    )


def _curriculum_order(spark, sf_dir):
    """Curriculum training order: every document's global 1-based
    position under (quality DESC, doc_id) — easiest/cleanest first — and
    its rank-striped shard, with NO global sort: the range-partitioned
    rank engine (operators/ranking.py) computes the exact row_number via
    broadcast quality-quantile buckets. Rank striping (pos mod n_shards)
    gives every training shard the full curriculum band structure. The
    quality score is rounded to 6dp BEFORE ranking so bucket edges and
    rank order cannot flip on last-ulp float differences (house rule)."""
    from pdf_extractor_spark.operators.ranking import scalable_row_number
    from pdf_extractor_spark.operators.textstats import add_quality_score

    docs = _t(spark, sf_dir, "documents")
    scored = add_quality_score(docs, "text", "quality").select(
        "doc_id", "quality"
    )
    ranked = scalable_row_number(
        scored, "quality", ["doc_id"], ascending=False, out_col="pos"
    )
    return ranked.select(
        "doc_id",
        "quality",
        F.col("pos").cast("long").alias("pos"),
        F.pmod(F.col("pos") - 1, F.lit(8)).cast("int").alias("shard"),
    )


def _lattice_vocab(spark, sf_dir):
    """Lattice-tokenizer vocabulary selection (the unigram-LM family's
    integer-exact variant): all single chars + top-200 multi-char pieces
    by corpus occurrence count, deterministic (cnt desc, piece asc)."""
    from pdf_extractor_spark.operators.curation import lattice_vocab

    return lattice_vocab(_t(spark, sf_dir, "documents"))


def _lattice_encode(spark, sf_dir):
    """The corpus encoded through the lattice tokenizer (Viterbi DP over
    the piece lattice, fewest-pieces-then-highest-count exact-integer
    objective): per-doc word/piece counts + an md5 over the in-order
    piece sequence. Vocabulary AND encoded-word table read from the
    persisted artifacts (jobs/run_index.py `lattice_vocab/` +
    `lattice_pieces/`), so the recurring query is one word-key join —
    the DP plan never recompiles per invocation. The DuckDB oracle
    re-derives the vocabulary AND replays the identical unrolled DP +
    backpointer walk (generated from the same loops)."""
    from pdf_extractor_spark.operators.curation import lattice_encode

    vocab = _lattice_vocab_list(spark, sf_dir)
    return lattice_encode(
        _t(spark, sf_dir, "documents"),
        vocab,
        pieces=_lattice_pieces_persisted(spark, sf_dir),
    )


def _model_accuracy(spark, sf_dir):
    """One-row promotion gate for the trained model: doc counts, teacher
    base rate, and train-set accuracy."""
    ev = _hash_lr_trained(spark, sf_dir)
    return ev.agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum(F.col("label").cast("long")).cast("long").alias("n_pos_label"),
        F.sum(F.col("correct").cast("long")).cast("long").alias("n_correct"),
        (
            F.round(
                F.sum(F.col("correct").cast("long")) / F.count("*"), 6
            )
            + F.lit(0.0)
        ).alias("accuracy"),
    )


def _html_corpus(spark, sf_dir):
    """Deterministic web-page corpus from the documents table (the driver
    tables carry plain text; the prompt mandates synthesizing the HTML
    input deterministically at small scale). Columnar concat — the oracle
    rebuilds the identical page in SQL."""
    from pdf_extractor_spark.operators.html import synthesize_html

    return synthesize_html(_t(spark, sf_dir, "documents"))


def _html_main_content(spark, sf_dir):
    """North-rule 'HTML boilerplate strip': per-doc main content via DOM
    block segmentation + text/link-density heuristics. Zero shuffle."""
    from pdf_extractor_spark.operators.html import html_main_content

    return html_main_content(_html_corpus(spark, sf_dir))


def _html_blocks(spark, sf_dir):
    """North-rule 'DOM heuristics' inspection surface: per-block features +
    keep decision. Sampled deterministically (doc_id % 17) to bound the
    driver-side compare; the operator itself runs on any corpus."""
    from pdf_extractor_spark.operators.html import html_blocks, synthesize_html

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") % 17 == 0)
    return html_blocks(synthesize_html(docs))


def _html_links(spark, sf_dir):
    """Web-graph feeder: every <a href> anchor per page with its cleaned
    anchor text — the input to link-graph / anchor-text-index / host-rank
    curation stages. Narrow per-row regex work, zero shuffle."""
    from pdf_extractor_spark.operators.html import extract_links

    return extract_links(_html_corpus(spark, sf_dir))


def _anchor_text_index(spark, sf_dir):
    """Aggregated anchor-text index per link target (the external page
    description web rankers use) over the extracted outlinks."""
    from pdf_extractor_spark.operators.html import (
        anchor_text_index,
        extract_links,
    )

    return anchor_text_index(extract_links(_html_corpus(spark, sf_dir)))


def _host_quota_sample(spark, sf_dir):
    """Per-host document cap (quota 20) by deterministic seeded hash
    order — the anti-domination sampling step of crawl curation."""
    from pdf_extractor_spark.operators.curation import host_quota_sample

    return host_quota_sample(_t_wide(spark, sf_dir, "documents"), quota=20)


def _tpch_q7(spark, sf_dir):
    """TPC-H Q7 (volume shipping between two nations): the classic
    two-dimension-lookup join — both nation references broadcast, the
    symmetric nation-pair predicate applied post-join."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01")
        & (F.col("l_shipdate") < "1998-01-01")
    )
    supp = _t(spark, sf_dir, "supplier")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    n1 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation")
    )
    n2 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("c_nk"), F.col("n_name").alias("cust_nation")
    )
    pair = (
        (F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2")
    ) | (
        (F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1")
    )
    return (
        li.join(supp, li.l_suppkey == supp.s_suppkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("s_nk"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("c_nk"))
        .filter(pair)
        .groupBy(
            "supp_nation", "cust_nation",
            F.year("l_shipdate").alias("l_year"),
        )
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


def _tpch_q12(spark, sf_dir):
    """TPC-H Q12 adapted to the slim schema (no shipmode/commitdate):
    late-shipment rate per order priority, 'late' = shipped more than 90
    days after the order date."""
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01")
        & (F.col("l_shipdate") < "1997-01-01")
    )
    late = F.col("l_shipdate") > F.col("o_orderdate") + F.expr(
        "INTERVAL 90 DAYS"
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.sum(late.cast("long")).alias("late_count"),
            F.count("*").cast("long").alias("line_count"),
        )
        .orderBy("o_orderpriority")
    )


def _tpch_q14(spark, sf_dir):
    """TPC-H Q14 (promo revenue share): part dim broadcast; conditional
    sum over one shipdate month."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-09-01")
        & (F.col("l_shipdate") < "1996-10-01")
    )
    part = _t(spark, sf_dir, "part")
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .agg(
            F.round(
                100.0
                * F.sum(
                    F.when(F.col("p_type") == "PROMO", vol).otherwise(0.0)
                )
                / F.sum(vol),
                4,
            ).alias("promo_revenue")
        )
    )


def _tpch_q18(spark, sf_dir):
    """TPC-H Q18 (large-volume orders): HAVING-filtered aggregate as a
    left-semi join (never a collected IN list), then top-100 via
    TakeOrderedAndProject."""
    li = _t(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("_s"))
        .filter(F.col("_s") > 200.0)
        .select("l_orderkey")
    )
    orders = _t(spark, sf_dir, "orders").join(
        big, F.col("o_orderkey") == big.l_orderkey, "left_semi"
    )
    cust = _t(spark, sf_dir, "customer")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy(
            "c_name", "c_custkey", "o_orderkey",
            F.col("o_orderdate").cast("date").cast("string").alias(
                "o_orderdate"
            ),
            "o_totalprice",
        )
        .agg(F.round(F.sum("l_quantity"), 2).alias("total_qty"))
        .orderBy(F.desc("o_totalprice"), "o_orderdate", "o_orderkey")
        .limit(100)
    )


def _tpch_q19(spark, sf_dir):
    """TPC-H Q19 (discounted revenue, OR-of-ANDs over part attributes and
    line quantity; shipmode/shipinstruct predicates dropped with the slim
    schema). The disjunction stays in the join filter so Catalyst can
    still push the partkey equi-join."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    q = F.col("l_quantity")
    sz = F.col("p_size")
    cond = (
        (
            (F.col("p_brand") == "Brand#1")
            & sz.between(1, 15)
            & q.between(1, 11)
        )
        | (
            (F.col("p_brand") == "Brand#2")
            & sz.between(1, 25)
            & q.between(10, 20)
        )
        | (
            (F.col("p_brand") == "Brand#3")
            & sz.between(1, 35)
            & q.between(20, 30)
        )
    )
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .filter(cond)
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
    )


def _layout_boxes(spark, sf_dir):
    """Deterministic positioned-box corpus from documents: even doc_ids
    are two-column pages (boxes interleaved L0,R0,L1,R1,... in input
    order), odd doc_ids single-column. Reading order must recover
    column-major order — a real permutation of the input."""
    docs = _t(spark, sf_dir, "documents")
    t = F.coalesce(F.col("text"), F.lit(""))
    n = F.length(t)
    two_col = F.col("doc_id") % 2 == 0
    empty = F.array().cast(
        "array<struct<box_id:int,x:double,y:double,w:double,h:double,text:string>>"
    )
    parts = []
    for k in range(5):
        parts.append(
            F.when(
                n > k * 40,
                F.array(
                    F.struct(
                        F.lit(k).alias("box_id"),
                        F.when(two_col, F.lit((k % 2) * 320.0))
                        .otherwise(F.lit(0.0))
                        .alias("x"),
                        F.when(two_col, F.lit((k // 2) * 100.0))
                        .otherwise(F.lit(k * 100.0))
                        .alias("y"),
                        F.when(two_col, F.lit(300.0))
                        .otherwise(F.lit(640.0))
                        .alias("w"),
                        F.lit(80.0).alias("h"),
                        F.substring(t, 1 + k * 40, 40).alias("text"),
                    )
                ),
            ).otherwise(empty)
        )
    return docs.select(
        "doc_id", F.explode(F.concat(*parts)).alias("b")
    ).select("doc_id", "b.*")


def _layout_order(spark, sf_dir):
    """North-rule 'PDF/layout parse': reading-order reconstruction
    (column split at the page mid-gap, then top-to-bottom)."""
    from pdf_extractor_spark.operators.layout import reading_order

    return reading_order(_layout_boxes(spark, sf_dir)).select(
        "doc_id", "box_id", "x", "y", "col_idx", "rank"
    )


def _layout_text(spark, sf_dir):
    """Page text reassembled in reading order (the reference's span-join
    step, reference src/core/extractor.py:59-75, over recovered order)."""
    from pdf_extractor_spark.operators.layout import (
        assemble_text,
        reading_order,
    )

    return assemble_text(reading_order(_layout_boxes(spark, sf_dir)))


def _resample_locf(spark, sf_dir):
    """Hourly gap-filled resample of each user's event stream with LOCF
    value carry (the hypertable time_bucket_gapfill + locf pattern)."""
    from pdf_extractor_spark.operators.events import resample_locf

    return resample_locf(_t(spark, sf_dir, "events"))


def _sessionize(spark, sf_dir):
    """Gap sessionization of the event log (24h gap so the sparse
    synthetic log yields multi-event sessions); per-session rollup."""
    from pdf_extractor_spark.operators.events import session_stats

    return session_stats(
        _t(spark, sf_dir, "events"), gap_minutes=1440
    )


def _asof_last_purchase(spark, sf_dir):
    """As-of join: each click attaches the user's latest prior-or-equal
    purchase. Spark side = single-shuffle union + carry-forward window;
    oracle = DuckDB's native ASOF JOIN (independent implementation)."""
    from pdf_extractor_spark.operators.events import asof_join

    events = _t(spark, sf_dir, "events")
    clicks = events.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    purchases = (
        events.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")
        .agg(F.expr("max_by(value, event_id)").alias("purchase_value"))
        .withColumn("purchase_ts", F.col("ts"))
    )
    out = asof_join(
        clicks,
        purchases,
        by="user_id",
        ts_col="ts",
        payload_cols=["purchase_ts", "purchase_value"],
        left_order_col="event_id",
    )
    return out.select(
        "event_id",
        "user_id",
        "ts",
        F.col("asof_purchase_ts"),
        F.round("asof_purchase_value", 6).alias("asof_purchase_value"),
    )


def _hash_sample(spark, sf_dir):
    """Deterministic stratified sampling: keep a document iff its md5
    bucket (0..9999) falls under the language's quota — the reproducible
    alternative to RNG sampling for corpus curation (rerun-stable,
    join-stable, audit-friendly; the standard trick at crawl scale).
    Output is the per-language sample accounting."""
    from pdf_extractor_spark.operators.dedup import simhash_token_hash

    docs = _t(spark, sf_dir, "documents")
    bucket = F.pmod(
        simhash_token_hash(
            F.concat(F.lit("smp1_"), F.col("doc_id").cast("string"))
        ),
        F.lit(10000),
    )
    rate = (
        F.when(F.col("lang") == "en", 5000)
        .when(F.col("lang") == "zh", 2500)
        .otherwise(1000)
    )
    return (
        docs.withColumn("_keep", (bucket < rate).cast("int"))
        .groupBy("lang")
        .agg(
            F.count("*").cast("long").alias("n_total"),
            F.sum("_keep").cast("long").alias("n_sampled"),
            F.round(F.avg("_keep"), 4).alias("sample_frac"),
        )
    )


def _pack_sequences(spark, sf_dir):
    """Training-sequence packing: documents binned into ~2048-token packs
    per hash shard (greedy in-order cut on the running whitespace token
    count); per-pack rollup proves the budget discipline."""
    from pdf_extractor_spark.operators.textstats import (
        pack_sequences,
        token_count,
    )

    from pdf_extractor_spark.operators.dedup import simhash_token_hash

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        token_count(F.col("text")).alias("n_tokens"),
        # md5-derived shard (not xxhash64) so DuckDB mirrors it exactly;
        # simhash_token_hash IS the one cross-engine hash recipe
        F.pmod(
            simhash_token_hash(F.col("doc_id").cast("string")), F.lit(8)
        )
        .cast("int")
        .alias("shard"),
    )
    packed = pack_sequences(docs, budget=2048, shards=8)
    return packed.groupBy("shard", "pack_id").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("pack_tokens"),
        F.min("doc_id").cast("long").alias("first_doc"),
    )


def _packing_efficiency(spark, sf_dir):
    """One-row efficiency report over the sequence packer: pack count,
    token mass, mean fill rate vs the 2048 budget, overflow packs
    (whale docs larger than the budget get a pack of their own), and
    wasted capacity in non-overflow packs — the batch-assembly health
    metric an LLM training pipeline watches (underfilled packs burn
    accelerator steps). Pure aggregation over pack_sequences' rollup;
    exact-integer arithmetic until the final rounded division."""
    budget = 2048
    packs = _pack_sequences(spark, sf_dir)
    return packs.agg(
        F.count("*").cast("long").alias("n_packs"),
        F.sum("pack_tokens").cast("long").alias("total_tokens"),
        (
            F.round(
                F.sum("pack_tokens") / (F.count("*") * F.lit(budget)), 6
            )
            + F.lit(0.0)
        ).alias("avg_fill"),
        F.sum((F.col("pack_tokens") > budget).cast("long"))
        .cast("long")
        .alias("overflow_packs"),
        F.sum(
            F.greatest(F.lit(budget) - F.col("pack_tokens"), F.lit(0))
        )
        .cast("long")
        .alias("waste_tokens"),
    )


def _chunk_documents(spark, sf_dir):
    """Training-window chunking: whitespace tokens cut into 32-token
    windows with 8-token overlap (stride 24); redundant tail windows
    suppressed. Zero-shuffle explode — output mass ~ corpus token mass."""
    from pdf_extractor_spark.operators.textstats import chunk_documents

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return chunk_documents(docs, chunk_size=32, overlap=8)


def _moving_avg_daily(spark, sf_dir):
    """Window-frame coverage: 7-day trailing moving average of daily event
    counts. The frame window is global-ordered but runs over the DAILY
    grain (one row per day — bounded domain), so the single-partition sort
    is thousands of rows at any corpus size, not O(events)."""
    from pyspark.sql import Window

    daily = (
        _t(spark, sf_dir, "events")
        .groupBy(F.col("ts").cast("date").alias("d"))
        .agg(F.count("*").alias("n"))
    )
    w = Window.orderBy("d").rowsBetween(-6, 0)
    return daily.select(
        F.col("d").cast("string").alias("date"),
        F.col("n").cast("long").alias("count"),
        F.round(F.avg("n").over(w), 6).alias("ma7"),
    )


def _daily_anomaly(spark, sf_dir):
    """Ingest-volume anomaly detection on the daily grain: each day's
    event count z-scored against the PRIOR 7 days (frame -7..-1, so the
    day under test never contaminates its own baseline); |z| > 3 with a
    positive baseline spread flags the day. The pipeline-monitoring
    analytic every scheduled corpus build runs before trusting a day's
    partition. Daily grain = bounded single-partition window, O(days)
    rows at any corpus size."""
    from pyspark.sql import Window

    daily = (
        _t(spark, sf_dir, "events")
        .groupBy(F.col("ts").cast("date").alias("d"))
        .agg(F.count("*").cast("long").alias("n"))
    )
    w = Window.orderBy("d").rowsBetween(-7, -1)
    mu = F.avg("n").over(w)
    sd = F.stddev_samp("n").over(w)
    z = F.round((F.col("n") - mu) / sd, 6)
    return daily.select(
        F.col("d").cast("string").alias("date"),
        F.col("n").alias("count"),
        F.when(sd > 0, z).alias("zscore"),
        F.coalesce(
            (sd > 0) & (F.abs(F.when(sd > 0, z)) > 3.0), F.lit(False)
        ).alias("anomaly"),
    )


def _approx_distinct_users(spark, sf_dir):
    """Sketch coverage: HyperLogLog distinct-user estimate. Each engine
    runs its OWN HLL (Spark HLL++ rsd=0.02, DuckDB's HLL), so the compared
    value is the exact count plus a boolean 'estimate within 5% of exact'
    — true on both sides iff both sketches hit their accuracy contract."""
    ev = _t(spark, sf_dir, "events")
    agg = ev.agg(
        F.countDistinct("user_id").cast("long").alias("exact_users"),
        F.approx_count_distinct("user_id", 0.02).alias("_approx"),
    )
    return agg.select(
        "exact_users",
        (
            F.abs(F.col("_approx") - F.col("exact_users"))
            <= 0.05 * F.col("exact_users")
        ).alias("approx_within_5pct"),
    )


def _sample_quantile_sketch(spark, sf_dir):
    """Mergeable bottom-k sample sketch (the fourth summary next to
    CMS/HLL/Bloom): per event type, the 64 rows with the smallest
    md5-derived hashes carry their values; p50/p90 are order-stat
    estimates read off the sketch. Bottom-k under a global hash ranking
    merges exactly across shards (pytest-pinned semilattice law); the
    oracle rebuilds the identical sketch with an UNFILTERED rank, so the
    scale prefilter's correctness is checked loudly."""
    from pdf_extractor_spark.operators.sketches import (
        sample_sketch,
        sketch_quantile,
    )

    ev = _t(spark, sf_dir, "events")
    sk = sample_sketch(ev, "event_type", "value", "event_id", k=64)
    return sk.select(
        F.col("g").alias("event_type"),
        "n",
        F.size("sk").alias("m"),
        F.round(sketch_quantile(F.col("sk"), 0.5), 6).alias("p50_est"),
        F.round(sketch_quantile(F.col("sk"), 0.9), 6).alias("p90_est"),
    )


def _hll_mergeable_users(spark, sf_dir):
    """Mergeable HLL sketch columns (Spark's DataSketches surface,
    hll_sketch_agg / hll_union_agg): per-event-type user sketches built
    once, UNIONED across groups for the global estimate — the
    per-shard/per-day summary algebra a 10^12-row pipeline keeps instead
    of re-scanning (same class as the CMS/Bloom operators, here via the
    built-in JVM sketches). The binary sketch is engine-specific, so the
    oracle checks exact counts plus the within-2% accuracy contract of
    both the per-group estimates and the merged one."""
    ev = _t(spark, sf_dir, "events")
    per = ev.groupBy("event_type").agg(
        F.hll_sketch_agg("user_id").alias("sk"),
        F.count_distinct("user_id").cast("long").alias("exact_users"),
    )
    merged = per.agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est_all")
    )
    exact_all = ev.agg(
        F.count_distinct("user_id").cast("long").alias("exact_all")
    )
    return (
        per.select(
            "event_type",
            "exact_users",
            (
                F.abs(F.hll_sketch_estimate("sk") - F.col("exact_users"))
                <= 0.02 * F.col("exact_users")
            ).alias("group_est_within_2pct"),
        )
        .crossJoin(F.broadcast(merged))
        .crossJoin(F.broadcast(exact_all))
        .select(
            "event_type",
            "exact_users",
            "group_est_within_2pct",
            "exact_all",
            (
                F.abs(F.col("est_all") - F.col("exact_all"))
                <= 0.02 * F.col("exact_all")
            ).alias("merged_est_within_2pct"),
        )
    )


def _scd2_user_status(spark, sf_dir):
    """Type-2 SCD history (merge.scd2_versions): each user's last event
    type per day is an update stream; versions open on change and close at
    the next change (valid_to NULL = current). ONE window shuffle, no
    joins — the history-preserving upsert the flat MERGE (merge_upsert)
    deliberately doesn't do."""
    from pdf_extractor_spark.merge import scd2_versions

    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(
        "user_id", F.to_date("ts").alias("d")
    ).agg(
        F.max_by("event_type", F.struct("ts", "event_id")).alias("status")
    )
    # dates as strings: pandas renders Spark DATE as datetime.date and
    # DuckDB DATE as midnight Timestamp — same instant, different str()
    return scd2_versions(daily, "user_id", "status", "d").select(
        F.col("key").alias("user_id"),
        F.col("value").alias("status"),
        F.col("valid_from").cast("string").alias("valid_from"),
        F.col("valid_to").cast("string").alias("valid_to"),
    )


def _bloom_decontaminate(spark, sf_dir):
    """Bloom-prefiltered exact decontamination (operators/sketches.py):
    the eval set's text digests packed into a 4096-bit / 5-hash Bloom
    filter (64 longs — broadcastable at ANY eval-set size), every corpus
    doc tested with no false negatives. The production prefilter for the
    broadcast-exact decontaminate when the eval set outgrows a broadcast
    set; md5-derived probes make the filter bit-identical in SQL."""
    from pdf_extractor_spark.operators.sketches import bloom_build, bloom_member

    docs = _t(spark, sf_dir, "documents").withColumn("dg", F.md5("text"))
    ev = docs.filter(F.col("doc_id") % 97 == 0)
    corpus = docs.filter(F.col("doc_id") % 97 != 0)
    bloom = bloom_build(ev, "dg", bits=4096, hashes=5)
    return bloom_member(corpus, "dg", bloom, "doc_id", bits=4096, hashes=5).select(
        F.col("id").alias("doc_id"), "bloom_hit"
    )


def _embedding_quantize(spark, sf_dir):
    """SQ8 scalar quantization of the embeddings table
    (operators/similarity.sq8_quantize): per-dimension min/max corpus
    stats, floor(x+0.5) quantization so the whole thing is a fixed dag of
    IEEE double ops — the oracle reproduces qvec exactly and max_err to
    4 decimals."""
    from pdf_extractor_spark.operators.similarity import sq8_quantize

    emb = _t(spark, sf_dir, "embeddings")
    # the driver compares str(cell): emit the vector as a comma-joined
    # string so Python-list vs numpy-array renderings cannot diverge
    return sq8_quantize(emb).select(
        F.col("id").alias("vec_id"),
        F.array_join(
            F.transform("qvec", lambda v: v.cast("string")), ","
        ).alias("qvec_csv"),
        "max_err",
    )


def _cms_user_counts(spark, sf_dir):
    """Count-Min Sketch point-frequency estimates next to ground truth
    (operators/sketches.py): depth=4 md5-derived hash rows, width=64 so the
    test corpus actually collides. Unlike the HLL/quantile sketches, the
    CMS here is deterministic and SQL-mirrorable — the oracle rebuilds the
    identical cell table and estimates, so the check is exact."""
    from pdf_extractor_spark.operators.sketches import cms_estimates

    ev = _t(spark, sf_dir, "events")
    return cms_estimates(ev, "user_id", depth=4, width=64).select(
        F.col("key").cast("long").alias("user_id"), "exact_n", "cms_est"
    )


def _zorder_key(spark, sf_dir):
    """Z-order (Morton) clustering key over (user_id, hour-since-epoch0):
    write-time layout so per-file zone maps prune on EITHER key (Iceberg/
    Delta `zorder` analog; pure shift/and/or column arithmetic, no UDF —
    operators/zorder.py). The layout op itself (repartitionByRange + sort
    by this key) is exercised by tests/test_zorder.py's bounding-box
    tightening assertion; the key is what the oracle can check exactly."""
    from pdf_extractor_spark.operators.zorder import zorder_key

    ev = _t(spark, sf_dir, "events")
    hour = F.floor(
        (F.unix_timestamp(F.col("ts")) - F.lit(1704067200)) / 3600
    ).cast("long")
    return ev.select(
        "event_id",
        F.col("user_id").cast("long").alias("user_id"),
        hour.alias("hour_idx"),
        zorder_key(F.col("user_id"), hour).alias("zvalue"),
    )


def _hilbert_key(spark, sf_dir):
    """Hilbert-curve clustering key over the same (user_id, hour) pair
    as zorder_key — the locality-tighter space-filling layout (no
    Morton discontinuity jumps). The xy2d quadrant-rotation walk rides
    one aggregate fold over a 16-plane literal table (operators/
    zorder.py); the oracle unrolls the identical walk into 16 chained
    CTEs."""
    from pdf_extractor_spark.operators.zorder import hilbert_key

    ev = _t(spark, sf_dir, "events")
    hour = F.floor(
        (F.unix_timestamp(F.col("ts")) - F.lit(1704067200)) / 3600
    ).cast("long")
    return ev.select(
        "event_id",
        F.col("user_id").cast("long").alias("user_id"),
        hour.alias("hour_idx"),
        hilbert_key(F.col("user_id"), hour, bits=16).alias("hvalue"),
    )


def _events_rollup(spark, sf_dir):
    """Grouping-set coverage: ROLLUP over (event_type, date) — per-cell,
    per-type subtotal, and grand-total rows in one shuffle pass."""
    ev = _t(spark, sf_dir, "events").select(
        F.coalesce("event_type", F.lit("unknown")).alias("event_type"),
        F.col("ts").cast("date").cast("string").alias("date"),
        "value",
    )
    return ev.rollup("event_type", "date").agg(
        F.count("*").cast("long").alias("n"),
        F.round(F.coalesce(F.sum("value"), F.lit(0.0)), 4).alias(
            "total_value"
        ),
    )


def _events_pivot(spark, sf_dir):
    """Pivot coverage: daily counts spread across the five event types
    (explicit pivot values — never a collected distinct at scale)."""
    types = ["click", "error", "purchase", "signup", "view"]
    ev = _t(spark, sf_dir, "events").select(
        F.col("ts").cast("date").cast("string").alias("date"), "event_type"
    )
    out = ev.groupBy("date").pivot("event_type", types).count()
    return out.select(
        "date",
        *[
            F.coalesce(F.col(t), F.lit(0)).cast("long").alias(t)
            for t in types
        ],
    )


def _value_quantiles(spark, sf_dir):
    """Exact percentiles per event type (Spark `percentile`, linear
    interpolation — mirrored by DuckDB quantile_cont)."""
    qs = {"q25": 0.25, "q50": 0.5, "q75": 0.75, "q90": 0.9}
    return (
        _t(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(
            F.count("value").cast("long").alias("n_values"),
            *[
                F.round(F.expr(f"percentile(value, {p})"), 6).alias(name)
                for name, p in qs.items()
            ],
        )
    )


def _approx_value_quantiles(spark, sf_dir):
    """Quantile-sketch coverage (the percentile analogue of the HLL check):
    each engine runs its OWN sketch (Spark percentile_approx/GK, DuckDB
    approx_quantile/t-digest) and the compared value is the exact quantile
    plus a boolean 'sketch within 5% of exact' — true on both sides iff
    both sketches meet their accuracy contract. At 100 TB the sketch is
    the only option: it partial-aggregates (mergeable summaries per
    partition), while exact percentile sorts every group."""
    ev = _t(spark, sf_dir, "events")
    out = ev.groupBy("event_type").agg(
        F.count("value").cast("long").alias("n_values"),
        F.round(F.expr("percentile(value, 0.5)"), 6).alias("exact_p50"),
        F.round(F.expr("percentile(value, 0.9)"), 6).alias("exact_p90"),
        F.expr("percentile_approx(value, 0.5, 10000)").alias("_a50"),
        F.expr("percentile_approx(value, 0.9, 10000)").alias("_a90"),
    )
    return out.select(
        "event_type",
        "n_values",
        "exact_p50",
        "exact_p90",
        (
            F.abs(F.col("_a50") - F.col("exact_p50"))
            <= 0.05 * F.col("exact_p50")
        ).alias("p50_within_5pct"),
        (
            F.abs(F.col("_a90") - F.col("exact_p90"))
            <= 0.05 * F.col("exact_p90")
        ).alias("p90_within_5pct"),
    )


def _click_not_purchase_users(spark, sf_dir):
    """Set-op coverage: users who clicked but never made a large
    (value > 300) purchase — the threshold keeps the result non-vacuous
    at every test scale."""
    ev = _t(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select("user_id")
    buys = ev.filter(
        (F.col("event_type") == "purchase") & (F.col("value") > 300)
    ).select("user_id")
    # subtract = EXCEPT (set semantics, like the SQL oracle); exceptAll
    # would be bag semantics and only cancel one click per buyer
    return clicks.subtract(buys)


def _range_join_windows(spark, sf_dir):
    """Bucketized range join: events against 4-day maintenance windows
    derived from the nation table (stride 3 days — overlapping, so one
    event can land in two windows). The operator is the big×big pattern
    (bucket equi-join + boundary filter); the oracle is DuckDB's native
    inequality join — an independent implementation."""
    from pdf_extractor_spark.operators.events import bucketed_range_join

    ev = _t(spark, sf_dir, "events")
    windows = _t(spark, sf_dir, "nation").select(
        F.col("n_name").alias("window_label"),
        (
            F.to_timestamp(F.lit("2024-01-01"))
            + F.make_interval(days=F.col("n_nationkey") * 3)
        ).alias("w_start"),
        (
            F.to_timestamp(F.lit("2024-01-01"))
            + F.make_interval(days=F.col("n_nationkey") * 3 + 4)
        ).alias("w_end"),
    )
    j = bucketed_range_join(ev, windows, "ts", "w_start", "w_end")
    return j.groupBy("window_label").agg(
        F.count("*").cast("long").alias("n_events"),
        F.round(F.coalesce(F.sum("value"), F.lit(0.0)), 4).alias(
            "total_value"
        ),
    )


def _multimodal_pack(spark, sf_dir):
    """Interleaved sequence packing: each doc's training cost = whitespace
    tokens of its two text-half spans + 64 image-patch tokens per media
    span (1 + doc_id%3 media spans synthesized per doc), then greedy
    in-order ~2048-cost packs per md5 shard — pack_sequences with the
    multimodal cost column. Per-pack rollup proves budget discipline."""
    from pdf_extractor_spark.operators.dedup import simhash_token_hash
    from pdf_extractor_spark.operators.multimodal import multimodal_pack_cost
    from pdf_extractor_spark.operators.textstats import pack_sequences

    docs = _t(spark, sf_dir, "documents")
    txt = F.coalesce(F.col("text"), F.lit(""))
    n = F.length(txt)
    half = F.floor(n / 2).cast("int")
    t1 = F.substring(txt, F.lit(1), half)
    t2 = F.substring(txt, half + 1, n)
    n_media = (F.pmod(F.col("doc_id"), F.lit(3)) + 1).cast("int")

    def _text_span(t, off):
        return F.struct(
            F.lit("text").alias("kind"),
            t.alias("text"),
            F.lit(None).cast("string").alias("media_ref"),
            off.cast("int").alias("offset"),
        )

    media = F.transform(
        F.sequence(F.lit(1), n_media),
        lambda i: F.struct(
            F.lit("media").alias("kind"),
            F.lit(None).cast("string").alias("text"),
            F.concat(
                F.lit("m"), i.cast("string"), F.lit("-"),
                F.col("doc_id").cast("string"),
            ).alias("media_ref"),
            (i - 1).cast("int").alias("offset"),
        ),
    )
    spans = F.concat(
        media,
        F.array(_text_span(t1, n_media), _text_span(t2, n_media + 1)),
    )
    costs = docs.select(
        "doc_id",
        multimodal_pack_cost(spans, image_budget=64).alias("mm_cost"),
        F.pmod(
            simhash_token_hash(F.col("doc_id").cast("string")), F.lit(8)
        )
        .cast("int")
        .alias("shard"),
    )
    packed = pack_sequences(
        costs, budget=2048, shards=8, count_col="mm_cost"
    )
    return packed.groupBy("shard", "pack_id").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("mm_cost").cast("long").alias("pack_cost"),
        F.min("doc_id").cast("long").alias("first_doc"),
    )


def _media_captions(spark, sf_dir):
    """Image-text pair mining over synthesized interleaved spans: every
    doc becomes [media a, text T1, media b, text T2, media c] at offsets
    0-4 — a must pair with the following T1, b ties and takes the
    following T2, c takes the preceding T2. T1/T2 are the two halves of
    the doc text, so captions vary per document."""
    from pdf_extractor_spark.operators.multimodal import media_captions

    docs = _t(spark, sf_dir, "documents")
    txt = F.coalesce(F.col("text"), F.lit(""))
    n = F.length(txt)
    half = F.floor(n / 2).cast("int")
    t1 = F.substring(txt, F.lit(1), half)
    t2 = F.substring(txt, half + 1, n)

    def _text_span(t, off):
        return F.struct(
            F.lit("text").alias("kind"),
            t.alias("text"),
            F.lit(None).cast("string").alias("media_ref"),
            F.lit(off).cast("int").alias("offset"),
        )

    def _media_span(prefix, off):
        return F.struct(
            F.lit("media").alias("kind"),
            F.lit(None).cast("string").alias("text"),
            F.concat(F.lit(prefix), F.col("doc_id").cast("string")).alias(
                "media_ref"
            ),
            F.lit(off).cast("int").alias("offset"),
        )

    with_spans = docs.select(
        "doc_id",
        F.array(
            _media_span("a-", 0),
            _text_span(t1, 1),
            _media_span("b-", 2),
            _text_span(t2, 3),
            _media_span("c-", 4),
        ).alias("spans"),
    )
    return media_captions(with_spans)


def _span_validations(spark, sf_dir):
    """Per-span structured validator output (north_star): three typed-token
    spans per document (email / CPF / date), detected and validated
    columnar. CPF check digits and date parsability vary with doc_id, so
    the output carries both valid=true and valid=false rows."""
    from pdf_extractor_spark.operators.validate import span_validations

    docs = _t(spark, sf_dir, "documents")
    d = F.col("doc_id")
    email_txt = F.concat(
        F.lit("contact user"), d.cast("string"), F.lit("@ex"),
        (d % 7).cast("string"), F.lit(".com today"),
    )
    cpf_digits = F.lpad((d * 37).cast("string"), 11, "3")
    cpf_txt = F.concat(
        F.lit("doc "),
        F.substring(cpf_digits, 1, 3), F.lit("."),
        F.substring(cpf_digits, 4, 3), F.lit("."),
        F.substring(cpf_digits, 7, 3), F.lit("-"),
        F.substring(cpf_digits, 10, 2),
    )
    date_txt = F.concat(
        F.lit("em "), (d % 35).cast("string"), F.lit("/"),
        (d % 15).cast("string"), F.lit("/2024"),
    )

    def span(txt, i):
        return F.struct(
            F.lit("text").alias("kind"),
            txt.alias("text"),
            F.lit(None).cast("string").alias("media_ref"),
            F.lit(i).cast("int").alias("offset"),
            F.lit(i).cast("int").alias("order"),
        )

    with_spans = docs.select(
        d.cast("string").alias("doc_id"),
        F.array(span(email_txt, 0), span(cpf_txt, 1), span(date_txt, 2)).alias(
            "spans"
        ),
    )
    return span_validations(with_spans)


def _avg_time_tiers(spark, sf_dir):
    """KPI time formatting (dashboard_panel.py:256-266): the same avg shown
    at three scalings so every display tier (ms / s / min) is exercised."""
    from pdf_extractor_spark.operators.analytics import format_time_tiers

    ev = _t(spark, sf_dir, "events")
    avg = F.avg("value")
    return ev.agg(
        format_time_tiers(avg / 1000000).alias("tier_ms"),
        format_time_tiers(avg % F.lit(59.0) + 0.5).alias("tier_s"),
        format_time_tiers(avg + 60).alias("tier_min"),
        format_time_tiers(F.avg(F.lit(None).cast("double"))).alias("tier_empty"),
    )


def _auto_repair(spark, sf_dir):
    """Columnar try_fix_value (validation_panel.py:530-625) over broken
    values synthesized deterministically from the documents table."""
    from pdf_extractor_spark.operators.repair import try_fix_col

    docs = _t(spark, sf_dir, "documents")
    did = F.col("doc_id").cast("string")
    cpf_raw = F.concat(F.lit("id-"), F.lpad(did, 11, "7"))
    email_raw = F.concat(F.lit("User "), did)
    date_raw = F.concat(
        (F.col("doc_id") % 28 + 1).cast("string"), F.lit("-"),
        (F.col("doc_id") % 12 + 1).cast("string"), F.lit("-"),
        (F.col("doc_id") % 100).cast("string"),
    )
    num_raw = F.concat(
        (F.col("doc_id") % 1000).cast("string"), F.lit(","),
        F.lpad((F.col("doc_id") % 100).cast("string"), 2, "0"),
    )
    return docs.select(
        "doc_id",
        try_fix_col(F.lit("cpf"), cpf_raw, F.lit("CPF inválido")).alias("fixed_cpf"),
        try_fix_col(F.lit("email"), email_raw, F.lit("Email inválido")).alias(
            "fixed_email"
        ),
        try_fix_col(
            F.lit("data_emissao"), date_raw,
            F.lit("Formato de data não reconhecido"),
        ).alias("fixed_date"),
        try_fix_col(
            F.lit("valor"), num_raw, F.lit("O valor deve ser um número")
        ).alias("fixed_number"),
        try_fix_col(
            F.lit("total"), F.lit(None).cast("string"),
            F.lit("Campo obrigatório não preenchido"),
        ).alias("fixed_required"),
    )


def _table_match(spark, sf_dir):
    """Template table matching (extractor.py:274-292): synthetic per-doc
    tables from token slices; first table whose uppercased headers overlap
    the template's."""
    from pdf_extractor_spark.operators.template import match_table_by_headers

    docs = _t(spark, sf_dir, "documents")
    toks = F.split(F.trim(F.col("text")), r"\s+")
    t1 = docs.select(
        "doc_id", F.lit(1).alias("table_id"), F.slice(toks, 1, 3).alias("headers")
    )
    t2 = docs.select(
        "doc_id", F.lit(2).alias("table_id"), F.slice(toks, 4, 3).alias("headers")
    )
    tables = t1.unionAll(t2).filter(F.size("headers") == 3)
    out = match_table_by_headers(tables, ["SPARK", "JOIN", "VECTOR"])
    return out.select(
        "doc_id", "table_id", F.array_join("headers", ",").alias("headers")
    )


def _tpch_q13(spark, sf_dir):
    """TPC-H Q13 adapted (no o_comment; the excluded-orders predicate is
    priority-based): distribution of customers by how many non-urgent
    orders they placed, including zero-order customers via the left join."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") != "1-URGENT"
    )
    per_cust = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count("*").alias("custdist"))
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


def _tpch_q15(spark, sf_dir):
    """TPC-H Q15: top supplier(s) by revenue over one quarter. The scalar
    max is computed once and broadcast back over the per-supplier revenue
    aggregate (never a global sort); revenue is rounded to 4 dp BEFORE the
    max-equality so the cross-engine comparison is on identical values."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01")
        & (F.col("l_shipdate") < "1996-04-01")
    )
    rev = li.groupBy("l_suppkey").agg(
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4)
        .alias("total_revenue")
    )
    mx = rev.agg(F.max("total_revenue").alias("mx"))
    supp = _t(spark, sf_dir, "supplier")
    return (
        rev.join(F.broadcast(mx), rev.total_revenue == F.col("mx"))
        .join(supp, rev.l_suppkey == supp.s_suppkey)
        .select("s_suppkey", "s_name", "total_revenue")
        .orderBy("s_suppkey")
    )


def _tpch_q17(spark, sf_dir):
    """TPC-H Q17 adapted (no p_container; brand+size selects the part
    class): average yearly revenue lost if small-quantity orders were not
    taken. The per-part quantity threshold is a broadcast-joined aggregate
    of the SAME filtered lineitem slice; integer-valued quantity sums keep
    0.2*avg bit-identical across engines."""
    part = _t(spark, sf_dir, "part").filter(
        (F.col("p_brand") == "Brand#13") & (F.col("p_size") <= 15)
    )
    li = _t(spark, sf_dir, "lineitem").join(
        F.broadcast(part.select("p_partkey")),
        F.col("l_partkey") == F.col("p_partkey"),
    )
    thresh = li.groupBy("l_partkey").agg(
        F.round(F.avg("l_quantity") * 0.2, 6).alias("q_limit")
    )
    return (
        li.join(F.broadcast(thresh), "l_partkey")
        .filter(F.col("l_quantity") < F.col("q_limit"))
        .agg(
            F.round(F.sum("l_extendedprice") / 7.0, 2).alias("avg_yearly")
        )
    )


def _tpch_q2(spark, sf_dir):
    """TPC-H Q2 adapted (no partsupp table): the part-supplier "offer"
    relation is derived from lineitem — a supplier's offer cost for a part
    is its MINIMUM observed unit price (min, not avg: min is exact and
    order-independent, so the correlated-min equality is bit-identical
    across engines). The correlated `min(ps_supplycost)` subquery becomes
    a per-part min aggregate broadcast-joined back — the classic Spark
    decorrelation, no per-row subquery."""
    part = _t(spark, sf_dir, "part").filter(
        (F.col("p_size") == 5) & (F.col("p_type") == "STANDARD")
    )
    li = _t(spark, sf_dir, "lineitem").join(
        F.broadcast(part.select("p_partkey")),
        F.col("l_partkey") == F.col("p_partkey"),
    )
    offers = li.groupBy("l_partkey", "l_suppkey").agg(
        F.round(F.min(F.col("l_extendedprice") / F.col("l_quantity")), 4)
        .alias("offer_cost")
    )
    best = offers.groupBy("l_partkey").agg(
        F.min("offer_cost").alias("_best")
    ).withColumnRenamed("l_partkey", "_pk")
    supp = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    return (
        offers.join(
            F.broadcast(best),
            (offers.l_partkey == F.col("_pk"))
            & (offers.offer_cost == F.col("_best")),
        )
        .join(supp, offers.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .select(
            "s_acctbal", "s_name",
            F.col("n_name").alias("nation"),
            F.col("l_partkey").alias("p_partkey"),
            "offer_cost",
        )
        .orderBy(F.desc("s_acctbal"), "nation", "s_name", "p_partkey")
        .limit(100)
    )


def _tpch_q8(spark, sf_dir):
    """TPC-H Q8 (national market share): NATION_3's share of ECONOMY-part
    revenue sold into ASIA, by order year. Nation and region dims
    broadcast; the share is a conditional-sum ratio inside one aggregate
    (never two scans)."""
    part = _t(spark, sf_dir, "part").filter(F.col("p_type") == "ECONOMY")
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01")
        & (F.col("o_orderdate") < "1998-01-01")
    )
    li = _t(spark, sf_dir, "lineitem")
    cust = _t(spark, sf_dir, "customer")
    supp = _t(spark, sf_dir, "supplier")
    n1 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation")
    )
    n2 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("c_nk"), F.col("n_regionkey").alias("c_rk")
    )
    region = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("s_nk"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("c_nk"))
        .join(F.broadcast(region), F.col("c_rk") == F.col("r_regionkey"))
        .groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            F.round(
                F.sum(
                    F.when(F.col("supp_nation") == "NATION_3", vol).otherwise(
                        0.0
                    )
                )
                / F.sum(vol),
                6,
            ).alias("mkt_share")
        )
        .orderBy("o_year")
    )


def _tpch_q9(spark, sf_dir):
    """TPC-H Q9 adapted (no ps_supplycost): per-line profit uses
    p_retailprice * 0.1 * quantity as the cost proxy. Profit by supplier
    nation and order year over 'red' parts."""
    part = _t(spark, sf_dir, "part").filter(F.col("p_name").contains("red"))
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    supp = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    profit = F.col("l_extendedprice") * (1 - F.col("l_discount")) - F.col(
        "p_retailprice"
    ) * 0.1 * F.col("l_quantity")
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").alias("o_year"),
        )
        .agg(F.round(F.sum(profit), 2).alias("sum_profit"))
        .orderBy("nation", F.desc("o_year"))
    )


def _tpch_q11(spark, sf_dir):
    """TPC-H Q11 adapted (no partsupp): per-part "inventory value" is the
    revenue shipped by NATION_0 suppliers; parts above 0.01% of the total
    survive. Each line's price is rounded to integer CENTS before summing
    so both the per-part values and the global threshold are exact
    integer arithmetic — no float-sum order dependence at the strict
    inequality. The scalar total broadcasts back over the per-part
    aggregate."""
    supp = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_0")
    li = _t(spark, sf_dir, "lineitem")
    cents = F.round(F.col("l_extendedprice") * 100).cast("long")
    per_part = (
        li.join(
            F.broadcast(
                supp.join(
                    F.broadcast(nation),
                    supp.s_nationkey == nation.n_nationkey,
                ).select("s_suppkey")
            ),
            li.l_suppkey == F.col("s_suppkey"),
        )
        .groupBy("l_partkey")
        .agg(F.sum(cents).alias("_cents"))
    )
    total = per_part.agg(F.sum("_cents").alias("_total"))
    return (
        per_part.join(F.broadcast(total))
        .filter(F.col("_cents") * 10000 > F.col("_total"))
        .select(
            "l_partkey",
            F.round(F.col("_cents") / 100.0, 2).alias("part_value"),
        )
        .orderBy(F.desc("part_value"), "l_partkey")
    )


def _tpch_q16(spark, sf_dir):
    """TPC-H Q16 adapted: supplier count per (brand, type, size) over the
    DISTINCT part-supplier pairs observed in lineitem (the partsupp
    stand-in), excluding Brand#13, restricting to odd sizes, and
    excluding "complaint" suppliers (negative account balance — the
    deterministic proxy for the comment scan). The exclusion is an
    anti-join, never a collected NOT-IN list."""
    part = _t(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#13")
        & F.col("p_size").isin(1, 3, 5, 7, 9)
    )
    bad_supp = _t(spark, sf_dir, "supplier").filter(
        F.col("s_acctbal") < 0
    ).select("s_suppkey")
    pairs = (
        _t(spark, sf_dir, "lineitem")
        .select("l_partkey", "l_suppkey")
        .distinct()
        .join(
            F.broadcast(bad_supp),
            F.col("l_suppkey") == F.col("s_suppkey"),
            "left_anti",
        )
    )
    return (
        pairs.join(F.broadcast(part), F.col("l_partkey") == part.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(F.desc("supplier_cnt"), "p_brand", "p_type", "p_size")
    )


def _tpch_q20(spark, sf_dir):
    """TPC-H Q20 adapted (no partsupp.availqty): a NATION_1 supplier has
    "excess stock" in a red part if its all-time shipped quantity of that
    part exceeds half of the part's total 1996 shipments across all
    suppliers. Nested semi-join chain: threshold aggregate -> qualifying
    (part, supplier) pairs -> left-semi into supplier. Quantities are
    integral doubles, so the sums are exact."""
    red = _t(spark, sf_dir, "part").filter(
        F.col("p_name").startswith("red")
    ).select("p_partkey")
    li = _t(spark, sf_dir, "lineitem").join(
        F.broadcast(red), F.col("l_partkey") == F.col("p_partkey")
    )
    per_ps = li.groupBy("l_partkey", "l_suppkey").agg(
        F.sum("l_quantity").alias("qty")
    )
    part96 = (
        li.filter(
            (F.col("l_shipdate") >= "1996-01-01")
            & (F.col("l_shipdate") < "1997-01-01")
        )
        .groupBy("l_partkey")
        .agg(F.sum("l_quantity").alias("qty96"))
        .withColumnRenamed("l_partkey", "_pk")
    )
    excess = per_ps.join(
        F.broadcast(part96), F.col("l_partkey") == F.col("_pk")
    ).filter(F.col("qty") > 0.5 * F.col("qty96"))
    supp = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_1")
    return (
        supp.join(
            excess.select("l_suppkey").distinct(),
            supp.s_suppkey == F.col("l_suppkey"),
            "left_semi",
        )
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_name", "s_acctbal")
        .orderBy("s_name")
    )


def _tpch_q21(spark, sf_dir):
    """TPC-H Q21 adapted (no commit/receipt dates): a supplier "kept an
    order waiting" if, in a finished multi-supplier order, it is the ONLY
    supplier that shipped late (> 60 days after the order date). The
    EXISTS / NOT EXISTS pair of the original becomes two aggregate flags
    — per-(order, supplier) any_late, then per-order supplier and
    late-supplier counts — so there is no correlated per-row probe, just
    two hash aggregations that reuse the same shuffle key."""
    orders = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus") == "F"
    )
    li = _t(spark, sf_dir, "lineitem")
    late = (
        F.col("l_shipdate")
        > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")
    ).cast("int")
    per_os = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("l_orderkey", "l_suppkey")
        .agg(F.max(late).alias("any_late"))
    )
    per_o = per_os.groupBy("l_orderkey").agg(
        F.count("*").alias("n_supp"),
        F.sum("any_late").alias("n_late_supp"),
    )
    waiting = (
        per_os.filter(F.col("any_late") == 1)
        .join(per_o, "l_orderkey")
        .filter((F.col("n_supp") > 1) & (F.col("n_late_supp") == 1))
    )
    supp = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_2")
    return (
        waiting.groupBy("l_suppkey")
        .agg(F.count("*").alias("numwait"))
        .join(supp, F.col("l_suppkey") == supp.s_suppkey)
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_name", "numwait")
        .orderBy(F.desc("numwait"), "s_name")
        .limit(100)
    )


def _tpch_q22(spark, sf_dir):
    """TPC-H Q22 adapted (no c_phone): the "country code" is
    c_custkey % 7, selected codes are 0-4. Customers with above-average
    positive balance and no RECENT orders (anti-join against the
    1999-onward order slice — every synthetic customer has some historic
    order, so the unscoped anti-join would be vacuously empty) grouped by
    code. The scalar average broadcasts back over the filtered customer
    scan."""
    cust = _t(spark, sf_dir, "customer").withColumn(
        "cntrycode", (F.col("c_custkey") % 7).cast("int")
    ).filter(F.col("cntrycode").isin(0, 1, 2, 3, 4))
    avg_bal = cust.filter(F.col("c_acctbal") > 0.0).agg(
        F.avg("c_acctbal").alias("_avg")
    )
    orders = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") >= "1999-01-01")
        .select("o_custkey")
    )
    return (
        cust.join(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("_avg"))
        .join(orders, cust.c_custkey == F.col("o_custkey"), "left_anti")
        .groupBy("cntrycode")
        .agg(
            F.count("*").alias("numcust"),
            F.round(F.sum("c_acctbal"), 2).alias("totacctbal"),
        )
        .orderBy("cntrycode")
    )


def _dup_ngram_stats(spark, sf_dir):
    """Corpus-level duplicate n-gram mass per document."""
    from pdf_extractor_spark.operators.curation import dup_ngram_stats

    return dup_ngram_stats(_t_wide(spark, sf_dir, "documents"), n=3)


def _url_blocklist(spark, sf_dir):
    """UT1-style domain blocklist over the synthesized messy URLs: two
    blocked registrable domains, matched as PARENT suffixes of the
    www.-prefixed crawl hosts."""
    from pdf_extractor_spark.operators.urls import url_blocklist

    return url_blocklist(
        _synth_urls(spark, sf_dir),
        blocklist=("src3.example.com", "src7.example.com"),
    )


def _intra_doc_dedup(spark, sf_dir):
    """Within-document repeated-line removal (chunk=2 so the flat token
    corpus has actual intra-doc repeats to drop)."""
    from pdf_extractor_spark.operators.curation import intra_doc_dedup

    return intra_doc_dedup(_t_wide(spark, sf_dir, "documents"), chunk=2)


def _host_boilerplate(spark, sf_dir):
    """Templated-page detection over deterministically synthesized site
    chrome: docs with doc_id % 4 != 0 get a per-source boilerplate prefix
    ('welcome to <source> portal ...'), which the operator must flag."""
    from pdf_extractor_spark.operators.curation import host_boilerplate

    docs = _t_wide(spark, sf_dir, "documents")
    synth = docs.withColumn(
        "text",
        F.when(
            F.col("doc_id") % 4 != 0,
            F.concat(
                F.lit("welcome to "),
                F.col("source"),
                F.lit(" portal "),
                F.coalesce(F.col("text"), F.lit("")),
            ),
        ).otherwise(F.col("text")),
    )
    return host_boilerplate(synth, k=3, min_docs=5, share=0.5)


def _tokenizer_fertility(spark, sf_dir):
    """Per-language subwords-per-word over the synthesized punctuated
    pages (the flat token corpus is punctuation-free, where fertility is
    identically 1.0 — the page synthesis restores the code/punct mass
    the metric exists to measure)."""
    from pdf_extractor_spark.operators.curation import (
        synthesize_pages,
        tokenizer_fertility,
    )

    docs = _t_wide(spark, sf_dir, "documents")
    pages = synthesize_pages(docs, keep_cols=("lang",))
    return tokenizer_fertility(pages, text_col="page")


def _containment_pairs(spark, sf_dir):
    """Broder max-containment screen: pairs where the smaller 5-gram
    shingle set is >=50% inside the larger (quotation / partial-inclusion
    detection that Jaccard misses)."""
    from pdf_extractor_spark.operators.dedup import containment_pairs

    return containment_pairs(
        _t_wide(spark, sf_dir, "documents"), n=5, threshold=0.5
    )


def _source_similarity(spark, sf_dir):
    """Cross-source content-overlap matrix: distinct 3-gram shingle
    Jaccard per unordered source pair."""
    from pdf_extractor_spark.operators.curation import source_similarity

    return source_similarity(_t_wide(spark, sf_dir, "documents"), n=3)


def _source_similarity_kmv(spark, sf_dir):
    """KMV bottom-k sketch estimate of the cross-source Jaccard matrix
    (k=64) — the scale-path twin of source_similarity; the oracle ranks
    the UNFILTERED hash space so the prefilter is loudly verified."""
    from pdf_extractor_spark.operators.curation import source_similarity_kmv

    return source_similarity_kmv(_t_wide(spark, sf_dir, "documents"), n=3, k=64)


def _lang_alpha_weights(spark, sf_dir):
    """Exponentiated-smoothing multilingual sampling weights (alpha=0.3)."""
    from pdf_extractor_spark.operators.curation import lang_alpha_weights

    return lang_alpha_weights(_t(spark, sf_dir, "documents"), alpha=0.3)


def _corpus_digest(spark, sf_dir):
    """Order-independent mergeable per-bucket corpus content digest."""
    from pdf_extractor_spark.operators.curation import corpus_digest

    return corpus_digest(_t(spark, sf_dir, "documents"), n_buckets=16)


def _readability(spark, sf_dir):
    """Flesch-Kincaid grade per document (vowel-run syllable heuristic)."""
    from pdf_extractor_spark.operators.textstats import readability

    return readability(_t_wide(spark, sf_dir, "documents"))


def _ngram_novelty(spark, sf_dir):
    """Forward-dedup novelty: shingles first seen at this doc_id."""
    from pdf_extractor_spark.operators.curation import ngram_novelty

    return ngram_novelty(_t_wide(spark, sf_dir, "documents"), n=3)


def _decontaminate(spark, sf_dir):
    """Benchmark decontamination: docs with doc_id % 97 == 0 play the
    held-out eval set; every remaining corpus doc is scored by how many of
    its distinct 3-gram shingles appear anywhere in the eval set."""
    from pdf_extractor_spark.operators.curation import decontaminate

    docs = _t_wide(spark, sf_dir, "documents")
    eval_set = docs.filter(F.col("doc_id") % 97 == 0)
    corpus = docs.filter(F.col("doc_id") % 97 != 0)
    return decontaminate(corpus, eval_set, n=3, min_hits=1)


def _decontaminate_near(spark, sf_dir):
    """Near-dup decontamination: same eval split as `decontaminate`
    (doc_id % 97 == 0), scored by shingle containment against the
    best-matching eval doc instead of any-hit."""
    from pdf_extractor_spark.operators.curation import decontaminate_near

    docs = _t_wide(spark, sf_dir, "documents")
    eval_set = docs.filter(F.col("doc_id") % 97 == 0)
    corpus = docs.filter(F.col("doc_id") % 97 != 0)
    return decontaminate_near(corpus, eval_set, n=3, threshold=0.05)


def _nfc_normalize(spark, sf_dir):
    """Unicode NFC over a deterministically accent-augmented corpus: every
    doc gets decomposed 'e&#769; u&#776; A&#778;' sequences appended, so
    composition is exercised on every row (len_nfc = len_raw - 3)."""
    from pdf_extractor_spark.operators.textstats import nfc_normalize

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.coalesce(F.col("text"), F.lit("")),
            # DECOMPOSED sequences (base + combining mark), written as
            # escapes so no tooling silently re-composes the literal
            F.lit(" cafe\u0301 u\u0308ber A\u030a"),
        ).alias("text"),
    )
    return nfc_normalize(docs)


def _token_entropy(spark, sf_dir):
    """Per-doc Shannon entropy of the unigram distribution."""
    from pdf_extractor_spark.operators.curation import token_entropy

    return token_entropy(_t_wide(spark, sf_dir, "documents"))


def _bpe_pair_counts(spark, sf_dir):
    """BPE first-merge pair statistics over the documents corpus:
    word-frequency-weighted adjacent character-pair counts (the table the
    tokenizer-training merge argmax reads)."""
    from pdf_extractor_spark.operators.curation import bpe_pair_counts

    return bpe_pair_counts(_t_wide(spark, sf_dir, "documents"))


def _pmi_cooccurrence(spark, sf_dir):
    """Directed token co-occurrence (forward window 2) with PMI against
    the unigram distribution; pairs seen >= 5 times."""
    from pdf_extractor_spark.operators.curation import pmi_cooccurrence

    return pmi_cooccurrence(
        _t_wide(spark, sf_dir, "documents"), window=2, min_pairs=5
    )


def _bpe_merges(spark, sf_dir):
    """The first 3 BPE merge rules learned from the corpus — the full
    tokenizer-training loop (select argmax pair -> apply merge greedily
    left-to-right -> recount), word-frequency weighted, ties broken
    lexicographically so every engine picks the same rule. The oracle
    replays the identical 3 iterations with recursive CTEs."""
    from pdf_extractor_spark.operators.curation import bpe_merges

    return bpe_merges(_t_wide(spark, sf_dir, "documents"), n_merges=3)


def _bpe_rules(docs, sf_dir, n_merges=3):
    """Train-once BPE merge rules as cached index state (the IVF-centroid
    pattern): deterministic per (corpus, n_merges), so re-invocations pay
    only the apply pass — exactly how a production tokenizer ships."""
    from pdf_extractor_spark.operators.curation import _bpe_trained_rules

    return _index_state(
        "bpe_rules", sf_dir,
        lambda n: _bpe_trained_rules(docs, "text", "doc_id", n, None),
        n_merges,
    )


def _bpe_encode(spark, sf_dir):
    """The APPLY half of the BPE tokenizer family: every document encoded
    with the 3 merge rules trained from the corpus itself — per-doc word
    and subword counts. The distinct-word vocabulary is encoded once and
    joined back to the stream; the oracle replays training AND encoding
    with recursive CTEs. Trained rules are cached index state (_bpe_rules)."""
    from pdf_extractor_spark.operators.curation import bpe_encode

    docs = _t_wide(spark, sf_dir, "documents")
    return bpe_encode(docs, rules=_bpe_rules(docs, sf_dir))


def _bpe_word_pieces_persisted(spark, sf_dir):
    """Per-word encoded table (w, wf, syms) AS PERSISTED INDEX STATE
    (the jobs/run_index.py `bpe_word_pieces/` artifact, same discipline
    as `lattice_pieces/`): the one corpus-sized word-key shuffle and the
    greedy merge fold run ONCE at index-build time; every recurring
    vocabulary query is a vocabulary-sized rollup over the parquet."""
    from pdf_extractor_spark.operators.curation import bpe_word_pieces

    def build():
        docs = _t_wide(spark, sf_dir, "documents")
        return bpe_word_pieces(docs, rules=_bpe_rules(docs, sf_dir))

    return _persisted(spark, "bpe_word_pieces", sf_dir, build)


def _bpe_vocab(spark, sf_dir):
    """The persisted tokenizer vocabulary: every distinct word encoded
    with the 3 trained merge rules (cached index state, bpe_encode's
    kernel), final symbols weighted by word frequency. Consumes the
    persisted `bpe_word_pieces/` artifact (jobs/run_index.py), so the
    recurring query is a vocabulary-sized explode+rollup. Oracle replays
    training + the weighted encode walk with recursive CTEs."""
    from pdf_extractor_spark.operators.curation import bpe_vocab

    docs = _t_wide(spark, sf_dir, "documents")
    return bpe_vocab(
        docs, word_pieces=_bpe_word_pieces_persisted(spark, sf_dir)
    )


def _line_dedup(spark, sf_dir):
    """CCNet-style duplicate-line removal over the documents table:
    3-token lines, corpus-wide occurrence > 2 -> boilerplate, dropped."""
    from pdf_extractor_spark.operators.curation import line_dedup

    return line_dedup(
        _t_wide(spark, sf_dir, "documents"), chunk=3, max_occ=2
    )


def _funnel_conversion(spark, sf_dir):
    """Ordered view->click->purchase funnel: per-depth user counts with
    strictly-after earliest-qualifying timestamps."""
    from pdf_extractor_spark.operators.events import funnel_conversion

    return funnel_conversion(_t(spark, sf_dir, "events"))


def _retention_cohorts(spark, sf_dir):
    """Retention triangle: first-event-date cohorts x day offset, distinct
    active users per cell."""
    from pdf_extractor_spark.operators.events import retention_cohorts

    out = retention_cohorts(_t(spark, sf_dir, "events"))
    return out.withColumn(
        "cohort_date", F.col("cohort_date").cast("string")
    )


def _salted_join(spark, sf_dir):
    """Skew-resistant (user_id, salt) join of events to the per-user
    purchase-total dim; output provably equals the plain join (the
    oracle), only the shuffle distribution differs."""
    from pdf_extractor_spark.operators.events import salted_join

    events = _t(spark, sf_dir, "events")
    dim = events.groupBy("user_id").agg(
        F.round(
            F.sum(F.when(F.col("event_type") == "purchase", F.col("value"))),
            6,
        ).alias("user_purchase_total")
    )
    out = salted_join(
        events.select("event_id", "user_id"), dim, "user_id", salt=8
    )
    return out.select("event_id", "user_id", "user_purchase_total")


def _key_skew_stats(spark, sf_dir):
    """Shuffle-skew diagnostics for events.user_id: key counts, exact
    rank-selected count quantiles, heaviest-key share."""
    from pdf_extractor_spark.operators.events import key_skew_stats

    return key_skew_stats(_t(spark, sf_dir, "events"), key_col="user_id")


def _corpus_rollup(spark, sf_dir):
    """Corpus accounting ROLLUP over (lang, source): per-pair rows, per-
    lang subtotals, and the grand total in one grouping-sets pass."""
    from pdf_extractor_spark.operators.curation import corpus_rollup

    return corpus_rollup(_t(spark, sf_dir, "documents"))


def _stratified_sample(spark, sf_dir):
    """Exactly-100-doc stratified sample over lang with largest-remainder
    quotas and smallest-md5-hash-per-stratum selection."""
    from pdf_extractor_spark.operators.curation import stratified_sample

    return stratified_sample(
        _t(spark, sf_dir, "documents"), stratum_col="lang", total=100
    )


def _substring_dedup(spark, sf_dir):
    """Duplicated-substring removal (k-gram approximation of exact
    substring dedup): 5-token grams seen more than twice corpus-wide mark
    their positions; docs are rebuilt from the unmarked tokens."""
    from pdf_extractor_spark.operators.curation import substring_dedup

    return substring_dedup(
        _t_wide(spark, sf_dir, "documents"), k=5, max_occ=2
    )


def _pii_scrub(spark, sf_dir):
    """PII masking over a deterministically PII-augmented corpus: each doc
    gets a synthetic email / phone / IPv4 derived from its doc_id (the
    raw corpus has none), then the scrubber masks them back out. The
    augmentation is part of the query so the oracle can replicate it."""
    from pdf_extractor_spark.operators.curation import pii_scrub

    docs = _t_wide(spark, sf_dir, "documents")
    did = F.col("doc_id")
    aug = docs.withColumn(
        "text",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            did.cast("string"),
            F.lit("@mail.example.com or +1-555-"),
            F.lpad((did % 10000).cast("string"), 4, "0"),
            F.lit(" from 10."),
            (did % 256).cast("string"),
            F.lit(".0."),
            ((did * 7) % 256).cast("string"),
        ),
    )
    return pii_scrub(aug)


def _synth_urls(spark, sf_dir):
    """Deterministic messy-URL synthesis from the documents table: mixed
    scheme case, WWW./Example.COM host case, default and non-default
    ports, utm_* tracking params around a real id param, fragments on
    every 5th doc. The mess is the test fixture for normalization."""
    docs = _t_wide(spark, sf_dir, "documents")
    did = F.col("doc_id")
    scheme = F.when(did % 2 == 0, F.lit("HTTPS")).otherwise(F.lit("http"))
    port = (
        F.when(did % 3 == 0, F.lit(":443"))
        .when(did % 3 == 1, F.lit(":8080"))
        .otherwise(F.lit(""))
    )
    frag = F.when(did % 5 == 0, F.lit("#sec2")).otherwise(F.lit(""))
    return docs.withColumn(
        "url",
        F.concat(
            scheme, F.lit("://WWW."), F.col("source"),
            F.lit(".Example.COM"), port,
            F.lit("/Page/"), (did % 50).cast("string"),
            F.lit("?utm_source=feed&utm_id="), (did % 7).cast("string"),
            F.lit("&id="), did.cast("string"),
            frag,
        ),
    )


def _url_normalize(spark, sf_dir):
    """URL canonicalization: scheme/host case, ports, utm_*, fragments."""
    from pdf_extractor_spark.operators.urls import url_normalize

    return url_normalize(_synth_urls(spark, sf_dir))


def _robots_rules(spark, sf_dir):
    """Robots.txt longest-match crawl permission over the synthesized
    crawl: per host (one per source) the rule set is disallow-/ <
    allow-/Page < disallow-/Page/k for k ≡ r (mod 5) where r =
    length(source) % 5, with an equal-length allow-/Page/k for
    k ≡ r (mod 10) — exercising default-deny override, longest-match
    and the allow-wins-equal-length tie. Net: /Page/k blocked iff
    k ≡ r+5 (mod 10)."""
    from pdf_extractor_spark.operators.urls import robots_filter

    docs = _t_wide(spark, sf_dir, "documents")
    host = F.concat(F.lit("www."), F.col("source"), F.lit(".example.com"))
    pages = docs.select(
        "doc_id",
        host.alias("host"),
        F.concat(F.lit("/Page/"), (F.col("doc_id") % 50).cast("string")).alias(
            "path"
        ),
    )
    # the rule table IS index state (one fetched robots.txt per host —
    # bounded by host count, not corpus size), so build it driver-side:
    # the bounded-collect convention used for centroids/BPE rules.
    srcs = [
        r.source
        for r in docs.select("source").distinct().collect()
        if r.source is not None
    ]
    rule_rows = []
    for s in sorted(srcs):
        h, r = f"www.{s}.example.com", len(s) % 5
        rule_rows.append((h, "disallow", "/"))
        rule_rows.append((h, "allow", "/Page"))
        for k in range(50):
            if k % 5 == r:
                rule_rows.append((h, "disallow", f"/Page/{k}"))
            if k % 10 == r:
                rule_rows.append((h, "allow", f"/Page/{k}"))
    from pdf_extractor_spark.session import values_df

    rules = values_df(
        spark, rule_rows, "host string, directive string, prefix string"
    )
    return robots_filter(pages, rules)


def _synth_recrawl_urls(spark, sf_dir):
    """Recrawl-scenario URL synthesis: unlike _synth_urls there is no
    unique id param, so distinct fetches of the SAME page differ only in
    mess that normalization removes (scheme case, the https default
    port, utm_* params, fragments). Canonical key = (source, doc_id %
    50): doc_ids congruent mod 100 share source (doc_id % 20) AND path
    -> deterministic duplicate groups for url_dedup to collapse."""
    docs = _t_wide(spark, sf_dir, "documents")
    did = F.col("doc_id")
    scheme = F.when(did % 2 == 0, F.lit("HTTPS")).otherwise(F.lit("https"))
    port = F.when(did % 3 == 0, F.lit(":443")).otherwise(F.lit(""))
    frag = F.when(did % 5 == 0, F.lit("#top")).otherwise(F.lit(""))
    return docs.withColumn(
        "url",
        F.concat(
            scheme, F.lit("://WWW."), F.col("source"),
            F.lit(".Example.COM"), port,
            F.lit("/Page/"), (did % 50).cast("string"),
            F.lit("?utm_source=feed&utm_campaign="),
            (did % 7).cast("string"),
            frag,
        ),
    )


def _url_dedup(spark, sf_dir):
    """URL-keyed exact dedup over recrawl-synthesized URLs: every
    normalization rule is load-bearing (scheme case, default port, utm_*
    drop, fragment strip), and doc_ids congruent mod 100 collapse to one
    canonical fetch."""
    from pdf_extractor_spark.operators.urls import url_dedup

    return url_dedup(_synth_recrawl_urls(spark, sf_dir))


def _host_stats(spark, sf_dir):
    """Per-host rollups over normalized URLs (partial-agg heavy hitters)."""
    from pdf_extractor_spark.operators.urls import host_stats

    return host_stats(_synth_urls(spark, sf_dir))


def _crawl_schedule(spark, sf_dir):
    """Per-host politeness schedule over the messy-URL synthesis: slot k
    of each host fetches at k * 2 s, slot order = seeded md5 of the
    normalized URL (rerun-stable, fair across recrawls)."""
    from pdf_extractor_spark.operators.urls import crawl_schedule

    return crawl_schedule(_synth_urls(spark, sf_dir), delay_s=2)


def _dedup_survivors(spark, sf_dir):
    """End of the dedup pipeline: minhash pairs -> connected components ->
    one canonical survivor per cluster (longest text, ties to smallest id).
    Pairs come from the persisted neardup_pairs index artifact."""
    from pdf_extractor_spark.operators.curation import dedup_survivors
    from pdf_extractor_spark.operators.dedup import neardup_clusters

    docs = _t_wide(spark, sf_dir, "documents")
    pairs = _neardup_pairs_persisted(spark, sf_dir)
    clusters = neardup_clusters(docs, pairs).select(
        F.col("id").alias("doc_id"), "cluster"
    )
    return dedup_survivors(docs, clusters)


def _dedup_apply(spark, sf_dir):
    """The deduplicated corpus: pairs -> clusters -> survivors -> docs
    minus non-survivor members (one broadcast anti-join on the corpus).
    Pairs come from the persisted neardup_pairs index artifact."""
    from pdf_extractor_spark.operators.curation import (
        dedup_apply,
        dedup_survivors,
    )
    from pdf_extractor_spark.operators.dedup import neardup_clusters

    docs = _t_wide(spark, sf_dir, "documents")
    pairs = _neardup_pairs_persisted(spark, sf_dir)
    clusters = neardup_clusters(docs, pairs).select(
        F.col("id").alias("doc_id"), "cluster"
    )
    survivors = dedup_survivors(docs, clusters)
    kept = dedup_apply(docs, clusters, survivors)
    return kept.select("doc_id", "lang", F.col("n_chars").cast("long").alias("n_chars"))


def _levenshtein_names(spark, sf_dir):
    """Edit-distance near-duplicate part-name pairs from the distinct-name
    dictionary, blocked by the head noun (last token)."""
    from pdf_extractor_spark.operators.fuzzy import levenshtein_name_pairs

    return levenshtein_name_pairs(
        _t(spark, sf_dir, "part"), "p_name", "p_partkey", max_dist=2
    )


def _phonetic_groups(spark, sf_dir):
    """Spelling-variant candidate groups: part-name first tokens bucketed
    by the consonant-skeleton phonetic key."""
    from pdf_extractor_spark.operators.fuzzy import phonetic_groups

    return phonetic_groups(
        _t(spark, sf_dir, "part"), "p_name", "p_partkey", token_index=1
    )


def _cdc_chunk_dedup(spark, sf_dir):
    """Content-defined-chunking duplicate-passage signal per document:
    gear-style boundaries (window 4, modulus 8), corpus-wide chunk-hash
    frequency."""
    from pdf_extractor_spark.operators.curation import cdc_chunk_dedup

    return cdc_chunk_dedup(
        _t_wide(spark, sf_dir, "documents"), w=4, modulus=8
    )


def _rouge_overlap(spark, sf_dir):
    """ROUGE-2 recall of every document against its successor doc — the
    adjacent-snapshot redundancy probe."""
    from pdf_extractor_spark.operators.curation import rouge_overlap

    return rouge_overlap(_t_wide(spark, sf_dir, "documents"), n=2)


def _dau_wau_stickiness(spark, sf_dir):
    """Per-day DAU, trailing-7-day WAU, and the DAU/WAU stickiness ratio."""
    from pdf_extractor_spark.operators.events import dau_wau_stickiness

    return dau_wau_stickiness(_t(spark, sf_dir, "events"), window_days=7)


def _gini_value(spark, sf_dir):
    """Gini concentration of event values per event type."""
    from pdf_extractor_spark.operators.events import gini_value

    return gini_value(_t(spark, sf_dir, "events"))


def _user_entropy(spark, sf_dir):
    """Per-user Shannon entropy of the event-type mix (behavioral
    diversity)."""
    from pdf_extractor_spark.operators.events import user_entropy

    return user_entropy(_t(spark, sf_dir, "events"))


def _ewma_daily(spark, sf_dir):
    """Truncated-window EWMA of daily event counts + spike ratio."""
    from pdf_extractor_spark.operators.events import ewma_daily

    return ewma_daily(_t(spark, sf_dir, "events"), alpha=0.3, span=14)


def _host_graph_edges(docs):
    """The deterministic synthetic host link graph shared by the
    pagerank_hosts / crawl_frontier / triangle_hosts / link_reciprocity /
    label_propagation family."""

    def tgt(a: int, b: int):
        return F.concat(
            F.lit("src"),
            ((F.col("doc_id") * a + b) % 20).cast("string"),
            F.lit(".example.com"),
        )

    return docs.select(
        F.concat(F.col("source"), F.lit(".example.com")).alias("src"),
        F.explode(F.array(tgt(3, 1), tgt(7, 2), tgt(11, 5))).alias("dst"),
    )


def _hits_hosts(spark, sf_dir):
    """HITS hub/authority scores (2 L1-normalized rounds) over the same
    synthetic host graph as pagerank_hosts; oracle = both rounds unrolled
    in SQL."""
    from pdf_extractor_spark.operators.graph import hits

    edges = _host_graph_edges(_t_wide(spark, sf_dir, "documents"))
    return hits(edges, iters=2).withColumnRenamed("node", "host")


def _degree_ccdf(spark, sf_dir):
    """Total-degree distribution of the host graph with the complementary
    CDF — the log-log scale-free diagnostic."""
    from pdf_extractor_spark.operators.graph import degree_ccdf

    edges = _host_graph_edges(_t_wide(spark, sf_dir, "documents"))
    return degree_ccdf(edges)


def _shot_boundaries(spark, sf_dir):
    """Shot-boundary detection over sampled video frames of the derived
    media table (deterministic per-frame feature; threshold cut
    detector)."""
    from pdf_extractor_spark.operators.multimodal import (
        media_from_documents,
        shot_boundaries,
    )

    media = media_from_documents(_t_wide(spark, sf_dir, "documents"))
    return shot_boundaries(media, every_n=5, threshold=96)


def _events_cube(spark, sf_dir):
    """CUBE over (event_type, day-of-week) with grouping-id bitmask — all
    cells, subtotals, and the grand total in one pass."""
    from pdf_extractor_spark.operators.events import events_cube

    return events_cube(_t(spark, sf_dir, "events"))


def _concordance(spark, sf_dir):
    """Keyword-in-context concordance for the token 'spark' with 3 tokens
    of context each side."""
    from pdf_extractor_spark.operators.textstats import concordance

    return concordance(
        _t_wide(spark, sf_dir, "documents"), term="spark", width=3
    )


def _branching_entropy(spark, sf_dir):
    """Successor branching entropy per unigram context — the unsupervised
    segmentation-boundary signal."""
    from pdf_extractor_spark.operators.textstats import branching_entropy

    return branching_entropy(_t_wide(spark, sf_dir, "documents"))


def _kmv_setops(spark, sf_dir):
    """KMV bottom-64 distinct-count algebra between event-type user sets:
    per-set, union, and intersection cardinality estimates."""
    from pdf_extractor_spark.operators.sketches import kmv_set_cardinality

    return kmv_set_cardinality(_t(spark, sf_dir, "events"), k=64)


def _seasonal_decompose(spark, sf_dir):
    """Multiplicative trend/weekday-seasonal/residual decomposition of the
    daily event counts."""
    from pdf_extractor_spark.operators.events import seasonal_decompose

    return seasonal_decompose(_t(spark, sf_dir, "events"), period_days=7)


def _order_deciles(spark, sf_dir):
    """Order-value decile bands per market segment (deterministic ntile
    with orderkey tiebreaker)."""
    from pdf_extractor_spark.operators.analytics import order_deciles

    return order_deciles(
        _t(spark, sf_dir, "orders"), _t(spark, sf_dir, "customer")
    )


def _part_affinity(spark, sf_dir):
    """Market-basket lift between part pairs co-occurring in orders."""
    from pdf_extractor_spark.operators.analytics import part_affinity

    return part_affinity(_t(spark, sf_dir, "lineitem"), min_pairs=2)


def _collocations_llr(spark, sf_dir):
    """Dunning log-likelihood-ratio collocation scores for adjacent
    bigrams (the rare-word-calibrated complement to PMI)."""
    from pdf_extractor_spark.operators.curation import collocations_llr

    return collocations_llr(_t_wide(spark, sf_dir, "documents"), min_pairs=3)


def _embedding_quantile_norm(spark, sf_dir):
    """Per-dimension percent-rank quantile normalization of the embedding
    corpus, flat (vec, dim) rows."""
    from pdf_extractor_spark.operators.similarity import (
        embedding_quantile_norm,
    )

    return embedding_quantile_norm(_t(spark, sf_dir, "embeddings"))


def _churn_detect(spark, sf_dir):
    """Inactivity churn flags: last event > 7 days before the snapshot
    anchor with >= 3 lifetime events."""
    from pdf_extractor_spark.operators.events import churn_detect

    return churn_detect(_t(spark, sf_dir, "events"), 7, 3)


def _robust_value_stats(spark, sf_dir):
    """10%-trimmed and winsorized value means per event type
    (deterministic rank tiebreak on event_id)."""
    from pdf_extractor_spark.operators.events import robust_value_stats

    return robust_value_stats(_t(spark, sf_dir, "events"), trim=0.1)


def _pca_top_component(spark, sf_dir):
    """Dominant principal direction of the embedding corpus by 3 power
    iterations (all-ones start) + Rayleigh eigenvalue."""
    from pdf_extractor_spark.operators.similarity import pca_top_component

    return pca_top_component(_t(spark, sf_dir, "embeddings"), iters=3)


def _filter_kappa(spark, sf_dir):
    """Cohen's kappa agreement between the Gopher and C4 accept flags —
    the chance-corrected filter-audit statistic."""
    from pdf_extractor_spark.operators.classify import cohens_kappa
    from pdf_extractor_spark.operators.curation import (
        c4_filter,
        synthesize_pages,
    )
    from pdf_extractor_spark.operators.textstats import gopher_filter

    docs = _t_wide(spark, sf_dir, "documents")
    g = gopher_filter(docs).select("doc_id", "accept")
    c = c4_filter(synthesize_pages(docs)).select("doc_id", "accept")
    return cohens_kappa(g, c)


def _lang_source_mi(spark, sf_dir):
    """Mutual information between document language and source — the
    split-confound audit."""
    from pdf_extractor_spark.operators.analytics import mutual_information

    return mutual_information(_t(spark, sf_dir, "documents"), "lang", "source")


def _kcore_hosts(spark, sf_dir):
    """Two peeling rounds toward the 12-core of the synthetic host graph
    (link-farm core separation)."""
    from pdf_extractor_spark.operators.graph import kcore_peel

    edges = _host_graph_edges(_t_wide(spark, sf_dir, "documents"))
    return kcore_peel(edges, k=12, rounds=2)


def _user_tier_enrich(spark, sf_dir):
    """Batch twin of the stream-static enrichment: events joined with the
    per-user lifetime-spend tier dimension (unknown users -> 'new')."""
    from pdf_extractor_spark.streaming.enrich_stream import (
        enrich_stream,
        user_tier_dimension,
    )

    ev = _t(spark, sf_dir, "events")
    out = enrich_stream(ev, user_tier_dimension(ev))
    return out.select(
        "event_id", "user_id", "tier",
        F.round("lifetime_value", 6).alias("lifetime_value"),
    )


def _wow_growth(spark, sf_dir):
    """Week-over-week event-count growth per type (lag over the weekly
    rollup; first week has null baseline)."""
    from pdf_extractor_spark.operators.events import wow_growth

    return wow_growth(_t(spark, sf_dir, "events"))


def _shipping_delay_stats(spark, sf_dir):
    """Order-to-ship latency per order priority with exact interpolated
    median/p90."""
    from pdf_extractor_spark.operators.analytics import shipping_delay_stats

    return shipping_delay_stats(
        _t(spark, sf_dir, "lineitem"), _t(spark, sf_dir, "orders")
    )


def _discount_revenue_curve(spark, sf_dir):
    """Revenue response per discount level (TPC-H q6 generalized to the
    whole curve)."""
    from pdf_extractor_spark.operators.analytics import discount_revenue_curve

    return discount_revenue_curve(_t(spark, sf_dir, "lineitem"))


def _image_tiles(spark, sf_dir):
    """ViT patch-grid geometry (64x64 tiles) over the derived media
    table's image rows, edge tiles clipped."""
    from pdf_extractor_spark.operators.multimodal import (
        image_tiles,
        media_from_documents,
    )

    media = media_from_documents(_t_wide(spark, sf_dir, "documents"))
    return image_tiles(media, tile_w=64, tile_h=64)


def _token_length_hist(spark, sf_dir):
    """Corpus token-length histogram with distinct-type counts and mass
    shares."""
    from pdf_extractor_spark.operators.textstats import token_length_hist

    return token_length_hist(_t_wide(spark, sf_dir, "documents"))


def _utf8_stats(spark, sf_dir):
    """UTF-8 char-vs-byte budget profile per document."""
    from pdf_extractor_spark.operators.textstats import utf8_stats

    return utf8_stats(_t(spark, sf_dir, "documents"))


def _interarrival_hist(spark, sf_dir):
    """Log2-bucketed inter-arrival-gap histogram per event type."""
    from pdf_extractor_spark.operators.events import interarrival_hist

    return interarrival_hist(_t(spark, sf_dir, "events"))


def _host_outlink_jaccard(spark, sf_dir):
    """Host similarity by shared outlinks over the synthetic host graph
    (inverted-index join on the destination key)."""
    from pdf_extractor_spark.operators.graph import host_outlink_jaccard

    edges = _host_graph_edges(_t_wide(spark, sf_dir, "documents"))
    return host_outlink_jaccard(edges, min_jaccard=0.2)


def _cluster_purity(spark, sf_dir):
    """External validation of the kmeans8x2 clustering against the
    embeddings' ground-truth label column."""
    from pdf_extractor_spark.operators.similarity import cluster_label_purity

    return cluster_label_purity(
        _t(spark, sf_dir, "embeddings"), n_clusters=8,
        centroids=_centroids(spark, sf_dir, 8, refine_iters=2),
    )


def _regional_top_parts(spark, sf_dir):
    """Top-3 parts by discounted revenue per customer region (star join +
    per-group rank over the rollup)."""
    from pdf_extractor_spark.operators.analytics import regional_top_parts

    return regional_top_parts(
        _t(spark, sf_dir, "lineitem"),
        _t(spark, sf_dir, "orders"),
        _t(spark, sf_dir, "customer"),
        _t(spark, sf_dir, "nation"),
        _t(spark, sf_dir, "region"),
        top_k=3,
    )


def _null_profile(spark, sf_dir):
    """Per-string-column completeness audit of the documents table."""
    from pdf_extractor_spark.operators.analytics import null_profile

    return null_profile(_t(spark, sf_dir, "documents"))


def _benford_deviation(spark, sf_dir):
    """First-significant-digit Benford audit of order totals with
    per-digit chi-square contributions."""
    from pdf_extractor_spark.operators.analytics import benford_deviation

    return benford_deviation(_t(spark, sf_dir, "orders"))


def _dedup_audit_pairs(spark, sf_dir):
    """Human-audit sample of the exact n-gram dedup: top-10 Jaccard pairs
    with 40-char text previews."""
    from pdf_extractor_spark.operators.curation import dedup_audit_pairs

    return dedup_audit_pairs(
        _t_wide(spark, sf_dir, "documents"), n=3, threshold=0.8, top_k=10
    )


def _bootstrap_ci(spark, sf_dir):
    """Poisson-bootstrap 95% CI for the event success rate (B=200,
    deterministic md5 draws)."""
    from pdf_extractor_spark.operators.analytics import bootstrap_ci

    return bootstrap_ci(_t(spark, sf_dir, "events"), b=200)


def _dp_counts(spark, sf_dir):
    """Epsilon-DP count release per event type (deterministic Laplace
    draws so the release is oracle-checkable)."""
    from pdf_extractor_spark.operators.analytics import dp_counts

    return dp_counts(_t(spark, sf_dir, "events"), epsilon=1.0)


def _join_size_estimate(spark, sf_dir):
    """Planner-style cardinality diagnostics for the orders ⋈ lineitem
    equi-join: exact size from histograms vs the uniform estimate."""
    from pdf_extractor_spark.operators.analytics import join_size_estimate

    return join_size_estimate(
        _t(spark, sf_dir, "orders"),
        _t(spark, sf_dir, "lineitem"),
        "o_orderkey",
        "l_orderkey",
    )


def _morph_split(spark, sf_dir):
    """Best compositional 2-way split per vocabulary word (one-step
    morphology mining over the corpus dictionary)."""
    from pdf_extractor_spark.operators.textstats import morph_split

    return morph_split(
        _t_wide(spark, sf_dir, "documents"), min_freq=5, min_len=4
    )


def _numeric_profile(spark, sf_dir):
    """Per-numeric-column completeness/dispersion profile of the lineitem
    measures."""
    from pdf_extractor_spark.operators.analytics import numeric_profile

    return numeric_profile(_t(spark, sf_dir, "lineitem"))


def _linkage_scores(spark, sf_dir):
    """Fellegi-Sunter-style additive-weight linkage decisions over the
    part-name candidate pairs."""
    from pdf_extractor_spark.operators.fuzzy import linkage_scores

    return linkage_scores(
        _t(spark, sf_dir, "part"), "p_name", "p_partkey", max_dist=2
    )


def _ndcg_topk(spark, sf_dir):
    """nDCG@10 of exact cosine retrieval with label-match relevance."""
    from pdf_extractor_spark.operators.similarity import ndcg_topk

    emb = _t(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 5).withColumnRenamed(
        "vec_id", "query_id"
    )
    return ndcg_topk(emb, q, k=10)


def _rank_biased_overlap(spark, sf_dir):
    """Truncated RBO@20 (p=0.9) between the PageRank and HITS-authority
    host rankings, read from the persisted host-rank index artifacts."""
    from pdf_extractor_spark.operators.graph import rank_biased_overlap

    pr, ht = _host_ranks_persisted(spark, sf_dir)
    return rank_biased_overlap(
        pr, ht, item_col="host", score_a="rank", score_b="auth",
        depth=20, p=0.9,
    )


def _pps_sample(spark, sf_dir):
    """Poisson PPS sample of documents weighted by n_chars (deterministic
    inclusion draws; Horvitz-Thompson-ready inclusion probabilities)."""
    from pdf_extractor_spark.operators.curation import pps_sample

    return pps_sample(_t(spark, sf_dir, "documents"), k=50)


def _weighted_sample(spark, sf_dir):
    """Exact-k (k=50) weighted sample of documents by n_chars via the
    A-ES exponential-draw keys — the fixed-size companion to
    pps_sample. Deterministic md5 uniforms; 12-dp round-before-rank."""
    from pdf_extractor_spark.operators.curation import weighted_sample

    return weighted_sample(_t(spark, sf_dir, "documents"), k=50)


def _markov_stationary(spark, sf_dir):
    """Approximate stationary distribution of the event-type Markov
    chain (3 power iterations, uniform start, sink self-loops)."""
    from pdf_extractor_spark.operators.events import markov_stationary

    return markov_stationary(_t(spark, sf_dir, "events"), iters=3)


def _kaplan_meier(spark, sf_dir):
    """Kaplan-Meier time-to-first-purchase survival curve with right
    censoring at the last observed event."""
    from pdf_extractor_spark.operators.events import kaplan_meier

    return kaplan_meier(_t(spark, sf_dir, "events"))


def _ks_test(spark, sf_dir):
    """Two-sample Kolmogorov-Smirnov test between purchase and click
    value distributions."""
    from pdf_extractor_spark.operators.analytics import ks_test

    return ks_test(_t(spark, sf_dir, "events"))


def _psi_drift(spark, sf_dir):
    """Population Stability Index of the value distribution between the
    first and second half of the time range (reference-decile bins)."""
    from pdf_extractor_spark.operators.analytics import psi_drift

    return psi_drift(_t(spark, sf_dir, "events"), n_bins=10)


def _dup_rate_by_source(spark, sf_dir):
    """Exact-duplicate pressure per ingest source (distinct text digests
    vs document counts)."""
    from pdf_extractor_spark.operators.curation import dup_rate_by_source

    return dup_rate_by_source(_t(spark, sf_dir, "documents"))


def _corr_matrix(spark, sf_dir):
    """Pearson correlations between every pair of lineitem measures in
    one aggregate pass."""
    from pdf_extractor_spark.operators.analytics import corr_matrix

    return corr_matrix(_t(spark, sf_dir, "lineitem"))


def _filter_committee(spark, sf_dir):
    """Majority vote + unanimity flag across the Gopher, C4, and
    hashed-LR quality filters."""
    from pdf_extractor_spark.operators.curation import (
        c4_filter,
        filter_committee,
        synthesize_pages,
    )
    from pdf_extractor_spark.operators.textstats import (
        gopher_filter,
        hash_lr_score,
    )

    docs = _t_wide(spark, sf_dir, "documents")
    return filter_committee(
        gopher_filter(docs).select("doc_id", "accept"),
        c4_filter(synthesize_pages(docs)).select("doc_id", "accept"),
        hash_lr_score(docs).select("doc_id", "accept"),
    )


def _embedding_isotropy(spark, sf_dir):
    """Mean-vector-vs-average-norm isotropy diagnostic of the embedding
    corpus (the ABTT precondition check)."""
    from pdf_extractor_spark.operators.similarity import embedding_isotropy

    return embedding_isotropy(_t(spark, sf_dir, "embeddings"))


def _dow_hour_heatmap(spark, sf_dir):
    """Calendar heatmap: event counts and shares per (day-of-week, hour)
    cell."""
    from pdf_extractor_spark.operators.events import dow_hour_heatmap

    return dow_hour_heatmap(_t(spark, sf_dir, "events"))


def _abtt_transform(spark, sf_dir):
    """All-But-The-Top correction: dominant principal direction projected
    out of every embedding (flat rows)."""
    from pdf_extractor_spark.operators.similarity import abtt_transform

    return abtt_transform(_t(spark, sf_dir, "embeddings"), iters=3)


def _hashed_doc_embedding(spark, sf_dir):
    """Feature-hashed signed bag-of-words document embedding (dim 16,
    sparse flat rows, L2-normalized coordinates)."""
    from pdf_extractor_spark.operators.textstats import hashed_doc_embedding

    return hashed_doc_embedding(_t_wide(spark, sf_dir, "documents"), dim=16)


def _ppr_hosts(spark, sf_dir):
    """Personalized PageRank from the src0/src1 seed hosts over the
    synthetic host graph (focused-crawl prioritizer)."""
    from pdf_extractor_spark.operators.graph import personalized_pagerank

    edges = _host_graph_edges(_t_wide(spark, sf_dir, "documents"))
    seeds = spark.createDataFrame(
        [("src0.example.com",), ("src1.example.com",)], "host string"
    )
    return personalized_pagerank(edges, seeds, iters=3, damping=0.85)


def _autocorrelation(spark, sf_dir):
    """Daily-count autocorrelation at lags 1/7/14 (weekly periodicity
    detector)."""
    from pdf_extractor_spark.operators.events import autocorrelation

    return autocorrelation(_t(spark, sf_dir, "events"), lags=(1, 7, 14))


def _rrf_fusion(spark, sf_dir):
    """Reciprocal-rank fusion (k=60) of the PageRank and HITS-authority
    host rankings, read from the persisted host-rank index artifacts."""
    from pdf_extractor_spark.operators.graph import rrf_fusion

    pr, ht = _host_ranks_persisted(spark, sf_dir)
    return rrf_fusion(pr, ht, item_col="host", score_a="rank",
                      score_b="auth", k=60)


def _event_trigrams(spark, sf_dir):
    """Top-20 most frequent 3-step event-type motifs across user
    streams."""
    from pdf_extractor_spark.operators.events import event_trigrams

    return event_trigrams(_t(spark, sf_dir, "events"), top_k=20)


def _encoding_advisor(spark, sf_dir):
    """Columnar encoding advisory (RLE/DICT/PLAIN) from group-local run
    lengths and dictionary sizes of the lineitem columns."""
    from pdf_extractor_spark.operators.maintenance import encoding_advisor

    return encoding_advisor(_t(spark, sf_dir, "lineitem"))


def _doc_similar_topk(spark, sf_dir):
    """Find-similar-documents retrieval over the feature-hashed
    embeddings (sparse cosine, 3 query docs, top-5)."""
    from pdf_extractor_spark.operators.textstats import doc_similar_topk

    return doc_similar_topk(
        _t_wide(spark, sf_dir, "documents"), dim=16, n_queries=3, k=5
    )


def _cluster_size_hist(spark, sf_dir):
    """Near-dup cluster-size histogram over the minhash connected
    components (how big do duplicate classes get). Pairs come from the
    persisted neardup_pairs index artifact — the plan shows a parquet
    scan, not signature recomputation."""
    from pdf_extractor_spark.operators.dedup import neardup_clusters

    docs = _t_wide(spark, sf_dir, "documents")
    pairs = _neardup_pairs_persisted(spark, sf_dir)
    clusters = neardup_clusters(docs, pairs)
    sizes = clusters.groupBy("cluster").agg(F.count("*").alias("sz"))
    return (
        sizes.groupBy(F.col("sz").cast("long").alias("size"))
        .agg(F.count("*").cast("long").alias("n_clusters"))
    )


def _dedup_threshold_curve(spark, sf_dir):
    """Sensitivity curve for the exact-Jaccard dedup threshold: pair
    counts at 0.7/0.8/0.9/1.0 from ONE pair computation — the
    pick-the-knob report before a dedup rollout."""
    from pdf_extractor_spark.operators.dedup import ngram_jaccard_pairs

    pairs = ngram_jaccard_pairs(
        _t_wide(spark, sf_dir, "documents"), n=3, threshold=0.7
    )
    th = spark.createDataFrame(
        [(0.7,), (0.8,), (0.9,), (1.0,)], "threshold double"
    )
    return (
        th.join(pairs, F.lit(True), "left")
        .groupBy("threshold")
        .agg(
            F.sum(
                F.when(F.col("jaccard") >= F.col("threshold"), 1).otherwise(0)
            )
            .cast("long")
            .alias("n_pairs")
        )
    )


def _source_trend(spark, sf_dir):
    """Per-event-type OLS trend of daily counts vs the day index (feed-
    health slope + R^2)."""
    from pdf_extractor_spark.operators.analytics import source_trend

    return source_trend(_t(spark, sf_dir, "events"))


def _dispersion_index(spark, sf_dir):
    """Variance-to-mean ratio of per-user event counts per type (Poisson
    overdispersion tripwire)."""
    from pdf_extractor_spark.operators.analytics import dispersion_index

    return dispersion_index(_t(spark, sf_dir, "events"))


def _capture_recapture(spark, sf_dir):
    """Lincoln-Petersen population estimate from the purchase/click user
    sightings."""
    from pdf_extractor_spark.operators.analytics import capture_recapture

    return capture_recapture(_t(spark, sf_dir, "events"))


def _query_likelihood(spark, sf_dir):
    """Dirichlet-smoothed query-likelihood retrieval (mu=500) for the
    shared 3-query batch — the LM alternative to bm25_topk."""
    from pdf_extractor_spark.operators.textstats import query_likelihood_topk

    return query_likelihood_topk(_t(spark, sf_dir, "documents"), k=10)


def _markov_entropy_rate(spark, sf_dir):
    """Entropy rate (nats/step) + effective branching factor of the
    event-type Markov chain under its approximate stationary
    distribution."""
    from pdf_extractor_spark.operators.events import markov_entropy_rate

    return markov_entropy_rate(_t(spark, sf_dir, "events"), iters=3)


def _filter_pr(spark, sf_dir):
    """Each quality filter scored against the committee majority verdict
    (precision/recall/F1)."""
    from pdf_extractor_spark.operators.curation import (
        c4_filter,
        filter_pr,
        synthesize_pages,
    )
    from pdf_extractor_spark.operators.textstats import (
        gopher_filter,
        hash_lr_score,
    )

    docs = _t_wide(spark, sf_dir, "documents")
    return filter_pr(
        gopher_filter(docs).select("doc_id", "accept"),
        c4_filter(synthesize_pages(docs)).select("doc_id", "accept"),
        hash_lr_score(docs).select("doc_id", "accept"),
    )


def _span_kind_transitions(spark, sf_dir):
    """Corpus transition matrix between consecutive interleaved span
    kinds (offset-order lag over the reversed synthetic arrays)."""
    from pdf_extractor_spark.operators.multimodal import (
        span_kind_transitions,
        synthesize_interleaved,
    )

    return span_kind_transitions(
        synthesize_interleaved(_t_wide(spark, sf_dir, "documents"))
    )


def _adamic_adar(spark, sf_dir):
    """Top-20 Adamic-Adar link-prediction scores over the synthetic host
    graph — which UNLINKED host pairs share the most (and rarest) common
    neighbors; the crawl-discovery counterpart of pagerank_hosts. Exact
    sum here; the max_pivot_degree hub cap is the 10^12-edge knob."""
    from pdf_extractor_spark.operators.graph import adamic_adar_topk

    edges = _host_graph_edges(_t_wide(spark, sf_dir, "documents"))
    return adamic_adar_topk(edges)


def _degree_assortativity(spark, sf_dir):
    """Degree assortativity (Newman r) of the host graph — the one-number
    hub-and-spoke vs collusion fingerprint; all moments exact BIGINTs so
    the single double expression is engine-bit-identical."""
    from pdf_extractor_spark.operators.graph import degree_assortativity

    edges = _host_graph_edges(_t_wide(spark, sf_dir, "documents"))
    return degree_assortativity(edges)


def _graph_modularity(spark, sf_dir):
    """Newman modularity Q of the label_propagation communities on the
    host graph — the detect-then-score audit: LPA proposes the partition,
    Q says whether it beats random. Q assembled from exact-integer stub
    counts in ONE division."""
    from pdf_extractor_spark.operators.graph import modularity

    edges = _host_graph_edges(_t_wide(spark, sf_dir, "documents"))
    return modularity(edges, iters=2)


def _gt_unseen_mass(spark, sf_dir):
    """Good-Turing unseen-mass estimate (p0 = N1/N, Gale & Sampson 1995)
    per source — the corpus-saturation dial: a source still yielding
    hapaxes is worth crawling deeper, one near zero is mined out."""
    from pdf_extractor_spark.operators.textstats import gt_unseen_mass

    return gt_unseen_mass(_t_wide(spark, sf_dir, "documents"))


def _lsh_candidate_eval(spark, sf_dir):
    """Banding precision/recall scoreboard of the (16 hash, 4x4) MinHash
    S-curve against exact 3-gram Jaccard >= 0.7 ground truth — the dedup
    twin of ann_recall_eval, md5-portable hashes end-to-end so the whole
    candidate pipeline is SQL-mirrorable."""
    from pdf_extractor_spark.operators.dedup import lsh_candidate_eval

    return lsh_candidate_eval(_t_wide(spark, sf_dir, "documents"))


def _clustering_coefficient(spark, sf_dir):
    """Local clustering coefficient per host (triangles over possible
    wedges) — the degree-normalized link-farm signal, riding
    triangle_count's degree-ordered wedge closure."""
    from pdf_extractor_spark.operators.graph import clustering_coefficient

    edges = _host_graph_edges(_t_wide(spark, sf_dir, "documents"))
    return clustering_coefficient(edges)


def _yule_k(spark, sf_dir):
    """Yule's characteristic K per source — the size-robust lexical
    repetitiveness constant; high K flags template/boilerplate-dominated
    sources. Complements gt_unseen_mass's novelty dial."""
    from pdf_extractor_spark.operators.textstats import yule_k

    return yule_k(_t_wide(spark, sf_dir, "documents"))


def _lsh_bands_sweep(spark, sf_dir):
    """MinHash banding operating-point sweep: the same 16-hash signature
    sliced 8x2 / 4x4 / 2x8 and scored against one exact-Jaccard truth —
    the precision/recall trade of the S-curve read off one result."""
    from pdf_extractor_spark.operators.dedup import lsh_bands_sweep

    return lsh_bands_sweep(_t_wide(spark, sf_dir, "documents"))


def _simhash_hamming_curve(spark, sf_dir):
    """SimHash radius sensitivity curve: cumulative near-dup pair counts
    at hamming 0/1/2/3 from one blocked pair computation (consuming the
    persisted simhash_signatures/ artifact) — exact-dup mass vs near-dup
    tail growth off a single result."""
    from pdf_extractor_spark.operators.dedup import simhash_hamming_curve

    return simhash_hamming_curve(
        _t_wide(spark, sf_dir, "documents"),
        signatures=_simhash_sigs_persisted(spark, sf_dir),
    )


def _community_conductance(spark, sf_dir):
    """Per-community conductance of the LPA partition on the host graph
    — the bottleneck score naming WHICH community leaks, next to
    graph_modularity's global Q."""
    from pdf_extractor_spark.operators.graph import community_conductance

    edges = _host_graph_edges(_t_wide(spark, sf_dir, "documents"))
    return community_conductance(edges, iters=2)


# The query catalog: family title -> {query name: wrapper}. This is the
# one place a query is declared; queries(), bench.HEADLINE and the
# OPERATORS.md families are all derived from it.
CATALOG: dict[str, dict[str, Callable[[SparkSession, str], DataFrame]]] = {
    "Reference analytics (dashboard §2.7)": {
        "success_rate": _success,
        "kpis": _kpis,
        "count_by_type": _count_by_type,
        "distinct_types": _distinct_types,
        "avg_purchase_value": _avg_purchase,
        "count_by_date": _count_by_date,
        "densified_daily_counts": _densified,
        "filtered_range": _filtered_range,
        "top_error_props": _top_error_props,
        "recent_events": _recent_events,
        "grouped_mean_value": _grouped_mean,
        "user_top_event": _user_top_event,
        "avg_time_tiers": _avg_time_tiers,
    },
    "Relational core (TPC-H adapted + joins)": {
        "tpch_q1": _tpch_q1,
        "tpch_q2": _tpch_q2,
        "tpch_q3": _tpch_q3,
        "tpch_q4": _tpch_q4,
        "tpch_q5": _tpch_q5,
        "tpch_q6": _tpch_q6,
        "tpch_q7": _tpch_q7,
        "tpch_q8": _tpch_q8,
        "tpch_q9": _tpch_q9,
        "tpch_q10": _tpch_q10,
        "tpch_q11": _tpch_q11,
        "tpch_q12": _tpch_q12,
        "tpch_q13": _tpch_q13,
        "tpch_q14": _tpch_q14,
        "tpch_q15": _tpch_q15,
        "tpch_q16": _tpch_q16,
        "tpch_q17": _tpch_q17,
        "tpch_q18": _tpch_q18,
        "tpch_q19": _tpch_q19,
        "tpch_q20": _tpch_q20,
        "tpch_q21": _tpch_q21,
        "tpch_q22": _tpch_q22,
        "top_revenue_orders": _top_revenue_orders,
        "customers_per_region": _customers_per_region,
    },
    "Extraction / classification / validation (reference parity)": {
        "extract_pipeline": _extract_pipeline,
        "extract_pipeline_digest": _extract_pipeline_digest,
        "classify_rules": _classify_rules,
        "preprocess_text": _preprocess_text,
        "lang_name": _lang_name,
        "span_validations": _span_validations,
        "auto_repair": _auto_repair,
        "table_match": _table_match,
        "page_filter": _page_filter,
        "span_regression": _span_regression,
        "nfc_normalize": _nfc_normalize,
    },
    "Text statistics & quality": {
        "token_count": _token_count,
        "bpe_token_count": _bpe_token_count,
        "quality_score": _quality,
        "lang_id": _lang_id,
        "fingerprint": _fingerprint,
        "repetition_stats": _repetition_stats,
        "tfidf_top_terms": _tfidf_top_terms,
        "token_entropy": _token_entropy,
        "bpe_pair_counts": _bpe_pair_counts,
        "bpe_merges": _bpe_merges,
        "bpe_encode": _bpe_encode,
        "bpe_vocab": _bpe_vocab,
        "wordpiece_encode": _wordpiece_encode,
        "lattice_vocab": _lattice_vocab,
        "lattice_encode": _lattice_encode,
        "pmi_cooccurrence": _pmi_cooccurrence,
        "lm_perplexity": _lm_perplexity,
        "ngram_lm": _ngram_lm,
        "kn_bigram_lm": _kn_bigram_lm,
        "kn_perplexity": _kn_perplexity,
        "stupid_backoff_score": _stupid_backoff_score,
        "quality_tiers": _quality_tiers,
        "gopher_filter": _gopher_filter,
        "c4_filter": _c4_filter,
        "hash_lr": _hash_lr,
        "train_hash_lr": _train_hash_lr,
        "hash_lr_trained": _hash_lr_trained,
        "model_accuracy": _model_accuracy,
        "roc_auc": _roc_auc,
        "curriculum_order": _curriculum_order,
        "packing_efficiency": _packing_efficiency,
        "calibration_bins": _calibration_bins,
        "entity_mentions": _entity_mentions,
        "vocab_coverage": _vocab_coverage,
        "readability": _readability,
        "tokenizer_fertility": _tokenizer_fertility,
        "ocr_garble_score": _ocr_garble,
        "script_mix": _script_mix,
        "sentence_segment": _sentence_segment,
        "quality_percentile": _quality_percentile,
        "vocab_prune": _vocab_prune,
        "lang_confusion": _lang_confusion,
        "zipf_fit": _zipf_fit,
        "heaps_law": _heaps_law,
        "word_burstiness": _word_burstiness,
        "gt_unseen_mass": _gt_unseen_mass,
        "yule_k": _yule_k,
        "stylometry_delta": _stylometry_delta,
        "source_diversity": _source_diversity,
        "text_tiling": _text_tiling,
    },
    "Document structure (layout cleanup & mining)": {
        "dehyphenate": _dehyphenate,
        "header_footer_strip": _header_footer_strip,
        "section_split": _section_split,
        "quote_extract": _quote_extract,
        "toc_extract": _toc_extract,
        "footnote_link": _footnote_link,
        "list_detect": _list_detect,
        "table_column_types": _table_column_types,
        "acronym_extract": _acronym_extract,
        "unit_normalize": _unit_normalize,
    },
    "Keywords & search": {
        "keyword_rake": _keyword_rake,
        "reverse_search": _reverse_search,
        "assoc_rules": _assoc_rules,
        "autocomplete_prefix": _autocomplete_prefix,
    },
    "Deduplication": {
        "exact_dedup": _exact_dedup,
        "line_dedup": _line_dedup,
        "substring_dedup": _substring_dedup,
        "ngram_jaccard": _ngram_jaccard,
        "winnow_fingerprints": _winnow_fingerprints,
        "winnow_pairs": _winnow_pairs,
        "minhash_lsh": _minhash_lsh,
        "simhash_neardup": _simhash,
        "neardup_clusters": _neardup_clusters,
        "dedup_survivors": _dedup_survivors,
        "dedup_apply": _dedup_apply,
        "dup_ngram_stats": _dup_ngram_stats,
        "incremental_dedup": _incremental_dedup,
        "incremental_lsh_dedup": _incremental_lsh_dedup,
        "embedding_neardup": _embedding_neardup,
        "semdedup": _semdedup,
        "containment_pairs": _containment_pairs,
        "intra_doc_dedup": _intra_doc_dedup,
        "ngram_novelty": _ngram_novelty,
        "cluster_size_hist": _cluster_size_hist,
        "dedup_threshold_curve": _dedup_threshold_curve,
        "lsh_candidate_eval": _lsh_candidate_eval,
        "lsh_bands_sweep": _lsh_bands_sweep,
        "simhash_hamming_curve": _simhash_hamming_curve,
    },
    "Decontamination & corpus curation": {
        "decontaminate": _decontaminate,
        "decontaminate_near": _decontaminate_near,
        "pii_scrub": _pii_scrub,
        "k_anonymity": _k_anonymity,
        "mix_weights": _mix_weights,
        "epoch_plan": _epoch_plan,
        "global_shuffle": _global_shuffle,
        "hash_sample": _hash_sample,
        "host_quota_sample": _host_quota_sample,
        "curation_funnel": _curation_funnel,
        "chunk_documents": _chunk_documents,
        "pack_sequences": _pack_sequences,
        "bloom_decontaminate": _bloom_decontaminate,
        "stratified_sample": _stratified_sample,
        "corpus_rollup": _corpus_rollup,
        "dsir_weights": _dsir_weights,
        "source_similarity": _source_similarity,
        "source_similarity_kmv": _source_similarity_kmv,
        "lang_alpha_weights": _lang_alpha_weights,
        "corpus_digest": _corpus_digest,
        "host_boilerplate": _host_boilerplate,
        "dataset_split": _dataset_split,
        "pareto_frontier": _pareto_frontier,
        "sample_alloc": _sample_alloc,
        "badword_filter": _badword_filter,
        "luhn_scan": _luhn_scan,
    },
    "Similarity search (ANN)": {
        "cosine_topk": _cosine_topk,
        "bm25_topk": _bm25_topk,
        "query_likelihood": _query_likelihood,
        "phrase_search": _phrase_search,
        "lsh_ann_topk": _lsh_ann,
        "ivf_ann_topk": _ivf_ann,
        "pq_encode": _pq_encode,
        "pq_adc_topk": _pq_adc_topk,
        "pq_rerank_topk": _pq_rerank_topk,
        "ivfpq_ann_topk": _ivfpq_ann_topk,
        "mutual_knn": _mutual_knn,
        "ann_recall_eval": _ann_recall_eval,
        "kmeans_clusters": _kmeans_clusters,
        "cluster_balanced_sample": _cluster_balanced_sample,
        "embedding_quantize": _embedding_quantize,
        "hard_negatives": _hard_negatives,
        "bitext_mine": _bitext_mine,
        "embedding_outliers": _embedding_outliers,
        "centroid_drift": _centroid_drift,
    },
    "Web: HTML, URLs, link graph": {
        "html_main_content": _html_main_content,
        "html_blocks": _html_blocks,
        "html_links": _html_links,
        "anchor_text_index": _anchor_text_index,
        "url_normalize": _url_normalize,
        "url_dedup": _url_dedup,
        "host_stats": _host_stats,
        "url_blocklist": _url_blocklist,
        "robots_rules": _robots_rules,
        "crawl_schedule": _crawl_schedule,
        "pagerank_hosts": _pagerank_hosts,
        "crawl_frontier": _crawl_frontier,
        "triangle_hosts": _triangle_hosts,
        "link_reciprocity": _link_reciprocity,
        "label_propagation": _label_propagation,
        "cc_hosts": _cc_hosts,
        "cc_incremental": _cc_incremental,
    },
    "Layout (reading order)": {
        "layout_order": _layout_order,
        "layout_text": _layout_text,
        "text_tables": _text_tables,
    },
    "Multimodal (interleaved media)": {
        "media_meta": _media_meta,
        "media_features": _media_features,
        "media_resize": _media_resize,
        "frame_sample": _frame_sample,
        "audio_segments": _audio_segments,
        "media_captions": _media_captions,
        "multimodal_pack": _multimodal_pack,
        "media_dedup": _media_dedup,
        "media_mime_sniff": _media_mime_sniff,
        "media_phash": _media_phash,
        "media_phash_neardup": _media_phash_neardup,
        "span_interleave_stats": _span_interleave_stats,
        "span_kind_transitions": _span_kind_transitions,
        "media_ref_integrity": _media_ref_integrity,
    },
    "Events: sessions, as-of, rollups, sketches": {
        "sessionize": _sessionize,
        "asof_last_purchase": _asof_last_purchase,
        "resample_locf": _resample_locf,
        "events_rollup": _events_rollup,
        "events_pivot": _events_pivot,
        "range_join_windows": _range_join_windows,
        "cms_user_counts": _cms_user_counts,
        "click_not_purchase_users": _click_not_purchase_users,
        "moving_avg_daily": _moving_avg_daily,
        "daily_anomaly": _daily_anomaly,
        "value_quantiles": _value_quantiles,
        "approx_value_quantiles": _approx_value_quantiles,
        "approx_distinct_users": _approx_distinct_users,
        "hll_mergeable_users": _hll_mergeable_users,
        "sample_quantile_sketch": _sample_quantile_sketch,
        "heavy_hitters": _heavy_hitters,
        "event_dedup": _event_dedup,
        "props_variant_stats": _props_variant_stats,
        "funnel_conversion": _funnel_conversion,
        "retention_cohorts": _retention_cohorts,
        "key_skew_stats": _key_skew_stats,
        "salted_join": _salted_join,
        "scd2_user_status": _scd2_user_status,
        "ab_test": _ab_test,
        "dow_seasonality": _dow_seasonality,
        "event_transitions": _event_transitions,
        "attribution_credit": _attribution_credit,
        "decayed_activity": _decayed_activity,
        "time_to_convert": _time_to_convert,
        "cusum_changepoint": _cusum_changepoint,
        "event_paths": _event_paths,
        "rfm_segments": _rfm_segments,
        "bot_detect": _bot_detect,
        "anomaly_mad": _anomaly_mad,
        "value_histogram": _value_histogram,
        "event_rle": _event_rle,
        "dow_hour_heatmap": _dow_hour_heatmap,
    },
    "Table layout & maintenance (Iceberg upkeep)": {
        "zorder_key": _zorder_key,
        "hilbert_key": _hilbert_key,
        "compaction_plan": _compaction_plan,
        "snapshot_diff": _snapshot_diff,
        "rendezvous_shards": _rendezvous_shards,
        "zone_map_prune": _zone_map_prune,
        "column_conformance": _column_conformance,
        "expire_snapshots": _expire_snapshots,
        "encoding_advisor": _encoding_advisor,
    },
    "Fuzzy matching & record linkage": {
        "levenshtein_names": _levenshtein_names,
        "phonetic_groups": _phonetic_groups,
        "linkage_scores": _linkage_scores,
        "fuzzy_name_match": _fuzzy_name_match,
    },
    "Dedup extensions (CDC / overlap / audit)": {
        "cdc_chunk_dedup": _cdc_chunk_dedup,
        "rouge_overlap": _rouge_overlap,
        "dedup_audit_pairs": _dedup_audit_pairs,
        "dup_rate_by_source": _dup_rate_by_source,
    },
    "Engagement & robust statistics": {
        "dau_wau_stickiness": _dau_wau_stickiness,
        "gini_value": _gini_value,
        "user_entropy": _user_entropy,
        "ewma_daily": _ewma_daily,
        "seasonal_decompose": _seasonal_decompose,
        "churn_detect": _churn_detect,
        "robust_value_stats": _robust_value_stats,
        "wow_growth": _wow_growth,
        "interarrival_hist": _interarrival_hist,
        "bootstrap_ci": _bootstrap_ci,
        "ks_test": _ks_test,
        "psi_drift": _psi_drift,
        "benford_deviation": _benford_deviation,
        "dp_counts": _dp_counts,
        "markov_stationary": _markov_stationary,
        "kaplan_meier": _kaplan_meier,
        "events_cube": _events_cube,
        "autocorrelation": _autocorrelation,
        "event_trigrams": _event_trigrams,
        "source_trend": _source_trend,
        "dispersion_index": _dispersion_index,
        "capture_recapture": _capture_recapture,
        "markov_entropy_rate": _markov_entropy_rate,
    },
    "Link-graph extensions": {
        "hits_hosts": _hits_hosts,
        "degree_ccdf": _degree_ccdf,
        "kcore_hosts": _kcore_hosts,
        "host_outlink_jaccard": _host_outlink_jaccard,
        "ppr_hosts": _ppr_hosts,
        "rrf_fusion": _rrf_fusion,
        "rank_biased_overlap": _rank_biased_overlap,
        "adamic_adar": _adamic_adar,
        "degree_assortativity": _degree_assortativity,
        "graph_modularity": _graph_modularity,
        "clustering_coefficient": _clustering_coefficient,
        "community_conductance": _community_conductance,
    },
    "Embedding & retrieval eval extensions": {
        "embedding_quantile_norm": _embedding_quantile_norm,
        "pca_top_component": _pca_top_component,
        "cluster_purity": _cluster_purity,
        "ndcg_topk": _ndcg_topk,
        "kmv_setops": _kmv_setops,
        "embedding_isotropy": _embedding_isotropy,
        "abtt_transform": _abtt_transform,
        "hashed_doc_embedding": _hashed_doc_embedding,
        "doc_similar_topk": _doc_similar_topk,
    },
    "Corpus inspection & tokenizer extensions": {
        "concordance": _concordance,
        "branching_entropy": _branching_entropy,
        "collocations_llr": _collocations_llr,
        "morph_split": _morph_split,
        "token_length_hist": _token_length_hist,
        "utf8_stats": _utf8_stats,
        "pps_sample": _pps_sample,
        "weighted_sample": _weighted_sample,
        "lang_source_mi": _lang_source_mi,
        "filter_kappa": _filter_kappa,
        "filter_committee": _filter_committee,
        "filter_pr": _filter_pr,
    },
    "Relational & quality-audit extensions": {
        "order_deciles": _order_deciles,
        "part_affinity": _part_affinity,
        "shipping_delay_stats": _shipping_delay_stats,
        "discount_revenue_curve": _discount_revenue_curve,
        "regional_top_parts": _regional_top_parts,
        "null_profile": _null_profile,
        "numeric_profile": _numeric_profile,
        "join_size_estimate": _join_size_estimate,
        "user_tier_enrich": _user_tier_enrich,
        "corr_matrix": _corr_matrix,
    },
    "Multimodal extensions": {
        "shot_boundaries": _shot_boundaries,
        "image_tiles": _image_tiles,
    },
}


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {n: fn for family in CATALOG.values() for n, fn in family.items()}


# ---------------------------------------------------------------------------
# DuckDB oracles
# ---------------------------------------------------------------------------

_TOKS = "regexp_split_to_array(trim(text), '\\s+')"
_LTOKS = "regexp_split_to_array(lower(trim(text)), '\\s+')"
# null/blank-safe twin: empty array for NULL or whitespace-only text,
# mirroring tokens_col's guard (regexp_split_to_array('') is [''], not [])
_LTOKS_SAFE = (
    "CASE WHEN text IS NULL OR trim(text) = '' "
    f"THEN CAST([] AS VARCHAR[]) ELSE {_LTOKS} END"
)
# original-case twin: ops that REBUILD text tokenize unfolded and only
# fold for the duplicate-detection key (line_dedup / substring_dedup)
_OTOKS = "regexp_split_to_array(trim(text), '\\s+')"
_EN_STOP = (
    "['the','a','an','and','or','of','to','in','is','are','for','with',"
    "'that','this','it','on','as','by','be']"
)


def _classify_sql() -> str:
    cases = []
    prev_score = "0.0"
    prev_type = "CAST(NULL AS VARCHAR)"
    # fold in rule order with strictly-greater update, like the Spark side
    expr_type, expr_score = prev_type, prev_score
    for doc_type, kws, pats in DOC_RULES:
        parts = [f"CAST(regexp_matches(text, '\\b{kw}\\b') AS INT)" for kw in kws]
        parts += [f"2*CAST(regexp_matches(text, '{p}') AS INT)" for p in pats]
        max_score = len(kws) + 2 * len(pats)
        norm = f"(({' + '.join(parts)}) / {float(max_score)})"
        expr_type = (
            f"CASE WHEN {norm} > {expr_score} THEN '{doc_type}' "
            f"ELSE {expr_type} END"
        )
        expr_score = (
            f"CASE WHEN {norm} > {expr_score} THEN {norm} ELSE {expr_score} END"
        )
    return (
        f"SELECT doc_id, {expr_type} AS doc_type, "
        f"round({expr_score}, 6) AS score FROM documents"
    )


def _extract_digest_sql() -> str:
    """DuckDB twin of _extract_pipeline_digest: rebuilds the interleaved
    layout, the language-detection cascade (oracle/language.py
    semantics), the Python-whitespace preprocess, the ordered
    (kind,text,media_ref,order) md5 digest, and the rule classification
    over all_text — entirely in SQL, so the driver gate hashes the full
    extraction pipeline (reference extractor.py:38-95,
    document_classifier.py:84-173)."""
    from pdf_extractor_spark.operators.spans import PY_WS_CHARS
    from pdf_extractor_spark.oracle.language import _STOPWORDS

    ws = PY_WS_CHARS  # raw chars in a SQL literal (set contains no quote)
    ctrl = r"[\x00-\x1f\x7f-\x9f]"
    pyws = (
        r"[\t-\r \x1c-\x1f\x85\xa0\x{1680}\x{2000}-\x{200a}"
        r"\x{2028}\x{2029}\x{202f}\x{205f}\x{3000}]"
    )
    scripts = {
        "han": r"[\x{4e00}-\x{9fff}\x{3400}-\x{4dbf}]",
        "hira": r"[\x{3040}-\x{309f}]",
        "kata": r"[\x{30a0}-\x{30ff}]",
        "hangul": r"[\x{ac00}-\x{d7af}\x{1100}-\x{11ff}]",
        "cyr": r"[\x{0400}-\x{04ff}]",
        "ar": r"[\x{0600}-\x{06ff}]",
        "dev": r"[\x{0900}-\x{097f}]",
    }
    counts = ",\n    ".join(
        f"CASE WHEN nonascii THEN len(regexp_extract_all(smp, '{rx}')) "
        f"ELSE 0 END AS c_{k}"
        for k, rx in scripts.items()
    )
    hits = ",\n    ".join(
        "len(list_filter(toks, t -> list_contains(["
        + ",".join(f"'{w}'" for w in sorted(words))
        + f"], t))) AS h{i}"
        for i, (_code, words) in enumerate(_STOPWORDS)
    )
    # strictly-greater argmax in _STOPWORDS order, initial best = en
    bl, bh = f"'{_STOPWORDS[0][0]}'", "h0"
    for i in range(1, len(_STOPWORDS)):
        code = _STOPWORDS[i][0]
        bl = f"CASE WHEN h{i} > ({bh}) THEN '{code}' ELSE {bl} END"
        bh = f"CASE WHEN h{i} > ({bh}) THEN h{i} ELSE {bh} END"
    script_lang = (
        "CASE WHEN (c_hira + c_kata) > 0 AND (c_hira + c_kata) >= "
        "(c_han // 4) THEN 'ja' "
        "WHEN c_hangul > c_han THEN 'ko' "
        "WHEN c_han > 0 THEN 'zh' "
        "WHEN c_cyr >= greatest(c_ar, c_dev) THEN 'ru' "
        "WHEN c_ar >= c_dev THEN 'ar' ELSE 'hi' END"
    )
    latin_lang = (
        "CASE WHEN len(toks) = 0 THEN 'unknown' "
        f"WHEN ({bh}) <= 0 THEN "
        "CASE WHEN nonascii THEN 'pt' ELSE 'en' END "
        f"ELSE {bl} END"
    )
    lang_expr = (
        "CASE WHEN sample IS NULL OR sample = '' "
        f"OR length(trim(sample, '{ws}')) < 10 THEN 'unknown' "
        f"WHEN sc_total >= 3 THEN {script_lang} "
        f"ELSE {latin_lang} END"
    )

    def pp(w: str) -> str:
        base = f"regexp_replace(trim({w}, '{ws}'), '{ctrl}', '', 'g')"
        collapsed = f"regexp_replace({base}, '{pyws}+', ' ', 'g')"
        return (
            f"CASE WHEN {w} IS NULL OR {w} = '' THEN {w} "
            f"WHEN lang IN ('zh','ja','ko') THEN {base} "
            f"ELSE {collapsed} END"
        )

    pps = ",\n    ".join(f"{pp(f'w{i}')} AS p{i}" for i in range(5))
    # rule classification over all_text (IGNORECASE like the Python UDF)
    expr_type, expr_score = "CAST(NULL AS VARCHAR)", "0.0"
    for doc_type, kws, pats in DOC_RULES:
        parts = [
            f"CAST(regexp_matches(all_text, '\\b{kw}\\b', 'i') AS INT)"
            for kw in kws
        ]
        parts += [
            f"2*CAST(regexp_matches(all_text, '{p}', 'i') AS INT)"
            for p in pats
        ]
        max_score = len(kws) + 2 * len(pats)
        norm = f"(({' + '.join(parts)}) / {float(max_score)})"
        expr_type = (
            f"CASE WHEN {norm} > ({expr_score}) THEN '{doc_type}' "
            f"ELSE {expr_type} END"
        )
        expr_score = (
            f"CASE WHEN {norm} > ({expr_score}) THEN {norm} "
            f"ELSE {expr_score} END"
        )

    return f"""
WITH base AS (
  SELECT CAST(doc_id AS VARCHAR) AS doc_id, text AS t,
         coalesce(length(text), 0) AS n
  FROM documents),
w AS (
  SELECT doc_id, n,
    CASE WHEN n > 0   THEN substr(t, 1, 40)   END AS w0,
    CASE WHEN n > 40  THEN substr(t, 41, 40)  END AS w1,
    CASE WHEN n > 80  THEN substr(t, 81, 40)  END AS w2,
    CASE WHEN n > 120 THEN substr(t, 121, 40) END AS w3,
    CASE WHEN n > 160 THEN substr(t, 161, 40) END AS w4
  FROM base),
s0 AS (SELECT *, concat_ws(chr(10), w0, w1, w2) AS sample FROM w),
s1 AS (
  SELECT *, substr(sample, 1, 2000) AS smp,
         regexp_matches(substr(sample, 1, 2000), '[^\\x00-\\x7f]')
           AS nonascii
  FROM s0),
s2 AS (
  SELECT *,
    {counts},
    regexp_extract_all(lower(smp), '[a-z\\x{{e0}}-\\x{{ff}}]+') AS toks
  FROM s1),
s3 AS (
  SELECT *,
    c_han + c_hira + c_kata + c_hangul + c_cyr + c_ar + c_dev AS sc_total,
    {hits}
  FROM s2),
s4 AS (
  SELECT doc_id, n, w0, w1, w2, w3, w4, {lang_expr} AS lang FROM s3),
p AS (
  SELECT doc_id, n, lang,
    {pps}
  FROM s4),
sp AS (
  SELECT doc_id, lang,
    CASE WHEN n > 0 THEN ['text|' || p0 || '||'] ELSE [] END
    || CASE WHEN n > 0 THEN ['image||m0|'] ELSE [] END
    || CASE WHEN n > 40 THEN ['text|' || p1 || '||'] ELSE [] END
    || CASE WHEN n > 80 THEN ['text|' || p2 || '||'] ELSE [] END
    || CASE WHEN n > 80 THEN ['image||m1|'] ELSE [] END
    || CASE WHEN n > 120 THEN ['text|' || p3 || '||'] ELSE [] END
    || CASE WHEN n > 160 THEN ['text|' || p4 || '||'] ELSE [] END AS lst,
    concat_ws(chr(10), p0, p1, p2, p3, p4) AS all_text,
    CAST(CASE WHEN n > 0 THEN 1 ELSE 0 END
       + CASE WHEN n > 40 THEN 1 ELSE 0 END
       + CASE WHEN n > 80 THEN 1 ELSE 0 END
       + CASE WHEN n > 120 THEN 1 ELSE 0 END
       + CASE WHEN n > 160 THEN 1 ELSE 0 END AS INT) AS num_pages
  FROM p)
SELECT doc_id,
  md5(array_to_string(
    list_transform(range(1, CAST(len(lst) AS BIGINT) + 1),
                   i -> lst[CAST(i AS INT)] || CAST(i - 1 AS VARCHAR)),
    chr(1))) AS span_digest,
  {expr_type} AS doc_type,
  round({expr_score}, 6) + 0.0 AS confidence,
  lang, num_pages
FROM sp
"""


def _lattice_sql() -> "tuple[str, str]":
    """(vocab_sql, encode_sql) for the lattice tokenizer: the DuckDB DP
    is GENERATED from the same fold/walk loops as the Spark side
    (curation._lattice_word_pieces), alias for alias — lateral column
    aliases keep it linear-sized. Integer-exact scores, so no float
    parity surface at all."""
    from pdf_extractor_spark.operators.curation import (
        LATTICE_BIG,
        LATTICE_MAX_PIECE,
        LATTICE_MAX_WORD,
    )

    W, P = LATTICE_MAX_WORD, LATTICE_MAX_PIECE
    vocab_cte = f"""
wf AS (
  SELECT w, CAST(count(*) AS BIGINT) AS wcnt
  FROM (SELECT unnest({_LTOKS_SAFE}) AS w FROM documents) GROUP BY 1),
occ AS (
  SELECT piece, CAST(sum(wcnt) AS BIGINT) AS cnt FROM (
    SELECT wcnt,
      unnest(list_transform(range(1, length(w) - l + 2),
             x -> substr(w, CAST(x AS INT), CAST(l AS INT)))) AS piece
    FROM wf, (VALUES (1),(2),(3),(4)) ls(l)
  ) GROUP BY 1),
vocab AS (
  SELECT piece, cnt, TRUE AS is_single FROM occ WHERE length(piece) = 1
  UNION ALL
  SELECT piece, cnt, FALSE AS is_single FROM (
    SELECT piece, cnt FROM occ WHERE length(piece) > 1
    ORDER BY cnt DESC, piece LIMIT 200))"""
    vocab_sql = (
        f"WITH {vocab_cte} SELECT piece, cnt, is_single FROM vocab"
    )

    # --- DP ladder, mirrored from _lattice_word_pieces' fold. One CTE
    # layer per DP/walk step: lateral aliases are SUBSTITUTED by the
    # binder, so a 16-deep alias chain referencing its predecessor twice
    # explodes 2^16-fold (measured: the single-SELECT form hung DuckDB);
    # each CTE layer materializes real columns instead. Within a layer
    # the candidate fold nests only min(P, i) deep — bounded.
    layers = ["dp0 AS (SELECT w, m, CAST(0 AS BIGINT) AS b0 "
              "FROM dw CROSS JOIN vm)"]
    for i in range(1, W + 1):
        ls = list(range(1, min(P, i) + 1))
        al = []
        for l in ls:
            al.append(f"m[substr(w, {i - l + 1}, {l})][1] AS c{i}_{l}")
            al.append(
                f"CASE WHEN b{i - l} IS NOT NULL AND c{i}_{l} IS NOT NULL "
                f"THEN b{i - l} + {LATTICE_BIG} - c{i}_{l} END AS s{i}_{l}"
            )
        al.append(f"s{i}_1 AS bb{i}_1")
        al.append(f"CASE WHEN s{i}_1 IS NOT NULL THEN 1 END AS kk{i}_1")
        for l in ls[1:]:
            better = (
                f"(s{i}_{l} IS NOT NULL AND (bb{i}_{l - 1} IS NULL "
                f"OR s{i}_{l} < bb{i}_{l - 1}))"
            )
            al.append(
                f"CASE WHEN {better} THEN s{i}_{l} ELSE bb{i}_{l - 1} END "
                f"AS bb{i}_{l}"
            )
            al.append(
                f"CASE WHEN {better} THEN {l} ELSE kk{i}_{l - 1} END "
                f"AS kk{i}_{l}"
            )
        last = ls[-1]
        al.append(
            f"CASE WHEN length(w) >= {i} THEN bb{i}_{last} END AS b{i}"
        )
        al.append(
            f"CASE WHEN length(w) >= {i} THEN CAST(kk{i}_{last} AS INT) "
            f"END AS k{i}"
        )
        layers.append(
            f"dp{i} AS (SELECT *, {', '.join(al)} FROM dp{i - 1})"
        )
    back = "[" + ", ".join(f"k{i}" for i in range(1, W + 1)) + "]"
    layers.append(
        f"wk0 AS (SELECT *, {back} AS back, "
        f"CASE WHEN length(w) BETWEEN 1 AND {W} "
        "THEN CAST(length(w) AS INT) ELSE 0 END AS pos0, "
        f"CAST([] AS INT[]) AS lens0 FROM dp{W})"
    )
    for s in range(1, W + 1):
        layers.append(
            f"wk{s} AS (SELECT *, "
            f"CASE WHEN pos{s - 1} > 0 "
            f"THEN list_append(lens{s - 1}, back[pos{s - 1}]) "
            f"ELSE lens{s - 1} END AS lens{s}, "
            f"CASE WHEN pos{s - 1} > 0 THEN pos{s - 1} - back[pos{s - 1}] "
            f"ELSE pos{s - 1} END AS pos{s} FROM wk{s - 1})"
        )
    layers.append(
        f"f1 AS (SELECT *, list_reverse(lens{W}) AS lens_rev FROM wk{W})"
    )
    layers.append(
        "f2 AS (SELECT *, list_transform(lens_rev, (x, j) -> 1 + "
        "coalesce(list_sum(list_slice(lens_rev, 1, j - 1)), 0)) AS starts"
        " FROM f1)"
    )
    layers.append(
        "f3 AS (SELECT *, list_transform(lens_rev, (v, j) -> "
        "substr(w, CAST(starts[j] AS INT), CAST(v AS INT))) AS raw_pieces"
        " FROM f2)"
    )
    layers.append(
        f"f4 AS (SELECT *, CASE WHEN length(w) > {W} "
        f"OR coalesce(pos{W} != 0, TRUE) "
        "THEN [w] ELSE raw_pieces END AS pieces FROM f3)"
    )
    layers.append(
        "dp AS (SELECT w, pieces, CAST(len(pieces) AS INT) AS n_pieces "
        "FROM f4)"
    )
    chain = ",\n".join(layers)
    encode_sql = f"""
WITH {vocab_cte},
vm AS (SELECT map(list(piece ORDER BY piece), list(cnt ORDER BY piece))
         AS m FROM vocab),
toks AS (
  SELECT doc_id, unnest(t) AS w, generate_subscripts(t, 1) AS pos
  FROM (SELECT doc_id, {_LTOKS_SAFE} AS t FROM documents)),
dw AS (SELECT DISTINCT w FROM toks),
{chain}
SELECT t.doc_id,
       CAST(count(*) AS BIGINT) AS n_words,
       CAST(sum(dp.n_pieces) AS BIGINT) AS n_pieces,
       md5(array_to_string(flatten(list(dp.pieces ORDER BY t.pos)),
           chr(1))) AS piece_digest
FROM toks t JOIN dp USING (w)
GROUP BY 1
"""
    return vocab_sql, encode_sql


def _seq_dot(a: str, b: str) -> str:
    """Sequential-fold dot product, bit-identical to the Spark side's
    F.aggregate(F.zip_with(...)) — float32 products accumulated
    left-to-right in float64. DuckDB's list_dot_product may sum in a
    different order, which at sf0.1 flipped one pair's cosine across a
    4-dp rounding boundary; a fold with the SAME order and dtypes cannot."""
    return (
        f"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
        f"list_transform(list_zip({a}, {b}), x -> x[1] * x[2])), "
        f"(acc, x) -> acc + x)"
    )


def _sql_cosine(a: str, b: str) -> str:
    return (
        f"round({_seq_dot(a, b)} / "
        f"(sqrt({_seq_dot(a, a)}) * sqrt({_seq_dot(b, b)})), 4)"
    )


def _planes_cte(dim: int, bits: int, tables: int, seed: int) -> str:
    """CTE rebuilding similarity._hyperplanes in SQL: planes(t, b, d, s)
    with s = +1 iff the first 8 hex chars of md5('{seed}_{t}_{b}_{d}') are
    even — bit-identical to the Python/hashlib derivation."""
    return f"""planes AS (
  SELECT t, b, d,
         CASE WHEN CAST('0x' || substr(
                  md5('{seed}_' || t || '_' || b || '_' || d), 1, 8)
              AS BIGINT) % 2 = 0 THEN 1.0 ELSE -1.0 END AS s
  FROM range({tables}) r1(t), range({bits}) r2(b), range({dim}) r3(d))"""


def _lsh_bucket_cte(prefix: str, src: str, id_expr: str, vec: str) -> str:
    """CTEs turning {src}.{vec} into LSH bucket rows {prefix}buck(id, tbl,
    bucket) against a `planes` CTE from _planes_cte — the SQL mirror of
    similarity.lsh_buckets' sign-projection bucketing."""
    return f"""{prefix}comp AS (
  SELECT {id_expr} AS id, generate_subscripts({vec}, 1) - 1 AS d,
         unnest({vec}) AS x
  FROM {src}),
{prefix}proj AS (
  SELECT c.id, p.t, p.b, sum(p.s * c.x) AS pr
  FROM {prefix}comp c JOIN planes p USING (d) GROUP BY 1, 2, 3),
{prefix}buck AS (
  SELECT id, t AS tbl,
         CAST(sum(CASE WHEN pr > 0 THEN CAST(1 AS BIGINT) << b ELSE 0 END)
              AS BIGINT) AS bucket
  FROM {prefix}proj GROUP BY 1, 2)"""


def oracle_sql() -> dict[str, str]:
    sql: dict[str, str] = {}

    sql["success_rate"] = (
        "SELECT round(coalesce(avg(CASE WHEN event_type <> 'error' THEN 1.0 "
        "ELSE 0.0 END) * 100, 0), 4) AS success_rate FROM events"
    )
    sql["kpis"] = (
        "SELECT count(*) AS total_docs, "
        "round(coalesce(avg(CASE WHEN event_type <> 'error' THEN 1.0 ELSE 0.0 "
        "END) * 100, 0), 4) AS success_rate, "
        "CAST(coalesce(sum(CASE WHEN CAST(ts AS DATE) = DATE '2024-01-15' "
        "THEN 1 ELSE 0 END), 0) AS BIGINT) AS docs_today, "
        "CASE WHEN avg(value) IS NULL THEN '-' "
        "WHEN avg(value) < 1 THEN CAST(CAST(round(avg(value)*1000, 0) AS "
        "BIGINT) AS VARCHAR) || 'ms' "
        "WHEN avg(value) < 60 THEN CAST(round(avg(value), 1) AS VARCHAR) || 's' "
        "ELSE CAST(round(avg(value)/60, 1) AS VARCHAR) || 'min' END "
        "AS avg_time_display FROM events"
    )
    sql["count_by_type"] = (
        "SELECT coalesce(event_type, 'Desconhecido') AS doc_type, "
        "count(*) AS count FROM events GROUP BY 1 ORDER BY count DESC, doc_type"
    )
    sql["distinct_types"] = (
        "SELECT DISTINCT event_type FROM events WHERE event_type IS NOT NULL "
        "ORDER BY event_type"
    )
    sql["avg_purchase_value"] = (
        "SELECT round(avg(value), 6) AS avg_value FROM events "
        "WHERE event_type = 'purchase'"
    )
    sql["count_by_date"] = (
        "SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS date, count(*) AS count "
        "FROM events GROUP BY 1 ORDER BY 1"
    )
    sql["densified_daily_counts"] = (
        "WITH days AS (SELECT unnest(generate_series(DATE '2024-01-01', "
        "DATE '2024-02-10', INTERVAL 1 DAY))::DATE AS date), "
        "counts AS (SELECT CAST(ts AS DATE) AS date, count(*) AS cnt "
        "FROM events WHERE CAST(ts AS DATE) BETWEEN DATE '2024-01-01' AND "
        "DATE '2024-02-10' GROUP BY 1) "
        "SELECT CAST(d.date AS VARCHAR) AS date, coalesce(c.cnt, 0) AS count FROM days d "
        "LEFT JOIN counts c ON d.date = c.date ORDER BY d.date"
    )
    sql["filtered_range"] = (
        "SELECT event_id, ts, user_id, round(value, 6) AS value FROM events "
        "WHERE ts >= TIMESTAMP '2024-01-10' AND ts <= TIMESTAMP '2024-01-20' "
        "AND event_type = 'click'"
    )
    sql["top_error_props"] = (
        "SELECT json_extract_string(props, '$.k') AS err_key, count(*) AS count "
        "FROM events WHERE event_type = 'error' "
        "AND json_extract_string(props, '$.k') IS NOT NULL "
        "GROUP BY 1 ORDER BY count DESC, err_key LIMIT 10"
    )
    sql["recent_events"] = (
        "SELECT event_id, ts, event_type, round(value, 6) AS value FROM events "
        "ORDER BY ts DESC, event_id DESC LIMIT 20"
    )
    sql["grouped_mean_value"] = (
        "SELECT event_type, round(avg(value), 6) AS avg_value FROM events "
        "GROUP BY 1 ORDER BY avg_value DESC, event_type"
    )
    sql["user_top_event"] = (
        "SELECT user_id, event_id, event_type, round(value, 6) AS value FROM ("
        "SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY value "
        "DESC, event_id DESC) AS rn FROM events) WHERE rn = 1"
    )
    sql["tpch_q1"] = (
        "SELECT l_returnflag, l_linestatus, round(sum(l_quantity), 2) AS "
        "sum_qty, round(sum(l_extendedprice), 2) AS sum_base_price, "
        "round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price, "
        "round(avg(l_quantity), 4) AS avg_qty, round(avg(l_discount), 4) AS "
        "avg_disc, count(*) AS count_order FROM lineitem "
        "WHERE l_shipdate <= TIMESTAMP '1998-09-02' GROUP BY 1, 2 ORDER BY 1, 2"
    )
    sql["tpch_q6"] = (
        "SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue "
        "FROM lineitem WHERE l_shipdate >= TIMESTAMP '1996-01-01' "
        "AND l_shipdate < TIMESTAMP '1997-01-01' "
        "AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24"
    )
    sql["tpch_q3"] = (
        "SELECT l_orderkey, CAST(CAST(o_orderdate AS DATE) AS VARCHAR) AS "
        "o_orderdate, o_orderpriority, "
        "round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue "
        "FROM customer JOIN orders ON c_custkey = o_custkey "
        "JOIN lineitem ON l_orderkey = o_orderkey "
        "WHERE c_mktsegment = 'BUILDING' "
        "AND o_orderdate < TIMESTAMP '1997-03-15' "
        "AND l_shipdate > TIMESTAMP '1997-03-15' "
        "GROUP BY 1, 2, 3 ORDER BY revenue DESC, o_orderdate, l_orderkey "
        "LIMIT 10"
    )
    sql["tpch_q5"] = (
        "SELECT n_name AS nation, "
        "round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue "
        "FROM customer JOIN orders ON c_custkey = o_custkey "
        "JOIN lineitem ON l_orderkey = o_orderkey "
        "JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey "
        "JOIN nation ON s_nationkey = n_nationkey "
        "JOIN region ON n_regionkey = r_regionkey "
        "WHERE r_name = 'ASIA' AND o_orderdate >= TIMESTAMP '1996-01-01' "
        "AND o_orderdate < TIMESTAMP '1997-01-01' "
        "GROUP BY 1 ORDER BY revenue DESC, nation"
    )
    sql["tpch_q10"] = (
        "SELECT c_custkey, c_name, c_acctbal, n_name AS nation, "
        "round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue "
        "FROM lineitem JOIN orders ON l_orderkey = o_orderkey "
        "JOIN customer ON o_custkey = c_custkey "
        "JOIN nation ON c_nationkey = n_nationkey "
        "WHERE l_returnflag = 'R' "
        "AND o_orderdate >= TIMESTAMP '1996-10-01' "
        "AND o_orderdate < TIMESTAMP '1997-01-01' "
        "GROUP BY 1, 2, 3, 4 ORDER BY revenue DESC, c_custkey LIMIT 20"
    )
    sql["tpch_q7"] = (
        "SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation, "
        "CAST(year(l_shipdate) AS INT) AS l_year, "
        "round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue "
        "FROM lineitem JOIN supplier ON l_suppkey = s_suppkey "
        "JOIN orders ON l_orderkey = o_orderkey "
        "JOIN customer ON o_custkey = c_custkey "
        "JOIN nation n1 ON s_nationkey = n1.n_nationkey "
        "JOIN nation n2 ON c_nationkey = n2.n_nationkey "
        "WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2') OR "
        "(n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1')) "
        "AND l_shipdate >= TIMESTAMP '1996-01-01' "
        "AND l_shipdate < TIMESTAMP '1998-01-01' "
        "GROUP BY 1, 2, 3 ORDER BY 1, 2, 3"
    )
    sql["tpch_q12"] = (
        "SELECT o_orderpriority, "
        "CAST(sum(CASE WHEN l_shipdate > o_orderdate + INTERVAL 90 DAY "
        "THEN 1 ELSE 0 END) AS BIGINT) AS late_count, "
        "CAST(count(*) AS BIGINT) AS line_count "
        "FROM lineitem JOIN orders ON l_orderkey = o_orderkey "
        "WHERE l_shipdate >= TIMESTAMP '1996-01-01' "
        "AND l_shipdate < TIMESTAMP '1997-01-01' "
        "GROUP BY 1 ORDER BY 1"
    )
    sql["tpch_q14"] = (
        "SELECT round(100.0 * sum(CASE WHEN p_type = 'PROMO' THEN "
        "l_extendedprice * (1 - l_discount) ELSE 0.0 END) / "
        "sum(l_extendedprice * (1 - l_discount)), 4) AS promo_revenue "
        "FROM lineitem JOIN part ON l_partkey = p_partkey "
        "WHERE l_shipdate >= TIMESTAMP '1996-09-01' "
        "AND l_shipdate < TIMESTAMP '1996-10-01'"
    )
    sql["tpch_q18"] = (
        "SELECT c_name, c_custkey, o_orderkey, "
        "CAST(CAST(o_orderdate AS DATE) AS VARCHAR) AS o_orderdate, "
        "o_totalprice, round(sum(l_quantity), 2) AS total_qty "
        "FROM customer JOIN orders ON c_custkey = o_custkey "
        "JOIN lineitem ON o_orderkey = l_orderkey "
        "WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem "
        "GROUP BY l_orderkey HAVING sum(l_quantity) > 200.0) "
        "GROUP BY 1, 2, 3, 4, 5 "
        "ORDER BY o_totalprice DESC, o_orderdate, o_orderkey LIMIT 100"
    )
    sql["tpch_q19"] = (
        "SELECT round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue "
        "FROM lineitem JOIN part ON l_partkey = p_partkey "
        "WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15 "
        "AND l_quantity BETWEEN 1 AND 11) "
        "OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 25 "
        "AND l_quantity BETWEEN 10 AND 20) "
        "OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 35 "
        "AND l_quantity BETWEEN 20 AND 30)"
    )
    sql["tpch_q4"] = (
        "SELECT o_orderpriority, count(*) AS order_count FROM orders o "
        "WHERE o_orderdate >= TIMESTAMP '1996-07-01' "
        "AND o_orderdate < TIMESTAMP '1996-10-01' "
        "AND EXISTS (SELECT 1 FROM lineitem l WHERE l.l_orderkey = "
        "o.o_orderkey AND l.l_shipdate > o.o_orderdate) "
        "GROUP BY 1 ORDER BY 1"
    )
    sql["top_revenue_orders"] = (
        "SELECT o_orderkey, CAST(CAST(o_orderdate AS DATE) AS VARCHAR) AS o_orderdate, revenue "
        "FROM orders JOIN (SELECT l_orderkey, round(sum(l_extendedprice * "
        "(1 - l_discount)), 2) AS revenue FROM lineitem GROUP BY 1) r "
        "ON o_orderkey = r.l_orderkey ORDER BY revenue DESC, o_orderkey LIMIT 10"
    )
    sql["customers_per_region"] = (
        "SELECT r_name AS region, count(*) AS n_customers, "
        "round(avg(c_acctbal), 4) AS avg_acctbal FROM customer "
        "JOIN nation ON c_nationkey = n_nationkey "
        "JOIN region ON n_regionkey = r_regionkey GROUP BY 1 ORDER BY 1"
    )
    sql["classify_rules"] = _classify_sql()
    sql["extract_pipeline_digest"] = _extract_digest_sql()
    sql["preprocess_text"] = (
        "SELECT doc_id, CASE WHEN text IS NULL OR text = '' THEN text "
        "WHEN lang IN ('zh','ja','ko') THEN "
        "regexp_replace(trim(text), '[\\x00-\\x1F\\x7F-\\x9F]', '', 'g') "
        "ELSE regexp_replace(regexp_replace(trim(text), "
        "'[\\x00-\\x1F\\x7F-\\x9F]', '', 'g'), '\\s+', ' ', 'g') END AS "
        "normalized FROM documents"
    )
    lang_cases = " ".join(
        f"WHEN lang = '{c}' THEN '{n}'"
        for c, n in [
            ("en", "English"), ("pt", "Portuguese"), ("es", "Spanish"),
            ("fr", "French"), ("de", "German"), ("it", "Italian"),
            ("nl", "Dutch"), ("ru", "Russian"), ("zh", "Chinese"),
            ("ja", "Japanese"), ("ko", "Korean"), ("ar", "Arabic"),
            ("hi", "Hindi"), ("unknown", "Unknown"),
        ]
    )
    sql["lang_name"] = (
        f"SELECT doc_id, CASE {lang_cases} ELSE lang END AS lang_name "
        "FROM documents"
    )
    sql["token_count"] = (
        "SELECT doc_id, CASE WHEN text IS NULL OR trim(text) = '' THEN 0 "
        f"ELSE len({_TOKS}) END AS n_tokens FROM documents"
    )
    from pdf_extractor_spark.operators.textstats import BPE_TOKEN_RE

    bpe_re_sql = f"({BPE_TOKEN_RE})".replace("'", "''")
    sql["bpe_token_count"] = (
        "SELECT doc_id, CASE WHEN text IS NULL THEN 0 ELSE "
        f"len(list_filter(regexp_extract_all(text, '{bpe_re_sql}', 1), "
        "t -> NOT regexp_matches(t, '^\\s+$'))) END AS n_bpe FROM documents"
    )
    sql["quality_score"] = f"""
WITH base AS (
  SELECT doc_id,
    CASE WHEN text IS NULL OR trim(text) = '' THEN 0
         ELSE len({_TOKS}) END AS n_tok,
    CASE WHEN text IS NULL OR trim(text) = '' THEN 0
         ELSE len(list_filter({_LTOKS}, t -> list_contains({_EN_STOP}, t)))
    END AS sw_hits,
    CASE WHEN text IS NULL OR trim(text) = '' THEN 0
         ELSE list_sum(list_transform({_TOKS}, t -> length(t))) END AS tok_chars,
    coalesce(length(text), 0) AS n_chars,
    coalesce(length(regexp_replace(text, '[^.!?,;:]', '', 'g')), 0) AS n_punct,
    coalesce(length(regexp_replace(text, '[^0-9]', '', 'g')), 0) AS n_digit
  FROM documents
), m AS (
  SELECT doc_id,
    CASE WHEN n_tok >= 20 THEN 1.0 ELSE n_tok / 20.0 END AS len_band,
    least((CASE WHEN n_tok > 0 THEN sw_hits * 1.0 / n_tok ELSE 0.0 END) * 4,
          1.0) AS sw_band,
    CASE WHEN n_tok > 0 AND tok_chars * 1.0 / n_tok BETWEEN 3 AND 10
         THEN 1.0 ELSE 0.5 END AS wl_band,
    least((CASE WHEN n_chars > 0 THEN n_punct * 1.0 / n_chars ELSE 0.0 END) * 5
        + (CASE WHEN n_chars > 0 THEN n_digit * 1.0 / n_chars ELSE 0.0 END) * 2,
          1.0) AS noise
  FROM base
)
SELECT doc_id, round(0.35 * len_band + 0.30 * sw_band + 0.20 * wl_band
                     + 0.15 * (1 - noise), 6) AS quality FROM m
"""
    lang_folds_type = "'unknown'"
    lang_folds_score = "0"
    from pdf_extractor_spark.operators.textstats import LANG_MARKERS

    for code, markers in LANG_MARKERS:
        marker_list = "[" + ",".join(f"'{m}'" for m in markers) + "]"
        hits = (
            f"(CASE WHEN text IS NULL OR trim(text) = '' THEN 0 ELSE "
            f"len(list_filter({_LTOKS}, t -> list_contains({marker_list}, t))) END)"
        )
        lang_folds_type = (
            f"CASE WHEN {hits} > {lang_folds_score} THEN '{code}' "
            f"ELSE {lang_folds_type} END"
        )
        lang_folds_score = (
            f"CASE WHEN {hits} > {lang_folds_score} THEN {hits} "
            f"ELSE {lang_folds_score} END"
        )
    sql["lang_id"] = (
        f"SELECT doc_id, {lang_folds_type} AS lang_pred FROM documents"
    )
    sql["fingerprint"] = f"""
SELECT doc_id,
  CAST(CASE WHEN text IS NULL OR trim(text) = '' THEN 0 ELSE coalesce((
    SELECT sum(((ord % 1000003) *
                ((length(tok) * 131 + ascii(substr(tok, 1, 1))) % 1000003))
               % 1000003) % 1000003
    FROM (SELECT unnest({_TOKS}) AS tok, generate_subscripts({_TOKS}, 1) AS ord)
  ), 0) END AS BIGINT) AS fp
FROM documents
"""
    # repetition_stats: Gopher-style repetition signals; the per-doc bigram
    # mode mirrors Spark's O(k^2) array expression exactly (same integer
    # counts -> identical doubles -> identical rounding)
    sql["repetition_stats"] = f"""
WITH t AS (
  SELECT doc_id,
         CASE WHEN text IS NULL OR trim(text) = ''
              THEN CAST([] AS VARCHAR[]) ELSE {_LTOKS} END AS toks
  FROM documents),
b AS (
  SELECT doc_id, toks,
         CASE WHEN len(toks) >= 2
              THEN [toks[i] || ' ' || toks[i+1] for i in range(1, len(toks))]
              ELSE CAST([] AS VARCHAR[]) END AS bg
  FROM t)
SELECT doc_id,
  round(CASE WHEN len(toks) > 0
        THEN 1 - len(list_distinct(toks)) * 1.0 / len(toks)
        ELSE 0 END, 6) AS dup_unigram_frac,
  round(CASE WHEN len(bg) > 0
        THEN list_max(list_transform(bg,
               x -> len(list_filter(bg, y -> y = x)))) * 1.0 / len(bg)
        ELSE 0 END, 6) AS top_bigram_share
FROM b
"""
    # tfidf_top_terms: linear-idf tf-idf keyword extraction (score =
    # tf * N / df, exact in float64 -> cross-engine rank parity)
    sql["tfidf_top_terms"] = f"""
WITH nn AS (SELECT count(*) AS n FROM documents),
terms AS (
  SELECT doc_id, unnest({_LTOKS}) AS term FROM documents
  WHERE text IS NOT NULL AND trim(text) <> ''),
tf AS (SELECT doc_id, term, count(*) AS tf FROM terms GROUP BY 1, 2),
dfreq AS (SELECT term, count(DISTINCT doc_id) AS df FROM terms GROUP BY 1),
scored AS (
  SELECT doc_id, term,
         round(tf * (SELECT n FROM nn) * 1.0 / df, 6) AS score
  FROM tf JOIN dfreq USING (term)),
ranked AS (
  SELECT doc_id, term, score,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY score DESC, term) AS rank
  FROM scored)
SELECT doc_id, term, score, rank FROM ranked WHERE rank <= 3
"""
    # bm25_topk: rational (log-free) Robertson idf and a term-ordered
    # sequential fold of the per-term scores — every float op is the same
    # IEEE dag in the same order as the Spark side, so scores are
    # bit-identical; ranking orders by the ROUNDED score (window on the
    # 6-dp alias) with doc_id tiebreak
    sql["bm25_topk"] = f"""
WITH q(query_id, qtext) AS (VALUES
  ('q1', 'spark table scan'),
  ('q2', 'hash join merge'),
  ('q3', 'window order data')),
qt AS (SELECT DISTINCT query_id,
         unnest(regexp_split_to_array(lower(trim(qtext)), '\\s+')) AS term
       FROM q),
base AS (
  SELECT doc_id,
         CASE WHEN text IS NULL OR trim(text) = ''
              THEN CAST([] AS VARCHAR[]) ELSE {_LTOKS} END AS toks
  FROM documents),
stats AS (SELECT count(*) AS n_docs, sum(len(toks)) AS total_dl FROM base),
words AS (SELECT doc_id AS id, len(toks) AS dl, unnest(toks) AS term
          FROM base),
tf AS (SELECT id, term, count(*) AS tf, max(dl) AS dl
       FROM words JOIN (SELECT DISTINCT term FROM qt) USING (term)
       GROUP BY 1, 2),
dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
per AS (
  SELECT query_id, id, term,
         ((n_docs - df + 0.5) / (df + 0.5))
         * ((tf * (1.2 + 1.0))
            / (tf + 1.2 * ((1.0 - 0.75)
                           + 0.75 * dl
                             / (CAST(total_dl AS DOUBLE) / n_docs)))) AS s
  FROM tf JOIN dfreq USING (term) JOIN qt USING (term) CROSS JOIN stats),
summed AS (
  SELECT query_id, id,
         round(list_reduce(list_prepend(0.0, list(s ORDER BY term)),
                           (acc, x) -> acc + x), 6) AS score
  FROM per GROUP BY 1, 2),
ranked AS (
  SELECT query_id, id, score,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY score DESC, id) AS rank
  FROM summed)
SELECT query_id, id AS doc_id, score, rank FROM ranked WHERE rank <= 10
"""
    sql["exact_dedup"] = (
        "SELECT md5(text) AS digest, min(doc_id) AS canonical_id, "
        "count(*) AS n_dups FROM documents GROUP BY 1"
    )
    # winnow_fingerprints: k=5 token grams, window w=4 minima, distinct.
    # Gram count = n-4 (i in 1..n-4); window count = grams-3 (j in
    # 1..grams-3); DuckDB range() upper bound is exclusive.
    sql["winnow_fingerprints"] = f"""
WITH tok AS (SELECT doc_id, {_LTOKS} AS toks FROM documents
             WHERE text IS NOT NULL AND trim(text) <> ''),
g AS (
  SELECT doc_id,
    [CAST('0x' || substr(md5(array_to_string(toks[i : i+4], ' ')), 1, 15)
          AS BIGINT) for i in range(1, len(toks) - 3)] AS grams
  FROM tok WHERE len(toks) >= 5),
m AS (
  SELECT doc_id,
         CASE WHEN len(grams) < 4 THEN [list_min(grams)]
              ELSE [list_min(grams[j : j+3])
                    for j in range(1, len(grams) - 2)] END AS minima
  FROM g)
SELECT doc_id, unnest(list_distinct(minima)) AS fingerprint FROM m
"""
    # winnow_pairs: self-join of the winnowed index (same CTE), >= 2
    # shared fingerprints, hot fingerprints (> 1000 docs) dropped.
    sql["winnow_pairs"] = f"""
WITH tok AS (SELECT doc_id, {_LTOKS} AS toks FROM documents
             WHERE text IS NOT NULL AND trim(text) <> ''),
g AS (
  SELECT doc_id,
    [CAST('0x' || substr(md5(array_to_string(toks[i : i+4], ' ')), 1, 15)
          AS BIGINT) for i in range(1, len(toks) - 3)] AS grams
  FROM tok WHERE len(toks) >= 5),
m AS (
  SELECT doc_id,
         CASE WHEN len(grams) < 4 THEN [list_min(grams)]
              ELSE [list_min(grams[j : j+3])
                    for j in range(1, len(grams) - 2)] END AS minima
  FROM g),
fp AS (SELECT doc_id, unnest(list_distinct(minima)) AS fingerprint FROM m),
ok AS (
  SELECT * FROM fp WHERE fingerprint NOT IN (
    SELECT fingerprint FROM fp GROUP BY 1 HAVING count(*) > 1000))
SELECT l.doc_id AS id1, r.doc_id AS id2,
       CAST(count(*) AS BIGINT) AS n_shared
FROM ok l JOIN ok r
  ON l.fingerprint = r.fingerprint AND l.doc_id < r.doc_id
GROUP BY 1, 2 HAVING count(*) >= 2
"""
    sql["ngram_jaccard"] = f"""
WITH tok AS (SELECT doc_id, {_LTOKS} AS toks FROM documents),
sh AS (
  SELECT doc_id, unnest(list_distinct(
    [toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
     for i in range(1, len(toks) - 1)])) AS s
  FROM tok WHERE len(toks) >= 3),
cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
hot AS (SELECT s FROM sh GROUP BY s HAVING count(*) > 1000),
sh2 AS (SELECT * FROM sh WHERE s NOT IN (SELECT s FROM hot)),
inter AS (
  SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS inter
  FROM sh2 a JOIN sh2 b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2)
SELECT id1, id2,
       round(inter * 1.0 / (ca.n + cb.n - inter), 6) AS jaccard
FROM inter JOIN cnt ca ON id1 = ca.doc_id JOIN cnt cb ON id2 = cb.doc_id
WHERE inter * 1.0 / (ca.n + cb.n - inter) >= 0.8
"""
    cos_eq = _sql_cosine("e.embedding", "q.qv")
    # hard_negatives: same top-k shape, label-exclusion predicate on the
    # corpus side (NULL labels excluded — unknowns aren't negatives).
    sql["hard_negatives"] = f"""
WITH q AS (SELECT vec_id AS query_id, label AS qlabel, embedding AS qv
           FROM embeddings WHERE vec_id < 5),
scored AS (
  SELECT q.query_id, e.vec_id AS id,
         {cos_eq} AS cosine,
         row_number() OVER (PARTITION BY q.query_id ORDER BY
           {cos_eq} DESC, e.vec_id) AS rank
  FROM embeddings e, q
  WHERE e.label IS NOT NULL AND e.label IS DISTINCT FROM q.qlabel)
SELECT query_id, id, cosine, rank FROM scored WHERE rank <= 10
"""
    # bitext_mine: margin-based mining for the (label 0, label 1) pair —
    # cosines scaled to e4 ints, top-4 means kept as (sum,count), the
    # CCMatrix ratio margin as ONE integer division (// floors, Spark's
    # div truncates: the sign guard pins both to the non-negative branch
    # where they agree).
    sql["bitext_mine"] = """
WITH v AS (SELECT vec_id, embedding, label FROM embeddings
           WHERE embedding IS NOT NULL AND len(embedding) > 0
             AND label IS NOT NULL),
s AS (SELECT vec_id, embedding FROM v WHERE label = 0
      AND sqrt(list_dot_product(embedding, embedding)) > 0),
t AS (SELECT vec_id, embedding FROM v WHERE label = 1
      AND sqrt(list_dot_product(embedding, embedding)) > 0),
sc AS (
  SELECT s.vec_id AS src, t.vec_id AS tgt,
         CAST(round(10000 * list_dot_product(s.embedding, t.embedding) /
           (sqrt(list_dot_product(s.embedding, s.embedding)) *
            sqrt(list_dot_product(t.embedding, t.embedding)))) AS INT) AS c
  FROM s, t),
ra AS (SELECT src, tgt, c,
              row_number() OVER (PARTITION BY src ORDER BY c DESC, tgt) AS r
       FROM sc),
ka AS (SELECT src, sum(c) AS axsum, count(*) AS na,
              max(struct_pack(is1 := CAST(r = 1 AS INT), c := c,
                              tgt := tgt)) AS best
       FROM ra WHERE r <= 4 GROUP BY 1),
rb AS (SELECT src, tgt, c,
              row_number() OVER (PARTITION BY tgt ORDER BY c DESC, src) AS r
       FROM sc),
kb AS (SELECT tgt, sum(c) AS aysum, count(*) AS nb
       FROM rb WHERE r <= 4 GROUP BY 1),
m AS (
  SELECT ka.src AS src_id, ka.best.tgt AS tgt_id,
         CAST(ka.best.c AS INT) AS cos_e4,
         CASE WHEN (axsum * nb + aysum * na) > 0 AND ka.best.c >= 0
              THEN (2 * CAST(ka.best.c AS BIGINT) * na * nb * 10000)
                   // (axsum * nb + aysum * na)
         END AS margin_e4
  FROM ka JOIN kb ON kb.tgt = ka.best.tgt)
SELECT src_id, tgt_id, cos_e4, CAST(margin_e4 AS BIGINT) AS margin_e4,
       coalesce(margin_e4 >= 11500, false) AS accepted
FROM m
"""
    # ocr_garble_score: poisoned-text synthesis + integer damage counts
    # (no float columns at all); DuckDB regexp_replace needs the 'g' flag
    # to match Spark's replace-all.
    sql["ocr_garble_score"] = """
WITH synth AS (
  SELECT doc_id,
         coalesce(text, '')
         || CASE WHEN doc_id % 13 = 0 THEN ' tkqzxwfgbcdp noise'
                 ELSE '' END
         || CASE WHEN doc_id % 17 = 3
                 THEN ' @@##$$%%^^&&**scan**&&^^%%$$##@@'
                 ELSE '' END AS text
  FROM documents),
m AS (
  SELECT doc_id, lower(text) AS low FROM synth),
c AS (
  SELECT doc_id,
         CAST(length(low) AS BIGINT) AS n_chars,
         CAST(length(low) - length(regexp_replace(low, '[a-z]', '', 'g'))
              AS BIGINT) AS n_letters,
         CAST(length(low) - length(regexp_replace(low, '[aeiouy]', '', 'g'))
              AS BIGINT) AS n_vowels,
         CAST(length(regexp_replace(low, '[a-z0-9\\s.,;:''-]', '', 'g'))
              AS BIGINT) AS n_sym,
         CAST(coalesce(list_max(list_transform(
                regexp_split_to_array(low, '[^bcdfghjklmnpqrstvwxz]+'),
                x -> length(x))), 0) AS BIGINT) AS max_consonant_run
  FROM m)
SELECT doc_id, n_chars, n_letters, n_vowels, n_sym, max_consonant_run,
       ((n_chars > 0 AND n_sym * 10 > n_chars * 3)
        OR max_consonant_run >= 8
        OR (n_letters >= 20 AND n_vowels * 100 < n_letters * 15))
         AS garbled
FROM c
"""
    # script_mix: same per-range char counts (RE2 \\x{{hhhh}} escapes ==
    # Java's) over the mixed-script synthesis; dominant is the same
    # fixed-order strictly-greater fold.
    _scripts = [
        ("latin", "[A-Za-z]"),
        ("han", "[\\x{4e00}-\\x{9fff}]"),
        ("cyrillic", "[\\x{0400}-\\x{04ff}]"),
        ("arabic", "[\\x{0600}-\\x{06ff}]"),
        ("greek", "[\\x{0370}-\\x{03ff}]"),
        ("digit", "[0-9]"),
    ]
    _cnt_cols = ", ".join(
        f"CAST(length(t) - length(regexp_replace(t, '{pat}', '', 'g')) "
        f"AS BIGINT) AS n_{name}"
        for name, pat in _scripts
    )
    # unroll the fold: dominant = first class strictly greater than every
    # earlier winner — same as nested CASE comparing to the running max
    _dom_expr = "'none'"
    _best_expr = "CAST(0 AS BIGINT)"
    for name, _pat in _scripts:
        _dom_expr = (
            f"CASE WHEN n_{name} > {_best_expr} THEN '{name}' "
            f"ELSE {_dom_expr} END"
        )
        _best_expr = (
            f"CASE WHEN n_{name} > {_best_expr} THEN n_{name} "
            f"ELSE {_best_expr} END"
        )
    sql["script_mix"] = f"""
WITH synth AS (
  SELECT doc_id,
         coalesce(text, '')
         || CASE doc_id % 5
              WHEN 1 THEN ' 中文资料处理系统测试数据'
              WHEN 2 THEN ' русский текст для проверки'
              WHEN 3 THEN ' نص عربي للاختبار هنا'
              WHEN 4 THEN ' ελληνικό κείμενο δοκιμής'
              ELSE '' END AS t
  FROM documents),
c AS (SELECT doc_id, {_cnt_cols} FROM synth)
SELECT doc_id, n_latin, n_han, n_cyrillic, n_arabic, n_greek, n_digit,
       {_dom_expr} AS dominant_script
FROM c
"""
    sql["cosine_topk"] = f"""
WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings
           WHERE vec_id < 5),
scored AS (
  SELECT q.query_id, e.vec_id AS id,
         {cos_eq} AS cosine,
         row_number() OVER (PARTITION BY q.query_id ORDER BY
           {cos_eq} DESC, e.vec_id) AS rank
  FROM embeddings e, q)
SELECT query_id, id, cosine, rank FROM scored WHERE rank <= 10
"""
    # embedding_neardup: exact SQL replication of the Spark plan — the same
    # deterministic near-dup augmentation, the same md5-seeded Rademacher
    # hyperplane buckets (similarity._hyperplanes), the same verify-on-
    # candidates cosine. Round 1's label-blocked variant compared 0 == 0
    # rows (no natural near-dups in the testdata); this one compares ~n
    # seeded pairs.
    sql["embedding_neardup"] = f"""
WITH aug AS (
  SELECT vec_id, embedding FROM embeddings
  UNION ALL
  SELECT vec_id + 1000000 AS vec_id,
         list_transform(embedding, (x, i) -> CASE WHEN i - 1 = vec_id % 64
             THEN CAST(0.0 AS FLOAT) ELSE x END) AS embedding
  FROM embeddings),
{_planes_cte(64, 8, 2, 42)},
{_lsh_bucket_cte('a', 'aug', 'vec_id', 'embedding')},
cand AS (
  SELECT DISTINCT x.id AS id1, y.id AS id2
  FROM abuck x JOIN abuck y
    ON x.tbl = y.tbl AND x.bucket = y.bucket AND x.id < y.id),
scored AS (
  SELECT id1, id2,
         {_sql_cosine('e1.embedding', 'e2.embedding')} AS cosine
  FROM cand JOIN aug e1 ON e1.vec_id = id1 JOIN aug e2 ON e2.vec_id = id2)
SELECT id1, id2, cosine FROM scored WHERE cosine >= 0.95
"""
    def _mod11_sql(digits_expr: str, weights: list[int]) -> str:
        total = " + ".join(
            f"CAST(substr({digits_expr},{i+1},1) AS INT)*{w}"
            for i, w in enumerate(weights)
        )
        return (f"(CASE WHEN (({total}) % 11) < 2 THEN 0 "
                f"ELSE 11 - (({total}) % 11) END)")

    cpf_dig1 = _mod11_sql("cd", [10 - i for i in range(9)])
    cpf_dig2 = _mod11_sql("cd", [11 - i for i in range(10)])
    date_ok = (
        "COALESCE(try_strptime(value,'%Y-%m-%d'), try_strptime(value,'%d/%m/%Y'), "
        "try_strptime(value,'%m/%d/%Y'), try_strptime(value,'%d-%m-%Y')) IS NOT NULL"
    )
    sql["span_validations"] = f"""
WITH base AS (
  SELECT doc_id, lpad(CAST(doc_id*37 AS VARCHAR), 11, '3') AS cd FROM documents
),
email AS (
  SELECT CAST(doc_id AS VARCHAR) AS doc_id, 0 AS "offset", 0 AS "order",
    'email' AS field,
    'user' || CAST(doc_id AS VARCHAR) || '@ex' || CAST(doc_id % 7 AS VARCHAR)
      || '.com' AS value,
    TRUE AS valid, CAST(NULL AS VARCHAR) AS error
  FROM base
),
cpf AS (
  SELECT CAST(doc_id AS VARCHAR) AS doc_id, 1 AS "offset", 1 AS "order",
    'cpf' AS field,
    substr(cd,1,3)||'.'||substr(cd,4,3)||'.'||substr(cd,7,3)||'-'||substr(cd,10,2)
      AS value,
    (length(replace(cd, substr(cd,1,1), '')) > 0
     AND {cpf_dig1} = CAST(substr(cd,10,1) AS INT)
     AND {cpf_dig2} = CAST(substr(cd,11,1) AS INT)) AS valid,
    CAST(NULL AS VARCHAR) AS error
  FROM base
),
dt AS (
  SELECT CAST(doc_id AS VARCHAR) AS doc_id, 2 AS "offset", 2 AS "order",
    'date' AS field,
    CAST(doc_id % 35 AS VARCHAR) || '/' || CAST(doc_id % 15 AS VARCHAR)
      || '/2024' AS value,
    FALSE AS valid, CAST(NULL AS VARCHAR) AS error
  FROM base
)
SELECT doc_id, "offset", "order", field, value, valid,
  CASE WHEN valid THEN NULL
       WHEN field = 'cpf' THEN 'CPF inválido'
       WHEN field = 'date' THEN 'Formato de data não reconhecido' END AS error
FROM (
  SELECT * FROM email
  UNION ALL SELECT * FROM cpf
  UNION ALL
  SELECT doc_id, "offset", "order", field, value, {date_ok} AS valid, error
  FROM dt
)
"""
    sql["avg_time_tiers"] = """
WITH a AS (SELECT avg(value) AS av FROM events)
SELECT
  CASE WHEN av/1000000 < 1 THEN CAST(CAST(round(av/1000000*1000, 0) AS BIGINT)
    AS VARCHAR) || 'ms' END AS tier_ms,
  CASE WHEN (av % 59.0) + 0.5 < 1 THEN CAST(CAST(round(((av % 59.0)+0.5)*1000, 0)
    AS BIGINT) AS VARCHAR) || 'ms'
  WHEN (av % 59.0) + 0.5 < 60 THEN CAST(round((av % 59.0)+0.5, 1) AS VARCHAR)
    || 's' END AS tier_s,
  CAST(round((av+60)/60, 1) AS VARCHAR) || 'min' AS tier_min,
  '-' AS tier_empty
FROM a
"""
    sql["auto_repair"] = """
WITH raw AS (
  SELECT doc_id,
    'id-' || lpad(CAST(doc_id AS VARCHAR), 11, '7') AS cpf_raw,
    'User ' || CAST(doc_id AS VARCHAR) AS email_raw,
    CAST(doc_id % 28 + 1 AS VARCHAR) || '-' || CAST(doc_id % 12 + 1 AS VARCHAR)
      || '-' || CAST(doc_id % 100 AS VARCHAR) AS date_raw,
    CAST(doc_id % 1000 AS VARCHAR) || ',' ||
      lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0') AS num_raw
  FROM documents
), d AS (
  SELECT doc_id, regexp_replace(cpf_raw, '[^0-9]', '', 'g') AS cpf_d,
         email_raw, regexp_extract_all(date_raw, '(\\d+)', 1) AS dg, num_raw
  FROM raw
)
SELECT doc_id,
  CASE WHEN length(cpf_d) = 11 THEN substr(cpf_d,1,3) || '.' ||
    substr(cpf_d,4,3) || '.' || substr(cpf_d,7,3) || '-' || substr(cpf_d,10,2)
  END AS fixed_cpf,
  replace(lower(email_raw), ' ', '') || '@example.com' AS fixed_email,
  CASE WHEN len(dg) >= 3 THEN lpad(dg[1],2,'0') || '/' || lpad(dg[2],2,'0')
    || '/' || (CASE WHEN length(dg[3]) = 2 THEN '20' || dg[3] ELSE dg[3] END)
  END AS fixed_date,
  CAST(CAST(replace(num_raw, ',', '.') AS DOUBLE) AS VARCHAR) AS fixed_number,
  '0.0' AS fixed_required
FROM d
"""
    sql["table_match"] = f"""
WITH toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
tables AS (
  SELECT doc_id, 1 AS table_id, t[1:3] AS headers FROM toks WHERE len(t) >= 3
  UNION ALL
  SELECT doc_id, 2 AS table_id, t[4:6] AS headers FROM toks WHERE len(t) >= 6
), hits AS (
  SELECT doc_id, table_id, headers,
         row_number() OVER (PARTITION BY doc_id ORDER BY table_id) AS rn
  FROM tables
  WHERE len(list_intersect(list_transform(headers, h -> upper(h)),
                           ['SPARK','JOIN','VECTOR'])) > 0
)
SELECT doc_id, table_id, array_to_string(headers, ',') AS headers
FROM hits WHERE rn = 1
"""
    sql["frame_sample"] = """
SELECT 'media-' || CAST(doc_id AS VARCHAR) AS media_id,
       unnest(range(0, greatest(length(text) % 100 + 1 - 1, 0) + 1, 10))
         AS frame_idx
FROM documents WHERE doc_id % 3 = 2
"""
    # page_filter: pages='0,2' over the deterministic 5-page/2-media span
    # layout -> kept spans = (page0 text + its media) while text non-empty,
    # plus (page2 text + its media) while length > 80; kept_text is the
    # concatenation of the surviving 40-char text windows.
    # text_tables: same pipe-table synthesis, then islands over line
    # numbers (contiguous ' | ' lines = one table), dense_rank for
    # table_idx, per-island row_number for row_idx, second split for
    # cells. generate_subscripts gives the 1-based line/cell positions.
    sql["text_tables"] = """
WITH aug AS (
  SELECT doc_id,
         text
         || CASE WHEN doc_id % 4 = 1 THEN
              chr(10) || 'name | qty | price'
              || chr(10) || 'item0 | ' || CAST(doc_id % 10 AS VARCHAR)
                 || ' | ' || CAST(doc_id % 97 AS VARCHAR)
              || chr(10) || 'item1 | ' || CAST(doc_id % 10 + 1 AS VARCHAR)
                 || ' | ' || CAST((doc_id * 2) % 97 AS VARCHAR)
              || CASE WHEN doc_id % 3 >= 1 THEN
                   chr(10) || 'item2 | ' || CAST(doc_id % 10 + 2 AS VARCHAR)
                   || ' | ' || CAST((doc_id * 3) % 97 AS VARCHAR)
                 ELSE '' END
              || CASE WHEN doc_id % 3 >= 2 THEN
                   chr(10) || 'item3 | ' || CAST(doc_id % 10 + 3 AS VARCHAR)
                   || ' | ' || CAST((doc_id * 4) % 97 AS VARCHAR)
                 ELSE '' END
            ELSE '' END
         || CASE WHEN doc_id % 8 = 5 THEN
              chr(10) || '--' || chr(10) || 'x | y' || chr(10) || '1 | 2'
            ELSE '' END AS text
  FROM documents),
lines AS (
  SELECT doc_id,
         generate_subscripts(string_split(text, chr(10)), 1) AS line_no,
         unnest(string_split(text, chr(10))) AS line
  FROM aug),
tl AS (
  SELECT doc_id, line_no, line,
         line_no - row_number() OVER (PARTITION BY doc_id
                                      ORDER BY line_no) AS grp
  FROM lines WHERE contains(line, ' | ')),
rows_ AS (
  SELECT doc_id,
         CAST(dense_rank() OVER (PARTITION BY doc_id ORDER BY grp) - 1
              AS INT) AS table_idx,
         CAST(row_number() OVER (PARTITION BY doc_id, grp
                                 ORDER BY line_no) - 1 AS INT) AS row_idx,
         line
  FROM tl)
SELECT doc_id, table_idx, row_idx,
       CAST(generate_subscripts(string_split(line, ' | '), 1) - 1
            AS INT) AS col_idx,
       trim(unnest(string_split(line, ' | '))) AS cell
FROM rows_
"""
    # span_regression: both runs' span arrays canonicalized to
    # kind|text|media_ref strings (chr(1) null sentinel), elementwise
    # IS DISTINCT FROM over the padded index range — mirrors span_diff's
    # zip_with + eqNullSafe exactly (out-of-range subscript = NULL = the
    # zip_with pad).
    _sr_t1a = "'text|' || substr(text, 41, 40) || '|' || chr(1)"
    _sr_t1b = (
        "'text|' || substr(text, 41, 40) || "
        "(CASE WHEN doc_id % 7 = 0 THEN '!' ELSE '' END) || '|' || chr(1)"
    )

    def _sr_list(t1: str, drop_m1: bool) -> str:
        m1 = "length(text) > 80"
        if drop_m1:
            m1 += " AND NOT (doc_id % 11 = 3)"
        return (
            "CASE WHEN length(text) > 0 THEN "
            "['text|' || substr(text, 1, 40) || '|' || chr(1)] "
            "ELSE [] END "
            "|| CASE WHEN length(text) > 0 THEN "
            "['image|' || chr(1) || '|m0'] ELSE [] END "
            f"|| CASE WHEN length(text) > 40 THEN [{t1}] ELSE [] END "
            "|| CASE WHEN length(text) > 80 THEN "
            "['text|' || substr(text, 81, 40) || '|' || chr(1)] "
            "ELSE [] END "
            f"|| CASE WHEN {m1} THEN ['image|' || chr(1) || '|m1'] "
            "ELSE [] END "
            "|| CASE WHEN length(text) > 120 THEN "
            "['text|' || substr(text, 121, 40) || '|' || chr(1)] "
            "ELSE [] END "
            "|| CASE WHEN length(text) > 160 THEN "
            "['text|' || substr(text, 161, 40) || '|' || chr(1)] "
            "ELSE [] END"
        )

    sql["span_regression"] = f"""
WITH runs AS (
  SELECT CAST(doc_id AS VARCHAR) AS doc_id,
         {_sr_list(_sr_t1a, False)} AS la,
         {_sr_list(_sr_t1b, True)} AS lb
  FROM documents),
d AS (
  SELECT doc_id, la, lb,
         coalesce(list_position(
           list_transform(
             range(1, CAST(greatest(len(la), len(lb)) AS BIGINT) + 1),
             i -> la[CAST(i AS INT)] IS DISTINCT FROM lb[CAST(i AS INT)]),
           true), 0) AS fd
  FROM runs)
SELECT doc_id, true AS in_a, true AS in_b,
       CAST(len(la) AS INT) AS n_a, CAST(len(lb) AS INT) AS n_b,
       fd = 0 AS equal, CAST(nullif(fd, 0) AS INT) AS first_diff
FROM d
"""
    sql["page_filter"] = (
        "SELECT CAST(doc_id AS VARCHAR) AS doc_id, "
        "(CASE WHEN length(text) > 0 THEN 2 ELSE 0 END + "
        " CASE WHEN length(text) > 80 THEN 2 ELSE 0 END) AS n_kept, "
        "concat(coalesce(substr(text, 1, 40), ''), "
        "       coalesce(substr(text, 81, 40), '')) AS kept_text "
        "FROM documents"
    )
    sql["media_resize"] = (
        "SELECT 'media-' || CAST(doc_id AS VARCHAR) AS media_id, "
        "224 AS width, 224 AS height, 16000 AS sample_rate, "
        "(length(text) % 100 + 1) AS n_frames, "
        "CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes "
        "FROM documents WHERE doc_id % 3 = 0"
    )
    # media_captions: independent window-logic reimplementation — the
    # same interleaved synthesis, then IGNORE NULLS carries in SQL.
    # multimodal_pack: identical cost arithmetic (ws tokens of the two
    # halves + 64 per media span, media count = doc_id%3 + 1), identical
    # md5 shard, identical greedy cumulative cut.
    sql["multimodal_pack"] = """
WITH base AS (
  SELECT doc_id, coalesce(text, '') AS t,
         length(coalesce(text, '')) AS n
  FROM documents),
costs AS (
  SELECT doc_id,
    CAST(
      CASE WHEN trim(substr(t, 1, CAST(n // 2 AS INT))) = '' THEN 0
           ELSE len(regexp_split_to_array(
                trim(substr(t, 1, CAST(n // 2 AS INT))), '\\s+')) END
    + CASE WHEN trim(substr(t, CAST(n // 2 AS INT) + 1, n)) = '' THEN 0
           ELSE len(regexp_split_to_array(
                trim(substr(t, CAST(n // 2 AS INT) + 1, n)), '\\s+')) END
    + (doc_id % 3 + 1) * 64 AS BIGINT) AS mm_cost,
    CAST(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT)
         % 8 AS INT) AS shard
  FROM base),
c AS (
  SELECT *, sum(mm_cost) OVER (PARTITION BY shard ORDER BY doc_id
           ROWS UNBOUNDED PRECEDING) - mm_cost AS cum_before
  FROM costs)
SELECT shard, CAST(floor(cum_before / 2048.0) AS BIGINT) AS pack_id,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(mm_cost) AS BIGINT) AS pack_cost,
       CAST(min(doc_id) AS BIGINT) AS first_doc
FROM c GROUP BY 1, 2"""
    sql["media_captions"] = """
WITH base AS (
  SELECT doc_id, coalesce(text, '') AS t,
         length(coalesce(text, '')) AS n
  FROM documents),
halves AS (
  SELECT doc_id,
         substr(t, 1, CAST(n // 2 AS INT)) AS t1,
         substr(t, CAST(n // 2 AS INT) + 1, n) AS t2
  FROM base),
spans AS (
  SELECT doc_id, 'media' AS kind, NULL AS text,
         'a-' || doc_id AS media_ref, 0 AS off FROM halves
  UNION ALL SELECT doc_id, 'text', t1, NULL, 1 FROM halves
  UNION ALL SELECT doc_id, 'media', NULL, 'b-' || doc_id, 2 FROM halves
  UNION ALL SELECT doc_id, 'text', t2, NULL, 3 FROM halves
  UNION ALL SELECT doc_id, 'media', NULL, 'c-' || doc_id, 4 FROM halves),
car AS (
  SELECT *,
    last_value(CASE WHEN kind = 'text' THEN off END IGNORE NULLS)
      OVER (PARTITION BY doc_id ORDER BY off
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_off,
    last_value(CASE WHEN kind = 'text' THEN text END IGNORE NULLS)
      OVER (PARTITION BY doc_id ORDER BY off
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_txt,
    first_value(CASE WHEN kind = 'text' THEN off END IGNORE NULLS)
      OVER (PARTITION BY doc_id ORDER BY off
            ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS next_off,
    first_value(CASE WHEN kind = 'text' THEN text END IGNORE NULLS)
      OVER (PARTITION BY doc_id ORDER BY off
            ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS next_txt
  FROM spans),
picked AS (
  SELECT *,
    next_off IS NOT NULL AND (prev_off IS NULL
      OR next_off - off <= off - prev_off) AS take_next
  FROM car WHERE kind = 'media')
SELECT doc_id, media_ref, CAST(off AS INT) AS media_offset,
  CAST(CASE WHEN take_next THEN next_off ELSE prev_off END AS INT)
    AS caption_offset,
  CASE WHEN take_next THEN next_txt ELSE prev_txt END AS caption,
  CASE WHEN take_next THEN 'next'
       WHEN prev_off IS NOT NULL THEN 'prev' END AS caption_side
FROM picked
"""
    sql["media_meta"] = (
        "SELECT 'media-' || CAST(doc_id AS VARCHAR) AS media_id, "
        "CASE WHEN doc_id % 3 = 0 THEN 'image' WHEN doc_id % 3 = 1 THEN "
        "'audio' ELSE 'video' END AS kind, "
        "octet_length(encode(text)) AS n_bytes, "
        "(length(text) % 640 + 1) AS width, (length(text) % 480 + 1) AS height "
        "FROM documents"
    )
    # media_dedup: rebuild the seeded-duplicate media corpus (every 5th
    # item exists twice), then group by content digest. DuckDB md5 of the
    # source text == Spark md5 of its utf-8 payload bytes.
    _media_kind = (
        "CASE WHEN doc_id % 3 = 0 THEN 'image' WHEN doc_id % 3 = 1 THEN "
        "'audio' ELSE 'video' END"
    )
    sql["media_dedup"] = f"""
WITH m AS (
  SELECT 'media-' || CAST(doc_id AS VARCHAR) AS media_id,
         {_media_kind} AS kind, text AS payload
  FROM documents
  UNION ALL
  SELECT 'copy-media-' || CAST(doc_id AS VARCHAR) AS media_id,
         {_media_kind} AS kind, text AS payload
  FROM documents WHERE doc_id % 5 = 0)
SELECT md5(payload) AS digest,
       CAST(count(*) AS BIGINT) AS n_copies,
       min(media_id) AS first_media_id,
       array_to_string(list_sort(list(DISTINCT kind)), ',') AS kinds
FROM m GROUP BY 1
"""
    # media_phash: recompute ALL 8 strided byte-sum features in SQL (the
    # media_features oracle checks f0; this one covers the full vector),
    # threshold into bits, sum powers of two, cluster. Same seeded-
    # duplicate corpus as media_dedup.
    def _byte_sum_k(k: int) -> str:
        return (
            "(SELECT sum(CAST('0x' || substr(hx, 2*j+1, 2) AS BIGINT)) "
            "FROM (SELECT unnest(range(0, coalesce(n, 0))) AS j) "
            f"WHERE j % 8 = {k})"
        )

    _phash_bits = " + ".join(
        f"(CASE WHEN round(coalesce({_byte_sum_k(k)}, 0) % 256 / 255.0, 6)"
        f" >= 0.5 THEN {1 << k} ELSE 0 END)"
        for k in range(8)
    )
    sql["media_phash"] = f"""
WITH m AS (
  SELECT 'media-' || CAST(doc_id AS VARCHAR) AS media_id,
         hex(encode(text)) AS hx, octet_length(encode(text)) AS n
  FROM documents
  UNION ALL
  SELECT 'copy-media-' || CAST(doc_id AS VARCHAR) AS media_id,
         hex(encode(text)) AS hx, octet_length(encode(text)) AS n
  FROM documents WHERE doc_id % 5 = 0),
h AS (SELECT media_id, CAST({_phash_bits} AS BIGINT) AS phash FROM m)
SELECT phash, CAST(count(*) AS BIGINT) AS n_items,
       min(media_id) AS first_media_id
FROM h GROUP BY 1
"""
    # media_phash_neardup: the media_phash oracle as a CTE, probed by its
    # own 8 one-bit-flip variants (xor + 1<<k), pair volume = n_a * n_b;
    # phash_a < phash_b keeps each unordered pair once.
    _flip_list = ", ".join(f"xor(phash, {1 << k})" for k in range(8))
    sql["media_phash_neardup"] = f"""
WITH c AS ({sql["media_phash"]}),
f AS (
  SELECT phash AS phash_a, n_items AS n_a,
         unnest([{_flip_list}]) AS probe
  FROM c)
SELECT f.phash_a, c2.phash AS phash_b,
       CAST(f.n_a * c2.n_items AS BIGINT) AS n_pairs
FROM f JOIN c c2 ON c2.phash = f.probe
WHERE f.phash_a < c2.phash
"""
    # audio_segments: whitespace-=-silence fake decode, 16-char frames,
    # voiced if >= 13 non-space chars, gaps-and-islands coalescing
    # (grp = frame_idx - rank among voiced frames of the track).
    sql["audio_segments"] = """
WITH a AS (
  SELECT 'media-' || CAST(doc_id AS VARCHAR) AS media_id, text AS wave
  FROM documents
  WHERE doc_id % 3 = 1 AND text IS NOT NULL AND length(text) > 0),
fr AS (
  SELECT media_id, wave,
         unnest(range(0, CAST(ceil(length(wave) / 16.0) AS BIGINT))) AS w
  FROM a),
v AS (
  SELECT media_id, w,
         length(translate(substr(wave, CAST(w * 16 + 1 AS INT), 16),
                          ' ' || chr(10) || chr(9), '')) AS nonspace
  FROM fr),
voiced AS (SELECT * FROM v WHERE nonspace >= 13),
g AS (
  SELECT media_id, w, nonspace,
         w - row_number() OVER (PARTITION BY media_id ORDER BY w) AS grp
  FROM voiced),
seg AS (
  SELECT media_id, grp, min(w) AS start_win, max(w) AS end_win,
         count(*) AS n_windows, sum(nonspace) AS voiced_chars
  FROM g GROUP BY media_id, grp)
SELECT media_id,
       CAST(row_number() OVER (PARTITION BY media_id ORDER BY start_win)
            AS INT) AS seg_idx,
       CAST(start_win AS INT) AS start_win,
       CAST(end_win AS INT) AS end_win,
       CAST(n_windows AS BIGINT) AS n_windows,
       CAST(voiced_chars AS BIGINT) AS voiced_chars
FROM seg
"""
    # vocab_coverage: same tokenization, fully tie-broken top-100 cut.
    sql["vocab_coverage"] = f"""
WITH toks AS (
  SELECT doc_id, {_LTOKS} AS t FROM documents
  WHERE text IS NOT NULL AND trim(text) <> ''),
w AS (SELECT doc_id, unnest(t) AS w FROM toks),
vocab AS (
  SELECT w FROM (SELECT w, count(*) AS c FROM w GROUP BY 1
                 ORDER BY c DESC, w LIMIT 100)),
sc AS (
  SELECT doc_id, count(*) AS n_tokens,
         sum(CASE WHEN w IN (SELECT w FROM vocab) THEN 1 ELSE 0 END) AS n_in
  FROM w GROUP BY 1)
SELECT d.doc_id,
       CAST(coalesce(n_tokens, 0) AS BIGINT) AS n_tokens,
       CAST(coalesce(n_in, 0) AS BIGINT) AS n_in_vocab,
       coalesce(round(n_in * 1.0 / n_tokens, 6), 0.0) AS coverage
FROM documents d LEFT JOIN sc USING (doc_id)
"""
    # minhash_lsh: the Spark side is LSH-candidates + exact-Jaccard verify,
    # whose output equals brute-force Jaccard wherever LSH recall is
    # complete (verified: all true pairs at sf0.01 have j >= 0.9 and 16
    # bands catch them all). Oracle = brute force, same shingles, no
    # max_df hot filter (the verify pass doesn't apply one).
    sql["minhash_lsh"] = f"""
WITH tok AS (SELECT doc_id, {_LTOKS} AS toks FROM documents),
sh AS (
  SELECT doc_id, unnest(list_distinct(
    [toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
     for i in range(1, len(toks) - 1)])) AS s
  FROM tok WHERE len(toks) >= 3),
cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
inter AS (
  SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS inter
  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2)
SELECT id1, id2,
       round(inter * 1.0 / (ca.n + cb.n - inter), 6) AS jaccard
FROM inter JOIN cnt ca ON id1 = ca.doc_id JOIN cnt cb ON id2 = cb.doc_id
WHERE round(inter * 1.0 / (ca.n + cb.n - inter), 6) >= 0.7
"""

    # incremental_lsh_dedup: brute-force cross-split ground truth — every
    # (batch, index) doc pair sharing a shingle, exact Jaccard >= 0.7.
    # Matching this exactly proves the banded probe's recall is complete
    # on the split (same contract as the minhash_lsh oracle).
    sql["incremental_lsh_dedup"] = f"""
WITH tok AS (SELECT doc_id, source, {_LTOKS} AS toks FROM documents),
sh AS (
  SELECT doc_id, source, unnest(list_distinct(
    [toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
     for i in range(1, len(toks) - 1)])) AS s
  FROM tok WHERE len(toks) >= 3),
cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
inter AS (
  SELECT b.doc_id AS batch_id, a.doc_id AS index_id, count(*) AS inter
  FROM sh a JOIN sh b ON a.s = b.s
  WHERE try_cast(substring(a.source, 4, 10) AS INT) < 5
    AND try_cast(substring(b.source, 4, 10) AS INT) >= 5
  GROUP BY 1, 2)
SELECT batch_id, index_id,
       round(inter * 1.0 / (ca.n + cb.n - inter), 6) AS jaccard
FROM inter JOIN cnt ca ON index_id = ca.doc_id
JOIN cnt cb ON batch_id = cb.doc_id
WHERE round(inter * 1.0 / (ca.n + cb.n - inter), 6) >= 0.7
"""

    # neardup_clusters: connected components over the same brute-force
    # near-dup pairs, via a recursive reachability CTE; cluster = min
    # reachable id, singletons map to themselves.
    # shared recursive connected-components body: exact-Jaccard pairs at
    # the minhash verify threshold -> symmetric edges -> reachability CTE;
    # reused by both the cluster-assignment and survivor-selection oracles
    _cc_body = f"""tok AS (SELECT doc_id, {_LTOKS} AS toks FROM documents),
sh AS (
  SELECT doc_id, unnest(list_distinct(
    [toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
     for i in range(1, len(toks) - 1)])) AS s
  FROM tok WHERE len(toks) >= 3),
cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
inter AS (
  SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS inter
  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2),
pairs AS (
  SELECT id1, id2 FROM inter
  JOIN cnt ca ON id1 = ca.doc_id JOIN cnt cb ON id2 = cb.doc_id
  WHERE round(inter * 1.0 / (ca.n + cb.n - inter), 6) >= 0.7),
edges AS (
  SELECT id1 AS src, id2 AS dst FROM pairs
  UNION ALL SELECT id2, id1 FROM pairs),
reach AS (
  SELECT doc_id AS id, doc_id AS r FROM documents
  UNION
  SELECT e.src, reach.r FROM edges e JOIN reach ON e.dst = reach.id)"""
    sql["neardup_clusters"] = f"""
WITH RECURSIVE {_cc_body}
SELECT id AS doc_id, min(r) AS cluster
FROM reach GROUP BY id
"""
    # dedup_survivors: same components, then one survivor per cluster —
    # longest text wins, ties to the smallest doc_id.
    sql["dedup_survivors"] = f"""
WITH RECURSIVE {_cc_body},
clusters AS (SELECT id AS doc_id, min(r) AS cluster FROM reach GROUP BY id),
member AS (
  SELECT c.cluster, c.doc_id, d.n_chars
  FROM clusters c JOIN documents d USING (doc_id)),
ranked AS (
  SELECT cluster, doc_id,
         row_number() OVER (PARTITION BY cluster
                            ORDER BY n_chars DESC, doc_id) AS rn,
         count(*) OVER (PARTITION BY cluster) AS n_members
  FROM member)
SELECT cluster, doc_id AS survivor_id, CAST(n_members AS BIGINT) AS n_members
FROM ranked WHERE rn = 1
"""
    # dedup_apply: same CC + ranking, keep rn=1 plus every unclustered doc.
    sql["dedup_apply"] = f"""
WITH RECURSIVE {_cc_body},
clusters AS (SELECT id AS doc_id, min(r) AS cluster FROM reach GROUP BY id),
member AS (
  SELECT c.cluster, c.doc_id, d.n_chars
  FROM clusters c JOIN documents d USING (doc_id)),
ranked AS (
  SELECT cluster, doc_id,
         row_number() OVER (PARTITION BY cluster
                            ORDER BY n_chars DESC, doc_id) AS rn
  FROM member),
dropped AS (SELECT doc_id FROM ranked WHERE rn > 1)
SELECT d.doc_id, d.lang, CAST(d.n_chars AS BIGINT) AS n_chars
FROM documents d WHERE d.doc_id NOT IN (SELECT doc_id FROM dropped)
"""

    # simhash_neardup: full signature replication — the md5-derived 60-bit
    # token hash is bit-identical in DuckDB, and multi-segment pigeonhole
    # blocking is complete for hamming <= blocks - seg_match, so blocked
    # pairs == brute-force pairs by construction. Oracle = brute force over
    # SQL-computed signatures.
    bal_terms = ", ".join(
        f"sum(CASE WHEN (h >> {i}) & 1 = 1 THEN 1 ELSE -1 END) AS b{i}"
        for i in range(60)
    )
    sig_terms = " + ".join(
        f"CASE WHEN b{i} > 0 THEN CAST(1 AS BIGINT) << {i} ELSE 0 END"
        for i in range(60)
    )
    sql["simhash_neardup"] = f"""
WITH tok AS (SELECT doc_id, unnest({_LTOKS}) AS t FROM documents
             WHERE text IS NOT NULL AND trim(text) <> ''),
th AS (SELECT doc_id,
              CAST('0x' || substr(md5(t), 1, 15) AS BIGINT) AS h FROM tok),
bal AS (SELECT doc_id, {bal_terms} FROM th GROUP BY doc_id),
sig AS (SELECT doc_id, CAST({sig_terms} AS BIGINT) AS s FROM bal)
SELECT a.doc_id AS id1, b.doc_id AS id2,
       CAST(bit_count(xor(a.s, b.s)) AS INTEGER) AS hamming
FROM sig a JOIN sig b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.s, b.s)) <= 3
"""

    # lsh_ann_topk: exact SQL replication of the md5-seeded Rademacher
    # hyperplane buckets + candidate union + exact rerank.
    sql["lsh_ann_topk"] = f"""
WITH {_planes_cte(64, 6, 6, 42)},
corpus AS (SELECT vec_id, embedding FROM embeddings),
qs AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 5),
{_lsh_bucket_cte('c', 'corpus', 'vec_id', 'embedding')},
{_lsh_bucket_cte('q', 'qs', 'vec_id', 'embedding')},
cand AS (
  SELECT DISTINCT q.id AS query_id, c.id
  FROM cbuck c JOIN qbuck q ON c.tbl = q.tbl AND c.bucket = q.bucket),
scored AS (
  SELECT cand.query_id, cand.id,
         {_sql_cosine('e.embedding', 'qe.embedding')} AS cosine
  FROM cand JOIN embeddings e ON e.vec_id = cand.id
            JOIN embeddings qe ON qe.vec_id = cand.query_id),
ranked AS (
  SELECT query_id, id, cosine,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, id) AS rank
  FROM scored)
SELECT query_id, id, cosine, rank FROM ranked WHERE rank <= 10
"""

    # media_features: the stubbed decode kernel is pure byte arithmetic
    # (multimodal._fake_decode), so the oracle recomputes it from the hex
    # dump of the utf-8 payload: checksum = sum(bytes) % 2^31, f0 = feature
    # 0 = (sum of every 8th byte) % 256 / 255 rounded to 6dp as float32.
    byte_sum = ("(SELECT sum(CAST('0x' || substr(hx, 2*j+1, 2) AS BIGINT)) "
                "FROM (SELECT unnest(range(0, coalesce(n, 0))) AS j))")
    byte_sum_8 = ("(SELECT sum(CAST('0x' || substr(hx, 2*j+1, 2) AS BIGINT)) "
                  "FROM (SELECT unnest(range(0, coalesce(n, 0))) AS j) "
                  "WHERE j % 8 = 0)")
    sql["media_features"] = f"""
WITH b AS (
  SELECT 'media-' || CAST(doc_id AS VARCHAR) AS media_id,
         CASE WHEN doc_id % 3 = 0 THEN 'image'
              WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END AS kind,
         hex(encode(text)) AS hx,
         octet_length(encode(text)) AS n
  FROM documents)
SELECT media_id, kind,
       CAST(coalesce(n, 0) AS BIGINT) AS n_bytes,
       CAST(coalesce({byte_sum}, 0) % 2147483648 AS BIGINT) AS checksum,
       CAST(round(coalesce({byte_sum_8}, 0) % 256 / 255.0, 6) AS FLOAT) AS f0
FROM b
"""
    # media_mime_sniff: identical magic-prefix synthesis (doc_id % 8)
    # and an identical-precedence CASE over the hex head — prefix table
    # generated from the operator's own _MAGIC_RULES, then the RIFF
    # bytes-9..12 and offset-5 ftyp rules, else octet-stream.
    from pdf_extractor_spark.operators.multimodal import _MAGIC_RULES

    _mm_case = " ".join(
        f"WHEN head LIKE '{p}%' THEN '{t}'" for p, t in _MAGIC_RULES
    )
    _mm_syn = " ".join(
        f"WHEN {mod} THEN '{hx}'"
        for mod, hx in _MIME_MAGIC_BY_MOD.items()
    )
    sql["media_mime_sniff"] = f"""
WITH b AS (
  SELECT 'media-' || CAST(doc_id AS VARCHAR) AS media_id,
         unhex(CASE doc_id % 8 {_mm_syn} END)
           || encode(coalesce(text, '')) AS payload
  FROM documents),
h AS (
  SELECT media_id,
         upper(substr(hex(payload), 1, 32)) AS head,
         octet_length(payload) AS n
  FROM b)
SELECT media_id,
       CASE WHEN n = 0 THEN NULL
            {_mm_case}
            WHEN head LIKE '52494646%'
                 AND substr(head, 17, 8) = '57415645' THEN 'audio/wav'
            WHEN head LIKE '52494646%'
                 AND substr(head, 17, 8) = '41564920' THEN 'video/avi'
            WHEN substr(head, 9, 8) = '66747970' THEN 'video/mp4'
            ELSE 'application/octet-stream' END AS mime,
       substr(head, 1, 8) AS magic_hex,
       CAST(n AS BIGINT) AS n_bytes
FROM h
"""
    # ivf_ann_topk: full SQL replication of the deterministic quantizer —
    # strided seeds, one Lloyd refinement (assign by cosine, element-wise
    # mean per cluster, empty clusters keep their seed), corpus top-1 /
    # query top-8 assignment, exact rerank. All vector math in DOUBLE to
    # match the numpy float64 path.
    cos = "list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), c.cv)"
    sql["ivf_ann_topk"] = f"""
WITH vembeddings AS (
  SELECT vec_id, embedding FROM embeddings
  WHERE embedding IS NOT NULL AND len(embedding) > 0),
params AS (SELECT greatest(1, count(*) // 16) AS stride FROM vembeddings),
seeds AS (
  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid,
         CAST(embedding AS DOUBLE[]) AS cv
  FROM vembeddings, params WHERE vec_id % stride = 0
  ORDER BY vec_id LIMIT 16),
assign0 AS (
  SELECT e.vec_id, c.cid,
         row_number() OVER (PARTITION BY e.vec_id
                            ORDER BY {cos} DESC, c.cid) AS rn
  FROM vembeddings e, seeds c),
a0 AS (SELECT vec_id, cid FROM assign0 WHERE rn = 1),
cells AS (
  SELECT a0.cid, comp.d, avg(comp.x) AS m
  FROM a0 JOIN (SELECT vec_id, generate_subscripts(embedding, 1) AS d,
                       unnest(CAST(embedding AS DOUBLE[])) AS x
                FROM vembeddings) comp USING (vec_id)
  GROUP BY 1, 2),
refined AS (SELECT cid, list(m ORDER BY d) AS cv FROM cells GROUP BY 1),
cents AS (
  SELECT s.cid, coalesce(r.cv, s.cv) AS cv
  FROM seeds s LEFT JOIN refined r USING (cid)),
corpus_assign AS (
  SELECT e.vec_id, c.cid,
         row_number() OVER (PARTITION BY e.vec_id
                            ORDER BY {cos} DESC, c.cid) AS rn
  FROM vembeddings e, cents c),
ca AS (SELECT vec_id, cid FROM corpus_assign WHERE rn = 1),
qa AS (
  SELECT vec_id AS query_id, cid FROM (
    SELECT e.vec_id, c.cid,
           row_number() OVER (PARTITION BY e.vec_id
                              ORDER BY {cos} DESC, c.cid) AS rn
    FROM vembeddings e, cents c WHERE e.vec_id < 5)
  WHERE rn <= 8),
cand AS (SELECT qa.query_id, ca.vec_id AS id FROM qa JOIN ca USING (cid)),
scored AS (
  SELECT cand.query_id, cand.id,
         {_sql_cosine('e.embedding', 'qe.embedding')} AS cosine
  FROM cand JOIN vembeddings e ON e.vec_id = cand.id
            JOIN vembeddings qe ON qe.vec_id = cand.query_id),
ranked AS (
  SELECT query_id, id, cosine,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, id) AS rank
  FROM scored)
SELECT query_id, id, cosine, rank FROM ranked WHERE rank <= 10
"""
    # kmeans_clusters: the ivf quantizer unrolled to TWO Lloyd iterations
    # (K=8) — assign-by-cosine / element-wise-mean / empty-clusters-keep-
    # previous twice, then the final assignment aggregated to per-cluster
    # occupancy + mean 4dp cosine-to-centroid.
    # shared kmeans CTE chain (stride seeds -> two Lloyd rounds -> cents2):
    # consumed by kmeans_clusters and cluster_balanced_sample below
    _km_prefix = f"""
WITH vembeddings AS (
  SELECT vec_id, embedding FROM embeddings
  WHERE embedding IS NOT NULL AND len(embedding) > 0),
params AS (SELECT greatest(1, count(*) // 8) AS stride FROM vembeddings),
seeds AS (
  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid,
         CAST(embedding AS DOUBLE[]) AS cv
  FROM vembeddings, params WHERE vec_id % stride = 0
  ORDER BY vec_id LIMIT 8),
comp AS (SELECT vec_id, generate_subscripts(embedding, 1) AS d,
                unnest(CAST(embedding AS DOUBLE[])) AS x
         FROM vembeddings),
assign0 AS (
  SELECT e.vec_id, c.cid,
         row_number() OVER (PARTITION BY e.vec_id
                            ORDER BY {cos} DESC, c.cid) AS rn
  FROM vembeddings e, seeds c),
a0 AS (SELECT vec_id, cid FROM assign0 WHERE rn = 1),
cells1 AS (
  SELECT a0.cid, comp.d, avg(comp.x) AS m
  FROM a0 JOIN comp USING (vec_id) GROUP BY 1, 2),
ref1 AS (SELECT cid, list(m ORDER BY d) AS cv FROM cells1 GROUP BY 1),
cents1 AS (
  SELECT s.cid, coalesce(r.cv, s.cv) AS cv
  FROM seeds s LEFT JOIN ref1 r USING (cid)),
assign1 AS (
  SELECT e.vec_id, c.cid,
         row_number() OVER (PARTITION BY e.vec_id
                            ORDER BY {cos} DESC, c.cid) AS rn
  FROM vembeddings e, cents1 c),
a1 AS (SELECT vec_id, cid FROM assign1 WHERE rn = 1),
cells2 AS (
  SELECT a1.cid, comp.d, avg(comp.x) AS m
  FROM a1 JOIN comp USING (vec_id) GROUP BY 1, 2),
ref2 AS (SELECT cid, list(m ORDER BY d) AS cv FROM cells2 GROUP BY 1),
cents2 AS (
  SELECT c1.cid, coalesce(r.cv, c1.cv) AS cv
  FROM cents1 c1 LEFT JOIN ref2 r USING (cid)),
"""
    # pq_encode / pq_adc_topk: full SQL replication of the product
    # quantizer (Jegou et al. 2011) — per-subspace strided seeds, one
    # Lloyd iteration (argmin by squared-L2, cell means rounded to 9 dp
    # on BOTH engines), argmin code assignment, per-query ADC lookup
    # tables. Every distance is a strict LEFT FOLD over dimensions
    # (list_reduce with 0.0 prepended <-> the numpy per-dim accumulate
    # loop), so the float64 results are bit-identical and the 6-dp
    # round-before-rank makes the top-k order engine-independent. The
    # per-subspace CTE blocks are GENERATED from the same loop as the
    # Spark implementation (m=4, ks=16, dsub=16).
    _pq_m, _pq_ks, _pq_dsub = 8, 16, 8

    def _pq_dist(vec_expr: str, cv: str) -> str:
        t = (f"(CAST({vec_expr} AS DOUBLE) - {cv}[k + 1]) * "
             f"(CAST({vec_expr} AS DOUBLE) - {cv}[k + 1])")
        return (f"list_reduce(list_prepend(0.0, list_transform("
                f"range({_pq_dsub}), k -> {t})), (a, b) -> a + b)")

    _pq_blocks = []
    for _j in range(_pq_m):
        _off = _j * _pq_dsub
        _d_seed = _pq_dist(f"e.embedding[{_off} + k + 1]", "c.cv")
        _pq_blocks.append(f"""
pq_seeds_{_j} AS (
  SELECT cid, list_transform(range({_pq_dsub}),
                             k -> ev[{_off} + k + 1]) AS cv
  FROM pq_seeds),
pq_a0_{_j} AS (
  SELECT vec_id, cid FROM (
    SELECT e.vec_id, c.cid,
           row_number() OVER (PARTITION BY e.vec_id
                              ORDER BY {_d_seed}, c.cid) AS rn
    FROM vembeddings e, pq_seeds_{_j} c) WHERE rn = 1),
pq_comp_{_j} AS (
  SELECT vec_id, generate_subscripts(sub, 1) AS kk, unnest(sub) AS x
  FROM (SELECT vec_id,
               list_transform(range({_pq_dsub}),
                              k -> CAST(embedding[{_off} + k + 1]
                                        AS DOUBLE)) AS sub
        FROM vembeddings)),
pq_cells_{_j} AS (
  SELECT a.cid, comp.kk, round(avg(comp.x), 9) AS mval
  FROM pq_a0_{_j} a JOIN pq_comp_{_j} comp USING (vec_id)
  GROUP BY 1, 2),
pq_ref_{_j} AS (
  SELECT cid, list(mval ORDER BY kk) AS cv FROM pq_cells_{_j} GROUP BY 1),
pq_cents_{_j} AS MATERIALIZED (
  SELECT s.cid, coalesce(r.cv, s.cv) AS cv
  FROM pq_seeds_{_j} s LEFT JOIN pq_ref_{_j} r USING (cid)),
pq_code_{_j} AS MATERIALIZED (
  SELECT vec_id, cid AS c{_j} FROM (
    SELECT e.vec_id, c.cid,
           row_number() OVER (PARTITION BY e.vec_id
                              ORDER BY {_d_seed}, c.cid) AS rn
    FROM vembeddings e, pq_cents_{_j} c) WHERE rn = 1)""")

    _pq_code_joins = " ".join(
        f"JOIN pq_code_{_j} USING (vec_id)" for _j in range(1, _pq_m)
    )
    _pq_ctes = f"""vembeddings AS (
  SELECT vec_id, embedding FROM embeddings
  WHERE embedding IS NOT NULL AND len(embedding) > 0),
pq_params AS (
  SELECT greatest(1, count(*) // {_pq_ks}) AS stride FROM vembeddings),
pq_seeds AS MATERIALIZED (
  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid,
         CAST(embedding AS DOUBLE[]) AS ev
  FROM vembeddings, pq_params WHERE vec_id % stride = 0
  ORDER BY vec_id LIMIT {_pq_ks}),{",".join(_pq_blocks)},
pq_codes AS MATERIALIZED (
  SELECT vec_id, {", ".join(f"c{_j}" for _j in range(_pq_m))}
  FROM pq_code_0 {_pq_code_joins})"""
    sql["pq_encode"] = "WITH " + _pq_ctes + f"""
SELECT vec_id,
       {" || ',' || ".join(f"CAST(c{_j} AS VARCHAR)" for _j in range(_pq_m))}
       AS codes_csv
FROM pq_codes"""

    _pq_luts = []
    for _j in range(_pq_m):
        _off = _j * _pq_dsub
        _d_q = _pq_dist(f"q.embedding[{_off} + k + 1]", "c.cv")
        _pq_luts.append(f"""
pq_lut_{_j} AS MATERIALIZED (
  SELECT q.vec_id AS query_id, c.cid, {_d_q} AS d
  FROM (SELECT vec_id, embedding FROM vembeddings WHERE vec_id < 8) q,
       pq_cents_{_j} c)""")
    _pq_adc_sum = " + ".join(f"l{_j}.d" for _j in range(_pq_m))
    _pq_lut_joins = " ".join(
        f"JOIN pq_lut_{_j} l{_j} ON l{_j}.query_id = l0.query_id "
        f"AND l{_j}.cid = co.c{_j}"
        for _j in range(1, _pq_m)
    )
    sql["pq_adc_topk"] = "WITH " + _pq_ctes + f""",{",".join(_pq_luts)},
pq_scored AS MATERIALIZED (
  SELECT l0.query_id, co.vec_id AS id,
         round({_pq_adc_sum}, 6) + 0.0 AS adc
  FROM pq_codes co
  JOIN pq_lut_0 l0 ON l0.cid = co.c0
  {_pq_lut_joins})
SELECT query_id, id, adc,
       CAST(row_number() OVER (PARTITION BY query_id
                               ORDER BY adc, id) AS INT) AS rank
FROM pq_scored
QUALIFY rank <= 10"""

    # pq_rerank_topk: ADC top-40 candidates -> exact squared-L2 rerank on
    # the full 64-dim vectors (same left-fold arithmetic), top-10
    _pq_dim = _pq_m * _pq_dsub
    _pq_l2 = ("list_reduce(list_prepend(0.0, list_transform("
              f"range({_pq_dim}), k -> "
              "(CAST(e.embedding[k + 1] AS DOUBLE) - "
              "CAST(q.embedding[k + 1] AS DOUBLE)) * "
              "(CAST(e.embedding[k + 1] AS DOUBLE) - "
              "CAST(q.embedding[k + 1] AS DOUBLE)))), (a, b) -> a + b)")
    sql["pq_rerank_topk"] = "WITH " + _pq_ctes + f""",{",".join(_pq_luts)},
pq_scored AS MATERIALIZED (
  SELECT l0.query_id, co.vec_id AS id,
         round({_pq_adc_sum}, 6) + 0.0 AS adc
  FROM pq_codes co
  JOIN pq_lut_0 l0 ON l0.cid = co.c0
  {_pq_lut_joins}),
pq_cand AS (
  SELECT query_id, id FROM (
    SELECT query_id, id,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY adc, id) AS arn
    FROM pq_scored) WHERE arn <= 40),
pq_exact AS (
  SELECT ca.query_id, ca.id, round({_pq_l2}, 6) + 0.0 AS l2
  FROM pq_cand ca
  JOIN vembeddings e ON e.vec_id = ca.id
  JOIN (SELECT vec_id, embedding FROM vembeddings WHERE vec_id < 8) q
    ON q.vec_id = ca.query_id)
SELECT query_id, id, l2,
       CAST(row_number() OVER (PARTITION BY query_id
                               ORDER BY l2, id) AS INT) AS rank
FROM pq_exact
QUALIFY rank <= 10"""

    # ivfpq_ann_topk: the IVF coarse quantizer (identical CTE chain to
    # ivf_ann_topk, names prefixed ivf_) composed with the PQ codes/LUTs:
    # corpus top-1 list assignment, query top-8 probes, ADC scoring
    # restricted to candidate (query, probed-list-member) pairs. Same
    # 6-dp round-before-rank, id tiebreak.
    sql["ivfpq_ann_topk"] = "WITH " + _pq_ctes + f""",{",".join(_pq_luts)},
ivf_params AS (
  SELECT greatest(1, count(*) // 16) AS stride FROM vembeddings),
ivf_seeds AS (
  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid,
         CAST(embedding AS DOUBLE[]) AS cv
  FROM vembeddings, ivf_params WHERE vec_id % stride = 0
  ORDER BY vec_id LIMIT 16),
ivf_a0 AS (
  SELECT vec_id, cid FROM (
    SELECT e.vec_id, c.cid,
           row_number() OVER (PARTITION BY e.vec_id
                              ORDER BY {cos} DESC, c.cid) AS rn
    FROM vembeddings e, ivf_seeds c) WHERE rn = 1),
ivf_cells AS (
  SELECT a.cid, comp.d, avg(comp.x) AS m
  FROM ivf_a0 a JOIN (SELECT vec_id, generate_subscripts(embedding, 1) AS d,
                             unnest(CAST(embedding AS DOUBLE[])) AS x
                      FROM vembeddings) comp USING (vec_id)
  GROUP BY 1, 2),
ivf_ref AS (SELECT cid, list(m ORDER BY d) AS cv FROM ivf_cells GROUP BY 1),
ivf_cents AS MATERIALIZED (
  SELECT s.cid, coalesce(r.cv, s.cv) AS cv
  FROM ivf_seeds s LEFT JOIN ivf_ref r USING (cid)),
ivf_ca AS (
  SELECT vec_id, cid FROM (
    SELECT e.vec_id, c.cid,
           row_number() OVER (PARTITION BY e.vec_id
                              ORDER BY {cos} DESC, c.cid) AS rn
    FROM vembeddings e, ivf_cents c) WHERE rn = 1),
ivf_qa AS (
  SELECT vec_id AS query_id, cid FROM (
    SELECT e.vec_id, c.cid,
           row_number() OVER (PARTITION BY e.vec_id
                              ORDER BY {cos} DESC, c.cid) AS rn
    FROM vembeddings e, ivf_cents c WHERE e.vec_id < 8)
  WHERE rn <= 8),
ivf_cand AS (
  SELECT qa.query_id, ca.vec_id FROM ivf_qa qa JOIN ivf_ca ca USING (cid)),
pq_scored AS (
  SELECT cd.query_id, co.vec_id AS id,
         round({_pq_adc_sum}, 6) + 0.0 AS adc
  FROM ivf_cand cd
  JOIN pq_codes co ON co.vec_id = cd.vec_id
  JOIN pq_lut_0 l0 ON l0.cid = co.c0 AND l0.query_id = cd.query_id
  {_pq_lut_joins})
SELECT query_id, id, adc,
       CAST(row_number() OVER (PARTITION BY query_id
                               ORDER BY adc, id) AS INT) AS rank
FROM pq_scored
QUALIFY rank <= 10"""

    # mutual_knn: the same deterministic 16-centroid quantizer, then a
    # per-cluster all-pairs cosine (the cluster-bounded quadratic),
    # per-node top-5 with the 4-dp round-before-rank, and the
    # reciprocity join.
    sql["mutual_knn"] = f"""
WITH vembeddings AS (
  SELECT vec_id, embedding FROM embeddings
  WHERE embedding IS NOT NULL AND len(embedding) > 0),
params AS (SELECT greatest(1, count(*) // 16) AS stride FROM vembeddings),
seeds AS (
  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid,
         CAST(embedding AS DOUBLE[]) AS cv
  FROM vembeddings, params WHERE vec_id % stride = 0
  ORDER BY vec_id LIMIT 16),
assign0 AS (
  SELECT e.vec_id, c.cid,
         row_number() OVER (PARTITION BY e.vec_id
                            ORDER BY {cos} DESC, c.cid) AS rn
  FROM vembeddings e, seeds c),
a0 AS (SELECT vec_id, cid FROM assign0 WHERE rn = 1),
cells AS (
  SELECT a0.cid, comp.d, avg(comp.x) AS m
  FROM a0 JOIN (SELECT vec_id, generate_subscripts(embedding, 1) AS d,
                       unnest(CAST(embedding AS DOUBLE[])) AS x
                FROM vembeddings) comp USING (vec_id)
  GROUP BY 1, 2),
refined AS (SELECT cid, list(m ORDER BY d) AS cv FROM cells GROUP BY 1),
cents AS (
  SELECT s.cid, coalesce(r.cv, s.cv) AS cv
  FROM seeds s LEFT JOIN refined r USING (cid)),
ca AS MATERIALIZED (
  SELECT vec_id, cid FROM (
    SELECT e.vec_id, c.cid,
           row_number() OVER (PARTITION BY e.vec_id
                              ORDER BY {cos} DESC, c.cid) AS rn
    FROM vembeddings e, cents c) WHERE rn = 1),
pairs AS (
  SELECT l.vec_id AS a, r.vec_id AS b,
         {_sql_cosine('el.embedding', 'er.embedding')} AS cosine
  FROM ca l JOIN ca r ON l.cid = r.cid AND l.vec_id <> r.vec_id
  JOIN vembeddings el ON el.vec_id = l.vec_id
  JOIN vembeddings er ON er.vec_id = r.vec_id),
knn AS MATERIALIZED (
  SELECT a, b, cosine FROM (
    SELECT a, b, cosine,
           row_number() OVER (PARTITION BY a
                              ORDER BY cosine DESC, b) AS rn
    FROM pairs WHERE cosine IS NOT NULL) WHERE rn <= 5)
SELECT k1.a AS id_a, k1.b AS id_b, k1.cosine
FROM knn k1 JOIN knn k2 ON k1.a = k2.b AND k1.b = k2.a
WHERE k1.a < k1.b
"""

    # ann_recall_eval: the three approximate-method oracles nested as
    # CTEs (DuckDB allows a full WITH...SELECT as a CTE body) scored
    # against their own exact baselines — exact cosine (the cosine_topk
    # oracle verbatim) for ivf, exact L2 (the pq_rerank fold, 6-dp
    # round, id tiebreak) for the PQ paths. Hits via SEMI JOIN; one
    # double division per method row.
    _ann_l2 = (
        "list_reduce(list_prepend(0.0, list_transform(range(64), k -> "
        "(CAST(e.embedding[k + 1] AS DOUBLE) - "
        "CAST(q.embedding[k + 1] AS DOUBLE)) * "
        "(CAST(e.embedding[k + 1] AS DOUBLE) - "
        "CAST(q.embedding[k + 1] AS DOUBLE)))), (a, b) -> a + b)"
    )
    sql["ann_recall_eval"] = f"""
WITH ivf_res AS ({sql["ivf_ann_topk"]}),
adc_res AS ({sql["pq_adc_topk"]}),
ivfpq_res AS ({sql["ivfpq_ann_topk"]}),
cos_res AS ({sql["cosine_topk"]}),
annv AS (SELECT vec_id, embedding FROM embeddings
         WHERE embedding IS NOT NULL AND len(embedding) > 0),
exl2 AS (
  SELECT q.vec_id AS query_id, e.vec_id AS id,
         round({_ann_l2}, 6) + 0.0 AS l2
  FROM annv e, (SELECT vec_id, embedding FROM annv WHERE vec_id < 8) q),
exl2_top AS (
  SELECT query_id, id FROM (
    SELECT query_id, id,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY l2, id) AS rn
    FROM exl2) WHERE rn <= 10),
excos_top AS (SELECT query_id, id FROM cos_res),
m_all AS (
  SELECT 'ivf' AS method,
    CAST((SELECT count(*) FROM excos_top x SEMI JOIN ivf_res a
          ON a.query_id = x.query_id AND a.id = x.id) AS BIGINT) AS hits,
    CAST((SELECT count(*) FROM excos_top) AS BIGINT) AS total
  UNION ALL
  SELECT 'pq_adc',
    CAST((SELECT count(*) FROM exl2_top x SEMI JOIN adc_res a
          ON a.query_id = x.query_id AND a.id = x.id) AS BIGINT),
    CAST((SELECT count(*) FROM exl2_top) AS BIGINT)
  UNION ALL
  SELECT 'ivfpq',
    CAST((SELECT count(*) FROM exl2_top x SEMI JOIN ivfpq_res a
          ON a.query_id = x.query_id AND a.id = x.id) AS BIGINT),
    CAST((SELECT count(*) FROM exl2_top) AS BIGINT))
SELECT method, hits, total,
       round(hits / total, 6) + 0.0 AS recall_at_10
FROM m_all
"""

    sql["kmeans_clusters"] = _km_prefix + f"""
assign2 AS (
  SELECT e.vec_id, c.cid,
         {cos} AS sim_raw,
         {_sql_cosine('e.embedding', 'c.cv')} AS cos4,
         row_number() OVER (PARTITION BY e.vec_id
                            ORDER BY {cos} DESC, c.cid) AS rn
  FROM vembeddings e, cents2 c)
SELECT CAST(cid AS INT) AS cluster,
       CAST(count(*) AS BIGINT) AS n_vecs,
       round(avg(cos4), 4) AS avg_cosine
FROM assign2 WHERE rn = 1
GROUP BY 1 ORDER BY 1
"""
    # cluster_balanced_sample: final assignment + per-cluster seeded
    # md5 pick order, quota 16.
    sql["cluster_balanced_sample"] = _km_prefix + f"""
assign2 AS (
  SELECT e.vec_id, c.cid,
         row_number() OVER (PARTITION BY e.vec_id
                            ORDER BY {cos} DESC, c.cid) AS rn
  FROM vembeddings e, cents2 c),
a2 AS (SELECT vec_id, cid FROM assign2 WHERE rn = 1),
ranked AS (
  SELECT vec_id, cid,
         row_number() OVER (PARTITION BY cid
           ORDER BY md5('cbs_' || CAST(vec_id AS VARCHAR)), vec_id)
           AS pick_rank
  FROM a2)
SELECT vec_id, CAST(cid AS INT) AS cluster,
       CAST(pick_rank AS INT) AS pick_rank, pick_rank <= 16 AS kept
FROM ranked
"""
    # semdedup: same deterministic quantizer as ivf_ann_topk but over the
    # seeded-near-dup augmented corpus; within-cluster pairwise cosine via
    # the sequential fold, drop-the-later-id rule replicated exactly.
    aug_cte = """aug AS (
  SELECT vec_id, embedding FROM embeddings
  UNION ALL
  SELECT vec_id + 1000000 AS vec_id,
         list_transform(embedding, (x, i) -> CASE WHEN i - 1 = vec_id % 64
             THEN CAST(0.0 AS FLOAT) ELSE x END) AS embedding
  FROM embeddings)"""
    sql["semdedup"] = f"""
WITH {aug_cte},
params AS (SELECT greatest(1, count(*) // 16) AS stride FROM aug),
seeds AS (
  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid,
         CAST(embedding AS DOUBLE[]) AS cv
  FROM aug, params WHERE vec_id % stride = 0
  ORDER BY vec_id LIMIT 16),
assign0 AS (
  SELECT e.vec_id, c.cid,
         row_number() OVER (PARTITION BY e.vec_id
                            ORDER BY {cos} DESC, c.cid) AS rn
  FROM aug e, seeds c),
a0 AS (SELECT vec_id, cid FROM assign0 WHERE rn = 1),
cells AS (
  SELECT a0.cid, comp.d, avg(comp.x) AS m
  FROM a0 JOIN (SELECT vec_id, generate_subscripts(embedding, 1) AS d,
                       unnest(CAST(embedding AS DOUBLE[])) AS x
                FROM aug) comp USING (vec_id)
  GROUP BY 1, 2),
refined AS (SELECT cid, list(m ORDER BY d) AS cv FROM cells GROUP BY 1),
cents AS (
  SELECT s.cid, coalesce(r.cv, s.cv) AS cv
  FROM seeds s LEFT JOIN refined r USING (cid)),
corpus_assign AS (
  SELECT e.vec_id, c.cid,
         row_number() OVER (PARTITION BY e.vec_id
                            ORDER BY {cos} DESC, c.cid) AS rn
  FROM aug e, cents c),
ca AS (SELECT vec_id, cid FROM corpus_assign WHERE rn = 1),
pairs AS (
  SELECT b.vec_id AS id2, a.vec_id AS id1,
         {_sql_cosine('e1.embedding', 'e2.embedding')} AS cosine
  FROM ca a JOIN ca b ON a.cid = b.cid AND a.vec_id < b.vec_id
  JOIN aug e1 ON e1.vec_id = a.vec_id
  JOIN aug e2 ON e2.vec_id = b.vec_id),
dup AS (SELECT id2 AS vec_id, min(id1) AS dup_of
        FROM pairs WHERE cosine >= 0.95 GROUP BY 1)
SELECT ca.vec_id, CAST(ca.cid AS INT) AS cluster, dup.dup_of,
       dup.dup_of IS NULL AS keep
FROM ca LEFT JOIN dup USING (vec_id)
"""
    # mix_weights: per-source token mass -> sampling weight toward the
    # deterministic (k+1)/210 target mixture. weight divides the ROUNDED
    # target by the raw corpus fraction, matching the Spark column order.
    tgt = "round((CAST(substr(source, 4) AS INT) + 1) / 210.0, 6)"
    sql["mix_weights"] = f"""
WITH per AS (
  SELECT source, count(*) AS n_docs,
         sum(CASE WHEN text IS NULL OR trim(text) = '' THEN 0
                  ELSE len({_TOKS}) END) AS n_tokens
  FROM documents GROUP BY 1),
tot AS (SELECT sum(n_tokens) AS t FROM per)
SELECT source, CAST(n_docs AS BIGINT) AS n_docs,
       CAST(n_tokens AS BIGINT) AS n_tokens,
       round(n_tokens / t, 6) AS corpus_frac,
       {tgt} AS target_frac,
       CASE WHEN n_tokens > 0
            THEN round({tgt} / (n_tokens / t), 6)
            ELSE 0.0 END AS weight
FROM per, tot
"""
    # embedding_outliers: identical expression sequencing — fold norms,
    # sqrt(E[x^2]-E[x]^2) std, 6dp centroid, 4dp-rounded z and cosine.
    sql["embedding_outliers"] = f"""
WITH v AS (SELECT vec_id, embedding FROM embeddings
           WHERE embedding IS NOT NULL AND len(embedding) = 64),
n AS (SELECT vec_id, embedding,
             sqrt({_seq_dot('embedding', 'embedding')}) AS nrm FROM v),
st AS (SELECT avg(nrm) AS mu,
              sqrt(avg(nrm * nrm) - avg(nrm) * avg(nrm)) AS sd FROM n),
ex AS (SELECT embedding, unnest(range(1, len(embedding) + 1)) AS d
       FROM v),
dims AS (SELECT d, round(avg(embedding[d]), 6) AS cx FROM ex GROUP BY 1),
cent AS (SELECT list(cx ORDER BY d) AS cvec FROM dims),
cn AS (SELECT cvec, sqrt({_seq_dot('cvec', 'cvec')}) AS cnrm FROM cent)
SELECT vec_id, round(nrm, 4) AS norm,
       CASE WHEN sd > 0 THEN round((nrm - mu) / sd, 4) END AS z,
       CASE WHEN nrm * cnrm > 0
            THEN round({_seq_dot('embedding', 'cvec')} / (nrm * cnrm), 4)
       END AS cos_centroid,
       coalesce(abs(CASE WHEN sd > 0
                    THEN round((nrm - mu) / sd, 4) END) > 2.0, false)
         AS is_outlier
FROM n, st, cn
"""
    # phrase_search: positional postings + the anchor group, phrases =
    # tokens 3-4 of docs 0/7/42 (0-based positions on both sides).
    sql["phrase_search"] = f"""
WITH tok AS (SELECT doc_id, {_LTOKS_SAFE} AS toks FROM documents),
ph AS (SELECT doc_id AS phrase_id,
              array_to_string(toks[3:4], ' ') AS phrase,
              len(toks[3:4]) AS phrase_len
       FROM tok WHERE doc_id IN (0, 7, 42) AND len(toks[3:4]) > 0),
ptl AS (SELECT phrase_id, string_split(phrase, ' ') AS pts FROM ph),
pti AS (SELECT phrase_id, pts, unnest(range(1, len(pts) + 1)) AS i
        FROM ptl),
pterm AS (SELECT phrase_id, i - 1 AS off, pts[i] AS term FROM pti),
posti AS (SELECT doc_id, toks, unnest(range(1, len(toks) + 1)) AS i
          FROM tok),
post AS (SELECT doc_id, i - 1 AS pos, toks[i] AS term FROM posti),
anch AS (
  SELECT phrase_id, doc_id, pos - off AS base_pos,
         count(DISTINCT off) AS hits
  FROM post JOIN pterm USING (term)
  WHERE pos - off >= 0
  GROUP BY 1, 2, 3),
m AS (SELECT phrase_id, doc_id, base_pos
      FROM anch JOIN ph USING (phrase_id) WHERE hits = phrase_len)
SELECT phrase_id, ph.phrase, doc_id,
       CAST(count(*) AS BIGINT) AS n_matches,
       CAST(min(base_pos) AS INT) AS first_pos
FROM m JOIN ph USING (phrase_id)
GROUP BY 1, 2, 3
"""
    # epoch_plan: same per-source token mass, then exact-integer epoch
    # arithmetic under the 4-epoch cap at the 100k-token budget literal.
    sql["epoch_plan"] = f"""
WITH per AS (
  SELECT source,
         CAST(sum(CASE WHEN text IS NULL OR trim(text) = '' THEN 0
                  ELSE len({_TOKS}) END) AS BIGINT) AS n_tokens
  FROM documents GROUP BY 1),
calc AS (
  SELECT source, n_tokens,
         CAST(floor(((CAST(substr(source, 4) AS INT) + 1) / 210.0)
              * 100000 + 0.5) AS BIGINT) AS target_tokens,
         CAST(4 AS BIGINT) * n_tokens AS capacity
  FROM per),
plan AS (
  SELECT source, n_tokens, target_tokens,
         least(target_tokens, capacity) AS planned_tokens,
         target_tokens > capacity AS clipped,
         CASE WHEN n_tokens > 0
              THEN least(target_tokens, capacity) // n_tokens
              ELSE CAST(0 AS BIGINT) END AS full_epochs
  FROM calc)
SELECT source, n_tokens, target_tokens, full_epochs,
       planned_tokens - full_epochs * n_tokens AS tail_tokens,
       planned_tokens,
       target_tokens - planned_tokens AS shortfall,
       clipped
FROM plan
"""
    # c4_filter: page synthesis (6-token lines, (doc_id+i)%5 decoration,
    # three deterministic page poisons) AND the C4 line/page rules both
    # rebuilt in SQL; every count is an exact integer, so agreement is
    # bit-for-bit.
    # page-synthesis CTE block (mirrors curation.synthesize_pages) —
    # shared by the c4_filter and tokenizer_fertility oracles
    _page_cte = """base AS (
  SELECT doc_id,
         list_filter(str_split(coalesce(text, ''), ' '), t -> t <> '')
           AS toks
  FROM documents),
ls AS (
  SELECT doc_id,
         list_transform(
           range(1, CAST(ceil(len(toks) / 6.0) AS BIGINT) + 1),
           i -> CASE ((doc_id + i) % 5)
             WHEN 0 THEN
               array_to_string(list_slice(toks, (i-1)*6+1, (i-1)*6+6), ' ')
             WHEN 1 THEN
               array_to_string(list_slice(toks, (i-1)*6+1, (i-1)*6+3), ' ')
                 || '.'
             ELSE
               array_to_string(list_slice(toks, (i-1)*6+1, (i-1)*6+6), ' ')
                 || '.'
           END) AS lines
  FROM base),
pg AS (
  SELECT doc_id,
         -- array_to_string([]) is NULL and would NULL the whole page
         coalesce(array_to_string(lines, chr(10)), '')
         || CASE WHEN doc_id % 17 = 0
                 THEN chr(10) || 'lorem ipsum dolor sit amet today.'
                 ELSE '' END
         || CASE WHEN doc_id % 19 = 0
                 THEN chr(10) || 'var f = function() { return 1; }.'
                 ELSE '' END
         || CASE WHEN doc_id % 23 = 0
                 THEN chr(10) || 'casino jackpot bonus spins here now.'
                 ELSE '' END AS page
  FROM ls)"""
    sql["c4_filter"] = f"""
WITH {_page_cte},
k AS (
  SELECT doc_id, page, str_split(page, chr(10)) AS plines,
         list_filter(str_split(page, chr(10)),
           x -> list_contains(['.', '!', '?', '"'], right(x, 1))
                AND len(str_split(x, ' ')) >= 5) AS kept
  FROM pg),
m AS (
  SELECT doc_id, page,
         CAST(len(plines) AS BIGINT) AS n_lines,
         CAST(len(kept) AS BIGINT) AS n_kept,
         -- DuckDB array_to_string([]) is NULL; Spark array_join([]) is ''
         coalesce(array_to_string(kept, chr(10)), '') AS clean_text,
         contains(page, '{{') AS has_brace,
         contains(lower(page), 'lorem ipsum') AS has_lorem,
         regexp_matches(lower(page), '\\b(casino|jackpot)\\b')
           AS has_badword
  FROM k)
SELECT doc_id, n_lines, n_kept,
       CAST(length(clean_text)
            - length(regexp_replace(clean_text, '[.!?]', '', 'g'))
            AS BIGINT) AS n_sentences,
       has_brace, has_lorem, has_badword,
       (NOT has_brace AND NOT has_lorem AND NOT has_badword
        AND length(clean_text)
            - length(regexp_replace(clean_text, '[.!?]', '', 'g')) >= 3)
         AS accept,
       clean_text
FROM m
"""
    # tokenizer_fertility: subwords-per-word per language over the SAME
    # synthesized pages (the flat corpus is punctuation-free -> 1.0
    # everywhere; the pages carry the punct/code mass the metric measures)
    sql["tokenizer_fertility"] = f"""
WITH {_page_cte},
f AS (
  SELECT d.lang,
         CASE WHEN pg.page IS NULL OR trim(pg.page) = '' THEN 0
              ELSE len(regexp_split_to_array(trim(pg.page), '\\s+')) END
           AS w,
         CASE WHEN pg.page IS NULL THEN 0
              ELSE len(list_filter(
                     regexp_extract_all(pg.page, '{bpe_re_sql}', 1),
                     t -> NOT regexp_matches(t, '^\\s+$'))) END AS s
  FROM pg JOIN documents d USING (doc_id))
SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(w) AS BIGINT) AS n_words,
       CAST(sum(s) AS BIGINT) AS n_subwords,
       round(CASE WHEN sum(w) > 0 THEN sum(s) * 1.0 / sum(w)
             ELSE 0.0 END, 6) AS fertility
FROM f GROUP BY 1
"""
    # intra_doc_dedup: chunk=2 lines, first occurrence per case-folded
    # line kept, original case preserved in the rebuild.
    sql["intra_doc_dedup"] = f"""
WITH tok AS (SELECT doc_id, CASE WHEN text IS NULL OR trim(text) = ''
                  THEN CAST([] AS VARCHAR[]) ELSE {_OTOKS} END AS toks
             FROM documents),
l AS (SELECT doc_id,
        CASE WHEN len(toks) = 0 THEN CAST([] AS VARCHAR[]) ELSE
          [array_to_string(list_slice(toks, i*2+1, i*2+2), ' ')
           for i in range(0, CAST(ceil(len(toks)/2.0) AS INT))]
        END AS lines
      FROM tok),
kk AS (SELECT doc_id, lines,
              list_transform(lines, y -> lower(y)) AS lk FROM l),
kept AS (SELECT doc_id, lines,
                list_filter(lines,
                  (x, i) -> list_position(lk, lower(x)) = i) AS kept
         FROM kk)
SELECT doc_id, CAST(len(lines) AS BIGINT) AS n_lines,
       CAST(len(kept) AS BIGINT) AS n_kept,
       coalesce(array_to_string(kept, ' '), '') AS cleaned_text
FROM kept
"""
    # host_boilerplate: synthesized site chrome (doc_id % 4 != 0 docs get
    # a per-source prefix); k=3 prefix share per site, min_docs=5.
    sql["host_boilerplate"] = """
WITH s AS (
  SELECT doc_id, source AS site,
         CASE WHEN doc_id % 4 <> 0
              THEN 'welcome to ' || source || ' portal ' ||
                   coalesce(text, '')
              ELSE text END AS text
  FROM documents),
p AS (
  SELECT doc_id, site,
         coalesce(lower(array_to_string(list_slice(
           CASE WHEN text IS NULL OR trim(text) = ''
                THEN CAST([] AS VARCHAR[])
                ELSE regexp_split_to_array(trim(text), '\\s+') END,
           1, 3), ' ')), '') AS pfx
  FROM s),
pc AS (SELECT site, pfx, count(*) AS pc FROM p GROUP BY 1, 2),
sc AS (SELECT site, count(*) AS sc FROM p GROUP BY 1)
SELECT p.doc_id, p.site AS site,
       round(pc * 1.0 / sc, 6) AS prefix_share,
       (pc * 1.0 / sc >= 0.5 AND sc >= 5) AS templated
FROM p
JOIN pc ON p.site IS NOT DISTINCT FROM pc.site AND p.pfx = pc.pfx
JOIN sc ON p.site IS NOT DISTINCT FROM sc.site
"""
    # gopher_filter: the six rules re-stated over the same token/bigram
    # lists; every comparison is on an exact integer ratio, so no rounding
    # is needed anywhere for cross-engine agreement.
    sql["gopher_filter"] = f"""
WITH t AS (
  SELECT doc_id, lang, text,
         CASE WHEN text IS NULL OR trim(text) = ''
              THEN CAST([] AS VARCHAR[]) ELSE {_LTOKS} END AS toks
  FROM documents),
b AS (
  SELECT doc_id, lang, text, toks,
         CASE WHEN len(toks) >= 2
              THEN [toks[i] || ' ' || toks[i+1] for i in range(1, len(toks))]
              ELSE CAST([] AS VARCHAR[]) END AS bg
  FROM t),
m AS (
  SELECT doc_id, lang,
    len(toks) AS n,
    len(list_filter(toks, x -> list_contains({_EN_STOP}, x))) AS n_stop,
    CASE WHEN len(toks) > 0
         THEN list_sum(list_transform(toks, x -> length(x)))
         ELSE 0 END AS tok_chars,
    coalesce(length(text), 0) AS n_chars,
    coalesce(length(regexp_replace(text, '[^0-9]', '', 'g')), 0) AS n_digit,
    CASE WHEN len(bg) > 0
         THEN list_max(list_transform(bg,
                x -> len(list_filter(bg, y -> y = x))))
         ELSE 0 END AS top_bg,
    len(list_distinct(toks)) AS n_dist,
    len(bg) AS n_bg
  FROM b)
SELECT doc_id,
  (n >= 10 AND n <= 100000) AS ok_len,
  (n > 0 AND tok_chars * 1.0 / n >= 3.0
         AND tok_chars * 1.0 / n <= 10.0) AS ok_wordlen,
  (lang <> 'en' OR n_stop >= 2) AS ok_stop,
  (n > 0 AND 1.0 - n_dist * 1.0 / n <= 0.5) AS ok_dup_unigram,
  (n_bg = 0 OR top_bg * 1.0 / n_bg <= 0.2) AS ok_top_bigram,
  (n_chars = 0 OR n_digit * 1.0 / n_chars <= 0.2) AS ok_digit,
  ((n >= 10 AND n <= 100000)
   AND (n > 0 AND tok_chars * 1.0 / n >= 3.0 AND tok_chars * 1.0 / n <= 10.0)
   AND (lang <> 'en' OR n_stop >= 2)
   AND (n > 0 AND 1.0 - n_dist * 1.0 / n <= 0.5)
   AND (n_bg = 0 OR top_bg * 1.0 / n_bg <= 0.2)
   AND (n_chars = 0 OR n_digit * 1.0 / n_chars <= 0.2)) AS accept
FROM m
"""
    # hash_lr: same md5 bucket hash and the IDENTICAL double literals for
    # the weight vector; list_reduce folds left-to-right exactly like
    # Spark's aggregate, so margin is bit-identical.
    from pdf_extractor_spark.operators.textstats import (
        HASH_LR_BUCKETS,
        hash_lr_weights,
    )

    _w_sql = "[" + ", ".join(repr(x) for x in hash_lr_weights()) + "]"
    sql["hash_lr"] = f"""
WITH w AS (SELECT CAST({_w_sql} AS DOUBLE[]) AS wv),
t AS (
  SELECT doc_id,
         CASE WHEN text IS NULL OR trim(text) = ''
              THEN CAST([] AS VARCHAR[]) ELSE {_LTOKS} END AS toks
  FROM documents),
m AS (
  SELECT doc_id, len(toks) AS n,
         list_reduce(
           list_prepend(CAST(0.0 AS DOUBLE),
             list_transform(toks, tk ->
               wv[CAST(CAST('0x' || substr(md5(tk), 1, 15) AS BIGINT)
                       % {HASH_LR_BUCKETS} AS INT) + 1])),
           (acc, x) -> acc + x) AS margin
  FROM t CROSS JOIN w)
SELECT doc_id,
       CAST(n AS INT) AS n_tokens,
       round(margin, 6) AS margin,
       round(margin / nullif(n, 0), 6) AS score,
       (margin > 0) AS accept
FROM m
"""
    # train_hash_lr / hash_lr_trained / model_accuracy: the trained
    # integer centroid-difference weights over distinct-token features
    # recomputed in SQL — counts, weights, and per-doc margins are exact
    # integers (sums are order-free), and the trained midpoint threshold
    # compares in double arithmetic with the identical expression shape,
    # so both engines agree bit-for-bit with no transcendentals.
    _tr_cte = f"""
lab AS (
  SELECT doc_id, regexp_matches(coalesce(text, ''), '\\bspark\\b') AS y,
         list_distinct(CASE WHEN text IS NULL OR trim(text) = ''
              THEN CAST([] AS VARCHAR[]) ELSE {_LTOKS} END) AS toks
  FROM documents),
occ AS (
  SELECT y, CAST(CAST('0x' || substr(md5(tok), 1, 15) AS BIGINT)
                 % {HASH_LR_BUCKETS} AS INT) AS bucket
  FROM (SELECT y, unnest(toks) AS tok FROM lab)),
cnt AS (
  SELECT bucket,
         CAST(sum(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
         CAST(sum(CASE WHEN NOT y THEN 1 ELSE 0 END) AS BIGINT) AS n_neg
  FROM occ GROUP BY 1),
tot AS (SELECT CAST(sum(n_pos) AS BIGINT) AS p,
               CAST(sum(n_neg) AS BIGINT) AS n FROM cnt),
tw AS (
  SELECT CAST(b.range AS INT) AS bucket,
         coalesce(c.n_pos, 0) AS n_pos, coalesce(c.n_neg, 0) AS n_neg,
         CAST(coalesce(c.n_pos, 0) * t.n - coalesce(c.n_neg, 0) * t.p
              AS BIGINT) AS weight
  FROM range({HASH_LR_BUCKETS}) b
  LEFT JOIN cnt c ON b.range = c.bucket
  CROSS JOIN tot t)"""
    sql["train_hash_lr"] = (
        f"WITH {_tr_cte} SELECT bucket, n_pos, n_neg, weight FROM tw"
    )
    _tr_margin = f"""
wv AS (SELECT list(CAST(weight AS DOUBLE) ORDER BY bucket) AS wv FROM tw),
m AS (
  SELECT doc_id, y, len(toks) AS n,
         list_reduce(
           list_prepend(CAST(0.0 AS DOUBLE),
             list_transform(toks, tk ->
               wv.wv[CAST(CAST('0x' || substr(md5(tk), 1, 15) AS BIGINT)
                          % {HASH_LR_BUCKETS} AS INT) + 1])),
           (acc, x) -> acc + x) AS margin
  FROM lab CROSS JOIN wv),
st AS (
  SELECT sum(CASE WHEN y THEN margin END) AS sp,
         sum(CASE WHEN NOT y THEN margin END) AS sn,
         CAST(sum(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS cp,
         CAST(sum(CASE WHEN NOT y THEN 1 ELSE 0 END) AS BIGINT) AS cn
  FROM m),
p AS (
  SELECT m.doc_id, m.y, m.n, m.margin,
         m.margin > (CASE WHEN st.cp > 0 AND st.cn > 0
                          THEN (st.sp * st.cn + st.sn * st.cp)
                               / (2.0 * st.cp * st.cn)
                          ELSE 0.0 END) AS pred
  FROM m CROSS JOIN st)"""
    sql["hash_lr_trained"] = f"""
WITH {_tr_cte},
{_tr_margin}
SELECT doc_id, CAST(n AS INT) AS n_tokens, round(margin, 6) AS margin,
       pred, y AS label, (pred = y) AS correct
FROM p
"""
    sql["curriculum_order"] = f"""
WITH q AS ({{quality}}),
r AS (
  SELECT doc_id, quality,
         CAST(row_number() OVER (ORDER BY quality DESC, doc_id)
              AS BIGINT) AS pos
  FROM q)
SELECT doc_id, quality, pos, CAST((pos - 1) % 8 AS INT) AS shard FROM r
""".format(quality=sql["quality_score"])
    sql["lattice_vocab"], sql["lattice_encode"] = _lattice_sql()
    sql["model_accuracy"] = f"""
WITH {_tr_cte},
{_tr_margin}
SELECT CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS n_pos_label,
       CAST(sum(CASE WHEN pred = y THEN 1 ELSE 0 END) AS BIGINT)
         AS n_correct,
       round(CAST(sum(CASE WHEN pred = y THEN 1 ELSE 0 END)
                  AS DOUBLE) / count(*), 6) + 0.0 AS accuracy
FROM p
"""
    # roc_auc: Mann-Whitney rank-sum with tie correction over the same
    # trained margins — per-margin class counts, strictly-below negative
    # cumulative, exact integer pair counts, ONE final double division
    # (2U + T) / (2 P N) in the identical expression shape.
    sql["roc_auc"] = f"""
WITH {_tr_cte},
{_tr_margin},
g AS (
  SELECT margin,
         CAST(sum(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS p_m,
         CAST(sum(CASE WHEN NOT y THEN 1 ELSE 0 END) AS BIGINT) AS n_m
  FROM m GROUP BY margin),
cum AS (
  SELECT margin, p_m, n_m,
         coalesce(sum(n_m) OVER (ORDER BY margin
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
           0) AS n_below
  FROM g),
a AS (
  SELECT CAST(sum(p_m * n_below) AS BIGINT) AS u,
         CAST(sum(p_m * n_m) AS BIGINT) AS t,
         CAST(sum(p_m) AS BIGINT) AS n_pos,
         CAST(sum(n_m) AS BIGINT) AS n_neg
  FROM cum)
SELECT n_pos, n_neg, t AS tie_pairs,
       CASE WHEN n_pos > 0 AND n_neg > 0
            THEN (2 * u + t) / (2.0 * n_pos * n_neg) END AS auc
FROM a
"""
    # wordpiece_encode: identical greedy longest-match walk as a
    # recursive CTE — one recursion step per emitted piece; the CASE
    # chain checks piece lengths 8..1 (first match wins = longest), and
    # substr past the word end truncates in both engines.
    from pdf_extractor_spark.operators.textstats import WORDPIECE_VOCAB

    _wp_v = "[" + ", ".join(
        "'" + p + "'" for p in sorted(set(WORDPIECE_VOCAB))
    ) + "]"
    _wp_bl = "CASE " + " ".join(
        f"WHEN list_contains({_wp_v}, substr(word, nxt, {l})) THEN {l}"
        for l in range(8, 0, -1)
    ) + " ELSE 0 END"
    sql["wordpiece_encode"] = f"""
WITH RECURSIVE words AS (
  SELECT tok AS word, CAST(count(*) AS BIGINT) AS n_occurrences
  FROM (
    SELECT unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS tok
    FROM documents WHERE text IS NOT NULL AND trim(text) <> '')
  WHERE tok <> '' GROUP BY 1),
walk AS (
  SELECT word, n_occurrences, 1 AS nxt, '' AS pieces, 0 AS n FROM words
  UNION ALL
  SELECT word, n_occurrences,
         nxt + greatest(bl, 1) AS nxt,
         CASE WHEN pieces = '' THEN piece
              ELSE pieces || ' ' || piece END AS pieces,
         n + 1 AS n
  FROM (
    SELECT word, n_occurrences, nxt, pieces, n, bl,
           CASE WHEN bl > 0 THEN substr(word, nxt, bl)
                ELSE '[UNK]' END AS piece
    FROM (SELECT *, {_wp_bl} AS bl FROM walk)
  ) s
  WHERE nxt <= length(word))
SELECT word, n_occurrences, pieces, CAST(n AS INT) AS n_pieces
FROM walk WHERE nxt > length(word)
"""
    # k_anonymity: equivalence-class occupancy over the quasi tuple;
    # NULLs group together in both engines.
    sql["k_anonymity"] = """
SELECT lang, source,
       CAST(floor(n_chars / 100) AS INT) AS len_bucket,
       CAST(count(*) AS BIGINT) AS k_count,
       count(*) < 5 AS at_risk
FROM documents GROUP BY 1, 2, 3
"""
    # entity_mentions: same position-keyed capitalization synthesis
    # (DuckDB list_transform's (x, i) index is 1-based, Spark's is
    # 0-based: (i-1) % 7), islands + ORDER BY pos string_agg, corpus
    # rollup with the min_count=2 hapax prune.
    sql["entity_mentions"] = r"""
WITH caps AS (
  SELECT doc_id,
         CASE WHEN text IS NULL OR trim(text) = ''
              THEN CAST([] AS VARCHAR[])
              ELSE list_transform(
                regexp_split_to_array(trim(text), '\s+'),
                (t, i) -> CASE WHEN (i - 1) % 7 < 2
                               THEN upper(substr(t, 1, 1)) || substr(t, 2)
                               ELSE t END)
         END AS tk
  FROM documents),
toks AS (
  SELECT doc_id, generate_subscripts(tk, 1) - 1 AS pos, unnest(tk) AS tok
  FROM caps),
cap AS (SELECT * FROM toks WHERE regexp_matches(tok, '^[A-Z][a-z]+$')),
g AS (
  SELECT doc_id, pos, tok,
         pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
  FROM cap),
m AS (
  SELECT doc_id, grp, string_agg(tok, ' ' ORDER BY pos) AS mention,
         CAST(count(*) AS INT) AS mention_len
  FROM g GROUP BY 1, 2)
SELECT mention, mention_len,
       CAST(count(*) AS BIGINT) AS n_mentions,
       CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
FROM m GROUP BY 1, 2 HAVING count(*) >= 2
"""
    # calibration_bins: the hash_lr oracle composed as a CTE (same
    # round-6 score), fixed [-1,1] deciles + the NULL-score bin, pure
    # integer counts.
    sql["calibration_bins"] = f"""
WITH h AS ({sql["hash_lr"]}),
j AS (
  SELECT h.score, h.accept, d.n_chars >= 400 AS gold
  FROM h JOIN documents d USING (doc_id)),
b AS (
  SELECT CASE WHEN score IS NULL THEN -1
              ELSE least(greatest(CAST(floor((score + 1.0) * 5.0) AS INT),
                                  0), 9) END AS bin,
         CAST(accept AS INT) AS a, CAST(gold AS INT) AS g
  FROM j)
SELECT CAST(bin AS INT) AS bin,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(a) AS BIGINT) AS n_accept,
       CAST(sum(g) AS BIGINT) AS n_gold,
       CAST(sum(a * g) AS BIGINT) AS n_both
FROM b GROUP BY 1
"""
    # curation_funnel: the two filter oracles composed verbatim as CTEs
    # (their inner WITHs nest and shadow), joined back to documents for
    # the digest; counts cast to BIGINT for dtype-exact hashing.
    sql["curation_funnel"] = f"""
WITH g AS ({sql["gopher_filter"]}),
h AS ({sql["hash_lr"]}),
j AS (
  SELECT d.doc_id, d.text, g.accept AS q_ok, h.accept AS lr_ok
  FROM documents d JOIN g USING (doc_id) JOIN h USING (doc_id))
SELECT CAST(count(*) AS BIGINT) AS n_input,
       CAST(count(*) FILTER (WHERE q_ok) AS BIGINT) AS n_quality,
       CAST(count(*) FILTER (WHERE q_ok AND lr_ok) AS BIGINT)
         AS n_classifier,
       CAST(count(DISTINCT CASE WHEN q_ok AND lr_ok THEN md5(text) END)
            AS BIGINT) AS n_unique
FROM j
"""
    # incremental_dedup: same md5 digests; DuckDB's ANTI JOIN mirrors the
    # left_anti exactly.
    sql["incremental_dedup"] = """
WITH seen AS (
  SELECT DISTINCT md5(text) AS digest FROM documents
  WHERE CAST(substr(source, 4) AS INT) < 10),
b AS (
  SELECT md5(text) AS digest, min(doc_id) AS doc_id
  FROM documents GROUP BY 1)
SELECT b.digest, b.doc_id FROM b ANTI JOIN seen USING (digest)
"""
    # lm_perplexity: add-1 bigram model rebuilt in SQL — first token by
    # unigram, the rest by bigram; same double arithmetic, round-6/-4 on
    # the per-doc mean (the token_entropy precedent: 6-dp rounding absorbs
    # cross-engine sum-order noise in ln-space).
    _lm_ctes = f"""
WITH toks AS (
  SELECT doc_id, {_LTOKS} AS t FROM documents
  WHERE text IS NOT NULL AND trim(text) <> ''),
uni AS (
  SELECT w, count(*) AS cw
  FROM (SELECT unnest(t) AS w FROM toks) GROUP BY 1),
tot AS (SELECT CAST(sum(cw) AS DOUBLE) AS N,
               CAST(count(*) AS DOUBLE) AS V FROM uni),
pairs AS (
  SELECT doc_id, t[g.i] AS w1, t[g.i + 1] AS w2
  FROM toks, LATERAL (SELECT unnest(range(1, len(t))) AS i) g),
bi AS (SELECT w1, w2, count(*) AS cb FROM pairs GROUP BY 1, 2),
first AS (
  SELECT doc_id, ln((cw + 1.0) / (N + 1.0 * V)) AS logp
  FROM (SELECT doc_id, t[1] AS w FROM toks) f
  JOIN uni USING (w), tot),
rest AS (
  SELECT p.doc_id, ln((cb + 1.0) / (cw + 1.0 * V)) AS logp
  FROM pairs p JOIN bi USING (w1, w2) JOIN uni ON uni.w = p.w1, tot),
scored AS (
  SELECT doc_id, count(*) AS n, -sum(logp) / count(*) AS h
  FROM (SELECT * FROM first UNION ALL SELECT * FROM rest) GROUP BY 1),
lmout AS (
  SELECT d.doc_id,
         CAST(coalesce(n, 0) AS BIGINT) AS n_tokens,
         coalesce(round(h, 6), 0.0) AS cross_entropy,
         coalesce(round(exp(h), 4), 1.0) AS perplexity
  FROM documents d LEFT JOIN scored USING (doc_id))"""
    sql["lm_perplexity"] = (
        _lm_ctes
        + "\nSELECT doc_id, n_tokens, cross_entropy, perplexity FROM lmout\n"
    )
    # quality_tiers: per-language ntile over the ROUNDED cross-entropy
    # (the value lm_perplexity proves bit-stable cross-engine) with doc_id
    # tie-break, so bucket edges cannot flip on last-ulp differences.
    sql["quality_tiers"] = (
        _lm_ctes
        + """,
ranked AS (
  SELECT d.lang, lmout.perplexity,
         ntile(3) OVER (PARTITION BY d.lang
                        ORDER BY lmout.cross_entropy, lmout.doc_id) AS tier
  FROM lmout JOIN documents d USING (doc_id))
SELECT lang, CAST(tier AS INT) AS tier, CAST(count(*) AS BIGINT) AS n_docs,
       min(perplexity) AS min_ppl, max(perplexity) AS max_ppl
FROM ranked GROUP BY 1, 2
"""
    )
    # pagerank_hosts: rebuild the same synthetic host graph and unroll the
    # 3 damped power iterations as chained CTEs.
    _pr_tgt = (
        "'src' || CAST((doc_id * {a} + {b}) % 20 AS VARCHAR) "
        "|| '.example.com'"
    )
    _pr_arm = (
        "SELECT source || '.example.com' AS src, "
        + _pr_tgt
        + " AS dst FROM documents"
    )
    _pr_step = """
c{k} AS (
  SELECT e.dst AS node, sum(r{j}.rank / od.od) AS contrib
  FROM e JOIN r{j} ON e.src = r{j}.node JOIN od ON e.src = od.node
  GROUP BY 1),
r{k} AS (
  SELECT nn.node, nn.N, 0.15 / nn.N + 0.85 * coalesce(c{k}.contrib, 0.0)
           AS rank
  FROM nn LEFT JOIN c{k} USING (node)),"""
    _pr_edges = (
        "WITH e AS (\n  SELECT DISTINCT src, dst FROM ("
        + " UNION ".join(
            _pr_arm.format(a=a, b=b) for a, b in ((3, 1), (7, 2), (11, 5))
        )
        + ") WHERE src <> dst),\n"
    )
    sql["pagerank_hosts"] = (
        _pr_edges
        + "nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),\n"
        + "nn AS (SELECT node, (SELECT CAST(count(*) AS DOUBLE) FROM nodes)"
        + " AS N FROM nodes),\n"
        + "od AS (SELECT src AS node, CAST(count(*) AS DOUBLE) AS od"
        + " FROM e GROUP BY 1),\n"
        + "r0 AS (SELECT node, N, 1.0 / N AS rank FROM nn),"
        + "".join(_pr_step.format(k=k, j=k - 1) for k in (1, 2, 3)).rstrip(
            ","
        )
        + "\nSELECT node AS host, round(rank, 6) AS rank FROM r3"
    )
    # crawl_frontier: 2 unrolled BFS rounds over the same edge CTE, hops =
    # first round a node is reached.
    sql["crawl_frontier"] = (
        _pr_edges
        + """
h0 AS (SELECT 'src0.example.com' AS node, 0 AS hops
       UNION SELECT 'src1.example.com', 0),
f1 AS (
  SELECT DISTINCT e.dst AS node FROM e JOIN h0 ON e.src = h0.node
  WHERE e.dst NOT IN (SELECT node FROM h0)),
h1 AS (SELECT node, hops FROM h0 UNION ALL SELECT node, 1 FROM f1),
f2 AS (
  SELECT DISTINCT e.dst AS node FROM e JOIN f1 ON e.src = f1.node
  WHERE e.dst NOT IN (SELECT node FROM h1))
SELECT node, CAST(hops AS INT) AS hops FROM h1
UNION ALL SELECT node, 2 FROM f2
"""
    )
    # triangle_hosts: canonical a<b<c three-way closure over the same edge
    # CTE — the degree orientation is a Spark-side efficiency device, the
    # triangle SET is identical either way.
    sql["triangle_hosts"] = (
        _pr_edges
        + """
und AS (SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
        FROM e),
deg AS (SELECT node, count(*) AS degree FROM
        (SELECT u AS node FROM und UNION ALL SELECT v FROM und)
        GROUP BY 1),
tri AS (SELECT e1.u AS a, e1.v AS b, e2.v AS c
        FROM und e1 JOIN und e2 ON e1.v = e2.u
        JOIN und e3 ON e3.u = e1.u AND e3.v = e2.v),
per AS (SELECT node, count(*) AS triangles FROM
        (SELECT a AS node FROM tri UNION ALL SELECT b FROM tri
         UNION ALL SELECT c FROM tri) GROUP BY 1)
SELECT deg.node AS host, CAST(degree AS BIGINT) AS degree,
       CAST(coalesce(triangles, 0) AS BIGINT) AS triangles
FROM deg LEFT JOIN per USING (node)
"""
    )
    # ngram_lm: same bigram construction as the lm_perplexity oracle, plus
    # the prefix-total window and the fully tie-broken top-50.
    sql["ngram_lm"] = f"""
WITH toks AS (
  SELECT {_LTOKS} AS t FROM documents
  WHERE text IS NOT NULL AND trim(text) <> ''),
pairs AS (
  SELECT t[g.i] AS w1, t[g.i + 1] AS w2
  FROM toks, LATERAL (SELECT unnest(range(1, len(t))) AS i) g),
bi AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12
       FROM pairs GROUP BY 1, 2),
wi AS (SELECT *, CAST(sum(c12) OVER (PARTITION BY w1) AS BIGINT) AS c1
       FROM bi)
SELECT w1, w2, c12, c1, round(CAST(c12 AS DOUBLE) / c1, 6) AS p
FROM wi ORDER BY c12 DESC, w1, w2 LIMIT 50
"""
    # kn_bigram_lm: same bigram construction; context (c1, n_follow) /
    # continuation (n_prec) / type-total (B) tables all derive from `bi`,
    # and the d=3/4 interpolated-KN probability is ONE integer division
    # rebuilt expression-for-expression (greatest/round shapes shared).
    sql["kn_bigram_lm"] = f"""
WITH toks AS (
  SELECT {_LTOKS} AS t FROM documents
  WHERE text IS NOT NULL AND trim(text) <> ''),
pairs AS (
  SELECT t[g.i] AS w1, t[g.i + 1] AS w2
  FROM toks, LATERAL (SELECT unnest(range(1, len(t))) AS i) g),
bi AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12
       FROM pairs GROUP BY 1, 2),
ctx AS (SELECT w1, CAST(sum(c12) AS BIGINT) AS c1,
               CAST(count(*) AS BIGINT) AS n_follow
        FROM bi GROUP BY 1),
prec AS (SELECT w2, CAST(count(*) AS BIGINT) AS n_prec FROM bi GROUP BY 1),
btot AS (SELECT CAST(count(*) AS BIGINT) AS B FROM bi),
top AS (SELECT w1, w2, c12 FROM bi ORDER BY c12 DESC, w1, w2 LIMIT 50)
SELECT CAST(row_number() OVER (ORDER BY c12 DESC, w1, w2) AS INT) AS rank,
       w1, w2, c12, c1, n_follow, n_prec,
       round((greatest(4 * c12 - 3, 0) * B
              + 3 * n_follow * n_prec) / (4.0 * c1 * B), 6) + 0.0 AS p_kn
FROM top JOIN ctx USING (w1) JOIN prec USING (w2), btot
"""
    # kn_perplexity: the scoring half — every transition joined back on
    # the same model CTEs, mean -ln p per doc (lm_perplexity's round-6/-4
    # convention; docs with < 2 tokens score (0, 0.0, 1.0))
    sql["kn_perplexity"] = f"""
WITH toks AS (
  SELECT doc_id, {_LTOKS} AS t FROM documents
  WHERE text IS NOT NULL AND trim(text) <> ''),
pairs AS (
  SELECT doc_id, t[g.i] AS w1, t[g.i + 1] AS w2
  FROM toks, LATERAL (SELECT unnest(range(1, len(t))) AS i) g),
bi AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12
       FROM pairs GROUP BY 1, 2),
ctx AS (SELECT w1, CAST(sum(c12) AS BIGINT) AS c1,
               CAST(count(*) AS BIGINT) AS n_follow
        FROM bi GROUP BY 1),
prec AS (SELECT w2, CAST(count(*) AS BIGINT) AS n_prec FROM bi GROUP BY 1),
btot AS (SELECT CAST(count(*) AS BIGINT) AS B FROM bi),
scored AS (
  SELECT p.doc_id,
         ln((greatest(4 * c12 - 3, 0) * B + 3 * n_follow * n_prec)
            / (4.0 * c1 * B)) AS logp
  FROM pairs p JOIN bi USING (w1, w2) JOIN ctx USING (w1)
       JOIN prec USING (w2), btot),
per_doc AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_trans,
         -sum(logp) / count(*) AS h
  FROM scored GROUP BY 1)
SELECT d.doc_id,
       coalesce(n_trans, 0) AS n_trans,
       coalesce(round(h, 6), 0.0) + 0.0 AS kn_cross_entropy,
       coalesce(round(exp(h), 4), 1.0) + 0.0 AS kn_perplexity
FROM documents d LEFT JOIN per_doc USING (doc_id)
"""
    # stupid_backoff_score: trigram Stupid Backoff with the even/odd
    # train/score split — identical count tables, identical left-assoc
    # double arithmetic in the backoff CASE, mean ln S rounded 6 dp.
    sql["stupid_backoff_score"] = f"""
WITH ttoks AS (
  SELECT {_LTOKS} AS t FROM documents
  WHERE doc_id % 2 = 0 AND text IS NOT NULL AND trim(text) <> ''),
sbuni AS (
  SELECT w3, count(*) AS c3u
  FROM (SELECT unnest(t) AS w3 FROM ttoks) GROUP BY 1),
sbtot AS (SELECT CAST(sum(c3u) AS DOUBLE) AS N FROM sbuni),
sbbi AS (
  SELECT t[g.i] AS w2, t[g.i + 1] AS w3, count(*) AS c23
  FROM ttoks, LATERAL (SELECT unnest(range(1, len(t))) AS i) g
  GROUP BY 1, 2),
sbbctx AS (SELECT w2, sum(c23) AS c2 FROM sbbi GROUP BY 1),
sbtri AS (
  SELECT t[g.i] AS w1, t[g.i + 1] AS w2, t[g.i + 2] AS w3,
         count(*) AS c123
  FROM ttoks, LATERAL (SELECT unnest(range(1, len(t) - 1)) AS i) g
  GROUP BY 1, 2, 3),
sbtctx AS (SELECT w1, w2, sum(c123) AS c12 FROM sbtri GROUP BY 1, 2),
sbpos AS (
  SELECT doc_id, t[g.i] AS w1, t[g.i + 1] AS w2, t[g.i + 2] AS w3
  FROM (SELECT doc_id, {_LTOKS} AS t FROM documents
        WHERE doc_id % 2 = 1 AND text IS NOT NULL
          AND trim(text) <> '') s,
       LATERAL (SELECT unnest(range(1, len(t) - 1)) AS i) g),
sbsc AS (
  SELECT p.doc_id,
         ln(CASE WHEN sbtri.c123 IS NOT NULL
                   THEN sbtri.c123 / sbtctx.c12
                 WHEN sbbi.c23 IS NOT NULL
                   THEN 0.4 * sbbi.c23 / sbbctx.c2
                 WHEN sbuni.c3u IS NOT NULL
                   THEN 0.4 * 0.4 * sbuni.c3u / sbtot.N
                 ELSE 0.4 * 0.4 / sbtot.N END) AS lns
  FROM sbpos p
  LEFT JOIN sbtri ON sbtri.w1 = p.w1 AND sbtri.w2 = p.w2
                 AND sbtri.w3 = p.w3
  LEFT JOIN sbtctx ON sbtctx.w1 = p.w1 AND sbtctx.w2 = p.w2
  LEFT JOIN sbbi ON sbbi.w2 = p.w2 AND sbbi.w3 = p.w3
  LEFT JOIN sbbctx ON sbbctx.w2 = p.w2
  LEFT JOIN sbuni ON sbuni.w3 = p.w3
  CROSS JOIN sbtot)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_trigrams,
       round(sum(lns) / count(*), 6) + 0.0 AS avg_logscore
FROM sbsc GROUP BY 1
"""
    # global_shuffle: the oracle IS the naive global ranking; the Spark
    # side's sharded two-level positions must reproduce it exactly because
    # the shard is the md5 key's hex prefix.
    shuf_key = "md5('shuf1_' || CAST(doc_id AS VARCHAR))"
    sql["global_shuffle"] = f"""
SELECT doc_id,
       CAST(CAST('0x' || substr({shuf_key}, 1, 2) AS BIGINT) AS INT) AS shard,
       CAST(row_number() OVER (ORDER BY {shuf_key}, doc_id) AS BIGINT)
           AS shuffle_pos
FROM documents
"""
    # html family: rebuild the synthesized page, the noise strip, the block
    # split, and the per-block features in DuckDB with the SAME pattern
    # strings (Java-regex ∩ RE2 subset; constants shared with operators/
    # html.py). Indexes assigned after the nonempty filter on both sides so
    # engine differences in empty-fragment emission cannot diverge.
    from pdf_extractor_spark.operators.html import (
        ANCHOR_RE,
        BLOCK_SPLIT_RE,
        INLINE_TAG_RE,
        LINK_RE,
        WS_RE,
    )

    _clean_txt = (
        "trim(regexp_replace(regexp_replace({src}, '" + INLINE_TAG_RE
        + "', ' ', 'g'), '" + WS_RE + "', ' ', 'g'))"
    )
    _html_cte = f"""
WITH base AS (
  SELECT doc_id, coalesce(text, '') AS t, coalesce(source, '') AS src,
         length(coalesce(text, '')) AS n
  FROM documents{{pred}}),
page AS (
  SELECT doc_id,
    '<html><head><title>' || src || ' #' || CAST(doc_id AS VARCHAR) ||
    '</title><style>body{{{{margin:0}}}}</style><script>var d=' ||
    CAST(doc_id AS VARCHAR) ||
    ';</script></head><body><header><h1>' || src ||
    ' portal</h1><nav><a href="/">home</a> <a href="/archive">archive</a> <a href="/tags">tags</a>' ||
    CASE WHEN doc_id % 3 = 0 THEN '<a href="/x">extra reading</a>' ELSE '' END ||
    '</nav></header><!-- build ' || CAST(doc_id AS VARCHAR) || ' -->' ||
    '<aside><ul><li><a href="/r/1">related item ' ||
    CAST(doc_id % 7 AS VARCHAR) ||
    '</a></li><li><a href="/s/' || src || '">more from ' || src ||
    '</a></li></ul></aside><div class="ad">sponsored links</div>' ||
    '<article><h2>document ' || CAST(doc_id AS VARCHAR) || '</h2><p>' ||
    substring(t, 1, greatest(CAST(floor(n / 2) AS INT), 1)) || '</p><p>' ||
    substring(t, greatest(CAST(floor(n / 2) AS INT), 1) + 1, n) ||
    '</p></article>' ||
    '<div class="share"><a href="/share">share</a> <a href="/like">like</a></div>' ||
    '<footer><p>copyright ' || src ||
    ' - <a href="/privacy">privacy</a> <a href="/contact">contact</a></p></footer>' ||
    '</body></html>' AS html
  FROM base)
"""
    _strip_sql = (
        "regexp_replace(regexp_replace(regexp_replace(regexp_replace(html, "
        "'(?is)<script(?:\\s[^>]*)?>.*?</script>', ' ', 'g'), "
        "'(?is)<style(?:\\s[^>]*)?>.*?</style>', ' ', 'g'), "
        "'(?is)<noscript(?:\\s[^>]*)?>.*?</noscript>', ' ', 'g'), "
        "'(?s)<!--.*?-->', ' ', 'g')"
    )
    _page_sql = _html_cte.rstrip()

    def _html_oracle(pred: str, final_select: str) -> str:
        return (
            _page_sql.format(pred=pred)
            + f""",
frags AS (
  SELECT doc_id,
         string_split_regex({_strip_sql}, '{BLOCK_SPLIT_RE}') AS frag
  FROM page),
s1 AS (
  SELECT doc_id, list_transform(frag, b -> struct_pack(
           raw := b, txt := {_clean_txt.format(src='b')})) AS l
  FROM frags),
s2 AS (
  SELECT doc_id, list_transform(l, s -> struct_pack(
           txt := s.txt,
           text_len := CAST(length(s.txt) AS INT),
           link_len := CAST(coalesce(list_sum(list_transform(
             regexp_extract_all(s.raw, '{ANCHOR_RE}', 1),
             a -> length({_clean_txt.format(src='a')}))), 0) AS INT))) AS l
  FROM s1),
s3 AS (
  SELECT doc_id, list_filter(l, s -> s.text_len > 0) AS l FROM s2)
{final_select}"""
        )

    sql["html_main_content"] = _html_oracle(
        "",
        """,
agg AS (
  SELECT doc_id,
    coalesce(array_to_string(list_transform(list_filter(l,
      s -> s.text_len >= 25 AND CAST(s.link_len AS DOUBLE) <= 0.33 * s.text_len),
      s -> s.txt), chr(10)), '') AS main_text,
    CAST(len(l) AS BIGINT) AS n_blocks,
    CAST(len(list_filter(l,
      s -> s.text_len >= 25 AND CAST(s.link_len AS DOUBLE) <= 0.33 * s.text_len))
      AS BIGINT) AS n_kept,
    CAST(coalesce(list_sum(list_transform(list_filter(l,
      s -> s.text_len >= 25 AND CAST(s.link_len AS DOUBLE) <= 0.33 * s.text_len),
      s -> s.text_len)), 0) AS BIGINT) AS kept_len,
    CAST(coalesce(list_sum(list_transform(l, s -> s.text_len)), 0) AS BIGINT)
      AS total_len
  FROM s3)
SELECT doc_id, main_text, n_blocks, n_kept, kept_len, total_len,
       round(CASE WHEN total_len > 0
                  THEN 1.0 - CAST(kept_len AS DOUBLE) / total_len
                  ELSE 0.0 END, 6) AS boiler_ratio
FROM agg""",
    )
    sql["html_blocks"] = _html_oracle(
        " WHERE doc_id % 17 = 0",
        """,
ex AS (
  SELECT doc_id,
         unnest(list_transform(l, (s, i) -> struct_pack(i := i, s := s))) AS u
  FROM s3)
SELECT doc_id,
       CAST(u.i - 1 AS INT) AS block_idx,
       u.s.txt AS txt,
       u.s.text_len AS text_len,
       u.s.link_len AS link_len,
       round(CAST(u.s.link_len AS DOUBLE) / u.s.text_len, 6) AS link_density,
       (u.s.text_len >= 25 AND
        CAST(u.s.link_len AS DOUBLE) <= 0.33 * u.s.text_len) AS keep
FROM ex""",
    )
    # html_links: same rebuilt page, both capture groups of LINK_RE, anchor
    # text cleaned with the shared inline-tag + whitespace collapse.
    sql["html_links"] = (
        _page_sql.format(pred="")
        + f""",
l AS (
  SELECT doc_id,
         regexp_extract_all(html, '{LINK_RE}', 1) AS hrefs,
         regexp_extract_all(html, '{LINK_RE}', 2) AS texts
  FROM page),
ex AS (
  SELECT doc_id,
         unnest(list_transform(hrefs, (h, i) -> struct_pack(
           i := i, h := h, a := {_clean_txt.format(src='texts[i]')}))) AS u
  FROM l)
SELECT doc_id, CAST(u.i - 1 AS INT) AS link_idx, u.h AS href, u.a AS anchor
FROM ex"""
    )
    # anchor_text_index: aggregate the same link extraction; arg_min on
    # the (-count, anchor) pair mirrors Spark's min_by struct key.
    sql["anchor_text_index"] = (
        _page_sql.format(pred="")
        + f""",
l AS (
  SELECT doc_id,
         regexp_extract_all(html, '{LINK_RE}', 1) AS hrefs,
         regexp_extract_all(html, '{LINK_RE}', 2) AS texts
  FROM page),
ex AS (
  SELECT doc_id,
         unnest(list_transform(hrefs, (h, i) -> struct_pack(
           h := h, a := {_clean_txt.format(src='texts[i]')}))) AS u
  FROM l),
links AS (SELECT doc_id, u.h AS href, u.a AS anchor FROM ex),
per AS (SELECT href, anchor, count(*) AS c FROM links GROUP BY 1, 2),
ranked AS (
  SELECT href, anchor, c,
         row_number() OVER (PARTITION BY href
                            ORDER BY c DESC, anchor) AS rn,
         sum(c) OVER (PARTITION BY href) AS tot
  FROM per),
top AS (
  SELECT href, CAST(tot AS BIGINT) AS n_links, anchor AS top_anchor
  FROM ranked WHERE rn = 1),
dd AS (SELECT href, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
       FROM links GROUP BY 1)
SELECT top.href, n_links, n_docs, top_anchor FROM top JOIN dd USING (href)
"""
    )
    # host_quota_sample: identical md5 rank key in SQL.
    sql["host_quota_sample"] = """
SELECT doc_id, source AS host,
       CAST(row_number() OVER (
         PARTITION BY source
         ORDER BY md5('hq1_' || CAST(doc_id AS VARCHAR)), doc_id
       ) AS INT) AS host_rank,
       CAST(row_number() OVER (
         PARTITION BY source
         ORDER BY md5('hq1_' || CAST(doc_id AS VARCHAR)), doc_id
       ) AS INT) <= 20 AS kept
FROM documents
"""
    # layout family: rebuild the deterministic box corpus, then recover
    # reading order with the same midline rule via SQL windows.
    _boxes_cte = """
WITH base AS (
  SELECT doc_id, coalesce(text, '') AS t, length(coalesce(text, '')) AS n
  FROM documents),
ks AS (SELECT unnest([0, 1, 2, 3, 4]) AS k),
boxes AS (
  SELECT doc_id, CAST(k AS INT) AS box_id,
    CASE WHEN doc_id % 2 = 0 THEN (k % 2) * 320.0 ELSE 0.0 END AS x,
    CASE WHEN doc_id % 2 = 0 THEN (k // 2) * 100.0 ELSE k * 100.0 END AS y,
    CASE WHEN doc_id % 2 = 0 THEN 300.0 ELSE 640.0 END AS w,
    80.0 AS h,
    substring(t, 1 + k * 40, 40) AS text
  FROM base, ks WHERE n > k * 40),
m AS (
  SELECT *, (min(x) OVER (PARTITION BY doc_id)
             + max(x + w) OVER (PARTITION BY doc_id)) / 2.0 AS mid
  FROM boxes),
ranked AS (
  SELECT doc_id, box_id, x, y, text,
         CAST(x + w / 2.0 > mid AS INT) AS col_idx,
         CAST(row_number() OVER (
           PARTITION BY doc_id
           ORDER BY CAST(x + w / 2.0 > mid AS INT), y, x) AS INT) AS rank
  FROM m)"""
    sql["layout_order"] = (
        _boxes_cte
        + "\nSELECT doc_id, box_id, x, y, col_idx, rank FROM ranked"
    )
    sql["layout_text"] = (
        _boxes_cte
        + """
SELECT doc_id,
       string_agg(text, ' ' ORDER BY rank) AS page_text,
       CAST(count(*) AS BIGINT) AS n_boxes,
       CAST(max(col_idx) AS INT) AS n_extra_cols
FROM ranked GROUP BY doc_id"""
    )
    # sessionize: identical window logic in SQL (epoch-difference gap).
    # resample_locf: per-user hourly grid (generate_series is inclusive,
    # matching Spark's sequence), per-bucket argmax by (ts, event_id)
    # DESC, LOCF via last_value IGNORE NULLS over the grid order.
    sql["resample_locf"] = """
WITH base AS (
  SELECT user_id, date_trunc('hour', ts) AS hour_ts, ts, event_id, value
  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL),
hourly AS (
  SELECT user_id, hour_ts, CAST(count(*) AS BIGINT) AS n_events,
         max(struct_pack(t := ts, i := event_id, v := value)).v AS hour_v
  FROM base GROUP BY 1, 2),
bounds AS (
  SELECT user_id, min(hour_ts) AS h0, max(hour_ts) AS h1
  FROM base GROUP BY 1),
grid AS (
  SELECT user_id,
         unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS hour_ts
  FROM bounds)
SELECT g.user_id, g.hour_ts,
       coalesce(h.n_events, 0) AS n_events,
       last_value(h.hour_v IGNORE NULLS) OVER (
         PARTITION BY g.user_id ORDER BY g.hour_ts
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value_locf
FROM grid g LEFT JOIN hourly h USING (user_id, hour_ts)
"""
    sql["sessionize"] = """
WITH s AS (
  SELECT user_id, event_id, ts, event_type,
         CASE WHEN lag(ts) OVER w IS NULL
                OR epoch(ts) - epoch(lag(ts) OVER w) > 1440 * 60
              THEN 1 ELSE 0 END AS st
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
n AS (
  SELECT *, CAST(sum(st) OVER (
    PARTITION BY user_id ORDER BY ts, event_id
    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_num
  FROM s)
SELECT user_id, session_num,
       min(ts) AS session_start, max(ts) AS session_end,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
            AS BIGINT) AS n_purchases
FROM n GROUP BY 1, 2"""
    sql["hash_sample"] = """
WITH k AS (
  SELECT lang,
    CASE WHEN CAST(CAST('0x' || substr(md5('smp1_' ||
           CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) % 10000 AS BIGINT)
         < (CASE WHEN lang = 'en' THEN 5000
                 WHEN lang = 'zh' THEN 2500 ELSE 1000 END)
         THEN 1 ELSE 0 END AS keep
  FROM documents)
SELECT lang, CAST(count(*) AS BIGINT) AS n_total,
       CAST(sum(keep) AS BIGINT) AS n_sampled,
       round(avg(keep), 4) AS sample_frac
FROM k GROUP BY 1"""
    sql["pack_sequences"] = """
WITH toks AS (
  SELECT doc_id,
    CAST(CASE WHEN text IS NULL OR trim(text) = '' THEN 0
         ELSE len(regexp_split_to_array(trim(text), '\\s+')) END
         AS BIGINT) AS n_tokens,
    CAST(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT)
         % 8 AS INT) AS shard
  FROM documents),
c AS (
  SELECT *, sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
           ROWS UNBOUNDED PRECEDING) - n_tokens AS cum_before
  FROM toks)
SELECT shard, CAST(floor(cum_before / 2048.0) AS BIGINT) AS pack_id,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS pack_tokens,
       CAST(min(doc_id) AS BIGINT) AS first_doc
FROM c GROUP BY 1, 2"""
    sql["packing_efficiency"] = f"""
WITH packs AS ({sql["pack_sequences"]})
SELECT CAST(count(*) AS BIGINT) AS n_packs,
       CAST(sum(pack_tokens) AS BIGINT) AS total_tokens,
       round(CAST(sum(pack_tokens) AS DOUBLE) / (count(*) * 2048), 6)
         + 0.0 AS avg_fill,
       CAST(sum(CASE WHEN pack_tokens > 2048 THEN 1 ELSE 0 END) AS BIGINT)
         AS overflow_packs,
       CAST(sum(greatest(2048 - pack_tokens, 0)) AS BIGINT) AS waste_tokens
FROM packs
"""
    sql["chunk_documents"] = """
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t
  FROM documents
  WHERE text IS NOT NULL AND trim(text) <> ''
), sized AS (
  SELECT doc_id, t, len(t) AS n FROM toks
), ks AS (
  SELECT doc_id, t,
         unnest(generate_series(
           0, CAST(greatest(ceil((n - 32) / 24.0), 0) AS BIGINT))) AS k
  FROM sized
)
SELECT doc_id, CAST(k AS INT) AS chunk_id,
       CAST(len(t[k*24+1 : k*24+32]) AS BIGINT) AS n_chunk_tokens,
       array_to_string(t[k*24+1 : k*24+32], ' ') AS chunk_text
FROM ks"""
    sql["moving_avg_daily"] = """
WITH daily AS (
  SELECT CAST(ts AS DATE) AS d, count(*) AS n FROM events GROUP BY 1)
SELECT CAST(d AS VARCHAR) AS date, CAST(n AS BIGINT) AS count,
       round(avg(n) OVER (ORDER BY d
             ROWS BETWEEN 6 PRECEDING AND CURRENT ROW), 6) AS ma7
FROM daily"""
    # daily_anomaly: identical prior-7-day frame; z rounded to 6 dp BEFORE
    # the |z| > 3 comparison so the flag can't flip on last-ulp stddev
    # differences between engines.
    sql["daily_anomaly"] = """
WITH daily AS (
  SELECT CAST(ts AS DATE) AS d, count(*) AS n FROM events GROUP BY 1),
zs AS (
  SELECT d, n,
         avg(n) OVER (ORDER BY d ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING)
           AS mu,
         stddev_samp(n) OVER (ORDER BY d
             ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING) AS sd
  FROM daily)
SELECT CAST(d AS VARCHAR) AS date, CAST(n AS BIGINT) AS count,
       CASE WHEN sd > 0 THEN round((n - mu) / sd, 6) END AS zscore,
       coalesce(sd > 0 AND abs(CASE WHEN sd > 0
                THEN round((n - mu) / sd, 6) END) > 3.0, false) AS anomaly
FROM zs"""
    sql["approx_distinct_users"] = (
        "SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users, "
        "abs(approx_count_distinct(user_id) - count(DISTINCT user_id)) "
        "<= 0.05 * count(DISTINCT user_id) AS approx_within_5pct "
        "FROM events"
    )
    sql["events_rollup"] = """
WITH e AS (
  SELECT coalesce(event_type, 'unknown') AS event_type,
         CAST(CAST(ts AS DATE) AS VARCHAR) AS date, value
  FROM events)
SELECT event_type, date, CAST(count(*) AS BIGINT) AS n,
       round(coalesce(sum(value), 0.0), 4) AS total_value
FROM e GROUP BY ROLLUP (event_type, date)"""
    sql["events_pivot"] = (
        "SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS date, "
        + ", ".join(
            f"CAST(sum(CASE WHEN event_type = '{t}' THEN 1 ELSE 0 END) "
            f"AS BIGINT) AS {t}"
            for t in ["click", "error", "purchase", "signup", "view"]
        )
        + " FROM events GROUP BY 1"
    )
    sql["value_quantiles"] = (
        "SELECT event_type, CAST(count(value) AS BIGINT) AS n_values, "
        "round(quantile_cont(value, 0.25), 6) AS q25, "
        "round(quantile_cont(value, 0.5), 6) AS q50, "
        "round(quantile_cont(value, 0.75), 6) AS q75, "
        "round(quantile_cont(value, 0.9), 6) AS q90 "
        "FROM events GROUP BY 1"
    )
    sql["approx_value_quantiles"] = (
        "SELECT event_type, CAST(count(value) AS BIGINT) AS n_values, "
        "round(quantile_cont(value, 0.5), 6) AS exact_p50, "
        "round(quantile_cont(value, 0.9), 6) AS exact_p90, "
        "abs(approx_quantile(value, 0.5) - quantile_cont(value, 0.5)) "
        "<= 0.05 * quantile_cont(value, 0.5) AS p50_within_5pct, "
        "abs(approx_quantile(value, 0.9) - quantile_cont(value, 0.9)) "
        "<= 0.05 * quantile_cont(value, 0.9) AS p90_within_5pct "
        "FROM events GROUP BY 1"
    )
    sql["click_not_purchase_users"] = (
        "SELECT user_id FROM events WHERE event_type = 'click' "
        "EXCEPT "
        "SELECT user_id FROM events WHERE event_type = 'purchase' "
        "AND value > 300"
    )
    # hll_mergeable_users: the sketch binary is Spark-internal, so the
    # oracle checks the exact counts and asserts the accuracy contract
    # booleans — true on both sides iff Spark's sketches meet their bound
    # (DuckDB emits literal TRUE; a sketch excursion past 2% flips the
    # Spark side and fails the hash).
    sql["hll_mergeable_users"] = """
WITH per AS (
  SELECT event_type,
         CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users
  FROM events GROUP BY 1),
allx AS (SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS exact_all
         FROM events)
SELECT event_type, exact_users, TRUE AS group_est_within_2pct,
       exact_all, TRUE AS merged_est_within_2pct
FROM per CROSS JOIN allx
"""

    # sample_quantile_sketch: the oracle rebuilds the bottom-64 sketch
    # with an UNFILTERED per-group rank (no hash-space prefilter), so the
    # Spark side's scale prefilter is verified to change nothing. Same
    # md5-derived 60-bit hash, same (h, v) rank order, same
    # floor(q*(m-1))+1 order-stat indexing.
    sql["sample_quantile_sketch"] = """
WITH b AS (
  SELECT event_type AS g, CAST(value AS DOUBLE) AS v,
         CAST('0x' || substr(md5('smp:' || CAST(event_id AS VARCHAR)), 1, 15)
              AS BIGINT) AS h
  FROM events WHERE value IS NOT NULL AND event_id IS NOT NULL),
r AS (SELECT g, v, row_number() OVER (PARTITION BY g ORDER BY h, v) AS rn
      FROM b),
n AS (SELECT g, count(*) AS n FROM b GROUP BY 1),
s AS (SELECT g, list(v ORDER BY v) AS vs FROM r WHERE rn <= 64 GROUP BY 1)
SELECT s.g AS event_type, CAST(n.n AS BIGINT) AS n,
       CAST(len(vs) AS INT) AS m,
       round(vs[CAST(floor(0.5 * (len(vs) - 1)) AS INT) + 1], 6) AS p50_est,
       round(vs[CAST(floor(0.9 * (len(vs) - 1)) AS INT) + 1], 6) AS p90_est
FROM s JOIN n ON n.g = s.g
"""

    # scd2_user_status: identical window semantics — lag change detection,
    # lead interval close, same (d, status) ordering for determinism.
    sql["scd2_user_status"] = """
WITH daily AS (
  SELECT user_id, d, status FROM (
    SELECT user_id, CAST(ts AS DATE) AS d, event_type AS status,
           row_number() OVER (
             PARTITION BY user_id, CAST(ts AS DATE)
             ORDER BY ts DESC, event_id DESC) AS rn
    FROM events) WHERE rn = 1),
chg AS (
  SELECT user_id, status, d FROM (
    SELECT user_id, status, d,
           lag(status) OVER (PARTITION BY user_id ORDER BY d, status) AS prev
    FROM daily) WHERE prev IS NULL OR status <> prev)
SELECT user_id, status, CAST(d AS VARCHAR) AS valid_from,
       CAST(lead(d) OVER (PARTITION BY user_id ORDER BY d, status)
            AS VARCHAR) AS valid_to
FROM chg
"""

    # bloom_decontaminate: the identical 4096-bit/5-hash filter rebuilt in
    # SQL — same md5-derived probes, same 63-bit word packing, bit_or agg.
    _bf_i = "(VALUES (0), (1), (2), (3), (4)) AS ii(i)"
    _bf_p = (
        "CAST(('0x' || substr(md5('bf' || ii.i || ':' || {k}), 1, 15)) "
        "AS BIGINT) % 4096"
    )
    sql["bloom_decontaminate"] = f"""
WITH ev AS (
  SELECT md5(text) AS dg FROM documents WHERE doc_id % 97 = 0),
bp AS (
  SELECT {_bf_p.format(k="dg")} AS p FROM ev CROSS JOIN {_bf_i}),
bloom AS (
  SELECT p // 63 AS word,
         bit_or(CAST(1 AS BIGINT) << CAST(p % 63 AS INT)) AS bmask
  FROM bp GROUP BY 1),
corpus AS (
  SELECT doc_id, md5(text) AS dg FROM documents WHERE doc_id % 97 <> 0),
cp AS (
  SELECT c.doc_id, {_bf_p.format(k="c.dg")} AS p
  FROM corpus c CROSS JOIN {_bf_i})
SELECT cp.doc_id,
       CAST(min(CASE WHEN (CAST(1 AS BIGINT) << CAST(cp.p % 63 AS INT))
                          & coalesce(b.bmask, 0) <> 0
                     THEN 1 ELSE 0 END) = 1 AS BOOLEAN) AS bloom_hit
FROM cp LEFT JOIN bloom b ON cp.p // 63 = b.word
GROUP BY 1
"""

    # embedding_quantize: identical fixed dag of IEEE double ops (floor,
    # not round, so no half-even/half-up divergence); qvec as CSV string.
    sql["embedding_quantize"] = """
WITH e AS (
  SELECT vec_id, generate_subscripts(embedding, 1) AS pos,
         CAST(unnest(embedding) AS DOUBLE) AS x
  FROM embeddings),
stats AS (
  SELECT pos, min(x) AS mn, max(x) AS mx,
         CASE WHEN max(x) > min(x) THEN max(x) - min(x) ELSE 1.0 END AS rng
  FROM e GROUP BY 1),
q AS (
  SELECT e.vec_id, e.pos,
         CAST(floor((e.x - s.mn) * 127.0 / s.rng + 0.5) AS INT) AS qv,
         abs(e.x - (s.mn + CAST(floor((e.x - s.mn) * 127.0 / s.rng + 0.5)
                             AS INT) * s.rng / 127.0)) AS err
  FROM e JOIN stats s ON e.pos = s.pos)
SELECT vec_id,
       array_to_string(list(qv ORDER BY pos), ',') AS qvec_csv,
       round(max(err), 4) AS max_err
FROM q GROUP BY 1
"""

    # cms_user_counts: the IDENTICAL sketch rebuilt in SQL — same md5-
    # derived row hashes (the simhash 60-bit construction), same cells,
    # same min-over-rows estimate; exact match, no tolerance gate.
    _cms_d = "(VALUES (0), (1), (2), (3)) AS dd(d)"
    _cms_b = (
        "CAST(('0x' || substr(md5('cms' || dd.d || ':' || "
        "CAST({k} AS VARCHAR)), 1, 15)) AS BIGINT) % 64"
    )
    sql["cms_user_counts"] = f"""
WITH cells AS (
  SELECT dd.d, {_cms_b.format(k="user_id")} AS bucket,
         CAST(count(*) AS BIGINT) AS cnt
  FROM events CROSS JOIN {_cms_d} GROUP BY 1, 2),
keys AS (
  SELECT user_id, CAST(count(*) AS BIGINT) AS exact_n
  FROM events GROUP BY 1),
probes AS (
  SELECT k.user_id, k.exact_n, dd.d,
         {_cms_b.format(k="k.user_id")} AS bucket
  FROM keys k CROSS JOIN {_cms_d})
SELECT p.user_id, p.exact_n, CAST(min(c.cnt) AS BIGINT) AS cms_est
FROM probes p JOIN cells c ON p.d = c.d AND p.bucket = c.bucket
GROUP BY 1, 2
"""

    # zorder_key: the Morton interleave reproduced bit-for-bit with the
    # same shifts; DuckDB's >> / & / | operate on BIGINT like Spark's.
    _z_terms = " | ".join(
        f"(((u >> {i}) & 1) << {2 * i}) | (((h >> {i}) & 1) << {2 * i + 1})"
        for i in range(20)
    )
    sql["zorder_key"] = f"""
WITH k AS (
  SELECT event_id, CAST(user_id AS BIGINT) AS u,
         CAST(floor((epoch(ts) - 1704067200) / 3600) AS BIGINT) AS h
  FROM events)
SELECT event_id, u AS user_id, h AS hour_idx,
       CAST({_z_terms} AS BIGINT) AS zvalue
FROM k
"""
    # hilbert_key: the same xy2d quadrant-rotation walk unrolled into 16
    # chained MATERIALIZED CTEs — per plane s: gray contribution
    # s^2 * xor(3*rx, ry), then reflect+swap when ry = 0. Bit tests are
    # the identical `v % 2s >= s` arithmetic as the Spark fold.
    _hb = 16
    _hn = 1 << _hb
    _h_ctes = [f"""
hp{_hb} AS MATERIALIZED (
  SELECT event_id, CAST(user_id AS BIGINT) & {_hn - 1} AS x,
         CAST(floor((epoch(ts) - 1704067200) / 3600) AS BIGINT)
           & {_hn - 1} AS y,
         CAST(0 AS BIGINT) AS d,
         CAST(user_id AS BIGINT) AS u,
         CAST(floor((epoch(ts) - 1704067200) / 3600) AS BIGINT) AS h
  FROM events)"""]
    for _i in range(_hb - 1, -1, -1):
        _s = 1 << _i
        _rx = f"(CASE WHEN x % {2 * _s} >= {_s} THEN 1 ELSE 0 END)"
        _ry = f"(CASE WHEN y % {2 * _s} >= {_s} THEN 1 ELSE 0 END)"
        _h_ctes.append(f"""
hp{_i} AS MATERIALIZED (
  SELECT event_id, u, h,
         d + {_s * _s} * xor(3 * {_rx}, {_ry}) AS d,
         CASE WHEN {_ry} = 1 THEN x
              WHEN {_rx} = 1 THEN {_hn - 1} - y ELSE y END AS x,
         CASE WHEN {_ry} = 1 THEN y
              WHEN {_rx} = 1 THEN {_hn - 1} - x ELSE x END AS y
  FROM hp{_i + 1})""")
    sql["hilbert_key"] = (
        "WITH " + ",".join(_h_ctes) + """
SELECT event_id, u AS user_id, h AS hour_idx,
       CAST(d AS BIGINT) AS hvalue
FROM hp0
"""
    )

    # range_join_windows: DuckDB native inequality join (IEJoin) — an
    # independent implementation of the containment predicate.
    sql["range_join_windows"] = """
WITH w AS (
  SELECT n_name AS window_label,
         TIMESTAMP '2024-01-01' + INTERVAL (n_nationkey * 3) DAY AS w_start,
         TIMESTAMP '2024-01-01' + INTERVAL (n_nationkey * 3 + 4) DAY AS w_end
  FROM nation)
SELECT w.window_label, CAST(count(*) AS BIGINT) AS n_events,
       round(coalesce(sum(e.value), 0.0), 4) AS total_value
FROM events e JOIN w ON e.ts >= w.w_start AND e.ts < w.w_end
GROUP BY 1"""
    # asof_last_purchase: DuckDB's NATIVE ASOF JOIN — an independent
    # implementation of the semantics, not a transliteration of the
    # Spark carry-forward plan.
    sql["asof_last_purchase"] = """
WITH p AS (
  SELECT user_id, ts AS purchase_ts,
         arg_max(value, event_id) AS purchase_value
  FROM events WHERE event_type = 'purchase' GROUP BY user_id, ts),
c AS (
  SELECT event_id, user_id, ts FROM events WHERE event_type = 'click')
SELECT c.event_id, c.user_id, c.ts,
       p.purchase_ts AS asof_purchase_ts,
       round(p.purchase_value, 6) AS asof_purchase_value
FROM c ASOF LEFT JOIN p
  ON c.user_id = p.user_id AND c.ts >= p.purchase_ts"""
    sql["tpch_q2"] = (
        "WITH offers AS (SELECT l_partkey, l_suppkey, "
        "round(min(l_extendedprice / l_quantity), 4) AS offer_cost "
        "FROM lineitem JOIN part ON l_partkey = p_partkey "
        "WHERE p_size = 5 AND p_type = 'STANDARD' GROUP BY 1, 2) "
        "SELECT s_acctbal, s_name, n_name AS nation, "
        "l_partkey AS p_partkey, offer_cost "
        "FROM offers JOIN supplier ON l_suppkey = s_suppkey "
        "JOIN nation ON s_nationkey = n_nationkey "
        "WHERE offer_cost = (SELECT min(o2.offer_cost) FROM offers o2 "
        "WHERE o2.l_partkey = offers.l_partkey) "
        "ORDER BY s_acctbal DESC, nation, s_name, p_partkey LIMIT 100"
    )
    sql["tpch_q8"] = (
        "SELECT CAST(year(o_orderdate) AS INT) AS o_year, "
        "round(sum(CASE WHEN n1.n_name = 'NATION_3' THEN "
        "l_extendedprice * (1 - l_discount) ELSE 0.0 END) / "
        "sum(l_extendedprice * (1 - l_discount)), 6) AS mkt_share "
        "FROM lineitem JOIN part ON l_partkey = p_partkey "
        "JOIN orders ON l_orderkey = o_orderkey "
        "JOIN customer ON o_custkey = c_custkey "
        "JOIN supplier ON l_suppkey = s_suppkey "
        "JOIN nation n1 ON s_nationkey = n1.n_nationkey "
        "JOIN nation n2 ON c_nationkey = n2.n_nationkey "
        "JOIN region ON n2.n_regionkey = r_regionkey "
        "WHERE p_type = 'ECONOMY' AND r_name = 'ASIA' "
        "AND o_orderdate >= TIMESTAMP '1996-01-01' "
        "AND o_orderdate < TIMESTAMP '1998-01-01' "
        "GROUP BY 1 ORDER BY 1"
    )
    sql["tpch_q9"] = (
        "SELECT n_name AS nation, CAST(year(o_orderdate) AS INT) AS o_year, "
        "round(sum(l_extendedprice * (1 - l_discount) - "
        "p_retailprice * 0.1 * l_quantity), 2) AS sum_profit "
        "FROM lineitem JOIN part ON l_partkey = p_partkey "
        "JOIN orders ON l_orderkey = o_orderkey "
        "JOIN supplier ON l_suppkey = s_suppkey "
        "JOIN nation ON s_nationkey = n_nationkey "
        "WHERE p_name LIKE '%red%' "
        "GROUP BY 1, 2 ORDER BY nation, o_year DESC"
    )
    sql["tpch_q11"] = (
        "WITH per_part AS (SELECT l_partkey, "
        "CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) "
        "AS cents FROM lineitem JOIN supplier ON l_suppkey = s_suppkey "
        "JOIN nation ON s_nationkey = n_nationkey "
        "WHERE n_name = 'NATION_0' GROUP BY 1) "
        "SELECT l_partkey, round(cents / 100.0, 2) AS part_value "
        "FROM per_part "
        "WHERE cents * 10000 > (SELECT sum(cents) FROM per_part) "
        "ORDER BY part_value DESC, l_partkey"
    )
    sql["tpch_q16"] = (
        "SELECT p_brand, p_type, p_size, "
        "CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt "
        "FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) ps "
        "JOIN part ON l_partkey = p_partkey "
        "WHERE p_brand <> 'Brand#13' AND p_size IN (1, 3, 5, 7, 9) "
        "AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier "
        "WHERE s_acctbal < 0) "
        "GROUP BY 1, 2, 3 "
        "ORDER BY supplier_cnt DESC, p_brand, p_type, p_size"
    )
    sql["tpch_q20"] = (
        "WITH red AS (SELECT p_partkey FROM part WHERE p_name LIKE 'red%'), "
        "li AS (SELECT l_partkey, l_suppkey, l_quantity, l_shipdate "
        "FROM lineitem JOIN red ON l_partkey = p_partkey), "
        "per_ps AS (SELECT l_partkey, l_suppkey, sum(l_quantity) AS qty "
        "FROM li GROUP BY 1, 2), "
        "part96 AS (SELECT l_partkey, sum(l_quantity) AS qty96 FROM li "
        "WHERE l_shipdate >= TIMESTAMP '1996-01-01' "
        "AND l_shipdate < TIMESTAMP '1997-01-01' GROUP BY 1) "
        "SELECT s_name, s_acctbal FROM supplier "
        "JOIN nation ON s_nationkey = n_nationkey "
        "WHERE n_name = 'NATION_1' AND s_suppkey IN ("
        "SELECT l_suppkey FROM per_ps JOIN part96 USING (l_partkey) "
        "WHERE qty > 0.5 * qty96) "
        "ORDER BY s_name"
    )
    sql["tpch_q21"] = (
        "WITH per_os AS (SELECT l_orderkey, l_suppkey, "
        "max(CASE WHEN l_shipdate > o_orderdate + INTERVAL 60 DAY "
        "THEN 1 ELSE 0 END) AS any_late "
        "FROM lineitem JOIN orders ON l_orderkey = o_orderkey "
        "WHERE o_orderstatus = 'F' GROUP BY 1, 2), "
        "per_o AS (SELECT l_orderkey, count(*) AS n_supp, "
        "sum(any_late) AS n_late_supp FROM per_os GROUP BY 1) "
        "SELECT s_name, CAST(count(*) AS BIGINT) AS numwait "
        "FROM per_os JOIN per_o USING (l_orderkey) "
        "JOIN supplier ON l_suppkey = s_suppkey "
        "JOIN nation ON s_nationkey = n_nationkey "
        "WHERE any_late = 1 AND n_supp > 1 AND n_late_supp = 1 "
        "AND n_name = 'NATION_2' "
        "GROUP BY 1 ORDER BY numwait DESC, s_name LIMIT 100"
    )
    sql["tpch_q22"] = (
        "WITH cust AS (SELECT c_custkey, c_acctbal, "
        "CAST(c_custkey % 7 AS INT) AS cntrycode FROM customer "
        "WHERE c_custkey % 7 IN (0, 1, 2, 3, 4)) "
        "SELECT cntrycode, CAST(count(*) AS BIGINT) AS numcust, "
        "round(sum(c_acctbal), 2) AS totacctbal FROM cust "
        "WHERE c_acctbal > (SELECT avg(c_acctbal) FROM cust "
        "WHERE c_acctbal > 0.0) "
        "AND NOT EXISTS (SELECT 1 FROM orders "
        "WHERE o_custkey = c_custkey "
        "AND o_orderdate >= TIMESTAMP '1999-01-01') "
        "GROUP BY 1 ORDER BY 1"
    )
    sql["tpch_q13"] = (
        "SELECT CAST(c_count AS BIGINT) AS c_count, "
        "CAST(count(*) AS BIGINT) AS custdist FROM ("
        "SELECT c_custkey, count(o_orderkey) AS c_count "
        "FROM customer LEFT JOIN orders ON c_custkey = o_custkey "
        "AND o_orderpriority <> '1-URGENT' GROUP BY c_custkey) "
        "GROUP BY c_count ORDER BY custdist DESC, c_count DESC"
    )
    sql["tpch_q15"] = (
        "WITH rev AS (SELECT l_suppkey AS suppkey, "
        "round(sum(l_extendedprice * (1 - l_discount)), 4) AS total_revenue "
        "FROM lineitem WHERE l_shipdate >= TIMESTAMP '1996-01-01' "
        "AND l_shipdate < TIMESTAMP '1996-04-01' GROUP BY 1) "
        "SELECT s_suppkey, s_name, total_revenue "
        "FROM supplier JOIN rev ON s_suppkey = suppkey "
        "WHERE total_revenue = (SELECT max(total_revenue) FROM rev) "
        "ORDER BY s_suppkey"
    )
    sql["tpch_q17"] = (
        "SELECT round(sum(l.l_extendedprice) / 7.0, 2) AS avg_yearly "
        "FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey "
        "WHERE p.p_brand = 'Brand#13' AND p.p_size <= 15 "
        "AND l.l_quantity < (SELECT round(0.2 * avg(l2.l_quantity), 6) "
        "FROM lineitem l2 WHERE l2.l_partkey = l.l_partkey)"
    )
    # dup_ngram_stats: distinct-shingle document frequency joined back —
    # same shingle CTE as the jaccard/cluster oracles.
    sql["dup_ngram_stats"] = f"""
WITH tok AS (SELECT doc_id, {_LTOKS} AS toks FROM documents),
sh AS (
  SELECT doc_id, unnest(list_distinct(
    [toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
     for i in range(1, len(toks) - 1)])) AS s
  FROM tok WHERE len(toks) >= 3),
dfreq AS (SELECT s, count(*) AS sdf FROM sh GROUP BY 1),
per AS (
  SELECT doc_id, count(*) AS n_shingles,
         sum(CASE WHEN sdf > 1 THEN 1 ELSE 0 END) AS n_dup
  FROM sh JOIN dfreq USING (s) GROUP BY 1)
SELECT d.doc_id, CAST(coalesce(n_shingles, 0) AS BIGINT) AS n_shingles,
       round(CASE WHEN coalesce(n_shingles, 0) > 0
             THEN n_dup * 1.0 / n_shingles ELSE 0 END, 6) AS dup_ngram_frac
FROM documents d LEFT JOIN per USING (doc_id)
"""
    # ngram_novelty: shingle -> min(doc_id) first-bearer credit.
    sql["ngram_novelty"] = f"""
WITH tok AS (SELECT doc_id, {_LTOKS} AS toks FROM documents),
sh AS (
  SELECT doc_id, unnest(list_distinct(
    [toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
     for i in range(1, len(toks) - 1)])) AS s
  FROM tok WHERE len(toks) >= 3),
firsts AS (SELECT s, min(doc_id) AS first_id FROM sh GROUP BY 1),
per AS (
  SELECT doc_id, count(*) AS n_shingles,
         sum(CASE WHEN doc_id = first_id THEN 1 ELSE 0 END) AS n_novel
  FROM sh JOIN firsts USING (s) GROUP BY 1)
SELECT d.doc_id,
       CAST(coalesce(n_shingles, 0) AS BIGINT) AS n_shingles,
       CAST(coalesce(n_novel, 0) AS BIGINT) AS n_novel,
       coalesce(n_novel, 0) * 2 > coalesce(n_shingles, 0) AS novel
FROM documents d LEFT JOIN per USING (doc_id)
"""
    # containment_pairs: 5-gram shingles, max-containment >= 0.5; counts
    # from the CAPPED index on both engines (internally-consistent cap).
    sql["containment_pairs"] = f"""
WITH tok AS (SELECT doc_id, {_LTOKS} AS toks FROM documents),
sh AS (
  SELECT doc_id, unnest(list_distinct(
    [toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' ||
     toks[i+3] || ' ' || toks[i+4]
     for i in range(1, len(toks) - 3)])) AS s
  FROM tok WHERE len(toks) >= 5),
hot AS (SELECT s FROM sh GROUP BY s HAVING count(*) > 1000),
sh2 AS (SELECT * FROM sh WHERE s NOT IN (SELECT s FROM hot)),
cnt AS (SELECT doc_id, count(*) AS n FROM sh2 GROUP BY 1),
inter AS (
  SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS inter
  FROM sh2 a JOIN sh2 b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2)
SELECT id1, id2,
       round(inter * 1.0 / least(ca.n, cb.n), 6) AS containment,
       round(inter * 1.0 / (ca.n + cb.n - inter), 6) AS jaccard
FROM inter JOIN cnt ca ON id1 = ca.doc_id JOIN cnt cb ON id2 = cb.doc_id
WHERE inter * 1.0 / least(ca.n, cb.n) >= 0.5
"""
    # source_similarity: distinct (source, 3-gram shingle) sets; Jaccard
    # per unordered source pair (NULL sources have no set: collect_set
    # drops them on the Spark side, the WHERE mirrors it here).
    sql["source_similarity"] = f"""
WITH tok AS (SELECT source, {_LTOKS} AS toks FROM documents
             WHERE source IS NOT NULL),
sh AS (
  SELECT DISTINCT source, unnest(
    [toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
     for i in range(1, len(toks) - 1)]) AS s
  FROM tok WHERE len(toks) >= 3),
tot AS (SELECT source, count(*) AS n FROM sh GROUP BY 1),
pr AS (
  SELECT a.source AS src1, b.source AS src2, count(*) AS n_shared
  FROM sh a JOIN sh b ON a.s = b.s AND a.source < b.source GROUP BY 1, 2)
SELECT src1, src2, CAST(n_shared AS BIGINT) AS n_shared,
       round(n_shared * 1.0 / (ta.n + tb.n - n_shared), 6) AS jaccard
FROM pr JOIN tot ta ON src1 = ta.source JOIN tot tb ON src2 = tb.source
"""
    # source_similarity_kmv: UNFILTERED bottom-k rank per source (the
    # mergeable-summary oracle rule) + the same KMV pair estimator.
    sql["source_similarity_kmv"] = f"""
WITH tok AS (SELECT source, {_LTOKS} AS toks FROM documents
             WHERE source IS NOT NULL),
shs AS (
  SELECT DISTINCT source,
    CAST('0x' || substr(md5(unnest(
      [toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
       for i in range(1, len(toks) - 1)])), 1, 15) AS BIGINT) AS h
  FROM tok WHERE len(toks) >= 3),
rk AS (SELECT source, h,
              row_number() OVER (PARTITION BY source ORDER BY h) AS rn
       FROM shs),
sk AS (SELECT source, list(h ORDER BY h) AS sk
       FROM rk WHERE rn <= 64 GROUP BY 1),
pairs AS (
  SELECT a.source AS src1, b.source AS src2, a.sk AS ska, b.sk AS skb,
         list_slice(list_sort(list_distinct(a.sk || b.sk)), 1, 64) AS u
  FROM sk a JOIN sk b ON a.source < b.source),
m AS (
  SELECT src1, src2, u,
         len(list_filter(u, x -> list_contains(ska, x)
                              AND list_contains(skb, x))) AS nc
  FROM pairs)
SELECT src1, src2, CAST(nc AS BIGINT) AS n_common,
       round(nc * 1.0 / len(u), 6) AS est_jaccard
FROM m
"""
    # lang_alpha_weights: alpha=0.3 exponentiated smoothing; weight from
    # the UNROUNDED p/q like the Spark select.
    sql["lang_alpha_weights"] = f"""
WITH per AS (
  SELECT lang, CAST(sum(len({_LTOKS_SAFE})) AS BIGINT) AS n_tokens
  FROM documents GROUP BY 1),
ext AS (SELECT lang, n_tokens, pow(n_tokens, 0.3) AS pa FROM per),
tot AS (SELECT sum(n_tokens) AS t, sum(pa) AS ta FROM ext),
frac AS (
  SELECT lang, n_tokens,
         CASE WHEN t > 0 THEN n_tokens * 1.0 / t ELSE 0.0 END AS p,
         CASE WHEN ta > 0 THEN pa / ta ELSE 0.0 END AS q
  FROM ext CROSS JOIN tot)
SELECT lang, n_tokens, round(p, 6) AS p, round(q, 6) AS q,
       round(CASE WHEN p > 0 THEN q / p ELSE 0.0 END, 6) AS weight
FROM frac
"""
    # corpus_digest: same md5-derived 60-bit word + 2-hex-char bucket and
    # XOR aggregate; 15 hex chars keep the word inside BIGINT.
    sql["corpus_digest"] = """
WITH k AS (
  SELECT md5(coalesce(CAST(doc_id AS VARCHAR), '') || '|' ||
             coalesce(text, '')) AS h
  FROM documents)
SELECT CAST('0x' || substr(h, 16, 2) AS BIGINT) % 16 AS bucket,
       CAST(count(*) AS BIGINT) AS n_docs,
       bit_xor(CAST('0x' || substr(h, 1, 15) AS BIGINT)) AS digest
FROM k GROUP BY 1
"""
    # readability: Flesch-Kincaid; per-token vowel-run syllables floored
    # at 1, sentences = terminal-punct runs floored at 1.
    sql["readability"] = f"""
WITH tok AS (SELECT doc_id, {_LTOKS_SAFE} AS toks FROM documents),
w AS (SELECT doc_id, unnest(toks) AS t FROM tok),
per AS (
  SELECT doc_id, count(*) AS n_words,
         sum(greatest(1, len(regexp_extract_all(t, '[aeiouy]+')))) AS n_syl
  FROM w GROUP BY 1),
sent AS (
  SELECT doc_id, greatest(1,
           len(regexp_extract_all(coalesce(text, ''), '[.!?]+'))) AS n_sent
  FROM documents)
SELECT d.doc_id, CAST(coalesce(n_words, 0) AS BIGINT) AS n_words,
       CAST(n_sent AS BIGINT) AS n_sentences,
       CAST(coalesce(n_syl, 0) AS BIGINT) AS n_syllables,
       CASE WHEN coalesce(n_words, 0) > 0
            THEN floor((3900.0 * n_words * n_words
                        + 118000.0 * n_syl * n_sent
                        - 155900.0 * n_sent * n_words)
                       / (n_sent * n_words) + 0.5) / 10000.0
            ELSE 0.0 END AS fk_grade
FROM documents d JOIN sent USING (doc_id) LEFT JOIN per USING (doc_id)
"""
    # decontaminate: eval = doc_id % 97 == 0; corpus docs scored by
    # distinct-shingle overlap with the eval shingle set.
    sql["decontaminate"] = f"""
WITH tok AS (SELECT doc_id, {_LTOKS} AS toks FROM documents),
sh AS (
  SELECT doc_id, unnest(list_distinct(
    [toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
     for i in range(1, len(toks) - 1)])) AS s
  FROM tok WHERE len(toks) >= 3),
ev AS (SELECT DISTINCT s FROM sh WHERE doc_id % 97 = 0),
hits AS (
  SELECT doc_id, count(*) AS n_hits
  FROM sh JOIN ev USING (s) WHERE doc_id % 97 <> 0 GROUP BY 1)
SELECT d.doc_id, CAST(coalesce(n_hits, 0) AS BIGINT) AS n_hits,
       coalesce(n_hits, 0) >= 1 AS contaminated
FROM documents d LEFT JOIN hits USING (doc_id)
WHERE d.doc_id % 97 <> 0
"""
    # decontaminate_near: best-eval containment (overlap / doc shingles),
    # argmax ties to the smallest eval id — ordered by the ROUNDED value
    # to mirror Spark's struct-max on the rounded column.
    sql["decontaminate_near"] = f"""
WITH tok AS (SELECT doc_id, {_LTOKS} AS toks FROM documents),
sh AS (
  SELECT doc_id, unnest(list_distinct(
    [toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
     for i in range(1, len(toks) - 1)])) AS s
  FROM tok WHERE len(toks) >= 3),
ev AS (SELECT DISTINCT doc_id AS eval_id, s FROM sh WHERE doc_id % 97 = 0),
per AS (SELECT doc_id, count(*) AS n_shingles FROM sh
        WHERE doc_id % 97 <> 0 GROUP BY 1),
ov AS (
  SELECT sh.doc_id, ev.eval_id, count(*) AS n_common
  FROM sh JOIN ev USING (s) WHERE sh.doc_id % 97 <> 0
  GROUP BY 1, 2),
scored AS (
  SELECT ov.doc_id, eval_id,
         round(n_common * 1.0 / n_shingles, 6) AS containment,
         row_number() OVER (PARTITION BY ov.doc_id
             ORDER BY round(n_common * 1.0 / n_shingles, 6) DESC, eval_id)
           AS rk
  FROM ov JOIN per USING (doc_id)),
best AS (SELECT doc_id, eval_id, containment FROM scored WHERE rk = 1)
SELECT d.doc_id, CAST(coalesce(per.n_shingles, 0) AS BIGINT) AS n_shingles,
       CAST(b.eval_id AS BIGINT) AS best_eval_id,
       coalesce(b.containment, 0.0) AS containment,
       coalesce(b.containment, 0.0) >= 0.05 AS contaminated
FROM documents d LEFT JOIN per USING (doc_id) LEFT JOIN best b USING (doc_id)
WHERE d.doc_id % 97 <> 0
"""
    # nfc_normalize: DuckDB's nfc_normalize is the independent NFC
    # implementation; chr(769/776/778) are the combining marks appended
    # on the Spark side.
    sql["nfc_normalize"] = """
WITH aug AS (
  SELECT doc_id,
         coalesce(text, '') || ' cafe' || chr(769) || ' u' || chr(776)
           || 'ber A' || chr(778) AS text
  FROM documents)
SELECT doc_id, nfc_normalize(text) AS text_nfc,
       text IS DISTINCT FROM nfc_normalize(text) AS changed,
       CAST(length(text) AS BIGINT) AS len_raw,
       CAST(length(nfc_normalize(text)) AS BIGINT) AS len_nfc
FROM aug
"""
    # token_entropy: -sum(p ln p) over the per-doc unigram distribution;
    # + 0.0 normalizes IEEE -0.0 (single-token-type docs) in both engines.
    sql["token_entropy"] = f"""
WITH terms AS (
  SELECT doc_id, unnest({_LTOKS}) AS term FROM documents
  WHERE text IS NOT NULL AND trim(text) <> ''),
tf AS (SELECT doc_id, term, count(*) AS tf FROM terms GROUP BY 1, 2),
tfn AS (SELECT doc_id, tf,
               sum(tf) OVER (PARTITION BY doc_id) AS n FROM tf),
ent AS (
  SELECT doc_id, max(n) AS n_tokens,
         round(-sum((tf * 1.0 / n) * ln(tf * 1.0 / n)), 6) + 0.0 AS entropy
  FROM tfn GROUP BY 1)
SELECT d.doc_id, CAST(coalesce(n_tokens, 0) AS BIGINT) AS n_tokens,
       coalesce(entropy, 0.0) AS entropy
FROM documents d LEFT JOIN ent USING (doc_id)
"""
    # bpe_pair_counts: word-frequency-weighted adjacent character pairs
    # over the distinct-word table (the BPE merge-selection statistic).
    # range(1, len(w)) is [1, len) — same index set as Spark's inclusive
    # sequence(1, length - 1); len >= 2 filtered on both sides.
    sql["bpe_pair_counts"] = f"""
WITH words AS (
  SELECT unnest({_LTOKS}) AS w FROM documents
  WHERE text IS NOT NULL AND trim(text) <> ''),
wf AS (SELECT w, count(*) AS wf FROM words WHERE len(w) >= 2 GROUP BY 1),
wi AS (SELECT w, wf, unnest(range(1, len(w))) AS i FROM wf),
pr AS (SELECT substring(w, i, 1) AS lhs, substring(w, i + 1, 1) AS rhs, wf
       FROM wi)
SELECT lhs, rhs, CAST(sum(wf) AS BIGINT) AS pair_count
FROM pr GROUP BY 1, 2
"""
    # bpe_merges: the full 3-iteration BPE training loop replayed in SQL.
    # Each iteration = pair recount over the symbolized vocabulary, argmax
    # with the (cnt DESC, lhs, rhs) tie-break, then the greedy
    # left-to-right non-overlapping merge as a recursive CTE that consumes
    # one symbol (or one merged pair) per recursion step — DuckDB's
    # independent replay of Sennrich et al.'s merge_word loop. Unrolled
    # x3, pagerank_hosts-style.
    _bpe_walk = """
  SELECT w, wf, syms, 1 AS i, CAST([] AS VARCHAR[]) AS out FROM {src}
  UNION ALL
  SELECT k.w, k.wf, k.syms,
         CASE WHEN k.i < len(k.syms) AND k.syms[k.i] = t.lhs
                   AND k.syms[k.i + 1] = t.rhs
              THEN k.i + 2 ELSE k.i + 1 END,
         list_append(k.out,
           CASE WHEN k.i < len(k.syms) AND k.syms[k.i] = t.lhs
                     AND k.syms[k.i + 1] = t.rhs
                THEN t.lhs || t.rhs ELSE k.syms[k.i] END)
  FROM {walk} k, {top} t WHERE k.i <= len(k.syms)"""
    _bpe_pc = """SELECT syms[i] AS lhs, syms[i + 1] AS rhs, sum(wf) AS cnt
  FROM (SELECT syms, wf, unnest(range(1, len(syms))) AS i FROM {src})
  GROUP BY 1, 2"""
    _bpe_top = "SELECT lhs, rhs, cnt FROM {pc} ORDER BY cnt DESC, lhs, rhs LIMIT 1"
    sql["bpe_merges"] = f"""
WITH RECURSIVE words AS (
  SELECT unnest({_LTOKS}) AS w FROM documents
  WHERE text IS NOT NULL AND trim(text) <> ''),
wf AS (SELECT w, count(*) AS wf FROM words WHERE len(w) >= 2 GROUP BY 1),
s0 AS (SELECT w, wf, list_transform(range(1, len(w) + 1),
                                    i -> substring(w, i, 1)) AS syms
       FROM wf),
pc1 AS ({_bpe_pc.format(src="s0")}),
t1 AS ({_bpe_top.format(pc="pc1")}),
walk1 AS ({_bpe_walk.format(src="s0", walk="walk1", top="t1")}),
s1 AS (SELECT w, wf, out AS syms FROM walk1 WHERE i > len(syms)),
pc2 AS ({_bpe_pc.format(src="s1")}),
t2 AS ({_bpe_top.format(pc="pc2")}),
walk2 AS ({_bpe_walk.format(src="s1", walk="walk2", top="t2")}),
s2 AS (SELECT w, wf, out AS syms FROM walk2 WHERE i > len(syms)),
pc3 AS ({_bpe_pc.format(src="s2")}),
t3 AS ({_bpe_top.format(pc="pc3")})
SELECT CAST(1 AS INT) AS step, lhs, rhs, CAST(cnt AS BIGINT) AS pair_count
FROM t1
UNION ALL
SELECT 2, lhs, rhs, CAST(cnt AS BIGINT) FROM t2
UNION ALL
SELECT 3, lhs, rhs, CAST(cnt AS BIGINT) FROM t3
"""
    # bpe_encode: replay the SAME 3-rule training chain, then walk every
    # DISTINCT word (all lengths — encoding has no len>=2 guard) through
    # the three merges and roll the encoded vocabulary back onto each
    # document's word stream. Docs with no tokens keep (0, 0) via the
    # final left join.
    sql["bpe_encode"] = f"""
WITH RECURSIVE words AS (
  SELECT unnest({_LTOKS}) AS w FROM documents
  WHERE text IS NOT NULL AND trim(text) <> ''),
wf AS (SELECT w, count(*) AS wf FROM words WHERE len(w) >= 2 GROUP BY 1),
s0 AS (SELECT w, wf, list_transform(range(1, len(w) + 1),
                                    i -> substring(w, i, 1)) AS syms
       FROM wf),
pc1 AS ({_bpe_pc.format(src="s0")}),
t1 AS ({_bpe_top.format(pc="pc1")}),
walk1 AS ({_bpe_walk.format(src="s0", walk="walk1", top="t1")}),
s1 AS (SELECT w, wf, out AS syms FROM walk1 WHERE i > len(syms)),
pc2 AS ({_bpe_pc.format(src="s1")}),
t2 AS ({_bpe_top.format(pc="pc2")}),
walk2 AS ({_bpe_walk.format(src="s1", walk="walk2", top="t2")}),
s2 AS (SELECT w, wf, out AS syms FROM walk2 WHERE i > len(syms)),
pc3 AS ({_bpe_pc.format(src="s2")}),
t3 AS ({_bpe_top.format(pc="pc3")}),
v0 AS (SELECT DISTINCT w FROM words),
e0 AS (SELECT w, CAST(1 AS BIGINT) AS wf,
              list_transform(range(1, len(w) + 1),
                             i -> substring(w, i, 1)) AS syms
       FROM v0),
ewalk1 AS ({_bpe_walk.format(src="e0", walk="ewalk1", top="t1")}),
e1 AS (SELECT w, wf, out AS syms FROM ewalk1 WHERE i > len(syms)),
ewalk2 AS ({_bpe_walk.format(src="e1", walk="ewalk2", top="t2")}),
e2 AS (SELECT w, wf, out AS syms FROM ewalk2 WHERE i > len(syms)),
ewalk3 AS ({_bpe_walk.format(src="e2", walk="ewalk3", top="t3")}),
encn AS (SELECT w, len(out) AS n_sub FROM ewalk3 WHERE i > len(syms)),
agg AS (
  SELECT s.doc_id, count(*) AS n_words, sum(e.n_sub) AS n_subwords
  FROM (SELECT doc_id, unnest({_LTOKS}) AS w FROM documents
        WHERE text IS NOT NULL AND trim(text) <> '') s
  JOIN encn e USING (w) GROUP BY 1)
SELECT d.doc_id,
       CAST(coalesce(a.n_words, 0) AS BIGINT) AS n_words,
       CAST(coalesce(a.n_subwords, 0) AS BIGINT) AS n_subwords
FROM documents d LEFT JOIN agg a USING (doc_id)
"""
    # pmi_cooccurrence: directed pairs (toks[i], toks[i+d]) for d in 1..2,
    # PMI vs the unigram distribution, pairs seen >= 5 times. DuckDB lists
    # are 1-based; range(1, len+1) x range(1, 3) with i + d <= len mirrors
    # Spark's zip_with-over-slices construction exactly. 6-dp rounding
    # absorbs cross-engine double ulp differences (token_entropy precedent).
    sql["pmi_cooccurrence"] = f"""
WITH tok AS (
  SELECT {_LTOKS} AS toks FROM documents
  WHERE text IS NOT NULL AND trim(text) <> ''),
pos AS (SELECT toks, unnest(range(1, len(toks) + 1)) AS i FROM tok),
prd AS (SELECT toks, i, unnest(range(1, 3)) AS d FROM pos),
pr AS (SELECT toks[i] AS a, toks[i + d] AS b FROM prd
       WHERE i + d <= len(toks)),
pc AS (SELECT a, b, count(*) AS pair_n FROM pr GROUP BY 1, 2
       HAVING count(*) >= 5),
uni AS (SELECT unnest(toks) AS t FROM tok),
uc AS (SELECT t, count(*) AS c FROM uni GROUP BY 1),
tot AS (SELECT count(*) AS nt FROM uni),
tp AS (SELECT count(*) AS np FROM pr)
SELECT pc.a, pc.b, CAST(pc.pair_n AS BIGINT) AS pair_n,
       round(ln((pc.pair_n * 1.0 / tp.np) /
                ((ca.c * 1.0 / tot.nt) * (cb.c * 1.0 / tot.nt))), 6) AS pmi
FROM pc
JOIN uc ca ON ca.t = pc.a
JOIN uc cb ON cb.t = pc.b
CROSS JOIN tot CROSS JOIN tp
"""
    # line_dedup: 3-token chunk lines, corpus-wide occurrence > 2 dropped,
    # text rebuilt from surviving lines in position order.
    sql["line_dedup"] = f"""
WITH tok AS (SELECT doc_id, CASE WHEN text IS NULL OR trim(text) = ''
                  THEN CAST([] AS VARCHAR[]) ELSE {_OTOKS} END AS toks
             FROM documents),
ln AS (SELECT doc_id,
              unnest(range(0, CAST(ceil(len(toks)/3.0) AS INT))) AS pos,
              toks
       FROM tok),
l2 AS (SELECT doc_id, pos,
              array_to_string(list_slice(toks, pos*3+1, pos*3+3), ' ') AS line
       FROM ln),
lk AS (SELECT doc_id, pos, line, lower(line) AS lkey FROM l2),
freq AS (SELECT lkey, count(*) AS occ FROM lk GROUP BY 1),
kept AS (SELECT doc_id, count(*) AS n_kept,
                array_to_string(list(line ORDER BY pos), ' ') AS cleaned_text
         FROM lk JOIN freq USING (lkey) WHERE occ <= 2 GROUP BY 1),
nl AS (SELECT doc_id, CAST(ceil(len(toks)/3.0) AS BIGINT) AS n_lines FROM tok)
SELECT d.doc_id, nl.n_lines,
       CAST(coalesce(n_kept, 0) AS BIGINT) AS n_kept,
       coalesce(cleaned_text, '') AS cleaned_text
FROM documents d JOIN nl USING (doc_id) LEFT JOIN kept USING (doc_id)
"""
    # salted_join: the oracle is the PLAIN join — salting must not change
    # the result set, only the physical shuffle distribution. The summed
    # dim value is rounded BEFORE the join fan-out (sum order per user is
    # the same single aggregation in both engines at 6 dp).
    sql["salted_join"] = """
WITH dim AS (
  SELECT user_id,
         round(sum(CASE WHEN event_type = 'purchase' THEN value END), 6)
           AS user_purchase_total
  FROM events GROUP BY 1)
SELECT e.event_id, e.user_id, dim.user_purchase_total
FROM events e JOIN dim USING (user_id)
"""
    # key_skew_stats: rank-selected quantiles from the count-of-counts
    # histogram — all-integer except the rounded top1_share division
    sql["key_skew_stats"] = """
WITH counts AS (SELECT user_id AS k, count(*) AS c FROM events GROUP BY 1),
hist AS (SELECT c, count(*) AS nk FROM counts GROUP BY 1),
cum AS (SELECT c, nk, sum(nk) OVER (ORDER BY c ROWS BETWEEN UNBOUNDED
        PRECEDING AND CURRENT ROW) AS cum FROM hist),
tot AS (SELECT count(*) AS n_keys, sum(c) AS total_rows,
               max(c) AS max_count FROM counts)
SELECT 'n_keys' AS metric, CAST(n_keys AS DOUBLE) AS value FROM tot
UNION ALL SELECT 'total_rows', CAST(total_rows AS DOUBLE) FROM tot
UNION ALL SELECT 'max_count', CAST(max_count AS DOUBLE) FROM tot
UNION ALL SELECT 'top1_share',
  round(CAST(max_count AS DOUBLE) / total_rows, 6) FROM tot
UNION ALL SELECT 'p50_count', CAST(min(c) AS DOUBLE) FROM cum, tot
  WHERE cum >= 1 + floor(0.5 * (n_keys - 1))
UNION ALL SELECT 'p90_count', CAST(min(c) AS DOUBLE) FROM cum, tot
  WHERE cum >= 1 + floor(0.9 * (n_keys - 1))
UNION ALL SELECT 'p99_count', CAST(min(c) AS DOUBLE) FROM cum, tot
  WHERE cum >= 1 + floor(0.99 * (n_keys - 1))
"""
    # funnel_conversion: earliest-qualifying cascade — exact timestamp
    # comparisons, integer counts
    sql["funnel_conversion"] = """
WITH v AS (SELECT user_id AS uid, min(ts) AS tk FROM events
           WHERE event_type = 'view' GROUP BY 1),
c AS (SELECT e.user_id AS uid, min(e.ts) AS tk FROM events e
      JOIN v ON e.user_id = v.uid
      WHERE e.event_type = 'click' AND e.ts > v.tk GROUP BY 1),
p AS (SELECT e.user_id AS uid, min(e.ts) AS tk FROM events e
      JOIN c ON e.user_id = c.uid
      WHERE e.event_type = 'purchase' AND e.ts > c.tk GROUP BY 1)
SELECT 'view' AS stage, CAST(1 AS BIGINT) AS depth,
       CAST((SELECT count(*) FROM v) AS BIGINT) AS n_users
UNION ALL
SELECT 'view -> click', 2, (SELECT count(*) FROM c)
UNION ALL
SELECT 'view -> click -> purchase', 3, (SELECT count(*) FROM p)
"""
    # retention_cohorts: all-integer date arithmetic; dates as VARCHAR on
    # both sides (count_by_date convention)
    sql["retention_cohorts"] = """
WITH e AS (SELECT user_id AS uid, CAST(ts AS DATE) AS d FROM events),
f AS (SELECT uid, min(d) AS cohort_date FROM e GROUP BY 1)
SELECT CAST(cohort_date AS VARCHAR) AS cohort_date,
       CAST(datediff('day', cohort_date, d) AS BIGINT) AS day_offset,
       CAST(count(DISTINCT uid) AS BIGINT) AS n_users
FROM e JOIN f USING (uid)
GROUP BY f.cohort_date, 2
"""
    # corpus_rollup: GROUP BY ROLLUP with GROUPING() bitmask — integer
    # sums, quotient rounded identically on both sides
    sql["corpus_rollup"] = """
SELECT lang, source,
       CAST(grouping(lang, source) AS BIGINT) AS gid,
       count(*) AS n_docs,
       CAST(sum(length(text)) AS BIGINT) AS total_chars,
       round(CAST(sum(length(text)) AS BIGINT) * 1.0 / count(*), 6)
         AS avg_chars
FROM documents
GROUP BY ROLLUP(lang, source)
"""
    # stratified_sample: all-integer Hamilton allocation + smallest-hash
    # draw — no floats anywhere, so the oracle is exact. The oracle ranks
    # the UNFILTERED corpus: if the Spark side's hash-space pre-filter
    # ever dropped a needed row, this comparison fails loudly.
    sql["stratified_sample"] = """
WITH c AS (SELECT lang AS stratum, count(*) AS c FROM documents GROUP BY 1),
n AS (SELECT sum(c) AS n FROM c),
q AS (SELECT stratum, c, (c * 100) // n AS base, (c * 100) % n AS rem
      FROM c CROSS JOIN n),
r AS (SELECT 100 - sum(base) AS r FROM q),
quota AS (
  SELECT stratum,
         base + CASE WHEN row_number() OVER (ORDER BY rem DESC, stratum)
                          <= (SELECT r FROM r) THEN 1 ELSE 0 END AS quota
  FROM q),
h AS (SELECT doc_id, lang AS stratum,
             CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)
                  AS BIGINT) AS h
      FROM documents),
ranked AS (
  SELECT doc_id, stratum,
         row_number() OVER (PARTITION BY stratum ORDER BY h, doc_id)
           AS sample_rank
  FROM h)
SELECT doc_id, stratum, sample_rank
FROM ranked JOIN quota USING (stratum)
WHERE sample_rank <= quota
"""
    # substring_dedup: same 60-bit md5 gram hash as winnowing; integer
    # counts and position sets only (no floats), so cross-engine equality
    # is exact. k=5, occurrence > 2 flags a gram's 5 positions.
    sql["substring_dedup"] = f"""
WITH base AS (SELECT doc_id, CASE WHEN text IS NULL OR trim(text) = ''
                   THEN CAST([] AS VARCHAR[]) ELSE {_OTOKS} END AS toks
              FROM documents),
g AS (SELECT doc_id, toks,
        CASE WHEN len(toks) >= 5 THEN
          [CAST('0x' || substr(md5(lower(
                array_to_string(toks[i : i+4], ' '))),
                1, 15) AS BIGINT) for i in range(1, len(toks) - 3)]
        ELSE CAST([] AS BIGINT[]) END AS grams
      FROM base),
e AS (SELECT doc_id, unnest(grams) AS gram,
             generate_subscripts(grams, 1) AS pos
      FROM g),
freq AS (SELECT gram, count(*) AS occ FROM e GROUP BY 1),
starts AS (SELECT doc_id, pos FROM e JOIN freq USING (gram) WHERE occ > 2),
rm AS (SELECT doc_id,
              list_distinct(flatten(list(range(pos, pos + 5)))) AS rmpos
       FROM starts GROUP BY 1)
SELECT b.doc_id,
  CAST(len(toks) AS BIGINT) AS n_tokens,
  CAST(coalesce(len(rmpos), 0) AS BIGINT) AS n_removed,
  coalesce(CASE WHEN rmpos IS NULL THEN array_to_string(toks, ' ')
       ELSE array_to_string(list_transform(
              list_filter(range(1, len(toks) + 1),
                          j -> NOT list_contains(rmpos, j)),
              j -> toks[j]), ' ')
  END, '') AS cleaned_text
FROM base b LEFT JOIN rm USING (doc_id)
"""
    # pii_scrub: identical pattern strings (Java ∩ RE2 subset) run in both
    # engines; DuckDB needs the 'g' flag to match Spark's replace-all.
    from pdf_extractor_spark.operators.curation import (
        PII_EMAIL,
        PII_IPV4,
        PII_PHONE,
    )

    _aug = (
        "text || ' contact user' || CAST(doc_id AS VARCHAR) || "
        "'@mail.example.com or +1-555-' || "
        "lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || "
        "' from 10.' || CAST(doc_id % 256 AS VARCHAR) || '.0.' || "
        "CAST((doc_id * 7) % 256 AS VARCHAR)"
    )
    sql["pii_scrub"] = f"""
WITH aug AS (SELECT doc_id, {_aug} AS text FROM documents)
SELECT doc_id,
  CAST(len(regexp_extract_all(text, '{PII_EMAIL}')) AS BIGINT) AS n_emails,
  CAST(len(regexp_extract_all(text, '{PII_PHONE}')) AS BIGINT) AS n_phones,
  CAST(len(regexp_extract_all(text, '{PII_IPV4}')) AS BIGINT) AS n_ips,
  regexp_replace(regexp_replace(regexp_replace(
    text, '{PII_EMAIL}', '<EMAIL>', 'g'),
    '{PII_PHONE}', '<PHONE>', 'g'),
    '{PII_IPV4}', '<IP>', 'g') AS scrubbed
FROM aug
"""
    # url_normalize / host_stats: identical synthesis + normalization
    # replicated in SQL (same regex strings, list_filter for utm_* drop).
    _url_synth = (
        "(CASE WHEN doc_id % 2 = 0 THEN 'HTTPS' ELSE 'http' END) || "
        "'://WWW.' || source || '.Example.COM' || "
        "(CASE WHEN doc_id % 3 = 0 THEN ':443' "
        "WHEN doc_id % 3 = 1 THEN ':8080' ELSE '' END) || "
        "'/Page/' || CAST(doc_id % 50 AS VARCHAR) || "
        "'?utm_source=feed&utm_id=' || CAST(doc_id % 7 AS VARCHAR) || "
        "'&id=' || CAST(doc_id AS VARCHAR) || "
        "(CASE WHEN doc_id % 5 = 0 THEN '#sec2' ELSE '' END)"
    )
    _url_parts = (
        "lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) "
        "AS scheme, "
        "regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)', 1) "
        "AS hostport, "
        "regexp_extract(url, "
        "'^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]+([^?#]*)', 1) AS path, "
        "regexp_extract(url, '\\?([^#]*)', 1) AS query"
    )
    _url_port = "regexp_extract(hostport, ':([0-9]+)$', 1)"
    _url_rebuild = (
        "lower(regexp_replace(hostport, ':[0-9]+$', '')) AS host, "
        "scheme || '://' || lower(regexp_replace(hostport, ':[0-9]+$', '')) "
        f"|| (CASE WHEN {_url_port} = '' "
        f"OR (scheme = 'http' AND {_url_port} = '80') "
        f"OR (scheme = 'https' AND {_url_port} = '443') "
        f"THEN '' ELSE ':' || {_url_port} END) || path || "
        "(CASE WHEN len(list_filter(string_split(query, '&'), "
        "p -> p <> '' AND NOT regexp_matches(p, '^utm_'))) > 0 "
        "THEN '?' || array_to_string(list_filter(string_split(query, '&'), "
        "p -> p <> '' AND NOT regexp_matches(p, '^utm_')), '&') "
        "ELSE '' END) AS norm_url"
    )
    sql["url_normalize"] = f"""
WITH aug AS (SELECT doc_id, {_url_synth} AS url FROM documents),
parts AS (SELECT doc_id, {_url_parts} FROM aug)
SELECT doc_id, {_url_rebuild} FROM parts
"""
    # robots_rules: same rule synthesis as the Spark wrapper (per-host
    # disallow-/ < allow-/Page < congruence-keyed /Page/k lines with an
    # equal-length allow tie), REP longest-match resolution as a
    # row_number argmax (l DESC, allow DESC, prefix DESC).
    sql["robots_rules"] = """
WITH hosts AS (
  SELECT 'www.' || source || '.example.com' AS host,
         length(source) % 5 AS r
  FROM (SELECT DISTINCT source FROM documents)),
ks AS (SELECT host, r, unnest(range(0, 50)) AS k FROM hosts),
rules AS (
  SELECT host, 'disallow' AS directive, '/' AS prefix FROM hosts
  UNION ALL SELECT host, 'allow', '/Page' FROM hosts
  UNION ALL SELECT host, 'disallow', '/Page/' || CAST(k AS VARCHAR)
    FROM ks WHERE k % 5 = r
  UNION ALL SELECT host, 'allow', '/Page/' || CAST(k AS VARCHAR)
    FROM ks WHERE k % 10 = r),
pages AS (
  SELECT doc_id, 'www.' || source || '.example.com' AS host,
         '/Page/' || CAST(doc_id % 50 AS VARCHAR) AS path
  FROM documents),
cand AS (
  SELECT doc_id, host, path,
         unnest(list_prepend('/',
           list_transform(range(2, len(string_split(path, '/')) + 1),
             i -> array_to_string(string_split(path, '/')[1:i], '/'))))
           AS prefix
  FROM pages),
m AS (
  SELECT c.doc_id, c.host, c.path, r.prefix AS mp, r.directive
  FROM cand c LEFT JOIN rules r
    ON r.host = c.host AND r.prefix = c.prefix),
w AS (
  SELECT doc_id, host, path,
         CASE WHEN directive IS NULL THEN -1 ELSE length(mp) END AS l,
         CASE WHEN coalesce(directive, '') = 'allow' THEN 1 ELSE 0 END AS a,
         coalesce(mp, '') AS p, coalesce(directive, 'allow') AS d
  FROM m),
r2 AS (
  SELECT *, row_number() OVER (PARTITION BY doc_id
              ORDER BY l DESC, a DESC, p DESC, d DESC) AS rn
  FROM w)
SELECT doc_id, host, path, nullif(p, '') AS matched_prefix,
       d = 'allow' AS fetchable
FROM r2 WHERE rn = 1
"""
    # url_dedup: the recrawl synthesis (no unique id param) + the same
    # normalization fragments, grouped on the canonical URL.
    _url_recrawl_synth = (
        "(CASE WHEN doc_id % 2 = 0 THEN 'HTTPS' ELSE 'https' END) || "
        "'://WWW.' || source || '.Example.COM' || "
        "(CASE WHEN doc_id % 3 = 0 THEN ':443' ELSE '' END) || "
        "'/Page/' || CAST(doc_id % 50 AS VARCHAR) || "
        "'?utm_source=feed&utm_campaign=' || CAST(doc_id % 7 AS VARCHAR) || "
        "(CASE WHEN doc_id % 5 = 0 THEN '#top' ELSE '' END)"
    )
    sql["url_dedup"] = f"""
WITH aug AS (SELECT doc_id, {_url_recrawl_synth} AS url FROM documents),
parts AS (SELECT doc_id, {_url_parts} FROM aug),
norm AS (SELECT doc_id, {_url_rebuild} FROM parts)
SELECT norm_url, CAST(min(doc_id) AS BIGINT) AS canonical_id,
       CAST(count(*) AS BIGINT) AS n_fetches
FROM norm GROUP BY 1
"""
    sql["host_stats"] = f"""
WITH aug AS (SELECT doc_id, {_url_synth} AS url FROM documents),
parts AS (SELECT doc_id, {_url_parts} FROM aug),
norm AS (SELECT doc_id, {_url_rebuild} FROM parts)
SELECT host, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(count(DISTINCT norm_url) AS BIGINT) AS distinct_urls,
       round(avg(n_chars), 4) AS avg_chars
FROM norm JOIN documents USING (doc_id)
GROUP BY 1 ORDER BY 1
"""
    # url_blocklist: label-suffix domain match against the 2-entry list;
    # matched_suffix is the longest (first, suffixes run longest->shortest)
    sql["url_blocklist"] = f"""
WITH aug AS (SELECT doc_id, {_url_synth} AS url FROM documents),
h AS (SELECT doc_id,
        lower(regexp_replace(regexp_extract(url,
          '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)', 1), ':[0-9]+$', ''))
          AS host
      FROM aug),
sfx AS (SELECT doc_id, host, str_split(host, '.') AS labels FROM h),
m AS (SELECT doc_id, host,
        list_filter(
          [array_to_string(list_slice(labels, i, len(labels)), '.')
           for i in range(1, len(labels) + 1)],
          s -> list_contains(
            ['src3.example.com', 'src7.example.com'], s)) AS mt
      FROM sfx)
SELECT doc_id, host,
       CASE WHEN len(mt) > 0 THEN mt[1] ELSE '' END AS matched_suffix,
       len(mt) > 0 AS blocked
FROM m
"""
    # crawl_schedule: same synthesis + normalization fragments, then the
    # per-host seeded-md5 slot window (ties to doc_id).
    sql["crawl_schedule"] = f"""
WITH aug AS (SELECT doc_id, {_url_synth} AS url FROM documents),
parts AS (SELECT doc_id, {_url_parts} FROM aug),
norm AS (SELECT doc_id, {_url_rebuild} FROM parts),
ranked AS (
  SELECT doc_id, host,
         row_number() OVER (PARTITION BY host
           ORDER BY md5('politeness_' || norm_url || '_' ||
                        CAST(doc_id AS VARCHAR)), doc_id) - 1 AS slot
  FROM norm)
SELECT doc_id, host, CAST(slot AS INT) AS slot,
       CAST(slot * 2 AS BIGINT) AS fetch_at_s
FROM ranked
"""
    # compaction_plan: the synthetic file inventory (one "file" per doc:
    # partition = source, deterministic zero-padded name, bytes =
    # text length + 512 header overhead) binpacked at 8 KiB.
    sql["compaction_plan"] = """
WITH files AS (
  SELECT source AS part,
         'doc-' || lpad(CAST(doc_id AS VARCHAR), 12, '0') AS file_name,
         coalesce(length(text), 0) + 512 AS bytes
  FROM documents),
b AS (
  SELECT part, bytes,
         CASE WHEN bytes < 8192 THEN CAST(floor(
           (sum(CASE WHEN bytes < 8192 THEN bytes ELSE 0 END)
              OVER (PARTITION BY part ORDER BY file_name
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            - bytes) / 8192.0) AS BIGINT)
         ELSE -CAST(sum(CASE WHEN bytes < 8192 THEN 0 ELSE 1 END)
              OVER (PARTITION BY part ORDER BY file_name
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT)
         END AS bin
  FROM files)
SELECT part, bin, CAST(count(*) AS BIGINT) AS n_files,
       CAST(sum(bytes) AS BIGINT) AS bin_bytes,
       count(*) > 1 AS needs_rewrite
FROM b GROUP BY 1, 2 ORDER BY 1, 2
"""
    # bpe_vocab: training chain as in bpe_merges, then the weighted encode
    # walk over ALL distinct words (e0 carries true word frequencies) and
    # a symbol rollup of the final sequences.
    sql["bpe_vocab"] = f"""
WITH RECURSIVE words AS (
  SELECT unnest({_LTOKS}) AS w FROM documents
  WHERE text IS NOT NULL AND trim(text) <> ''),
wf AS (SELECT w, count(*) AS wf FROM words WHERE len(w) >= 2 GROUP BY 1),
s0 AS (SELECT w, wf, list_transform(range(1, len(w) + 1),
                                    i -> substring(w, i, 1)) AS syms
       FROM wf),
pc1 AS ({_bpe_pc.format(src="s0")}),
t1 AS ({_bpe_top.format(pc="pc1")}),
walk1 AS ({_bpe_walk.format(src="s0", walk="walk1", top="t1")}),
s1 AS (SELECT w, wf, out AS syms FROM walk1 WHERE i > len(syms)),
pc2 AS ({_bpe_pc.format(src="s1")}),
t2 AS ({_bpe_top.format(pc="pc2")}),
walk2 AS ({_bpe_walk.format(src="s1", walk="walk2", top="t2")}),
s2 AS (SELECT w, wf, out AS syms FROM walk2 WHERE i > len(syms)),
pc3 AS ({_bpe_pc.format(src="s2")}),
t3 AS ({_bpe_top.format(pc="pc3")}),
wfall AS (SELECT w, count(*) AS wf FROM words GROUP BY 1),
e0 AS (SELECT w, wf, list_transform(range(1, len(w) + 1),
                                    i -> substring(w, i, 1)) AS syms
       FROM wfall),
ewalk1 AS ({_bpe_walk.format(src="e0", walk="ewalk1", top="t1")}),
e1 AS (SELECT w, wf, out AS syms FROM ewalk1 WHERE i > len(syms)),
ewalk2 AS ({_bpe_walk.format(src="e1", walk="ewalk2", top="t2")}),
e2 AS (SELECT w, wf, out AS syms FROM ewalk2 WHERE i > len(syms)),
ewalk3 AS ({_bpe_walk.format(src="e2", walk="ewalk3", top="t3")}),
e3 AS (SELECT w, wf, out AS syms FROM ewalk3 WHERE i > len(syms))
SELECT symbol, CAST(sum(wf) AS BIGINT) AS freq
FROM (SELECT wf, unnest(syms) AS symbol FROM e3)
GROUP BY 1
"""
    # dsir_weights: identical md5-bucketed unigram models, add-1 smoothed
    # log-ratio per bucket, per-doc sum rounded to 6 dp (ln precedent:
    # pmi_cooccurrence / lm_perplexity).
    sql["dsir_weights"] = f"""
WITH tok AS (
  SELECT doc_id, doc_id % 97 = 0 AS is_t, unnest({_LTOKS}) AS t
  FROM documents WHERE text IS NOT NULL AND trim(text) <> ''),
tb AS (SELECT doc_id, is_t,
              CAST('0x' || substr(md5(t), 1, 15) AS BIGINT) % 256 AS bk
       FROM tok),
bc AS (SELECT bk, sum(CASE WHEN is_t THEN 1 ELSE 0 END) AS ct,
              sum(CASE WHEN is_t THEN 0 ELSE 1 END) AS cr
       FROM tb GROUP BY 1),
tot AS (SELECT sum(ct) AS tt, sum(cr) AS tr FROM bc),
lr AS (SELECT bk, ln((ct + 1.0) / (tt + 256.0))
               - ln((cr + 1.0) / (tr + 256.0)) AS r
       FROM bc, tot),
agg AS (SELECT tb.doc_id, count(*) AS nf, sum(lr.r) AS w
        FROM tb JOIN lr USING (bk) GROUP BY 1)
SELECT d.doc_id, CAST(coalesce(a.nf, 0) AS BIGINT) AS n_feats,
       round(coalesce(a.w, 0.0), 6) AS log_w
FROM documents d LEFT JOIN agg a USING (doc_id)
"""
    # snapshot_diff: snapshot B derived in SQL exactly as the Spark query
    # derives it; the diff is one full-outer join on doc_id over digests.
    sql["snapshot_diff"] = """
WITH old AS (SELECT doc_id, md5(coalesce(text, '')) AS od FROM documents),
new AS (
  SELECT doc_id,
         md5(CASE WHEN doc_id % 13 = 0 THEN coalesce(text, '') || ' v2'
                  ELSE coalesce(text, '') END) AS nd
  FROM documents WHERE doc_id % 11 <> 0
  UNION ALL
  SELECT doc_id + 1000000, md5(coalesce(text, '') || ' new')
  FROM documents WHERE doc_id % 17 = 0)
SELECT doc_id,
       CASE WHEN od IS NULL THEN 'added'
            WHEN nd IS NULL THEN 'removed'
            WHEN od = nd THEN 'unchanged'
            ELSE 'changed' END AS status
FROM old FULL OUTER JOIN new USING (doc_id)
"""
    # props_variant_stats: DuckDB's native JSON extraction is the
    # independent mirror of the VARIANT path probes.
    sql["props_variant_stats"] = """
SELECT event_type, CAST(count(k) AS BIGINT) AS n,
       CAST(min(k) AS BIGINT) AS min_k, CAST(max(k) AS BIGINT) AS max_k,
       round(avg(k), 6) AS avg_k
FROM (SELECT event_type,
             TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
      FROM events)
GROUP BY 1 ORDER BY 1
"""
    # heavy_hitters: the CMS prefilter must be output-invisible (no false
    # negatives), so the oracle is the PLAIN exact aggregate.
    sql["heavy_hitters"] = """
SELECT user_id AS key, CAST(count(*) AS BIGINT) AS exact_n
FROM events WHERE user_id IS NOT NULL
GROUP BY 1 HAVING count(*) >= 75
"""
    # event_dedup: identical lag-debounce at microsecond precision.
    sql["event_dedup"] = """
SELECT event_id, user_id, event_type, ts,
       coalesce(epoch_us(ts) - lag(epoch_us(ts)) OVER (
           PARTITION BY user_id, event_type ORDER BY ts, event_id)
         <= CAST(3600000000 AS BIGINT), false) AS is_dup
FROM events
"""
    # rendezvous_shards: identical md5 weights, argmax via (w DESC, s
    # DESC) row_number — the exact mirror of Spark's struct array_max.
    _hrw = (
        "CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '_' || "
        "CAST(s AS VARCHAR)), 1, 15) AS BIGINT)"
    )
    sql["rendezvous_shards"] = f"""
WITH w16 AS (
  SELECT doc_id, s, {_hrw} AS w,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY {_hrw} DESC, s DESC) AS rn
  FROM documents, range(16) t(s)),
w17 AS (
  SELECT doc_id, s, {_hrw} AS w,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY {_hrw} DESC, s DESC) AS rn
  FROM documents, range(17) t(s)),
a AS (SELECT doc_id, CAST(s AS INT) AS shard FROM w16 WHERE rn = 1),
b AS (SELECT doc_id, CAST(s AS INT) AS shard_new FROM w17 WHERE rn = 1)
SELECT a.doc_id, a.shard, b.shard_new, a.shard <> b.shard_new AS moved
FROM a JOIN b USING (doc_id)
"""
    # fuzzy_name_match: the identical deletion-neighborhood construction
    # in SQL — keys + 1-deletion variants, variant equi-join, exact
    # levenshtein verify.
    sql["fuzzy_name_match"] = """
WITH l AS (SELECT c_custkey AS id, lower(c_name) AS key FROM customer),
r AS (SELECT c_custkey AS id,
             substr(lower(c_name), 1,
                    CAST(c_custkey % length(c_name) AS INT))
             || substr(lower(c_name),
                       CAST(c_custkey % length(c_name) AS INT) + 2,
                       length(c_name)) AS key
      FROM customer),
vl AS (SELECT DISTINCT id, key, v FROM (
  SELECT id, key,
         unnest(list_prepend(key, list_transform(range(1, len(key) + 1),
                i -> substr(key, 1, i - 1) || substr(key, i + 1, len(key)))))
         AS v
  FROM l)),
vr AS (SELECT DISTINCT id, key, v FROM (
  SELECT id, key,
         unnest(list_prepend(key, list_transform(range(1, len(key) + 1),
                i -> substr(key, 1, i - 1) || substr(key, i + 1, len(key)))))
         AS v
  FROM r)),
cand AS (SELECT DISTINCT vl.id AS id1, vr.id AS id2,
                vl.key AS key1, vr.key AS key2
         FROM vl JOIN vr USING (v))
SELECT id1, id2, key1, key2,
       CAST(levenshtein(key1, key2) AS INT) AS edit_dist
FROM cand WHERE levenshtein(key1, key2) <= 1
"""
    # dataset_split: the same salted-md5 bucket (simhash_token_hash's
    # cross-engine recipe), threshold CASE, and stratified rollup with
    # the window-sum frac.
    _split_bucket = (
        "CAST('0x' || substr(md5('split1_' || CAST(doc_id AS VARCHAR)),"
        " 1, 15) AS BIGINT) % 10000"
    )
    sql["dataset_split"] = f"""
WITH per AS (
  SELECT lang AS strata,
         CASE WHEN {_split_bucket} < 100 THEN 'val'
              WHEN {_split_bucket} < 200 THEN 'test'
              ELSE 'train' END AS split,
         length(coalesce(text, '')) AS nc
  FROM documents),
c AS (
  SELECT strata, split, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(nc) AS BIGINT) AS n_chars
  FROM per GROUP BY 1, 2)
SELECT strata, split, n_docs, n_chars,
       ROUND(CAST(n_docs AS DOUBLE)
             / SUM(n_docs) OVER (PARTITION BY strata), 6) AS frac
FROM c
"""
    # pareto_frontier: INDEPENDENT skyline — brute-force NOT EXISTS
    # dominance over the same raw-double score, no window trick shared
    # with the Spark plan.
    sql["pareto_frontier"] = r"""
WITH base AS (
  SELECT lang, doc_id, CAST(n_chars AS BIGINT) AS n_chars,
         CAST(length(regexp_split_to_array(
                trim(coalesce(text, '')), '\s+')) AS DOUBLE)
           / (CAST(n_chars AS DOUBLE) + 1.0) AS score
  FROM documents
  WHERE lang IS NOT NULL AND n_chars IS NOT NULL)
SELECT d.lang, d.doc_id, d.n_chars, d.score
FROM base d
WHERE NOT EXISTS (
  SELECT 1 FROM base o
  WHERE o.lang = d.lang
    AND o.n_chars >= d.n_chars AND o.score >= d.score
    AND (o.n_chars > d.n_chars OR o.score > d.score))
"""
    # zipf_fit: same closed-form OLS over the rank-frequency table;
    # rank ties break by term in both engines so the fit is
    # bit-deterministic (ln sums agree to well past the 9-sig-fig hash,
    # same precedent as lm_perplexity).
    sql["zipf_fit"] = f"""
WITH terms AS (
  SELECT unnest({_LTOKS}) AS term FROM documents
  WHERE text IS NOT NULL AND trim(text) <> ''),
freq AS (
  SELECT term, CAST(count(*) AS BIGINT) AS freq FROM terms GROUP BY 1),
ranked AS (
  SELECT freq,
         ln(CAST(row_number() OVER (ORDER BY freq DESC, term)
                 AS DOUBLE)) AS x,
         ln(CAST(freq AS DOUBLE)) AS y
  FROM freq),
agg AS (
  SELECT CAST(count(*) AS BIGINT) AS n_types,
         CAST(sum(freq) AS BIGINT) AS n_tokens,
         sum(x) AS sx, sum(y) AS sy,
         sum(x * y) AS sxy, sum(x * x) AS sxx
  FROM ranked)
SELECT n_types, n_tokens,
  round((n_types * sxy - sx * sy) / (n_types * sxx - sx * sx), 6) + 0.0
    AS zipf_slope,
  round((sy - (n_types * sxy - sx * sy) / (n_types * sxx - sx * sx) * sx)
        / n_types, 6) + 0.0 AS zipf_intercept
FROM agg
"""
    # heaps_law: identical doc-id-range bucketing (same IEEE double
    # division feeding floor, so bucket edges match bit-for-bit), then
    # integer checkpoints + the same OLS on the 20 bucket rows.
    sql["heaps_law"] = f"""
WITH bounds AS (
  SELECT min(doc_id) AS lo, max(doc_id) - min(doc_id) + 1 AS span
  FROM documents),
docs AS (
  SELECT doc_id,
         CAST(least(19, CAST(floor((doc_id - lo) * 20 / span) AS BIGINT))
              AS INT) AS bucket,
         text
  FROM documents, bounds),
per_bucket AS (
  SELECT bucket,
         CAST(sum(CASE WHEN text IS NULL OR trim(text) = '' THEN 0
                       ELSE len({_TOKS}) END) AS BIGINT) AS toks
  FROM docs GROUP BY 1),
first_seen AS (
  SELECT bucket, CAST(count(*) AS BIGINT) AS new_types FROM (
    SELECT term, min(bucket) AS bucket FROM (
      SELECT bucket, unnest({_LTOKS}) AS term FROM docs
      WHERE text IS NOT NULL AND trim(text) <> '') GROUP BY 1)
  GROUP BY 1),
cum AS (
  SELECT p.bucket,
         CAST(sum(p.toks) OVER w AS BIGINT) AS cum_tokens,
         CAST(sum(coalesce(f.new_types, 0)) OVER w AS BIGINT) AS cum_vocab
  FROM per_bucket p LEFT JOIN first_seen f USING (bucket)
  WINDOW w AS (ORDER BY p.bucket
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
pts AS (
  SELECT ln(CAST(cum_tokens AS DOUBLE)) AS x,
         ln(CAST(cum_vocab AS DOUBLE)) AS y
  FROM cum WHERE cum_tokens > 0 AND cum_vocab > 0),
fit AS (
  SELECT CAST(count(*) AS DOUBLE) AS n, sum(x) AS sx, sum(y) AS sy,
         sum(x * y) AS sxy, sum(x * x) AS sxx
  FROM pts),
consts AS (
  SELECT round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) + 0.0
           AS heaps_beta,
         round(exp((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx)
                   / n), 6) + 0.0 AS heaps_k
  FROM fit)
SELECT cum.bucket, cum.cum_tokens, cum.cum_vocab,
       consts.heaps_beta, consts.heaps_k
FROM cum, consts
"""
    # word_burstiness: two-level aggregation mirrored exactly; BIGINT /
    # BIGINT is double division in both engines.
    sql["word_burstiness"] = f"""
WITH tf AS (
  SELECT doc_id, term, count(*) AS tf FROM (
    SELECT doc_id, unnest({_LTOKS}) AS term FROM documents
    WHERE text IS NOT NULL AND trim(text) <> '')
  GROUP BY 1, 2),
agg AS (
  SELECT term, CAST(count(*) AS BIGINT) AS df1,
         CAST(sum(CASE WHEN tf >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS df2,
         CAST(sum(tf) AS BIGINT) AS total_tf
  FROM tf GROUP BY 1)
SELECT term, df1, df2, total_tf,
       round(df2 * 1.0 / df1, 6) + 0.0 AS burstiness,
       round(total_tf * 1.0 / df1, 6) + 0.0 AS mean_tf
FROM agg WHERE df1 >= 5
"""
    # ab_test: identical md5-parity arm assignment (engine-portable
    # 60-bit hex word) and closed-form pooled z; conversion is a
    # purchase strictly inside (first_click, first_click + 72h]. The
    # z denominator is CASE-guarded so an all-convert arm pair yields
    # z = 0, matching the Spark operator's F.when(var > 0, ...) guard.
    sql["ab_test"] = """
WITH exposed AS (
  SELECT user_id, min(ts) AS first_exposure FROM events
  WHERE event_type = 'click' GROUP BY 1),
users AS (
  SELECT CAST('0x' || substr(md5('ab1_' || CAST(e.user_id AS VARCHAR)),
              1, 15) AS BIGINT) % 2 AS arm,
         max(CASE WHEN p.ts > e.first_exposure
                   AND p.ts <= e.first_exposure + INTERVAL 72 HOUR
              THEN 1 ELSE 0 END) AS conv
  FROM exposed e LEFT JOIN events p
    ON p.user_id = e.user_id AND p.event_type = 'purchase'
  GROUP BY e.user_id, e.first_exposure),
agg AS (
  SELECT CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
         CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
         CAST(sum(CASE WHEN arm = 0 THEN conv ELSE 0 END) AS BIGINT)
           AS conv_a,
         CAST(sum(CASE WHEN arm = 1 THEN conv ELSE 0 END) AS BIGINT)
           AS conv_b
  FROM users)
SELECT n_a, n_b, conv_a, conv_b,
  round(conv_a / n_a, 6) + 0.0 AS rate_a,
  round(conv_b / n_b, 6) + 0.0 AS rate_b,
  CASE WHEN (conv_a + conv_b) > 0 AND (conv_a + conv_b) < (n_a + n_b)
       THEN round((conv_a / n_a - conv_b / n_b)
        / sqrt((conv_a + conv_b) * 1.0 / (n_a + n_b)
               * (1 - (conv_a + conv_b) * 1.0 / (n_a + n_b))
               * (1.0 / n_a + 1.0 / n_b)), 6)
       ELSE 0.0 END + 0.0 AS z_score
FROM agg
"""
    # dow_seasonality: DuckDB's dayofweek is 0=Sunday..6 — +1 aligns it
    # with Spark's 1=Sunday..7 convention.
    sql["dow_seasonality"] = """
WITH counts AS (
  SELECT CAST(dayofweek(ts) + 1 AS INT) AS dow,
         CAST(count(*) AS BIGINT) AS n_events
  FROM events GROUP BY 1),
tot AS (
  SELECT CAST(sum(n_events) AS DOUBLE) AS total,
         CAST(count(*) AS DOUBLE) AS n_days
  FROM counts),
withc AS (
  SELECT dow, n_events, total / n_days AS exp,
         (n_events - total / n_days) * (n_events - total / n_days)
           / (total / n_days) AS contrib
  FROM counts, tot),
chi AS (SELECT round(sum(contrib), 6) + 0.0 AS chi2 FROM withc)
SELECT dow, n_events, round(exp, 6) + 0.0 AS expected, chi.chi2
FROM withc, chi
"""
    # section_split: identical section synthesis (heading || '\n' || body
    # even when the body is empty — concat_ws semantics), running heading
    # count numbers sections, section 0 = unheaded preamble.
    sql["section_split"] = """
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split(coalesce(text, ''), ' '),
                     t -> t <> '') AS tk,
         CAST(1 + doc_id % 3 AS INT) AS nsec
  FROM documents),
par AS (
  SELECT doc_id, tk, nsec,
         greatest(1, CAST(ceil(len(tk) * 1.0 / nsec) AS INT)) AS per
  FROM toks),
secs0 AS (
  SELECT doc_id, nsec, s,
         list_slice(tk, (s - 1) * per + 1, s * per) AS st
  FROM par, unnest(range(1, nsec + 1)) AS u(s)),
secs AS (
  SELECT doc_id, nsec, s,
    'HEADING ' || s || ' 1' || chr(10) ||
    CASE WHEN len(st) > 0 THEN
      array_to_string(
        list_transform(range(1, CAST(ceil(len(st) / 6.0) AS INT) + 1),
          i -> array_to_string(list_slice(st, (i - 1) * 6 + 1, i * 6),
                               ' ')),
        chr(10))
    ELSE '' END AS sec
  FROM secs0),
docs2 AS (
  SELECT doc_id,
    CASE WHEN doc_id % 7 = 0
         THEN 'unheaded preamble text' || chr(10) ELSE '' END
    || string_agg(sec, chr(10) ORDER BY s) AS doc
  FROM secs GROUP BY doc_id),
lines AS (
  SELECT doc_id,
         generate_subscripts(string_split(doc, chr(10)), 1) AS line_no,
         unnest(string_split(doc, chr(10))) AS line
  FROM docs2),
marked AS (
  SELECT doc_id, line_no, line,
         (line <> '' AND NOT regexp_matches(line, '[a-z]')
          AND len(regexp_split_to_array(line, '\\s+')) <= 4) AS h
  FROM lines),
numbered AS (
  SELECT *, CAST(sum(CASE WHEN h THEN 1 ELSE 0 END)
            OVER (PARTITION BY doc_id ORDER BY line_no) AS INT)
            AS section_idx
  FROM marked)
SELECT doc_id, section_idx,
  max(CASE WHEN h THEN line END) AS heading,
  CAST(sum(CASE WHEN h THEN 0 ELSE 1 END) AS BIGINT) AS n_lines,
  CAST(sum(CASE WHEN h OR line = '' THEN 0
           ELSE len(regexp_split_to_array(line, '\\s+')) END) AS BIGINT)
    AS n_tokens
FROM numbered GROUP BY doc_id, section_idx
"""
    # keyword_rake / reverse_search: the stopword set and the standing
    # queries are embedded from the SAME Python literals the Spark
    # operator uses (keywords.RAKE_STOPWORDS / STORED_QUERIES), so the
    # two sides cannot drift.
    from pdf_extractor_spark.operators.keywords import (
        RAKE_STOPWORDS,
        STORED_QUERIES,
    )

    _rake_stop = ", ".join("'" + s + "'" for s in RAKE_STOPWORDS)
    sql["keyword_rake"] = f"""
WITH toks AS (
  SELECT doc_id, generate_subscripts(tk, 1) AS pos, unnest(tk) AS tok
  FROM (SELECT doc_id,
               list_filter(regexp_split_to_array(trim(coalesce(text, '')),
                                                 '\\s+'),
                           t -> t <> '') AS tk
        FROM documents)),
numbered AS (
  SELECT doc_id, pos, tok, tok IN ({_rake_stop}) AS b,
         sum(CASE WHEN tok IN ({_rake_stop}) THEN 1 ELSE 0 END)
           OVER (PARTITION BY doc_id ORDER BY pos) AS phrase_id
  FROM toks),
members AS (
  SELECT doc_id, phrase_id, pos, tok FROM numbered WHERE NOT b),
wl AS (
  SELECT *, count(*) OVER (PARTITION BY doc_id, phrase_id) AS plen
  FROM members),
ws AS (
  SELECT *, sum(plen) OVER (PARTITION BY doc_id, tok) * 1.0
            / count(*) OVER (PARTITION BY doc_id, tok) AS wscore
  FROM wl),
phr AS (
  SELECT doc_id, phrase_id,
         string_agg(tok, ' ' ORDER BY pos) AS phrase,
         round(sum(wscore), 6) AS score
  FROM ws GROUP BY doc_id, phrase_id),
dist AS (SELECT doc_id, phrase, score FROM phr
         GROUP BY doc_id, phrase, score),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY doc_id
                               ORDER BY score DESC, phrase ASC) AS rnk
  FROM dist)
SELECT doc_id, CAST(rnk AS INT) AS rank, phrase, score + 0.0 AS score
FROM ranked WHERE rnk <= 3
"""
    _rs_terms = ", ".join(
        f"({qid}, '{t}')"
        for qid, terms in STORED_QUERIES
        for t in sorted(set(terms))
    )
    sql["reverse_search"] = f"""
WITH q(query_id, term) AS (VALUES {_rs_terms}),
qn AS (SELECT query_id, CAST(count(DISTINCT term) AS INT) AS n_terms
       FROM q GROUP BY query_id),
dt AS (
  SELECT DISTINCT doc_id, unnest(
    list_distinct(
      list_filter(regexp_split_to_array(trim(coalesce(text, '')), '\\s+'),
                  t -> t <> ''))) AS term
  FROM documents),
hits AS (
  SELECT d.doc_id, q.query_id, count(DISTINCT d.term) AS m
  FROM dt d JOIN q ON d.term = q.term GROUP BY 1, 2),
fullh AS (
  SELECT h.doc_id, h.query_id FROM hits h
  JOIN qn USING (query_id) WHERE h.m = qn.n_terms)
SELECT qn.query_id, qn.n_terms,
       CAST(count(f.doc_id) AS BIGINT) AS n_docs,
       CAST(min(f.doc_id) AS BIGINT) AS first_doc
FROM qn LEFT JOIN fullh f USING (query_id)
GROUP BY qn.query_id, qn.n_terms
"""
    # sentence_segment: re-applies the synthesis rules directly on token
    # positions (added punctuation never contains whitespace, so
    # rebuild-join-resplit and direct application are equivalent), then
    # the same exclusive running-sum segmentation.
    from pdf_extractor_spark.operators.textstats import (
        SENTENCE_ABBREVIATIONS,
    )

    _abbr = ", ".join("'" + a + "'" for a in SENTENCE_ABBREVIATIONS)
    sql["sentence_segment"] = f"""
WITH tk AS (
  SELECT doc_id, generate_subscripts(t, 1) AS pos1, unnest(t) AS tok
  FROM (SELECT doc_id,
               list_filter(regexp_split_to_array(trim(coalesce(text, '')),
                                                 '\\s+'),
                           x -> x <> '') AS t
        FROM documents)),
syn AS (
  SELECT doc_id, pos1,
    CASE WHEN (pos1 - 1) % 17 = 0 THEN 'Dr.'
         WHEN (pos1 - 1) % 5 = 4 THEN tok || '.'
         WHEN (pos1 - 1) % 11 = 7 THEN tok || '?'
         ELSE tok END AS tok
  FROM tk),
marked AS (
  SELECT doc_id, pos1, tok,
    (regexp_matches(tok, '[.?!]$') AND tok NOT IN ({_abbr})) AS e
  FROM syn),
numbered AS (
  SELECT *, coalesce(sum(CASE WHEN e THEN 1 ELSE 0 END) OVER
    (PARTITION BY doc_id ORDER BY pos1
     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS sent_idx
  FROM marked),
sents AS (
  SELECT doc_id, sent_idx, count(*) AS n_tok,
         max(CASE WHEN e THEN 1 ELSE 0 END) AS term
  FROM numbered GROUP BY doc_id, sent_idx)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_sentences,
  round(avg(n_tok), 6) + 0.0 AS avg_tokens,
  round(sum(CASE WHEN n_tok < 4 THEN 1 ELSE 0 END) * 1.0 / count(*), 6)
    + 0.0 AS short_frac,
  CAST(sum(1 - term) AS BIGINT) AS unterminated
FROM sents GROUP BY doc_id
"""
    # badword_filter: identical leet obfuscation at (pos-1) % 13 == 0,
    # identical normalize-then-match; blocklist embedded from the SAME
    # Python literal (curation.BADWORDS).
    from pdf_extractor_spark.operators.curation import BADWORDS

    _bw = ", ".join("'" + b + "'" for b in BADWORDS)
    sql["badword_filter"] = f"""
WITH tk AS (
  SELECT doc_id, generate_subscripts(t, 1) AS pos1, unnest(t) AS tok
  FROM (SELECT doc_id,
               list_filter(regexp_split_to_array(trim(coalesce(text, '')),
                                                 '\\s+'),
                           x -> x <> '') AS t
        FROM documents)),
ob AS (
  SELECT doc_id,
    CASE WHEN (pos1 - 1) % 13 = 0
         THEN translate(tok, 'oieas', '01345') ELSE tok END AS tok
  FROM tk),
agg AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
    CAST(sum(CASE WHEN translate(lower(tok), '01345', 'oieas')
                       IN ({_bw}) THEN 1 ELSE 0 END) AS BIGINT)
      AS n_flagged
  FROM ob GROUP BY doc_id)
SELECT doc_id, n_tokens, n_flagged,
  round(n_flagged * 1.0 / n_tokens, 6) + 0.0 AS flagged_frac,
  round(n_flagged * 1.0 / n_tokens, 6) < 0.08 AS keep
FROM agg WHERE n_tokens > 0
"""
    # assoc_rules: same Apriori shape; the support threshold is integer
    # cross-multiplication (n * den >= N * num) on both engines.
    sql["assoc_rules"] = """
WITH items AS (
  SELECT DISTINCT doc_id, unnest(
    list_distinct(
      list_filter(regexp_split_to_array(trim(coalesce(text, '')), '\\s+'),
                  t -> t <> ''))) AS tok
  FROM documents),
tot AS (SELECT count(DISTINCT doc_id) AS n_total FROM items),
freq AS (
  SELECT tok, count(*) AS n_tok FROM items GROUP BY tok
  HAVING count(*) * 5 >= (SELECT n_total FROM tot) * 1),
fitems AS (
  SELECT i.doc_id, i.tok, f.n_tok FROM items i JOIN freq f USING (tok)),
pairs AS (
  SELECT a.tok AS a, a.n_tok AS n_a, b.tok AS b, b.n_tok AS n_b,
         count(*) AS n_pair
  FROM fitems a JOIN fitems b
    ON a.doc_id = b.doc_id AND a.tok < b.tok
  GROUP BY 1, 2, 3, 4
  HAVING count(*) * 5 >= (SELECT n_total FROM tot) * 1),
rules AS (
  SELECT a AS antecedent, b AS consequent, n_pair, n_a AS n_ante,
         n_b AS n_cons FROM pairs
  UNION ALL
  SELECT b, a, n_pair, n_b, n_a FROM pairs),
scored AS (
  SELECT antecedent, consequent, CAST(n_pair AS BIGINT) AS n_pair,
         CAST(n_ante AS BIGINT) AS n_ante, CAST(n_cons AS BIGINT) AS n_cons,
         round(n_pair * 1.0 / n_ante, 6) + 0.0 AS confidence,
         round(n_pair * (SELECT n_total FROM tot) * 1.0
               / (n_ante * n_cons), 6) + 0.0 AS lift
  FROM rules),
ranked AS (
  SELECT *, row_number() OVER
    (ORDER BY lift DESC, antecedent, consequent) AS rnk
  FROM scored)
SELECT CAST(rnk AS INT) AS rank, antecedent, consequent, n_pair, n_ante,
       n_cons, confidence, lift
FROM ranked WHERE rnk <= 20
"""
    # quote_extract: identical quote synthesis at (pos-1) % 19, then the
    # same regex — unclosed tails must not match on either engine.
    sql["quote_extract"] = """
WITH tk AS (
  SELECT doc_id, generate_subscripts(t, 1) AS pos1, unnest(t) AS tok
  FROM (SELECT doc_id,
               list_filter(regexp_split_to_array(trim(coalesce(text, '')),
                                                 '\\s+'),
                           x -> x <> '') AS t
        FROM documents)),
syn AS (
  SELECT doc_id, pos1,
    (CASE WHEN (pos1 - 1) % 19 = 0 THEN '"' ELSE '' END) || tok ||
    (CASE WHEN (pos1 - 1) % 19 = 2 THEN '"' ELSE '' END) AS tok
  FROM tk),
docs2 AS (
  SELECT doc_id, string_agg(tok, ' ' ORDER BY pos1) AS qtext
  FROM syn GROUP BY doc_id),
ext AS (
  SELECT doc_id, regexp_extract_all(qtext, '"([^"]*)"', 1) AS qs
  FROM docs2),
counted AS (
  SELECT doc_id, qs,
    list_transform(qs, q -> CASE WHEN trim(q) = '' THEN 0
      ELSE len(regexp_split_to_array(trim(q), '\\s+')) END) AS qt
  FROM ext)
SELECT doc_id, CAST(len(qs) AS BIGINT) AS n_quotes,
  CAST(coalesce(list_sum(qt), 0) AS BIGINT) AS quoted_tokens,
  CAST(coalesce(list_max(qt), 0) AS BIGINT) AS max_quote_tokens
FROM counted
"""
    # sample_alloc: all-integer Hamilton allocation — base via integer
    # division, leftover seats by remainder rank.
    sql["sample_alloc"] = """
WITH strata AS (
  SELECT lang, source, count(doc_id) AS n_docs
  FROM documents GROUP BY 1, 2),
tot AS (SELECT sum(n_docs) AS N FROM strata),
based AS (
  SELECT lang, source, n_docs,
         (100 * n_docs) // N AS base,
         (100 * n_docs) % N AS rem
  FROM strata, tot),
lo AS (SELECT 100 - sum(base) AS leftover FROM based),
ranked AS (
  SELECT *, row_number() OVER (ORDER BY rem DESC, lang, source) AS rnk
  FROM based)
SELECT lang, source, CAST(n_docs AS BIGINT) AS n_docs,
  CAST(base + CASE WHEN rnk <= (SELECT leftover FROM lo)
              THEN 1 ELSE 0 END AS BIGINT) AS quota
FROM ranked
"""
    # time_to_convert: integer-microsecond deltas (epoch_us ==
    # unix_micros), interpolated quantiles over converted users.
    sql["time_to_convert"] = """
WITH f AS (
  SELECT user_id,
         min(CASE WHEN event_type = 'view' THEN epoch_us(ts) END)
           AS first_from
  FROM events WHERE event_type IN ('view', 'purchase')
  GROUP BY user_id),
base AS (SELECT * FROM f WHERE first_from IS NOT NULL),
conv AS (
  SELECT e.user_id, min(epoch_us(e.ts) - b.first_from) AS delta_us
  FROM events e JOIN base b USING (user_id)
  WHERE e.event_type = 'purchase' AND epoch_us(e.ts) > b.first_from
  GROUP BY e.user_id),
agg AS (
  SELECT count(*) AS n_converted,
         round(quantile_cont(delta_us, 0.5) / 1000000, 6) AS median_s,
         round(quantile_cont(delta_us, 0.9) / 1000000, 6) AS p90_s
  FROM conv)
SELECT CAST((SELECT count(*) FROM base) AS BIGINT) AS n_from_users,
  CAST(n_converted AS BIGINT) AS n_converted,
  round(n_converted * 1.0 / (SELECT count(*) FROM base), 6) + 0.0
    AS conv_rate,
  median_s + 0.0 AS median_s, p90_s + 0.0 AS p90_s
FROM agg
"""
    # luhn_scan: identical PAN synthesis ('4' + 14 id-derived digits +
    # computed check digit), identical mod-10 fold via DuckDB's indexed
    # list lambda (1-based index == position from the right after
    # reverse).
    sql["luhn_scan"] = """
WITH base AS (
  SELECT doc_id, text,
         '4' || lpad(CAST((doc_id * 7919) % 100000000000000 AS VARCHAR),
                     14, '0') AS b15
  FROM documents),
chk AS (
  SELECT doc_id, text, b15,
    (10 - list_sum(
       list_transform(regexp_split_to_array(reverse(b15), ''),
         (d, i) -> CASE WHEN i % 2 = 1
                        THEN 2 * CAST(d AS INT)
                             - CASE WHEN CAST(d AS INT) >= 5
                                    THEN 9 ELSE 0 END
                        ELSE CAST(d AS INT) END)) % 10) % 10 AS c
  FROM base),
syn AS (
  SELECT doc_id,
    CASE WHEN doc_id % 4 = 0 THEN text || ' ' || b15 || CAST(c AS VARCHAR)
         WHEN doc_id % 4 = 1
           THEN text || ' ' || b15 || CAST((c + 1) % 10 AS VARCHAR)
         WHEN doc_id % 4 = 2 THEN text || ' 123'
         ELSE text END AS ptext
  FROM chk),
cands AS (
  SELECT doc_id,
         regexp_extract_all(ptext, '[0-9]{13,19}') AS cs
  FROM syn)
SELECT doc_id, CAST(len(cs) AS BIGINT) AS n_candidates,
  CAST(len(list_filter(cs, s ->
    list_sum(
      list_transform(regexp_split_to_array(reverse(s), ''),
        (d, i) -> CASE WHEN i % 2 = 0
                       THEN 2 * CAST(d AS INT)
                            - CASE WHEN CAST(d AS INT) >= 5
                                   THEN 9 ELSE 0 END
                       ELSE CAST(d AS INT) END)) % 10 = 0))
    AS BIGINT) AS n_luhn_valid
FROM cands
"""
    # cusum_changepoint: the same integer-scaled recursion via a
    # recursive CTE over the day index; earliest peak wins ties, flat
    # series (peak 0) yields a NULL alarm date.
    sql["cusum_changepoint"] = """
WITH RECURSIVE daily AS (
  SELECT CAST(ts AS DATE) AS d, count(*) AS x FROM events GROUP BY 1),
m AS (SELECT count(*) AS n_days, sum(x) AS total FROM daily),
numbered AS (
  SELECT d, x, row_number() OVER (ORDER BY d) AS i FROM daily),
rec AS (
  SELECT i, d,
    GREATEST(CAST(0 AS HUGEINT),
             (SELECT n_days FROM m) * x - (SELECT total FROM m)) AS s
  FROM numbered WHERE i = 1
  UNION ALL
  SELECT n.i, n.d,
    GREATEST(CAST(0 AS HUGEINT),
             r.s + (SELECT n_days FROM m) * n.x - (SELECT total FROM m))
  FROM rec r JOIN numbered n ON n.i = r.i + 1),
peak AS (SELECT max(s) AS smax FROM rec)
SELECT CAST((SELECT n_days FROM m) AS BIGINT) AS n_days,
  CAST((SELECT total FROM m) AS BIGINT) AS total,
  CAST(CASE WHEN (SELECT smax FROM peak) > 0
            THEN (SELECT smax FROM peak) ELSE 0 END AS BIGINT)
    AS max_cusum_scaled,
  CAST((SELECT min(d) FROM rec WHERE s = (SELECT smax FROM peak)
        AND (SELECT smax FROM peak) > 0) AS VARCHAR) AS alarm_date
"""
    # event_paths: same lead-window triples, same (count desc, path asc)
    # ranking.
    sql["event_paths"] = """
WITH trip AS (
  SELECT event_type AS e0,
         lead(event_type, 1) OVER w AS e1,
         lead(event_type, 2) OVER w AS e2
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
counts AS (
  SELECT e0 || '>' || e1 || '>' || e2 AS path, count(*) AS n
  FROM trip WHERE e1 IS NOT NULL AND e2 IS NOT NULL
  GROUP BY 1),
ranked AS (
  SELECT path, n, row_number() OVER (ORDER BY n DESC, path) AS rnk
  FROM counts)
SELECT CAST(rnk AS INT) AS rank, path, CAST(n AS BIGINT) AS n
FROM ranked WHERE rnk <= 10
"""
    # rfm_segments: identical integer-cents rollup and deterministic
    # ntile orderings (metric, then user_id).
    sql["rfm_segments"] = """
WITH pu AS (
  SELECT user_id, max(epoch_us(ts)) AS last_us, count(*) AS freq,
         sum(CAST(round(value * 100) AS BIGINT)) AS cents
  FROM events WHERE event_type = 'purchase' GROUP BY user_id),
ref AS (SELECT max(last_us) AS ref_us FROM pu),
tiered AS (
  SELECT user_id, cents,
    ntile(5) OVER (ORDER BY ((SELECT ref_us FROM ref) - last_us)
                            // 86400000000, user_id)
      AS r_tier,
    ntile(5) OVER (ORDER BY freq DESC, user_id) AS f_tier,
    ntile(5) OVER (ORDER BY cents DESC, user_id) AS m_tier
  FROM pu)
SELECT CAST(r_tier AS INT) AS r_tier, CAST(f_tier AS INT) AS f_tier,
  CAST(m_tier AS INT) AS m_tier,
  CAST(count(*) AS BIGINT) AS n_users,
  CAST(sum(cents) AS BIGINT) AS total_cents
FROM tiered GROUP BY 1, 2, 3
"""
    # span_interleave_stats: the oracle rebuilds the KIND sequence per
    # offset (spans = ceil(tokens/4), media at (doc_id+i)%3==0) and
    # derives runs via lag islands — an independent implementation of
    # the Spark side's array fold. transitions == n_runs - 1 by
    # construction on non-empty docs.
    sql["span_interleave_stats"] = """
WITH tk AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(trim(coalesce(text, '')),
                                           '\\s+'),
                     x -> x <> '') AS t
  FROM documents),
par AS (
  SELECT doc_id, CAST(ceil(len(t) / 4.0) AS INT) AS ns
  FROM tk WHERE len(t) > 0),
kinds AS (
  SELECT doc_id, i,
         CASE WHEN (doc_id + i) % 3 = 0 THEN 'image' ELSE 'text' END
           AS kind
  FROM (SELECT doc_id, unnest(range(0, ns)) AS i FROM par)),
lagged AS (
  SELECT *, lag(kind) OVER (PARTITION BY doc_id ORDER BY i) AS pk
  FROM kinds),
runs AS (
  SELECT *, sum(CASE WHEN pk IS NULL OR kind <> pk THEN 1 ELSE 0 END)
            OVER (PARTITION BY doc_id ORDER BY i) AS run_id
  FROM lagged),
runlens AS (
  SELECT doc_id, run_id, kind, count(*) AS rl
  FROM runs GROUP BY 1, 2, 3)
SELECT doc_id, CAST(sum(rl) AS BIGINT) AS n_spans,
  CAST(sum(CASE WHEN kind = 'text' THEN rl ELSE 0 END) AS BIGINT)
    AS n_text,
  CAST(sum(CASE WHEN kind <> 'text' THEN rl ELSE 0 END) AS BIGINT)
    AS n_media,
  CAST(count(*) AS BIGINT) AS n_runs,
  CAST(coalesce(max(CASE WHEN kind = 'text' THEN rl END), 0) AS BIGINT)
    AS max_text_run,
  CAST(coalesce(max(CASE WHEN kind <> 'text' THEN rl END), 0) AS BIGINT)
    AS max_media_run,
  CAST(count(*) - 1 AS BIGINT) AS transitions
FROM runlens GROUP BY doc_id
"""
    # media_ref_integrity: the asset-store hole is (doc_id*31+i)%5==0,
    # so orphan counts are derivable analytically — independent of the
    # Spark side's explode + left join.
    sql["media_ref_integrity"] = """
WITH tk AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(trim(coalesce(text, '')),
                                           '\\s+'),
                     x -> x <> '') AS t
  FROM documents),
par AS (
  SELECT doc_id, CAST(ceil(len(t) / 4.0) AS INT) AS ns
  FROM tk WHERE len(t) > 0),
media AS (
  SELECT doc_id, i
  FROM (SELECT doc_id, unnest(range(0, ns)) AS i FROM par)
  WHERE (doc_id + i) % 3 = 0)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_media,
  CAST(sum(CASE WHEN (doc_id * 31 + i) % 5 = 0 THEN 1 ELSE 0 END)
       AS BIGINT) AS n_orphans
FROM media GROUP BY doc_id
"""
    # toc_extract: heading i has depth 1 + i % 3 and always parses (all
    # number parts are single digits), so the outline stats are
    # analytically derivable — the Spark side actually regex-parses the
    # synthesized text.
    sql["toc_extract"] = """
WITH h AS (
  SELECT doc_id, 1 + i % 3 AS depth
  FROM (SELECT doc_id,
               unnest(range(0, CAST(1 + doc_id % 4 AS INT))) AS i
        FROM documents))
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_entries,
  CAST(max(depth) AS BIGINT) AS max_depth,
  CAST(sum(CASE WHEN depth = 1 THEN 1 ELSE 0 END) AS BIGINT)
    AS n_top_level
FROM h GROUP BY doc_id
"""
    # footnote_link: markers 1..m (m = 1 + doc_id % 3), definition n
    # missing when (doc_id + n) % 4 == 0, orphan [9] when doc_id % 5
    # == 0 — the set algebra collapses to modular counting.
    sql["footnote_link"] = """
WITH n AS (
  SELECT doc_id, m, unnest(range(1, m + 1)) AS k
  FROM (SELECT doc_id, CAST(1 + doc_id % 3 AS INT) AS m
        FROM documents)),
agg AS (
  SELECT doc_id, max(m) AS m,
         sum(CASE WHEN (doc_id + k) % 4 <> 0 THEN 1 ELSE 0 END)
           AS resolved
  FROM n GROUP BY doc_id)
SELECT doc_id, CAST(m AS BIGINT) AS n_markers,
  CAST(resolved AS BIGINT) AS n_resolved,
  CAST(m - resolved AS BIGINT) AS n_dangling,
  CAST(CASE WHEN doc_id % 5 = 0 THEN 1 ELSE 0 END AS BIGINT)
    AS n_orphan_defs
FROM agg
"""
    # acronym_extract: the synthesis's validity condition collapses to
    # modular logic (the Q variant is valid iff the second word starts
    # with q) — the Spark side genuinely parses and initial-matches.
    sql["acronym_extract"] = """
WITH tk AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(trim(coalesce(text, '')),
                                           '\\s+'),
                     x -> x <> '') AS t
  FROM documents),
c AS (SELECT doc_id, t[1] AS t1, t[2] AS t2 FROM tk),
v AS (
  SELECT doc_id, t1,
    CASE WHEN doc_id % 3 = 0 THEN 'Q'
         ELSE upper(substr(t2, 1, 1)) END AS a2,
    (doc_id % 3 <> 0 OR lower(substr(t2, 1, 1)) = 'q') AS ok
  FROM c)
SELECT doc_id, CAST(1 AS BIGINT) AS n_candidates,
  CAST(CASE WHEN ok THEN 1 ELSE 0 END AS BIGINT) AS n_valid,
  CASE WHEN ok THEN upper(substr(t1, 1, 1)) || a2 END AS first_acronym
FROM v
"""
    # unit_normalize: v = 1 + doc%97, unit by doc%3, extra '7 kb' at
    # doc%4==0, decoy never counted.
    sql["unit_normalize"] = """
SELECT doc_id,
  CAST(1 + CASE WHEN doc_id % 4 = 0 THEN 1 ELSE 0 END AS BIGINT)
    AS n_quantities,
  CAST((1 + doc_id % 97) *
       CASE WHEN doc_id % 3 = 0 THEN 1024
            WHEN doc_id % 3 = 1 THEN 1048576
            ELSE 1073741824 END
       + CASE WHEN doc_id % 4 = 0 THEN 7 * 1024 ELSE 0 END AS BIGINT)
    AS total_bytes
FROM documents
"""
    # list_detect: block sizes are doc%4 and doc%3; empty blocks vanish.
    sql["list_detect"] = """
SELECT doc_id,
  CAST((CASE WHEN doc_id % 4 > 0 THEN 1 ELSE 0 END)
       + (CASE WHEN doc_id % 3 > 0 THEN 1 ELSE 0 END) AS BIGINT)
    AS n_lists,
  CAST(doc_id % 4 + doc_id % 3 AS BIGINT) AS n_items,
  CAST(greatest(doc_id % 4, doc_id % 3) AS BIGINT) AS max_list_len
FROM documents
"""
    # column_conformance: drift = 1 + doc%5 injected at doc%9==0 (>= 1,
    # so every drifted row mismatches).
    sql["column_conformance"] = """
SELECT source, CAST(count(*) AS BIGINT) AS n_rows,
  CAST(sum(CASE WHEN doc_id % 9 = 0 THEN 1 ELSE 0 END) AS BIGINT)
    AS n_mismatch,
  CAST(max(CASE WHEN doc_id % 9 = 0 THEN 1 + doc_id % 5 ELSE 0 END)
       AS BIGINT) AS max_abs_dev
FROM documents GROUP BY source
"""
    # zone_map_prune: same 32-doc file grouping; truth and zone map are
    # derivable in one aggregate on the oracle side.
    sql["zone_map_prune"] = """
WITH fs AS (
  SELECT doc_id // 32 AS file_id,
         min(n_chars) AS min_len, max(n_chars) AS max_len,
         count(*) AS n_rows,
         sum(CASE WHEN n_chars >= 600 AND n_chars < 900
             THEN 1 ELSE 0 END) AS n_match
  FROM documents GROUP BY 1),
j AS (SELECT *, (max_len < 600 OR min_len >= 900) AS pruned FROM fs)
SELECT CAST(count(*) AS BIGINT) AS n_files,
  CAST(sum(CASE WHEN pruned THEN 1 ELSE 0 END) AS BIGINT) AS n_pruned,
  CAST(sum(CASE WHEN pruned THEN 0 ELSE 1 END) AS BIGINT) AS n_scanned,
  CAST(sum(CASE WHEN NOT pruned AND n_match = 0 THEN 1 ELSE 0 END)
       AS BIGINT) AS n_false_positive,
  CAST(sum(CASE WHEN NOT pruned THEN n_rows ELSE 0 END) AS BIGINT)
    AS rows_scanned,
  CAST(sum(n_match) AS BIGINT) AS rows_matching
FROM j
"""
    # lang_confusion: reuses the lang_id oracle's marker-vote fold as a
    # CTE and cross-tabs it against the stored label.
    sql["lang_confusion"] = f"""
WITH p AS ({sql["lang_id"]})
SELECT d.lang, p.lang_pred, CAST(count(*) AS BIGINT) AS n
FROM documents d JOIN p USING (doc_id)
GROUP BY 1, 2
"""
    # bot_detect: identical bot-cadence rewrite (rank within user), lag
    # gaps, integer cross-multiplied rate threshold.
    sql["bot_detect"] = """
WITH base AS (
  SELECT user_id, event_id, ts,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS rn
  FROM events),
t AS (
  SELECT user_id,
    CASE WHEN user_id % 37 = 0
         THEN 1704067200000000 + (rn - 1) * 500000
         ELSE epoch_us(ts) END AS ts_us
  FROM base),
g AS (
  SELECT user_id, ts_us,
         ts_us - lag(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us)
           AS gap
  FROM t),
pu AS (
  SELECT user_id, count(*) AS n_events,
         max(ts_us) - min(ts_us) AS span_us,
         min(gap) AS min_gap_us
  FROM g GROUP BY user_id)
SELECT user_id, CAST(n_events AS BIGINT) AS n_events,
  CAST(span_us AS BIGINT) AS span_us,
  CAST(min_gap_us AS BIGINT) AS min_gap_us
FROM pu WHERE n_events >= 10 AND span_us < (n_events - 1) * 5000000
"""
    # centroid_drift: same per-(label, half, dim) centroids and cosine;
    # dims are 1-based here and 0-based in Spark, but dim is only a
    # grouping key so the offset cancels.
    sql["centroid_drift"] = """
WITH dims AS (
  SELECT label, CAST(vec_id % 2 AS INT) AS half,
         generate_subscripts(embedding, 1) AS dim,
         unnest(embedding) AS v
  FROM embeddings),
cent AS (
  SELECT label, half, dim, avg(CAST(v AS DOUBLE)) AS c, count(*) AS n
  FROM dims GROUP BY 1, 2, 3),
paired AS (
  SELECT label, dim,
    max(CASE WHEN half = 0 THEN c END) AS ca,
    max(CASE WHEN half = 1 THEN c END) AS cb,
    max(CASE WHEN half = 0 THEN n END) AS na,
    max(CASE WHEN half = 1 THEN n END) AS nb
  FROM cent GROUP BY 1, 2),
pl AS (
  SELECT label, max(na) AS n_a, max(nb) AS n_b,
    sum(ca * cb) AS dot, sum(ca * ca) AS na2, sum(cb * cb) AS nb2
  FROM paired GROUP BY label)
SELECT CAST(label AS INT) AS label, CAST(n_a AS BIGINT) AS n_a,
  CAST(n_b AS BIGINT) AS n_b,
  round(dot / sqrt(na2 * nb2), 6) + 0.0 AS cos_sim
FROM pl
"""
    # stylometry_delta: same marker choice (top-10 by count desc, tok
    # asc), z-scores via stddev_pop windows, pairs ranked on the
    # ROUNDED delta.
    sql["stylometry_delta"] = """
WITH st AS (
  SELECT source, tok, count(*) AS n
  FROM (SELECT source,
               unnest(list_filter(
                 regexp_split_to_array(trim(coalesce(text, '')), '\\s+'),
                 x -> x <> '')) AS tok
        FROM documents)
  GROUP BY 1, 2),
totals AS (SELECT source, sum(n) AS n_total FROM st GROUP BY source),
mk AS (
  SELECT tok FROM (
    SELECT tok, row_number() OVER (ORDER BY sum(n) DESC, tok) AS r
    FROM st GROUP BY tok)
  WHERE r <= 10),
freqs AS (
  SELECT t.source, m.tok, coalesce(s.n, 0) * 1.0 / t.n_total AS f
  FROM totals t CROSS JOIN mk m
  LEFT JOIN st s ON s.source = t.source AND s.tok = m.tok),
z AS (
  SELECT source, tok,
    CASE WHEN stddev_pop(f) OVER (PARTITION BY tok) > 0
         THEN (f - avg(f) OVER (PARTITION BY tok))
              / stddev_pop(f) OVER (PARTITION BY tok)
         ELSE 0.0 END AS z
  FROM freqs),
pairs AS (
  SELECT a.source AS src_a, b.source AS src_b,
         round(avg(abs(a.z - b.z)), 6) AS delta
  FROM z a JOIN z b ON a.tok = b.tok AND a.source < b.source
  GROUP BY 1, 2),
ranked AS (
  SELECT *, row_number() OVER (ORDER BY delta, src_a, src_b) AS rnk
  FROM pairs)
SELECT CAST(rnk AS INT) AS rank, src_a, src_b, delta + 0.0 AS delta
FROM ranked WHERE rnk <= 5
"""
    sql["source_diversity"] = """
WITH st AS (
  SELECT source, tok, count(*) AS n
  FROM (SELECT source,
               unnest(list_filter(
                 regexp_split_to_array(trim(coalesce(text, '')), '\\s+'),
                 x -> x <> '')) AS tok
        FROM documents)
  GROUP BY 1, 2)
SELECT source, CAST(sum(n) AS BIGINT) AS n_tokens,
  CAST(count(*) AS BIGINT) AS n_distinct,
  round(1 - sum(n * (n - 1)) * 1.0 / (sum(n) * (sum(n) - 1)), 6) + 0.0
    AS simpson
FROM st GROUP BY source
"""
    sql["autocomplete_prefix"] = """
WITH f AS (
  SELECT substr(tok, 1, 3) AS prefix, tok, count(*) AS n
  FROM (SELECT unnest(list_filter(
          regexp_split_to_array(trim(coalesce(text, '')), '\\s+'),
          x -> x <> '')) AS tok
        FROM documents)
  WHERE length(tok) >= 3 GROUP BY 1, 2),
r AS (
  SELECT *, row_number() OVER (PARTITION BY prefix
                               ORDER BY n DESC, tok) AS rn
  FROM f)
SELECT prefix, CAST(sum(n) AS BIGINT) AS n_tokens,
  max(CASE WHEN rn = 1 THEN tok END) AS top_token,
  CAST(max(CASE WHEN rn = 1 THEN n END) AS BIGINT) AS top_count
FROM r GROUP BY prefix
"""
    # anomaly_mad: identical two-pass MAD; the strict > threshold uses
    # the unrounded MAD on both sides (identical double pipelines).
    sql["anomaly_mad"] = """
WITH med AS (
  SELECT event_type, quantile_cont(value, 0.5) AS med
  FROM events GROUP BY 1),
dev AS (
  SELECT e.event_type, abs(e.value - m.med) AS ad, m.med
  FROM events e JOIN med m USING (event_type)),
stats AS (
  SELECT event_type, count(*) AS n, max(med) AS med,
         quantile_cont(ad, 0.5) AS mad
  FROM dev GROUP BY 1),
o AS (
  SELECT d.event_type, count(*) AS n_outliers
  FROM dev d JOIN stats s USING (event_type)
  WHERE d.ad > 5 * s.mad GROUP BY 1)
SELECT s.event_type, CAST(s.n AS BIGINT) AS n,
  round(s.med, 6) + 0.0 AS med, round(s.mad, 6) + 0.0 AS mad,
  CAST(coalesce(o.n_outliers, 0) AS BIGINT) AS n_outliers
FROM stats s LEFT JOIN o USING (event_type)
"""
    # table_column_types: the synthesis determines every column's type
    # analytically (names text, qty int, price num; the t2 table int +
    # num with 1 row); docs with doc_id % 8 == 5 always also carry t1
    # (5 mod 4 == 1), so t2 is always table_idx 1.
    sql["table_column_types"] = """
WITH base AS (
  SELECT doc_id, CAST(2 + doc_id % 3 AS BIGINT) AS n
  FROM documents WHERE doc_id % 4 = 1),
t1 AS (
  SELECT doc_id, 0 AS table_idx, c.col_idx, c.header, n,
         c.dtype
  FROM base, (VALUES (0, 'name', 'text'), (1, 'qty', 'int'),
                     (2, 'price', 'num')) AS c(col_idx, header, dtype)),
t2 AS (
  SELECT doc_id, 1 AS table_idx, c.col_idx, c.header, CAST(1 AS BIGINT)
           AS n, c.dtype
  FROM documents,
       (VALUES (0, 'x', 'int'), (1, 'y', 'num')) AS c(col_idx, header,
                                                      dtype)
  WHERE doc_id % 8 = 5)
SELECT doc_id, CAST(table_idx AS INT) AS table_idx,
  CAST(col_idx AS INT) AS col_idx, header, n AS n_rows, dtype
FROM (SELECT * FROM t1 UNION ALL SELECT * FROM t2)
"""
    # vocab_prune: same deterministic ranking (count desc, token asc),
    # integer cross-multiplied coverage threshold.
    sql["vocab_prune"] = """
WITH counts AS (
  SELECT tok, count(*) AS n
  FROM (SELECT unnest(list_filter(
          regexp_split_to_array(trim(coalesce(text, '')), '\\s+'),
          x -> x <> '')) AS tok
        FROM documents)
  GROUP BY tok),
tot AS (SELECT sum(n) AS n_total FROM counts),
r AS (
  SELECT tok, n,
         row_number() OVER (ORDER BY n DESC, tok) AS rank,
         sum(n) OVER (ORDER BY n DESC, tok
                      ROWS UNBOUNDED PRECEDING) AS cum
  FROM counts)
SELECT CAST((SELECT n_total FROM tot) AS BIGINT) AS n_total,
  CAST(count(*) AS BIGINT) AS n_vocab,
  CAST(min(CASE WHEN cum * 100 >= (SELECT n_total FROM tot) * 99
           THEN rank END) AS BIGINT) AS size_at_pct,
  round(max(CASE WHEN rank = 10 THEN cum END) * 1.0
        / (SELECT n_total FROM tot), 6) + 0.0 AS cov_at_10,
  round(max(CASE WHEN rank = 50 THEN cum END) * 1.0
        / (SELECT n_total FROM tot), 6) + 0.0 AS cov_at_50
FROM r
"""
    # value_histogram: identical double pipeline for bucket assignment;
    # edges rounded for display only.
    sql["value_histogram"] = """
WITH mm AS (SELECT min(value) AS lo, max(value) AS hi FROM events),
b AS (
  SELECT least(9, CAST(floor((value - lo) * 10 / (hi - lo)) AS INT))
           AS bucket, lo, hi
  FROM events, mm)
SELECT bucket,
  round(max(lo) + bucket * (max(hi) - max(lo)) / 10, 6) + 0.0 AS lo,
  round(max(lo) + (bucket + 1) * (max(hi) - max(lo)) / 10, 6) + 0.0
    AS hi,
  CAST(count(*) AS BIGINT) AS n
FROM b GROUP BY bucket
"""
    # shared host-graph CTE prefixes (the _host_graph_edges synthesis):
    # _g_e0 is the directed 3-edge table, _g_cte adds its undirected
    # closure without self-loops
    _g_e0 = """
WITH e0 AS (
  SELECT source || '.example.com' AS src,
         'src' || CAST((doc_id * 3 + 1) % 20 AS VARCHAR)
           || '.example.com' AS dst FROM documents
  UNION ALL
  SELECT source || '.example.com',
         'src' || CAST((doc_id * 7 + 2) % 20 AS VARCHAR)
           || '.example.com' FROM documents
  UNION ALL
  SELECT source || '.example.com',
         'src' || CAST((doc_id * 11 + 5) % 20 AS VARCHAR)
           || '.example.com' FROM documents)"""
    _g_cte = f"""{_g_e0},
und AS (
  SELECT DISTINCT src, dst FROM (
    SELECT src, dst FROM e0 UNION ALL SELECT dst, src FROM e0)
  WHERE src <> dst)"""
    # link_reciprocity: same 3-edge host synthesis as pagerank_hosts;
    # left join against the reversed distinct edge set.
    sql["link_reciprocity"] = f"""{_g_e0},
e AS (SELECT DISTINCT src, dst FROM e0 WHERE src <> dst)
SELECT a.src, CAST(count(*) AS BIGINT) AS out_deg,
  CAST(sum(CASE WHEN b.src IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
    AS n_recip
FROM e a LEFT JOIN e b ON b.src = a.dst AND b.dst = a.src
GROUP BY a.src
"""
    # label_propagation: same undirected closure, two unrolled
    # min-propagation rounds.
    sql["label_propagation"] = f"""{_g_cte},
l0 AS (SELECT DISTINCT src AS node, src AS label FROM und),
l1 AS (
  SELECT l.node,
         least(l.label, coalesce(min(nl.label), l.label)) AS label
  FROM l0 l
  LEFT JOIN und u ON u.src = l.node
  LEFT JOIN l0 nl ON nl.node = u.dst
  GROUP BY l.node, l.label),
l2 AS (
  SELECT l.node,
         least(l.label, coalesce(min(nl.label), l.label)) AS label
  FROM l1 l
  LEFT JOIN und u ON u.src = l.node
  LEFT JOIN l1 nl ON nl.node = u.dst
  GROUP BY l.node, l.label),
s AS (SELECT label, count(*) AS cs FROM l2 GROUP BY label)
SELECT l2.node AS host, l2.label AS community,
  CAST(s.cs AS BIGINT) AS community_size
FROM l2 JOIN s USING (label)
"""
    # cc_hosts: TRUE connected components via recursive min-reachable-
    # label — the ground truth only a converged fixpoint algorithm
    # matches (label_propagation's 2 fixed rounds would fail on the
    # diameter-30+ bridged chains).
    sql["cc_hosts"] = """
WITH RECURSIVE e0 AS (
  SELECT 'h' || CAST(doc_id % 500 AS VARCHAR) || '.example.com' AS src,
         'h' || CAST(doc_id % 500 + 1 AS VARCHAR) || '.example.com' AS dst
  FROM documents WHERE (doc_id % 500) % 17 <> 16
  UNION ALL
  SELECT 'h' || CAST(doc_id % 500 AS VARCHAR) || '.example.com',
         'h' || CAST(doc_id % 500 + 13 AS VARCHAR) || '.example.com'
  FROM documents WHERE (doc_id % 500) % 29 = 3),
und AS (
  SELECT DISTINCT src, dst FROM (
    SELECT src, dst FROM e0 UNION ALL SELECT dst, src FROM e0)
  WHERE src <> dst),
nodes AS (SELECT DISTINCT src AS node FROM und),
reach(node, lab) AS (
  SELECT node, node FROM nodes
  UNION
  SELECT u.src, r.lab FROM und u JOIN reach r ON r.node = u.dst),
comp AS (SELECT node, min(lab) AS component FROM reach GROUP BY node),
s AS (SELECT component, count(*) AS cs FROM comp GROUP BY component)
SELECT comp.node AS host, comp.component,
       CAST(s.cs AS BIGINT) AS component_size
FROM comp JOIN s USING (component)
"""
    # cc_incremental merges the bridge batch into the chain-only base
    # assignment; the correct result is by definition the batch CC of
    # the full edge union — i.e. EXACTLY cc_hosts' expected output.
    sql["cc_incremental"] = sql["cc_hosts"]

    # expire_snapshots: same retention windows over the distinct-date
    # snapshot timeline; week heads via date_trunc('week') (Monday on
    # both engines).
    sql["expire_snapshots"] = """
WITH d AS (SELECT DISTINCT CAST(ts AS DATE) AS snap_date FROM events),
snap AS (
  SELECT snap_date,
         CAST(row_number() OVER (ORDER BY snap_date) AS BIGINT)
           AS snapshot_id
  FROM d),
m AS (
  SELECT snapshot_id, snap_date,
    row_number() OVER (ORDER BY snap_date DESC, snapshot_id DESC)
      AS rc,
    row_number() OVER (PARTITION BY date_trunc('week', snap_date)
                       ORDER BY snap_date, snapshot_id) AS wr
  FROM snap)
SELECT snapshot_id, CAST(snap_date AS VARCHAR) AS snap_date,
  CASE WHEN rc <= 7 THEN 'retained'
       WHEN wr = 1 THEN 'retained' ELSE 'expired' END AS status,
  CASE WHEN rc <= 7 THEN 'recent'
       WHEN wr = 1 THEN 'weekly_head' ELSE 'age' END AS reason
FROM m
"""
    # text_tiling: same block slicing and integer Jaccard; lag window
    # instead of the Spark-side array fold.
    sql["text_tiling"] = """
WITH tk AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(trim(coalesce(text, '')),
                                           '\\s+'),
                     x -> x <> '') AS t
  FROM documents),
par AS (
  SELECT doc_id, t, CAST(ceil(len(t) / 20.0) AS INT) AS nb
  FROM tk WHERE len(t) > 0),
blocks AS (
  SELECT doc_id, nb, b,
         list_distinct(t[(b - 1) * 20 + 1 : b * 20]) AS blk
  FROM par, unnest(range(1, nb + 1)) AS u(b)),
sims AS (
  SELECT doc_id, nb, b,
    round(len(list_intersect(lag(blk) OVER w, blk)) * 1.0 /
          len(list_distinct(list_concat(lag(blk) OVER w, blk))), 6)
      AS sim
  FROM blocks WINDOW w AS (PARTITION BY doc_id ORDER BY b))
SELECT doc_id, CAST(max(nb) AS BIGINT) AS n_blocks,
  CAST(sum(CASE WHEN sim < 0.1 THEN 1 ELSE 0 END) AS BIGINT)
    AS n_boundaries,
  min(sim) + 0.0 AS min_sim
FROM sims GROUP BY doc_id
"""
    # event_rle: same lag islands over (ts, event_id) order.
    sql["event_rle"] = """
WITH m AS (
  SELECT user_id, ts, event_id,
    CASE WHEN lag(event_type) OVER w IS NULL
              OR event_type <> lag(event_type) OVER w
         THEN 1 ELSE 0 END AS newr
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
r AS (
  SELECT user_id,
         sum(newr) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS rid
  FROM m),
runs AS (
  SELECT user_id, rid, count(*) AS rl FROM r GROUP BY 1, 2)
SELECT user_id, CAST(sum(rl) AS BIGINT) AS n_events,
  CAST(count(*) AS BIGINT) AS n_runs,
  CAST(max(rl) AS BIGINT) AS longest_run,
  round(count(*) * 1.0 / sum(rl), 6) + 0.0 AS compress_ratio
FROM runs GROUP BY user_id
"""
    # quality_percentile: native percent_rank() over the same rounded
    # quality score — an independent implementation of the repo's
    # distribution-table cumulative-count percentile (singleton groups
    # guarded to 0, matching the Spark operator).
    sql["quality_percentile"] = f"""
WITH q AS ({sql["quality_score"]}),
j AS (SELECT q.doc_id, d.lang, q.quality
      FROM q JOIN documents d USING (doc_id))
SELECT doc_id, lang, quality,
  CASE WHEN count(*) OVER (PARTITION BY lang) > 1
       THEN round(percent_rank() OVER (PARTITION BY lang ORDER BY quality),
                  6)
       ELSE 0.0 END + 0.0 AS pct_rank
FROM j
"""
    # dehyphenate: identical midpoint-wrap synthesis (1-based token pos,
    # (doc_id + i) % 5), then plain replace('-\n') — DuckDB replace() is
    # global, matching Spark's regexp_replace.
    sql["dehyphenate"] = """
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split(coalesce(text, ''), ' '),
                     t -> t <> '') AS tk
  FROM documents),
wrapped AS (
  SELECT doc_id, tk,
    array_to_string(
      list_transform(range(1, len(tk) + 1), i ->
        CASE WHEN (doc_id + i) % 5 = 0 AND length(tk[i]) >= 4
             THEN substr(tk[i], 1,
                         CAST(floor(length(tk[i]) / 2) AS INT))
                  || '-' || chr(10)
                  || substr(tk[i],
                            CAST(floor(length(tk[i]) / 2) AS INT) + 1)
             ELSE tk[i] END), ' ') AS w
  FROM toks)
SELECT doc_id,
  CAST((length(w) - length(replace(w, '-' || chr(10), ''))) / 2
       AS BIGINT) AS n_wraps,
  md5(replace(w, '-' || chr(10), '')) AS repaired_md5,
  md5(replace(w, '-' || chr(10), '')) = md5(array_to_string(tk, ' '))
    AS restored
FROM wrapped
"""
    # header_footer_strip: identical page synthesis, digit-normalized
    # line frequency over distinct pages, floor-of-2 threshold; string_agg
    # skips the boilerplate NULLs and orders by (page_no, line_no).
    sql["header_footer_strip"] = """
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split(coalesce(text, ''), ' '),
                     t -> t <> '') AS tk,
         CAST(1 + doc_id % 4 AS INT) AS n_pages
  FROM documents),
par AS (
  SELECT doc_id, tk, n_pages,
         greatest(1, CAST(ceil(len(tk) * 1.0 / n_pages) AS INT))
           AS per_page
  FROM toks),
pages AS (
  SELECT doc_id, n_pages, CAST(p AS INT) AS page_no,
    'Report doc ' || doc_id || chr(10) ||
    array_to_string(list_slice(tk, (p - 1) * per_page + 1,
                               p * per_page), ' ')
    || chr(10) || 'Page ' || p || ' of ' || n_pages AS page
  FROM par, unnest(range(1, n_pages + 1)) AS u(p)),
lines AS (
  SELECT doc_id, n_pages, page_no,
         generate_subscripts(string_split(page, chr(10)), 1) AS line_no,
         unnest(string_split(page, chr(10))) AS line
  FROM pages),
normed AS (
  SELECT *, regexp_replace(line, '[0-9]+', '#', 'g') AS norm FROM lines),
freq AS (
  SELECT doc_id, norm, count(DISTINCT page_no) AS n_with
  FROM normed GROUP BY 1, 2),
flagged AS (
  SELECT l.doc_id, l.n_pages, l.page_no, l.line_no, l.line,
         f.n_with >= greatest(2, CAST(ceil(0.8 * l.n_pages) AS INT))
           AS boiler
  FROM normed l JOIN freq f ON l.doc_id = f.doc_id AND l.norm = f.norm)
SELECT doc_id,
  CAST(max(n_pages) AS INT) AS n_pages,
  CAST(count(*) AS BIGINT) AS n_lines,
  CAST(sum(CASE WHEN boiler THEN 1 ELSE 0 END) AS BIGINT)
    AS n_boiler_lines,
  md5(coalesce(string_agg(CASE WHEN NOT boiler THEN line END, chr(10)
      ORDER BY page_no, line_no), '')) AS body_md5
FROM flagged GROUP BY doc_id
"""
    # event_transitions: lead() ≡ the next row per user in (ts, event_id)
    # order; probabilities row-normalized per prev_type.
    sql["event_transitions"] = """
WITH pairs AS (
  SELECT event_type AS prev_type,
         lead(event_type) OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS next_type
  FROM events),
counts AS (
  SELECT prev_type, next_type, CAST(count(*) AS BIGINT) AS n_trans
  FROM pairs WHERE next_type IS NOT NULL GROUP BY 1, 2)
SELECT prev_type, next_type, n_trans,
       round(n_trans * 1.0 / sum(n_trans) OVER (PARTITION BY prev_type),
             6) + 0.0 AS prob
FROM counts
"""
    # attribution_credit: purchases×clicks bounded-window join; each
    # purchase's value splits evenly over its qualifying clicks and the
    # credit lands on the click's calendar day.
    sql["attribution_credit"] = """
WITH purchases AS (
  SELECT user_id, event_id AS p_id, ts AS p_ts, value AS p_value
  FROM events WHERE event_type = 'purchase'),
clicks AS (
  SELECT user_id, ts AS c_ts FROM events WHERE event_type = 'click'),
touched AS (
  SELECT p.p_id, p.p_value, c.c_ts
  FROM purchases p JOIN clicks c USING (user_id)
  WHERE c.c_ts < p.p_ts AND c.c_ts >= p.p_ts - INTERVAL 72 HOUR),
credited AS (
  SELECT CAST(CAST(c_ts AS DATE) AS VARCHAR) AS click_date,
         p_value / count(*) OVER (PARTITION BY p_id) AS credit
  FROM touched)
SELECT click_date, CAST(count(*) AS BIGINT) AS n_credited_clicks,
       round(sum(credit), 6) + 0.0 AS credited_value
FROM credited GROUP BY 1
"""
    # decayed_activity: age measured back from the snapshot's max ts in
    # exact fractional days; 7-day half-life.
    sql["decayed_activity"] = """
WITH anchor AS (SELECT max(ts) AS a FROM events)
SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
       round(sum(power(0.5,
             (epoch_us(a) - epoch_us(ts)) / (86400.0 * 1e6) / 7.0)),
             6) + 0.0 AS decayed_score
FROM events, anchor GROUP BY user_id
"""
    # levenshtein_names: same dictionary aggregate + last-token block +
    # DuckDB's native levenshtein (classic edit distance, same as Spark's).
    sql["levenshtein_names"] = r"""
WITH dict AS (
  SELECT p_name AS name, CAST(count(*) AS BIGINT) AS n_rows
  FROM part WHERE p_name IS NOT NULL GROUP BY 1),
blk AS (
  SELECT name, n_rows,
         (regexp_split_to_array(name, '\s+'))[-1] AS b
  FROM dict)
SELECT a.name AS name_a, b.name AS name_b,
       levenshtein(a.name, b.name) AS dist,
       a.n_rows AS n_a, b.n_rows AS n_b
FROM blk a JOIN blk b ON a.b = b.b AND a.name < b.name
WHERE levenshtein(a.name, b.name) <= 2
"""
    # phonetic_groups: identical regexp chain; DuckDB regexp_replace needs
    # the 'g' flag to match Spark's replace-all default.
    sql["phonetic_groups"] = r"""
WITH w AS (
  SELECT (regexp_split_to_array(p_name, '\s+'))[1] AS word,
         CAST(count(*) AS BIGINT) AS n_rows
  FROM part WHERE p_name IS NOT NULL GROUP BY 1),
w2 AS (SELECT word, n_rows FROM w
       WHERE word IS NOT NULL AND word <> ''),
k AS (
  SELECT word, n_rows,
         regexp_replace(upper(word), '[^A-Z]', '', 'g') AS letters
  FROM w2),
p AS (
  SELECT word, n_rows,
         CASE WHEN letters = '' THEN ''
              ELSE substr(letters, 1, 1) ||
                   substr(regexp_replace(substr(letters, 2),
                                         '[AEIOUHWY]', '', 'g'), 1, 4)
         END AS pkey
  FROM k)
SELECT pkey, CAST(count(*) AS BIGINT) AS n_words,
       CAST(sum(n_rows) AS BIGINT) AS n_rows,
       string_agg(word, '|' ORDER BY word) AS words
FROM p GROUP BY pkey
"""
    # cdc_chunk_dedup: the identical gear boundaries (rolling 4-sum of the
    # md5 60-bit token hashes mod 8) re-derived with window functions.
    sql["cdc_chunk_dedup"] = f"""
WITH tok AS (
  SELECT doc_id, unnest({_OTOKS}) AS tk,
         generate_subscripts({_OTOKS}, 1) AS ord
  FROM documents WHERE text IS NOT NULL AND trim(text) <> ''),
h AS (
  SELECT doc_id, ord, tk,
         CAST('0x' || substr(md5(lower(tk)), 1, 15) AS BIGINT) AS hv
  FROM tok),
b AS (
  SELECT doc_id, ord, tk,
         CASE WHEN ord >= 4 AND
                   sum(hv) OVER (PARTITION BY doc_id ORDER BY ord
                                 ROWS BETWEEN 3 PRECEDING AND CURRENT ROW)
                   % 8 = 0
              THEN 1 ELSE 0 END AS boundary
  FROM h),
c AS (
  SELECT doc_id, ord, tk,
         CAST(coalesce(sum(boundary) OVER (PARTITION BY doc_id ORDER BY ord
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              AS INT) AS chunk_idx
  FROM b),
chunks AS (
  SELECT doc_id, chunk_idx,
         md5(lower(string_agg(tk, ' ' ORDER BY ord))) AS chunk_hash,
         CAST(count(*) AS BIGINT) AS n_toks
  FROM c GROUP BY 1, 2),
freq AS (SELECT chunk_hash, count(*) AS occ FROM chunks GROUP BY 1),
per_doc AS (
  SELECT doc_id,
         CAST(count(*) AS BIGINT) AS n_chunks,
         CAST(sum(CASE WHEN occ > 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_dup_chunks,
         CAST(sum(n_toks) AS BIGINT) AS n_tokens,
         CAST(sum(CASE WHEN occ > 1 THEN n_toks ELSE 0 END) AS BIGINT)
           AS dup_toks
  FROM chunks JOIN freq USING (chunk_hash) GROUP BY 1)
SELECT d.doc_id,
       CAST(coalesce(n_tokens, 0) AS BIGINT) AS n_tokens,
       CAST(coalesce(n_chunks, 0) AS BIGINT) AS n_chunks,
       CAST(coalesce(n_dup_chunks, 0) AS BIGINT) AS n_dup_chunks,
       round(coalesce(dup_toks * 1.0 / n_tokens, 0.0), 6) + 0.0
         AS dup_token_ratio
FROM documents d LEFT JOIN per_doc USING (doc_id)
"""
    # rouge_overlap: distinct lowercase bigram hash sets per doc, overlap
    # with the successor doc, recall vs the successor's set size.
    sql["rouge_overlap"] = f"""
WITH tok AS (
  SELECT doc_id, {_OTOKS} AS toks
  FROM documents WHERE text IS NOT NULL AND trim(text) <> ''),
g AS (
  SELECT doc_id, unnest(range(1, len(toks))) AS i, toks
  FROM tok WHERE len(toks) >= 2),
grams AS (
  SELECT DISTINCT doc_id,
         CAST('0x' || substr(md5(lower(toks[i] || ' ' || toks[i + 1])),
                             1, 15) AS BIGINT) AS gram
  FROM g),
ref AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_ref
        FROM grams GROUP BY 1),
ov AS (
  SELECT b.doc_id AS bid, CAST(count(*) AS BIGINT) AS n_overlap
  FROM grams a JOIN grams b
    ON b.doc_id = a.doc_id + 1 AND b.gram = a.gram
  GROUP BY 1)
SELECT r.doc_id - 1 AS doc_a, r.doc_id AS doc_b,
       CAST(coalesce(n_overlap, 0) AS BIGINT) AS n_overlap,
       r.n_ref,
       round(coalesce(n_overlap, 0) * 1.0 / r.n_ref, 6) + 0.0
         AS rouge_recall
FROM ref r LEFT JOIN ov ON ov.bid = r.doc_id
WHERE EXISTS (SELECT 1 FROM documents d WHERE d.doc_id = r.doc_id - 1)
"""
    # dau_wau_stickiness: distinct user-day inventory; the trailing
    # 7-day distinct count via a bounded date-diff join (the oracle can
    # afford the range join; the Spark op uses the constant-fan-out
    # explode rewrite of the same window).
    sql["dau_wau_stickiness"] = """
WITH act AS (SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events),
days AS (SELECT DISTINCT day FROM act),
dau AS (SELECT day, CAST(count(DISTINCT user_id) AS BIGINT) AS dau
        FROM act GROUP BY 1),
wau AS (SELECT d.day, CAST(count(DISTINCT a.user_id) AS BIGINT) AS wau
        FROM days d JOIN act a
          ON a.day BETWEEN d.day - 6 AND d.day
        GROUP BY 1)
SELECT CAST(d.day AS VARCHAR) AS day, dau.dau, wau.wau,
       round(dau.dau * 1.0 / wau.wau, 6) + 0.0 AS stickiness
FROM days d JOIN dau USING (day) JOIN wau ON wau.day = d.day
"""
    # gini_value: identical rank formula; row_number ties are harmless
    # (sum(i*x) over an equal-value run is tie-order invariant).
    sql["gini_value"] = """
WITH v AS (
  SELECT event_type, value,
         row_number() OVER (PARTITION BY event_type ORDER BY value) AS i
  FROM events WHERE value IS NOT NULL),
a AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS n_values,
         sum(value) AS tot, sum(i * value) AS iws
  FROM v GROUP BY 1)
SELECT event_type, n_values, round(tot, 6) + 0.0 AS total_value,
       CASE WHEN tot <= 0 OR n_values <= 1 THEN 0.0
            ELSE round(2.0 * iws / (n_values * tot)
                       - (n_values + 1.0) / n_values, 6) END + 0.0 AS gini
FROM a
"""
    # user_entropy: exact integer counts, entropy as log2(N) - sum(c
    # log2 c)/N — the same regrouping the Spark op uses.
    sql["user_entropy"] = """
WITH c AS (
  SELECT user_id, event_type, count(*) AS c FROM events GROUP BY 1, 2)
SELECT user_id, CAST(sum(c) AS BIGINT) AS n_events,
       CAST(count(*) AS BIGINT) AS n_types,
       round(log2(sum(c)) - sum(c * log2(c)) / sum(c), 6) + 0.0 AS entropy
FROM c GROUP BY user_id
"""
    # ewma_daily: trailing 14-day renormalized (0.7^age) weighted mean of
    # daily counts via a bounded date-diff join.
    sql["ewma_daily"] = """
WITH daily AS (
  SELECT CAST(ts AS DATE) AS day, count(*) AS n FROM events GROUP BY 1),
w AS (
  SELECT d.day, d.n,
         sum(s.n * power(0.7, d.day - s.day)) AS ws,
         sum(power(0.7, d.day - s.day)) AS wsum
  FROM daily d JOIN daily s
    ON s.day BETWEEN d.day - 13 AND d.day
  GROUP BY 1, 2)
SELECT CAST(day AS VARCHAR) AS day, CAST(n AS BIGINT) AS n_events,
       round(ws / wsum, 6) + 0.0 AS ewma,
       round(n / (ws / wsum), 6) + 0.0 AS ratio
FROM w
"""
    # hits_hosts: 2 L1-normalized HITS rounds unrolled over the shared
    # host-graph CTE (auth starts at 1; hub then auth each round, each
    # divided by its global sum).
    _hits_step = """
h{k}r AS (SELECT e.src AS node, sum(a{j}.auth) AS hub
          FROM e JOIN a{j} ON a{j}.node = e.dst GROUP BY 1),
h{k}f AS (SELECT n.node, coalesce(h{k}r.hub, 0.0) AS hub
          FROM nodes n LEFT JOIN h{k}r USING (node)),
h{k} AS (SELECT node, hub / (SELECT sum(hub) FROM h{k}f) AS hub FROM h{k}f),
a{k}r AS (SELECT e.dst AS node, sum(h{k}.hub) AS auth
          FROM e JOIN h{k} ON h{k}.node = e.src GROUP BY 1),
a{k}f AS (SELECT n.node, coalesce(a{k}r.auth, 0.0) AS auth
          FROM nodes n LEFT JOIN a{k}r USING (node)),
a{k} AS (SELECT node, auth / (SELECT sum(auth) FROM a{k}f) AS auth
         FROM a{k}f),"""
    sql["hits_hosts"] = (
        _pr_edges
        + "nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),\n"
        + "a0 AS (SELECT node, 1.0 AS auth FROM nodes),"
        + "".join(_hits_step.format(k=k, j=k - 1) for k in (1, 2)).rstrip(",")
        + """
SELECT n.node AS host, round(h2.hub, 6) + 0.0 AS hub,
       round(a2.auth, 6) + 0.0 AS auth
FROM nodes n JOIN h2 USING (node) JOIN a2 USING (node)"""
    )
    # degree_ccdf: count-of-counts histogram of total degree (out + in
    # over the distinct edge set) with a descending running share.
    sql["degree_ccdf"] = (
        _pr_edges
        + """
deg AS (SELECT node, CAST(count(*) AS BIGINT) AS degree
        FROM (SELECT src AS node FROM e UNION ALL SELECT dst FROM e)
        GROUP BY 1),
hist AS (SELECT degree, CAST(count(*) AS BIGINT) AS n_hosts
         FROM deg GROUP BY 1)
SELECT degree, n_hosts,
       round(sum(n_hosts) OVER (ORDER BY degree DESC
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) * 1.0 /
             (SELECT sum(n_hosts) FROM hist), 6) + 0.0 AS ccdf
FROM hist"""
    )
    # shot_boundaries: the same sampled-frame lag windows over the derived
    # video rows (doc_id % 3 = 2), per-frame feature = md5 60-bit hash of
    # media_id:frame_idx mod 256.
    sql["shot_boundaries"] = """
WITH vids AS (
  SELECT 'media-' || CAST(doc_id AS VARCHAR) AS media_id,
         coalesce(length(text) % 100 + 1 - 1, 0) AS hi
  FROM documents WHERE doc_id % 3 = 2),
frames AS (
  SELECT media_id, unnest(range(0, hi + 1, 5)) AS frame_idx FROM vids),
feat AS (
  SELECT media_id, frame_idx,
         CAST('0x' || substr(md5(media_id || ':' ||
              CAST(frame_idx AS VARCHAR)), 1, 15) AS BIGINT) % 256 AS f
  FROM frames),
d AS (
  SELECT media_id, frame_idx, f,
         abs(f - lag(f) OVER (PARTITION BY media_id ORDER BY frame_idx))
           AS diff
  FROM feat),
ns AS (
  SELECT media_id, frame_idx, diff,
         CASE WHEN diff IS NULL OR diff > 96 THEN 1 ELSE 0 END AS new_shot
  FROM d),
sh AS (
  SELECT media_id, frame_idx, diff,
         sum(new_shot) OVER (PARTITION BY media_id ORDER BY frame_idx)
           AS shot_id
  FROM ns),
per_shot AS (
  SELECT media_id, shot_id, count(*) AS sl FROM sh GROUP BY 1, 2),
a1 AS (
  SELECT media_id, CAST(count(*) AS BIGINT) AS n_shots,
         CAST(max(sl) AS BIGINT) AS longest_shot
  FROM per_shot GROUP BY 1),
a2 AS (
  SELECT media_id, CAST(count(*) AS BIGINT) AS n_sampled,
         round(coalesce(avg(diff), 0.0), 6) + 0.0 AS mean_abs_diff
  FROM sh GROUP BY 1)
SELECT media_id, n_sampled, n_shots, longest_shot, mean_abs_diff
FROM a2 JOIN a1 USING (media_id)
"""
    # events_cube: native CUBE + GROUPING bitmask (same bit order: first
    # grouping column is the most significant bit in both engines).
    sql["events_cube"] = """
WITH ev AS (
  SELECT coalesce(event_type, 'unknown') AS event_type,
         CAST(dayofweek(ts) + 1 AS INT) AS dow, value
  FROM events)
SELECT event_type, dow, CAST(count(*) AS BIGINT) AS n,
       round(coalesce(sum(value), 0), 4) + 0.0 AS total_value,
       CAST(GROUPING(event_type, dow) AS BIGINT) AS gid
FROM ev GROUP BY CUBE (event_type, dow)
"""
    # concordance: same 1-based slicing over the token array; pos is the
    # Spark 0-based posexplode index.
    sql["concordance"] = f"""
WITH tok AS (
  SELECT doc_id, {_OTOKS} AS toks
  FROM documents WHERE text IS NOT NULL AND trim(text) <> ''),
g AS (SELECT doc_id, toks, unnest(range(1, len(toks) + 1)) AS i FROM tok),
h AS (SELECT doc_id, toks, i FROM g WHERE lower(toks[i]) = 'spark')
SELECT doc_id, CAST(i - 1 AS INT) AS pos,
       coalesce(array_to_string(
           list_slice(toks, greatest(i - 3, 1), i - 1), ' '), '')
         AS left_ctx,
       toks[i] AS matched,
       coalesce(array_to_string(list_slice(toks, i + 1, i + 3), ' '), '')
         AS right_ctx
FROM h
"""
    # branching_entropy: bigram successor counts, entropy as
    # log2(N) - sum(c log2 c)/N over exact integer counts.
    sql["branching_entropy"] = f"""
WITH tok AS (
  SELECT {_OTOKS} AS toks
  FROM documents WHERE text IS NOT NULL AND trim(text) <> ''),
g AS (SELECT toks, unnest(range(1, len(toks))) AS i FROM tok
      WHERE len(toks) >= 2),
p AS (SELECT lower(toks[i]) AS w1, lower(toks[i + 1]) AS w2 FROM g),
c AS (SELECT w1, w2, count(*) AS c FROM p GROUP BY 1, 2)
SELECT w1 AS context, CAST(sum(c) AS BIGINT) AS n_total,
       CAST(count(*) AS BIGINT) AS n_successors,
       round(log2(sum(c)) - sum(c * log2(c)) / sum(c), 6) + 0.0 AS entropy
FROM c GROUP BY 1
"""
    # kmv_setops: identical bottom-64 sketches under the md5 hash ranking;
    # the (k-1)*M/h_(k) estimator and the Jaccard-x-union intersection.
    sql["kmv_setops"] = """
WITH idx AS (
  SELECT DISTINCT event_type AS g,
         CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15)
              AS BIGINT) AS h
  FROM events WHERE event_type IS NOT NULL AND user_id IS NOT NULL),
r AS (SELECT g, h, row_number() OVER (PARTITION BY g ORDER BY h) AS rn
      FROM idx),
sk AS (SELECT g, list(h ORDER BY h) AS sk, count(*) AS kn
       FROM r WHERE rn <= 64 GROUP BY 1),
pairs AS (
  SELECT a.g AS grp_a, b.g AS grp_b, a.sk AS ska, b.sk AS skb,
         a.kn AS kna, b.kn AS knb
  FROM sk a JOIN sk b ON a.g < b.g),
m AS (
  SELECT grp_a, grp_b, ska, skb, kna, knb,
         list_slice(list_sort(list_distinct(list_concat(ska, skb))),
                    1, 64) AS mm
  FROM pairs),
m2 AS (
  SELECT grp_a, grp_b, ska, skb, kna, knb, mm, len(mm) AS mn,
         CASE WHEN len(mm) < 64 THEN len(mm) * 1.0
              ELSE 63.0 * 1152921504606846976 / mm[64] END AS est_u,
         len(list_intersect(list_intersect(mm, ska), skb)) AS shared
  FROM m)
SELECT grp_a, grp_b,
       round(CASE WHEN kna < 64 THEN kna * 1.0
                  ELSE 63.0 * 1152921504606846976 / ska[64] END, 2) + 0.0
         AS est_a,
       round(CASE WHEN knb < 64 THEN knb * 1.0
                  ELSE 63.0 * 1152921504606846976 / skb[64] END, 2) + 0.0
         AS est_b,
       round(est_u, 2) + 0.0 AS est_union,
       round(shared * 1.0 / mn * est_u, 2) + 0.0 AS est_inter
FROM m2
"""
    # seasonal_decompose: centered 7-day renormalized moving average,
    # per-weekday multiplicative index, residual.
    sql["seasonal_decompose"] = """
WITH daily AS (
  SELECT CAST(ts AS DATE) AS day, count(*) AS n FROM events GROUP BY 1),
tr AS (
  SELECT d.day, sum(s.n) * 1.0 / count(*) AS trend
  FROM daily d JOIN daily s ON s.day BETWEEN d.day - 3 AND d.day + 3
  GROUP BY 1),
b AS (
  SELECT daily.day, daily.n, tr.trend,
         dayofweek(daily.day) + 1 AS dow
  FROM daily JOIN tr USING (day)),
seas AS (SELECT dow, avg(n / trend) AS si FROM b GROUP BY 1)
SELECT CAST(b.day AS VARCHAR) AS day, CAST(n AS BIGINT) AS n_events,
       round(trend, 6) + 0.0 AS trend,
       round(si, 6) + 0.0 AS seasonal_idx,
       round(n / (trend * si), 6) + 0.0 AS residual
FROM b JOIN seas USING (dow)
"""
    # order_deciles: identical deterministic ntile (orderkey tiebreaker).
    sql["order_deciles"] = """
WITH j AS (
  SELECT c.c_mktsegment AS segment, o.o_totalprice, o.o_orderkey
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey),
t AS (
  SELECT segment, o_totalprice,
         ntile(10) OVER (PARTITION BY segment
                         ORDER BY o_totalprice, o_orderkey) AS decile
  FROM j)
SELECT segment, CAST(decile AS INT) AS decile,
       CAST(count(*) AS BIGINT) AS n_orders,
       round(min(o_totalprice), 2) + 0.0 AS min_price,
       round(max(o_totalprice), 2) + 0.0 AS max_price,
       round(avg(o_totalprice), 2) + 0.0 AS avg_price
FROM t GROUP BY 1, 2
"""
    # part_affinity: distinct basket inventory, ordered-pair self-join on
    # the order key, lift vs the part order-frequencies.
    sql["part_affinity"] = """
WITH inv AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
             FROM lineitem),
n AS (SELECT CAST(count(DISTINCT ok) AS DOUBLE) AS nn FROM inv),
p AS (
  SELECT a.pk AS part_a, b.pk AS part_b,
         CAST(count(*) AS BIGINT) AS pair_n
  FROM inv a JOIN inv b ON a.ok = b.ok AND a.pk < b.pk
  GROUP BY 1, 2 HAVING count(*) >= 2),
f AS (SELECT pk, CAST(count(*) AS BIGINT) AS n FROM inv GROUP BY 1)
SELECT part_a, part_b, pair_n, fa.n AS n_a, fb.n AS n_b,
       round(pair_n * nn / (fa.n * fb.n), 4) + 0.0 AS lift
FROM p JOIN f fa ON fa.pk = p.part_a
       JOIN f fb ON fb.pk = p.part_b, n
"""
    # collocations_llr: Dunning 2x2 LLR from the same exact bigram and
    # positional-margin counts; S(k) = k ln k with S(0) = 0.
    sql["collocations_llr"] = f"""
WITH tok AS (
  SELECT {_OTOKS} AS toks
  FROM documents WHERE text IS NOT NULL AND trim(text) <> ''),
g AS (SELECT toks, unnest(range(1, len(toks))) AS i FROM tok
      WHERE len(toks) >= 2),
prs AS (SELECT lower(toks[i]) AS a, lower(toks[i + 1]) AS b FROM g),
pc AS (SELECT a, b, CAST(count(*) AS BIGINT) AS pair_n
       FROM prs GROUP BY 1, 2 HAVING count(*) >= 3),
la AS (SELECT a, CAST(count(*) AS BIGINT) AS n_a FROM prs GROUP BY 1),
rb AS (SELECT b, CAST(count(*) AS BIGINT) AS n_b FROM prs GROUP BY 1),
tot AS (SELECT CAST(count(*) AS BIGINT) AS N FROM prs),
x AS (
  SELECT pc.a, pc.b, pair_n, n_a, n_b, N,
         pair_n AS k11, n_a - pair_n AS k12, n_b - pair_n AS k21,
         N - n_a - n_b + pair_n AS k22
  FROM pc JOIN la USING (a) JOIN rb USING (b), tot)
SELECT a, b, pair_n, n_a, n_b,
  round(2.0 * (
    (CASE WHEN k11 > 0 THEN k11 * ln(k11) ELSE 0 END) +
    (CASE WHEN k12 > 0 THEN k12 * ln(k12) ELSE 0 END) +
    (CASE WHEN k21 > 0 THEN k21 * ln(k21) ELSE 0 END) +
    (CASE WHEN k22 > 0 THEN k22 * ln(k22) ELSE 0 END) -
    (CASE WHEN n_a > 0 THEN n_a * ln(n_a) ELSE 0 END) -
    (CASE WHEN N - n_a > 0 THEN (N - n_a) * ln(N - n_a) ELSE 0 END) -
    (CASE WHEN n_b > 0 THEN n_b * ln(n_b) ELSE 0 END) -
    (CASE WHEN N - n_b > 0 THEN (N - n_b) * ln(N - n_b) ELSE 0 END) +
    N * ln(N)), 4) + 0.0 AS llr
FROM x
"""
    # embedding_quantile_norm: percent_rank over each dimension; ties
    # share a rank by definition in both engines.
    sql["embedding_quantile_norm"] = """
WITH flat AS (
  SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS dim,
         unnest(embedding) AS value
  FROM embeddings)
SELECT vec_id, CAST(dim AS INT) AS dim,
       round(CAST(value AS DOUBLE), 6) + 0.0 AS value,
       round(percent_rank() OVER (PARTITION BY dim ORDER BY value), 6)
         + 0.0 AS qnorm
FROM flat
"""
    # churn_detect: anchor = corpus max ts; same horizon/min-events rule.
    sql["churn_detect"] = """
WITH a AS (SELECT max(ts) AS anchor FROM events),
u AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
             max(ts) AS last FROM events GROUP BY 1)
SELECT user_id, n_events,
       CAST(CAST(last AS DATE) AS VARCHAR) AS last_day,
       (last < anchor - INTERVAL 7 DAY) AND (n_events >= 3) AS churned
FROM u, a
"""
    # robust_value_stats: identical rank trimming (event_id tiebreak) and
    # winsorized clamp to the surviving extremes.
    sql["robust_value_stats"] = """
WITH v AS (SELECT event_type, value, event_id FROM events
           WHERE value IS NOT NULL),
r AS (
  SELECT event_type, value,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY value, event_id) AS rn,
         count(*) OVER (PARTITION BY event_type) AS n
  FROM v),
k AS (SELECT event_type, value, rn, n,
             CAST(floor(n * 0.1) AS BIGINT) AS k FROM r)
SELECT event_type, CAST(max(n) AS BIGINT) AS n_values,
  round(coalesce(avg(CASE WHEN rn BETWEEN k + 1 AND n - k THEN value END),
                 avg(value)), 6) + 0.0 AS trimmed_mean,
  round(coalesce(
    (sum(CASE WHEN rn BETWEEN k + 1 AND n - k THEN value END)
     + max(k) * min(CASE WHEN rn BETWEEN k + 1 AND n - k THEN value END)
     + max(k) * max(CASE WHEN rn BETWEEN k + 1 AND n - k THEN value END))
    / max(n), avg(value)), 6) + 0.0 AS winsor_mean
FROM k GROUP BY 1
"""
    # pca_top_component: 3 power iterations unrolled; each = two matvec
    # aggregates + an L2 normalizer subquery.
    _pca_step = """
y{k} AS (SELECT vid, sum(x * w) AS y
         FROM flat JOIN v{j} USING (dim) GROUP BY 1),
w{k} AS (SELECT dim, sum(x * y) AS wr
         FROM flat JOIN y{k} USING (vid) GROUP BY 1),
v{k} AS (SELECT dim, wr / (SELECT sqrt(sum(wr * wr)) FROM w{k}) AS w
         FROM w{k}),"""
    sql["pca_top_component"] = (
        """
WITH flat AS (
  SELECT vec_id AS vid, generate_subscripts(embedding, 1) - 1 AS dim,
         CAST(unnest(embedding) AS DOUBLE) AS x
  FROM embeddings WHERE embedding IS NOT NULL AND len(embedding) > 0),
v0 AS (SELECT DISTINCT dim, 1.0 AS w FROM flat),"""
        + "".join(_pca_step.format(k=k, j=k - 1) for k in (1, 2, 3))
        + """
yf AS (SELECT vid, sum(x * w) AS y
       FROM flat JOIN v3 USING (dim) GROUP BY 1),
lam AS (SELECT sum(y * y) AS l FROM yf)
SELECT CAST(dim AS INT) AS dim, round(w, 6) + 0.0 AS loading,
       round((SELECT l FROM lam), 6) + 0.0 AS eigenvalue
FROM v3"""
    )
    # filter_kappa: chance-corrected agreement between the two filter
    # oracles, composed as CTEs; kappa from UNROUNDED po/pe.
    sql["filter_kappa"] = f"""
WITH g AS ({sql["gopher_filter"]}),
c AS ({sql["c4_filter"]}),
j AS (SELECT g.accept AS la, c.accept AS lb FROM g JOIN c USING (doc_id)),
s AS (SELECT CAST(count(*) AS BIGINT) AS n,
             sum(CASE WHEN la = lb THEN 1 ELSE 0 END) AS agree,
             sum(CASE WHEN la THEN 1 ELSE 0 END) AS a_true,
             sum(CASE WHEN lb THEN 1 ELSE 0 END) AS b_true
      FROM j)
SELECT n,
  round(agree * 1.0 / n, 6) + 0.0 AS observed_agree,
  round((a_true * b_true + (n - a_true) * (n - b_true)) * 1.0 / (n * n),
        6) + 0.0 AS expected_agree,
  round(CASE WHEN (a_true * b_true + (n - a_true) * (n - b_true)) * 1.0
                  / (n * n) >= 1.0 THEN 0.0
        ELSE (agree * 1.0 / n
              - (a_true * b_true + (n - a_true) * (n - b_true)) * 1.0
                / (n * n))
             / (1.0 - (a_true * b_true + (n - a_true) * (n - b_true)) * 1.0
                / (n * n)) END, 6) + 0.0 AS kappa
FROM s
"""
    # lang_source_mi: joint counts -> MI in nats + sqrt-normalized NMI,
    # marginal entropies as ln N - sum(nx ln nx)/N over the margins.
    sql["lang_source_mi"] = """
WITH j AS (
  SELECT lang AS x, source AS y, count(*) AS c
  FROM documents WHERE lang IS NOT NULL AND source IS NOT NULL
  GROUP BY 1, 2),
n AS (SELECT sum(c) AS n FROM j),
mx AS (SELECT x, sum(c) AS nx FROM j GROUP BY 1),
my AS (SELECT y, sum(c) AS ny FROM j GROUP BY 1),
mi AS (
  SELECT sum((c * 1.0 / n.n) * ln(c * n.n * 1.0 / (nx * ny))) AS mi
  FROM j JOIN mx USING (x) JOIN my USING (y), n),
hx AS (SELECT ln(max(n.n)) - sum(nx * ln(nx)) * 1.0 / max(n.n) AS h
       FROM mx, n),
hy AS (SELECT ln(max(n.n)) - sum(ny * ln(ny)) * 1.0 / max(n.n) AS h
       FROM my, n)
SELECT CAST(n.n AS BIGINT) AS n,
       round(hx.h, 6) + 0.0 AS h_x, round(hy.h, 6) + 0.0 AS h_y,
       round(mi.mi, 6) + 0.0 AS mi,
       round(CASE WHEN hx.h * hy.h <= 0 THEN 0.0
                  ELSE mi.mi / sqrt(hx.h * hy.h) END, 6) + 0.0 AS nmi
FROM n, mi, hx, hy
"""
    # kcore_hosts: 2 unrolled peel rounds over the shared host-graph CTE.
    _core_round = """
s{k} AS (SELECT node FROM d{j} WHERE deg >= 12),
e{k} AS (SELECT e{j}.src, e{j}.dst FROM e{j}
         JOIN s{k} a ON e{j}.src = a.node
         JOIN s{k} b ON e{j}.dst = b.node),
d{k} AS (SELECT node, CAST(count(*) AS BIGINT) AS deg FROM
         (SELECT src AS node FROM e{k} UNION ALL SELECT dst FROM e{k})
         GROUP BY 1),"""
    sql["kcore_hosts"] = (
        _pr_edges.replace("WITH e AS", "WITH e0 AS")
        + """
d0 AS (SELECT node, CAST(count(*) AS BIGINT) AS deg FROM
       (SELECT src AS node FROM e0 UNION ALL SELECT dst FROM e0)
       GROUP BY 1),"""
        + "".join(_core_round.format(k=k, j=k - 1) for k in (1, 2)).rstrip(",")
        + """
SELECT d0.node, d0.deg AS degree0,
       CAST(coalesce(d2.deg, 0) AS BIGINT) AS degree_final,
       coalesce(d2.deg, 0) >= 12 AS in_core
FROM d0 LEFT JOIN d2 USING (node)"""
    )
    # user_tier_enrich: lifetime purchase rollup + tier thresholds, left
    # join with the 'new' fallback.
    sql["user_tier_enrich"] = """
WITH dim AS (
  SELECT user_id, round(sum(value), 6) AS lifetime_value,
         CASE WHEN round(sum(value), 6) >= 500 THEN 'gold'
              WHEN round(sum(value), 6) >= 100 THEN 'silver'
              ELSE 'bronze' END AS tier
  FROM events WHERE event_type = 'purchase' GROUP BY 1)
SELECT e.event_id, e.user_id,
       coalesce(dim.tier, 'new') AS tier,
       round(coalesce(dim.lifetime_value, 0.0), 6) + 0.0 AS lifetime_value
FROM events e LEFT JOIN dim USING (user_id)
"""
    # wow_growth: identical Monday-start week truncation + lag over the
    # weekly rollup.
    sql["wow_growth"] = """
WITH w AS (
  SELECT event_type,
         CAST(CAST(date_trunc('week', ts) AS DATE) AS VARCHAR) AS week,
         CAST(count(*) AS BIGINT) AS n
  FROM events GROUP BY 1, 2)
SELECT event_type, week, n,
       lag(n) OVER (PARTITION BY event_type ORDER BY week) AS prev_n,
       round(n * 1.0 / lag(n) OVER (PARTITION BY event_type ORDER BY week),
             6) + 0.0 AS growth
FROM w
"""
    # shipping_delay_stats: quantile_cont matches Spark's interpolated
    # `percentile` aggregate.
    sql["shipping_delay_stats"] = """
WITH d AS (
  SELECT o.o_orderpriority AS priority,
         CAST(l.l_shipdate AS DATE) - CAST(o.o_orderdate AS DATE) AS delay
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey)
SELECT priority, CAST(count(*) AS BIGINT) AS n,
       round(avg(delay), 6) + 0.0 AS avg_delay,
       round(quantile_cont(delay, 0.5), 6) + 0.0 AS median_delay,
       round(quantile_cont(delay, 0.9), 6) + 0.0 AS p90_delay
FROM d GROUP BY 1
"""
    sql["discount_revenue_curve"] = """
SELECT round(l_discount, 2) + 0.0 AS discount,
       CAST(count(*) AS BIGINT) AS n_items,
       round(sum(l_quantity), 2) + 0.0 AS qty,
       round(sum(l_extendedprice * (1 - l_discount)), 2) + 0.0 AS revenue,
       round(avg(l_extendedprice * (1 - l_discount)), 2) + 0.0
         AS avg_item_revenue
FROM lineitem GROUP BY 1
"""
    # image_tiles: same ceil grid; nested unnests (side-by-side unnests
    # zip in DuckDB, so rows then cols in separate CTEs).
    sql["image_tiles"] = """
WITH imgs AS (
  SELECT 'media-' || CAST(doc_id AS VARCHAR) AS media_id,
         length(text) % 640 + 1 AS w, length(text) % 480 + 1 AS h
  FROM documents WHERE doc_id % 3 = 0 AND text IS NOT NULL),
r AS (
  SELECT media_id, w, h,
         unnest(range(0, CAST(ceil(h / 64.0) AS INT))) AS tile_row
  FROM imgs),
c AS (
  SELECT media_id, w, h, tile_row,
         unnest(range(0, CAST(ceil(w / 64.0) AS INT))) AS tile_col
  FROM r)
SELECT media_id, CAST(tile_row AS INT) AS tile_row,
       CAST(tile_col AS INT) AS tile_col,
       CAST(tile_col * 64 AS INT) AS x0, CAST(tile_row * 64 AS INT) AS y0,
       CAST(least(64, w - tile_col * 64) AS INT) AS w,
       CAST(least(64, h - tile_row * 64) AS INT) AS h
FROM c
"""
    sql["token_length_hist"] = f"""
WITH tok AS (
  SELECT unnest({_OTOKS}) AS tok
  FROM documents WHERE text IS NOT NULL AND trim(text) <> ''),
h AS (
  SELECT length(tok) AS length, CAST(count(*) AS BIGINT) AS n_tokens,
         CAST(count(DISTINCT lower(tok)) AS BIGINT) AS n_distinct
  FROM tok GROUP BY 1)
SELECT CAST(length AS INT) AS length, n_tokens, n_distinct,
       round(n_tokens * 1.0 / (SELECT sum(n_tokens) FROM h), 6) + 0.0
         AS share
FROM h
"""
    # utf8_stats: DuckDB strlen() is bytes, length() is chars.
    sql["utf8_stats"] = """
SELECT doc_id,
       CAST(coalesce(length(text), 0) AS BIGINT) AS n_chars,
       CAST(coalesce(strlen(text), 0) AS BIGINT) AS n_bytes,
       CASE WHEN coalesce(length(text), 0) > 0
            THEN round((strlen(text) - length(text)) * 1.0 / length(text), 6)
            ELSE 0.0 END + 0.0 AS multibyte_ratio,
       coalesce(strlen(text), 0) = coalesce(length(text), 0) AS pure_ascii
FROM documents
"""
    # interarrival_hist: same per-type lag with (ts, event_id) order and
    # exact microsecond gaps.
    sql["interarrival_hist"] = """
WITH g AS (
  SELECT event_type,
         (epoch_us(ts) - epoch_us(lag(ts) OVER
             (PARTITION BY event_type ORDER BY ts, event_id)))
           / 1000000.0 AS gap_s
  FROM events),
b AS (
  SELECT event_type, gap_s,
         CAST(floor(log2(gap_s + 1)) AS INT) AS bucket
  FROM g WHERE gap_s IS NOT NULL)
SELECT event_type, bucket, CAST(count(*) AS BIGINT) AS n,
       round(min(gap_s), 3) + 0.0 AS min_gap_s,
       round(max(gap_s), 3) + 0.0 AS max_gap_s
FROM b GROUP BY 1, 2
"""
    # host_outlink_jaccard: inverted index on the destination over the
    # shared host-graph CTE.
    sql["host_outlink_jaccard"] = (
        _pr_edges
        + """
inv AS (SELECT DISTINCT src AS h, dst AS d FROM e),
sz AS (SELECT h, CAST(count(*) AS BIGINT) AS sz FROM inv GROUP BY 1),
p AS (
  SELECT a.h AS host_a, b.h AS host_b,
         CAST(count(*) AS BIGINT) AS n_common
  FROM inv a JOIN inv b ON a.d = b.d AND a.h < b.h
  GROUP BY 1, 2)
SELECT host_a, host_b, n_common, sa.sz AS n_a, sb.sz AS n_b,
       round(n_common * 1.0 / (sa.sz + sb.sz - n_common), 6) + 0.0
         AS jaccard
FROM p JOIN sz sa ON sa.h = p.host_a JOIN sz sb ON sb.h = p.host_b
WHERE round(n_common * 1.0 / (sa.sz + sb.sz - n_common), 6) >= 0.2
"""
    )
    # cluster_purity: final kmeans8x2 assignment (shared Lloyd-replay
    # prefix) joined with the ground-truth labels; majority ties to the
    # smallest label.
    sql["cluster_purity"] = _km_prefix + f"""
assignp AS (
  SELECT e.vec_id, c.cid,
         row_number() OVER (PARTITION BY e.vec_id
                            ORDER BY {cos} DESC, c.cid) AS rn
  FROM vembeddings e, cents2 c),
ap AS (SELECT vec_id, cid FROM assignp WHERE rn = 1),
lab AS (SELECT ap.cid, emb.label, count(*) AS c
        FROM ap JOIN embeddings emb USING (vec_id) GROUP BY 1, 2),
tot AS (SELECT cid, sum(c) AS n FROM lab GROUP BY 1),
maj AS (SELECT cid, label, c,
               row_number() OVER (PARTITION BY cid
                                  ORDER BY c DESC, label) AS mrn
        FROM lab)
SELECT CAST(m.cid AS INT) AS cluster, CAST(t.n AS BIGINT) AS n_vecs,
       CAST(m.label AS INT) AS majority_label,
       round(m.c * 1.0 / t.n, 6) + 0.0 AS purity
FROM maj m JOIN tot t USING (cid) WHERE m.mrn = 1
"""
    # regional_top_parts: same star join + revenue rollup + rank window.
    sql["regional_top_parts"] = """
WITH dim AS (
  SELECT c.c_custkey, r.r_name AS region
  FROM customer c
  JOIN nation n ON c.c_nationkey = n.n_nationkey
  JOIN region r ON n.n_regionkey = r.r_regionkey),
rev AS (
  SELECT dim.region, l.l_partkey AS part_key,
         round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN dim ON o.o_custkey = dim.c_custkey
  GROUP BY 1, 2),
rk AS (
  SELECT region, part_key, revenue,
         row_number() OVER (PARTITION BY region
                            ORDER BY revenue DESC, part_key) AS rank
  FROM rev)
SELECT region, CAST(rank AS INT) AS rank, part_key,
       revenue + 0.0 AS revenue
FROM rk WHERE rank <= 3
"""
    # null_profile: one conditional-aggregate pass per string column,
    # unioned to rows.
    sql["null_profile"] = """
WITH s AS (
  SELECT count(*) AS n_rows,
         sum(CASE WHEN text IS NULL THEN 1 ELSE 0 END) AS tn,
         sum(CASE WHEN text IS NOT NULL AND trim(text) = '' THEN 1
                  ELSE 0 END) AS tb,
         sum(CASE WHEN lang IS NULL THEN 1 ELSE 0 END) AS ln_,
         sum(CASE WHEN lang IS NOT NULL AND trim(lang) = '' THEN 1
                  ELSE 0 END) AS lb,
         sum(CASE WHEN source IS NULL THEN 1 ELSE 0 END) AS sn,
         sum(CASE WHEN source IS NOT NULL AND trim(source) = '' THEN 1
                  ELSE 0 END) AS sb
  FROM documents)
SELECT 'text' AS "column", CAST(n_rows AS BIGINT) AS n_rows,
       CAST(tn AS BIGINT) AS n_null, CAST(tb AS BIGINT) AS n_blank,
       round((tn + tb) * 1.0 / n_rows, 6) + 0.0 AS pct_missing FROM s
UNION ALL
SELECT 'lang', CAST(n_rows AS BIGINT), CAST(ln_ AS BIGINT),
       CAST(lb AS BIGINT), round((ln_ + lb) * 1.0 / n_rows, 6) + 0.0
FROM s
UNION ALL
SELECT 'source', CAST(n_rows AS BIGINT), CAST(sn AS BIGINT),
       CAST(sb AS BIGINT), round((sn + sb) * 1.0 / n_rows, 6) + 0.0
FROM s
"""
    # benford_deviation: first significant digit via strip-non-1-9 of the
    # 6-dp fixed-point rendering (commas vs none are both stripped).
    sql["benford_deviation"] = """
WITH d AS (
  SELECT CAST(substr(regexp_replace(printf('%.6f', o_totalprice),
                                    '[^1-9]', '', 'g'), 1, 1) AS INT)
           AS digit
  FROM orders WHERE o_totalprice > 0),
h AS (SELECT digit, CAST(count(*) AS BIGINT) AS n FROM d
      WHERE digit IS NOT NULL GROUP BY 1),
t AS (SELECT sum(n) AS tot FROM h)
SELECT digit, n,
       round(n * 1.0 / tot, 6) + 0.0 AS observed,
       round(log10(1 + 1.0 / digit), 6) + 0.0 AS expected,
       round(tot * (n * 1.0 / tot - log10(1 + 1.0 / digit))
                 * (n * 1.0 / tot - log10(1 + 1.0 / digit))
                 / log10(1 + 1.0 / digit), 6) + 0.0 AS chi_contrib
FROM h, t
"""
    # dedup_audit_pairs: the ngram_jaccard oracle composed with a fully
    # ordered top-10 + text previews.
    sql["dedup_audit_pairs"] = f"""
WITH p AS ({sql["ngram_jaccard"]}),
tp AS (SELECT * FROM p ORDER BY jaccard DESC, id1, id2 LIMIT 10)
SELECT t.id1, t.id2, t.jaccard,
       substr(coalesce(da.text, ''), 1, 40) AS text_a,
       substr(coalesce(db.text, ''), 1, 40) AS text_b
FROM tp t JOIN documents da ON da.doc_id = t.id1
          JOIN documents db ON db.doc_id = t.id2
"""
    # bootstrap_ci: one md5 uniform per row + the identical Weyl shift
    # per replicate; quantile_cont matches Spark's interpolated
    # percentile.
    sql["bootstrap_ci"] = """
WITH base AS (
  SELECT CAST('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 15)
              AS BIGINT) * 1.0 / 1152921504606846976 AS h,
         CASE WHEN event_type <> 'error' THEN 1.0 ELSE 0.0 END AS x
  FROM events),
e AS (SELECT h, x, unnest(range(0, 200)) AS rb FROM base),
uu AS (
  SELECT x, rb,
         (h + 0.6180339887498949 * rb)
           - floor(h + 0.6180339887498949 * rb) AS u
  FROM e),
ww AS (
  SELECT rb, x,
         CASE WHEN u < 0.3678794411714423 THEN 0
              WHEN u < 0.7357588823428846 THEN 1
              WHEN u < 0.9196986029286058 THEN 2
              WHEN u < 0.9810118431238462 THEN 3
              WHEN u < 0.9963401531726563 THEN 4
              ELSE 5 END AS w
  FROM uu),
reps AS (SELECT rb, sum(w * x) * 1.0 / sum(w) AS m FROM ww GROUP BY 1),
s AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         round(avg(CASE WHEN event_type <> 'error' THEN 1.0
                        ELSE 0.0 END), 6) AS mean
  FROM events)
SELECT s.n, CAST(200 AS BIGINT) AS b, s.mean + 0.0 AS mean,
       round(quantile_cont(m, 0.025), 6) + 0.0 AS lo95,
       round(quantile_cont(m, 0.975), 6) + 0.0 AS hi95
FROM s, reps GROUP BY s.n, s.mean
"""
    # dp_counts: identical md5 uniform -> Laplace inverse CDF.
    sql["dp_counts"] = """
WITH c AS (
  SELECT event_type AS grp, CAST(count(*) AS BIGINT) AS true_n
  FROM events WHERE event_type IS NOT NULL GROUP BY 1),
u AS (
  SELECT grp, true_n,
         CAST('0x' || substr(md5('dp0:' || grp), 1, 15) AS BIGINT) * 1.0
           / 1152921504606846976 - 0.5 AS uu
  FROM c),
nz AS (
  SELECT grp, true_n,
         -1.0 * sign(uu) * ln(1 - 2 * abs(uu)) AS noise
  FROM u)
SELECT grp AS "group", true_n, round(noise, 6) + 0.0 AS noise,
       greatest(round(true_n + noise, 6), 0.0) + 0.0 AS noisy_n,
       1.0 AS epsilon
FROM nz
"""
    # join_size_estimate: exact sum(cl*cr) from the two key histograms vs
    # the uniform-frequency estimate; top-16 key share.
    sql["join_size_estimate"] = """
WITH hl AS (SELECT o_orderkey AS k, count(*) AS cl FROM orders GROUP BY 1),
hr AS (SELECT l_orderkey AS k, count(*) AS cr FROM lineitem GROUP BY 1),
j AS (SELECT hl.k, cl * cr AS pairs FROM hl JOIN hr USING (k)),
tp AS (SELECT sum(pairs) AS top_pairs FROM
       (SELECT pairs FROM j ORDER BY pairs DESC, k LIMIT 16)),
s AS (
  SELECT (SELECT sum(cl) FROM hl) AS nl,
         (SELECT count(*) FROM hl) AS ndv_l,
         (SELECT sum(cr) FROM hr) AS nr,
         (SELECT count(*) FROM hr) AS ndv_r,
         (SELECT coalesce(sum(pairs), 0) FROM j) AS actual,
         (SELECT top_pairs FROM tp) AS top_pairs)
SELECT CAST(actual AS BIGINT) AS actual_pairs,
       round(nl * nr * 1.0 / greatest(ndv_l, ndv_r), 6) + 0.0 AS est_pairs,
       round((nl * nr * 1.0 / greatest(ndv_l, ndv_r) - actual) * 100.0
             / actual, 6) + 0.0 AS est_err_pct,
       CAST(ndv_l AS BIGINT) AS left_keys,
       CAST(ndv_r AS BIGINT) AS right_keys,
       round(coalesce(top_pairs, 0) * 1.0 / actual, 6) + 0.0
         AS top_key_share
FROM s
"""
    # morph_split: identical split-point explode + piece-frequency joins
    # + leftmost-max rank.
    sql["morph_split"] = f"""
WITH tok AS (
  SELECT unnest({_OTOKS}) AS tok
  FROM documents WHERE text IS NOT NULL AND trim(text) <> ''),
words AS (
  SELECT lower(tok) AS w, CAST(count(*) AS BIGINT) AS freq
  FROM tok GROUP BY 1 HAVING count(*) >= 5),
cand AS (
  SELECT w, freq, unnest(range(1, length(w))) AS i
  FROM words WHERE length(w) >= 4),
sp AS (
  SELECT w, freq, i, substr(w, 1, i) AS l,
         substr(w, i + 1, length(w)) AS r
  FROM cand),
sc AS (
  SELECT sp.w, sp.freq, sp.i, sp.l, sp.r,
         ln(wl.freq) + ln(wr.freq) AS score
  FROM sp JOIN words wl ON wl.w = sp.l JOIN words wr ON wr.w = sp.r),
rk AS (
  SELECT w, freq, i, l, r, score,
         row_number() OVER (PARTITION BY w ORDER BY score DESC, i) AS rn
  FROM sc)
SELECT w AS word, freq, l AS "left", r AS "right",
       round(score, 4) + 0.0 AS score
FROM rk WHERE rn = 1
"""
    # numeric_profile: same single-pass conditional aggregates per column.
    _np_col = """
SELECT '{c}' AS "column", CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_null,
       CAST(count(DISTINCT {c}) AS BIGINT) AS ndv,
       round(min({c}), 4) + 0.0 AS min_v, round(max({c}), 4) + 0.0 AS max_v,
       round(avg({c}), 4) + 0.0 AS mean, round(stddev({c}), 4) + 0.0 AS std
FROM lineitem"""
    sql["numeric_profile"] = "\nUNION ALL\n".join(
        _np_col.format(c=c)
        for c in ("l_quantity", "l_extendedprice", "l_discount", "l_tax")
    )
    # linkage_scores: levenshtein candidates + the same fixed comparator
    # weights; phonetic key chain mirrored with RE2 'g' flags.
    sql["linkage_scores"] = r"""
WITH dict AS (
  SELECT p_name AS name FROM part WHERE p_name IS NOT NULL GROUP BY 1),
blk AS (
  SELECT name, (regexp_split_to_array(name, '\s+'))[-1] AS b FROM dict),
pairs AS (
  SELECT a.name AS name_a, b.name AS name_b,
         levenshtein(a.name, b.name) AS dist
  FROM blk a JOIN blk b ON a.b = b.b AND a.name < b.name
  WHERE levenshtein(a.name, b.name) <= 2),
pk AS (
  SELECT name_a, name_b, dist,
         (SELECT CASE WHEN l1 = '' THEN ''
                 ELSE substr(l1, 1, 1) ||
                      substr(regexp_replace(substr(l1, 2),
                             '[AEIOUHWY]', '', 'g'), 1, 4) END
          FROM (SELECT regexp_replace(upper(
                    (regexp_split_to_array(name_a, '\s+'))[1]),
                    '[^A-Z]', '', 'g') AS l1)) AS ka,
         (SELECT CASE WHEN l2 = '' THEN ''
                 ELSE substr(l2, 1, 1) ||
                      substr(regexp_replace(substr(l2, 2),
                             '[AEIOUHWY]', '', 'g'), 1, 4) END
          FROM (SELECT regexp_replace(upper(
                    (regexp_split_to_array(name_b, '\s+'))[1]),
                    '[^A-Z]', '', 'g') AS l2)) AS kb
  FROM pairs),
sc AS (
  SELECT name_a, name_b, dist, ka = kb AS phonetic_eq,
         round((CASE WHEN dist = 0 THEN 4.0 WHEN dist = 1 THEN 2.5
                     ELSE 1.0 END)
               + (CASE WHEN ka = kb THEN 1.5 ELSE -0.5 END) + 0.5, 2)
           AS score
  FROM pk)
SELECT name_a, name_b, dist, phonetic_eq, score + 0.0 AS score,
       score >= 3.0 AS is_match
FROM sc
"""
    # ndcg_topk: cosine ranking + binary label relevance; ideal DCG from
    # an uncorrelated cumulative table joined on min(k, n_rel).
    sql["ndcg_topk"] = f"""
WITH q AS (SELECT vec_id AS query_id, embedding AS qv, label AS qlab
           FROM embeddings WHERE vec_id < 5),
scored AS (
  SELECT q.query_id, q.qlab, e.vec_id AS id, e.label AS clab,
         row_number() OVER (PARTITION BY q.query_id ORDER BY
           {cos_eq} DESC, e.vec_id) AS rank
  FROM embeddings e, q),
top AS (SELECT * FROM scored WHERE rank <= 10),
rc AS (SELECT label AS qlab, CAST(count(*) AS BIGINT) AS n_rel
       FROM embeddings GROUP BY 1),
dcg AS (
  SELECT query_id, qlab,
         sum(CASE WHEN clab = qlab THEN 1.0 / log2(rank + 1)
                  ELSE 0 END) AS dcg
  FROM top GROUP BY 1, 2),
iv AS (SELECT unnest(range(1, 11)) AS i),
ideals AS (
  SELECT a.i AS r, sum(1.0 / log2(b.i + 1)) AS idcg
  FROM iv a JOIN iv b ON b.i <= a.i GROUP BY 1)
SELECT d.query_id, rc.n_rel,
       round(d.dcg, 6) + 0.0 AS dcg,
       round(ideals.idcg, 6) + 0.0 AS idcg,
       round(d.dcg / ideals.idcg, 6) + 0.0 AS ndcg
FROM dcg d JOIN rc USING (qlab)
JOIN ideals ON ideals.r = least(10, rc.n_rel)
"""
    # rank_biased_overlap: both ranking oracles composed; X_d via the
    # bounded depth explode.
    sql["rank_biased_overlap"] = f"""
WITH pr AS ({sql["pagerank_hosts"]}),
ht AS ({sql["hits_hosts"]}),
ra AS (SELECT host AS item,
              row_number() OVER (ORDER BY rank DESC, host) AS ra FROM pr),
rb AS (SELECT host AS item,
              row_number() OVER (ORDER BY auth DESC, host) AS rb FROM ht),
mm AS (SELECT greatest(ra, rb) AS m FROM ra JOIN rb USING (item)
       WHERE greatest(ra, rb) <= 20),
cc AS (SELECT unnest(range(m, 21)) AS d FROM mm),
x AS (SELECT d, count(*) AS x FROM cc GROUP BY 1)
SELECT CAST(20 AS INT) AS depth, 0.9 AS p,
       round(coalesce(sum((1.0 - 0.9) * power(0.9, d - 1) * x / d), 0.0),
             6) + 0.0 AS rbo,
       round(coalesce(max(CASE WHEN d = 20 THEN x END), 0) / 20.0, 6)
         + 0.0 AS overlap_at_depth
FROM x
"""
    # pps_sample: identical md5 inclusion draws against min(1, k*w/W).
    sql["pps_sample"] = """
WITH t AS (
  SELECT sum(CASE WHEN n_chars > 0 THEN CAST(n_chars AS DOUBLE)
             ELSE 0 END) AS wtot
  FROM documents),
x AS (
  SELECT doc_id, CAST(n_chars AS DOUBLE) AS w,
         CAST('0x' || substr(md5('pps:' || CAST(doc_id AS VARCHAR)),
              1, 15) AS BIGINT) * 1.0 / 1152921504606846976 AS u
  FROM documents)
SELECT doc_id, coalesce(w, 0.0) + 0.0 AS weight,
       round(least(1.0, 50 * w / wtot), 6) + 0.0 AS incl_prob,
       TRUE AS picked
FROM x, t
WHERE w IS NOT NULL AND w > 0 AND u < least(1.0, 50 * w / wtot)
"""
    # weighted_sample: A-ES exponential draws — identical md5 uniform,
    # identical -ln(u)/w expression shape, 12-dp round BEFORE the rank
    # so sub-ulp ln() differences cannot flip the order.
    sql["weighted_sample"] = """
WITH keyed AS (
  SELECT doc_id, CAST(n_chars AS DOUBLE) AS weight,
         round(-ln((CAST('0x' || substr(md5('aes:' ||
                    CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) + 1.0)
                   / 1152921504606846976.0)
               / CAST(n_chars AS DOUBLE), 12) AS draw_key
  FROM documents
  WHERE n_chars IS NOT NULL AND n_chars > 0)
SELECT doc_id, weight, draw_key,
       CAST(row_number() OVER (ORDER BY draw_key, doc_id) AS INT)
         AS pick_rank
FROM keyed
QUALIFY pick_rank <= 50
"""
    # markov_stationary: 3 unrolled pi <- pi P iterations with sink mass
    # kept in place.
    _mk_step = """
m{k} AS (SELECT P.b AS s, sum(P.p * pi{j}.pi) AS m
         FROM P JOIN pi{j} ON pi{j}.s = P.a GROUP BY 1),
k{k} AS (SELECT sinks.s, pi{j}.pi AS kk FROM sinks JOIN pi{j} USING (s)),
pi{k} AS (SELECT st.s, coalesce(m{k}.m, 0) + coalesce(k{k}.kk, 0) AS pi
          FROM st LEFT JOIN m{k} ON m{k}.s = st.s
                  LEFT JOIN k{k} ON k{k}.s = st.s),"""
    sql["markov_stationary"] = (
        """
WITH pr AS (
  SELECT event_type,
         lead(event_type) OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS nxt
  FROM events),
pc AS (SELECT event_type AS a, nxt AS b, count(*) AS c
       FROM pr WHERE nxt IS NOT NULL GROUP BY 1, 2),
po AS (SELECT a, sum(c) AS tot FROM pc GROUP BY 1),
P AS (SELECT pc.a, pc.b, c * 1.0 / tot AS p FROM pc JOIN po USING (a)),
st AS (SELECT DISTINCT event_type AS s FROM events
       WHERE event_type IS NOT NULL),
sinks AS (SELECT s FROM st WHERE s NOT IN (SELECT a FROM P)),
pi0 AS (SELECT s, 1.0 / (SELECT count(*) FROM st) AS pi FROM st),"""
        + "".join(_mk_step.format(k=k, j=k - 1) for k in (1, 2, 3)).rstrip(",")
        + """
SELECT s AS event_type, round(pi, 6) + 0.0 AS pi FROM pi3"""
    )
    # kaplan_meier: product limit via exp(sum(ln)) windows over the
    # distinct-conversion-time table.
    sql["kaplan_meier"] = """
WITH pu AS (
  SELECT user_id, min(epoch_us(ts)) AS t0,
         min(CASE WHEN event_type = 'purchase'
                  THEN epoch_us(ts) END) AS tp,
         max(epoch_us(ts)) AS tl
  FROM events GROUP BY 1),
durs AS (
  SELECT CAST(floor((coalesce(tp, tl) - t0) / 3600000000.0) AS BIGINT)
           AS t,
         tp IS NOT NULL AS ev
  FROM pu),
hist AS (SELECT t, count(*) AS n_all,
                sum(CASE WHEN ev THEN 1 ELSE 0 END) AS d
         FROM durs GROUP BY 1),
ar AS (
  SELECT t, d,
         sum(n_all) OVER (ORDER BY t DESC ROWS BETWEEN UNBOUNDED
                          PRECEDING AND CURRENT ROW) AS n_risk
  FROM hist),
et AS (SELECT t, d, n_risk, 1 - d * 1.0 / n_risk AS f
       FROM ar WHERE d > 0),
km AS (
  SELECT t, d, n_risk,
         sum(CASE WHEN f <= 0 THEN 1 ELSE 0 END) OVER w AS zeros,
         sum(CASE WHEN f > 0 THEN ln(f) END) OVER w AS lns
  FROM et
  WINDOW w AS (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
               AND CURRENT ROW))
SELECT t AS t_hours, CAST(n_risk AS BIGINT) AS n_risk,
       CAST(d AS BIGINT) AS d_events,
       round(CASE WHEN zeros > 0 THEN 0.0 ELSE exp(lns) END, 6) + 0.0
         AS survival
FROM km
"""
    # ks_test: identical distinct-value running CDFs.
    sql["ks_test"] = """
WITH v AS (
  SELECT value,
         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS ia,
         CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS ib
  FROM events
  WHERE value IS NOT NULL AND event_type IN ('purchase', 'click')),
pv AS (SELECT value, sum(ia) AS ca, sum(ib) AS cb FROM v GROUP BY 1),
n AS (SELECT CAST(sum(ia) AS BIGINT) AS n_a,
             CAST(sum(ib) AS BIGINT) AS n_b FROM v),
cum AS (
  SELECT sum(ca) OVER w AS fa, sum(cb) OVER w AS fb
  FROM pv WINDOW w AS (ORDER BY value ROWS BETWEEN UNBOUNDED PRECEDING
                       AND CURRENT ROW)),
ks AS (SELECT round(max(abs(fa * 1.0 / n.n_a - fb * 1.0 / n.n_b)), 6)
         AS ks_stat
       FROM cum, n)
SELECT n.n_a, n.n_b, ks.ks_stat + 0.0 AS ks_stat,
       round(1.36 * sqrt((n.n_a + n.n_b) * 1.0 / (n.n_a * n.n_b)), 6)
         + 0.0 AS d_crit,
       ks.ks_stat > round(1.36 * sqrt((n.n_a + n.n_b) * 1.0
                          / (n.n_a * n.n_b)), 6) AS reject
FROM n, ks
"""
    # psi_drift: same midpoint split, interpolated reference deciles, and
    # floored-share contributions.
    _psi_qs = ",".join(str(i / 10) for i in range(1, 10))
    sql["psi_drift"] = f"""
WITH mid AS (
  SELECT (epoch_us(max(ts)) + epoch_us(min(ts))) / 2.0 AS m FROM events),
base AS (
  SELECT value, epoch_us(ts) < mid.m AS is_ref
  FROM events, mid WHERE value IS NOT NULL),
edges AS (
  SELECT quantile_cont(value, [{_psi_qs}]) AS e
  FROM base WHERE is_ref),
binned AS (
  SELECT is_ref,
         1 + len(list_filter(edges.e, x -> base.value > x)) AS bin
  FROM base, edges),
hist AS (
  SELECT bin, sum(CASE WHEN is_ref THEN 1 ELSE 0 END) AS n_ref,
         sum(CASE WHEN is_ref THEN 0 ELSE 1 END) AS n_cur
  FROM binned GROUP BY 1),
t AS (SELECT sum(n_ref) AS tr, sum(n_cur) AS tc FROM hist)
SELECT CAST(bin AS INT) AS bin, CAST(n_ref AS BIGINT) AS n_ref,
       CAST(n_cur AS BIGINT) AS n_cur,
       round(greatest(n_ref * 1.0 / tr, 1e-6), 6) + 0.0 AS p_ref,
       round(greatest(n_cur * 1.0 / tc, 1e-6), 6) + 0.0 AS p_cur,
       round((greatest(n_cur * 1.0 / tc, 1e-6)
              - greatest(n_ref * 1.0 / tr, 1e-6))
             * ln(greatest(n_cur * 1.0 / tc, 1e-6)
                  / greatest(n_ref * 1.0 / tr, 1e-6)), 6) + 0.0 AS contrib
FROM hist, t
"""
    # dup_rate_by_source: same lowercase-text digests per source.
    sql["dup_rate_by_source"] = """
SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(count(DISTINCT md5(lower(coalesce(text, '')))) AS BIGINT)
         AS n_unique,
       round(1 - count(DISTINCT md5(lower(coalesce(text, '')))) * 1.0
             / count(*), 6) + 0.0 AS dup_rate
FROM documents GROUP BY 1
"""
    # corr_matrix: DuckDB's corr is the same sample Pearson.
    _cm_cols = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]
    _cm_rows = []
    for _i, _a in enumerate(_cm_cols):
        for _b in _cm_cols[_i + 1:]:
            _cm_rows.append(
                f"SELECT '{_a}' AS col_a, '{_b}' AS col_b, "
                f"CAST(count(*) AS BIGINT) AS n, "
                f"round(corr({_a}, {_b}), 6) + 0.0 AS pearson FROM lineitem"
            )
    sql["corr_matrix"] = "\nUNION ALL\n".join(_cm_rows)
    # filter_committee: the three filter oracles composed; majority and
    # unanimity from the integer vote sum.
    sql["filter_committee"] = f"""
WITH g AS ({sql["gopher_filter"]}),
c AS ({sql["c4_filter"]}),
h AS ({sql["hash_lr"]}),
j AS (
  SELECT g.doc_id,
         CAST(g.accept AS INT) + CAST(c.accept AS INT)
           + CAST(h.accept AS INT) AS na
  FROM g JOIN c USING (doc_id) JOIN h USING (doc_id))
SELECT doc_id, CAST(na AS BIGINT) AS n_accept,
       na >= 2 AS verdict,
       na = 0 OR na = 3 AS unanimous
FROM j
"""
    # embedding_isotropy: same two aggregates over the flat view.
    sql["embedding_isotropy"] = """
WITH flat AS (
  SELECT vec_id AS vid, generate_subscripts(embedding, 1) - 1 AS dim,
         CAST(unnest(embedding) AS DOUBLE) AS x
  FROM embeddings WHERE embedding IS NOT NULL AND len(embedding) > 0),
mv AS (SELECT dim, avg(x) AS m FROM flat GROUP BY 1),
mn AS (SELECT sqrt(sum(m * m)) AS mean_norm,
              CAST(count(*) AS INT) AS dim FROM mv),
nr AS (SELECT vid, sqrt(sum(x * x)) AS nrm FROM flat GROUP BY 1),
an AS (SELECT CAST(count(*) AS BIGINT) AS n, avg(nrm) AS avg_norm FROM nr)
SELECT an.n, mn.dim, round(mn.mean_norm, 6) + 0.0 AS mean_norm,
       round(an.avg_norm, 6) + 0.0 AS avg_norm,
       round(1 - mn.mean_norm / an.avg_norm, 6) + 0.0 AS isotropy
FROM an, mn
"""
    sql["dow_hour_heatmap"] = """
WITH h AS (
  SELECT CAST(dayofweek(ts) + 1 AS INT) AS dow,
         CAST(hour(ts) AS INT) AS hour,
         CAST(count(*) AS BIGINT) AS n
  FROM events GROUP BY 1, 2)
SELECT dow, hour, n,
       round(n * 1.0 / (SELECT sum(n) FROM h), 6) + 0.0 AS share
FROM h
"""
    # abtt_transform: the pca oracle composed; both engines project
    # through the same 6-dp component.
    sql["abtt_transform"] = f"""
WITH pc AS ({sql["pca_top_component"]}),
flat AS (
  SELECT vec_id AS vid, generate_subscripts(embedding, 1) - 1 AS dim,
         CAST(unnest(embedding) AS DOUBLE) AS x
  FROM embeddings WHERE embedding IS NOT NULL AND len(embedding) > 0),
d AS (
  SELECT vid, sum(x * pc.loading) AS dd
  FROM flat JOIN pc ON pc.dim = flat.dim GROUP BY 1)
SELECT f.vid AS vec_id, CAST(f.dim AS INT) AS dim,
       round(f.x - d.dd * pc.loading, 6) + 0.0 AS value
FROM flat f JOIN pc ON pc.dim = f.dim JOIN d ON d.vid = f.vid
"""
    # hashed_doc_embedding: identical md5 bucket/sign arithmetic.
    sql["hashed_doc_embedding"] = f"""
WITH tok AS (
  SELECT doc_id, unnest({_OTOKS}) AS tk
  FROM documents WHERE text IS NOT NULL AND trim(text) <> ''),
h AS (
  SELECT doc_id,
         CAST('0x' || substr(md5(lower(tk)), 1, 15) AS BIGINT) AS hv
  FROM tok),
s AS (
  SELECT doc_id, CAST(hv % 16 AS INT) AS dim,
         CASE WHEN hv % 128 >= 64 THEN -1 ELSE 1 END AS sg
  FROM h),
w AS (SELECT doc_id, dim, CAST(sum(sg) AS BIGINT) AS weight
      FROM s GROUP BY 1, 2),
n AS (SELECT doc_id, sqrt(sum(weight * weight)) AS nn FROM w GROUP BY 1)
SELECT w.doc_id, w.dim, w.weight,
       CASE WHEN n.nn > 0 THEN round(w.weight / n.nn, 6)
            ELSE 0.0 END + 0.0 AS unit
FROM w JOIN n USING (doc_id)
"""
    # ppr_hosts: 3 unrolled personalized-restart iterations over the
    # shared host-graph CTE.
    _ppr_step = """
pm{k} AS (SELECT e.dst AS node, sum(pp{j}.rank / od.od) AS m
          FROM e JOIN pp{j} ON pp{j}.node = e.src
                 JOIN od ON od.node = e.src
          GROUP BY 1),
pp{k} AS (SELECT rv.node, 0.15 * rv.r0 + 0.85 * coalesce(pm{k}.m, 0)
            AS rank
          FROM rv LEFT JOIN pm{k} ON pm{k}.node = rv.node),"""
    sql["ppr_hosts"] = (
        _pr_edges
        + """
nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
rv AS (SELECT node,
              CASE WHEN node IN ('src0.example.com', 'src1.example.com')
                   THEN 0.5 ELSE 0.0 END AS r0
       FROM nodes),
od AS (SELECT src AS node, CAST(count(*) AS DOUBLE) AS od
       FROM e GROUP BY 1),
pp0 AS (SELECT node, r0 AS rank FROM rv),"""
        + "".join(_ppr_step.format(k=k, j=k - 1) for k in (1, 2, 3)).rstrip(
            ","
        )
        + """
SELECT node, round(rank, 6) + 0.0 AS rank FROM pp3"""
    )
    # autocorrelation: per-lag shifted self-join + corr.
    _acf_arm = """
SELECT CAST({lag} AS INT) AS lag, CAST(count(*) AS BIGINT) AS n_pairs,
       (CASE WHEN count(*) >= 3 THEN round(corr(a.n, b.n), 6) END) + 0.0
         AS acf
FROM daily a JOIN daily b ON a.day + {lag} = b.day"""
    sql["autocorrelation"] = (
        """
WITH daily AS (
  SELECT CAST(ts AS DATE) AS day, CAST(count(*) AS DOUBLE) AS n
  FROM events GROUP BY 1)
"""
        + "\nUNION ALL\n".join(_acf_arm.format(lag=lag) for lag in (1, 7, 14))
    )
    # rrf_fusion: the two ranking oracles composed + the 1/(60+r) sum.
    sql["rrf_fusion"] = f"""
WITH pr AS ({sql["pagerank_hosts"]}),
ht AS ({sql["hits_hosts"]}),
ra AS (SELECT host AS item,
              row_number() OVER (ORDER BY rank DESC, host) AS rank_a
       FROM pr),
rb AS (SELECT host AS item,
              row_number() OVER (ORDER BY auth DESC, host) AS rank_b
       FROM ht)
SELECT coalesce(ra.item, rb.item) AS item,
       CAST(ra.rank_a AS INT) AS rank_a, CAST(rb.rank_b AS INT) AS rank_b,
       round(coalesce(1.0 / (60 + ra.rank_a), 0)
             + coalesce(1.0 / (60 + rb.rank_b), 0), 6) + 0.0 AS rrf
FROM ra FULL OUTER JOIN rb ON ra.item = rb.item
"""
    # event_trigrams: two leads over the same (user, ts, id) order,
    # fully ordered top-20.
    sql["event_trigrams"] = """
WITH t AS (
  SELECT event_type AS e1,
         lead(event_type, 1) OVER w AS e2,
         lead(event_type, 2) OVER w AS e3
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
c AS (SELECT e1, e2, e3, CAST(count(*) AS BIGINT) AS n
      FROM t WHERE e2 IS NOT NULL AND e3 IS NOT NULL GROUP BY 1, 2, 3)
SELECT e1, e2, e3, n FROM c ORDER BY n DESC, e1, e2, e3 LIMIT 20
"""
    # encoding_advisor: same group-local run counting per column.
    _enc_col = """
SELECT '{c}' AS "column", CAST(count(*) AS BIGINT) AS n,
       CAST(count(DISTINCT {c}) AS BIGINT) AS ndv,
       CAST(sum(r) AS BIGINT) AS n_runs,
       round(count(*) * 1.0 / sum(r), 2) + 0.0 AS avg_run_len,
       CASE WHEN count(*) * 1.0 / sum(r) >= 4 THEN 'RLE'
            WHEN count(DISTINCT {c}) <= count(*) / 10.0 THEN 'DICT'
            ELSE 'PLAIN' END AS suggested
FROM (
  SELECT {c},
         CASE WHEN lag({c}) OVER (PARTITION BY l_orderkey
                                  ORDER BY l_linenumber, l_partkey,
                                           l_suppkey, l_extendedprice)
                   IS NULL
                   OR {c} <> lag({c}) OVER (PARTITION BY l_orderkey
                                            ORDER BY l_linenumber,
                                                     l_partkey, l_suppkey,
                                                     l_extendedprice)
              THEN 1 ELSE 0 END AS r
  FROM lineitem)"""
    sql["encoding_advisor"] = "\nUNION ALL\n".join(
        _enc_col.format(c=c)
        for c in ("l_quantity", "l_extendedprice", "l_discount",
                  "l_returnflag")
    )
    # doc_similar_topk: the hashed-embedding oracle composed; cosines
    # rounded before ranking in both engines.
    sql["doc_similar_topk"] = f"""
WITH emb AS ({sql["hashed_doc_embedding"]}),
q AS (SELECT doc_id AS query_id, dim, unit AS qu
      FROM emb WHERE doc_id < 3),
s AS (
  SELECT q.query_id, e.doc_id AS id,
         round(sum(e.unit * q.qu), 6) AS cosine
  FROM emb e JOIN q USING (dim) GROUP BY 1, 2),
r AS (
  SELECT query_id, id, cosine,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, id) AS rank
  FROM s)
SELECT query_id, id, cosine + 0.0 AS cosine, CAST(rank AS INT) AS rank
FROM r WHERE rank <= 5
"""
    # cluster_size_hist: the neardup_clusters oracle composed.
    sql["cluster_size_hist"] = f"""
WITH nc AS ({sql["neardup_clusters"]}),
s AS (SELECT cluster, count(*) AS sz FROM nc GROUP BY 1)
SELECT CAST(sz AS BIGINT) AS size, CAST(count(*) AS BIGINT) AS n_clusters
FROM s GROUP BY 1
"""
    # dedup_threshold_curve: the ngram_jaccard oracle with its final
    # threshold filter stripped, counted against each knob setting.
    _njp_all = sql["ngram_jaccard"].rsplit("\nWHERE", 1)[0]
    sql["dedup_threshold_curve"] = f"""
WITH p AS ({_njp_all}),
t AS (SELECT unnest([0.7, 0.8, 0.9, 1.0]) AS threshold)
SELECT t.threshold + 0.0 AS threshold,
       CAST(sum(CASE WHEN p.jaccard >= t.threshold THEN 1 ELSE 0 END)
            AS BIGINT) AS n_pairs
FROM t LEFT JOIN p ON p.jaccard >= 0.7
GROUP BY t.threshold
"""
    # source_trend: identical closed-form OLS over the daily rollup.
    sql["source_trend"] = """
WITH daily AS (
  SELECT event_type AS source, CAST(ts AS DATE) AS day,
         CAST(count(*) AS DOUBLE) AS y
  FROM events GROUP BY 1, 2),
b AS (
  SELECT source, y,
         CAST(day - min(day) OVER (PARTITION BY source) AS DOUBLE) AS x
  FROM daily),
s AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_days,
         sum(x) AS sx, sum(y) AS sy, sum(x * y) AS sxy,
         sum(x * x) AS sxx, sum(y * y) AS syy
  FROM b GROUP BY 1)
SELECT source, n_days,
  (CASE WHEN n_days * sxx - sx * sx > 0
        THEN round((n_days * sxy - sx * sy)
                   / (n_days * sxx - sx * sx), 6) END) + 0.0 AS slope,
  (CASE WHEN n_days * sxx - sx * sx > 0
        THEN round((sy - (n_days * sxy - sx * sy)
                        / (n_days * sxx - sx * sx) * sx) / n_days, 6)
        END) + 0.0 AS intercept,
  (CASE WHEN n_days * sxx - sx * sx > 0 AND n_days * syy - sy * sy > 0
        THEN round((n_days * sxy - sx * sy) * (n_days * sxy - sx * sy)
                   / ((n_days * sxx - sx * sx)
                      * (n_days * syy - sy * sy)), 6) END) + 0.0 AS r2
FROM s
"""
    # dispersion_index: same population moments of per-user counts.
    sql["dispersion_index"] = """
WITH pu AS (
  SELECT event_type, user_id, CAST(count(*) AS DOUBLE) AS c
  FROM events GROUP BY 1, 2),
s AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS n_users,
         avg(c) AS m, avg(c * c) - avg(c) * avg(c) AS v
  FROM pu GROUP BY 1)
SELECT event_type, n_users, round(m, 6) + 0.0 AS mean_count,
       round(v, 6) + 0.0 AS var_count,
       (CASE WHEN m > 0 THEN round(v / m, 6) END) + 0.0 AS dispersion,
       v / m > 1.5 AS overdispersed
FROM s
"""
    # capture_recapture: Lincoln-Petersen from the two sighting sets.
    sql["capture_recapture"] = """
WITH inv AS (
  SELECT DISTINCT event_type, user_id FROM events
  WHERE event_type IN ('purchase', 'click')),
pu AS (
  SELECT user_id,
         max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS ia,
         max(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS ib
  FROM inv GROUP BY 1),
s AS (
  SELECT CAST(sum(ia) AS BIGINT) AS n_a, CAST(sum(ib) AS BIGINT) AS n_b,
         CAST(sum(ia * ib) AS BIGINT) AS n_both,
         CAST(count(*) AS BIGINT) AS n_seen
  FROM pu)
SELECT n_a, n_b, n_both,
  (CASE WHEN n_both > 0 THEN round(n_a * n_b * 1.0 / n_both, 2) END)
    + 0.0 AS estimate,
  (CASE WHEN n_both > 0 THEN round(n_seen
        / round(n_a * n_b * 1.0 / n_both, 2), 4) END) + 0.0 AS coverage
FROM s
"""
    # query_likelihood: Dirichlet-smoothed LM scoring with the ordered
    # list_reduce fold (bm25's cross-engine float discipline).
    sql["query_likelihood"] = f"""
WITH q(query_id, qtext) AS (VALUES
  ('q1', 'spark table scan'),
  ('q2', 'hash join merge'),
  ('q3', 'window order data')),
qt AS (SELECT DISTINCT query_id,
         unnest(regexp_split_to_array(lower(trim(qtext)), '\\s+')) AS term
       FROM q),
base AS (
  SELECT doc_id AS id,
         CASE WHEN text IS NULL OR trim(text) = ''
              THEN CAST([] AS VARCHAR[]) ELSE {_LTOKS} END AS toks
  FROM documents),
b2 AS (SELECT id, toks, len(toks) AS dl FROM base),
tot AS (SELECT CAST(sum(dl) AS DOUBLE) AS C FROM b2),
words AS (SELECT id, dl, unnest(toks) AS term FROM b2),
posts AS (SELECT words.id, words.dl, words.term FROM words
          JOIN (SELECT DISTINCT term FROM qt) USING (term)),
cf AS (SELECT term, CAST(count(*) AS DOUBLE) AS cf FROM posts GROUP BY 1),
tf AS (SELECT id, term, CAST(count(*) AS DOUBLE) AS tf, max(dl) AS dl
       FROM posts GROUP BY 1, 2),
cand AS (SELECT DISTINCT qt.query_id, tf.id, tf.dl
         FROM tf JOIN qt USING (term)),
grid AS (
  SELECT cand.query_id, cand.id, qt.term,
         ln((coalesce(tf.tf, 0) + 500.0 * cf.cf / tot.C)
            / (cand.dl + 500.0)) AS s
  FROM cand JOIN qt ON qt.query_id = cand.query_id
       JOIN cf ON cf.term = qt.term
       LEFT JOIN tf ON tf.id = cand.id AND tf.term = qt.term, tot),
summed AS (
  SELECT query_id, id,
         round(list_reduce(list_prepend(0.0, list(s ORDER BY term)),
                           (acc, x) -> acc + x), 6) AS score
  FROM grid GROUP BY 1, 2),
ranked AS (
  SELECT query_id, id, score,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY score DESC, id) AS rank
  FROM summed)
SELECT query_id, id AS doc_id, score + 0.0 AS score,
       CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= 10
"""
    # markov_entropy_rate: the stationary oracle composed with per-state
    # row entropies.
    sql["markov_entropy_rate"] = f"""
WITH ms AS ({sql["markov_stationary"]}),
pr2 AS (
  SELECT event_type,
         lead(event_type) OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS nxt
  FROM events),
pc2 AS (SELECT event_type AS a, nxt AS b, count(*) AS c
        FROM pr2 WHERE nxt IS NOT NULL GROUP BY 1, 2),
po2 AS (SELECT a, sum(c) AS tot FROM pc2 GROUP BY 1),
rh AS (
  SELECT a, -sum((c * 1.0 / tot) * ln(c * 1.0 / tot)) AS h
  FROM pc2 JOIN po2 USING (a) GROUP BY 1)
SELECT CAST(count(*) AS BIGINT) AS n_states,
       round(sum(ms.pi * coalesce(rh.h, 0)), 6) + 0.0 AS entropy_rate,
       round(exp(sum(ms.pi * coalesce(rh.h, 0))), 6) + 0.0 AS perplexity
FROM ms LEFT JOIN rh ON rh.a = ms.event_type
"""
    # filter_pr: the three filter oracles + committee verdict; one arm
    # per filter with unrounded ratios inside f1.
    _pr_arm2 = """
SELECT '{name}' AS filter,
  CAST(sum(CASE WHEN {p} AND v THEN 1 ELSE 0 END) AS BIGINT) AS tp,
  CAST(sum(CASE WHEN {p} AND NOT v THEN 1 ELSE 0 END) AS BIGINT) AS fp,
  CAST(sum(CASE WHEN NOT {p} AND v THEN 1 ELSE 0 END) AS BIGINT) AS fn,
  CAST(sum(CASE WHEN NOT {p} AND NOT v THEN 1 ELSE 0 END) AS BIGINT) AS tn,
  round(CASE WHEN sum(CASE WHEN {p} THEN 1 ELSE 0 END) > 0
        THEN sum(CASE WHEN {p} AND v THEN 1 ELSE 0 END) * 1.0
             / sum(CASE WHEN {p} THEN 1 ELSE 0 END) END, 6) + 0.0
    AS precision,
  round(CASE WHEN sum(CASE WHEN v THEN 1 ELSE 0 END) > 0
        THEN sum(CASE WHEN {p} AND v THEN 1 ELSE 0 END) * 1.0
             / sum(CASE WHEN v THEN 1 ELSE 0 END) END, 6) + 0.0 AS recall,
  round(CASE WHEN sum(CASE WHEN {p} THEN 1 ELSE 0 END) > 0
              AND sum(CASE WHEN v THEN 1 ELSE 0 END) > 0
              AND (sum(CASE WHEN {p} AND v THEN 1 ELSE 0 END) * 1.0
                   / sum(CASE WHEN {p} THEN 1 ELSE 0 END)
                   + sum(CASE WHEN {p} AND v THEN 1 ELSE 0 END) * 1.0
                   / sum(CASE WHEN v THEN 1 ELSE 0 END)) > 0
        THEN 2 * (sum(CASE WHEN {p} AND v THEN 1 ELSE 0 END) * 1.0
                  / sum(CASE WHEN {p} THEN 1 ELSE 0 END))
               * (sum(CASE WHEN {p} AND v THEN 1 ELSE 0 END) * 1.0
                  / sum(CASE WHEN v THEN 1 ELSE 0 END))
             / (sum(CASE WHEN {p} AND v THEN 1 ELSE 0 END) * 1.0
                / sum(CASE WHEN {p} THEN 1 ELSE 0 END)
                + sum(CASE WHEN {p} AND v THEN 1 ELSE 0 END) * 1.0
                / sum(CASE WHEN v THEN 1 ELSE 0 END)) END, 6) + 0.0 AS f1
FROM jj"""
    sql["filter_pr"] = (
        f"""
WITH g AS ({sql["gopher_filter"]}),
c AS ({sql["c4_filter"]}),
h AS ({sql["hash_lr"]}),
jj AS (
  SELECT g.accept AS pg, c.accept AS pc, h.accept AS pl,
         (CAST(g.accept AS INT) + CAST(c.accept AS INT)
          + CAST(h.accept AS INT)) >= 2 AS v
  FROM g JOIN c USING (doc_id) JOIN h USING (doc_id))
"""
        + "\nUNION ALL\n".join(
            _pr_arm2.format(name=n, p=p)
            for n, p in (("gopher", "pg"), ("c4", "pc"), ("hash_lr", "pl"))
        )
    )
    # span_kind_transitions: the interleaved synthesis kinds rebuilt in
    # SQL (same (doc_id + i) % 3 rule), lagged per doc in offset order.
    sql["span_kind_transitions"] = """
WITH tk AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(trim(coalesce(text, '')),
                                           '\\s+'),
                     x -> x <> '') AS t
  FROM documents),
par AS (SELECT doc_id, CAST(ceil(len(t) / 4.0) AS INT) AS ns
        FROM tk WHERE len(t) > 0),
kinds AS (
  SELECT doc_id, i,
         CASE WHEN (doc_id + i) % 3 = 0 THEN 'image' ELSE 'text' END
           AS kind
  FROM (SELECT doc_id, unnest(range(0, ns)) AS i FROM par)),
lagged AS (
  SELECT doc_id, kind,
         lead(kind) OVER (PARTITION BY doc_id ORDER BY i) AS nxt
  FROM kinds),
p AS (SELECT kind AS kind_a, nxt AS kind_b, CAST(count(*) AS BIGINT) AS n
      FROM lagged WHERE nxt IS NOT NULL GROUP BY 1, 2)
SELECT kind_a, kind_b, n,
       round(n * 1.0 / sum(n) OVER (PARTITION BY kind_a), 6) + 0.0 AS p
FROM p
"""
    # extract_pipeline: rows-only driver check (pandas-UDF pipeline;
    # span-level parity is covered by tests/test_pipeline_spark.py).

    sql["adamic_adar"] = f"""{_g_cte},
deg AS (SELECT src AS w, count(*) AS deg FROM und GROUP BY 1),
wedges AS (
  SELECT a.src AS w, a.dst AS u, b.dst AS v
  FROM und a JOIN und b ON a.src = b.src AND a.dst < b.dst),
open_w AS (
  SELECT w, u, v FROM wedges
  WHERE NOT EXISTS (SELECT 1 FROM und x WHERE x.src = u AND x.dst = v))
SELECT u AS host_a, v AS host_b,
       CAST(count(*) AS BIGINT) AS common_neighbors,
       round(sum(1.0 / ln(deg.deg)), 6) AS aa_score
FROM open_w JOIN deg USING (w)
GROUP BY u, v
ORDER BY aa_score DESC, host_a, host_b
LIMIT 20
"""

    sql["degree_assortativity"] = f"""{_g_cte},
deg AS (SELECT src AS n, count(*) AS d FROM und GROUP BY 1),
pairs AS (
  SELECT dx.d AS dx, dy.d AS dy
  FROM und JOIN deg dx ON und.src = dx.n JOIN deg dy ON und.dst = dy.n),
s AS (
  SELECT CAST(count(*) AS BIGINT) AS m,
         CAST(sum(dx) AS BIGINT) AS sx, CAST(sum(dy) AS BIGINT) AS sy,
         CAST(sum(dx * dy) AS BIGINT) AS sxy,
         CAST(sum(dx * dx) AS BIGINT) AS sxx,
         CAST(sum(dy * dy) AS BIGINT) AS syy
  FROM pairs)
SELECT CAST(m / 2 AS BIGINT) AS n_edges,
       CASE WHEN m * sxx - sx * sx > 0 AND m * syy - sy * sy > 0 THEN
         round(CAST(m * sxy - sx * sy AS DOUBLE)
               / (sqrt(CAST(m * sxx - sx * sx AS DOUBLE))
                  * sqrt(CAST(m * syy - sy * sy AS DOUBLE))), 6)
       END AS assortativity
FROM s
"""

    sql["graph_modularity"] = f"""{_g_cte},
l0 AS (SELECT DISTINCT src AS node, src AS label FROM und),
l1 AS (
  SELECT l.node,
         least(l.label, coalesce(min(nl.label), l.label)) AS label
  FROM l0 l
  LEFT JOIN und u ON u.src = l.node
  LEFT JOIN l0 nl ON nl.node = u.dst
  GROUP BY l.node, l.label),
l2 AS (
  SELECT l.node,
         least(l.label, coalesce(min(nl.label), l.label)) AS label
  FROM l1 l
  LEFT JOIN und u ON u.src = l.node
  LEFT JOIN l1 nl ON nl.node = u.dst
  GROUP BY l.node, l.label),
deg AS (SELECT src AS node, count(*) AS d FROM und GROUP BY 1),
dc AS (
  SELECT l2.label, CAST(sum(d) AS BIGINT) AS dc
  FROM l2 JOIN deg USING (node) GROUP BY 1),
cs AS (
  SELECT CAST(count(*) AS BIGINT) AS communities,
         CAST(sum(dc * dc) AS BIGINT) AS sdc2 FROM dc),
intra AS (
  SELECT CAST(count(*) AS BIGINT) AS intra
  FROM und
  JOIN l2 la ON und.src = la.node
  JOIN l2 lb ON und.dst = lb.node
  WHERE la.label = lb.label),
mt AS (SELECT CAST(count(*) AS BIGINT) AS mm FROM und)
SELECT communities, CAST(mm / 2 AS BIGINT) AS n_edges,
       round(CAST(mm * intra - sdc2 AS DOUBLE)
             / (CAST(mm AS DOUBLE) * CAST(mm AS DOUBLE)), 6) AS q_modularity
FROM cs, intra, mt
"""

    sql["gt_unseen_mass"] = """
WITH tok AS (
  SELECT source,
         unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS word
  FROM documents WHERE trim(text) <> ''),
c AS (SELECT source, word, count(*) AS c FROM tok GROUP BY 1, 2)
SELECT source,
       CAST(sum(c) AS BIGINT) AS n_tokens,
       CAST(count(*) AS BIGINT) AS vocab,
       CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
       CAST(sum(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
       round(CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS DOUBLE)
             / sum(c), 6) AS p_unseen
FROM c GROUP BY source ORDER BY source
"""

    # lsh_candidate_eval: the eval pipeline is md5-portable by design, so
    # the oracle replays signatures, banding, candidate join, and exact-
    # Jaccard truth with the SAME coefficient family the Spark side draws
    from pdf_extractor_spark.operators.dedup import (
        MINHASH_P as _lshp,
        _minhash_coeffs as _lshc,
    )

    _coeffs = _lshc(16, 7)
    _mins = ",\n         ".join(
        f"min((x * {a} + {b}) % {_lshp}) AS h{i}"
        for i, (a, b) in enumerate(_coeffs)
    )
    _band_rows = "\n  UNION ALL\n".join(
        f"  SELECT id, {bi} AS band, "
        + " || ',' || ".join(
            f"CAST(h{bi * 4 + r} AS VARCHAR)" for r in range(4)
        )
        + " AS key FROM sig"
        for bi in range(4)
    )
    sql["lsh_candidate_eval"] = f"""
WITH tok AS (SELECT doc_id AS id,
    regexp_split_to_array(lower(trim(text)), '\\s+') AS toks
  FROM documents),
sh AS (
  SELECT id, unnest(list_distinct(
    [toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
     for i in range(1, len(toks) - 1)])) AS s
  FROM tok WHERE len(toks) >= 3),
sid AS (
  SELECT DISTINCT id,
    CAST(('0x' || substr(md5(s), 1, 15)) AS BIGINT) AS sid FROM sh),
x AS (SELECT id, sid % 2147483648 AS x FROM sid),
sig AS (
  SELECT id, {_mins}
  FROM x GROUP BY id),
buckets AS (
{_band_rows}),
cand AS (
  SELECT DISTINCT p.id AS id1, q.id AS id2
  FROM buckets p JOIN buckets q
    ON p.band = q.band AND p.key = q.key AND p.id < q.id),
cnt AS (SELECT id, count(*) AS nsh FROM sid GROUP BY 1),
inter AS (
  SELECT a.id AS id1, b.id AS id2, count(*) AS inter
  FROM sid a JOIN sid b ON a.sid = b.sid AND a.id < b.id GROUP BY 1, 2),
truth AS (
  SELECT id1, id2
  FROM inter JOIN cnt ca ON id1 = ca.id JOIN cnt cb ON id2 = cb.id
  WHERE inter * 1.0 / (ca.nsh + cb.nsh - inter) >= 0.7),
lab AS (
  SELECT coalesce(c.isc, 0) AS isc, coalesce(t.ist, 0) AS ist
  FROM (SELECT id1, id2, 1 AS isc FROM cand) c
  FULL OUTER JOIN (SELECT id1, id2, 1 AS ist FROM truth) t
    ON c.id1 = t.id1 AND c.id2 = t.id2)
SELECT CAST(sum(isc) AS BIGINT) AS n_candidates,
       CAST(sum(ist) AS BIGINT) AS n_truth,
       CAST(sum(isc * ist) AS BIGINT) AS true_pairs,
       CASE WHEN sum(isc) > 0 THEN
         round(CAST(sum(isc * ist) AS DOUBLE) / sum(isc), 6) END
         AS precision,
       CASE WHEN sum(ist) > 0 THEN
         round(CAST(sum(isc * ist) AS DOUBLE) / sum(ist), 6) END
         AS recall
FROM lab
"""

    sql["clustering_coefficient"] = f"""{_g_cte},
ue AS (
  SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
  FROM e0 WHERE src <> dst),
cdeg AS (
  SELECT node, count(*) AS degree FROM (
    SELECT u AS node FROM ue UNION ALL SELECT v FROM ue)
  GROUP BY 1),
tri AS (
  SELECT a.u AS x, a.v AS y, b.v AS z
  FROM ue a JOIN ue b ON a.u = b.u AND a.v < b.v
  JOIN ue c ON c.u = a.v AND c.v = b.v),
pn AS (
  SELECT node, count(*) AS triangles FROM (
    SELECT x AS node FROM tri UNION ALL SELECT y FROM tri
    UNION ALL SELECT z FROM tri)
  GROUP BY 1)
SELECT cdeg.node AS host, CAST(cdeg.degree AS BIGINT) AS degree,
       CAST(coalesce(pn.triangles, 0) AS BIGINT) AS triangles,
       CASE WHEN cdeg.degree >= 2 THEN
         round(CAST(coalesce(pn.triangles, 0) AS DOUBLE)
               / CAST(cdeg.degree * (cdeg.degree - 1) // 2 AS DOUBLE), 6)
       END AS clustering_coeff
FROM cdeg LEFT JOIN pn USING (node)
ORDER BY host
"""

    sql["yule_k"] = """
WITH tok AS (
  SELECT source,
         unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS word
  FROM documents WHERE trim(text) <> ''),
c AS (SELECT source, word, count(*) AS c FROM tok GROUP BY 1, 2)
SELECT source,
       CAST(sum(c) AS BIGINT) AS n_tokens,
       CAST(count(*) AS BIGINT) AS vocab,
       round(10000.0 * CAST(sum(c * c) - sum(c) AS DOUBLE)
             / (CAST(sum(c) AS DOUBLE) * CAST(sum(c) AS DOUBLE)), 6)
         AS yule_k
FROM c GROUP BY source ORDER BY source
"""

    # lsh_bands_sweep: same portable signature/truth CTEs as
    # lsh_candidate_eval, three band layouts unioned
    _sweep_layouts = []
    for _bands, _rpb in ((8, 2), (4, 4), (2, 8)):
        _band_rows2 = "\n  UNION ALL\n".join(
            f"  SELECT id, {bi} AS band, "
            + " || ',' || ".join(
                f"CAST(h{bi * _rpb + r} AS VARCHAR)" for r in range(_rpb)
            )
            + " AS key FROM sig"
            for bi in range(_bands)
        )
        _sweep_layouts.append(f"""
SELECT {_bands} AS bands, {_rpb} AS rows_per_band,
       CAST(sum(isc) AS BIGINT) AS n_candidates,
       CAST(sum(ist) AS BIGINT) AS n_truth,
       CAST(sum(isc * ist) AS BIGINT) AS true_pairs,
       CASE WHEN sum(isc) > 0 THEN
         round(CAST(sum(isc * ist) AS DOUBLE) / sum(isc), 6) END
         AS precision,
       CASE WHEN sum(ist) > 0 THEN
         round(CAST(sum(isc * ist) AS DOUBLE) / sum(ist), 6) END
         AS recall
FROM (
  SELECT coalesce(c.isc, 0) AS isc, coalesce(t.ist, 0) AS ist
  FROM (
    SELECT id1, id2, 1 AS isc FROM (
      SELECT DISTINCT p.id AS id1, q.id AS id2
      FROM (
{_band_rows2}) p
      JOIN (
{_band_rows2}) q
        ON p.band = q.band AND p.key = q.key AND p.id < q.id)) c
  FULL OUTER JOIN (SELECT id1, id2, 1 AS ist FROM truth) t
    ON c.id1 = t.id1 AND c.id2 = t.id2
  ) lab""")
    _sweep_body = "\nUNION ALL\n".join(_sweep_layouts)
    sql["lsh_bands_sweep"] = f"""
WITH tok AS (SELECT doc_id AS id,
    regexp_split_to_array(lower(trim(text)), '\\s+') AS toks
  FROM documents),
sh AS (
  SELECT id, unnest(list_distinct(
    [toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
     for i in range(1, len(toks) - 1)])) AS s
  FROM tok WHERE len(toks) >= 3),
sid AS (
  SELECT DISTINCT id,
    CAST(('0x' || substr(md5(s), 1, 15)) AS BIGINT) AS sid FROM sh),
x AS (SELECT id, sid % 2147483648 AS x FROM sid),
sig AS (
  SELECT id, {_mins}
  FROM x GROUP BY id),
cnt AS (SELECT id, count(*) AS nsh FROM sid GROUP BY 1),
inter AS (
  SELECT a.id AS id1, b.id AS id2, count(*) AS inter
  FROM sid a JOIN sid b ON a.sid = b.sid AND a.id < b.id GROUP BY 1, 2),
truth AS (
  SELECT id1, id2
  FROM inter JOIN cnt ca ON id1 = ca.id JOIN cnt cb ON id2 = cb.id
  WHERE inter * 1.0 / (ca.nsh + cb.nsh - inter) >= 0.7)
{_sweep_body}
ORDER BY bands DESC
"""

    # simhash_hamming_curve: same full signature replication as
    # simhash_neardup (bal_terms/sig_terms above), bucketed then crossed
    # with the 4-row radius frame
    sql["simhash_hamming_curve"] = f"""
WITH tok AS (SELECT doc_id, unnest({_LTOKS}) AS t FROM documents
             WHERE text IS NOT NULL AND trim(text) <> ''),
th AS (SELECT doc_id,
              CAST('0x' || substr(md5(t), 1, 15) AS BIGINT) AS h FROM tok),
bal AS (SELECT doc_id, {bal_terms} FROM th GROUP BY doc_id),
sig AS (SELECT doc_id, CAST({sig_terms} AS BIGINT) AS s FROM bal),
buckets AS (
  SELECT bit_count(xor(a.s, b.s)) AS hamming, count(*) AS cnt
  FROM sig a JOIN sig b ON a.doc_id < b.doc_id
  WHERE bit_count(xor(a.s, b.s)) <= 3
  GROUP BY 1),
t(mh) AS (SELECT unnest([0, 1, 2, 3]))
SELECT mh AS max_hamming,
       CAST(coalesce(sum(CASE WHEN buckets.hamming <= t.mh
                              THEN buckets.cnt ELSE 0 END), 0) AS BIGINT)
         AS n_pairs
FROM t LEFT JOIN buckets ON TRUE
GROUP BY mh ORDER BY mh
"""

    sql["community_conductance"] = f"""{_g_cte},
l0 AS (SELECT DISTINCT src AS node, src AS label FROM und),
l1 AS (
  SELECT l.node,
         least(l.label, coalesce(min(nl.label), l.label)) AS label
  FROM l0 l
  LEFT JOIN und u ON u.src = l.node
  LEFT JOIN l0 nl ON nl.node = u.dst
  GROUP BY l.node, l.label),
l2 AS (
  SELECT l.node,
         least(l.label, coalesce(min(nl.label), l.label)) AS label
  FROM l1 l
  LEFT JOIN und u ON u.src = l.node
  LEFT JOIN l1 nl ON nl.node = u.dst
  GROUP BY l.node, l.label),
cdeg AS (SELECT src AS node, count(*) AS d FROM und GROUP BY 1),
per_c AS (
  SELECT l2.label, CAST(count(*) AS BIGINT) AS size,
         CAST(sum(d) AS BIGINT) AS volume
  FROM l2 JOIN cdeg USING (node) GROUP BY 1),
cut AS (
  SELECT la.label, CAST(count(*) AS BIGINT) AS cut
  FROM und JOIN l2 la ON und.src = la.node
           JOIN l2 lb ON und.dst = lb.node
  WHERE la.label <> lb.label GROUP BY 1),
mt AS (SELECT CAST(count(*) AS BIGINT) AS mm FROM und)
SELECT per_c.label AS community, size, volume,
       CAST(coalesce(cut.cut, 0) AS BIGINT) AS cut,
       CASE WHEN least(volume, mm - volume) > 0 THEN
         round(CAST(coalesce(cut.cut, 0) AS DOUBLE)
               / CAST(least(volume, mm - volume) AS DOUBLE), 6) END
         AS conductance
FROM per_c LEFT JOIN cut USING (label), mt
ORDER BY community
"""

    return sql
