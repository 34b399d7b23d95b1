"""Physical-plan audit over EVERY queries() entry — the systematic version
of tests/test_plans.py's spot pins.

For each query at sf0.001 it records, from the (AQE-final where cheap)
executed plan: number of shuffles (Exchange), Python/Arrow eval stages,
join strategies, whole-stage-codegen presence, and cartesian products;
writes PLAN_AUDIT.md and fails loudly on the global anti-patterns:

  * any row-at-a-time PythonUDF in a plan (Arrow/pandas only),
  * any CartesianProduct or BroadcastNestedLoopJoin without an
    allowlisted reason (none currently),
  * scans of the documents table that read the text column where the
    query provably needs only metadata (spot list).

Usage: python tools/plan_audit.py [sf_dir]   (default /root/testdata/sf0.001)
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


_WRAPPER_NODES = (
    "WholeStageCodegen",
    "InputAdapter",
    "AQEShuffleRead",
    "ShuffleQueryStage",
    "ColumnarToRow",
    "ReusedExchange",
    "AdaptiveSparkPlan",
)


def _node_depth(line: str) -> int:
    """Depth of a plan-tree line = column of its node marker (`+-`/`:-`),
    or 0 for the root line."""
    m = re.search(r"[+:]- ", line)
    return m.start() if m else 0


def single_partition_sortwin(plan: str) -> list[str]:
    """Find Sort/Window nodes fed by an `Exchange SinglePartition` — the
    global-window anti-pattern: ALL rows of an unbounded input move to
    ONE task. Returns one entry per hit naming the consumer node.

    A `TakeOrderedAndProject` / `GlobalLimit` *below* the exchange means
    the single partition holds at most k rows — those don't use an
    Exchange SinglePartition at all in practice (TakeOrdered's output
    partitioning is already single), so any hit here is over an input
    whose size the plan does not bound. Queries whose input is bounded
    by DOMAIN knowledge (dow x hour = 168 cells, Benford's 9 digits,
    ranking.py's shuffle-partition-count offset table, ...) must be
    allowlisted by name in BOUNDED_GLOBAL_WINDOW_OK with the reason.
    """
    lines = plan.splitlines()
    hits = []
    for i, ln in enumerate(lines):
        if "Exchange SinglePartition" not in ln:
            continue
        d = _node_depth(ln)
        # walk up to the nearest shallower node, skipping pass-through
        # wrappers at any depth in between
        for j in range(i - 1, -1, -1):
            pd = _node_depth(lines[j])
            if pd >= d:
                continue
            if any(w in lines[j] for w in _WRAPPER_NODES):
                d = pd
                continue
            node = lines[j].strip().lstrip("+:- *(0123456789)")
            if re.match(r"(Sort|Window)\b", node):
                hits.append(node.split("[")[0].strip() or node[:40])
            break
    return hits


def audit(plan: str) -> dict:
    return {
        "exchanges": len(re.findall(r"Exchange (?:hash|range|Single)", plan)),
        "broadcasts": plan.count("BroadcastExchange"),
        "smj": plan.count("SortMergeJoin"),
        "bhj": plan.count("BroadcastHashJoin"),
        "reused": plan.count("ReusedExchange"),
        "arrow_stages": plan.count("ArrowEvalPython")
        + plan.count("MapInPandas")
        + plan.count("FlatMapGroupsInPandas"),
        "rowpython": plan.count("BatchEvalPython"),
        "cartesian": plan.count("CartesianProduct")
        + plan.count("BroadcastNestedLoopJoin"),
        "codegen": "WholeStageCodegen" in plan,
        "topk": plan.count("TakeOrderedAndProject"),
    }


# Queries whose plan legitimately contains a BroadcastNestedLoopJoin: a
# SINGLE-ROW aggregate broadcast back onto the fact side (the decorrelated
# scalar subquery pattern — build side is literally one row, so the
# "nested loop" is one comparison per probe row and scale-safe). A real
# cartesian (both sides data-sized) is still fatal everywhere.
SCALAR_BROADCAST_OK = {
    "pq_adc_topk": "bounded query-set ADC lookup tables (|queries| rows "
    "of m*ks doubles) broadcast against every code row — the ADC "
    "compressed linear scan is a query-bounded cross product by design",
    "pq_rerank_topk": "same bounded ADC LUT broadcast feeding the "
    "candidate stage before the exact rerank",
    "tpch_q11": "global value-share threshold (1-row agg broadcast)",
    "tpch_q15": "global max revenue (1-row agg broadcast)",
    "tpch_q17": "avg quantity threshold join (keyed broadcast, may "
    "degrade to BNLJ under tiny stats)",
    "tpch_q22": "global avg balance (1-row agg broadcast)",
    "kpis": "single-row KPI assembly",
    "pagerank_hosts": "node count N as 1-row agg broadcast",
    "crawl_frontier": "node count / emptiness probes on 1-row frames",
    "lm_perplexity": "corpus totals (N, V) as 1-row agg broadcast",
    "kn_bigram_lm": "bigram-type total B as 1-row agg broadcast",
    "kn_perplexity": "bigram-type total B as 1-row agg broadcast",
    "quality_tiers": "inherits lm_perplexity's 1-row totals broadcast",
    "mix_weights": "corpus token total as 1-row agg broadcast",
    "pmi_cooccurrence": "corpus totals (n_tokens, n_pairs) as two 1-row "
    "agg broadcasts",
    "cosine_topk": "bounded query-set broadcast x one corpus pass (the "
    "exact-ANN baseline shape: small side is the k query vectors)",
    "ann_recall_eval": "recall scoreboard composes cosine_topk's "
    "bounded-query broadcast plus its own exact-L2 ground truth in the "
    "same shape (8 query vectors broadcast against one corpus pass)",
    "bitext_mine": "exact cross-score baseline (broadcast target side); "
    "the 10^12 path swaps in IVF/LSH candidate lists, same margin math",
    "hard_negatives": "bounded query-set broadcast x one corpus pass "
    "(cosine_topk's shape with the label-exclusion predicate on the join)",
    "lsh_ann_topk": "bounded query-set broadcast onto hashed buckets",
    "avg_time_tiers": "single-row KPI scalings",
    "bm25_topk": "corpus stats (N, total_dl) as 1-row agg broadcast",
    "embedding_outliers": "norm stats and centroid as 1-row agg broadcasts",
    "key_skew_stats": "n_keys as 1-row agg broadcast onto the tiny "
    "count-of-counts histogram",
    "stratified_sample": "corpus total N and spill-seat count R as "
    "1-row agg broadcasts onto the tiny per-stratum quota table",
    "hll_mergeable_users": "merged HLL estimate and global exact count "
    "as 1-row agg broadcasts onto the 5-row per-type frame",
    "lang_alpha_weights": "corpus totals (n_tokens, sum p^alpha) as a "
    "1-row agg broadcast onto the langs-sized frame",
    "source_similarity_kmv": "pair matrix over the sources-sized sketch "
    "table (k-hash arrays, bounded by the source dimension) — the whole "
    "point of the sketch is that this join never touches the corpus",
    "assoc_rules": "transaction total + per-item supports as 1-row / "
    "item-dictionary-sized agg broadcasts onto the pruned pair table",
    "bootstrap_ci": "full-sample stats x replicate-quantile frame — two "
    "1-row aggs crossed into the single output row",
    "churn_detect": "snapshot anchor max(ts) as 1-row agg broadcast",
    "collocations_llr": "corpus bigram total N as 1-row agg broadcast "
    "onto the pruned pair table",
    "decayed_activity": "snapshot anchor max(ts) as 1-row agg broadcast",
    "degree_ccdf": "histogram total as 1-row agg broadcast onto the "
    "degree count-of-counts table",
    "dow_seasonality": "chi-square totals as 1-row agg broadcasts onto "
    "the 7-row dow frame",
    "heaps_law": "corpus totals as 1-row agg broadcast onto the bucket "
    "growth table",
    "kmv_setops": "pair matrix over the groups-sized bottom-k sketch "
    "table (same contract as source_similarity_kmv)",
    "part_affinity": "order count N as 1-row agg broadcast onto the "
    "pruned pair table",
    "pca_top_component": "L2 normalizer and Rayleigh eigenvalue as "
    "1-row agg broadcasts onto the dim-sized loading vector",
    "rfm_segments": "reference snapshot scalars as 1-row agg broadcast",
    "stylometry_delta": "corpus feature means/stds as 1-row agg "
    "broadcast onto the author frame",
    "time_to_convert": "per-funnel totals as 1-row agg broadcasts",
    "value_histogram": "global min/max as 1-row agg broadcast before "
    "bucketing",
    "join_size_estimate": "four 1-row histogram summaries crossed into "
    "the single diagnostics row",
    "markov_stationary": "state-count normalizer as 1-row agg broadcast "
    "onto the states-sized transition frame",
    "markov_entropy_rate": "inherits markov_stationary's 1-row "
    "normalizer broadcast",
    "ndcg_topk": "per-query ideal-DCG scalars as a bounded-query-set "
    "agg broadcast",
    "pps_sample": "corpus size total as 1-row agg broadcast onto the "
    "inclusion-probability pass",
    "psi_drift": "period row totals as 1-row agg broadcasts onto the "
    "bounded bin frame",
    "query_likelihood": "corpus LM totals as 1-row agg broadcast "
    "(query-likelihood smoothing denominator)",
    # range-partitioned rank engine (operators/ranking.py): the
    # percentile_approx cut-point ARRAY is a 1-row aggregate crossed
    # onto the frame being ranked — the broadcast that replaces the
    # single-task global sort
    "rrf_fusion": "rank cut-point arrays as 1-row agg broadcasts "
    "(ranking.py)",
    "rank_biased_overlap": "rank cut-point arrays as 1-row agg "
    "broadcasts (ranking.py)",
    "curriculum_order": "rank cut-point array as 1-row agg broadcast "
    "(ranking.py)",
    "zipf_fit": "rank cut-point array as 1-row agg broadcast "
    "(ranking.py)",
    "roc_auc": "rank cut-point array as 1-row agg broadcast "
    "(ranking.py; the AUC cumulative rides the rank engine)",
    "rfm_segments_ranks": "rank cut-point arrays as 1-row agg "
    "broadcasts (ranking.py)",
    "stupid_backoff_score": "corpus token total N as a 1-row agg "
    "broadcast onto the scoring rows (the lm_perplexity shape)",
    "train_hash_lr": "class token totals (P, N) as 1-row agg broadcast "
    "onto the bucket frame",
    "hash_lr_trained": "trained threshold stats (sp, sn, cp, cn) as "
    "1-row agg broadcast onto the scored corpus",
    "model_accuracy": "inherits hash_lr_trained's 1-row threshold "
    "broadcast",
    # AQE flips these between BroadcastHashJoin and BNLJ run-to-run at
    # sf0.001 sizes; the build side is scalar/bounded either way
    "abtt_transform": "corpus mean + top-component vectors as 1-row "
    "agg broadcasts",
    "embedding_isotropy": "corpus mean/norm stats as 1-row agg "
    "broadcasts",
    "ks_test": "per-sample sizes as 1-row agg broadcasts",
    "community_conductance": "total stub count M as a 1-row agg broadcast "
    "onto the communities-sized frame (the kpis/modularity scalar "
    "pattern)",
    "simhash_hamming_curve": "deliberate 4-row radius frame crossed with "
    "the <=4-row hamming bucket histogram (pairs pre-aggregated before "
    "the cross — two bounded frames, never the pair volume)",
    "dedup_threshold_curve": "deliberate 4-row threshold frame crossed "
    "onto the pair table (bounded by the threshold list, never data^2)",
    "vocab_prune": "corpus token total as 1-row agg broadcast onto the "
    "ranked vocabulary",
}


# Queries whose Sort/Window-over-SinglePartition runs on an input bounded
# by DOMAIN knowledge (a fixed enum / histogram / quota table), which the
# plan alone cannot prove. Anything else hitting the invariant is a
# genuine scale-killer: one task sorts an input that grows with the data.
# (stylometry_delta and zipf_fit both used to hit it over the corpus
# VOCABULARY — fixed with TakeOrderedAndProject / scalable_row_number.)
BOUNDED_GLOBAL_WINDOW_OK: dict[str, str] = {
    "benford_deviation": "9-row first-digit frame",
    "dow_hour_heatmap": "dow x hour <= 168 cells",
    "lang_source_mi": "langs x sources cell frame",
    "token_length_hist": "token-length histogram (<= max token chars)",
    "daily_anomaly": "calendar-day grain (days of history, not rows)",
    "moving_avg_daily": "calendar-day grain",
    "expire_snapshots": "distinct snapshot dates (ops metadata grain)",
    "kaplan_meier": "distinct floored-hour durations (calendar grain)",
    "global_shuffle": "per-shard count cumsum over the fixed shard count",
    "heaps_law": "cumsum over the n_buckets growth checkpoints",
    "stratified_sample": "largest-remainder quota over the strata frame",
    "sample_alloc": "allocation over the strata frame",
    "key_skew_stats": "count-of-counts multiplicity histogram",
    # range-partitioned rank engine (operators/ranking.py): the only
    # single-partition window it emits is the bucket-offset cumsum over
    # the n_buckets(<=64)-row totals table — that bounded table IS the
    # mechanism that replaces the corpus-sized global sort
    "curriculum_order": "ranking.py bucket-offset table (<= 64 rows)",
    "degree_ccdf": "ranking.py bucket-offset table",
    "ks_test": "ranking.py bucket-offset table",
    "rank_biased_overlap": "ranking.py bucket-offset table",
    "rfm_segments": "ranking.py bucket-offset tables (3 dims)",
    "rrf_fusion": "ranking.py bucket-offset tables",
    "vocab_prune": "ranking.py bucket-offset table",
    "zipf_fit": "ranking.py bucket-offset table",
    "kn_bigram_lm": "rank numbering over the top_n post-limit frame "
    "(<= 50 rows; the TakeOrdered cut sits below the enrichment joins, "
    "so the detector cannot see the bound)",
    "roc_auc": "ranking.py bucket-offset table (the strictly-below "
    "negative cumulative runs on the n_buckets(<=64)-row totals frame)",
}


def _audited_sources() -> "list[str]":
    """Every file whose change can alter an audited plan: the query
    catalog, the whole operator package, and this tool itself."""
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = [
        os.path.join(repo, "__spark_entry__.py"),
        os.path.abspath(__file__),
    ]
    pkg = os.path.join(repo, "pdf_extractor_spark")
    for root, _dirs, files in os.walk(pkg):
        out.extend(
            os.path.join(root, f) for f in files if f.endswith(".py")
        )
    return sorted(out)


def source_fingerprint() -> str:
    """sha256 over (relpath, bytes) of every audited source file — the
    freshness stamp PLAN_AUDIT.md embeds at generation. Content-based,
    so it catches uncommitted edits too (git mtimes are unreliable)."""
    import hashlib

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    h = hashlib.sha256()
    for path in _audited_sources():
        h.update(os.path.relpath(path, repo).encode())
        h.update(b"\0")
        with open(path, "rb") as f:
            h.update(f.read())
        h.update(b"\0")
    return h.hexdigest()


def check_stale() -> "str | None":
    """None when PLAN_AUDIT.md was generated from the CURRENT sources;
    otherwise a human-readable reason. The round-close gate: a committed
    audit whose source files have since changed describes plans that no
    longer exist (round 4 shipped markov_stationary's retired
    108-exchange row exactly this way)."""
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    audit_path = os.path.join(repo, "PLAN_AUDIT.md")
    if not os.path.exists(audit_path):
        return "PLAN_AUDIT.md does not exist — run tools/plan_audit.py"
    with open(audit_path) as f:
        text = f.read()
    m = re.search(r"<!-- source-fingerprint: ([0-9a-f]{64}) -->", text)
    if not m:
        return (
            "PLAN_AUDIT.md carries no source-fingerprint stamp — "
            "regenerate with tools/plan_audit.py"
        )
    current = source_fingerprint()
    if m.group(1) != current:
        return (
            "PLAN_AUDIT.md is STALE: audited sources changed since "
            f"generation (stamped {m.group(1)[:12]}…, current "
            f"{current[:12]}…) — rerun tools/plan_audit.py"
        )
    return None


def main() -> None:
    if "--check-stale" in sys.argv:
        reason = check_stale()
        if reason:
            print(reason)
            raise SystemExit(1)
        print("PLAN_AUDIT.md is fresh (source fingerprint matches)")
        return
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    import __spark_entry__ as entry
    from pdf_extractor_spark.session import build_session

    spark = build_session(
        "plan-audit", master="local[8]", shuffle_partitions=8
    )
    rows = []
    bad = []
    for name, fn in sorted(entry.queries().items()):
        df = fn(spark, sf_dir)
        plan = df._jdf.queryExecution().executedPlan().toString()
        a = audit(plan)
        rows.append((name, a))
        if a["rowpython"]:
            bad.append(f"{name}: row-at-a-time PythonUDF stage")
        if plan.count("CartesianProduct"):
            bad.append(f"{name}: cartesian product")
        elif a["cartesian"] and name not in SCALAR_BROADCAST_OK:
            bad.append(f"{name}: nested-loop join (not allowlisted)")
        spw = single_partition_sortwin(plan)
        if spw and name not in BOUNDED_GLOBAL_WINDOW_OK:
            bad.append(
                f"{name}: {len(spw)} Sort/Window over Exchange "
                f"SinglePartition ({', '.join(spw)}) — unbounded global "
                "window (not allowlisted)"
            )
        print(f"[audit] {name}: {a}", file=sys.stderr, flush=True)

    out = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "PLAN_AUDIT.md",
    )
    with open(out, "w") as f:
        f.write(
            "# PLAN_AUDIT — physical-plan shape of every query\n\n"
            "Generated by `tools/plan_audit.py` at sf0.001. Shapes are"
            " recorded at that scale only: join strategy can differ at"
            " benchmark scale (e.g. `neardup_clusters`' singleton"
            " anti-join is a BHJ at sf0.001 and an SMJ at sf0.1, once the"
            " checkpointed label frame outgrows the broadcast threshold),"
            " and AQE may further coalesce at runtime."
            " Global invariants enforced: zero row-at-a-time PythonUDF"
            " stages, zero cartesian products, and nested-loop joins only"
            " where the build side is a 1-row scalar aggregate"
            " (allowlisted with reasons in tools/plan_audit.py).\n\n"
            "| query | shuffles | bcast | SMJ | BHJ | reused | arrow | "
            "top-k | codegen |\n|---|---|---|---|---|---|---|---|---|\n"
        )
        for name, a in rows:
            f.write(
                f"| `{name}` | {a['exchanges']} | {a['broadcasts']} | "
                f"{a['smj']} | {a['bhj']} | {a['reused']} | "
                f"{a['arrow_stages']} | {a['topk']} | "
                f"{'y' if a['codegen'] else '-'} |\n"
            )
        f.write(
            f"\n<!-- source-fingerprint: {source_fingerprint()} -->\n"
        )
    print(f"wrote {out}: {len(rows)} queries")
    if bad:
        print("ANTI-PATTERNS FOUND:")
        for b in bad:
            print(" ", b)
        raise SystemExit(1)
    spark.stop()


if __name__ == "__main__":
    main()
