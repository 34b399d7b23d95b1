"""Link-graph operators for web-crawl curation — the host-level quality
signals a 10^12-document crawl pipeline derives from its own link
structure (the `extract_links` output of the HTML family feeds this).

`pagerank` is the classic damped power iteration expressed as DataFrame
joins (no RDDs, no GraphX dependency): each iteration is

    contribs = edges ⋈ ranks ⋈ outdeg  →  groupBy(dst).sum(rank/out)
    ranks'   = (1-d)/N + d * contribs   (left join back onto the node set)

Scale design (the point at web scale):
  * ONE rank-sized shuffle per iteration (the groupBy on dst); the edge ⋈
    rank join co-partitions on src. On a production graph the edge table
    is written bucketed by src so that join is shuffle-free and only the
    contribution aggregation moves data.
  * Iteration state is truncated with an EAGER localCheckpoint every
    round (the round-2 lesson: Catalyst has no CTE sharing, so without it
    iteration k re-derives all k-1 predecessors — exponential plan blowup
    is the classic PageRank-on-DataFrames failure mode). Edges, degrees,
    and the node set are checkpointed ONCE and reused by every iteration.
  * No driver-side collect anywhere: the node count N rides the plan as a
    broadcast 1-row aggregate, so the same code runs when N itself is too
    large to care about.
  * Dangling nodes (no outlinks) leak their damped mass — the standard
    simplification of the public Spark/Pregel formulations; ranks remain
    a fixed deterministic function of the graph, which is what the
    cross-engine oracle checks (3 unrolled iterations in SQL).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..session import cap_heavy_keys


def undirected_edges(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """(src, dst) — the undirected closure of a directed edge list: both
    orientations of every edge, self-loops dropped, duplicates removed.
    Columns keep the caller's `src`/`dst` names."""
    return (
        edges.select(src, dst)
        .union(edges.select(F.col(dst).alias(src), F.col(src).alias(dst)))
        .where(F.col(src) != F.col(dst))
        .distinct()
    )


def khop_reachable(
    edges: DataFrame,
    seeds: DataFrame,
    src: str = "src",
    dst: str = "dst",
    k: int = 2,
) -> DataFrame:
    """(node, hops) — every node reachable from the seed set within k
    hops, with the MINIMUM hop count at which it is first reached (seeds
    themselves are hops 0). The crawl-frontier expansion step of a
    focused-crawl / link-spam-neighborhood pipeline.

    Frontier BFS, not k self-joins: each round joins only the NEWLY
    reached frontier against the edge table (the standard optimization —
    joining the full visited set re-derives known nodes), then anti-joins
    the visited set, so per-round work is proportional to the frontier,
    never to hops × graph. Edges are checkpointed once and each round's
    frontier once (both have multiple consumers); the visited set is a
    lazy union OVER those checkpoints, so no extra materialization job
    per round and lineage depth stays O(1) regardless of k.
    Early-exits when the frontier empties — the probe is one scalar read
    of an already-checkpointed frame, not a plan re-derivation."""
    e = (
        edges.select(F.col(src).alias("_s"), F.col(dst).alias("_d"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    # the only frames worth materializing are the ones consumed more than
    # once: the edge set (k joins) and each round's frontier (expand +
    # emptiness probe + final union). `visited` is a lazy union of
    # already-checkpointed rounds — checkpointing it too would add a
    # whole materialization job per round for no lineage benefit.
    frontier = (
        seeds.select(F.col(seeds.columns[0]).alias("node"))
        .coalesce(1)
        .distinct()
        .withColumn("hops", F.lit(0))
        .localCheckpoint(eager=True)
    )
    rounds = [frontier]
    for depth in range(1, k + 1):
        visited = rounds[0]
        for r in rounds[1:]:
            visited = visited.unionByName(r)
        nxt = (
            e.join(frontier.select(F.col("node").alias("_s")), "_s")
            .select(F.col("_d").alias("node"))
            .distinct()
            .join(visited.select("node"), "node", "left_anti")
            .withColumn("hops", F.lit(depth))
            .localCheckpoint(eager=True)
        )
        if nxt.isEmpty():
            break
        rounds.append(nxt)
        frontier = nxt
    out = rounds[0]
    for r in rounds[1:]:
        out = out.unionByName(r)
    return out


def triangle_count(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """(node, degree, triangles) — per-node triangle participation over the
    undirected, de-duplicated, self-loop-free graph. Triangles are the
    link-farm / tight-community signal of crawl curation: spam rings are
    triangle-dense, legitimate topical hubs are wedge-heavy but
    triangle-sparse, and the ratio feeds host-quality scoring next to
    `pagerank`.

    Scale design — this is the degree-ordered (a.k.a. "compact-forward")
    formulation, not the naive three-way self-join: every edge is oriented
    from its (degree, id)-smaller endpoint to the larger, so each triangle
    is generated by exactly ONE wedge at its lowest-degree corner and the
    wedge join fans out O(m^1.5) worst-case instead of sum(deg^2). On a
    power-law web graph that is the difference between the hub node
    producing deg^2 ~ 10^10 wedges and producing none (hubs are always the
    π-larger endpoint, so they never anchor wedges). The orientation
    needs only the degree table joined onto the edge list; both are
    checkpointed once and reused (same eager-truncation rationale as
    `pagerank`)."""
    e = (
        edges.select(F.col(src).alias("_u"), F.col(dst).alias("_v"))
        .where(F.col("_u") != F.col("_v"))
        .select(
            F.least("_u", "_v").alias("u"), F.greatest("_u", "_v").alias("v")
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    deg = (
        e.select(F.col("u").alias("node"))
        .unionAll(e.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("degree"))
        .localCheckpoint(eager=True)
    )
    # orient each edge toward its (degree, id)-larger endpoint; keep the
    # head's rank struct so the wedge join can order its two heads without
    # re-joining the degree table
    j = (
        e.join(deg.select(F.col("node").alias("u"), F.col("degree").alias("_du")), "u")
        .join(deg.select(F.col("node").alias("v"), F.col("degree").alias("_dv")), "v")
    )
    u_first = F.struct(F.col("_du").alias("d"), F.col("u").alias("n")) < F.struct(
        F.col("_dv").alias("d"), F.col("v").alias("n")
    )
    oriented = j.select(
        F.when(u_first, F.col("u")).otherwise(F.col("v")).alias("a"),
        F.when(u_first, F.col("v")).otherwise(F.col("u")).alias("b"),
        F.when(u_first, F.col("_dv")).otherwise(F.col("_du")).alias("bd"),
    ).localCheckpoint(eager=True)
    # wedges at the π-smallest corner: a→b, a→c with π(b) < π(c); the
    # closing edge b→c is oriented (π(b) < π(c)), so one equi-join closes
    w1 = oriented.select(
        F.col("a"), F.col("b"), F.col("bd")
    )
    w2 = oriented.select(
        F.col("a"), F.col("b").alias("c"), F.col("bd").alias("cd")
    )
    wedges = w1.join(w2, "a").where(
        F.struct(F.col("bd").alias("d"), F.col("b").alias("n"))
        < F.struct(F.col("cd").alias("d"), F.col("c").alias("n"))
    )
    tri = wedges.join(
        oriented.select(F.col("a").alias("b"), F.col("b").alias("c")),
        ["b", "c"],
    ).select("a", "b", "c")
    per_node = (
        tri.select(F.explode(F.array("a", "b", "c")).alias("node"))
        .groupBy("node")
        .agg(F.count("*").alias("triangles"))
    )
    return (
        deg.join(per_node, "node", "left")
        .select(
            "node",
            "degree",
            F.coalesce("triangles", F.lit(0)).alias("triangles"),
        )
    )


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iters: int = 3,
    damping: float = 0.85,
) -> DataFrame:
    """(node, rank) after `iters` damped power iterations over the
    de-duplicated, self-loop-free edge set. rank is rounded to 6 dp (the
    cross-engine float-parity convention)."""
    e = (
        edges.select(F.col(src).alias("_s"), F.col(dst).alias("_d"))
        .where(F.col("_s") != F.col("_d"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    nodes = (
        e.select(F.col("_s").alias("node"))
        .union(e.select(F.col("_d").alias("node")))
        .distinct()
    )
    # N rides the plan as a broadcast single-row aggregate — no collect
    nodes = nodes.crossJoin(
        F.broadcast(nodes.agg(F.count("*").cast("double").alias("_N")))
    ).localCheckpoint(eager=True)
    outdeg = (
        e.groupBy(F.col("_s").alias("node"))
        .agg(F.count("*").cast("double").alias("_out"))
        .localCheckpoint(eager=True)
    )

    ranks = nodes.select(
        "node", "_N", (F.lit(1.0) / F.col("_N")).alias("rank")
    )
    for _ in range(iters):
        contribs = (
            e.join(
                ranks.select(F.col("node").alias("_s"), "rank"), "_s"
            )
            .join(outdeg.select(F.col("node").alias("_s"), "_out"), "_s")
            .select(
                F.col("_d").alias("node"),
                (F.col("rank") / F.col("_out")).alias("_c"),
            )
            .groupBy("node")
            .agg(F.sum("_c").alias("_contrib"))
        )
        ranks = (
            nodes.join(contribs, "node", "left")
            .select(
                "node",
                "_N",
                (
                    (1.0 - damping) / F.col("_N")
                    + damping * F.coalesce("_contrib", F.lit(0.0))
                ).alias("rank"),
            )
            .localCheckpoint(eager=True)
        )
    return ranks.select("node", F.round("rank", 6).alias("rank"))


def reciprocity(edges: DataFrame) -> DataFrame:
    """(src, out_deg, n_recip) — per-host link reciprocity over the
    DISTINCT directed edge set (self-loops removed): out_deg counts a
    host's distinct outlinks, n_recip how many of them link back. The
    mutual-citation signal of link-graph curation (link farms show
    near-total reciprocity; organic graphs don't).

    Scale: distinct edges, then a self-join on the reversed key — one
    shuffle each side on (src, dst); degree skew rides AQE like the
    other graph ops.
    """
    e = (
        edges.select("src", "dst")
        .where(F.col("src") != F.col("dst"))
        .distinct()
    )
    rev = e.select(
        F.col("dst").alias("src"), F.col("src").alias("dst"),
        F.lit(1).alias("_back"),
    )
    j = e.join(rev, ["src", "dst"], "left")
    return j.groupBy("src").agg(
        F.count("*").cast("long").alias("out_deg"),
        F.sum(F.coalesce(F.col("_back"), F.lit(0)))
        .cast("long")
        .alias("n_recip"),
    )


def label_propagation(edges: DataFrame, iters: int = 2) -> DataFrame:
    """(host, community, community_size) — community detection by
    synchronous min-label propagation over the UNDIRECTED closure of the
    edge set: every node starts as its own label (its name), each
    iteration takes the min of its own and its neighbors' labels; after
    a fixed `iters` rounds connected regions share their lexicographic
    min member as the community id (full convergence needs diameter
    rounds — the fixed cutoff keeps the job deterministic and bounded,
    the standard large-graph compromise).

    Scale: each iteration is one join edge->label + one min-aggregate —
    the classic iterative-join shape; at web scale you'd checkpoint
    between rounds to cut lineage, noted here because local[n] never
    shows that failure mode.
    """
    und = undirected_edges(edges)
    labels = (
        und.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
    )
    for _ in range(iters):
        neigh = (
            und.join(
                labels.select(
                    F.col("node").alias("dst"),
                    F.col("label").alias("_nl"),
                ),
                "dst",
            )
            .groupBy("src")
            .agg(F.min("_nl").alias("_minn"))
        )
        labels = (
            labels.join(
                neigh.select(F.col("src").alias("node"), "_minn"),
                "node",
                "left",
            )
            .select(
                "node",
                F.least(
                    F.col("label"), F.coalesce("_minn", F.col("label"))
                ).alias("label"),
            )
        )
    sizes = labels.groupBy("label").agg(F.count("*").alias("community_size"))
    return labels.join(sizes, "label").select(
        F.col("node").alias("host"),
        F.col("label").alias("community"),
        F.col("community_size").cast("long"),
    )


def hits(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iters: int = 2,
) -> DataFrame:
    """(node, hub, auth) — Kleinberg's HITS after `iters` mutual-
    reinforcement rounds over the de-duplicated, self-loop-free edge set:
    hub(u) = sum of auth over u's outlinks, auth(v) = sum of hub over v's
    inlinks, each L1-normalized (sum 1) after every half-step so the
    scores are a probability-like distribution and the unrolled SQL
    oracle reproduces them without an eigen-solver. The directory-vs-
    content complement to PageRank for host curation: hubs are link
    directories, authorities the linked-to content. 6 dp.

    Physical shape mirrors pagerank: per half-step ONE aggregation
    shuffle (groupBy src or dst) after a co-partitioned join; iteration
    state is localCheckpoint'd eagerly each round (no CTE sharing in
    Catalyst — without it round k re-derives every predecessor).
    Normalizers ride the plan as broadcast 1-row aggregates, never a
    driver collect."""
    e = (
        edges.select(F.col(src).alias("_s"), F.col(dst).alias("_d"))
        .where(F.col("_s") != F.col("_d"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    nodes = (
        e.select(F.col("_s").alias("node"))
        .union(e.select(F.col("_d").alias("node")))
        .distinct()
        .localCheckpoint(eager=True)
    )

    def _l1(df: DataFrame, col: str) -> DataFrame:
        tot = df.agg(F.sum(col).alias("_tot"))
        return df.crossJoin(F.broadcast(tot)).select(
            "node", (F.col(col) / F.col("_tot")).alias(col)
        )

    auth = nodes.select("node", F.lit(1.0).alias("auth"))
    hub = None
    for _ in range(iters):
        hub_raw = (
            e.join(auth.select(F.col("node").alias("_d"), "auth"), "_d")
            .groupBy(F.col("_s").alias("node"))
            .agg(F.sum("auth").alias("hub"))
        )
        hub = _l1(
            nodes.join(hub_raw, "node", "left").select(
                "node", F.coalesce("hub", F.lit(0.0)).alias("hub")
            ),
            "hub",
        ).localCheckpoint(eager=True)
        auth_raw = (
            e.join(hub.select(F.col("node").alias("_s"), "hub"), "_s")
            .groupBy(F.col("_d").alias("node"))
            .agg(F.sum("hub").alias("auth"))
        )
        auth = _l1(
            nodes.join(auth_raw, "node", "left").select(
                "node", F.coalesce("auth", F.lit(0.0)).alias("auth")
            ),
            "auth",
        ).localCheckpoint(eager=True)
    return (
        hub.join(auth, "node")
        .select(
            "node",
            F.round("hub", 6).alias("hub"),
            F.round("auth", 6).alias("auth"),
        )
    )


def degree_ccdf(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """(degree, n_hosts, ccdf) — distribution of TOTAL degree (distinct
    out-neighbors + distinct in-neighbors, self-loops removed) with the
    complementary CDF P(D >= degree), the straight-line-on-log-log
    diagnostic for scale-free link graphs (the host-graph twin of the
    word-frequency zipf_fit). 6 dp.

    Physical shape: distinct edge set -> per-node degree counts (two
    aggregates unioned, map-side combined) -> count-of-counts histogram
    (at most max-degree rows) -> range-partitioned running sum over the
    HISTOGRAM (ranking.partitioned_running_sum) — no single-task global
    window anywhere: even though the histogram is bounded by distinct
    degree values, a heavy-tailed 10^9-host graph can still hold
    millions of distinct degrees, so the cumsum uses the broadcast
    cut-point + bucket-offset form too."""
    from .ranking import partitioned_running_sum
    e = (
        edges.select(F.col(src).alias("_s"), F.col(dst).alias("_d"))
        .where(F.col("_s") != F.col("_d"))
        .distinct()
    )
    deg = (
        e.select(F.col("_s").alias("node"))
        .union(e.select(F.col("_d").alias("node")))
        .groupBy("node")
        .agg(F.count("*").cast("long").alias("degree"))
    )
    hist = deg.groupBy("degree").agg(
        F.count("*").cast("long").alias("n_hosts")
    ).localCheckpoint(eager=True)
    cum = partitioned_running_sum(
        hist, "degree", [], val_col="n_hosts", ascending=False,
        out_col="_cum",
    )
    tot = hist.agg(F.sum("n_hosts").alias("_tot"))
    return (
        cum.crossJoin(F.broadcast(tot))
        .select(
            "degree",
            "n_hosts",
            F.round(F.col("_cum") / F.col("_tot"), 6).alias("ccdf"),
        )
    )


def kcore_peel(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    k: int = 2,
    rounds: int = 2,
) -> DataFrame:
    """(node, degree0, degree_final, in_core) — `rounds` fixed peeling
    rounds toward the k-core: repeatedly drop nodes whose TOTAL degree in
    the current induced subgraph is below k, recomputing degrees each
    round. Fixed rounds (not run-to-convergence) keeps the plan a finite
    unrollable DAG — the same contract as pagerank/hits — and each round
    only LOWERS degrees, so `in_core` after r rounds is an upper bound on
    the true k-core that a production job tightens by raising `rounds`.
    Link-farm cores and isolated chains separate after very few rounds.

    Physical shape per round: degree aggregate (map-side combined) + two
    semi-joins of the edge set against the surviving-node list
    (co-partitioned on the endpoint keys). Edges are checkpointed once;
    each round's survivor set is checkpointed to truncate lineage."""
    e0 = (
        edges.select(F.col(src).alias("_s"), F.col(dst).alias("_d"))
        .where(F.col("_s") != F.col("_d"))
        .distinct()
        .localCheckpoint(eager=True)
    )

    def degrees(e: DataFrame) -> DataFrame:
        return (
            e.select(F.col("_s").alias("node"))
            .union(e.select(F.col("_d").alias("node")))
            .groupBy("node")
            .agg(F.count("*").cast("long").alias("deg"))
        )

    deg0 = degrees(e0).localCheckpoint(eager=True)
    e, deg = e0, deg0
    for _ in range(rounds):
        surv = deg.where(F.col("deg") >= k).select("node")
        e = (
            e.join(surv.withColumnRenamed("node", "_s"), "_s", "leftsemi")
            .join(surv.withColumnRenamed("node", "_d"), "_d", "leftsemi")
            .localCheckpoint(eager=True)
        )
        deg = degrees(e).localCheckpoint(eager=True)
    return (
        deg0.select("node", F.col("deg").alias("degree0"))
        .join(
            deg.select("node", F.col("deg").alias("degree_final")), "node",
            "left",
        )
        .select(
            "node",
            "degree0",
            F.coalesce("degree_final", F.lit(0)).cast("long").alias(
                "degree_final"
            ),
            (F.coalesce("degree_final", F.lit(0)) >= k).alias("in_core"),
        )
    )


def host_outlink_jaccard(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    min_jaccard: float = 0.2,
    max_df: "int | None" = 1000,
) -> DataFrame:
    """(host_a, host_b, n_common, n_a, n_b, jaccard) — host similarity by
    SHARED OUTLINKS: Jaccard over distinct out-neighbor sets, pairs above
    `min_jaccard`. Mirror/link-farm fingerprinting: two hosts linking to
    the same destinations are the same operation even when their content
    differs. 6 dp.

    Physical shape: the ngram_jaccard inverted-index pattern transplanted
    to the link graph — distinct edge inventory, self-join ON THE
    DESTINATION key (never host x host), intersection counts, sizes
    joined back. `max_df` drops destinations linked by more than that
    many hosts (a universally-linked CDN URL would quadratically explode
    the candidate set and carries no similarity signal — the stopword
    argument); the cap runs before the self-join, via
    session.cap_heavy_keys."""
    inv = (
        edges.select(F.col(src).alias("h"), F.col(dst).alias("d"))
        .where(F.col("h") != F.col("d"))
        .distinct()
    )
    inv, _ = cap_heavy_keys(inv, "d", max_df)
    sizes = inv.groupBy("h").agg(F.count("*").cast("long").alias("sz"))
    pairs = (
        inv.select(F.col("h").alias("host_a"), "d")
        .join(inv.select(F.col("h").alias("host_b"), "d"), "d")
        .where(F.col("host_a") < F.col("host_b"))
        .groupBy("host_a", "host_b")
        .agg(F.count("*").cast("long").alias("n_common"))
    )
    return (
        pairs.join(
            sizes.select(F.col("h").alias("host_a"), F.col("sz").alias("n_a")),
            "host_a",
        )
        .join(
            sizes.select(F.col("h").alias("host_b"), F.col("sz").alias("n_b")),
            "host_b",
        )
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_common")
                / (F.col("n_a") + F.col("n_b") - F.col("n_common")),
                6,
            ),
        )
        .where(F.col("jaccard") >= min_jaccard)
        .select("host_a", "host_b", "n_common", "n_a", "n_b", "jaccard")
    )


def rank_biased_overlap(
    ranking_a: DataFrame,
    ranking_b: DataFrame,
    item_col: str = "host",
    score_a: str = "rank",
    score_b: str = "auth",
    depth: int = 20,
    p: float = 0.9,
) -> DataFrame:
    """One row (depth, p, rbo, overlap_at_depth) — truncated rank-biased
    overlap (Webber et al. 2010) between two scored rankings of the same
    item set: RBO@D = (1-p) * sum_{d<=D} p^(d-1) * |A[:d] ∩ B[:d]| / d.
    The ranking-agreement statistic for "do PageRank and HITS agree on
    who matters" — top-weighted where Kendall tau is not. Ties in either
    score break on the item key. 6 dp.

    Physical shape: two range-partitioned ranks
    (ranking.scalable_row_number — no unpartitioned window), an item
    join, then the depth sum via a bounded explode of
    min(max(ra, rb), D+1)..D — every stage after the input scores is
    item-table-sized, and the depth fan-out is <= D."""
    from .ranking import scalable_row_number

    # same lineage-truncation rationale as rrf_fusion: the rank helper
    # is a multi-consumer of its input, the score dags are iterative
    sa = ranking_a.select(
        F.col(item_col).alias("item"), F.col(score_a).alias("_sa")
    ).localCheckpoint(eager=True)
    sb = ranking_b.select(
        F.col(item_col).alias("item"), F.col(score_b).alias("_sb")
    ).localCheckpoint(eager=True)
    ra = scalable_row_number(
        sa, "_sa", ["item"], ascending=False, out_col="ra",
    ).select("item", F.col("ra").cast("int").alias("ra"))
    rb = scalable_row_number(
        sb, "_sb", ["item"], ascending=False, out_col="rb",
    ).select("item", F.col("rb").cast("int").alias("rb"))
    j = ra.join(rb, "item").select(
        F.greatest("ra", "rb").alias("m")
    ).where(F.col("m") <= depth)
    # item with first-common-depth m contributes to X_d for d in [m, D]
    contrib = j.select(
        F.explode(F.sequence(F.col("m"), F.lit(depth))).alias("d")
    )
    xd = contrib.groupBy("d").agg(F.count("*").alias("x"))
    terms = xd.select(
        (
            F.lit(1.0 - p)
            * F.pow(F.lit(p), F.col("d") - 1)
            * F.col("x")
            / F.col("d")
        ).alias("t"),
        F.when(F.col("d") == depth, F.col("x")).alias("xD"),
    )
    return terms.agg(
        F.lit(depth).cast("int").alias("depth"),
        F.lit(p).alias("p"),
        # disjoint prefixes leave no terms: the overlap is 0, not null
        F.round(F.coalesce(F.sum("t"), F.lit(0.0)), 6).alias("rbo"),
        F.round(
            F.coalesce(F.max("xD"), F.lit(0)) / F.lit(float(depth)), 6
        ).alias("overlap_at_depth"),
    )


def personalized_pagerank(
    edges: DataFrame,
    seeds: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iters: int = 3,
    damping: float = 0.85,
) -> DataFrame:
    """(node, rank) — personalized PageRank: the restart mass (1-d) flows
    back to the SEED set (uniformly across seeds) instead of all nodes,
    so ranks measure relevance FROM the seeds' neighborhood — the
    focused-crawl prioritizer next to the global pagerank. Same fixed-
    iteration power loop, same deterministic contract (6 dp).

    Physical shape: identical to pagerank (one rank-sized shuffle per
    iteration, eager per-round checkpoints, broadcast scalars); the only
    change is the restart vector — a broadcast-joined seed indicator
    instead of the 1/N constant."""
    e = (
        edges.select(F.col(src).alias("_s"), F.col(dst).alias("_d"))
        .where(F.col("_s") != F.col("_d"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    nodes = (
        e.select(F.col("_s").alias("node"))
        .union(e.select(F.col("_d").alias("node")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    seed_set = seeds.select(
        F.col(seeds.columns[0]).alias("node")
    ).distinct()
    n_seeds = seed_set.agg(F.count("*").cast("double").alias("_k"))
    restart = (
        nodes.join(seed_set.withColumn("_isseed", F.lit(True)), "node", "left")
        .crossJoin(F.broadcast(n_seeds))
        .select(
            "node",
            F.when(F.col("_isseed"), 1.0 / F.col("_k"))
            .otherwise(0.0)
            .alias("r0"),
        )
        .localCheckpoint(eager=True)
    )
    outdeg = e.groupBy(F.col("_s").alias("node")).agg(
        F.count("*").cast("double").alias("_out")
    ).localCheckpoint(eager=True)
    ranks = restart.select("node", F.col("r0").alias("rank"))
    for _ in range(iters):
        contribs = (
            e.join(ranks.select(F.col("node").alias("_s"), "rank"), "_s")
            .join(outdeg.select(F.col("node").alias("_s"), "_out"), "_s")
            .select(
                F.col("_d").alias("node"),
                (F.col("rank") / F.col("_out")).alias("_c"),
            )
            .groupBy("node")
            .agg(F.sum("_c").alias("_contrib"))
        )
        ranks = (
            restart.join(contribs, "node", "left")
            .select(
                "node",
                (
                    (1.0 - damping) * F.col("r0")
                    + damping * F.coalesce("_contrib", F.lit(0.0))
                ).alias("rank"),
            )
            .localCheckpoint(eager=True)
        )
    return ranks.select("node", F.round("rank", 6).alias("rank"))


def rrf_fusion(
    ranking_a: DataFrame,
    ranking_b: DataFrame,
    item_col: str = "host",
    score_a: str = "rank",
    score_b: str = "auth",
    k: int = 60,
) -> DataFrame:
    """(item, rank_a, rank_b, rrf) — reciprocal-rank fusion of two scored
    rankings: rrf = 1/(k + rank_a) + 1/(k + rank_b) with the standard
    k=60 (Cormack et al. 2009). The hybrid-retrieval combiner that beats
    score-level mixing because it never has to calibrate heterogeneous
    score scales — here fusing the PageRank and HITS-authority views of
    host importance. Items missing from one ranking contribute only the
    other term (full-outer semantics). Ties break on the item key. 6 dp.

    Physical shape: two range-partitioned ranks
    (ranking.scalable_row_number — broadcast cut points + per-bucket
    windows + bucket-offset cumsum, NO unpartitioned window even at
    10^9 items) over the score tables + one full-outer item join."""
    from .ranking import scalable_row_number

    # truncate lineage before ranking: the rank helper reads its input
    # three times (cuts, bucket counts, ranked join) and the score
    # tables here are themselves iterative dags (pagerank/HITS) — one
    # node-sized materialization each beats re-deriving them
    sa = ranking_a.select(
        F.col(item_col).alias("item"), F.col(score_a).alias("_sa")
    ).localCheckpoint(eager=True)
    sb = ranking_b.select(
        F.col(item_col).alias("item"), F.col(score_b).alias("_sb")
    ).localCheckpoint(eager=True)
    ra = scalable_row_number(
        sa, "_sa", ["item"], ascending=False, out_col="rank_a",
    ).select("item", F.col("rank_a").cast("int").alias("rank_a"))
    rb = scalable_row_number(
        sb, "_sb", ["item"], ascending=False, out_col="rank_b",
    ).select("item", F.col("rank_b").cast("int").alias("rank_b"))
    j = ra.join(rb, "item", "full_outer")
    term_a = F.when(
        F.col("rank_a").isNotNull(), 1.0 / (F.lit(k) + F.col("rank_a"))
    ).otherwise(0.0)
    term_b = F.when(
        F.col("rank_b").isNotNull(), 1.0 / (F.lit(k) + F.col("rank_b"))
    ).otherwise(0.0)
    return j.select(
        "item",
        F.col("rank_a").cast("int").alias("rank_a"),
        F.col("rank_b").cast("int").alias("rank_b"),
        F.round(term_a + term_b, 6).alias("rrf"),
    )


def _cc_labels(
    edges: DataFrame,
    max_iters: int = 50,
    n_partitions: "int | None" = None,
) -> DataFrame:
    """(node, label) — the round loop of `connected_components`: every
    node of the undirected closure of `edges` (src, dst) ends labelled
    with the minimum node of its component. See `connected_components`
    for the algorithm and for `n_partitions`."""
    und = undirected_edges(edges)
    if n_partitions is not None:
        und = und.repartition(n_partitions)
    und = und.localCheckpoint(eager=True)
    labels = (
        und.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
    )
    if n_partitions is not None:
        labels = labels.repartition(n_partitions)
    labels = labels.localCheckpoint(eager=True)
    def _hop(lbls):
        # min over {l(v): v in N(u)} ∪ {l(u)} ∪ {l(l(u))} via a SINGLE
        # join — the neighbor edges, a pointer edge u -> l(u) (whose
        # joined label is l(l(u)), the doubling channel), and a self
        # edge u -> u (whose joined label is l(u), so the aggregate
        # alone yields the new label with no join-back; it also rides
        # out as _old for the convergence flag).
        ptr = lbls.select(
            F.col("node").alias("src"), F.col("label").alias("dst")
        )
        selfe = lbls.select(
            F.col("node").alias("src"), F.col("node").alias("dst")
        )
        right = lbls.select(
            F.col("node").alias("dst"), F.col("label").alias("_nl")
        )
        if n_partitions is not None:
            # a caller-declared bounded node domain: the label table
            # fits a broadcast, turning the round's join shuffle-free
            right = F.broadcast(right)
        return (
            und.union(ptr)
            .union(selfe)
            .join(right, "dst")
            .groupBy("src")
            .agg(
                F.min("_nl").alias("label"),
                F.max(
                    F.when(F.col("dst") == F.col("src"), F.col("_nl"))
                ).alias("_old"),
            )
            .select(
                F.col("src").alias("node"),
                "label",
                (F.col("label") != F.col("_old")).alias("_chg"),
            )
        )

    for _ in range(max_iters):
        # two fused hops per checkpointed round: label information
        # travels further per materialization, trading one extra join
        # against one fewer (checkpoint + convergence-count) pair —
        # measured ~8 rounds instead of 15 on a diameter-~50 graph
        new = _hop(_hop(labels).select("node", "label")).localCheckpoint(
            eager=True
        )
        changed = new.where("_chg").count()  # narrow scan, no shuffle
        labels = new.select("node", "label")
        if changed == 0:
            break
    return labels


def connected_components(
    edges: DataFrame,
    max_iters: int = 50,
    n_partitions: "int | None" = None,
) -> DataFrame:
    """(host, component, component_size) — EXACT connected components
    over the undirected closure of the edge set: every node ends with
    the lexicographic-min member of its component as the component id.
    Unlike `label_propagation` (a fixed-round community heuristic),
    this iterates to a FIXPOINT, so the result is the true partition
    regardless of graph diameter.

    Algorithm: min-label propagation accelerated with pointer doubling
    (the hash-to-min family, Rastogi et al. / the published MapReduce
    connected-components literature). Each round does

        l(u) <- min( l(u), min_{v in N(u)} l(v) )     # neighbor min
        l(u) <- l(l(u))                               # pointer jump

    so label information travels 2^r hops after r rounds — O(log d)
    rounds for diameter d, each round two label-sized shuffles (one
    join+aggregate per step). Iteration state is truncated with an
    eager localCheckpoint every round (the pagerank discipline: lazy
    plans double per iteration), and the loop stops at the first round
    that changes no label — the convergence check is a 1-row count, the
    only driver-side value. Node ids only need a total order; host
    strings compare lexicographically on both engines (binary
    collation).

    The loop itself is `_cc_labels`, which returns (node, label); this
    function adds the component_size aggregate and join on top. Callers:
    `dedup.neardup_clusters` runs `_cc_labels` directly (it needs no
    sizes) and so backs the dedup and training-data jobs and the
    neardup_clusters / dedup_survivors / dedup_apply / cluster_size_hist
    queries; `connected_components` itself is the reference the
    contraction variants are tested against
    (tests/test_connected_components.py).

    `n_partitions` sizes the iteration state's partitioning. The loop's
    per-round cost is (tasks x task-overhead) x rounds, so a checkpoint
    pinned at the session's full shuffle width makes a SMALL graph pay
    web-scale task counts every round (measured 16s -> ~2s at sf0.1 for
    the 500-host wrapper graph at 1 partition). Default None keeps the
    session width — correct for a web-scale host graph where the label
    table is node-sized; callers with a bounded node domain (host
    graphs after host-level rollup often are) should size it down."""
    labels = _cc_labels(edges, max_iters, n_partitions)
    sizes = labels.groupBy("label").agg(
        F.count("*").alias("component_size")
    )
    return labels.join(sizes, "label").select(
        F.col("node").alias("host"),
        F.col("label").alias("component"),
        F.col("component_size").cast("long"),
    )


def _np_cc(a, b, n):
    """Vectorized Shiloach-Vishkin-style connected components over
    integer-coded edges: hook every edge's larger root under the
    smaller (np.minimum.at resolves duplicate targets by min), then
    pointer-jump to full compression; repeat until no edge spans two
    roots. O(log n) vectorized passes, no per-row Python."""
    import numpy as np

    parent = np.arange(n, dtype=np.int64)
    while True:
        pa, pb = parent[a], parent[b]
        mask = pa != pb
        if not bool(mask.any()):
            break
        lo = np.minimum(pa[mask], pb[mask])
        hi = np.maximum(pa[mask], pb[mask])
        np.minimum.at(parent, hi, lo)
        while True:
            pj = parent[parent]
            if np.array_equal(pj, parent):
                break
            parent = pj
    return parent


def connected_components_contract(
    edges: DataFrame,
    n_groups: int | None = None,
    fanin: int = 8,
) -> DataFrame:
    """(host, component, component_size) — exact connected components by
    STAR CONTRACTION (the filtering approach of the published MapReduce
    CC literature, Lattanzi et al. style): edges hash into `n_groups`
    groups; each group runs a local vectorized union-find
    (Shiloach-Vishkin in numpy over an Arrow batch) and emits one star
    edge (node -> group-local root) per member node; the star union is
    a valid contraction of the input (same components, diameter <= 2
    per group), so the algorithm recurses on it with n_groups/fanin
    until one group computes the exact global roots.

    Scale shape: O(log_fanin P) shuffles TOTAL — versus the O(graph
    diameter) checkpointed rounds of `connected_components` — each a
    single groupBy+applyInPandas pass; every intermediate state is
    node-bounded (one star edge per node-group incidence). The last
    pass funnels the contracted (node-bounded, much smaller than the
    input edge set) graph through one task — the standard final-reduce
    of the contraction family; callers whose FIRST-level edge set
    already fits one executor (bounded host domains after host-level
    rollup) can start at n_groups=1 and pay exactly one pass. Node ids
    are coded by np.unique (sorted), so the min-code root IS the
    lexicographic-min member, matching `connected_components` and the
    recursive-CTE oracle exactly."""
    import pandas as pd

    spark = edges.sparkSession
    if n_groups is None:
        n_groups = int(
            spark.conf.get("spark.sql.shuffle.partitions", "32")
        )

    def _local(pdf: "pd.DataFrame") -> "pd.DataFrame":
        import numpy as np

        both = np.concatenate(
            [pdf["src"].to_numpy(dtype=object),
             pdf["dst"].to_numpy(dtype=object)]
        )
        nodes, inv = np.unique(both, return_inverse=True)
        m = len(pdf)
        parent = _np_cc(inv[:m], inv[m:], len(nodes))
        return pd.DataFrame({"src": nodes, "dst": nodes[parent]})

    cur = undirected_edges(edges)
    # the pandas stage hands back node ids unchanged, in the input's type
    node_type = cur.schema["src"].dataType.simpleString()
    schema = f"src {node_type}, dst {node_type}"
    p = max(1, int(n_groups))
    while True:
        key = F.pmod(F.xxhash64("src"), F.lit(p)).alias("_g")
        cur = (
            cur.select("src", "dst", key)
            .groupBy("_g")
            .applyInPandas(_local, schema=schema)
        )
        if p == 1:
            break
        p = max(1, p // fanin)
    labels = cur.select(
        F.col("src").alias("node"), F.col("dst").alias("label")
    )
    sizes = labels.groupBy("label").agg(
        F.count("*").alias("component_size")
    )
    return labels.join(sizes, "label").select(
        F.col("node").alias("host"),
        F.col("label").alias("component"),
        F.col("component_size").cast("long"),
    )


def connected_components_incremental(
    base_labels: DataFrame,
    new_edges: DataFrame,
    n_groups: "int | None" = 1,
) -> DataFrame:
    """(host, component, component_size) — incremental connected
    components: merge a batch of NEW edges into an existing component
    assignment (`base_labels`: host, component — the persisted output
    of a previous `connected_components*` run) WITHOUT re-walking the
    old edge set. The repo's CDC discipline (incremental_dedup /
    incremental_lsh_dedup) applied to the graph family.

    Each new edge endpoint maps through the base assignment (unseen
    endpoints map to themselves), so the merge runs on the CONTRACTED
    graph — one node per touched component or brand-new host — whose
    size is proportional to the BATCH, never the corpus. Components the
    batch doesn't touch never move (left-join coalesce keeps their
    label); component ids stay the lexicographic global min because the
    contracted node set consists of per-component min members, and the
    min of mins is the global min. The result is IDENTICAL to running
    the batch algorithm on the full edge union — which is exactly what
    the oracle checks (same recursive min-reachable-label CTE as
    cc_hosts over old ∪ new edges)."""
    bl = base_labels.select(
        F.col("host").alias("node"), F.col("component").alias("comp")
    ).localCheckpoint(eager=True)
    e = (
        new_edges.select("src", "dst")
        .where(F.col("src") != F.col("dst"))
        .distinct()
    )
    contracted = (
        e.join(
            bl.select(
                F.col("node").alias("src"), F.col("comp").alias("_cs")
            ),
            "src",
            "left",
        )
        .join(
            bl.select(
                F.col("node").alias("dst"), F.col("comp").alias("_cd")
            ),
            "dst",
            "left",
        )
        .select(
            F.coalesce("_cs", F.col("src")).alias("src"),
            F.coalesce("_cd", F.col("dst")).alias("dst"),
        )
    )
    merged = connected_components_contract(
        contracted, n_groups=n_groups
    ).select(F.col("host").alias("comp"), F.col("component").alias("_nc"))
    out_old = bl.join(merged, "comp", "left").select(
        "node", F.coalesce("_nc", F.col("comp")).alias("component")
    )
    # brand-new hosts: contracted-graph nodes that are NOT an existing
    # component id (old hosts always enter contracted AS their comp)
    out_new = (
        merged.join(
            bl.select(F.col("comp")).distinct(), "comp", "left_anti"
        )
        .select(F.col("comp").alias("node"), F.col("_nc").alias("component"))
    )
    labels = out_old.unionByName(out_new)
    sizes = labels.groupBy("component").agg(
        F.count("*").alias("component_size")
    )
    return labels.join(sizes, "component").select(
        F.col("node").alias("host"),
        "component",
        F.col("component_size").cast("long"),
    )


def adamic_adar_topk(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    top_n: int = 20,
    max_pivot_degree: int | None = None,
) -> DataFrame:
    """(host_a, host_b, common_neighbors, aa_score) — top-`top_n`
    Adamic-Adar link-prediction scores over the undirected closure of the
    edge set: for each NON-adjacent pair (u, v), sum of 1/ln(deg(w)) over
    their common neighbors w (Adamic & Adar 2003), the classic
    "which hosts should be linked but aren't" crawl-discovery signal.
    Ordered by (score desc, host_a, host_b); ranked on the 6-dp round so
    the cut is engine-portable.

    Scale shape: wedge enumeration pivots at the common neighbor w, so
    the join fan-out is sum(deg(w)^2) — the same hub blowup triangle
    counting faces, but AA cannot orient it away because BOTH wedge arms
    are needed per pivot. The standard mitigation at web scale is
    `max_pivot_degree`: a hub with deg > cap contributes at most
    1/ln(cap) per pair (vanishing weight by construction of the score),
    so dropping those pivots bounds the quadratic while perturbing
    scores by a known epsilon; None keeps the sum exact (right at the
    bounded test graph, and the default so the DuckDB oracle can mirror
    the exact sum). The cap removes over-cap pivots from the wedge arms
    BEFORE the wedge join (session.cap_heavy_keys on the pivot column),
    so an over-cap hub emits no wedge at all; degrees and the
    existing-edge anti-join still read the full closure, so every
    surviving score is unchanged. The anti-join against existing edges
    and the final cut are TakeOrderedAndProject — no global sort of the
    pair space."""
    und = undirected_edges(edges, src, dst)
    deg = (
        und.groupBy(src)
        .agg(F.count("*").alias("deg"))
        .select(F.col(src).alias("w"), "deg")
    )
    arms, _ = cap_heavy_keys(und, src, max_pivot_degree)
    n1 = arms.select(F.col(src).alias("w"), F.col(dst).alias("u"))
    n2 = arms.select(F.col(src).alias("w"), F.col(dst).alias("v"))
    wedges = n1.join(n2, "w").where(F.col("u") < F.col("v"))
    open_w = wedges.join(
        und.select(F.col(src).alias("u"), F.col(dst).alias("v")),
        ["u", "v"],
        "left_anti",
    )
    return (
        open_w.join(deg, "w")
        .groupBy("u", "v")
        .agg(
            F.count("*").cast("long").alias("common_neighbors"),
            F.round(F.sum(F.lit(1.0) / F.log("deg")), 6).alias("aa_score"),
        )
        .orderBy(F.desc("aa_score"), "u", "v")
        .limit(top_n)
        .select(
            F.col("u").alias("host_a"),
            F.col("v").alias("host_b"),
            "common_neighbors",
            "aa_score",
        )
    )


def degree_assortativity(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """One row (n_edges, assortativity) — Pearson correlation of the
    degrees at the two ends of every undirected edge (Newman 2002).
    Negative on the web's hub-and-spoke link structure, positive on
    social/collusion subgraphs — a one-number crawl-corpus fingerprint
    and a link-farm drift alarm when tracked per snapshot.

    Every moment (m, Σx, Σy, Σxy, Σx², Σy²) is an exact BIGINT over the
    symmetric stub list, so the single double expression at the end is
    bit-identical in any engine — no order-dependent double summation
    anywhere. (At 10^12-edge scale with 10^7-degree hubs the Σ(dx·dy)
    accumulator can exceed 2^63: promote the moments to double there;
    the formula is unchanged.) Zero degree variance (regular graph)
    yields NULL, never a divide-by-zero error under ANSI mode."""
    und = undirected_edges(edges, src, dst)
    deg = (
        und.groupBy(src)
        .agg(F.count("*").alias("d"))
        .select(F.col(src).alias("n"), "d")
    )
    pairs = und.join(
        deg.select(F.col("n").alias(src), F.col("d").alias("dx")), src
    ).join(deg.select(F.col("n").alias(dst), F.col("d").alias("dy")), dst)
    s = pairs.agg(
        F.count("*").cast("long").alias("m"),
        F.sum("dx").cast("long").alias("sx"),
        F.sum("dy").cast("long").alias("sy"),
        F.sum(F.col("dx") * F.col("dy")).cast("long").alias("sxy"),
        F.sum(F.col("dx") * F.col("dx")).cast("long").alias("sxx"),
        F.sum(F.col("dy") * F.col("dy")).cast("long").alias("syy"),
    )
    num = (F.col("m") * F.col("sxy") - F.col("sx") * F.col("sy")).cast(
        "double"
    )
    denx = (F.col("m") * F.col("sxx") - F.col("sx") * F.col("sx")).cast(
        "double"
    )
    deny = (F.col("m") * F.col("syy") - F.col("sy") * F.col("sy")).cast(
        "double"
    )
    return s.select(
        (F.col("m") / 2).cast("long").alias("n_edges"),
        F.when(
            (denx > 0) & (deny > 0),
            F.round(num / (F.sqrt(denx) * F.sqrt(deny)), 6),
        ).alias("assortativity"),
    )


def modularity(edges: DataFrame, iters: int = 2) -> DataFrame:
    """One row (communities, n_edges, q_modularity) — Newman modularity Q
    of the `label_propagation` partition over the undirected closure:
    Q = Σ_c [intra_c/M − (d_c/M)²] with M the directed stub count. The
    detect-then-score loop every community pipeline runs: LPA proposes,
    Q decides whether the partition beats random (Q > 0).

    All three inputs (intra-community stub count, Σd_c², M) are exact
    BIGINTs, and Q is assembled as ONE division
    (M·intra − Σd_c²)/M² — no per-community double summation, so the
    score is bit-identical across engines. (Σd_c² needs the
    double-promotion caveat past ~2^31 total stubs per community.) The
    three 1-row aggregates meet through a union-tag/max pivot, not a
    crossJoin, keeping the plan BNLJ-free.

    The edge closure and the LPA partition are each consumed by TWO
    downstream branches (degree/intra and dc/size), and Catalyst has no
    CTE sharing — un-truncated, every branch re-derives the full
    iterative LPA lineage (measured: a 165-exchange plan). Both are
    node/edge-bounded tables, so they take the repo's standard eager
    localCheckpoint, the same treatment as markov_stationary's
    transition table."""
    und = undirected_edges(edges).localCheckpoint(eager=True)
    labels = (
        label_propagation(edges, iters=iters)
        .select(F.col("host").alias("node"), F.col("community").alias("label"))
        .localCheckpoint(eager=True)
    )
    deg = (
        und.groupBy("src")
        .agg(F.count("*").alias("d"))
        .select(F.col("src").alias("node"), "d")
    )
    dc = (
        labels.join(deg, "node")
        .groupBy("label")
        .agg(F.sum("d").cast("long").alias("dc"))
    )
    comm_stats = dc.agg(
        F.count("*").cast("long").alias("communities"),
        F.sum(F.col("dc") * F.col("dc")).cast("long").alias("sdc2"),
    )
    intra = (
        und.join(
            labels.select(
                F.col("node").alias("src"), F.col("label").alias("la")
            ),
            "src",
        )
        .join(
            labels.select(
                F.col("node").alias("dst"), F.col("label").alias("lb")
            ),
            "dst",
        )
        .where(F.col("la") == F.col("lb"))
        .agg(F.count("*").cast("long").alias("intra"))
    )
    m_tot = und.agg(F.count("*").cast("long").alias("mm"))

    def _tag(df, cols):
        all_cols = ["communities", "sdc2", "intra", "mm"]
        return df.select(
            F.lit(1).alias("k"),
            *[
                F.col(c) if c in cols else F.lit(None).cast("long").alias(c)
                for c in all_cols
            ],
        )

    one = (
        _tag(comm_stats, {"communities", "sdc2"})
        .unionByName(_tag(intra, {"intra"}))
        .unionByName(_tag(m_tot, {"mm"}))
        .groupBy("k")
        .agg(
            F.max("communities").alias("communities"),
            F.max("sdc2").alias("sdc2"),
            F.max("intra").alias("intra"),
            F.max("mm").alias("mm"),
        )
    )
    return one.select(
        "communities",
        (F.col("mm") / 2).cast("long").alias("n_edges"),
        F.round(
            (F.col("mm") * F.col("intra") - F.col("sdc2")).cast("double")
            / (F.col("mm").cast("double") * F.col("mm").cast("double")),
            6,
        ).alias("q_modularity"),
    )


def clustering_coefficient(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """(host, degree, triangles, clustering_coeff) — local clustering
    coefficient per node: triangles / (deg·(deg−1)/2), the fraction of a
    node's neighbor pairs that are themselves linked (Watts & Strogatz
    1998). The per-host companion of `triangle_count`'s raw counts: link
    farms sit near 1.0 (everybody links everybody), organic topical hubs
    near 0 — the normalized version of the spam-ring signal, comparable
    across degrees. NULL for degree < 2 (no wedge to close), never a
    divide-by-zero under ANSI mode.

    Rides `triangle_count`'s degree-ordered wedge closure unchanged (one
    wedge per triangle at its π-smallest corner, O(m^1.5) worst case, no
    deg² hub blowup), then adds one projection: the possible-wedge count
    deg·(deg−1)/2 is exact integer arithmetic, the ratio one 6-dp-rounded
    double division — engine-bit-identical."""
    t = triangle_count(edges, src, dst)
    wedges = (F.col("degree") * (F.col("degree") - 1) / 2).cast("long")
    return t.select(
        F.col("node").alias("host"),
        "degree",
        F.col("triangles").cast("long").alias("triangles"),
        F.when(
            F.col("degree") >= 2,
            F.round(
                F.col("triangles").cast("double") / wedges.cast("double"), 6
            ),
        ).alias("clustering_coeff"),
    ).orderBy("host")


def community_conductance(edges: DataFrame, iters: int = 2) -> DataFrame:
    """(community, size, volume, cut, conductance) — per-community
    conductance of the `label_propagation` partition: φ(c) = cut(c) /
    min(vol(c), M − vol(c)) over the undirected closure's stubs, the
    bottleneck score community detection is judged by alongside
    `modularity`'s global Q (a community can inflate Q yet leak badly;
    φ names WHICH one leaks). Ordered by community.

    cut, vol, and M are exact BIGINTs from two joins on the checkpointed
    closure + labels (the modularity lesson: both frames feed two
    branches, and un-truncated each branch re-derives the LPA lineage);
    φ is one 6-dp-rounded division — engine-bit-identical. A community
    spanning the whole graph has min(vol, M−vol) = 0 and yields NULL,
    never an ANSI divide-by-zero."""
    und = undirected_edges(edges).localCheckpoint(eager=True)
    labels = (
        label_propagation(edges, iters=iters)
        .select(F.col("host").alias("node"), F.col("community").alias("label"))
        .localCheckpoint(eager=True)
    )
    deg = (
        und.groupBy("src")
        .agg(F.count("*").alias("d"))
        .select(F.col("src").alias("node"), "d")
    )
    per_c = (
        labels.join(deg, "node")
        .groupBy("label")
        .agg(
            F.count("*").cast("long").alias("size"),
            F.sum("d").cast("long").alias("volume"),
        )
    )
    cut = (
        und.join(
            labels.select(F.col("node").alias("src"), F.col("label").alias("la")),
            "src",
        )
        .join(
            labels.select(F.col("node").alias("dst"), F.col("label").alias("lb")),
            "dst",
        )
        .where(F.col("la") != F.col("lb"))
        .groupBy(F.col("la").alias("label"))
        .agg(F.count("*").cast("long").alias("cut"))
    )
    m_tot = und.agg(F.count("*").cast("long").alias("mm"))
    denom = F.least(F.col("volume"), F.col("mm") - F.col("volume"))
    return (
        per_c.join(cut, "label", "left")
        .crossJoin(F.broadcast(m_tot))
        .select(
            F.col("label").alias("community"),
            "size",
            "volume",
            F.coalesce("cut", F.lit(0)).cast("long").alias("cut"),
            F.when(
                denom > 0,
                F.round(
                    F.coalesce("cut", F.lit(0)).cast("double")
                    / denom.cast("double"),
                    6,
                ),
            ).alias("conductance"),
        )
        .orderBy("community")
    )
