"""Deduplication operators for web-scale training-data pipelines.

Six families, each with a distinct scale profile:

  * exact_dedup        — md5(text) groupBy; one shuffle on the digest.
  * ngram_jaccard_pairs— shingle inverted index self-join; DF-capped shingles
                         bound the join fan-out. Hot-key caps here go
                         through session.cap_heavy_keys, except the two
                         that keep their own census: minhash_lsh_pairs
                         ('star' needs the bucket root) and
                         simhash_neardup_pairs (tiered in-row census).
  * minhash_lsh_pairs  — MinHash signatures (permutation family
                         h_i(x) = (a_i*x + b_i) mod p over xxhash64 shingle
                         ids) banded into LSH buckets; candidates verified
                         with exact shingle Jaccard (semi-join-pruned to
                         candidate docs). Cost O(docs x bands) + O(cands),
                         never O(docs^2); per-bucket cap guards dup-heavy
                         corpora.
  * simhash64          — 60-bit SimHash over md5-derived token hashes
                         (bit-identical in SQL -> fully oracle-checkable);
                         near-dups via multi-segment pigeonhole blocking
                         with parameterizable key width + bucket cap.
  * embedding_neardup_pairs — cosine >= tau within LSH hyperplane blocks.
  * neardup_clusters   — connected components over any pair list
                         (graph.py's pointer-doubling loop, run to a
                         fixpoint); the canonical-survivor assignment
                         step.

All pure DataFrame ops; determinism comes from seed-fixed hash families,
so results are stable across runs and cluster sizes — and every operator
has a DuckDB oracle in __spark_entry__.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..session import cap_heavy_keys, fan_out
from .graph import _cc_labels
from .textstats import tokens_col

MINHASH_P = (1 << 31) - 1  # Mersenne prime 2^31-1


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """One row per distinct text: canonical (min) id + duplicate count.
    Digest first so the shuffle moves 16-byte keys, not document bodies."""
    return (
        df.select(F.col(id_col), F.md5(F.col(text_col)).alias("digest"))
        .groupBy("digest")
        .agg(
            F.min(id_col).alias("canonical_id"),
            F.count("*").alias("n_dups"),
        )
    )


def _shingle_id_sets(
    df: DataFrame, text_col: str, id_col: str, n: int
) -> DataFrame:
    """(id, sids array<long>) — distinct numeric shingle ids per document.

    A shingle's id is xxhash64 over the n token hashes (seed-chained
    multi-arg xxhash64), NOT a hash of the joined string: building the
    "tok tok tok" strings costs O(tokens x bytes) of allocation and was
    the measured bottleneck of the whole MinHash pipeline (3.4s -> 0.6s
    for full signatures at sf0.1/local[32]). Tokens are hashed ONCE into
    a bound `_th` column (withColumn = projection boundary; the lambda
    below references the attribute, so per-position work is three
    element_at + one 3-long xxhash64). Every consumer (inverted index,
    MinHash, exact-Jaccard verify) only ever uses shingles through
    EQUALITY — distinct counts, join keys, intersections — so a 64-bit
    id is semantics-preserving up to hash collisions (~1e-8 at 10^6
    distinct shingles; the DuckDB string-shingle oracle would flag one)."""
    base = df.withColumn(
        "_th",
        F.transform(
            tokens_col(F.lower(F.col(text_col))), lambda tk: F.xxhash64(tk)
        ),
    )
    sids = F.when(
        F.size("_th") >= n,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(0), F.size("_th") - n),
                lambda i: F.xxhash64(
                    *[F.element_at("_th", i + 1 + j) for j in range(n)]
                ),
            )
        ),
    ).otherwise(F.array().cast("array<long>"))
    return base.select(F.col(id_col).alias("id"), sids.alias("sids"))


def shingle_index(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    max_df: int | None = 1000,
) -> DataFrame:
    """(id, shingle) inverted index with optional hot-shingle cap: shingles
    appearing in more than max_df docs are dropped from BOTH sides by
    cap_heavy_keys (a stop-shingle would otherwise explode the self-join).
    Shingles are 64-bit numeric ids (_shingle_id_sets): identity-only
    downstream use means the index is equivalent to the string form, and
    the shuffle moves 8-byte keys instead of n-word strings."""
    # explode_OUTER + isNotNull, NOT plain explode: InferFiltersFromGenerate
    # would add size(sids)>0 and predicate pushdown substitutes the whole
    # tokenize+shingle pipeline below the projection, re-evaluating it per
    # conjunct (same trap winnow_fingerprints documents; measured 11 split()
    # copies in this plan before the fix). The isNotNull filter sits on the
    # generator OUTPUT attribute, which cannot be pushed into the array expr.
    idx = (
        _shingle_id_sets(fan_out(df), text_col, id_col, n)
        .select("id", F.explode_outer("sids").alias("shingle"))
        .where(F.col("shingle").isNotNull())
    )
    return cap_heavy_keys(idx, "shingle", max_df)[0]


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.8,
    max_df: int | None = 1000,
) -> DataFrame:
    """Exact n-gram Jaccard similarity for all pairs sharing >=1 shingle.
    inter/union from the inverted-index self-join + per-doc shingle counts."""
    # no .cache(): a long-lived session would leak one cached index per
    # invocation (round-1 finding), and at corpus scale the exploded index
    # doesn't fit executor storage anyway — the self-join below shares one
    # shuffle via ReusedExchange, so only the counts agg re-derives shingles
    idx = shingle_index(df, text_col, id_col, n, max_df)
    counts = idx.groupBy("id").agg(F.count("*").alias("n_shingles"))

    a = idx.alias("a")
    b = idx.alias("b")
    inter = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.id") < F.col("b.id")))
        .groupBy(F.col("a.id").alias("id1"), F.col("b.id").alias("id2"))
        .agg(F.count("*").alias("inter"))
    )
    ca = counts.alias("ca")
    cb = counts.alias("cb")
    out = (
        inter.join(ca, F.col("id1") == F.col("ca.id"))
        .join(cb, F.col("id2") == F.col("cb.id"))
        .select(
            "id1",
            "id2",
            F.round(
                F.col("inter")
                / (F.col("ca.n_shingles") + F.col("cb.n_shingles") - F.col("inter")),
                6,
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )
    return out


def containment_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 5,
    threshold: float = 0.5,
    max_df: int | None = 1000,
) -> DataFrame:
    """(id1, id2, containment, jaccard) — max-containment near-dup
    detection: containment = |S1 ∩ S2| / min(|S1|, |S2|), the asymmetric
    overlap measure that catches QUOTATION and partial inclusion, which
    resemblance (Jaccard) structurally misses: a 50-shingle document fully
    embedded in a 5000-shingle page has Jaccard ~0.01 but containment 1.0.
    This is the second measure of Broder's resemblance/containment pair —
    the standard screen for "this doc is a subset of that one" (quote
    farms, boilerplate wrappers around syndicated articles). Jaccard is
    emitted alongside so survivors can distinguish true near-dups
    (both high) from embeddings (containment high, Jaccard low).

    Physical shape: identical to ngram_jaccard_pairs — one shingle
    inverted-index self-join sharing its exchange via AQE ReusedExchange,
    per-doc distinct-shingle counts broadcast back. The hot-shingle cap
    (max_df) bounds the join fan-out exactly as there; the containment
    denominator uses the CAPPED index's counts on both sides, so the
    measure stays internally consistent under the cap."""
    idx = shingle_index(df, text_col, id_col, n, max_df)
    counts = idx.groupBy("id").agg(F.count("*").alias("n_shingles"))

    a = idx.alias("a")
    b = idx.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .groupBy(F.col("a.id").alias("id1"), F.col("b.id").alias("id2"))
        .agg(F.count("*").alias("inter"))
    )
    ca = counts.alias("ca")
    cb = counts.alias("cb")
    return (
        inter.join(ca, F.col("id1") == F.col("ca.id"))
        .join(cb, F.col("id2") == F.col("cb.id"))
        .select(
            "id1",
            "id2",
            F.round(
                F.col("inter")
                / F.least(F.col("ca.n_shingles"), F.col("cb.n_shingles")),
                6,
            ).alias("containment"),
            F.round(
                F.col("inter")
                / (
                    F.col("ca.n_shingles")
                    + F.col("cb.n_shingles")
                    - F.col("inter")
                ),
                6,
            ).alias("jaccard"),
        )
        .filter(F.col("containment") >= threshold)
    )


# -- MinHash + LSH -----------------------------------------------------------

def _minhash_coeffs(num_hashes: int, seed: int = 42) -> list[tuple[int, int]]:
    import random

    rng = random.Random(seed)
    return [
        (rng.randrange(1, 1 << 30), rng.randrange(0, 1 << 30))
        for _ in range(num_hashes)
    ]


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_hashes: int = 64,
    seed: int = 42,
) -> DataFrame:
    """(id, sig array<long>) — min over shingle ids of (a*x+b) mod p per hash
    function. Shingle id = xxhash64 (deterministic, JVM-side).

    Physical shape: explode shingles -> hash once -> groupBy(id) with
    num_hashes min() aggregates. Shingling runs ONCE per document (a single
    array expression inlined into num_hashes aggregates would be re-evaluated
    num_hashes times by Catalyst's project collapsing); the hash-aggregate's
    map-side combine collapses each doc to one 64-long row before the
    shuffle, so shuffled bytes are O(docs), not O(shingles). Docs with no
    shingles (< n tokens) emit no signature."""
    coeffs = _minhash_coeffs(num_hashes, seed)
    # shingle id bounded to 2^31 so (id * a + b) stays well inside int64
    # (a, b < 2^30); modulus on a Mersenne-like prime keeps uniformity
    # explode_OUTER + isNotNull for the same InferFiltersFromGenerate reason
    # as shingle_index; null rows (no-shingle docs) are dropped explicitly,
    # preserving the "docs with < n tokens emit no signature" contract
    ids = (
        _shingle_id_sets(fan_out(df), text_col, id_col, n)
        .select("id", F.explode_outer("sids").alias("s"))
        .where(F.col("s").isNotNull())
        .select("id", (F.abs(F.col("s")) % F.lit(1 << 31)).alias("x"))
    )
    aggs = [
        F.min((F.col("x") * F.lit(a) + F.lit(b)) % F.lit(MINHASH_P)).alias(f"h{i}")
        for i, (a, b) in enumerate(coeffs)
    ]
    return (
        ids.groupBy("id")
        .agg(*aggs)
        .select("id", F.array(*[f"h{i}" for i in range(num_hashes)]).alias("sig"))
    )


def _banded_buckets(sigs: DataFrame, bands: int, rows_per_band: int) -> DataFrame:
    """(id, sig) -> one row per (id, band) with bucket = xxhash64 of the
    band's signature slice."""
    return sigs.select(
        "id",
        "sig",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.xxhash64(
                            F.array_join(
                                F.transform(
                                    F.slice("sig", b * rows_per_band + 1, rows_per_band),
                                    lambda x: x.cast("string"),
                                ),
                                ",",
                            )
                        ).alias("bucket"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bb"),
    ).select("id", "sig", "bb.band", "bb.bucket")


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    threshold: float = 0.7,
    seed: int = 42,
    max_bucket: int | None = 10_000,
    verify: bool = True,
    oversize: str = "drop",
    signatures: "DataFrame | None" = None,
) -> DataFrame:
    """Banded LSH near-dup detection, production shape: candidate pairs from
    the (band, bucket) join, then each candidate VERIFIED with its true
    shingle Jaccard (verify=True, the default) -> (id1, id2, jaccard). This
    is the standard LSH-then-verify cascade: LSH bounds candidate generation
    at O(docs x bands), the exact check runs only on candidates, and the
    output is independent of the LSH parameters wherever recall is complete
    -- which also makes it oracle-checkable against brute-force Jaccard.
    verify=False returns the raw candidates with the signature-agreement
    estimate instead (no second pass over the text).

    max_bucket guards the duplicate-heavy corpus (the NORMAL input for
    dedup): D copies of one document land in the same bucket in every band,
    and an uncapped self-join is O(D^2). `oversize` picks what happens to
    buckets past the cap: 'drop' (default) removes them from the join
    (members still pair via their other, less-degenerate bands; exact
    duplicates belong to exact_dedup anyway); 'star' instead emits
    bucket-min -> member candidate edges — O(sz) per bucket, each still
    exact-verified — so connected components / survivor selection see the
    full duplicate class without any task materializing the quadratic
    pair set. Use minhash_bucket_stats for cap observability.

    signatures= takes a precomputed (id, sig) table — the persisted
    `minhash_signatures/` index artifact (jobs/run_index.py) — and skips
    the corpus-sized shingle explode + num_hashes-min aggregate, the
    dominant cost of the recurring full-corpus run. The signatures MUST
    have been built with the same (n, num_hashes, seed); the exact-verify
    pass still reads `df` for candidate shingles, so the output is
    identical either way (asserted in tests/test_index_job.py)."""
    assert num_hashes % bands == 0
    assert oversize in ("drop", "star")
    if oversize == "star" and not verify:
        raise ValueError(
            "oversize='star' requires verify=True: star edges carry no "
            "signature pair for the est_jaccard path"
        )
    rows_per_band = num_hashes // bands
    sigs = (
        signatures
        if signatures is not None
        else minhash_signatures(df, text_col, id_col, n, num_hashes, seed)
    ).filter(F.col("sig").isNotNull())
    banded = _banded_buckets(sigs, bands, rows_per_band)

    star_pairs = None
    if max_bucket is not None:
        hot = (
            banded.groupBy("band", "bucket")
            .agg(F.count("*").alias("sz"), F.min("id").alias("root"))
            .filter(F.col("sz") > max_bucket)
        )
        if oversize == "star":
            # oversized buckets would emit O(sz^2) pairs — the degenerate
            # duplicate-class case dedup exists for. Star topology keeps
            # the class CONNECTED with O(sz) candidate edges
            # (bucket-min -> member), each still exact-verified below, so
            # neardup_clusters/survivors see the full component while no
            # task ever materializes the quadratic pair set. The pair
            # LIST for oversized buckets is intentionally incomplete
            # (root-centered); completeness of the list is only claimed
            # for buckets within max_bucket — same contract the default
            # 'drop' mode has, minus drop's lost connectivity.
            star_pairs = (
                banded.join(
                    F.broadcast(hot.select("band", "bucket", "root")),
                    ["band", "bucket"],
                )
                .filter(F.col("id") != F.col("root"))
                .select(
                    F.col("root").alias("id1"), F.col("id").alias("id2")
                )
            )
        banded = banded.join(
            F.broadcast(hot.select("band", "bucket")),
            ["band", "bucket"],
            "left_anti",
        )

    # self-join as sort-merge, NOT broadcast: the two sides are identical
    # plans, so SMJ's two shuffles collapse into one computation via
    # ReusedExchange — a broadcast side would recompute the whole signature
    # pipeline inside a single-threaded broadcast build (and at 10^12 docs
    # the signature table isn't broadcastable anyway).
    # verify=True prunes the signature column BEFORE the self-join: the
    # exact check never reads it, and carrying two 64-long arrays through
    # the candidate dropDuplicates multiplies the dominant shuffle ~20x
    # (measured ~30 GB vs ~1.5 GB for 32M candidates on a dup-heavy
    # 100k-doc corpus). Buckets are computed map-side from the signature,
    # so the pruned side shuffles only (id, band, bucket).
    bside = banded.select("id", "band", "bucket") if verify else banded
    a = bside.hint("merge").alias("a")
    b2 = bside.hint("merge").alias("b")
    joined = a.join(
        b2,
        (F.col("a.band") == F.col("b.band"))
        & (F.col("a.bucket") == F.col("b.bucket"))
        & (F.col("a.id") < F.col("b.id")),
    )
    if not verify:
        cands = joined.select(
            F.col("a.id").alias("id1"),
            F.col("b.id").alias("id2"),
            F.col("a.sig").alias("sig1"),
            F.col("b.sig").alias("sig2"),
        ).dropDuplicates(["id1", "id2"])
        est = F.size(
            F.filter(
                F.zip_with("sig1", "sig2", lambda x, y: x == y),
                lambda m: m,
            )
        ) / F.lit(num_hashes)
        return cands.select(
            "id1", "id2", F.round(est, 6).alias("est_jaccard")
        ).filter(F.col("est_jaccard") >= threshold)
    cands = joined.select(
        F.col("a.id").alias("id1"), F.col("b.id").alias("id2")
    )
    if star_pairs is not None:
        cands = cands.unionByName(star_pairs)
    cands = cands.dropDuplicates(["id1", "id2"])

    # exact verification: join the (small) candidate set back to per-doc
    # shingle sets; `inter` materialized behind a projection boundary so
    # Catalyst doesn't re-evaluate array_intersect per reference.
    # Semi-join-prune FIRST: shingle arrays are only computed for documents
    # that appear in some candidate pair — at corpus scale candidates are a
    # vanishing fraction, so the verify pass costs O(candidates), not a
    # second full-corpus shingling. The candidate set is (lazily)
    # localCheckpointed because it feeds THREE consumers (the pair list and
    # both sides of the id union) — without lineage truncation Catalyst
    # replicates the whole LSH candidate pipeline per consumer (measured
    # 3x: 7 SortMergeJoins in the plan instead of 1).
    cands = cands.localCheckpoint(eager=False)
    cand_ids = (
        cands.select(F.col("id1").alias("cid"))
        .unionByName(cands.select(F.col("id2").alias("cid")))
        .distinct()
    )
    sh = _shingle_id_sets(
        df.join(cand_ids, F.col(id_col) == F.col("cid"), "left_semi"),
        text_col,
        id_col,
        n,
    ).select("id", F.col("sids").alias("sh"))
    return (
        cands
        .join(sh.select(F.col("id").alias("id1"), F.col("sh").alias("sh1")), "id1")
        .join(sh.select(F.col("id").alias("id2"), F.col("sh").alias("sh2")), "id2")
        .withColumn("inter", F.size(F.array_intersect("sh1", "sh2")))
        .select(
            "id1",
            "id2",
            F.round(
                F.col("inter")
                / (F.size("sh1") + F.size("sh2") - F.col("inter")),
                6,
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def minhash_bucket_stats(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    seed: int = 42,
    max_bucket: int = 10_000,
) -> DataFrame:
    """Observability for the max_bucket guard: one row per oversized
    (band, bucket) with its member count `sz` (cap_heavy_keys' `heavy`
    report) — run (or sink) this alongside minhash_lsh_pairs to log
    exactly what the cap dropped."""
    assert num_hashes % bands == 0
    rows_per_band = num_hashes // bands
    sigs = minhash_signatures(df, text_col, id_col, n, num_hashes, seed)
    banded = _banded_buckets(sigs, bands, rows_per_band)
    return cap_heavy_keys(banded, ["band", "bucket"], max_bucket)[1]


# -- SimHash -----------------------------------------------------------------

SIMHASH_BITS = 60


def simhash_token_hash(tok: "F.Column") -> "F.Column":
    """60-bit token hash: first 15 hex chars of md5. md5 (not xxhash64)
    because it is bit-identical across engines — DuckDB's
    CAST('0x'||substr(md5(t),1,15) AS BIGINT) reproduces it exactly, which
    makes the WHOLE simhash signature SQL-mirrorable for the driver's
    correctness oracle. Still JVM-side and shuffle-free."""
    return F.conv(F.substring(F.md5(tok), 1, 15), 16, 10).cast("long")


def winnow_fingerprints(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    w: int = 4,
) -> DataFrame:
    """MOSS-style winnowing (Schleimer et al., SIGMOD 2003) over token
    k-grams: hash every k-gram, slide a window of w hashes, keep each
    window's minimum — the distinct minima are the document fingerprint.
    Guarantee: any two documents sharing a run of >= w+k-1 tokens share at
    least one fingerprint, at ~2/(w+1) of the full shingle-index mass.
    Short docs degrade gracefully: fewer than w grams -> the single global
    minimum; zero grams (under k tokens) -> no rows.

    Returns exploded (doc_id, fingerprint) rows — the winnowed inverted
    index. Downstream near-dup joins use it exactly like shingle_index but
    w+1 times smaller, which is the point at 10^12 docs: the shuffle that
    dominates candidate generation shrinks by the same factor.

    Scale: doc-local and fully columnar (transform over sequence, window
    minima as array ops behind projection boundaries — no re-inlining of
    the gram array), zero shuffle before the caller's join. The 60-bit
    md5-derived gram hash is the engine-portable one (simhash_token_hash),
    so the whole fingerprint set is SQL-mirrorable for the oracle."""
    toks = tokens_col(F.lower(F.col(text_col)))
    base = (
        fan_out(df).select(F.col(id_col), F.col(text_col))
        .withColumn("_toks", toks)
        .withColumn(
            "_grams",
            F.when(
                F.size("_toks") >= k,
                F.transform(
                    F.sequence(F.lit(0), F.size("_toks") - k),
                    lambda i: simhash_token_hash(
                        F.array_join(F.slice("_toks", i + 1, k), " ")
                    ),
                ),
            ).otherwise(F.array().cast("array<long>")),
        )
    )
    minima = F.when(
        F.size("_grams") < w, F.array(F.array_min("_grams"))
    ).otherwise(
        F.transform(
            F.sequence(F.lit(0), F.size("_grams") - w),
            lambda j: F.array_min(F.slice("_grams", j + 1, w)),
        )
    )
    # explode_OUTER, then drop the null fingerprint of gram-less docs:
    # a plain explode makes InferFiltersFromGenerate add a size(...)>0
    # filter that predicate-pushdown substitutes BELOW the projections,
    # re-evaluating the whole md5-gram pipeline per conjunct (measured
    # 37s -> 1s at sf0.01). The isNotNull filter sits on the generator
    # OUTPUT attribute, which cannot be pushed into the array expr.
    return (
        base.withColumn("_fps", F.array_distinct(minima))
        .select(F.col(id_col), F.explode_outer("_fps").alias("fingerprint"))
        .where(F.col("fingerprint").isNotNull())
    )


def winnow_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    w: int = 4,
    min_shared: int = 2,
    max_df: int | None = 1000,
) -> DataFrame:
    """Near-dup candidate pairs from the winnowed index: docs sharing at
    least `min_shared` fingerprints -> (id1, id2, n_shared). The winnowing
    guarantee makes recall structural (a shared >= w+k-1 token run always
    collides) while the index the self-join shuffles is ~(w+1)/2 times
    smaller than the full shingle index — the whole point at 10^12 docs.

    Same guards as the shingle/minhash family: fingerprints present in
    more than max_df docs are dropped from BOTH sides (stop-gram
    boilerplate would otherwise make one fingerprint's bucket quadratic),
    and the self-join is hinted sort-merge so the two identical index
    plans collapse into one computation via ReusedExchange."""
    idx = winnow_fingerprints(df, text_col, id_col, k, w).withColumnRenamed(
        id_col, "id"
    )
    idx = cap_heavy_keys(idx, "fingerprint", max_df)[0]
    a = idx.hint("merge").alias("a")
    b = idx.hint("merge").alias("b")
    return (
        a.join(
            b,
            (F.col("a.fingerprint") == F.col("b.fingerprint"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .groupBy(F.col("a.id").alias("id1"), F.col("b.id").alias("id2"))
        .agg(F.count("*").cast("long").alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )


def simhash64(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """60-bit SimHash: per token, a 60-bit md5-derived hash -> for each bit,
    +1 if set else -1; sign of the per-bit balance forms the signature.

    Physical shape: explode tokens once -> hash -> groupBy(id) with 60
    conditional-sum aggregates -> assemble the signature from the balances.
    Tokenization runs ONCE per document (60 aggregates over an inline array
    expression would re-tokenize 60 times after Catalyst project collapsing);
    map-side combine collapses each doc to one row pre-shuffle.

    Zero-token docs emit NO row (plain explode drops the empty array): a
    degenerate signature 0 would make every empty/null-text doc a hamming-0
    "near-dup" of every other — empties belong to exact_dedup, not here."""
    toks = tokens_col(F.lower(F.col(text_col)))
    h = fan_out(df).select(
        F.col(id_col).alias("id"), F.explode(toks).alias("t")
    ).select("id", simhash_token_hash(F.col("t")).alias("h"))
    aggs = [
        F.sum(
            F.when(F.col("h").bitwiseAND(F.lit(1 << i)) != 0, 1).otherwise(-1)
        ).alias(f"b{i}")
        for i in range(SIMHASH_BITS)
    ]
    bal = h.groupBy("id").agg(*aggs)
    sig = F.lit(0).cast("long")
    for i in range(SIMHASH_BITS):
        sig = sig.bitwiseOR(
            F.when(F.col(f"b{i}") > 0, F.lit(1 << i).cast("long")).otherwise(
                F.lit(0).cast("long")
            )
        )
    return bal.select("id", sig.alias("simhash"))


def simhash_neardup_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    blocks: int = 5,
    seg_match: int = 2,
    max_bucket: int | None = 10_000,
    oversize: str = "drop",
    signatures: "DataFrame | None" = None,
) -> DataFrame:
    """Near-dup pairs at Hamming distance <= max_hamming via multi-segment
    pigeonhole blocking (the Manku/Jain/Sarma scheme generalized): split the
    60 signature bits into `blocks` segments; if hamming <= max_hamming, at
    most max_hamming segments differ, so some combination of `seg_match`
    segments agrees completely -> join once per C(blocks, seg_match)
    combination on the concatenated segment values, verify with
    bit_count(xor). Completeness requires max_hamming <= blocks - seg_match.

    Scale knobs (the round-1 weakness was blocks=4 single-segment 16-bit
    keys — 65,536 buckets, quadratic at web scale): key width is
    seg_match * (60/blocks) bits, candidate volume ~ C(blocks, seg_match)
    * n^2 / 2^width per uniformly-hashed corpus. The OUTPUT is invariant
    to these knobs wherever completeness holds (verified pairs are
    exactly the hamming matches), so they tune candidate volume only —
    asserted by the three-knob equality in tests/test_dedup_guards.py.
    Defaults (5 blocks, match 2) give 24-bit keys at C(5,2)=10 combos:
    the combo explode — the one corpus-sized shuffle — moves 10n rows
    instead of the previous 6/3 setting's 20n, measured 1.33x faster
    warm and 4x cold at sf0.1 with collision candidates still ~n^2/2^21
    (negligible below ~10^8 docs). At 10^12 docs use e.g. blocks=12,
    seg_match=8 for 40-bit keys — same operator, wider key. max_bucket additionally caps
    any degenerate (combo, key) bucket (duplicate-heavy corpora), with the
    same oversize='drop'|'star' policy as minhash_lsh_pairs: 'star' emits
    bucket-min -> member candidates (O(sz), each still hamming-verified)
    so duplicate classes stay connected without quadratic pair sets.

    signatures= takes a precomputed (id, simhash) table — the persisted
    `simhash_signatures/` index artifact (jobs/run_index.py) — and skips
    the corpus token explode + 60-balance aggregate (simhash64), the
    dominant cost of the recurring full-corpus run; output is identical
    either way (tests/test_index_job.py)."""
    assert max_hamming <= blocks - seg_match, (
        "pigeonhole completeness needs max_hamming <= blocks - seg_match"
    )
    assert SIMHASH_BITS % blocks == 0
    assert oversize in ("drop", "star")
    from itertools import combinations

    sigs = (
        signatures
        if signatures is not None
        else simhash64(df, text_col, id_col)
    )
    seg_bits = SIMHASH_BITS // blocks

    def seg(s: int):
        return F.shiftrightunsigned("simhash", s * seg_bits).bitwiseAND(
            F.lit((1 << seg_bits) - 1)
        )

    combo_keys = []
    for ci, combo in enumerate(combinations(range(blocks), seg_match)):
        key = F.lit(0).cast("long")
        for s in combo:
            key = key * F.lit(1 << seg_bits) + seg(s)
        combo_keys.append(
            F.struct(F.lit(ci).alias("combo"), key.alias("key"))
        )

    keyed = sigs.select(
        "id", "simhash", F.explode(F.array(*combo_keys)).alias("ck")
    ).select("id", "simhash", "ck.combo", "ck.key")

    # ONE (combo, key) exchange for everything: buckets collect their
    # member list (id-sorted, so generated pairs are id1 < id2 for free)
    # and the size census falls out of the same aggregate — no separate
    # hot-bucket groupBy, no broadcast anti-join, and no sort-merge
    # self-join sorting the 15x-exploded table twice. Three tiers by
    # bucket size:
    #   * sz <= _INROW: all pairs as an in-row array comprehension
    #     (bounded at _INROW^2/2 structs per row), map-side work only;
    #   * _INROW < sz <= max_bucket: the rare mid buckets re-explode and
    #     self-join — both sides hang off the SAME bucket aggregate, so
    #     the join reuses its exchange and only the mid rows sort;
    #   * sz > max_bucket: drop, or 'star' root->member pairs straight
    #     from the member array (root = m[0] = min id).
    buckets = keyed.groupBy("combo", "key").agg(
        F.array_sort(F.collect_list(F.struct("id", "simhash"))).alias("m")
    )
    sz = F.size("m")
    inrow = 256 if max_bucket is None else min(256, max_bucket)

    def _ham(x, y):
        return F.bit_count(x["simhash"].bitwiseXOR(y["simhash"]))

    def _pair(x, y):
        return F.struct(
            x["id"].alias("id1"), y["id"].alias("id2"),
            _ham(x, y).alias("hamming"),
        )

    # the hamming verify runs INSIDE the comprehension: candidates are
    # sz^2-many but survivors are rare, so filtering before the explode
    # keeps the generated row count at |matches|, not |candidates|
    # (measured 2.6s -> sub-second at sf0.1: ~9M candidate rows never
    # materialize)
    small_arr = F.flatten(
        F.transform(
            "m",
            lambda x, i: F.filter(
                F.transform(
                    F.slice("m", i + 2, sz), lambda y: _pair(x, y)
                ),
                lambda p: p["hamming"] <= max_hamming,
            ),
        )
    )
    parts = [
        buckets.filter(sz <= inrow)
        .select(F.explode(small_arr).alias("_p"))
        .select("_p.id1", "_p.id2", "_p.hamming")
    ]
    if max_bucket is None or max_bucket > inrow:
        mid_pred = sz > inrow
        if max_bucket is not None:
            mid_pred = mid_pred & (sz <= max_bucket)
        mid = (
            buckets.filter(mid_pred)
            .select("combo", "key", F.explode("m").alias("e"))
            .select(
                "combo", "key",
                F.col("e.id").alias("id"),
                F.col("e.simhash").alias("simhash"),
            )
        )
        a = mid.hint("merge").alias("a")
        b = mid.hint("merge").alias("b")
        parts.append(
            a.join(
                b,
                (F.col("a.combo") == F.col("b.combo"))
                & (F.col("a.key") == F.col("b.key"))
                & (F.col("a.id") < F.col("b.id"))
                & (
                    F.bit_count(
                        F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
                    )
                    <= max_hamming
                ),
            ).select(
                F.col("a.id").alias("id1"),
                F.col("b.id").alias("id2"),
                F.bit_count(
                    F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
                ).alias("hamming"),
            )
        )
    if max_bucket is not None and oversize == "star":
        root = F.col("m")[0]
        star_arr = F.filter(
            F.transform(F.slice("m", 2, sz), lambda y: _pair(root, y)),
            lambda p: p["hamming"] <= max_hamming,
        )
        parts.append(
            buckets.filter(sz > max_bucket)
            .select(F.explode(star_arr).alias("_p"))
            .select("_p.id1", "_p.id2", "_p.hamming")
        )
    pairs = parts[0]
    for p in parts[1:]:
        pairs = pairs.unionByName(p)
    return (
        pairs.filter(F.col("hamming") <= max_hamming)
        .dropDuplicates(["id1", "id2"])
    )


# -- Embedding near-dup ------------------------------------------------------

def embedding_neardup_pairs(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    block_col: str | None = None,
    threshold: float = 0.95,
    lsh_dim: int | None = 64,
    lsh_bits: int = 8,
    lsh_tables: int = 2,
    seed: int = 42,
) -> DataFrame:
    """Pairs with cosine similarity >= threshold. Blocking turns O(n^2) into
    a sum of per-block squares; the block key is an LSH bucket by default
    (random-hyperplane signatures, the 100 TB path — round 1's `label`
    stand-in is still available via block_col). Candidates = same bucket in
    >=1 of lsh_tables signatures, exact cosine verified on candidates only.
    The hyperplanes are md5-seeded sign matrices (similarity._hyperplanes),
    so the blocking is deterministic and SQL-mirrorable for the oracle."""
    if block_col is not None:
        base = df.select(
            F.col(id_col).alias("id"),
            F.col(vec_col).alias("vec"),
            F.col(block_col).alias("blk"),
        )
        cands = (
            base.alias("a")
            .join(
                base.alias("b"),
                (F.col("a.blk") == F.col("b.blk"))
                & (F.col("a.id") < F.col("b.id")),
            )
            .select(
                F.col("a.id").alias("id1"),
                F.col("b.id").alias("id2"),
                F.col("a.vec").alias("vec1"),
                F.col("b.vec").alias("vec2"),
            )
        )
    else:
        from .similarity import lsh_buckets

        assert lsh_dim is not None
        bucketed = lsh_buckets(
            df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("vec")),
            lsh_dim, "vec", lsh_bits, lsh_tables, seed,
        )
        a = bucketed.hint("merge").alias("a")
        b = bucketed.hint("merge").alias("b")
        cands = (
            a.join(
                b,
                (F.col("a.table") == F.col("b.table"))
                & (F.col("a.bucket") == F.col("b.bucket"))
                & (F.col("a.id") < F.col("b.id")),
            )
            .select(
                F.col("a.id").alias("id1"),
                F.col("b.id").alias("id2"),
                F.col("a.vec").alias("vec1"),
                F.col("b.vec").alias("vec2"),
            )
            .dropDuplicates(["id1", "id2"])
        )

    dot = F.aggregate(
        F.zip_with("vec1", "vec2", lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    nrm1 = F.sqrt(F.aggregate("vec1", F.lit(0.0), lambda acc, x: acc + x * x))
    nrm2 = F.sqrt(F.aggregate("vec2", F.lit(0.0), lambda acc, x: acc + x * x))
    # NULL cosine for zero-norm vectors (ANSI divide-by-zero guard; a
    # zero vector has no cosine and drops out of the threshold filter)
    cos = F.when(nrm1 * nrm2 > 0, F.round(dot / (nrm1 * nrm2), 4))
    return (
        cands.select("id1", "id2", cos.alias("cosine"))
        .filter(F.col("cosine") >= threshold)
    )


# -- Near-dup clustering (canonical assignment) ------------------------------

def neardup_clusters(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """(id, cluster) — connected components over a near-dup pair list, the
    canonicalization step every dedup pipeline needs after pair detection:
    cluster = min doc id reachable through near-dup edges (so keeping
    `id == cluster` keeps exactly one survivor per duplicate class, and
    singletons keep themselves).

    The pair list runs through `graph._cc_labels`, the pointer-doubling
    (hash-to-min) loop behind `graph.connected_components`: O(log d)
    checkpointed rounds for a component of diameter d, iterated to a
    fixpoint, so a long near-dup chain still lands in one cluster. The
    component_size join of `connected_components` is skipped; nothing
    here needs it.

    Scale shape: iteration runs ONLY over edge-connected nodes — after
    dedup did its job those are a vanishing fraction of the corpus — so
    per-round shuffles are O(E + dup-class members), never O(docs).
    Singletons (the 10^12-doc bulk at target scale) join the result once
    at the end via a single anti-join with cluster = own id; dragging them
    through every propagation round (the round-1 shape) would shuffle the
    whole corpus per iteration for labels that provably never change."""
    labels = _cc_labels(
        pairs.select(F.col("id1").alias("src"), F.col("id2").alias("dst"))
    ).select(F.col("node").alias("id"), "label")
    singletons = (
        docs.select(F.col(id_col).alias("id"))
        .distinct()
        .join(labels.select("id"), "id", "left_anti")
        .withColumn("label", F.col("id"))
    )
    return labels.unionByName(singletons).select(
        "id", F.col("label").alias("cluster")
    )


def incremental_minhash_pairs(
    batch: DataFrame,
    index: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    threshold: float = 0.7,
    seed: int = 42,
    max_bucket: "int | None" = 10_000,
    index_buckets: "DataFrame | None" = None,
) -> DataFrame:
    """(batch_id, index_id, jaccard) — daily-increment NEAR-dup dedup: the
    LSH twin of curation.incremental_dedup's exact-digest anti-join. Each
    new-batch document is probed against the already-ingested corpus's
    banded signature index; emitted pairs are candidates that VERIFY at
    exact shingle Jaccard >= threshold (so output is LSH-parameter-free
    wherever recall is complete, same contract as minhash_lsh_pairs —
    which is what lets the driver's brute-force oracle check it exactly).

    Production shape: the index side's (band, bucket) table is the thing a
    pipeline PERSISTS and appends to each day (signatures never recompute
    for ingested docs) — pass it as `index_buckets` ((band, bucket,
    doc_id) rows, the artifact `jobs/run_dedup.py --write-index` emits)
    and the index side's signature pipeline is skipped entirely; `index`
    is then read only for the shingle sets of verify-candidates (a
    semi-join-pruned vanishing fraction). Without `index_buckets` the
    buckets are derived from `index` on the fly (must use the same
    bands/num_hashes/seed). The batch side streams through signature ->
    bucket -> probe. The probe is a batch-vs-index equi-join on
    (band, bucket) — never a self-join — so batch-internal duplicates are
    out of scope here (run minhash_lsh_pairs/exact_dedup within the batch
    for those).

    Hot buckets are capped on BOTH sides by the INDEX's bucket population
    (the side that accumulates duplicate classes across days): an
    over-cap bucket would make the probe quadratic, and its members are
    exactly the exact-duplicate classes incremental_dedup's digest
    anti-join already removes upstream."""
    assert num_hashes % bands == 0
    rpb = num_hashes // bands
    sb = minhash_signatures(
        batch, text_col, id_col, n, num_hashes, seed
    ).filter(F.col("sig").isNotNull())
    bb = _banded_buckets(sb, bands, rpb).select(
        "band", "bucket", F.col("id").alias("batch_id")
    )
    if index_buckets is not None:
        bi = index_buckets.select(
            "band", "bucket", F.col("doc_id").alias("index_id")
        )
    else:
        si = minhash_signatures(
            index, text_col, id_col, n, num_hashes, seed
        ).filter(F.col("sig").isNotNull())
        bi = _banded_buckets(si, bands, rpb).select(
            "band", "bucket", F.col("id").alias("index_id")
        )
    bi, hot = cap_heavy_keys(bi, ["band", "bucket"], max_bucket)
    if hot is not None:
        bb = bb.join(F.broadcast(hot), ["band", "bucket"], "left_anti")
    cands = (
        bb.join(bi, ["band", "bucket"])
        .select("batch_id", "index_id")
        .dropDuplicates(["batch_id", "index_id"])
        # three consumers below (pair frame + both id-set prunes): truncate
        # lineage so Catalyst doesn't replicate the LSH probe per consumer
        .localCheckpoint(eager=False)
    )
    shb = _shingle_id_sets(
        batch.join(
            cands.select(F.col("batch_id").alias("cid")).distinct(),
            F.col(id_col) == F.col("cid"),
            "left_semi",
        ),
        text_col,
        id_col,
        n,
    ).select(F.col("id").alias("batch_id"), F.col("sids").alias("sh1"))
    shi = _shingle_id_sets(
        index.join(
            cands.select(F.col("index_id").alias("cid")).distinct(),
            F.col(id_col) == F.col("cid"),
            "left_semi",
        ),
        text_col,
        id_col,
        n,
    ).select(F.col("id").alias("index_id"), F.col("sids").alias("sh2"))
    return (
        cands.join(shb, "batch_id")
        .join(shi, "index_id")
        .withColumn("inter", F.size(F.array_intersect("sh1", "sh2")))
        .select(
            "batch_id",
            "index_id",
            F.round(
                F.col("inter")
                / (F.size("sh1") + F.size("sh2") - F.col("inter")),
                6,
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def _deletion_variants(df: DataFrame, key_col: str, id_col: str) -> DataFrame:
    """(id, key, v) — the key itself plus every 1-deletion variant.
    Fan-out is O(len(key)) per row: linear, shuffle-free, the FastSS
    neighborhood generation."""
    k = F.lower(F.col(key_col))
    out = df.select(F.col(id_col).alias("id"), k.alias("_k"))
    arr = F.when(F.length("_k") < 1, F.array(F.col("_k"))).otherwise(
        F.concat(
            F.array(F.col("_k")),
            F.transform(
                F.sequence(F.lit(1), F.length("_k")),
                lambda i: F.concat(
                    F.col("_k").substr(F.lit(1), i - 1),
                    F.col("_k").substr(i + 1, F.length("_k")),
                ),
            ),
        )
    )
    return (
        out.select("id", F.col("_k").alias("key"), F.explode(arr).alias("v"))
        .distinct()
    )


def fuzzy_key_pairs(
    left: DataFrame,
    right: DataFrame,
    key_col: str = "key",
    id_col: str = "id",
) -> DataFrame:
    """(id1, id2, key1, key2, edit_dist) — fuzzy key matching (entity
    resolution / record linkage) via the deletion-neighborhood blocking
    scheme (FastSS, public spell-correction-at-scale technique): two keys
    within edit distance 1 ALWAYS share a member of each other's
    {key} ∪ {1-deletion variants} set, so the equi-join on variants has
    EXACT recall for distance <= 1 — no similarity scan, no crossjoin.
    Candidates are verified with exact Levenshtein and deduplicated;
    exact-equal keys come out with edit_dist 0.

    Scale shape: neighborhood explode is linear (len(key) variants per
    row, generated map-side), the variant equi-join is one hash shuffle
    on short strings, and verification is a narrow levenshtein
    projection on candidates only. Hot variants (e.g. many keys sharing
    a deletion) bound fan-out by the true near-dup class size — the
    same guarantee class as the LSH bucket join, but with exact recall.

    No reference counterpart (SURVEY §2.8): record-linkage support for
    the LLM-pipeline family (author/source canonicalization, fuzzy URL
    host repair, label-key reconciliation)."""
    vl = _deletion_variants(left, key_col, id_col)
    vr = _deletion_variants(right, key_col, id_col)
    cand = (
        vl.join(vr, "v")
        .select(
            vl["id"].alias("id1"),
            vr["id"].alias("id2"),
            vl["key"].alias("key1"),
            vr["key"].alias("key2"),
        )
        .distinct()
    )
    return cand.select(
        "id1",
        "id2",
        "key1",
        "key2",
        F.levenshtein("key1", "key2").alias("edit_dist"),
    ).filter(F.col("edit_dist") <= 1)


def _portable_sids(df, text_col, id_col, n):
    """(id, sid) distinct 60-bit shingle ids per doc — simhash_token_hash
    over the n-token string, deliberately NOT the fast xxhash64
    production path, so every number downstream is reproducible in any
    engine with md5."""
    t = tokens_col(F.lower(F.col(text_col)))
    base = df.select(F.col(id_col).alias("id"), t.alias("t")).where(
        F.size("t") >= n
    )
    sh = base.select(
        "id",
        F.explode(
            F.array_distinct(
                F.transform(
                    F.sequence(F.lit(0), F.size("t") - n),
                    lambda i: F.concat_ws(
                        " ", *[F.element_at("t", i + 1 + j) for j in range(n)]
                    ),
                )
            )
        ).alias("s"),
    )
    return sh.select(
        "id", simhash_token_hash(F.col("s")).alias("sid")
    ).distinct()


def _minhash_sig_from_sids(sid, num_hashes, seed):
    """num_hashes-column MinHash signature table over a (id, sid) frame
    (same (a*x+b) mod p family as minhash_signatures, portable ids)."""
    coeffs = _minhash_coeffs(num_hashes, seed)
    x = sid.select("id", (F.col("sid") % F.lit(1 << 31)).alias("x"))
    aggs = [
        F.min((F.col("x") * F.lit(a) + F.lit(b)) % F.lit(MINHASH_P)).alias(
            f"h{i}"
        )
        for i, (a, b) in enumerate(coeffs)
    ]
    return x.groupBy("id").agg(*aggs)


def _exact_jaccard_truth(sid, threshold):
    """(id1, id2) pairs whose exact shingle-set Jaccard >= threshold —
    the ground truth the banding scoreboards measure against."""
    cnt = sid.groupBy("id").agg(F.count("*").alias("nsh"))
    inter = (
        sid.alias("a")
        .join(
            sid.alias("b"),
            (F.col("a.sid") == F.col("b.sid"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .groupBy(F.col("a.id").alias("id1"), F.col("b.id").alias("id2"))
        .agg(F.count("*").alias("inter"))
    )
    return (
        inter.join(
            cnt.select(F.col("id").alias("id1"), F.col("nsh").alias("ca")),
            "id1",
        )
        .join(
            cnt.select(F.col("id").alias("id2"), F.col("nsh").alias("cb")),
            "id2",
        )
        .where(
            F.col("inter") / (F.col("ca") + F.col("cb") - F.col("inter"))
            >= threshold
        )
        .select("id1", "id2")
    )


def _banding_scoreboard(sig, truth, bands, rows_per_band):
    """One metrics row (bands, rows_per_band, n_candidates, n_truth,
    true_pairs, precision, recall) for one band layout over a signature
    table: candidates = distinct pairs sharing >= 1 band bucket, scored
    against `truth` through a full-outer join (one shuffle on the pair
    key, never a crossJoin)."""
    bucket_structs = [
        F.struct(
            F.lit(bi).alias("band"),
            F.concat_ws(
                ",",
                *[
                    F.col(f"h{bi * rows_per_band + r}").cast("string")
                    for r in range(rows_per_band)
                ],
            ).alias("key"),
        )
        for bi in range(bands)
    ]
    buckets = sig.select(
        "id", F.explode(F.array(*bucket_structs)).alias("b")
    ).select("id", F.col("b.band").alias("band"), F.col("b.key").alias("key"))
    cand = (
        buckets.alias("p")
        .join(
            buckets.alias("q"),
            (F.col("p.band") == F.col("q.band"))
            & (F.col("p.key") == F.col("q.key"))
            & (F.col("p.id") < F.col("q.id")),
        )
        .select(F.col("p.id").alias("id1"), F.col("q.id").alias("id2"))
        .distinct()
    )
    lab = cand.withColumn("isc", F.lit(1)).join(
        truth.withColumn("ist", F.lit(1)), ["id1", "id2"], "full_outer"
    )
    return lab.agg(
        F.coalesce(F.sum("isc"), F.lit(0)).cast("long").alias("n_candidates"),
        F.coalesce(F.sum("ist"), F.lit(0)).cast("long").alias("n_truth"),
        F.coalesce(F.sum(F.col("isc") * F.col("ist")), F.lit(0))
        .cast("long")
        .alias("true_pairs"),
    ).select(
        F.lit(bands).cast("int").alias("bands"),
        F.lit(rows_per_band).cast("int").alias("rows_per_band"),
        "n_candidates",
        "n_truth",
        "true_pairs",
        F.when(
            F.col("n_candidates") > 0,
            F.round(
                F.col("true_pairs").cast("double") / F.col("n_candidates"), 6
            ),
        ).alias("precision"),
        F.when(
            F.col("n_truth") > 0,
            F.round(F.col("true_pairs").cast("double") / F.col("n_truth"), 6),
        ).alias("recall"),
    )


def _check_band_layouts(
    caller: str, layouts: "list[tuple[int, int]]", num_hashes: int
) -> None:
    """Reject (bands, rows_per_band) layouts before any Spark job: an
    empty list, a zero row count (every doc lands in one bucket per band,
    so every pair is silently a candidate), a zero band count (no band
    column to join on) or more hashes than the signature has (an
    unresolved h{i} column, late)."""
    if not layouts:
        raise ValueError(f"{caller}: layouts must not be empty")
    for bands, rows_per_band in layouts:
        if bands < 1 or rows_per_band < 1 or bands * rows_per_band > num_hashes:
            raise ValueError(
                f"{caller}: layout ({bands}, {rows_per_band}) needs "
                f"1 <= bands * rows_per_band <= num_hashes={num_hashes}"
            )


def lsh_candidate_eval(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    rows_per_band: int = 4,
    threshold: float = 0.7,
    seed: int = 7,
) -> DataFrame:
    """One row (n_candidates, n_truth, true_pairs, precision, recall) —
    the banding-quality scoreboard every MinHash deployment runs before
    picking (bands, rows): precision/recall of the CANDIDATE pair set
    (pairs sharing >= 1 band bucket, BEFORE any verify stage) against the
    exact-Jaccard >= threshold ground truth on the same shingle sets.
    Recall here is the S-curve catch rate 1-(1-j^r)^b realized on the
    actual corpus; precision is the verify-stage workload multiplier
    (1/precision candidate verifications per true duplicate). The
    dedup-side twin of ann_recall_eval.

    Unlike the production path (minhash_signatures, xxhash64 shingle
    ids), the eval hashes shingles with the engine-portable md5-derived
    60-bit id (`simhash_token_hash`) so the ENTIRE pipeline — signatures,
    banding, candidate join, exact-Jaccard truth — is SQL-mirrorable by
    the DuckDB oracle, hash constants included. That trades the
    string-shingle build cost back in, acceptable for a diagnostic run
    over a sample; the production signatures stay on the fast path.

    Scale: the eval is meant for a SAMPLED corpus (its exact-Jaccard
    truth is inherently quadratic in shingle-sharing docs); the
    signature/banding side scales like minhash_lsh itself."""
    _check_band_layouts(
        "lsh_candidate_eval", [(bands, rows_per_band)], num_hashes
    )
    sid = _portable_sids(df, text_col, id_col, n)
    sig = _minhash_sig_from_sids(sid, num_hashes, seed)
    truth = _exact_jaccard_truth(sid, threshold)
    return _banding_scoreboard(sig, truth, bands, rows_per_band).drop(
        "bands", "rows_per_band"
    )


def lsh_bands_sweep(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_hashes: int = 16,
    layouts: "list[tuple[int, int]] | None" = None,
    threshold: float = 0.7,
    seed: int = 7,
    sample_mod: int | None = None,
) -> DataFrame:
    """One row PER BAND LAYOUT (bands, rows_per_band, n_candidates,
    n_truth, true_pairs, precision, recall) — the operating-point chooser
    for MinHash banding: the same `num_hashes`-hash signature sliced as
    8x2 / 4x4 / 2x8 and scored against the SAME exact-Jaccard truth, so
    the precision-recall trade of the S-curve 1-(1-j^r)^b is read off one
    result instead of three runs (dedup_threshold_curve's pick-the-knob
    pattern applied to the banding knob). More bands of fewer rows ->
    recall up / precision down; the sweep shows where the corpus actually
    sits on that curve.

    The signature and truth tables each feed every layout, and Catalyst
    has no CTE sharing — both take an eager localCheckpoint (they are
    doc-bounded and pair-bounded respectively), so the sweep costs ONE
    signature build + ONE exact-Jaccard join + |layouts| bucket joins,
    not |layouts| re-derivations of everything (graph_modularity's
    lesson this round). Ordered by bands desc — deterministic, and the
    recall-heaviest layout leads.

    `sample_mod` is the production knob the docstring's sampled-corpus
    contract rests on: keep a doc iff its md5 bucket (the engine-portable
    hash_sample idiom) is 0 mod sample_mod, i.e. a deterministic,
    rerun-stable 1/sample_mod sample. The exact-Jaccard truth is
    inherently quadratic in shingle document frequency — at 10^12 docs
    NO exact all-pairs truth is computable, and the published procedure
    (and the 10x scale-evidence row) holds the evaluated sample at a
    FIXED size while the corpus grows; banding metrics on a uniform
    sample are unbiased estimates of the corpus metrics. None = whole
    input (the test-SF default the oracle mirrors)."""
    if layouts is None:
        layouts = [(8, 2), (4, 4), (2, 8)]
    _check_band_layouts("lsh_bands_sweep", layouts, num_hashes)
    if sample_mod is not None and sample_mod > 1:
        bucket = F.pmod(
            simhash_token_hash(
                F.concat(F.lit("lshsweep_"), F.col(id_col).cast("string"))
            ),
            F.lit(sample_mod),
        )
        df = df.where(bucket == 0)
    sid = _portable_sids(df, text_col, id_col, n).localCheckpoint(eager=True)
    sig = _minhash_sig_from_sids(sid, num_hashes, seed).localCheckpoint(
        eager=True
    )
    truth = _exact_jaccard_truth(sid, threshold).localCheckpoint(eager=True)
    out = None
    for bands, rows_per_band in layouts:
        row = _banding_scoreboard(sig, truth, bands, rows_per_band)
        out = row if out is None else out.unionByName(row)
    return out.orderBy(F.desc("bands"))


def simhash_hamming_curve(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    signatures: DataFrame | None = None,
) -> DataFrame:
    """(max_hamming, n_pairs) for thresholds 0..`max_hamming` — the
    pick-the-knob sensitivity curve for the SimHash hamming radius, from
    ONE pair computation (dedup_threshold_curve's pattern applied to the
    pigeonhole blocker): cumulative near-dup pair counts at each radius,
    so the dedup rollout reads exact-dup mass (h=0) vs near-dup tail
    growth off a single result. Blocking is complete for
    h <= blocks - seg_match, so each count is exact as long as no
    blocking bucket exceeds 10,000 members. The pairs come from
    simhash_neardup_pairs at its defaults max_bucket=10_000,
    oversize='drop': on duplicate-heavy corpora an oversized
    (combo, key) bucket yields no candidates, and the counts are then
    lower bounds, not exact.

    The pair table collapses to the <=max_hamming+1-row hamming bucket
    histogram BEFORE the threshold frame touches it, so the deliberate
    threshold cross joins two bounded frames (4 x 4), never the pair
    volume; zero-count radii still emit rows (left join + conditional
    sum). Pass `signatures=` to consume the persisted
    simhash_signatures/ artifact like simhash_neardup does."""
    from ..session import values_df

    pairs = simhash_neardup_pairs(
        df, text_col, id_col, max_hamming=max_hamming, signatures=signatures
    )
    buckets = pairs.groupBy("hamming").agg(F.count("*").alias("cnt"))
    th = values_df(
        df.sparkSession,
        [(h,) for h in range(max_hamming + 1)],
        "max_hamming int",
    )
    return (
        th.join(buckets, F.lit(True), "left")
        .groupBy("max_hamming")
        .agg(
            F.coalesce(
                F.sum(
                    F.when(
                        F.col("hamming") <= F.col("max_hamming"),
                        F.col("cnt"),
                    ).otherwise(F.lit(0))
                ),
                F.lit(0),
            )
            .cast("long")
            .alias("n_pairs")
        )
        .orderBy("max_hamming")
    )
