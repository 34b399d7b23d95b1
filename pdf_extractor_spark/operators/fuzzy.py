"""Fuzzy string matching over entity dictionaries.

Entity-resolution blocking for a training-data pipeline: product/entity
names arrive misspelled, re-hyphenated, or re-cased, and the cleanup step
needs candidate pairs WITHOUT an O(n^2) cross join. Two complementary
blockers:

  * levenshtein_name_pairs — edit-distance pairs over the DISTINCT-name
    dictionary, blocked by a cheap structural key. The corpus is never
    self-joined: names are first collapsed to the dictionary (vocabulary-
    sized, not corpus-sized — the distinct-aggregate is the only
    corpus-scale shuffle), so at 10^12 rows the quadratic part runs over
    thousands of names, not trillions of rows.
  * phonetic_groups — a soundex-like consonant-skeleton key (first letter +
    consonants). Pure regexp chains, no backreferences, so the identical
    expression runs on any RE2-class engine and the DuckDB oracle mirrors
    it byte-for-byte.

Reference parity: the reference's template auto-select scores fuzzy
keyword matches per document (/root/reference/src/core/validator.py
keyword scoring); these operators lift that idea to corpus scale as
dictionary-level candidate generation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..session import cap_heavy_keys


def name_dictionary(
    df: DataFrame, name_col: str, id_col: str
) -> DataFrame:
    """(name, n_rows, min_id) — collapse a corpus column to its distinct-
    value dictionary with per-value support counts. One hash-aggregate
    with map-side combine: the shuffle carries one row per distinct name
    per mapper, the only corpus-scale stage in this family."""
    return (
        df.where(F.col(name_col).isNotNull())
        .groupBy(F.col(name_col).alias("name"))
        .agg(
            F.count("*").alias("n_rows"),
            F.min(F.col(id_col)).alias("min_id"),
        )
    )


def levenshtein_name_pairs(
    df: DataFrame,
    name_col: str,
    id_col: str,
    max_dist: int = 2,
    max_block: "int | None" = 10_000,
) -> DataFrame:
    """(name_a, name_b, dist, n_a, n_b) — near-duplicate NAME pairs from
    the distinct-name dictionary: same block key (last whitespace token —
    for 'adjective noun' product names, the head noun), name_a < name_b,
    1 <= levenshtein <= max_dist.

    Physical shape: dictionary aggregate (corpus-scale, map-side combined)
    -> self-equi-join on the block key over the DICTIONARY (vocabulary-
    sized) -> JVM levenshtein filter. The block-key join bounds the
    quadratic term to the largest block; `max_block` drops blocks past
    that cap before the join (session.cap_heavy_keys) so one degenerate
    head noun cannot go quadratic in the dictionary size."""
    dict_df, _ = cap_heavy_keys(
        name_dictionary(df, name_col, id_col).withColumn(
            "blk", F.element_at(F.split(F.col("name"), r"\s+"), -1)
        ),
        "blk",
        max_block,
    )
    a = dict_df.select(
        F.col("blk"),
        F.col("name").alias("name_a"),
        F.col("n_rows").alias("n_a"),
    )
    b = dict_df.select(
        F.col("blk"),
        F.col("name").alias("name_b"),
        F.col("n_rows").alias("n_b"),
    )
    return (
        a.join(b, "blk")
        .where(F.col("name_a") < F.col("name_b"))
        .withColumn("dist", F.levenshtein("name_a", "name_b"))
        .where(F.col("dist") <= F.lit(max_dist))
        .select("name_a", "name_b", "dist", "n_a", "n_b")
    )


def phonetic_key(name: "F.Column") -> "F.Column":
    """Soundex-like consonant skeleton: uppercase, strip non-letters, keep
    the first letter plus subsequent non-AEIOUHWY letters, truncate to 5.
    Deliberately backreference-free (collapse-repeats needs '(.)\\1' which
    RE2 engines reject), so the SAME regexp chain runs in Spark (Java
    regex) and DuckDB (RE2) — the oracle mirrors it exactly."""
    letters = F.regexp_replace(F.upper(name), "[^A-Z]", "")
    return F.when(letters == "", F.lit("")).otherwise(
        F.concat(
            F.substring(letters, 1, 1),
            F.substring(
                F.regexp_replace(F.substring(letters, 2, 1000), "[AEIOUHWY]", ""),
                1,
                4,
            ),
        )
    )


def phonetic_groups(
    df: DataFrame, name_col: str, id_col: str, token_index: int = 1
) -> DataFrame:
    """(pkey, n_words, n_rows, words) — group the dictionary of the
    `token_index`-th whitespace token of `name_col` by phonetic key.
    Groups with n_words > 1 are spelling-variant candidates ('smal' vs
    'small'). `words` is the sorted '|'-joined member list — deterministic
    output regardless of shuffle order.

    Physical shape: word-dictionary aggregate (corpus-scale) -> phonetic
    key as a pure projection -> key aggregate over the dictionary
    (vocabulary-sized). No join, no UDF."""
    words = (
        df.where(F.col(name_col).isNotNull())
        .select(
            F.element_at(
                F.split(F.col(name_col), r"\s+"), token_index
            ).alias("word")
        )
        .where(F.col("word").isNotNull() & (F.col("word") != ""))
        .groupBy("word")
        .agg(F.count("*").alias("n_rows"))
    )
    return (
        words.withColumn("pkey", phonetic_key(F.col("word")))
        .groupBy("pkey")
        .agg(
            F.count("*").alias("n_words"),
            F.sum("n_rows").alias("n_rows"),
            F.array_join(F.array_sort(F.collect_list("word")), "|").alias(
                "words"
            ),
        )
    )


def linkage_scores(
    df: DataFrame,
    name_col: str,
    id_col: str,
    max_dist: int = 2,
    match_threshold: float = 3.0,
) -> DataFrame:
    """(name_a, name_b, dist, phonetic_eq, score, is_match) — Fellegi-
    Sunter-style record-linkage scoring over the levenshtein candidate
    pairs: fixed agreement weights per comparator (edit distance 0/1/2 ->
    +4.0/+2.5/+1.0; first-token phonetic-key agreement -> +1.5 else
    -0.5; the shared head-noun block contributes its +0.5 by
    construction), decision = score >= match_threshold. The weights are
    FIXED PRIORS (ln m/u ratios a labeled corpus would estimate) — the
    pipeline mechanics (comparator fan-in, additive log-weights,
    threshold decision) are the durable part, and the single constant
    table is the swap point for EM-trained weights. 2 dp.

    Physical shape: inherits levenshtein_name_pairs' dictionary-sized
    blocking; the comparators are pure projections over the candidate
    pairs."""
    pairs = levenshtein_name_pairs(df, name_col, id_col, max_dist=max_dist)
    first = lambda c: F.element_at(F.split(c, r"\s+"), 1)  # noqa: E731
    ph_eq = phonetic_key(first(F.col("name_a"))) == phonetic_key(
        first(F.col("name_b"))
    )
    w_dist = (
        F.when(F.col("dist") == 0, 4.0)
        .when(F.col("dist") == 1, 2.5)
        .otherwise(1.0)
    )
    score = F.round(
        w_dist + F.when(ph_eq, 1.5).otherwise(-0.5) + F.lit(0.5), 2
    )
    return pairs.select(
        "name_a",
        "name_b",
        "dist",
        ph_eq.alias("phonetic_eq"),
        score.alias("score"),
        (score >= match_threshold).alias("is_match"),
    )
