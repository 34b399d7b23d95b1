"""Classification operators (reference document_classifier.py, SURVEY.md §2.4).

Rule scoring is parity-critical Python-`re` territory (`\\b` around
non-ASCII, IGNORECASE unicode case folding), so it runs as ONE Arrow-batched
pandas UDF per document text, compiled patterns cached per worker
(module-level lru_cache in the oracle). The fusion cascade and the ML hook
are columnar when/otherwise.

The patterns dim is tiny (a handful of doc types) — it travels in the UDF
closure, the broadcast-join analogue of the docs x patterns product
(SURVEY.md §2.8 "the one real join surface").
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..config import DocTypePattern

_RULE_RESULT = T.StructType(
    [
        T.StructField("rule_type", T.StringType(), True),
        T.StructField("rule_score", T.DoubleType(), False),
    ]
)


def classify_by_rules_udf(patterns: dict[str, DocTypePattern]):
    from pyspark.sql.functions import pandas_udf

    all_kws = tuple(sorted({kw for p in patterns.values() for kw in p.keywords}))

    @pandas_udf(_RULE_RESULT)
    def _classify(texts):
        import pandas as pd

        from ..oracle.classifier import (
            classify_by_rules,
            keyword_presence_batch,
        )

        presence = keyword_presence_batch(texts, all_kws)
        types, scores = [], []
        for text, present in zip(texts, presence):
            t, s = classify_by_rules(text, patterns, present=present)
            types.append(t)
            scores.append(s)
        return pd.DataFrame({"rule_type": types, "rule_score": scores})

    return _classify


def fuse_columns(
    rule_type: Column,
    rule_score: Column,
    ml_type: Column | None = None,
    ml_score: Column | None = None,
) -> Column:
    """Fusion cascade (document_classifier.py:157-173) as a when/otherwise
    chain -> struct(doc_type, confidence)."""
    ml_type = ml_type if ml_type is not None else F.lit(None).cast("string")
    ml_score = ml_score if ml_score is not None else F.lit(0.0)

    pick = lambda t, s: F.struct(  # noqa: E731
        t.alias("doc_type"), s.cast("double").alias("confidence")
    )
    none = pick(F.lit(None).cast("string"), F.lit(0.0))
    return (
        F.when(ml_score > 0.7, pick(ml_type, ml_score))
        .when(rule_score > 0.6, pick(rule_type, rule_score))
        .when(
            (ml_score > 0) & (rule_score > 0),
            F.when(ml_score > rule_score, pick(ml_type, ml_score)).otherwise(
                pick(rule_type, rule_score)
            ),
        )
        .when(ml_score > 0, pick(ml_type, ml_score))
        .when(rule_score > 0, pick(rule_type, rule_score))
        .otherwise(none)
    )


def cohens_kappa(
    a, b, id_col: str = "doc_id", label_col: str = "accept"
):
    """One row (n, observed_agree, expected_agree, kappa) — Cohen's kappa
    chance-corrected agreement between two labelers over the same items:
    kappa = (p_o - p_e) / (1 - p_e) with p_e from the labelers' marginal
    label distributions. The filter-audit statistic: two curation filters
    that "agree 90%" may agree mostly by chance when both accept 95% of
    the corpus — kappa is the number that says so. Degenerate case
    p_e = 1 (a labeler is constant) reports kappa 0 by convention. 6 dp.

    Physical shape: inner join on the item key (both inputs are typically
    derived from the same scan — AQE handles the exchange), ONE 2x2-ish
    contingency aggregate (label-pair keyed, map-side combined), then
    pure arithmetic over the tiny contingency table collected into a
    single aggregate row. No window, no driver collect."""
    from pyspark.sql import functions as F

    j = a.select(F.col(id_col).alias("_id"), F.col(label_col).alias("_la")).join(
        b.select(F.col(id_col).alias("_id"), F.col(label_col).alias("_lb")),
        "_id",
    )
    cont = j.groupBy("_la", "_lb").agg(F.count("*").alias("c"))
    stats = cont.agg(
        F.sum("c").alias("n"),
        F.sum(F.when(F.col("_la") == F.col("_lb"), F.col("c")).otherwise(0)).alias(
            "agree"
        ),
        # marginal sums of products: sum over labels L of
        # (rows where a=L) * (rows where b=L) — computed from the
        # contingency table itself via two conditional sums per label
        # value; labels are BOOLEAN here so the expansion is closed-form
        F.sum(F.when(F.col("_la"), F.col("c")).otherwise(0)).alias("a_true"),
        F.sum(F.when(F.col("_lb"), F.col("c")).otherwise(0)).alias("b_true"),
    )
    n = F.col("n").cast("double")
    po = F.col("agree") / n
    pe = (
        F.col("a_true") * F.col("b_true")
        + (n - F.col("a_true")) * (n - F.col("b_true"))
    ) / (n * n)
    return stats.select(
        F.col("n").cast("long").alias("n"),
        F.round(po, 6).alias("observed_agree"),
        F.round(pe, 6).alias("expected_agree"),
        F.round(
            F.when(pe >= 1.0, F.lit(0.0)).otherwise((po - pe) / (1.0 - pe)),
            6,
        ).alias("kappa"),
    )
