"""Classification-audit operators (reference document_classifier.py,
SURVEY.md §2.4).

The per-document classification itself — rule scoring, the optional ML
model and the fusion cascade — runs inside the pipeline's one fused UDF
(operators/validate.classify_extract_validate_udf) via the oracle
functions. This module holds the columnar statistics over labels that
classifiers and filters produce.
"""

from __future__ import annotations


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
