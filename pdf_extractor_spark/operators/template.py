"""Template table matching (reference extractor.py:274-292, SURVEY.md §2.2).

Template field extraction itself runs inside the pipeline's fused
classify/extract/validate UDF (operators/validate.py), which calls the
oracle's Python-`re` extractor per document.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

def match_table_by_headers(
    tables: DataFrame,
    template_headers: list[str],
    id_col: str = "doc_id",
    table_col: str = "table_id",
    headers_col: str = "headers",
) -> DataFrame:
    """Template table matching (extractor.py:274-292): per document, pick
    the FIRST extracted table whose uppercased headers intersect the
    template's column headers (the `:286-287` heuristic).

    Columnar: arrays_overlap against the broadcast-literal header list (the
    tiny-dim 'join' surface of SURVEY.md §2.8), then first-per-doc via a
    min-by window on table order — no shuffle beyond the window, which at
    scale partitions on doc_id like everything else."""
    from pyspark.sql import Window

    wanted = F.array(*[F.lit(h.upper()) for h in template_headers])
    hit = F.arrays_overlap(
        F.transform(F.col(headers_col), lambda h: F.upper(h)), wanted
    )
    w = Window.partitionBy(id_col).orderBy(table_col)
    return (
        tables.filter(hit)
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
