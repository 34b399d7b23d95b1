"""Sinks (SURVEY.md §2.1): the reference's four export targets re-expressed
as Spark writers, plus the metrics/lineage append used by the pipeline.

Reference semantics (src/utils/exporter.py):
  * export_to_csv  (exporter.py:15-50)  — DataFrame -> csv; dict-of-frames ->
    one csv per key; unstructured page dict -> rows (page, content).
  * export_to_json (exporter.py:52-72)  — records orient, UTF-8, non-ASCII
    preserved (ensure_ascii=False).
  * export_to_sql  (exporter.py:74-113) — SQLAlchemy engine or SQLite file,
    if_exists='replace', one table per dict key.
  * export_to_excel(exporter.py:115-136)— one sheet per key, sheet names
    truncated to 31 chars. NOT a scale path (driver-side convenience only).

Our scale stance: csv/json/jdbc writers are distributed (one file/partition,
executor-side). Excel and the no-connection-string SQLite fallback
materialize on the driver and are gated behind explicit row limits — they
exist for capability parity, not for the 100 TB path (the primary sink is
the partitioned parquet/Iceberg write in pipeline.run_pipeline).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

DRIVER_SIDE_ROW_LIMIT = 100_000


def spans_to_page_rows(df: DataFrame) -> DataFrame:
    """The reference's 'unstructured dict -> (page, content) rows' shape
    (exporter.py:33-42): text spans exploded to one row per page, ordered
    by doc and page index."""
    s = F.explode("spans").alias("s")
    out = df.select("doc_id", s).select(
        "doc_id",
        F.col("s.kind").alias("kind"),
        F.col("s.order").alias("order"),
        F.concat(F.lit("page_"), (F.col("s.offset") + 1).cast("string")).alias(
            "page"
        ),
        F.col("s.text").alias("content"),
    )
    return out.filter(F.col("kind") == "text").select(
        "doc_id", "page", "content", "order"
    )


def _flatten_for_text_sink(df: DataFrame) -> DataFrame:
    """csv cannot hold arrays/maps/structs: serialize complex columns to
    JSON strings (the reference's frames are already flat)."""
    cols = []
    for f in df.schema.fields:
        if f.dataType.typeName() in ("array", "map", "struct"):
            cols.append(F.to_json(F.col(f.name)).alias(f.name))
        else:
            cols.append(F.col(f.name))
    return df.select(*cols)


def export_csv(df: DataFrame, path: str, single_file: bool = False) -> None:
    """Distributed CSV sink (exporter.py:15-50). single_file coalesces to
    one part (small results only — a 100 TB result stays partitioned)."""
    out = _flatten_for_text_sink(df)
    if single_file:
        out = out.coalesce(1)
    out.write.mode("overwrite").option("header", True).csv(path)


def export_json(df: DataFrame, path: str, single_file: bool = False) -> None:
    """Distributed JSON-lines sink (exporter.py:52-72; Spark writes UTF-8
    with non-ASCII preserved, matching ensure_ascii=False)."""
    out = df.coalesce(1) if single_file else df
    out.write.mode("overwrite").json(path)


def export_sql(
    df: DataFrame,
    table: str,
    connection_string: str | None = None,
    sqlite_path: str | None = None,
    mode: str = "overwrite",
) -> None:
    """SQL sink (exporter.py:74-113). With a JDBC connection string this is
    the distributed `df.write.jdbc` path (mode='overwrite' mirrors
    if_exists='replace'). With sqlite_path it mirrors the reference's
    local-SQLite convenience: driver-side, bounded by DRIVER_SIDE_ROW_LIMIT
    (no SQLite JDBC driver is assumed on executors)."""
    if connection_string:
        df.write.mode(mode).jdbc(connection_string, table)
        return
    if not sqlite_path:
        raise ValueError("need connection_string or sqlite_path")
    n = df.count()
    if n > DRIVER_SIDE_ROW_LIMIT:
        raise ValueError(
            f"sqlite fallback is driver-side; {n} rows exceeds "
            f"{DRIVER_SIDE_ROW_LIMIT}. Use a JDBC connection_string."
        )
    import sqlite3

    pdf = _flatten_for_text_sink(df).toPandas()
    con = sqlite3.connect(sqlite_path)
    try:
        pdf.to_sql(table, con, if_exists="replace", index=False)
    finally:
        con.close()


def _col_letter(i: int) -> str:
    s = ""
    i += 1
    while i:
        i, r = divmod(i - 1, 26)
        s = chr(65 + r) + s
    return s


def _write_minimal_xlsx(sheets: dict, path: str) -> None:
    """Dependency-free .xlsx writer (the format is a zip of OOXML parts —
    public ECMA-376 structure): one worksheet per sheet, header row +
    values, numbers as native cells, everything else as inline strings.
    Enough for the reference's export surface (exporter.py:115-136 writes
    plain tables, no styling)."""
    import zipfile
    from xml.sax.saxutils import escape

    ns = 'xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"'
    rel_ns = "http://schemas.openxmlformats.org/officeDocument/2006/relationships"
    pkg_rel_ns = "http://schemas.openxmlformats.org/package/2006/relationships"

    sheet_xml = []
    for name, pdf in sheets.items():
        rows = [list(map(str, pdf.columns))] + [
            list(t) for t in pdf.itertuples(index=False, name=None)
        ]
        row_parts = []
        for r, row in enumerate(rows, 1):
            cells = []
            for c, v in enumerate(row):
                ref = f"{_col_letter(c)}{r}"
                is_num = (
                    isinstance(v, (int, float))
                    and not isinstance(v, bool)
                    and v == v  # not NaN
                )
                if r > 1 and is_num:
                    cells.append(f'<c r="{ref}"><v>{v}</v></c>')
                elif v is None or (isinstance(v, float) and v != v):
                    cells.append(f'<c r="{ref}"/>')
                else:
                    cells.append(
                        f'<c r="{ref}" t="inlineStr"><is><t>'
                        f"{escape(str(v))}</t></is></c>"
                    )
            row_parts.append(f'<row r="{r}">' + "".join(cells) + "</row>")
        sheet_xml.append(
            f'<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
            f"<worksheet {ns}><sheetData>" + "".join(row_parts)
            + "</sheetData></worksheet>"
        )

    names = list(sheets)
    wb_sheets = "".join(
        f'<sheet name="{escape(n, {chr(34): "&quot;"})}" sheetId="{i+1}" '
        f'r:id="rId{i+1}"/>'
        for i, n in enumerate(names)
    )
    workbook = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        f'<workbook {ns} xmlns:r="{rel_ns}"><sheets>{wb_sheets}</sheets>'
        "</workbook>"
    )
    wb_rels = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        f'<Relationships xmlns="{pkg_rel_ns}">'
        + "".join(
            f'<Relationship Id="rId{i+1}" Type="{rel_ns}/worksheet" '
            f'Target="worksheets/sheet{i+1}.xml"/>'
            for i in range(len(names))
        )
        + "</Relationships>"
    )
    root_rels = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        f'<Relationships xmlns="{pkg_rel_ns}">'
        f'<Relationship Id="rId1" Type="{rel_ns}/officeDocument" '
        'Target="xl/workbook.xml"/></Relationships>'
    )
    types = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<Types xmlns="http://schemas.openxmlformats.org/package/2006/'
        'content-types">'
        '<Default Extension="rels" ContentType="application/vnd.'
        'openxmlformats-package.relationships+xml"/>'
        '<Default Extension="xml" ContentType="application/xml"/>'
        '<Override PartName="/xl/workbook.xml" ContentType="application/vnd.'
        'openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>'
        + "".join(
            f'<Override PartName="/xl/worksheets/sheet{i+1}.xml" '
            'ContentType="application/vnd.openxmlformats-officedocument.'
            'spreadsheetml.worksheet+xml"/>'
            for i in range(len(names))
        )
        + "</Types>"
    )
    with zipfile.ZipFile(path, "w", zipfile.ZIP_DEFLATED) as z:
        z.writestr("[Content_Types].xml", types)
        z.writestr("_rels/.rels", root_rels)
        z.writestr("xl/workbook.xml", workbook)
        z.writestr("xl/_rels/workbook.xml.rels", wb_rels)
        for i, xml in enumerate(sheet_xml):
            z.writestr(f"xl/worksheets/sheet{i+1}.xml", xml)


def export_excel(frames: dict[str, DataFrame], path: str) -> None:
    """Excel sink (exporter.py:115-136): one sheet per key, names truncated
    to 31 chars. Driver-side convenience, bounded. Uses pandas' engine when
    one is installed; otherwise falls back to the built-in minimal OOXML
    writer (this runtime ships no openpyxl/xlsxwriter), so the sink is
    functional either way."""
    import pandas as pd

    pdfs = {}
    for key, df in frames.items():
        n = df.count()
        if n > DRIVER_SIDE_ROW_LIMIT:
            raise ValueError(f"sheet {key!r}: {n} rows exceeds driver limit")
        pdfs[key[:31]] = _flatten_for_text_sink(df).toPandas()
    try:
        with pd.ExcelWriter(path) as xw:
            for sheet, pdf in pdfs.items():
                pdf.to_excel(xw, sheet_name=sheet, index=False)
    except (ImportError, ModuleNotFoundError):
        _write_minimal_xlsx(pdfs, path)
