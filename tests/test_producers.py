"""Span producers (OCR/table, SURVEY.md §7.3-7): stubbed kernels, real
plumbing — output spans feed extract_documents unchanged."""

import pytest
from pyspark.sql import functions as F

from pdf_extractor_spark.pipeline import extract_documents
from pdf_extractor_spark.sources.producers import (
    ocr_producer,
    real_ocr_kernel,
    table_producer,
)


@pytest.fixture(scope="module")
def raw_docs(spark):
    return spark.createDataFrame(
        [("d1", b"%PDF-1.5 fake bytes for ocr", "pt"),
         ("d2", b"%PDF-1.5 other doc!", "zh"),
         ("d3", b"", None)],
        "doc_id string, payload binary, lang string",
    )


def test_ocr_producer_spans(spark, raw_docs):
    out = {r.doc_id: r.spans for r in
           ocr_producer(raw_docs, lang_col="lang").collect()}
    assert set(out) == {"d1", "d2", "d3"}
    s = out["d1"]
    assert [x.offset for x in s] == list(range(len(s)))  # page order
    assert all(x.kind == "text" for x in s)
    assert s[0].text.startswith("[por]")       # tesseract lang map
    assert out["d2"][0].text.startswith("[chi_sim]")
    assert out["d3"][0].text.startswith("[eng]")  # default lang


def test_ocr_deterministic_across_runs(spark, raw_docs):
    a = ocr_producer(raw_docs, lang_col="lang").collect()
    b = ocr_producer(raw_docs, lang_col="lang").collect()
    assert sorted(map(str, a)) == sorted(map(str, b))


def test_table_producer_media_refs(spark, raw_docs):
    out = {r.doc_id: r.spans for r in table_producer(raw_docs).collect()}
    for did, spans in out.items():
        for i, s in enumerate(spans):
            assert s.kind == "table" and s.text is None
            assert s.media_ref == f"table://{did}/{i}"


def test_producer_output_feeds_pipeline(spark, raw_docs):
    spans = ocr_producer(raw_docs, lang_col="lang")
    ext = extract_documents(spans)
    rows = {r.doc_id: r for r in ext.collect()}
    assert set(rows) == {"d1", "d2", "d3"}
    # span invariant holds on produced spans too
    for r in rows.values():
        assert [s.order for s in r.spans] == list(range(len(r.spans)))


def test_real_kernel_is_explicit_stub(spark, raw_docs):
    with pytest.raises(Exception) as ei:
        ocr_producer(raw_docs, kernel=real_ocr_kernel()).collect()
    assert "NotImplementedError" in str(ei.value) or isinstance(
        ei.value, NotImplementedError
    )


def test_dispatch_routes_by_method(spark):
    from pdf_extractor_spark.sources.producers import dispatch_extract

    docs = spark.createDataFrame(
        [
            ("t1", b"plain text doc bytes!", "text", "en"),
            ("o1", b"%PDF scanned bytes", "ocr", "pt"),
            ("b1", b"%PDF with tables..", "tables", None),
            ("u1", b"unknown method doc", "weird", None),  # falls back to text
            ("n1", b"null method doc bytes", None, None),  # falls back to text
        ],
        "doc_id string, payload binary, extraction_method string, lang string",
    )
    out = {r.doc_id: r.spans for r in
           dispatch_extract(docs, lang_col="lang").collect()}
    assert set(out) == {"t1", "o1", "b1", "u1", "n1"}
    assert all(s.kind == "text" for s in out["t1"])
    assert out["o1"][0].text.startswith("[por]")          # OCR path + lang map
    assert all(s.kind == "table" for s in out["b1"])      # table path
    assert all(s.kind == "text" for s in out["u1"])       # default dispatch
    assert all(s.kind == "text" for s in out["n1"])
    # text path content is payload-derived, not OCR hex words
    assert "plain text" in out["t1"][0].text


def test_scan_pdf_dir_globs_like_find_pdfs(spark, tmp_path):
    from pdf_extractor_spark.sources.producers import scan_pdf_dir

    (tmp_path / "a.pdf").write_bytes(b"%PDF-1.4 fake a")
    (tmp_path / "skip.txt").write_bytes(b"not a pdf")
    nested = tmp_path / "sub" / "deeper"
    nested.mkdir(parents=True)
    (nested / "b.pdf").write_bytes(b"%PDF-1.4 fake b longer payload")

    got = {
        r.doc_id.rsplit("/", 1)[-1]: (bytes(r.payload), r.length)
        for r in scan_pdf_dir(spark, str(tmp_path)).collect()
    }
    # recursive glob matches exactly the reference's '**/*.pdf' set and
    # byte payloads round-trip untouched
    assert set(got) == {"a.pdf", "b.pdf"}
    assert got["a.pdf"] == (b"%PDF-1.4 fake a", 15)
    assert got["b.pdf"][0] == b"%PDF-1.4 fake b longer payload"

    flat = {
        r.doc_id.rsplit("/", 1)[-1]
        for r in scan_pdf_dir(spark, str(tmp_path), recursive=False).collect()
    }
    assert flat == {"a.pdf"}


def test_scan_pdf_dir_composes_with_dispatch(spark, tmp_path):
    from pyspark.sql import functions as F

    from pdf_extractor_spark.sources.producers import (
        dispatch_extract,
        scan_pdf_dir,
    )

    for i in range(3):
        (tmp_path / f"d{i}.pdf").write_bytes(b"%PDF " + bytes([65 + i]) * 40)
    scanned = scan_pdf_dir(spark, str(tmp_path)).withColumn(
        "extraction_method", F.lit("text")
    )
    spans = dispatch_extract(scanned).collect()
    # bytes -> producer -> spans end-to-end: one row per file, non-empty
    # span arrays, page offsets starting at 0
    assert len(spans) == 3
    assert all(len(r.spans) >= 1 for r in spans)
    assert all(r.spans[0].offset == 0 for r in spans)
