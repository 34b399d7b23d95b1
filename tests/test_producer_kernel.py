"""Producer kernel seam contract (reference extractor.py:37-224): the
parse kernel is an injectable callable, and the surrounding Spark
plumbing (mapInPandas batching, spans schema, page->offset numbering,
method dispatch) holds for ANY kernel.

Three layers of evidence:
  1. an injected FAKE kernel (runs unconditionally) — proves the seam is
     pluggable, the kernel sees the raw payload bytes, and span order /
     offsets / kinds follow the kernel's output;
  2. real_text_kernel() without the real libraries raises
     NotImplementedError at plan-build time (the documented seam);
  3. a REAL kernel parses a hand-written minimal 2-page PDF and the span
     contract holds end-to-end: pdfplumber when importable, else the
     vendored pure-Python minipdf_text_kernel (the fixture is
     uncompressed by construction, so the vendored parser is a faithful
     real-bytes kernel for it) — the layer runs unconditionally.
"""

import importlib.util

import pytest
from pyspark.sql import functions as F


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id string, payload binary")


# toy "PDF format": pages separated by '|'. Defined as a lambda so
# cloudpickle ships it BY VALUE into the workers (a module-level def in a
# test file pickles by reference, which workers cannot import).
split_kernel = lambda payload: (payload or b"").decode("utf-8").split("|")  # noqa: E731


def test_injected_kernel_drives_spans(spark):
    from pdf_extractor_spark.sources.producers import text_producer

    docs = _docs(
        spark, [("d1", b"page one|page two|page three"), ("d2", b"solo")]
    )
    out = {
        r["doc_id"]: r["spans"]
        for r in text_producer(docs, kernel=split_kernel).collect()
    }
    assert [s["text"] for s in out["d1"]] == [
        "page one", "page two", "page three"
    ]
    assert [s["offset"] for s in out["d1"]] == [0, 1, 2]
    assert all(s["kind"] == "text" and s["media_ref"] is None
               for s in out["d1"])
    assert [s["text"] for s in out["d2"]] == ["solo"]


def test_injected_kernels_through_dispatch(spark):
    from pdf_extractor_spark.sources.producers import dispatch_extract

    docs = spark.createDataFrame(
        [
            ("t1", b"a|b", "text", "en"),
            ("o1", b"xyz", "ocr", "de"),
            ("tb1", b"anything", "tables", "en"),
        ],
        "doc_id string, payload binary, extraction_method string, lang string",
    )
    out = {
        r["doc_id"]: r["spans"]
        for r in dispatch_extract(
            docs,
            lang_col="lang",
            text_kernel=split_kernel,
            ocr_kernel=lambda payload, lang: [f"[{lang}] ocr"],
            table_kernel=lambda payload: 2,
        ).collect()
    }
    assert [s["text"] for s in out["t1"]] == ["a", "b"]
    assert [s["text"] for s in out["o1"]] == ["[de] ocr"]
    assert [s["media_ref"] for s in out["tb1"]] == [
        "table://tb1/0", "table://tb1/1"
    ]


HAVE_PDFPLUMBER = importlib.util.find_spec("pdfplumber") is not None


@pytest.mark.skipif(
    HAVE_PDFPLUMBER, reason="pdfplumber present; seam error path is moot"
)
def test_real_kernel_absent_raises_at_plan_build(spark):
    from pdf_extractor_spark.sources.producers import (
        real_text_kernel,
        text_producer,
    )

    docs = _docs(spark, [("d1", b"x")])
    with pytest.raises(NotImplementedError, match="pdfplumber"):
        text_producer(docs, kernel=real_text_kernel())


def _minimal_two_page_pdf(compress: bool = False) -> bytes:
    """A valid 2-page PDF written by hand (Helvetica text via raw PDF
    syntax; public file-format knowledge), so the real-kernel test needs
    no PDF-writing library. compress=True FlateDecode-compresses the two
    content streams (stdlib zlib) — the normal real-world page-stream
    encoding (PDF 32000-1 §7.4.4)."""
    import zlib

    def obj(n, body):
        return f"{n} 0 obj\n{body}\nendobj\n"

    def page(n, content_n):
        return obj(
            n,
            f"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 200 200] "
            f"/Resources << /Font << /F1 7 0 R >> >> "
            f"/Contents {content_n} 0 R >>",
        )

    def content(n, text):
        stream = f"BT /F1 12 Tf 20 100 Td ({text}) Tj ET"
        if compress:
            zs = zlib.compress(stream.encode("latin-1")).decode("latin-1")
            return obj(
                n,
                f"<< /Length {len(zs)} /Filter /FlateDecode >>\n"
                f"stream\n{zs}\nendstream",
            )
        return obj(
            n, f"<< /Length {len(stream)} >>\nstream\n{stream}\nendstream"
        )

    parts = [
        obj(1, "<< /Type /Catalog /Pages 2 0 R >>"),
        obj(2, "<< /Type /Pages /Kids [3 0 R 4 0 R] /Count 2 >>"),
        page(3, 5),
        page(4, 6),
        content(5, "hello page one"),
        content(6, "hello page two"),
        obj(7, "<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>"),
    ]
    header = "%PDF-1.4\n"
    body = ""
    offsets = []
    for p in parts:
        offsets.append(len(header) + len(body))
        body += p
    xref_pos = len(header) + len(body)
    xref = "xref\n0 8\n0000000000 65535 f \n" + "".join(
        f"{off:010d} 00000 n \n" for off in offsets
    )
    trailer = (
        f"trailer\n<< /Size 8 /Root 1 0 R >>\nstartxref\n{xref_pos}\n%%EOF"
    )
    return (header + body + xref + trailer).encode("latin-1")


def test_real_kernel_contract_on_real_pdf_bytes(spark):
    """Layer 3, unconditional: real PDF bytes through a real parser —
    pdfplumber when present, else the vendored minipdf_text_kernel
    (sufficient for the uncompressed hand-written fixture)."""
    from pdf_extractor_spark.sources.producers import (
        minipdf_text_kernel,
        real_text_kernel,
        text_producer,
    )

    docs = _docs(spark, [("real1", _minimal_two_page_pdf())])
    if HAVE_PDFPLUMBER:
        out = text_producer(docs, kernel=real_text_kernel()).collect()
    else:
        out = text_producer(docs, kernel=minipdf_text_kernel).collect()
    spans = out[0]["spans"]
    assert len(spans) == 2
    assert [s["offset"] for s in spans] == [0, 1]
    assert "hello page one" in spans[0]["text"]
    assert "hello page two" in spans[1]["text"]

    # the FlateDecode-compressed variant holds the same span contract
    # through the Spark plumbing (vendored kernel inflates via zlib)
    zdocs = _docs(spark, [("realz", _minimal_two_page_pdf(compress=True))])
    zout = text_producer(zdocs, kernel=minipdf_text_kernel).collect()
    zspans = zout[0]["spans"]
    assert [s["offset"] for s in zspans] == [0, 1]
    assert "hello page one" in zspans[0]["text"]
    assert "hello page two" in zspans[1]["text"]


def test_minipdf_kernel_local_parse():
    """The vendored parser itself (no Spark): page order follows /Kids,
    text comes from the Tj operands, escapes unescape."""
    from pdf_extractor_spark.sources.producers import minipdf_text_kernel

    pages = minipdf_text_kernel(_minimal_two_page_pdf())
    assert pages == ["hello page one", "hello page two"]
    assert minipdf_text_kernel(b"") == []


def test_minipdf_kernel_flatedecode_parse():
    """The FlateDecode-compressed variant of the same fixture parses to
    the SAME spans (PDF 32000-1 §7.4.4 via stdlib zlib) — compressed
    content streams are the normal real-world case, so the vendored
    real-bytes kernel must not silently depend on the uncompressed
    special case. Corrupt Flate data must yield an empty page, not a
    crash."""
    from pdf_extractor_spark.sources.producers import minipdf_text_kernel

    plain = minipdf_text_kernel(_minimal_two_page_pdf())
    compressed = minipdf_text_kernel(_minimal_two_page_pdf(compress=True))
    assert compressed == plain == ["hello page one", "hello page two"]

    bad = _minimal_two_page_pdf(compress=True).replace(
        b"stream\n", b"stream\nXX", 1
    )
    pages = minipdf_text_kernel(bad)
    assert len(pages) == 2 and pages[1] == "hello page two"


def test_handwritten_pdf_is_wellformed():
    """The fixture itself parses with the stub-independent contract: it
    must start with a PDF header and contain both page streams — keeps
    the skipped real test honest about its input."""
    b = _minimal_two_page_pdf()
    assert b.startswith(b"%PDF-1.4")
    assert b"hello page one" in b and b"hello page two" in b
    assert b.rstrip().endswith(b"%%EOF")
