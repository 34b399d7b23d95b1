"""Pluggable span producers (SURVEY.md §7.3-7): the reference's native
PDF-parsing extraction methods — OCR (extractor.py:145-224, pdf2image +
OpenCV + tesseract) and table parsing (extractor.py:97-143, camelot→tabula
fallback) — modeled as producers that turn raw document bytes into the
`spans` array of the input table.

In production these run UPSTREAM of this engine (the Iceberg documents
table already contains spans, per input_hint); they are modeled here so the
engine composes end-to-end from bytes when needed. The decode kernel is a
PARAMETER (`kernel=`): any callable with the per-producer contract plugs
in — tests/test_producer_kernel.py proves the seam with an injected fake
kernel unconditionally and with a real pdfplumber parse when the library
is importable. `kernel=None` runs a pure-arithmetic stub (stable across
runs/engines); `real_text_kernel()` / `real_ocr_kernel()` /
`real_table_kernel()` return the pdfplumber / pdf2image+tesseract /
camelot kernel, or raise NotImplementedError when those libraries are
absent from the runtime. Everything around the kernel — the one
mapInPandas batch shell, Arrow batch shape, output spans schema, page
numbering, the tesseract language map — is real and tested either way.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import types as T

# 13-entry tesseract language map, default eng (extractor.py:177-192)
TESSERACT_LANG = {
    "en": "eng", "pt": "por", "es": "spa", "fr": "fra", "de": "deu",
    "it": "ita", "nl": "nld", "ru": "rus", "zh": "chi_sim", "ja": "jpn",
    "ko": "kor", "ar": "ara", "hi": "hin",
}

PRODUCED_SPANS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField(
            "spans",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("kind", T.StringType(), False),
                        T.StructField("text", T.StringType(), True),
                        T.StructField("media_ref", T.StringType(), True),
                        T.StructField("offset", T.IntegerType(), False),
                    ]
                )
            ),
            False,
        ),
    ]
)


def _fake_page_texts(payload: bytes, lang: str) -> list[str]:
    """Stable stand-in for per-page OCR text: page count from the
    payload length, page text from byte slices (hex words)."""
    n_pages = max(1, len(payload) % 7)
    pages = []
    for p in range(n_pages):
        chunk = payload[p::n_pages][:24]
        words = [chunk[i : i + 4].hex() for i in range(0, len(chunk), 4)]
        pages.append(f"[{TESSERACT_LANG.get(lang, 'eng')}] " + " ".join(words))
    return pages


def _fake_table_count(payload: bytes) -> int:
    """Stable stand-in for a table parse: table count from the
    payload length."""
    return len(payload) % 3


def stub_text_kernel(payload: bytes) -> list[str]:
    """Fake PDF text parse: page count / page text derived from
    the payload bytes (stable across runs and engines)."""
    b = payload or b""
    n_pages = max(1, len(b) % 5)
    per = max(1, len(b) // n_pages)
    return [
        b[p * per : (p + 1) * per].decode("utf-8", "replace")
        for p in range(n_pages)
    ]


def pdfplumber_text_kernel(payload: bytes) -> list[str]:
    """Real PDF page-text kernel (the reference's pdfplumber path,
    extractor.py:37-92): one string per page. Imports inside the call so
    the function pickles by reference into the mapInPandas closure and
    each worker imports locally."""
    import io

    import pdfplumber

    with pdfplumber.open(io.BytesIO(payload or b"")) as pdf:
        return [page.extract_text() or "" for page in pdf.pages]


def minipdf_text_kernel(payload: bytes) -> list[str]:
    """Vendored pure-Python page-text parser for SIMPLE PDFs (public
    file-format knowledge: PDF 32000-1 §7/§9 text objects): walks the
    /Pages tree in /Kids order, pulls each page's /Contents stream —
    inflating it via stdlib zlib when the stream dict declares
    /Filter /FlateDecode (§7.4.4, the normal real-world case) — and
    concatenates the `(...) Tj` / `TJ` show-text operands. No other
    filters, no encodings beyond latin-1, no positioning, and binary
    streams that happen to contain the `endobj`/`endstream` delimiter
    byte-strings confuse the object splitter (a minimal-parser caveat;
    undecodable Flate data yields an empty page, never a crash) — NOT
    a pdfplumber replacement, but enough to run the real-kernel span
    contract (extractor.py:38-95) end-to-end on real PDF bytes in
    runtimes without the library. One string per page, like
    pdfplumber_text_kernel."""
    import re as _re
    import zlib as _zlib

    raw = (payload or b"").decode("latin-1", "replace")
    objs = {
        int(m.group(1)): m.group(2)
        for m in _re.finditer(
            r"(\d+)\s+0\s+obj(.*?)endobj", raw, _re.DOTALL
        )
    }

    def _texts(body: str) -> str:
        m = _re.search(r"stream\r?\n(.*?)endstream", body, _re.DOTALL)
        content = m.group(1) if m else body
        if m and _re.search(
            r"/Filter\s*\[?\s*/FlateDecode", body[: m.start()]
        ):
            try:
                # latin-1 round-trips the raw stream bytes; decompressobj
                # tolerates the EOL padding before `endstream`
                content = (
                    _zlib.decompressobj()
                    .decompress(content.encode("latin-1"))
                    .decode("latin-1", "replace")
                )
            except _zlib.error:
                return ""
        out = []
        # (...) Tj and [(...) ...] TJ operands; minimal escape handling
        for s in _re.findall(r"\(((?:\\.|[^\\()])*)\)", content):
            out.append(
                s.replace(r"\(", "(").replace(r"\)", ")").replace(
                    "\\\\", "\\"
                )
            )
        return " ".join(out)

    pages_obj = next(
        (b for b in objs.values() if "/Type /Pages" in b or "/Type/Pages" in b),
        None,
    )
    page_nums: list[int] = []
    if pages_obj is not None:
        kids = _re.search(r"/Kids\s*\[(.*?)\]", pages_obj, _re.DOTALL)
        if kids:
            page_nums = [
                int(n) for n in _re.findall(r"(\d+)\s+0\s+R", kids.group(1))
            ]
    if not page_nums:  # degenerate input: document order of /Type /Page
        page_nums = [
            n
            for n in sorted(objs)
            if "/Type /Page" in objs[n] or "/Type/Page" in objs[n]
        ]
    texts = []
    for pn in page_nums:
        body = objs.get(pn, "")
        c = _re.search(r"/Contents\s+(\d+)\s+0\s+R", body)
        texts.append(_texts(objs.get(int(c.group(1)), "") if c else body))
    return texts


def real_text_kernel():
    """pdfplumber-backed kernel, or NotImplementedError when the library
    is absent from the runtime (the documented seam)."""
    try:
        import pdfplumber  # noqa: F401
    except ImportError as exc:
        raise NotImplementedError(
            "real PDF text parse requires pdfplumber — not in this "
            "runtime; pass kernel= to plug a parser in "
            "(extractor.py:37-92 is the reference behavior)"
        ) from exc
    return pdfplumber_text_kernel


def _produce(docs: DataFrame, row_spans, lang_col: str | None = None):
    """The batch shell every producer runs: one mapInPandas over
    (doc_id, payload[, lang]) rows, `row_spans(doc_id, payload, lang)`
    building each row's span list (payload b"" for null, lang "en" when
    absent or null)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids = [str(did) for did in pdf["doc_id"]]
            langs = pdf[lang_col] if lang_col else ["en"] * len(pdf)
            spans = [
                row_spans(did, payload or b"", lang or "en")
                for did, payload, lang in zip(ids, pdf["payload"], langs)
            ]
            yield pd.DataFrame({"doc_id": ids, "spans": spans})

    return docs.mapInPandas(run, PRODUCED_SPANS_SCHEMA)


def _page_spans(pages: list[str]) -> list[dict]:
    # one text span per page, offset = page index
    return [
        {"kind": "text", "text": t, "media_ref": None, "offset": p}
        for p, t in enumerate(pages)
    ]


def text_producer(docs: DataFrame, kernel=None) -> DataFrame:
    """(doc_id, payload binary) -> (doc_id, spans): the PyPDF2/pdfplumber
    text path (extractor.py:37-92) — one text span per page, offset = page
    index. `kernel(payload: bytes) -> list[str]` (page texts) is
    pluggable; None = the payload-derived stub, real_text_kernel() = the
    pdfplumber kernel."""
    if kernel is None:
        kernel = stub_text_kernel
    return _produce(
        docs, lambda did, payload, lang: _page_spans(kernel(payload))
    )


def dispatch_extract(
    docs: DataFrame,
    lang_col: str | None = None,
    text_kernel=None,
    ocr_kernel=None,
    table_kernel=None,
) -> DataFrame:
    """Method dispatch (extractor.py:26-36: the extraction_methods dict
    routing 'text'/'ocr'/'tables' to their extractors), Spark shape: one
    FILTER per `extraction_method` value + the matching producer +
    unionByName — three narrow pipelines over disjoint row sets, no
    per-row branching, each method's mapInPandas sees only its own rows.
    Unknown methods fall back to 'text' (the reference's .get(default) at
    :34 resolves to extract_text). Per-method kernels pass through to the
    producers."""
    from pyspark.sql import functions as F

    m = F.coalesce(F.col("extraction_method"), F.lit("text"))
    text_rows = docs.filter(~m.isin("ocr", "tables"))
    ocr_rows = docs.filter(m == "ocr")
    table_rows = docs.filter(m == "tables")
    return (
        text_producer(text_rows, text_kernel)
        .unionByName(ocr_producer(ocr_rows, lang_col, ocr_kernel))
        .unionByName(table_producer(table_rows, table_kernel))
    )


def tesseract_ocr_kernel(payload: bytes, lang: str) -> list[str]:
    """Real OCR kernel (extractor.py:157-219): rasterize each PDF page
    (pdf2image) and OCR it (pytesseract) with the mapped tesseract
    language. Worker-local imports, like pdfplumber_text_kernel."""
    import pdf2image
    import pytesseract

    images = pdf2image.convert_from_bytes(payload or b"")
    tl = TESSERACT_LANG.get(lang, "eng")
    return [pytesseract.image_to_string(img, lang=tl) for img in images]


def real_ocr_kernel():
    try:
        import pdf2image  # noqa: F401
        import pytesseract  # noqa: F401
    except ImportError as exc:
        raise NotImplementedError(
            "real OCR requires pdf2image/pytesseract — not in this "
            "runtime; pass kernel= to plug a decoder in "
            "(extractor.py:157-219 is the reference behavior)"
        ) from exc
    return tesseract_ocr_kernel


def ocr_producer(
    docs: DataFrame, lang_col: str | None = None, kernel=None
) -> DataFrame:
    """(doc_id, payload binary[, lang]) -> (doc_id, spans): one text span
    per OCR'd page, offset = page index (extractor.py:196-219 semantics:
    page_N keys -> offset N-1). `kernel(payload: bytes, lang: str) ->
    list[str]` is pluggable; None = the payload-derived stub,
    real_ocr_kernel() = the pdf2image/tesseract kernel."""
    if kernel is None:
        kernel = _fake_page_texts
    return _produce(
        docs,
        lambda did, payload, lang: _page_spans(kernel(payload, lang)),
        lang_col,
    )


def camelot_table_kernel(payload: bytes) -> int:
    """Real table-detection kernel (extractor.py:97-143): camelot lattice
    parse over the PDF bytes, returning the table count."""
    import io
    import tempfile

    import camelot

    with tempfile.NamedTemporaryFile(suffix=".pdf") as f:
        f.write(payload or b"")
        f.flush()
        return len(camelot.read_pdf(f.name, pages="all"))


def real_table_kernel():
    try:
        import camelot  # noqa: F401
    except ImportError as exc:
        raise NotImplementedError(
            "real table parsing requires camelot — not in this runtime; "
            "pass kernel= to plug a parser in "
            "(extractor.py:97-143 is the reference behavior)"
        ) from exc
    return camelot_table_kernel


def table_producer(docs: DataFrame, kernel=None) -> DataFrame:
    """(doc_id, payload binary) -> (doc_id, spans): one table span per
    detected table with media_ref 'table://{doc_id}/{n}' (extractor.py:
    118-138: table_N keys; camelot lattice first, tabula fallback).
    `kernel(payload: bytes) -> int` (table count) is pluggable; None =
    the payload-derived stub, real_table_kernel() = the camelot kernel."""
    if kernel is None:
        kernel = _fake_table_count

    def table_spans(did, payload, lang):
        return [
            {"kind": "table", "text": None,
             "media_ref": f"table://{did}/{i}", "offset": i}
            for i in range(kernel(payload))
        ]

    return _produce(docs, table_spans)


def scan_pdf_dir(
    spark,
    root: str,
    glob: str = "*.pdf",
    recursive: bool = True,
) -> DataFrame:
    """(doc_id, payload, length, mtime) — the reference's find_pdfs
    directory walk (batch_processor.py:26-32: rglob '**/*.pdf') as
    Spark's binaryFile source. pathGlobFilter and recursiveFileLookup
    run inside the distributed file index — no driver-side glob, no
    Python listdir — and partition planning splits the listing across
    executors exactly like any other scan. Content stays an opaque
    binary column until a producer (dispatch_extract) parses it; the
    path is the natural doc_id for filesystem-born corpora.

    Scale note: binaryFile refuses files > 2 GiB (a Spark row limit) —
    at corpus scale giant PDFs are the skew tail the pipeline's salting
    exists for, and a >2 GiB single document is upstream-chunked
    territory anyway."""
    from pyspark.sql import functions as F

    return (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", glob)
        .option("recursiveFileLookup", str(recursive).lower())
        .load(root)
        .select(
            F.col("path").alias("doc_id"),
            F.col("content").alias("payload"),
            F.col("length").cast("long").alias("length"),
            F.col("modificationTime").alias("mtime"),
        )
    )
