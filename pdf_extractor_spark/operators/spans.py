"""Span-level operators: ordering, normalization, document text assembly.

All fully columnar (whole-stage codegen; no Python), language detection
included (add_detected_language).

Plan building: the language and normalize layers (`_language_layers`,
`_normalize_layers`) are built once per JVM and applied with one
`withColumns` each, so a repeat call costs a few hundred py4j round trips
instead of thousands.

Python-regex parity (SURVEY.md §7.3-1): the reference normalizes with Python
`re` (`strip`, `[\\x00-\\x1F\\x7F-\\x9F]`, `\\s+`). Spark regexps are Java.
We close the gap by spelling out the exact Python whitespace set as an
explicit character class instead of relying on Java's `\\s` (ASCII-only) or
`(?U)\\s` (misses \\x1C-\\x1F). Equivalence is asserted by
tests/test_parity_regex.py over every BMP codepoint.
"""

from __future__ import annotations

import functools

from pyspark import SparkContext
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Exactly the codepoints where Python str.isspace() is True (BMP):
# \t-\r, space, \x1c-\x1f, NEL \x85, NBSP \xa0, ogham  , en/em &c
#  - , LS  , PS  , NNBSP  , MMSP  ,
# ideographic 　.
PY_WS_CLASS = (
    "[\\t-\\r \\x1C-\\x1F\\x85\\xA0\\u1680\\u2000-\\u200A"
    "\\u2028\\u2029\\u202F\\u205F\\u3000]"
)
CONTROL_CLASS = "[\\x00-\\x1F\\x7F-\\x9F]"
CJK_LANGS = ("zh", "ja", "ko")

# The same sets as literal character strings, for the non-regex fast
# primitives (btrim / translate): every codepoint where str.isspace() is
# True (BMP) — asserted equal to PY_WS_CLASS by tests/test_parity_regex —
# and the C0+DEL+C1 control block.
PY_WS_CHARS = "".join(
    chr(c)
    for c in (
        *range(0x09, 0x0E), 0x20, *range(0x1C, 0x20), 0x85, 0xA0,
        0x1680, *range(0x2000, 0x200B), 0x2028, 0x2029, 0x202F,
        0x205F, 0x3000,
    )
)
CONTROL_CHARS = "".join(chr(c) for c in range(0x20)) + "".join(
    chr(c) for c in range(0x7F, 0xA0)
)


def py_strip(col: Column) -> Column:
    """str.strip() equivalent (Python whitespace set, not Java trim).
    btrim's trim-set semantics are exactly str.strip(set): no regex pass."""
    return F.btrim(col, F.lit(PY_WS_CHARS))


# One-scan "already clean" test: the 3-pass chain below is a no-op iff the
# text has no control/C1 char, no whitespace other than plain space, no
# leading/trailing space, and no space run — checked as a single rlike
# instead of three regexp_replace scans + string rebuilds. (All chars the
# chain touches are in this class union: CONTROL_CLASS for the removal
# pass, PY_WS_CLASS \ {space} + the space-position disjuncts for strip and
# collapse. For CJK the chain skips the collapse, so a "dirty" verdict
# merely routes to the same cleaned value — never a semantic change.)
_DIRTY_RE = (
    "[\\x00-\\x1F\\x7F-\\x9F\\xA0\\u1680\\u2000-\\u200A"
    "\\u2028\\u2029\\u202F\\u205F\\u3000]|^ | $|  "
)


def preprocess_text(col: Column, lang: Column) -> Column:
    """preprocess_for_language (language_detector.py:67-85), columnar:
    falsy (null or '') passes through; strip; drop control chars; collapse
    whitespace runs to one space unless lang in zh/ja/ko. Clean text (the
    common case — measured ~85% of corpus spans) short-circuits through a
    single rlike scan; only dirty text pays the rewrite chain — itself
    one char-map pass (translate), one trim (btrim), and a single regex
    pass (the run collapse, the only rewrite needing runs)."""
    cleaned = F.translate(py_strip(col), CONTROL_CHARS, "")
    collapsed = F.when(
        lang.isin(*CJK_LANGS), cleaned
    ).otherwise(F.regexp_replace(cleaned, f"{PY_WS_CLASS}+", " "))
    return F.when(col.isNull() | (col == ""), col).otherwise(
        F.when(~col.rlike(_DIRTY_RE), col).otherwise(collapsed)
    )


def sorted_spans(spans: Column) -> Column:
    """Spans re-ordered by offset — the input stores them shuffled; the
    (kind, text, media_ref, order) invariant is rebuilt here, never taken
    from array/shuffle order (SURVEY.md §7.3-2)."""
    return F.array_sort(
        spans,
        lambda l, r: l["offset"].cast("int") - r["offset"].cast("int"),
    )


def parse_pages(pages: "str | int | None") -> "list[int] | None":
    """Page-range argument parsing, reference semantics
    (/root/reference/src/core/extractor.py:46-51, repeated at :150-155 and
    :196-197): 'all' (or None) selects every page, an int selects one
    0-based page, a comma string ('1,3') parses to ints. Out-of-range pages
    are SILENTLY dropped downstream (the reference's `page_num < num_pages`
    guard at :62/:74) — here that falls out of set membership: a page index
    no span carries simply matches nothing."""
    if pages is None or pages == "all":
        return None
    if isinstance(pages, int):
        return [pages]
    if isinstance(pages, str):
        return [int(p) for p in pages.split(",")]
    raise TypeError(f"pages must be 'all', int, or 'a,b' string; got {pages!r}")


def filter_spans_by_page(
    df, pages: "str | int | None" = "all", spans_col: str = "spans"
):
    """Page-range predicate as a first-class span filter: the 0-based page
    index of a span is (# text spans at positions <= its own) - 1 — text
    spans ARE the pages of the interleaved model, and a media span belongs
    to the page it follows (a media span before any text span gets page -1
    and can only survive pages='all'). Selected pages keep their spans;
    everything else (including out-of-range page numbers) is silently
    dropped, matching the reference.

    Columnar: offset-sort once, then one filter over the array whose
    per-element page index is a count over the element's prefix — O(k^2)
    in spans-per-doc, which is bounded (tens), and no shuffle/UDF."""
    wanted = parse_pages(pages)
    if wanted is None:
        return df
    out = df.withColumn("_ps", sorted_spans(F.col(spans_col)))
    page_lit = F.array(*[F.lit(int(p)).cast("int") for p in wanted])

    def page_of(i: Column) -> Column:
        prefix = F.slice(F.col("_ps"), 1, i + 1)
        return (
            F.size(F.filter(prefix, lambda s: s["kind"] == "text")) - 1
        ).cast("int")

    return out.withColumn(
        spans_col,
        F.filter(F.col("_ps"), lambda s, i: F.array_contains(page_lit, page_of(i))),
    ).drop("_ps")


def text_sample(spans_sorted: Column, n: int = 3) -> Column:
    """First-n-text-spans sample used for language detection (the
    reference's 3-page sample, extractor.py:56-70)."""
    texts = F.transform(
        F.slice(F.filter(spans_sorted, lambda s: s["kind"] == "text"), 1, n),
        lambda s: F.coalesce(s["text"], F.lit("")),
    )
    return F.array_join(texts, "\n")


_SCRIPT_CLASSES = {
    "han": "[一-鿿㐀-䶿]",
    "hira": "[぀-ゟ]",
    "kata": "[゠-ヿ]",
    "hangul": "[가-힯ᄀ-ᇿ]",
    "cyr": "[Ѐ-ӿ]",
    "ar": "[؀-ۿ]",
    "dev": "[ऀ-ॿ]",
}


def _per_jvm(build):
    """Memoize a Column-tree builder per JVM. A Column is an unresolved
    expression over column names, valid for any frame in the JVM that
    built it, so the tree is built once per process instead of once per
    call (thousands of py4j round trips each). Only Columns are cached,
    never a frame or anything else that depends on the input; every
    caller gets the same tuples, so none may mutate them."""
    cached = functools.lru_cache(maxsize=16)(lambda _jvm, *args: build(*args))

    @functools.wraps(build)
    def per_jvm(*args):
        return cached(SparkContext._jvm, *args)

    return per_jvm


def _apply_layers(df: DataFrame, layers, temps) -> DataFrame:
    """One withColumns per dependency layer, then drop the temps. Each
    layer is its own projection level, so a later layer reads the earlier
    temps as attributes, and project-collapsing inlines a temp only where
    that duplicates no expensive expression (see textstats.py)."""
    for layer in layers:
        df = df.withColumns(layer)
    return df.drop(*temps)


@_per_jvm
def _language_layers(sample_col: str, out_col: str):
    """(layers, temps) of add_detected_language: the script counts and
    stopword hits as temps, then `out_col`. Each layer reads only earlier
    ones; the 7 script counts share one, as do the 7 stopword hits."""
    from ..oracle.language import _STOPWORDS

    sample, smp = F.col(sample_col), F.col("_smp")
    nonascii, toks = F.col("_na"), F.col("_lt")
    counts = {k: F.col(f"_sc_{k}") for k in _SCRIPT_CLASSES}
    hit_cols = [F.col(f"_lh{i}") for i in range(len(_STOPWORDS))]

    def _hits(words: tuple[str, ...]) -> Column:
        return F.size(F.filter(toks, lambda t: t.isin(*words)))

    # argmax with strictly-greater update, initial best = ('en', hits_en)
    # (oracle starts at best_hits=-1 so the first language always wins in)
    best_lang = F.lit(_STOPWORDS[0][0])
    best_hits = hit_cols[0]
    for i in range(1, len(_STOPWORDS)):
        lang = _STOPWORDS[i][0]
        h = hit_cols[i]
        best_lang = F.when(h > best_hits, F.lit(lang)).otherwise(best_lang)
        best_hits = F.when(h > best_hits, h).otherwise(best_hits)

    jk = counts["hira"] + counts["kata"]
    script_lang = (
        F.when((jk > 0) & (jk >= F.floor(counts["han"] / 4)), F.lit("ja"))
        .when(counts["hangul"] > counts["han"], F.lit("ko"))
        .when(counts["han"] > 0, F.lit("zh"))
        .when(counts["cyr"] >= F.greatest(counts["ar"], counts["dev"]), F.lit("ru"))
        .when(counts["ar"] >= counts["dev"], F.lit("ar"))
        .otherwise(F.lit("hi"))
    )
    latin_lang = F.when(F.size(toks) == 0, F.lit("unknown")).when(
        best_hits <= 0,
        F.when(nonascii, F.lit("pt")).otherwise(F.lit("en")),
    ).otherwise(best_lang)

    lang = (
        F.when(
            sample.isNull()
            | (sample == "")
            | (F.length(py_strip(sample)) < 10),
            F.lit("unknown"),
        )
        .when(F.col("_sc_total") >= 3, script_lang)
        .otherwise(latin_lang)
    )
    layers = (
        {"_smp": F.substring(sample, 1, 2000)},
        # ASCII short-circuit: every script class matches only non-ASCII
        # codepoints, so for a pure-ASCII sample (most of a web corpus)
        # all 7 counts are provably 0 — one rlike scan replaces 7
        # regexp_count scans
        {"_na": smp.rlike("[^\\x00-\\x7f]")},
        {
            f"_sc_{k}": F.when(
                nonascii, F.regexp_count(smp, F.lit(rx))
            ).otherwise(F.lit(0))
            for k, rx in _SCRIPT_CLASSES.items()
        },
        {"_sc_total": sum(counts.values(), F.lit(0))},
        # latin stopword vote: tokens of the lowered sample
        {"_lt": F.regexp_extract_all(F.lower(smp), F.lit("([a-zà-ÿ]+)"), 1)},
        {
            f"_lh{i}": _hits(tuple(sorted(words)))
            for i, (_lang, words) in enumerate(_STOPWORDS)
        },
        {out_col: lang},
    )
    return layers, tuple(name for layer in layers[:-1] for name in layer)


def add_detected_language(
    df: DataFrame, sample_col: str, out_col: str = "lang"
) -> DataFrame:
    """Columnar port of the oracle's detect_language (oracle/language.py —
    itself the deterministic stand-in for the reference's seeded langdetect,
    language_detector.py:29-45): script-range counting cascade, then a
    stopword vote over latin tokens.

    Replaces the earlier pandas-UDF detector in the hot path: one fewer
    Python worker per task and no Arrow crossing for the sample text — the
    whole detection stays in whole-stage codegen. Every count is a
    materialized temp column, so the cascade duplicates only attribute refs
    (see textstats.py on Catalyst project-collapsing).

    Parity with the oracle is asserted per document by
    tests/test_pipeline_spark.py::test_meta_parity over the corpus, which
    embeds CJK/control-char/whitespace fixtures."""
    return _apply_layers(df, *_language_layers(sample_col, out_col))


def language_name_col(lang: Column) -> Column:
    """Code -> name via a literal map (tiny dim; language_detector.py:47-65);
    unknown codes pass through."""
    from ..oracle.language import LANGUAGE_NAMES

    pairs = []
    for k, v in LANGUAGE_NAMES.items():
        pairs.extend([F.lit(k), F.lit(v)])
    return F.coalesce(F.create_map(*pairs)[lang], lang)


@_per_jvm
def _normalize_layers():
    """(layers, temps) of normalize_documents: span sort, 3-span sample,
    the language layers, then the normalized spans and the text/meta
    columns derived from them."""
    lang_layers, lang_temps = _language_layers("_sample", "lang")
    norm_struct = lambda s, i: F.struct(  # noqa: E731
        s["kind"].alias("kind"),
        F.when(s["kind"] == "text", preprocess_text(s["text"], F.col("lang")))
        .alias("text"),
        F.when(s["kind"] != "text", s["media_ref"]).alias("media_ref"),
        s["offset"].alias("offset"),
        i.cast("int").alias("order"),
    )
    all_text = F.array_join(
        F.transform(
            F.filter(F.col("spans"), lambda s: s["kind"] == "text"),
            lambda s: F.coalesce(s["text"], F.lit("")),
        ),
        "\n",
    )
    num_pages = F.size(F.filter(F.col("spans"), lambda s: s["kind"] == "text"))
    layers = (
        {"_spans_sorted": sorted_spans(F.col("spans"))},
        {"_sample": text_sample(F.col("_spans_sorted"))},
        *lang_layers,
        {"spans": F.transform(F.col("_spans_sorted"), norm_struct)},
        {
            "all_text": all_text,
            "meta": F.struct(
                F.col("lang").alias("language"),
                language_name_col(F.col("lang")).alias("language_name"),
                num_pages.cast("int").alias("num_pages"),
                F.lit("text").alias("extraction_method"),
            ),
        },
    )
    return layers, ("_spans_sorted", "_sample", *lang_temps, "lang")


def normalize_documents(df: DataFrame) -> DataFrame:
    """documents(doc_id, spans) -> + lang, spans (ordered & normalized with
    `order` field), all_text, meta. The language comes from the columnar
    detector run on the 3-span sample.
    """
    return _apply_layers(df, *_normalize_layers())


def span_diff(
    run_a: DataFrame,
    run_b: DataFrame,
    id_col: str = "doc_id",
    spans_col: str = "spans",
) -> DataFrame:
    """(doc_id, in_a, in_b, n_a, n_b, equal, first_diff) — per-document
    span-sequence equality between two extraction runs, the engine's core
    output invariant ((kind, text, media_ref, order) must match) promoted
    to a distributed regression-diff operator: run it between engine
    versions / config changes and aggregate `equal` for the per-corpus
    regression rate; `first_diff` (1-based span position, NULL when
    equal) points a human at the first diverging span.

    Each span is canonicalized to one string (kind|text|media_ref with a
    U+0001 null-sentinel — order is the array position), so the diff is a
    zip_with over two string arrays: null-safe, length-mismatch-aware
    (the longer run's tail pairs against null and flags), zero Python.
    One doc_id equi-join is the only shuffle; two runs written
    doc_id-bucketed diff with ZERO exchanges (the hive-bucketed writer
    precedent in jobs/build_index.py).
    """
    sent = chr(1)

    def canon(col: Column) -> Column:
        return F.transform(
            col,
            lambda s: F.concat_ws(
                "|",
                F.coalesce(s["kind"], F.lit(sent)),
                F.coalesce(s["text"], F.lit(sent)),
                F.coalesce(s["media_ref"], F.lit(sent)),
            ),
        )

    empty = F.array().cast("array<string>")
    pa = run_a.select(F.col(id_col), canon(F.col(spans_col)).alias("_pa"))
    pb = run_b.select(F.col(id_col), canon(F.col(spans_col)).alias("_pb"))
    j = pa.join(pb, [id_col], "full_outer")
    in_a = F.col("_pa").isNotNull()
    in_b = F.col("_pb").isNotNull()
    ca = F.coalesce(F.col("_pa"), empty)
    cb = F.coalesce(F.col("_pb"), empty)
    flags = F.zip_with(ca, cb, lambda x, y: ~x.eqNullSafe(y))
    fd = F.array_position(flags, True)
    return j.select(
        F.col(id_col),
        in_a.alias("in_a"),
        in_b.alias("in_b"),
        F.size(ca).cast("int").alias("n_a"),
        F.size(cb).cast("int").alias("n_b"),
        (fd == 0).alias("equal"),
        F.when(fd > 0, fd).cast("int").alias("first_diff"),
    )
