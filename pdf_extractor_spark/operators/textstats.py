"""Text-analysis operators for large-scale training-data pipelines:
language-ID (stopword heuristic), quality scoring, token counting, document
fingerprinting. All fully columnar (whole-stage codegen; no UDFs) and
SQL-mirrorable, so every one has a DuckDB oracle in __spark_entry__.py.

Scale notes: each is a narrow per-row projection over the text column —
no shuffle, no skew surface; the parquet scan prunes to the referenced
columns only.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from ..session import fan_out

# languages scored by the columnar lang-ID; marker words chosen to be
# mutually exclusive so scoring is unambiguous and SQL-portable
LANG_MARKERS: list[tuple[str, tuple[str, ...]]] = [
    ("en", ("the", "and", "of", "with", "for", "that", "this")),
    ("pt", ("não", "uma", "por", "para", "com", "dos", "como")),
    ("es", ("los", "las", "del", "una", "pero", "más", "sus")),
    ("de", ("der", "die", "und", "nicht", "ein", "mit", "ist")),
    ("fr", ("les", "des", "dans", "est", "pour", "qui", "une")),
]

EN_STOPWORDS = (
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "are",
    "for", "with", "that", "this", "it", "on", "as", "by", "be",
)


def tokens_col(text: Column) -> Column:
    """Whitespace tokenization; empty/blank text -> empty array."""
    trimmed = F.trim(text)
    return F.when(
        trimmed.isNull() | (trimmed == ""), F.array().cast("array<string>")
    ).otherwise(F.split(trimmed, r"\s+"))


def token_count(text: Column) -> Column:
    return F.size(tokens_col(text)).cast("long")


def pack_sequences(
    df,
    budget: int = 2048,
    shards: int = 64,
    count_col: str = "n_tokens",
    id_col: str = "doc_id",
):
    """Assign each document to a training-sequence pack of ~`budget`
    tokens: documents are sharded by hash (shards ~ cluster parallelism),
    ordered deterministically within the shard, and the running token sum
    is cut into bins of `budget` (bin = floor(cumsum_before/budget), the
    greedy first-fit-in-order rule). Documents longer than the budget
    get a bin of their own and overflow downstream truncation handles.

    Scale: packing is WINDOW-per-shard, never a global sort — each shard
    packs independently (the standard practice for LLM batch assembly:
    packing quality needs local density, not a global order), so the op
    is one hash shuffle and scales with executors. Fully columnar and
    SQL-mirrorable; deterministic for a fixed corpus."""
    from pyspark.sql import Window

    # honor a caller-provided shard column (e.g. the md5-derived one the
    # SQL oracle can mirror); default to xxhash64 (JVM-fast) otherwise
    sharded = (
        df
        if "shard" in df.columns
        else df.withColumn(
            "shard",
            F.pmod(F.xxhash64(F.col(id_col)), F.lit(shards)).cast("int"),
        )
    )
    w = (
        Window.partitionBy("shard")
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = F.sum(count_col).over(w) - F.col(count_col)  # tokens BEFORE me
    return sharded.withColumn(
        "pack_id", F.floor(cum / budget).cast("long")
    )


def chunk_documents(
    df,
    chunk_size: int = 2048,
    overlap: int = 128,
    text_col: str = "text",
    id_col: str = "doc_id",
):
    """Fixed-token-window chunking with overlap — the corpus→training-window
    conversion every LLM data pipeline runs last. stride = chunk_size -
    overlap; chunk k covers whitespace tokens [k*stride, k*stride +
    chunk_size). Chunks that would contain only tokens already covered by
    the previous window are not emitted: n_chunks = 1 + max(0,
    ceil((n_tokens - chunk_size) / stride)). Empty/null docs emit no rows.

    Scale: fully columnar (split → sequence → explode → slice), zero
    shuffle, embarrassingly parallel over input splits — the right shape at
    10^12 docs. Output rows ≈ n_tokens/stride per doc, so the fan-out is
    bounded by corpus token mass, not corpus size; skew from one giant doc
    stays within its input partition (pair with the pipeline's salting if
    single docs exceed a task's memory). SQL-mirrorable: the DuckDB oracle
    replays the same arithmetic with generate_series + list slicing.
    """
    if overlap >= chunk_size:
        raise ValueError("overlap must be < chunk_size")
    stride = chunk_size - overlap
    base = (
        df.withColumn("_toks", tokens_col(F.col(text_col)))
        .withColumn("_n", F.size("_toks"))
        .filter(F.col("_n") > 0)
    )
    n_chunks = F.lit(1).cast("long") + F.greatest(
        F.ceil((F.col("_n") - F.lit(chunk_size)) / F.lit(stride)),
        F.lit(0).cast("long"),
    )
    exploded = base.withColumn(
        "chunk_id",
        F.explode(F.sequence(F.lit(0).cast("long"), n_chunks - 1)),
    )
    start = F.col("chunk_id") * F.lit(stride)
    chunk = F.slice(F.col("_toks"), (start + 1).cast("int"), chunk_size)
    return exploded.select(
        id_col,
        F.col("chunk_id").cast("int").alias("chunk_id"),
        F.size(chunk).cast("long").alias("n_chunk_tokens"),
        F.array_join(chunk, " ").alias("chunk_text"),
    )


def nfc_normalize(df, text_col: str = "text", id_col: str = "doc_id"):
    """Unicode NFC normalization — the canonical first step of any web-text
    pipeline (decomposed accents, compatibility variants, and mixed-form
    duplicates otherwise defeat exact dedup and tokenization). Spark SQL
    has no normalization builtin, so this is one of the few legitimately-
    Python ops in the engine: a single Arrow-batched pandas UDF (vectorized
    transfer, one Python worker pass — never per-row). The UDF output is
    bound with withColumn once, and the changed/length columns read the
    bound attribute, so the plan has exactly ONE ArrowEvalPython stage.

    Returns (doc_id, text_nfc, changed, len_raw, len_nfc). Cross-engine
    oracle: DuckDB's nfc_normalize implements the same Unicode NFC."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("string")
    def _nfc(s):
        import unicodedata

        return s.map(
            lambda v: None if v is None else unicodedata.normalize("NFC", v)
        )

    return (
        df.withColumn("text_nfc", _nfc(F.col(text_col)))
        .select(
            F.col(id_col),
            "text_nfc",
            (
                ~F.col(text_col).eqNullSafe(F.col("text_nfc"))
            ).alias("changed"),
            F.length(F.col(text_col)).cast("long").alias("len_raw"),
            F.length("text_nfc").cast("long").alias("len_nfc"),
        )
    )


# GPT-2-style pretokenizer shape (public knowledge: the BPE pretokenize
# regex family): contraction suffixes, letter runs, digit runs, punctuation
# runs, whitespace runs. Java-regex-safe subset ('\p{L}', '\p{N}') so the
# SAME pattern string runs in Spark rlike land and DuckDB's regexp engine.
BPE_TOKEN_RE = r"'(?:s|t|re|ve|m|ll|d)| ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+|\s+"


def bpe_token_count(text: Column) -> Column:
    """Subword-ish token count: number of BPE-pretokenizer matches minus
    pure-whitespace runs — the standard proxy for LLM token budgeting at corpus
    scale (whitespace token_count underestimates code/punctuation-heavy
    text). Fully columnar: one regexp_extract_all + one filter."""
    toks = F.regexp_extract_all(text, F.lit(f"({BPE_TOKEN_RE})"), 1)
    non_ws = F.filter(toks, lambda t: ~t.rlike(r"^\s+$"))
    return F.when(text.isNull(), F.lit(0)).otherwise(F.size(non_ws)).cast("long")


def add_quality_score(
    df, text_col: str = "text", out_col: str = "quality"
):
    """df + quality in [0,1]: length band + stopword presence + sane word
    lengths - punctuation/digit noise. Deterministic arithmetic (identical
    expression runs in the DuckDB oracle).

    DataFrame-level on purpose: the token array and each raw count are
    materialized behind projection boundaries so they are computed ONCE per
    row. A single Column expression would let Catalyst's project collapsing
    re-inline the tokenizer into every band (observed 10-100x blowup — the
    same trap as inlining an array expr into N aggregates)."""
    text = F.col(text_col)
    tmp = ["_lt", "_ntok", "_sw", "_tchars", "_nchars", "_npunct", "_ndigit"]
    d = (
        df.withColumn("_lt", tokens_col(F.lower(text)))
        .withColumn("_ntok", F.size("_lt"))
        .withColumn(
            "_sw", F.size(F.filter(F.col("_lt"), lambda t: t.isin(*EN_STOPWORDS)))
        )
        .withColumn(
            "_tchars",
            F.aggregate(
                F.col("_lt"), F.lit(0).cast("long"), lambda a, t: a + F.length(t)
            ),
        )
        .withColumn("_nchars", F.coalesce(F.length(text), F.lit(0)))
        .withColumn(
            "_npunct",
            F.coalesce(F.length(F.regexp_replace(text, r"[^.!?,;:]", "")), F.lit(0)),
        )
        .withColumn(
            "_ndigit",
            F.coalesce(F.length(F.regexp_replace(text, r"[^0-9]", "")), F.lit(0)),
        )
    )
    n_tok = F.col("_ntok")
    len_band = F.when(n_tok >= 20, F.lit(1.0)).otherwise(n_tok / F.lit(20.0))
    sw_ratio = F.when(n_tok > 0, F.col("_sw") / n_tok).otherwise(F.lit(0.0))
    sw_band = F.least(sw_ratio * 4, F.lit(1.0))
    mwl = F.when(n_tok > 0, F.col("_tchars") / n_tok).otherwise(F.lit(0.0))
    wl_band = F.when((mwl >= 3) & (mwl <= 10), F.lit(1.0)).otherwise(F.lit(0.5))
    pr = F.when(F.col("_nchars") > 0, F.col("_npunct") / F.col("_nchars")).otherwise(
        F.lit(0.0)
    )
    dr = F.when(F.col("_nchars") > 0, F.col("_ndigit") / F.col("_nchars")).otherwise(
        F.lit(0.0)
    )
    noise = F.least(pr * 5 + dr * 2, F.lit(1.0))
    q = F.round(
        0.35 * len_band + 0.30 * sw_band + 0.20 * wl_band + 0.15 * (1 - noise), 6
    )
    return d.withColumn(out_col, q).drop(*tmp)


def add_lang_id(df, text_col: str = "text", out_col: str = "lang_pred"):
    """df + stopword-vote language ID: count marker-word hits per language,
    argmax with first-wins ties (mirrors the classifier's strictly-greater
    argmax); no hits -> 'unknown'.

    DataFrame-level for the same reason as add_quality_score: the hit counts
    are materialized columns, so the strictly-greater when/otherwise fold
    (whose tree doubles per language) duplicates only cheap attribute refs —
    never the tokenizer."""
    d = df.withColumn("_toks", tokens_col(F.lower(F.col(text_col))))

    def _hits(markers):
        return F.size(F.filter(F.col("_toks"), lambda t: t.isin(*markers)))

    hit_cols = []
    for i, (_code, markers) in enumerate(LANG_MARKERS):
        col = f"_h{i}"
        hit_cols.append(col)
        d = d.withColumn(col, _hits(markers))
    # fold in declared order with strictly-greater update -> first-wins ties
    best = F.lit("unknown")
    best_score = F.lit(0)
    for i, (code, _markers) in enumerate(LANG_MARKERS):
        score = F.col(f"_h{i}")
        nb = F.when(score > best_score, F.lit(code)).otherwise(best)
        nbs = F.when(score > best_score, score).otherwise(best_score)
        best, best_score = nb, nbs
    return d.withColumn(out_col, best).drop("_toks", *hit_cols)


FP_MOD = 1_000_003  # prime modulus, small enough that products stay in int64


def fingerprint(text: Column) -> Column:
    """Order-sensitive document fingerprint: position-weighted token hash,
    token hashed as (len*131 + first-char codepoint), all mod FP_MOD.
    Pure integer arithmetic — bit-identical in Spark and the DuckDB oracle."""
    toks = tokens_col(text)
    terms = F.transform(
        toks,
        lambda t, i: (
            ((i + 1) % FP_MOD)
            * ((F.length(t) * 131 + F.ascii(F.substring(t, 1, 1))) % FP_MOD)
        )
        % FP_MOD,
    )
    return F.aggregate(
        terms,
        F.lit(0).cast("long"),
        lambda acc, x: (acc + x) % FP_MOD,
    )


def repetition_stats(df, text_col: str = "text", id_col: str = "doc_id"):
    """Gopher-style repetition quality signals (public filter family from
    the large-LM data-curation literature): per document,

      * dup_unigram_frac — 1 - distinct/total tokens (duplicate-word mass)
      * top_bigram_share — frequency share of the most common bigram

    High values of either are the standard reject signals for boilerplate /
    degenerate generations. Fully columnar: tokenization and the bigram
    array are materialized behind projection boundaries (withColumn) so
    Catalyst cannot re-inline them into every downstream expression (the
    round-1 lang_id lesson); the per-doc bigram mode is an O(k^2) array
    expression, bounded by tokens-per-doc, with no shuffle at all."""
    from pyspark.sql import functions as F

    out = df.withColumn("_toks", tokens_col(F.lower(F.col(text_col))))
    n = F.size(F.col("_toks"))
    out = out.withColumn(
        "_bg",
        F.when(
            n >= 2,
            F.transform(
                F.sequence(F.lit(0), n - 2),
                lambda i: F.array_join(F.slice(F.col("_toks"), i + 1, 2), " "),
            ),
        ).otherwise(F.array().cast("array<string>")),
    )
    bg = F.col("_bg")
    top_count = F.array_max(
        F.transform(bg, lambda b: F.size(F.filter(bg, lambda x: x == b)))
    )
    return out.select(
        F.col(id_col),
        F.round(
            F.when(n > 0, 1 - F.size(F.array_distinct(F.col("_toks"))) / n)
            .otherwise(0.0),
            6,
        ).alias("dup_unigram_frac"),
        F.round(
            F.when(F.size(bg) > 0, top_count / F.size(bg)).otherwise(0.0), 6
        ).alias("top_bigram_share"),
    )


def readability(df, text_col: str = "text", id_col: str = "doc_id"):
    """(doc_id, n_words, n_sentences, n_syllables, fk_grade) —
    Flesch–Kincaid grade level, the classic readability score used as a
    cheap text-quality / audience-level signal in curation pipelines:

        fk = 0.39 * words/sentences + 11.8 * syllables/words - 15.59

    Syllables are the standard vowel-group heuristic — each maximal
    [aeiouy]+ run counts one, floored at 1 per word — and sentences are
    terminal-punctuation runs ([.!?]+), floored at 1 for any non-empty
    document. Empty/token-less docs score 0.0 across the board.

    Physical shape: explode tokens once -> per-doc hash aggregate with
    map-side combine (count = words, sum of per-token vowel-run counts =
    syllables). The per-word floor forces token granularity, and explode +
    hash-agg beats a higher-order-function fold (HOFs are CodegenFallback);
    sentences come from a doc-level regexp count on the un-exploded side.
    One shuffle on the doc key; the join back is on the same key."""
    from pyspark.sql import functions as F

    toks = fan_out(df).select(
        F.col(id_col).alias("id"),
        F.explode_outer(tokens_col(F.lower(F.col(text_col)))).alias("t"),
    ).where(F.col("t").isNotNull())
    per = toks.groupBy("id").agg(
        F.count("*").cast("long").alias("n_words"),
        F.sum(
            F.greatest(
                F.lit(1),
                F.size(F.split(F.col("t"), "[aeiouy]+")) - 1,
            )
        )
        .cast("long")
        .alias("n_syllables"),
    )
    sent = df.select(
        F.col(id_col),
        F.greatest(
            F.lit(1),
            F.size(
                F.split(F.coalesce(F.col(text_col), F.lit("")), "[.!?]+")
            )
            - 1,
        )
        .cast("long")
        .alias("n_sentences"),
    )
    return (
        sent.join(per, F.col(id_col) == per.id, "left")
        .select(
            F.col(id_col),
            F.coalesce("n_words", F.lit(0)).cast("long").alias("n_words"),
            F.col("n_sentences"),
            F.coalesce("n_syllables", F.lit(0))
            .cast("long")
            .alias("n_syllables"),
            # round-half-up at 4dp via floor(x*1e4 + 0.5): the formula's
            # exact values are rationals over s*w and land EXACTLY on
            # .xxxx5 ties (w=64 -> 25.22625), where engine round()
            # disagrees on the double below the tie. floor(+0.5) over the
            # identically-sequenced IEEE expression is deterministic and
            # equal across Spark and the DuckDB oracle.
            F.when(
                F.coalesce(F.col("n_words"), F.lit(0)) > 0,
                F.floor(
                    (
                        F.lit(3900.0)
                        * F.col("n_words")
                        * F.col("n_words")
                        + F.lit(118000.0)
                        * F.col("n_syllables")
                        * F.col("n_sentences")
                        - F.lit(155900.0)
                        * F.col("n_sentences")
                        * F.col("n_words")
                    )
                    / (F.col("n_sentences") * F.col("n_words"))
                    + F.lit(0.5)
                )
                / F.lit(10000.0),
            )
            .otherwise(F.lit(0.0))
            .alias("fk_grade"),
        )
    )


def ocr_garble_score(df, text_col: str = "text", id_col: str = "doc_id"):
    """(doc_id, n_chars, n_letters, n_vowels, n_sym, max_consonant_run,
    garbled) — OCR/mojibake damage signals for scanned-document corpora
    (the pdf-extraction domain's own quality filter: OCR noise scores
    fine on length/stopword quality but is unlearnable):

      * n_sym              — chars outside [a-z0-9 whitespace . , ; : ' -]
      * max_consonant_run  — longest consonant run ('tkqzxwfg' is OCR
                             line noise; English maxes ~4-5, 'ngths')
      * vowel starvation   — letters with almost no vowels

    garbled = sym-share > 0.3 OR consonant run >= 8 OR (>= 20 letters AND
    vowel share < 0.15). All counts are INTEGER columns (the derived
    ratios are left to the consumer) so the cross-engine hash has no
    float-rounding surface at all. Fully columnar, zero shuffle."""
    from pyspark.sql import functions as F

    low = F.lower(F.coalesce(F.col(text_col), F.lit("")))
    n_chars = F.length(low)
    n_letters = n_chars - F.length(F.regexp_replace(low, r"[a-z]", ""))
    n_vowels = n_chars - F.length(F.regexp_replace(low, r"[aeiouy]", ""))
    n_sym = F.length(F.regexp_replace(low, r"[a-z0-9\s.,;:'-]", ""))
    runs = F.array_max(
        F.transform(
            F.split(low, r"[^bcdfghjklmnpqrstvwxz]+"), F.length
        )
    )
    out = (
        df.select(
            F.col(id_col),
            n_chars.cast("long").alias("n_chars"),
            n_letters.cast("long").alias("n_letters"),
            n_vowels.cast("long").alias("n_vowels"),
            n_sym.cast("long").alias("n_sym"),
            F.coalesce(runs, F.lit(0)).cast("long").alias("max_consonant_run"),
        )
    )
    garbled = (
        (F.col("n_chars") > 0)
        & (F.col("n_sym") * 10 > F.col("n_chars") * 3)
    ) | (F.col("max_consonant_run") >= 8) | (
        (F.col("n_letters") >= 20)
        & (F.col("n_vowels") * 100 < F.col("n_letters") * 15)
    )
    return out.withColumn("garbled", garbled)


# Unicode script ranges in the Java ∩ RE2 regex subset (\x{hhhh} char
# escapes work in BOTH engines; \uXXXX is Java-only). Ranges cover upper
# and lower case so no engine-specific lower() mapping is ever applied.
SCRIPT_RANGES: list[tuple[str, str]] = [
    ("latin", r"[A-Za-z]"),
    ("han", r"[\x{4e00}-\x{9fff}]"),
    ("cyrillic", r"[\x{0400}-\x{04ff}]"),
    ("arabic", r"[\x{0600}-\x{06ff}]"),
    ("greek", r"[\x{0370}-\x{03ff}]"),
    ("digit", r"[0-9]"),
]


def script_mix(df, text_col: str = "text", id_col: str = "doc_id"):
    """(doc_id, n_latin, n_han, n_cyrillic, n_arabic, n_greek, n_digit,
    dominant_script) — per-document Unicode script composition, the
    router signal multilingual curation needs BEFORE language ID (an
    n-gram language model is per-script; mixed-script spam and mojibake
    show up as impossible mixes). Counts are characters in each script
    range; dominant is a fixed-order strictly-greater fold (ties keep
    the earlier class, 'none' for documents with no scripted character).

    All-integer + string output (no float hash surface); fully columnar
    char-class counting — one narrow projection, zero shuffle."""
    from pyspark.sql import functions as F

    t = F.coalesce(F.col(text_col), F.lit(""))
    out = df.select(
        F.col(id_col),
        *[
            (F.length(t) - F.length(F.regexp_replace(t, pat, "")))
            .cast("long")
            .alias(f"n_{name}")
            for name, pat in SCRIPT_RANGES
        ],
    )
    dominant = F.lit("none")
    best = F.lit(0).cast("long")
    for name, _ in SCRIPT_RANGES:
        cnt = F.col(f"n_{name}")
        dominant = F.when(cnt > best, F.lit(name)).otherwise(dominant)
        best = F.when(cnt > best, cnt).otherwise(best)
    return out.withColumn("dominant_script", dominant)


def tfidf_top_terms(
    df, text_col: str = "text", id_col: str = "doc_id", k: int = 3
):
    """Per-document top-k keywords by tf-idf with a LINEAR idf (score =
    tf * N / df): products of small integers stay exactly representable in
    float64, so ranking is bit-identical across engines (log-idf would hang
    tie-breaks on transcendental rounding; it's a one-expression change if
    ranking parity across engines isn't required). Ties break on the term.

    Physical shape (the corpus-statistics pattern, distinct from the
    per-row textstats): explode tokens -> per-(doc, term) counts with
    map-side combine -> term document-frequency aggregate joined back on
    the term key (shuffle join — the term dimension is corpus-sized, NOT
    broadcastable at scale) -> per-doc window top-k."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    n_docs = df.count()
    terms = df.select(
        F.col(id_col).alias("id"),
        F.explode(tokens_col(F.lower(F.col(text_col)))).alias("term"),
    )
    tf = terms.groupBy("id", "term").agg(F.count("*").alias("tf"))
    dfreq = (
        terms.distinct().groupBy("term").agg(F.count("*").alias("df"))
    )
    scored = tf.join(dfreq, "term").select(
        "id",
        "term",
        F.round(F.col("tf") * F.lit(n_docs) / F.col("df"), 6).alias("score"),
    )
    w = Window.partitionBy("id").orderBy(F.desc("score"), "term")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(F.col("id").alias(id_col), "term", "score", "rank")
    )


def vocab_coverage(
    df,
    text_col: str = "text",
    id_col: str = "doc_id",
    vocab_size: int = 100,
):
    """(doc_id, n_tokens, n_in_vocab, coverage) — per-document coverage by
    the corpus top-`vocab_size` vocabulary (count desc, token asc — fully
    tie-broken so the vocabulary cut is deterministic cross-engine). Low
    coverage flags out-of-domain / gibberish / wrong-language text; the
    same signal tokenizer-fit audits use before training.

    Two corpus passes over the exploded tokens (vocabulary build, then
    scoring) — the vocabulary is train-once state like the ngram_lm
    table, persisted at production scale so the scoring pass alone
    reruns. The vocabulary is broadcast (vocab_size rows by
    construction), so scoring adds no shuffle beyond the per-doc count
    aggregation; empty docs survive via the left join with coverage 0."""
    from pyspark.sql import functions as F

    toks = tokens_col(F.lower(F.col(text_col)))
    words = df.select(F.col(id_col).alias("id"), F.explode(toks).alias("w"))
    vocab = (
        words.groupBy("w")
        .agg(F.count("*").alias("c"))
        .orderBy(F.desc("c"), "w")
        .limit(vocab_size)
        .select("w", F.lit(1).alias("_inv"))
    )
    scored = (
        words.join(F.broadcast(vocab), "w", "left")
        .groupBy("id")
        .agg(
            F.count("*").cast("long").alias("n_tokens"),
            F.coalesce(F.sum("_inv"), F.lit(0)).cast("long").alias(
                "n_in_vocab"
            ),
        )
    )
    return (
        df.select(F.col(id_col))
        .join(scored.withColumnRenamed("id", id_col), id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce("n_tokens", F.lit(0)).alias("n_tokens"),
            F.coalesce("n_in_vocab", F.lit(0)).alias("n_in_vocab"),
            F.coalesce(
                F.round(
                    F.try_divide(F.col("n_in_vocab"), F.col("n_tokens")), 6
                ),
                F.lit(0.0),
            ).alias("coverage"),
        )
    )


def gopher_filter(
    df,
    text_col: str = "text",
    id_col: str = "doc_id",
    lang_col: str = "lang",
    as_columns: bool = False,
):
    """(doc_id, ok_len, ok_wordlen, ok_stop, ok_dup_unigram, ok_top_bigram,
    ok_digit, accept) — the Gopher-style composite document filter from the
    public LM data-curation literature, every rule doc-local:

      * ok_len         — 10 <= token count <= 100,000
      * ok_wordlen     — mean token length in [3, 10]
      * ok_stop        — >= 2 English stopwords (applied to en docs only;
                         other languages pass vacuously — the published
                         rule is English-specific)
      * ok_dup_unigram — duplicate-word mass (1 - distinct/total) <= 0.5
      * ok_top_bigram  — most common bigram's share <= 0.2
      * ok_digit       — digit characters <= 20% of text
      * accept         — AND of all six

    All comparisons are on exact integer ratios (same IEEE doubles in any
    engine — no rounding boundary to disagree on), so the DuckDB oracle
    matches bit-for-bit.

    Scale: zero shuffle, zero Python — a narrow codegen projection that
    filters at scan speed, the shape a 100 TB accept/reject pass must
    have. Tokens and the bigram array sit behind projection boundaries
    (withColumn) so Catalyst cannot re-inline the tokenization into each
    of the six rules."""
    from pyspark.sql import functions as F

    out = df.withColumn("_toks", tokens_col(F.lower(F.col(text_col))))
    n = F.size(F.col("_toks"))
    out = out.withColumn(
        "_bg",
        F.when(
            n >= 2,
            F.zip_with(
                F.expr("slice(_toks, 1, size(_toks) - 1)"),
                F.expr("slice(_toks, 2, size(_toks) - 1)"),
                lambda a, b: F.concat_ws(" ", a, b),
            ),
        ).otherwise(F.array().cast("array<string>")),
    )
    stop_arr = F.array(*[F.lit(w) for w in EN_STOPWORDS])
    # every rule scalar behind ONE projection boundary: referenced twice
    # below, an inline fold/filter would be evaluated twice per row
    out = (
        out.withColumn("_n", n)
        .withColumn(
            "_n_stop",
            F.size(F.filter("_toks", lambda t: F.array_contains(stop_arr, t))),
        )
        .withColumn(
            "_tok_chars",
            F.aggregate(
                F.transform("_toks", lambda t: F.length(t)),
                F.lit(0),
                lambda acc, x: acc + x,
            ),
        )
        .withColumn("_n_chars", F.coalesce(F.length(F.col(text_col)), F.lit(0)))
        .withColumn(
            "_n_digit",
            F.coalesce(
                F.length(F.regexp_replace(F.col(text_col), r"[^0-9]", "")),
                F.lit(0),
            ),
        )
        # top-bigram count via sort + max run length: O(n log n) per doc,
        # not the O(n^2) transform-with-nested-filter — on a 100k-token doc
        # that's ~1e6 comparisons instead of ~1e10. Initial prev='' can
        # never equal a real bigram ('tok tok' is non-empty).
        .withColumn(
            "_top_bg",
            F.aggregate(
                F.array_sort("_bg"),
                F.struct(
                    F.lit("").alias("prev"),
                    F.lit(0).alias("run"),
                    F.lit(0).alias("best"),
                ),
                lambda acc, x: F.struct(
                    x.alias("prev"),
                    F.when(x == acc["prev"], acc["run"] + 1)
                    .otherwise(F.lit(1))
                    .alias("run"),
                    F.greatest(
                        acc["best"],
                        F.when(x == acc["prev"], acc["run"] + 1).otherwise(
                            F.lit(1)
                        ),
                    ).alias("best"),
                ),
                lambda acc: acc["best"],
            ),
        )
        .withColumn("_n_dist", F.size(F.array_distinct("_toks")))
        .withColumn("_n_bg", F.size("_bg"))
    )
    c = F.col
    # try_divide, not `/`: ANSI mode evaluates both AND branches in codegen,
    # so a `(n > 0) & (x / n ...)` guard still throws DIVIDE_BY_ZERO on
    # empty docs. try_divide yields NULL and three-valued logic resolves
    # the guard (false & null = false, true | null = true).
    wordlen = F.try_divide(c("_tok_chars"), c("_n"))
    ok_len = (c("_n") >= 10) & (c("_n") <= 100000)
    ok_wordlen = (c("_n") > 0) & ((wordlen >= 3.0) & (wordlen <= 10.0))
    ok_stop = (c(lang_col) != "en") | (c("_n_stop") >= 2)
    ok_dup = (c("_n") > 0) & (
        F.lit(1.0) - F.try_divide(c("_n_dist"), c("_n")) <= 0.5
    )
    ok_bg = (c("_n_bg") == 0) | (F.try_divide(c("_top_bg"), c("_n_bg")) <= 0.2)
    ok_digit = (c("_n_chars") == 0) | (
        F.try_divide(c("_n_digit"), c("_n_chars")) <= 0.2
    )
    out = (
        out.withColumn("ok_len", ok_len)
        .withColumn("ok_wordlen", ok_wordlen)
        .withColumn("ok_stop", ok_stop)
        .withColumn("ok_dup_unigram", ok_dup)
        .withColumn("ok_top_bigram", ok_bg)
        .withColumn("ok_digit", ok_digit)
    )
    acc = (
        F.col("ok_len")
        & F.col("ok_wordlen")
        & F.col("ok_stop")
        & F.col("ok_dup_unigram")
        & F.col("ok_top_bigram")
        & F.col("ok_digit")
    )
    if as_columns:
        # append mode for pipeline composition: input columns + the six
        # rule flags + accept, temp columns dropped
        return out.withColumn("accept", acc).drop(
            "_toks", "_bg", "_n", "_n_stop", "_tok_chars", "_n_chars",
            "_n_digit", "_top_bg", "_n_dist", "_n_bg",
        )
    return out.select(
        F.col(id_col),
        "ok_len",
        "ok_wordlen",
        "ok_stop",
        "ok_dup_unigram",
        "ok_top_bigram",
        "ok_digit",
        acc.alias("accept"),
    )


# Hashed-bag-of-words linear classifier ("fastText-style" quality filter).
# D buckets; weights derived deterministically from md5 so the model is
# reproducible anywhere and the DuckDB oracle can embed the identical
# double literals. Python float repr round-trips exactly, so both engines
# compute with bit-identical coefficients.
HASH_LR_BUCKETS = 256


def hash_lr_weights(buckets: int = HASH_LR_BUCKETS) -> list[float]:
    """Deterministic weight vector in [-1, 1): bucket j's weight comes from
    the top 60 bits of md5('lrw_<j>') scaled to [-1, 1). A real deployment
    swaps this for trained coefficients (same shape: a D-vector broadcast
    as a literal/array — the model RIDES THE PLAN, no side file, no UDF)."""
    import hashlib

    out = []
    for j in range(buckets):
        h = int(hashlib.md5(f"lrw_{j}".encode()).hexdigest()[:15], 16)
        out.append(h / float(2**60) * 2.0 - 1.0)
    return out


def hash_lr_score(
    df,
    text_col: str = "text",
    id_col: str = "doc_id",
    buckets: int = HASH_LR_BUCKETS,
    as_columns: bool = False,
    weights: "list[float] | None" = None,
    binary: bool = False,
):
    """(doc_id, n_tokens, margin, score, accept) — hashed bag-of-words
    linear model applied fully columnar: each token hashes (md5, 60-bit,
    cross-engine — see simhash_token_hash) into one of `buckets` weight
    slots; margin = left-to-right fold of the per-token weights; score =
    margin / n_tokens; accept = margin > 0. `weights` plugs a trained
    model in (train_hash_lr_weights / the jobs/run_train.py artifact);
    default is the deterministic demo vector. `binary=True` scores the
    DISTINCT token set (the feature space train_hash_lr_weights fits;
    its integer weights make margins exact integer-valued doubles, so
    any sum order agrees).

    This is the shape of a fastText/CCNet-style learned quality filter at
    100 TB: the model is a small dense vector shipped INSIDE the plan as a
    foldable array literal (the degenerate no-join "broadcast"), scoring is
    a narrow whole-stage-codegen projection — no shuffle, no Python worker,
    no model file to distribute to executors.

    Cross-engine determinism: weights are identical double literals in both
    engines, the fold order is sequential left-to-right in both (Spark
    `aggregate`, DuckDB `list_reduce`), so `margin` is bit-identical and
    `accept`'s strict comparison cannot flip."""
    from pyspark.sql import functions as F

    from pdf_extractor_spark.operators.dedup import simhash_token_hash

    if weights is None:
        weights = hash_lr_weights(buckets)
    assert len(weights) == buckets
    w = F.array(*[F.lit(float(x)) for x in weights])
    toks = tokens_col(F.lower(F.col(text_col)))
    if binary:
        toks = F.array_distinct(toks)
    out = (
        df.withColumn("_toks", toks)
        # weight lookup behind a projection boundary: the margin fold
        # references the array once; inlining the tokenizer+hash into the
        # fold would re-run md5 per fold step after project collapsing
        .withColumn(
            "_tw",
            F.transform(
                "_toks",
                lambda t: F.element_at(
                    w, (simhash_token_hash(t) % buckets).cast("int") + 1
                ),
            ),
        )
        .withColumn(
            "_margin",
            F.aggregate(
                "_tw", F.lit(0.0).cast("double"), lambda acc, x: acc + x
            ),
        )
        .withColumn("_n", F.size("_toks"))
    )
    if as_columns:
        # append mode for pipeline composition; lr_ prefix so the columns
        # compose with gopher_filter's `accept` on the same frame
        return (
            out.withColumn("lr_margin", F.round("_margin", 6))
            .withColumn(
                "lr_score", F.round(F.try_divide("_margin", F.col("_n")), 6)
            )
            .withColumn("lr_accept", F.col("_margin") > 0)
            .drop("_toks", "_tw", "_margin", "_n")
        )
    return out.select(
        F.col(id_col),
        F.col("_n").alias("n_tokens"),
        F.round("_margin", 6).alias("margin"),
        F.round(F.try_divide("_margin", F.col("_n")), 6).alias("score"),
        (F.col("_margin") > 0).alias("accept"),
    )


def train_hash_lr_weights(
    df,
    label_col: str,
    text_col: str = "text",
    buckets: int = HASH_LR_BUCKETS,
):
    """(bucket, n_pos, n_neg, weight BIGINT) — TRAIN the hashed-BoW
    linear model that hash_lr_score(binary=True) applies:
    centroid-difference weights over BINARY (distinct-token) features,
    kept in EXACT INTEGER form — w_j = pos_j*N - neg_j*P, the
    cross-multiplied (pos_j/P - neg_j/N) document-frequency difference
    (same decision boundary, positive scale factor P*N). pos_j / neg_j
    count the positively / negatively labeled docs whose token set hits
    bucket j; P / N are the class totals of those document-frequency
    events. Closed-form from counts (the Rocchio/NB-frequency family):
    one distinct-token explode + one bounded groupBy — distributed,
    deterministic, and bit-replicable in SQL with no transcendentals and
    no float folds (integer margins sum order-free). Measured 0.994
    train accuracy against the regex teacher at sf0.01 when paired with
    the trained midpoint threshold (see jobs/run_train.py /
    __spark_entry__._hash_lr_trained); the same weights with binary
    occurrence counts and a zero threshold sat BELOW the majority base
    rate — the distinct-feature + threshold pairing is what makes this a
    real model. This is the weak-supervision distillation step of a
    crawl pipeline: the expensive teacher (regex rules, a large LM)
    labels a corpus once, the distilled D-vector scores 10^12 docs as a
    plan literal (see hash_lr_score).

    All `buckets` rows are always emitted (untouched buckets at weight
    0), so the output IS the dense model artifact jobs/run_train.py
    persists. Integer bound: |weight| <= P*N (doc counts), |margin| <=
    distinct-tokens-per-doc * P*N — exact in BIGINT and in doubles up to
    2^53, far beyond any per-shard training set."""
    from pyspark.sql import functions as F

    from pdf_extractor_spark.operators.dedup import simhash_token_hash

    occ = df.select(
        F.col(label_col).alias("_y"),
        F.explode(
            F.array_distinct(tokens_col(F.lower(F.col(text_col))))
        ).alias("_t"),
    ).select(
        "_y",
        (simhash_token_hash(F.col("_t")) % buckets).cast("int").alias(
            "bucket"
        ),
    )
    counts = occ.groupBy("bucket").agg(
        F.sum(F.when(F.col("_y"), 1).otherwise(0)).cast("long").alias(
            "n_pos"
        ),
        F.sum(F.when(~F.col("_y"), 1).otherwise(0)).cast("long").alias(
            "n_neg"
        ),
    )
    tot = counts.agg(
        F.sum("n_pos").alias("_p"), F.sum("n_neg").alias("_n")
    )
    allb = df.sparkSession.range(buckets).select(
        F.col("id").cast("int").alias("bucket")
    )
    pos = F.coalesce("n_pos", F.lit(0)).cast("long")
    neg = F.coalesce("n_neg", F.lit(0)).cast("long")
    return (
        allb.join(counts, "bucket", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "bucket",
            pos.alias("n_pos"),
            neg.alias("n_neg"),
            (pos * F.col("_n") - neg * F.col("_p")).cast("long").alias(
                "weight"
            ),
        )
    )


BM25_QUERIES = (
    ("q1", "spark table scan"),
    ("q2", "hash join merge"),
    ("q3", "window order data"),
)


def bm25_topk(
    df,
    queries=BM25_QUERIES,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
):
    """(query_id, doc_id, score, rank) — BM25 lexical top-k retrieval for a
    small batch of queries over the corpus (reference parity: the keyword
    scoring surface of classifier.py's rule engine, generalized to ranked
    retrieval; the LLM-pipeline use is quality-probe / eval-set retrieval).

    Scoring variant: idf is the RATIONAL Robertson idf without the log —
    idf = (N - df + 0.5) / (df + 0.5) — so every per-term score is a fixed
    dag of IEEE double ops (no libm transcendentals) and ranks identically
    across engines; the per-doc sum folds per-term scores IN TERM ORDER
    (array_sort + aggregate), making the float sum order-deterministic and
    bit-identical to the DuckDB oracle's ordered list_reduce.

    Physical shape (the inverted-index probe, NOT a corpus-wide tf-idf):
    the broadcast query-term set filters the exploded token stream BEFORE
    any aggregation, so tf/df aggregates touch only matching postings —
    at 100 TB the scan is the only full pass; everything downstream is
    proportional to matching postings, and doc-length stats come from a
    columnar size() with a 1-row scalar broadcast (SCALAR_BROADCAST_OK).
    Rank ties break on doc_id; ranking orders by the ROUNDED score so
    cross-engine 1-ulp drift cannot flip ranks."""
    from pyspark.sql import Window

    from pdf_extractor_spark.session import values_df

    spark = df.sparkSession
    qdf = values_df(spark, list(queries), "query_id string, qtext string")
    qterms = qdf.select(
        "query_id",
        F.explode(tokens_col(F.lower(F.col("qtext")))).alias("term"),
    ).distinct()
    base = df.withColumn("_toks", tokens_col(F.lower(F.col(text_col))))
    stats = base.agg(
        F.count("*").alias("n_docs"),
        F.sum(F.size("_toks")).alias("total_dl"),
    )
    # explode_OUTER + isNotNull: a plain explode's inferred size(_toks)>0
    # filter is pushed below the projection and re-inlines the tokenizer
    # per conjunct (measured 10 split() copies in the optimized plan)
    words = base.select(
        F.col(id_col).alias("id"),
        F.size("_toks").alias("dl"),
        F.explode_outer("_toks").alias("term"),
    ).where(F.col("term").isNotNull())
    tf = (
        words.join(
            F.broadcast(qterms.select("term").distinct()), "term"
        )
        .groupBy("id", "term")
        .agg(F.count("*").alias("tf"), F.max("dl").alias("dl"))
    )
    dfreq = tf.groupBy("term").agg(F.count("*").alias("df"))
    avgdl = F.col("total_dl").cast("double") / F.col("n_docs")
    idf = (F.col("n_docs") - F.col("df") + F.lit(0.5)) / (
        F.col("df") + F.lit(0.5)
    )
    tfp = (F.col("tf") * F.lit(k1 + 1.0)) / (
        F.col("tf")
        + F.lit(k1)
        * (F.lit(1.0 - b) + F.lit(b) * F.col("dl") / avgdl)
    )
    per_term = (
        tf.join(F.broadcast(dfreq), "term")
        .join(F.broadcast(qterms), "term")
        .crossJoin(F.broadcast(stats))
        .select("query_id", "id", "term", (idf * tfp).alias("s"))
    )
    summed = per_term.groupBy("query_id", "id").agg(
        F.round(
            F.aggregate(
                F.array_sort(F.collect_list(F.struct("term", "s"))),
                F.lit(0.0).cast("double"),
                lambda acc, x: acc + x["s"],
            ),
            6,
        ).alias("score")
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), "id")
    return (
        summed.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id", F.col("id").alias(id_col), "score", "rank"
        )
    )


def phrase_search(
    df,
    phrases,
    text_col: str = "text",
    id_col: str = "doc_id",
):
    """(phrase_id, phrase, doc_id, n_matches, first_pos) — exact phrase
    matching over a positional inverted index: a phrase of terms
    t0..t(L-1) matches at position p iff token p+i == ti for every offset
    i. The positional-index probe every lexical retrieval / quote-mining /
    attribution stage runs after BM25's bag-of-words pass.

    Physical shape: the corpus is exploded ONCE into (doc, pos, term)
    postings — at production scale this index is written at ingest and
    the query is a pure probe; here the explode is the narrow stand-in.
    The phrase-term table (a handful of rows) broadcasts onto the posting
    stream, so only postings whose term occurs in SOME phrase survive the
    probe; candidate anchors group on (phrase, doc, pos - offset) with
    map-side partial aggregation, and an anchor is a match iff it covers
    every offset — count(distinct offset) == phrase_len handles repeated
    terms inside a phrase correctly. At 100 TB the only full pass is the
    index scan; everything downstream is proportional to matching
    postings. (The classic refinement for stopword-laden phrases —
    intersect doc sets starting from the RAREST term before positional
    verification — drops in between the probe and the anchor group-by
    without changing this shape.)"""
    pt = phrases.select(
        "phrase_id",
        F.posexplode_outer(tokens_col(F.lower(F.col("phrase")))).alias(
            "off", "term"
        ),
    ).where(F.col("term").isNotNull())
    ph = phrases.select(
        "phrase_id",
        "phrase",
        F.size(tokens_col(F.lower(F.col("phrase")))).alias("phrase_len"),
    ).where(F.col("phrase_len") > 0)
    base = df.withColumn("_toks", tokens_col(F.lower(F.col(text_col))))
    # explode_OUTER + isNotNull: the inferred size()>0 filter of a plain
    # explode re-inlines the tokenizer below the projection (see bm25_topk)
    post = base.select(
        F.col(id_col).alias("_id"),
        F.posexplode_outer("_toks").alias("pos", "term"),
    ).where(F.col("term").isNotNull())
    anchors = (
        post.join(F.broadcast(pt), "term")
        .select(
            "phrase_id",
            F.col("_id"),
            (F.col("pos") - F.col("off")).alias("base_pos"),
            "off",
        )
        .where(F.col("base_pos") >= 0)
        .groupBy("phrase_id", "_id", "base_pos")
        .agg(F.countDistinct("off").alias("_hits"))
    )
    matched = anchors.join(F.broadcast(ph), "phrase_id").where(
        F.col("_hits") == F.col("phrase_len")
    )
    return matched.groupBy("phrase_id", "phrase", F.col("_id")).agg(
        F.count("*").cast("long").alias("n_matches"),
        F.min("base_pos").alias("first_pos"),
    ).select(
        "phrase_id",
        "phrase",
        F.col("_id").alias(id_col),
        "n_matches",
        "first_pos",
    )


def calibration_bins(
    df,
    score_col: str = "lr_score",
    accept_col: str = "lr_accept",
    gold_col: str = "gold",
    n_bins: int = 10,
):
    """(bin, n_docs, n_accept, n_gold, n_both) — reliability-diagram
    counts for a quality classifier: scores in [-1, 1] bucket into
    `n_bins` fixed-width bins (NULL scores land in bin -1), and each bin
    counts documents, model accepts, gold positives, and their overlap.
    Per-bin precision/recall and the calibration curve are one division
    away for the consumer — the operator emits INTEGER counts only (the
    ocr_garble_score convention: no float hash surface, ratios are the
    reader's).

    This is the monitoring step a learned quality filter (hash_lr /
    fastText-style) needs before its threshold is trusted at 100 TB:
    the whole thing is one narrow projection + ONE hash shuffle with
    map-side partial aggregation on a <= n_bins+1 key domain."""
    from pyspark.sql import functions as F

    s = F.col(score_col)
    half = n_bins / 2.0
    bin_ = F.when(s.isNull(), F.lit(-1)).otherwise(
        F.least(
            F.greatest(F.floor((s + 1.0) * half).cast("int"), F.lit(0)),
            F.lit(n_bins - 1),
        )
    )
    return (
        df.select(
            bin_.alias("bin"),
            F.col(accept_col).cast("int").alias("_a"),
            F.col(gold_col).cast("int").alias("_g"),
        )
        .groupBy("bin")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("_a").cast("long").alias("n_accept"),
            F.sum("_g").cast("long").alias("n_gold"),
            F.sum(F.col("_a") * F.col("_g")).cast("long").alias("n_both"),
        )
    )


def entity_mentions(
    df,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_count: int = 2,
):
    """(mention, mention_len, n_mentions, n_docs) — NER-lite entity
    mention statistics: maximal runs of consecutive Capitalized tokens
    (^[A-Z][a-z]+$ after whitespace tokenization) are mention candidates,
    aggregated corpus-wide into occurrence and document counts. The
    downstream uses are curation-shaped: entity frequency priors,
    over-represented-entity detection (spam/SEO pages repeat their
    subject), and eval-set entity coverage.

    Spans are recovered with the gaps-and-islands fold (position minus
    rank among capitalized tokens); each mention string is rebuilt
    ORDER-DETERMINISTICALLY via array_sort over (pos, token) structs —
    never a bare collect_list. Two shuffles total: the doc_id window +
    island group-by share one hash exchange (subset-partitioning), the
    corpus rollup on the mention key is the second, partial-aggregated
    map-side. min_count prunes the hapax tail so output stays
    sub-corpus-sized."""
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    toks = df.select(
        F.col(id_col),
        F.posexplode_outer(tokens_col(F.col(text_col))).alias("pos", "tok"),
    ).where(F.col("tok").rlike("^[A-Z][a-z]+$"))
    grp = (
        F.col("pos")
        - F.row_number().over(W.partitionBy(id_col).orderBy("pos"))
    ).alias("grp")
    mentions = (
        toks.select(id_col, "pos", "tok", grp)
        .groupBy(id_col, "grp")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct(F.col("pos"), F.col("tok")))
                    ),
                    lambda s: s["tok"],
                ),
                " ",
            ).alias("mention"),
            F.count("*").cast("int").alias("mention_len"),
        )
    )
    return (
        mentions.groupBy("mention", "mention_len")
        .agg(
            F.count("*").cast("long").alias("n_mentions"),
            F.countDistinct(id_col).cast("long").alias("n_docs"),
        )
        .where(F.col("n_mentions") >= F.lit(int(min_count)))
    )


# WordPiece-style vocabulary: index state, same deployment story as
# hash_lr's weights (trained artifact ships as a plan literal). Singles
# guarantee every ASCII alnum consumes; anything else becomes [UNK].
WORDPIECE_VOCAB = tuple(
    [chr(c) for c in range(ord("a"), ord("z") + 1)]
    + [str(d) for d in range(10)]
    + [
        "th", "the", "ta", "tab", "table", "da", "data", "jo", "join",
        "in", "ing", "er", "or", "an", "at", "re", "row", "str", "eam",
        "sort", "mer", "ge", "win", "dow", "fil", "ter", "ba", "tch",
        "qu", "ery", "sp", "ark", "col", "umn", "ha", "sh", "gr", "oup",
    ]
)


def wordpiece_encode(
    df,
    vocab: "tuple[str, ...] | None" = None,
    max_len: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
):
    """(word, n_occurrences, pieces, n_pieces) — WordPiece/SentencePiece
    greedy LONGEST-MATCH-FIRST segmentation (vs bpe_encode's merge-rule
    replay: same family, different algorithm): from each cursor position
    the longest vocabulary piece wins; no match consumes one character
    as [UNK]. The segmentation is a left fold over character positions
    with a (cursor, pieces, count) struct accumulator — steps where the
    cursor has already advanced past the position are no-ops, so the
    data-dependent stride fits a fixed-length fold.

    Engine shape: encoding runs ONCE PER DISTINCT WORD (the bpe_* ops'
    vocabulary-table convention — corpus token instances only pay a
    groupBy), and the vocabulary is a foldable array literal riding the
    plan. The oracle replays the identical greedy walk as a recursive
    CTE, one recursion step per emitted piece."""
    from pyspark.sql import functions as F

    pieces = sorted(set(vocab or WORDPIECE_VOCAB))
    assert all(len(p) <= max_len for p in pieces), "piece longer than max_len"
    vlit = F.array(*[F.lit(p) for p in pieces])

    words = (
        df.select(
            F.explode_outer(tokens_col(F.lower(F.col(text_col)))).alias("word")
        )
        .where(F.col("word").isNotNull() & (F.col("word") != ""))
        .groupBy("word")
        .agg(F.count("*").cast("long").alias("n_occurrences"))
    )

    w = F.col("word")

    def step(acc, i):
        best_l = F.lit(0)
        for l in range(1, max_len + 1):  # build when-chain longest-first
            best_l = F.when(
                F.array_contains(vlit, w.substr(i, F.lit(l))), F.lit(l)
            ).otherwise(best_l)
        piece = F.when(best_l > 0, w.substr(i, best_l)).otherwise(
            F.lit("[UNK]")
        )
        out = F.when(
            acc["out"] == "", piece
        ).otherwise(F.concat(acc["out"], F.lit(" "), piece))
        return F.when(
            i == acc["nxt"],
            F.struct(
                (acc["nxt"] + F.greatest(best_l, F.lit(1))).alias("nxt"),
                out.alias("out"),
                (acc["n"] + 1).alias("n"),
            ),
        ).otherwise(acc)

    init = F.struct(
        F.lit(1).alias("nxt"), F.lit("").alias("out"), F.lit(0).alias("n")
    )
    enc = F.aggregate(F.sequence(F.lit(1), F.length(w)), init, step)
    return words.select(
        "word",
        "n_occurrences",
        enc["out"].alias("pieces"),
        enc["n"].cast("int").alias("n_pieces"),
    )


def zipf_fit(df, text_col: str = "text", id_col: str = "doc_id"):
    """One-row corpus summary: least-squares fit of Zipf's law,
    ln(freq) = intercept + slope * ln(rank), over the full term
    rank-frequency table (lowercased whitespace tokens). Re-creates the
    reference's corpus-profiling angle (analytics KPIs over extraction
    output, src/core/analytics.py) at the term level: a healthy natural
    corpus fits slope ~ -1; template/spam-heavy crawls flatten the curve.

    Scale shape: the corpus-size work is ONE map-side-combined
    groupBy(term); everything after runs on the vocabulary. But the
    vocabulary itself grows with the corpus (Heaps: ~N^0.8 types for N
    tokens — 10^8+ at 100 TB), so the rank comes from the
    range-partitioned rank engine (ranking.scalable_row_number:
    broadcast percentile_approx cuts -> per-bucket window -> bounded
    offset table), never a single-task vocabulary sort. The closed-form
    OLS needs just five sums — no iteration, no driver collect. Ties on
    frequency break by term so the ranking (hence the fit) is
    bit-deterministic.
    """
    from .ranking import scalable_row_number

    toks = df.select(
        F.explode(tokens_col(F.lower(F.col(text_col)))).alias("term")
    )
    freq = toks.groupBy("term").agg(F.count("*").cast("long").alias("freq"))
    ranked = scalable_row_number(
        freq, "freq", ["term"], ascending=False, out_col="rank"
    ).select(
        "freq",
        F.log(F.col("rank").cast("double")).alias("x"),
        F.log(F.col("freq").cast("double")).alias("y"),
    )
    agg = ranked.agg(
        F.count("*").cast("long").alias("n_types"),
        F.sum("freq").cast("long").alias("n_tokens"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    n = F.col("n_types").cast("double")
    slope = (n * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        n * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    return agg.select(
        "n_types",
        "n_tokens",
        F.round(slope, 6).alias("zipf_slope"),
        F.round((F.col("sy") - slope * F.col("sx")) / n, 6).alias(
            "zipf_intercept"
        ),
    )


def heaps_law(
    df,
    n_buckets: int = 20,
    text_col: str = "text",
    id_col: str = "doc_id",
):
    """(bucket, cum_tokens, cum_vocab, heaps_beta, heaps_k) — vocabulary
    growth checkpoints plus the Heaps'-law fit V = K * N^beta (OLS on
    ln V ~ ln N over the checkpoints). Curation signal: beta far above a
    language's norm means unconsolidated noise (OCR garble, random IDs);
    far below means heavy duplication/templating — both corpus smells the
    reference's dashboard-style KPIs would surface per batch.

    Scale shape: a naive cumulative-vocabulary curve needs a global
    per-document window — 10^12 rows through one sort at target scale.
    Instead documents are ordered by id and cut into `n_buckets` ranges;
    a term's FIRST bucket is bucket(min(doc_id)), so per-bucket new-type
    counts come from one groupBy(term) + one groupBy(bucket), and the
    only window (the cumulative sums) runs over n_buckets rows. The
    checkpoints are exact integers — only the fitted constants are
    floats, rounded to 6dp for cross-engine hashing.
    """
    from pyspark.sql import Window as W

    bounds = df.agg(
        F.min(id_col).alias("lo"),
        (F.max(id_col) - F.min(id_col) + 1).alias("span"),
    )
    b = F.least(
        F.lit(int(n_buckets) - 1),
        F.floor(
            (F.col(id_col) - F.col("lo"))
            * int(n_buckets)
            / F.col("span")
        ),
    ).cast("int").alias("bucket")
    docs = df.crossJoin(F.broadcast(bounds)).select(
        F.col(id_col), b, F.col(text_col)
    )
    per_bucket_tokens = docs.groupBy("bucket").agg(
        F.sum(token_count(F.col(text_col))).cast("long").alias("toks")
    )
    first_seen = (
        docs.select(
            "bucket",
            F.explode(tokens_col(F.lower(F.col(text_col)))).alias("term"),
        )
        .groupBy("term")
        .agg(F.min("bucket").alias("bucket"))
        .groupBy("bucket")
        .agg(F.count("*").cast("long").alias("new_types"))
    )
    w = W.orderBy("bucket").rowsBetween(W.unboundedPreceding, 0)
    cum = (
        per_bucket_tokens.join(first_seen, "bucket", "left")
        .select(
            "bucket",
            F.sum("toks").over(w).cast("long").alias("cum_tokens"),
            F.sum(F.coalesce(F.col("new_types"), F.lit(0)))
            .over(w)
            .cast("long")
            .alias("cum_vocab"),
        )
    )
    pts = cum.where(
        (F.col("cum_tokens") > 0) & (F.col("cum_vocab") > 0)
    ).select(
        F.log(F.col("cum_tokens").cast("double")).alias("x"),
        F.log(F.col("cum_vocab").cast("double")).alias("y"),
    )
    fit = pts.agg(
        F.count("*").cast("double").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    beta = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    consts = fit.select(
        F.round(beta, 6).alias("heaps_beta"),
        F.round(
            F.exp((F.col("sy") - beta * F.col("sx")) / F.col("n")), 6
        ).alias("heaps_k"),
    )
    return cum.crossJoin(F.broadcast(consts))


def word_burstiness(
    df,
    min_df: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
):
    """(term, df1, df2, total_tf, burstiness, mean_tf) — Church-Gale
    burstiness per term: among documents that contain the term at all
    (df1), the fraction that contain it AGAIN (df2/df1). Content words
    burst (a doc about 'spark' says it many times); function words
    spread Poisson-thin. Curation uses: keyword-spam detection (bursty
    AND high-df), stopword induction (low burstiness, high df), and
    feature selection for the rule classifier the reference drives with
    keyword lists (src/core/classifier.py keyword/regex rules).

    Scale shape: groupBy(doc, term) then groupBy(term) — both
    partial-aggregated, no window, no skew surface beyond natural term
    skew, which the two-level aggregation absorbs (first level keys on
    (doc, term), so no single reducer sees a whole hot term's corpus
    postings). min_df prunes the hapax tail so output stays
    vocabulary-sized, not corpus-sized.
    """
    tf = (
        df.select(
            F.col(id_col),
            F.explode(tokens_col(F.lower(F.col(text_col)))).alias("term"),
        )
        .groupBy(id_col, "term")
        .agg(F.count("*").alias("tf"))
    )
    return (
        tf.groupBy("term")
        .agg(
            F.count("*").cast("long").alias("df1"),
            F.sum((F.col("tf") >= 2).cast("long")).cast("long").alias("df2"),
            F.sum("tf").cast("long").alias("total_tf"),
        )
        .where(F.col("df1") >= F.lit(int(min_df)))
        .select(
            "term",
            "df1",
            "df2",
            "total_tf",
            F.round(F.col("df2") / F.col("df1"), 6).alias("burstiness"),
            F.round(F.col("total_tf") / F.col("df1"), 6).alias("mean_tf"),
        )
    )


def quality_percentile(
    df,
    score_col: str = "quality",
    group_col: str = "lang",
    id_col: str = "doc_id",
):
    """(doc_id, lang, quality, pct_rank) — per-language percentile rank of
    a score column (percent_rank semantics: strictly-lower count divided
    by group size minus one; ties share a rank; singleton groups get 0).
    Rank normalization is the standard cross-language calibration step
    before thresholding quality filters: an absolute 0.6 means different
    things in different languages, the 90th percentile does not.

    Scale design: NOT a per-row window — percent_rank over 10^12 rows
    would funnel each language partition through one sorted task. Instead
    the distribution is aggregated per (group, score) first (map-side
    combined; bounded by DISTINCT scores — the score is rounded to 6
    decimals, so <= 10^6 buckets per group in the worst case), the
    cumulative strictly-lower count runs over that small table, and a
    (group, score) equi-join carries the percentile back to the docs.
    The DuckDB oracle uses native percent_rank() — an independent
    implementation of the same definition.
    """
    from pyspark.sql import Window

    dist = df.groupBy(group_col, score_col).agg(
        F.count("*").alias("_n")
    )
    w_cum = (
        Window.partitionBy(group_col)
        .orderBy(score_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_all = Window.partitionBy(group_col)
    ranked = dist.select(
        group_col,
        score_col,
        F.coalesce(F.sum("_n").over(w_cum), F.lit(0)).alias("_lower"),
        F.sum("_n").over(w_all).alias("_total"),
    ).select(
        group_col,
        score_col,
        F.when(F.col("_total") > 1,
               F.round(F.col("_lower") / (F.col("_total") - 1), 6))
        .otherwise(F.lit(0.0))
        .alias("pct_rank"),
    )
    return df.select(id_col, group_col, score_col).join(
        ranked, [group_col, score_col]
    ).select(id_col, group_col, score_col, "pct_rank")


# Known abbreviations whose trailing '.' does NOT end a sentence — the
# classic rule-based sentence-boundary guard (public knowledge; every
# Punkt-style segmenter ships such a list).
SENTENCE_ABBREVIATIONS: tuple[str, ...] = ("Dr.", "Mr.", "e.g.", "i.e.")


def synthesize_sentences(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(doc_id, stext) — deterministic sentence-punctuated corpus: token
    at position i (0-based) becomes 'Dr.' when i % 17 == 0 (the
    abbreviation trap a segmenter must NOT split at), gains '.' when
    i % 5 == 4, gains '?' when i % 11 == 7; the final token is usually
    unpunctuated, producing the unterminated-tail case. Pure transform /
    concat so the DuckDB oracle rebuilds the identical string."""
    stext = F.array_join(
        F.transform(
            tokens_col(F.col(text_col)),
            lambda t, i: F.when(i % 17 == 0, F.lit("Dr."))
            .when(i % 5 == 4, F.concat(t, F.lit(".")))
            .when(i % 11 == 7, F.concat(t, F.lit("?")))
            .otherwise(t),
        ),
        " ",
    )
    return df.select(F.col(id_col), stext.alias("stext"))


def sentence_segment(
    df: DataFrame,
    text_col: str = "stext",
    id_col: str = "doc_id",
    abbreviations: tuple[str, ...] = SENTENCE_ABBREVIATIONS,
    short_tokens: int = 4,
) -> DataFrame:
    """(doc_id, n_sentences, avg_tokens, short_frac, unterminated) —
    rule-based sentence segmentation stats: a token ENDS a sentence when
    it ends with [.?!] and is not a known abbreviation. n_sentences
    counts the segments; avg_tokens is mean tokens per sentence;
    short_frac is the fraction of sentences with fewer than
    `short_tokens` tokens (the C4/Gopher-style too-short-sentence
    quality signal); unterminated counts trailing segments with no
    sentence-ending token (0 or 1 per doc).

    Scale: posexplode + ONE exclusive running-sum window + two groupBys,
    all keyed by doc_id — a single hash shuffle on the document key.
    """
    from pyspark.sql import Window

    toks = df.select(
        F.col(id_col),
        F.posexplode(tokens_col(F.col(text_col))).alias("pos", "tok"),
    )
    is_end = F.col("tok").rlike(r"[.?!]$") & ~F.col("tok").isin(
        *abbreviations
    )
    w = (
        Window.partitionBy(id_col)
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    marked = toks.withColumn("_e", is_end).withColumn(
        "sent_idx",
        F.coalesce(F.sum(F.col("_e").cast("int")).over(w), F.lit(0)),
    )
    sents = marked.groupBy(id_col, "sent_idx").agg(
        F.count("*").alias("n_tok"),
        F.max(F.col("_e").cast("int")).alias("term"),
    )
    return sents.groupBy(id_col).agg(
        F.count("*").alias("n_sentences"),
        F.round(F.avg("n_tok"), 6).alias("avg_tokens"),
        F.round(
            F.sum((F.col("n_tok") < short_tokens).cast("int"))
            / F.count("*"),
            6,
        ).alias("short_frac"),
        F.sum(F.lit(1) - F.col("term")).cast("long").alias("unterminated"),
    )


def vocab_prune(
    df,
    text_col: str = "text",
    id_col: str = "doc_id",
    coverage_pct: int = 99,
):
    """One row: (n_total, n_vocab, size_at_pct, cov_at_10, cov_at_50) —
    tokenizer vocabulary sizing: rank tokens by (count desc, token asc),
    size_at_pct is the smallest vocabulary covering >= coverage_pct% of
    occurrences (integer cross-multiplied — no float threshold), and
    cov_at_10/50 report the coverage of the top-10/top-50 vocabularies.
    The budget curve every tokenizer-training run consults before fixing
    vocab size (vocab_coverage is the inverse: it scores a GIVEN vocab).

    Scale: token counting partial-aggregates map-side; the ranking and
    cumulative sum run on the VOCABULARY table (distinct tokens) — but a
    web-scale vocabulary is itself 10^8-10^9 rows, so both outputs come
    from ONE range-partitioned pass (ranking.partitioned_rank_and_sums:
    broadcast cut points + per-bucket windows + bounded offsets — no
    single-task sort), and the grand total is a 1-row agg broadcast,
    not an all-rows window.
    """
    from .ranking import partitioned_rank_and_sums

    counts = (
        df.select(
            F.explode(tokens_col(F.col(text_col))).alias("tok")
        )
        .groupBy("tok")
        .agg(F.count("*").alias("n"))
    ).localCheckpoint(eager=True)
    ranked = partitioned_rank_and_sums(
        counts, "n", ["tok"], val_cols=("n",), ascending=False,
        rank_col="rank", sum_prefix="_cum_",
    ).withColumnRenamed("_cum_n", "cum")
    tot = counts.agg(F.sum("n").alias("n_total"))
    ranked = ranked.crossJoin(F.broadcast(tot))
    return ranked.agg(
        F.max("n_total").cast("long").alias("n_total"),
        F.count("*").cast("long").alias("n_vocab"),
        F.min(
            F.when(
                F.col("cum") * 100 >= F.col("n_total") * coverage_pct,
                F.col("rank"),
            )
        )
        .cast("long")
        .alias("size_at_pct"),
        F.round(
            F.max(F.when(F.col("rank") == 10, F.col("cum")))
            / F.max("n_total"),
            6,
        ).alias("cov_at_10"),
        F.round(
            F.max(F.when(F.col("rank") == 50, F.col("cum")))
            / F.max("n_total"),
            6,
        ).alias("cov_at_50"),
    )


def text_tiling(
    df,
    text_col: str = "text",
    id_col: str = "doc_id",
    block_tokens: int = 20,
    boundary_sim: float = 0.1,
):
    """(doc_id, n_blocks, n_boundaries, min_sim) — TextTiling-style
    topic segmentation (Hearst 1997, public knowledge): the document is
    cut into consecutive `block_tokens`-token blocks, adjacent blocks
    are compared by Jaccard over their DISTINCT vocabularies, and a
    topic BOUNDARY is declared where similarity falls below
    `boundary_sim`. Jaccard is an integer ratio (|∩| / |∪|), so the
    only float is the final rounded min_sim. Single-block docs report
    (1, 0, NULL).

    Scale: pure array expressions per row — block slicing, set
    intersections, one fold; no explode, no shuffle.
    """
    from pyspark.sql import Window  # noqa: F401  (module convention)

    toks = tokens_col(F.col(text_col))
    d = df.select(F.col(id_col), toks.alias("_toks")).where(
        F.size("_toks") > 0
    )
    n_blocks = F.ceil(F.size("_toks") / block_tokens).cast("int")
    blocks = F.transform(
        F.sequence(F.lit(1), n_blocks),
        lambda b: F.array_distinct(
            F.slice(
                F.col("_toks"),
                ((b - 1) * block_tokens + 1).cast("int"),
                block_tokens,
            )
        ),
    )
    d = d.select(F.col(id_col), blocks.alias("_b"))
    sims = F.when(
        F.size("_b") > 1,
        F.transform(
            F.sequence(F.lit(2), F.size("_b")),
            lambda i: F.round(
                F.size(
                    F.array_intersect(
                        F.element_at(F.col("_b"), i - 1),
                        F.element_at(F.col("_b"), i),
                    )
                )
                / F.size(
                    F.array_union(
                        F.element_at(F.col("_b"), i - 1),
                        F.element_at(F.col("_b"), i),
                    )
                ),
                6,
            ),
        ),
    ).otherwise(F.array().cast("array<double>"))
    d = d.select(F.col(id_col), F.size("_b").alias("_nb"), sims.alias("_s"))
    return d.select(
        F.col(id_col),
        F.col("_nb").cast("long").alias("n_blocks"),
        F.size(F.filter(F.col("_s"), lambda s: s < boundary_sim))
        .cast("long")
        .alias("n_boundaries"),
        (F.array_min("_s") + 0.0).alias("min_sim"),
    )


def concordance(
    df,
    term: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    width: int = 3,
) -> "DataFrame":
    """(doc_id, pos, left_ctx, matched, right_ctx) — keyword-in-context
    (KWIC) concordance: every occurrence of `term` (case-folded exact
    token match) with up to `width` tokens of context on each side. The
    corpus-inspection view every curation decision ends up needing
    ("show me how this badword is actually used").

    Physical shape: tokens bound once as a column (the projection-
    boundary lesson), posexplode, an equality filter on the folded token
    — which Catalyst pushes into the generate — then pure array slicing
    against the retained token array. One narrow pass, no shuffle at
    all: the output order is (doc_id, pos)-keyed and deterministic."""
    base = df.select(
        F.col(id_col), tokens_col(F.col(text_col)).alias("_toks")
    )
    hits_df = base.select(
        F.col(id_col),
        "_toks",
        F.posexplode_outer("_toks").alias("pos", "tok"),
    ).where(F.lower(F.col("tok")) == term.lower())
    start = F.greatest(F.col("pos") + 1 - width, F.lit(1))
    left_len = F.col("pos") + 1 - start
    return hits_df.select(
        F.col(id_col),
        F.col("pos"),
        F.array_join(F.slice("_toks", start, left_len), " ").alias(
            "left_ctx"
        ),
        F.col("tok").alias("matched"),
        F.array_join(
            F.slice("_toks", F.col("pos") + 2, F.lit(width)), " "
        ).alias("right_ctx"),
    )


def branching_entropy(
    df, text_col: str = "text", id_col: str = "doc_id"
) -> "DataFrame":
    """(context, n_total, n_successors, entropy) — successor branching
    entropy per unigram context over the case-folded corpus: the Shannon
    entropy (bits) of the next-token distribution after each word. The
    unsupervised word/phrase-boundary signal (Jin & Tanaka-Ishii 2006):
    low entropy = the context predicts its successor (inside a
    collocation), entropy spikes mark segmentation points — the
    corpus-level statistic a tokenizer-induction pass reads. 6 dp.

    Physical shape: bigram explode -> (context, successor) counts ->
    per-context entropy from exact integer counts. Two hash shuffles,
    both map-side combined; vocabulary-sized output."""
    toks = F.col("_toks")
    bigrams = F.when(
        F.size(toks) >= 2,
        F.transform(
            F.sequence(F.lit(0), F.size(toks) - 2),
            lambda i: F.struct(
                F.lower(F.element_at(toks, i + 1)).alias("w1"),
                F.lower(F.element_at(toks, i + 2)).alias("w2"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<w1:string,w2:string>>"))
    pairs = (
        df.select(tokens_col(F.col(text_col)).alias("_toks"))
        .select(F.explode_outer(bigrams).alias("bg"))
        .where(F.col("bg").isNotNull())
        .select("bg.w1", "bg.w2")
    )
    counts = pairs.groupBy("w1", "w2").agg(F.count("*").alias("c"))
    return (
        counts.groupBy(F.col("w1").alias("context"))
        .agg(
            F.sum("c").cast("long").alias("n_total"),
            F.count("*").cast("long").alias("n_successors"),
            F.round(
                F.log2(F.sum("c"))
                - F.sum(F.col("c") * F.log2("c")) / F.sum("c"),
                6,
            ).alias("entropy"),
        )
    )


def token_length_hist(
    df, text_col: str = "text", id_col: str = "doc_id"
) -> "DataFrame":
    """(length, n_tokens, n_distinct, share) — corpus histogram of token
    CHARACTER lengths with per-bucket distinct-type counts and the token-
    mass share (6 dp). The tokenizer-design diagnostic: the length mass
    profile decides byte-vs-word-level vocab budgets, and a heavy tail of
    very long 'tokens' usually means markup/URL leakage upstream.

    Physical shape: one explode -> (length) aggregate with map-side
    combine + a distinct-type count per bucket; the share denominator
    rides as a window sum over the tiny histogram."""
    from pyspark.sql import Window

    toks = (
        df.select(tokens_col(F.col(text_col)).alias("_toks"))
        .select(F.explode_outer("_toks").alias("tok"))
        .where(F.col("tok").isNotNull())
        .select(F.length("tok").alias("length"), F.lower("tok").alias("t"))
    )
    hist = toks.groupBy("length").agg(
        F.count("*").cast("long").alias("n_tokens"),
        F.count_distinct("t").cast("long").alias("n_distinct"),
    )
    w = Window.partitionBy()
    return hist.select(
        F.col("length").cast("int").alias("length"),
        "n_tokens",
        "n_distinct",
        F.round(F.col("n_tokens") / F.sum("n_tokens").over(w), 6).alias(
            "share"
        ),
    )


def utf8_stats(
    df, text_col: str = "text", id_col: str = "doc_id"
) -> "DataFrame":
    """(doc_id, n_chars, n_bytes, multibyte_ratio, pure_ascii) — UTF-8
    budget profile per document: character vs encoded-byte counts, the
    extra-bytes-per-char ratio, and a pure-ASCII flag. The byte-level-
    tokenizer planning stat (byte budgets diverge from char budgets
    exactly by this ratio) and a cheap mojibake tripwire. Null text
    reports zeros with pure_ascii true. 6 dp; fully columnar, zero
    shuffle."""
    n_chars = F.coalesce(F.length(F.col(text_col)), F.lit(0))
    n_bytes = F.coalesce(F.octet_length(F.col(text_col)), F.lit(0))
    return df.select(
        F.col(id_col),
        n_chars.cast("long").alias("n_chars"),
        n_bytes.cast("long").alias("n_bytes"),
        F.when(n_chars > 0, F.round((n_bytes - n_chars) / n_chars, 6))
        .otherwise(F.lit(0.0))
        .alias("multibyte_ratio"),
        (n_bytes == n_chars).alias("pure_ascii"),
    )


def morph_split(
    df,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_freq: int = 5,
    min_len: int = 4,
) -> "DataFrame":
    """(word, freq, left, right, score) — best compositional 2-way split
    per vocabulary word: the split point maximizing ln f(left) +
    ln f(right) over splits whose BOTH pieces are themselves corpus
    words. The one-step morphology/compound miner (the greedy core of
    unigram-LM segmentation): 'motorboat' -> motor|boat when both pieces
    carry corpus mass. Ties take the leftmost split; words with no valid
    split are absent. 4 dp.

    Physical shape: everything after the unigram count runs on the
    DICTIONARY: split-point explode (fan-out <= word length), two
    vocabulary-sized joins for the piece frequencies, one rank window
    per word. The corpus is touched exactly once."""
    from pyspark.sql import Window

    words = (
        df.select(tokens_col(F.col(text_col)).alias("_toks"))
        .select(F.explode_outer("_toks").alias("tok"))
        .where(F.col("tok").isNotNull())
        .groupBy(F.lower("tok").alias("w"))
        .agg(F.count("*").cast("long").alias("freq"))
        .where(F.col("freq") >= min_freq)
    )
    cand = (
        words.where(F.length("w") >= min_len)
        .select(
            "w",
            "freq",
            F.explode(
                F.sequence(F.lit(1), F.length("w") - 1)
            ).alias("i"),
        )
        .select(
            "w",
            "freq",
            "i",
            F.substring(F.col("w"), 1, F.col("i")).alias("left"),
            F.substring(
                F.col("w"), F.col("i") + 1, F.length("w")
            ).alias("right"),
        )
    )
    fl = words.select(F.col("w").alias("left"), F.col("freq").alias("fl"))
    fr = words.select(F.col("w").alias("right"), F.col("freq").alias("fr"))
    scored = (
        cand.join(fl, "left")
        .join(fr, "right")
        .withColumn("score", F.log("fl") + F.log("fr"))
    )
    w = Window.partitionBy("w").orderBy(F.desc("score"), F.asc("i"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            F.col("w").alias("word"),
            "freq",
            "left",
            "right",
            F.round("score", 4).alias("score"),
        )
    )


def hashed_doc_embedding(
    df, text_col: str = "text", id_col: str = "doc_id", dim: int = 16
) -> "DataFrame":
    """(doc_id, dim, weight, unit) — feature-hashed bag-of-words document
    embedding (the FeatureHasher / hashing-trick vectorizer): each
    case-folded token lands in bucket h mod dim with sign from hash
    bit 6, weights are signed counts, `unit` is the L2-normalized
    coordinate (zero-norm docs report 0). Sparse flat rows — absent
    (doc, dim) pairs are implicit zeros. This gives any TEXT table a
    deterministic embedding column feeding the ANN/cluster family
    without a model artifact. 6 dp.

    Physical shape: one token explode -> (doc, bucket) signed-count
    aggregate (map-side combined) -> per-doc norm via a second aggregate
    joined back — shuffle volume is docs x occupied buckets, bounded by
    dim."""
    from .dedup import simhash_token_hash

    toks = (
        df.select(
            F.col(id_col).alias("id"),
            tokens_col(F.col(text_col)).alias("_toks"),
        )
        .select("id", F.explode_outer("_toks").alias("tok"))
        .where(F.col("tok").isNotNull())
        .withColumn("h", simhash_token_hash(F.lower("tok")))
    )
    signed = toks.select(
        "id",
        (F.col("h") % dim).cast("int").alias("dim"),
        F.when(F.col("h") % 128 >= 64, -1).otherwise(1).alias("s"),
    )
    w = signed.groupBy("id", "dim").agg(
        F.sum("s").cast("long").alias("weight")
    )
    norms = w.groupBy("id").agg(
        F.sqrt(F.sum(F.col("weight") * F.col("weight"))).alias("_n")
    )
    return (
        w.join(norms, "id")
        .select(
            F.col("id").alias(id_col),
            "dim",
            "weight",
            F.when(
                F.col("_n") > 0,
                F.round(F.col("weight") / F.col("_n"), 6),
            )
            .otherwise(F.lit(0.0))
            .alias("unit"),
        )
    )


def doc_similar_topk(
    df,
    text_col: str = "text",
    id_col: str = "doc_id",
    dim: int = 16,
    n_queries: int = 3,
    k: int = 5,
) -> "DataFrame":
    """(query_id, id, cosine, rank) — document-to-document retrieval over
    the feature-hashed embeddings (hashed_doc_embedding): cosine top-k
    similar documents for each of the first `n_queries` doc ids, via a
    SPARSE dot product — the (dim)-keyed join multiplies only the
    coordinates both docs occupy, so cost is nnz(query docs) x corpus
    rows per dim, never dense dim x dim work. The end-to-end "find me
    documents like this one" surface that needs no embedding table or
    model artifact. Self-matches included (sanity: rank 1, cosine 1).
    6 dp; ties break on doc id.

    Physical shape: one hashed-embedding build (corpus pass), the query
    side filtered and broadcast, a dim-keyed join + (query, candidate)
    aggregate, then a per-query rank window over the scored candidates."""
    from pyspark.sql import Window

    emb = hashed_doc_embedding(df, text_col, id_col, dim)
    q = emb.where(F.col(id_col) < n_queries).select(
        F.col(id_col).alias("query_id"),
        F.col("dim"),
        F.col("unit").alias("qu"),
    )
    scored = (
        emb.join(F.broadcast(q), "dim")
        .groupBy("query_id", F.col(id_col).alias("id"))
        .agg(F.round(F.sum(F.col("unit") * F.col("qu")), 6).alias("cosine"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "id", "cosine", F.col("rank").cast("int").alias("rank"))
    )


def query_likelihood_topk(
    df,
    queries=BM25_QUERIES,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 10,
    mu: float = 500.0,
) -> "DataFrame":
    """(query_id, doc_id, score, rank) — query-likelihood retrieval with
    Dirichlet smoothing (Zhai & Lafferty 2001), the language-modeling
    alternative to bm25_topk: score = sum over query terms of
    ln((tf + mu*p(t|C)) / (dl + mu)) with p(t|C) the corpus unigram
    probability. Candidates are docs matching >= 1 query term (the
    inverted-index probe, same contract as bm25); absent terms still
    contribute their smoothed mass for candidate docs, which is exactly
    what distinguishes QL from tf-only scoring. Per-doc sums fold IN
    TERM ORDER (array_sort + aggregate) so the float total is
    order-deterministic cross-engine; OOV query terms (zero corpus
    frequency) are skipped rather than scoring -inf. 6 dp; rank ties on
    doc_id over the ROUNDED score.

    Physical shape: one corpus pass (postings filtered by the broadcast
    term set BEFORE aggregation); the candidate x query-term grid fans
    out by |terms| (a constant), everything else is posting-proportional.
    Corpus totals ride as a 1-row broadcast."""
    from pyspark.sql import Window

    from pdf_extractor_spark.session import values_df

    spark = df.sparkSession
    qdf = values_df(spark, list(queries), "query_id string, qtext string")
    qt = qdf.select(
        "query_id",
        F.explode(tokens_col(F.lower(F.col("qtext")))).alias("term"),
    ).distinct()
    terms = qt.select("term").distinct()
    base = df.select(
        F.col(id_col).alias("id"),
        tokens_col(F.lower(F.col(text_col))).alias("_toks"),
    ).select("id", "_toks", F.size("_toks").cast("double").alias("dl"))
    totals = base.agg(F.sum("dl").alias("_C"))
    words = base.select(
        "id", "dl", F.explode_outer("_toks").alias("term")
    ).where(F.col("term").isNotNull())
    posts = words.join(F.broadcast(terms), "term")
    cf = posts.groupBy("term").agg(F.count("*").cast("double").alias("cf"))
    tf = posts.groupBy("id", "term").agg(
        F.count("*").cast("double").alias("tf"), F.max("dl").alias("dl")
    )
    cand = (
        tf.join(F.broadcast(qt), "term")
        .select("query_id", "id", "dl")
        .distinct()
    )
    grid = (
        cand.join(F.broadcast(qt), "query_id")
        .join(F.broadcast(cf), "term")  # inner: OOV terms drop (cf > 0)
        .join(tf.select("id", "term", "tf"), ["id", "term"], "left")
        .crossJoin(F.broadcast(totals))
        .select(
            "query_id",
            "id",
            "term",
            F.log(
                (F.coalesce("tf", F.lit(0.0))
                 + F.lit(mu) * F.col("cf") / F.col("_C"))
                / (F.col("dl") + F.lit(mu))
            ).alias("s"),
        )
    )
    summed = grid.groupBy("query_id", "id").agg(
        F.round(
            F.aggregate(
                F.array_sort(F.collect_list(F.struct("term", "s"))),
                F.lit(0.0),
                lambda acc, x: acc + x["s"],
            ),
            6,
        ).alias("score")
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("id"))
    return (
        summed.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            "query_id",
            F.col("id").alias(id_col),
            "score",
            F.col("rank").cast("int").alias("rank"),
        )
    )


def gt_unseen_mass(
    df, text_col: str = "text", group_col: str = "source"
) -> DataFrame:
    """(source, n_tokens, vocab, n1, n2, p_unseen) — Good-Turing
    unseen-probability mass per source: p0 = N1/N, the fraction of
    tokens that are hapax legomena (Gale & Sampson 1995, "simple
    Good-Turing"). The corpus-saturation dial of data curation — a
    source whose p_unseen stays high keeps yielding new vocabulary and
    is worth crawling deeper; one near zero is mined out. N2 rides
    along because the GT discount for singletons (2·N2/N1) is the other
    number an LM smoothing audit asks for.

    One explode → one (source, word) count → one per-source aggregate;
    map-side combine collapses each partition's word counts before the
    shuffle, and the final frame is sources-sized. All counts are exact
    integers; p_unseen is a single 6-dp-rounded division, so the row is
    bit-identical in any engine."""
    w = df.select(
        F.col(group_col).alias("source"),
        F.explode(tokens_col(F.lower(F.col(text_col)))).alias("word"),
    )
    c = w.groupBy("source", "word").agg(F.count("*").alias("c"))
    return (
        c.groupBy("source")
        .agg(
            F.sum("c").cast("long").alias("n_tokens"),
            F.count("*").cast("long").alias("vocab"),
            F.sum((F.col("c") == 1).cast("long")).cast("long").alias("n1"),
            F.sum((F.col("c") == 2).cast("long")).cast("long").alias("n2"),
        )
        .select(
            "source",
            "n_tokens",
            "vocab",
            "n1",
            "n2",
            F.round(
                F.col("n1").cast("double") / F.col("n_tokens"), 6
            ).alias("p_unseen"),
        )
        .orderBy("source")
    )


def yule_k(df, text_col: str = "text", group_col: str = "source") -> DataFrame:
    """(source, n_tokens, vocab, yule_k) — Yule's characteristic K per
    source: K = 10⁴·(Σc² − N)/N² over the type frequencies c (Yule 1944),
    the size-robust repetitiveness constant of lexical-diversity
    analysis. High K = a vocabulary dominated by a few types (template
    boilerplate, machine-generated spam); low K = diverse prose. The
    repetition-side complement of `gt_unseen_mass`'s novelty dial, from
    the SAME (source, word) count table shape.

    Σc² and N are exact BIGINTs off one token-count aggregate (map-side
    combined; the caveat at 10^12-doc scale is Σc² overflowing 2^63 for
    a stopword-heavy source — promote to double there), and K is one
    6-dp-rounded double expression — engine-bit-identical."""
    w = df.select(
        F.col(group_col).alias("source"),
        F.explode(tokens_col(F.lower(F.col(text_col)))).alias("word"),
    )
    c = w.groupBy("source", "word").agg(F.count("*").alias("c"))
    return (
        c.groupBy("source")
        .agg(
            F.sum("c").cast("long").alias("n_tokens"),
            F.count("*").cast("long").alias("vocab"),
            F.sum(F.col("c") * F.col("c")).cast("long").alias("sc2"),
        )
        .select(
            "source",
            "n_tokens",
            "vocab",
            F.round(
                F.lit(10000.0)
                * (F.col("sc2") - F.col("n_tokens")).cast("double")
                / (
                    F.col("n_tokens").cast("double")
                    * F.col("n_tokens").cast("double")
                ),
                6,
            ).alias("yule_k"),
        )
        .orderBy("source")
    )
