"""Property-based (hypothesis) parity fuzzing: columnar Spark semantics vs
the pure-Python oracle on adversarial generated inputs.

Batched for Spark economy: each hypothesis example is a LIST of strings
evaluated in one DataFrame job, so a run costs ~10 jobs, not ~200.
"""

import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

from pyspark.sql import functions as F

# mixed-script text: latin words, CJK, cyrillic, digits, whitespace zoo,
# control chars — everything the detection cascade and normalizer branch on
_scripts = st.one_of(
    st.text(alphabet=st.characters(min_codepoint=0x20, max_codepoint=0x7E)),
    st.text(alphabet=st.characters(min_codepoint=0x4E00, max_codepoint=0x4E80)),
    st.text(alphabet=st.characters(min_codepoint=0x3040, max_codepoint=0x30FF)),
    st.text(alphabet=st.characters(min_codepoint=0x0400, max_codepoint=0x045F)),
    st.text(alphabet="  \t\n\x1c\x1d\x85\xa0的的是 the and of à é"),
    st.text(max_size=40),
)
_texts = st.lists(
    st.one_of(st.none(), _scripts), min_size=8, max_size=24
)

_SETTINGS = dict(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
    derandomize=True,  # seeded: same corpus every CI run
)


@given(texts=_texts)
@settings(**_SETTINGS)
def test_language_detection_parity(spark, texts):
    from pdf_extractor_spark.operators.spans import add_detected_language
    from pdf_extractor_spark.oracle.language import detect_language

    df = spark.createDataFrame(
        [(str(i), t) for i, t in enumerate(texts)], "id string, sample string"
    )
    got = {
        r.id: r.lang
        for r in add_detected_language(df, "sample", "lang").collect()
    }
    want = {str(i): detect_language(t) for i, t in enumerate(texts)}
    assert got == want


# mod-11 check-digit weights (public algorithm, written out independently
# of the oracle): CPF 10..2 then 11..2; CNPJ 5..2,9..2 then 6,5..2,9..2
_CPF_WEIGHTS = (list(range(10, 1, -1)), list(range(11, 1, -1)))
_CNPJ_W1 = [5, 4, 3, 2, 9, 8, 7, 6, 5, 4, 3, 2]
_CNPJ_WEIGHTS = (_CNPJ_W1, [6] + _CNPJ_W1)


def _check_digits(digits: list[int], weights) -> list[int]:
    out = list(digits)
    for w in weights:
        r = sum(d * x for d, x in zip(out, w)) % 11
        out.append(0 if r < 2 else 11 - r)
    return out


def _id_strings(weights, punct: str):
    """Random base digits, then either their valid check digits or two
    random ones; rendered bare or punctuated like `punct` (a template
    whose '#' marks digits)."""
    return st.tuples(
        st.lists(
            st.integers(0, 9),
            min_size=len(weights[0]),
            max_size=len(weights[0]),
        ),
        st.booleans(),
        st.lists(st.integers(0, 9), min_size=2, max_size=2),
        st.booleans(),
    ).map(
        lambda t: _render(
            _check_digits(t[0], weights) if t[1] else t[0] + t[2],
            punct if t[3] else None,
        )
    )


def _render(digits: list[int], punct: str | None) -> str:
    s = "".join(map(str, digits))
    if punct is None:
        return s
    it = iter(s)
    return "".join(next(it) if c == "#" else c for c in punct)


_values = st.lists(
    st.one_of(
        st.none(),
        st.text(max_size=20),
        st.from_regex(r"[0-9]{1,5}([.,][0-9]{1,4})?", fullmatch=True),
        st.from_regex(r"[0-9]{1,2}[/-][0-9]{1,2}[/-][0-9]{2,4}", fullmatch=True),
        st.from_regex(r"[a-z]{1,8}@[a-z]{1,8}\.[a-z]{2,3}", fullmatch=True),
        _id_strings(_CPF_WEIGHTS, "###.###.###-##"),
        _id_strings(_CNPJ_WEIGHTS, "##.###.###/####-##"),
    ),
    min_size=8,
    max_size=24,
)


_ID_LITERALS = [
    "123.456.789-09", "12.345.678/0001-95",  # pass validate_field
    "12.345.678/0001-90", "111.111.111-11",  # fail it
]


@given(values=_values)
@example(values=_ID_LITERALS + [None, "a@b.co", "5/3/2024", "12345678909"])
@settings(**_SETTINGS)
def test_field_validator_parity(spark, values):
    """Columnar field_error_col vs oracle validate_field for the four
    types span_validations checks (email/cpf/cnpj/date, no options)."""
    from pdf_extractor_spark.operators.validate import field_error_col
    from pdf_extractor_spark.oracle.validator import validate_field

    types = ["email", "cpf", "cnpj", "date"]

    df = spark.createDataFrame(
        [(str(i), v) for i, v in enumerate(values)], "id string, v string"
    )
    out = df.select(
        "id",
        *[field_error_col(F.col("v"), t).alias(f"e_{t}") for t in types],
    )
    got = {r.id: {t: r[f"e_{t}"] for t in types} for r in out.collect()}
    for i, v in enumerate(values):
        for t in types:
            ok, err = validate_field(v, t, {})
            want = None if ok else err
            assert got[str(i)][t] == want, (v, t, got[str(i)][t], want)


def test_field_error_col_rejects_other_types(spark):
    # the pipeline validates every other type with validate_field itself;
    # the columnar validator covers only what span_validations detects
    from pdf_extractor_spark.operators.validate import field_error_col

    for t in ["string", "number", "decimal", "integer", "boolean", "enum"]:
        with pytest.raises(ValueError, match=f"unsupported field type '{t}'"):
            field_error_col(F.col("v"), t)


_words = st.one_of(
    st.sampled_from(["the", "and", "of", "with", "cat", "dog", "spam",
                     "123", "4567", "a", "é", "的是", "x1y2"]),
    st.text(alphabet=st.characters(min_codepoint=0x21, max_codepoint=0x7E),
            min_size=1, max_size=12),
)
# token-structured text: words joined by mixed separators; non-space
# whitespace kept AWAY from string edges (leading/trailing \t\n produce
# empty tokens whose handling is engine-consistent and oracle-checked,
# but is a split() quirk, not rule logic)
_docs = st.lists(_words, min_size=0, max_size=30).map(
    lambda ws: "  ".join(ws)
).flatmap(
    lambda s: st.sampled_from([s, s.replace("  ", " \t ") if s else s,
                               " " + s + " "])
)
_doc_lists = st.lists(st.one_of(st.none(), _docs), min_size=6, max_size=16)

_JWS = "[ \t\n\x0b\f\r]+"  # Java/RE2 \s class (NOT Python's unicode \s)


def _jtoks(text):
    import re

    tr = (text or "").strip(" ")
    return re.split(_JWS, tr.lower()) if tr else []


@given(texts=_doc_lists)
@settings(**_SETTINGS)
def test_gopher_filter_property_parity(spark, texts):
    from pdf_extractor_spark.operators.textstats import (
        EN_STOPWORDS,
        gopher_filter,
    )

    df = spark.createDataFrame(
        [(i, t, "en" if i % 2 else "pt") for i, t in enumerate(texts)],
        "doc_id long, text string, lang string",
    )
    got = {r["doc_id"]: r.asDict() for r in gopher_filter(df).collect()}
    for i, t in enumerate(texts):
        toks, lang = _jtoks(t), ("en" if i % 2 else "pt")
        n, chars = len(toks), len(t or "")
        digits = sum(c.isdigit() and c in "0123456789" for c in (t or ""))
        bg = [f"{a} {b}" for a, b in zip(toks, toks[1:])]
        top_bg = max((bg.count(x) for x in bg), default=0)
        tok_chars = sum(len(x) for x in toks)
        want = {
            "ok_len": 10 <= n <= 100000,
            "ok_wordlen": n > 0 and 3.0 <= tok_chars / n <= 10.0,
            "ok_stop": lang != "en"
            or sum(x in EN_STOPWORDS for x in toks) >= 2,
            "ok_dup_unigram": n > 0 and 1.0 - len(set(toks)) / n <= 0.5,
            "ok_top_bigram": not bg or top_bg / len(bg) <= 0.2,
            "ok_digit": chars == 0 or digits / chars <= 0.2,
        }
        want["accept"] = all(want.values())
        got_i = {k: got[i][k] for k in want}
        assert got_i == want, (i, t, got_i, want)


@given(texts=_doc_lists)
@settings(**_SETTINGS)
def test_hash_lr_property_parity(spark, texts):
    import hashlib

    from pdf_extractor_spark.operators.textstats import (
        HASH_LR_BUCKETS,
        hash_lr_score,
        hash_lr_weights,
    )

    w = hash_lr_weights()
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = {r["doc_id"]: r.asDict() for r in hash_lr_score(df).collect()}
    for i, t in enumerate(texts):
        toks = _jtoks(t)
        margin = sum(
            w[int(hashlib.md5(x.encode()).hexdigest()[:15], 16)
              % HASH_LR_BUCKETS]
            for x in toks
        )
        r = got[i]
        assert r["n_tokens"] == len(toks)
        assert r["margin"] == round(margin, 6), (i, t)
        assert r["accept"] is (margin > 0)


# keyword-presence fuzz: the combined zero-width union scan in
# oracle/classifier.py must agree with per-keyword \b<kw>\b search on
# adversarial text — overlapping keywords, prefixes extended past a word
# boundary ("Pagamentos"), case variants, unicode, punctuation adjacency.
# Pure Python (no Spark job), so the example budget can be generous.
_KW_POOL = [
    "DANFE", "Nota Fiscal Eletrônica", "NF-e", "CNPJ", "Pagamento",
    "Recebemos de", "Valor Recebido", "Valor", "Valor Total", "nf",
    "Assinatura", "a b", "b c", "a b c", "ß", "x+y",
]
_kw_words = _KW_POOL + [
    "Pagamentos", "Assinaturas", "CNPJx", "xDANFE", "NF", "e", "Total",
    "de", "Recebido", "SS", "ss", "b", "c", "x", "+y",
]


@given(
    kws=st.lists(st.sampled_from(_KW_POOL), min_size=1, max_size=10),
    words=st.lists(st.sampled_from(_kw_words), min_size=0, max_size=30),
    sep=st.sampled_from([" ", "\t", "\n", ".", "-", ""]),
)
@settings(max_examples=300, deadline=None, derandomize=True)
def test_keyword_presence_parity(kws, words, sep):
    from pdf_extractor_spark.oracle.classifier import (
        _keyword_presence,
        _kw_re,
    )

    text = sep.join(words)
    kws_t = tuple(sorted(set(kws)))
    want = frozenset(k for k in kws_t if _kw_re(k).search(text))
    assert _keyword_presence(text, kws_t) == want


# preprocess guard fuzz: the one-scan "already clean" short-circuit in
# operators/spans.py must never change preprocess semantics — fuzz the
# whole BMP-ish character zoo against the Python oracle.
_prep_texts = st.lists(
    st.one_of(
        st.none(),
        st.text(alphabet=st.characters(min_codepoint=0x00, max_codepoint=0x7F)),
        st.text(alphabet=" \t\n\x00\x1c\x7f\x85\xa0    　的a b  c"),
        st.text(max_size=30),
    ),
    min_size=8,
    max_size=24,
)


@given(texts=_prep_texts)
@settings(**_SETTINGS)
def test_preprocess_guard_parity(spark, texts):
    from pyspark.sql import functions as F

    from pdf_extractor_spark.operators.spans import preprocess_text
    from pdf_extractor_spark.oracle.language import preprocess_for_language

    for lang in ("en", "zh"):
        df = spark.createDataFrame(
            [(str(i), t) for i, t in enumerate(texts)], "id string, t string"
        )
        got = {
            r.id: r.out
            for r in df.select(
                "id", preprocess_text(F.col("t"), F.lit(lang)).alias("out")
            ).collect()
        }
        want = {
            str(i): preprocess_for_language(t, lang)
            for i, t in enumerate(texts)
        }
        assert got == want


# pattern-literal prefilter fuzz: a skip (required literal absent) must
# imply the full IGNORECASE|MULTILINE search also fails — on config
# patterns, quantifier/alternation traps, and case-folding traps.
_PAT_POOL = [
    "NF-e nº\\s*\\d+", "Chave de Acesso:\\s*\\d{44}", "DANFE",
    "DANFEX*", "DANFEX?", "DANFEX{0,2}", "ABCD|EFGH", "^TOTAL",
    "straße", "İstanbul", "KELVIN", "Valor Total:?\\s*R?\\$",
    "(grouped)lit", "lit(grouped)", "\\d{3}", "abc",
]
_pat_words = [
    "DANFE", "danfex", "NF-e nº 42", "Chave de Acesso: 1", "TOTAL",
    "xTOTAL", "strasse", "STRASSE", "straße", "ıstanbul", "İSTANBUL",
    "kelvin", "KELVIN", "Valor Total R$", "groupedlit", "litgrouped",
    "ABCD", "EFGH", "ab", "ﬆop", "ſtop",
]


@given(
    pats=st.lists(st.sampled_from(_PAT_POOL), min_size=1, max_size=6),
    words=st.lists(st.sampled_from(_pat_words), min_size=0, max_size=12),
    sep=st.sampled_from([" ", "\n", "", "."]),
)
@settings(max_examples=400, deadline=None, derandomize=True)
def test_pattern_literal_prefilter_sound(pats, words, sep):
    from pdf_extractor_spark.oracle.classifier import _pat_literal, _pat_re

    text = sep.join(words)
    cf = text.casefold()
    for pat in pats:
        lit = _pat_literal(pat)
        if lit is not None and lit not in cf:
            assert not _pat_re(pat).search(text), (pat, text)


# small alphabet so merges collide and multi-char symbols appear by step 2;
# whitespace inside strings makes multiple words per doc
_bpe_docs = st.lists(
    st.text(alphabet="ab c", min_size=0, max_size=24),
    min_size=4,
    max_size=10,
)


@given(texts=_bpe_docs)
@settings(**_SETTINGS)
def test_bpe_merges_property_parity(spark, texts):
    from tests.test_curation import _bpe_ref

    from pdf_extractor_spark.operators.curation import bpe_merges

    df = spark.createDataFrame(
        [(i, t, len(t)) for i, t in enumerate(texts)],
        "doc_id long, text string, n_chars long",
    )
    got = [
        (r["step"], r["lhs"], r["rhs"], r["pair_count"])
        for r in bpe_merges(df, n_merges=3).orderBy("step").collect()
    ]
    assert got == _bpe_ref(texts, 3)


_lsh_texts = st.lists(
    st.text(alphabet="abc d", min_size=0, max_size=60),
    min_size=6,
    max_size=14,
)


@given(texts=_lsh_texts)
@settings(**_SETTINGS)
def test_incremental_lsh_sound_and_exact(spark, texts):
    """Soundness fuzz: every emitted (batch, index) pair must be a true
    brute-force near-dup with the exact shingle Jaccard the oracle would
    compute (LSH may MISS low-similarity pairs by design; it must never
    invent one or mis-score one)."""
    from pdf_extractor_spark.operators.dedup import incremental_minhash_pairs

    rows = [(i, t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    batch = df.where(F.col("doc_id") % 2 == 0)
    index = df.where(F.col("doc_id") % 2 == 1)
    got = {
        (r.batch_id, r.index_id): r.jaccard
        for r in incremental_minhash_pairs(
            batch, index, threshold=0.3
        ).collect()
    }

    def sh(t):
        toks = (t or "").strip().split()
        return {
            " ".join(toks[i:i + 3]) for i in range(len(toks) - 2)
        } if len(toks) >= 3 else set()

    truth = {}
    for bi, bt in rows:
        if bi % 2 != 0:
            continue
        for ii, it in rows:
            if ii % 2 != 1:
                continue
            a, b = sh(bt), sh(it)
            if not a or not b:
                continue
            j = len(a & b) / len(a | b)
            if round(j, 6) >= 0.3:
                truth[(bi, ii)] = round(j, 6)
    assert set(got) <= set(truth)
    for k, v in got.items():
        assert abs(v - truth[k]) < 1e-9


# -- fuzzy_key_pairs: FastSS exact-recall law on adversarial short keys ------

_keys = st.lists(
    st.text(alphabet="abcx", min_size=0, max_size=6),
    min_size=2,
    max_size=12,
    unique=True,
)


def _lev(a: str, b: str) -> int:
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(
                min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb))
            )
        prev = cur
    return prev[-1]


@given(keys=_keys)
@settings(**_SETTINGS)
def test_fuzzy_key_pairs_fuzz_exact_recall(spark, keys):
    from pdf_extractor_spark.operators.dedup import fuzzy_key_pairs

    df = spark.createDataFrame(
        list(enumerate(keys)), "id long, key string"
    )
    got = {
        (r.id1, r.id2): r.edit_dist
        for r in fuzzy_key_pairs(df, df).collect()
    }
    want = {
        (i, j): _lev(a, b)
        for i, a in enumerate(keys)
        for j, b in enumerate(keys)
        if _lev(a, b) <= 1
    }
    assert got == want
