"""Rule classification + fusion with reference semantics.

classify_by_rules: document_classifier.py:84-115 —
  per doc type: keywords score 1 each on \\b<escaped kw>\\b IGNORECASE search;
  regex patterns score 2 each on IGNORECASE|MULTILINE search; normalized
  score/max_score; strictly-greater argmax across types (ties -> first in
  iteration order); (None, 0.0) when text empty or nothing scores.

classify_by_ml: document_classifier.py:117-136 — the optional model's
  label and top class probability, scored for a whole batch at once.

fuse_classification: document_classifier.py:157-173 —
  ml>0.7 -> ml; rule>0.6 -> rule; both>0 -> max (ties -> rule); single>0 ->
  it; else (None, 0.0).
"""

from __future__ import annotations

import re
from functools import lru_cache

from ..config import DocTypePattern


@lru_cache(maxsize=4096)
def _kw_re(keyword: str) -> re.Pattern:
    return re.compile(r"\b" + re.escape(keyword) + r"\b", re.IGNORECASE)


@lru_cache(maxsize=4096)
def _pat_re(pattern: str) -> re.Pattern:
    return re.compile(pattern, re.IGNORECASE | re.MULTILINE)


# Characters that are literals in regex source (no metacharacter), and
# whose case behavior is 1:1-stable so an IGNORECASE regex match implies
# a casefold-substring hit (multi-char folds like ß→ss are excluded by
# the stability guard below).
_LIT_SAFE = re.compile(r"[^$^*+?.()\[\]{}\\|]+")


@lru_cache(maxsize=4096)
def _pat_literal(pattern: str) -> "str | None":
    """Required leading literal of `pattern` (casefolded), or None.

    Soundness: if the compiled pattern (IGNORECASE|MULTILINE) matches
    anywhere in a text, the returned literal appears in text.casefold().
    Conservative guards — any of these disables the prefilter for the
    pattern rather than risking a wrong skip:
      * '|' anywhere (a leading run before an alternation is not
        required: 'ABC|DEF');
      * the char after the run is *, ?, or { (the run's LAST char is
        optional: 'DANFEX*' requires only 'DANFE') — handled by
        dropping that char;
      * any literal char with multi-char or unstable case folding
        (ß, İ, …), where casefold-substring reasoning breaks;
      * runs shorter than 4 chars (too weak to pay for the scan)."""
    if "|" in pattern:
        return None
    m = _LIT_SAFE.match(pattern)
    if not m:
        return None
    lit = m.group(0)
    if len(pattern) > len(lit) and pattern[len(lit)] in "*?{":
        lit = lit[:-1]
    if len(lit) < 4:
        return None
    for ch in lit:
        if (
            len(ch.lower()) != 1
            or len(ch.casefold()) != 1
            or ch.lower() != ch.casefold()
        ):
            return None
    return lit.casefold()


@lru_cache(maxsize=64)
def _kw_union_re(kws: tuple[str, ...]) -> re.Pattern:
    """One zero-width scan for ALL keywords: `\\b(?=(kw1|kw2|...)\\b)`.

    Zero-width, so no occurrence is consumed (every start position is
    tried — a keyword beginning inside another's span is still found);
    longest-first ordering makes the capture the longest keyword matching
    at that position, and any shorter keyword matching at the same
    position is recovered by _kws_in_snippet (it is \\b-contained in the
    captured text, so the original per-keyword regex finds it there).
    Presence semantics are therefore EXACTLY those of searching each
    `\\b<kw>\\b` separately (document_classifier.py:84-115) — guarded by
    the fuzz test in tests/test_property_parity.py — at one text scan
    instead of len(kws): the classifier kernel was 89% re.search time,
    and keywords were 2/3 of the scans."""
    ordered = sorted(set(kws), key=len, reverse=True)
    return re.compile(
        r"\b(?=(" + "|".join(re.escape(k) for k in ordered) + r")\b)",
        re.IGNORECASE,
    )


@lru_cache(maxsize=65536)
def _kws_in_snippet(kws: tuple[str, ...], snippet: str) -> frozenset[str]:
    """Keywords present in a captured snippet, by the ORIGINAL per-keyword
    regexes — the exactness of the combined scan reduces to these."""
    return frozenset(k for k in kws if _kw_re(k).search(snippet))


def _keyword_presence(text: str, kws: tuple[str, ...]) -> frozenset[str]:
    if not kws:
        return frozenset()
    present: set[str] = set()
    seen: set[str] = set()
    for m in _kw_union_re(kws).finditer(text):
        g = m.group(1)
        if g in seen:
            continue
        seen.add(g)
        present |= _kws_in_snippet(kws, g)
        if len(present) == len(kws):
            break
    return frozenset(present)


@lru_cache(maxsize=1)
def _bmp_probe():
    """Every BMP codepoint as a 1-char string + its Arrow array — the
    probe corpus for the engine-divergence scan, built once per process."""
    import pyarrow as pa

    cps = [
        chr(c) for c in range(0x20, 0x10000) if not (0xD800 <= c <= 0xDFFF)
    ]
    return cps, pa.array(cps, type=pa.string())


@lru_cache(maxsize=4096)
def _arrow_missed_chars(ch: str) -> tuple[str, ...]:
    """BMP chars that Python re's IGNORECASE matches for `ch` but Arrow's
    ignore_case containment does NOT — the fold-table divergence set
    between CPython sre (full-folding extra cases: İ/ı↔i) and utf8proc
    simple folding. Computed EXHAUSTIVELY (never hardcoded) so a CPython
    or Arrow upgrade changes behavior here instead of silently breaking
    parity; ~15 ms per distinct char, cached per process. Unicode case
    mappings never cross plane boundaries, so probing the BMP covers all
    chars that could fold into a BMP keyword char."""
    import pyarrow.compute as pc

    cps, arr = _bmp_probe()
    pat = re.compile(re.escape(ch), re.IGNORECASE)
    arrow = pc.match_substring(arr, ch, ignore_case=True).to_numpy(
        zero_copy_only=False
    )
    return tuple(
        c for c, a in zip(cps, arrow) if not a and pat.fullmatch(c)
    )


@lru_cache(maxsize=65536)
def _danger_chars(kws: tuple[str, ...]) -> tuple[str, ...]:
    """Union of the divergence sets over every keyword character: a text
    containing NONE of these chars can never produce a Python-re keyword
    match that Arrow containment misses."""
    out: set[str] = set()
    for k in kws:
        for ch in set(k):
            out.update(_arrow_missed_chars(ch))
    return tuple(sorted(out))


def keyword_presence_batch(
    texts, kws: tuple[str, ...]
) -> "list[frozenset[str]]":
    """Exact `_keyword_presence` for a whole Arrow batch, with the scan
    cost moved to C++: one `pyarrow.compute.match_substring(...,
    ignore_case=True)` pass per keyword prunes each row's keyword set to
    the keywords CONTAINED in it (case-insensitively), then the exact
    Python-`re` scan runs per row over only that tiny candidate tuple —
    most rows skip it entirely, and the rest scan a 1-4-way alternation
    instead of the full keyword set.

    Exactness: presence of a keyword depends only on (text, keyword), so
    restricting the union scan to a candidate subset is lossless PROVIDED
    excluded keywords are truly absent. Arrow's ignore_case containment
    is per-character simple case folding and containment-without-\\b is a
    superset of the \\b-anchored match — EXCEPT for the small fixed set of
    chars where CPython's fold table is wider (İ/ı↔i). Rows containing
    any such danger char (detected with case-sensitive Arrow scans, one
    per danger char) fall back to the full exact scan; for every other
    row an Arrow miss PROVES a Python-re miss. The per-char superset
    property net of the computed danger set is pinned exhaustively over
    every BMP codepoint by tests/test_parity_regex.py."""
    if not kws:
        return [frozenset() for _ in texts]
    import pyarrow as pa
    import pyarrow.compute as pc

    clean = [t if isinstance(t, str) else None for t in texts]
    arr = pa.array(clean, type=pa.string())
    false = pa.scalar(False)
    masks = [
        pc.fill_null(
            pc.match_substring(arr, k, ignore_case=True), false
        ).to_numpy(zero_copy_only=False)
        for k in kws
    ]
    danger = None
    for dc in _danger_chars(kws):
        m = pc.fill_null(pc.match_substring(arr, dc), false).to_numpy(
            zero_copy_only=False
        )
        danger = m if danger is None else (danger | m)
    out: list[frozenset[str]] = []
    for i, t in enumerate(clean):
        if not t:
            out.append(frozenset())
            continue
        if danger is not None and danger[i]:
            # fold-divergent char present: the prefilter is not a proof
            # for this row — run the full exact scan
            out.append(_keyword_presence(t, kws))
            continue
        cand = tuple(k for k, m in zip(kws, masks) if m[i])
        out.append(_keyword_presence(t, cand) if cand else frozenset())
    return out


def classify_by_rules(
    text: str | None,
    patterns: dict[str, DocTypePattern],
    present: "frozenset[str] | None" = None,
) -> tuple[str | None, float]:
    """`present` short-circuits the keyword scan with a precomputed
    presence set (keyword_presence_batch) — semantics identical."""
    if not text or not patterns:
        return None, 0.0

    if present is None:
        all_kws = tuple(
            sorted({kw for pd in patterns.values() for kw in pd.keywords})
        )
        present = _keyword_presence(text, all_kws)
    text_cf = text.casefold()

    best_match: str | None = None
    best_score = 0.0
    for doc_type, pd in patterns.items():
        score = 0
        max_score = 0
        for kw in pd.keywords:
            max_score += 1
            if kw in present:
                score += 1
        for pat in pd.patterns:
            max_score += 2
            lit = _pat_literal(pat)
            if lit is not None and lit not in text_cf:
                continue  # required literal absent -> search cannot match
            if _pat_re(pat).search(text):
                score += 2
        if max_score > 0:
            normalized = score / max_score
            if normalized > best_score:
                best_score = normalized
                best_match = doc_type
    return best_match, best_score


def classify_by_ml(texts, model) -> list[tuple[str | None, float]]:
    """(ml_type, ml_score) per text from ONE `predict` and ONE
    `predict_proba` call over the batch. Model contract (duck-typed, so a
    sklearn pipeline drops in unchanged): `predict(list[str]) -> labels`
    and optionally `predict_proba(list[str]) -> row-wise probabilities`;
    without it every label scores 1.0. Falsy or whitespace-only text
    gives (None, 0.0), as the reference's falsy-text guard does
    (document_classifier.py:146-148)."""
    vals = ["" if t is None else t for t in texts]
    labels = list(model.predict(vals))
    if hasattr(model, "predict_proba"):
        scores = [float(max(p)) for p in model.predict_proba(vals)]
    else:
        scores = [1.0] * len(labels)
    if len(labels) != len(vals) or len(scores) != len(vals):
        raise ValueError(f"model scored {len(labels)} of {len(vals)} texts")
    return [
        (None, 0.0) if t is None or not str(t).strip() else (str(lbl), s)
        for t, lbl, s in zip(texts, labels, scores)
    ]


def fuse_classification(
    rule_type: str | None,
    rule_score: float,
    ml_type: str | None = None,
    ml_score: float = 0.0,
) -> tuple[str | None, float]:
    if ml_score > 0.7:
        return ml_type, ml_score
    if rule_score > 0.6:
        return rule_type, rule_score
    if ml_score > 0 and rule_score > 0:
        if ml_score > rule_score:
            return ml_type, ml_score
        return rule_type, rule_score
    if ml_score > 0:
        return ml_type, ml_score
    if rule_score > 0:
        return rule_type, rule_score
    return None, 0.0
