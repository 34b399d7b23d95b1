"""Span-sequence equality and full-pipeline parity: Spark vs oracle, per row.

This is the BASELINE.json invariant: for every document, the output spans
must equal the oracle's (kind, text, media_ref, order) sequence exactly;
doc_type/confidence/fields/validation/meta must match too.
"""

import math

import pytest

from pdf_extractor_spark.config import load_patterns, load_schemas, load_templates
from pdf_extractor_spark.oracle.extract import extract_document
from pdf_extractor_spark.pipeline import extract_documents
from pdf_extractor_spark.sources.corpus import SPANS_SCHEMA, corpus_rows, doc_row

N_DOCS = 250
WHALE_RANGE = (995, 1000)  # includes i=999, the 2k-10k span skew doc


def _corpus():
    rows = list(corpus_rows(N_DOCS))
    rows += [doc_row(i) for i in range(*WHALE_RANGE)]
    return rows


@pytest.fixture(scope="module")
def results(spark):
    rows = _corpus()
    df = spark.createDataFrame(
        [
            (did, [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in spans])
            for did, spans in rows
        ],
        SPANS_SCHEMA,
    )
    out = extract_documents(df)
    spark_rows = {r["doc_id"]: r.asDict(recursive=True) for r in out.collect()}

    patterns = load_patterns()
    templates = load_templates()
    schemas = load_schemas()
    oracle_rows = {
        did: extract_document(did, spans, patterns, templates, schemas)
        for did, spans in rows
    }
    return spark_rows, oracle_rows


def test_row_counts(results):
    spark_rows, oracle_rows = results
    assert set(spark_rows) == set(oracle_rows)


def test_span_sequence_equality(results):
    """(kind, text, media_ref, order) — exact, every doc, including the
    whale and every fixture string."""
    spark_rows, oracle_rows = results
    for did, orow in oracle_rows.items():
        got = [
            (s["kind"], s["text"], s["media_ref"], s["order"])
            for s in spark_rows[did]["spans"]
        ]
        want = [
            (s["kind"], s["text"], s["media_ref"], s["order"])
            for s in orow["spans"]
        ]
        assert got == want, f"span mismatch for {did}"


def test_offsets_preserved(results):
    spark_rows, oracle_rows = results
    for did, orow in oracle_rows.items():
        got = [s["offset"] for s in spark_rows[did]["spans"]]
        want = [s["offset"] for s in orow["spans"]]
        assert got == want


def test_classification_parity(results):
    spark_rows, oracle_rows = results
    for did, orow in oracle_rows.items():
        srow = spark_rows[did]
        assert srow["doc_type"] == orow["doc_type"], did
        assert math.isclose(
            srow["confidence"], orow["confidence"], rel_tol=1e-12, abs_tol=1e-12
        ), did


def test_fields_and_validation_parity(results):
    spark_rows, oracle_rows = results
    for did, orow in oracle_rows.items():
        srow = spark_rows[did]
        assert (srow["fields"] or {}) == orow["fields"], did
        oval = orow["validation"]
        sval = srow["validation"]
        if oval is None:
            assert sval is None, did
        else:
            assert sval["valid"] == oval["valid"], did
            assert (sval["errors"] or {}) == oval["errors"], did
            assert (sval["warnings"] or {}) == oval["warnings"], did


def test_meta_parity(results):
    spark_rows, oracle_rows = results
    for did, orow in oracle_rows.items():
        srow = spark_rows[did]
        assert srow["meta"] == orow["meta"], did


def test_corpus_has_interesting_docs(results):
    """Guard against a vacuous corpus: classes, templates, and the whale."""
    _, oracle_rows = results
    types = {r["doc_type"] for r in oracle_rows.values()}
    assert "invoice" in types and None in types
    assert any(r["fields"] for r in oracle_rows.values())
    assert any(r["validation"] is not None for r in oracle_rows.values())
    assert any(len(r["spans"]) >= 2000 for r in oracle_rows.values())
    langs = {r["meta"]["language"] for r in oracle_rows.values()}
    assert "zh" in langs or "ja" in langs  # CJK branch exercised


def test_ml_model_parity(spark):
    """With a model, Spark and the oracle make the same per-row decision:
    the model's score reaches fusion, template and validation on both."""
    from pdf_extractor_spark.operators.mlhook import KeywordStubModel

    rows = _corpus()
    df = spark.createDataFrame(
        [
            (did, [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in spans])
            for did, spans in rows
        ],
        SPANS_SCHEMA,
    )
    out = extract_documents(df, model=KeywordStubModel())
    spark_rows = {r["doc_id"]: r.asDict(recursive=True) for r in out.collect()}
    patterns, templates, schemas = load_patterns(), load_templates(), load_schemas()
    oracle_rows = {
        did: extract_document(
            did, spans, patterns, templates, schemas, model=KeywordStubModel()
        )
        for did, spans in rows
    }
    assert set(spark_rows) == set(oracle_rows)
    for did, orow in oracle_rows.items():
        srow = spark_rows[did]
        assert srow["error"] is None, did
        assert srow["doc_type"] == orow["doc_type"], did
        assert math.isclose(
            srow["confidence"], orow["confidence"], rel_tol=1e-12, abs_tol=1e-12
        ), did
        assert (srow["fields"] or {}) == orow["fields"], did
        oval, sval = orow["validation"], srow["validation"]
        if oval is None:
            assert sval is None, did
        else:
            assert sval["valid"] == oval["valid"], did
            assert (sval["errors"] or {}) == oval["errors"], did
            assert (sval["warnings"] or {}) == oval["warnings"], did
    # not vacuous: the model decides some rows and rules others
    types = {r["doc_type"] for r in oracle_rows.values()}
    assert {"other", "invoice", "receipt"} <= types
    assert any(r["validation"] is not None for r in oracle_rows.values())


def test_explicit_empty_config_is_kept(spark):
    """An explicit empty templates / patterns dict is used as given, not
    replaced by the packaged config: no template means no fields and no
    validation; no patterns means no rule classification."""
    from pdf_extractor_spark.sources.corpus import T8_INVOICE_FIELDS

    lines = T8_INVOICE_FIELDS.split("\n")
    df = spark.createDataFrame(
        [("inv", [("text", line, None, i) for i, line in enumerate(lines)])],
        SPANS_SCHEMA,
    )
    full = extract_documents(df).collect()[0]
    assert full.doc_type == "invoice"  # packaged config
    assert full.fields and full.validation is not None

    r = extract_documents(df, templates={}).collect()[0]
    assert r.doc_type == "invoice" and r.confidence == full.confidence
    assert r.fields == {} and r.validation is None

    r = extract_documents(df, patterns={}).collect()[0]
    assert (r.doc_type, r.confidence) == (None, 0.0)
    assert r.fields == {} and r.validation is None
