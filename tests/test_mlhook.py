"""ML classification hook (document_classifier.py:117-136,157-173): duck-
typed model scored inside the fused classify -> extract -> validate UDF +
fusion cascade parity with the oracle."""

import pytest
from pyspark.sql import functions as F

from pdf_extractor_spark.config import load_patterns
from pdf_extractor_spark.operators.mlhook import (
    KeywordStubModel as StubModel,
)
from pdf_extractor_spark.operators.validate import classify_extract_validate_udf
from pdf_extractor_spark.oracle.classifier import classify_by_rules, fuse_classification


def classify(df, patterns, model):
    """doc_type / confidence of the fused stage, with no templates or
    schemas, so only the classification decision is under test."""
    cev = classify_extract_validate_udf(patterns, {}, {}, model)
    return df.withColumn("_r", cev(F.col("all_text"))).select(
        "doc_id", "_r.doc_type", "_r.confidence"
    )


TEXTS = [
    "CONTRATO de prestação de serviços entre as partes",   # ml wins (0.95>0.7)
    "DANFE\nNF-e nº 123456\nCNPJ: 12.345.678/0001-90",     # rules win
    "texto aleatório sem nada",                            # ml 0.55 vs rule 0
    "",                                                    # falsy -> (None, 0)
]


@pytest.fixture(scope="module")
def result(spark):
    df = spark.createDataFrame(
        [(str(i), t) for i, t in enumerate(TEXTS)], "doc_id string, all_text string"
    )
    patterns = load_patterns()
    out = classify(df, patterns, StubModel())
    rows = {r.doc_id: (r.doc_type, r.confidence) for r in out.collect()}

    model = StubModel()
    expected = {}
    for i, t in enumerate(TEXTS):
        rt, rs = classify_by_rules(t, patterns)
        if not t.strip():
            mt, ms = None, 0.0
        else:
            mt = model.predict([t])[0]
            ms = max(model.predict_proba([t])[0])
        expected[str(i)] = fuse_classification(rt, rs, mt, ms)
    return rows, expected


def test_fusion_parity_with_oracle(result):
    rows, expected = result
    for k in expected:
        assert rows[k][0] == expected[k][0], k
        assert abs(rows[k][1] - expected[k][1]) < 1e-12, k


def test_ml_dominates_when_confident(result):
    rows, _ = result
    assert rows["0"] == ("contract", 0.95)


def test_no_model_is_rules_only(spark):
    df = spark.createDataFrame([("1", TEXTS[1])], "doc_id string, all_text string")
    out = classify(df, load_patterns(), None)
    r = out.collect()[0]
    rt, rs = classify_by_rules(TEXTS[1], load_patterns())
    assert (r.doc_type, r.confidence) == fuse_classification(rt, rs, None, 0.0)


def test_ml_decision_reaches_template_and_validation(spark):
    """A weak rule score (<= 0.5, below the auto-template gate) plus a
    confident model (invoice at 0.95) must extract invoice fields and
    validate them — the ML decision feeds the same stage's template and
    validation steps."""
    from pdf_extractor_spark.pipeline import extract_documents
    from pdf_extractor_spark.sources.corpus import SPANS_SCHEMA, T8_INVOICE_FIELDS

    lines = T8_INVOICE_FIELDS.split("\n")[1:-1]  # no NF-e nº, no access key
    patterns = load_patterns()
    assert classify_by_rules("\n".join(lines), patterns)[1] <= 0.5
    df = spark.createDataFrame(
        [("weak", [("text", line, None, i) for i, line in enumerate(lines)])],
        SPANS_SCHEMA,
    )
    model = StubModel(keyword="acme", label="invoice")

    r = extract_documents(df, model=model).collect()[0]
    assert (r.doc_type, r.confidence) == ("invoice", 0.95)
    assert r.fields["issuer_name"] == "ACME Ltda"
    assert r.fields["issue_date"].startswith("2024-03-15")
    assert r.validation is not None and r.validation.valid is not None

    # without the model the same document stays below the template gate
    r = extract_documents(df).collect()[0]
    assert r.doc_type == "invoice" and r.confidence <= 0.5
    assert r.fields == {} and r.validation is None


def test_classify_by_ml_batch_semantics():
    """Blank text scores (None, 0.0); a model without predict_proba scores
    1.0; a model that scores the wrong number of texts raises, so the
    fused stage falls back to scoring each document on its own."""
    from pdf_extractor_spark.oracle.classifier import classify_by_ml

    class LabelOnly:
        def predict(self, texts):
            return ["x"] * len(texts)

    class Short(LabelOnly):
        def predict(self, texts):
            return ["x"]

    assert classify_by_ml(["a", " \n", None], LabelOnly()) == [
        ("x", 1.0), (None, 0.0), (None, 0.0),
    ]
    assert classify_by_ml(TEXTS[:1], StubModel()) == [("contract", 0.95)]
    with pytest.raises(ValueError):
        classify_by_ml(["a", "b"], Short())
