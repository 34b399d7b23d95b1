"""Failure-row semantics (batch_processor.py:81-83): a poisoned document
produces a success=false record with the error captured — never a crashed
job. Poison here = a template whose field regex fails to compile, thrown
inside the fused UDF at extraction time, and an ML model that raises on
one text."""

import pytest
from pyspark.sql import functions as F

from pdf_extractor_spark.config import load_patterns
from pdf_extractor_spark.operators.mlhook import KeywordStubModel
from pdf_extractor_spark.pipeline import extract_documents, metrics_rows
from pdf_extractor_spark.sources.corpus import (
    SPANS_SCHEMA,
    T8_INVOICE_FIELDS,
    T10_RECEIPT,
)

POISON_TEMPLATES = {
    "invoice": {
        "document_type": "invoice",
        "fields": {"boom": {"regex": "([unclosed", "type": "string"}},
    }
}


@pytest.fixture(scope="module")
def out(spark):
    rows = [
        ("ok-neutral", [("text", "nothing classifiable here at all", None, 0)]),
        ("poisoned", [("text", line, None, i)
                      for i, line in enumerate(T8_INVOICE_FIELDS.split("\n"))]),
    ]
    df = spark.createDataFrame(rows, SPANS_SCHEMA)
    return {
        r.doc_id: r
        for r in extract_documents(df, templates=POISON_TEMPLATES).collect()
    }


def test_job_survives_poison_doc(out):
    assert set(out) == {"ok-neutral", "poisoned"}


def test_poisoned_doc_is_failure_row(out):
    r = out["poisoned"]
    assert r.error is not None and "error" in r.error.lower()
    assert r.doc_type is None and r.confidence == 0.0
    assert r.validation is None
    # spans still rebuilt — normalization is upstream of the failure
    assert len(r.spans) == len(T8_INVOICE_FIELDS.split("\n"))


def test_healthy_doc_unaffected(out):
    r = out["ok-neutral"]
    assert r.error is None


def test_metrics_mark_failure(spark, out):
    rows = [
        ("ok-neutral", [("text", "nothing classifiable here at all", None, 0)]),
        ("poisoned", [("text", line, None, i)
                      for i, line in enumerate(T8_INVOICE_FIELDS.split("\n"))]),
    ]
    df = spark.createDataFrame(rows, SPANS_SCHEMA)
    ext = extract_documents(df, templates=POISON_TEMPLATES).withColumn(
        "bucket", F.lit(0)
    )
    m = {r.doc_id: r for r in metrics_rows(ext, "r", 0).collect()}
    assert m["poisoned"].success is False
    assert m["ok-neutral"].success is True


@pytest.fixture(scope="module")
def out_model(spark):
    # defined here, not at module level, so the workers (which cannot
    # import this test module) receive the class by value
    class PoisonModel(KeywordStubModel):
        """`predict` raises on one text: any batch holding it fails, so
        the stage must score that batch one document at a time."""

        def predict(self, texts):
            if any("poison" in (t or "") for t in texts):
                raise RuntimeError("model cannot score this text")
            return super().predict(texts)

    rows = [
        ("ok-neutral", [("text", "nothing classifiable here at all", None, 0)]),
        ("ok-contract", [("text", "CONTRATO de prestação de serviços", None, 0)]),
        ("ok-receipt", [("text", T10_RECEIPT, None, 0)]),
        ("model-poison", [("text", "poison for the model", None, 0)]),
    ]
    # one partition: the poisoned text shares its Arrow batch with the
    # healthy ones
    df = spark.createDataFrame(rows, SPANS_SCHEMA).coalesce(1)
    return {
        r.doc_id: r
        for r in extract_documents(df, model=PoisonModel()).collect()
    }


def test_model_failure_is_failure_row(out_model):
    r = out_model["model-poison"]
    assert r.error is not None and "RuntimeError" in r.error
    assert r.doc_type is None and r.confidence == 0.0
    assert r.validation is None


def test_model_failure_leaves_other_docs_classified(out_model):
    assert {d: r.error for d, r in out_model.items() if d != "model-poison"} == {
        "ok-neutral": None, "ok-contract": None, "ok-receipt": None,
    }
    assert (out_model["ok-contract"].doc_type,
            out_model["ok-contract"].confidence) == ("contract", 0.95)
    assert out_model["ok-neutral"].doc_type == "other"
    assert out_model["ok-receipt"].doc_type == "receipt"
