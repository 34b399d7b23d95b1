"""The normalize stage's Column tree is built once per JVM, not per call.

A repeat extract_documents call reuses the cached span-sort, language and
preprocess layers, so it costs a few hundred py4j round trips instead of
thousands; the cached Columns are unresolved expressions, valid for any
frame (and any session) in the same JVM.
"""

import py4j.clientserver
import pytest

from pdf_extractor_spark.operators.spans import (
    add_detected_language,
    normalize_documents,
)
from pdf_extractor_spark.pipeline import extract_documents
from pdf_extractor_spark.sources.corpus import SPANS_SCHEMA, corpus_rows

# the first-call build alone is >= 3,000 round trips; py4j's object-release
# commands make the count of a cached call vary by a few hundred
MAX_REPEAT_ROUND_TRIPS = 1_000


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(list(corpus_rows(60)), SPANS_SCHEMA)


def _rows(df):
    return sorted(df.collect(), key=lambda r: r.doc_id)


def test_repeat_extract_reuses_the_column_tree(docs, monkeypatch):
    first = extract_documents(docs)
    calls = [0]
    send = py4j.clientserver.ClientServerConnection.send_command

    def counting(self, command):
        calls[0] += 1
        return send(self, command)

    monkeypatch.setattr(
        py4j.clientserver.ClientServerConnection, "send_command", counting
    )
    second = extract_documents(docs)
    monkeypatch.undo()
    assert calls[0] <= MAX_REPEAT_ROUND_TRIPS
    assert _rows(second) == _rows(first)


def test_cached_layers_serve_another_session(spark, docs):
    other = spark.newSession()
    other_docs = other.createDataFrame(list(corpus_rows(60)), SPANS_SCHEMA)
    assert _rows(normalize_documents(other_docs)) == _rows(
        normalize_documents(docs)
    )


def test_sample_column_named_like_a_temp(spark):
    samples = [
        None,
        "",
        "   short   ",
        "the quick brown fox and the lazy dog of the year",
        "o gato e a casa para os meninos da cidade",
        "日本語のテキストです。これはテストです。",
        "中文文本这是一个测试句子",
        "한국어 텍스트입니다 테스트 문장",
        "Это тестовый текст на русском языке",
        "word " * 600,
    ]
    df = spark.createDataFrame(
        [(i, s) for i, s in enumerate(samples)], "id int, s string"
    )
    own = add_detected_language(df.withColumnRenamed("s", "sample"), "sample")
    temp = add_detected_language(df.withColumnRenamed("s", "_smp"), "_smp")
    assert {r.id: r.lang for r in temp.collect()} == {
        r.id: r.lang for r in own.collect()
    }
