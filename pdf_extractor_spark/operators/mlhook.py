"""ML classification hook (reference document_classifier.py:117-136,
SURVEY.md §2.4 'ML classification').

The reference loads a pickled sklearn (TF-IDF vectorizer + RandomForest)
pair if present and returns (None, 0.0) when absent — the model file does
not ship in the repo, so this is an OPTIONAL hook there and here.

Spark-first shape: the model is the `model` argument of
pipeline.extract_documents. It travels in the closure of the fused
classify -> extract -> validate UDF, scores each Arrow batch with one
call (oracle.classifier.classify_by_ml), and its decision enters the
fusion cascade ahead of template extraction and validation.

Model contract (duck-typed so sklearn pipelines drop in unchanged when the
runtime has sklearn): `predict(list[str]) -> labels` and either
`predict_proba(list[str]) -> row-wise probabilities` or nothing (score 1.0).
"""

from __future__ import annotations

from pyspark.sql import SparkSession


class KeywordStubModel:
    """Deterministic stand-in for the sklearn pipeline (the runtime here,
    like the reference repo, ships no model file / no sklearn): labels by
    keyword membership with fixed probabilities. Used by tests and as the
    default demo model; any object with the same duck-type (e.g. a real
    sklearn Pipeline) drops in unchanged."""

    def __init__(self, keyword: str = "contrato", label: str = "contract",
                 other: str = "other", p_hit: float = 0.95, p_miss: float = 0.55):
        self.keyword = keyword
        self.label = label
        self.other = other
        self.p_hit = p_hit
        self.p_miss = p_miss

    def predict(self, texts):
        return [
            self.label if self.keyword in (t or "").lower() else self.other
            for t in texts
        ]

    def predict_proba(self, texts):
        return [
            [self.p_hit, 1 - self.p_hit]
            if self.keyword in (t or "").lower()
            else [self.p_miss, 1 - self.p_miss]
            for t in texts
        ]


class HashLRModel:
    """TRAINED hashed-BoW model for the ML hook (the jobs/run_train.py
    artifact, loaded): same duck-type as the sklearn pipeline the
    reference would unpickle. Margin = sum of per-DISTINCT-token bucket
    weights (the Python twin of hash_lr_score(binary=True)'s fold),
    compared against the trained LDA-midpoint threshold; probability is
    a logistic squash of the threshold-centered margin so the fusion
    cascade's >0.7 gate is reachable for confident docs."""

    def __init__(self, weights, label: str, other: str = "other",
                 threshold: float = 0.0, temperature: float | None = None):
        self.weights = [float(w) for w in weights]
        self.buckets = len(self.weights)
        self.label = label
        self.other = other
        self.threshold = float(threshold)
        # default temperature scales the logistic to the weight
        # magnitude (integer weights scale with corpus size)
        if temperature is None:
            span = max(abs(w) for w in self.weights) or 1.0
            temperature = 5.0 / span
        self.temperature = temperature

    def _margin(self, text: str) -> float:
        import hashlib

        m = 0.0
        for tok in set((text or "").lower().split()):
            j = int(hashlib.md5(tok.encode()).hexdigest()[:15], 16) % self.buckets
            m += self.weights[j]
        return m

    def predict(self, texts):
        return [
            self.label if self._margin(t) > self.threshold else self.other
            for t in texts
        ]

    def predict_proba(self, texts):
        import math

        out = []
        for t in texts:
            z = self.temperature * (self._margin(t) - self.threshold)
            p = 1.0 / (1.0 + math.exp(-max(min(z, 60.0), -60.0)))
            out.append([p, 1.0 - p] if p >= 0.5 else [1.0 - p, p])
        return out

    @classmethod
    def load(cls, spark: SparkSession, path: str, label: str,
             threshold: float = 0.0, **kw):
        """Read the (bucket, weight) parquet artifact run_train.py wrote
        (threshold from its manifest.json)."""
        rows = spark.read.parquet(path).select("bucket", "weight").collect()
        weights = [0.0] * (max(r["bucket"] for r in rows) + 1)
        for r in rows:
            weights[r["bucket"]] = r["weight"]
        return cls(weights, label, threshold=threshold, **kw)
