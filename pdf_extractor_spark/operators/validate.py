"""Validation operators (reference validator.py, SURVEY.md §2.5).

`classify_extract_validate_udf` is the PIPELINE stage: ONE Arrow-batched
pandas UDF, a batch shell around the oracle's per-document function
`oracle.extract.classify_extract_validate` (rule classification, the
optional ML model, the fusion cascade, template field extraction AND
schema validation; exact Python-`re`/strptime parity, typed values flow
directly from extraction into validation like in the reference). The
shell batches what is cheaper per batch: keyword presence, model scoring
and the custom-SQL validations. One Python crossing per batch. Each batch
ends by dropping the worker's cached zip finders
(`session.drop_zip_finders`), so the next task start does not re-read
Spark's zips.

`span_validations` is the per-span view: typed candidates (email, CPF,
CNPJ, date) detected in text spans and checked by the COLUMNAR validators
`field_error_col` / `cpf_valid_col` / `cnpj_valid_col` (whole-stage
codegen, no Python; even the mod-11 check digits need no UDF).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..config import DocTypePattern, ValidationSchema
from ..oracle.extract import AUTO_TEMPLATE_MIN_CONFIDENCE  # noqa: F401 — re-exported

VALIDATION_TYPE = T.StructType(
    [
        T.StructField("valid", T.BooleanType(), True),
        T.StructField("errors", T.MapType(T.StringType(), T.StringType()), True),
        T.StructField("warnings", T.MapType(T.StringType(), T.StringType()), True),
    ]
)

_FUSED_TYPE = T.StructType(
    [
        T.StructField("doc_type", T.StringType(), True),
        T.StructField("confidence", T.DoubleType(), True),
        T.StructField("fields", T.MapType(T.StringType(), T.StringType()), True),
        T.StructField("validation", VALIDATION_TYPE, True),
        T.StructField("error", T.StringType(), True),
    ]
)


def classify_extract_validate_udf(
    patterns: dict[str, DocTypePattern],
    templates: dict[str, dict],
    schemas: dict[str, ValidationSchema],
    model=None,
):
    """all_text -> struct(doc_type, confidence, fields, validation, error):
    ONE Arrow-batched pandas UDF that runs the oracle's per-document
    decision, oracle.extract.classify_extract_validate, on every row, so
    Spark output == oracle output by construction. The UDF holds only
    batch concerns: one keyword-presence pass; one model call (any object
    with the `predict` / `predict_proba` contract of
    oracle.classify_by_ml; None = rules only), retried per document if it
    raises; failure rows, so a document that raises (or poisons the
    model) gets `error` set (batch_processor.py:81-83); custom validations
    once per schema (validator.apply_custom_validations); the zip-finder
    drop; the result frame.

    One Python worker per task and one Arrow crossing of all_text, instead
    of a classify-then-validate chain's two workers and two crossings — at
    N cores an unfused chain runs 2N+ Python processes, which
    oversubscribes executors and caps scaling (measured: negative scaling
    at local[16] on a 32-core host).

    The config arrives as the loaded frozen dataclasses (config.load_*),
    which pickle as they are; the sorted keyword tuple is derived here,
    once per UDF, not once per batch."""
    from pyspark.sql.functions import pandas_udf

    all_kws = tuple(sorted({kw for p in patterns.values() for kw in p.keywords}))

    @pandas_udf(_FUSED_TYPE)
    def _run(all_text):
        import pandas as pd

        from ..oracle.classifier import classify_by_ml, keyword_presence_batch
        from ..oracle.extract import _field_to_string, classify_extract_validate
        from ..oracle.validator import apply_custom_validations
        from ..session import drop_zip_finders

        # keyword presence for the whole Arrow batch in one C++ pass per
        # keyword (exactness argument in keyword_presence_batch) — the
        # per-doc Python union scan was the kernel's dominant cost
        presence = keyword_presence_batch(all_text, all_kws)
        # ML scores for the whole batch in one model call; None marks a
        # document to score on its own (the batch call raised)
        ml = [(None, 0.0)] * len(all_text)
        if model is not None:
            try:
                ml = classify_by_ml(all_text, model)
            except Exception:  # noqa: BLE001 — per-doc retry below
                ml = [None] * len(all_text)

        out = []
        # schema name -> (schema, typed fields, validation) of its rows,
        # whose custom validations run once per batch below (a per-doc
        # DuckDB query costs ~1.4 ms — it would dominate the pipeline)
        pending: dict[str, tuple] = {}
        for text, present, scored in zip(all_text, presence, ml):
            # a poisoned document must never kill the 10^12-doc job
            try:
                doc_type, confidence, fields, validation, schema = (
                    classify_extract_validate(
                        text, patterns, templates, schemas, present=present,
                        ml=scored or classify_by_ml([text], model)[0],
                        apply_custom=False,
                    )
                )
                if schema is not None and schema.custom_validations:
                    _s, rows, results = pending.setdefault(
                        schema.name, (schema, [], [])
                    )
                    rows.append(fields)
                    results.append(validation)
                out.append(
                    {
                        "doc_type": doc_type,
                        "confidence": confidence,
                        "fields": {k: _field_to_string(v) for k, v in fields.items()},
                        "validation": validation,
                        "error": None,
                    }
                )
            except Exception as e:  # noqa: BLE001 — reference swallows all
                out.append(
                    {
                        "doc_type": None,
                        "confidence": 0.0,
                        "fields": {},
                        "validation": None,
                        "error": f"{type(e).__name__}: {e}"[:500],
                    }
                )

        for schema, rows, results in pending.values():
            apply_custom_validations(schema, rows, results)
        drop_zip_finders()
        return pd.DataFrame(out)

    return _run


# --------------------------------------------------------------------------
# Columnar field validators over STRING input (the coercion-from-string
# semantics of validator.py:41-233) for the four option-less types
# span_validations detects. Each returns an error-message Column
# (null == valid).
# --------------------------------------------------------------------------

# lenient day/month widths (d, M) so "5/3/2024" parses like Python
# strptime %d/%m does; order mirrors validator.py:109-112's fallbacks
_DATE_FALLBACK_SPARK = ["yyyy-M-d", "d/M/yyyy", "M/d/yyyy", "d-M-yyyy"]


def _err(ok: Column, msg: str) -> Column:
    return F.when(ok, F.lit(None).cast("string")).otherwise(F.lit(msg))


def _digit_sum(digits: Column, weights: list[int], start: int = 0) -> Column:
    # HOF loop, not an unrolled substring chain: the unrolled form's
    # generated code (13 substring-casts x 2 check digits x 2 documents,
    # all fused into span_validations' detector array) was the largest
    # contributor to the projection that overflowed janino's 64KB method
    # limit and dropped the stage to interpreted eval
    warr = F.array(*[F.lit(w) for w in weights])
    idx = F.sequence(F.lit(1), F.lit(len(weights)))
    return F.aggregate(
        F.zip_with(
            idx,
            warr,
            lambda i, w: F.substring(digits, i + start, 1).cast("int") * w,
        ),
        F.lit(0),
        lambda acc, x: acc + x,
    )


def _mod11_digit(total: Column) -> Column:
    resto = total % 11
    return F.when(resto < 2, 0).otherwise(11 - resto)


def cpf_valid_col(value: Column) -> Column:
    """CPF check digits, pure column arithmetic (no UDF): strip non-digits,
    require 11 digits, reject all-equal, verify the two mod-11 digits
    (weights 10..2 and 11..2)."""
    d = F.regexp_replace(value, r"\D", "")
    len_ok = F.length(d) == 11
    not_all_equal = F.length(F.regexp_replace(d, F.substring(d, 1, 1), "")) > 0
    dig1 = _mod11_digit(_digit_sum(d, [10 - i for i in range(9)]))
    dig2 = _mod11_digit(_digit_sum(d, [11 - i for i in range(10)]))
    return (
        len_ok
        & not_all_equal
        & (dig1 == F.substring(d, 10, 1).cast("int"))
        & (dig2 == F.substring(d, 11, 1).cast("int"))
    )


_CNPJ_W1 = [5, 4, 3, 2, 9, 8, 7, 6, 5, 4, 3, 2]
_CNPJ_W2 = [6, 5, 4, 3, 2, 9, 8, 7, 6, 5, 4, 3, 2]


def cnpj_valid_col(value: Column) -> Column:
    d = F.regexp_replace(value, r"\D", "")
    len_ok = F.length(d) == 14
    not_all_equal = F.length(F.regexp_replace(d, F.substring(d, 1, 1), "")) > 0
    dig1 = _mod11_digit(_digit_sum(d, _CNPJ_W1))
    dig2 = _mod11_digit(_digit_sum(d, _CNPJ_W2))
    return (
        len_ok
        & not_all_equal
        & (dig1 == F.substring(d, 13, 1).cast("int"))
        & (dig2 == F.substring(d, 14, 1).cast("int"))
    )


_EMAIL_RE = r"^[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}$"
# field type -> (digit count, check-digit validator)
_CHECK_DIGIT_IDS = {"cpf": (11, cpf_valid_col), "cnpj": (14, cnpj_valid_col)}


def field_error_col(value: Column, field_type: str) -> Column:
    """Error message (null = valid) for a STRING-typed value column of one
    of the option-less types span_validations detects (email, cpf, cnpj,
    date with the fallback formats), with validate_field's messages. None
    values are valid (validator.py:43). Any other type raises ValueError:
    the pipeline validates typed fields with validate_field itself."""
    if field_type == "email":
        err = _err(value.rlike(_EMAIL_RE), "Email inválido")
    elif field_type in _CHECK_DIGIT_IDS:
        n, valid = _CHECK_DIGIT_IDS[field_type]
        label = field_type.upper()
        d = F.regexp_replace(value, r"\D", "")
        err = (
            F.when(F.length(d) != n, F.lit(f"{label} deve ter {n} dígitos"))
            .when(~valid(value), F.lit(f"{label} inválido"))
            .otherwise(F.lit(None).cast("string"))
        )
    elif field_type == "date":
        # try_to_date: ANSI mode must yield a validation error row, never
        # a thrown DateTimeException killing the job
        parsed = F.coalesce(
            *[F.try_to_date(value, f) for f in _DATE_FALLBACK_SPARK]
        )
        err = _err(parsed.isNotNull(), "Formato de data não reconhecido")
    else:
        raise ValueError(
            f"field_error_col: unsupported field type {field_type!r}"
        )
    return F.when(value.isNull(), F.lit(None).cast("string")).otherwise(err)


# --------------------------------------------------------------------------
# Per-span structured validator output (north_star: "schema/field validators
# emitted as per-span structured output"): explode text spans, detect typed
# field candidates columnar (regexp_extract), validate each with the
# columnar validators above -> one structured row per (span, field found).
# Fully Catalyst-side: scan -> explode -> project -> filter; no Python.
# --------------------------------------------------------------------------

# detection patterns are RE2/Java-portable (no lookaround), so the DuckDB
# oracle runs the IDENTICAL strings
SPAN_FIELD_DETECTORS: list[tuple[str, str, str]] = [
    # (field name, detection regex, field type for validation)
    ("email", r"[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}", "email"),
    ("cpf", r"\d{3}\.\d{3}\.\d{3}-\d{2}", "cpf"),
    ("cnpj", r"\d{2}\.\d{3}\.\d{3}/\d{4}-\d{2}", "cnpj"),
    ("date", r"\d{1,2}/\d{1,2}/\d{4}", "date"),
]


def span_validations(df: DataFrame, spans_col: str = "spans") -> DataFrame:
    """documents(doc_id, spans sorted+normalized with `order`) ->
    (doc_id, offset, order, field, value, valid, error) — one row per typed
    field candidate found in a text span. The per-doc `validation` struct
    answers "is this document's extracted record valid"; this view answers
    "where in the document does each (in)valid value sit", which is what a
    span-level training-data filter consumes."""
    s = df.select(
        "doc_id",
        F.explode(spans_col).alias("s"),
    ).filter(F.col("s.kind") == "text")
    s = s.select(
        "doc_id",
        F.col("s.offset").alias("offset"),
        F.col("s.order").alias("order"),
        F.col("s.text").alias("_text"),
    )

    entries = []
    for name, rx, ftype in SPAN_FIELD_DETECTORS:
        value = F.nullif(F.regexp_extract(F.col("_text"), f"({rx})", 1), F.lit(""))
        err = field_error_col(value, ftype)
        entries.append(
            F.struct(
                F.lit(name).alias("field"),
                value.alias("value"),
                err.alias("error"),
            )
        )
    # bind the detector array as a COLUMN in its own projection before
    # the explode: inlined into the Generate, the ~10 detectors' fused
    # value+error expressions compile into one janino method that blows
    # the 64KB limit and silently drops the whole stage to interpreted
    # eval (Project under Generate is NOT collapsed, and ProjectExec's
    # codegen splits big expression lists across methods)
    out = (
        s.withColumn("_fvs", F.array(*entries))
        .select(
            "doc_id", "offset", "order", F.explode("_fvs").alias("fv")
        )
        .filter(F.col("fv.value").isNotNull())
    )
    return out.select(
        "doc_id",
        "offset",
        "order",
        F.col("fv.field").alias("field"),
        F.col("fv.value").alias("value"),
        F.col("fv.error").isNull().alias("valid"),
        F.col("fv.error").alias("error"),
    )
