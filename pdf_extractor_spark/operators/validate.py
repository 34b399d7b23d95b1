"""Validation operators (reference validator.py, SURVEY.md §2.5).

Two implementations, used for different surfaces:

1. `classify_extract_validate_udf` — the PIPELINE stage: ONE Arrow-batched
   pandas UDF that runs rule classification, the optional ML model, the
   fusion cascade, template field extraction AND schema validation per
   document via the oracle (exact Python-`re`/strptime parity, typed values
   flow directly from extraction into validation like in the reference).
   One Python crossing per batch. Each batch ends by
   dropping the worker's cached zip finders (`session.drop_zip_finders`),
   so the next task start does not re-read Spark's zips.

2. `field_error_col` / `cpf_valid_col` / `cnpj_valid_col` — fully COLUMNAR
   field validators (whole-stage codegen, no Python) compiled from the same
   schema config. These power the standalone validation queries over string
   columns and demonstrate that even mod-11 check digits need no UDF.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..config import DocTypePattern, FieldSchema, ValidationSchema
from ..oracle.extract import AUTO_TEMPLATE_MIN_CONFIDENCE

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
    """all_text -> struct(doc_type, confidence, fields, validation): rule
    classification + optional ML model + fusion cascade + template field
    extraction + schema validation, fused into ONE Arrow-batched pandas
    UDF. The model (operators/mlhook.py, or any object with the duck-typed
    `predict` / `predict_proba` contract of oracle.classify_by_ml) scores
    each batch with one call; if that call raises, each document is
    scored on its own, so only the document that poisons the model becomes
    a failure row. Its decision feeds the template and validation steps,
    as in the reference (document_classifier.py:138-173). With no model
    the fusion sees (None, 0.0), i.e. rules only.

    One Python worker per task and one Arrow crossing of all_text, instead
    of the classify-then-validate chain's two workers and two crossings —
    at N cores the unfused chain runs 2N+ Python processes, which
    oversubscribes executors and caps scaling (measured: negative scaling
    at local[16] on a 32-core host). All parity-critical Python-`re` work
    (document_classifier.py:84-115 scoring, extractor.py:252-272 template
    regexes, validator.py:41-324) happens in this single stage via the
    oracle functions, so Spark output == oracle output by construction.

    The config arrives as the loaded frozen dataclasses (config.load_*),
    which pickle as they are; the sorted keyword tuple is derived here,
    once per UDF, not once per batch."""
    from pyspark.sql.functions import pandas_udf

    all_kws = tuple(sorted({kw for p in patterns.values() for kw in p.keywords}))

    @pandas_udf(_FUSED_TYPE)
    def _run(all_text):
        import pandas as pd

        from ..oracle.classifier import (
            classify_by_ml,
            classify_by_rules,
            fuse_classification,
            keyword_presence_batch,
        )
        from ..oracle.extract import _field_to_string
        from ..oracle.template import extract_template_fields
        from ..oracle.validator import validate_data
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
        pending: dict[str, list] = {}  # schema name -> [(row idx, fields, validation)]
        for text, present, scored in zip(all_text, presence, ml):
            # failure-row semantics (batch_processor.py:81-83): ANY per-doc
            # exception becomes a success=false record downstream — a
            # poisoned document must never kill the 10^12-doc job
            try:
                rule_type, rule_score = classify_by_rules(
                    text, patterns, present=present
                )
                ml_type, ml_score = scored or classify_by_ml([text], model)[0]
                doc_type, confidence = fuse_classification(
                    rule_type, rule_score, ml_type, ml_score
                )
                tpl = templates.get(doc_type) if doc_type is not None else None
                if (
                    tpl is None
                    or text is None
                    or confidence <= AUTO_TEMPLATE_MIN_CONFIDENCE
                ):
                    out.append(
                        {
                            "doc_type": doc_type,
                            "confidence": confidence,
                            "fields": {},
                            "validation": None,
                            "error": None,
                        }
                    )
                    continue
                fields = extract_template_fields(text, tpl)
                schema = schemas.get(f"{doc_type}_schema")
                validation = None
                if schema is not None:
                    # field-level checks per doc (cheap); custom SQL
                    # conditions deferred to ONE vectorized evaluation per
                    # batch below (a per-doc DuckDB query costs ~1.4 ms —
                    # it would dominate the whole pipeline)
                    v = validate_data(fields, schema, apply_custom=False)
                    validation = {
                        "valid": v["valid"],
                        "errors": v["errors"],
                        "warnings": v["warnings"],
                    }
                    if schema.custom_validations:
                        pending.setdefault(schema.name, []).append(
                            (len(out), fields, validation)
                        )
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

        # vectorized custom validations: one DuckDB query per (schema,
        # condition) per batch; if the batch form fails, each row runs as
        # a one-row batch, which keeps the reference's row-level
        # exception->warning semantics
        from ..oracle.validator import (
            apply_custom_outcome,
            eval_condition_sql_batch,
        )

        for sname, entries in pending.items():
            schema = schemas[sname]
            fields_list = [f for _i, f, _v in entries]
            for cv in schema.custom_validations:
                try:
                    oks = eval_condition_sql_batch(
                        cv["condition_sql"], fields_list, schema
                    )
                    for (_i, _f, validation), ok in zip(entries, oks):
                        apply_custom_outcome(validation, cv, ok)
                except Exception:
                    for _i, f, validation in entries:
                        try:
                            ok = eval_condition_sql_batch(
                                cv["condition_sql"], [f], schema
                            )[0]
                            apply_custom_outcome(validation, cv, ok)
                        except Exception as e:
                            apply_custom_outcome(
                                validation, cv, True, error=str(e)
                            )
        drop_zip_finders()
        return pd.DataFrame(out)

    return _run


# --------------------------------------------------------------------------
# Columnar field validators over STRING input (the coercion-from-string
# semantics of validator.py:41-233), compiled from FieldSchema config.
# Each returns an error-message Column (null == valid).
# --------------------------------------------------------------------------

# lenient day/month widths (d, M) so "5/3/2024" parses like Python
# strptime %d/%m does; order mirrors validator.py:109-112's fallbacks
_DATE_FALLBACK_SPARK = ["yyyy-M-d", "d/M/yyyy", "M/d/yyyy", "d-M-yyyy"]
_STRPTIME_TO_SPARK = {
    "%Y-%m-%d": "yyyy-M-d",
    "%d/%m/%Y": "d/M/yyyy",
    "%m/%d/%Y": "M/d/yyyy",
    "%d-%m-%Y": "d-M-yyyy",
}


def _err(cond: Column, msg) -> Column:
    return F.when(cond, F.lit(None).cast("string")).otherwise(
        msg if isinstance(msg, Column) else F.lit(msg)
    )


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
_INT_RE = r"^[+-]?\d+$"
_NUM_RE = r"^[+-]?(\d+(\.\d*)?|\.\d+)([eE][+-]?\d+)?$"


def field_error_col(value: Column, fs: FieldSchema) -> Column:
    """Error message (null = valid) for a STRING-typed value column, per the
    reference's coercion semantics. None values are valid (validator.py:43)."""
    o = fs.options
    t = fs.type

    if t == "string":
        err = F.lit(None).cast("string")
        if "min_length" in o:
            err = F.when(
                F.length(value) < o["min_length"],
                F.lit(f"String muito curta (mínimo: {o['min_length']})"),
            ).otherwise(err)
        if "max_length" in o:
            err = F.when(
                F.length(value) > o["max_length"],
                F.lit(f"String muito longa (máximo: {o['max_length']})"),
            ).otherwise(err)
        # precedence: min_length error wins over max_length like the
        # reference's elif chain; pattern checked last
        if "pattern" in o:
            pat = o["pattern"]
            if not pat.startswith("^"):
                pat = "^" + pat  # re.match anchors at start
            err = F.coalesce(
                err,
                _err(value.rlike(pat), "String não corresponde ao padrão esperado"),
            )

    elif t in ("number", "decimal"):
        num = F.regexp_replace(value, ",", ".")
        parsed = F.when(num.rlike(_NUM_RE), num.cast("double"))
        err = F.when(
            parsed.isNull(), F.lit("Não é possível converter para número")
        )
        if "min" in o:
            err = F.coalesce(
                err,
                _err(parsed >= o["min"],
                     f"Número muito pequeno (mínimo: {o['min']})"),
            )
        if "max" in o:
            err = F.coalesce(
                err,
                _err(parsed <= o["max"],
                     f"Número muito grande (máximo: {o['max']})"),
            )
        err = F.coalesce(err, F.lit(None).cast("string"))

    elif t == "integer":
        parsed = F.when(value.rlike(_INT_RE), value.cast("long"))
        err = F.when(
            parsed.isNull(), F.lit("Não é possível converter para inteiro")
        )
        if "min" in o:
            err = F.coalesce(
                err,
                _err(parsed >= o["min"],
                     f"Inteiro muito pequeno (mínimo: {o['min']})"),
            )
        if "max" in o:
            err = F.coalesce(
                err,
                _err(parsed <= o["max"],
                     f"Inteiro muito grande (máximo: {o['max']})"),
            )
        err = F.coalesce(err, F.lit(None).cast("string"))

    elif t == "date":
        if "format" in o:
            fmt = _STRPTIME_TO_SPARK.get(o["format"])
            if fmt is None:
                raise ValueError(f"unsupported date format {o['format']!r}")
            # try_to_date: ANSI mode must yield a validation error row,
            # never a thrown DateTimeException killing the job
            parsed = F.try_to_date(value, fmt)
            err = F.when(parsed.isNull(), F.lit("Data inválida"))
        else:
            parsed = F.coalesce(
                *[F.try_to_date(value, f) for f in _DATE_FALLBACK_SPARK]
            )
            err = F.when(
                parsed.isNull(), F.lit("Formato de data não reconhecido")
            )
        if "min_date" in o:
            err = F.coalesce(
                err,
                _err(parsed >= F.lit(o["min_date"]).cast("date"),
                     f"Data anterior ao mínimo permitido ({o['min_date']})"),
            )
        elif "max_date" in o:  # replicated elif-shadowing quirk (SURVEY §2.9)
            err = F.coalesce(
                err,
                _err(parsed <= F.lit(o["max_date"]).cast("date"),
                     f"Data posterior ao máximo permitido ({o['max_date']})"),
            )
        err = F.coalesce(err, F.lit(None).cast("string"))

    elif t == "boolean":
        low = F.lower(value)
        ok = low.isin("true", "yes", "sim", "1", "verdadeiro",
                      "false", "no", "não", "0", "falso")
        err = _err(ok, "Não é possível converter para booleano")

    elif t == "email":
        err = _err(value.rlike(_EMAIL_RE), "Email inválido")

    elif t == "cpf":
        d = F.regexp_replace(value, r"\D", "")
        err = (
            F.when(F.length(d) != 11, F.lit("CPF deve ter 11 dígitos"))
            .when(~cpf_valid_col(value), F.lit("CPF inválido"))
            .otherwise(F.lit(None).cast("string"))
        )

    elif t == "cnpj":
        d = F.regexp_replace(value, r"\D", "")
        err = (
            F.when(F.length(d) != 14, F.lit("CNPJ deve ter 14 dígitos"))
            .when(~cnpj_valid_col(value), F.lit("CNPJ inválido"))
            .otherwise(F.lit(None).cast("string"))
        )

    elif t == "enum":
        values = o.get("values")
        if not values:
            err = F.lit("Opções de enum não definidas")
        else:
            err = _err(
                value.isin(*values),
                "Valor deve ser um dos seguintes: " + ", ".join(values),
            )

    else:
        err = F.lit(f"Tipo de campo desconhecido: {t}")

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
    from ..config import FieldSchema

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
        err = field_error_col(value, FieldSchema(type=ftype))
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
