"""Validation operators (reference validator.py, SURVEY.md §2.5).

Two implementations, used for different surfaces:

1. `classify_extract_validate_udf` — the PIPELINE stage: ONE Arrow-batched
   pandas UDF that runs rule classification, template field extraction AND
   schema validation per document via the oracle (exact Python-`re`/strptime
   parity, typed values flow directly from extraction into validation like
   in the reference). One Python crossing per batch.

2. `field_error_col` / `cpf_valid_col` / `cnpj_valid_col` — fully COLUMNAR
   field validators (whole-stage codegen, no Python) compiled from the same
   schema config. These power the standalone validation queries over string
   columns and demonstrate that even mod-11 check digits need no UDF.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..config import FieldSchema, ValidationSchema

VALIDATION_TYPE = T.StructType(
    [
        T.StructField("valid", T.BooleanType(), True),
        T.StructField("errors", T.MapType(T.StringType(), T.StringType()), True),
        T.StructField("warnings", T.MapType(T.StringType(), T.StringType()), True),
    ]
)

AUTO_TEMPLATE_MIN_CONFIDENCE = 0.5  # batch_processor.py:42

_FUSED_TYPE = T.StructType(
    [
        T.StructField("doc_type", T.StringType(), True),
        T.StructField("confidence", T.DoubleType(), True),
        T.StructField("fields", T.MapType(T.StringType(), T.StringType()), True),
        T.StructField("validation", VALIDATION_TYPE, True),
        T.StructField("error", T.StringType(), True),
    ]
)


def _rebuild_schemas(schemas_conf: dict[str, dict]):
    from ..config import FieldSchema as FS
    from ..config import ValidationSchema as VS

    schemas = {}
    for name, data in schemas_conf.items():
        schemas[name] = VS(
            name=name,
            fields={
                fn: FS(
                    type=f.get("type", "string"),
                    required=bool(f.get("required", False)),
                    severity=f.get("severity", "error"),
                    options=f.get("options", {}) or {},
                )
                for fn, f in data.get("fields", {}).items()
            },
            strict=bool(data.get("strict", False)),
            custom_validations=tuple(data.get("custom_validations", ())),
        )
    return schemas


def classify_extract_validate_udf(
    pattern_items: tuple, templates: dict[str, dict], schemas_conf: dict[str, dict]
):
    """all_text -> struct(doc_type, confidence, fields, validation): rule
    classification + fusion cascade + template field extraction + schema
    validation, fused into ONE Arrow-batched pandas UDF.

    One Python worker per task and one Arrow crossing of all_text, instead
    of the classify-then-validate chain's two workers and two crossings —
    at N cores the unfused chain runs 2N+ Python processes, which
    oversubscribes executors and caps scaling (measured: negative scaling
    at local[16] on a 32-core host). All parity-critical Python-`re` work
    (document_classifier.py:84-115 scoring, extractor.py:252-272 template
    regexes, validator.py:41-324) happens in this single stage via the
    oracle functions, so Spark output == oracle output by construction."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf(_FUSED_TYPE)
    def _run(all_text):
        import pandas as pd

        from ..config import DocTypePattern as DTP
        from ..oracle.classifier import (
            classify_by_rules,
            fuse_classification,
            keyword_presence_batch,
        )
        from ..oracle.extract import _field_to_string
        from ..oracle.template import extract_template_fields
        from ..oracle.validator import validate_data

        pats = {dt: DTP(dt, kw, rx) for dt, kw, rx in pattern_items}
        schemas = _rebuild_schemas(schemas_conf)

        # keyword presence for the whole Arrow batch in one C++ pass per
        # keyword (exactness argument in keyword_presence_batch) — the
        # per-doc Python union scan was the kernel's dominant cost
        all_kws = tuple(
            sorted({kw for p in pats.values() for kw in p.keywords})
        )
        presence = keyword_presence_batch(all_text, all_kws)

        out = []
        pending: dict[str, list] = {}  # schema name -> [(row idx, fields, validation)]
        for text, present in zip(all_text, presence):
            # failure-row semantics (batch_processor.py:81-83): ANY per-doc
            # exception becomes a success=false record downstream — a
            # poisoned document must never kill the 10^12-doc job
            try:
                rule_type, rule_score = classify_by_rules(
                    text, pats, present=present
                )
                doc_type, confidence = fuse_classification(
                    rule_type, rule_score, None, 0.0
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
        # condition) per batch; per-row fallback preserves the reference's
        # row-level exception->warning semantics if the batch form fails
        from ..oracle.validator import (
            _eval_condition_sql,
            apply_custom_outcome,
            eval_condition_sql_batch,
        )

        for sname, entries in pending.items():
            schema = next(s for s in schemas.values() if s.name == sname)
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
                            ok = _eval_condition_sql(
                                cv["condition_sql"], f, schema
                            )
                            apply_custom_outcome(validation, cv, ok)
                        except Exception as e:
                            apply_custom_outcome(
                                validation, cv, True, error=str(e)
                            )
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


def validation_columns(
    fields_col: str, schema: ValidationSchema
) -> tuple[Column, Column, Column]:
    """Compile a ValidationSchema into (valid, errors, warnings) columns over
    a map<string,string> column — the columnar record validator
    (validator.py:235-324 minus custom validations, which callers add via
    F.expr on the condition_sql)."""
    err_entries: list[Column] = []
    warn_entries: list[Column] = []
    fields = F.col(fields_col)

    for name, fs in schema.fields.items():
        value = fields[name]
        if fs.required:
            missing = value.isNull() | (value == "")
            err_entries.append(
                F.when(missing,
                       F.struct(F.lit(name).alias("key"),
                                F.lit("Campo obrigatório não preenchido").alias("value")))
            )
        field_err = field_error_col(value, fs)
        entry = F.when(
            field_err.isNotNull(),
            F.struct(F.lit(name).alias("key"), field_err.alias("value")),
        )
        if fs.required or fs.severity == "error":
            err_entries.append(entry)
        else:
            warn_entries.append(entry)

    def to_map(entries: list[Column]) -> Column:
        if not entries:
            return F.map_from_arrays(
                F.array().cast("array<string>"), F.array().cast("array<string>")
            )
        arr = F.filter(F.array(*entries), lambda e: e.isNotNull())
        return F.map_from_entries(arr)

    errors = to_map(err_entries)
    warnings = to_map(warn_entries)
    if schema.strict:
        # unknown fields -> warnings (validator.py:285-287)
        unknown = F.map_filter(
            F.transform_values(
                fields, lambda k, v: F.lit("Campo não definido no esquema")
            ),
            lambda k, v: ~k.isin(*schema.fields.keys()),
        )
        warnings = F.map_concat(warnings, unknown)
    valid = F.size(F.map_keys(errors)) == 0
    return valid, errors, warnings


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
