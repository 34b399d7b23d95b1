"""Field/record validation with reference semantics (validator.py:41-324).

Replicated quirks (SURVEY.md §2.9 — observable behavior, kept on purpose):
  * date: `max_date` is only checked when `min_date` is ABSENT (the
    reference's elif at validator.py:116-123).
  * None values are always (True, None) — required-ness is checked at the
    record level, not here.
Error messages are kept verbatim (Portuguese) — they are part of the
observable output (errors/warnings maps).
"""

from __future__ import annotations

import math
import os
import re
from datetime import datetime

from ..config import FieldSchema, ValidationSchema

_EMAIL_RE = re.compile(r"^[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}$")
_NON_DIGIT_RE = re.compile(r"\D")
_DATE_FALLBACK_FORMATS = ["%Y-%m-%d", "%d/%m/%Y", "%m/%d/%Y", "%d-%m-%Y"]


def _cpf_valid(cpf: str) -> bool:
    """Brazilian CPF check digits: two mod-11 digits over positional weights
    10..2 and 11..2 (public algorithm; behavior per validator.py:147-180)."""
    soma = sum(int(cpf[i]) * (10 - i) for i in range(9))
    resto = soma % 11
    digito1 = 0 if resto < 2 else 11 - resto
    if digito1 != int(cpf[9]):
        return False
    soma = sum(int(cpf[i]) * (11 - i) for i in range(10))
    resto = soma % 11
    digito2 = 0 if resto < 2 else 11 - resto
    return digito2 == int(cpf[10])


_CNPJ_W1 = [5, 4, 3, 2, 9, 8, 7, 6, 5, 4, 3, 2]
_CNPJ_W2 = [6, 5, 4, 3, 2, 9, 8, 7, 6, 5, 4, 3, 2]


def _cnpj_valid(cnpj: str) -> bool:
    soma = sum(int(cnpj[i]) * _CNPJ_W1[i] for i in range(12))
    resto = soma % 11
    digito1 = 0 if resto < 2 else 11 - resto
    if digito1 != int(cnpj[12]):
        return False
    soma = sum(int(cnpj[i]) * _CNPJ_W2[i] for i in range(13))
    resto = soma % 11
    digito2 = 0 if resto < 2 else 11 - resto
    return digito2 == int(cnpj[13])


def validate_field(value, field_type: str, options: dict | None = None):
    """-> (ok: bool, error_msg: str | None). Reference validator.py:41-233."""
    if value is None:
        return True, None
    options = options or {}
    error = None
    try:
        if field_type == "string":
            if not isinstance(value, str):
                error = "Valor deve ser uma string"
            elif "min_length" in options and len(value) < options["min_length"]:
                error = f"String muito curta (mínimo: {options['min_length']})"
            elif "max_length" in options and len(value) > options["max_length"]:
                error = f"String muito longa (máximo: {options['max_length']})"
            elif "pattern" in options and not re.match(options["pattern"], value):
                error = "String não corresponde ao padrão esperado"

        elif field_type in ("number", "decimal"):
            if isinstance(value, str):
                value = value.replace(",", ".")
                try:
                    value = float(value)
                except ValueError:
                    error = "Não é possível converter para número"
            if error is None:
                if not isinstance(value, (int, float)) or isinstance(value, bool):
                    error = "Valor deve ser um número"
                elif "min" in options and value < options["min"]:
                    error = f"Número muito pequeno (mínimo: {options['min']})"
                elif "max" in options and value > options["max"]:
                    error = f"Número muito grande (máximo: {options['max']})"

        elif field_type == "integer":
            if isinstance(value, str):
                try:
                    value = int(value)
                except ValueError:
                    error = "Não é possível converter para inteiro"
            if error is None:
                if not isinstance(value, int) or isinstance(value, bool):
                    error = "Valor deve ser um inteiro"
                elif "min" in options and value < options["min"]:
                    error = f"Inteiro muito pequeno (mínimo: {options['min']})"
                elif "max" in options and value > options["max"]:
                    error = f"Inteiro muito grande (máximo: {options['max']})"

        elif field_type == "date":
            if isinstance(value, str):
                if "format" in options:
                    try:
                        value = datetime.strptime(value, options["format"])
                    except ValueError:
                        error = "Data inválida"
                else:
                    for fmt in _DATE_FALLBACK_FORMATS:
                        try:
                            value = datetime.strptime(value, fmt)
                            break
                        except ValueError:
                            continue
                    else:
                        error = "Formato de data não reconhecido"
            if error is None:
                if not isinstance(value, datetime):
                    error = "Valor deve ser uma data"
                elif "min_date" in options:
                    min_date = datetime.strptime(options["min_date"], "%Y-%m-%d")
                    if value < min_date:
                        error = (
                            "Data anterior ao mínimo permitido "
                            f"({options['min_date']})"
                        )
                elif "max_date" in options:
                    # NOTE: reached only when min_date absent — replicated
                    # reference quirk (validator.py:116-123, SURVEY.md §2.9).
                    max_date = datetime.strptime(options["max_date"], "%Y-%m-%d")
                    if value > max_date:
                        error = (
                            "Data posterior ao máximo permitido "
                            f"({options['max_date']})"
                        )

        elif field_type == "boolean":
            if isinstance(value, str):
                v = value.lower()
                if v in ("true", "yes", "sim", "1", "verdadeiro"):
                    value = True
                elif v in ("false", "no", "não", "0", "falso"):
                    value = False
                else:
                    error = "Não é possível converter para booleano"
            if error is None and not isinstance(value, bool):
                error = "Valor deve ser um booleano"

        elif field_type == "email":
            if not isinstance(value, str):
                error = "Email deve ser uma string"
            elif not _EMAIL_RE.match(value):
                error = "Email inválido"

        elif field_type == "cpf":
            if not isinstance(value, str):
                error = "CPF deve ser uma string"
            else:
                cpf = _NON_DIGIT_RE.sub("", value)
                if len(cpf) != 11:
                    error = "CPF deve ter 11 dígitos"
                elif len(set(cpf)) == 1:
                    error = "CPF inválido"
                elif not _cpf_valid(cpf):
                    error = "CPF inválido"

        elif field_type == "cnpj":
            if not isinstance(value, str):
                error = "CNPJ deve ser uma string"
            else:
                cnpj = _NON_DIGIT_RE.sub("", value)
                if len(cnpj) != 14:
                    error = "CNPJ deve ter 14 dígitos"
                elif len(set(cnpj)) == 1:
                    error = "CNPJ inválido"
                elif not _cnpj_valid(cnpj):
                    error = "CNPJ inválido"

        elif field_type == "enum":
            if "values" not in options:
                error = "Opções de enum não definidas"
            elif value not in options["values"]:
                error = (
                    "Valor deve ser um dos seguintes: "
                    + ", ".join(options["values"])
                )

        else:
            error = f"Tipo de campo desconhecido: {field_type}"

    except Exception as e:  # mirror reference catch-all (validator.py:230-231)
        error = f"Erro na validação: {str(e)}"

    return error is None, error


def validate_data(
    data: dict, schema: ValidationSchema, apply_custom: bool = True
) -> dict:
    """-> {valid, errors{field: msg}, warnings{field: msg}}.
    Reference validator.py:235-324 single-record path.

    Custom validations run through apply_custom_validations on a
    one-row batch, the routine the Spark UDF runs once per schema per
    Arrow batch, so both read a field the same way. apply_custom=False
    skips them — used by the UDF, which defers them to that batch call."""
    result = {"valid": True, "errors": {}, "warnings": {}}

    for field_name, fs in schema.fields.items():
        if fs.required and (
            field_name not in data
            or data[field_name] is None
            or data[field_name] == ""
        ):
            result["valid"] = False
            result["errors"][field_name] = "Campo obrigatório não preenchido"

    for field_name, value in data.items():
        if field_name not in schema.fields:
            if schema.strict:
                result["warnings"][field_name] = "Campo não definido no esquema"
            continue
        fs = schema.fields[field_name]
        ok, error = validate_field(value, fs.type, fs.options)
        if not ok:
            if fs.required or fs.severity == "error":
                result["valid"] = False
                result["errors"][field_name] = error
            else:
                result["warnings"][field_name] = error

    if apply_custom:
        apply_custom_validations(schema, [data], [result])

    return result


def apply_custom_validations(
    schema: ValidationSchema, rows: list[dict], results: list[dict]
) -> None:
    """Evaluate each of `schema`'s custom validations over the typed
    field dicts `rows` as ONE batch (one DuckDB query per condition) and
    route each row's outcome into its `results` entry. If the batch form
    fails, each row runs as a one-row batch, which keeps the reference's
    row-level exception->warning semantics."""
    for cv in schema.custom_validations:
        try:
            oks = eval_condition_sql_batch(cv["condition_sql"], rows, schema)
            for result, ok in zip(results, oks):
                apply_custom_outcome(result, cv, ok)
        except Exception:
            for row, result in zip(rows, results):
                try:
                    ok = eval_condition_sql_batch(
                        cv["condition_sql"], [row], schema
                    )[0]
                    apply_custom_outcome(result, cv, ok)
                except Exception as e:
                    apply_custom_outcome(result, cv, True, error=str(e))


def apply_custom_outcome(
    result: dict, cv: dict, ok: bool, error: str | None = None
) -> None:
    """Severity routing of one custom-validation outcome
    (validator.py:313-322): failed condition -> error or warning by
    severity; evaluation exception -> warning."""
    if error is not None:
        result["warnings"][cv["name"]] = f"Erro na validação: {error}"
    elif not ok:
        if cv.get("severity", "error") == "error":
            result["valid"] = False
            result["errors"][cv["name"]] = cv["message"]
        else:
            result["warnings"][cv["name"]] = cv["message"]


def _coerce_numeric(v):
    """The one binding of a condition's fields (eval_condition_sql_batch,
    for a batch and a single record alike): strings via float(',','.'),
    numerics pass, everything else NULL. A NaN, e.g. from "nan", is NULL
    too."""
    if isinstance(v, str):
        try:
            v = float(v.replace(",", "."))
        except ValueError:
            return None
    if isinstance(v, bool) or not isinstance(v, (int, float)):
        return None
    v = float(v)
    return None if math.isnan(v) else v


_DUCK: tuple | None = None  # (pid, connection) of this process


def _duck_connection():
    """This process's DuckDB connection, opened on first use. Keyed by pid
    so a forked child never uses its parent's connection."""
    global _DUCK
    if _DUCK is None or _DUCK[0] != os.getpid():
        import duckdb

        _DUCK = (os.getpid(), duckdb.connect())
    return _DUCK[1]


def eval_condition_sql_batch(
    condition_sql: str, rows: list[dict], schema: ValidationSchema
) -> list[bool]:
    """The one custom-validation evaluator: bind the rows as one
    DuckDB-registered Arrow table (fields coerced by _coerce_numeric,
    missing -> NULL, so conditions use coalesce()) and evaluate the
    condition ONCE (ORDER BY a row index so output order is guaranteed);
    a NULL result is False. A single record is a one-row batch. Arrow,
    not pandas: registering a pandas frame costs ~2 ms more per call,
    which a one-row batch pays per record. The connection is the
    process's one (a connect + close per call costs as much as the query
    on a 1,250-row batch); the table is unregistered even if the
    condition fails."""
    import pyarrow as pa

    keys = set(schema.fields)
    for r in rows:
        keys |= set(r)
    cols = {
        k: pa.array([_coerce_numeric(r.get(k)) for r in rows], pa.float64())
        for k in sorted(keys)
    }
    cols["__rid"] = pa.array(range(len(rows)), pa.int64())
    con = _duck_connection()
    con.register("batch", pa.table(cols))
    try:
        out = con.execute(
            f"SELECT ({condition_sql}) FROM batch ORDER BY __rid"
        ).fetchall()
    finally:
        con.unregister("batch")
    return [bool(x[0]) for x in out]
