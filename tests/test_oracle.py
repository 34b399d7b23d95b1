"""Oracle parity with the reference's own unit-test assertions (SURVEY.md §5.2).

These are the executable semantics of the reference: if these pass, the
oracle IS the reference for the pure-logic surface, and the Spark tests that
diff against the oracle inherit that authority.
"""

from datetime import datetime

import pytest

from pdf_extractor_spark.config import (
    DocTypePattern,
    FieldSchema,
    ValidationSchema,
    load_patterns,
    load_schemas,
    load_templates,
)
from pdf_extractor_spark.oracle import (
    classify_by_rules,
    detect_language,
    extract_template_fields,
    fuse_classification,
    get_language_name,
    preprocess_for_language,
    validate_data,
    validate_field,
)

# --- language (tests/test_language_detector.py) ----------------------------


def test_short_text_unknown():
    assert detect_language("Hi") == "unknown"
    assert detect_language("") == "unknown"
    assert detect_language(None) == "unknown"
    assert detect_language("   a   ") == "unknown"


def test_language_name_lookup_and_passthrough():
    assert get_language_name("en") == "English"
    assert get_language_name("pt") == "Portuguese"
    assert get_language_name("unknown") == "Unknown"
    assert get_language_name("xx") == "xx"  # passthrough


def test_preprocess_whitespace_collapse():
    # tests/test_language_detector.py:37-39
    assert (
        preprocess_for_language("  This   is  a   text   with   extra   spaces.  ", "en")
        == "This is a text with extra spaces."
    )


def test_preprocess_cjk_preserved():
    # tests/test_language_detector.py:42-44 — CJK spacing kept (after strip)
    assert preprocess_for_language("这是  中文  文本", "zh") == "这是  中文  文本"


def test_preprocess_control_chars():
    # tests/test_language_detector.py:50-52
    assert (
        preprocess_for_language("Text with \x00 control \x1f characters", "en")
        == "Text with control characters"
    )


def test_preprocess_falsy_passthrough():
    assert preprocess_for_language("", "en") == ""
    assert preprocess_for_language(None, "en") is None


def test_detect_language_scripts():
    assert detect_language("这是中文文本，非常好。") == "zh"
    assert detect_language("これは日本語のテキストです") == "ja"
    assert detect_language("한국어 텍스트입니다 감사합니다") == "ko"
    assert detect_language("the report and the data of the market") == "en"
    assert detect_language("o relatório não contém os dados do período") == "pt"


# --- classifier (tests/test_document_classifier.py) ------------------------


@pytest.fixture(scope="module")
def patterns():
    return load_patterns()


def test_classify_invoice_fixture():
    # tests/test_document_classifier.py:58-64 — uses the test-minimal pattern
    # fixture (:27-37): 3 keywords, 2 regex patterns
    fixture_patterns = {
        "invoice": DocTypePattern(
            "invoice",
            keywords=("DANFE", "Nota Fiscal", "NF-e"),
            patterns=(r"NF-e nº\s*\d+", r"CNPJ:\s*\d{2}\.\d{3}\.\d{3}/\d{4}-\d{2}"),
        )
    }
    doc_type, score = classify_by_rules(
        "DANFE\nNF-e nº 123456\nCNPJ: 12.345.678/0001-90", fixture_patterns
    )
    assert doc_type == "invoice"
    assert score > 0.5
    assert abs(score - 6 / 7) < 1e-12  # 2 of 3 keywords + both patterns


def test_classify_invoice_full_production_patterns(patterns):
    # same text under the full conf/patterns set: still invoice, lower score
    doc_type, score = classify_by_rules(
        "DANFE\nNF-e nº 123456\nCNPJ: 12.345.678/0001-90", patterns
    )
    assert doc_type == "invoice"
    assert 0 < score < 0.5


def test_classify_no_match(patterns):
    # tests/test_document_classifier.py:67-71
    doc_type, score = classify_by_rules(
        "Este é um texto aleatório que não contém padrões específicos.", patterns
    )
    assert doc_type is None
    assert score == 0.0


def test_classify_empty(patterns):
    assert classify_by_rules("", patterns) == (None, 0.0)
    assert classify_by_rules(None, patterns) == (None, 0.0)


def test_classify_strictly_greater_argmax():
    # ties go to the FIRST doc type in iteration order (strictly-greater
    # comparison, document_classifier.py:111-113)
    pats = {
        "a": DocTypePattern("a", keywords=("alpha",)),
        "b": DocTypePattern("b", keywords=("alpha",)),
    }
    assert classify_by_rules("alpha beta", pats) == ("a", 1.0)


def test_keyword_weight_vs_pattern_weight():
    pats = {
        "t": DocTypePattern("t", keywords=("foo", "bar"), patterns=(r"baz\d+",))
    }
    # foo matched (1) + pattern matched (2) out of max 1+1+2=4
    assert classify_by_rules("foo baz42", pats) == ("t", 0.75)


def test_fusion_cascade():
    assert fuse_classification("inv", 0.7) == ("inv", 0.7)
    assert fuse_classification("inv", 0.5) == ("inv", 0.5)  # single >0
    assert fuse_classification(None, 0.0) == (None, 0.0)
    assert fuse_classification("inv", 0.5, "ml", 0.8) == ("ml", 0.8)  # ml>0.7
    assert fuse_classification("inv", 0.65, "ml", 0.6) == ("inv", 0.65)  # rule>0.6
    assert fuse_classification("inv", 0.4, "ml", 0.5) == ("ml", 0.5)  # both>0, max
    assert fuse_classification("inv", 0.5, "ml", 0.5) == ("inv", 0.5)  # tie -> rule
    assert fuse_classification(None, 0.0, "ml", 0.3) == ("ml", 0.3)


# --- validator (tests/test_validator.py) -----------------------------------


def test_validate_string():
    assert validate_field("Test String", "string") == (True, None)
    ok, err = validate_field(123, "string")
    assert not ok and err == "Valor deve ser uma string"


def test_validate_integer():
    assert validate_field(123, "integer") == (True, None)
    assert validate_field("123", "integer") == (True, None)
    ok, err = validate_field("abc", "integer")
    assert not ok and err == "Não é possível converter para inteiro"


def test_validate_email():
    assert validate_field("test@example.com", "email") == (True, None)
    ok, err = validate_field("invalid-email", "email")
    assert not ok and err == "Email inválido"


def test_validate_cpf():
    assert validate_field("123.456.789-09", "cpf") == (True, None)  # :56-59
    assert validate_field("111.111.111-11", "cpf") == (False, "CPF inválido")
    assert validate_field("123", "cpf") == (False, "CPF deve ter 11 dígitos")
    assert validate_field("123.456.789-00", "cpf") == (False, "CPF inválido")


def test_validate_cnpj():
    assert validate_field("12.345.678/0001-95", "cnpj") == (True, None)
    assert validate_field("12.345.678/0001-00", "cnpj") == (False, "CNPJ inválido")
    assert validate_field("12345", "cnpj") == (False, "CNPJ deve ter 14 dígitos")


def test_validate_decimal_comma():
    # '1.234,56'.replace(',', '.') -> '1.234.56' -> float() fails, matching
    # the reference exactly (validator.py:63-66); plain '1234,56' converts.
    assert validate_field("1.234,56", "decimal") == (
        False,
        "Não é possível converter para número",
    )
    assert validate_field("1234,56", "decimal") == (True, None)


def test_validate_date_fallback_formats():
    assert validate_field("2024-03-15", "date") == (True, None)
    assert validate_field("15/03/2024", "date") == (True, None)
    ok, err = validate_field("15.03.2024", "date")
    assert not ok and err == "Formato de data não reconhecido"


def test_validate_date_maxdate_shadowed_by_mindate():
    # replicated quirk: max_date ignored when min_date present (SURVEY §2.9)
    opts = {"min_date": "2020-01-01", "max_date": "2020-12-31"}
    assert validate_field("2025-06-01", "date", opts) == (True, None)
    ok, err = validate_field("2019-06-01", "date", opts)
    assert not ok and "anterior ao mínimo" in err
    # with only max_date it IS enforced
    ok, err = validate_field("2025-06-01", "date", {"max_date": "2020-12-31"})
    assert not ok and "posterior ao máximo" in err


def test_validate_boolean():
    for v in ("true", "yes", "sim", "1", "verdadeiro", "false", "não", "0"):
        assert validate_field(v, "boolean") == (True, None)
    ok, err = validate_field("maybe", "boolean")
    assert not ok


def test_validate_enum():
    assert validate_field("a", "enum", {"values": ["a", "b"]}) == (True, None)
    ok, err = validate_field("c", "enum", {"values": ["a", "b"]})
    assert not ok


def test_validate_unknown_type():
    ok, err = validate_field("x", "wat")
    assert not ok and err == "Tipo de campo desconhecido: wat"


def test_validate_data_required_and_severity():
    # mirror tests/test_validator.py:72-83: required+type failures in errors,
    # non-required email failure in warnings
    schema = ValidationSchema(
        name="test_schema",
        strict=False,
        fields={
            "name": FieldSchema(type="string", required=True),
            "age": FieldSchema(type="integer", required=True),
            "email": FieldSchema(type="email", required=False, severity="warning"),
        },
    )
    result = validate_data({"age": "thirty", "email": "not-an-email"}, schema)
    assert result["valid"] is False
    assert result["errors"]["name"] == "Campo obrigatório não preenchido"
    assert result["errors"]["age"] == "Não é possível converter para inteiro"
    assert result["warnings"]["email"] == "Email inválido"


def test_validate_data_strict_unknown_field_warning():
    schema = ValidationSchema(
        name="s", strict=True, fields={"a": FieldSchema(type="string")}
    )
    result = validate_data({"a": "x", "mystery": "y"}, schema)
    assert result["valid"] is True
    assert result["warnings"]["mystery"] == "Campo não definido no esquema"


def test_validate_data_custom_validation_sql():
    schemas = load_schemas()
    schema = schemas["invoice_schema"]
    ok_data = {
        "invoice_number": "42",
        "issue_date": datetime(2024, 3, 15),
        "total_value": 1234.56,
        "issuer_name": "ACME Ltda",
        "issuer_document": "12.345.678/0001-95",
        "tax_value": 1000.0,
        "discount_value": 200.0,
        "shipping_value": 34.56,
    }
    result = validate_data(ok_data, schema)
    assert result["valid"] is True
    assert "total_consistency" not in result["warnings"]

    bad = dict(ok_data, shipping_value=999.0)
    result = validate_data(bad, schema)
    assert result["warnings"]["total_consistency"] == (
        "Component values do not add up to the total"
    )
    assert result["valid"] is True  # severity=warning


@pytest.mark.parametrize("total", ["nan", "NaN"])
def test_custom_validation_nan_field_same_per_row_and_batch(total):
    """A NaN field binds as NULL for one record exactly as in a batch (the
    fused UDF's path): coalesce(total_value, 0) reads 0, so the all-absent
    components add up and total_consistency holds, even when another row
    of the batch fails it."""
    from pdf_extractor_spark.oracle.validator import eval_condition_sql_batch

    schema = load_schemas()["invoice_schema"]
    cv = next(
        c for c in schema.custom_validations if c["name"] == "total_consistency"
    )
    row = {"total_value": total}
    batch = eval_condition_sql_batch(
        cv["condition_sql"], [row, {"total_value": 5.0}], schema
    )
    assert batch == [True, False]
    assert "total_consistency" not in validate_data(row, schema)["warnings"]


# --- template extraction (extractor.py:249-272) -----------------------------


def test_template_field_extraction():
    templates = load_templates()
    tpl = templates["invoice"]
    text = (
        "NF-e nº 42\nDATA DE EMISSÃO: 15/03/2024\n"
        "VALOR TOTAL DA NOTA: 1.234,56\nEMITENTE: ACME Ltda\n"
        "CNPJ: 12.345.678/0001-95\n"
        "Chave de Acesso: 12345678901234567890123456789012345678901234"
    )
    fields = extract_template_fields(text, tpl)
    assert fields["invoice_number"] == "42"
    assert fields["issue_date"] == datetime(2024, 3, 15)
    # '1.234,56' -> '1.234.56' -> float() FAILS -> raw string kept
    # (reference extractor.py:266-270 swallows the ValueError)
    assert fields["total_value"] == "1.234,56"
    assert fields["issuer_name"] == "ACME Ltda"
    assert fields["issuer_document"] == "12.345.678/0001-95"
    assert fields["access_key"] == "1234567890123456789012345678901234567890" "1234"
    assert "tax_value" not in fields  # absent when no match


def test_template_group0_when_no_groups():
    fields = extract_template_fields(
        "see DANFE here", {"fields": {"marker": {"regex": "DANFE"}}}
    )
    assert fields["marker"] == "DANFE"


def test_custom_validation_batch_falls_back_to_rows():
    """One row whose condition raises fails the batch query; each row then
    runs as a one-row batch, so only that row gets the exception warning
    and the others keep their own outcomes — the same results
    validate_data gives each row on its own."""
    from pdf_extractor_spark.oracle.validator import apply_custom_validations

    schema = ValidationSchema(
        name="s",
        fields={"n": FieldSchema(type="number")},
        custom_validations=(
            {
                "name": "fits",
                "condition_sql": "CAST(n AS INTEGER) > 0",
                "message": "not positive",
                "severity": "error",
            },
        ),
    )
    rows = [{"n": 1.0}, {"n": 1e20}, {"n": -3.0}]
    results = [validate_data(r, schema, apply_custom=False) for r in rows]
    apply_custom_validations(schema, rows, results)
    assert results == [validate_data(r, schema) for r in rows]
    assert results[0] == {"valid": True, "errors": {}, "warnings": {}}
    assert results[1]["warnings"]["fits"].startswith("Erro na validação: ")
    assert results[2]["errors"] == {"fits": "not positive"}
