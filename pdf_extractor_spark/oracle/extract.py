"""Per-document oracle for the whole extract->classify->validate pipeline.

Given one row of the input table (doc_id, spans[]) and the broadcastable
config, produce exactly what the Spark job must produce for that row — the
ground truth for the span-sequence invariant (kind, text, media_ref, order)
from BASELINE.json, plus classification / fields / validation / meta.

Reference flow being modeled (SURVEY.md §3.2):
  * spans sorted by offset — the input stores them shuffled; order is never
    free (FIXTURES.md §1).
  * language detected from the first 3 text spans' concatenated text
    (3-page sample, extractor.py:56-70).
  * text spans normalized per language (language_detector.py:67-85);
    image/table spans pass through with media_ref intact.
  * classification text = normalized text spans joined with "\n"
    (document_classifier.py:61-82 re-expressed over spans, SURVEY.md §2.4).
  * classification, template fields and validation of that text by
    `classify_extract_validate`, the one per-document decision, which the
    Spark UDF (operators/validate.py) runs per row too: rule
    classification fused with the optional ML model's score (rules only
    by default); template auto-select when confidence > 0.5
    (batch_processor.py:42); template fields extracted from the joined
    text; validation against the doc-type schema.
"""

from __future__ import annotations

from datetime import datetime

from ..config import DocTypePattern, ValidationSchema
from .classifier import classify_by_ml, classify_by_rules, fuse_classification
from .language import detect_language, get_language_name, preprocess_for_language
from .template import extract_template_fields
from .validator import validate_data

AUTO_TEMPLATE_MIN_CONFIDENCE = 0.5  # batch_processor.py:42


def extract_document(
    doc_id: str,
    spans: list[dict],
    patterns: dict[str, DocTypePattern],
    templates: dict[str, dict] | None = None,
    schemas: dict[str, ValidationSchema] | None = None,
    model=None,
) -> dict:
    templates = templates or {}
    schemas = schemas or {}

    ordered = sorted(spans, key=lambda s: s["offset"])
    text_spans = [s for s in ordered if s["kind"] == "text"]

    sample_text = "\n".join(s["text"] or "" for s in text_spans[:3])
    lang = detect_language(sample_text)

    out_spans = []
    for order, s in enumerate(ordered):
        if s["kind"] == "text":
            out_spans.append(
                {
                    "kind": "text",
                    "text": preprocess_for_language(s["text"], lang),
                    "media_ref": None,
                    "offset": s["offset"],
                    "order": order,
                }
            )
        else:
            out_spans.append(
                {
                    "kind": s["kind"],
                    "text": None,
                    "media_ref": s["media_ref"],
                    "offset": s["offset"],
                    "order": order,
                }
            )

    all_text = "\n".join(
        s["text"] or "" for s in out_spans if s["kind"] == "text"
    )

    ml = (None, 0.0) if model is None else classify_by_ml([all_text], model)[0]
    doc_type, confidence, fields, validation, _schema = (
        classify_extract_validate(all_text, patterns, templates, schemas, ml=ml)
    )

    return {
        "doc_id": doc_id,
        "spans": out_spans,
        "doc_type": doc_type,
        "confidence": confidence,
        "fields": {
            k: _field_to_string(v) for k, v in fields.items()
        },
        "validation": validation,
        "meta": {
            "language": lang,
            "language_name": get_language_name(lang),
            "num_pages": len(text_spans),
            "extraction_method": "text",
        },
    }


def classify_extract_validate(
    text: str | None,
    patterns: dict[str, DocTypePattern],
    templates: dict[str, dict],
    schemas: dict[str, ValidationSchema],
    present: "frozenset[str] | None" = None,
    ml: tuple[str | None, float] = (None, 0.0),
    apply_custom: bool = True,
) -> tuple:
    """One document's decision (document_classifier.py:138-173,
    batch_processor.py:42) -> (doc_type, confidence, typed fields,
    validation or None, the schema validated against or None).

    Rule classification of `text` (`present`: its precomputed keyword
    presence, see keyword_presence_batch) is fused with the model's
    `ml` = (ml_type, ml_score). Above AUTO_TEMPLATE_MIN_CONFIDENCE, a
    doc type with a template gets its fields extracted from `text` and,
    if it has a `<doc_type>_schema`, validated. apply_custom=False leaves
    the schema's custom validations to the caller, which batches them
    with validator.apply_custom_validations."""
    doc_type, confidence = fuse_classification(
        *classify_by_rules(text, patterns, present=present), *ml
    )
    tpl = templates.get(doc_type)
    if tpl is None or text is None or confidence <= AUTO_TEMPLATE_MIN_CONFIDENCE:
        return doc_type, confidence, {}, None, None
    fields = extract_template_fields(text, tpl)
    schema = schemas.get(f"{doc_type}_schema")
    if schema is None:
        return doc_type, confidence, fields, None, None
    validation = validate_data(fields, schema, apply_custom=apply_custom)
    return doc_type, confidence, fields, validation, schema


def _field_to_string(v) -> str:
    """Canonical string form for the fields map (Spark column is
    map<string,string>): datetimes as ISO, floats via repr, str as-is."""
    if isinstance(v, datetime):
        return v.isoformat()
    if isinstance(v, float):
        return repr(v)
    return str(v)
