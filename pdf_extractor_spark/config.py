"""Config loading: classifier patterns, validation schemas, extraction templates.

Mirrors the reference's "drop a JSON file in a directory to add a doc type"
extensibility (document_classifier.py:31-48, validator.py:18-39) but loads on
the driver and ships to executors via broadcast / closure capture — config is
tiny, data is huge.

Custom validations: the reference ``eval()``s arbitrary Python conditions on
executors (validator.py:307-322, flagged unsafe there too). We require
conditions to be Spark-SQL expressions (``condition_sql``) validated at config
load; anything else is rejected (SURVEY.md §2.5).
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field

_CONF_DIR = os.path.join(os.path.dirname(__file__), "conf")


@dataclass(frozen=True)
class DocTypePattern:
    doc_type: str
    keywords: tuple[str, ...] = ()
    patterns: tuple[str, ...] = ()
    confidence_threshold: float = 0.6


@dataclass(frozen=True)
class FieldSchema:
    type: str
    required: bool = False
    severity: str = "error"
    description: str = ""
    options: dict = field(default_factory=dict)


@dataclass(frozen=True)
class ValidationSchema:
    name: str
    fields: dict[str, FieldSchema]
    strict: bool = False
    version: str = "1.0"
    description: str = ""
    custom_validations: tuple[dict, ...] = ()


def _load_json_dir(dirname: str) -> list[dict]:
    """Load every *.json in dirname (file-name order). Works both from a
    filesystem checkout and from inside the --py-files zip artifact
    (tools/make_package.py), where os.listdir would fail."""
    if os.path.isdir(dirname):
        out = []
        for fn in sorted(os.listdir(dirname)):
            if fn.endswith(".json"):
                with open(os.path.join(dirname, fn), encoding="utf-8") as f:
                    out.append(json.load(f))
        return out

    # zip import: resolve the conf subdir through the package reader
    from importlib import resources

    rel = os.path.relpath(dirname, os.path.dirname(__file__))
    node = resources.files(__package__)
    for part in rel.replace("\\", "/").split("/"):
        node = node / part
    return [
        json.loads(child.read_text(encoding="utf-8"))
        for child in sorted(node.iterdir(), key=lambda c: c.name)
        if child.name.endswith(".json")
    ]


def load_patterns(patterns_dir: str | None = None) -> dict[str, DocTypePattern]:
    """{doc_type: DocTypePattern}; dict insertion order = file-name order,
    which fixes argmax tie-breaking (first strictly-greater wins)."""
    patterns_dir = patterns_dir or os.path.join(_CONF_DIR, "patterns")
    out: dict[str, DocTypePattern] = {}
    for data in _load_json_dir(patterns_dir):
        doc_type = data.get("document_type")
        if not doc_type:
            continue
        out[doc_type] = DocTypePattern(
            doc_type=doc_type,
            keywords=tuple(data.get("keywords", ())),
            patterns=tuple(data.get("patterns", ())),
            confidence_threshold=float(data.get("confidence_threshold", 0.6)),
        )
    return out


def load_schemas(schema_dir: str | None = None) -> dict[str, ValidationSchema]:
    schema_dir = schema_dir or os.path.join(_CONF_DIR, "schemas")
    out: dict[str, ValidationSchema] = {}
    for data in _load_json_dir(schema_dir):
        fields = {
            name: FieldSchema(
                type=f.get("type", "string"),
                required=bool(f.get("required", False)),
                severity=f.get("severity", "error"),
                description=f.get("description", ""),
                options=f.get("options", {}) or {},
            )
            for name, f in data.get("fields", {}).items()
        }
        customs = []
        for cv in data.get("custom_validations", ()):
            if "condition_sql" not in cv:
                raise ValueError(
                    f"custom validation {cv.get('name')!r} must provide "
                    "condition_sql (a Spark SQL boolean expression); "
                    "arbitrary Python conditions are not supported"
                )
            customs.append(dict(cv))
        schema = ValidationSchema(
            name=data["name"],
            fields=fields,
            strict=bool(data.get("strict", False)),
            version=str(data.get("version", "1.0")),
            description=data.get("description", ""),
            custom_validations=tuple(customs),
        )
        out[schema.name] = schema
    return out


def load_templates(template_dir: str | None = None) -> dict[str, dict]:
    """{doc_type: template dict with 'fields' and optional 'tables'}."""
    template_dir = template_dir or os.path.join(_CONF_DIR, "templates")
    out: dict[str, dict] = {}
    for data in _load_json_dir(template_dir):
        doc_type = data.get("document_type")
        if doc_type:
            out[doc_type] = data
    return out
