"""JSON-schema validation of every YAML artifact (⇄ reference
src/shelf/schemas.py + schemas/*.json).

Schemas live as Python dicts (they are data; inlining avoids resource
loading). Differences from the reference, both deliberate:
- the type vocabulary is Spark DDL ``simpleString`` names used for BOTH
  declaration and inference (fixes the declared-vs-inferred mismatch the
  reference shipped with, SURVEY §1.2);
- shelf-v1 table deps accept Parquet only, matching the implementation
  (the reference schema advertised jsonl/csv/feather it never supported).
"""

from __future__ import annotations

from typing import Any

import jsonschema

from .exceptions import ValidationError

_URI = r"^(snapshot|table)://[A-Za-z0-9_./-]+$"
_SHA = r"^[0-9a-f]{64}$"


_PROVENANCE_FIELDS: dict[str, Any] = {
    "name": {"type": "string"},
    "description": {"type": "string"},
    "source_name": {"type": "string"},
    "source_url": {"type": "string"},
    "date_accessed": {"type": "string"},
    "access_notes": {"type": "string"},
    "license": {"type": "string"},
    "license_url": {"type": "string"},
}

SHELF_SCHEMA: dict[str, Any] = {
    "type": "object",
    "required": ["version", "steps"],
    "properties": {
        "version": {"const": 1},
        "data_dir": {"type": "string"},
        "steps": {
            "type": "object",
            "patternProperties": {_URI: {"type": "array", "items": {"type": "string", "pattern": _URI}}},
            "additionalProperties": False,
        },
    },
    "additionalProperties": False,
}

SNAPSHOT_SCHEMA: dict[str, Any] = {
    "type": "object",
    "required": ["uri", "version", "checksum"],
    "properties": {
        "uri": {"type": "string", "pattern": "^snapshot://"},
        "version": {"const": 1},
        "checksum": {"type": "string", "pattern": _SHA},
        "snapshot_type": {"enum": ["file", "directory"]},
        "extension": {"type": "string"},
        "manifest": {
            "type": "object",
            "additionalProperties": {"type": "string", "pattern": _SHA},
        },
        **_PROVENANCE_FIELDS,
    },
    "additionalProperties": False,
}

TABLE_SCHEMA: dict[str, Any] = {
    "type": "object",
    "required": ["uri", "version", "checksum", "input_manifest", "schema_json"],
    "properties": {
        "uri": {"type": "string", "pattern": "^table://"},
        "version": {"const": 1},
        "checksum": {"type": "string", "pattern": _SHA},
        "input_manifest": {
            "type": "object",
            "additionalProperties": {"type": "string", "pattern": _SHA},
        },
        "schema": {"type": "object", "additionalProperties": {"type": "string"}},
        "schema_json": {"type": "string"},
        "execution": {
            "type": "object",
            "properties": {
                "started_at": {"type": "string"},
                "duration_seconds": {"type": "number"},
                "write_seconds": {"type": "number"},
                "validate_seconds": {"type": "number"},
                "checksum_seconds": {"type": "number"},
                "fingerprint_seconds": {"type": "number"},
                "spark_version": {"type": "string"},
            },
        },
        "partition_state": {
            "type": "object",
            "additionalProperties": {"type": "string"},
        },
        # an incremental step's exact row-hash sums per output partition
        "output_sums": {
            "type": "object",
            "additionalProperties": {"type": "string", "pattern": r"^-?[0-9]+\|-?[0-9]+\|[0-9]+$"},
        },
        **_PROVENANCE_FIELDS,
    },
    "additionalProperties": False,
}

TABLE_CONFIG_SCHEMA: dict[str, Any] = {
    "type": "object",
    "properties": {
        "version": {"const": 1},
        "inherit": {"type": "string", "pattern": _URI},
        "override": {
            "type": "object",
            "properties": _PROVENANCE_FIELDS,
            "additionalProperties": False,
        },
        "schema": {"type": "object", "additionalProperties": {"type": "string"}},
        "validation": {
            "type": "object",
            "properties": {
                "required_columns": {"type": "array", "items": {"type": "string"}},
                "unique_columns": {"type": "array", "items": {"type": "string"}},
                "not_null": {"type": "array", "items": {"type": "string"}},
            },
            "additionalProperties": False,
        },
        "require_dimension_prefix": {"type": "boolean"},
        "bucketing": {
            "type": "object",
            "properties": {
                "keys": {"type": "array", "items": {"type": "string"}, "minItems": 1},
                "num_buckets": {"type": "integer", "minimum": 1},
                "sort": {"type": "array", "items": {"type": "string"}},
            },
            "required": ["keys", "num_buckets"],
            "additionalProperties": False,
        },
        "incremental": {
            "type": "object",
            "properties": {"partition_by": {"type": "string"}},
            "required": ["partition_by"],
            "additionalProperties": False,
        },
    },
    "additionalProperties": False,
}

_BY_KIND = {
    "shelf": SHELF_SCHEMA,
    "snapshot": SNAPSHOT_SCHEMA,
    "table": TABLE_SCHEMA,
    "table-config": TABLE_CONFIG_SCHEMA,
}


def _validator(schema: dict[str, Any]) -> jsonschema.protocols.Validator:
    cls = jsonschema.validators.validator_for(schema)
    cls.check_schema(schema)
    return cls(schema)


#: one validator per kind: ``jsonschema.validate`` would check the schema
#: against its meta-schema again on every call
_VALIDATORS = {kind: _validator(schema) for kind, schema in _BY_KIND.items()}


def validate(doc: Any, kind: str) -> None:
    """Validate a YAML document against its schema; raise ValidationError
    with the error ``jsonschema.validate`` would raise."""
    error = jsonschema.exceptions.best_match(_VALIDATORS[kind].iter_errors(doc))
    if error is not None:
        raise ValidationError(f"invalid {kind} document: {error.message}") from error
