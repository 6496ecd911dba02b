"""Table metadata sidecars: config, inheritance, validation, schema
inference (⇄ reference src/shelf/table_metadata.py).

Fixes shipped relative to the reference (SURVEY §1.2-§1.3):
- declared-schema validation uses ONE vocabulary (Spark DDL simpleString)
  for both declaration and inference, so it can actually pass;
- the ``dim_`` column-prefix rule and its ``require_dimension_prefix``
  config flag are enforced for real (the reference's check was dead code).
"""

from __future__ import annotations

import datetime as dt
from dataclasses import dataclass, field
from pathlib import Path
from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import paths
from .exceptions import StepDefinitionError
from .schemas import validate
from .types import Manifest, StepURI
from .utils import checksum_file, load_yaml, save_yaml

#: provenance fields that flow through inheritance (reference
#: table_metadata.py:56-94)
INHERITED_FIELDS = (
    "name",
    "description",
    "source_name",
    "source_url",
    "access_notes",
    "license",
    "license_url",
)


@dataclass
class ValidationResult:
    errors: list[str] = field(default_factory=list)

    @property
    def ok(self) -> bool:
        return not self.errors


def _script_base(uri: StepURI) -> Path | None:
    from .tables import find_script  # local import: avoid cycle

    try:
        return find_script(uri)
    except StepDefinitionError:
        return None


def load_config(uri: StepURI) -> dict[str, Any]:
    """Optional ``<script>.meta.yaml`` config next to the build script."""
    script = _script_base(uri)
    if script is None:
        return {}
    cfg_path = script.with_suffix(".meta.yaml")
    if not cfg_path.exists():
        return {}
    doc = load_yaml(cfg_path) or {}
    validate(doc, "table-config")
    return doc


def generate_input_manifest(uri: StepURI, deps: list[StepURI]) -> Manifest:
    """The Merkle edge set: script + optional config + each dep's sidecar.

    A dep's sidecar contains the dep's own data checksum, which gives
    transitivity: any upstream change ripples into this manifest
    (reference table_metadata.py:158-177).
    """
    manifest: Manifest = {}
    script = _script_base(uri)
    if script is not None:
        manifest[str(script)] = checksum_file(script)
        cfg = script.with_suffix(".meta.yaml")
        if cfg.exists():
            manifest[str(cfg)] = checksum_file(cfg)
    for dep in deps:
        sidecar = paths.metadata_path(dep)
        manifest[str(sidecar)] = checksum_file(sidecar)
    return manifest


@dataclass
class TableMetadata:
    config: dict[str, Any] = field(default_factory=dict)
    provenance: dict[str, Any] = field(default_factory=dict)

    # -- construction --------------------------------------------------------

    @classmethod
    def for_step(cls, uri: StepURI, deps: list[StepURI]) -> "TableMetadata":
        cfg = load_config(uri)
        meta = cls(config=cfg)
        meta.provenance = meta._resolve_inheritance(uri, deps)
        meta.provenance.update(cfg.get("override", {}))
        return meta

    def _resolve_inheritance(self, uri: StepURI, deps: list[StepURI]) -> dict[str, Any]:
        """Single-dep tables inherit provenance by default; multi-dep
        requires an explicit ``inherit:`` naming one of the deps
        (reference table_metadata.py:56-94). ``deps`` are resolved, so an
        ``inherit:`` naming a ``latest`` version matches the dep with the
        same scheme and dataset path."""
        source: StepURI | None = None
        if "inherit" in self.config:
            declared = StepURI.parse(self.config["inherit"])
            if declared.version == "latest":
                same = (declared.scheme, declared.dataset_path)
                matches = [d for d in deps if (d.scheme, d.dataset_path) == same]
            else:
                matches = [d for d in deps if d == declared]
            if not matches:
                raise StepDefinitionError(
                    f"{uri} declares inherit from non-dependency {declared}"
                )
            source = max(matches)
        elif len(deps) == 1:
            source = deps[0]
        if source is None:
            return {}
        sidecar = paths.metadata_path(source)
        if not sidecar.exists():
            return {}
        doc = load_yaml(sidecar) or {}
        return {k: doc[k] for k in INHERITED_FIELDS if k in doc}

    # -- validation (⇄ reference table_metadata.py:96-128, fixed) -----------

    def validate_df(self, df: DataFrame) -> ValidationResult:
        res = ValidationResult()
        cfg = self.config
        actual_types = {f.name: f.dataType.simpleString() for f in df.schema.fields}

        declared = cfg.get("schema") or {}
        for col, dtype in declared.items():
            if col not in actual_types:
                res.errors.append(f"declared column missing: {col}")
            elif actual_types[col] != dtype:
                res.errors.append(
                    f"column {col}: declared {dtype}, inferred {actual_types[col]}"
                )

        v = cfg.get("validation") or {}
        for col in v.get("required_columns", []):
            if col not in actual_types:
                res.errors.append(f"required column missing: {col}")

        check_unique = [c for c in v.get("unique_columns", []) if c in actual_types]
        check_notnull = [c for c in v.get("not_null", []) if c in actual_types]
        if check_unique or check_notnull:
            # one distributed pass for every column check
            aggs = [F.count("*").alias("__n")]
            for c in check_unique:
                aggs.append(F.countDistinct(c).alias(f"__u_{c}"))
            for c in check_notnull:
                aggs.append(F.sum(F.col(c).isNull().cast("long")).alias(f"__z_{c}"))
            row = df.agg(*aggs).collect()[0]
            for c in check_unique:
                if row[f"__u_{c}"] != row["__n"]:
                    res.errors.append(f"column {c} is not unique")
            for c in check_notnull:
                if row[f"__z_{c}"] > 0:
                    res.errors.append(f"column {c} has {row[f'__z_{c}']} nulls")

        # dim_ prefix rule, enforced for real (SURVEY §1.3)
        if cfg.get("require_dimension_prefix", False):
            bad = [
                c
                for c, t in actual_types.items()
                if t == "string" and not c.startswith("dim_")
            ]
            if bad:
                res.errors.append(
                    f"string dimension columns must be dim_-prefixed: {sorted(bad)}"
                )
        return res

    # -- sidecar generation (⇄ reference table_metadata.py:130-156) ---------

    def write_sidecar(
        self,
        uri: StepURI,
        deps: list[StepURI],
        df: DataFrame,
        checksum: str,
        runtime: dict[str, Any],
        partition_state: dict[str, str] | None = None,
        output_sums: dict[str, str] | None = None,
    ) -> None:
        doc: dict[str, Any] = {
            "uri": str(uri),
            "version": 1,
            "checksum": checksum,
            "input_manifest": dict(sorted(generate_input_manifest(uri, deps).items())),
            "schema": {f.name: f.dataType.simpleString() for f in df.schema.fields},
            # exact, for read_table: simpleString does not parse back (a
            # nested field named ``a b`` or ``c:d``)
            "schema_json": df.schema.json(),
            "execution": runtime,
        }
        if partition_state is not None:
            doc["partition_state"] = dict(sorted(partition_state.items()))
        if output_sums is not None:
            doc["output_sums"] = dict(sorted(output_sums.items()))
        for k in INHERITED_FIELDS:
            if k in self.provenance:
                doc[k] = self.provenance[k]
        doc.setdefault("date_accessed", dt.date.today().isoformat())
        validate(doc, "table")
        save_yaml(doc, paths.table_metadata_path(uri.path))
