"""Table builds: SQL steps on Spark SQL, Python steps as subprocesses
(⇄ reference src/shelf/tables.py).

The step-authoring contract:

- **SQL step** ``src/steps/tables/<path>.sql``: each dependency is
  registered as a *temp view* under its simplified name and the template
  variable ``{name}`` substitutes the view name (the reference substitutes
  a file path DuckDB reads as a table — same surface, different binding;
  documented divergence, SURVEY §7.3). The SELECT's result is written as
  the table's Parquet output by the engine.
- **Python step** ``src/steps/tables/<path>.py``: executed as
  ``python script dep_path... output_path`` — byte-compatible with the
  reference's argv contract (tables.py:142-152), so existing scripts run
  unchanged. The script writes the Parquet itself.

Script lookup tries the full step path first, then the dataset path
without the version segment (reference table_metadata.py:207-224), so one
script can serve every version of a dataset.

Output layout note (SURVEY §7.3): Spark writes a *directory* of part
files. The output checksum is therefore a **canonical logical checksum**
— order-insensitive over rows + schema — not a byte hash; see
:func:`logical_checksum`. Its per-row term (:func:`_row_hash`) is two
native ``xxhash64`` values over the columns and their null flags, summed
exactly; incremental steps fingerprint dep partitions with the same term.

Every later read of a built table goes through :func:`read_table`, with
the schema decided once at build and recorded exactly in the sidecar
(``schema_json``): no read re-infers partition types or reads a footer.
"""

from __future__ import annotations

import datetime as dt
import json
import subprocess
import sys
import time
from pathlib import Path

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, MapType, StructType

from ..optimize import write_bucketed
from . import paths
from .exceptions import StepDefinitionError
from .snapshots import Snapshot
from .types import StepURI
from .utils import load_yaml
from .table_metadata import TableMetadata, generate_input_manifest, load_config

# ---------------------------------------------------------------------------
# Paths & script discovery
# ---------------------------------------------------------------------------


def dependency_data_path(uri: StepURI) -> Path:
    if uri.scheme == "snapshot":
        return Snapshot.load(uri).data_path
    return paths.table_data_path(uri.path)


def find_script(uri: StepURI) -> Path:
    """``<path>.py|.sql`` else ``<dataset_path>.py|.sql`` (version-generic)."""
    for base in (
        paths.TABLE_SCRIPTS_DIR / uri.path,
        paths.TABLE_SCRIPTS_DIR / uri.dataset_path,
    ):
        for suffix in (".py", ".sql"):
            cand = base.with_suffix(suffix)
            if cand.exists():
                return cand
    raise StepDefinitionError(f"no build script found for {uri}")


# ---------------------------------------------------------------------------
# Dependency name simplification (⇄ reference tables.py:184-225)
# ---------------------------------------------------------------------------


def _candidate_names(uri: StepURI) -> list[str]:
    """dataset name, then progressively namespace-qualified, then
    version-qualified as a final tiebreaker."""
    parts = uri.dataset_path.split("/")
    names = []
    name = parts[-1]
    names.append(name)
    for p in reversed(parts[:-1]):
        name = f"{p}_{name}"
        names.append(name)
    names.append(f"{name}_{uri.version.replace('-', '')}")
    return names


def simplify_dependency_names(deps: list[StepURI]) -> dict[str, StepURI]:
    """Map short template names → deps, extending colliding names leftward
    until unique (raises on irresolvable collisions, e.g. identical paths)."""
    if len(set(deps)) != len(deps):
        raise StepDefinitionError(f"duplicate dependencies: {deps}")
    level = {d: 0 for d in deps}
    cands = {d: _candidate_names(d) for d in deps}
    while True:
        frontier: dict[StepURI, str] = {
            d: cands[d][min(level[d], len(cands[d]) - 1)] for d in deps
        }
        counts: dict[str, int] = {}
        for name in frontier.values():
            counts[name] = counts.get(name, 0) + 1
        dups = {d for d, n in frontier.items() if counts[n] > 1}
        if not dups:
            return {name: d for d, name in frontier.items()}
        progressed = False
        for d in dups:
            if level[d] < len(cands[d]) - 1:
                level[d] += 1
                progressed = True
        if not progressed:
            raise StepDefinitionError(f"cannot disambiguate dependency names: {deps}")


# ---------------------------------------------------------------------------
# Canonical logical checksum (SURVEY §7.3 decision)
# ---------------------------------------------------------------------------


#: Leading argument of the second row-hash value, so that it hashes
#: from a different seed than the first.
_SALT = 0x5EED


def _row_hash(schema: StructType) -> tuple[Column, Column]:
    """The per-row term both content hashes below sum: two ``xxhash64``
    values (128 bits) of the row's columns and their null flags.

    ``xxhash64`` skips NULLs, so ``(NULL, 1.0)`` and ``(1.0, NULL)`` would
    hash equal without the flags. Inside arrays, structs and maps it also
    skips NULLs and hashes elements without their boundaries (and rejects
    maps outright), so nested columns are hashed as their ``to_json`` text;
    flat columns hash natively.

    A Spark upgrade that changes ``xxhash64`` changes every fingerprint:
    that costs one full rebuild, never a wrong skip."""
    cols = [
        F.to_json(F.col(f.name))
        if isinstance(f.dataType, (ArrayType, MapType, StructType))
        else F.col(f.name)
        for f in schema.fields
    ]
    nulls = F.array(*[F.col(f.name).isNull() for f in schema.fields])
    return F.xxhash64(nulls, *cols), F.xxhash64(F.lit(_SALT), nulls, *cols)


def _hash_sums(schema: StructType) -> list[Column]:
    """``s0``, ``s1``: each row-hash value summed in an exact decimal(38)
    (|term| < 2^63, so 10^19 rows fit); ``n``: the row count."""
    return [
        F.coalesce(F.sum(h.cast("decimal(38,0)")), F.lit(0)).alias(f"s{i}")
        for i, h in enumerate(_row_hash(schema))
    ] + [F.count("*").alias("n")]


def logical_checksum(df: DataFrame) -> str:
    """Order-insensitive content hash of a DataFrame + its schema.

    The schema DDL, the row count and the two exact sums of
    :func:`_row_hash` over all rows. Partition order and row order cannot
    affect it, so Spark's nondeterministic part-file layout doesn't break
    the Merkle dirty-check. One extra aggregate job per build —
    distributed, no driver materialization.
    """
    import hashlib

    agg = df.agg(*_hash_sums(df.schema)).collect()[0]
    basis = f"{df.schema.simpleString()}|{agg['n']}|{agg['s0']}|{agg['s1']}"
    return hashlib.sha256(basis.encode()).hexdigest()


# ---------------------------------------------------------------------------
# Freshness (⇄ reference tables.py:21-48)
# ---------------------------------------------------------------------------


def is_completed(uri: StepURI, deps: list[StepURI]) -> bool:
    """Output + sidecar exist and every input_manifest entry rechecksums
    identically (script, config, dep sidecars — the Merkle edge set)."""
    out = paths.table_data_path(uri.path)
    meta = paths.table_metadata_path(uri.path)
    if not out.exists() or not meta.exists():
        return False
    try:
        doc = load_yaml(meta) or {}
        current = generate_input_manifest(uri, deps)
    except Exception:
        return False
    # a sidecar without the exact schema cannot serve reads: rebuild once
    return "schema_json" in doc and doc.get("input_manifest", {}) == current


# ---------------------------------------------------------------------------
# Build (⇄ reference tables.py:51-181)
# ---------------------------------------------------------------------------


def build_table(spark: SparkSession, uri: StepURI, deps: list[StepURI]) -> None:
    # Resolve to absolute: the Spark JVM's working directory does not follow
    # Python's os.chdir, so relative paths would resolve against the wrong dir.
    out = paths.table_data_path(uri.path).resolve()
    out.parent.mkdir(parents=True, exist_ok=True)
    script = find_script(uri)

    started = dt.datetime.now(dt.timezone.utc)
    t0 = time.monotonic()
    if script.suffix == ".sql":
        schema, partition_state, fingerprint_s = _exec_sql_step(spark, uri, script, deps, out)
    else:
        _exec_python_step(script, deps, out)
        schema, partition_state, fingerprint_s = None, None, None
    if not out.exists():
        raise StepDefinitionError(f"step produced no output at {out}")
    if schema is None:  # a script's output has no plan: its one inference
        schema = _read_any(spark, out).schema

    df = read_table(spark, uri, schema)
    t1 = time.monotonic()
    meta = TableMetadata.for_step(uri, deps)
    result = meta.validate_df(df)
    if not result.ok:
        # failed validation unlinks the output so the step stays dirty
        import shutil

        shutil.rmtree(out, ignore_errors=True)
        out.unlink(missing_ok=True)
        spark.sql(f"DROP TABLE IF EXISTS {catalog_table_name(uri)}")
        raise StepDefinitionError(
            f"validation failed for {uri}:\n" + "\n".join(result.errors)
        )
    t2 = time.monotonic()
    checksum = logical_checksum(df)
    t3 = time.monotonic()
    # duration = write + fingerprint: the step itself and the re-read of
    # its output; validation and the checksum follow it
    runtime = {
        "started_at": started.isoformat(),
        "duration_seconds": round(t1 - t0, 3),
        "write_seconds": round(t1 - t0 - (fingerprint_s or 0.0), 3),
        "validate_seconds": round(t2 - t1, 3),
        "checksum_seconds": round(t3 - t2, 3),
        "spark_version": spark.version,
    }
    if fingerprint_s is not None:
        runtime["fingerprint_seconds"] = round(fingerprint_s, 3)
    meta.write_sidecar(uri, deps, df, checksum, runtime, partition_state=partition_state)


def catalog_table_name(uri: StepURI) -> str:
    """Session-catalog name for a table step's output (bucketed tables must
    live in the catalog — bucket metadata has no parquet representation)."""
    return "shelf_" + uri.path.replace("/", "_").replace("-", "_").replace(".", "_")


def read_table(spark: SparkSession, uri: StepURI, schema: StructType | None = None) -> DataFrame:
    """The one reader of a built table: its catalog entry when this session
    holds one (a bucketed step; a path read would drop the bucket layout),
    else its files read with ``schema`` or the schema its sidecar records.
    A given schema keeps partition types (``"007"`` stays a string) and
    submits no footer job; there is no inference fallback."""
    cname = catalog_table_name(uri)
    if spark.catalog.tableExists(cname):
        return spark.table(cname)
    if schema is None:
        meta = paths.table_metadata_path(uri.path)
        doc = (load_yaml(meta) or {}) if meta.exists() else {}
        if "schema_json" not in doc:
            raise StepDefinitionError(f"{uri} has no recorded schema; run it again")
        schema = StructType.fromJson(json.loads(doc["schema_json"]))
    # resolve(): the Spark JVM's cwd does not follow Python's os.chdir
    return spark.read.schema(schema).parquet(str(paths.table_data_path(uri.path).resolve()))


def _partition_fingerprints(df: DataFrame, part_col: str) -> dict[str, str]:
    """Order-insensitive content fingerprint per partition value,
    ``"s0|s1|n"``: the same exact row-hash sums as
    :func:`logical_checksum`, grouped by the partition column — one
    distributed aggregate over the dep, no driver materialization beyond
    |partitions| rows. A sidecar recorded by the earlier SHA-256 hash holds
    ``"sum|n"`` entries, which never equal these: its first run rebuilds
    every partition once."""
    rows = (
        df.groupBy(F.col(part_col).cast("string").alias("_p"))
        .agg(*_hash_sums(df.schema))
        .collect()
    )
    return {r["_p"]: f"{r['s0']}|{r['s1']}|{r['n']}" for r in rows}


def _exec_sql_step(
    spark: SparkSession, uri: StepURI, script: Path, deps: list[StepURI], out: Path
) -> tuple[StructType, dict[str, str] | None, float | None]:
    """Run a SQL step; returns the schema a read of its output has (the
    analysed SELECT's, partition column last), its partition state and the
    seconds spent fingerprinting deps (both None unless incremental)."""
    # Temp views are session-global, and the DAG executor builds steps
    # concurrently on one session: a view named only after the dep's
    # simplified name (dep_data) would be overwritten by a concurrent build
    # whose dep simplifies identically (a/data vs b/data, or two versions of
    # one dataset), silently feeding this step the wrong input. A per-build
    # random suffix makes each registration private; the template only ever
    # sees `{name}`, so scripts are unaffected. Views are dropped afterwards
    # so they can't leak into later ad-hoc queries.
    import uuid

    cfg = load_config(uri)
    bucketing = cfg.get("bucketing")
    incremental = cfg.get("incremental")
    if bucketing and incremental:
        raise StepDefinitionError(f"{uri}: bucketing and incremental are mutually exclusive")

    names = simplify_dependency_names(deps)
    build_id = uuid.uuid4().hex[:12]
    template_vars: dict[str, str] = {}
    partition_state: dict[str, str] | None = None
    fingerprint_s: float | None = None
    try:
        dep_dfs = {
            n: read_table(spark, d) if d.scheme == "table" else _read_any(spark, dependency_data_path(d))
            for n, d in names.items()
        }
        for name in names:
            view = f"dep_{name}_{build_id}"
            dep_dfs[name].createOrReplaceTempView(view)
            template_vars[name] = view
        sql = script.read_text().format(**template_vars)
        df = spark.sql(sql)
        schema = df.schema

        changed: list[str] | None = None  # None → full build, [] → none
        if incremental:
            # Partition-wise incremental rebuild (the dbt-style contract:
            # when deps are filtered to a set of partitions, the SELECT must
            # produce exactly those partitions' output rows). The engine
            # fingerprints every dep partition, diffs against the sidecar's
            # recorded state, narrows the dep views to changed partitions,
            # and dynamic-partition-overwrites only those directories. A
            # 100 TB table with one new day rebuilds one day. An edited
            # script or config, or a new output schema, builds in full.
            part_col = incremental["partition_by"]
            if part_col not in df.columns:
                raise StepDefinitionError(f"{uri}: incremental step output lacks partition column {part_col}")
            # a partitioned read puts the partition column last
            schema = StructType([f for f in schema.fields if f.name != part_col] + [schema[part_col]])
            partition_state = {}
            t0 = time.monotonic()
            for ddf in dep_dfs.values():
                if part_col in ddf.columns:
                    for k, v in _partition_fingerprints(ddf, part_col).items():
                        partition_state[k] = partition_state[k] + "+" + v if k in partition_state else v
            fingerprint_s = time.monotonic() - t0
            prior = _prior_partition_state(uri, out, schema)
            if prior:
                changed = sorted(k for k, v in partition_state.items() if prior.get(k) != v)
                removed = sorted(k for k in prior if k not in partition_state)
                import shutil

                for k in removed:  # partitions gone from every dep
                    shutil.rmtree(out / f"{part_col}={k}", ignore_errors=True)
                if not changed:
                    # nothing to rebuild; the SELECT was only analysed, no job
                    return schema, partition_state, fingerprint_s
                for name, ddf in dep_dfs.items():
                    if part_col in ddf.columns:
                        ddf.filter(
                            F.col(part_col).cast("string").isin(changed)
                        ).createOrReplaceTempView(template_vars[name])
                df = spark.sql(sql)
        # a catalog entry left by an earlier bucketed build would shadow
        # this output in read_table
        cname = catalog_table_name(uri)
        spark.sql(f"DROP TABLE IF EXISTS {cname}")
        if bucketing:
            # Bucketed output: hash-partitioned files + catalog metadata, so
            # downstream joins/aggs on the bucket keys plan with zero
            # exchanges (see shelf_spark/optimize.py for the sizing notes).
            # An explicit path keeps the data external at the step's normal
            # output location.
            write_bucketed(
                df, cname, bucketing["keys"], bucketing["num_buckets"],
                bucketing.get("sort"), path=str(out),
            )
        elif incremental:
            # per-write option — no session-wide conf mutation, so concurrent
            # non-incremental builds are unaffected; a full build replaces
            # every partition, also those its output no longer has
            writer = df.write.mode("overwrite").partitionBy(part_col)
            writer.option("partitionOverwriteMode", "dynamic" if changed else "static").parquet(str(out))
        else:
            df.write.mode("overwrite").parquet(str(out))
        return schema, partition_state, fingerprint_s
    finally:
        for view in template_vars.values():
            spark.catalog.dropTempView(view)


def _prior_partition_state(uri: StepURI, out: Path, schema: StructType) -> dict[str, str]:
    """The partition state the sidecar records, if it still describes the
    output: built by this script and config, with these column names and
    types (Parquet reads by name, and a read makes every field nullable, so
    order and nullability do not count). Else ``{}``, a full build: an
    edited SELECT over unchanged deps would keep its old rows, and an added
    or renamed column would read as NULL."""
    meta = paths.table_metadata_path(uri.path)
    doc = (load_yaml(meta) or {}) if out.exists() and meta.exists() else {}
    built = doc.get("input_manifest", {})
    same = all(built.get(k) == v for k, v in generate_input_manifest(uri, []).items())
    same = same and doc.get("schema") == {f.name: f.dataType.simpleString() for f in schema.fields}
    return doc.get("partition_state", {}) if same else {}


def _exec_python_step(script: Path, deps: list[StepURI], out: Path) -> None:
    # reference argv contract: script dep1 … depN out (tables.py:142-152)
    argv = [sys.executable, str(script.resolve())]
    argv += [str(dependency_data_path(d).resolve()) for d in deps]
    argv.append(str(out.resolve()))
    subprocess.run(argv, check=True)


def _read_any(spark: SparkSession, path: str | Path) -> DataFrame:
    """Snapshot deps and a Python step's output: parquet, orc, csv, json,
    else text, with schema inference."""
    path = Path(path).resolve()  # Spark JVM cwd does not follow Python os.chdir
    suffix = path.suffix.lower()
    if suffix == ".orc":
        return spark.read.orc(str(path))
    if suffix in {".parquet", ""} or path.is_dir():
        return spark.read.parquet(str(path))
    if suffix == ".csv":
        return spark.read.csv(str(path), header=True, inferSchema=True)
    if suffix in {".json", ".jsonl", ".ndjson"}:
        return spark.read.json(str(path))
    return spark.read.text(str(path))
