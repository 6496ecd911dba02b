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

A SQL step sums that term during its write, through an ``Observation`` on
the DataFrame it writes, so its build re-reads nothing for the checksum.
An incremental step records the sums of each output partition in its
sidecar (``output_sums``); a refresh observes the sums of the partitions
it rewrites and adds them to the recorded ones. Its full build, and a
refresh with no usable record, re-sums the output once, grouped by
partition. A Python step's output is checksummed by a read.

Every later read of a built table goes through :func:`read_table`, with
the schema decided once at build and recorded exactly in the sidecar
(``schema_json``): no read re-infers partition types or reads a footer.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json
import shutil
import subprocess
import sys
import time
from pathlib import Path
from typing import NamedTuple

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, DataType, MapType, StructType

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


#: The directory name Spark writes a NULL or empty partition value to;
#: a read values it NULL.
_DEFAULT_PARTITION = "__HIVE_DEFAULT_PARTITION__"


def _part_key(c: Column) -> Column:
    """The key of a partition value: the value of the directory a
    partitioned write puts it in, ``cast(c AS string)``, with NULL and
    ``''`` (one directory) both named :data:`_DEFAULT_PARTITION`."""
    s = c.cast("string")
    return F.when(s != "", s).otherwise(F.lit(_DEFAULT_PARTITION))


def _as_read(c: Column, dtype: DataType) -> Column:
    """A partition value as a read of its directory sees it: its string
    form parsed back to ``dtype``, and NULL for the default partition
    (so a written ``''`` reads as NULL)."""
    s = c.cast("string")
    return F.when(s != "", s.cast(dtype))


def _row_hash(schema: StructType, part_col: str | None = None) -> tuple[Column, Column]:
    """The per-row term both content hashes below sum: two ``xxhash64``
    values (128 bits) of the row's columns and their null flags.
    ``part_col``, when given, is valued as a read of the partitioned
    write sees it (:func:`_as_read`).

    ``xxhash64`` skips NULLs, so ``(NULL, 1.0)`` and ``(1.0, NULL)`` would
    hash equal without the flags. Inside arrays, structs and maps it also
    skips NULLs and hashes elements without their boundaries (and rejects
    maps outright), so nested columns are hashed as their ``to_json`` text;
    flat columns hash natively.

    A Spark upgrade that changes ``xxhash64`` changes every fingerprint:
    that costs one full rebuild, never a wrong skip."""
    vals = [
        _as_read(F.col(f.name), f.dataType) if f.name == part_col else F.col(f.name)
        for f in schema.fields
    ]
    cols = [
        F.to_json(v) if isinstance(f.dataType, (ArrayType, MapType, StructType)) else v
        for f, v in zip(schema.fields, vals)
    ]
    nulls = F.array(*[v.isNull() for v in vals])
    return F.xxhash64(nulls, *cols), F.xxhash64(F.lit(_SALT), nulls, *cols)


def _hash_sums(
    schema: StructType, part_col: str | None = None, where: Column | None = None, suffix: str = ""
) -> list[Column]:
    """``s0``, ``s1``: each row-hash value summed in an exact decimal(38)
    (|term| < 2^63, so 10^19 rows fit); ``n``: the row count. With
    ``where``, over the rows it holds for; names end in ``suffix``."""
    terms = [h.cast("decimal(38,0)") for h in _row_hash(schema, part_col)] + [F.lit(1)]
    if where is not None:
        terms = [F.when(where, t) for t in terms]
    s0, s1, one = terms
    return [
        F.coalesce(F.sum(s0), F.lit(0)).alias(f"s0{suffix}"),
        F.coalesce(F.sum(s1), F.lit(0)).alias(f"s1{suffix}"),
        F.count(one).alias(f"n{suffix}"),
    ]


def _checksum(schema: StructType, s0, s1, n) -> str:
    """The table checksum: SHA-256 of the schema DDL, the row count and
    the two exact sums of :func:`_row_hash`. Every checksum a build
    records comes from here, whichever way its sums were taken."""
    basis = f"{schema.simpleString()}|{int(n)}|{int(s0)}|{int(s1)}"
    return hashlib.sha256(basis.encode()).hexdigest()


def _entry(s0, s1, n) -> str:
    """One partition's sums as recorded: ``"s0|s1|n"``. The sums are kept
    as Python ints: a ``Decimal`` in the default 28-digit context would
    round a 38-digit total."""
    return f"{int(s0)}|{int(s1)}|{int(n)}"


def _total(entries: dict[str, str]) -> tuple[int, int, int]:
    """``(s0, s1, n)`` of a table from its partitions' :func:`_entry` sums."""
    s0 = s1 = n = 0
    for e in entries.values():
        a, b, c = (int(x) for x in e.split("|"))
        s0, s1, n = s0 + a, s1 + b, n + c
    return s0, s1, n


def logical_checksum(df: DataFrame) -> str:
    """Order-insensitive content hash of a DataFrame + its schema
    (:func:`_checksum` of its :func:`_hash_sums`).

    Partition order and row order cannot affect it, so Spark's
    nondeterministic part-file layout doesn't break the Merkle
    dirty-check. One aggregate job over ``df``: builds call it only for a
    Python step's output, which has no write of ours to observe; a SQL
    step's sums come from its write (:func:`_exec_sql_step`).
    """
    agg = df.agg(*_hash_sums(df.schema)).collect()[0]
    return _checksum(df.schema, agg["s0"], agg["s1"], agg["n"])


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
    built = _exec_sql_step(spark, uri, script, deps, out) if script.suffix == ".sql" else None
    if built is None:
        _exec_python_step(script, deps, out)
    if not out.exists():
        raise StepDefinitionError(f"step produced no output at {out}")
    # a script's output has no plan: its one inference
    schema = built.schema if built else _read_any(spark, out).schema

    df = read_table(spark, uri, schema)
    t1 = time.monotonic()
    meta = TableMetadata.for_step(uri, deps)
    result = meta.validate_df(df)
    if not result.ok:
        # failed validation unlinks the output so the step stays dirty
        shutil.rmtree(out, ignore_errors=True)
        out.unlink(missing_ok=True)
        spark.sql(f"DROP TABLE IF EXISTS {catalog_table_name(uri)}")
        raise StepDefinitionError(
            f"validation failed for {uri}:\n" + "\n".join(result.errors)
        )
    t2 = time.monotonic()
    output_sums = built.output_sums if built else None
    if built is None:
        checksum = logical_checksum(df)
    elif built.part_col is None:
        checksum = _checksum(schema, *built.sums)
    else:
        if output_sums is None:  # no recorded sums to build on: one grouped read
            output_sums = _partition_fingerprints(df, built.part_col)
        checksum = _checksum(schema, *_total(output_sums))
    t3 = time.monotonic()
    fingerprint_s = built.fingerprint_s if built else None
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
    meta.write_sidecar(
        uri, deps, df, checksum, runtime,
        partition_state=built.partition_state if built else None, output_sums=output_sums,
    )


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
    """Order-insensitive content fingerprint per partition key
    (:func:`_part_key`), ``"s0|s1|n"``: the same exact row-hash sums as
    :func:`logical_checksum`, grouped by partition — one distributed
    aggregate, no driver materialization beyond |partitions| rows. Over a
    dep it keys the partition state; over an incremental step's output, its
    ``output_sums``. A sidecar recorded by the earlier SHA-256 hash holds
    ``"sum|n"`` entries, which never equal these: its first run rebuilds
    every partition once."""
    rows = (
        df.groupBy(_part_key(F.col(part_col)).alias("_p"))
        .agg(*_hash_sums(df.schema))
        .collect()
    )
    return {r["_p"]: _entry(r["s0"], r["s1"], r["n"]) for r in rows}


class _SqlOutput(NamedTuple):
    """What a SQL step's write leaves for its sidecar."""

    #: the schema a read of the output has (partition column last)
    schema: StructType
    #: ``(s0, s1, n)`` of a plain or bucketed output, observed in its write
    sums: tuple | None
    #: an incremental step's partition column, else None
    part_col: str | None
    #: an incremental step's :func:`_entry` sums per output partition;
    #: None when its build has none to build on and must re-sum the output
    output_sums: dict[str, str] | None
    partition_state: dict[str, str] | None
    #: seconds spent fingerprinting deps
    fingerprint_s: float | None


def _exec_sql_step(
    spark: SparkSession, uri: StepURI, script: Path, deps: list[StepURI], out: Path
) -> _SqlOutput:
    """Run a SQL step, summing its output's row hashes during the write."""
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
    obs = Observation()
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
            prior, prior_sums = _prior_partition_state(uri, out, schema)
            if prior:
                changed = sorted(k for k, v in partition_state.items() if prior.get(k) != v)
                removed = sorted(k for k in prior if k not in partition_state)
                for k in removed:  # partitions gone from every dep
                    _remove_partition(spark, out, part_col, k)
                kept = None if prior_sums is None else {
                    k: v for k, v in prior_sums.items() if k not in removed and k not in changed
                }
                if not changed:
                    # nothing to rebuild; the SELECT was only analysed, no job
                    return _SqlOutput(schema, None, part_col, kept, partition_state, fingerprint_s)
                key = _part_key(F.col(part_col))
                for name, ddf in dep_dfs.items():
                    if part_col in ddf.columns:
                        ddf.filter(key.isin(changed)).createOrReplaceTempView(template_vars[name])
                # the row count, and the sums of each changed partition
                df = spark.sql(sql).observe(obs, F.count(F.lit(1)).alias("n"), *[
                    c for i, k in enumerate(changed) for c in _hash_sums(schema, part_col, key == k, f"_{i}")
                ])
        else:
            df = df.observe(obs, *_hash_sums(schema))
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
        if not incremental:
            got = obs.get
            return _SqlOutput(schema, (got["s0"], got["s1"], got["n"]), None, None, None, None)
        if changed is None:  # a full build has no recorded sums to add to
            return _SqlOutput(schema, None, part_col, None, partition_state, fingerprint_s)
        got = obs.get
        rewritten = {}
        for i, k in enumerate(changed):
            if got[f"n_{i}"]:
                rewritten[k] = _entry(got[f"s0_{i}"], got[f"s1_{i}"], got[f"n_{i}"])
            else:  # a dynamic overwrite leaves the files of a partition it writes no row of
                _remove_partition(spark, out, part_col, k)
        if kept is not None and _total(rewritten)[2] == got["n"]:
            kept.update(rewritten)
        else:  # rows outside the changed partitions, or no recorded sums
            kept = None
        return _SqlOutput(schema, None, part_col, kept, partition_state, fingerprint_s)
    finally:
        for view in template_vars.values():
            spark.catalog.dropTempView(view)


def _remove_partition(spark: SparkSession, out: Path, part_col: str, key: str) -> None:
    """Remove the directory a partitioned write puts partition ``key`` in,
    named with Spark's escaping (a timestamp's ``:`` is ``%3A``)."""
    utils = spark._jvm.org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
    shutil.rmtree(out / utils.getPartitionPathString(part_col, key), ignore_errors=True)


def _prior_partition_state(
    uri: StepURI, out: Path, schema: StructType
) -> tuple[dict[str, str], dict[str, str] | None]:
    """The partition state and output sums the sidecar records, if it
    still describes the output: built by this script and config, with these
    column names and types (Parquet reads by name, and a read makes every
    field nullable, so order and nullability do not count). Else
    ``({}, None)``, a full build: an edited SELECT over unchanged deps would
    keep its old rows, and an added or renamed column would read as NULL.
    A sidecar written before ``output_sums`` existed gives None sums."""
    meta = paths.table_metadata_path(uri.path)
    doc = (load_yaml(meta) or {}) if out.exists() and meta.exists() else {}
    built = doc.get("input_manifest", {})
    same = all(built.get(k) == v for k, v in generate_input_manifest(uri, []).items())
    same = same and doc.get("schema") == {f.name: f.dataType.simpleString() for f in schema.fields}
    return (doc.get("partition_state", {}), doc.get("output_sums")) if same else ({}, None)


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
