"""Ad-hoc query layer: view naming, aliases, `db` queries and export
(⇄ reference src/shelf/__init__.py:285-489).

Every built table is exposed as a Spark temp view:
- **full name**: the step path with ``/`` → ``_``, ``-`` dropped,
  extension stripped (reference `_path_to_snake`, __init__.py:434-445);
- **short alias**: the shortest unique path suffix, preferring the
  unversioned form (``prices`` over ``prices_20240726``); conflicts
  extend leftward (reference `_table_aliases`, __init__.py:447-489).

Single-token query sugar: a query with no whitespace is shorthand for
``SELECT * FROM <token>`` (reference __init__.py:389-391).

Views and export read each table through :func:`tables.read_table`, the
one reader, with the schema recorded at build.
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

from . import paths
from .core import Shelf
from .exceptions import StepDefinitionError
from .tables import read_table


def path_to_snake(path: str) -> str:
    """``ns/some-ds/2024-07-26`` → ``ns_someds_20240726``."""
    return path.replace("-", "").replace("/", "_").removesuffix(".parquet")


def _suffix_names(path: str) -> list[str]:
    """Candidate aliases: shortest path suffix first, then longer; each in
    unversioned form first, versioned second."""
    parts = path.split("/")
    version = parts[-1]
    dataset_parts = parts[:-1]
    out: list[str] = []
    for i in range(len(dataset_parts) - 1, -1, -1):
        base = "_".join(p.replace("-", "") for p in dataset_parts[i:])
        out.append(base)
        out.append(f"{base}_{version.replace('-', '')}")
    return out


def table_aliases(tables: list[str]) -> dict[str, str]:
    """alias → full snake name for every table path; each table gets its
    shortest candidate that no *other* table's candidate set claims."""
    cands = {t: _suffix_names(t) for t in tables}
    taken: dict[str, int] = {}
    for t, names in cands.items():
        for n in names:
            taken[n] = taken.get(n, 0) + 1
    aliases: dict[str, str] = {}
    for t, names in cands.items():
        full = path_to_snake(t)
        for n in names:
            if taken[n] == 1:
                if n != full:
                    aliases[n] = full
                break
    return aliases


def read_built_tables(spark: SparkSession, shelf: Shelf) -> dict[str, DataFrame]:
    """:func:`read_table` of every table step whose output exists, by path.
    One whose sidecar is missing or records no schema (its build stopped
    between writing the output and the sidecar) is left out with a note on
    stderr, so it fails no query of the others."""
    reads = {}
    for uri in sorted(u for u in shelf.steps if u.scheme == "table"):
        if paths.table_data_path(uri.path).exists():
            try:
                reads[uri.path] = read_table(spark, uri)
            except StepDefinitionError as e:
                print(f"skipping {uri.path}: {e}", file=sys.stderr)
    return reads


def register_shelf_views(
    spark: SparkSession, shelf: Shelf, names: str = "both"
) -> dict[str, str]:
    """Create a temp view per built table (+ alias views per policy).
    Returns {view_name: table_path}."""
    # one read per table; alias views share the full-name view's DataFrame
    reads = {path_to_snake(t): (t, df) for t, df in read_built_tables(spark, shelf).items()}
    named = dict(reads) if names in ("full", "both") else {}
    if names in ("short", "both"):
        aliases = table_aliases([t for t, _ in reads.values()])
        named.update({alias: reads[full] for alias, full in aliases.items()})
    views: dict[str, str] = {}
    for view, (t, df) in named.items():
        df.createOrReplaceTempView(view)
        views[view] = t
    return views


def execute_query(
    spark: SparkSession,
    shelf: Shelf,
    query: str,
    names: str = "both",
    csv: bool = False,
    out=None,
) -> DataFrame:
    """Run SQL over the shelf's tables; emit JSON records (default) or CSV
    (reference execute_query, __init__.py:364-400)."""
    if out is None:
        out = sys.stdout  # bind at call time (pytest capsys swaps stdout)
    register_shelf_views(spark, shelf, names)
    if not any(ch.isspace() for ch in query.strip()):
        query = f"SELECT * FROM {query.strip()}"
    df = spark.sql(query)
    rows = df.toPandas()
    if csv:
        out.write(rows.to_csv(index=False))
    else:
        out.write(json.dumps(json.loads(rows.to_json(orient="records")), indent=2))
        out.write("\n")
    return df


def export_tables(
    spark: SparkSession, shelf: Shelf, dest: Path, short_names: bool = False
) -> list[str]:
    """Export every built table into a DuckDB database file (reference
    `export-duckdb`, __init__.py:285-312). Each table reaches DuckDB as
    ``read_table(...).toArrow()``, with its recorded types: the driver
    holds one whole table at a time, where reading the files would stream.
    Timestamps go naive (UTC values), so DuckDB makes them ``TIMESTAMP``
    as a read of Spark's files would, not ``TIMESTAMP WITH TIME ZONE``."""
    import duckdb
    from pyspark.sql.pandas.types import to_arrow_schema

    exported = []
    reads = read_built_tables(spark, shelf)
    aliases = {full: alias for alias, full in table_aliases(list(reads)).items()}
    with duckdb.connect(str(dest)) as con:
        for t, df in reads.items():
            name = path_to_snake(t)
            if short_names and name in aliases:
                name = aliases[name]
            con.register("_shelf_export", df.toArrow().cast(to_arrow_schema(df.schema, timestamp_utc=False)))
            con.execute(f'CREATE OR REPLACE TABLE "{name}" AS SELECT * FROM _shelf_export')
            con.unregister("_shelf_export")
            exported.append(name)
    return exported
