"""The query layer's table reads: one Parquet footer read gives the schema
Spark would infer, so registering the corpus views submits no job."""

from __future__ import annotations

import ast
import pathlib
import shutil

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from conftest import SF_SMALL, jobs_submitted

from shelf_spark.data import TABLES, footer_schema, load_table, register_views, table_path

PKG = pathlib.Path(__file__).resolve().parent.parent / "shelf_spark"
TESTDATA = pathlib.Path(SF_SMALL).parent
EVENTS = table_path(SF_SMALL, "events")


def _assert_spark_infers(spark, path: str) -> None:
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    schema, _ = footer_schema(path)
    assert schema == spark.read.parquet(path).schema, path


@pytest.mark.parametrize("sf", ["sf0.001", "sf0.01", "sf0.1"])
def test_footer_schema_is_sparks_inference(spark, sf):
    for name in TABLES:
        _assert_spark_infers(spark, table_path(str(TESTDATA / sf), name))


def test_footer_schema_of_spark_written_file(spark, tmp_path):
    """Spark's own INT96 timestamps, which Arrow also reports as
    ``timestamp[ns]``, read natively: ``timestamp``, no nanos column."""
    events = load_table(spark, SF_SMALL, "events")
    out = str(tmp_path / "int96")
    key = "spark.sql.parquet.outputTimestampType"
    before = spark.conf.get(key)
    spark.conf.set(key, "INT96")
    try:  # the corpus `ts` is timestamp_ntz, which Spark writes as INT64
        events.selectExpr("event_id", "CAST(ts AS timestamp) AS ts").write.parquet(out)
    finally:
        spark.conf.set(key, before)
    footer = pq.ParquetFile(sorted((tmp_path / "int96").glob("*.parquet"))[0])
    assert footer.schema.column(1).physical_type == "INT96"
    schema, nanos = footer_schema(out)
    assert nanos == {} and schema["ts"].dataType.typeName() == "timestamp"
    _assert_spark_infers(spark, out)


def test_footer_schema_reads_required_fields_as_nullable(spark, tmp_path):
    """Spark reads every field of a file as nullable, nested ones too."""
    req = lambda name, t: pa.field(name, t, nullable=False)  # noqa: E731
    ids = pa.list_(req("item", pa.int64()))
    nested = pa.struct([req("ids", ids), req("m", pa.map_(pa.string(), req("v", pa.int64())))])
    schema = pa.schema([req("id", pa.int64()), req("nested", nested)])
    row = {"id": 1, "nested": {"ids": [1, 2], "m": [("k", 3)]}}
    pq.write_table(pa.Table.from_pylist([row], schema=schema), tmp_path / "t.parquet")
    _assert_spark_infers(spark, str(tmp_path / "t.parquet"))


def test_register_views_submits_no_job(spark, tmp_path):
    """A corpus no session has read yet registers without a Spark job:
    its schemas come from the footers, not an inference scan."""
    sf = tmp_path / "sf"
    shutil.copytree(SF_SMALL, sf)
    assert jobs_submitted(spark, lambda: register_views(spark, str(sf))) == []
    assert spark.table("orders").count() == load_table(spark, SF_SMALL, "orders").count()


def _events_with_ts(tmp_path, unit: str, tz: str | None) -> str:
    """A copy of the corpus events whose ``ts`` is stored as ``unit``,
    with isAdjustedToUTC set when ``tz`` is; returns its sf dir."""
    src = pq.read_table(EVENTS)
    ts = src.column("ts").cast(pa.timestamp(unit, tz=tz))
    d = tmp_path / f"{unit}-{tz}"
    d.mkdir()
    pq.write_table(src.set_column(src.schema.get_field_index("ts"), "ts", ts), d / "events.parquet")
    return str(d)


def test_load_table_reads_nanos_like_micros(spark, tmp_path):
    """An events file storing ``ts`` as int64 TIMESTAMP(NANOS) loads to the
    same rows and types as the µs NTZ corpus file it was cast from."""
    got = load_table(spark, _events_with_ts(tmp_path, "ns", None), "events")
    want = load_table(spark, SF_SMALL, "events")
    assert got.schema == want.schema
    assert got.schema["ts"].dataType.typeName() == "timestamp_ntz"
    assert sorted(got.collect()) == sorted(want.collect())


def test_load_table_reads_utc_nanos_like_utc_micros(spark, tmp_path):
    """With isAdjustedToUTC set, a nanos ``ts`` loads as ``timestamp``,
    to the same rows as the µs file with the flag."""
    got = load_table(spark, _events_with_ts(tmp_path, "ns", "UTC"), "events")
    want = load_table(spark, _events_with_ts(tmp_path, "us", "UTC"), "events")
    assert got.schema == want.schema
    assert got.schema["ts"].dataType.typeName() == "timestamp"
    assert sorted(got.collect()) == sorted(want.collect())


def _lines_of(text: str, func: str) -> set[int]:
    return {
        i
        for node in ast.walk(ast.parse(text))
        if isinstance(node, ast.FunctionDef) and node.name == func
        for i in range(node.lineno, node.end_lineno + 1)
    }


def _offenders(patterns: tuple[str, ...], allowed: dict[str, str]) -> list[str]:
    """``file:line`` of each line under the package carrying one of
    ``patterns`` outside the function ``allowed`` names for its file."""
    out = []
    for f in sorted(PKG.rglob("*.py")):
        rel = str(f.relative_to(PKG))
        text = f.read_text()
        ok = _lines_of(text, allowed[rel]) if rel in allowed else set()
        out += [
            f"{rel}:{i}"
            for i, line in enumerate(text.splitlines(), 1)
            if i not in ok and any(p in line for p in patterns)
        ]
    return out


def test_one_footer_reader_and_one_stream_source():
    assert _offenders(("pq.ParquetFile(", "pq.read_schema("), {"data.py": "footer_schema"}) == []
    assert ".read.parquet(" not in (PKG / "data.py").read_text()
    assert _offenders(("readStream.schema(",), {"streaming/__init__.py": "_parquet_stream"}) == []
