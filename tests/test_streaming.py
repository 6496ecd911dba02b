"""Structured Streaming batch-parity tests.

Invariant: a streaming transform fed its entire input in one availableNow
pass produces the same answer as its batch twin (same expression shapes,
`shelf_spark.queries.events`). Watermarks can't drop anything in a single
batch, so parity is exact.
"""

from __future__ import annotations

import re

import pytest

from shelf_spark import streaming as S
from shelf_spark.data import footer_schema, register_views
from shelf_spark.queries import QUERIES

SF_DIR = "/root/testdata/sf0.001"
EVENTS = f"{SF_DIR}/events.parquet"


def _rows(df, cols):
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


@pytest.fixture(scope="module")
def stream(spark):
    return S.events_stream(spark, EVENTS)


def test_tumbling_parity(spark, stream):
    got = S.run_available_now(S.tumbling_counts(stream), "t_tumbling")
    want = QUERIES["events_tumbling_window"](spark, SF_DIR)
    cols = ["w_start", "event_type", "n_events", "total_value"]
    assert _rows(got, cols) == _rows(want, cols)


def test_session_parity(spark, stream):
    # session_window's end = last_event + gap; the batch twin records the
    # last event ts itself, so compare (user, start, n, value) only.
    got = S.run_available_now(S.session_windows(stream), "t_session")
    want = QUERIES["events_sessionize"](spark, SF_DIR)
    cols = ["user_id", "session_start", "n_events", "session_value"]
    assert _rows(got, cols) == _rows(want, cols)


def test_user_running_totals(spark, stream):
    got = S.run_available_now(
        S.user_running_totals(stream), "t_user_totals", output_mode="update"
    )
    register_views(spark, SF_DIR)
    from pyspark.sql import functions as F

    # State sums on the dsum_i 10^-2 integer grid (exact, order-free) —
    # mirror it, not float F.sum, whose accumulation order differs.
    want = (
        spark.table("events")
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n_events"),
            (
                F.coalesce(
                    F.sum(F.floor(F.col("value") * 100.0 + 0.5)), F.lit(0)
                )
                / 100.0
            ).alias("total_value"),
        )
    )
    g = {r["user_id"]: (r["n_events"], r["total_value"]) for r in got.collect()}
    w = {r["user_id"]: (r["n_events"], r["total_value"]) for r in want.collect()}
    assert g == w


def test_stream_static_enrich_parity(spark, stream):
    from pyspark.sql import functions as F

    register_views(spark, SF_DIR)
    dim = spark.table("customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    got = S.run_available_now(
        S.enrich_with_static(stream, dim, "user_id"), "t_enrich", output_mode="append"
    )
    want = spark.table("events").join(F.broadcast(dim), "user_id", "left")
    cols = ["event_id", "c_mktsegment"]
    assert _rows(got, cols) == _rows(want, cols)


def test_stream_stream_correlate_parity(spark, stream):
    from pyspark.sql import functions as F

    got = S.run_available_now(
        S.stream_stream_correlate(stream), "t_corr", output_mode="append"
    )
    register_views(spark, SF_DIR)
    e = spark.table("events")
    a = e.filter(F.col("event_type") == "view").select(
        F.col("event_id").alias("first_event_id"),
        F.col("user_id").alias("a_user_id"),
        F.col("ts").alias("first_ts"),
    )
    b = e.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("then_event_id"),
        F.col("user_id").alias("b_user_id"),
        F.col("ts").alias("then_ts"),
    )
    want = a.join(
        b,
        (F.col("a_user_id") == F.col("b_user_id"))
        & (F.col("then_ts") > F.col("first_ts"))
        & (F.col("then_ts") <= F.col("first_ts") + F.expr("INTERVAL 30 minutes")),
    )
    cols = ["first_event_id", "then_event_id"]
    assert _rows(got, cols) == _rows(want, cols)
    assert got.count() > 0


def test_dedup_against_corpus_parity(spark):
    """Streaming corpus dedup == batch left-anti on fingerprints: docs
    already in the static corpus never pass; fresh docs all do."""
    from pyspark.sql import functions as F

    register_views(spark, SF_DIR)
    batch_docs = spark.table("documents")
    corpus = batch_docs.filter(F.col("doc_id") % 2 == 0).select("text")

    stream = S.documents_stream(spark, f"{SF_DIR}/documents.parquet")
    got = S.run_available_now(
        S.dedup_against_corpus(stream, corpus), "t_corpus_dedup", output_mode="append"
    )

    want = (
        batch_docs.withColumn("fingerprint", F.sha2(F.col("text"), 256))
        .join(
            corpus.select(F.sha2(F.col("text"), 256).alias("fingerprint")).distinct(),
            "fingerprint",
            "left_anti",
        )
    )
    assert _rows(got, ["doc_id"]) == _rows(want, ["doc_id"])
    # sanity: survivors are exactly the docs whose text isn't in the corpus
    surviving = {r.doc_id for r in got.collect()}
    assert all(doc_id % 2 == 1 for doc_id in surviving) or surviving


# ---------------------------------------------------------------------------
# Timestamp-encoding matrix: the footer probe must pin the right schema for
# every way an events parquet can store `ts` — int64 TIMESTAMP(NANOS)
# (the driver testdata), µs NTZ (isAdjustedToUTC=false), and µs LTZ
# (isAdjustedToUTC=true) — and produce identical query output for each.
# ---------------------------------------------------------------------------


@pytest.mark.parametrize("encoding", ["ns_int64", "us_ntz", "us_ltz"])
def test_ts_encoding_matrix(spark, tmp_path, encoding):
    import pyarrow as pa
    import pyarrow.parquet as pq

    src = pq.read_table(EVENTS)
    ts = src.column("ts").cast(pa.timestamp("ns"))
    if encoding == "ns_int64":
        out = src.set_column(src.schema.get_field_index("ts"), "ts", ts)
    elif encoding == "us_ntz":
        out = src.set_column(
            src.schema.get_field_index("ts"), "ts", ts.cast(pa.timestamp("us"))
        )
    else:  # us_ltz: isAdjustedToUTC=true in the footer
        out = src.set_column(
            src.schema.get_field_index("ts"),
            "ts",
            ts.cast(pa.timestamp("us", tz="UTC")),
        )
    d = tmp_path / encoding
    d.mkdir()
    path = str(d / "events.parquet")
    pq.write_table(out, path)

    stream = S.events_stream(spark, path)
    # the pinned schema is the one Spark infers (nanos under nanosAsLong)
    assert footer_schema(path)[0] == spark.read.parquet(path).schema
    got = S.run_available_now(S.tumbling_counts(stream), f"t_enc_{encoding}")
    rows = _rows(got, ["w_start", "n_events", "total_value"])
    # identical to the canonical testdata-backed stream
    want = S.run_available_now(
        S.tumbling_counts(S.events_stream(spark, EVENTS)), f"t_enc_ref_{encoding}"
    )
    assert rows == _rows(want, ["w_start", "n_events", "total_value"])


def test_empty_dir_probe_not_cached(spark, tmp_path):
    """An empty ingest dir must not pin its (absent) schema forever: files
    that land later — here int64-nanos — must be re-probed and read."""
    d = tmp_path / "ingest"
    d.mkdir()
    assert footer_schema(str(d)) == (None, {})

    import pyarrow as pa
    import pyarrow.parquet as pq

    src = pq.read_table(EVENTS)
    idx = src.schema.get_field_index("ts")
    ns = src.set_column(idx, "ts", src.column("ts").cast(pa.timestamp("ns")))
    pq.write_table(ns, d / "part-0001.parquet")
    assert "ts" in footer_schema(str(d))[1]


def test_stream_over_empty_ingest_dir_raises(spark, tmp_path):
    """A directory with no Parquet file yet has no footer to take the
    stream schema from: the source refuses it, naming the path, rather
    than pinning a guess that later files may not match."""
    d = tmp_path / "ingest"
    d.mkdir()
    for make in (S.events_stream, S.documents_stream):
        with pytest.raises(ValueError, match=re.escape(str(d))):
            make(spark, str(d))


def test_cdc_upsert_multibatch_converges(spark, tmp_path):
    """The foreachBatch CDC MERGE must converge to the batch collapse
    REGARDLESS of how the changelog is split into micro-batches or in
    what order changes arrive: split events into 3 ingest files with
    interleaved (non-chronological) slices, stream one file per trigger
    (3 separate merge commits), and compare the final state to the
    single-pass batch collapse over the union."""
    from pyspark.sql import functions as F

    from shelf_spark.data import load_table

    e = load_table(spark, SF_DIR, "events")
    ingest = tmp_path / "ingest"
    ingest.mkdir()
    # interleave by event_id mod 3 → each file spans the full time range,
    # so every batch carries data older than the previous batch's max.
    # Written as FLAT files (pandas), the shape of a real ingest dir.
    for i in range(3):
        e.filter(F.col("event_id") % 3 == i).toPandas().to_parquet(
            str(ingest / f"part{i}.parquet"), index=False
        )
    stream = S.events_stream(spark, str(ingest), max_files_per_trigger=1)
    state_dir = str(tmp_path / "state")
    final = S.run_cdc_upsert(spark, stream, state_dir)
    # 3 versioned commits (one per micro-batch)
    import os

    versions = [d for d in os.listdir(state_dir) if d.startswith("v")]
    assert len(versions) >= 2, versions
    got = _rows(
        final.filter(F.col("last_type") != "error"),
        ["user_id", "n_changes", "last_type", "last_value", "last_ts"],
    )
    from shelf_spark.queries.analytics import cdc_seq_key

    sk = cdc_seq_key()
    batch = (
        e.groupBy("user_id")
        .agg(
            F.count("*").cast("long").alias("n_changes"),
            F.max_by("event_type", sk).alias("last_type"),
            F.max_by("value", sk).alias("last_value"),
            F.max_by("ts", sk).alias("last_ts"),
        )
        .filter(F.col("last_type") != "error")
    )
    want = _rows(batch, ["user_id", "n_changes", "last_type", "last_value", "last_ts"])
    assert got == want


def test_cdc_latest_version_requires_commit_marker(tmp_path):
    """A crash mid-write leaves a partial v{N} without Spark's _SUCCESS
    marker; read-latest must skip it (else a restart merges on top of a
    torn state)."""
    import os

    from shelf_spark.streaming import _cdc_latest_version

    state = tmp_path / "state"
    for v, committed in [(0, True), (1, True), (2, False)]:
        d = state / f"v{v}"
        d.mkdir(parents=True)
        (d / "part-00000.parquet").write_bytes(b"")
        if committed:
            (d / "_SUCCESS").write_bytes(b"")
    (state / "vtmp").mkdir()  # non-numeric v* junk must not crash discovery
    assert _cdc_latest_version(str(state)) == 1
    assert _cdc_latest_version(str(state), below=1) == 0
    assert _cdc_latest_version(str(tmp_path / "missing")) is None
    os.remove(state / "v1" / "_SUCCESS")
    assert _cdc_latest_version(str(state)) == 0


def test_stream_asof_enrich_multibatch_equals_batch(spark, tmp_path):
    """Backward as-of against a STATIC right side is batch-decomposable:
    splitting the purchase stream into 3 interleaved micro-batches (one
    file per trigger) must make run_ledger's union of per-batch
    enrichments reproduce the single-pass batch enrichment row-for-row —
    the property stream_asof_enrich's single-batch gate run doesn't
    exercise on its own."""
    import os

    from pyspark.sql import functions as F

    from shelf_spark.data import load_table, register_views
    from shelf_spark.queries.events import asof_enrich_orders

    e = load_table(spark, SF_DIR, "events")
    ingest = tmp_path / "ingest"
    ingest.mkdir()
    for i in range(3):  # interleaved, non-chronological slices
        e.filter(F.col("event_id") % 3 == i).toPandas().to_parquet(
            str(ingest / f"part{i}.parquet"), index=False
        )
    register_views(spark, SF_DIR)
    orders = spark.table("orders")

    stream = S.events_stream(spark, str(ingest), max_files_per_trigger=1).filter(
        F.col("event_type") == "purchase"
    )
    got = S.run_ledger(stream, lambda batch: asof_enrich_orders(batch, orders))
    ledgers = {os.path.basename(os.path.dirname(f)) for f in got.inputFiles()}
    assert len(ledgers) >= 2, "expected multiple micro-batches"
    want = asof_enrich_orders(e.filter(F.col("event_type") == "purchase"), orders)
    assert sorted(tuple(r) for r in got.collect()) == sorted(
        tuple(r) for r in want.collect()
    )


@pytest.fixture
def empty_events(tmp_path):
    """An sf directory whose events.parquet has the events schema and no
    row: the empty corpus's shape, in which no micro-batch runs."""
    import pyarrow.parquet as pq

    pq.write_table(pq.read_table(EVENTS).slice(0, 0), tmp_path / "events.parquet")
    return str(tmp_path)


def test_run_ledger_without_batches_is_empty_with_ledger_columns(spark, empty_events):
    from pyspark.sql import functions as F

    stream = S.events_stream(spark, f"{empty_events}/events.parquet")

    def ledger(batch):
        return batch.groupBy("event_type").agg(F.max("ts").alias("latest_ts"))

    got = S.run_ledger(stream, ledger)
    assert got.columns == ["event_type", "latest_ts"]
    assert got.collect() == []


def test_stream_dq_expectations_without_batches_reports_every_rule(
    spark, empty_events
):
    from shelf_spark.queries.streaming_ops import _SDQ_RULES

    got = QUERIES["stream_dq_expectations"].__wrapped__(spark, empty_events)
    assert [(r.rule, r.n_checked, r.n_violations, r.passed) for r in got.collect()] == [
        (name, 0, 0, True) for name in sorted(name for name, _ in _SDQ_RULES)
    ]


def test_stream_operator_leaves_no_temp_dir_after_exit():
    """A process that runs a stream operator keeps its checkpoints and
    ledgers under one root named for its pid, and the root is gone once
    the process exits."""
    import glob
    import os
    import subprocess
    import sys
    import tempfile

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    code = (
        "import os\n"
        "from shelf_spark import streaming as S\n"
        "from shelf_spark.queries import QUERIES\n"
        "from shelf_spark.session import get_spark\n"
        f"QUERIES['stream_freshness_lag'](get_spark('tmpdir-child'), {SF_DIR!r}).collect()\n"
        "print(S._root(), len(os.listdir(S._root())))\n"
    )
    env = dict(os.environ, SPARK_GRAFT_CPUS="2", SPARK_GRAFT_DRIVER_MEM="1g")
    child = subprocess.run(
        [sys.executable, "-c", code], cwd=root, env=env, capture_output=True,
        text=True, timeout=300,
    )
    assert child.returncode == 0, child.stderr[-2000:]
    used, n_dirs = child.stdout.split()[-2:]
    prefix = os.path.join(tempfile.gettempdir(), "shelf-stream-")
    assert used.startswith(prefix) and int(n_dirs) >= 2
    pid = os.path.basename(used)[len("shelf-stream-"):].split("-")[0]
    assert not os.path.exists(used)
    assert not glob.glob(f"{prefix}{pid}-*")


def test_stream_root_removes_roots_of_dead_processes(tmp_path, monkeypatch):
    """A killed process never runs its exit hook, so its root stays
    behind; making a root removes the roots of processes that no longer
    run and keeps those of live ones."""
    import os
    import subprocess
    import sys
    import tempfile

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    child = subprocess.Popen([sys.executable, "-c", "pass"])
    child.wait()  # reaped: its pid no longer runs
    dead = tmp_path / f"shelf-stream-{child.pid}-killed"
    live = tmp_path / f"shelf-stream-{os.getpid()}-running"
    dead.mkdir()
    live.mkdir()
    made = S._root.__wrapped__()  # uncached: a fresh root under tmp_path
    assert os.path.dirname(made) == str(tmp_path)
    assert not dead.exists()
    assert live.exists()


def test_stream_state_sizing_restores_session_conf(spark):
    """The stream runners pin spark.sql.shuffle.partitions to
    STREAM_STATE_PARTITIONS only for the duration of .start() (state
    partitioning is a first-start capacity decision, not the batch
    shuffle default) and MUST restore the session value afterwards —
    including on the exception path — or every later batch query in the
    session silently inherits the stream-state size."""
    from shelf_spark import streaming as S

    key = "spark.sql.shuffle.partitions"
    before = spark.conf.get(key)
    assert before != str(S.STREAM_STATE_PARTITIONS) or before == "8"

    with S._state_sized_start(spark):
        assert spark.conf.get(key) == str(S.STREAM_STATE_PARTITIONS)
    assert spark.conf.get(key) == before

    try:
        with S._state_sized_start(spark):
            raise RuntimeError("boom")
    except RuntimeError:
        pass
    assert spark.conf.get(key) == before
