"""Structured Streaming layer over the `events` table.

The batch event-time operators of :mod:`shelf_spark.queries.events` as
``readStream`` → transform → sink pipelines with watermarks for late data,
plus a custom stateful operator via ``applyInPandasWithState``. (Spark 4's
successor API, ``transformWithStateInPandas``, imports ``google.protobuf``
for its state-server protocol, which the project does not depend on; the
older API exercises the same keyed-state/timeout machinery.)

Design:

- **Source**: the parquet file-stream source over an events directory.
  New files arriving in the directory are the micro-batches; the schema
  is pinned (file-stream sources require it) from the footer, by the
  batch path's ``data.footer_schema``, so both read the same types.
- **Batch parity**: a streaming query fed its whole input in one
  availableNow pass must produce its batch twin's answer, and it is held
  to the twin's DuckDB oracle. Window and session transforms restate the
  twin's expressions as stateful streaming operators; ledger operators
  call the twin's own code (see below).
- **Watermarks** bound state: a window/dedup op keeps only state newer
  than ``max(event time) - watermark``; late rows beyond it are dropped.
  At 100 TB/day ingest this is what keeps state size O(windows in the
  watermark horizon × keys), not O(history).
- **Sinks**: the memory sink (``run_available_now``) for plain streaming
  plans, and ``foreachBatch`` for the rest.
- **Ledger rule** (``run_ledger``): an operator whose state merges
  (counts add, maxima take the max, bitmaps OR) gives a function from a
  micro-batch to a small ledger frame. The runner writes batch N's ledger
  to ``b{N}``, overwriting, so a batch replayed under foreachBatch's
  at-least-once delivery replaces its ledger instead of adding a second
  one. The operator then merges the union of the ledgers with its batch
  twin's merge code. When no micro-batch runs the union is an empty
  frame with the ledger's columns.
- **Temp-directory rule**: every checkpoint, ledger sink and CDC state
  directory is a subdirectory of one root per process, made by
  :func:`shelf_spark.tmpdirs.process_tmpdir`. A returned DataFrame reads
  its ledger lazily, so the root lives until the process exits; it is
  removed then, and a later process removes the root of one that was
  killed.

Scale notes: streaming aggregation state lives in the state store
(RocksDB-backed on a real cluster — set
``spark.sql.streaming.stateStore.providerClass`` to the RocksDB provider;
HDFS-backed default is fine locally). Shuffle partitioning of stateful
ops is fixed at first run by ``spark.sql.shuffle.partitions`` — size it
for the *target* key cardinality before the first checkpoint, it cannot
change without a state rebuild.
"""

from __future__ import annotations

import contextlib
import functools
import os
import tempfile
from collections.abc import Callable
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, LongType, StructField, StructType

from ..data import footer_schema, micros_from_nanos
from ..queries.num import dsum_i
from ..tmpdirs import process_tmpdir


def _parquet_stream(
    spark: SparkSession, path: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """File-stream source over a parquet file or ingest directory, pinned
    to its footer schema; int64 TIMESTAMP(NANOS) columns become µs
    timestamps of the type ``load_table`` gives them."""
    schema, nanos = footer_schema(path)
    if schema is None:
        raise ValueError(f"no Parquet file in {path} to take a stream schema from")
    if nanos:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    reader = spark.readStream.schema(schema).format("parquet")
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    if os.path.isfile(path):
        # the file-stream source requires a directory or glob; a literal
        # file path fails its basePath check — rewrite as a 1-file glob
        d, name = os.path.split(path)
        path = os.path.join(d, "{%s}" % name)
    return micros_from_nanos(reader.load(path), nanos)


def events_stream(
    spark: SparkSession, path: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """File-stream source over an events parquet file (testdata) or a
    directory into which new files land (production ingest). ``ts`` is a
    session-tz'd TIMESTAMP whatever its encoding: an NTZ column is cast
    (the session tz is pinned UTC, so the cast is value-identity)."""
    stream = _parquet_stream(spark, path, max_files_per_trigger)
    return stream.withColumn("ts", F.col("ts").cast("timestamp"))


def documents_stream(spark: SparkSession, path: str) -> DataFrame:
    """File-stream source over a documents parquet file/directory —
    streaming ingest of new crawl shards."""
    return _parquet_stream(spark, path)


# ---------------------------------------------------------------------------
# Streaming transforms — same expression shapes as the batch twins
# ---------------------------------------------------------------------------


def dedup_against_corpus(stream: DataFrame, corpus: DataFrame) -> DataFrame:
    """Streaming ingest dedup: drop incoming documents whose content
    fingerprint already exists in the static corpus — the streaming face
    of the batch dedup ladder (`queries/dedup.py: dedup_exact`).

    Stream-static left-anti join on the SHA-256 digest: the corpus side
    collapses to its distinct fingerprint set (32 bytes/doc) and is
    re-read per micro-batch, so a corpus growing underneath the stream is
    picked up without restarts; the stream side is stateless (no
    watermark, no state store) because the corpus carries the history.
    No broadcast hint: the fingerprint set is CORPUS-sized (unbounded at
    scale, unlike a dimension table), so the per-batch planner picks
    broadcast only while it fits the threshold and falls back to a
    shuffled join past it.
    """
    fps = corpus.select(F.sha2(F.col("text"), 256).alias("fingerprint")).distinct()
    return (
        stream.withColumn("fingerprint", F.sha2(F.col("text"), 256))
        .join(fps, "fingerprint", "left_anti")
    )


def tumbling_counts(stream: DataFrame, watermark: str = "30 minutes") -> DataFrame:
    """10-minute tumbling window counts/sums (twin of batch
    ``events_tumbling_window``). Watermark bounds window state."""
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "10 minutes").alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"), dsum_i(F.col("value"), 2).alias("total_value"))
        .select(
            F.col("w.start").alias("w_start"), "event_type", "n_events", "total_value"
        )
    )


def sliding_totals(stream: DataFrame, watermark: str = "30 minutes") -> DataFrame:
    """10-minute windows sliding every 5, count + exact-decimal value sum
    (twin of ``events_sliding_window``'s windows, summed on the integer
    grid so the oracle check is exact)."""
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "10 minutes", "5 minutes").alias("w"))
        .agg(F.count("*").alias("n_events"), dsum_i(F.col("value"), 2).alias("total_value"))
        .select(F.col("w.start").alias("w_start"), "n_events", "total_value")
    )


def session_windows(
    stream: DataFrame, gap: str = "30 minutes", watermark: str = "30 minutes"
) -> DataFrame:
    """Per-user session windows with a fixed inactivity gap (twin of batch
    ``events_sessionize``). ``F.session_window`` merges state natively —
    no self-join, state is O(open sessions)."""
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"), dsum_i(F.col("value"), 2).alias("session_value"))
        .select(
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "user_id",
            "n_events",
            "session_value",
        )
    )


def enrich_with_static(stream: DataFrame, dim: DataFrame, on, how: str = "left") -> DataFrame:
    """Stream-static join: enrich each event with dimension attributes.

    The static side is re-read per micro-batch (so slowly-changing dims
    pick up updates) and broadcast — stateless for the stream, no
    watermark needed. This is the streaming twin of the batch
    fact⋈broadcast(dim) pattern used throughout the relational layer.
    """
    return stream.join(F.broadcast(dim), on, how)


def stream_stream_correlate(
    stream: DataFrame,
    first_type: str = "view",
    then_type: str = "purchase",
    within: str = "30 minutes",
    watermark: str = "1 hour",
) -> DataFrame:
    """Watermarked stream-stream join: each `first_type` event matched to
    the same user's `then_type` events within ``within`` afterwards
    (conversion attribution).

    Both sides carry watermarks and the join condition bounds event-time
    distance, so the state store can expire rows once they fall behind
    ``max(event time) - watermark - within`` — state is O(events in the
    horizon), the requirement for an unbounded run. Output rows emit only
    once both sides' watermarks pass the match window (inner join).
    """
    a = (
        stream.filter(F.col("event_type") == first_type)
        .withWatermark("ts", watermark)
        .select(
            F.col("event_id").alias("first_event_id"),
            F.col("user_id").alias("a_user_id"),
            F.col("ts").alias("first_ts"),
        )
    )
    b = (
        stream.filter(F.col("event_type") == then_type)
        .withWatermark("ts", watermark)
        .select(
            F.col("event_id").alias("then_event_id"),
            F.col("user_id").alias("b_user_id"),
            F.col("ts").alias("then_ts"),
            F.col("value").alias("then_value"),
        )
    )
    return a.join(
        b,
        (F.col("a_user_id") == F.col("b_user_id"))
        & (F.col("then_ts") > F.col("first_ts"))
        & (F.col("then_ts") <= F.col("first_ts") + F.expr(f"INTERVAL {within}")),
    ).select(
        F.col("a_user_id").alias("user_id"),
        "first_event_id",
        "first_ts",
        "then_event_id",
        "then_ts",
        "then_value",
    )


#: Output schema of :func:`user_running_totals`.
_USER_TOTALS_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("n_events", LongType()),
        StructField("total_value", DoubleType()),
    ]
)

_USER_STATE_SCHEMA = StructType(
    [StructField("n", LongType()), StructField("total_c", LongType())]
)


def user_running_totals(stream: DataFrame, timeout_minutes: int = 0) -> DataFrame:
    """Custom stateful operator: per-user running event count + value sum,
    via ``applyInPandasWithState`` (Arrow-batched; the custom-operator
    escape hatch when built-in windowed aggs can't express the logic).

    State is one (count, scaled-int sum) pair per user. The value sum
    accumulates on the 10^-2 integer grid (``floor(x·100 + 0.5)`` per
    row, the num.dsum_i convention) so the running total is EXACT and
    independent of batch boundaries and within-batch order — float
    accumulation order would otherwise make the emitted total depend on
    how the source chunked the data. All-null users total 0.0 by
    convention. With ``timeout_minutes`` > 0 idle users are evicted on
    processing-time timeout — the state-size guardrail for unbounded
    key spaces.
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        import numpy as np

        (user_id,) = key
        if state.hasTimedOut:
            state.remove()
            return
        n, total_c = state.get if state.exists else (0, 0)
        for pdf in pdfs:
            n += len(pdf)
            vals = pdf["value"].dropna().to_numpy(dtype="float64")
            # Value-domain convention (r12, r11 ADVICE): pandas dropna()
            # drops NaN as well as nulls, while a SQL sum only skips
            # NULLs — so NaN/±inf are excluded EXPLICITLY on this side
            # (the SQL oracle twin carries the matching isfinite filter),
            # and the scaled value is asserted to fit int64 instead of
            # silently wrapping at |value| ≳ 9.2e16.
            vals = vals[np.isfinite(vals)]
            if len(vals):
                scaled = np.floor(vals * 100.0 + 0.5)
                # the dsum_i contract accumulates DECIMAL(18,0) terms;
                # enforce the same per-term bound here instead of letting
                # astype('int64') wrap silently, and sum as Python ints so
                # the per-batch accumulator can never overflow either.
                # ValueError, not assert: workers under `python -O` strip
                # asserts, which would silently restore the int64 wrap
                # this guard exists to eliminate (r12 ADVICE).
                if np.abs(scaled).max() >= 1e18:
                    raise ValueError(
                        "value outside the dsum_i DECIMAL(18,0) term domain"
                    )
                total_c += int(scaled.astype("int64").sum(dtype=object))
        total = total_c / 100.0
        state.update((n, total_c))
        if timeout_minutes:
            state.setTimeoutDuration(timeout_minutes * 60 * 1000)
        yield pd.DataFrame(
            {"user_id": [user_id], "n_events": [n], "total_value": [total]}
        )

    timeout = (
        GroupStateTimeout.ProcessingTimeTimeout
        if timeout_minutes
        else GroupStateTimeout.NoTimeout
    )
    return stream.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=_USER_TOTALS_SCHEMA,
        stateStructType=_USER_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=timeout,
    )


# ---------------------------------------------------------------------------
# Sinks & harness
# ---------------------------------------------------------------------------


#: State-store partition count for streams started by this module's
#: runners. A stateful streaming query's shuffle/state partitioning is
#: locked in at FIRST START (baked into the checkpoint) — it is a
#: capacity decision, not the batch shuffle default. Every state
#: partition is a live store instance paying per-batch commit/fsync
#: cost, so oversizing is pure overhead: at sf0.1 the stream-stream
#: join ran 8.7 s at 32 partitions vs 3.0 s at 4 (measured, SCALE.md
#: "r10 streaming state sizing") with identical results. On a real
#: cluster size this to target-state-volume / healthy-store-size
#: (RocksDB: a few GB per store) BEFORE the first checkpoint.
STREAM_STATE_PARTITIONS = 8


@contextlib.contextmanager
def _state_sized_start(spark: SparkSession):
    """Pin ``spark.sql.shuffle.partitions`` to the stream-state size for
    the duration of a ``.start()`` call, restoring the session value
    afterwards. Safe because Structured Streaming CLONES the session
    conf at query start — the running stream keeps the pinned value,
    the session gets its batch default back."""
    key = "spark.sql.shuffle.partitions"
    before = spark.conf.get(key)
    spark.conf.set(key, str(STREAM_STATE_PARTITIONS))
    try:
        yield
    finally:
        spark.conf.set(key, before)


@functools.cache
def _root() -> str:
    """This process's streaming temp root (see the temp-directory rule)."""
    return process_tmpdir("shelf-stream-")


def scratch_dir(kind: str) -> str:
    """A new directory for one checkpoint, ledger sink or CDC state under
    this process's streaming root."""
    return tempfile.mkdtemp(prefix=f"{kind}-", dir=_root())


def run_available_now(
    df: DataFrame, query_name: str, output_mode: str = "complete"
) -> DataFrame:
    """Process every file available now through the streaming plan, then
    stop; return the result as a batch DataFrame (memory sink).

    This is the batch-parity harness: a streaming transform fed its whole
    input in one availableNow pass must agree with its batch twin.
    """
    spark = df.sparkSession
    with _state_sized_start(spark):
        q = (
            df.writeStream.format("memory")
            .queryName(query_name)
            .outputMode(output_mode)
            .option("checkpointLocation", scratch_dir(query_name))
            .trigger(availableNow=True)
            .start()
        )
    q.awaitTermination()
    return spark.table(query_name)


def foreach_batch_upsert(df: DataFrame, batch_fn) -> None:
    """``foreachBatch`` escape hatch: run arbitrary batch logic (e.g. a
    MERGE into a lakehouse table) per micro-batch over one availableNow
    pass, and wait for the pass to end. ``batch_fn(batch_df, batch_id)``
    runs on the driver with a *batch* DataFrame."""
    with _state_sized_start(df.sparkSession):
        q = (
            df.writeStream.foreachBatch(batch_fn)
            .option("checkpointLocation", scratch_dir("checkpoint"))
            .trigger(availableNow=True)
            .start()
        )
    q.awaitTermination()


def run_ledger(
    stream: DataFrame, batch_fn: Callable[[DataFrame], DataFrame]
) -> DataFrame:
    """The ledger rule: write ``batch_fn(batch_df)`` of every micro-batch
    of one availableNow pass to ``b{batch_id}`` (overwrite) and return the
    union of the ledgers. If no micro-batch ran, an empty frame with
    ``batch_fn``'s output schema, taken from ``batch_fn`` applied to an
    empty frame of the stream's schema: no job runs for it."""
    spark = stream.sparkSession
    sink = scratch_dir("ledger")

    def write(batch_df: DataFrame, batch_id: int) -> None:
        batch_fn(batch_df).write.mode("overwrite").parquet(
            os.path.join(sink, f"b{batch_id}")
        )

    foreach_batch_upsert(stream, write)
    parts = [os.path.join(sink, d) for d in os.listdir(sink) if d.startswith("b")]
    if parts:
        return spark.read.parquet(*parts)
    schema = batch_fn(spark.createDataFrame([], stream.schema)).schema
    return spark.createDataFrame([], schema)


def _cdc_collapse(batch: DataFrame) -> DataFrame:
    """Collapse a changelog slice to per-key (count, latest row) partials —
    associative, so per-batch partials merge to the global answer in any
    batch order (late data compares on the sequence key, not arrival)."""
    from ..queries.analytics import cdc_seq_key

    sk = cdc_seq_key()
    return batch.groupBy("user_id").agg(
        F.count("*").cast("long").alias("n_changes"),
        F.max_by("event_type", sk).alias("last_type"),
        F.max_by("value", sk).alias("last_value"),
        F.max_by("ts", sk).alias("last_ts"),
        F.max(sk).alias("last_sk"),
    )


def _cdc_state_merge(state: DataFrame, delta: DataFrame) -> DataFrame:
    """MERGE a collapsed batch into the keyed state: counts add; the
    latest row is whichever side's sequence key is greater. One full-outer
    hash join on the key — state is key-cardinality-sized, never
    changelog-sized."""
    s = state.select(*[F.col(c).alias(f"s_{c}") for c in state.columns])
    d = delta.select(*[F.col(c).alias(f"d_{c}") for c in delta.columns])
    joined = s.join(d, s.s_user_id == d.d_user_id, "full_outer")
    newer = F.col("d_last_sk").isNotNull() & (
        F.col("s_last_sk").isNull() | (F.col("d_last_sk") > F.col("s_last_sk"))
    )
    pick = lambda c: F.when(newer, F.col(f"d_{c}")).otherwise(F.col(f"s_{c}"))  # noqa: E731
    return joined.select(
        F.coalesce("s_user_id", "d_user_id").alias("user_id"),
        (
            F.coalesce("s_n_changes", F.lit(0))
            + F.coalesce("d_n_changes", F.lit(0))
        )
        .cast("long")
        .alias("n_changes"),
        pick("last_type").alias("last_type"),
        pick("last_value").alias("last_value"),
        pick("last_ts").alias("last_ts"),
        pick("last_sk").alias("last_sk"),
    )


def _cdc_latest_version(
    state_dir: str, below: int | None = None
) -> int | None:
    """Latest COMMITTED state version: a ``v{N}`` directory counts only
    once Spark's parquet job committer has dropped its ``_SUCCESS``
    marker — a crash mid-write leaves a partial ``v{N}`` without one,
    and read-latest must never pick that up (otherwise a fresh run
    reusing the state_dir, or the final state read, would merge on top
    of a torn state)."""
    if not os.path.isdir(state_dir):
        return None
    vs = [
        int(d[1:])
        for d in os.listdir(state_dir)
        if d.startswith("v")
        and d[1:].isdigit()
        and os.path.exists(os.path.join(state_dir, d, "_SUCCESS"))
    ]
    if below is not None:
        vs = [v for v in vs if v < below]
    return max(vs) if vs else None


def run_cdc_upsert(
    spark: SparkSession, stream: DataFrame, state_dir: str
) -> DataFrame:
    """Streaming APPLY CHANGES: maintain a keyed post-merge state table
    from a CDC event stream via ``foreachBatch`` — collapse each
    micro-batch (associative partials), MERGE into the state, and commit
    the new state as parquet version ``v{batch_id}`` (read-latest /
    write-next versioning: the reader never sees a partially-written
    state, the lakehouse-without-Delta commit pattern; superseded
    versions are compaction fodder). Tombstones (``error`` ops) stay IN
    the state so a late pre-delete change cannot resurrect a key; they
    filter at read time. Returns the final merged state (tombstones
    included — callers filter).

    Scale: per batch one map-side-combined aggregate over the batch plus
    one key-sized full-outer join — changelog volume is touched once;
    state I/O is key-cardinality-sized. On a cluster the same loop runs
    against Delta/Iceberg MERGE INTO with the identical collapse."""

    def merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        # IDEMPOTENT under foreachBatch's at-least-once replay: the merge
        # input is always the latest version STRICTLY BELOW this batch_id
        # — a replayed batch N re-merges into the pre-N state and
        # overwrites v{N}, instead of double-merging into the v{N} its
        # failed attempt already wrote.
        delta = _cdc_collapse(batch_df)
        v = _cdc_latest_version(state_dir, below=batch_id)
        if v is None:
            merged = delta
        else:
            prev = spark.read.parquet(os.path.join(state_dir, f"v{v}"))
            merged = _cdc_state_merge(prev, delta)
        merged.write.mode("overwrite").parquet(
            os.path.join(state_dir, f"v{batch_id}")
        )

    foreach_batch_upsert(stream, merge_batch)
    v = _cdc_latest_version(state_dir)
    if v is None:  # zero micro-batches (empty ingest dir): empty state
        return spark.createDataFrame(
            [],
            "user_id bigint, n_changes bigint, last_type string, "
            "last_value double, last_ts timestamp, last_sk string",
        )
    return spark.read.parquet(os.path.join(state_dir, f"v{v}"))


def daily_ohlc(stream: DataFrame, watermark: str = "2 days") -> DataFrame:
    """Daily OHLC bars as a streaming aggregate (twin of batch
    ``events_ohlc_daily``): open/close via ``min_by``/``max_by`` on the
    (ts, event_id) struct key — the same unique chronological tiebreak
    the batch row_number formulation uses, expressed as a mergeable
    aggregate so streaming state is ONE (value, key) pair per bar and
    side, not a buffered window. The watermark bounds bar state to the
    late-data horizon; volume rides the integer grid (num.dsum_i)."""
    key = F.struct(F.col("ts"), F.col("event_id"))
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 day").alias("w"), "event_type")
        .agg(
            F.count("*").cast("long").alias("n_events"),
            F.min_by("value", key).alias("open"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.max_by("value", key).alias("close"),
            dsum_i(F.col("value"), 2).alias("volume"),
        )
        .select(
            F.to_date(F.col("w.start")).alias("day"),
            "event_type",
            "n_events",
            "open",
            "high",
            "low",
            "close",
            "volume",
        )
    )
