"""Structured Streaming pipeline — the reference's processor, Spark-native.

Reference lifecycle (SURVEY.md §3.1): Kafka JSON events → in-memory hourly
window state → grace-period flush → Postgres idempotent upsert → offset
commit.  The Spark mapping, stage by stage:

* Kafka batched poll + bad-record drop (``kafka_consumer.py:71-107``)
  → ``readStream.format("kafka")`` + permissive ``from_json`` + null filter
  (:func:`parse_events`; ``maxOffsetsPerTrigger`` = the poll batch size).
* dict-based hourly window state (``aggregation.py:44-67``)
  → the SAME :func:`~..operators.hourly.aggregate_events` used in batch;
  Spark's state store replaces the dict.
* grace-period window close (``aggregation.py:69-79``, grace 60 s vs
  processing-time ``now``) → ``withWatermark(ts, grace)`` (event-time; the
  reference stamps events with wall-clock at creation, ``events.py:34``, so
  the two coincide in live operation).
* periodic flush (``aggregation_service.py:138-164``, every 60 s)
  → ``trigger(processingTime="60 seconds")``.
* Postgres ``INSERT ... ON CONFLICT DO UPDATE`` (``upsert_aggregation.sql``)
  → ``foreachBatch`` upsert sink.  Update-mode re-emission + key-overwrite
  reproduces the reference's effectively-once contract (at-least-once
  delivery into an idempotent keyed write).

Deliberate deviation (documented): a late event arriving after its window
was flushed causes the reference to REBUILD the window from scratch and
overwrite the DB row with partial counts (``aggregation.py:53-58``) — data
loss.  Here update mode re-emits the *cumulative* corrected row within the
watermark, and drops events later than the watermark.  Strictly better;
noted for parity audits.

Offset commit (``aggregation_service.py:157-158`` write-then-commit) is
subsumed by checkpointing: offsets are persisted only after the batch's
sink write completes.
"""

from __future__ import annotations

import base64
import functools
import os
import shutil
import uuid
from typing import Callable, NamedTuple

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..io import TARGET_FILE_BYTES
from ..operators.hourly import aggregate_events
from ..schemas import EVENT_WIRE_SCHEMA, HOURLY_AGGREGATION_SCHEMA

#: Logical primary key of the aggregate table
#: (reference ``001_initial_schema.sql:13``: UNIQUE (window_start, event_type)).
UPSERT_KEYS = ["window_start", "event_type"]


# ---------------------------------------------------------------------------
# sources
# ---------------------------------------------------------------------------


def read_event_stream_kafka(
    spark: SparkSession,
    bootstrap_servers: str,
    topic: str = "user-activity-events",
    max_offsets_per_trigger: int | None = 100,
    starting_offsets: str = "earliest",
) -> DataFrame:
    """Kafka JSON event source (reference S1: batched poll of ≤N messages —
    ``maxOffsetsPerTrigger`` is the Spark analog of the poll batch size)."""
    reader = (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("subscribe", topic)
        .option("startingOffsets", starting_offsets)
        .option("failOnDataLoss", "false")
    )
    if max_offsets_per_trigger is not None:
        reader = reader.option("maxOffsetsPerTrigger", str(max_offsets_per_trigger))
    return parse_events(reader.load().selectExpr("CAST(value AS STRING) AS raw"))


def read_event_stream_json(
    spark: SparkSession, path: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """File-based JSONL event source (deterministic test/replay transport:
    same wire format as the Kafka topic, one JSON object per line)."""
    reader = spark.readStream.format("text")
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return parse_events(reader.load(path).select(F.col("value").alias("raw")))


def parse_events(raw: DataFrame) -> DataFrame:
    """Wire JSON → typed events; malformed messages are DROPPED, not failed
    (reference ``kafka_consumer.py:104-107``).  Permissive ``from_json``
    yields null structs for undeserializable rows; the filter on required
    fields removes them."""
    parsed = raw.select(
        F.from_json(F.col("raw"), EVENT_WIRE_SCHEMA).alias("e")
    ).select("e.*")
    return parsed.filter(
        F.col("event_id").isNotNull()
        & F.col("event_type").isNotNull()
        & F.col("timestamp").isNotNull()
    )


def write_events_kafka(
    events: DataFrame,
    bootstrap_servers: str,
    topic: str = "user-activity-events",
    acks: str = "all",
    linger_ms: int = 10,
    compression_type: str = "snappy",
    batch_size: int = 16384,
    **kafka_options: str,
):
    """Kafka sink writer (reference S3/S4: one JSON message per event,
    keyed by user_id, with the bulk-producer tuning knobs the reference
    sets — acks/linger/compression/batch.size,
    ``kafka_publisher.py:41-49``).  Returns the DataStreamWriter — caller
    sets trigger/checkpoint.  Additional producer properties pass through
    ``kafka_options`` (dots as underscores, e.g.
    ``max_request_size="1048576"``)."""
    payload = events.select(
        F.col("user_id").cast("string").alias("key"),
        F.to_json(F.struct(*[F.col(c) for c in events.columns])).alias("value"),
    )
    writer = (
        payload.writeStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("topic", topic)
        .option("kafka.acks", acks)
        .option("kafka.linger.ms", str(linger_ms))
        .option("kafka.compression.type", compression_type)
        .option("kafka.batch.size", str(batch_size))
    )
    for k, v in kafka_options.items():
        writer = writer.option(f"kafka.{k.replace('_', '.')}", str(v))
    return writer


# ---------------------------------------------------------------------------
# the streaming aggregation
# ---------------------------------------------------------------------------


def streaming_hourly_aggregate(
    events: DataFrame,
    grace_period: str = "60 seconds",
    exact_distinct: bool = True,
    ts_col: str = "timestamp",
    session_col: str | None = "session_id",
    value_col: str = "duration_ms",
    apply_watermark: bool = True,
) -> DataFrame:
    """Watermarked hourly aggregation over a streaming event DataFrame —
    the reference's A1-A7 in one declarative plan, sharing
    :func:`aggregate_events` with the batch path (stream/batch equivalence
    is guaranteed by construction and tested).

    ``exact_distinct=True`` matches reference semantics (Python sets,
    ``aggregation.py:62-63``); at 100 TB switch to False for HyperLogLog
    state (the reference's unbounded-set flaw, fixed).

    ``apply_watermark=False`` when an upstream stage (e.g. the dedup
    operator) already set the watermark — Spark forbids redefining it."""
    if apply_watermark:
        events = events.withWatermark(ts_col, grace_period)
    return aggregate_events(
        events,
        ts_col=ts_col,
        user_col="user_id",
        session_col=session_col,
        value_col=value_col,
        exact_distinct=exact_distinct,
    )


def dedup_event_stream(
    events: DataFrame,
    id_col: str = "event_id",
    ts_col: str = "timestamp",
    within: str = "10 minutes",
) -> DataFrame:
    """Streaming exact-once dedup by event id within a watermark horizon
    (``dropDuplicatesWithinWatermark``): upstream at-least-once redelivery
    (the reference's Kafka consumer redelivers on crash between poll and
    commit, ``kafka_consumer.py:71-107``) stops inflating counts even for
    non-idempotent sinks.  State is bounded by the horizon — at 100 TB/day
    the dedup state holds only ``within`` worth of ids, not the full
    history.

    This sets the stream's watermark; downstream aggregations must pass
    ``apply_watermark=False`` (Spark forbids redefining a watermark — use
    :func:`start_pipeline` with ``dedup_ids=...`` for the composed form)."""
    return events.withWatermark(ts_col, within).dropDuplicatesWithinWatermark(
        [id_col]
    )


def streaming_session_stats(
    events: DataFrame,
    gap: str = "30 minutes",
    grace_period: str = "60 seconds",
    ts_col: str = "timestamp",
) -> DataFrame:
    """Streaming session windows (merging state): per-user sessions that
    close once the watermark passes session_end.  The [EXT] stateful
    operator the reference lacks — same expression as the batch
    ``events_ext.session_window_stats`` (tested equivalent)."""
    from pyspark.sql import functions as F  # local to avoid shadowing

    return (
        events.withWatermark(ts_col, grace_period)
        .groupBy("user_id", F.session_window(F.col(ts_col), gap).alias("sw"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("sw.start").alias("session_start"),
            F.col("sw.end").alias("session_end"),
            "n_events",
        )
    )


def streaming_error_context(
    events: DataFrame,
    gap_minutes: int = 30,
    watermark: str = "2 hours",
    error_type: str = "error",
    ts_col: str = "timestamp",
) -> DataFrame:
    """Stream-stream interval self-join: each error event matched with the
    same user's events within ±``gap_minutes`` — the streaming twin of the
    batch ``relational.error_event_context`` range join.

    Both branches carry a watermark and the join condition bounds event
    time on BOTH sides, so Spark can evict join state once the watermark
    passes ``err_ts + gap`` / ``ctx_ts + gap``: state is proportional to
    the events inside one (watermark + gap) horizon, not the stream
    history.  Output is append-mode pairs; downstream aggregation (e.g.
    nearby-event counts) composes as a second stateful stage."""
    gap = F.expr(f"INTERVAL {gap_minutes} MINUTES")
    err = (
        events.filter(F.col("event_type") == error_type)
        .select(
            F.col("event_id").alias("err_id"),
            F.col("user_id").alias("err_user"),
            F.col(ts_col).alias("err_ts"),
        )
        .withWatermark("err_ts", watermark)
    )
    ctx = events.select(
        F.col("event_id").alias("ctx_id"),
        F.col("user_id").alias("ctx_user"),
        F.col(ts_col).alias("ctx_ts"),
    ).withWatermark("ctx_ts", watermark)
    return err.join(
        ctx,
        (F.col("err_user") == F.col("ctx_user"))
        & (F.col("ctx_ts") >= F.col("err_ts") - gap)
        & (F.col("ctx_ts") <= F.col("err_ts") + gap)
        & (F.col("ctx_id") != F.col("err_id")),
    ).select(
        "err_id",
        F.col("err_user").alias("user_id"),
        "err_ts",
        "ctx_id",
        "ctx_ts",
    )


# ---------------------------------------------------------------------------
# sinks
# ---------------------------------------------------------------------------


class ParquetUpsertSink:
    """Idempotent keyed upsert into a parquet directory — the fixture-mode
    stand-in for the reference's Postgres ``ON CONFLICT DO UPDATE`` (S5).

    A file-level copy-on-write merge, the way Delta Lake's MERGE rewrites
    only the files a merge touches.  Each micro-batch is collected once as
    Arrow (``toArrow``: the batch's one Spark job) and reduced to its last
    row per key, so it holds at most windows touched x event types rows,
    whatever the event volume.  The min/max of the key columns that each
    file's footer records names the files a batch key can fall in; a file
    whose footer lacks them (one Spark wrote) counts as one of them.  Only
    those files are read, with pyarrow: their rows whose key
    the batch carries are dropped, the batch rows added, and the result is
    written as ONE new file.  Every other file is hard-linked (copied where
    linking fails) into the new snapshot directory, which then swaps in.
    Per batch the sink therefore reads and writes the touched files plus
    the batch, not the table; an empty batch writes nothing.

    Last-write-wins per (window_start, event_type) — identical to
    ``upsert_aggregation.sql:12-19``.  Replayed batches (at-least-once)
    rewrite the same rows: effectively-once.

    Small files fold toward :data:`~..io.TARGET_FILE_BYTES` like a binary
    counter: the new file also absorbs the file whose key range ends just
    before its own, while that file is below the target and holds no more
    rows than the new one.  A stream advancing hour by hour thus keeps
    O(log hours) small files and rewrites a row O(log hours) times, while
    a large older file (a backfilled history) stays linked.

    New files take the schema Spark hands the sink, and store timestamps
    as INT96 like Spark, so ``spark.read.parquet`` and DuckDB read back the
    same column order and types as from a Spark-written table; rows carried
    over from a rewritten file are cast to it.  INT96 columns carry no
    parquet statistics, hence the key ranges in the footer's key-value
    metadata.  The directory stays flat: ``*.parquet`` files only.

    Contract: SINGLE WRITER on a local/posix FS (this is the fixture-mode
    sink; production uses the JDBC upsert, where the DB provides atomicity).
    The two-rename swap has a window where ``path`` is absent; a crash there
    leaves the previous snapshot at ``path.__old_<id>`` and ``__call__``
    rolls it back on the next invocation.  A crashed write's
    ``path.__tmp_<id>`` is cleared before the directory is reused."""

    def __init__(self, path: str, keys: list[str] | None = None) -> None:
        self.path = path
        self.keys = keys or UPSERT_KEYS

    def _recover(self) -> None:
        """Roll back a crashed swap: live path missing but an __old_ exists."""
        if os.path.isdir(self.path):
            return
        parent, base = os.path.split(self.path.rstrip("/"))
        leftovers = sorted(
            n for n in os.listdir(parent or ".") if n.startswith(f"{base}.__old_")
        )
        if leftovers:
            os.rename(os.path.join(parent, leftovers[-1]), self.path)

    def __call__(self, batch: DataFrame, batch_id: int) -> None:
        self._recover()
        rows = _last_per_key(batch.toArrow(), self.keys)
        if rows.num_rows == 0:
            return
        schema = rows.schema
        files = _footers(self.path, self.keys, schema)
        touched, kept = [], []
        for f in files:
            (touched if _meets(f, rows, self.keys) else kept).append(f)
        out = rows
        if touched:
            current = pa.concat_tables([_read(f, schema) for f in touched])
            stale = current.join(
                rows.select(self.keys), self.keys, join_type="left anti"
            )
            out = pa.concat_tables([stale.cast(schema), rows])
        budget = TARGET_FILE_BYTES - sum(f.size for f in touched)
        while (prev := _predecessor(kept, out, self.keys[0])) is not None:
            if prev.num_rows > out.num_rows or prev.size > budget:
                break
            out = pa.concat_tables([_read(prev, schema), out])
            budget -= prev.size
            kept.remove(prev)
        out = out.sort_by([(k, "ascending") for k in self.keys])

        tmp = f"{self.path}.__tmp_{batch_id}"
        shutil.rmtree(tmp, ignore_errors=True)  # a crashed write's leftovers
        os.makedirs(tmp)
        for f in kept:
            _link_or_copy(f.path, os.path.join(tmp, os.path.basename(f.path)))
        _write(
            out,
            os.path.join(tmp, f"part-{batch_id:05d}-{uuid.uuid4().hex}.parquet"),
            self.keys,
        )
        old = f"{self.path}.__old_{batch_id}"
        if os.path.isdir(self.path):
            os.rename(self.path, old)
        os.rename(tmp, self.path)
        shutil.rmtree(old, ignore_errors=True)

    def read(self, spark: SparkSession) -> DataFrame:
        return spark.read.parquet(self.path)


#: Footer key-value entry holding a sink file's key ranges: a two-row (min,
#: max) table of the key columns as a base64 Arrow IPC stream.  The INT96
#: timestamps the sink writes, as Spark does, carry no parquet statistics.
_KEY_RANGES = b"zeal.upsert.key_ranges"


class _Footer(NamedTuple):
    """One table file as its parquet footer describes it.  ``ranges`` is
    one (min, max) pair per key column, or None when the footer does not
    record them."""

    path: str
    size: int
    num_rows: int
    ranges: list[tuple[pa.Scalar, pa.Scalar]] | None


def _footers(path: str, keys: list[str], schema: pa.Schema) -> list[_Footer]:
    """The table's files (a flat directory of ``*.parquet``; names starting
    with ``_`` or ``.`` are ignored as Spark does) with their key ranges,
    cast to the batch's ``schema``."""
    if not os.path.isdir(path):
        return []
    out = []
    for name in sorted(os.listdir(path)):
        if not name.endswith(".parquet") or name.startswith(("_", ".")):
            continue
        full = os.path.join(path, name)
        md = pq.read_metadata(full)
        ranges = _key_ranges(md, keys, schema)
        out.append(_Footer(full, os.path.getsize(full), md.num_rows, ranges))
    return out


def _key_ranges(
    md: pq.FileMetaData, keys: list[str], schema: pa.Schema
) -> list[tuple[pa.Scalar, pa.Scalar]] | None:
    """The (min, max) per key column that :func:`_write` recorded in a
    file's footer, cast to ``schema``; None for a file without them (one
    written by another tool, such as Spark) or with a null bound."""
    blob = (md.metadata or {}).get(_KEY_RANGES)
    if blob is None:
        return None
    bounds = pa.ipc.open_stream(base64.b64decode(blob)).read_all()
    if not set(keys) <= set(bounds.column_names):
        return None
    if any(bounds[k].null_count for k in keys):
        return None
    return [tuple(bounds[k].cast(schema.field(k).type)) for k in keys]


def _write(out: pa.Table, path: str, keys: list[str]) -> None:
    """Write ``out`` as one parquet file with timestamps as INT96, the type
    Spark writes, and its key ranges in the footer's key-value metadata."""
    bounds = pa.table(
        {k: pa.array([pc.min(out[k]), pc.max(out[k])], out[k].type) for k in keys}
    )
    buf = pa.BufferOutputStream()
    with pa.ipc.new_stream(buf, bounds.schema) as w:
        w.write_table(bounds)
    meta = {_KEY_RANGES: base64.b64encode(buf.getvalue().to_pybytes())}
    pq.write_table(
        out.replace_schema_metadata(meta), path, use_deprecated_int96_timestamps=True
    )


def _meets(f: _Footer, rows: pa.Table, keys: list[str]) -> bool:
    """May ``f`` hold a key of ``rows``: does any row's key lie inside the
    file's per-column ranges?"""
    if f.ranges is None:
        return True
    inside = functools.reduce(
        pc.and_,
        (
            pc.and_(pc.greater_equal(rows[k], lo), pc.less_equal(rows[k], hi))
            for k, (lo, hi) in zip(keys, f.ranges)
        ),
    )
    return bool(pc.any(inside).as_py())


def _predecessor(kept: list[_Footer], out: pa.Table, key: str) -> _Footer | None:
    """The kept file whose ``key`` range ends last before ``out``'s begins.
    Kept files always have ranges: a file without them is touched."""
    start = pc.min(out[key]).as_py()
    if start is None:  # every key null: nothing orders before it
        return None
    end = lambda f: f.ranges[0][1].as_py()  # noqa: E731
    return max((f for f in kept if end(f) < start), key=end, default=None)


def _read(f: _Footer, schema: pa.Schema) -> pa.Table:
    """A table file's rows in the batch's column order and types (Spark's
    INT96 timestamps read as UTC microseconds)."""
    t = pq.read_table(f.path, coerce_int96_timestamp_unit="us")
    return t.select(schema.names).cast(schema)


def _last_per_key(rows: pa.Table, keys: list[str]) -> pa.Table:
    """One row per key, the last delivered.  The hourly aggregate's update
    mode already emits one row per window and type; other producers may
    not."""
    if rows.num_rows < 2:
        return rows
    last = (
        rows.select(keys)
        .append_column("row", pa.array(range(rows.num_rows), pa.int64()))
        .group_by(keys)
        .aggregate([("row", "max")])
    )
    if last.num_rows == rows.num_rows:
        return rows
    return rows.take(last["row_max"])


def _link_or_copy(src: str, dst: str) -> None:
    try:
        os.link(src, dst)
    except OSError:  # e.g. a filesystem without hard links
        shutil.copy2(src, dst)


_UPSERT_ROW_TEMPLATE = "(%s, %s, %s, %s, %s, %s, %s, %s)"


def _upsert_sql_parts(table: str) -> tuple[str, str, str]:
    """(INSERT prefix, one-row VALUES template, ON CONFLICT suffix) — the
    pieces a multi-row statement is assembled from."""
    prefix = f"""
INSERT INTO {table}
  (window_start, window_end, event_type, event_count,
   unique_user_count, unique_session_count, total_duration_ms, avg_duration_ms)
VALUES """.strip()
    suffix = """
ON CONFLICT (window_start, event_type) DO UPDATE SET
  window_end = EXCLUDED.window_end,
  event_count = EXCLUDED.event_count,
  unique_user_count = EXCLUDED.unique_user_count,
  unique_session_count = EXCLUDED.unique_session_count,
  total_duration_ms = EXCLUDED.total_duration_ms,
  avg_duration_ms = EXCLUDED.avg_duration_ms
""".strip()
    return prefix, _UPSERT_ROW_TEMPLATE, suffix


def postgres_upsert_sql(table: str = "hourly_aggregations") -> str:
    """The production sink SQL (reference ``upsert_aggregation.sql:1-19``),
    single-row form, for use inside a ``foreachBatch`` that holds a
    JDBC/psycopg connection."""
    prefix, row_tpl, suffix = _upsert_sql_parts(table)
    return f"{prefix}{row_tpl}\n{suffix}"


def jdbc_upsert_sink(
    table: str, connection_factory: Callable, page_size: int = 500
) -> Callable[[DataFrame, int], None]:
    """foreachBatch upsert into Postgres through any DB-API connection
    factory (kept dependency-free).  Rows ship as multi-row VALUES
    statements of up to ``page_size`` tuples — the reference's
    ``execute_values`` batching (reference ``postgres_repository.py:83-88``)
    without the psycopg2 dependency; per-row ``executemany`` round-trips
    would dominate latency on wide backfill batches.  The per-key dedup is
    also what makes multi-row ON CONFLICT legal: Postgres rejects a
    statement that updates the same key twice."""
    prefix, row_tpl, suffix = _upsert_sql_parts(table)
    # The persisted record shape; the streaming aggregate additionally
    # carries the duration_ms_count helper column, which the upsert SQL's
    # 8 placeholders do not accept.
    cols = [f.name for f in HOURLY_AGGREGATION_SCHEMA.fields]

    def _sink(batch: DataFrame, batch_id: int) -> None:
        projected = batch.dropDuplicates(UPSERT_KEYS).select(
            *[
                (F.col(c) if c in batch.columns else F.lit(None)).alias(c)
                for c in cols
            ]
        )
        rows = [tuple(r) for r in projected.collect()]
        if not rows:
            return
        conn = connection_factory()
        try:
            with conn.cursor() as cur:
                for i in range(0, len(rows), page_size):
                    chunk = rows[i : i + page_size]
                    stmt = (
                        prefix + ", ".join([row_tpl] * len(chunk)) + "\n" + suffix
                    )
                    cur.execute(stmt, [v for row in chunk for v in row])
            conn.commit()
        except Exception:
            conn.rollback()  # reference: rollback+raise, postgres_repository.py:92-97
            raise
        finally:
            conn.close()

    return _sink


# ---------------------------------------------------------------------------
# pipeline driver
# ---------------------------------------------------------------------------


def start_pipeline(
    events: DataFrame,
    sink: Callable[[DataFrame, int], None],
    checkpoint_dir: str,
    flush_interval: str | None = "60 seconds",
    grace_period: str = "60 seconds",
    exact_distinct: bool = True,
    available_now: bool = False,
    query_name: str = "hourly-aggregation",
    dedup_ids: str | None = None,
) -> StreamingQuery:
    """events → [id dedup →] watermarked hourly agg → foreachBatch upsert.

    ``flush_interval`` = the reference's FLUSH_INTERVAL_SECONDS (A8);
    ``available_now=True`` = drain mode (the reference's shutdown
    ``flush_all`` / manual flush, A9); ``dedup_ids`` names an id column to
    drop at-least-once redeliveries within the grace period (one shared
    watermark serves both stateful operators)."""
    if dedup_ids is not None:
        events = dedup_event_stream(
            events, id_col=dedup_ids, within=grace_period
        )
    agg = streaming_hourly_aggregate(
        events,
        grace_period=grace_period,
        exact_distinct=exact_distinct,
        apply_watermark=dedup_ids is None,
    )
    writer = (
        agg.writeStream.outputMode("update")
        .option("checkpointLocation", checkpoint_dir)
        .queryName(query_name)
        .foreachBatch(sink)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    elif flush_interval is not None:
        writer = writer.trigger(processingTime=flush_interval)
    return writer.start()


def drain(query: StreamingQuery, timeout_seconds: float | None = None) -> None:
    """Process everything available, then stop — the manual-flush /
    shutdown-drain control path (reference ``flush_all``,
    ``aggregation_service.py:166-186``)."""
    query.processAllAvailable()
    query.stop()
    query.awaitTermination(timeout_seconds)


def pipeline_status(query: StreamingQuery) -> dict:
    """Engine-state introspection (reference A11 ``get_memory_stats`` /
    ``pipeline_status`` endpoints) straight from StreamingQueryProgress —
    no metrics-text scraping needed."""
    p = query.lastProgress
    state = (p.get("stateOperators") or [{}])[0] if p else {}
    return {
        "query_name": query.name,
        "is_active": query.isActive,
        "batch_id": p.get("batchId") if p else None,
        "num_input_rows": p.get("numInputRows") if p else None,
        "input_rows_per_second": p.get("inputRowsPerSecond") if p else None,
        "active_windows": state.get("numRowsTotal"),
        "state_rows_updated": state.get("numRowsUpdated"),
        "watermark": (p.get("eventTime") or {}).get("watermark") if p else None,
    }
