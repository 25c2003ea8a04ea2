"""ParquetUpsertSink: file-level copy-on-write upsert.

The sink rewrites only the parquet files a micro-batch's keys can fall in
and hard-links the rest, so these tests pin the file-level contract on
top of the row-level one: untouched files keep their inode, an empty
batch writes nothing, a crashed swap or write is recovered, a table Spark
wrote first (no timestamp statistics) upserts without a schema change,
and several micro-batches over advancing hours still equal the batch
aggregate while the file count stays bounded.
"""

from __future__ import annotations

import json
import os
import shutil

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq

from data_pipeline_zeal_spark.operators.hourly import aggregate_events
from data_pipeline_zeal_spark.streaming.pipeline import (
    ParquetUpsertSink,
    parse_events,
    read_event_stream_json,
    start_pipeline,
)

TYPES = ["page_view", "click", "search"]


def _event(eid: str, ts: str, etype: str, user: str, duration: int | None) -> str:
    return json.dumps(
        {
            "event_id": eid,
            "user_id": user,
            "event_type": etype,
            "timestamp": ts,
            "session_id": f"s_{user}",
            "page_url": None,
            "duration_ms": duration,
            "metadata": None,
        }
    )


def _hour(h: int, n: int = 12) -> list[str]:
    """``n`` events in hour ``h`` of 2024-01-01, every type present."""
    return [
        _event(f"h{h}-{i}", f"2024-01-01 {h:02d}:{i * 4:02d}:00", TYPES[i % 3],
               f"user_{i % 4}", None if i % 4 == 0 else 100 * (h + i))
        for i in range(n)
    ]


def _events(spark, lines: list[str]):
    raw = spark.createDataFrame([(x,) for x in lines], "raw string")
    return parse_events(raw)


def _agg(spark, lines: list[str]):
    """The hourly aggregate of ``lines`` — the rows a micro-batch carries."""
    return aggregate_events(
        _events(spark, lines),
        ts_col="timestamp",
        session_col="session_id",
        value_col="duration_ms",
    )


def _rows(df) -> set[tuple]:
    return {tuple(sorted(r.asDict().items())) for r in df.collect()}


def _inodes(path: str) -> dict[str, int]:
    return {n: os.stat(os.path.join(path, n)).st_ino for n in os.listdir(path)}


def _leftovers(path: str) -> list[str]:
    parent, base = os.path.split(path)
    return [
        n for n in os.listdir(parent)
        if n.startswith((f"{base}.__tmp_", f"{base}.__old_"))
    ]


def test_upsert_is_last_write_wins_and_idempotent(spark, tmp_path):
    path = str(tmp_path / "agg")
    sink = ParquetUpsertSink(path)
    sink(_agg(spark, _hour(10) + _hour(11)), 0)
    update = _agg(spark, _hour(11, n=3) + _hour(12))
    sink(update, 1)
    sink(update, 1)  # replayed batch: same table
    want = _rows(_agg(spark, _hour(10))) | _rows(update)
    assert _rows(sink.read(spark)) == want
    assert all(n.endswith(".parquet") for n in os.listdir(path))
    assert not _leftovers(path)


def test_batch_with_repeated_keys_keeps_the_last_row_per_key(spark, tmp_path):
    """A producer other than the hourly aggregate may send one key twice
    in a batch: the table gets one row per key, the later one."""
    path = str(tmp_path / "agg")
    sink = ParquetUpsertSink(path)
    sink(_agg(spark, _hour(9)), 0)
    first = _agg(spark, _hour(10))
    last = _agg(spark, _hour(10, n=3) + _hour(11))
    sink(first.unionByName(last), 1)
    got = sink.read(spark)
    assert got.count() == got.select(*sink.keys).distinct().count() == 9
    assert _rows(got) == _rows(_agg(spark, _hour(9))) | _rows(last)


def test_sink_table_reads_like_a_spark_written_one(spark, tmp_path):
    """Spark and DuckDB see the same column order and types in a table the
    sink created as in one ``df.write.parquet`` wrote from the same rows."""
    batch = _agg(spark, _hour(10) + _hour(11))
    spark_path, sink_path = str(tmp_path / "spark"), str(tmp_path / "sink")
    batch.write.parquet(spark_path)
    ParquetUpsertSink(sink_path)(batch, 0)
    assert spark.read.parquet(sink_path).schema == spark.read.parquet(spark_path).schema

    def duck(path: str) -> list[tuple]:
        return duckdb.sql(
            f"DESCRIBE SELECT * FROM read_parquet('{path}/*.parquet')"
        ).fetchall()

    assert duck(sink_path) == duck(spark_path)
    assert ("window_start", "TIMESTAMP") in {r[:2] for r in duck(sink_path)}


def test_empty_batch_writes_nothing(spark, tmp_path):
    """The drain's final no-data batch must not rewrite the table."""
    path = str(tmp_path / "agg")
    sink = ParquetUpsertSink(path)
    batch = _agg(spark, _hour(10) + _hour(11))
    sink(batch, 0)
    before = _inodes(path)
    sink(batch.limit(0), 1)
    assert _inodes(path) == before
    assert not _leftovers(path)


def test_crashed_swap_is_rolled_back(spark, tmp_path):
    """A crash between the swap's two renames leaves only
    ``<path>.__old_<id>``; the next call rolls it back, then upserts."""
    path = str(tmp_path / "agg")
    sink = ParquetUpsertSink(path)
    sink(_agg(spark, _hour(10)), 0)
    os.rename(path, f"{path}.__old_1")
    batch = _agg(spark, _hour(11))
    sink(batch, 2)
    assert _rows(sink.read(spark)) == _rows(_agg(spark, _hour(10) + _hour(11)))
    assert not _leftovers(path)


def test_stale_tmp_is_cleared_before_reuse(spark, tmp_path):
    """A crashed write leaves ``<path>.__tmp_<id>`` holding files of its
    own; reusing that id must not carry them into the table."""
    path = str(tmp_path / "agg")
    sink = ParquetUpsertSink(path)
    sink(_agg(spark, _hour(10)), 0)
    stale = f"{path}.__tmp_1"
    os.makedirs(stale)
    junk = ParquetUpsertSink(str(tmp_path / "junk"))
    junk(_agg(spark, _hour(20)), 0)
    for n in os.listdir(junk.path):
        shutil.copy(os.path.join(junk.path, n), stale)
    sink(_agg(spark, _hour(11)), 1)
    assert _rows(sink.read(spark)) == _rows(_agg(spark, _hour(10) + _hour(11)))
    assert not _leftovers(path)


def test_spark_written_table_upserts_with_unchanged_schema(spark, tmp_path):
    """A table first written by ``df.write.parquet`` stores timestamps as
    INT96, whose footers carry no min/max: its files count as overlapping,
    and the upserted table reads back with the same schema and order."""
    path = str(tmp_path / "agg")
    _agg(spark, _hour(10) + _hour(11)).repartition(2).write.parquet(path)
    spark_files = [n for n in os.listdir(path) if n.endswith(".parquet")]
    for n in spark_files:
        md = pq.read_metadata(os.path.join(path, n))
        ws = md.schema.names.index("window_start")
        assert md.row_group(0).column(ws).statistics is None
    schema = spark.read.parquet(path).schema

    batch = _agg(spark, _hour(11, n=3) + _hour(12))
    ParquetUpsertSink(path)(batch, 0)

    got = spark.read.parquet(path)
    assert got.schema == schema
    assert _rows(got) == _rows(_agg(spark, _hour(10))) | _rows(batch)
    assert not set(spark_files) & set(os.listdir(path))  # all rewritten
    assert all(n.endswith(".parquet") for n in os.listdir(path))


def _pydict(t: pa.Table) -> dict[str, list]:
    """``t``'s columns as Python lists, timestamps as naive UTC datetimes:
    the table files hold INT96, which reads back without a zone."""
    return {
        n: (c.cast(pa.timestamp("us")) if pa.types.is_timestamp(c.type) else c)
        .to_pylist()
        for n, c in zip(t.column_names, t.columns)
    }


class _Recorder:
    """Wraps a sink; per call, records the batch keys and the table's files
    (inode, rows, key box) before and after."""

    def __init__(self, sink: ParquetUpsertSink) -> None:
        self.sink, self.calls = sink, []

    def _files(self) -> dict[str, tuple]:
        out = {}
        for n in sorted(os.listdir(self.sink.path)):
            p = os.path.join(self.sink.path, n)
            t = _pydict(pq.read_table(p, coerce_int96_timestamp_unit="us"))
            box = [(min(t[k]), max(t[k])) for k in self.sink.keys]
            out[n] = (os.stat(p).st_ino, len(t["event_type"]), box)
        return out

    def __call__(self, batch, batch_id: int) -> None:
        batch.persist()
        t = _pydict(batch.select(self.sink.keys).toArrow())
        keys = list(zip(*(t[k] for k in self.sink.keys)))
        before = self._files()
        self.sink(batch, batch_id)
        self.calls.append((keys, before, self._files()))
        batch.unpersist()


def test_multi_batch_stream_equals_batch_and_touches_only_met_files(spark, tmp_path):
    """One file per micro-batch over six hours, after a history of eight:
    a redelivered id and an in-watermark late event into an older hour
    ride along.  The sink must equal the batch aggregate of the
    deduplicated events, leave every file its keys miss in place (save
    the small-file fold, which only reaches back to a no-larger file
    before the batch's keys), and keep the file count bounded."""
    path = str(tmp_path / "agg")
    history = [x for h in range(2, 10) for x in _hour(h)]
    ParquetUpsertSink(path)(_agg(spark, history), 0)

    files = [_hour(h) for h in range(10, 16)]
    files[3] += [files[1][0], _event("late", "2024-01-01 11:30:00", "click",
                                     "user_9", 777)]
    src = tmp_path / "in"
    src.mkdir()
    for i, lines in enumerate(files):
        p = src / f"part-{i}.jsonl"
        p.write_text("\n".join(lines))
        os.utime(p, (1_700_000_000 + i, 1_700_000_000 + i))

    rec = _Recorder(ParquetUpsertSink(path))
    q = start_pipeline(
        read_event_stream_json(spark, str(src), max_files_per_trigger=1),
        rec,
        str(tmp_path / "ckpt"),
        available_now=True,
        dedup_ids="event_id",
        grace_period="3 hours",
    )
    q.awaitTermination(180)
    assert q.exception() is None

    deduped = _events(spark, history + [x for f in files for x in f])
    want = aggregate_events(
        deduped.dropDuplicates(["event_id"]),
        ts_col="timestamp",
        session_col="session_id",
        value_col="duration_ms",
    )
    assert _rows(rec.sink.read(spark)) == _rows(want)

    data = [c for c in rec.calls if c[0]]
    assert len(data) == len(files)
    history_file = next(iter(data[0][1].values()))
    folds = 0
    for keys, before, after in rec.calls:
        if not keys:  # an empty batch leaves the table alone
            assert after == before
            continue
        alive = {ino for ino, _, _ in after.values()}
        assert history_file[0] in alive
        first = min(ws for ws, _ in keys)
        for ino, n_rows, box in before.values():
            met = any(
                all(lo <= v <= hi for v, (lo, hi) in zip(key, box)) for key in keys
            )
            if met or ino in alive:
                continue
            # a missed file left only by the fold: it ends before every
            # batch key and holds no more rows than what absorbed it
            folds += 1
            assert box[0][1] < first
            assert n_rows <= max(n for _, n, _ in after.values())
    assert folds >= 1
    # the late batch (hour 13 + hour 11) misses hour 12's file
    late_keys, late_before, late_after = data[3]
    assert {ws.hour for ws, _ in late_keys} == {11, 13}
    hour12 = [v for v in late_before.values() if v[2][0][0].hour == 12]
    assert hour12 and hour12[0][0] in {ino for ino, _, _ in late_after.values()}
    # seven files without folding (history + one per hour); at most four
    assert max(len(after) for _, _, after in rec.calls) <= 4
    assert not _leftovers(path)
