"""``stream_upsert``: drain a seeded backlog of JSONL wire-event files
through ``read_event_stream_json`` -> ``start_pipeline(available_now=True,
dedup_ids="event_id")`` -> ``ParquetUpsertSink``, one file per micro-batch.

One *round* drains the whole backlog into a fresh checkpoint and a sink
table pre-loaded with 3,600 rows of earlier windows.  Rounds repeat until
the run's seconds are spent, and at least twice, so that the throughput
is never one round's alone.  Every round does identical work, so its
outcome counts repeat exactly.
"""

from __future__ import annotations

import os
import shutil
import time

import duckdb
import pyarrow as pa

import gen
from checks import rows_equal
from measure import median, pct

FILES_PER_ROUND = 6
WARMUP_FILES = 4
MIN_ROUNDS = 2


class StreamUpsert:
    def __init__(self, ctx) -> None:
        self.ctx = ctx

    def setup(self, spark) -> None:
        w = self.ctx.work
        for d in ("in", "warm_in", "history.parquet"):
            shutil.rmtree(os.path.join(w, d), ignore_errors=True)
        self.events, self.stats = gen.wire_backlog(
            os.path.join(w, "in"), self.ctx.seed, FILES_PER_ROUND)
        gen.wire_backlog(os.path.join(w, "warm_in"), self.ctx.seed + 1,
                         WARMUP_FILES)
        gen.history_table(os.path.join(w, "history.parquet"), self.ctx.seed)
        self.ctx.load_table(spark, w, "history")

    def teardown(self) -> None:
        pass

    def warmup(self, spark) -> None:
        self._round(spark, "warm", os.path.join(self.ctx.work, "warm_in"))

    def _round(self, spark, tag: str, src: str) -> dict:
        from data_pipeline_zeal_spark.streaming import pipeline as P

        w = self.ctx.work
        sink_dir = os.path.join(w, f"sink_{tag}")
        ckpt = os.path.join(w, f"ckpt_{tag}")
        for d in (sink_dir, ckpt):
            shutil.rmtree(d, ignore_errors=True)
        shutil.copytree(os.path.join(w, "history.parquet"), sink_dir)
        sink = P.ParquetUpsertSink(sink_dir)
        tracer, jobs = self.ctx.tracer, self.ctx.jobs
        sink_ms: list[float] = []

        def traced_sink(batch, batch_id: int) -> None:
            with jobs.group(f"{tag}-sink-{batch_id}"), tracer.span(
                    "pipeline.sink.call", trace_id=f"{tag}-b{batch_id}"):
                t = time.perf_counter()
                sink(batch, batch_id)
                sink_ms.append((time.perf_counter() - t) * 1000.0)

        t0 = time.perf_counter()
        with tracer.span("streaming.pipeline.drain", trace_id=tag):
            q = P.start_pipeline(
                P.read_event_stream_json(spark, src, max_files_per_trigger=1),
                traced_sink if tracer.enabled else sink,
                ckpt,
                available_now=True,
                dedup_ids="event_id",
            )
            q.awaitTermination()
        wall = time.perf_counter() - t0
        if q.exception() is not None:
            raise RuntimeError(str(q.exception()))
        return {"wall": wall, "progress": list(q.recentProgress),
                "sink_dir": sink_dir, "sink_ms": sink_ms, "tag": tag}

    def measure(self, spark, seconds: float, phase: str) -> dict:
        src = os.path.join(self.ctx.work, "in")
        rounds: list[dict] = []
        t0 = time.perf_counter()
        # the round minimum is for the measured phase "m"; the phases of
        # a traced run need one round each, which keeps that run short
        least = MIN_ROUNDS if phase == "m" else 1
        while len(rounds) < least or time.perf_counter() - t0 < seconds:
            rounds.append(self._round(spark, f"{phase}{len(rounds)}", src))
        batch_ms = [float(p["durationMs"]["triggerExecution"])
                    for r in rounds for p in r["progress"]
                    if p["numInputRows"] > 0]
        events = len(self.events)
        return {
            "rounds": rounds,
            "throughput_per_s": median([events / r["wall"] for r in rounds]),
            "p50_ms": median(batch_ms),
            "p90_ms": pct(batch_ms, 90),
            "samples": len(batch_ms),
            "attempted": len(rounds),
            "named": {
                "stream_events_per_s": median([events / r["wall"] for r in rounds]),
                "stream_batch_p50_ms": median(batch_ms),
                "stream_batch_p90_ms": pct(batch_ms, 90),
            },
        }

    def layers(self, res: dict) -> dict:
        """Per-layer figures of the first traced round."""
        r = res["rounds"][0]
        data = [p for p in r["progress"] if p["numInputRows"] > 0]
        jobs = [self.ctx.jobs.counts(f"{r['tag']}-sink-{p['batchId']}")
                for p in data]
        dur = lambda k: [float(p["durationMs"].get(k, 0)) for p in data]  # noqa: E731
        ops = [s for p in r["progress"] for s in p["stateOperators"]]
        agg = [s for s in ops if s["operatorName"] != "dedupeWithinWatermark"]
        dedup = [s for s in ops if s["operatorName"] == "dedupeWithinWatermark"]
        trig, add, plan = dur("triggerExecution"), dur("addBatch"), dur("queryPlanning")
        sink_bytes = sum(os.path.getsize(os.path.join(dp, f))
                         for dp, _, fs in os.walk(r["sink_dir"]) for f in fs
                         if f.endswith(".parquet"))
        return {
            "op.build_ms": median(plan),
            "op.exec_ms": median(add),
            "op.outside_ms": median([t - a - b for t, a, b in zip(trig, add, plan)]),
            "spark.jobs_per_op": median([j["jobs"] for j in jobs]),
            "spark.stages_per_op": median([j["stages"] for j in jobs]),
            "spark.tasks_per_op": median([j["tasks"] for j in jobs]),
            "pipeline.batch.trigger_ms.p50": median(trig),
            "pipeline.batch.trigger_ms.p90": pct(trig, 90),
            "pipeline.batch.plan_ms": median(plan),
            "pipeline.batch.wal_ms": median(dur("walCommit")),
            "pipeline.sink.call_ms.p50": median(r["sink_ms"]),
            "pipeline.sink.call_ms.p90": pct(r["sink_ms"], 90),
            "pipeline.sink.table_rows": _table_rows(r["sink_dir"]),
            "pipeline.sink.bytes_written": sink_bytes,
            "pipeline.state.rows_total": agg[-1]["numRowsTotal"] if agg else 0,
            "pipeline.state.memory_bytes": agg[-1]["memoryUsedBytes"] if agg else 0,
            "pipeline.state.commit_ms": median([float(s["commitTimeMs"]) for s in agg]),
            "pipeline.parse.valid_ratio":
                self.stats["valid_lines"] / self.stats["lines"],
            "pipeline.dedup.dropped_rows": sum(
                s.get("customMetrics", {}).get("numDroppedDuplicateRows", 0)
                for s in dedup),
            "pipeline.state.dropped_by_watermark": sum(
                s["numRowsDroppedByWatermark"] for s in ops),
            "pipeline.jobs_per_batch": median([j["jobs"] for j in jobs]),
        }

    def check(self, res: dict) -> int:
        """Compare each round's sink table with DuckDB's aggregate over the
        generator's deduplicated valid events plus the history rows, and
        each round's input lines, dropped duplicates and late rows with the
        generator's counts (no event is generated behind the watermark).
        Returns the number of rounds that differ."""
        con = duckdb.connect()
        con.register("wire", pa.Table.from_pylist(self.events))
        con.execute("CREATE VIEW ev AS SELECT * EXCLUDE (timestamp), "
                    "CAST(timestamp AS TIMESTAMP) AS ts FROM wire")
        cols = ("epoch_us(window_start), event_type, event_count, unique_user_count, "
                "unique_session_count, total_duration_ms, duration_ms_count, "
                "avg_duration_ms")
        hist = os.path.join(self.ctx.work, "history.parquet")
        want = con.execute(f"""
            SELECT {cols} FROM read_parquet('{hist}/*.parquet')
            UNION ALL
            SELECT epoch_us(time_bucket(INTERVAL 1 HOUR, ts)), event_type, count(*),
                   count(DISTINCT user_id), count(DISTINCT session_id),
                   sum(duration_ms), count(duration_ms), avg(duration_ms)
            FROM ev GROUP BY 1, 2
            ORDER BY 1, 2""").fetchall()
        bad = 0
        for r in res["rounds"]:
            got = con.execute(f"SELECT {cols} FROM read_parquet("
                              f"'{r['sink_dir']}/*.parquet') ORDER BY 1, 2"
                              ).fetchall()
            lines = sum(p["numInputRows"] for p in r["progress"])
            ops = [s for p in r["progress"] for s in p["stateOperators"]]
            dropped = sum(s.get("customMetrics", {}).get(
                "numDroppedDuplicateRows", 0) for s in ops)
            late = sum(s["numRowsDroppedByWatermark"] for s in ops)
            if (lines, dropped, late) != (
                    self.stats["lines"], self.stats["duplicates"], 0) or \
                    not rows_equal(got, want):
                bad += 1
        con.close()
        return bad


def _table_rows(sink_dir: str) -> int:
    return duckdb.sql(
        f"SELECT count(*) FROM read_parquet('{sink_dir}/*.parquet')"
    ).fetchone()[0]
