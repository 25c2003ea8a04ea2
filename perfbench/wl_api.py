"""``api_mixed``: a closed loop of HTTP clients against ``QueryApiServer``
bound to a parquet aggregate table (3,600 rows = 30 days x 24 h x 5 types)
built in set-up from the generated sf0.1-shaped ``events`` table.

Each client sends its next request only after the previous reply, so a
slow server receives less load.  Requests come from the seeded route
script (:func:`gen.route_script`); every reply is kept and compared with
DuckDB over the served parquet after the timed loop.
"""

from __future__ import annotations

import datetime as dt
import http.client
import json
import os
import shutil
import threading
import time
import urllib.parse

import duckdb

import gen
from checks import rows_equal
from measure import median, pct

CLIENTS = 2
SCRIPT_LEN = 4_000
WARMUP_REQUESTS = 40
#: Requests in the traced phase: a fixed count, so job counts repeat.
TRACED_REQUESTS = 120


class ApiMixed:
    def __init__(self, ctx) -> None:
        self.ctx = ctx
        self.server = None

    def setup(self, spark) -> None:
        import __spark_entry__ as em
        from data_pipeline_zeal_spark.api_http import QueryApiServer

        w = self.ctx.work
        fx = os.path.join(w, "fixture")
        shutil.rmtree(fx, ignore_errors=True)
        os.makedirs(fx)
        gen.events_table(os.path.join(fx, "events.parquet"), self.ctx.seed)
        self.ctx.load_table(spark, fx, "events")
        # the served table is the registry's flagship hourly aggregate
        with self.ctx.tracer.span("queries.hourly_agg"):
            agg = em.queries()["hourly_agg"](spark, fx)
            agg.write.mode("overwrite").parquet(
                os.path.join(fx, "hourly_aggregations.parquet"))
        self.served = os.path.join(fx, "hourly_aggregations.parquet")
        self.table = self.ctx.load_table(spark, fx, "hourly_aggregations")
        self.script = gen.route_script(self.ctx.seed, SCRIPT_LEN)
        self.server = QueryApiServer(self.table).start()

    def teardown(self) -> None:
        if self.server is not None:
            self.server.stop()
            self.server = None

    def _get(self, path: str, params: dict) -> tuple[int, bytes]:
        conn = http.client.HTTPConnection("127.0.0.1", self.server.port,
                                          timeout=60)
        try:
            url = path + ("?" + urllib.parse.urlencode(params) if params else "")
            conn.request("GET", url)
            resp = conn.getresponse()
            return resp.status, resp.read()
        finally:
            conn.close()

    def _loop(self, seconds: float | None, count: int | None) -> dict:
        """Run the closed loop; stop after ``seconds`` or ``count`` requests."""
        lock = threading.Lock()
        state = {"next": 0}
        done: list[tuple] = []
        deadline = time.perf_counter() + seconds if seconds else None
        tracer = self.ctx.tracer

        def client() -> None:
            while True:
                with lock:
                    i = state["next"]
                    if (count is not None and i >= count) or \
                            (deadline is not None and time.perf_counter() >= deadline):
                        return
                    state["next"] = i + 1
                route, path, params = self.script[i % len(self.script)]
                with tracer.span("api_http.request", trace_id=f"req{i}",
                                 route=route):
                    t = time.perf_counter()
                    try:
                        status, body = self._get(path, params)
                    except (OSError, http.client.HTTPException) as exc:
                        # refused, reset or timed out: a failed request
                        status, body = None, repr(exc).encode()
                    ms = (time.perf_counter() - t) * 1000.0
                with lock:
                    done.append((i, route, ms, status, body))

        t0 = time.perf_counter()
        threads = [threading.Thread(target=client) for _ in range(CLIENTS)]
        for th in threads:
            th.start()
        for th in threads:
            th.join()
        # a request a client thread took but never finished is still sent
        return {"wall": time.perf_counter() - t0, "done": done,
                "sent": state["next"]}

    def warmup(self, spark) -> None:
        self._loop(None, WARMUP_REQUESTS)

    def measure(self, spark, seconds: float, phase: str) -> dict:
        traced = self.ctx.tracer.enabled
        if traced:
            before = set(self.ctx.jobs.tracker.getJobIdsForGroup(None))
            r = self._loop(None, TRACED_REQUESTS)
            r["jobs"] = len(set(self.ctx.jobs.tracker.getJobIdsForGroup(None))
                            - before)
        else:
            r = self._loop(seconds, None)
        ms = [d[2] for d in r["done"]]
        r.update({
            "throughput_per_s": len(ms) / r["wall"],
            "p50_ms": median(ms),
            "p90_ms": pct(ms, 90),
            "samples": len(ms),
            "attempted": r["sent"],
        })
        r["named"] = {"api_req_per_s": r["throughput_per_s"],
                      "api_p50_ms": r["p50_ms"], "api_p90_ms": r["p90_ms"]}
        return r

    def layers(self, res: dict) -> dict:
        from data_pipeline_zeal_spark.operators import api

        by_route: dict[str, list[float]] = {}
        for _, route, ms, _, _ in res["done"]:
            by_route.setdefault(route, []).append(ms)
        out = {f"api.route.{k}.p50_ms": median(v)
               for k, v in sorted(by_route.items())}
        # direct calls into operators.api, build + collect, outside the loop
        ops = {
            "get_aggregations": lambda: api.get_aggregations(
                self.table, event_type="click", limit=50, offset=10),
            "get_latest_aggregations": lambda: api.get_latest_aggregations(
                self.table, 20),
            "get_stats": lambda: api.get_stats(self.table),
            "get_event_types": lambda: api.get_event_types(self.table),
        }
        build, execs, counts = [], [], []
        for name, fn in ops.items():
            times = []
            for k in range(5):
                group = f"api-op-{name}-{k}"
                with self.ctx.jobs.group(group), self.ctx.tracer.span(
                        f"operators.api.{name}"):
                    t = time.perf_counter()
                    df = fn()
                    tb = time.perf_counter()
                    df.collect()
                    te = time.perf_counter()
                times.append((te - t) * 1000.0)
                build.append((tb - t) * 1000.0)
                execs.append((te - tb) * 1000.0)
                counts.append(self.ctx.jobs.counts(group))
            out[f"api.op.{name}_ms"] = median(times)
        route_ms = median([d[2] for d in res["done"] if d[1] != "health"])
        out.update({
            "op.build_ms": median(build),
            "op.exec_ms": median(execs),
            "op.outside_ms": route_ms - median(
                [b + e for b, e in zip(build, execs)]),
            "spark.jobs_per_op": median([c["jobs"] for c in counts]),
            "spark.stages_per_op": median([c["stages"] for c in counts]),
            "spark.tasks_per_op": median([c["tasks"] for c in counts]),
            "api.jobs_per_request": res["jobs"] / len(res["done"]),
        })
        return out

    # -- correctness -----------------------------------------------------------
    def check(self, res: dict) -> int:
        """Compare every reply with DuckDB over the served parquet; count
        mismatches (a wrong status, a connection error and a request
        that got no reply count too)."""
        con = duckdb.connect()
        con.execute(f"CREATE VIEW agg AS SELECT * FROM "
                    f"read_parquet('{self.served}/*.parquet')")
        cols = [c[0] for c in con.execute("DESCRIBE agg").fetchall()]
        memo: dict[int, tuple] = {}
        bad = res["attempted"] - len(res["done"])
        for i, route, _, status, body in res["done"]:
            key = i % len(self.script)
            if key not in memo:
                memo[key] = self._expected(con, cols, *self.script[key])
            want_status, want_rows, want_cols = memo[key]
            if status != want_status:
                bad += 1
                continue
            doc = json.loads(body)
            if route == "health":
                bad += doc != {"status": "healthy"}
                continue
            if want_rows is None:
                continue
            got = [[_value(rec[c]) for c in want_cols] for rec in doc["records"]]
            if doc["count"] != len(got) or not rows_equal(got, want_rows):
                bad += 1
        con.close()
        return bad

    def _expected(self, con, cols, route, path, params):
        p = dict(params)
        try:
            limit = int(p.get("limit", 100 if route == "list" else 10))
            offset = int(p.get("offset", 0))
            for k in ("from_time", "to_time"):
                if k in p:
                    dt.datetime.fromisoformat(p[k])
        except ValueError:
            return 422, None, None
        if route == "list" and not (1 <= limit <= 1000 and offset >= 0):
            return 422, None, None
        if route == "latest" and not 1 <= limit <= 100:
            return 422, None, None
        if route == "health":
            return 200, None, None
        if route == "list":
            show = ["window_start", "window_end", "event_type", "event_count",
                    "unique_user_count", "total_value", "avg_value"]
            where, args = [], []
            if "event_type" in p:
                where.append("event_type = ?")
                args.append(p["event_type"])
            if "from_time" in p:
                where.append("window_start >= CAST(? AS TIMESTAMP)")
                args.append(p["from_time"])
            if "to_time" in p:
                where.append("window_end <= CAST(? AS TIMESTAMP)")
                args.append(p["to_time"])
            sql = (f"SELECT {', '.join(_epoch(c) for c in show)} FROM agg "
                   + (f"WHERE {' AND '.join(where)} " if where else "")
                   + f"ORDER BY window_start DESC, event_type "
                     f"LIMIT {limit} OFFSET {offset}")
            return 200, con.execute(sql, args).fetchall(), show
        if route == "latest":
            sql = (f"SELECT {', '.join(_epoch(c) for c in cols)} FROM agg "
                   f"ORDER BY window_start DESC, event_type LIMIT {limit}")
            return 200, con.execute(sql).fetchall(), cols
        if route == "stats":
            show = ["event_type", "total_events", "total_unique_users",
                    "avg_events_per_window", "window_count"]
            sql = """SELECT event_type, CAST(sum(event_count) AS BIGINT),
                            CAST(sum(unique_user_count) AS BIGINT),
                            round(avg(event_count), 4), count(*)
                     FROM agg GROUP BY 1 ORDER BY 2 DESC, 1"""
            return 200, con.execute(sql).fetchall(), show
        sql = "SELECT DISTINCT event_type FROM agg ORDER BY 1"
        return 200, con.execute(sql).fetchall(), ["event_type"]


def _epoch(col: str) -> str:
    if col in ("window_start", "window_end"):
        return f"epoch_us({col})"
    return col


def _value(v):
    """JSON reply cell -> comparable value (timestamps to epoch micros)."""
    if isinstance(v, str) and len(v) >= 19 and v[4] == "-" and v[10] == "T":
        t = dt.datetime.fromisoformat(v).replace(tzinfo=dt.timezone.utc)
        return int(t.timestamp()) * 1_000_000 + t.microsecond
    return v
