"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root.  Builds every input from ``--seed`` under
``perfbench/.work`` (removed again at exit), sets the program up
``SETUP_REPS`` times, each from a fresh JVM, and reports the median
set-up time, warms the measured path, then
measures for ``--seconds`` and checks the outputs outside the timed
region.  The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}`` - the end-to-end
metrics with ``--trace 0``; with ``--trace 1`` the per-layer metrics of a
traced phase run between two untraced ones, plus the tracing overhead.
The lines before it are a readable report (every metric with its unit and
sample count); the spans of a traced run are written to
``perfbench/.last_trace.jsonl``.  Workloads and metrics: ``METRICS.md``.
"""

from __future__ import annotations

import argparse
import os
import shutil
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
TRACE_FILE = os.path.join(HERE, ".last_trace.jsonl")

#: Set-up repetitions per run, each launching its own JVM; ``setup_s`` is
#: their median.
SETUP_REPS = 2

class Ctx:
    """What a workload gets from the harness."""

    def __init__(self, seed: int, tracer) -> None:
        self.seed = seed
        self.work = WORK
        self.tracer = tracer
        self.jobs = None  # a JobCounter, once the session is up
        self.load_ms: list[float] = []

    def load_table(self, spark, sf_dir: str, name: str):
        from data_pipeline_zeal_spark.io import load_table

        t = time.perf_counter()
        with self.tracer.span("io.load_table", table=name):
            df = load_table(spark, sf_dir, name)
        self.load_ms.append((time.perf_counter() - t) * 1000.0)
        return df


def _workloads():
    from wl_api import ApiMixed
    from wl_curation import LlmCuration
    from wl_stream import StreamUpsert

    return {
        "stream_upsert": StreamUpsert,
        "api_mixed": ApiMixed,
        "llm_curation": LlmCuration,
    }


def start_session(nproc: int):
    from data_pipeline_zeal_spark.session import get_spark

    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    return get_spark(
        app_name="perfbench",
        master=f"local[{nproc}]",
        shuffle_partitions=nproc,
        extra_conf={
            "spark.local.dir": tmp,
            "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
                f"-Dderby.system.home={tmp}",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.ui.showConsoleProgress": "false",
        },
    )


def stop_jvm(timeout: float = 60.0) -> None:
    """End the JVM PySpark launched and wait for it and everything it
    started (the Python worker daemon) to exit.  The JVM leaves when its
    stdin closes."""
    from pyspark import SparkContext

    from measure import descendants

    gw = SparkContext._gateway
    if gw is None:
        return
    gw.shutdown()
    gw.proc.stdin.close()
    gw.proc.wait(timeout=timeout)
    SparkContext._gateway = SparkContext._jvm = None
    deadline = time.monotonic() + timeout
    while descendants(os.getpid()) and time.monotonic() < deadline:
        time.sleep(0.1)


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _fmt(v) -> str:
    return f"{v:.6g}" if isinstance(v, float) else str(v)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "data_pipeline_zeal_spark")) or \
            not os.path.isfile(os.path.join(ROOT, "__spark_entry__.py")):
        print(f"perfbench: the program is not in {ROOT}", file=sys.stderr)
        return 2
    sys.path[:0] = [HERE, ROOT]
    os.environ["TZ"] = "UTC"
    time.tzset()

    from measure import JobCounter, RssSampler, Tracer, live_memory_mb, median

    workloads = _workloads()
    if args.workload not in workloads:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"one of {sorted(workloads)}", file=sys.stderr)
        return 2
    nproc = len(os.sched_getaffinity(0))
    shutil.rmtree(WORK, ignore_errors=True)
    os.makedirs(os.path.join(WORK, "tmp"))
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    tempfile.tempdir = os.environ["TMPDIR"]

    t_start = time.perf_counter()
    phases: dict[str, float] = {}
    tracer = Tracer(enabled=False)
    ctx = Ctx(args.seed, tracer)
    wl = workloads[args.workload](ctx)
    rss = RssSampler().start()
    spark = None
    report: list[str] = []
    try:
        # -- set-up, several times, each from a fresh JVM ------------------
        reps, session_s = [], []
        for _ in range(SETUP_REPS):
            if spark is not None:
                wl.teardown()
                spark.stop()
                stop_jvm()
            t = time.perf_counter()
            spark = start_session(nproc)
            session_s.append(time.perf_counter() - t)
            ctx.jobs = JobCounter(spark.sparkContext)
            driver_memory = spark.sparkContext.getConf().get(
                "spark.driver.memory", "default")
            wl.setup(spark)
            reps.append(time.perf_counter() - t)
        phases = {"setup": time.perf_counter()}
        wl.warmup(spark)
        phases["warmup"] = time.perf_counter()
        res = wl.measure(spark, args.seconds, phase="m")
        phases["measure"] = time.perf_counter()
        live = live_memory_mb(spark)
        failed = wl.check(res)
        phases["check"] = time.perf_counter()
        metrics = {
            "throughput_per_s": res["throughput_per_s"],
            "p50_ms": res["p50_ms"],
            "setup_s": median(reps),
            "live_mem_mb": sum(live.values()),
        }
        layer: dict[str, float] = {}
        if args.trace:
            # untraced, traced, untraced again: the overhead is taken
            # against the mean of the two untraced phases, which cancels
            # a steady drift (the JVM is still getting faster).  The extra
            # phases run half as long, so the run stays within its limit.
            tracer.enabled = True
            tres = wl.measure(spark, args.seconds / 2, phase="t")
            tracer.enabled = False
            ures = wl.measure(spark, args.seconds / 2, phase="u")
            for r in (tres, ures):
                failed += wl.check(r)
                res["attempted"] += r["attempted"]
            base = {k: (res[k] + ures[k]) / 2.0
                    for k in ("p50_ms", "throughput_per_s")}
            layer = {
                "session.start_s": median(session_s),
                "io.load_table_ms": median(ctx.load_ms),
                **wl.layers(tres),
                "trace.overhead_p50_ms": tres["p50_ms"] - base["p50_ms"],
                "trace.overhead_throughput_pct":
                    100.0 * (base["throughput_per_s"] - tres["throughput_per_s"])
                    / base["throughput_per_s"],
                "trace.spans": len(tracer.spans),
            }
            for name, ms in sorted(tracer.self_times_ms().items()):
                report.append(f"  self time {name:<34} {ms:12.1f} ms")
            tracer.write(TRACE_FILE)
    finally:
        try:
            if spark is not None:
                wl.teardown()
                spark.stop()
                stop_jvm()
        finally:
            peak = rss.stop()
            shutil.rmtree(WORK, ignore_errors=True)
    if res["attempted"] == 0:
        print("perfbench: no operation was attempted", file=sys.stderr)
        return 1
    marks = [("start", t_start)] + list(phases.items()) + [("end", time.perf_counter())]
    print("perfbench phases: " + " ".join(
        f"{b[0]}={b[1] - a[1]:.1f}s" for a, b in zip(marks, marks[1:])),
        file=sys.stderr)

    import json

    named = {**res.get("named", {}), "setup_s": metrics["setup_s"],
             "live_mem_mb": metrics["live_mem_mb"], **live, "peak_rss_mb": peak,
             "error_rate": failed / max(1, res["attempted"])}
    print(f"perfbench {args.workload} seed={args.seed} "
          f"master=local[{nproc}] shuffle.partitions={nproc} "
          f"driver.memory={driver_memory} "
          f"seconds={args.seconds:g} trace={args.trace} "
          f"samples={res['samples']} attempted={res['attempted']} failed={failed}")
    for k, v in named.items():
        print(f"  {k:<36} {_fmt(v):>14} {_named_unit(k)}")
    for k, v in layer.items():
        print(f"  {k:<36} {_fmt(v):>14}")
    for line in report:
        print(line)
    out = layer if args.trace else metrics
    units = _units("per_layer" if args.trace else "end_to_end")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": int(res["attempted"]),
        "failed": int(failed),
        "metrics": {k: {"value": out[k], "unit": units[k]} for k in units},
    }))
    return 0


def _named_unit(k: str) -> str:
    for suffix, unit in (("_per_s", "1/s"), ("_ms", "ms"), ("_mb", "MB"),
                         ("_s", "s")):
        if k.endswith(suffix):
            return unit
    return "ratio"


def _units(section: str) -> dict[str, str]:
    """Metric name -> unit for one metric list of ``BENCHMARK.json``."""
    import json

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)[section]}


if __name__ == "__main__":
    sys.exit(main())
