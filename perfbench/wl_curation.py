"""``llm_curation``: one pass = the fixed curation query list, run through
``__spark_entry__.queries()[name]`` in a seeded order, each result
delivered to the Spark driver as Arrow.  Passes repeat until the run's seconds
are spent; a warm-up pass comes first.

Cache hygiene: before every query the session cache is cleared, leftover
persistent / localCheckpoint RDDs are unpersisted and
``retrieval._BM25_BUILD_CACHE`` is emptied, so every pass would pay a
BM25 index build (none of the listed queries builds one today).  The
similarity planes cache and the io schema cache stay warm after the
warm-up pass, so no timed pass pays them.

Correctness: each result is compared with the query's ``oracle_sql()``
run by DuckDB over the same parquet.  Oracles that take minutes at this
corpus size, and oracles pinned to other fixtures, are compared with the
reference rows in ``pinned/`` (see ``pin.py``).
"""

from __future__ import annotations

import os
import sys
import time

import duckdb
import numpy as np

import gen
import pin
from checks import unordered_equal
from measure import median, pct

QUERIES = [
    "dedup_minhash_lsh_pairs", "dedup_simhash", "dedup_pipeline",
    "semdedup_survivors", "sim_cosine_topk", "sim_lsh_topk", "text_stats",
    "text_quality_classifier", "text_bm25_topk", "corpus_decontaminate",
]
N_DOCS = 1_000
N_VECS = 2_000
TABLES = ["documents", "embeddings"]


def write_corpus(fx: str) -> None:
    os.makedirs(fx, exist_ok=True)
    gen.documents_table(os.path.join(fx, "documents.parquet"), N_DOCS)
    gen.embeddings_table(os.path.join(fx, "embeddings.parquet"), N_VECS)


class LlmCuration:
    def __init__(self, ctx) -> None:
        self.ctx = ctx

    def setup(self, spark) -> None:
        import __spark_entry__ as em

        self.fx = os.path.join(self.ctx.work, "corpus")
        write_corpus(self.fx)
        for t in TABLES:
            self.ctx.load_table(spark, self.fx, t)
        self.registry = em.queries()
        order = np.random.default_rng(self.ctx.seed).permutation(len(QUERIES))
        self.order = [QUERIES[i] for i in order]

    def teardown(self) -> None:
        pass

    def _clean(self, spark) -> None:
        from data_pipeline_zeal_spark.operators import retrieval

        spark.catalog.clearCache()
        for rdd in list(spark.sparkContext._jsc.getPersistentRDDs().values()):
            rdd.unpersist(False)
        retrieval._BM25_BUILD_CACHE.clear()

    def _pass(self, spark, tag: str) -> dict:
        tracer, jobs = self.ctx.tracer, self.ctx.jobs
        per: dict[str, dict] = {}
        t0 = time.perf_counter()
        for name in self.order:
            self._clean(spark)
            group = f"{tag}-{name}"
            with jobs.group(group), tracer.span(f"curation.{name}",
                                                trace_id=tag):
                t = time.perf_counter()
                with tracer.span("queries.build"):
                    df = self.registry[name](spark, self.fx)
                tb = time.perf_counter()
                with tracer.span("queries.exec"):
                    result = df.toArrow()
                te = time.perf_counter()
            per[name] = {"build_ms": (tb - t) * 1000.0,
                         "exec_ms": (te - tb) * 1000.0,
                         "result": result, "group": group}
        self._clean(spark)
        return {"wall": time.perf_counter() - t0, "per": per}

    def warmup(self, spark) -> None:
        self._pass(spark, "warm")

    def measure(self, spark, seconds: float, phase: str) -> dict:
        passes: list[dict] = []
        t0 = time.perf_counter()
        while not passes or time.perf_counter() - t0 < seconds:
            passes.append(self._pass(spark, f"{phase}{len(passes)}"))
        q_ms = [q["build_ms"] + q["exec_ms"] for p in passes
                for q in p["per"].values()]
        job_s = median([p["wall"] for p in passes])
        return {
            "passes": passes,
            "throughput_per_s": len(QUERIES) / job_s,
            "p50_ms": median(q_ms),
            "p90_ms": pct(q_ms, 90),
            "samples": len(q_ms),
            "attempted": len(q_ms),
            "named": {"curation_job_s": job_s},
        }

    def layers(self, res: dict) -> dict:
        p = res["passes"][0]["per"]
        out: dict[str, float] = {}
        counts = {}
        for name in QUERIES:
            c = self.ctx.jobs.counts(p[name]["group"])
            counts[name] = c
            out[f"curation.{name}.build_ms"] = p[name]["build_ms"]
            out[f"curation.{name}.exec_ms"] = p[name]["exec_ms"]
            out[f"curation.{name}.jobs"] = c["jobs"]
            out[f"curation.{name}.tasks"] = c["tasks"]
        common = {
            "op.build_ms": median([q["build_ms"] for q in p.values()]),
            "op.exec_ms": median([q["exec_ms"] for q in p.values()]),
            "op.outside_ms": 1000.0 * res["passes"][0]["wall"] - sum(
                q["build_ms"] + q["exec_ms"] for q in p.values()),
            "spark.jobs_per_op": median([c["jobs"] for c in counts.values()]),
            "spark.stages_per_op": median([c["stages"] for c in counts.values()]),
            "spark.tasks_per_op": median([c["tasks"] for c in counts.values()]),
        }
        return {**common, **out}

    # -- correctness -----------------------------------------------------------
    def check(self, res: dict) -> int:
        """Number of (pass, query) results that differ from the oracle."""
        want: dict[str, object] = {}
        con = duckdb.connect()
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{self.fx}/{t}.parquet')")
        import __spark_entry__ as em

        oracles = em.oracle_sql()
        for name in QUERIES:
            if name in pin.PINS:
                want[name] = pin.load(name)
            else:
                cur = con.execute(oracles[name])
                cols = [d[0] for d in cur.description]
                want[name] = (cols, cur.fetchall())
        con.close()
        bad = 0
        for p in res["passes"]:
            for name, q in p["per"].items():
                if not result_matches(q["result"], want[name]):
                    print(f"perfbench: {name} differs from its oracle",
                          file=sys.stderr)
                    bad += 1
        return bad


def result_matches(table, want) -> bool:
    """``table`` is a pyarrow result; ``want`` is a pin (see ``pin.py``)
    or an oracle's ``(columns, rows)``."""
    if isinstance(want, dict):
        if want["kind"] == "exact_clusters":
            return refines_exact_clusters(table, want)
        want = (want["columns"], want["rows"])
    cols, rows = want
    if sorted(cols) != sorted(table.column_names):
        return False
    return unordered_equal(_rows(table, cols), rows)


def refines_exact_clusters(table, pin: dict) -> bool:
    """``semdedup_survivors`` from an approximate pair search: every
    vector once, each cluster named by its smallest member and lying
    inside one cluster of the exact oracle, survivors exactly the cluster
    names, and at least ``min_removed`` vectors removed."""
    exact = {v: c for v, c, _ in pin["rows"]}
    got = _rows(table, ["vec_id", "cluster_id", "is_survivor"])
    cluster = {v: c for v, c, _ in got}
    if len(got) != len(cluster) or cluster.keys() != exact.keys():
        return False
    for v, c, survivor in got:
        if c > v or cluster.get(c) != c or exact[c] != exact[v] or \
                survivor != int(c == v):
            return False
    return sum(1 for _, _, s in got if not s) >= pin["min_removed"]


def _rows(table, cols) -> list[tuple]:
    data = [table.column(c).to_pylist() for c in cols]
    return list(zip(*data)) if data else []
