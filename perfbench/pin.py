"""Regenerate ``pinned/<query>.jsonl``: the reference outputs of the
curation queries whose result cannot be checked live in every run.

    python3 perfbench/pin.py [query ...]

Each file holds one JSON line of metadata (``kind``, ``columns``) and then
one JSON array per row.  Results are compared with the same float
tolerance and order-insensitive match as the live oracles.

* ``oracle`` - the query's own DuckDB ``oracle_sql()``, run once over the
  benchmark corpus; it takes minutes at this size (an O(n^2) pair
  self-join), too slow for every run.
* ``regression`` - the Spark result on the benchmark corpus, recorded when
  the pin was made, for queries whose oracle only knows the repository's
  sf0.001 / sf0.01 test fixtures and returns a sentinel row on any other
  corpus (``sim_lsh_topk``, ``text_quality_classifier``).  Regenerate only
  after a change that is meant to alter the result, and say so.
* ``exact_clusters`` - ``semdedup_survivors``: at 2,000 vectors
  ``method="auto"`` takes an approximate candidate path that finds a
  subset of the exact near-duplicate pairs, so its clusters only refine
  the exact oracle's.  The pin holds the exact oracle's rows and
  ``min_removed``, the number of rows the Spark result removed when the
  pin was made; a change toward the exact result removes more and still
  passes.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

PIN_DIR = os.path.join(HERE, "pinned")
PINS = {
    "dedup_minhash_lsh_pairs": "oracle",
    "dedup_pipeline": "oracle",
    "sim_lsh_topk": "regression",
    "text_quality_classifier": "regression",
    "semdedup_survivors": "exact_clusters",
}


def load(name: str) -> dict:
    """``{"kind", "columns", ..., "rows"}`` of one pinned query."""
    with open(os.path.join(PIN_DIR, f"{name}.jsonl")) as fh:
        meta = json.loads(fh.readline())
        meta["rows"] = [json.loads(line) for line in fh]
    return meta


def _write(name: str, meta: dict, rows: list) -> None:
    os.makedirs(PIN_DIR, exist_ok=True)
    with open(os.path.join(PIN_DIR, f"{name}.jsonl"), "w") as fh:
        fh.write(json.dumps(meta, sort_keys=True) + "\n")
        for r in sorted(rows, key=lambda r: json.dumps(r)):
            fh.write(json.dumps(list(r)) + "\n")


def main(argv: list[str]) -> int:
    import duckdb

    import __spark_entry__ as em
    import wl_curation as C
    from run import WORK, start_session

    names = argv or list(PINS)
    unknown = set(names) - set(PINS)
    if unknown:
        print(f"pin: not pinned: {sorted(unknown)}", file=sys.stderr)
        return 2
    os.environ["TZ"] = "UTC"
    time.tzset()
    fx = os.path.join(WORK, "pin_corpus")
    shutil.rmtree(fx, ignore_errors=True)
    C.write_corpus(fx)
    con = duckdb.connect()
    for t in C.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{fx}/{t}.parquet')")
    oracles = em.oracle_sql()
    for name in names:
        if PINS[name] == "regression":
            continue
        t = time.perf_counter()
        cur = con.execute(oracles[name])
        cols = [d[0] for d in cur.description]
        rows = cur.fetchall()
        _write(name, {"kind": PINS[name], "columns": cols}, rows)
        print(f"{name}: {len(rows)} oracle rows, "
              f"{time.perf_counter() - t:.1f} s", flush=True)
    con.close()
    spark_names = [n for n in names if PINS[n] != "oracle"]
    if spark_names:
        spark = start_session(len(os.sched_getaffinity(0)))
        try:
            reg = em.queries()
            for name in spark_names:
                table = reg[name](spark, fx).toArrow()
                cols = table.column_names
                rows = list(zip(*[table.column(c).to_pylist() for c in cols]))
                if PINS[name] == "regression":
                    _write(name, {"kind": "regression", "columns": cols}, rows)
                else:
                    pin = load(name)
                    pin["min_removed"] = sum(
                        1 for r in rows if not r[cols.index("is_survivor")])
                    _write(name, {k: v for k, v in pin.items() if k != "rows"},
                           pin["rows"])
                print(f"{name}: {len(rows)} Spark rows", flush=True)
        finally:
            spark.stop()
    shutil.rmtree(WORK, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
