"""Seeded input generator for the benchmark workloads.

Everything the program under test reads is produced here, from the
``--seed`` of the run: the same seed gives byte-identical inputs.  The
program only ever sees the files this module writes.

* :func:`events_table` - the batch ``events`` fixture (sf0.1 shape:
  100k rows over 30 days, 5 event types, 1.5k users) the API workload
  aggregates into the served table.
* :func:`wire_backlog` - JSONL wire-event files for the stream workload,
  one file per micro-batch, with the input mix listed in
  :data:`STREAM_MIX`.
* :func:`route_script` - the seeded HTTP request mix of the API workload.
* :func:`documents_table` / :func:`embeddings_table` - the curation corpus
  (fixed fixture shape; see :data:`CORPUS_SEED`).
"""

from __future__ import annotations

import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: Shares of the stream input mix and why each is there.  The user pool
#: and the session model are the reference producer's, as the program's
#: own port documents them (``sources/generator.py``: ``num_users=100``,
#: sticky sessions rotating with p=0.1 per event).  The reference draws
#: users uniformly; the Zipf skew is this benchmark's departure from it,
#: with the classic Zipf's-law exponent 1.0 (no measured exponent for
#: this traffic exists).
STREAM_MIX = {
    "zipf_exponent": 1.0,  # a few heavy users dominate: skewed collect_set state
    "user_pool": 100,  # the reference producer's pool
    "session_rotate_p": 0.1,  # the reference's sticky-session rotation
    "duplicate_share": 0.02,  # at-least-once redelivery the dedup stage drops
    "malformed_share": 0.01,  # undecodable lines the parser drops, not fails
    "delayed_share": 0.05,  # delivered one file late, inside the grace period
}

#: Event-time seconds each wire file covers.  Kept below the 60 s grace
#: period so an event delivered one file late is never behind the
#: watermark and a redelivered id is still in the dedup state.
FILE_SPAN_S = 40
EVENTS_PER_FILE = 2_000
STREAM_T0 = dt.datetime(2024, 3, 1)

#: The event types and pages of the reference producer.
WIRE_TYPES = [
    "page_view", "click", "scroll", "form_submit", "video_play",
    "video_pause", "purchase", "add_to_cart", "search", "logout",
]
PAGES = ["/home", "/products", "/products/electronics", "/products/clothing",
         "/cart", "/checkout", "/account", "/search"]

#: The batch ``events`` fixture's five types (the sf0.1 test fixture's).
TABLE_TYPES = ["click", "error", "purchase", "signup", "view"]
TABLE_T0 = dt.datetime(2024, 1, 1)

#: The curation corpus is one fixed fixture for every seed, so that slow
#: oracles can be pinned once (``pinned/``); the seed orders queries.
CORPUS_SEED = 20240101
VOCAB = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch").split()


def _us(t: dt.datetime) -> int:
    return int((t - dt.datetime(1970, 1, 1)).total_seconds()) * 1_000_000


def events_table(path: str, seed: int) -> None:
    """``events(event_id, ts, user_id, event_type, value, props)``: 100k
    rows over 30 days from 1.5k users - the sf0.1 test fixture's shape."""
    n, users = 100_000, 1_500
    rng = np.random.default_rng(seed)
    span = 30 * 86_400 * 1_000_000
    ts = np.sort(rng.integers(0, span, n)) + _us(TABLE_T0)
    value = np.round(rng.exponential(60.0, n), 2)
    table = pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, users, n).astype(np.int64)),
        "event_type": pa.array(np.array(TABLE_TYPES)[rng.integers(0, 5, n)]),
        "value": pa.array(value),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    })
    pq.write_table(table, path)


# ---------------------------------------------------------------------------
# stream
# ---------------------------------------------------------------------------


def _zipf_users(rng: np.random.Generator, n: int) -> np.ndarray:
    pool = STREAM_MIX["user_pool"]
    w = 1.0 / np.arange(1, pool + 1) ** STREAM_MIX["zipf_exponent"]
    return rng.choice(pool, size=n, p=w / w.sum())


def _sticky_sessions(rng: np.random.Generator, users: np.ndarray) -> np.ndarray:
    """Session number of each event: a user keeps a session and, on each
    of their events, starts the next one with p = ``session_rotate_p``."""
    rotate = rng.random(len(users)) < STREAM_MIX["session_rotate_p"]
    current: dict[int, int] = {}
    out = np.empty(len(users), dtype=np.int64)
    for i, (u, r) in enumerate(zip(users.tolist(), rotate.tolist())):
        if u not in current:
            current[u] = 0
        elif r:
            current[u] += 1
        out[i] = current[u]
    return out


def _metadata(etype: str, amount: float, query: int) -> str | None:
    """The reference producer's metadata: a search query or a purchase
    amount (uniform 10-500)."""
    if etype == "search":
        return json.dumps({"query": f"search query {query}"})
    if etype == "purchase":
        return json.dumps({"amount": amount})
    return None


def wire_backlog(out_dir: str, seed: int, n_files: int) -> tuple[list[dict], dict]:
    """Write ``n_files`` JSONL files (``part-00000.jsonl`` ...).  Returns
    the deduplicated valid events as dicts - the oracle's input - and the
    line counts ``{"lines", "valid_lines", "duplicates", "malformed"}``.

    Each file holds the events created in its own ``FILE_SPAN_S`` window
    in shuffled order, the delayed share of the previous file's events,
    redeliveries of events already sent in this or the previous file, and
    malformed lines."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    per_file = EVENTS_PER_FILE
    total = per_file * n_files
    users = _zipf_users(rng, total)
    types = rng.integers(0, len(WIRE_TYPES), total)
    offs = rng.integers(0, FILE_SPAN_S * 1_000_000, total)
    pages = rng.integers(0, len(PAGES), total)
    durs = rng.integers(100, 30_001, total)
    amounts = np.round(rng.uniform(10.0, 500.0, total), 2)
    queries = rng.integers(0, 100, total)
    sess = _sticky_sessions(rng, users)
    delayed = rng.random(total) < STREAM_MIX["delayed_share"]
    t0 = _us(STREAM_T0)
    events: list[dict] = []
    for i in range(total):
        etype = WIRE_TYPES[types[i]]
        ts_us = t0 + (i // per_file) * FILE_SPAN_S * 1_000_000 + int(offs[i])
        events.append({
            "event_id": f"{seed:x}-{i:07d}",
            "user_id": f"user_{users[i]}",
            "event_type": etype,
            "timestamp": _fmt_ts(ts_us),
            "session_id": f"s{users[i]}-{sess[i]}",
            "page_url": (PAGES[pages[i]]
                         if etype in ("page_view", "click", "scroll") else None),
            "duration_ms": (int(durs[i])
                            if etype in ("page_view", "video_play") else None),
            "metadata": _metadata(etype, float(amounts[i]), int(queries[i])),
        })
    files: list[list[str]] = [[] for _ in range(n_files)]
    sent: list[list[int]] = [[] for _ in range(n_files)]
    for i in range(total):
        f = i // per_file
        if delayed[i] and f + 1 < n_files:
            f += 1
        files[f].append(json.dumps(events[i]))
        sent[f].append(i)
    stats = {"lines": 0, "valid_lines": 0, "duplicates": 0, "malformed": 0}
    for f in range(n_files):
        # redeliver only events created in this or the previous window,
        # so the id is still in the dedup state
        pool = [i for i in sent[f] + (sent[f - 1] if f else [])
                if i // per_file >= f - 1]
        n_dup = int(round(len(sent[f]) * STREAM_MIX["duplicate_share"]))
        for i in rng.choice(pool, n_dup, replace=False):
            files[f].append(json.dumps(events[int(i)]))
        n_bad = int(round(len(sent[f]) * STREAM_MIX["malformed_share"]))
        for k in range(n_bad):
            files[f].append(_malformed(rng, k))
        stats["duplicates"] += n_dup
        stats["malformed"] += n_bad
        stats["lines"] += len(files[f])
        order = rng.permutation(len(files[f]))
        with open(os.path.join(out_dir, f"part-{f:05d}.jsonl"), "w") as fh:
            fh.write("\n".join(files[f][j] for j in order) + "\n")
    stats["valid_lines"] = stats["lines"] - stats["malformed"]
    return events, stats


def _fmt_ts(us: int) -> str:
    t = dt.datetime(1970, 1, 1) + dt.timedelta(microseconds=us)
    return t.strftime("%Y-%m-%d %H:%M:%S.%f")


def _malformed(rng: np.random.Generator, k: int) -> str:
    """Lines the parser must drop: broken JSON, or a record missing one of
    the required fields."""
    kind = k % 3
    if kind == 0:
        return '{"event_id": "broken-' + str(int(rng.integers(1 << 30))) + '", "user'
    if kind == 1:
        return json.dumps({"event_id": None, "event_type": "click",
                           "timestamp": "2024-03-01 00:00:00"})
    return json.dumps({"event_id": f"bad-{int(rng.integers(1 << 30))}",
                       "event_type": "click", "timestamp": "not a time"})


def history_table(path: str, seed: int) -> None:
    """Pre-existing aggregate rows (360 hours x 10 types) for the windows
    before the stream starts - the table a long-running sink upserts into."""
    hours = 360
    rng = np.random.default_rng(seed + 1)
    n = hours * len(WIRE_TYPES)
    starts = np.repeat(
        _us(STREAM_T0) - np.arange(hours, 0, -1) * 3_600_000_000, len(WIRE_TYPES))
    count = rng.integers(500, 5_000, n)
    dcount = rng.integers(0, 2, n) * count
    total = dcount * rng.integers(100, 30_000, n)
    with np.errstate(divide="ignore", invalid="ignore"):
        avg = np.where(dcount > 0, total / np.maximum(dcount, 1), np.nan)
    table = pa.table({
        "window_start": pa.array(starts, pa.timestamp("us", tz="UTC")),
        "window_end": pa.array(starts + 3_600_000_000, pa.timestamp("us", tz="UTC")),
        "event_type": pa.array(np.tile(WIRE_TYPES, hours)),
        "event_count": pa.array(count.astype(np.int64)),
        "unique_user_count": pa.array((count // 3).astype(np.int64)),
        "unique_session_count": pa.array((count // 2).astype(np.int64)),
        "total_duration_ms": pa.array(
            np.where(dcount > 0, total, 0).astype(np.int64), mask=dcount == 0),
        "avg_duration_ms": pa.array(avg, mask=dcount == 0),
        "duration_ms_count": pa.array(dcount.astype(np.int64)),
    })
    os.makedirs(path, exist_ok=True)
    pq.write_table(table, os.path.join(path, "part-00000.parquet"))


# ---------------------------------------------------------------------------
# API
# ---------------------------------------------------------------------------

#: Route shares of the API mix.
ROUTE_MIX = {"list": 0.50, "latest": 0.20, "stats": 0.15,
             "event_types": 0.10, "health": 0.05}
#: Share of list/latest requests sent with a parameter the server must
#: refuse with 422.
INVALID_SHARE = 0.03


#: The mix is dealt in shuffled blocks of this many requests holding the
#: exact shares, so any run of whole blocks has the same route counts.
ROUTE_BLOCK = 20


def route_script(seed: int, n: int) -> list[tuple[str, str, dict]]:
    """``n`` requests as ``(route, path, params)``; params are strings."""
    rng = np.random.default_rng(seed)
    block = [r for r, share in ROUTE_MIX.items()
             for _ in range(round(share * ROUTE_BLOCK))]
    routes: list[str] = []
    while len(routes) < n:
        routes += [block[i] for i in rng.permutation(len(block))]
    out = []
    for route in routes[:n]:
        params: dict[str, str] = {}
        if route == "list":
            if rng.random() < 0.6:
                params["event_type"] = TABLE_TYPES[int(rng.integers(5))]
            if rng.random() < 0.5:
                d0 = int(rng.integers(0, 25))
                params["from_time"] = (TABLE_T0 + dt.timedelta(days=d0)).isoformat()
                params["to_time"] = (
                    TABLE_T0 + dt.timedelta(days=d0 + int(rng.integers(1, 6)))
                ).isoformat()
            params["limit"] = str(int(rng.choice([10, 50, 100, 500])))
            params["offset"] = str(int(rng.choice([0, 0, 10, 100])))
        elif route == "latest":
            params["limit"] = str(int(rng.integers(1, 101)))
        if route in ("list", "latest") and rng.random() < INVALID_SHARE:
            bad = [("limit", "0"), ("limit", "5000"), ("offset", "-1"),
                   ("from_time", "yesterday")][int(rng.integers(4))]
            if route == "latest":
                bad = ("limit", "101")
            params[bad[0]] = bad[1]
        path = {"list": "/api/aggregations",
                "latest": "/api/aggregations/latest",
                "stats": "/api/aggregations/stats",
                "event_types": "/api/aggregations/event-types",
                "health": "/health"}[route]
        out.append((route, path, params))
    return out


# ---------------------------------------------------------------------------
# curation corpus
# ---------------------------------------------------------------------------


def documents_table(path: str, n: int) -> None:
    """``documents(doc_id, text, lang, source, n_chars)``: 10-100 tokens
    over a 30-word vocabulary; 5 % near-duplicates (a copy of another
    document plus one token) and 0.2 % exact duplicates."""
    rng = np.random.default_rng(CORPUS_SEED)
    texts: list[str] = []
    for _ in range(n):
        k = int(rng.integers(10, 101))
        texts.append(" ".join(VOCAB[j] for j in rng.integers(0, len(VOCAB), k)))
    for i in rng.choice(n, n // 20, replace=False):
        texts[i] = texts[int(rng.integers(n))] + " dup"
    for i in rng.choice(n, max(1, n // 500), replace=False):
        texts[i] = texts[int(rng.integers(n))]
    langs = np.array(["en", "zh", "de", "es", "fr"])[
        rng.choice(5, n, p=[0.41, 0.15, 0.14, 0.15, 0.15])]
    table = pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(langs),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })
    pq.write_table(table, path)


def embeddings_table(path: str, n: int) -> None:
    """``embeddings(vec_id, embedding array<float>, label)``: 64-d unit
    vectors."""
    rng = np.random.default_rng(CORPUS_SEED + 1)
    x = rng.standard_normal((n, 64))
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    table = pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(x), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n).astype(np.int32)),
    })
    pq.write_table(table, path)
