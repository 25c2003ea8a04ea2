"""Property-based tests (Hypothesis): the windowed aggregation operator
against a brute-force Python model, and MinHash-LSH recall against the
exact Jaccard ground truth, which in turn is checked against the plain
Jaccard expression.
"""

from __future__ import annotations

import datetime
from collections import defaultdict

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import types as T

from data_pipeline_zeal_spark.operators.hourly import aggregate_events

EVENT = st.tuples(
    st.datetimes(
        min_value=datetime.datetime(2024, 1, 1),
        max_value=datetime.datetime(2024, 1, 2),
    ),
    st.sampled_from(["a", "b", "c"]),
    st.integers(min_value=0, max_value=5).map(lambda i: f"u{i}"),
    st.one_of(st.none(), st.floats(min_value=0, max_value=100, width=16)),
)

SCHEMA = T.StructType(
    [
        T.StructField("ts", T.TimestampType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("user_id", T.StringType()),
        T.StructField("value", T.DoubleType()),
    ]
)


def _model(rows):
    """Brute-force reimplementation of the reference's dict engine
    (aggregation.py:44-67) in plain Python."""
    acc: dict = defaultdict(lambda: {"n": 0, "users": set(), "vals": []})
    for ts, etype, user, value in rows:
        key = (ts.replace(minute=0, second=0, microsecond=0), etype)
        a = acc[key]
        a["n"] += 1
        a["users"].add(user)
        if value is not None:
            a["vals"].append(value)
    return {
        k: (
            v["n"],
            len(v["users"]),
            sum(v["vals"]) if v["vals"] else None,
            len(v["vals"]),
        )
        for k, v in acc.items()
    }


@pytest.mark.usefixtures("spark")
@given(rows=st.lists(EVENT, min_size=1, max_size=60))
@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_hourly_agg_matches_python_model(spark, rows):
    df = spark.createDataFrame(rows, SCHEMA)
    got = {
        (r.window_start, r.event_type): (
            r.event_count,
            r.unique_user_count,
            r.total_value,
            r.value_count,
        )
        for r in aggregate_events(df, ts_col="ts").collect()
    }
    want = _model(rows)
    assert set(got) == set(want)
    for k, (n, u, s, c) in want.items():
        gn, gu, gs, gc = got[k]
        assert (gn, gu, gc) == (n, u, c), k
        if s is None:
            assert gs is None
        else:
            assert gs == pytest.approx(s, rel=1e-9)


ASOF_LEFT = st.tuples(
    st.integers(min_value=0, max_value=3),  # key
    st.datetimes(
        min_value=datetime.datetime(2024, 1, 1),
        max_value=datetime.datetime(2024, 1, 3),
    ),
)


@pytest.mark.usefixtures("spark")
@given(
    left=st.lists(ASOF_LEFT, min_size=1, max_size=25),
    right=st.lists(ASOF_LEFT, min_size=0, max_size=25),
)
@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_asof_join_matches_brute_force(spark, left, right):
    """asof_join == per-row argmax of right rows at-or-before the left ts,
    for every generated key/timestamp combination (ties on (key, ts)
    pre-reduced to max value, mirroring the operator's uniqueness
    contract)."""
    from data_pipeline_zeal_spark.operators.asof import asof_join

    # make right unique per (key, ts): value = a deterministic function
    rkv = {}
    for i, (k, ts) in enumerate(right):
        rkv[(k, ts)] = max(rkv.get((k, ts), -1), i)
    rrows = [(k, ts, v) for (k, ts), v in rkv.items()]

    ldf = spark.createDataFrame(
        [(i, k, ts) for i, (k, ts) in enumerate(left)],
        "row_id long, k long, ts timestamp",
    )
    rdf = spark.createDataFrame(
        rrows or [(None, None, None)],
        "k long, rts timestamp, val long",
    ).filter("k IS NOT NULL")
    got = {
        r.row_id: r.val
        for r in asof_join(
            ldf, rdf, on="k", left_ts="ts", right_ts="rts", right_values=["val"]
        ).collect()
    }
    for i, (k, ts) in enumerate(left):
        cands = [(rts, v) for (rk, rts), v in rkv.items() if rk == k and rts <= ts]
        want = max(cands)[1] if cands else None
        assert got[i] == want, (i, k, ts)


@pytest.mark.usefixtures("spark")
@given(
    left=st.lists(ASOF_LEFT, min_size=1, max_size=25),
    right=st.lists(ASOF_LEFT, min_size=0, max_size=25),
)
@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_asof_nearest_matches_brute_force(spark, left, right):
    """nearest-direction asof_join == per-row argmin |left_ts - rts| with
    ties preferring the backward (earlier) right row, for every generated
    key/timestamp combination."""
    from data_pipeline_zeal_spark.operators.asof import asof_join

    rkv = {}
    for i, (k, ts) in enumerate(right):
        rkv[(k, ts)] = max(rkv.get((k, ts), -1), i)
    rrows = [(k, ts, v) for (k, ts), v in rkv.items()]

    ldf = spark.createDataFrame(
        [(i, k, ts) for i, (k, ts) in enumerate(left)],
        "row_id long, k long, ts timestamp",
    )
    rdf = spark.createDataFrame(
        rrows or [(None, None, None)],
        "k long, rts timestamp, val long",
    ).filter("k IS NOT NULL")
    got = {
        r.row_id: r.val
        for r in asof_join(
            ldf, rdf, on="k", left_ts="ts", right_ts="rts",
            right_values=["val"], direction="nearest",
        ).collect()
    }
    for i, (k, ts) in enumerate(left):
        # argmin of (|distance|, rts): at equal distance the earlier rts
        # is the backward row, which the operator must prefer
        cands = [
            (abs((ts - rts).total_seconds()), rts, v)
            for (rk, rts), v in rkv.items()
            if rk == k
        ]
        want = min(cands)[2] if cands else None
        assert got[i] == want, (i, k, ts)


def test_minhash_lsh_recall_vs_exact(spark):
    """LSH candidates must recover the overwhelming majority of true
    near-duplicate pairs found by exact Jaccard at the same threshold
    (32 hashes / 8 bands ⇒ ~s^4 per-band match prob; at s>=0.5 recall
    ≈ 1-(1-s^4)^8 >= 0.42 per band config — empirically ~1.0 on real
    near-dups, asserted >= 0.8 here)."""
    from data_pipeline_zeal_spark.io import load_table
    from data_pipeline_zeal_spark.operators.dedup import (
        jaccard_pairs,
        minhash_lsh_pairs,
    )

    docs = load_table(spark, "/root/testdata/sf0.1", "documents")
    exact = {
        (r.doc_a, r.doc_b)
        for r in jaccard_pairs(docs, threshold=0.5).collect()
    }
    lsh = {
        (r.doc_a, r.doc_b)
        for r in minhash_lsh_pairs(docs, threshold=0.5).collect()
    }
    assert lsh <= exact  # verification step guarantees no false positives
    assert len(exact) > 0
    recall = len(lsh & exact) / len(exact)
    assert recall >= 0.8, f"LSH recall {recall:.2f} over {len(exact)} true pairs"


def test_jaccard_pairs_equals_plain_expression(spark):
    """The exact kernel's size-bound pre-filter drops only pairs the plain
    Jaccard expression rejects: the same pairs and scores at every
    threshold, empty and identical documents included."""
    import functools
    import random

    from pyspark.sql import DataFrame
    from pyspark.sql import functions as F

    from data_pipeline_zeal_spark.functions.textfn import tokens, word_shingles
    from data_pipeline_zeal_spark.operators.dedup import jaccard_pairs

    rng = random.Random(7)
    texts = [
        " ".join(rng.choice("ab") for _ in range(rng.randint(0, 24)))
        for _ in range(36)
    ]
    texts += [texts[5], texts[9] + " a b a", "", "a"]
    docs = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    ).localCheckpoint()  # evaluate the Python-side rows once

    sh = docs.select(
        "doc_id", F.array_distinct(word_shingles(tokens("text"), 3)).alias("sh")
    )
    a = sh.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a"))
    b = sh.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size("sh_a") + F.size("sh_b") - inter
    jac = F.round(F.when(union == 0, F.lit(0.0)).otherwise(inter / union), 6)
    plain = sorted(
        a.join(b, F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", jac.alias("jaccard"))
        .collect()
    )
    scores = {r.jaccard for r in plain}
    # the thresholds below cut between many scores, and two sit on scores
    # whose 6-decimal rounding goes down (1/3) and up (2/3)
    assert len(scores) > 10 and {0.333333, 0.666667} <= scores
    thresholds = [0.0, 0.2, 0.333333, 0.5, 0.666667, 1.0]
    got = functools.reduce(  # one Spark job for every threshold
        DataFrame.unionByName,
        [jaccard_pairs(docs, t).withColumn("t", F.lit(t)) for t in thresholds],
    ).collect()
    for t in thresholds:
        want = [tuple(r) for r in plain if r.jaccard >= t]
        assert sorted(tuple(r)[:3] for r in got if r.t == t) == want, t


# ---------------------------------------------------------------------------
# CDC latest-wins merge vs a brute-force Python model
# ---------------------------------------------------------------------------

CHANGE = st.tuples(
    st.integers(min_value=0, max_value=4),            # key
    st.integers(min_value=0, max_value=3),            # version (collides!)
    st.integers(min_value=0, max_value=99),           # payload
)


@settings(max_examples=12, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    base=st.lists(CHANGE, max_size=12),
    delta=st.lists(CHANGE, max_size=12),
)
def test_merge_latest_matches_model(spark, base, delta):
    """merge_latest == per-key max over (version, src, seq) with delta
    beating base on version ties — for arbitrary overlapping change sets."""
    from data_pipeline_zeal_spark.operators.cdc import merge_latest

    schema = "k long, ver long, payload long, seq long"
    base_rows = [(k, v, p, i) for i, (k, v, p) in enumerate(base)]
    delta_rows = [(k, v, p, i) for i, (k, v, p) in enumerate(delta)]
    bdf = spark.createDataFrame(base_rows, schema) if base_rows else \
        spark.createDataFrame([], schema)
    ddf = spark.createDataFrame(delta_rows, schema) if delta_rows else \
        spark.createDataFrame([], schema)

    got = {
        r.k: (r.ver, r.payload, r.seq)
        for r in merge_latest(bdf, ddf, keys=["k"], order_col="ver", tiebreak="seq").collect()
    }

    model: dict[int, tuple] = {}
    for src, rows in ((0, base_rows), (1, delta_rows)):
        for k, v, p, i in rows:
            cand = (v, src, i, p)
            if k not in model or cand > model[k]:
                model[k] = cand
    want = {k: (v, p, i) for k, (v, src, i, p) in model.items()}
    assert got == want


# --- table_diff / apply_diff roundtrip -----------------------------------

_PAYLOAD = st.tuples(
    st.sampled_from(["a", "b", "c"]),
    st.one_of(st.none(), st.floats(min_value=0, max_value=9, width=16)),
)
_TABLE = st.dictionaries(st.integers(min_value=0, max_value=7), _PAYLOAD, max_size=8)

_DIFF_SCHEMA = "k long, name string, v double"


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(old=_TABLE, new=_TABLE)
def test_diff_apply_roundtrip_property(spark, old, new):
    """For ANY pair of keyed snapshots (including empty, disjoint,
    NULL-payload, identical): apply_diff(old, table_diff(old, new)) == new."""
    from data_pipeline_zeal_spark.operators import cdc

    old_df = spark.createDataFrame(
        [(k, n, v) for k, (n, v) in old.items()], _DIFF_SCHEMA
    )
    new_df = spark.createDataFrame(
        [(k, n, v) for k, (n, v) in new.items()], _DIFF_SCHEMA
    )
    rebuilt = cdc.apply_diff(
        old_df, cdc.table_diff(old_df, new_df, keys=["k"]), keys=["k"]
    )
    assert sorted(map(tuple, rebuilt.collect())) == sorted(
        map(tuple, new_df.collect())
    )


# --- SCD2 point-in-time join vs a Python model ---------------------------

_CHANGES = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=2),          # key
        st.integers(min_value=0, max_value=20),         # version hour
        st.floats(min_value=0, max_value=9, width=16),  # value
    ),
    max_size=10,
)
_FACTS = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=3),          # key (3 = unknown)
        st.integers(min_value=0, max_value=21),         # fact hour
    ),
    max_size=8,
)


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(changes=_CHANGES, facts=_FACTS)
def test_scd2_pit_matches_latest_at_or_before(spark, changes, facts):
    """For ANY change log and fact set: the PIT join attaches exactly the
    value of the latest change at-or-before the fact (ties on the hour
    broken by the change id), NULL when none exists — the as-of law the
    interval representation must preserve."""
    from data_pipeline_zeal_spark.operators import cdc

    t0 = datetime.datetime(2024, 1, 1)
    ch_rows = [
        (k, i, t0 + datetime.timedelta(hours=h), v)
        for i, (k, h, v) in enumerate(changes)
    ]
    f_rows = [
        (j, k, t0 + datetime.timedelta(hours=h))
        for j, (k, h) in enumerate(facts)
    ]
    ch = spark.createDataFrame(
        ch_rows, "k long, cid long, ts timestamp, value double"
    )
    fa = spark.createDataFrame(f_rows, "fid long, k long, fts timestamp")
    hist = cdc.scd2_intervals(ch, keys=["k"], order_col="ts", tiebreak="cid")
    out = {
        r.fid: r.value
        for r in cdc.scd2_point_in_time_join(
            fa, hist, keys=["k"], fact_ts="fts", dim_values=["value"]
        ).collect()
    }

    def model(k, fts):
        cands = [(ts, cid, v) for (ck, cid, ts, v) in ch_rows if ck == k and ts <= fts]
        return max(cands)[2] if cands else None

    expected = {j: model(k, t0 + datetime.timedelta(hours=h))
                for j, (k, h) in enumerate(facts)}
    assert out == expected


@pytest.mark.usefixtures("spark")
@given(
    n_tok=st.integers(min_value=0, max_value=200),
    window=st.integers(min_value=2, max_value=40),
    stride_frac=st.floats(min_value=0.25, max_value=1.0),
)
@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_chunk_overlap_total_coverage(spark, n_tok, window, stride_frac):
    """Chunking laws for any (doc length, window, stride): chunks tile the
    document completely (every token appears in at least one chunk), the
    first chunk starts at token 1, starts advance by exactly the stride,
    and only the last chunk may be short."""
    from data_pipeline_zeal_spark.operators.text import chunk_overlap

    stride = max(1, int(window * stride_frac))
    text = " ".join(f"t{i}" for i in range(n_tok))
    docs = spark.createDataFrame(
        [(0, text, "en", "s", len(text))],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    rows = sorted(
        chunk_overlap(docs, window=window, stride=stride).collect(),
        key=lambda r: r.chunk_index,
    )
    if n_tok == 0:
        assert rows == []
        return
    covered = set()
    for i, r in enumerate(rows):
        assert r.start_token == 1 + i * stride
        toks = r.chunk_text.split()
        assert len(toks) == r.n_chunk_tokens
        if i < len(rows) - 1:
            assert r.n_chunk_tokens == window
        covered.update(range(r.start_token, r.start_token + r.n_chunk_tokens))
    assert covered == set(range(1, n_tok + 1))


WORD = st.sampled_from(["alpha", "beta", "gamma", "delta", "eps"])


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    words=st.lists(WORD, min_size=0, max_size=30),
    n=st.integers(min_value=2, max_value=5),
)
def test_duplicated_spans_laws(spark, words, n):
    """Laws vs a brute-force Python model: (1) window count = max(0,
    len-n+1); (2) a doc cloned verbatim under another id has EVERY window
    duplicated; (3) per-doc dup counts match the model exactly."""
    from collections import Counter

    from data_pipeline_zeal_spark.operators.text import duplicated_spans

    text = " ".join(words)
    docs = spark.createDataFrame(
        [(1, text), (2, text)], "doc_id long, text string"
    )
    out = {r.doc_id: r for r in duplicated_spans(docs, n=n).collect()}
    expect_windows = max(0, len(words) - n + 1)
    wins = [" ".join(words[i : i + n]) for i in range(expect_windows)]
    # model: global counts over both (identical) docs
    counts = Counter(wins + wins)
    expect_dup = sum(1 for w in wins if counts[w] >= 2)
    for doc_id in (1, 2):
        r = out[doc_id]
        assert r.n_windows == expect_windows
        assert r.n_dup_windows == expect_dup
        if expect_windows:  # clone ⇒ every window appears ≥ twice
            assert r.n_dup_windows == r.n_windows
            assert r.dup_span_frac == 1.0
        else:
            assert r.dup_span_frac == 0.0


@settings(max_examples=200, deadline=None)
@given(
    counts=st.dictionaries(
        st.text(alphabet="abcdefgh", min_size=1, max_size=3),
        st.integers(min_value=1, max_value=1000),
        max_size=40,
    ),
    capacity=st.integers(min_value=1, max_value=12),
)
def test_mg_merge_laws(counts, capacity):
    """Misra-Gries reduction laws for ANY counter table: at most
    ``capacity`` survivors; every surviving count is reduced by the same
    cut; every item whose count exceeds the cut survives; and the cut is
    bounded by total/(capacity+1) (the classic error bound)."""
    from data_pipeline_zeal_spark.streaming.heavy_hitters import mg_merge

    out = mg_merge(dict(counts), capacity)
    assert len(out) <= capacity
    if len(counts) <= capacity:
        assert out == counts
        return
    cut = sorted(counts.values(), reverse=True)[capacity]
    total = sum(counts.values())
    assert cut <= total // (capacity + 1) or cut <= total / (capacity + 1)
    for k, v in counts.items():
        if v > cut:
            assert out[k] == v - cut
        else:
            assert k not in out


FD_ROW = st.tuples(
    st.one_of(st.none(), st.sampled_from(["k1", "k2", "k3", "k4"])),
    st.one_of(st.none(), st.integers(min_value=0, max_value=3)),
)


@pytest.mark.usefixtures("spark")
@given(rows=st.lists(FD_ROW, min_size=0, max_size=40))
@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_functional_dependency_matches_model(spark, rows):
    """quality.functional_dependency == the brute-force dict model: checked
    = distinct non-null keys, violations = keys with >1 distinct non-null
    dependent value."""
    from collections import defaultdict as dd

    from data_pipeline_zeal_spark.operators import quality as dq

    SCHEMA_FD = T.StructType(
        [
            T.StructField("k", T.StringType()),
            T.StructField("v", T.IntegerType()),
        ]
    )
    by_key = dd(set)
    for k, v in rows:
        if k is not None:
            by_key[k].add(v)
    want_checked = len(by_key)
    want_viol = sum(
        1 for vs in by_key.values() if len({x for x in vs if x is not None}) > 1
    )
    df = spark.createDataFrame(rows, SCHEMA_FD)
    got = dq.functional_dependency(df, ["k"], "v").collect()[0]
    assert (got.n_checked, got.n_violations) == (want_checked, want_viol)


# --- round-6 additions: B-cubed laws, metric ranges, versioned-log model ---


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    labels=st.lists(
        st.tuples(st.integers(0, 14), st.integers(0, 4), st.integers(0, 4)),
        min_size=1,
        max_size=15,
        unique_by=lambda t: t[0],
    )
)
def test_bcubed_matches_python_model(spark, labels):
    """B-cubed per-element precision/recall against the direct
    quadratic-definition model (agreement of same-cluster indicator over
    all element pairs including self)."""
    from data_pipeline_zeal_spark.operators import dedup

    pred = spark.createDataFrame(
        [(i, p) for i, p, _ in labels], "doc_id long, cluster_id long"
    )
    truth = spark.createDataFrame(
        [(i, t) for i, _, t in labels], "doc_id long, cluster_id long"
    )
    [row] = dedup.bcubed(pred, truth).collect()

    pc = {i: p for i, p, _ in labels}
    tc = {i: t for i, _, t in labels}
    ids = list(pc)
    precs, recs = [], []
    for e in ids:
        same_p = [x for x in ids if pc[x] == pc[e]]
        same_t = [x for x in ids if tc[x] == tc[e]]
        inter = len(set(same_p) & set(same_t))
        precs.append(inter / len(same_p))
        recs.append(inter / len(same_t))
    p_want = round(sum(precs) / len(ids), 6)
    r_want = round(sum(recs) / len(ids), 6)
    assert abs(row.bcubed_precision - p_want) <= 1e-6
    assert abs(row.bcubed_recall - r_want) <= 1e-6
    assert row.n_elements == len(ids)


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    run=st.lists(
        st.tuples(st.integers(1, 3), st.integers(0, 20)),
        min_size=1,
        max_size=20,
        unique=True,
    ),
    rels=st.lists(
        st.tuples(st.integers(1, 3), st.integers(0, 20), st.integers(1, 2)),
        max_size=20,
        unique_by=lambda t: (t[0], t[1]),
    ),
)
def test_retrieval_metric_ranges(spark, run, rels):
    """MRR, P@k, recall@k, NDCG@k all live in [0, 1]; NDCG == 1 iff the
    top-k is an ideal ordering prefix (checked when the run IS the qrels
    sorted ideally)."""
    from data_pipeline_zeal_spark.operators import retrieval

    ranked = []
    seen = {}
    for q, d in run:
        seen.setdefault(q, 0)
        seen[q] += 1
        ranked.append((q, d, seen[q]))
    run_df = spark.createDataFrame(ranked, "query_id long, doc_id long, rank int")
    qrels_df = spark.createDataFrame(
        rels, "query_id long, doc_id long, rel int"
    ) if rels else spark.createDataFrame([], "query_id long, doc_id long, rel int")
    for r in retrieval.retrieval_metrics(run_df, qrels_df, k=10).collect():
        for m in (r.mrr, r.precision_at_k, r.recall_at_k, r.ndcg_at_k):
            assert 0.0 <= m <= 1.0 + 1e-9


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    actions=st.lists(
        st.tuples(st.sampled_from(["append", "overwrite"]), st.integers(1, 5)),
        min_size=1,
        max_size=5,
    ),
    travel=st.integers(1, 5),
)
def test_versioned_log_replay_matches_model(spark, tmp_path_factory, actions, travel):
    """A random commit sequence read back at EVERY version must match a
    pure-Python replay model (row multiset per version)."""
    from data_pipeline_zeal_spark.sources import versioned as V

    t = str(tmp_path_factory.mktemp("vt") / "tbl")
    model: list[list[int]] = []
    live: list[int] = []
    nxt = 0
    for mode, n in actions:
        rows = list(range(nxt, nxt + n))
        nxt += n
        V.commit_write(
            spark.createDataFrame([(i,) for i in rows], "id long"), t, mode=mode
        )
        live = rows if mode == "overwrite" else live + rows
        model.append(list(live))
    for v, want in enumerate(model, start=1):
        got = sorted(r.id for r in V.read_version(spark, t, v).collect())
        assert got == sorted(want), f"version {v}"
