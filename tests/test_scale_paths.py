"""Scale-path variants must equal their baseline implementations."""

from __future__ import annotations

import contextlib
from types import SimpleNamespace

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from espkinesis_spark.functions import similarity
from espkinesis_spark.operators import core as ops
from espkinesis_spark.tables import load_table


def _pairs_set(df):
    return {(r["vec_a"], r["vec_b"], r["cos"]) for r in df.collect()}


def test_blocked_neardup_equals_broadcast(spark, sf_dir, monkeypatch):
    vecs = load_table(spark, sf_dir, "embeddings")
    monkeypatch.setattr(similarity, "NEARDUP_BROADCAST_BYTES", 1 << 60)
    full = _pairs_set(similarity.neardup_cosine(vecs))
    blocked = _pairs_set(similarity.neardup_cosine_blocked(vecs, n_blocks=3))
    assert blocked == full and len(full) > 0


def test_blocked_neardup_scores_on_executors(spark, sf_dir):
    """The blocked path must be a pure executor-side plan: block-pair groups
    scored via FlatMapGroupsInPandas, with no corpus collect() anywhere in
    its construction (building the plan must not run a job)."""
    from espkinesis_spark.plans import audit

    vecs = load_table(spark, sf_dir, "embeddings")
    tracker = spark.sparkContext.statusTracker()
    before = tracker.getJobIdsForGroup(None)
    df = similarity.neardup_cosine_blocked(vecs, n_blocks=3)
    assert tracker.getJobIdsForGroup(None) == before  # lazy: no driver round
    assert "FlatMapGroupsInPandas" in audit.physical_plan(df)


def test_neardup_auto_routes_by_size(spark, sf_dir, monkeypatch):
    """neardup_cosine must pick the blocked path once the plan-size
    estimate exceeds the broadcast budget, with identical output."""
    from espkinesis_spark.plans import audit

    vecs = load_table(spark, sf_dir, "embeddings")
    size = similarity._plan_size_bytes(vecs)
    assert size is not None and size > 0  # parquet scan → real estimate
    # huge budget → the single-broadcast kernel
    monkeypatch.setattr(similarity, "NEARDUP_BROADCAST_BYTES", 1 << 60)
    broadcast = similarity.neardup_cosine(vecs)
    assert "FlatMapGroupsInPandas" not in audit.physical_plan(broadcast)
    baseline = _pairs_set(broadcast)
    # tiny budget → the blocked path, with identical output
    monkeypatch.setattr(similarity, "NEARDUP_BROADCAST_BYTES", 1)
    blocked = similarity.neardup_cosine(vecs)
    assert "FlatMapGroupsInPandas" in audit.physical_plan(blocked)
    assert _pairs_set(blocked) == baseline and len(baseline) > 0


# Catalyst estimates a size-routed caller can see: failed (None), empty,
# tiny, a genuine ~576 PB, and the no-stats sentinel Long.MaxValue
_ESTIMATES = [None, 0, 1, 1 << 59, (1 << 63) - 1]


def _estimated_frame(est):
    """A stand-in DataFrame whose Catalyst estimate is ``est`` (None: the
    estimate raises) — just the attributes plan_size_bytes and the
    routers read."""

    def size_in_bytes():
        if est is None:
            raise RuntimeError("no estimate")
        return est

    stats = SimpleNamespace(sizeInBytes=size_in_bytes)
    plan = SimpleNamespace(stats=lambda: stats)
    qe = SimpleNamespace(optimizedPlan=lambda: plan)
    return SimpleNamespace(_jdf=SimpleNamespace(queryExecution=lambda: qe))


@pytest.mark.parametrize("est", _ESTIMATES)
def test_plan_size_bytes_reads_no_stats_as_unknown(est):
    from espkinesis_spark.plans import audit

    want = None if est is None or est >= 1 << 60 else est
    assert audit.plan_size_bytes(_estimated_frame(est)) == want


def test_rdd_frame_without_stats_has_unknown_size(spark):
    from espkinesis_spark.plans import audit

    df = spark.sparkContext.parallelize([(1,), (2,)]).toDF(["x"])
    assert audit.plan_size_bytes(df) is None


@pytest.mark.parametrize("est", _ESTIMATES)
def test_neardup_cosine_route_for_every_estimate(est, monkeypatch):
    """Broadcast exactly when the estimate is known and within the
    budget; otherwise the blocked path with 2 <= n_blocks <= 64."""
    monkeypatch.setattr(
        similarity, "_neardup_cosine_numpy", lambda vecs, threshold: ("broadcast",)
    )
    monkeypatch.setattr(
        similarity,
        "neardup_cosine_blocked",
        lambda vecs, threshold, n_blocks: ("blocked", n_blocks),
    )
    route = similarity.neardup_cosine(_estimated_frame(est))
    known = est is not None and est < 1 << 60
    if known and est <= similarity.NEARDUP_BROADCAST_BYTES:
        assert route == ("broadcast",)
    else:
        assert route[0] == "blocked"
        assert 2 <= route[1] <= similarity.NEARDUP_MAX_BLOCKS


@contextlib.contextmanager
def _shuffle_partitions(spark, n):
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(n))
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


def test_assign_ids_ranged_equals_window(spark, sf_dir, monkeypatch):
    cust = load_table(spark, sf_dir, "customer").select("c_custkey")
    monkeypatch.setattr(ops, "ASSIGN_IDS_WINDOW_BYTES", 1 << 60)  # force window
    want = {
        (r["c_custkey"], r["reg_id"])
        for r in ops.assign_ids(cust, "c_custkey").collect()
    }
    monkeypatch.setattr(ops, "ASSIGN_IDS_WINDOW_BYTES", 1)  # force ranged
    with _shuffle_partitions(spark, 7):
        got = {
            (r["c_custkey"], r["reg_id"])
            for r in ops.assign_ids(cust, "c_custkey").collect()
        }
    assert got == want and len(want) > 0


def test_assign_ids_ranged_has_no_single_partition_exchange(spark, sf_dir, monkeypatch):
    from espkinesis_spark.plans import audit

    cust = load_table(spark, sf_dir, "customer").select("c_custkey")
    monkeypatch.setattr(ops, "ASSIGN_IDS_WINDOW_BYTES", 1)  # force ranged
    with _shuffle_partitions(spark, 7):
        plan = audit.physical_plan(ops.assign_ids(cust, "c_custkey"))
    assert "SinglePartition" not in plan
    # the dimension form, by contrast, is the documented single sort
    monkeypatch.setattr(ops, "ASSIGN_IDS_WINDOW_BYTES", 1 << 60)  # force window
    plan_w = audit.physical_plan(ops.assign_ids(cust, "c_custkey"))
    assert "SinglePartition" in plan_w


def test_assign_ids_auto_routes_by_size(spark, sf_dir, monkeypatch):
    cust = load_table(spark, sf_dir, "customer").select("c_custkey")
    from espkinesis_spark.plans import audit

    monkeypatch.setattr(ops, "ASSIGN_IDS_WINDOW_BYTES", 1)  # force ranged
    assert "SinglePartition" not in audit.physical_plan(
        ops.assign_ids(cust, "c_custkey")
    )
    monkeypatch.setattr(ops, "ASSIGN_IDS_WINDOW_BYTES", 1 << 60)  # force window
    assert "SinglePartition" in audit.physical_plan(ops.assign_ids(cust, "c_custkey"))


def test_pandas_asof_equals_join_form(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select("user_id", "ts", "event_id")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "event_id"
    )
    sql_form = ops.asof_last_match(
        clicks, purchases, key="user_id", left_ts="ts", right_ts="ts"
    )
    pandas_form = ops.asof_last_match_pandas(
        clicks, purchases, key="user_id", left_ts="ts", right_ts="ts"
    )
    want = {(r["event_id"], r["asof_match"]) for r in sql_form.collect()}
    got = {(r["event_id"], r["asof_match"]) for r in pandas_form.collect()}
    assert got == want and len(want) > 0


@pytest.mark.parametrize("n_buckets", [64, 8])
def test_pandas_asof_self_asof_on_one_scan(spark, sf_dir, n_buckets):
    """dq09's shape: clicks and purchases are filters of ONE events scan,
    and a projection over the result prunes the kernel's output. Both
    sides then share attribute ids, which the kernel's right-side
    arguments must not bind to."""
    ev = load_table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "event_id"
    )
    args = dict(key="user_id", left_ts="ts", right_ts="ts", right_val="event_id")
    want = ops.asof_last_match(clicks, purchases, **args)
    got = ops.asof_last_match_pandas(clicks, purchases, n_buckets=n_buckets, **args)
    pick = F.col("event_id"), F.col("asof_match").alias("m")
    want = {tuple(r) for r in want.select(*pick).collect()}
    assert {tuple(r) for r in got.select(*pick).collect()} == want
    assert any(m is not None for _, m in want)


def test_pandas_asof_null_keys_and_times_match_nothing(spark):
    """Null keys, times and values never match, as in the join form's
    SQL equality and range predicates; a left row with a null key or
    time still comes out, with a null match."""
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1, 6)
    left = spark.createDataFrame(
        [(1, 7, t0), (2, None, t0), (3, 7, None), (4, 8, t0)],
        "lid long, k long, lts timestamp",
    )
    right = spark.createDataFrame(
        [(7, t0, 10), (None, t0, 11), (8, None, 12), (8, t0, None)],
        "k long, rts timestamp, v long",
    )
    args = dict(key="k", left_ts="lts", right_ts="rts", right_val="v")
    want = {tuple(r) for r in ops.asof_last_match(left, right, **args).collect()}
    got = {
        tuple(r) for r in ops.asof_last_match_pandas(left, right, **args).collect()
    }
    assert got == want == {
        (1, 7, t0, 10),
        (2, None, t0, None),
        (3, 7, None, None),
        (4, 8, t0, None),
    }


def test_dedup_apply_shuffle_equals_broadcast(spark, sf_dir, monkeypatch):
    """The big-drop-set path (shuffled left-anti) must produce exactly the
    broadcast path's survivors, and its plan must contain NO
    BroadcastExchange feeding the anti join — at web-scale dup rates the
    drop set is corpus-scale and a forced broadcast OOMs (VERDICT r4 #4)."""
    from espkinesis_spark.functions import dedup
    from espkinesis_spark.plans import audit

    docs = load_table(spark, sf_dir, "documents")
    monkeypatch.setattr(dedup, "DEDUP_APPLY_BROADCAST_BYTES", 1 << 60)
    bc = dedup.dedup_apply(docs)
    monkeypatch.setattr(dedup, "DEDUP_APPLY_BROADCAST_BYTES", 1)
    sh = dedup.dedup_apply(docs)
    want = {r["doc_id"] for r in bc.select("doc_id").collect()}
    got = {r["doc_id"] for r in sh.select("doc_id").collect()}
    assert got == want and len(want) > 0
    plan = audit.physical_plan(sh)
    assert "BroadcastHashJoin" not in _anti_join_window(plan)


def _anti_join_window(plan: str) -> str:
    """Slice around the LeftAnti node; assert it exists first so a renamed
    node can never make the containing check pass vacuously (ADVICE r5)."""
    idx = plan.find("LeftAnti")
    assert idx >= 0, "expected a LeftAnti join in the plan"
    return plan[max(0, idx - 2000) : idx + 200]


def test_dedup_apply_auto_routes_by_size(spark, sf_dir, monkeypatch):
    from espkinesis_spark.functions import dedup
    from espkinesis_spark.plans import audit

    docs = load_table(spark, sf_dir, "documents")
    # tiny budget → auto must shuffle
    monkeypatch.setattr(dedup, "DEDUP_APPLY_BROADCAST_BYTES", 1)
    plan = audit.physical_plan(dedup.dedup_apply(docs))
    assert "BroadcastHashJoin" not in _anti_join_window(plan)
    # huge budget → auto broadcasts the drop set
    monkeypatch.setattr(dedup, "DEDUP_APPLY_BROADCAST_BYTES", 1 << 60)
    plan = audit.physical_plan(dedup.dedup_apply(docs))
    assert "BroadcastHashJoin" in plan


def test_asof_features_skew_equals_join_form(spark, sf_dir):
    """The registry-level skew variant must equal the join form row-for-row
    AND actually match something: the fixture's raw event clock (2024-01)
    postdates the last order (2001-08), so without the deterministic
    rebase the 365-day lookback matches ZERO rows and every parity row is
    (NULL, NULL) — vacuous evidence (ADVICE r9). Guard both directions:
    some non-NULL matches AND some NULLs (both boundary legs exercised)."""
    from espkinesis_spark import queries

    join_rows = {
        tuple(r) for r in queries.registry()["ex_asof_features"](spark, sf_dir).collect()
    }
    skew_rows = {
        tuple(r)
        for r in queries.ex_asof_features_skew(spark, sf_dir).collect()
    }
    assert skew_rows == join_rows and len(join_rows) > 0
    n_matched = sum(1 for r in join_rows if r[3] is not None)
    assert 0 < n_matched < len(join_rows)


def test_asof_composite_epoch_guard(spark):
    """A pre-epoch order date must raise loudly, not decode to silently
    wrong (day+1, key-2^44) values (ADVICE r9). The guard lives in the
    oval encode; drive it with a synthetic pre-1992 order."""
    import pytest

    from espkinesis_spark import queries

    df = spark.createDataFrame(
        [("1991-12-31 00:00:00",)], ["d"]
    ).selectExpr("CAST(d AS TIMESTAMP) AS ots", "CAST(1 AS BIGINT) AS okey")
    guarded = df.selectExpr(
        "CASE WHEN datediff(ots, DATE '1992-01-01') < 0"
        " THEN CAST(raise_error('asof composite precondition:"
        " order date before the 1992-01-01 epoch') AS BIGINT)"
        " ELSE CAST(datediff(ots, DATE '1992-01-01') AS BIGINT)"
        " * 17592186044416 + okey END AS oval"
    )
    with pytest.raises(Exception, match="asof composite precondition"):
        guarded.collect()
    assert "1992-01-01" in queries._ASOF_EPOCH


def test_bucketed_scratch_sweep(tmp_path):
    """Stale (day-old) app scratch dirs are swept; young ones survive."""
    import os
    import time

    from espkinesis_spark.functions.dedup import _sweep_stale_scratch

    old = tmp_path / "app_old"
    young = tmp_path / "app_young"
    old.mkdir()
    young.mkdir()
    past = time.time() - 2 * 86400
    os.utime(old, (past, past))
    _sweep_stale_scratch(str(tmp_path))
    assert not old.exists() and young.exists()


_DRAIN_BYTES = [0, 1, 256 << 20, (256 << 20) + 1, 1 << 62]
_DRAIN_ROWS = [None, 0, 1, 1_000_000, 1_000_001, 1 << 62]


@given(
    nbytes=st.one_of(st.sampled_from(_DRAIN_BYTES), st.integers(0, 1 << 40)),
    rows=st.one_of(st.sampled_from(_DRAIN_ROWS), st.integers(0, 1 << 30)),
    mode=st.sampled_from(["append", "complete"]),
)
@settings(max_examples=200, deadline=None)
def test_drain_route_for_every_source_size(nbytes, rows, mode):
    """jobs._drain's one rule, over degenerate source sizes: the parquet
    drain iff the source's footer bytes exceed MEMORY_DRAIN_MAX_SOURCE_BYTES
    or its rows exceed MEMORY_DRAIN_MAX_SOURCE_ROWS; a missing source
    (``rows`` None: no files, no footer read) sizes nothing and goes to
    the memory sink. Both routes get the drain mode and the row count."""
    from espkinesis_spark.streaming import jobs

    files = [] if rows is None else ["part-0.parquet"]
    calls = []
    mp = pytest.MonkeyPatch()
    try:
        mp.setattr(jobs, "_source_files", lambda source: files)
        mp.setattr(jobs, "_bytes_of", lambda fs: nbytes if fs else 0)
        mp.setattr(jobs, "_rows_of", lambda fs: calls.append("rows_of") or rows)
        mp.setattr(
            jobs,
            "_drain_to_parquet",
            lambda df, name, mode, source_rows: calls.append(
                ("parquet", name, mode, source_rows)
            )
            or "parquet frame",
        )
        mp.setattr(
            jobs,
            "_replay",
            lambda df, name, writer, source_rows: calls.append(
                ("memory", name, source_rows)
            ),
        )
        dropped = []
        session = SimpleNamespace(
            table=lambda name: ("memory frame", name),
            catalog=SimpleNamespace(dropTempView=dropped.append),
        )
        out = jobs._drain(SimpleNamespace(sparkSession=session), "sink", "src", mode)
    finally:
        mp.undo()

    size = 0 if rows is None else nbytes
    to_parquet = (
        size > jobs.MEMORY_DRAIN_MAX_SOURCE_BYTES
        or (rows or 0) > jobs.MEMORY_DRAIN_MAX_SOURCE_ROWS
    )
    assert ("rows_of" in calls) == (rows is not None)
    route = [c for c in calls if c != "rows_of"]
    if to_parquet:
        assert route == [("parquet", "sink", mode, rows)]
        assert out == "parquet frame" and dropped == []
    else:
        assert route == [("memory", "sink", rows)]
        assert out == ("memory frame", "sink") and dropped == ["sink"]
