"""Salted-join equivalence + override-session state across a RocksDB
checkpoint restart."""

from __future__ import annotations

from pyspark.sql import functions as F

from espkinesis_spark.operators.skew import salted_join
from espkinesis_spark.streaming import pipeline, sources, state
from espkinesis_spark.tables import load_table


def test_salted_join_equals_plain_join(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events").select(
        F.col("user_id").alias("k"), "event_id", "value"
    )
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("k"), "c_name"
    )
    plain = ev.join(cust, "k").groupBy("k").agg(
        F.count("*").alias("n"), F.round(F.sum("value"), 4).alias("s")
    )
    salted = salted_join(ev, cust, "k", salt=4).groupBy("k").agg(
        F.count("*").alias("n"), F.round(F.sum("value"), 4).alias("s")
    )
    assert plain.exceptAll(salted).count() == 0
    assert salted.exceptAll(plain).count() == 0


def test_salted_left_join_keeps_unmatched(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events").select(F.col("user_id").alias("k"), "event_id")
    cust = load_table(spark, sf_dir, "customer").select(F.col("c_custkey").alias("k"), "c_name")
    plain_n = ev.join(cust, "k", "left").count()
    assert salted_join(ev, cust, "k", salt=4, how="left").count() == plain_n


def test_salted_join_plan_spreads_hot_key(spark, sf_dir):
    """With auto-broadcast off (the regime salting exists for: a build side
    too big to broadcast), the salted plan must shuffle on the COMPOSITE
    (key, salt) — spreading a hot key over salt partitions — and replicate
    the build side via explode (generate)."""
    from espkinesis_spark.plans import audit
    from espkinesis_spark.queries import ex_skew_join

    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = audit.physical_plan(ex_skew_join(spark, sf_dir))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert "explode" in plan.lower() or "generate" in plan.lower()  # build replicas
    # the join exchange hashes on (skew_key, __salt), not skew_key alone
    import re

    assert re.search(r"hashpartitioning\([^)]*skew_key[^)]*__salt", plan), plan[:2000]


def test_override_session_state_survives_query_restart(spark, tmp_path_factory):
    """The override session's (patch, expiry) state must be RESTORED
    from the RocksDB checkpoint across a full query stop/restart: a
    command consumed in leg 1 sets (patch, expiry); a frame delivered
    only in leg 2 — a brand-new query resuming the same checkpoint —
    must still be patched by it, and a frame past expiry must not. A
    processor whose state silently resets on restart (the restored
    state ignored, a state schema mismatch, a checkpoint not carrying
    the store) emits f2 unpatched and fails the exact-tuple compare.
    Hand-computed expectation — no reuse of the engine path as its own
    oracle."""
    from datetime import datetime, timezone

    t = lambda m, s=0: datetime(2024, 1, 1, 10, m, s, tzinfo=timezone.utc)  # noqa: E731
    base = tmp_path_factory.mktemp("override_restart")
    frames_dir, cmds_dir = str(base / "frames"), str(base / "cmds")
    sink, ckpt = str(base / "sink"), str(base / "ckpt")

    live = [1500] * 8
    patch = [-1, 1200] * 4
    merged = [1500, 1200] * 4

    def write_frames(rows):
        spark.createDataFrame(rows, sources.FRAME_SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(frames_dir)

    cmd_schema = "target_id int, ts timestamp, channels array<int>, duration long"
    # leg 1: the command (10:00, 10-minute override) + one in-window frame
    spark.createDataFrame(
        [(1, t(0), patch, 600000)], cmd_schema
    ).coalesce(1).write.mode("append").parquet(cmds_dir)
    write_frames([(1, t(0, 30), live)])

    def run_leg():
        frames = sources.file_stream(spark, frames_dir, sources.FRAME_SCHEMA)
        cmds = sources.file_stream(spark, cmds_dir, spark.createDataFrame([], cmd_schema).schema)
        targets = spark.createDataFrame([(1,)], "id int")
        tagged = pipeline.tag_frames_and_commands(frames, cmds, targets)
        q = (
            state.override_sessions(tagged)
            .writeStream.outputMode("append")
            .format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        run_leg()
        # leg 2: new files only — f2 inside the leg-1 expiry, f3 far past it
        write_frames([(2, t(1), live), (3, t(50), live)])
        run_leg()
    finally:
        if prev is None:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        else:
            spark.conf.set("spark.sql.streaming.stateStore.providerClass", prev)

    got = {
        (r["target_id"], r["frame_id"]): (list(r["channels"]), r["overridden"])
        for r in spark.read.parquet(sink).collect()
    }
    assert got == {
        (1, 1): (merged, True),   # leg 1, in window
        (1, 2): (merged, True),   # leg 2 — ONLY correct if state was restored
        (1, 3): (live, False),    # leg 2, past expiry
    }
