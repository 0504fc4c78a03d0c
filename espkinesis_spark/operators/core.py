"""Core operator library: the reference's dataflow semantics on DataFrames.

Each operator cites the reference behavior it reproduces
(files under /root/reference, studied for behavior only).

Scale notes apply to every operator:
  * Column expressions stay inside whole-stage codegen (no Python UDFs).
  * Window-based last-value ops partition by the key — at 100 TB the key
    cardinality (users/devices) dwarfs executor count, so partitions are
    balanced; a skewed hot key is handled by AQE skew-join/salting upstream.
"""

from __future__ import annotations

from collections import deque

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# RC channel domain (ref: src/transmitter/main.cpp:201-210) and SBUS output
# domain (ref: src/receiver/main.cpp:70).
RC_MIN, RC_MAX = 1000, 2000
SBUS_MIN, SBUS_MAX = 172, 1811
SKIP_SENTINEL = -1
CHANNEL_COUNT = 8  # ref: lib/TargetManager/TargetManager.h:13


def remap_range(
    v: Column,
    in_min: int = RC_MIN,
    in_max: int = RC_MAX,
    out_min: int = SBUS_MIN,
    out_max: int = SBUS_MAX,
) -> Column:
    """P1 — linear range remap with *truncating* integer semantics.

    Arduino ``map()`` computes ``(v - in_min) * (out_max - out_min) /
    (in_max - in_min) + out_min`` in integer arithmetic (truncation toward
    zero, not rounding) — ref: src/receiver/main.cpp:68-71. FLOOR matches
    truncation for the non-negative domain used here.
    """
    scaled = (v - F.lit(in_min)) * F.lit(out_max - out_min) / F.lit(in_max - in_min)
    return (F.floor(scaled) + F.lit(out_min)).cast("long")


def remap_channels(channels: Column) -> Column:
    """P1 applied element-wise to a channel array (all 8 channels,
    ref: src/receiver/main.cpp:68-71)."""
    return F.transform(channels, lambda v: remap_range(v))


def mac_str(mac_bytes: Column) -> Column:
    """P2 — 6-byte MAC -> canonical uppercase hex ``AA:BB:CC:DD:EE:FF``.

    Ref: lib/TargetManager/TargetManager.h:202-208 ("%02X:..." formatting).
    Accepts BinaryType; stays JVM-side via hex + regexp grouping.
    """
    h = F.upper(F.hex(mac_bytes))  # e.g. "A1B2C3D4E5F6"
    return F.concat_ws(
        ":", *[F.substring(h, i * 2 + 1, 2) for i in range(6)]
    )


def validate_channels(channels: Column) -> Column:
    """F6 — every element is the -1 skip sentinel or in [1000, 2000];
    any out-of-range value rejects the whole command (atomicity).

    Ref: src/transmitter/main.cpp:190-213. The reference mutates while
    validating (a trailing bad value leaves earlier writes applied); this
    engine validates-then-applies — deliberate divergence documented in
    SURVEY §7.
    """
    ok = lambda v: (v == F.lit(SKIP_SENTINEL)) | v.between(RC_MIN, RC_MAX)
    return F.forall(channels, ok)


def validate_commands(
    commands: DataFrame,
    targets: DataFrame,
    channels_col: str = "channels",
    duration_col: str = "duration",
    target_id_col: str = "target_id",
) -> tuple[DataFrame, DataFrame]:
    """F3-F7 + K4 — split a parsed command stream into (valid, rejected).

    Validation order mirrors the reference's early-exit ordering (cheap
    field checks before the registry lookup — ref:
    src/transmitter/main.cpp:151-213):
      F3 required fields non-null; F4 1 <= size(channels) <= 8;
      F5 duration >= 1 ms; F6 per-value range/sentinel;
      F7 target exists (broadcast left join against the dim).

    Rejected rows carry an ``error`` column naming the first failed check
    (the dead-letter branch, ref: src/transmitter/main.cpp:125-140).
    """
    c = F.col
    ch, dur, tid = c(channels_col), c(duration_col), c(target_id_col)
    joined = commands.join(
        F.broadcast(targets.select(c("id").alias("__t_id"))),
        commands[target_id_col] == F.col("__t_id"),
        "left",
    )
    error = (
        F.when(tid.isNull() | ch.isNull() | dur.isNull(), "missing_field")
        .when(~F.size(ch).between(1, CHANNEL_COUNT), "bad_channel_count")
        .when(dur < 1, "bad_duration")
        .when(~validate_channels(ch), "bad_channel_value")
        .when(c("__t_id").isNull(), "unknown_target")
    )
    annotated = joined.withColumn("error", error).drop("__t_id")
    valid = annotated.filter(c("error").isNull()).drop("error")
    rejected = annotated.filter(c("error").isNotNull())
    return valid, rejected


def patch_channels(cmd: Column, current: Column) -> Column:
    """P8 — overlay non-sentinel command values onto the current frame.

    Ref: src/transmitter/main.cpp:190-213 (assignment at :212): a -1 in the
    command keeps the live value; anything else overrides it. Idempotent.
    """
    return F.zip_with(
        cmd, current, lambda cv, cur: F.when(cv == F.lit(SKIP_SENTINEL), cur).otherwise(cv)
    )


def latest_per_key(
    df: DataFrame, key_cols: list[str], ts_col: str, tiebreak_cols: list[str] | None = None
) -> DataFrame:
    """A2/A3 — last value per key (ack-state tracking / latest-frame hold).

    Ref: src/transmitter/main.cpp:66-74 (per-MAC last ack) and
    src/receiver/main.cpp:36 (global latest frame). Deterministic: ties on
    ``ts`` break by ``tiebreak_cols`` descending.

    Scale: one shuffle on the key; ``row_number`` needs only a per-key sort.
    For top-1 Spark rewrites the window to a partial/final max-by style
    aggregation under AQE; no global sort.
    """
    order = [F.col(ts_col).desc()] + [F.col(tc).desc() for tc in (tiebreak_cols or [])]
    w = Window.partitionBy(*key_cols).orderBy(*order)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def resample_last(
    df: DataFrame, key_cols: list[str], ts_col: str, every: str = "1 minute"
) -> DataFrame:
    """T2/T4 batch analog — downsample to the last value per key per window.

    Ref: the 2 Hz radio pacing (src/transmitter/main.cpp:23-25,359-363) and
    30 Hz SBUS resample-with-hold (src/receiver/main.cpp:62-74): a stream of
    arbitrary cadence reduced to one held value per fixed interval.
    Emits (key..., window_start, last-row columns) via max_by-style window.
    """
    w_col = F.window(F.col(ts_col), every)
    grouped = df.withColumn("__w", w_col.getField("start"))
    return latest_per_key(grouped, key_cols + ["__w"], ts_col).withColumnRenamed(
        "__w", "window_start"
    )


# Plan-size estimate above which assign_ids switches from the global-window
# form (one task sorts everything) to the range-bucketed two-phase form.
ASSIGN_IDS_WINDOW_BYTES = 16 << 20


def assign_ids(df: DataFrame, order_col: str) -> DataFrame:
    """J4 — registration-order dense id assignment (``next_id++``).

    Ref: lib/TargetManager/TargetManager.h:46-63 (ids start at 1, dense,
    insertion order).

    Catalyst's plan-size estimate picks the form. Within
    ``ASSIGN_IDS_WINDOW_BYTES`` (or for a non-orderable ``order_col``):
    global ``row_number`` — a single-partition sort, fine for
    dimension-sized inputs (the reference's registry is 8 rows). Above
    it, or with no estimate: the fact-scale form — quantile range-bucket
    on ``order_col`` into ``spark.sql.shuffle.partitions`` buckets
    (fixed boundary literals, so bucketing is deterministic), per-bucket
    parallel sort + ``row_number``, then add each bucket's cumulative
    row-count offset. Only bucket boundaries (n-1 values) and bucket
    counts (n rows) ever reach the driver; no single-partition exchange
    (plan-audited). Equal values land in one bucket, so ties behave
    exactly as in the window form.
    """
    from espkinesis_spark.plans.audit import plan_size_bytes

    size = plan_size_bytes(df)
    dtype = dict(df.dtypes).get(order_col, "")
    rangeable = dtype in {
        "tinyint", "smallint", "int", "bigint", "float", "double", "date", "timestamp",
    } or dtype.startswith("decimal")
    n = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32"))
    numeric = F.col(order_col).cast("double")
    boundaries = []
    if rangeable and (size is None or size > ASSIGN_IDS_WINDOW_BYTES) and n > 1:
        qs = [i / n for i in range(1, n)]
        boundaries = (
            df.agg(F.percentile_approx(numeric, qs, 100_000).alias("b")).first()["b"]
            or []
        )
    if not boundaries:  # small, unorderable, one bucket or empty: window form
        w = Window.orderBy(F.col(order_col))
        return df.withColumn("reg_id", F.row_number().over(w).cast("long"))
    # value-based bucketing: count of boundaries strictly below the value —
    # approximate boundaries affect balance only, never correctness
    b_arr = F.array(*[F.lit(float(b)) for b in boundaries])
    bucket = F.size(F.filter(b_arr, lambda b: b < numeric))
    bucketed = df.withColumn("__bkt", bucket)

    counts = {r["__bkt"]: r["cnt"] for r in bucketed.groupBy("__bkt").agg(F.count("*").alias("cnt")).collect()}
    offsets, acc = [], 0
    for i in range(n):
        offsets.append(acc)
        acc += counts.get(i, 0)
    off_arr = F.array(*[F.lit(o).cast("long") for o in offsets])

    w = Window.partitionBy("__bkt").orderBy(F.col(order_col))
    return (
        bucketed.withColumn("__rn", F.row_number().over(w).cast("long"))
        .withColumn("reg_id", F.element_at(off_arr, F.col("__bkt") + 1) + F.col("__rn"))
        .drop("__bkt", "__rn")
    )


def stale_keys(
    df: DataFrame, key_cols: list[str], ts_col: str, threshold: str = "INTERVAL 1 HOUR"
) -> DataFrame:
    """A6 — liveness: keys whose newest event is older than (global max - threshold).

    Ref: src/transmitter/main.cpp:72 (last_successful_send recency) as
    consumed for health display. Batch form of DQ-08.

    Scale: the global max is a 1-row broadcast (cross join of an aggregate),
    not a driver collect.
    """
    per_key = df.groupBy(*key_cols).agg(F.max(ts_col).alias("last_ts"))
    global_max = df.agg(F.max(ts_col).alias("__gmax"))
    return (
        per_key.crossJoin(F.broadcast(global_max))
        .filter(F.col("last_ts") < F.expr(f"__gmax - {threshold}"))
        .drop("__gmax")
    )


def remaining_ttl_ms(expiry_us: Column, now_us: Column) -> Column:
    """P5 — remaining override TTL in ms, clamped at 0.

    Ref: lib/TargetManager/TargetManager.h:169-178 (``max(0,
    (override_timeout - now)/1000)`` guarded against wrap).
    """
    return F.greatest(F.lit(0).cast("long"), ((expiry_us - now_us) / 1000).cast("long"))


def snapshot_json(targets: DataFrame, fields: list[str]) -> DataFrame:
    """A4 + P3/P4 — collect all target rows into one JSON array document.

    Ref: src/transmitter/main.cpp:282-296 (targets_update snapshot) built
    from per-target objects (lib/TargetManager/TargetManager.h:145-182).
    Returns a 1-row DataFrame ``(targets_json string)``. Snapshot inputs are
    dimension-sized; the collect_list here is bounded by the registry size.
    """
    structs = F.array_sort(F.collect_list(F.struct(*[F.col(f) for f in fields])))
    return targets.agg(F.to_json(structs).alias("targets_json"))


def asof_last_match(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str,
    right_ts: str,
    lookback: str = "INTERVAL 1 HOUR",
    right_val: str = "event_id",
) -> DataFrame:
    """A5 batch analog — as-of join: for each left row, the latest right row
    with the same key and ``right_ts`` in (left_ts - lookback, left_ts].

    Ref semantics: override sessions apply the most recent unexpired command
    to each frame (src/transmitter/main.cpp:84-87,215-217). Spark has no
    native ASOF join; this composes an equi-join on the key with a range
    filter and a max aggregation (DQ-09's shape).

    Scale: the equi-join shuffles both sides on ``key`` only once; the range
    predicate is applied post-join, and the re-aggregation is on the left
    primary key. For severely skewed keys use ``asof_last_match_pandas``.

    A synthetic per-row id rides through the join so fully-duplicate left
    rows keep their multiplicity (true asof-join semantics), then is dropped.
    """
    lid = "__asof_lid"
    left_tagged = left.withColumn(lid, F.monotonically_increasing_id())
    lcols = [F.col(f"l.{c}") for c in (*left.columns, lid)]
    r = right.alias("r")
    joined = left_tagged.alias("l").join(
        r,
        (F.col(f"l.{key}") == F.col(f"r.{key}"))
        & (F.col(f"r.{right_ts}") <= F.col(f"l.{left_ts}"))
        & (F.col(f"r.{right_ts}") > F.expr(f"l.{left_ts} - {lookback}")),
        "left",
    )
    return (
        joined.groupBy(*lcols)
        .agg(F.max(F.col(f"r.{right_val}")).alias("asof_match"))
        .drop(lid)
    )


def asof_window_max(
    lkey: np.ndarray,
    lt: np.ndarray,
    rkey: np.ndarray,
    rt: np.ndarray,
    rv: np.ndarray,
    lookback: int,
) -> pd.arrays.IntegerArray:
    """The as-of window max of ``asof_last_match_pandas`` and the streaming
    ``asof_override``: per left row, the max ``rv`` over right rows of the
    same key code with time in ``(lt - lookback, lt]`` (<NA> if none), so
    a right row at exactly ``lt`` counts (the oracle's ``r.ts <= l.ts``).
    Key codes are non-negative, except that a negative left code matches
    nothing. Key and dense time rank fold into one sortable int64, so a
    whole bucket of keys takes one searchsorted per bound; in (key, time)
    order both bounds only move forward, so a monotone deque yields every
    max in O(n + m) total."""
    n, m = len(lt), len(rt)
    times, rank = np.unique(np.concatenate([rt, lt - lookback, lt]), return_inverse=True)
    span = len(times)
    r = rkey * span + rank[:m]
    by_r = np.argsort(r, kind="stable")
    r, v = r[by_r], rv[by_r].tolist()
    lo = np.searchsorted(r, lkey * span + rank[m : m + n], side="right").tolist()
    hi_key = lkey * span + rank[m + n :]
    hi = np.searchsorted(r, hi_key, side="right").tolist()
    best: list[int | None] = [None] * n
    window: deque[int] = deque()  # right indices, values decreasing
    j = 0
    for i in np.argsort(hi_key, kind="stable").tolist():
        while j < hi[i]:
            while window and v[window[-1]] <= v[j]:
                window.pop()
            window.append(j)
            j += 1
        while window and window[0] < lo[i]:
            window.popleft()
        if window:
            best[i] = v[window[0]]
    return pd.array(best, dtype="Int64")


def epoch_micros(ts: pd.Series) -> np.ndarray:
    """Epoch µs of a timestamp or date column (NaT: int64 min)."""
    return pd.to_datetime(ts).to_numpy("datetime64[us]").view(np.int64)


def asof_last_match_pandas(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str,
    right_ts: str,
    lookback_s: int = 3600,
    right_val: str = "event_id",
    n_buckets: int = 64,
) -> DataFrame:
    """``asof_last_match`` as a cogrouped-pandas kernel over KEY BUCKETS:
    both sides shuffle ONCE on hash(key) mod ``n_buckets``, then one
    ``asof_window_max`` call matches every key inside a bucket in numpy.

    This is the shape for skewed or very dense keys where the join-then-
    reaggregate form amplifies the intermediate (every left row × every
    in-window right row); here the intermediate never materializes.
    Bucketing matters as much as the kernel: cogrouping on the RAW key
    pays the JVM↔Arrow round trip once per key (measured 38 s for 1.5k
    keys at sf0.1 — ~20× the actual Python work), while 64 buckets
    amortize it to once per bucket. Identical results to
    ``asof_last_match`` (tested), nulls included.
    """
    from pyspark.sql import types as T

    out_schema = T.StructType(
        [left.schema[c] for c in left.columns]
        + [T.StructField("asof_match", T.LongType())]
    )
    lb_us = lookback_s * 1_000_000
    out_cols = list(left.columns) + ["asof_match"]

    def match_bucket(lpdf: pd.DataFrame, rpdf: pd.DataFrame) -> pd.DataFrame:
        rpdf = rpdf.dropna(subset=[key, right_ts, right_val])
        n = len(lpdf)
        codes, _ = pd.factorize(pd.concat([lpdf[key], rpdf[key]], ignore_index=True))
        lpdf["asof_match"] = asof_window_max(
            np.where(lpdf[left_ts].isna(), -1, codes[:n]),
            epoch_micros(lpdf[left_ts]),
            codes[n:],
            epoch_micros(rpdf[right_ts]),
            rpdf[right_val].to_numpy(np.int64),
            lb_us,
        )
        return lpdf[out_cols]

    bucket = F.pmod(F.xxhash64(F.col(key)), F.lit(n_buckets))
    lb = left.withColumn("__asof_bucket", bucket)
    # fresh attributes: a right side derived from the left's scan would
    # otherwise bind the kernel's right arguments to the left's columns
    right = right.select(key, right_ts, right_val).toDF(key, right_ts, right_val)
    rb = right.withColumn("__asof_bucket", bucket)
    return (
        lb.groupBy("__asof_bucket")
        .cogroup(rb.groupBy("__asof_bucket"))
        .applyInPandas(match_bucket, schema=out_schema)
    )
