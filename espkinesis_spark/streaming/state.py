"""Stateful streaming processors (the reference's per-key mutable state).

The one genuinely stateful construct in the reference is the override
session (A5): a command patches a target's channels and sets an absolute
expiry; frames re-use the override until it lapses, checked lazily at frame
time (ref: src/transmitter/main.cpp:84-87,215-217). Both processors here
(the override session and the as-of matcher) use ``applyInPandasWithState``
— keyed state in the state store, Arrow-batched user code, event-time
logic so replays are deterministic. ``override_sessions`` is the one
override session; its (patch, expiry) state checkpoints on either state
store provider (the HDFS-backed default or RocksDB).

Scale: the override session keys state by target, the as-of matcher by a
hash bucket of the user (one ``operators.core.asof_window_max`` call per
bucket pays the framework's per-group cost once). The store shards state
by key and prunes it to the lookback horizon, so 1000 executors hold
1000th of the keys each — no global state anywhere.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from espkinesis_spark.operators.core import asof_window_max, epoch_micros

US_PER_HOUR = 3_600_000_000
# several per state partition for balance, few for the per-group cost
ASOF_BUCKETS_PER_PARTITION = 8

ASOF_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("active_override", T.LongType()),
    ]
)
# one bucket's purchases, plus the bucket count its key was hashed with
ASOF_STATE_SCHEMA = T.StructType(
    [
        T.StructField("n_buckets", T.LongType()),
        T.StructField("user_id", T.ArrayType(T.LongType())),
        T.StructField("ts", T.ArrayType(T.LongType())),
        T.StructField("event_id", T.ArrayType(T.LongType())),
    ]
)


def _make_asof_fn(late_slack_us: int, n_buckets: int):
    def _asof_fn(
        key, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        """Per click, the max same-user purchase event_id in (click_ts - 1h,
        click_ts]; state keeps the bucket's purchases within horizon + slack."""
        df = pd.concat(list(pdfs))
        stored, *purchases = state.get if state.exists else (n_buckets, [], [], [])
        if stored != n_buckets:
            raise RuntimeError(
                f"asof_override state was hashed into {stored} buckets, this query"
                f" into {n_buckets}: resume with its first spark.sql.shuffle.partitions"
            )
        ts = epoch_micros(df["ts"])
        uid, eid = df["user_id"].to_numpy(), df["event_id"].to_numpy()
        ok = (df["user_id"].notna() & df["ts"].notna()).to_numpy()
        click = (df["event_type"] == "click").to_numpy()
        buy = ok & ~click & df["event_id"].notna().to_numpy()
        p_uid, p_ts, p_id = (
            np.concatenate([np.asarray(old, dtype=np.int64), new]).astype(np.int64)
            for old, new in zip(purchases, (uid[buy], ts[buy], eid[buy]))
        )
        n = int(click.sum())
        codes = pd.factorize(np.concatenate([uid[click], p_uid]))[0]
        lkey = np.where(ok[click], codes[:n], -1)
        over = asof_window_max(lkey, ts[click], codes[n:], p_ts, p_id, US_PER_HOUR)
        keep = p_ts > ts.max(initial=0) - US_PER_HOUR - late_slack_us
        state.update(
            (n_buckets, p_uid[keep].tolist(), p_ts[keep].tolist(), p_id[keep].tolist())
        )
        # ints and None, not the nullable Int64 array: pyspark pads each
        # output batch with an all-None frame, and pandas deprecates
        # concatenating that pad with an Int64 column
        over = over.to_numpy(dtype=object, na_value=None)
        yield pd.DataFrame({"event_id": eid[click], "active_override": over})

    return _asof_fn


def asof_override(events: DataFrame, late_slack: str = "1 hour") -> DataFrame:
    """A5 streaming form over an events stream (click/purchase rows).

    State is keyed by ``pmod(xxhash64(user_id), n_buckets)``: there are
    ``ASOF_BUCKETS_PER_PARTITION`` buckets for each of the session's
    ``spark.sql.shuffle.partitions`` at call time, the state-partition
    count a query started from it keeps. A resume that would hash into a
    different bucket count raises. A purchase at exactly a click's ts
    counts, whatever its event_id (the oracle's ``o.ts <= e.ts``).

    Ordering assumption: state is pruned relative to each batch's max event
    time (applyInPandasWithState exposes no per-group watermark), so a click
    arriving in a LATER micro-batch can only match purchases younger than
    (that batch max - lookback - ``late_slack``). ``late_slack`` must be >=
    the upstream watermark delay; events later than the watermark are the
    caller's responsibility to drop (``withWatermark`` upstream). Single-
    batch replays (the driver's availableNow drain) are exact regardless.
    """
    slack_us = int(pd.Timedelta(late_slack).value // 1000)
    n_buckets = ASOF_BUCKETS_PER_PARTITION * int(
        events.sparkSession.conf.get("spark.sql.shuffle.partitions")
    )
    bucket = F.pmod(F.xxhash64("user_id"), F.lit(n_buckets)).alias("bucket")
    filtered = events.filter(events.event_type.isin("click", "purchase")).select(
        bucket, "user_id", "ts", "event_id", "event_type"
    )
    return filtered.groupBy("bucket").applyInPandasWithState(
        _make_asof_fn(slack_us, n_buckets),
        outputStructType=ASOF_OUTPUT_SCHEMA,
        stateStructType=ASOF_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# --- the transmitter override session itself (frames x commands) -----------

OVERRIDE_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("target_id", T.IntegerType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("frame_id", T.LongType()),
        T.StructField("channels", T.ArrayType(T.IntegerType())),
        T.StructField("overridden", T.BooleanType()),
    ]
)
# state: the active override patch + absolute expiry (µs epoch)
OVERRIDE_STATE_SCHEMA = T.StructType(
    [
        T.StructField("patch", T.ArrayType(T.IntegerType())),
        T.StructField("expiry_us", T.LongType()),
    ]
)


def _override_fn(key, pdfs: Iterator[pd.DataFrame], state: GroupState) -> Iterator[pd.DataFrame]:
    """One override-session step for one target (ref semantics, event
    time, rows in (ts, seq) order):

    * command row -> store (patch, expiry = cmd_ts + duration ms)
      (ref: src/transmitter/main.cpp:215-217)
    * frame row   -> if frame_ts < expiry apply patch (-1 keeps live value,
      ref :190-213), else the override has lapsed (lazy check, ref :84-87).
    """
    patch, expiry = state.get if state.exists else (None, -1)
    # plain Python ints: numpy scalars don't survive the state round trip
    patch = None if patch is None else [int(c) for c in patch]
    expiry = int(expiry)
    rows: list[tuple] = []
    for row in pd.concat(list(pdfs)).sort_values(["ts", "seq"]).itertuples():
        t_us = row.ts.value // 1000
        if row.kind == "command":
            patch = [int(c) for c in row.channels]
            expiry = t_us + int(row.duration) * 1000
        else:  # frame
            live = [int(v) for v in row.channels]
            if patch is not None and t_us < expiry:
                merged = [c if c != -1 else v for c, v in zip(patch, live)]
                rows.append((int(key[0]), row.ts, int(row.frame_id), merged, True))
            else:
                rows.append((int(key[0]), row.ts, int(row.frame_id), live, False))
    state.update((patch, expiry))
    yield pd.DataFrame(rows, columns=OVERRIDE_OUTPUT_SCHEMA.names)


def override_sessions(tagged: DataFrame) -> DataFrame:
    """Run the override session over a unified (frames ∪ commands) stream.

    ``tagged`` columns: target_id, ts, seq, kind ('frame'|'command'),
    frame_id, channels, duration. Build it with
    ``pipeline.tag_frames_and_commands``.
    """
    return tagged.groupBy("target_id").applyInPandasWithState(
        _override_fn,
        outputStructType=OVERRIDE_OUTPUT_SCHEMA,
        stateStructType=OVERRIDE_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )

