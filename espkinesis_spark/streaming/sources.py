"""Streaming source constructors.

The reference's sources are a PPM radio scan, a serial JSON line reader, and
ESP-NOW radio callbacks (SURVEY §2.1 S1-S4). Here every source is a
Structured Streaming DataFrame with an explicit schema; tests and the driver
replay file fixtures (`availableNow` drains everything deterministically),
production swaps in Kinesis/Kafka with the same downstream plan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

# Channel frame wire schema (ref: lib/TargetManager/TargetManager.h:15-17 —
# 8 x uint16; -1 sentinel only in the command plane).
FRAME_SCHEMA = T.StructType(
    [
        T.StructField("frame_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("channels", T.ArrayType(T.IntegerType())),
    ]
)

# Serial command line (ref: src/transmitter/main.cpp:301-313 — raw JSON text).
COMMAND_LINE_SCHEMA = T.StructType(
    [
        T.StructField("cmd_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("raw", T.StringType()),
    ]
)

# Parsed command payload (ref: src/transmitter/main.cpp:151-210 field contract).
COMMAND_SCHEMA = T.StructType(
    [
        T.StructField("command", T.StringType()),
        T.StructField("target_id", T.IntegerType()),
        T.StructField("channels", T.ArrayType(T.IntegerType())),
        T.StructField("duration", T.LongType()),
    ]
)

# Send-ack callback (ref: src/transmitter/main.cpp:55-75).
ACK_SCHEMA = T.StructType(
    [
        T.StructField("ack_ts", T.TimestampType()),
        T.StructField("mac", T.StringType()),
        T.StructField("ok", T.BooleanType()),
    ]
)


def file_stream(spark: SparkSession, path: str, schema: T.StructType, fmt: str = "parquet") -> DataFrame:
    """Replayable file source (S1/S2 analog for tests and backfills)."""
    reader = spark.readStream.schema(schema)
    return reader.parquet(path) if fmt == "parquet" else reader.format(fmt).load(path)


def command_lines(spark: SparkSession, path: str) -> DataFrame:
    """S2 — newline-delimited JSON command lines from a replay directory."""
    return file_stream(spark, path, COMMAND_LINE_SCHEMA, fmt="json")


def rate_frames(spark: SparkSession, rows_per_second: int = 2) -> DataFrame:
    """Synthetic 2 Hz frame source (ref envelope: RADIO_SEND_FREQ_HZ=2,
    src/transmitter/main.cpp:23-25) for live-mode demos."""
    rate = spark.readStream.format("rate").option("rowsPerSecond", rows_per_second).load()
    chans = F.expr(
        "transform(sequence(1, 8), i -> CAST(1000 + pmod(value * 131 + i * 17, 1001) AS INT))"
    )
    return rate.select(
        F.col("value").alias("frame_id"),
        F.col("timestamp").alias("ts"),
        chans.alias("channels"),
    )


def decode_kinesis_payload(raw: DataFrame) -> DataFrame:
    """Decode Kinesis-wire records into channel frames.

    ``raw`` carries the connector's output shape: ``data`` (binary JSON
    payload) + ``approximateArrivalTimestamp``. Separated from the reader so
    the decode plan is testable without the connector jar — a batch
    DataFrame with the same two columns exercises the identical expressions
    (tests/test_sources.py).
    """
    payload = F.from_json(F.col("data").cast("string"), FRAME_SCHEMA)
    cols = [
        payload.getField("frame_id").alias("frame_id"),
        F.col("approximateArrivalTimestamp").alias("ts"),
        payload.getField("channels").alias("channels"),
    ]
    if "__raw" in raw.columns:  # dead-letter split keeps the original bytes
        cols.append(F.col("__raw"))
    return raw.select(*cols)


def split_decoded_frames(raw: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Decode Kinesis-wire records and route malformed payloads to a
    dead-letter branch (F1/F2 at the ingestion edge + K4 shape).

    Returns ``(frames, dead)``: frames with the FRAME_SCHEMA columns for
    fully-decoded payloads, and for the rest an error doc carrying the
    original bytes base64'd so nothing is lost (ref semantics:
    src/transmitter/main.cpp:232-240 rejects bad payloads with an error
    response instead of dropping them). One ``from_json`` pass feeds both
    branches — the filter is on the decoded struct, not a re-parse.
    """
    decoded = decode_kinesis_payload(raw.withColumn("__raw", F.col("data")))
    bad = F.col("frame_id").isNull() | F.col("channels").isNull()
    frames = decoded.filter(~bad).drop("__raw")
    dead = decoded.filter(bad).select(
        F.to_json(
            F.struct(
                F.lit("error").alias("type"),
                F.lit("frame_decode_error").alias("message"),
                F.base64(F.col("__raw")).alias("payload_b64"),
                F.col("ts").alias("arrival_ts"),
            )
        ).alias("doc")
    )
    return frames, dead


# The two public Spark Kinesis connectors and their (differing) option
# vocabularies. "kinesis" = the spark-sql-kinesis (Qubole-lineage) connector;
# "aws-kinesis" = AWS Labs' spark-streaming-sql-kinesis-connector. Both emit
# the same record shape (data binary + approximateArrivalTimestamp), so the
# decode stage downstream is connector-agnostic.
KINESIS_CONNECTOR_FORMATS = ("kinesis", "aws-kinesis")

# Session conf that selects the frame-source binding; "file" (default) is the
# in-sandbox replay path — no network, no connector jar.
SOURCE_CONF_KEY = "spark.espkinesis.frames.source"


def kinesis_reader_options(
    stream_name: str,
    region: str = "us-east-1",
    endpoint: str | None = None,
    connector: str = "kinesis",
    position: str = "latest",
) -> tuple[str, dict[str, str]]:
    """(format, options) for a Kinesis structured-streaming reader.

    Pure — no SparkSession — so the binding is unit-testable without the
    connector jar or network. Each connector names its options differently:

      * ``kinesis``:     streamName / region / endpointUrl / initialPosition
      * ``aws-kinesis``: kinesis.streamName / kinesis.region /
                         kinesis.endpointUrl / kinesis.startingPosition
                         (+ kinesis.consumerType=GetRecords)
    """
    if connector not in KINESIS_CONNECTOR_FORMATS:
        raise ValueError(
            f"unknown kinesis connector {connector!r}; known: {KINESIS_CONNECTOR_FORMATS}"
        )
    if connector == "kinesis":
        opts = {
            "streamName": stream_name,
            "region": region,
            "initialPosition": position,
        }
        if endpoint:
            opts["endpointUrl"] = endpoint
    else:
        opts = {
            "kinesis.streamName": stream_name,
            "kinesis.region": region,
            "kinesis.consumerType": "GetRecords",
            "kinesis.startingPosition": position.upper(),
        }
        if endpoint:
            opts["kinesis.endpointUrl"] = endpoint
    return connector, opts


def kinesis_frames(
    spark: SparkSession,
    stream_name: str,
    region: str = "us-east-1",
    endpoint: str | None = None,
    connector: str = "kinesis",
) -> DataFrame:
    """Kinesis ingestion (S1/S3 production path).

    The connector jar is NOT in this container, so the stream raises at
    start — but the reader construction, option vocabulary, and the decode
    stage (``decode_kinesis_payload``) are exactly what runs with the jar on
    the classpath, and everything downstream is identical to the
    file-replay path the tests exercise.
    """
    fmt, opts = kinesis_reader_options(stream_name, region, endpoint, connector)
    reader = spark.readStream.format(fmt)
    for k, v in opts.items():
        reader = reader.option(k, v)
    return decode_kinesis_payload(reader.load())


def frames_source(
    spark: SparkSession,
    replay_path: str | None = None,
    stream_name: str | None = None,
    **kinesis_kwargs,
) -> DataFrame:
    """S1 frame source behind one switch: ``spark.espkinesis.frames.source``
    selects ``file`` (replay dir, the in-sandbox default) or a Kinesis
    connector format; production flips the conf, the downstream plan is
    unchanged (BASELINE.md north star: Structured Streaming + Kinesis).
    """
    binding = spark.conf.get(SOURCE_CONF_KEY, "file")
    if binding == "file":
        if replay_path is None:
            raise ValueError(f"{SOURCE_CONF_KEY}=file needs replay_path")
        return file_stream(spark, replay_path, FRAME_SCHEMA)
    if stream_name is None:
        raise ValueError(f"{SOURCE_CONF_KEY}={binding} needs stream_name")
    return kinesis_frames(spark, stream_name, connector=binding, **kinesis_kwargs)


# ESP-NOW wire frame: 8 x uint16 little-endian = 16 bytes exactly
# (ref: lib/TargetManager/TargetManager.h:13-17 struct layout;
#  src/receiver/main.cpp:30-35 length validation).
FRAME_BYTES = 16
FRAME_CHANNELS = 8


def decode_espnow_frames(raw: DataFrame, data_col: str = "data") -> tuple[DataFrame, DataFrame]:
    """S3 + F1 — fixed-width binary wire decode with the exact-length gate.

    ``raw`` carries a binary ``data`` column (the 16-byte ChannelData
    struct). Returns ``(frames, dead)``: rows whose payload is exactly 16
    bytes decoded to ``channels`` (8 ints, little-endian uint16), everything
    else routed to the dead branch with its byte length (the receiver's
    reject path, ref: src/receiver/main.cpp:30-35). Pure codegen column
    expressions — per channel, two 1-byte slices hex'd and re-based — so
    the decode is a zero-shuffle map that vectorizes at 100 TB.
    """
    # NULL payloads are malformed, not missing: length(NULL)==16 is NULL
    # and would drop the row from BOTH branches, so coalesce the gate to
    # False so null rows land in the dead branch with payload_len 0.
    ok = F.coalesce(F.length(F.col(data_col)) == FRAME_BYTES, F.lit(False))
    # hex the whole payload ONCE (32 chars) and slice per channel: one
    # string allocation per row instead of 16 (measured 16 hex() calls per
    # row at 28 µs/row on 3M rows in the 30x scale ladder — this form cuts
    # the allocation count to 1 hex + cheap substrings)
    hx = F.hex(F.col(data_col))
    chans = F.array(
        *[
            F.conv(
                # little-endian: high byte is the SECOND byte of the pair
                F.concat(
                    F.substring(hx, 4 * i + 3, 2), F.substring(hx, 4 * i + 1, 2)
                ),
                16,
                10,
            ).cast("int")
            for i in range(FRAME_CHANNELS)
        ]
    )
    frames = raw.filter(ok).withColumn("channels", chans)
    dead = raw.filter(~ok).withColumn(
        "payload_len", F.coalesce(F.length(F.col(data_col)), F.lit(0)).cast("long")
    )
    return frames, dead
