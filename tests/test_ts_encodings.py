"""Timestamp-encoding robustness: every parquet timestamp encoding a real
writer can produce must load to identical TimestampType values and identical
query results.

Round 4 was taken out by exactly this: the driver's testdata switched from
TIMESTAMP(NANOS) to TIMESTAMP(MICROS, isAdjustedToUTC=false) and the single
hard-coded nanos branch at the ingestion edge silently stopped firing. This
suite rewrites the events table into each encoding in a tmpdir (other tables
symlinked) and asserts the loaders + events-touching queries are
encoding-invariant.
"""

from __future__ import annotations

import glob
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from espkinesis_spark import queries
from espkinesis_spark.tables import (
    TABLE_NAMES,
    disk_schema,
    load_table,
    table_path,
)

# encoding name -> (arrow timestamp type, extra pq.write_table kwargs)
ENCODINGS = {
    "nanos": (pa.timestamp("ns"), {}),  # TIMESTAMP(NANOS) -> Spark long (nanosAsLong)
    "us_utc": (pa.timestamp("us", tz="UTC"), {}),  # isAdjustedToUTC=true -> timestamp
    "us_ntz": (pa.timestamp("us"), {}),  # isAdjustedToUTC=false -> timestamp_ntz
    "ms_utc": (pa.timestamp("ms", tz="UTC"), {}),  # millis -> timestamp
    # the pre-2.6 legacy physical encoding (Impala/old Hive lineage):
    # 12-byte INT96 nanos — the one form not covered until round 6
    "int96": (
        pa.timestamp("ns"),
        {"use_deprecated_int96_timestamps": True, "version": "1.0"},
    ),
}


@pytest.fixture(scope="module")
def encoded_dirs(sf_dir, tmp_path_factory):
    """One sf-dir per encoding: events.parquet rewritten, rest symlinked."""
    src = pq.read_table(table_path(sf_dir, "events"))
    base = tmp_path_factory.mktemp("ts_encodings")
    dirs: dict[str, str] = {}
    for enc, (ts_type, write_kwargs) in ENCODINGS.items():
        d = base / enc
        d.mkdir()
        # Rebuild with ts cast to the target arrow type. pyarrow refuses a
        # lossy cast (e.g. µs-precision data to 'ms_utc'); skip such
        # encodings — they can't round-trip this data by construction.
        ts = src.column("ts")
        try:
            cast = ts.cast(ts_type)
        except pa.lib.ArrowInvalid:
            continue
        tbl = src.set_column(src.schema.get_field_index("ts"), "ts", cast)
        kwargs = {"version": "2.6", **write_kwargs}
        pq.write_table(tbl, str(d / "events.parquet"), **kwargs)
        for name in TABLE_NAMES:
            if name != "events":
                os.symlink(table_path(sf_dir, name), str(d / f"{name}.parquet"))
        dirs[enc] = str(d)
    return dirs


def _collect_ts(spark, d):
    df = load_table(spark, d, "events").select("event_id", "ts")
    assert dict(df.dtypes)["ts"] == "timestamp", f"{d}: not normalized"
    return sorted((r.event_id, r.ts) for r in df.collect())


def test_load_table_normalizes_every_encoding(spark, sf_dir, encoded_dirs):
    canonical = _collect_ts(spark, sf_dir)
    for enc, d in encoded_dirs.items():
        assert _collect_ts(spark, d) == canonical, f"encoding {enc} drifted"


@pytest.mark.parametrize("qname", ["ex_sessionize", "ex_range_window", "dq07"])
def test_events_queries_encoding_invariant(spark, sf_dir, encoded_dirs, qname):
    fn = queries.registry()[qname]
    canonical = sorted(map(tuple, fn(spark, sf_dir).collect()))
    for enc, d in encoded_dirs.items():
        got = sorted(map(tuple, fn(spark, d).collect()))
        assert got == canonical, f"{qname} drifted under encoding {enc}"


def test_streaming_source_adapts_to_encoding(spark, sf_dir, encoded_dirs):
    """The FileStreamSource path probes the footer for its declared schema;
    the last-value-per-key stream must agree across encodings (the r4 bug
    shape: a long-declared schema over µs data is off by 1000x)."""
    from espkinesis_spark.queries import registry

    latest_user = registry()["st_latest_user"]
    canonical = sorted(
        map(tuple, latest_user(spark, sf_dir).collect())
    )
    for enc in ("nanos", "us_ntz", "int96"):
        got = sorted(
            map(tuple, latest_user(spark, encoded_dirs[enc]).collect())
        )
        assert got == canonical, f"streaming drifted under encoding {enc}"


@pytest.fixture(scope="module")
def dated_dir(sf_dir, tmp_path_factory):
    """An sf-dir whose orders.o_orderdate is re-encoded as parquet DATE."""
    src = pq.read_table(table_path(sf_dir, "orders"))
    idx = src.schema.get_field_index("o_orderdate")
    dated = src.set_column(
        idx, "o_orderdate", src.column("o_orderdate").cast(pa.date32())
    )
    d = tmp_path_factory.mktemp("dated")
    pq.write_table(dated, str(d / "orders.parquet"), version="2.6")
    for name in TABLE_NAMES:
        if name != "orders":
            os.symlink(table_path(sf_dir, name), str(d / f"{name}.parquet"))
    return str(d)


def test_date_reencoded_orders_normalizes(spark, sf_dir, dated_dir):
    """The date-like columns are midnight-aligned, so a future testdata
    round could re-encode them as parquet DATE (the r4 failure class).
    load_table must restore identical TimestampType instants, and the
    date-touching queries must return identical results."""
    d = dated_dir
    df = load_table(spark, d, "orders")
    assert dict(df.dtypes)["o_orderdate"] == "timestamp"
    canonical = sorted(
        (r.o_orderkey, r.o_orderdate)
        for r in load_table(spark, sf_dir, "orders")
        .select("o_orderkey", "o_orderdate")
        .collect()
    )
    got = sorted(
        (r.o_orderkey, r.o_orderdate)
        for r in df.select("o_orderkey", "o_orderdate").collect()
    )
    assert got == canonical
    for qname in ("ex_shipping_priority", "ex_exists_shipped"):
        fn = queries.registry()[qname]
        want = sorted(map(tuple, fn(spark, sf_dir).collect()))
        have = sorted(map(tuple, fn(spark, d).collect()))
        assert have == want, f"{qname} drifted under DATE encoding"


def _typed(schema):
    return [(f.name, f.dataType.simpleString()) for f in schema.fields]


def _assert_disk_schema_matches_inference(spark, path, name):
    assert _typed(disk_schema(path, name)) == _typed(
        spark.read.parquet(path).schema
    ), f"{name} at {path}"


def test_disk_schema_matches_inference_on_testdata(spark, sf_dir):
    """The footer-typed declared schema must be exactly what Spark's own
    inference yields, for every table at every scale factor present next
    to the one the suite runs at."""
    here = os.path.normpath(sf_dir)
    data_dirs = sorted(glob.glob(os.path.join(os.path.dirname(here), "sf*")))
    assert here in data_dirs
    for data_dir in data_dirs:
        for name in TABLE_NAMES:
            _assert_disk_schema_matches_inference(
                spark, table_path(data_dir, name), name
            )


def test_disk_schema_matches_inference_under_every_encoding(
    spark, encoded_dirs, dated_dir
):
    """Every ts encoding (nanos -> bigint, NTZ, UTC, millis, INT96) and the
    DATE-re-encoded orders fixture type exactly as Spark infers them."""
    # the tests run at one scale factor, so a missing encoding (a lossy
    # cast skipped by the fixture) must not go unnoticed
    assert {"nanos", "us_utc", "us_ntz", "int96"} <= set(encoded_dirs)
    for d in encoded_dirs.values():
        _assert_disk_schema_matches_inference(
            spark, table_path(d, "events"), "events"
        )
    _assert_disk_schema_matches_inference(
        spark, table_path(dated_dir, "orders"), "orders"
    )


def test_disk_schema_reads_first_file_of_a_directory_table(
    spark, sf_dir, tmp_path
):
    """A directory-style table is typed from its first data file; files
    under metadata subtrees (which sort first here) are skipped."""
    src = pq.read_table(table_path(sf_dir, "events"))
    ts = src.column("ts").cast(pa.timestamp("us", tz="UTC"))
    utc = src.set_column(src.schema.get_field_index("ts"), "ts", ts)
    d = tmp_path / "events.parquet"
    (d / "_temporary").mkdir(parents=True)
    (d / "_temporary" / "junk").write_text("not parquet")
    pq.write_table(utc.slice(0, 10), str(d / "part-0.parquet"))
    pq.write_table(utc.slice(10), str(d / "part-1.parquet"))
    assert dict(_typed(disk_schema(str(d), "events")))["ts"] == "timestamp"
    _assert_disk_schema_matches_inference(spark, str(d), "events")
    assert load_table(spark, str(tmp_path), "events").count() == src.num_rows


def test_disk_schema_refuses_renamed_column(tmp_path, sf_dir):
    """Under an explicit schema a missing column reads as all-NULL, so a
    footer whose columns are not the declared ones must raise, naming the
    table and both column lists."""
    src = pq.read_table(table_path(sf_dir, "events"))
    renamed = src.rename_columns(
        ["user" if c == "user_id" else c for c in src.column_names]
    )
    path = str(tmp_path / "events.parquet")
    pq.write_table(renamed, path)
    with pytest.raises(ValueError, match="'events'") as exc:
        disk_schema(path, "events")
    msg = str(exc.value)
    assert "'user'" in msg and "'user_id'" in msg


def _jobs_started(spark, build):
    """Spark job ids started while ``build()`` runs, under a fresh job
    group; the listener bus is drained first so none is missed."""
    import uuid

    sc = spark.sparkContext
    group = f"zero-job-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "construction only")
    try:
        build()
    finally:
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        sc._jsc.clearJobGroup()
    return sc.statusTracker().getJobIdsForGroup(group)


def test_table_and_stream_construction_start_no_spark_job(spark, sf_dir):
    """Loading a table and building the events stream read footers on the
    driver only: no schema-inference job. The control read (Spark's own
    inference) shows the counter does see such a job."""
    from espkinesis_spark.streaming.jobs import _table_stream

    path = table_path(sf_dir, "events")
    assert _jobs_started(spark, lambda: spark.read.parquet(path).schema)
    assert _jobs_started(spark, lambda: load_table(spark, sf_dir, "events").schema) == []
    assert _jobs_started(spark, lambda: _table_stream(spark, sf_dir, "events").schema) == []
