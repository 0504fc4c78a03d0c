"""Test-table registry: declared schemas + loaders.

Schemas are declared explicitly, per the reference's fixed-schema discipline
(ref: lib/TargetManager/TargetManager.h:13-41 — compile-time struct layout),
and every read uses them: ``disk_schema`` reads the parquet footer on the
driver (pyarrow, no Spark job) only to type each declared-timestamp column
the way the writer encoded it, and to refuse a file whose columns are not
the declared ones. Spark's own schema inference would instead run a
``mergeSchemasInParallel`` job per read. ``_normalize_timestamps`` then maps
every encoding to one ``TimestampType`` at the edge.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .session import ensure_session_confs

# The ten driver-generated tables (see /root/repo/FIXTURES.md §A).
TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

SCHEMAS: dict[str, T.StructType] = {
    "region": T.StructType(
        [
            T.StructField("r_regionkey", T.IntegerType()),
            T.StructField("r_name", T.StringType()),
        ]
    ),
    "nation": T.StructType(
        [
            T.StructField("n_nationkey", T.IntegerType()),
            T.StructField("n_name", T.StringType()),
            T.StructField("n_regionkey", T.IntegerType()),
        ]
    ),
    "customer": T.StructType(
        [
            T.StructField("c_custkey", T.LongType()),
            T.StructField("c_name", T.StringType()),
            T.StructField("c_nationkey", T.IntegerType()),
            T.StructField("c_acctbal", T.DoubleType()),
            T.StructField("c_mktsegment", T.StringType()),
        ]
    ),
    "supplier": T.StructType(
        [
            T.StructField("s_suppkey", T.LongType()),
            T.StructField("s_name", T.StringType()),
            T.StructField("s_nationkey", T.IntegerType()),
            T.StructField("s_acctbal", T.DoubleType()),
        ]
    ),
    "part": T.StructType(
        [
            T.StructField("p_partkey", T.LongType()),
            T.StructField("p_name", T.StringType()),
            T.StructField("p_brand", T.StringType()),
            T.StructField("p_type", T.StringType()),
            T.StructField("p_size", T.IntegerType()),
            T.StructField("p_retailprice", T.DoubleType()),
        ]
    ),
    "orders": T.StructType(
        [
            T.StructField("o_orderkey", T.LongType()),
            T.StructField("o_custkey", T.LongType()),
            T.StructField("o_orderstatus", T.StringType()),
            T.StructField("o_totalprice", T.DoubleType()),
            T.StructField("o_orderdate", T.TimestampType()),
            T.StructField("o_orderpriority", T.StringType()),
        ]
    ),
    "lineitem": T.StructType(
        [
            T.StructField("l_orderkey", T.LongType()),
            T.StructField("l_partkey", T.LongType()),
            T.StructField("l_suppkey", T.LongType()),
            T.StructField("l_linenumber", T.IntegerType()),
            T.StructField("l_quantity", T.DoubleType()),
            T.StructField("l_extendedprice", T.DoubleType()),
            T.StructField("l_discount", T.DoubleType()),
            T.StructField("l_tax", T.DoubleType()),
            T.StructField("l_returnflag", T.StringType()),
            T.StructField("l_linestatus", T.StringType()),
            T.StructField("l_shipdate", T.TimestampType()),
        ]
    ),
    "events": T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ]
    ),
    "documents": T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
            T.StructField("lang", T.StringType()),
            T.StructField("source", T.StringType()),
            T.StructField("n_chars", T.LongType()),
        ]
    ),
    "embeddings": T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
            T.StructField("label", T.IntegerType()),
        ]
    ),
}

def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def _source_files(path: str) -> list[str]:
    """Data files of a file OR directory-style parquet table, sorted. A
    missing path yields [] — callers fall back to a default and the Spark
    reader raises the clearer error (r11 ADVICE: don't fail the job on a
    stat call). Metadata subtrees (_spark_metadata/, _delta_log/, .hidden/)
    are pruned at the DIRECTORY level: their files ('0', '9.compact')
    don't start with '_'/'.' themselves, and a file-sink store's
    ever-growing compact manifests would otherwise skew a byte route."""
    if os.path.isdir(path):
        out: list[str] = []
        for root, dirs, names in os.walk(path):
            dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
            out.extend(
                os.path.join(root, f) for f in names if not f.startswith(("_", "."))
            )
        return sorted(out)
    return [path] if os.path.exists(path) else []


def _footer_type(col) -> T.DataType:
    """Spark type a declared-timestamp parquet column reads as (the
    inference rules of ParquetToSparkSchemaConverter, with nanosAsLong on)."""
    if col.physical_type == "INT96":
        return T.TimestampType()
    logical = json.loads(col.logical_type.to_json())
    kind = logical.get("Type")
    if kind == "Timestamp":
        if logical["timeUnit"] == "nanoseconds":
            return T.LongType()
        return T.TimestampType() if logical["isAdjustedToUTC"] else T.TimestampNTZType()
    if kind == "Date":
        return T.DateType()
    raise ValueError(
        f"column {col.path!r}: unsupported timestamp encoding "
        f"{col.physical_type} {col.logical_type}"
    )


def disk_schema(path: str, name: str) -> T.StructType:
    """``SCHEMAS[name]`` with each declared-timestamp column typed as the
    parquet footer encodes it (INT96 and µs/ms-UTC → timestamp, µs/ms
    non-UTC → timestamp_ntz, NANOS → bigint, DATE → date), read on the
    driver with pyarrow — no Spark job. A directory table is typed by its
    first data file; with no data file the declared schema is returned as
    is. Raises ``ValueError`` when the footer's top-level columns are not
    the declared ones: under an explicit schema a missing column would
    otherwise read as all-NULL."""
    import pyarrow.parquet as pq

    declared = SCHEMAS[name]
    files = _source_files(path)
    if not files:
        return declared
    meta = pq.read_metadata(files[0])
    on_disk = meta.schema.to_arrow_schema().names
    if on_disk != declared.names:
        raise ValueError(
            f"table {name!r} at {files[0]!r}: footer columns {on_disk} "
            f"differ from the declared {declared.names}"
        )
    leaves = {c.path: c for c in map(meta.schema.column, range(meta.num_columns))}
    fields = [
        T.StructField(f.name, _footer_type(leaves[f.name]))
        if isinstance(f.dataType, T.TimestampType)
        else f
        for f in declared.fields
    ]
    return T.StructType(fields)


def _normalize_timestamps(df: DataFrame, name: str) -> DataFrame:
    """Normalize every timestamp column to plain ``TimestampType`` (µs, UTC
    session semantics) regardless of how the parquet writer encoded it.

    Real parquet arrives in any of: TIMESTAMP(NANOS) (Spark has no ns type —
    read as long via ``spark.sql.legacy.parquet.nanosAsLong``),
    TIMESTAMP(MICROS/MILLIS, isAdjustedToUTC=true) (reads as ``timestamp``),
    or isAdjustedToUTC=false (reads as ``timestamp_ntz``). Downstream code
    must see exactly one type, so all conversion happens at this edge —
    round 4 proved that skipping this breaks every ``ts`` consumer when the
    writer's encoding changes. Under the pinned UTC session zone the
    NTZ→timestamp cast is a pure reinterpretation (same wall clock, same
    instant), matching DuckDB's naive-timestamp semantics in the oracle.
    """
    declared = {f.name for f in SCHEMAS[name].fields if isinstance(f.dataType, T.TimestampType)}
    for col, dtype in df.dtypes:
        if col not in declared:
            continue
        if dtype == "bigint":
            # nanos-as-long; testdata is µs-aligned so `div 1000` is exact
            df = df.withColumn(col, F.timestamp_micros(F.expr(f"{col} div 1000")))
        elif dtype == "timestamp_ntz":
            df = df.withColumn(col, F.col(col).cast("timestamp"))
        elif dtype == "date":
            # a midnight-aligned column re-encoded as parquet DATE: under
            # the pinned UTC zone the cast restores the exact instants
            # (oracles CAST date-like outputs to TIMESTAMP per discipline)
            df = df.withColumn(col, F.col(col).cast("timestamp"))
        # "timestamp" (µs- or ms-UTC) passes through untouched
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one parquet table under its footer-typed declared schema
    (``disk_schema``: no inference job). Column pruning + predicate
    pushdown are preserved (no cast barrier for already-normal columns;
    only non-standard timestamp encodings get a conversion projection)."""
    if name not in SCHEMAS:
        raise KeyError(f"unknown table {name!r}; known: {sorted(SCHEMAS)}")
    # The caller may hand us an externally-built session (the driver harness
    # does); pin the confs results depend on (nanosAsLong among them, which
    # disk_schema's NANOS → bigint typing assumes) before the first scan.
    ensure_session_confs(spark)
    path = table_path(sf_dir, name)
    df = spark.read.schema(disk_schema(path, name)).parquet(path)
    return _normalize_timestamps(df, name)


def load_tables(
    spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TABLE_NAMES
) -> dict[str, DataFrame]:
    """Load tables and register each as a temp view (SQL surface)."""
    out: dict[str, DataFrame] = {}
    for name in names:
        df = load_table(spark, sf_dir, name)
        df.createOrReplaceTempView(name)
        out[name] = df
    return out
