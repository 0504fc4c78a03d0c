"""The engine's function-registration surface (SURVEY §2.8).

The reference's extension point is a static command registry of
{name, handler} entries (ref: src/transmitter/main.cpp:28-39, extension
comment :37). The Spark analog is session-registered functions callable from
the SQL surface:

* the reference-semantics scalars register as **SQL scalar UDFs**
  (``CREATE TEMPORARY FUNCTION .. RETURN <expr>``) — Catalyst inlines the
  body into the caller's plan, so they cost nothing at 100 TB (whole-stage
  codegen, pushdown through them where algebraically valid);
* genuinely-Python handlers register via ``spark.udf.register`` with a
  ``pandas_udf`` (Arrow-batched) — the slow path, for logic SQL can't say.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from espkinesis_spark.operators.core import RC_MAX, RC_MIN, SBUS_MAX, SBUS_MIN, SKIP_SENTINEL

# name -> (signature, return type, body) — all pure SQL expressions, inlined
# by Catalyst at call sites.
_SQL_FUNCTIONS: dict[str, tuple[str, str, str]] = {
    # P1 truncating linear remap (ref: src/receiver/main.cpp:68-71)
    "espk_remap": (
        "v BIGINT",
        "BIGINT",
        f"CAST(FLOOR((v - {RC_MIN}) * {SBUS_MAX - SBUS_MIN} / {float(RC_MAX - RC_MIN)}) "
        f"+ {SBUS_MIN} AS BIGINT)",
    ),
    # P2 MAC formatting (ref: lib/TargetManager/TargetManager.h:202-208)
    "espk_mac": (
        "b BINARY",
        "STRING",
        "concat_ws(':', transform(sequence(1, 6), i -> substring(upper(hex(b)), i*2-1, 2)))",
    ),
    # P8 sentinel-aware channel patch (ref: src/transmitter/main.cpp:190-213)
    "espk_patch": (
        "cmd ARRAY<INT>, cur ARRAY<INT>",
        "ARRAY<INT>",
        f"zip_with(cmd, cur, (c, x) -> CASE WHEN c = {SKIP_SENTINEL} THEN x ELSE c END)",
    ),
    # F6 range/sentinel validation (ref: src/transmitter/main.cpp:190-213)
    "espk_valid_channels": (
        "ch ARRAY<INT>",
        "BOOLEAN",
        f"forall(ch, v -> v = {SKIP_SENTINEL} OR (v >= {RC_MIN} AND v <= {RC_MAX}))",
    ),
    # P5 remaining-TTL, clamped (ref: lib/TargetManager/TargetManager.h:169-178)
    "espk_ttl_ms": (
        "expiry_us BIGINT, now_us BIGINT",
        "BIGINT",
        "GREATEST(CAST(0 AS BIGINT), CAST((expiry_us - now_us) / 1000 AS BIGINT))",
    ),
}


def register_sql_functions(spark: SparkSession) -> list[str]:
    """Register the reference-semantics scalars as SQL functions; returns the
    registered names. Idempotent (CREATE OR REPLACE)."""
    for name, (sig, ret, body) in _SQL_FUNCTIONS.items():
        spark.sql(
            f"CREATE OR REPLACE TEMPORARY FUNCTION {name}({sig}) RETURNS {ret} RETURN {body}"
        )
    return sorted(_SQL_FUNCTIONS)


def register_python_functions(spark: SparkSession) -> list[str]:
    """Register the Arrow-batched Python handlers (the slow-path extension
    point). Kept deliberately small: anything expressible in SQL goes in
    ``_SQL_FUNCTIONS`` instead."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    from espkinesis_spark.functions.dedup import simhash_signer

    sign = simhash_signer()

    def _simhash_kernel(text):
        return pd.Series([sign(t) for t in text], dtype="int64")

    # real annotation objects: `from __future__ import annotations` would
    # stringify inline hints, which pyspark's signature inspection rejects
    _simhash_kernel.__annotations__ = {"text": pd.Series, "return": pd.Series}
    spark.udf.register("espk_simhash48", pandas_udf(_simhash_kernel, "long"))
    return ["espk_simhash48"]
