"""SparkSession factory tuned for the engine.

Local-mode defaults are sized for the test harness (local[32], tiny-to-small
scale factors); on a real cluster the same settings are safe starting points —
AQE re-plans shuffle parallelism at runtime, so the static
``spark.sql.shuffle.partitions`` only caps the initial plan.

Scale posture (100 TB readiness):
  * AQE on (coalesce + skew-join) so runtime statistics, not static guesses,
    pick shuffle parallelism and split skewed partitions.
  * Broadcast threshold left at default (10 MB) — dimension tables (region,
    nation, supplier, targets) broadcast; fact-fact joins shuffle on keys.
  * Arrow enabled for every Python<->JVM batch crossing (pandas UDFs).
  * Session timezone pinned to UTC so timestamp semantics match the DuckDB
    oracle and are stable across environments.
  * Python workers run on the interpreter's installed pyspark:
    ``spark.python.daemon.module`` starts Spark's daemon through
    ``_worker_daemon``, which drops pyspark.zip, the py4j zip and the
    spark-core jar from the workers' ``sys.path`` when the installed pyspark
    is the zip's version (per-task zip re-reads, ~0.25 s a task, otherwise).
    Executors need the package importable, as they already do for the
    kernels' UDFs; ``get_spark`` puts its root on ``PYTHONPATH`` and sets
    ``PYTHONSAFEPATH`` for the workers, so the driver's cwd is not on
    their path.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


# Result-bearing confs that MUST hold on whatever session executes our
# queries — including externally-owned sessions (the driver harness builds
# its own vanilla SparkSession and passes it into __spark_entry__.queries()).
# All are runtime-settable SQL confs (verified: spark.conf.set works on a
# plain session for each). Builder-time-only settings (memory, master, AQE
# toggles) stay in get_spark(); they affect speed, not results.
_RUNTIME_REQUIRED_CONFS = {
    # testdata events.parquet stores TIMESTAMP(NANOS); Spark has no ns
    # timestamp — read as long, convert at the ingestion edge.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # every timestamp hash in the oracle compare assumes UTC semantics
    "spark.sql.session.timeZone": "UTC",
    # pandas-UDF kernels (simhash/fingerprint/ANN) assume Arrow batching
    "spark.sql.execution.arrow.pyspark.enabled": "true",
}


def ensure_session_confs(spark: SparkSession) -> SparkSession:
    """Pin the confs query results depend on, on a session we didn't build.

    Idempotent and cheap (no-op sets when already correct); called from
    ``tables.load_table`` so every query entry point is covered regardless
    of who constructed the SparkSession.
    """
    for key, want in _RUNTIME_REQUIRED_CONFS.items():
        try:
            if spark.conf.get(key, None) != want:
                spark.conf.set(key, want)
        except Exception:
            # unknown conf on a future Spark — set best-effort
            try:
                spark.conf.set(key, want)
            except Exception:
                pass
    return spark


def _put_package_on_pythonpath() -> None:
    """Make the package importable by the worker daemon; must run before the
    JVM launches (workers inherit the JVM's environment, which inherits ours)."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    prior = os.environ.get("PYTHONPATH")
    if root not in (prior or "").split(os.pathsep):
        os.environ["PYTHONPATH"] = root + ((os.pathsep + prior) if prior else "")


def get_spark(
    app_name: str = "espkinesis_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the tuned SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (fallback local[*]),
    and the driver memory to ``$SPARK_GRAFT_DRIVER_MEM`` (fallback 24g):
    the only two settings the library reads from the environment.
    """
    _put_package_on_pythonpath()

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = 32 if cpus == "*" else max(int(cpus), 1)

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # runtime bloom-filter pushdown from the join build side prunes the
        # probe scan before the join: measured -15..35% on the multi-join
        # queries (dq22 1.05s -> 0.70s at sf0.1); at 100 TB this is the
        # difference between scanning and skipping the non-matching bulk
        .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # testdata events.parquet stores TIMESTAMP(NANOS); Spark has no ns
        # timestamp — read as long and convert at the ingestion edge
        # (tables.load_table) to µs TimestampType.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.shuffle.spill.compress", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.python.daemon.module", "espkinesis_spark._worker_daemon")
        # `python -m` would put the JVM's cwd ahead of PYTHONPATH, so a
        # session started from one checkout would run another checkout's
        # kernels when the cwd holds one (Python >= 3.11)
        .config("spark.executorEnv.PYTHONSAFEPATH", "1")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)

    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def enable_runtime_bloom_filters(
    spark: SparkSession,
    creation_side_max: str = "1GB",
    application_side_min: str = "100MB",
) -> dict[str, str | None]:
    """Opt-in runtime bloom-filter join pruning for large shuffle joins.

    Catalyst's InjectRuntimeFilter builds a ``bloom_filter_agg`` over the
    join keys of the FILTERED (creation) side and pushes a
    ``might_contain`` probe into the big (application) side's scan — at
    100 TB this drops most fact-table rows BEFORE the shuffle instead of
    after the join, the single biggest shuffle-volume lever on selective
    fact-dimension joins that are too large to broadcast. The rule only
    engages when (a) the join does not broadcast, (b) the creation side
    carries a selective predicate and its plan estimate is under
    ``creation_side_max``, and (c) the application side's scan exceeds
    ``application_side_min`` — thresholds are plan-size estimates, so set
    ``creation_side_max`` ABOVE the filtered side's estimate (the default
    10 MB silently disables the rule for dimension tables of any real
    size; that near-miss is why this helper exists).

    Returns the prior conf values so callers can restore them
    (``restore_confs``).
    """
    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": creation_side_max,
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": application_side_min,
    }
    prior: dict[str, str | None] = {}
    for key, want in confs.items():
        prior[key] = spark.conf.get(key, None)
        spark.conf.set(key, want)
    return prior


def restore_confs(spark: SparkSession, prior: dict[str, str | None]) -> None:
    """Restore conf values captured by ``enable_runtime_bloom_filters``."""
    for key, val in prior.items():
        if val is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, val)
