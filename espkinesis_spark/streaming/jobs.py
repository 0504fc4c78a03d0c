"""Driver-checkable streaming queries: the registry's ``st_*`` entries.

Each job replays a test table as a file stream with
``trigger(availableNow=True)`` and drains the result back as a batch
DataFrame, so the driver's correctness gate checks streaming semantics
against the same DuckDB oracles as the batch queries.

Every ``st_*`` entry but four is a ``queries.Twin`` declaration, run by
``twin_stream`` as ``analyze(drain(ingest(_table_stream(table))))``.
The four jobs written out below have a lifecycle of their own: the
stateful as-of (built under ``_state_layout``), the command plane (its
own source directory) and the two sink round-trips.

Every drain runs one query lifecycle, ``_replay``: stop a same-named
active query, pin ``_state_layout``, start with availableNow, wait,
record the plan. ``_drain`` picks the sink of a store with at most
``rows_per_source`` rows per source row by one rule on the source
table's parquet footers: above either source bound the parquet drain,
otherwise the memory sink. Corpus-sized stores call
``_drain_to_parquet`` directly. The two round-trip jobs start their
queries through the ``sinks`` K1/K3 constructors.
"""

from __future__ import annotations

import contextlib
import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from espkinesis_spark.session import ensure_session_confs
from espkinesis_spark.streaming import state as st
from espkinesis_spark.tables import (
    _normalize_timestamps,
    _source_files,
    disk_schema,
    table_path,
)


def _ensure_symlink(src_file: str, link: str) -> None:
    # lexists (not exists) so a dangling link to regenerated testdata is
    # detected and replaced; EEXIST tolerated for concurrent sessions racing
    # the check-then-act.
    if os.path.lexists(link):
        if os.path.realpath(link) == os.path.realpath(src_file):
            return
        os.unlink(link)
    try:
        os.symlink(src_file, link)
    except FileExistsError:
        pass


def _table_stream(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Replayable stream of one test table. FileStreamSource requires a
    *directory*, so the single parquet file is exposed through a symlink
    dir (testdata itself is read-only). It also needs an explicit schema:
    the declared one, with timestamp columns typed as the footer encodes
    them (``disk_schema``: read on the driver, no Spark job), normalized
    at the same edge as the batch loader."""
    ensure_session_confs(spark)
    src_file = os.path.abspath(table_path(sf_dir, name))
    stream_dir = os.path.join(
        tempfile.gettempdir(), "espk_stream", src_file.strip("/").replace("/", "_")
    )
    os.makedirs(stream_dir, exist_ok=True)
    _ensure_symlink(src_file, os.path.join(stream_dir, f"{name}.parquet"))
    raw = spark.readStream.schema(disk_schema(src_file, name)).parquet(stream_dir)
    return _normalize_timestamps(raw, name)


# Executed micro-batch physical plans, keyed by query name — recorded at
# every drain site so tools/plan_sweep.py's streaming leg can apply the
# same red-flag greps the batch entries get (a streaming DataFrame's plan
# only materializes once a query runs, so the sweep can't explain() the
# unstarted frame).
LAST_STREAM_PLANS: dict[str, str] = {}


def _record_stream_plan(query) -> None:
    """Capture the LAST executed micro-batch's physical plan (best-effort:
    plan capture must never fail the job itself)."""
    try:
        LAST_STREAM_PLANS[query.name] = query._jsq.explainInternal(False)
    except Exception:  # noqa: BLE001 — diagnostics only
        pass


def _fresh_store_error(exc: Exception) -> bool:
    """True iff a parquet read failure means "store not started yet".

    Only those shapes let the resume schema guard proceed without a
    stored schema; any other failure (corrupt footer, FS error) must
    propagate — skipping the guard on it would re-open the silent
    NULL-backfill hole the guard exists to close. Match on the
    structured error condition (stable across message-format changes),
    by its ROOT segment so a dotted sub-condition refinement (e.g.
    PATH_NOT_FOUND.SOMETHING in a future engine) still reads as fresh;
    substring match only as the fallback when the exception carries no
    condition. Fail-closed default.
    """
    # _LEGACY_ERROR_TEMP_1134 is "Unable to infer schema for <format> at
    # <paths>": a file-sink store whose _spark_metadata exists but lists
    # ZERO committed files (a prior leg that ran on an empty source)
    # raises through this legacy slot, not UNABLE_TO_INFER_SCHEMA —
    # found by the family-6 resume fuzzer's seam-at-zero draw. Nothing
    # is committed in that store, so there is nothing to schema-check.
    fresh = {
        "UNABLE_TO_INFER_SCHEMA",
        "PATH_NOT_FOUND",
        "_LEGACY_ERROR_TEMP_1134",
    }
    getter = getattr(exc, "getCondition", None) or getattr(
        exc, "getErrorClass", None
    )
    cond = getter() if getter is not None else None
    if cond is not None and cond.split(".")[0] in fresh:
        return True
    # Legacy slots get REASSIGNED proper condition names across Spark
    # releases (ADVICE r15): keying only on _LEGACY_ERROR_TEMP_1134
    # would fail closed on a future engine's legitimately-empty store.
    # The message shape "Unable to infer schema" is the stable signal
    # across that rename — but only when the condition is ABSENT or is
    # itself an unrecognized legacy slot. An exception carrying a
    # proper non-fresh condition stays non-fresh even if its message
    # (or an attached JVM cause chain) quotes the phrase: a rename of
    # the empty-store error lands on UNABLE_TO_INFER_SCHEMA, which the
    # condition set already accepts, so the widening is not needed
    # there and would re-open the guard on corrupt-store failures
    # (r16 review catch).
    if cond is None:
        return "Unable to infer schema" in str(exc) or any(
            c in str(exc) for c in fresh
        )
    if cond.startswith("_LEGACY_ERROR_TEMP"):
        return "Unable to infer schema" in str(exc)
    return False


def _drain_to_parquet(
    df: DataFrame,
    name: str,
    *,
    base: str | None = None,
    resume: bool = False,
    mode: str = "append",
    source_rows: int | None = None,
) -> DataFrame:
    """The executor-parallel drain: a parquet store, read back as a batch
    frame. Corpus-sized extraction stores (token / span-hash tables) come
    here directly; ``_drain`` sends any other leg here once its source
    crosses a memory-drain bound. ``mode="append"`` uses the parquet file
    sink. ``mode="complete"`` cannot (the file sink rejects complete
    output), so foreachBatch overwrites a parquet snapshot of the full
    state each trigger and the last trigger's snapshot IS the declared
    result.

    The memory sink collects every row to the driver single-threaded —
    fine for sketch/fingerprint-sized stores, but a corpus-sized store
    through it reads as the op's cost at scale (st_bm25's first ladder:
    48x wall at ~50x tokens, almost all drain). The file sink writes
    executor-side in parallel and IS the production shape — a streaming
    extraction job lands its narrow tables in a durable store, and the
    analysis reads that store (measured: st_bm25 48x -> ~8x).

    Two modes (VERDICT r11 #3):
      * fresh (default): rmtree the store+checkpoint first — hermetic,
        every call re-extracts. Right for the replay fixtures, WRONG for
        a production restart: at 100 TB a driver restart must not
        re-extract the corpus.
      * resume (``resume=True`` + a caller-stable ``base``): keep the
        checkpoint and sink. Spark's file sink is end-to-end
        exactly-once here — the checkpoint's offset log skips
        already-committed source batches on restart, a batch that was
        interrupted mid-write is REPLAYED and re-committed, and the
        sink's _spark_metadata manifest lists only committed files, so
        the read-back (which honors the manifest) never sees the
        orphaned partials. Pinned by the kill-mid-replay test in
        tests/test_streaming.py.

    Resume REFUSES a changed extraction schema (VERDICT r12 #5): a
    production restart often ships a code change, and if the projection
    gained or retyped a column the file sink would happily append
    new-schema files next to old-schema ones — the schema-pinned
    read-back then backfills NULLs into the new column for every
    already-extracted row, silently corrupting downstream analysis at
    exactly the scale where re-checking is unaffordable. So resume
    compares the store's committed schema (manifest-honoring read) with
    the incoming frame's and raises with both schemas named; the
    operator chooses explicitly — restore the old projection, or start
    a fresh base and re-extract/backfill.
    """
    if resume and base is None:
        # an applicationId-scoped default changes on every driver restart,
        # so a resume against it would never find the checkpoint and would
        # silently re-extract the corpus — the exact failure the mode
        # exists to prevent. Refuse loudly instead.
        raise ValueError("resume=True requires a caller-stable base path")
    spark = df.sparkSession
    if resume:
        existing = os.path.join(base, "data")
        # Checkpoint-consistency guard (found by the family-6 witness):
        # a store with COMMITTED batches but no checkpoint offsets is a
        # wrong-volume restore. Resuming it would renumber batches from
        # 0 and the file sink's _spark_metadata batch-id log would SKIP
        # them as already committed — benign if nothing changed, but
        # SILENT DATA LOSS the moment the restarted run packs new files
        # into a skipped batch id. Nothing duplicates through a kept
        # manifest (the sink skip closes that channel), so loss is the
        # only — and invisible — failure mode. Refuse loudly instead.
        sink_log = os.path.join(existing, "_spark_metadata")
        offsets = os.path.join(base, "ckpt", "offsets")

        def _entries(d: str) -> bool:
            return os.path.isdir(d) and any(
                not e.startswith(".") for e in os.listdir(d)
            )

        if _entries(sink_log) and not _entries(offsets):
            raise ValueError(
                f"resume refused: store '{existing}' has committed "
                f"batches but checkpoint '{offsets}' is missing or empty "
                f"— a restarted query would renumber batches and the "
                f"sink would skip or silently drop them; restore the "
                f"checkpoint that matches this store, or start a fresh "
                f"base (checkpoint and store live or die together)"
            )
        # ... and the MIRROR direction (review catch): a checkpoint whose
        # COMMITS log records completed batches next to a store with no
        # sink log means the store was lost — resuming would skip every
        # already-committed source batch and the rebuilt store would
        # permanently lack those rows while reading back cleanly. The
        # commits log (written AFTER the sink commit), not the offsets
        # log, is the signal: offsets-without-commits is just a crash
        # mid-first-batch, which is a legitimate replay-on-resume state.
        commits = os.path.join(base, "ckpt", "commits")
        if _entries(commits) and not _entries(sink_log):
            raise ValueError(
                f"resume refused: checkpoint '{commits}' records committed "
                f"batches but store '{existing}' has no sink metadata — "
                f"the store was lost or replaced, and resuming would skip "
                f"every committed source batch, permanently dropping its "
                f"rows; restore the store that matches this checkpoint, "
                f"or start a fresh base (checkpoint and store live or die "
                f"together)"
            )
        stored = None
        if os.path.isdir(existing):
            from pyspark.errors import AnalysisException

            try:
                stored = spark.read.parquet(existing).schema
            except AnalysisException as exc:
                if not _fresh_store_error(exc):
                    raise
        if stored is not None:
            want = {(f.name, f.dataType.simpleString()) for f in stored.fields}
            have = {(f.name, f.dataType.simpleString()) for f in df.schema.fields}
            if want != have:
                raise ValueError(
                    f"resume refused: extraction schema changed — store "
                    f"'{existing}' holds {sorted(want)} but the incoming "
                    f"stream projects {sorted(have)}; restore the old "
                    f"projection or start a fresh base (old rows would "
                    f"otherwise silently read NULL in added columns)"
                )
    if base is None:
        # scope by application id: the memory sink was implicitly
        # per-session, a bare /tmp path is not — two concurrent sessions
        # (driver gate + a local run) would race on rmtree/write otherwise
        app_id = spark.sparkContext.applicationId
        base = os.path.join(tempfile.gettempdir(), "espk_drain", app_id, name)
    out_dir, ckpt = os.path.join(base, "data"), os.path.join(base, "ckpt")

    def writer(w):
        w = w.option("checkpointLocation", ckpt)
        if mode == "complete":
            return w.outputMode("complete").foreachBatch(
                lambda batch_df, _id: batch_df.write.mode("overwrite").parquet(out_dir)
            )
        return w.outputMode("append").format("parquet").option("path", out_dir)

    _replay(df, name, writer, source_rows, fresh=None if resume else base)
    # a zero-row stream leaves no sink directory — materialize it so the
    # schema-pinned read returns an empty frame instead of failing
    os.makedirs(out_dir, exist_ok=True)
    return spark.read.schema(df.schema).parquet(out_dir)


# Target state rows per state-store partition. Each stateful-operator
# partition costs a fixed per-micro-batch overhead (task + store open /
# commit / snapshot), so the partition count should track the STATE
# cardinality, not the session's compute parallelism: at a 250k-key
# target a partition's store stays ~tens of MB while tiny replay
# fixtures derive 1-2 partitions instead of paying 8-32 stores per
# batch. Upper-bounded at 4x the cluster's default parallelism so a
# 100 TB key space still spreads over every core with skew headroom
# (state partitions are pinned at first checkpoint — oversizing beats
# resizing). r17 measurement note: at sf0.1 the JVM-aggregate legs
# measured FLAT across 1/2/4/8 partitions (the per-store overhead is no
# longer the floor after the r13 32->8 cut), so for them the derivation
# is a scale-story parameterization, not a local win.
STATE_ROWS_PER_PARTITION = 250_000


def _state_partitions(spark: SparkSession, source_rows: int | None) -> str:
    """Derived state-store partition count for one streaming query:
    ceil(source_rows / STATE_ROWS_PER_PARTITION) — source rows
    upper-bound the state keys — clamped to [1, 4 x defaultParallelism].
    An unknown source size falls back to min(8, defaultParallelism): a
    parallel floor that does not pay one state store per core on a large
    cluster (every in-repo stateful job passes its source's footer row
    count)."""
    cores = spark.sparkContext.defaultParallelism
    if source_rows is None:
        return str(min(8, cores))
    return str(max(1, min(-(-source_rows // STATE_ROWS_PER_PARTITION), 4 * cores)))


@contextlib.contextmanager
def _state_layout(spark: SparkSession, source_rows: int | None):
    """Pin shuffle.partitions to ``_state_partitions`` while a query is
    built (``st.asof_override`` sizes its buckets from it) and started (a
    stateful query keeps it as its state-partition count)."""
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set(
        "spark.sql.shuffle.partitions", _state_partitions(spark, source_rows)
    )
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


def _replay(
    df: DataFrame, name: str, writer, source_rows: int | None, fresh: str | None = None
) -> None:
    """The one availableNow query lifecycle every drain runs: stop a
    same-named active query, then (and only then) remove ``fresh`` — the
    drain's store directory, when it starts from scratch — and, under
    ``_state_layout``, start ``writer(df.writeStream)`` as ``name``,
    wait for it, and record its last micro-batch plan."""
    spark = df.sparkSession
    for q in spark.streams.active:
        if q.name == name:
            q.stop()
    if fresh is not None:
        shutil.rmtree(fresh, ignore_errors=True)
    with _state_layout(spark, source_rows):
        query = (
            writer(df.writeStream).queryName(name).trigger(availableNow=True).start()
        )
        query.awaitTermination()
        _record_stream_plan(query)


# Source bounds of the memory sink in ``_drain``: under both, a leg's
# driver-collected result is fixture-sized; above either, single-threaded
# driver collection dominates (the r8 st_bm25 lesson: 48x wall, almost
# all drain) and the leg takes the executor-parallel parquet drain. TWO
# bounds because a store's driver footprint scales with source ROW COUNT,
# not bytes — a corpus of millions of tiny docs stays under any byte
# bound yet pushes millions of rows through the memory sink (r11 ADVICE).
MEMORY_DRAIN_MAX_SOURCE_BYTES = 256 << 20
MEMORY_DRAIN_MAX_SOURCE_ROWS = 1_000_000


def _drain(
    df: DataFrame, name: str, source: str, mode: str = "append", rows_per_source: int = 1
) -> DataFrame:
    """Drain a stream result of at most ``rows_per_source`` rows per row
    of the ``source`` table, deciding its sink from that table's parquet
    FOOTERS (one directory walk, read before the stream runs; the row
    count also sizes the state layout). One rule for every leg: if the
    source's bytes exceed ``MEMORY_DRAIN_MAX_SOURCE_BYTES`` or its rows
    times ``rows_per_source`` exceed ``MEMORY_DRAIN_MAX_SOURCE_ROWS``,
    the leg drains executor-parallel
    through ``_drain_to_parquet(mode=mode)``; otherwise through the
    driver memory sink, read back as the table ``name`` whose temp view
    is then dropped: the returned frame keeps the sink's rows alive, and
    nothing else does once the caller lets it go. Corpus-sized stores
    with no constant rows-per-source bound (token/span/shingle tables,
    video keyframes) never come here; their jobs call
    ``_drain_to_parquet`` directly (the r8 discipline).

    A missing source sizes nothing (the stream's own reader raises the
    clearer error) and routes to memory."""
    files = _source_files(source)
    rows = _rows_of(files) if files else None
    if (
        _bytes_of(files) > MEMORY_DRAIN_MAX_SOURCE_BYTES
        or (rows or 0) * rows_per_source > MEMORY_DRAIN_MAX_SOURCE_ROWS
    ):
        return _drain_to_parquet(df, name, mode=mode, source_rows=rows)
    _replay(df, name, lambda w: w.outputMode(mode).format("memory"), rows)
    out = df.sparkSession.table(name)
    df.sparkSession.catalog.dropTempView(name)
    return out


def _bytes_of(files: list[str]) -> int:
    return sum(os.path.getsize(f) for f in files)


def _rows_of(files: list[str]) -> int:
    """Exact row count from parquet footers — metadata-only, no scan and
    no held file handles (pq.read_metadata opens, reads the footer, and
    closes). An unreadable footer counts 0 (memory route); the stream's
    own reader then surfaces the real error."""
    import pyarrow.parquet as pq

    total = 0
    for f in files:
        try:
            total += pq.read_metadata(f).num_rows
        except Exception:  # noqa: BLE001 — router must not kill the job
            continue
    return total


def twin_stream(twin, spark: SparkSession, sf_dir: str) -> DataFrame:
    """The streaming entry of a ``queries.Twin``: its ingest over the
    replayed table, drained, then its analyze over the store. A tuple
    ingest drains one parquet store per frame."""
    out = twin.ingest(_table_stream(spark, sf_dir, twin.table))
    sink = f"st_{twin.name}_sink"
    if twin.rows_per_source is not None:
        source = table_path(sf_dir, twin.table)
        store = _drain(out, sink, source, twin.mode, twin.rows_per_source)
    elif isinstance(out, tuple):
        store = tuple(_drain_to_parquet(o, f"{sink}{i}") for i, o in enumerate(out))
    else:
        store = _drain_to_parquet(out, sink)
    return twin.analyze(store, spark, sf_dir)


def override_asof_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming A5: as-of state per user hash bucket via
    applyInPandasWithState."""
    events = table_path(sf_dir, "events")
    files = _source_files(events)
    # built under the same layout _drain starts it with
    with _state_layout(spark, _rows_of(files) if files else None):
        out = st.asof_override(_table_stream(spark, sf_dir, "events"))
    return _drain(out, "st_override_asof_sink", events)


def _targets(spark: SparkSession) -> DataFrame:
    """The target dim the command plane and the ack tracker address:
    ids 1-8, MAC ``AA:BB:CC:DD:EE:<id>``."""
    return spark.createDataFrame(
        [(i, f"AA:BB:CC:DD:EE:{i:02X}") for i in range(1, 9)], "id int, mac string"
    )


def _command_lines_dir(spark: SparkSession, sf_dir: str) -> str:
    """Materialize the deterministic synthetic command stream for a scale
    factor (once; marker-guarded) and return the replay directory."""
    src = os.path.abspath(table_path(sf_dir, "events"))
    st_ = os.stat(src)
    # cache key includes source mtime+size so regenerated testdata
    # invalidates stale fixtures; rename-into-place below makes the
    # directory appear atomically (no half-written dir visible to readers).
    key = f"{src.strip('/').replace('/', '_')}_{int(st_.st_mtime)}_{st_.st_size}"
    out_dir = os.path.join(tempfile.gettempdir(), "espk_stream", f"cmdlines_{key}")
    if os.path.isdir(out_dir):
        return out_dir
    from espkinesis_spark.tables import load_table

    ev = load_table(spark, sf_dir, "events")
    tid = (F.col("event_id") % 8 + 1).cast("int")
    m = F.col("event_id") % 10
    ok_line = (
        '{"command": "override_channels", "target_id": %d,'
        ' "channels": [1500, -1, 2000], "duration": 100}'
    )
    raw = (
        F.when(m == 0, F.lit('{"command": "override_channels", '))  # truncated
        .when(m == 1, F.lit("{}"))  # no command field
        .when(m == 2, F.format_string(ok_line.replace("override_channels", "reboot"), tid))
        .when(
            m == 3,
            F.format_string(
                '{"command": "override_channels", "target_id": %d, "duration": 100}', tid
            ),
        )
        .when(
            m == 4,
            F.format_string(
                '{"command": "override_channels", "target_id": %d,'
                f' "channels": [{", ".join(["1500"] * 9)}], "duration": 100}}',
                tid,
            ),
        )
        .when(m == 5, F.format_string(ok_line.replace('"duration": 100', '"duration": 0'), tid))
        .when(m == 6, F.format_string(ok_line.replace("2000", "3000"), tid))
        .when(m == 7, F.format_string(ok_line, F.lit(99)))
        .otherwise(F.format_string(ok_line, tid))
    )
    lines = ev.select(F.col("event_id").alias("cmd_id"), "ts", raw.alias("raw"))
    tmp_dir = out_dir + f".tmp.{os.getpid()}"
    lines.write.mode("overwrite").parquet(tmp_dir)
    try:
        os.rename(tmp_dir, out_dir)
    except OSError:
        # another process won the race; its completed dir is equivalent
        shutil.rmtree(tmp_dir, ignore_errors=True)
    return out_dir


def command_plane_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full command plane (SURVEY §3.1) replayed as a stream and reduced
    to per-error-class counts.

    A deterministic JSON command line is derived from every event row
    (event_id % 10 selects the failure mode), materialized ONCE per scale
    factor into a replay directory (the reference replays a real command
    stream — synthesis is fixture prep, not the operator under test), then
    streamed through parse -> validate -> dispatch
    (ref: src/transmitter/main.cpp:125-277). The oracle maps each residue
    class straight to its expected verdict.
    """
    from espkinesis_spark.streaming.pipeline import classify_command_lines
    from espkinesis_spark.streaming.sources import COMMAND_LINE_SCHEMA, file_stream

    cmd_dir = _command_lines_dir(spark, sf_dir)
    lines = file_stream(spark, cmd_dir, COMMAND_LINE_SCHEMA, fmt="parquet")
    annotated = classify_command_lines(lines, _targets(spark))
    out = (
        annotated.select(F.coalesce(F.col("error"), F.lit("ok")).alias("cls"))
        .groupBy("cls")
        .agg(F.count("*").alias("n"))
    )
    return _drain(out, "st_command_plane_sink", cmd_dir, "complete")


_ROUNDTRIP_SCHEMA = "event_type string, n long, sum_v double, n_distinct long"


def _roundtrip_aggregate(df: DataFrame) -> DataFrame:
    """The shared delivery-check aggregate both round-trip jobs hash."""
    return df.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n"),
        F.round(F.sum("value"), 4).alias("sum_v"),
        F.countDistinct("event_id").cast("long").alias("n_distinct"),
    )


def _read_back_batches(spark: SparkSession, out_dir: str, data_dir: str, read_fn):
    """Read the batch_id=N subdirectories a round-trip sink delivered
    (the retry-idempotent exactly-once layout), aggregate, detach from
    the tmp files, and clean up. A zero-batch stream never creates
    data_dir — deliver an empty result rather than a read error."""
    os.makedirs(data_dir, exist_ok=True)
    batch_dirs = [
        os.path.join(data_dir, d)
        for d in os.listdir(data_dir)
        if d.startswith("batch_id=")
    ]
    if not batch_dirs:
        shutil.rmtree(out_dir, ignore_errors=True)
        return spark.createDataFrame([], _ROUNDTRIP_SCHEMA)
    out = _roundtrip_aggregate(read_fn(batch_dirs)).localCheckpoint(eager=True)
    shutil.rmtree(out_dir, ignore_errors=True)
    return out


def sink_roundtrip_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K1/K2 driver-checkable delivery round-trip: the events stream goes
    through the keyed ``foreachBatch`` sink (per-key repartitioned delivery,
    the per-MAC radio-send shape) whose callback lands each batch in
    parquet, then the DELIVERED files are read back and aggregated. The
    oracle computes the same aggregate over the source table directly, so
    the value-hash asserts exactly-once-complete delivery — every source
    row shipped, none duplicated — not just that a sink ran.
    """
    from espkinesis_spark.streaming.sinks import keyed_foreach_batch_sink

    src = _table_stream(spark, sf_dir, "events")
    out_dir = tempfile.mkdtemp(prefix="espk_sink_rt_")
    data_dir = os.path.join(out_dir, "delivered")

    def deliver(batch: DataFrame, batch_id: int) -> None:
        # foreachBatch is at-least-once: a retried micro-batch must not
        # append twice, so each batch overwrites its OWN batch_id-keyed
        # subdirectory — the retry lands on top of the partial attempt
        batch.write.mode("overwrite").parquet(
            os.path.join(data_dir, f"batch_id={batch_id}")
        )

    shipped = src.select("event_id", "user_id", "event_type", "value")
    query = keyed_foreach_batch_sink(
        shipped,
        deliver,
        key_col="user_id",
        available_now=True,
        checkpoint=os.path.join(out_dir, "ckpt"),
        query_name="st_sink_roundtrip",
    )
    query.awaitTermination()
    _record_stream_plan(query)
    return _read_back_batches(
        spark,
        out_dir,
        data_dir,
        lambda dirs: spark.read.schema(shipped.schema).parquet(*dirs),
    )


def console_roundtrip_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K3 driver-checkable round-trip: the events stream goes through
    ``console_json_sink`` in capture mode — the exact serialized JSON-line
    documents the console surface prints, landed per-batch — then the
    delivered docs are read back, PARSED, and aggregated. The oracle
    computes the same aggregate over the source table directly, so the
    value hash proves the K3 serialization is lossless and delivery is
    exactly-once-complete (every row serialized once, parse round-trips
    every field)."""
    from espkinesis_spark.streaming.sinks import console_json_sink

    src = _table_stream(spark, sf_dir, "events")
    out_dir = tempfile.mkdtemp(prefix="espk_console_rt_")
    cap = os.path.join(out_dir, "docs")
    query = console_json_sink(
        src.select("event_id", "event_type", "value"),
        available_now=True,
        query_name="st_console_roundtrip",
        capture_dir=cap,
        checkpoint=os.path.join(out_dir, "ckpt"),
    )
    query.awaitTermination()
    _record_stream_plan(query)

    def read_docs(dirs):
        return (
            spark.read.schema("doc string")
            .json(*dirs)
            .select(
                F.from_json(
                    "doc", "event_id bigint, event_type string, value double"
                ).alias("r")
            )
            .select("r.*")
        )

    return _read_back_batches(spark, out_dir, cap, read_docs)
