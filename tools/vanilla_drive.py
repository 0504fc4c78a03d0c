"""Drive the registry through a PLAIN SparkSession with full value-level
oracle comparison — the mirror of the driver's own environment, which
does NOT use our tuned get_spark() (the t2 gate builds a vanilla
``SparkSession.builder.master("local[*]")`` session).

tests/test_vanilla_session.py covers the conf-sensitivity edges; this
tool runs the WHOLE registry (or just the first-50 correctness window)
against DuckDB with the same compare the parity suite uses, on a session
we did not build. ensure_session_confs at the load_table edge is what
makes this hold.

Each entry prints its own ``ok <name> <secs>`` line as it completes, so
any JVM-side ERROR in the interleaved log lands on a name. Beyond
eyeballing, the drive attaches a log4j2 FILE appender (via
``spark.driver.extraJavaOptions``) and, after every entry, attributes
any newly appended ``CodeGenerator`` ERROR lines (the Janino "Code grows
beyond 64 KB" compile-time fallback — invisible to the explain-based
plan sweep, which never compiles codegen) to the entry that was running.
The drive FAILS if any entry triggered a codegen fallback, the same way
it fails on a value mismatch.

Usage: python tools/vanilla_drive.py [SF_DIR] [window|all]
"""

from __future__ import annotations

import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

LOG4J2_TEMPLATE = """\
status = error
appender.console.type = Console
appender.console.name = console
appender.console.target = SYSTEM_ERR
appender.console.layout.type = PatternLayout
appender.console.layout.pattern = %d{{yy/MM/dd HH:mm:ss}} %p %c{{1}}: %m%n
appender.drive.type = File
appender.drive.name = drive
appender.drive.fileName = {log_path}
appender.drive.layout.type = PatternLayout
appender.drive.layout.pattern = %p %c - %m%n
rootLogger.level = warn
rootLogger.appenderRef.console.ref = console
rootLogger.appenderRef.drive.ref = drive
"""


def _read_new(log_path: str, offset: int) -> tuple[str, int]:
    """Return (new bytes as text, new BYTE offset) from the JVM log file.
    Binary read: a text-mode len(str) offset desyncs on the first
    multi-byte char in the log (generated-code dumps can carry unicode),
    double- or mis-attributing codegen errors to the wrong entry."""
    try:
        with open(log_path, "rb") as fh:
            fh.seek(offset)
            raw = fh.read()
            return raw.decode("utf-8", errors="replace"), offset + len(raw)
    except FileNotFoundError:
        return "", offset


def codegen_errors(chunk: str) -> list[str]:
    """The ERROR lines in a JVM-log slice that mark a whole-stage-codegen
    compile failure (Janino "Code grows beyond 64 KB" et al.) — Spark
    falls back to interpreted execution, correct but slow, and the
    explain-based plan sweep structurally cannot see it (explain never
    compiles). The drive attributes these per-entry and FAILS on any."""
    return [
        line.strip()[:200]
        for line in chunk.splitlines()
        if "CodeGenerator" in line and line.startswith("ERROR")
    ]


def _capture_session(log_path: str, conf_path: str):
    with open(conf_path, "w") as fh:
        fh.write(LOG4J2_TEMPLATE.format(log_path=log_path))

    from pyspark.sql import SparkSession

    return (
        SparkSession.builder.master("local[*]")
        .config("spark.sql.shuffle.partitions", "32")
        .config(
            "spark.driver.extraJavaOptions",
            f"-Dlog4j2.configurationFile=file:{conf_path}",
        )
        .appName("vanilla-drive")
        .getOrCreate()
    )


def _selftest() -> None:
    """Prove the codegen-fallback capture end-to-end: the log4j2 file
    appender is honored by the JVM, an ERROR on the real CodeGenerator
    logger lands in the file, and codegen_errors() flags it. Emitting
    the line through the JVM's own log4j2 LogManager (not by writing the
    file from Python) is what makes this a wiring test — a genuine
    Janino overflow reaches the file through exactly this logger."""
    workdir = tempfile.mkdtemp(prefix="espk_selftest_")
    log_path = os.path.join(workdir, "jvm.log")
    spark = _capture_session(
        log_path, os.path.join(workdir, "log4j2.properties")
    )
    _, offset = _read_new(log_path, 0)
    logger = spark._jvm.org.apache.logging.log4j.LogManager.getLogger(
        "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator"
    )
    logger.error(
        "failed to compile: ... Code grows beyond 64 KB (synthetic probe)"
    )
    chunk, _ = _read_new(log_path, offset)
    hits = codegen_errors(chunk)
    if not (len(hits) == 1 and "64 KB" in hits[0]):
        raise SystemExit(f"SELFTEST FAILED: captured {hits!r}")
    print("SELFTEST OK: synthetic CodeGenerator ERROR captured and flagged")


def main() -> None:
    if len(sys.argv) > 1 and sys.argv[1] == "--selftest":
        _selftest()
        return
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    scope = sys.argv[2] if len(sys.argv) > 2 else "window"

    workdir = tempfile.mkdtemp(prefix="espk_drive_")
    log_path = os.path.join(workdir, "jvm.log")
    spark = _capture_session(
        log_path, os.path.join(workdir, "log4j2.properties")
    )
    from espkinesis_spark import oracles, queries
    from tests.oracle_util import compare, duck_connection

    reg = queries.registry()
    names = list(reg)[:50] if scope == "window" else list(reg)
    con = duck_connection(sf_dir)
    t0 = time.time()
    failed = []
    codegen_hits: list[tuple[str, str]] = []
    offset = 0
    _, offset = _read_new(log_path, offset)  # skip session-startup noise
    for i, name in enumerate(names, 1):
        t1 = time.time()
        try:
            sdf = reg[name](spark, sf_dir)
            if name in oracles.ORACLES:
                compare(sdf, con.execute(oracles.ORACLES[name]).df())
            else:
                assert sdf.count() >= 0
        except Exception as exc:
            failed.append(name)
            print(f"FAIL {name}: {exc}", flush=True)
        else:
            print(f"ok {name} {time.time() - t1:.1f}s [{i}/{len(names)}]",
                  flush=True)
        chunk, offset = _read_new(log_path, offset)
        for line in codegen_errors(chunk):
            codegen_hits.append((name, line))
            print(f"CODEGEN-FALLBACK {name}: {line}", flush=True)
    print(
        f"{len(names) - len(failed)}/{len(names)} green in "
        f"{time.time() - t0:.0f}s ({scope}, {sf_dir}); "
        f"codegen fallbacks: {len(codegen_hits)}"
    )
    if failed:
        raise SystemExit(f"failures: {failed}")
    if codegen_hits:
        raise SystemExit(
            "codegen fallbacks (interpreted-mode regressions): "
            f"{sorted({n for n, _ in codegen_hits})}"
        )


if __name__ == "__main__":
    main()
