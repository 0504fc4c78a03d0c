"""Function-registration surface: SQL scalar UDFs + Python handlers."""

from __future__ import annotations

from pyspark.sql import functions as F

from espkinesis_spark.functions import dedup
from espkinesis_spark.functions.registry import (
    register_python_functions,
    register_sql_functions,
)
from espkinesis_spark.tables import load_table


def test_registry_prefix_window_covers_unproven_entries():
    """Correctness harnesses may sample a 50-entry prefix of queries();
    the round-5 invariant is coverage-priority ordering: every entry
    WITHOUT a green driver row in any committed CORRECTNESS_r*.json must
    sit inside the 50-entry prefix window — otherwise the long tail never
    earns hard driver evidence. (A red/errored row is not evidence.)
    Already-proven entries may also appear in the window (pinned flagship
    canaries + oldest-evidence re-verification), but never at the expense
    of an unproven entry."""
    import json
    import pathlib

    import __spark_entry__ as entry

    names = list(entry.queries())
    assert len(names) == len(set(names))
    first50 = set(names[:50])
    proven = set()
    for artifact in pathlib.Path(__file__).resolve().parent.parent.glob(
        "CORRECTNESS_r*.json"
    ):
        for name, row in json.loads(artifact.read_text()).items():
            if (
                row.get("rows_match")
                and row.get("schema_match")
                and row.get("hash_match")
                and not row.get("err")
            ):
                proven.add(name)
    unproven = [n for n in names if n not in proven]
    missed = [n for n in unproven if n not in first50]
    assert missed == [], f"unproven entries outside the prefix window: {missed}"
    # every queries() entry has a DuckDB oracle — no rows-only checks left
    # (the former multimodal decode stubs are real codecs with oracles now)
    oracles = entry.oracle_sql()
    rows_only = {n for n in names if n not in oracles}
    assert rows_only == set(), rows_only


def test_sql_functions_register_and_inline(spark):
    names = register_sql_functions(spark)
    assert "espk_remap" in names
    row = spark.sql(
        """SELECT espk_remap(1000) AS lo, espk_remap(2000) AS hi,
                  espk_mac(X'A1B2C3D4E5F6') AS mac,
                  espk_patch(array(-1, 1500), array(1200, 1300)) AS patched,
                  espk_valid_channels(array(-1, 1000, 2000)) AS ok,
                  espk_valid_channels(array(999)) AS bad,
                  espk_ttl_ms(1000000, 4000000) AS clamped"""
    ).first()
    assert (row.lo, row.hi) == (172, 1811)  # P1 endpoints
    assert row.mac == "A1:B2:C3:D4:E5:F6"
    assert row.patched == [1200, 1500]  # -1 keeps live value
    assert row.ok is True and row.bad is False
    assert row.clamped == 0  # expired -> clamp at 0


def test_python_simhash_udf_matches_library(spark, sf_dir):
    register_python_functions(spark)
    docs = load_table(spark, sf_dir, "documents").limit(50)
    docs.createOrReplaceTempView("__docs_udf")
    via_udf = spark.sql(
        "SELECT doc_id, espk_simhash48(text) AS simhash FROM __docs_udf"
    )
    via_lib = dedup.simhash(docs)
    diff = via_udf.join(via_lib.withColumnRenamed("simhash", "s2"), "doc_id").filter(
        F.col("simhash") != F.col("s2")
    )
    assert diff.count() == 0


def test_registry_dict_literal_has_no_duplicate_keys():
    """r14 lesson: a programmatic registry rewrite left a stale second
    occurrence of one key — Python silently keeps the FIRST insertion
    position, so the dict still had 216 entries while the literal had
    217 lines, and the position-based rotation bookkeeping (tail order
    = evidence freshness) was quietly wrong for that entry. Runtime
    checks can't see this; assert at the AST level."""
    import ast
    import collections
    import pathlib

    src = (
        pathlib.Path(__file__).resolve().parent.parent
        / "espkinesis_spark"
        / "queries.py"
    ).read_text()
    for node in ast.walk(ast.parse(src)):
        if isinstance(node, ast.FunctionDef) and node.name == "registry":
            dicts = [n for n in ast.walk(node) if isinstance(n, ast.Dict)]
            assert dicts, "registry() no longer returns a dict literal"
            # Two scopes (r14 ADVICE + review catch on the fix): dict
            # literals inside the RETURN expression are pooled — they are
            # what merges into the registry (a future {**core, **extra}
            # refactor silently dedupes across literals, the exact r14
            # failure class) — while literals elsewhere in the function
            # (e.g. a local alias map) are checked independently so a
            # legitimately-shared key can't false-positive.
            returned = {
                id(d)
                for ret in ast.walk(node)
                if isinstance(ret, ast.Return) and ret.value is not None
                for d in ast.walk(ret.value)
                if isinstance(d, ast.Dict)
            }
            pooled: list[str] = []
            for d in dicts:
                keys = [k.value for k in d.keys if isinstance(k, ast.Constant)]
                if id(d) in returned:
                    pooled.extend(keys)
                else:
                    dupes = [
                        k for k, c in collections.Counter(keys).items() if c > 1
                    ]
                    assert dupes == [], f"duplicate literal dict keys: {dupes}"
            assert pooled, "registry() return carries no dict literal keys"
            dupes = [k for k, c in collections.Counter(pooled).items() if c > 1]
            assert dupes == [], f"duplicate literal registry keys: {dupes}"
            return
    raise AssertionError("registry() not found in queries.py")


def test_oracle_aliases_come_from_one_twin_declaration():
    """Every ``st_*`` entry but the four with a lifecycle of their own is
    ``Twin.stream`` bound to its ``queries.TWINS`` member. Where a
    streaming entry shares its batch entry's oracle
    (``ORACLES["st_x"] is ORACLES["ex_x"]``), the batch entry runs the
    same ingest and analyze: both registry values are bound to that one
    declaration. A declaration's ``batch`` is registered nowhere else.
    ``st_heavy_hitters`` is the one aliased pair whose batch entry is not
    its declaration's ``batch``: it is Misra-Gries (``frequent_values``),
    a different kernel."""
    from espkinesis_spark import queries
    from espkinesis_spark.oracles import ORACLES

    reg = queries.registry()
    lifecycle = {
        "st_override_asof",
        "st_command_plane",
        "st_sink_roundtrip",
        "st_console_roundtrip",
    }
    declared = {n for n in reg if n.startswith("st_")} - lifecycle
    assert {n[3:] for n in declared} == set(queries.TWINS)
    for n in declared:
        assert reg[n].__func__ is queries.Twin.stream, n
        assert reg[n].__self__ is queries.TWINS[n[3:]], n
    for n in lifecycle:
        assert not isinstance(getattr(reg[n], "__self__", None), queries.Twin), n

    aliased = {
        n[3:]
        for n in reg
        if n.startswith("st_") and ORACLES[n] is ORACLES.get("ex_" + n[3:])
    }
    assert "heavy_hitters" in aliased
    twins = aliased - {"heavy_hitters"}
    assert len(twins) == 21
    for name in twins:
        ex, st = reg["ex_" + name], reg["st_" + name]
        assert ex.__self__ is st.__self__ is queries.TWINS[name]
        assert ex.__func__ is queries.Twin.batch
    batch_bound = {
        fn.__self__.name
        for fn in reg.values()
        if getattr(fn, "__func__", None) is queries.Twin.batch
    }
    assert batch_bound == twins
