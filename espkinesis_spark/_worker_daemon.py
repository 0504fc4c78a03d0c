"""Spark's Python worker daemon, run on the interpreter's installed pyspark.

The JVM starts the daemon with ``$SPARK_HOME/python/lib/pyspark.zip``,
``py4j-*-src.zip`` and the spark-core jar first on ``sys.path``, so every
worker imports pyspark from the zip. Each task then calls
``importlib.invalidate_caches()`` (pyspark ``worker_util.setup_spark_files``),
and before CPython 3.13 every cached ``zipimporter`` re-reads its whole
archive directory: about 0.25 s of setup per Python task. When the installed
pyspark has the zip's version and py4j is installed, this module drops the
three archives from ``sys.path`` (and their importer-cache entries) before
``pyspark.daemon`` is imported; otherwise the path stays as Spark built it.

Selected by ``session.get_spark`` through ``spark.python.daemon.module``.
"""

from __future__ import annotations

import os
import re
import sys
import zipfile
from importlib.machinery import PathFinder

_VERSION = re.compile(r"""^__version__\b[^=]*=\s*['"]([^'"]+)['"]""", re.M)


def _is_spark_archive(entry: str) -> bool:
    name = os.path.basename(entry)
    return (
        name == "pyspark.zip"
        or (name.startswith("py4j-") and name.endswith("-src.zip"))
        or name.endswith(".jar")
    )


def worker_path(
    path: list[str],
    installed_version: str | None,
    zip_version: str | None,
    py4j_installed: bool,
) -> list[str]:
    """``path`` without Spark's archives when the installed pyspark (of
    ``installed_version``) can stand in for pyspark.zip (of ``zip_version``,
    None when there is none); otherwise ``path`` unchanged."""
    if installed_version is None or installed_version != zip_version or not py4j_installed:
        return list(path)
    return [p for p in path if not _is_spark_archive(p)]


def _version(source: str) -> str | None:
    match = _VERSION.search(source)
    return match.group(1) if match else None


def _installed_version(path: list[str]) -> str | None:
    spec = PathFinder.find_spec("pyspark", path)
    if spec is None or not spec.origin:
        return None
    try:
        with open(os.path.join(os.path.dirname(spec.origin), "version.py")) as fh:
            return _version(fh.read())
    except OSError:
        return None


def _zip_version(path: list[str]) -> str | None:
    zips = [p for p in path if os.path.basename(p) == "pyspark.zip"]
    if not zips:
        return None
    try:
        with zipfile.ZipFile(zips[0]) as zf:
            return _version(zf.read("pyspark/version.py").decode())
    except (OSError, KeyError, zipfile.BadZipFile):
        return None


def main() -> None:
    plain = [p for p in sys.path if not _is_spark_archive(p)]
    kept = worker_path(
        sys.path,
        _installed_version(plain),
        _zip_version(sys.path),
        PathFinder.find_spec("py4j", plain) is not None,
    )
    for entry in set(sys.path) - set(kept):
        sys.path_importer_cache.pop(entry, None)
    sys.path[:] = kept

    from pyspark.daemon import manager

    manager()


if __name__ == "__main__":
    main()
