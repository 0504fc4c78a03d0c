"""_worker_daemon: Python workers run on the installed pyspark.

Pins the path decision (drop Spark's three archives only when the installed
pyspark can stand in for pyspark.zip), the inputs it is fed, a live task's
view of its interpreter, and the lazy package import the daemon relies on.
"""

from __future__ import annotations

import os
import subprocess
import sys
import zipfile
import zipimport

import pandas as pd
import pyspark
import pytest

from espkinesis_spark import _worker_daemon as wd

SPARK_PATH = [
    "/work",
    "/spark/python/lib/pyspark.zip",
    "/spark/python/lib/py4j-0.10.9.9-src.zip",
    "/spark/jars/spark-core_2.13-4.1.2.jar",
    "/srv/app",
    "/usr/lib/python311.zip",
    "/usr/lib/python3.11/site-packages",
]
ARCHIVES = SPARK_PATH[1:4]


def test_matching_versions_drop_exactly_the_three_archives():
    kept = wd.worker_path(SPARK_PATH, "4.1.2", "4.1.2", True)
    assert kept == [p for p in SPARK_PATH if p not in ARCHIVES]


@pytest.mark.parametrize(
    "installed, zipped, py4j",
    [
        ("4.1.1", "4.1.2", True),  # versions differ
        (None, "4.1.2", True),  # no installed pyspark
        ("4.1.2", None, True),  # no pyspark.zip
        (None, None, True),
        ("4.1.2", "4.1.2", False),  # no installed py4j
    ],
)
def test_otherwise_the_path_is_kept(installed, zipped, py4j):
    assert wd.worker_path(SPARK_PATH, installed, zipped, py4j) == SPARK_PATH


def test_versions_are_read_from_version_py(tmp_path):
    archive = tmp_path / "pyspark.zip"
    with zipfile.ZipFile(archive, "w") as zf:
        zf.writestr("pyspark/version.py", "__version__: str = '9.8.7'\n")
    assert wd._zip_version(["/work", str(archive)]) == "9.8.7"
    assert wd._zip_version(["/work"]) is None
    assert wd._zip_version([str(tmp_path / "missing" / "pyspark.zip")]) is None
    plain = [p for p in sys.path if not wd._is_spark_archive(p)]
    assert wd._installed_version(plain) == pyspark.__version__
    assert wd._installed_version([str(tmp_path)]) is None


def _spark_zip_version():
    lib = os.path.join(os.environ.get("SPARK_HOME", ""), "python", "lib")
    return wd._zip_version([os.path.join(lib, "pyspark.zip")])


def _worker_view(batches):
    zipped = [
        k for k, v in sys.path_importer_cache.items() if isinstance(v, zipimport.zipimporter)
    ]
    archives = [
        p for p in sys.path if p.endswith((".zip", ".jar")) and os.path.isfile(p)
    ]
    for _ in batches:
        yield pd.DataFrame(
            {"file": [pyspark.__file__], "archives": [archives], "zipped": [zipped]}
        )


def test_live_worker_imports_the_installed_pyspark(spark):
    if _spark_zip_version() not in (None, pyspark.__version__):
        pytest.skip("SPARK_HOME ships a pyspark.zip of another version")
    rows = (
        spark.range(2, numPartitions=2)
        .mapInPandas(_worker_view, "file string, archives array<string>, zipped array<string>")
        .collect()
    )
    assert len(rows) == 2
    for row in rows:
        assert row.file == pyspark.__file__
        assert row.archives == []
        assert row.zipped == []


def test_package_import_leaves_pyspark_unimported():
    code = (
        "import sys, espkinesis_spark, espkinesis_spark._worker_daemon;"
        "print('pyspark' in sys.modules)"
    )
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    proc = subprocess.run(
        [sys.executable, "-c", code], capture_output=True, text=True, cwd=root, timeout=60
    )
    assert proc.returncode == 0, proc.stderr
    assert proc.stdout.strip() == "False"


_DECOY_PROBE = """
import os, sys
sys.path.insert(0, {root!r})
import espkinesis_spark
from espkinesis_spark.session import get_spark

def where(batches):
    import espkinesis_spark
    import pandas as pd
    for _ in batches:
        yield pd.DataFrame({{"file": [espkinesis_spark.__file__]}})

spark = get_spark(master="local[1]", shuffle_partitions=1)
row = spark.range(1, numPartitions=1).mapInPandas(where, "file string").first()
print(espkinesis_spark.__file__)
print(row.file)
print(os.environ.get("PYTHONSAFEPATH", "unset"))
spark.stop()
"""


def test_workers_import_the_drivers_package_not_the_cwds(tmp_path):
    """A session started while the cwd holds another ``espkinesis_spark``
    (a second checkout) still runs the driver's package in its workers:
    ``python -m`` would put the cwd first on the worker's path. The
    setting reaches the workers only, not the driver's own environment
    (which any tool subprocess inherits)."""
    decoy = tmp_path / "espkinesis_spark"
    decoy.mkdir()
    (decoy / "__init__.py").write_text("")
    # a working daemon, so a worker that picked the decoy reports it
    (decoy / "_worker_daemon.py").write_text(
        "from pyspark.daemon import manager\nmanager()\n"
    )
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = dict(os.environ, SPARK_GRAFT_DRIVER_MEM="1g")
    env.pop("PYTHONPATH", None)
    env.pop("PYTHONSAFEPATH", None)
    proc = subprocess.run(
        [sys.executable, "-c", _DECOY_PROBE.format(root=root)],
        capture_output=True,
        text=True,
        cwd=tmp_path,
        env=env,
        timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    driver, worker, driver_env = proc.stdout.split()[-3:]
    assert driver == os.path.join(root, "espkinesis_spark", "__init__.py")
    assert worker == driver
    assert driver_env == "unset"
