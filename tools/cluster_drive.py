"""Drive registry entries on a REAL multi-process Spark standalone cluster.

local[*] keeps the driver and every "executor" thread inside one JVM and one
process — it cannot catch cluster-only failure classes: closures that won't
serialize, task code reading driver-process state (globals, driver-local
paths), pandas-UDF modules missing from the executor PYTHONPATH, or a plan
that only works because shuffle data never crosses a process boundary. This
tool spins up a loopback standalone cluster (1 master + 1 worker sized to
spawn TWO executor JVMs), runs registry entries through it with the same
value-level DuckDB compare the parity suite uses, and tears the daemons
down. Multi-EXECUTOR topology on one box: real process isolation and real
network shuffles, same storage — the closest in-sandbox approximation of
the 1000-executor target.

Usage: python tools/cluster_drive.py [SF_DIR] [window|all|name,name,...]
The executors get the repo root on PYTHONPATH via executorEnv.
Exit code 0 = every driven entry value-matched (plus both executors seen).
"""

from __future__ import annotations

import os
import socket
import subprocess
import sys
import tempfile
import time

SPARK_HOME = os.environ.get("SPARK_HOME", "/opt/spark")
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def _free_port() -> int:
    with socket.socket() as s:
        s.bind(("127.0.0.1", 0))
        return s.getsockname()[1]


def _wait_for(predicate, timeout_s: float, what: str) -> None:
    t0 = time.time()
    while time.time() - t0 < timeout_s:
        if predicate():
            return
        time.sleep(0.5)
    raise TimeoutError(f"timed out after {timeout_s}s waiting for {what}")


def _port_open(port: int) -> bool:
    with socket.socket() as s:
        s.settimeout(0.4)
        return s.connect_ex(("127.0.0.1", port)) == 0


class Standalone:
    """Loopback master + one worker, owned as child processes."""

    def __init__(self, cores: int = 8, memory: str = "16g"):
        self.port = _free_port()
        self.cores, self.memory = cores, memory
        self.procs: list[subprocess.Popen] = []
        self.workdir = tempfile.mkdtemp(prefix="espk_cluster_")

    @property
    def master_url(self) -> str:
        return f"spark://127.0.0.1:{self.port}"

    def _spawn(self, cls: str, *args: str, log: str) -> subprocess.Popen:
        env = {
            **os.environ,
            "SPARK_LOCAL_IP": "127.0.0.1",
            "SPARK_WORKER_DIR": os.path.join(self.workdir, "work"),
            "SPARK_LOG_DIR": self.workdir,
        }
        fh = open(os.path.join(self.workdir, log), "w")
        proc = subprocess.Popen(
            [os.path.join(SPARK_HOME, "bin", "spark-class"), cls, *args],
            stdout=fh,
            stderr=subprocess.STDOUT,
            env=env,
        )
        self.procs.append(proc)
        return proc

    def start(self) -> None:
        self._spawn(
            "org.apache.spark.deploy.master.Master",
            "--host", "127.0.0.1", "--port", str(self.port),
            "--webui-port", str(_free_port()),
            log="master.log",
        )
        _wait_for(lambda: _port_open(self.port), 60, "master port")
        self._spawn(
            "org.apache.spark.deploy.worker.Worker",
            self.master_url,
            "--host", "127.0.0.1",
            "--cores", str(self.cores), "--memory", self.memory,
            "--webui-port", str(_free_port()),
            log="worker.log",
        )
        worker_log = os.path.join(self.workdir, "worker.log")

        def registered() -> bool:
            try:
                with open(worker_log) as fh:
                    return "Successfully registered with master" in fh.read()
            except FileNotFoundError:
                return False

        _wait_for(registered, 60, "worker registration")

    def stop(self) -> None:
        for proc in reversed(self.procs):  # worker (and its executors) first
            proc.terminate()
        for proc in reversed(self.procs):
            try:
                proc.wait(timeout=15)
            except subprocess.TimeoutExpired:
                proc.kill()


def cluster_session(master_url: str):
    from pyspark.sql import SparkSession

    return (
        SparkSession.builder.master(master_url)
        .appName("espk-cluster-drive")
        .config("spark.driver.host", "127.0.0.1")
        .config("spark.driver.bindAddress", "127.0.0.1")
        # two executor JVMs out of the one 8-core worker
        .config("spark.executor.cores", "4")
        .config("spark.executor.memory", "4g")
        .config("spark.executorEnv.PYTHONPATH", REPO)
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    scope = sys.argv[2] if len(sys.argv) > 2 else "window"

    cluster = Standalone()
    try:
        # inside the try: a startup timeout must still stop() whatever
        # daemons already spawned, not leak them holding ports
        cluster.start()
        spark = cluster_session(cluster.master_url)
        spark.sparkContext.setLogLevel("ERROR")

        # the point of the exercise: prove >1 executor JVM serves tasks.
        # each executor JVM runs ONE pyspark daemon that forks its python
        # workers, so distinct worker ppids == distinct executor JVMs
        hosts = spark.sparkContext.parallelize(range(32), 32).map(
            lambda _: os.getppid()
        ).distinct().collect()
        print(f"{len(hosts)} distinct executor JVMs served tasks", flush=True)

        from espkinesis_spark import oracles, queries
        from tests.oracle_util import compare, duck_connection

        reg = queries.registry()
        if scope == "window":
            names = list(reg)[:50]
        elif scope == "all":
            names = list(reg)
        else:
            names = [n for n in scope.split(",") if n]
            unknown = [n for n in names if n not in reg]
            if unknown:
                raise SystemExit(f"unknown entries: {unknown}")
        con = duck_connection(sf_dir)
        t0 = time.time()
        failed = []
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
                print(f"FAIL {name}: {str(exc)[:300]}", flush=True)
            else:
                print(f"ok {name} {time.time() - t1:.1f}s [{i}/{len(names)}]",
                      flush=True)
        print(
            f"{len(names) - len(failed)}/{len(names)} green on "
            f"{len(hosts)}-executor standalone cluster in "
            f"{time.time() - t0:.0f}s ({sf_dir})"
        )
        if failed:
            raise SystemExit(f"failures: {failed}")
        if len(hosts) < 2:
            raise SystemExit(
                f"expected >=2 executor JVMs, saw {len(hosts)} — "
                "the run did not exercise process isolation"
            )
        spark.stop()
    finally:
        cluster.stop()


if __name__ == "__main__":
    main()
