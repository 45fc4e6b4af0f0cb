"""Run directory, Spark session fitted to the host, and provenance.

Every file a run writes (Spark local and warehouse dirs, the JVM's and
Python's temp dirs, staged inputs, engine data, event logs) goes under one
run directory inside the checkout, removed when the run ends.
"""

from __future__ import annotations

import hashlib
import os
import platform
import shutil
import subprocess
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "event_streaming_bnpl_demo_spark"
RUNS_DIR = os.path.join(ROOT, ".perfbench_tmp")
OUT_DIR = os.path.join(ROOT, ".perfbench_out")


class RunDir:
    """A fresh directory tree for one run."""

    def __init__(self):
        self.path = os.path.join(RUNS_DIR, f"run-{os.getpid()}-{time.time_ns()}")
        for sub in ("tmp", "spark-local", "warehouse", "eventlog", "data"):
            os.makedirs(os.path.join(self.path, sub))

    def sub(self, *parts: str) -> str:
        return os.path.join(self.path, *parts)

    def fresh_tempdir(self, name: str) -> str:
        """Point Python's temp dir (where the catalog stages its
        content-keyed inputs) at a new empty directory."""
        path = self.sub("tmp", name)
        os.makedirs(path)
        tempfile.tempdir = path
        return path

    def remove(self) -> None:
        tempfile.tempdir = None
        shutil.rmtree(self.path, ignore_errors=True)
        try:
            os.rmdir(RUNS_DIR)
        except OSError:
            pass


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def driver_memory_mb() -> int:
    """A quarter of physical memory, at most 4 GiB."""
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return max(1024, min(4096, phys // (4 << 20)))


def prepare_environment(run: RunDir) -> None:
    """Environment the JVM and Python workers inherit; call before the
    first session is built."""
    os.environ["SPARK_LOCAL_DIRS"] = run.sub("spark-local")
    os.environ["TMPDIR"] = tempfile.tempdir = run.sub("tmp")
    # every JVM spark-submit starts, the launcher too: no /tmp/hsperfdata
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        p for p in (os.environ.get("JAVA_TOOL_OPTIONS"), "-XX:-UsePerfData",
                    f"-Djava.io.tmpdir={run.sub('tmp')}") if p)
    # local-mode Python workers import the package from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)


class SparkHost:
    """Builds, rebuilds and finally shuts down the session and its JVM."""

    def __init__(self, run: RunDir, trace: bool):
        self.run = run
        self.trace = trace
        self.spark = None
        self.master = f"local[{nproc()}]"
        self.memory_mb = driver_memory_mb()

    def start(self):
        from pyspark.sql import SparkSession

        from event_streaming_bnpl_demo_spark.session import RUNTIME_CONF, tune

        b = (SparkSession.builder.master(self.master)
             .appName("perfbench")
             .config("spark.ui.enabled", "false")
             .config("spark.ui.showConsoleProgress", "false")
             .config("spark.driver.memory", f"{self.memory_mb}m")
             .config("spark.sql.warehouse.dir", self.run.sub("warehouse"))
             .config("spark.local.dir", self.run.sub("spark-local"))
             .config("spark.eventLog.enabled", str(self.trace).lower())
             .config("spark.eventLog.rolling.enabled", "false")
             .config("spark.eventLog.compress", "false")
             .config("spark.eventLog.dir",
                     "file://" + self.run.sub("eventlog")))
        for k, v in RUNTIME_CONF.items():
            b = b.config(k, v)
        self.spark = b.getOrCreate()
        self.spark.sparkContext.setLogLevel("ERROR")
        tune(self.spark)
        return self.spark

    def restart(self):
        self.spark.stop()
        return self.start()

    def jvm_pid(self) -> int | None:
        from pyspark import SparkContext

        proc = getattr(SparkContext._gateway, "proc", None)
        return proc.pid if proc is not None else None

    def close(self) -> None:
        """Stop streams and the session, then the JVM, and wait for it."""
        from pyspark import SparkContext

        if self.spark is not None:
            for q in self.spark.streams.active:
                q.stop()
            self.spark.stop()
            self.spark = None
        gateway = SparkContext._gateway
        if gateway is None:
            return
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            # the JVM exits when its stdin closes; py4j's own shutdown
            # calls can block on their sockets while it is still up
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None


def source_digest() -> str:
    """sha256 over the package's Python sources, in path order."""
    h = hashlib.sha256()
    pkg = os.path.join(ROOT, PACKAGE)
    for dirpath, dirnames, filenames in os.walk(pkg):
        dirnames.sort()
        for name in sorted(filenames):
            if name.endswith(".py"):
                path = os.path.join(dirpath, name)
                h.update(os.path.relpath(path, ROOT).encode())
                with open(path, "rb") as f:
                    h.update(f.read())
    return h.hexdigest()[:16]


def git_commit() -> str | None:
    try:
        r = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                           capture_output=True, text=True, timeout=10)
    except (OSError, subprocess.TimeoutExpired):
        return None
    return r.stdout.strip() if r.returncode == 0 else None


def provenance(host: SparkHost, load_before: tuple) -> dict:
    spark = host.spark
    return {
        "nproc": nproc(),
        "master": host.master,
        "driver_memory_mb": host.memory_mb,
        "loadavg_before": list(load_before),
        "loadavg_after": list(os.getloadavg()),
        "spark_version": spark.version,
        "java_version": spark.sparkContext._jvm.System.getProperty(
            "java.version"),
        "python_version": platform.python_version(),
        "git_commit": git_commit(),
        "source_sha256": source_digest(),
        "catalyst_extension_loaded": bool(
            spark.conf.get("spark.sql.extensions", None)),
    }
