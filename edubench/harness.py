"""Run environment shared by the workloads: a private run directory
inside the checkout, the engine's SparkSession, failure accounting,
table digests and peak-memory readings."""

from __future__ import annotations

import gc
import os
import shutil
import statistics
import sys
import tempfile
import time

from spans import Tracer

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def median(values: list[float]) -> float:
    return float(statistics.median(values)) if values else 0.0


def vm_hwm_mb(pid: int | str) -> float:
    """Peak resident set size of *pid* (``VmHWM``) in MB."""
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def dir_stats(path: str) -> tuple[int, int]:
    """(data files, bytes) under a table directory, ignoring markers."""
    files = size = 0
    for dirpath, _, names in os.walk(path):
        for n in names:
            if n.startswith((".", "_")):
                continue
            files += 1
            size += os.path.getsize(os.path.join(dirpath, n))
    return files, size


class Harness:
    def __init__(self, workload: str, seed: int, trace: bool) -> None:
        self.workload = workload
        self.seed = seed
        self.trace = trace
        self.cpus = len(os.sched_getaffinity(0))
        self.run_dir = os.path.join(ROOT, ".bench_run", f"{workload}-{os.getpid()}")
        self.warehouse = os.path.join(self.run_dir, "warehouse")
        self.event_dir = os.path.join(self.run_dir, "eventlog")
        self.tracer = Tracer(f"{workload}-{seed}")
        self.attempted = 0
        self.failures: list[str] = []
        self.spark = None
        self._proc = None
        self.jvm_pid: int | None = None

    # -- accounting ----------------------------------------------------
    def attempt(self, ok: bool, what: str) -> bool:
        self.attempted += 1
        if not ok:
            self.failures.append(what)
        return ok

    # -- session ---------------------------------------------------------
    def start_spark(self) -> float:
        """Start the engine's session; returns the seconds it took."""
        tmp = os.path.join(self.run_dir, "tmp")
        for d in (self.warehouse, tmp, self.event_dir):
            os.makedirs(d, exist_ok=True)
        os.environ["SPARK_GRAFT_CPUS"] = str(self.cpus)
        os.environ["TMPDIR"] = tempfile.tempdir = tmp
        conf = {
            "spark.sql.warehouse.dir": self.warehouse,
            "spark.local.dir": tmp,
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        }
        if self.trace:
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": self.event_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        from dbt_incremental_ci_spark.session import get_spark

        t0 = time.perf_counter()
        with self.tracer.span("session.get_spark"):
            self.spark = get_spark(app_name=f"edubench-{self.workload}", extra_conf=conf)
        seconds = time.perf_counter() - t0
        sc = self.spark.sparkContext
        self._proc = getattr(sc._gateway, "proc", None)
        self.jvm_pid = int(sc._jvm.java.lang.ProcessHandle.current().pid())
        if self.trace:
            self.tracer.sc = sc
        return seconds

    def collect_garbage(self) -> None:
        """Full GC in both processes between units, so collections of
        one unit's garbage do not land in a random later unit."""
        gc.collect()
        self.spark.sparkContext._jvm.System.gc()

    def peak_rss_mb(self) -> float:
        return vm_hwm_mb(self.jvm_pid) + vm_hwm_mb("self")

    def stop_spark(self) -> None:
        """Stop the session and the JVM, and wait for the JVM to exit."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        self.spark.stop()
        self.spark = None
        if gateway is not None:
            gateway.shutdown()
        if self._proc is not None:
            try:
                self._proc.stdin.close()
                self._proc.wait(timeout=30)
            except Exception:  # noqa: BLE001 — escalate below
                self._proc.kill()
                self._proc.wait()

    def event_log_path(self) -> str | None:
        names = [n for n in os.listdir(self.event_dir) if not n.startswith(".")]
        return os.path.join(self.event_dir, names[0]) if len(names) == 1 else None

    def cleanup(self) -> None:
        shutil.rmtree(self.run_dir, ignore_errors=True)
        parent = os.path.dirname(self.run_dir)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)

    # -- tables ----------------------------------------------------------
    def table_dir(self, qualified: str) -> str:
        schema, table = qualified.split(".", 1)
        return os.path.join(self.warehouse, f"{schema}.db", table)

    def drop_schema(self, schema: str) -> None:
        self.spark.sql(f"DROP DATABASE IF EXISTS {schema} CASCADE")


def digests(dfs: list) -> list[tuple[int, str]]:
    """Row count and an order-insensitive checksum of each DataFrame,
    computed in one Spark action.

    Floating columns are rounded to 6 places and every column is cast to
    a string before hashing, so a checksum depends on neither column
    order, row order nor float summation order."""
    from pyspark.sql import functions as F

    combined = None
    for i, df in enumerate(dfs):
        cols = []
        for f in sorted(df.schema.fields, key=lambda f: f.name):
            c = F.col(f"`{f.name}`")
            if f.dataType.typeName() in ("double", "float"):
                c = F.round(c, 6)
            cols.append(F.coalesce(c.cast("string"), F.lit("\u2205")))
        agg = df.agg(
            F.count(F.lit(1)).alias(f"n{i}"),
            F.sum(F.xxhash64(*cols).cast("decimal(38,0)")).alias(f"h{i}"),
        )
        combined = agg if combined is None else combined.crossJoin(agg)
    row = combined.collect()[0]
    return [(int(row[f"n{i}"]), str(row[f"h{i}"])) for i in range(len(dfs))]


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)
