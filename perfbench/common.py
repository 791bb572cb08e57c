"""Session set-up, run bookkeeping and the layer-metric table."""

from __future__ import annotations

import os
import shutil
import time
from dataclasses import dataclass, field
from pathlib import Path

SETUPS = 3  # set-ups per run; setup_s is their median
CLOSE_WAIT_S = 10  # how long close() lets the JVM exit before killing it

# every per-layer metric and its unit; a workload that does not reach a
# layer reports 0 for it
LAYER_METRICS = {
    "pipeline.bootstrap_s": "s", "pipeline.transform_s": "s",
    "pipeline.catalog_upsert_s": "s", "pipeline.structure_overwrite_s": "s",
    "pipeline.facts_append_s": "s", "pipeline.status_sync_s": "s",
    "pipeline.jobs": "count", "pipeline.rows_written": "rows",
    "sources.read_s": "s", "sources.jobs": "count",
    "sinks.bytes_written": "bytes", "sinks.write_amplification": "ratio",
    "bom.explode_s": "s", "bom.levels": "count", "bom.jobs": "count",
    "catalyst.analysis_ms": "ms", "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms",
    "plans.build_s": "s", "plans.build_jobs": "count", "plans.build_job_s": "s",
    "exec.s": "s", "exec.jobs": "count", "exec.stages": "count", "exec.tasks": "count",
    "exec.executor_run_ms": "ms", "exec.executor_cpu_ms": "ms", "exec.cpu_per_run": "ratio",
    "exec.shuffle_read_bytes": "bytes", "exec.shuffle_write_bytes": "bytes",
    "exec.spill_bytes": "bytes", "exec.failed_tasks": "count",
    "session.start_s": "s", "session.jvm_peak_rss_mb": "MB",
    "trace.wall_s": "s", "trace.self_s": "s",
}


@dataclass
class Run:
    """What one workload run measured and checked."""

    latencies_ms: list[float] = field(default_factory=list)
    failed: int = 0
    timed_s: float = 0.0
    setups_s: list[float] = field(default_factory=list)
    problems: list[str] = field(default_factory=list)
    detail: dict = field(default_factory=dict)
    layers: dict = field(default_factory=dict)
    started: float = field(default_factory=time.perf_counter)

    def check(self, ok: bool, message: str) -> None:
        if not ok:
            self.problems.append(message)

    def request_failed(self, err: BaseException) -> None:
        """A failed request misses every latency limit: it is recorded at
        the run's whole elapsed time so far, which no request of the run
        can exceed, and never dropped."""
        self.failed += 1
        self.latencies_ms.append((time.perf_counter() - self.started) * 1e3)
        self.problems.append(f"request failed: {type(err).__name__}: {err}"[:500])


class Session:
    """The benchmark's SparkSession, built through ``session.get_spark``.

    The JVM temp dir and the SQL warehouse dir live under the run
    directory (Spark's scratch space too, via ``SPARK_LOCAL_DIRS``)."""

    def __init__(self, work: Path):
        self.work = work
        self.spark = None
        self.first_start_s = 0.0

    def _conf(self) -> dict[str, str]:
        tmp = self.work / "tmp"
        tmp.mkdir(parents=True, exist_ok=True)
        return {
            "spark.sql.warehouse.dir": str(self.work / "spark-warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
            "spark.ui.showConsoleProgress": "false",
        }

    def start(self):
        from autosinapi_spark.session import get_spark

        if self.spark is not None:
            self.spark.stop()
        t0 = time.perf_counter()
        self.spark = get_spark(app_name="perfbench", extra_conf=self._conf())
        if not self.first_start_s:
            self.first_start_s = time.perf_counter() - t0
        return self.spark

    def set_up(self, prepare, run: Run):
        """Start a fresh SparkContext and run the workload's program-side
        preparation, SETUPS times; each time goes to ``run.setups_s``."""
        for i in range(SETUPS):
            t0 = time.perf_counter()
            spark = self.start()
            prepare(spark, i)
            run.setups_s.append(time.perf_counter() - t0)
        return self.spark

    def jvm_peak_rss_mb(self) -> float:
        pid = self.spark._jvm.java.lang.ProcessHandle.current().pid()
        with open(f"/proc/{pid}/status", encoding="ascii") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
        return 0.0

    def release(self) -> None:
        """Drop cached frames and checkpoint blocks between requests, as
        bench.py does between queries."""
        from bench import _release_persistent

        _release_persistent(self.spark)

    def close(self) -> None:
        """Stop Spark and wait for the JVM to exit."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gateway = SparkContext._gateway
        if gateway is None:
            return
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()  # the JVM exits on EOF of its stdin
            try:
                # bounded, so a JVM slow to exit cannot stretch the run;
                # everything the run checks is written by now
                proc.wait(timeout=CLOSE_WAIT_S)
            except Exception:
                proc.kill()
                proc.wait()


def fresh_dir(path: Path) -> Path:
    shutil.rmtree(path, ignore_errors=True)
    path.mkdir(parents=True)
    return path


def parquet_files(root: Path) -> dict[str, tuple[int, int, int]]:
    """Data files under ``root``: path -> (size, mtime_ns, inode)."""
    out = {}
    for dirpath, _dirs, files in os.walk(root):
        for f in files:
            if f.endswith(".parquet"):
                p = os.path.join(dirpath, f)
                st = os.stat(p)
                out[p] = (st.st_size, st.st_mtime_ns, st.st_ino)
    return out


def tree_bytes(root: Path) -> int:
    return sum(v[0] for v in parquet_files(root).values())
