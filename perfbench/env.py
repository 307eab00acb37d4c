"""Machine sizing, the benchmark's own Spark session, and process-level
probes (resident memory, JVM GC time, Spark job/stage/task counts).

The session is sized to the machine from here, not from the package's
bench defaults: ``local[nproc]``, a driver heap of a quarter of physical
RAM (capped, so a shared host is not asked for more than it has — the
package's BENCH_DRIVER_MEMORY_CONF requests 16g regardless), the UI off,
and every temporary directory (SPARK_LOCAL_DIRS, java.io.tmpdir, Python's
TMPDIR, the warehouse) inside the benchmark's work directory.
"""

from __future__ import annotations

import os
import platform
import subprocess
import sys
import time


def ram_bytes() -> int:
    return os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")


def heap_mb() -> int:
    return max(1024, min(ram_bytes() // 4 // 2**20, 6144))


def java_version() -> str:
    try:
        out = subprocess.run(
            ["java", "-version"], capture_output=True, text=True, timeout=30
        ).stderr
    except (OSError, subprocess.TimeoutExpired):
        return "unknown"
    return out.splitlines()[0] if out else "unknown"


def machine_info(seed: int) -> dict:
    import pyspark

    return {
        "nproc": os.cpu_count(),
        "ram_gb": round(ram_bytes() / 2**30, 1),
        "driver_heap_mb": heap_mb(),
        "spark": pyspark.__version__,
        "java": java_version(),
        "python": platform.python_version(),
        "seed": seed,
    }


class Session:
    """Owns the SparkSession and the JVM process behind it; ``close``
    stops both and waits for the JVM to exit."""

    def __init__(self, work_dir: str, app_name: str):
        local = os.path.join(work_dir, "spark-local")
        tmp = os.path.join(work_dir, "tmp")
        os.makedirs(local, exist_ok=True)
        os.makedirs(tmp, exist_ok=True)
        # read by the JVM launcher and by Python's tempfile
        os.environ["SPARK_LOCAL_DIRS"] = local
        os.environ["TMPDIR"] = tmp
        # few glibc malloc arenas: the JVM's native memory otherwise
        # depends on how many threads happened to allocate concurrently
        os.environ.setdefault("MALLOC_ARENA_MAX", "2")
        os.environ.setdefault("PYSPARK_PYTHON", sys.executable)

        from notion_spark.session import get_spark

        nproc = os.cpu_count() or 1
        t0 = time.perf_counter()
        self.spark = get_spark(
            app_name=app_name,
            master=f"local[{nproc}]",
            shuffle_partitions=nproc,
            extra_conf={
                "spark.ui.enabled": "false",
                "spark.driver.memory": f"{heap_mb()}m",
                "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
                "spark.local.dir": local,
                "spark.sql.warehouse.dir": os.path.join(work_dir, "warehouse"),
                "spark.ui.showConsoleProgress": "false",
            },
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        self.start_s = time.perf_counter() - t0
        self.sc = self.spark.sparkContext
        self._jvm = self.sc._jvm
        self._proc = self.sc._gateway.proc

    # ------------------------------------------------------------ probes
    def jvm_pid(self) -> int:
        return int(self._jvm.java.lang.ProcessHandle.current().pid())

    def gc_s(self) -> float:
        beans = self._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        return sum(max(0, b.getCollectionTime()) for b in beans) / 1000.0

    def peak_rss_mb(self) -> dict[str, float]:
        """Peak resident set (VmHWM) of this Python process and of the JVM."""
        return {
            "python": _vm_hwm_kb("self") / 1024.0,
            "jvm": _vm_hwm_kb(str(self.jvm_pid())) / 1024.0,
        }

    def job_counts(self, group: str) -> tuple[int, int, int]:
        """(jobs, stages, tasks) run under a job group. Skipped stages are
        not counted: their tasks never ran."""
        tracker = self.sc.statusTracker()
        jobs = tracker.getJobIdsForGroup(group)
        stages = tasks = 0
        for jid in jobs:
            info = tracker.getJobInfo(jid)
            for sid in info.stageIds if info else ():
                st = tracker.getStageInfo(sid)
                if st is not None and st.numTasks and st.numCompletedTasks + st.numFailedTasks:
                    stages += 1
                    tasks += st.numTasks
        return len(jobs), stages, tasks

    def close(self) -> None:
        from pyspark import SparkContext

        gateway = self.sc._gateway
        try:
            self.spark.stop()
        finally:
            gateway.shutdown()
            SparkContext._gateway = None
            SparkContext._jvm = None
            if self._proc is not None:
                if self._proc.stdin:
                    self._proc.stdin.close()
                try:
                    self._proc.wait(timeout=30)
                except subprocess.TimeoutExpired:
                    self._proc.kill()
                    self._proc.wait(timeout=30)


def _vm_hwm_kb(pid: str) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0
