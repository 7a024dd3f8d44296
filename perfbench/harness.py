"""Run environment shared by the workloads: a private temp root per run,
the Spark session built inside it, and the host-level readings (resident
memory, pinned intermediates) taken from outside the engine."""

from __future__ import annotations

import glob
import os
import resource
import shutil
import tempfile
import time
from dataclasses import dataclass, field

from perfbench.stats import p50

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
#: Build outputs and per-run temp roots live here, inside the checkout.
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
CORES = 4
DRIVER_MEM = "2g"
#: Table scale for the catalog.  Documents and embeddings stay at their
#: 500-row floor; the fact tables are 60k lineitem / 10k events rows.
SF = 0.01


def data_dir() -> str:
    from perfbench import datagen

    return datagen.build(os.path.join(BUILD, f"data-sf{SF}"), SF)


@dataclass
class Outcome:
    """What a workload hands back to the runner."""

    attempted: int = 0
    failed: int = 0
    e2e: dict[str, float] = field(default_factory=dict)
    layers: dict[str, float] = field(default_factory=dict)
    detail: dict = field(default_factory=dict)

    def op(self, ok: bool) -> bool:
        self.attempted += 1
        self.failed += 0 if ok else 1
        return ok


class RunEnv:
    """Private temp root for one run: topics, checkpoints, stores, the
    warehouse, Spark's local dirs and the event log all live under it,
    and it is removed when the run ends."""

    def __init__(self, trace: bool) -> None:
        os.makedirs(os.path.join(BUILD, "runs"), exist_ok=True)
        self.root = tempfile.mkdtemp(prefix="run-", dir=os.path.join(BUILD, "runs"))
        self.trace = trace
        self.warehouse = self.path("warehouse")
        self.event_log_dir = self.path("eventlog")
        self.spark = None
        # Read by the JVM at launch and inherited by the Python workers,
        # which import the engine's modules when they unpickle UDFs.
        # Temp files of Python, of both JVMs (the launcher and the driver:
        # extracted native libraries, session artifacts) and the JVMs'
        # perf-data files stay inside the run root too.
        tmp = self.path("tmp")
        os.environ["TMPDIR"] = tmp
        os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
            [os.environ.get("JAVA_TOOL_OPTIONS", ""), f"-Djava.io.tmpdir={tmp}", "-XX:+PerfDisableSharedMem"]
        ).strip()
        os.environ["SPARK_LOCAL_DIRS"] = self.path("local")
        os.environ["SPARK_GRAFT_CPUS"] = str(CORES)
        os.environ["PYTHONPATH"] = os.pathsep.join(
            [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
        )

    def path(self, *parts: str) -> str:
        p = os.path.join(self.root, *parts)
        os.makedirs(p, exist_ok=True)
        return p

    def session(self):
        from event_streaming_spark.session import get_spark

        conf = {
            "spark.driver.memory": DRIVER_MEM,
            # The heap starts at its maximum: how far the JVM grows it
            # otherwise depends on GC timing, which made the driver's
            # peak resident set differ by up to half between identical runs.
            "spark.driver.extraJavaOptions": f"-Xms{DRIVER_MEM}",
            "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
            "spark.sql.warehouse.dir": self.warehouse,
            "spark.ui.showConsoleProgress": "false",
        }
        if self.trace:
            conf.update(
                {
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.dir": "file://" + self.event_log_dir,
                    "spark.eventLog.compress": "false",
                    "spark.eventLog.rolling.enabled": "false",
                }
            )
        self.spark = get_spark(app_name="perfbench", master=f"local[{CORES}]", extra_conf=conf)
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    def event_log_lines(self) -> list[str]:
        """The event log written so far (the traced run only)."""
        lines: list[str] = []
        for f in sorted(glob.glob(os.path.join(self.event_log_dir, "*"))):
            with open(f, encoding="utf-8") as fh:
                lines += fh.readlines()
        return lines

    def stop_session(self) -> None:
        """Stop Spark, which flushes and closes the event log, then end
        the driver JVM and wait for it: it exits when its stdin closes."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        self.spark.stop()
        self.spark = None
        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)

    def close(self) -> None:
        self.stop_session()
        shutil.rmtree(self.root, ignore_errors=True)


#: Per-task counters summed from the event log into ``spark.*`` metrics.
SPARK_COUNTERS = (
    "tasks",
    "exec_cpu_s",
    "gc_s",
    "shuffle_write_bytes",
    "shuffle_read_bytes",
    "spill_bytes",
    "input_bytes",
    "python_bytes",
)


def spark_layer(groups: list[dict], passes: int) -> dict[str, float]:
    """``spark.*`` per-layer metrics from event-log job groups, per pass."""
    job_ms = [x for g in groups for x in g["job_ms"]]
    out = {"spark.jobs_per_pass": sum(g["jobs"] for g in groups) / passes}
    out["spark.job_ms.p50"] = float(p50(job_ms)) if job_ms else 0.0
    for m in SPARK_COUNTERS:
        out[f"spark.{m}"] = float(sum(g[m] for g in groups)) / passes
    return out


def timed(fn, *args, **kw):
    t0 = time.monotonic()
    out = fn(*args, **kw)
    return out, time.monotonic() - t0


def peak_rss_mb(spark) -> float:
    """Driver JVM high-water resident set (VmHWM) plus the Python
    driver's ``ru_maxrss``, in MiB."""
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    jvm_kb = 0
    with open(f"/proc/{pid}/status", encoding="ascii") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return (jvm_kb + py_kb) / 1024.0


def pinned_state(spark, warehouse: str) -> dict[str, float]:
    """Pinned RDDs and their bytes, and ``table``-strategy pin dirs left
    under the warehouse — what ``operators/materialize.py`` leaves
    behind after a pass."""
    sc = spark.sparkContext
    infos = sc._jsc.sc().getRDDStorageInfo()
    pinned_bytes = sum(i.memSize() + i.diskSize() for i in infos)
    table_dirs = glob.glob(os.path.join(warehouse, "_materialized", "*"))
    return {
        "materialize.pinned_rdds_after_pass": float(sc._jsc.getPersistentRDDs().size()),
        "materialize.pinned_bytes_after_pass": float(pinned_bytes),
        "materialize.table_dirs_left": float(len(table_dirs)),
    }


def release_pins(spark) -> None:
    for rdd in list(spark.sparkContext._jsc.getPersistentRDDs().values()):
        rdd.unpersist(False)
