"""Spark session factory and status-store reader of the benchmark.

Session: ``local[cores]`` through the engine's own ``get_spark`` (so the
engine's session defaults are part of what is measured), with a driver
heap sized for a small shared host, every scratch directory inside the
run's work directory, and a fresh JVM per benchmark process. run.py
gives tasks half the CPUs: with every CPU running tasks, the driver's
serial work (planning, scheduling, the Python client) queues behind the
Python workers, and wall times swing with the host's load; with half,
they hold steady, and on these inputs the runs are no slower. Flush
policy: nothing is fsynced and the OS page cache is not dropped, so
index reads after a build are served from memory, as they are for a
user who queries right after indexing.

Status store: Spark keeps job and stage data in its status store even
with ``spark.ui.enabled=false``. Job ids are global and increase, so the
jobs an operation started are the ids between two readings of the job
counter, whichever thread submitted them; the engine's builds submit
from their own thread pools. Stage metrics are read once, after the run,
when the listener bus has drained.
"""

from __future__ import annotations

import os
import resource
import subprocess
from dataclasses import dataclass, field

DRIVER_MEMORY = "2g"


def bench_session(work_dir: str, cores: int):
    """A SparkSession whose local dirs, temp files and warehouse all live
    under ``work_dir``."""
    from meresco_lucene_spark.session import get_spark
    from meresco_lucene_spark.shipping import ensure_shipped

    tmp = os.path.join(work_dir, "tmp")
    local = os.path.join(work_dir, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    spark = get_spark(
        app_name="perfbench",
        cores=cores,
        shuffle_partitions=cores,
        driver_memory=DRIVER_MEMORY,
        extra_conf={
            "spark.local.dir": local,
            "spark.driver.extraJavaOptions": java_opts,
            "spark.executor.extraJavaOptions": java_opts,
            "spark.sql.warehouse.dir": os.path.join(work_dir, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.sql.ui.retainedExecutions": "100",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    ensure_shipped(spark)
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait until the JVM (and with it the Python workers
    it forked) has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
        except (AttributeError, OSError):
            pass
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def jvm_pid(spark) -> int | None:
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    return proc.pid if proc is not None else None


def _vm_hwm_kb(pid: int) -> int:
    """Peak resident set (VmHWM) of process ``pid``, in KiB."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb(spark) -> float:
    """Peak RSS of this driver process plus the JVM, in MiB."""
    own = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss  # KiB on Linux
    pid = jvm_pid(spark)
    return (own + (_vm_hwm_kb(pid) if pid else 0)) / 1024.0


@dataclass
class SparkCounts:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    cpu_s: float = 0.0
    run_s: float = 0.0
    input_bytes: int = 0
    shuffle_bytes: int = 0
    spill_bytes: int = 0

    def add(self, o: "SparkCounts") -> None:
        for k in self.__dataclass_fields__:
            setattr(self, k, getattr(self, k) + getattr(o, k))


@dataclass
class _Stage:
    tasks: int
    cpu_s: float
    run_s: float
    input_bytes: int
    shuffle_bytes: int
    spill_bytes: int


@dataclass
class StatusReader:
    """Job-id watermarks during the run; stage metrics after it."""

    spark: object
    _jobs: dict[int, list[int]] = field(default_factory=dict)
    _stages: dict[int, _Stage] = field(default_factory=dict)

    def watermark(self) -> int:
        """Number of jobs submitted so far: the next job gets this id."""
        return self.spark.sparkContext._jsc.sc().dagScheduler().numTotalJobs()

    def collect(self) -> None:
        """Drain the listener bus, then read every job's stages and each
        stage's last attempt. A stage shared by several jobs (a reused
        shuffle) counts once, for the first job that lists it."""
        from py4j.protocol import Py4JJavaError

        sc = self.spark.sparkContext._jsc.sc()
        sc.listenerBus().waitUntilEmpty(60_000)
        store = sc.statusStore()
        seen: set[int] = set()
        for jid in range(sc.dagScheduler().numTotalJobs()):
            try:
                sids = store.job(jid).stageIds()
            except Py4JJavaError:  # NoSuchElementException: job not retained
                self._jobs[jid] = []
                continue
            own = []
            for k in range(sids.size()):
                sid = int(sids.apply(k))
                if sid in seen:
                    continue
                seen.add(sid)
                own.append(sid)
                st = store.lastStageAttempt(sid)
                self._stages[sid] = _Stage(
                    tasks=int(st.numCompleteTasks()),
                    cpu_s=st.executorCpuTime() / 1e9,
                    run_s=st.executorRunTime() / 1e3,
                    input_bytes=int(st.inputBytes()),
                    shuffle_bytes=int(st.shuffleWriteBytes()),
                    spill_bytes=int(st.memoryBytesSpilled() + st.diskBytesSpilled()),
                )
            self._jobs[jid] = own

    def counts(self, lo: int, hi: int) -> SparkCounts:
        """Totals of the jobs with ids in [lo, hi). Call after collect()."""
        c = SparkCounts()
        for jid in range(lo, hi):
            c.jobs += 1
            for sid in self._jobs.get(jid, ()):
                s = self._stages[sid]
                c.stages += 1
                c.tasks += s.tasks
                c.cpu_s += s.cpu_s
                c.run_s += s.run_s
                c.input_bytes += s.input_bytes
                c.shuffle_bytes += s.shuffle_bytes
                c.spill_bytes += s.spill_bytes
        return c
