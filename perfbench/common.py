"""Process environment, Spark session lifecycle and small measurement
helpers shared by the workloads."""

from __future__ import annotations

import gc
import os
import resource
import subprocess
import sys
import tempfile
import time
import traceback

import numpy as np

CPUS_MAX = 4


def pin_environment(root: str, work: str) -> None:
    """Settings every Spark process of the run inherits.  Must run before
    the JVM starts.

    - ``SPARK_GRAFT_CPUS``: the session factory defaults to ``local[32]``;
      use the cores this process may run on, at most CPUS_MAX.
    - ``PYTHONPATH``: Spark's Python workers import ``simple_vector_spark``
      (``mapInArrow``, ``foreachPartition``) from any working directory.
    - Working directory, Spark local dirs and temp files live under the
      untracked work directory.
    """
    cpus = min(CPUS_MAX, len(os.sched_getaffinity(0)))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    old = os.environ.get("PYTHONPATH")
    env = {
        "SPARK_GRAFT_CPUS": str(cpus),
        "PYTHONPATH": root + (os.pathsep + old if old else ""),
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": tmp,
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        "OMP_NUM_THREADS": "1",
        "OPENBLAS_NUM_THREADS": "1",
        "MKL_NUM_THREADS": "1",
        "SPARK_SUBMIT_OPTS": " ".join([
            os.environ.get("SPARK_SUBMIT_OPTS", ""),
            f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.showConsoleProgress=false",
        ]).strip(),
    }
    os.environ.update(env)
    tempfile.tempdir = None
    os.chdir(work)


class Engine:
    """The run's SparkSession: started (and restarted) through
    ``session.get_spark`` under a span, closed with its JVM."""

    def __init__(self, tracer):
        self.tr = tracer
        self.spark = None

    def start(self):
        from simple_vector_spark.session import get_spark

        self._stop_session()
        with self.tr.span("session.get_spark"):
            self.spark = get_spark("perfbench")
        self.tr.bind(self.spark.sparkContext)
        return self.spark

    def _stop_session(self):
        if self.spark is not None:
            self.tr.resolve()
            self.tr.bind(None)
            self.spark.stop()
            self.spark = None

    def peak_rss_mb(self) -> float:
        """Peak resident memory of this driver process plus its JVM."""
        jvm_pid = self.spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
        kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
        with open(f"/proc/{jvm_pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    kb += int(line.split()[1])
        return kb / 1024.0

    def retained_mb(self) -> float:
        """Memory the run holds on to: peak resident memory of this driver
        process plus the JVM's live heap objects and its non-heap in use
        (class metadata, compiled code).  Unlike the JVM's resident size
        it does not depend on how far the collector let the heap grow,
        which varies from run to run."""
        sc = self.spark.sparkContext
        nonheap = sc._jvm.java.lang.management.ManagementFactory.getMemoryMXBean().getNonHeapMemoryUsage().getUsed()
        kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
        return kb / 1024.0 + (settled_live_heap_bytes(sc) + nonheap) / 2**20

    def close(self):
        """Stop Spark, shut the gateway down and wait for the JVM (its
        Python workers exit with it)."""
        from pyspark import SparkContext

        self._stop_session()
        gw = SparkContext._gateway
        if gw is None:
            return
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


def live_heap_bytes(sc) -> int:
    """Bytes of reachable objects on the JVM heap: the total of a class
    histogram (the ``GC.class_histogram`` diagnostic command, which runs a
    full collection first).  Called through the ``MBeanServer`` interface,
    as py4j cannot reflect on the server's non-exported class."""
    jvm, gw = sc._jvm, sc._gateway
    cls = jvm.java.lang.Class.forName

    def array(kind, items):
        a = gw.new_array(kind, len(items))
        for n, v in enumerate(items):
            a[n] = v
        return a

    types = ["javax.management.ObjectName", "java.lang.String", "[Ljava.lang.Object;", "[Ljava.lang.String;"]
    invoke = cls("javax.management.MBeanServer").getMethod("invoke", array(jvm.java.lang.Class, [cls(t) for t in types]))
    text = invoke.invoke(
        jvm.java.lang.management.ManagementFactory.getPlatformMBeanServer(),
        array(jvm.java.lang.Object, [
            jvm.javax.management.ObjectName("com.sun.management:type=DiagnosticCommand"),
            "gcClassHistogram",
            array(jvm.java.lang.Object, [gw.new_array(jvm.java.lang.String, 0)]),
            array(jvm.java.lang.String, ["[Ljava.lang.String;"]),
        ]),
    )
    return int(text.strip().splitlines()[-1].split()[-1])  # "Total <instances> <bytes>"


def settled_live_heap_bytes(sc, limit=10) -> int:
    """Live heap once what the run dropped is gone.  Datasets the Python
    side no longer references are released in steps (py4j detaches them,
    a collection finds them unreachable, Spark's cleaner drops their
    blocks, a later collection frees those), over a few seconds; so read
    the live heap once a second until three readings agree within 1 %."""
    gc.collect()
    seen = [live_heap_bytes(sc)]
    while len(seen) < limit and not (len(seen) >= 3 and max(seen[-3:]) <= 1.01 * min(seen[-3:])):
        time.sleep(1)
        seen.append(live_heap_bytes(sc))
    return seen[-1]


class Tally:
    """Attempted and failed answers; a failure is an exception or a
    wrong answer."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0

    def check(self, what: str, reason: str | None) -> None:
        self.attempted += 1
        if reason is not None:
            self.failed += 1
            print(f"WRONG {what}: {reason}", file=sys.stderr)

    def error(self, what: str) -> None:
        self.attempted += 1
        self.failed += 1
        print(f"ERROR {what}:\n{traceback.format_exc()}", file=sys.stderr)


def cpu_times() -> tuple[int, int]:
    """(steal, total) CPU time of the host so far, in clock ticks: time
    the hypervisor gave this machine's CPUs to others inflates every
    wall-clock figure of a run."""
    fields = [int(v) for v in open("/proc/stat").readline().split()[1:]]
    return fields[7], sum(fields)


def pct(values, q):
    return float(np.percentile(np.asarray(values, dtype=np.float64), q))


def dir_stats(path) -> tuple[int, int]:
    """(bytes, data files) under ``path``; Spark's marker and checksum
    files are not data."""
    size = files = 0
    for d, _, names in os.walk(path):
        for n in names:
            if n.startswith((".", "_")):
                continue
            size += os.path.getsize(os.path.join(d, n))
            files += 1
    return size, files


def read_index_cells(path) -> dict[int, int]:
    """vec_id -> cell of a built IVF index, read from its files."""
    import pyarrow.dataset as ds

    t = ds.dataset(path, format="parquet", partitioning="hive").to_table(columns=["vec_id", "cell"])
    return dict(zip(t.column("vec_id").to_pylist(), t.column("cell").to_pylist()))


def scanned_rows(df) -> int:
    """Rows produced by the parquet scans of an executed DataFrame, read
    from the SQL metrics of its final physical plan."""
    total = 0
    stack = [df._jdf.queryExecution().executedPlan()]
    while stack:
        p = stack.pop()
        name = p.nodeName()
        if name == "AdaptiveSparkPlan":
            stack.append(p.executedPlan())
            continue
        if name.endswith("QueryStage"):
            stack.append(p.plan())
            continue
        if name.startswith("Scan parquet"):
            total += p.metrics().apply("numOutputRows").value()
        kids = p.children()
        stack.extend(kids.apply(i) for i in range(kids.size()))
    return total
