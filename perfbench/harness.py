"""Run isolation, session start, host diagnostics and tracing.

Everything here is benchmark plumbing: it touches the program only
through ``textsearch_spark.session.get_spark`` and Spark's own status
store and plan metrics.
"""

from __future__ import annotations

import os
import shutil
import statistics
import subprocess
import tempfile
import time
import uuid
from contextlib import contextmanager
from dataclasses import dataclass, field
from typing import Optional

import numpy as np


def median(xs) -> float:
    return float(statistics.median(xs))


def p90(xs) -> float:
    return float(np.percentile(np.asarray(xs, dtype=float), 90))


# ------------------------------------------------------------ isolation

class Workspace:
    """A fresh temp root inside the checkout for one run: Spark local
    dirs, JVM and Python temp files, corpora and index dirs. Deleted on
    exit, so no run sees another run's leftovers."""

    def __init__(self, repo_root: str):
        self.base = os.path.join(repo_root, ".perfbench_tmp")
        self.root = os.path.join(self.base, f"run-{os.getpid()}-{uuid.uuid4().hex[:8]}")

    def __enter__(self) -> "Workspace":
        os.makedirs(self.root)
        # the JVM and the Python workers inherit these
        os.environ["TMPDIR"] = self.root
        os.environ["SPARK_LOCAL_DIRS"] = self.path("spark-local")
        tempfile.tempdir = self.root
        return self

    def path(self, *parts: str) -> str:
        return os.path.join(self.root, *parts)

    def __exit__(self, *exc) -> None:
        tempfile.tempdir = None
        shutil.rmtree(self.root, ignore_errors=True)
        try:
            os.rmdir(self.base)  # only when no other run is using it
        except OSError:
            pass


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


# ------------------------------------------------------- host and memory

def host_probe_s() -> float:
    """Fixed Spark-free CPU work (NumPy sort + a Python loop), median of
    three. A diagnostic for slow-host windows; it rescales nothing."""
    times = []
    for _ in range(3):
        t0 = time.perf_counter()
        a = np.random.default_rng(0).random(400_000)
        np.sort(a)
        s = 0
        for i in range(600_000):
            s += i * i % 7
        times.append(time.perf_counter() - t0)
    return median(times)


def steal_s() -> float:
    """Machine-wide CPU time stolen by the hypervisor so far (from
    /proc/stat). Its growth over a run shows co-tenant load."""
    try:
        with open("/proc/stat") as f:
            fields = f.readline().split()
        return int(fields[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, IndexError, ValueError):
        return 0.0


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    return kids


def descendants(pid: int) -> list[int]:
    kids, out, stack = _children(), [], [pid]
    while stack:
        for c in kids.get(stack.pop(), []):
            out.append(c)
            stack.append(c)
    return out


def tree_peak_rss_mb() -> float:
    """Sum of per-process peak RSS (VmHWM) over this process and its
    descendants: driver, JVM and Python workers."""
    total_kb = 0
    for pid in [os.getpid(), *descendants(os.getpid())]:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024.0


# ------------------------------------------------------------- session

def start_spark(ws: Workspace, cpus: int):
    from textsearch_spark.session import get_spark

    spark = get_spark(
        f"local[{cpus}]", app_name="perfbench",
        extra_conf={
            "spark.driver.memory": "1g",
            "spark.local.dir": ws.path("spark-local"),
            "spark.sql.warehouse.dir": ws.path("warehouse"),
            "spark.driver.extraJavaOptions":
                # a fixed, pre-touched heap: JVM RSS then does not
                # depend on when the collector chose to grow the heap
                f"-Djava.io.tmpdir={ws.root} -XX:-UsePerfData "
                "-Xms1g -XX:+AlwaysPreTouch",
            "spark.ui.showConsoleProgress": "false",
        })
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, the JVM and its Python workers, and wait for
    every child process to end."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None) if gw is not None else None
    if gw is not None:
        gw.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the gateway JVM exits on EOF
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=10)
    deadline = time.time() + 30
    while descendants(os.getpid()) and time.time() < deadline:
        time.sleep(0.1)


# ------------------------------------------------------------- tracing

@dataclass
class Span:
    name: str
    start: float
    parent: Optional[str] = None
    group: Optional[str] = None
    end: float = 0.0

    @property
    def dur(self) -> float:
        return self.end - self.start


@dataclass
class Tracer:
    """Spans around calls into the program's layers, plus Spark's own
    counts for the jobs each span ran. With ``enabled=False`` spans are
    still timed (the benchmark's timings come from them) but no job
    group is set and nothing is read from Spark."""

    spark: object
    enabled: bool
    spans: list = field(default_factory=list)

    @contextmanager
    def span(self, name: str, parent: Optional[Span] = None, jobs: bool = False):
        """Time a call. ``jobs=True`` (traced runs) also tags the Spark
        jobs it runs with a job group of its own; such spans must not
        nest."""
        sp = Span(name, time.perf_counter(), parent.name if parent else None)
        sc = self.spark.sparkContext
        if self.enabled and jobs:
            sp.group = f"pb-{len(self.spans)}-{name}"
            sc.setJobGroup(sp.group, name)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            if sp.group:
                sc._jsc.clearJobGroup()
            self.spans.append(sp)

    def jobs(self, sp: Span) -> list[int]:
        return list(self.spark.sparkContext.statusTracker().getJobIdsForGroup(sp.group))

    def shuffle_write_bytes(self, sp: Span) -> int:
        """Shuffle bytes written by the completed stages of the span's
        jobs (skipped stages reuse earlier output and write nothing)."""
        sc = self.spark.sparkContext
        store = sc._jsc.sc().statusStore()
        total, seen = 0, set()
        for jid in self.jobs(sp):
            info = sc.statusTracker().getJobInfo(jid)
            for sid in (info.stageIds if info else []):
                if sid in seen:
                    continue
                seen.add(sid)
                st = store.lastStageAttempt(sid)
                if st.status().toString() == "COMPLETE":
                    total += st.shuffleWriteBytes()
        return total

    def to_json(self) -> list[dict]:
        return [{"name": s.name, "parent": s.parent, "start": s.start,
                 "end": s.end} for s in self.spans]


def plan_metric_sums(df, keys) -> dict:
    """Sum the named SQL metrics over every node of ``df``'s executed
    plan, descending into adaptive query stages. Call after an action
    on ``df`` so the values are filled in."""
    totals = dict.fromkeys(keys, 0)
    stack = [df._jdf.queryExecution().executedPlan()]
    while stack:
        node = stack.pop()
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            stack.append(node.executedPlan())
            continue
        if cls.endswith("QueryStageExec"):
            stack.append(node.plan())
            continue
        metrics = node.metrics()
        for k in keys:
            opt = metrics.get(k)
            if opt.isDefined():
                totals[k] += int(opt.get().value())
        children = node.children()
        for i in range(children.size()):
            stack.append(children.apply(i))
    return totals
