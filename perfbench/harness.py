"""Run context for the benchmark: pinned environment, Spark sessions, spans,
peak-RSS sampling and the summary statistics every workload reports.

Nothing here starts a thread or a JVM at import time; ``Run`` owns every
resource it opens and ``Run.close`` releases them.
"""

from __future__ import annotations

import json
import math
import os
import platform
import shutil
import statistics
import sys
import tempfile
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

# The highest percentile reported for a timing is the highest of these that
# still has at least ``TAIL_MIN_BEYOND`` samples beyond it.
PERCENTILES = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)
TAIL_MIN_BEYOND = 10

# Driver heap for the benchmark's Spark sessions: far below the package's
# 48g default so a swapless box is never pushed into the OOM killer.
DRIVER_MEM = "2g"


def percentile(values: list[float], p: float) -> float:
    """Nearest-rank percentile of a non-empty sample."""
    s = sorted(values)
    rank = max(1, math.ceil(p / 100.0 * len(s)))
    return s[min(rank, len(s)) - 1]


def tail_percentile(n: int) -> float | None:
    """The highest percentile in PERCENTILES with at least TAIL_MIN_BEYOND
    of ``n`` samples beyond it, or None when even the median has fewer."""
    for p in PERCENTILES:
        if round(n * (100.0 - p) / 100.0, 6) >= TAIL_MIN_BEYOND:
            return p
    return None


def summarize(values: list[float]) -> dict:
    """Median, highest supported tail percentile and sample count."""
    out: dict = {"n": len(values)}
    if not values:
        return out
    out["p50"] = statistics.median(values)
    tail = tail_percentile(len(values))
    if tail is not None and tail > 50.0:
        out[f"p{tail:g}"] = percentile(values, tail)
    return out


def _pss_bytes(pid: int) -> int:
    """Proportional set size of one process: its RSS with every page shared
    among N processes (forked Python workers) counted 1/N times."""
    with open(f"/proc/{pid}/smaps_rollup") as f:
        for line in f:
            if line.startswith("Pss:"):
                return int(line.split()[1]) * 1024
    return 0


def _tree_rss_bytes(root_pid: int) -> int:
    """Summed proportional RSS of ``root_pid`` and all its descendants."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", "rb") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces: fields resume after the last ')'
        ppid = int(stat[stat.rindex(b")") + 2:].split()[1])
        children.setdefault(ppid, []).append(int(name))
    total, todo = 0, [root_pid]
    while todo:
        pid = todo.pop()
        todo.extend(children.get(pid, ()))
        try:
            total += _pss_bytes(pid)
        except OSError:
            continue
    return total


class RssSampler:
    """Samples the process tree's RSS on a background thread."""

    def __init__(self, interval_s: float = 0.25):
        self.interval_s = interval_s
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        pid = os.getpid()
        while True:
            self.peak_bytes = max(self.peak_bytes, _tree_rss_bytes(pid))
            if self._stop.wait(self.interval_s):
                return

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=10)


@dataclass
class Span:
    """One timed call: ``name`` is the layer label, ``group`` the Spark job
    group its jobs ran under (traced runs only), ``t0``/``t1`` epoch
    seconds, ``dur`` the perf_counter duration and ``cpu`` the process CPU
    time spent in it."""

    name: str
    group: str
    t0: float
    t1: float
    dur: float
    cpu: float


@dataclass
class Run:
    """Everything one benchmark run owns: its work directory under the
    checkout, the Spark session, the spans and the RSS sampler."""

    workload: str
    seed: int
    seconds: float
    trace: bool
    work: str
    spans: list[Span] = field(default_factory=list)
    spark: object = None
    eventlog_dirs: list[str] = field(default_factory=list)
    _sampler: RssSampler | None = None

    # ---- environment ----------------------------------------------------
    @classmethod
    def create(cls, root: str, workload: str, seed: int, seconds: float, trace: bool) -> "Run":
        work = os.path.join(root, ".perfbench_work", f"{workload}-{seed}-{os.getpid()}")
        shutil.rmtree(work, ignore_errors=True)
        for sub in ("tmp", "local", "events"):
            os.makedirs(os.path.join(work, sub))
        tmp = os.path.join(work, "tmp")
        # Python workers import the package from the checkout, whatever the
        # caller's working directory; scratch files stay inside the checkout
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (root, os.environ.get("PYTHONPATH", "")) if p
        )
        os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
        os.environ["TMPDIR"] = tmp
        tempfile.tempdir = tmp
        run = cls(workload=workload, seed=seed, seconds=seconds, trace=trace, work=work)
        run._sampler = RssSampler().start()
        return run

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def session(self, cpus: int):
        """Start (or restart at a new parallelism) the run's Spark session."""
        from lucene_mapreduce_spark.session import get_spark

        self.stop_session()
        tmp = self.path("tmp")
        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version": "2",
            "spark.local.dir": self.path("local"),
            "spark.sql.warehouse.dir": self.path("warehouse"),
            # a fixed-size heap, touched in full at start: how much of it
            # the collector happens to have used does not move peak memory
            "spark.driver.extraJavaOptions":
                f"-Xms{DRIVER_MEM} -XX:+AlwaysPreTouch -Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        }
        if self.trace:
            events = self.path("events", f"s{len(self.eventlog_dirs)}")
            os.makedirs(events)
            self.eventlog_dirs.append(events)
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": events,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        self.spark = get_spark(
            f"perfbench-{self.workload}", cpus=cpus, extra_conf=conf
        )
        return self.spark

    def stop_session(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    @staticmethod
    def stop_jvm() -> None:
        """End the JVM that PySpark launched and wait for it to exit; it
        exits when its stdin closes."""
        if "pyspark" not in sys.modules:
            return
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        if gateway is None:
            return
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)

    # ---- spans ----------------------------------------------------------
    @contextmanager
    def span(self, name: str, spark: bool = True):
        """Time one call into a layer. In traced runs, Spark calls run under
        their own job group so the event log attributes jobs to the call."""
        group = f"{name}#{len(self.spans)}"
        sc = self.spark.sparkContext if (spark and self.trace and self.spark) else None
        if sc is not None:
            sc.setJobGroup(group, name)
        t0, c0, p0 = time.time(), time.process_time(), time.perf_counter()
        try:
            yield
        finally:
            dur = time.perf_counter() - p0
            cpu = time.process_time() - c0
            if sc is not None:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
            self.spans.append(Span(name, group, t0, time.time(), dur, cpu))

    def durations(self, name: str) -> list[float]:
        return [s.dur for s in self.spans if s.name == name]

    # ---- teardown -------------------------------------------------------
    def peak_rss_mb(self) -> float:
        return self._sampler.peak_bytes / 2**20 if self._sampler else 0.0

    def close(self) -> None:
        try:
            self.stop_session()
            self.stop_jvm()
        finally:
            if self._sampler is not None:
                self._sampler.stop()
            shutil.rmtree(self.work, ignore_errors=True)
            parent = os.path.dirname(self.work)
            if os.path.isdir(parent) and not os.listdir(parent):
                os.rmdir(parent)


def git_sha(root: str) -> str | None:
    """HEAD's commit read from ``root/.git`` (None outside a git checkout);
    read directly so nothing above ``root`` is searched."""
    git = os.path.join(root, ".git")
    try:
        with open(os.path.join(git, "HEAD")) as f:
            head = f.read().strip()
        if not head.startswith("ref: "):
            return head
        ref = head[5:]
        if os.path.isfile(os.path.join(git, ref)):
            with open(os.path.join(git, ref)) as f:
                return f.read().strip()
        with open(os.path.join(git, "packed-refs")) as f:
            for line in f:
                if line.rstrip().endswith(" " + ref):
                    return line.split()[0]
    except OSError:
        pass
    return None


def environment(root: str, seed: int) -> dict:
    """The box and software a result was measured on."""
    import pyarrow
    import pyspark

    mem_kb = 0
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
    return {
        "nproc": os.cpu_count(),
        "ram_gb": round(mem_kb / 2**20, 1),
        "python": platform.python_version(),
        "spark": pyspark.__version__,
        "arrow": pyarrow.__version__,
        "git_sha": git_sha(root),
        "seed": seed,
    }


def write_json(path: str, obj) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        json.dump(obj, f, indent=1, sort_keys=True)
