"""Measurement plumbing shared by the workloads: Spark session set-up,
stopping every process a run started, spans with self time and per-span
Spark counters, peak-memory sampling, closed loops and percentiles."""

from __future__ import annotations

import ctypes
import json
import math
import os
import signal
import statistics
import subprocess
import sys
import threading
import time
import urllib.request
import uuid
from contextlib import contextmanager
from dataclasses import dataclass, field
from datetime import datetime, timezone


def median(values) -> float:
    return float(statistics.median(values))


def percentile(values, q: float) -> float:
    """Nearest-rank percentile, q in (0, 100]."""
    ordered = sorted(values)
    return float(ordered[max(0, math.ceil(q / 100 * len(ordered)) - 1)])


def noop_write(df) -> None:
    """Run a frame to completion without keeping its output."""
    df.write.format("noop").mode("overwrite").save()


def timed_loop(ctx, op, min_samples: int = 3) -> list[float]:
    """Closed loop: run ``op(i)`` until ``ctx.seconds`` have passed and at
    least ``min_samples`` calls succeeded; the wall time of each success."""
    walls = []
    deadline = time.perf_counter() + ctx.seconds
    i = 1
    while time.perf_counter() < deadline or len(walls) < min_samples:
        w = op(i)
        if w is not None:
            walls.append(w)
        i += 1
    return walls


# --- Spark session ----------------------------------------------------------


DRIVER_HEAP = "1g"


def spark_conf(work_dir: str, traced: bool) -> dict[str, str]:
    local_dir = os.path.join(work_dir, "spark-local")
    tmp_dir = os.path.join(work_dir, "tmp")
    for d in (local_dir, tmp_dir):
        os.makedirs(d, exist_ok=True)
    conf = {
        "spark.driver.memory": DRIVER_HEAP,
        "spark.local.dir": local_dir,
        # -XX:-UsePerfData: no hsperfdata file under the system temp dir.
        # A fixed, pre-touched heap: G1 grows a heap from its GC-time
        # ratio, which follows the host's CPU steal, so the same work left
        # 1.0-1.65 GB of a 2 GB heap resident from run to run
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={tmp_dir} -XX:-UsePerfData"
            f" -Xms{DRIVER_HEAP} -XX:+AlwaysPreTouch"
        ),
        "spark.sql.warehouse.dir": os.path.join(work_dir, "spark-warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if traced:
        # the monitoring REST API is served by the UI; keep every job and
        # stage of the run resident for the read-back at the end
        conf.update(
            {
                "spark.ui.enabled": "true",
                "spark.ui.retainedJobs": "100000",
                "spark.ui.retainedStages": "100000",
                "spark.ui.retainedTasks": "10",
            }
        )
    return conf


def set_up_session(cores: int, conf: dict[str, str]):
    """One set-up from a cold JVM, as a user pays it: get_spark, the first
    job, and the export_blocks source registration. Returns (spark,
    (total seconds, get_spark seconds))."""
    from hive_export_spark.session import get_spark
    from hive_export_spark.sources.export_blocks import register_export_blocks_source

    t0 = time.perf_counter()
    spark = get_spark(
        "perfbench", master=f"local[{cores}]", shuffle_partitions=cores,
        extra_conf=conf,
    )
    t1 = time.perf_counter()
    spark.range(1).count()
    register_export_blocks_source(spark)
    t2 = time.perf_counter()
    spark.sparkContext.setLogLevel("ERROR")
    return spark, (t2 - t0, t1 - t0)


# --- processes ------------------------------------------------------------------

PR_SET_CHILD_SUBREAPER = 36


def adopt_orphans() -> None:
    """Makes this process the reaper of every process it starts, directly
    or not: a Python worker whose JVM parent has exited is re-parented
    here instead of to init, so ``stop_processes`` can wait for it."""
    try:
        ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)
    except (OSError, AttributeError):
        pass


def descendants() -> list[tuple[int, bytes]]:
    """(pid, state) of every descendant of this process, read from /proc."""
    children: dict[int, list[tuple[int, bytes]]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", "rb") as fh:
                stat = fh.read()
        except OSError:
            continue
        # state and ppid follow the parenthesised command name
        state, ppid = stat[stat.rindex(b")") + 2:].split()[:2]
        children.setdefault(int(ppid), []).append((int(name), state))
    found, todo = [], [os.getpid()]
    while todo:
        for pid, state in children.get(todo.pop(), ()):
            found.append((pid, state))
            todo.append(pid)
    return found


def _reap() -> None:
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def stop_processes(grace_s: float = 20.0) -> None:
    """Ends every process this one started and waits until each is gone.
    The driver JVM is asked first: PySpark's gateway exits when its stdin
    closes. Whatever is left then gets SIGTERM, and SIGKILL after
    ``grace_s``."""
    if "pyspark" in sys.modules:
        from pyspark import SparkContext

        proc = getattr(SparkContext._gateway, "proc", None)
        if proc is not None:
            SparkContext._gateway = SparkContext._jvm = None
            try:
                proc.stdin.close()
                proc.wait(timeout=grace_s)
            except (OSError, subprocess.TimeoutExpired):
                pass
    deadline = time.monotonic() + grace_s
    signalled: dict[int, int] = {}
    while time.monotonic() < deadline + grace_s:
        _reap()
        left = descendants()
        if not left:
            return
        sig = signal.SIGTERM if time.monotonic() < deadline else signal.SIGKILL
        for pid, state in left:
            if state != b"Z" and signalled.get(pid) != sig:
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
                signalled[pid] = sig
        time.sleep(0.05)
    print(f"perfbench: processes left running: {descendants()}", file=sys.stderr)


# --- peak memory -------------------------------------------------------------


class PssSampler:
    """Samples the memory of this process and all its descendants (the
    driver JVM and its Python workers) on a background thread.

    Python processes count by proportional set size (PSS), which splits
    shared pages among the processes that map them, so the workers'
    shared libraries and the pages they share with the daemon they forked
    from count once, not once per worker. The JVM counts by resident set
    size: its pages are its own but for ~30 MB of shared libraries, and
    reading its PSS walks the page tables of its whole heap (~30 ms a
    read, under a lock the JVM needs to map memory)."""

    def __init__(self, interval_s: float = 0.25) -> None:
        self.interval_s = interval_s
        self.peak_kb = 0
        self.peak_parts: dict[str, int] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    @staticmethod
    def _tree_pss_kb() -> dict[str, int]:
        """Memory in kB of this process ("driver"), the JVM ("java") and
        the Python workers ("workers")."""
        parts = {"driver": 0, "java": 0, "workers": 0}
        me = os.getpid()
        for pid in [me] + [pid for pid, _ in descendants()]:
            try:
                with open(f"/proc/{pid}/comm", "rb") as fh:
                    java = fh.read().strip() == b"java"
                field = b"VmRSS:" if java else b"Pss:"
                with open(f"/proc/{pid}/{'status' if java else 'smaps_rollup'}", "rb") as fh:
                    for line in fh:
                        if line.startswith(field):
                            part = "driver" if pid == me else "java" if java else "workers"
                            parts[part] += int(line.split()[1])
                            break
            except OSError:
                continue
        return parts

    def _sample(self) -> None:
        parts = self._tree_pss_kb()
        total = sum(parts.values())
        if total > self.peak_kb:
            self.peak_kb, self.peak_parts = total, parts

    def _loop(self) -> None:
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "PssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self._sample()

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024


# --- spans --------------------------------------------------------------------


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    run_id: str
    start: float = 0.0        # perf_counter seconds
    end: float = 0.0
    wall_start: float = 0.0   # epoch seconds, to place Spark jobs in time
    wall_end: float = 0.0
    spark: dict = field(
        default_factory=lambda: {"jobs": 0, "tasks": 0, "shuffle_bytes": 0, "spill_bytes": 0}
    )
    self_s: float = 0.0

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """Spans around the benchmark's calls into each layer.

    Disabled, ``span`` costs one attribute test. Enabled, each span runs
    its Spark jobs under its own job group; ``finish`` reads job and stage
    counters for every group from the monitoring REST API and computes
    each span's self time. Spans stay in memory until ``write``.
    """

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._sc = None

    def bind(self, spark) -> None:
        self._sc = spark.sparkContext

    def _group(self, span: Span) -> str:
        return f"{self.run_id}-{span.id}"

    def _set_group(self, span: Span | None) -> None:
        if self._sc is None:
            return
        if span is None:
            self._sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self._sc.setJobGroup(self._group(span), span.name)

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        span = Span(len(self.spans), name, parent.id if parent else None, self.run_id)
        self.spans.append(span)
        self._set_group(span)
        self._stack.append(span)
        span.wall_start = time.time()
        span.start = time.perf_counter()
        try:
            yield span
        finally:
            span.end = time.perf_counter()
            span.wall_end = time.time()
            self._stack.pop()
            self._set_group(parent)

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def finish(self) -> None:
        """Self times, then Spark counters per span."""
        by_parent: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                by_parent.setdefault(s.parent, []).append(s)
        for s in self.spans:
            covered, cursor = 0.0, s.start
            for c in sorted(by_parent.get(s.id, ()), key=lambda c: c.start):
                lo, hi = max(c.start, cursor), min(c.end, s.end)
                if hi > lo:
                    covered += hi - lo
                    cursor = hi
            s.self_s = s.seconds - covered
        if self._sc is not None and self.spans:
            self._read_spark_counters()

    def _api(self, path: str):
        sc = self._sc
        url = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}/{path}"
        with urllib.request.urlopen(url, timeout=30) as r:
            return json.loads(r.read())

    def _span_for_job(self, job: dict) -> Span | None:
        """The job's own group when it is one of ours; otherwise (jobs
        submitted from threads the program starts, or by a streaming
        query) the innermost span open when the job was submitted."""
        group = job.get("jobGroup") or ""
        if group.startswith(self.run_id + "-"):
            return self.spans[int(group.rsplit("-", 1)[1])]
        submitted = job.get("submissionTime")
        if not submitted:
            return None
        t = datetime.strptime(submitted, "%Y-%m-%dT%H:%M:%S.%f%Z").replace(
            tzinfo=timezone.utc
        ).timestamp()
        best = None
        for s in self.spans:
            if s.wall_start <= t <= s.wall_end and (best is None or s.start >= best.start):
                best = s
        return best

    def _read_spark_counters(self) -> None:
        stages: dict[int, dict] = {}
        for st in self._api("stages?status=complete"):
            sid = st["stageId"]
            if sid not in stages or st["attemptId"] > stages[sid]["attemptId"]:
                stages[sid] = st
        for job in self._api("jobs"):
            span = self._span_for_job(job)
            if span is None:
                continue
            span.spark["jobs"] += 1
            for sid in job.get("stageIds", ()):
                st = stages.get(sid)
                if st is None:   # skipped: a reused exchange ran no tasks
                    continue
                span.spark["tasks"] += st.get("numCompleteTasks", 0)
                span.spark["shuffle_bytes"] += st.get("shuffleWriteBytes", 0)
                span.spark["spill_bytes"] += (
                    st.get("memoryBytesSpilled", 0) + st.get("diskBytesSpilled", 0)
                )

    def totals(self) -> dict[str, int]:
        out = {"jobs": 0, "tasks": 0, "shuffle_bytes": 0, "spill_bytes": 0}
        for s in self.spans:
            for k in out:
                out[k] += s.spark[k]
        return out

    def write(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as fh:
            json.dump(
                [
                    {
                        "id": s.id, "name": s.name, "parent": s.parent,
                        "run_id": s.run_id, "start": s.start, "end": s.end,
                        "self_s": s.self_s, "spark": s.spark,
                    }
                    for s in self.spans
                ],
                fh,
                indent=1,
            )


# --- result -------------------------------------------------------------------


@dataclass
class Outcome:
    """What one workload run hands back to run.py."""

    attempted: int = 0
    failed: int = 0
    end_to_end: dict[str, float] = field(default_factory=dict)
    info: dict = field(default_factory=dict)
    errors: list[str] = field(default_factory=list)

    def fail(self, message: str, count: int = 1) -> None:
        self.failed += count
        self.errors.append(message)
