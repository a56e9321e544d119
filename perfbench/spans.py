"""Per-layer tracing from outside the engine.

Each timed call into a public engine function is one *span*.  In a
traced run (``--trace 1``) the benchmark additionally

* gives every span its own Spark job group (``setJobGroup``), so the
  jobs it launched can be found in Spark's event log afterwards;
* enables Spark's event log in the run directory through launch-time
  conf (``PYSPARK_SUBMIT_ARGS``, see :func:`eventlog_submit_args`), and
  after ``spark.stop()`` folds its job, stage and task records into the
  spans: job and stage counts, executor CPU, shuffle/spill/output bytes,
  bytes to and from Python workers, input rows;
* attributes builder time to build phases by call site: a profile hook
  on the Spark driver's main thread records which ``IndexBuilder`` method
  (ingest, merge, stats, encode, lineage) is on the stack, and each
  Spark job is charged to the phase that submitted it.

Nothing here imports or patches engine code: the phase map names the
builder's methods, and the profile hook matches frames of the
checkout's ``index/builder.py``.
"""

from __future__ import annotations

import bisect
import glob
import json
import os
import statistics
import sys
import threading
import time
from contextlib import contextmanager

# IndexBuilder methods -> build phase.  The innermost mapped method on
# the Spark driver's stack owns the time; unmapped helpers inherit from their
# caller.  Manifest / lineage IO is its own phase wherever it happens.
BUILD_PHASES = {
    "add_run": "ingest",
    "_ingest_runs": "ingest",
    "merge_all": "merge",
    "finalize": "encode",
    "_encode_segments": "encode",
    "_write_doc_term_stats": "stats",
    "_majority_lang": "stats",
    "_commit": "lineage",
    "manifests": "lineage",
    "fold_ledger": "lineage",
    "_footer_rows": "lineage",
    "_segment_lineage": "lineage",
    "_footer_counts_distributed": "lineage",
}
PHASE_NAMES = ("ingest", "merge", "stats", "encode", "lineage")


def eventlog_submit_args(log_dir: str) -> str:
    """Launch-time conf that turns on an uncompressed, single-file Spark
    event log under ``log_dir``."""
    return " ".join([
        "--conf spark.eventLog.enabled=true",
        f"--conf spark.eventLog.dir=file://{log_dir}",
        "--conf spark.eventLog.compress=false",
        "--conf spark.eventLog.rolling.enabled=false",
        "pyspark-shell",
    ])


class Span:
    __slots__ = ("name", "group", "t0", "t1", "result_rows", "extra",
                 "phases", "jobs")

    def __init__(self, name: str, group: str):
        self.name, self.group = name, group
        self.t0 = self.t1 = 0.0
        self.result_rows = 0
        self.extra: dict = {}
        self.phases: list[tuple[float, str | None]] | None = None
        self.jobs: list[dict] = []

    @property
    def wall(self) -> float:
        return self.t1 - self.t0


class _PhaseProfiler:
    """Timeline of the innermost mapped builder method on the calling
    thread, recorded with ``sys.setprofile`` (main thread only)."""

    def __init__(self, builder_file: str):
        self.file = builder_file
        self.stack: list[tuple[object, str]] = []
        self.timeline: list[tuple[float, str | None]] = []

    def __call__(self, frame, event, arg):
        if event == "call":
            code = frame.f_code
            if code.co_filename == self.file:
                ph = BUILD_PHASES.get(code.co_name)
                if ph is not None:
                    self.stack.append((frame, ph))
                    self.timeline.append((time.time(), ph))
        elif event == "return" and self.stack and self.stack[-1][0] is frame:
            self.stack.pop()
            self.timeline.append(
                (time.time(), self.stack[-1][1] if self.stack else None)
            )


class Tracer:
    def __init__(self, spark, traced: bool, builder_file: str):
        self.sc = spark.sparkContext
        self.traced = traced
        self.builder_file = builder_file
        self.spans: list[Span] = []

    @contextmanager
    def span(self, name: str):
        sp = Span(name, f"perfbench-{len(self.spans)}-{name}")
        prof = None
        if self.traced:
            self.sc.setJobGroup(sp.group, name)
            if name.startswith("builder.build"):
                prof = _PhaseProfiler(self.builder_file)
                sys.setprofile(prof)
        sp.t0 = time.time()
        try:
            yield sp
        finally:
            sp.t1 = time.time()
            if prof is not None:
                sys.setprofile(None)
                sp.phases = prof.timeline
            if self.traced:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            self.spans.append(sp)


# ---------------------------------------------------------------------------
# event log
# ---------------------------------------------------------------------------

def _task_py_bytes(task_info: dict) -> int:
    n = 0
    for a in task_info.get("Accumulables", []):
        name = a.get("Name") or ""
        if "Python" in name and name.startswith("data "):
            n += int(a.get("Update") or 0)
    return n


def read_eventlog(log_dir: str) -> list[dict]:
    """Jobs from the run's event log, each with its stages' task totals:
    ``{id, group, t0, t1, stages, cpu_s, shuffle, spill, output, py,
    input_rows}`` (times in epoch seconds)."""
    files = [f for f in glob.glob(f"{log_dir}/*") if not f.endswith(".inprogress")]
    if len(files) != 1:
        raise RuntimeError(f"expected one finished event log in {log_dir}, got {files}")
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    ran_stages: set[int] = set()
    with open(files[0]) as fh:
        for line in fh:
            e = json.loads(line)
            kind = e["Event"]
            if kind == "SparkListenerJobStart":
                j = {
                    "id": e["Job ID"],
                    "group": (e.get("Properties") or {}).get("spark.jobGroup.id"),
                    "t0": e["Submission Time"] / 1000.0, "t1": None,
                    "stage_ids": list(e["Stage IDs"]), "stages": 0,
                    "cpu_s": 0.0, "shuffle": 0, "spill": 0, "output": 0,
                    "py": 0, "input_rows": 0,
                }
                jobs[j["id"]] = j
                for s in j["stage_ids"]:
                    stage_job.setdefault(s, j["id"])
            elif kind == "SparkListenerJobEnd":
                jobs[e["Job ID"]]["t1"] = e["Completion Time"] / 1000.0
            elif kind == "SparkListenerStageCompleted":
                ran_stages.add(e["Stage Info"]["Stage ID"])
            elif kind == "SparkListenerTaskEnd":
                j = jobs.get(stage_job.get(e["Stage ID"], -1))
                tm = e.get("Task Metrics")
                if j is None or not tm:
                    continue
                j["cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
                j["shuffle"] += tm.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
                j["spill"] += tm.get("Disk Bytes Spilled", 0)
                j["output"] += tm.get("Output Metrics", {}).get("Bytes Written", 0)
                j["input_rows"] += tm.get("Input Metrics", {}).get("Records Read", 0)
                j["py"] += _task_py_bytes(e.get("Task Info", {}))
    for j in jobs.values():
        # a stage shared with an earlier job ran there (here it is skipped)
        j["stages"] = sum(
            1 for s in j["stage_ids"] if s in ran_stages and stage_job[s] == j["id"])
        if j["t1"] is None:
            j["t1"] = j["t0"]
    return sorted(jobs.values(), key=lambda j: j["t0"])


def attach_jobs(spans: list[Span], jobs: list[dict]) -> None:
    """Give each span its jobs: by job group, else (jobs launched from
    engine-side helper threads, which carry no group) by submission time
    inside the span's interval.  Jobs outside every span (set-up work,
    checks) stay unattached."""
    by_group = {sp.group: sp for sp in spans}
    starts = [sp.t0 for sp in spans]
    for j in jobs:
        sp = by_group.get(j["group"])
        if sp is None:
            i = bisect.bisect_right(starts, j["t0"]) - 1
            if i >= 0 and spans[i].t0 <= j["t0"] <= spans[i].t1:
                sp = spans[i]
        if sp is not None:
            sp.jobs.append(j)


def _union_len(intervals: list[tuple[float, float]]) -> float:
    tot, end = 0.0, -1e18
    for a, b in sorted(intervals):
        if b <= end:
            continue
        tot += b - max(a, end)
        end = b
    return tot


def span_metrics(sp: Span) -> dict:
    jobs = sp.jobs
    covered = _union_len([(max(j["t0"], sp.t0), min(j["t1"], sp.t1)) for j in jobs])
    return {
        "wall_s": sp.wall,
        "jobs": len(jobs),
        "stages": sum(j["stages"] for j in jobs),
        "driver_s": max(sp.wall - covered, 0.0),
        "executor_cpu_s": sum(j["cpu_s"] for j in jobs),
        "shuffle_bytes": sum(j["shuffle"] for j in jobs),
        "spill_bytes": sum(j["spill"] for j in jobs),
        "output_bytes": sum(j["output"] for j in jobs),
        "py_bytes": sum(j["py"] for j in jobs),
        "input_rows_per_result": (
            sum(j["input_rows"] for j in jobs) / max(sp.result_rows, 1)
        ),
    }


def phase_metrics(sp: Span) -> dict:
    """Wall time and job count per build phase of one build span.  Time
    is charged to the phase on the Spark driver's stack; a job to the phase
    that was on the stack when it was submitted."""
    wall = {p: 0.0 for p in PHASE_NAMES}
    njobs = {p: 0 for p in PHASE_NAMES}
    tl = [(sp.t0, None)] + list(sp.phases or []) + [(sp.t1, None)]
    for (ta, ph), (tb, _) in zip(tl, tl[1:]):
        if ph is not None:
            wall[ph] += tb - ta
    times = [t for t, _ in tl]
    for j in sp.jobs:
        ph = tl[max(bisect.bisect_right(times, j["t0"]) - 1, 0)][1]
        if ph is not None:
            njobs[ph] += 1
    return {"wall": wall, "jobs": njobs,
            "unattributed_s": sp.wall - sum(wall.values())}


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


# ---------------------------------------------------------------------------
# host and process-tree probes
# ---------------------------------------------------------------------------

def _read_cpu_stat() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


class HostProbe:
    """Load average and hypervisor steal over an interval."""

    def __init__(self):
        self.a = _read_cpu_stat()

    def finish(self) -> dict:
        b = _read_cpu_stat()
        d = [y - x for x, y in zip(self.a, b)]
        tot = sum(d)
        steal = d[7] / tot * 100.0 if tot > 0 and len(d) > 7 else 0.0
        return {"host.loadavg": os.getloadavg()[0], "host.steal_pct": steal}


def tree_usage(root_pid: int) -> tuple[int, float]:
    """(resident bytes, CPU seconds) of a process and all its live
    descendants; CPU includes reaped children (``cutime``/``cstime``).
    Hypervisor steal is not charged to processes, so CPU seconds move
    far less than wall time on a contended host."""
    kids: dict[int, list[int]] = {}
    usage: dict[int, tuple[int, int]] = {}
    page = os.sysconf("SC_PAGE_SIZE")
    for p in os.listdir("/proc"):
        if not p.isdigit():
            continue
        try:
            with open(f"/proc/{p}/stat") as f:
                st = f.read()
        except OSError:
            continue
        fields = st[st.rfind(")") + 2:].split()
        pid = int(p)
        kids.setdefault(int(fields[1]), []).append(pid)
        usage[pid] = (int(fields[21]) * page, sum(int(x) for x in fields[11:15]))
    rss = ticks = 0
    todo = [root_pid]
    while todo:
        pid = todo.pop()
        r, t = usage.get(pid, (0, 0))
        rss, ticks = rss + r, ticks + t
        todo.extend(kids.get(pid, []))
    return rss, ticks / _CLK_TCK


_CLK_TCK = os.sysconf("SC_CLK_TCK")


class RssSampler:
    """Peak resident memory of this process and all its descendants
    (driver JVM, Python workers), sampled every ``period`` seconds."""

    def __init__(self, period: float = 1.0):
        self.period = period
        self.peak = 0
        self._stop = threading.Event()
        self._t = threading.Thread(target=self._run, daemon=True)

    def _run(self):
        me = os.getpid()
        while True:
            self.peak = max(self.peak, tree_usage(me)[0])
            if self._stop.wait(self.period):
                return

    def __enter__(self):
        self._t.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._t.join()
        self.peak = max(self.peak, tree_usage(os.getpid())[0])
