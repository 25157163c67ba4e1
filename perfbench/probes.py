"""Outside-in measurement: the /proc process tree, Spark's event log,
in-memory spans, and the block manager's pinned storage.

Nothing here changes program code.  CPU and memory come from /proc,
per-stage metrics from the JSON event log Spark writes when
``spark.eventLog.enabled`` is set (the session disables the UI, so
there is no REST API to ask), and spans are recorded by the benchmark
around its own calls into each layer.
"""

from __future__ import annotations

import glob
import json
import os
import threading
import time
from contextlib import contextmanager

from stats import median

CLK_TCK = os.sysconf("SC_CLK_TCK")
PAGE_MB = os.sysconf("SC_PAGE_SIZE") / 2**20



def timed(fn, *args, **kwargs):
    """(fn(*args, **kwargs), wall seconds)."""
    t0 = time.monotonic()
    out = fn(*args, **kwargs)
    return out, time.monotonic() - t0


# ---------------------------------------------------------------- /proc


def parse_stat(line: str) -> dict:
    """One /proc/<pid>/stat line -> the fields used here.  The command
    name is parenthesised and may hold spaces, so fields are counted
    from the last ')'."""
    comm = line[line.index("(") + 1:line.rindex(")")]
    f = line[line.rindex(")") + 2:].split()
    return {
        "pid": int(line.split(None, 1)[0]),
        "comm": comm,
        "ppid": int(f[1]),
        # utime + stime + cutime + cstime: own CPU plus that of reaped
        # children, so a worker that exits between two readings keeps
        # counting through its parent
        "cpu_ticks": int(f[11]) + int(f[12]) + int(f[13]) + int(f[14]),
        "rss_pages": int(f[21]),
    }


def read_proc_table() -> dict[int, dict]:
    table = {}
    for path in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(path) as fh:
                st = parse_stat(fh.read())
        except (OSError, ValueError, IndexError):
            continue  # the process ended while the table was read
        table[st["pid"]] = st
    return table


def descendants(table: dict[int, dict], root: int) -> list[dict]:
    children: dict[int, list[int]] = {}
    for st in table.values():
        children.setdefault(st["ppid"], []).append(st["pid"])
    out, todo = [], list(children.get(root, []))
    while todo:
        pid = todo.pop()
        out.append(table[pid])
        todo.extend(children.get(pid, []))
    return out


def proc_class(comm: str) -> str:
    if comm == "java":
        return "jvm"
    if comm.startswith("python"):
        return "python"
    return "other"


def tree_usage(table: dict[int, dict], root: int) -> dict:
    """CPU seconds and RSS MB of the descendants of `root` (the Spark
    JVM and the python workers it forks), split by process class."""
    use = {f"{c}_{m}": 0.0 for c in ("jvm", "python", "other")
           for m in ("cpu_s", "rss_mb")}
    for st in descendants(table, root):
        c = proc_class(st["comm"])
        use[f"{c}_cpu_s"] += st["cpu_ticks"] / CLK_TCK
        use[f"{c}_rss_mb"] += st["rss_pages"] * PAGE_MB
    use["cpu_s"] = use["jvm_cpu_s"] + use["python_cpu_s"] + use["other_cpu_s"]
    return use


def process_age_s() -> float:
    """Seconds since this process started, from /proc (10 ms ticks)."""
    with open("/proc/self/stat") as fh:
        start = int(fh.read().rsplit(")", 1)[1].split()[19]) / CLK_TCK
    with open("/proc/uptime") as fh:
        return float(fh.read().split()[0]) - start


class PeakRss:
    """Background sampler of the peak JVM and python-worker RSS."""

    def __init__(self, interval_s: float = 0.25):
        self.interval_s = interval_s
        self.peak = {"jvm_rss_mb": 0.0, "python_rss_mb": 0.0}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self):
        while not self._stop.is_set():
            use = tree_usage(read_proc_table(), os.getpid())
            for k in self.peak:
                self.peak[k] = max(self.peak[k], use[k])
            self._stop.wait(self.interval_s)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)


# ---------------------------------------------------------------- spans


class Tracer:
    """Spans kept in memory: name, start, end, parent, run id.  A
    disabled tracer records nothing, so untraced runs pay only the
    context-manager call."""

    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        rec = {"id": len(self.spans), "name": name, "start": time.time(),
               "end": None,
               "parent": self._stack[-1] if self._stack else None,
               "run_id": self.run_id}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.time()

    def durations(self, name: str, under: set[str]) -> list[float]:
        """Durations of the finished `name` spans whose parent span is
        named in `under`."""
        return [s["end"] - s["start"] for s in self.spans
                if s["name"] == name and s["end"] is not None
                and s["parent"] is not None
                and self.spans[s["parent"]]["name"] in under]


# ------------------------------------------------------------ event log

KERNEL_OPS = ("MapInPandas", "MapInArrow", "ArrowEvalPython",
              "BatchEvalPython", "FlatMapGroupsInPandas",
              "FlatMapCoGroupsInPandas")
AGG_OPS = ("ObjectHashAggregate", "SortAggregate", "HashAggregate")


def classify_stage(scopes: set[str]) -> str:
    """Label a stage by the operators in its RDD scopes: a python kernel
    wins (its time is the kernel's), then extract()'s assembly (the
    Window plus the collect_list aggregate), then the parquet write,
    then a pure scan."""
    if any(op in s for s in scopes for op in KERNEL_OPS):
        return "kernel"
    if "Window" in scopes and any(s in AGG_OPS for s in scopes):
        return "assembly"
    if any(s == "WriteFiles" or "InsertIntoHadoopFsRelation" in s
           for s in scopes):
        return "write"
    if any(s.startswith("Scan ") for s in scopes):
        return "scan"
    return "other"


def read_events(log_dir: str) -> list[dict]:
    """Every event of every application log under `log_dir` (plain
    files and rolling `eventlog_v2_*/events_*` directories)."""
    events = []
    paths = sorted(glob.glob(os.path.join(log_dir, "*")))
    files = []
    for p in paths:
        if os.path.isdir(p):
            files.extend(sorted(glob.glob(os.path.join(p, "events_*"))))
        else:
            files.append(p)
    for path in files:
        with open(path) as fh:
            for line in fh:
                line = line.strip()
                if line:
                    events.append(json.loads(line))
    return events


def stage_table(events: list[dict]) -> dict[str, dict]:
    """Per job group: job/stage/task counts and per-class stage sums.

    Groups come from ``setJobGroup`` (the ``spark.jobGroup.id`` job
    property); stages belong to the group of the job that ran them."""
    group_of_stage: dict[int, str] = {}
    jobs: dict[str, int] = {}
    scopes: dict[int, set[str]] = {}
    tasks: dict[int, list[dict]] = {}
    for e in events:
        kind = e.get("Event")
        if kind == "SparkListenerJobStart":
            g = (e.get("Properties") or {}).get("spark.jobGroup.id")
            if g is None:
                continue
            jobs[g] = jobs.get(g, 0) + 1
            for sid in e["Stage IDs"]:
                group_of_stage.setdefault(sid, g)
        elif kind == "SparkListenerStageCompleted":
            si = e["Stage Info"]
            names = set()
            for rdd in si.get("RDD Info", []):
                if "Scope" in rdd:
                    names.add(json.loads(rdd["Scope"])["name"])
            scopes[si["Stage ID"]] = names
        elif kind == "SparkListenerTaskEnd":
            tasks.setdefault(e["Stage ID"], []).append(e)

    out: dict[str, dict] = {}
    for g, n_jobs in jobs.items():
        out[g] = {"jobs": n_jobs, "stages": 0, "tasks": 0, "failed_tasks": 0,
                  "shuffle_write_mb": 0.0, "shuffle_read_mb": 0.0,
                  "spill_mb": 0.0, "task_skew": 0.0}
        for cls in ("kernel", "assembly", "write", "scan", "other"):
            for m in ("run_s", "cpu_s", "gc_s"):
                out[g][f"{cls}.{m}"] = 0.0
    for sid, ts in tasks.items():
        g = group_of_stage.get(sid)
        if g is None:
            continue
        row = out[g]
        cls = classify_stage(scopes.get(sid, set()))
        row["stages"] += 1
        run_times = []
        for t in ts:
            row["tasks"] += 1
            info = t["Task Info"]
            if info.get("Failed") or info.get("Killed"):
                row["failed_tasks"] += 1
            m = t.get("Task Metrics") or {}
            run_times.append(m.get("Executor Run Time", 0) / 1e3)
            row[f"{cls}.run_s"] += m.get("Executor Run Time", 0) / 1e3
            row[f"{cls}.cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            row[f"{cls}.gc_s"] += m.get("JVM GC Time", 0) / 1e3
            sw = m.get("Shuffle Write Metrics") or {}
            sr = m.get("Shuffle Read Metrics") or {}
            row["shuffle_write_mb"] += sw.get("Shuffle Bytes Written", 0) / 2**20
            row["shuffle_read_mb"] += (sr.get("Remote Bytes Read", 0)
                                       + sr.get("Local Bytes Read", 0)) / 2**20
            row["spill_mb"] += m.get("Disk Bytes Spilled", 0) / 2**20
        if cls == "kernel" and len(run_times) > 1 and median(run_times) > 0:
            row["task_skew"] = max(row["task_skew"],
                                   max(run_times) / median(run_times))
    return out


# -------------------------------------------------------------- storage


def pinned_mb(spark) -> float:
    """Memory + disk held by cached / checkpointed RDDs right now."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos) / 2**20


def release_storage(spark) -> None:
    """Drop every cached table and persisted RDD: a repeated pass must
    not plan-match (or read) what the previous pass left pinned."""
    spark.catalog.clearCache()
    for rdd in spark.sparkContext._jsc.getPersistentRDDs().values():
        rdd.unpersist(True)
