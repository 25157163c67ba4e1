"""Benchmark runner for the extraction engine.

    python3 perfbench/run.py --workload extract_corpus --seed 1 \
        --seconds 8 --trace 0

Run from the root of a checkout.  The last line of standard output is
one JSON object: {"correct", "attempted", "failed", "metrics"}, with the
end-to-end metrics (--trace 0) or the per-layer metrics (--trace 1) of
BENCHMARK.json.  Everything the run writes stays under .perfbench/ in
the checkout: cached inputs, the last untraced result and the traces are
kept, the rest is removed when the run ends.  See NOTES.md for the
workloads and the metric map.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import time
import uuid

import inputs
import probes
from stats import agree, median
from workloads import WORKLOADS

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

CORES = 4
WARM_TOL = 0.15   # two consecutive warm-up passes within 15% end warm-up
MAX_WARM = 3      # warm-up passes, the session's first included
MIN_TIMED = 2     # timed passes, however long they take

END_TO_END = {
    "setup_s": "s",
    "docs_per_s": "docs/s",
    "cpu_s_per_kdoc": "s",
    "ok_frac": "ratio",
}

PER_LAYER = {
    "session.start_s": "s",
    "session.first_job_s": "s",
    "pipeline.plan_s": "s",
    "pipeline.call_s": "s",
    "pipeline.list_snapshots_s": "s",
    "pipeline.read_extracted_s": "s",
    "pipeline.noop_resume_s": "s",
    "loaders.load_s": "s",
    "pipeline.extract_files_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.failed_tasks": "count",
    "stage.kernel.run_s": "s",
    "stage.kernel.cpu_s": "s",
    "stage.kernel.task_skew": "ratio",
    "stage.assembly.run_s": "s",
    "stage.assembly.cpu_s": "s",
    "stage.assembly.gc_s": "s",
    "stage.scan.run_s": "s",
    "stage.write.run_s": "s",
    "stage.shuffle_write_mb": "MB",
    "stage.shuffle_read_mb": "MB",
    "stage.spill_mb": "MB",
    "proc.jvm_cpu_s": "s",
    "proc.python_cpu_s": "s",
    "proc.jvm_peak_rss_mb": "MB",
    "proc.python_peak_rss_mb": "MB",
    "htmlparse.ms_per_span": "ms",
    "markdown.ms_per_span": "ms",
    "pdfparse.ms_per_file": "ms",
    "docx.ms_per_file": "ms",
    "rtf.ms_per_file": "ms",
    "dispatch.us_per_blob": "us",
    "kernel.arrow_boundary_s": "s",
    "kernel.body_s": "s",
    "dedup.candidate_pairs": "count",
    "dedup.verified_pairs": "count",
    "dedup.lsh_yield": "ratio",
    "dedup.recall": "ratio",
    "dedup.minhash_s": "s",
    "dedup.cc_s": "s",
    "dedup.cc_jobs": "count",
    "curation.quality_filter_s": "s",
    "storage.pinned_mb_after_pass": "MB",
    "trace.docs_per_s": "docs/s",
    "trace.untraced_docs_per_s": "docs/s",
    "trace.overhead": "ratio",
}

# event-log pass totals -> per-layer names
_STAGE_KEYS = {
    "spark.jobs": "jobs", "spark.stages": "stages", "spark.tasks": "tasks",
    "spark.failed_tasks": "failed_tasks",
    "stage.kernel.run_s": "kernel.run_s", "stage.kernel.cpu_s": "kernel.cpu_s",
    "stage.kernel.task_skew": "task_skew",
    "stage.assembly.run_s": "assembly.run_s",
    "stage.assembly.cpu_s": "assembly.cpu_s",
    "stage.assembly.gc_s": "assembly.gc_s",
    "stage.scan.run_s": "scan.run_s", "stage.write.run_s": "write.run_s",
    "stage.shuffle_write_mb": "shuffle_write_mb",
    "stage.shuffle_read_mb": "shuffle_read_mb", "stage.spill_mb": "spill_mb",
}
# per-layer name -> span whose median duration it reports
_SPAN_KEYS = {
    "pipeline.call_s": "pipeline.run_resumable",
    "dedup.minhash_s": "dedup.minhash_dedup_pairs",
    "dedup.cc_s": "dedup.dedup_keep_canonical",
    "curation.quality_filter_s": "curation.quality_filter",
}


class Bench:
    """One run's session, scratch space and tracer."""

    def __init__(self, workload: str, seed: int):
        self.seed = seed
        self.work = os.path.join(ROOT, ".perfbench")
        self.run_id = f"{workload}-s{seed}-{uuid.uuid4().hex[:8]}"
        self.scratch = os.path.join(self.work, "runs", self.run_id)
        self.tracer = probes.Tracer(self.run_id, enabled=False)
        self.spark = None
        self.session: dict | None = None  # set-up of the first session

    def start(self, event_log: str | None = None):
        from pydoxtools_spark.session import get_spark

        # keep every file the JVM and the workers write in the checkout:
        # SPARK_LOCAL_DIRS wins over spark.local.dir, and the JVM's
        # perf-data file goes to /tmp whatever java.io.tmpdir says
        tmp = os.path.join(self.scratch, "tmp")
        os.makedirs(tmp, exist_ok=True)
        os.environ["TMPDIR"] = tmp
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(self.scratch, "spark-local")
        conf = {
            # fits a 15 GB host next to four python workers
            "spark.driver.memory": "4g",
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.sql.warehouse.dir": os.path.join(self.scratch, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        }
        if event_log:
            os.makedirs(event_log, exist_ok=True)
            conf.update({"spark.eventLog.enabled": "true",
                         "spark.eventLog.dir": "file://" + event_log,
                         "spark.eventLog.compress": "false",
                         "spark.eventLog.rolling.enabled": "false"})
        self.spark = get_spark("perfbench", cores=CORES,
                               shuffle_partitions=CORES, extra_conf=conf)
        return self.spark

    def stop_session(self):
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def shutdown(self):
        """Stop Spark and the JVM it launched, wait for every process this
        run started, and remove the scratch space."""
        try:
            self.stop_session()
        finally:
            from pyspark import SparkContext

            if SparkContext._gateway is not None:
                try:
                    SparkContext._gateway.shutdown()
                except Exception as e:  # the JVM may already be gone
                    log(f"gateway shutdown: {e}")
            _reap_descendants()  # the JVM, its python workers, wrappers
            shutil.rmtree(self.scratch, ignore_errors=True)

    def fresh_dir(self, label: str) -> str:
        path = os.path.join(self.scratch, "out", label)
        shutil.rmtree(path, ignore_errors=True)
        return path

    def job_group(self, label: str, call: str):
        if self.tracer.enabled:
            self.spark.sparkContext.setJobGroup(f"{label}/{call}", call)


def log(msg: str):
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def _reap_descendants(timeout_s: float = 30.0):
    """SIGTERM, then SIGKILL, every remaining descendant; return once
    none is left."""
    deadline = time.monotonic() + timeout_s
    sig = signal.SIGTERM
    while True:
        left = probes.descendants(probes.read_proc_table(), os.getpid())
        if not left:
            return
        for st in left:
            try:
                os.kill(st["pid"], sig)
            except ProcessLookupError:
                pass
        try:
            while os.waitpid(-1, os.WNOHANG)[0]:
                pass
        except ChildProcessError:
            pass
        if time.monotonic() > deadline:
            sig = signal.SIGKILL
        time.sleep(0.2)


def one_pass(bench, wl, label: str, traced: bool) -> dict:
    spark = bench.spark
    probes.release_storage(spark)
    use0 = probes.tree_usage(probes.read_proc_table(), os.getpid())
    t0 = time.monotonic()
    with bench.tracer.span(label):
        res = wl.run_pass(spark, bench, label)
    res["wall"] = time.monotonic() - t0
    use1 = probes.tree_usage(probes.read_proc_table(), os.getpid())
    for k in ("cpu_s", "jvm_cpu_s", "python_cpu_s"):
        res[k] = use1[k] - use0[k]
    res["label"] = label
    log(f"{label}: {res['docs']} docs in {res['wall']:.2f} s, "
        f"cpu {res['cpu_s']:.1f} s")
    if traced:
        res["pinned_mb"] = probes.pinned_mb(spark)
    return res


def measure(bench, wl, seconds: float, tag: str, first_wall: float,
            traced=False) -> list[dict]:
    """Warm up until two consecutive passes agree (the session's first
    pass, of `first_wall` seconds, is the first warm-up pass), then run
    checked passes until `seconds` of pass time and at least MIN_TIMED
    passes are measured."""
    prev = first_wall
    for i in range(1, MAX_WARM):
        wall = one_pass(bench, wl, f"{tag}-warm{i}", traced)["wall"]
        if agree(prev, wall, WARM_TOL):
            break
        prev = wall
    timed: list[dict] = []
    while len(timed) < MIN_TIMED or sum(p["wall"] for p in timed) < seconds:
        p = one_pass(bench, wl, f"{tag}-pass{len(timed)}", traced)
        bench.job_group("check", p["label"])  # not the pass's jobs
        p["ok"] = wl.check(bench.spark, bench, p)
        timed.append(p)
    return timed


def end_to_end(passes, setup_s, n_docs, bad=0) -> tuple[dict, int, int]:
    """E2E metrics of the timed passes; `bad` docs found wrong outside
    them (a re-committing no-op resume) count as not ok."""
    attempted = n_docs * len(passes)
    ok = max(sum(p["ok"] for p in passes) - bad, 0)
    metrics = {
        "setup_s": setup_s,
        "docs_per_s": median([p["docs"] / p["wall"] for p in passes]),
        "cpu_s_per_kdoc": median([1e3 * p["cpu_s"] / max(p["docs"], 1)
                                  for p in passes]),
        "ok_frac": ok / attempted,
    }
    return metrics, attempted, attempted - ok


def per_layer(bench, passes, untraced_dps, session, probed, events,
              peak) -> dict:
    m = {name: 0.0 for name in PER_LAYER}
    m.update(session)
    m.update(probed)
    table = probes.stage_table(events)
    totals = []
    for p in passes:
        tot: dict[str, float] = {}
        for group, row in table.items():
            if group.split("/", 1)[0] != p["label"]:
                continue
            for k, v in row.items():
                tot[k] = max(tot.get(k, 0), v) if k == "task_skew" \
                    else tot.get(k, 0) + v
            if group.endswith("/cc"):
                tot["cc_jobs"] = row["jobs"]
        totals.append(tot)
    for name, key in _STAGE_KEYS.items():
        m[name] = median([t.get(key, 0.0) for t in totals])
    if any("cc_jobs" in t for t in totals):
        m["dedup.cc_jobs"] = median([t.get("cc_jobs", 0) for t in totals])
    labels = {p["label"] for p in passes}
    for name, span in _SPAN_KEYS.items():
        d = bench.tracer.durations(span, under=labels)
        if d:
            m[name] = median(d)
    m["proc.jvm_cpu_s"] = median([p["jvm_cpu_s"] for p in passes])
    m["proc.python_cpu_s"] = median([p["python_cpu_s"] for p in passes])
    m["proc.jvm_peak_rss_mb"] = peak["jvm_rss_mb"]
    m["proc.python_peak_rss_mb"] = peak["python_rss_mb"]
    m["storage.pinned_mb_after_pass"] = median([p["pinned_mb"] for p in passes])
    dps = median([p["docs"] / p["wall"] for p in passes])
    m["trace.docs_per_s"] = dps
    m["trace.untraced_docs_per_s"] = untraced_dps
    m["trace.overhead"] = 1.0 - dps / untraced_dps
    return m


def start_session(bench, wl, tag: str, event_log=None, traced=False):
    """get_spark, then the workload's first pass committed (returned)."""
    spark, start_s = probes.timed(bench.start, event_log)
    wl.prepare(spark, bench)
    first = one_pass(bench, wl, f"{tag}-warm0", traced)
    # the process's first session is the one that launched the JVM
    bench.session = bench.session or {"session.start_s": start_s,
                                      "session.first_job_s": first["wall"]}
    return first


def untraced_run(bench, wl, seconds, before_inputs) -> tuple[dict, int, int]:
    t_spark = time.monotonic()
    first = start_session(bench, wl, "pass")
    # set-up: process start -> get_spark -> first pass committed,
    # leaving out the input build
    setup_s = before_inputs + (time.monotonic() - t_spark)
    passes = measure(bench, wl, seconds, "pass", first["wall"])
    bench.stop_session()
    return end_to_end(passes, setup_s, wl.n_docs)


def traced_run(bench, wl, seconds, untraced_dps) -> tuple[dict, int, int]:
    """A session with the event log on: per-layer metrics of its timed
    passes, its set-up, and the workload's layer probes."""
    log_dir = os.path.join(bench.scratch, "eventlog")
    bench.tracer.enabled = True
    first = start_session(bench, wl, "traced", log_dir, True)
    with probes.PeakRss() as peak:
        passes = measure(bench, wl, seconds, "traced", first["wall"],
                         traced=True)
    probed, bad = wl.probe_layers(bench.spark, bench, passes[-1])
    _m, attempted, failed = end_to_end(passes, 0.0, wl.n_docs, bad)
    bench.stop_session()
    metrics = per_layer(bench, passes, untraced_dps, bench.session, probed,
                        probes.read_events(log_dir), peak.peak)
    return metrics, attempted, failed


def run(workload: str, seed: int, seconds: float, trace: bool,
        age0: float, t0: float) -> dict:
    """One run.  Untraced: set-up, warm-up, timed passes, end-to-end
    metrics (kept under .perfbench/results/).  Traced: per-layer metrics,
    with the tracing overhead taken against the untraced run of the same
    workload and seed (made first when the checkout has none)."""
    wl = WORKLOADS[workload]()
    bench = Bench(workload, seed)
    ref = os.path.join(bench.work, "results", f"{workload}-s{seed}.json")
    code = inputs.code_hash()
    try:
        before_inputs = age0 + (time.monotonic() - t0)
        wl.build_inputs(bench)  # cached; not part of set-up
        attempted = failed = 0
        untraced = None
        if trace and os.path.exists(ref):
            with open(ref) as fh:
                stored = json.load(fh)
            if stored.get("code") == code:  # made by this very code
                untraced = stored["metrics"]
        if untraced is None:
            untraced, attempted, failed = untraced_run(bench, wl, seconds,
                                                       before_inputs)
            _write_json(ref, {"code": code, "metrics": untraced})
        metrics = untraced
        if trace:
            metrics, t_att, t_failed = traced_run(
                bench, wl, seconds, untraced["docs_per_s"])
            attempted, failed = attempted + t_att, failed + t_failed
            _write_json(os.path.join(bench.work, "traces",
                                     f"{bench.run_id}.json"),
                        {"workload": workload, "seed": seed,
                         "run_id": bench.run_id,
                         "spans": bench.tracer.spans, "per_layer": metrics})
            _print_layers(metrics)
    finally:
        bench.shutdown()
    units = PER_LAYER if trace else END_TO_END
    return {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": {k: {"value": float(metrics[k]), "unit": u}
                        for k, u in units.items()}}


def _write_json(path: str, obj) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path + ".tmp", "w") as fh:
        json.dump(obj, fh, indent=1)
    os.replace(path + ".tmp", path)


def _print_layers(metrics: dict) -> None:
    width = max(map(len, PER_LAYER))
    for name, unit in PER_LAYER.items():
        print(f"{name:<{width}}  {metrics[name]:>14.6g} {unit}")


def _import_engine():
    """Import what the input build and the session use, so that set-up
    pays for the imports whether the inputs are cached or not."""
    import pandas  # noqa: F401
    import pyarrow.parquet  # noqa: F401
    import pyspark.sql  # noqa: F401
    import pyspark.sql.pandas.types  # noqa: F401

    import pydoxtools_spark.fixtures  # noqa: F401
    import pydoxtools_spark.functions.docx  # noqa: F401
    import pydoxtools_spark.functions.htmlparse  # noqa: F401
    import pydoxtools_spark.functions.pdflayout  # noqa: F401
    import pydoxtools_spark.functions.pdfparse  # noqa: F401
    import pydoxtools_spark.functions.rtf  # noqa: F401
    import pydoxtools_spark.pipeline  # noqa: F401
    import pydoxtools_spark.session  # noqa: F401


def main(argv=None) -> int:
    age0, t0 = probes.process_age_s(), time.monotonic()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    sys.path.insert(0, ROOT)
    try:
        _import_engine()
    except ImportError as e:
        print(f"perfbench: the engine is not importable from {ROOT}: {e}",
              file=sys.stderr)
        return 2
    result = run(args.workload, args.seed, args.seconds, bool(args.trace),
                 age0, t0)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
