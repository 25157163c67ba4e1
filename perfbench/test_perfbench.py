"""Self-tests of the benchmark's own measurement code (no Spark needed):

    python3 -m pytest perfbench/ -q
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys
import time

import pytest

import probes
import stats
from run import END_TO_END, PER_LAYER

HERE = os.path.dirname(os.path.abspath(__file__))


# ---------------------------------------------------------------- stats


def test_quartiles_match_statistics_quantiles():
    xs = [5.0, 1.0, 4.0, 2.0, 3.0, 9.0, 7.0]
    q1, q2, q3 = stats.quartiles(xs)
    assert (q1, q2, q3) == tuple(statistics.quantiles(xs, n=4))
    assert q2 == stats.median(xs) == 4.0


def test_spread_is_iqr_over_median():
    xs = [10.0, 10.0, 11.0, 12.0, 9.0, 10.0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    assert stats.spread(xs) == pytest.approx((q3 - q1) / q2)
    assert stats.spread([3.0] * 10) == 0.0
    assert stats.quartiles([2.5]) == (2.5, 2.5, 2.5)


def test_agree_is_relative_to_the_larger_pass():
    assert stats.agree(10.0, 11.0, 0.10)
    assert not stats.agree(10.0, 11.2, 0.10)
    assert stats.agree(11.2, 10.0, 0.15)


def test_summarize_reads_result_objects():
    runs = [{"metrics": {"x": {"value": v, "unit": "s"}}}
            for v in (1.0, 2.0, 3.0, 4.0)]
    q1, q2, q3, sp = stats.summarize(runs)["x"]
    assert (q1, q2, q3) == tuple(statistics.quantiles([1, 2, 3, 4], n=4))
    assert sp == pytest.approx((q3 - q1) / q2)


def test_median_of_nothing_raises():
    with pytest.raises(ValueError):
        stats.median([])


# ---------------------------------------------------------------- /proc


def _stat_line(pid, comm, ppid, ticks, rss=100):
    # fields 3..24 of /proc/<pid>/stat; utime=ticks, stime=cutime=cstime=0
    rest = ["S", str(ppid)] + ["0"] * 9 + [str(ticks), "0", "0", "0"] \
        + ["0"] * 5 + ["0", str(rss)]
    return f"{pid} ({comm}) " + " ".join(rest)


def test_parse_stat_handles_spaces_and_parens_in_comm():
    st = probes.parse_stat(_stat_line(42, "a (b) c", 7, 250, rss=9))
    assert (st["pid"], st["comm"], st["ppid"]) == (42, "a (b) c", 7)
    assert st["cpu_ticks"] == 250 and st["rss_pages"] == 9


def test_tree_usage_sums_descendants_only():
    table = {st["pid"]: st for st in map(probes.parse_stat, [
        _stat_line(1, "init", 0, 999),
        _stat_line(10, "python3", 1, 50),        # the root: excluded
        _stat_line(11, "java", 10, 300),
        _stat_line(12, "python3", 11, 100),      # daemon
        _stat_line(13, "python3", 12, 40),       # worker
        _stat_line(14, "bash", 10, 5),
        _stat_line(20, "java", 1, 777),          # not ours
    ])}
    use = probes.tree_usage(table, 10)
    tick = 1 / probes.CLK_TCK
    assert use["jvm_cpu_s"] == pytest.approx(300 * tick)
    assert use["python_cpu_s"] == pytest.approx(140 * tick)
    assert use["other_cpu_s"] == pytest.approx(5 * tick)
    assert use["cpu_s"] == pytest.approx(445 * tick)


def _tree_cpu_s():
    return probes.tree_usage(probes.read_proc_table(), os.getpid())["cpu_s"]


BURN = ("import time\nt = time.process_time()\n"
        "while time.process_time() - t < 0.5:\n    pass\n")


def _wait_for_tree_cpu(before, at_least, proc):
    deadline = time.monotonic() + 30
    try:
        while _tree_cpu_s() - before < at_least:
            assert proc.poll() is None, "helper exited early"
            assert time.monotonic() < deadline, "tree CPU not seen"
            time.sleep(0.1)
    finally:
        proc.kill()
        proc.wait(timeout=30)


def test_tree_cpu_counts_a_live_descendant():
    before = _tree_cpu_s()
    live = subprocess.Popen([sys.executable, "-c", BURN + "time.sleep(30)\n"])
    _wait_for_tree_cpu(before, 0.4, live)


def test_tree_cpu_counts_a_reaped_grandchild_through_its_parent():
    # like a python worker that exits: its CPU moves into the cutime of
    # the parent that reaped it, which is still in the tree
    parent = ("import subprocess, sys, time\n"
              f"subprocess.run([sys.executable, '-c', {BURN!r}], check=True)\n"
              "time.sleep(30)\n")
    before = _tree_cpu_s()
    proc = subprocess.Popen([sys.executable, "-c", parent])
    _wait_for_tree_cpu(before, 0.4, proc)


# ------------------------------------------------------------ event log


@pytest.mark.parametrize("scopes,label", [
    ({"Exchange", "MapInPandas", "WholeStageCodegen (2)"}, "kernel"),
    ({"ArrowEvalPython", "Window", "ObjectHashAggregate"}, "kernel"),
    ({"AQEShuffleRead", "CollectMetrics", "ObjectHashAggregate",
      "WholeStageCodegen (22)", "Window", "WriteFiles"}, "assembly"),
    ({"Window", "WholeStageCodegen (3)"}, "other"),
    ({"AQEShuffleRead", "WholeStageCodegen (2)", "WriteFiles"}, "write"),
    ({"Exchange", "Scan parquet ", "WholeStageCodegen (1)"}, "scan"),
    ({"Exchange", "ObjectHashAggregate"}, "other"),
    (set(), "other"),
])
def test_classify_stage(scopes, label):
    assert probes.classify_stage(scopes) == label


def _task(stage, run_ms, cpu_ns=0, failed=False, sw=0, sr=0, spill=0):
    return {"Event": "SparkListenerTaskEnd", "Stage ID": stage,
            "Task Info": {"Failed": failed, "Killed": False},
            "Task Metrics": {
                "Executor Run Time": run_ms, "Executor CPU Time": cpu_ns,
                "JVM GC Time": 0, "Disk Bytes Spilled": spill,
                "Shuffle Write Metrics": {"Shuffle Bytes Written": sw},
                "Shuffle Read Metrics": {"Local Bytes Read": sr,
                                         "Remote Bytes Read": 0}}}


def _stage(sid, *scopes):
    return {"Event": "SparkListenerStageCompleted",
            "Stage Info": {"Stage ID": sid, "RDD Info": [
                {"Scope": json.dumps({"id": str(i), "name": s})}
                for i, s in enumerate(scopes)]}}


def test_stage_table_groups_jobs_and_sums_by_class():
    events = [
        {"Event": "SparkListenerJobStart", "Stage IDs": [0, 1],
         "Properties": {"spark.jobGroup.id": "p0/run"}},
        {"Event": "SparkListenerJobStart", "Stage IDs": [2],
         "Properties": {"spark.jobGroup.id": "p0/cc"}},
        {"Event": "SparkListenerJobStart", "Stage IDs": [3],
         "Properties": {}},  # ungrouped: ignored
        _stage(0, "MapInPandas"), _stage(1, "Window", "SortAggregate"),
        _stage(2, "Scan parquet x"), _stage(3, "MapInPandas"),
        _task(0, 1000, 2e8), _task(0, 3000, 1e8, sw=2**20),
        _task(0, 1000, 0, failed=True),
        _task(1, 500, 5e8, sr=2**20, spill=3 * 2**20),
        _task(2, 250), _task(3, 99_000),
    ]
    table = probes.stage_table(events)
    assert set(table) == {"p0/run", "p0/cc"}
    run = table["p0/run"]
    assert (run["jobs"], run["stages"], run["tasks"], run["failed_tasks"]) \
        == (1, 2, 4, 1)
    assert run["kernel.run_s"] == pytest.approx(5.0)
    assert run["kernel.cpu_s"] == pytest.approx(0.3)
    assert run["assembly.run_s"] == pytest.approx(0.5)
    assert run["task_skew"] == pytest.approx(3.0)
    assert run["shuffle_write_mb"] == pytest.approx(1.0)
    assert run["shuffle_read_mb"] == pytest.approx(1.0)
    assert run["spill_mb"] == pytest.approx(3.0)
    assert table["p0/cc"]["scan.run_s"] == pytest.approx(0.25)


def test_read_events_reads_plain_and_rolling_logs(tmp_path):
    (tmp_path / "local-1").write_text('{"Event": "A"}\n\n{"Event": "B"}\n')
    roll = tmp_path / "eventlog_v2_local-2"
    roll.mkdir()
    (roll / "events_1_local-2").write_text('{"Event": "C"}\n')
    (roll / "appstatus_local-2").write_text("")
    assert sorted(e["Event"] for e in probes.read_events(str(tmp_path))) \
        == ["A", "B", "C"]


# ---------------------------------------------------------------- spans


def test_tracer_records_parents_and_is_free_when_off():
    tr = probes.Tracer("r1", enabled=True)
    with tr.span("outer"):
        with tr.span("inner"):
            pass
    outer, inner = tr.spans
    assert inner["parent"] == outer["id"] and outer["parent"] is None
    assert {s["run_id"] for s in tr.spans} == {"r1"}
    assert outer["start"] <= inner["start"] <= inner["end"] <= outer["end"]
    assert tr.durations("inner", under={"outer"}) == [
        inner["end"] - inner["start"]]
    assert tr.durations("inner", under={"other"}) == []
    off = probes.Tracer("r2", enabled=False)
    with off.span("x"):
        pass
    assert off.spans == []


# ------------------------------------------------------------ contract


def test_benchmark_json_matches_the_metric_tables():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    from workloads import WORKLOADS

    assert [w["name"] for w in bench["workloads"]] == list(WORKLOADS)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == PER_LAYER
    assert all(0 < m["bound"] <= 0.25 for m in bench["end_to_end"])


# ------------------------------------------------------ curate verdicts


def _curate(rows):
    from workloads import CurateDedup

    wl = CurateDedup()
    wl.load_rows(rows)
    return wl


_A = ("archive budget charter dossier estimate figure guideline handbook "
      "invoice journal ledger memo notice outline policy quarterly record "
      "schedule summary tender update volume warranty yield zone audit")
_B = ("benchmark catalog digest edition folio gazette index manual "
      "register roster statement survey syllabus timetable " * 2).strip()
_ROWS = [("a", _A), ("a~dup", _A.replace("memo", "zone") + " revised"),
         ("b", _B)]


def _kept(wl, ids):
    from workloads import quality_oracle

    return {d: dict(zip(("n_words", "keep"), quality_oracle(wl.text[d])))
            for d in ids}


def test_curate_verdicts_accept_the_canonical_outcome():
    wl = _curate(_ROWS)
    assert wl.verdicts(_kept(wl, ["a", "b"])) == 3


def test_curate_verdicts_reject_a_cluster_dropped_whole():
    wl = _curate(_ROWS)
    # the original and its planted dup both gone: neither drop is
    # justified by a kept smaller-id near-duplicate
    assert wl.verdicts(_kept(wl, ["b"])) == 1


def test_curate_verdicts_reject_a_kept_dup_and_a_wrong_survivor():
    wl = _curate(_ROWS)
    assert wl.verdicts(_kept(wl, ["a", "a~dup", "b"])) == 2
    # the dup kept instead of the original (not the minimum id)
    assert wl.verdicts(_kept(wl, ["a~dup", "b"])) == 1
    bad = _kept(wl, ["a", "b"])
    bad["b"]["keep"] = not bad["b"]["keep"]
    assert wl.verdicts(bad) == 2


# ---------------------------------------------------------------- cache


def test_source_hash_follows_content(tmp_path):
    import inputs

    f = tmp_path / "m.py"
    f.write_text("x = 1\n")
    h1 = inputs.source_hash(str(tmp_path))
    assert inputs.source_hash(str(tmp_path)) == h1
    f.write_text("x = 2\n")
    assert inputs.source_hash(str(tmp_path)) != h1
