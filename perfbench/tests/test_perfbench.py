"""Tests of the benchmark's own code. Run: python -m pytest perfbench/tests -q"""

import json
import os
import statistics
import subprocess
import sys

import pandas as pd
import pytest

from perfbench import run
from perfbench.corpus import conversations, generate, layout_of, oracle
from perfbench.host import tree_cpu_s, tree_pids
from perfbench.sparkstats import task_skew, weighted_skew
from perfbench.spantrace import Tracer
from perfbench.stats import failures, parse_metric, quartiles, spread

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def test_parse_metric_per_task_form():
    text = ("total (min, med, max (stageId: taskId))\n"
            "5.4 s (1.3 s, 1.4 s, 1.4 s (stage 19.0: task 37))")
    assert parse_metric(text) == {"total": 5.4, "min": 1.3, "med": 1.4, "max": 1.4}


def test_parse_metric_sizes_and_counts():
    assert parse_metric("23,510") == {"total": 23510.0}
    assert parse_metric("25 ms") == {"total": pytest.approx(0.025)}
    assert parse_metric("1.5 m") == {"total": 90.0}
    assert parse_metric("0.50 h") == {"total": 1800.0}
    assert parse_metric("0.0 B") == {"total": 0.0}
    assert parse_metric("3.9 MiB")["total"] == pytest.approx(3.9 * 2 ** 20)
    got = parse_metric("total (min, med, max (stageId: taskId))\n"
                       "1847.1 KiB (160.0 B, 1,024.0 B, 2.0 GiB (stage 3.0: task 12))")
    assert got["total"] == pytest.approx(1847.1 * 1024)
    assert got["med"] == 1024.0
    assert got["max"] == 2.0 * 2 ** 30


@pytest.mark.parametrize("text", ["", "fast", "12 parsecs"])
def test_parse_metric_rejects_unknown_text(text):
    with pytest.raises(ValueError):
        parse_metric(text)


def test_quartiles_match_statistics_module():
    values = [3.1, 2.9, 3.0, 3.4, 2.8, 3.3, 3.0, 3.2, 2.7, 3.5]
    assert quartiles(values) == tuple(statistics.quantiles(values, n=4))
    q1, med, q3 = quartiles(values)
    assert spread(values) == pytest.approx((q3 - q1) / med)
    assert quartiles([7.0]) == (7.0, 7.0, 7.0)
    with pytest.raises(ValueError):
        quartiles([])


def test_failures_counts_missing_duplicated_unexpected_and_different():
    expected = {("c", 0): "a", ("c", 1): "b", ("c", 2): "c"}
    assert failures(expected, [(("c", 0), "a"), (("c", 1), "b"), (("c", 2), "c")]) == set()
    got = [(("c", 0), "a"), (("c", 0), "a"), (("c", 1), "x"), (("d", 0), "z")]
    assert failures(expected, got) == {("c", 0), ("c", 1), ("c", 2), ("d", 0)}


def test_injected_one_turn_mismatch_raises_fail_ratio():
    """The real check path: oracle answers against the vectorized core's
    rows, then the same rows with one turn's main text changed."""
    from pdf_parser_spark.operators.extract import extract_batch

    df = generate(conversations(seed=5, sf=0.0002)[2:6], html_only=False)
    expected = {(r.conv_id, int(r.turn_idx)): __import__(
        "pdf_parser_spark.oracle.extractor", fromlist=["x"]).normalize_layout(
            oracle(r.text, r.tool, int(r.turn_idx))[0])
        for r in df.itertuples(index=False)}
    out = extract_batch(df.assign(ts=pd.to_datetime(df["ts"], unit="us")))

    def ratio(rows):
        got = (((r.conv_id, int(r.turn_idx)), layout_of(r)) for r in rows.itertuples(index=False))
        return len(failures(expected, got)) / len(expected)

    assert ratio(out) == 0.0
    out.loc[3, "left_column"] = out.loc[3, "left_column"] + " injected"
    assert ratio(out) == 1 / len(expected)


def test_self_time_subtracts_covered_child_intervals():
    tr = Tracer("t")
    root = tr.add("iteration", 0.0, 10.0, None)
    tr.add("a", 1.0, 3.0, root)
    tr.add("b", 2.0, 5.0, root)  # overlaps a: 1..5 covered once
    c = tr.add("c", 8.0, 12.0, root)  # clipped to the parent's end
    tr.add("d", 9.0, 10.0, c)
    assert tr.self_time(root) == pytest.approx(10.0 - 4.0 - 2.0)
    totals = tr.self_times(root)
    assert totals == pytest.approx(
        {"iteration": 4.0, "a": 2.0, "b": 3.0, "c": 3.0, "d": 1.0})


def test_task_skew():
    assert task_skew([]) == 1.0
    assert task_skew([1.0, 1.0, 4.0]) == 4.0
    assert task_skew([1.0, 2.0, 3.0, 10.0]) == 4.0
    assert weighted_skew([{"skew": 2.0, "run_s": 1.0}, {"skew": 4.0, "run_s": 3.0}]) == 3.5


def test_process_tree_readers():
    assert os.getpid() in tree_pids(os.getpid())
    assert tree_cpu_s(os.getpid()) > 0


_ORPHANS = """
import os, subprocess, sys, time
from perfbench.host import become_subreaper, stop_descendants, tree_pids
become_subreaper()
# an orphan (its shell exits at once) and a child that ignores SIGTERM
subprocess.run(["sh", "-c", "sleep 60 & exit 0"], check=True)
stubborn = subprocess.Popen([sys.executable, "-c",
    "import signal, time; signal.signal(signal.SIGTERM, signal.SIG_IGN); time.sleep(60)"])
time.sleep(0.5)
before = [p for p in tree_pids(os.getpid()) if p != os.getpid()]
found = stop_descendants(grace_s=1.0)
after = [p for p in tree_pids(os.getpid()) if p != os.getpid()]
print(len(before), sorted(found) == sorted(before), after)
"""


def test_stop_descendants_stops_orphans_and_stubborn_children():
    out = subprocess.run([sys.executable, "-c", _ORPHANS], cwd=ROOT, capture_output=True,
                         text=True, timeout=60, check=True).stdout.split()
    assert out == ["2", "True", "[]"]


def test_benchmark_json_matches_the_metrics_run_prints():
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    from perfbench.workloads import WORKLOADS

    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)


class _FlakyWorkload:
    """Stands in for a workload whose first iteration raises."""

    def __init__(self):
        self.calls = 0

    def all_keys(self):
        return {("c", 0), ("c", 1)}

    def before(self, k):
        pass

    def run(self, k):
        self.calls += 1
        if self.calls == 1:
            raise RuntimeError("extraction failed")
        return k

    def check(self, state):
        return set()

    def cleanup(self, state):
        pass


def test_an_iteration_that_raises_fails_all_its_turns():
    samples = run._measure(_FlakyWorkload(), 1e-9, 0)  # one iteration
    assert [s["failed"] for s in samples] == [2]
    wl = _FlakyWorkload()
    samples = run._measure(wl, 1e-9, 0) + run._measure(wl, 1e-9, 1)
    assert [s["failed"] for s in samples] == [2, 0]


def test_resume_crash_tolerates_manifests_a_failed_iteration_left_missing(tmp_path):
    from perfbench.workloads import HtmlDocs

    wl = HtmlDocs.__new__(HtmlDocs)
    wl.base, wl.lost_buckets = str(tmp_path), [1, 5]
    manifests = tmp_path / "_manifests"
    manifests.mkdir()
    (manifests / "bucket-00001.json").write_text("{}")
    (manifests / "bucket-00002.json").write_text("{}")
    wl.before(0)  # bucket 5's manifest is already gone
    assert sorted(p.name for p in manifests.iterdir()) == ["bucket-00002.json"]
    wl.before(1)
    assert sorted(p.name for p in manifests.iterdir()) == ["bucket-00002.json"]


def _execution(nodes):
    return {"nodes": nodes}


def test_task_time_parts_fit_inside_the_stage_run_time():
    from perfbench.layers import task_time_parts

    py = {"time to run Python workers": {"total": 3.0}}
    scan = {"scan time": {"total": 0.5}}
    e = _execution([("Execute InsertIntoHadoopFsRelationCommand", {}),
                    ("MapInPandas", py), ("Scan parquet ", scan)])
    e["py_tasks"] = 4
    stages = [{"run_s": 4.0, "tasks": 4}]
    parts = task_time_parts(e, stages, {"page/v1": (1000, 1000.0)}, 0.25)
    # inside the 3 s Python window: 0.5 scan + 1.0 start + 1.0 page core + arrow
    assert parts == pytest.approx({"scan": 0.5, "py_start": 1.0, "py_page": 1.0,
                                   "arrow": 0.5, "write": 1.0})
    # a window too small for its parts scales them down; nothing is clamped
    parts = task_time_parts(e, stages, {"page/v1": (4000, 1000.0)}, 0.25)
    assert sum(parts.values()) == pytest.approx(4.0)
    assert parts["arrow"] == pytest.approx(0.0)
    assert parts["py_page"] == pytest.approx(3.0 * 4.0 / 5.5)
    # no Python: the scan, then the rest of a multi-stage plan is other JVM work
    e = _execution([("Execute InsertIntoHadoopFsRelationCommand", {}), ("Scan parquet ", scan)])
    e["py_tasks"] = 0
    parts = task_time_parts(e, [{"run_s": 1.0, "tasks": 1}, {"run_s": 2.0, "tasks": 2}], {}, 0.25)
    assert parts == pytest.approx({"scan": 0.5, "jvm": 2.5})
