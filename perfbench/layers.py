"""Per-layer numbers of one traced iteration.

Spark-side time is attributed from outside the program: each call span
gets a child span per SQL execution (its submission to completion), and
each execution span is divided into layer spans in proportion to the task
time each layer takes of the execution's stages. The parts are built to
fit inside the stages' run time, so none is clamped:

- Python window: Spark's "time to run Python workers", per task from the
  start of the task's compute to the worker's last output. The scan, the
  worker start and initialisation, the extraction core and the Arrow
  transfer all happen inside it. Scan time is Spark's scan metric; worker
  start and initialisation is the measured Python run time of a no-op
  ``mapInPandas`` task (``probe_py_task_s``) times the tasks; the core per
  tool is the driver replay's microseconds per turn times the turns fed
  in. When these exceed the window they are scaled down to fit, and the
  rest of the window is ``arrow``: transfer to and from the workers and the
  JVM work overlapped with it, such as encoding rows as they come back.
- The rest of the stages' run time: ``write`` in a single-stage plan that
  ends in an insert (flushing and closing the files, task commit), else
  ``jvm`` (shuffle, aggregation and any other JVM work).

Self times of these spans add up to the iteration's wall time.
"""

from __future__ import annotations

import time

import pandas as pd

from pdf_parser_spark.operators.extract import extract_batch
from perfbench.sparkstats import INSERT, has_node, node_total, weighted_skew

MIP = "MapInPandas"
SCAN = "Scan parquet"
PY_RUN = "time to run Python workers"
EXTRACT_CALLS = ("manifest.run_with_manifest", "extract.extract_layouts")
LAYER_OF_TOOL = {"page/v1": "page", "html/v1": "html", "plain": "plain"}
MB = 2.0 ** 20


def attach(tracer, stats, iteration: int, call_us: dict, py_task_s: float) -> dict:
    """Add execution and layer spans under each call span of the iteration
    span ``iteration``; return ``{call: {"execs", "stages", "wall"}}``.

    ``call_us[call][tool] = (turns fed, microseconds per turn)``;
    ``py_task_s`` is the Python run time of a task that does no work.
    """
    calls = {}
    for span in tracer.children(iteration):
        jobs = stats.job_ids(span["group"])
        execs = stats.executions(jobs)
        calls[span["name"]] = {"execs": execs, "stages": stats.stages(jobs),
                               "wall": span["end"] - span["start"]}
        for e in execs:
            stages = stats.stages(set(e["jobs"]))
            e["py_tasks"] = sum(s["tasks"] for s in stages) if has_node(e, MIP) else 0
            if e["end"] is None:
                continue
            sid = tracer.add("spark.exec", e["start"], e["end"], span["id"], execution=e["id"])
            parts = task_time_parts(e, stages, call_us.get(span["name"], {}), py_task_s)
            total = sum(parts.values())
            t = e["start"]
            for name, task_s in parts.items():
                length = (e["end"] - e["start"]) * task_s / total if total else 0.0
                tracer.add(f"layer.{name}", t, t + length, sid)
                t += length
    return calls


def task_time_parts(e: dict, stages: list, tools: dict, py_task_s: float) -> dict:
    """Seconds of task time per layer of execution ``e``; they add up to
    the run time of its stages (see the module docstring)."""
    run_s = sum(s["run_s"] for s in stages)
    scan = node_total([e], SCAN, "scan time")
    if has_node(e, MIP):
        window = min(node_total([e], MIP, PY_RUN), run_s)
        inside = {"scan": scan, "py_start": py_task_s * e["py_tasks"],
                  **{f"py_{LAYER_OF_TOOL[t]}": n * us / 1e6 for t, (n, us) in tools.items()}}
        need = sum(inside.values())
        scale = min(1.0, window / need) if need else 0.0
        parts = {k: v * scale for k, v in inside.items()}
        parts["arrow"] = window - sum(parts.values())
    else:
        window = min(scan, run_s)
        parts = {"scan": window}
    parts["write" if has_node(e, INSERT) and len(stages) == 1 else "jvm"] = run_s - window
    return parts


def _no_rows(batches):
    for b in batches:
        yield b.iloc[:0]


def probe_py_task_s(spark, stats, group: str, tasks: int, repeats: int = 3) -> float:
    """Python run time of one ``mapInPandas`` task that does no work: the
    cost of starting a task's Python worker and initialising it, measured
    as Spark measures the real tasks (median of ``repeats`` runs of
    ``tasks`` tasks; workers are reused as in the real calls). Leaves the
    last probe's job group set."""
    per_task = []
    for r in range(repeats):
        spark.sparkContext.setJobGroup(f"{group}/{r}", "probe")
        spark.range(0, tasks, 1, tasks).mapInPandas(_no_rows, "id long").collect()
        execs = stats.executions(stats.job_ids(f"{group}/{r}"))
        per_task.append(node_total(execs, MIP, PY_RUN) / tasks)
    return sorted(per_task)[len(per_task) // 2]


def split_metrics(tracer, iteration: int) -> dict:
    """``split.*`` seconds: the iteration's wall time by layer self time."""
    out = {f"split.{k}_s": 0.0 for k in (
        "scan", "py_start", "arrow", "py_page", "py_html", "py_plain",
        "write", "jvm_other", "manifest", "driver")}
    for name, t in tracer.self_times(iteration).items():
        if name.startswith("layer."):
            key = "jvm_other" if name == "layer.jvm" else name[len("layer."):]
        elif name == "manifest.run_with_manifest":
            key = "manifest"
        else:  # the iteration itself, other calls, rounding in spark.exec
            key = "driver"
        out[f"split.{key}_s"] += t
    return out


def layer_metrics(calls: dict, wall: float, cores: int, py_task_s: float) -> dict:
    """The Spark-side per-layer metrics of one iteration."""
    execs = [e for c in calls.values() for e in c["execs"]]
    stages = [s for c in calls.values() for s in c["stages"]]
    extract = [e for n in EXTRACT_CALLS for e in calls.get(n, {}).get("execs", [])]
    spans = calls.get("spans.boilerplate_spans", {}).get("execs", [])
    manifest = calls.get("manifest.run_with_manifest", {"execs": []})["execs"]
    reassemble = calls.get("reassemble.write_docs", {"execs": [], "stages": [], "wall": 0.0})
    writes = [e for e in manifest if has_node(e, INSERT)]
    scanned = node_total(writes, SCAN, "number of output rows")
    return {
        "extract.py_run_s": node_total(extract, MIP, PY_RUN),
        "extract.py_start_s": py_task_s * sum(e["py_tasks"] for e in extract),
        "extract.arrow_in_mb": node_total(extract, MIP, "data sent to Python workers") / MB,
        "extract.arrow_out_mb": node_total(extract, MIP, "data returned from Python workers") / MB,
        "spans.py_run_s": node_total(spans, MIP, PY_RUN),
        "spans.arrow_in_mb": node_total(spans, MIP, "data sent to Python workers") / MB,
        "spans.arrow_out_mb": node_total(spans, MIP, "data returned from Python workers") / MB,
        "io.scan_s": node_total(execs, SCAN, "scan time"),
        "io.scan_mb": node_total(execs, SCAN, "size of files read") / MB,
        "io.files_read": node_total(execs, SCAN, "number of files read"),
        "io.write_s": node_total(execs, INSERT, "task commit time")
        + node_total(execs, INSERT, "job commit time"),
        "io.write_mb": node_total(execs, INSERT, "written output") / MB,
        "io.files_written": node_total(execs, INSERT, "number of written files"),
        "manifest.jobs": float(len(manifest)),
        "manifest.count_scan_s": sum(e["end"] - e["start"] for e in manifest
                                     if not has_node(e, INSERT) and e["end"]),
        "manifest.resume_useful_ratio":
            node_total(writes, MIP, "number of output rows") / scanned if scanned else 0.0,
        "reassemble.s": reassemble["wall"],
        "reassemble.shuffle_mb": sum(s["shuffle_write_mb"] for s in reassemble["stages"]),
        "reassemble.spill_mb": sum(s["spill_mb"] for s in reassemble["stages"]),
        "reassemble.skew": weighted_skew(reassemble["stages"]),
        "stage.tasks": float(sum(s["tasks"] for s in stages)),
        "stage.slot_util": sum(s["run_s"] for s in stages) / (cores * wall),
        "stage.skew": weighted_skew(stages),
        "stage.gc_s": sum(s["gc_s"] for s in stages),
        "stage.jvm_cpu_s": sum(s["cpu_s"] for s in stages),
    }


def replay_us_per_turn(df) -> dict:
    """Microseconds per turn of ``extract_batch`` in the driver, per tool,
    on a tool-pure batch of up to 2,000 turns of the workload's own input
    (median of 3 passes); 0.0 for a tool the input does not have."""
    out = {}
    for tool in LAYER_OF_TOOL:
        rows = df[df["tool"] == tool].head(2000).assign(
            turn_idx=lambda d: d["turn_idx"].astype("int32"),
            ts=lambda d: pd.to_datetime(d["ts"], unit="us"))
        if rows.empty:
            out[tool] = 0.0
            continue
        times = []
        for _ in range(3):
            t = time.perf_counter()
            extract_batch(rows.copy())
            times.append(time.perf_counter() - t)
        out[tool] = sorted(times)[len(times) // 2] / len(rows) * 1e6
    return out
