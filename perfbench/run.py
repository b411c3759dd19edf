"""Extraction benchmark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload extract_job --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The run sizes Spark to the host (cores
from the CPU affinity mask, driver memory a quarter of RAM, both through
the environment variables ``session.get_spark`` reads), generates the
workload's inputs from the seed, computes their oracle answers, warms up,
then runs closed-loop iterations for ``--seconds`` seconds and checks
every output turn against the oracle. ``--trace 0`` prints the end-to-end
metrics, ``--trace 1`` the per-layer ones (see README.md). The last line
of standard output is the result; the line before it is a record of the
run, also written with the traced spans under ``perfbench/results/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import tempfile
import time
import traceback
from concurrent.futures import ThreadPoolExecutor

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
END_TO_END = {"setup_s": "s", "wall_s": "s", "turns_per_s": "1/s",
              "cpu_s": "s", "peak_rss_mb": "MB"}
# A 1 GiB initial heap: grown from the default, the heap's size, and with it
# the JVM's resident memory, differed by up to 30% from run to run of the
# same input. The JIT is left as the program runs it.
DRIVER_JAVA_OPTIONS = "-Xms1g"
PER_LAYER = {
    "extract.page_us_per_turn": "us", "extract.html_us_per_turn": "us",
    "extract.plain_us_per_turn": "us", "boilerplate.parse_us_per_turn": "us",
    "extract.py_run_s": "s", "extract.py_start_s": "s", "probe.py_task_s": "s",
    "extract.arrow_in_mb": "MB", "extract.arrow_out_mb": "MB",
    "spans.py_run_s": "s", "spans.arrow_in_mb": "MB", "spans.arrow_out_mb": "MB",
    "io.scan_s": "s", "io.scan_mb": "MB", "io.files_read": "count",
    "io.write_s": "s", "io.write_mb": "MB", "io.files_written": "count",
    "manifest.jobs": "count", "manifest.count_scan_s": "s",
    "manifest.resume_useful_ratio": "ratio",
    "reassemble.s": "s", "reassemble.shuffle_mb": "MB", "reassemble.spill_mb": "MB",
    "reassemble.skew": "ratio",
    "stage.tasks": "count", "stage.slot_util": "ratio", "stage.skew": "ratio",
    "stage.gc_s": "s", "stage.jvm_cpu_s": "s",
    "session.start_s": "s", "generator.gen_s": "s",
    "session.cores": "count", "session.driver_mem_mb": "MB",
    "host.nproc": "count", "host.loadavg": "load", "host.steal_s": "s",
    "extract.scaling_eff_1to4": "ratio",
    "trace.wall_s": "s", "trace.untraced_wall_s": "s", "trace.overhead_s": "s",
    "check.fail_ratio": "ratio",
    **{f"split.{k}_s": "s" for k in (
        "scan", "py_start", "arrow", "py_page", "py_html", "py_plain",
        "write", "jvm_other", "manifest", "driver")},
}


def _environment(work: str) -> dict:
    """Point Spark, its JVM and its Python workers at this checkout and
    size the session to the host."""
    from perfbench.host import mem_total_mb

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    settings = {"cores": len(os.sched_getaffinity(0)),
                "driver_mem_mb": max(1024, mem_total_mb() // 4),
                "driver_java_options": DRIVER_JAVA_OPTIONS}
    os.environ.update({
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        "SPARK_GRAFT_CPUS": str(settings["cores"]),
        "SPARK_DRIVER_MEMORY": f"{settings['driver_mem_mb']}m",
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp}",
        "PYSPARK_SUBMIT_ARGS":
            f'--driver-java-options "{DRIVER_JAVA_OPTIONS}" pyspark-shell',
    })
    tempfile.tempdir = None  # re-read TMPDIR
    return settings


def _start_spark(name: str, cores: int):
    from pdf_parser_spark.session import get_spark

    spark = get_spark(f"perfbench-{name}", cpus=str(cores))
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _timed(fn, *args) -> tuple:
    t0 = time.perf_counter()
    out = fn(*args)
    return time.perf_counter() - t0, out


def _shutdown() -> None:
    """Stop the active Spark context, then the JVM, and wait for the JVM
    to exit."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the JVM exits on end of input
        proc.wait(timeout=60)
    SparkContext._gateway = SparkContext._jvm = None


def _stop_processes() -> None:
    """Stop every process the run started and wait for each to end: the
    resource tracker of the spawned input workers (it ignores SIGTERM and
    would otherwise outlive this process), then anything still below it."""
    from multiprocessing import resource_tracker

    from perfbench.host import stop_descendants

    resource_tracker._resource_tracker._stop()  # noqa: SLF001 — no public stop
    left = stop_descendants()
    if left:
        print(f"perfbench: stopped {len(left)} leftover processes: {left}",
              file=sys.stderr)


def _exit_on_sigterm(signum, frame) -> None:
    raise SystemExit(128 + signum)  # runs the clean-up in main's finally


def _measure(wl, seconds: float, k: int, tracer=None) -> list:
    """Closed loop for ``seconds`` of timed work; one sample per iteration."""
    from perfbench.host import PeakRss, tree_cpu_s

    pid = os.getpid()
    samples: list = []
    while not samples or sum(s["wall_s"] for s in samples) < seconds:
        wl.before(k)
        wl.iteration = k
        cpu0 = tree_cpu_s(pid)
        rss = PeakRss(pid).start()
        sid, state = None, None
        t0 = time.perf_counter()
        try:
            if tracer is None:
                state = wl.run(k)
            else:
                with tracer.span("iteration", k=k) as sid:
                    state = wl.run(k)
        except Exception:  # noqa: BLE001 — a failed iteration fails all its turns
            traceback.print_exc()
        wall = time.perf_counter() - t0
        peak = rss.stop()
        cpu = tree_cpu_s(pid) - cpu0
        failed = wl.all_keys()
        if state is not None:
            try:
                failed = wl.check(state)
            except Exception:  # noqa: BLE001
                traceback.print_exc()
            wl.cleanup(state)
        samples.append({"k": k, "wall_s": wall, "cpu_s": cpu, "peak_rss_mb": peak,
                        "failed": len(failed), "span": sid})
        k += 1
    return samples


def _per_layer(wl, tracer, stats, traced: list, cores: int, replay: dict,
               py_task_s: float) -> dict:
    from perfbench.layers import attach, layer_metrics, split_metrics

    call_us = {}
    for call, tools in wl.call_tools.items():
        us = ({t: wl.corpus.parse_us_per_turn for t in tools}
              if call == "spans.boilerplate_spans" else replay)
        call_us[call] = {t: (n, us[t]) for t, n in tools.items()}
    per_iter = []
    for s in traced:
        calls = attach(tracer, stats, s["span"], call_us, py_task_s)
        per_iter.append({**layer_metrics(calls, s["wall_s"], cores, py_task_s),
                         **split_metrics(tracer, s["span"])})
    for s, m in zip(traced, per_iter):
        s["layers"] = m
    return {k: statistics.median(m[k] for m in per_iter) for k in per_iter[0]}


def _traced(wl, seconds: float, run_id: str, cores: int, untraced_wall: float):
    """The no-op Python probe, traced iterations, the driver replay, and a
    1-core pass for the scaling figure. Returns (metrics, tracer, samples
    of these iterations)."""
    from perfbench.layers import probe_py_task_s, replay_us_per_turn
    from perfbench.sparkstats import SparkStats
    from perfbench.spantrace import Tracer
    from perfbench.workloads import UNTIMED_GROUP

    stats = SparkStats(wl.spark)
    py_task_s = probe_py_task_s(wl.spark, stats, f"{run_id}/probe", cores)
    wl.spark.sparkContext.setJobGroup(UNTIMED_GROUP, "")
    tracer = Tracer(run_id)
    wl.tracer = tracer
    traced = _measure(wl, seconds, 1000, tracer)
    wl.tracer = None
    replay = replay_us_per_turn(wl.corpus.df)
    metrics = _per_layer(wl, tracer, stats, traced, cores, replay, py_task_s)
    traced_wall = statistics.median(s["wall_s"] for s in traced)
    metrics.update({
        "extract.page_us_per_turn": replay["page/v1"],
        "extract.html_us_per_turn": replay["html/v1"],
        "extract.plain_us_per_turn": replay["plain"],
        "boilerplate.parse_us_per_turn": wl.corpus.parse_us_per_turn,
        "probe.py_task_s": py_task_s,
        "trace.wall_s": traced_wall,
        "trace.untraced_wall_s": untraced_wall,
        "trace.overhead_s": traced_wall - untraced_wall,
    })
    # 1 -> cores scaling: the same iteration on a local[1] session
    wl.spark.stop()
    wl.spark = _start_spark(wl.name, 1)
    wl.before(2000)
    wl.cleanup(wl.run(2000))
    single = _measure(wl, 0, 2001)
    metrics["extract.scaling_eff_1to4"] = single[0]["wall_s"] / (cores * untraced_wall)
    return metrics, tracer, traced + single


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "pdf_parser_spark")):
        print("perfbench: pdf_parser_spark/ is missing from this checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench import host
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    host.become_subreaper()
    signal.signal(signal.SIGTERM, _exit_on_sigterm)
    run_id = f"{args.workload}-s{args.seed}-{int(time.time())}-{os.getpid()}"
    work = os.path.join(ROOT, "perfbench", ".work", run_id)
    settings = _environment(work)
    cores = settings["cores"]
    try:
        t0 = time.perf_counter()
        wl = WORKLOADS[args.workload](work, args.seed, cores)
        # the JVM starts while the inputs and oracle answers are made
        with ThreadPoolExecutor(1) as pool:
            started = pool.submit(_timed, _start_spark, args.workload, cores)
            wl.make_inputs()
            session_start_s, spark = started.result()
        inputs_s = time.perf_counter() - t0
        wl.spark = spark
        wl.prepare()
        prepared_s = time.perf_counter() - t0
        warmup_walls = []
        for k in range(-wl.warmups, 0):
            wl.before(k)
            t, state = _timed(wl.run, k)
            wl.cleanup(state)
            warmup_walls.append(t)
        setup_s = time.perf_counter() - t0
        setup_parts = {"session_start_s": session_start_s, "gen_s": wl.corpus.gen_s,
                       "oracle_s": wl.corpus.oracle_s, "inputs_s": inputs_s,
                       "prepare_s": prepared_s - inputs_s,
                       "warmup_s": setup_s - prepared_s, "warmup_walls_s": warmup_walls}

        steal0, load0 = host.steal_s(), host.loadavg()
        samples = _measure(wl, args.seconds, 0)
        # host context of the timed loop, kept with every result so a drift
        # between runs can be told apart from a change in the program
        host_ctx = {"loadavg_start": load0, "loadavg_end": host.loadavg(),
                    "steal_s": host.steal_s() - steal0}
        attempted = wl.turns * len(samples) + wl.setup_attempted
        failed = sum(s["failed"] for s in samples) + len(wl.setup_failed)
        wall = statistics.median(s["wall_s"] for s in samples)
        record = {"run": run_id, "workload": args.workload, "seed": args.seed,
                  "settings": settings, "turns": wl.turns,
                  "tool_turns": wl.corpus.tool_turns, "call_tools": wl.call_tools,
                  "setup_parts": setup_parts, "host": host_ctx,
                  "samples": samples}
        results = os.path.join(ROOT, "perfbench", "results")
        os.makedirs(results, exist_ok=True)
        if args.trace == 0:
            units = END_TO_END
            metrics = {
                "setup_s": setup_s,
                "wall_s": wall,
                "turns_per_s": wl.turns / wall,
                "cpu_s": statistics.median(s["cpu_s"] for s in samples),
                "peak_rss_mb": statistics.median(s["peak_rss_mb"] for s in samples),
            }
        else:
            units = PER_LAYER
            metrics, tracer, traced = _traced(wl, args.seconds, run_id, cores, wall)
            tracer.write(os.path.join(results, f"{run_id}.spans.jsonl"))
            record["traced_samples"] = traced
            attempted += wl.turns * len(traced)
            failed += sum(s["failed"] for s in traced)
            metrics.update({
                "session.start_s": session_start_s,
                "generator.gen_s": wl.corpus.gen_s,
                "session.cores": float(cores),
                "session.driver_mem_mb": float(settings["driver_mem_mb"]),
                "host.nproc": float(os.cpu_count()),
                "host.loadavg": host.loadavg(),
                "host.steal_s": host.steal_s() - steal0,
                "check.fail_ratio": failed / attempted,
            })
        record.update(setup_s=setup_s, attempted=attempted, failed=failed,
                      fail_ratio=failed / attempted, metrics=metrics)
        with open(os.path.join(results, f"{run_id}.json"), "w", encoding="utf-8") as f:
            json.dump(record, f, indent=1)
    finally:
        signal.signal(signal.SIGTERM, signal.SIG_IGN)  # let the clean-up finish
        try:
            _shutdown()
        finally:
            _stop_processes()
            shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"perfbench": {k: record[k] for k in (
        "run", "workload", "seed", "settings", "turns", "fail_ratio", "host")},
        "samples": len(samples)}))
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
