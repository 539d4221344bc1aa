#!/usr/bin/env python3
"""geowarp-spark benchmark.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout (the directory holding geowarp_spark/).
Workloads: pages_join, tiff_mosaic (see workloads.py).
Load is a closed loop with one client: a run submits the workload's ops
one after another, each waiting for the previous, on a session of
local[nproc] task threads.

--trace 0  set up (session start, input generation and oracles three
           times, one discarded warm-up run), then repeat full runs for
           --seconds and report the end-to-end metrics: run_s (median
           run wall), setup_s, items_per_s and peak_rss_mb (the JVM's
           high-water RSS).
--trace 1  for every workload in turn: set up, warm up, then an untraced,
           a traced (spans plus per-op status-store deltas) and another
           untraced run, then the single-layer probes; report every
           per-layer metric and write the spans to
           .bench_out/trace-<seed>.json.

Every output of every run is checked against an oracle; a failed op (an
exception, a timeout or a mismatch) is counted in "failed" and never
stops the other ops or workloads.  The last stdout line is the JSON
result.  Temporary files live under .bench_work/ and are removed on exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import traceback
from statistics import median

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_work")
OUT = os.path.join(ROOT, ".bench_out")
SETUP_REPS = 3
ORDER = ("pages_join", "tiff_mosaic")
# gc_share is GC time over task run time: small ops often see no GC at
# millisecond resolution, and a time that always reads 0 says nothing
OP_METRICS = (("plan_s", "s"), ("exec_s", "s"), ("busy_s", "s"), ("gc_share", "ratio"),
              ("shuffle_mb", "MB"), ("failed_tasks", "count"))


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def _report_failures(results) -> int:
    bad = [r for r in results if not r.ok]
    for r in bad:
        log(f"FAILED {r.group}: {r.error}")
    return len(bad)


def timed(name: str, seed: int, seconds: float) -> dict:
    from harness import Tracer, jvm_pid, peak_rss_mb, run_ops, start_session, stop_session
    from workloads import WORKLOADS

    t0 = time.perf_counter()
    spark = start_session(WORK)
    start_s = time.perf_counter() - t0
    walls, attempted, failed = [], 0, 0
    try:
        tracer = Tracer(False)
        wl = WORKLOADS[name](spark, seed, WORK, tracer)
        setup_times, digests = [], set()
        for _ in range(SETUP_REPS):
            t = time.perf_counter()
            digests.add(wl.setup())
            setup_times.append(time.perf_counter() - t)
        if len(digests) != 1:
            raise RuntimeError("one seed generated different inputs across setups")
        ops = wl.ops()
        warm, res = run_ops(spark, ops, tracer, "warmup", {})
        attempted, failed = len(res), _report_failures(res)
        setup_s = start_s + median(setup_times) + warm
        deadline = time.perf_counter() + seconds
        while True:
            wall, res = run_ops(spark, ops, tracer, f"r{len(walls)}", {})
            walls.append(wall)
            attempted += len(res)
            failed += _report_failures(res)
            if time.perf_counter() >= deadline:
                break
        rss_mb = peak_rss_mb(jvm_pid(spark))
    finally:
        stop_session(spark)
    run_s = median(walls)
    log(f"{name} seed={seed}: run_s median of {len(walls)} = {run_s:.3f} "
        f"({wl.items} {wl.item} per run) "
        f"(runs {', '.join(f'{w:.2f}' for w in walls)}), setup_s {setup_s:.2f} "
        f"(start {start_s:.2f}, setup median {median(setup_times):.2f}, warm-up {warm:.2f})")
    return {"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": {
        "run_s": {"value": run_s, "unit": "s"},
        "setup_s": {"value": setup_s, "unit": "s"},
        "items_per_s": {"value": wl.items / run_s, "unit": "1/s"},
        "peak_rss_mb": {"value": rss_mb, "unit": "MB"},
    }}


def traced(seed: int) -> dict:
    from harness import StageReader, Tracer, run_ops, start_session, stop_session
    from probes import run_probes
    from workloads import WORKLOADS

    tracer = Tracer(True)
    quiet = Tracer(False)
    metrics: dict[str, float] = {}
    probe_vals: dict[str, list[float]] = {}
    summary: dict[str, dict] = {}
    attempted = failed = 0
    spark = None
    try:
        for name in ORDER:
            with tracer.span(f"workload.{name}", "bench", workload=name):
                if spark is None:
                    with tracer.span("session.start", "session") as sp:
                        spark = start_session(WORK)
                    metrics["session.start_s"] = sp.dur
                else:
                    with tracer.span("session.restart", "session"):
                        spark.stop()
                        spark = start_session(WORK)
                try:
                    stages = StageReader(spark)
                    wl = WORKLOADS[name](spark, seed, WORK, tracer)
                    with tracer.span("setup", "bench"):
                        wl.setup()
                    ops = wl.ops()
                    runs = {}
                    # untraced runs on both sides of the traced one, so the
                    # overhead estimate is not skewed by residual warm-up
                    for kind, tr in (("warmup", quiet), ("plain", quiet), ("traced", tracer),
                                     ("plain2", quiet)):
                        runs[kind] = run_ops(spark, ops, tr, f"{name}.{kind}", {})
                        attempted += len(runs[kind][1])
                        failed += _report_failures(runs[kind][1])
                    summary[name] = _op_metrics(wl, runs, stages, tracer, metrics)
                    with tracer.span("probes", "bench"):
                        for k, v in run_probes(spark, seed, WORK, tracer).items():
                            probe_vals.setdefault(k, []).append(v)
                except Exception:
                    failed += 1
                    attempted += 1
                    log(f"workload {name} failed:\n{traceback.format_exc()}")
    finally:
        if spark is not None:
            stop_session(spark)
    for name in summary:
        span = next(s for s in tracer.spans if s.name == f"workload.{name}")
        summary[name]["workload_self_s"] = tracer.self_times(span.id)
    metrics.update({k: median(vs) for k, vs in probe_vals.items()})
    _write_trace(seed, tracer, summary)
    names = per_layer_names()
    missing = [n for n in names if n not in metrics]
    if missing:
        log(f"no value for {len(missing)} per-layer metrics, e.g. {missing[:3]}")
    return {"correct": failed == 0 and not missing, "attempted": max(attempted, 1),
            "failed": failed,
            "metrics": {n: {"value": metrics.get(n, 0.0), "unit": unit}
                        for n, unit in names.items()}}


def _op_metrics(wl, runs, stages, tracer, metrics) -> dict:
    """Per-op metrics of the traced run (status-store deltas attached to
    the op spans), the workload's useful-work ratios, its tracing
    overhead and its per-layer self-time breakdown."""
    plain_wall = (runs["plain"][0] + runs["plain2"][0]) / 2
    traced_wall, results = runs["traced"]
    run_id = f"{wl.name}.traced"
    op_spans = {s.name[3:]: s for s in tracer.spans if s.run == run_id and s.name.startswith("op.")}
    ops = {}
    for r in results:
        st = stages.group_stats(r.group)
        st["result_rows"] = len(r.value) if isinstance(r.value, list) else None
        if r.name in op_spans:
            op_spans[r.name].attrs.update(st)
        vals = {"plan_s": r.plan_s, "exec_s": r.exec_s, "busy_s": st["busy_s"],
                "gc_share": st["gc_s"] / max(st["busy_s"], 1e-3),
                "shuffle_mb": st["shuffle_bytes"] / 1e6,
                "failed_tasks": st["failed_tasks"]}
        for m, _unit in OP_METRICS:
            metrics[f"operators.{r.name}.{m}"] = vals[m]
        ops[r.name] = dict(vals, ok=r.ok, error=r.error, stages=st["stages"],
                           jobs=st["jobs"], shuffle_write_records=st["shuffle_write_records"])
    if wl.name == "pages_join" and ops["knn"]["ok"]:
        n = len(next(r.value for r in results if r.name == "knn"))
        metrics["operators.knn.shuffle_rows_per_result"] = (
            ops["knn"]["shuffle_write_records"] / max(n, 1))
    if wl.name == "tiff_mosaic":
        metrics["operators.warp.partials_per_tile"] = float(wl.partials_per_tile)
        c = ops["commit"]
        metrics["plans.commit_s"] = c["plan_s"] + c["exec_s"]
        metrics["plans.bytes_written_mb"] = wl.commit_bytes / 1e6
        metrics["plans.write_amp"] = wl.commit_bytes / max(wl.commit_payload, 1)
    metrics[f"trace.overhead_s.{wl.name}"] = traced_wall - plain_wall
    run_span = next(s for s in tracer.spans if s.name == f"run.{run_id}")
    self_t = tracer.self_times(run_span.id)
    named = sum(v for k, v in self_t.items() if k != "bench")
    coverage = named / max(traced_wall, 1e-9)
    log(f"{wl.name}: run_s untraced {plain_wall:.3f} traced {traced_wall:.3f}; "
        f"layer self time covers {100 * coverage:.1f}% of the traced run")
    return {"run_s_untraced": plain_wall, "run_s_traced": traced_wall,
            "trace_overhead_s": traced_wall - plain_wall, "run_self_s": self_t,
            "run_self_coverage": coverage, "items": wl.items, "ops": ops}


def per_layer_names() -> dict[str, str]:
    """Every per-layer metric name -> unit (the BENCHMARK.json list)."""
    from workloads import WORKLOADS

    out = {}
    for name in ORDER:
        for op in WORKLOADS[name].OP_NAMES:
            for m, unit in OP_METRICS:
                out[f"operators.{op}.{m}"] = unit
    out.update({"kernels.warp_ms.near": "ms", "kernels.warp_ms.bilinear": "ms",
                "kernels.warp_ms.median": "ms", "kernels.proj_mpts_s": "Mpts/s",
                "sources.tiff_decode_mb_s": "MB/s", "sources.jpeg_decode_mb_s": "MB/s",
                "sources.tiff_encode_s": "s", "grid.tiles_df_s": "s",
                "grid.cover_ranges_s": "s", "plans.commit_s": "s",
                "plans.bytes_written_mb": "MB", "plans.write_amp": "ratio",
                "session.start_s": "s", "operators.warp.partials_per_tile": "ratio",
                "operators.knn.shuffle_rows_per_result": "ratio"})
    for name in ORDER:
        out[f"trace.overhead_s.{name}"] = "s"
    return out


def _write_trace(seed: int, tracer, summary: dict) -> None:
    os.makedirs(OUT, exist_ok=True)
    path = os.path.join(OUT, f"trace-{seed}.json")
    with open(path, "w") as f:
        json.dump({"seed": seed, "workloads": summary, "spans": tracer.to_json()}, f, indent=1)
    log(f"spans and per-layer breakdown written to {os.path.relpath(path, ROOT)}")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=ORDER)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "geowarp_spark", "__init__.py")):
        log(f"geowarp_spark/ not found in {ROOT}: run from a full checkout")
        return 2
    sys.path.insert(0, ROOT)
    from harness import clean_dir, prepare_env

    clean_dir(WORK)
    prepare_env(WORK)
    try:
        if args.trace:
            result = traced(args.seed)
        else:
            result = timed(args.workload, args.seed, args.seconds)
    finally:
        shutil.rmtree(WORK, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
