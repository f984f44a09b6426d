"""Benchmark command: one workload, one seed, closed loop, one process.

    python3 perfbench/run.py --workload frontier --seed 1 --seconds 10 --trace 0

Run from the repository root. Spark runs ``local[<cores>]`` with a JVM
heap sized for the host. The inputs come from ``--seed``; the engine sees
only generated inputs. After set-up and an untimed warm pass (which also
runs the once-per-invocation output checks) the command runs operations
one after another until ``--seconds`` have passed, checking each output.

With ``--trace 0`` the last stdout line carries the end-to-end metrics;
with ``--trace 1`` it carries the per-layer table instead, and the spans,
harvested operator metrics and table go to
``.perfbench_out/trace-<workload>-seed<seed>.json``. A traced run alternates
untraced and traced units of work so it can report its own overhead: mean
traced unit time minus mean untraced unit time.

The process exits 1 when any output check or operation failed. On every
way out it first stops the JVM and the Python workers under it and waits
for each to end.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import platform
import shutil
import signal
import sys
import time
import traceback
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORK = ROOT / ".perfbench_work"
OUT = ROOT / ".perfbench_out"
HEAP = "3g"  # fits next to the Python workers on a 15 GB host
SETUP_REPS = 3

END_TO_END_UNITS = {"setup_s": "s", "op_p50_s": "s", "items_per_s": "1/s"}


def _prepare_env() -> None:
    """Keep every file Spark, the JVM and Python write inside the checkout."""
    shutil.rmtree(WORK, ignore_errors=True)
    (WORK / "tmp").mkdir(parents=True)
    os.environ["TMPDIR"] = str(WORK / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(WORK / "spark-local")
    os.environ["SPARK_DRIVER_MEMORY"] = HEAP
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={WORK / 'tmp'} -XX:-UsePerfData"
    sys.path.insert(0, str(ROOT))


WORKLOADS = {
    "frontier": ("perfbench.frontier", "Frontier"),
    "crawl-fetch": ("perfbench.crawl", "CrawlFetch"),
    "contract-leaves": ("perfbench.contract", "ContractLeaves"),
}


def run_units(wl, tracer, seconds: float, trace: bool, failures: list, counts: dict):
    """Closed loop: whole units of ``wl.ops_per_unit`` operations until
    ``seconds`` have passed. In a traced run units alternate untraced /
    traced, untraced first, and at least three run (untraced, traced,
    untraced), so warm-up drift between units cancels out of the overhead.
    An operation fails when it raises or when one of its output checks
    fails."""
    ops = []  # (unit, traced, seconds, items, root span id or None, label)
    start, u = time.monotonic(), 0
    while True:
        traced = trace and u % 2 == 1
        tracer.enabled = traced
        wl.start_unit(u)
        for k in range(wl.ops_per_unit):
            i = u * wl.ops_per_unit + k
            root = len(tracer.spans) if traced else None
            ok, n_failures = True, len(failures)
            with tracer.operation(i, wl.name):
                t0 = time.monotonic()
                try:
                    n = wl.op(i)
                except Exception:  # one failed operation must not end the run
                    traceback.print_exc()
                    ok, n = False, 0
                dt = time.monotonic() - t0
            ok = ok and len(failures) == n_failures
            counts["attempted"] += 1
            counts["failed"] += 0 if ok else 1
            ops.append((u, traced, dt, n, root, wl.label(i)))
            if not ok:
                break
        n_failures = len(failures)
        n_checks = wl.end_unit(u)
        counts["attempted"] += n_checks
        counts["failed"] += min(n_checks, len(failures) - n_failures)
        u += 1
        if time.monotonic() - start >= seconds and (not trace or u >= 3):
            break
    tracer.enabled = False
    return ops


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    _prepare_env()
    from perfbench.common import RssSampler, Tracer, median, stop_spark, tail_percentile
    from perfbench.layers import PER_LAYER, mean

    module, cls = WORKLOADS[args.workload]
    workload_cls = getattr(importlib.import_module(module), cls)
    from webscraping_video_pipeline_spark.session import get_spark

    cores = len(os.sched_getaffinity(0))
    failures: list[str] = []
    counts = {"attempted": 0, "failed": 0}

    def fail(msg: str) -> None:
        print(f"CHECK FAILED: {msg}", file=sys.stderr)
        failures.append(msg)

    # a SIGTERM ends the run through the ``finally`` below, which stops the JVM
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    with RssSampler() as rss:
        try:
            t0 = time.monotonic()
            spark = get_spark(
                app_name="perfbench",
                cpus=cores,
                extra_conf={
                    "spark.local.dir": str(WORK / "spark-local"),
                    "spark.sql.warehouse.dir": str(WORK / "warehouse"),
                },
            )
            jvm_start_s = time.monotonic() - t0
            tracer = Tracer(spark, enabled=False)
            wl = workload_cls(spark, args.seed, tracer, WORK, fail)
            setup_times = []
            for _ in range(SETUP_REPS):
                t0 = time.monotonic()
                wl.setup()
                setup_times.append(time.monotonic() - t0)
            n_before = len(failures)
            t0 = time.monotonic()
            try:
                n_checks = wl.warm()
            except Exception:
                traceback.print_exc()
                failures.append("warm pass raised")
                n_checks = 1
            counts["attempted"] += n_checks
            counts["failed"] += min(n_checks, len(failures) - n_before)
            warm_s = time.monotonic() - t0
            t0 = time.monotonic()
            ops = run_units(wl, tracer, args.seconds, bool(args.trace), failures, counts)
            loop_s = time.monotonic() - t0
            wl.finish()
            if args.trace:
                layer_vals = {"jvm.start_s": jvm_start_s, **_trace_table(wl, tracer, ops, mean)}
                layer_vals["proc.peak_rss_mb"] = rss.peak_mb
        finally:
            stop_spark()
    shutil.rmtree(WORK, ignore_errors=True)

    plain = [o for o in ops if not o[1]]
    op_times = [o[2] for o in plain]
    tail = tail_percentile(op_times)
    context = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "host": platform.node(),
        "cores": cores,
        "heap": HEAP,
        "jvm_start_s": jvm_start_s,
        "setup_reps_s": setup_times,
        "warm_s": warm_s,
        "loop_s": loop_s,
        "peak_rss_mb": rss.peak_mb,
        "n_ops": len(op_times),
        "item": wl.item,
        "ops": [[label, round(dt, 4), n] for _, traced, dt, n, _, label in ops if not traced],
        "op_tail": {"pct": tail[0], "s": tail[1]} if tail else None,
        "failures": failures,
    }
    if args.trace:
        metrics = {k: {"value": float(layer_vals.get(k, 0.0)), "unit": u} for k, u in PER_LAYER.items()}
        OUT.mkdir(exist_ok=True)
        path = OUT / f"trace-{args.workload}-seed{args.seed}.json"
        path.write_text(
            json.dumps({"context": context, "layers": metrics, **tracer.dump()}, indent=1)
        )
        context["trace_file"] = str(path.relative_to(ROOT))
    else:
        values = {
            "setup_s": median(setup_times),
            "op_p50_s": median(op_times),
            "items_per_s": sum(o[3] for o in plain) / max(1e-9, sum(op_times)),
        }
        metrics = {k: {"value": v, "unit": END_TO_END_UNITS[k]} for k, v in values.items()}
    correct = counts["failed"] == 0 and not failures
    print(json.dumps({"context": context}))
    print(
        json.dumps(
            {
                "correct": correct,
                "attempted": counts["attempted"],
                "failed": counts["failed"],
                "metrics": metrics,
            }
        )
    )
    return 0 if correct else 1


def _trace_table(wl, tracer, ops, mean) -> dict:
    """Per-layer values from the traced units, plus tracing overhead: mean
    traced unit time minus mean untraced unit time."""
    units: dict[tuple[int, bool], float] = {}
    for u, traced, dt, *_ in ops:
        units[(u, traced)] = units.get((u, traced), 0.0) + dt
    plain = [t for (u, traced), t in units.items() if not traced]
    traced_units = [t for (u, traced), t in units.items() if traced]
    roots = [o[4] for o in ops if o[1]]
    out = wl.layers(tracer, roots)
    out["jvm.gc_s"] = mean(tracer.spans[r]["counters"]["jvm.gc_s"] for r in roots)
    out["jvm.gc_count"] = mean(tracer.spans[r]["counters"]["jvm.gc_count"] for r in roots)
    out["jvm.leaked_rdds"] = mean(tracer.spans[r]["counters"]["jvm.leaked_rdds"] for r in roots)
    overhead = mean(traced_units) - mean(plain)
    out["trace.overhead_s"] = overhead
    out["trace.overhead_ratio"] = overhead / mean(plain) if plain else 0.0
    return out


if __name__ == "__main__":
    sys.exit(main())
