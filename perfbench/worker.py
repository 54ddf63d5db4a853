"""One benchmark run inside one process: start Spark through the engine's
session factory, set the workload up, measure one timed window (three in
a traced run: untraced, traced, untraced), check the outputs, write the
result.

Started by ``perfbench/run.py``, which owns the scratch directory and the
process group; not meant to be run by hand.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import time

from perfbench import stats
from perfbench.core import END_TO_END, PER_LAYER, Context, Window
from perfbench.trace import Tracer, peak_rss_mb

MODULES = {
    "summary_reads": "perfbench.reads",
    "event_ingest": "perfbench.ingest",
    "corpus_funnel": "perfbench.funnel",
}


def end_to_end(w: Window, setup_s: float) -> tuple[dict, dict]:
    """The four end-to-end metrics, plus how the tail was taken."""
    t = stats.tail(w.sample) or stats.worst(w.sample)
    metrics = {
        "setup_s": setup_s,
        "throughput_per_s": w.throughput,
        "latency_p50_s": stats.finite_or(stats.p50(w.sample), w.wall_s),
        "latency_tail_s": stats.finite_or(t.value, w.wall_s),
    }
    detail = {"tail_pct": round(t.pct, 2), "tail_n": t.n, "tail_beyond": t.beyond,
              "tail_rule": t.rule}
    return metrics, detail


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(MODULES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--t0", type=float, required=True)
    ap.add_argument("--scratch", required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args(argv)
    started = time.time()

    from streamsum_spark.session import get_spark

    t = time.perf_counter()
    spark = get_spark("perfbench")
    session_s = time.perf_counter() - t
    spark.sparkContext.setLogLevel("ERROR")
    try:
        ctx = Context(spark, args.seed, args.seconds, args.scratch)
        wl = importlib.import_module(MODULES[args.workload]).Workload(ctx)
        t = time.perf_counter()
        wl.setup()
        phases = {"launch_s": started - args.t0, "session_s": session_s,
                  "workload_s": time.perf_counter() - t}
        base = wl.window(Tracer(spark.sparkContext, False))
        setup_s = base.first_op - args.t0
        t = time.perf_counter()
        problems = wl.check(base)
        phases["check_s"] = time.perf_counter() - t
        e2e, detail = end_to_end(base, setup_s)
        result_window = base
        if args.trace:
            # untraced windows on both sides of the traced one, so the
            # overhead estimate is not just the process warming up
            tracer = Tracer(spark.sparkContext, True)
            traced = wl.window(tracer)
            problems += wl.check(traced)
            again = wl.window(Tracer(spark.sparkContext, False))
            problems += wl.check(again)
            untraced_tput = (base.throughput + again.throughput) / 2
            layers = {name: 0.0 for name in PER_LAYER}
            layers.update(wl.untimed_layers())
            layers.update(traced.layers)
            layers["session.start_s"] = session_s
            layers["process.peak_rss_mb"] = peak_rss_mb(spark.sparkContext)
            layers["trace.overhead_share"] = 1.0 - traced.throughput / untraced_tput
            unknown = set(layers) - set(PER_LAYER)
            if unknown:
                raise RuntimeError(f"unregistered per-layer metrics: {sorted(unknown)}")
            metrics = {k: {"value": float(layers[k]), "unit": PER_LAYER[k]} for k in PER_LAYER}
            tracer.write(os.path.join(args.out, f"{args.workload}-seed{args.seed}-spans.jsonl"))
            result_window = traced
        else:
            metrics = {k: {"value": float(e2e[k]), "unit": END_TO_END[k]} for k in END_TO_END}
        detail.update(
            workload=args.workload, seed=args.seed, work_unit=wl.WORK_UNIT,
            phases={k: round(v, 3) for k, v in phases.items()},
            untraced={k: round(v, 6) for k, v in e2e.items()},
            problems=problems[:20], **wl.detail(result_window),
        )
        print(json.dumps({"perfbench_detail": detail}), flush=True)
        result = {
            "correct": not problems,
            "attempted": result_window.attempted,
            "failed": result_window.failed,
            "metrics": metrics,
        }
    finally:
        spark.stop()
    with open(os.path.join(args.scratch, "result.json"), "w") as fh:
        json.dump(result, fh)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
