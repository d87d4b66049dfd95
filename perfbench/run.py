#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Generates the workload's inputs from ``--seed`` under ``.perfbench/``
in the checkout, starts the engine's Spark session as local[nproc]
(set up and warmed three times; the median is ``setup_s``), runs passes
of the workload from one closed-loop client thread for ``--seconds``,
checks the outputs, and prints one JSON line last:
``{"correct", "attempted", "failed", "metrics"}``.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` reports the
per-layer metrics: its sessions run with the Spark UI on, and after the
same untraced passes it runs traced passes in the same session with
spans around every call into an engine module, attributes Spark jobs
and stage metrics to the spans, writes the spans to
``.perfbench/traces/`` and reports tracing overhead as traced minus
untraced ``wall_s``.
See perfbench/README.md for the workloads and metric definitions.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main(argv: list[str] | None = None) -> int:
    sys.path[:0] = [HERE, ROOT]
    from workloads import PARTS, Workload

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(PARTS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    try:
        import yelp_etl_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the engine is not importable from {ROOT}: {e}", file=sys.stderr)
        return 2

    import harness
    import metrics
    from spans import Tracer

    run_id = f"{args.workload}-{args.seed}-{os.getpid()}"
    bench_dir = os.path.join(ROOT, ".perfbench")
    work = os.path.join(bench_dir, run_id)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    harness.isolate_scratch(work, ROOT)
    spark = None
    phases = {"start": time.perf_counter()}
    try:
        tracer = Tracer(run_id, enabled=False)
        w = Workload(args.workload, work, args.seed, tracer)
        w.generate()
        phases["generated"] = time.perf_counter()
        spark, setups, starts = harness.setup(w.warmup, ui=bool(args.trace))
        phases["set_up"] = time.perf_counter()
        attempted, failures = w.check(spark, first=True)
        phases["checked_first"] = time.perf_counter()
        passes = harness.run_passes(lambda p, i: w.run_pass(spark, p, i), args.seconds,
                                    prepare=lambda i: w.prepare(spark, i))
        phases["measured"] = time.perf_counter()
        a, f = w.check(spark, first=False)
        attempted, failures = attempted + a, failures + f
        phases["checked"] = time.perf_counter()
        e2e = metrics.end_to_end(w, passes, setups)
        peak_rss_mb = harness.peak_rss_bytes() / 2**20
        traced = []
        if args.trace:
            tracer.enabled = True
            tracer.spark = spark
            w.trace_hooks(tracer)
            traced = harness.run_passes(lambda p, i: w.run_pass(spark, p, i), args.seconds,
                                        prepare=lambda i: w.prepare(spark, 1000 + i),
                                        span=tracer.span)
            tracer.unpatch()
            tracer.attribute_stages()
        # every operation of every pass, traced or not, and every failure
        # the parts recorded during them
        attempted += sum(len(v) for p in passes + traced for v in p.ops.values())
        failures += w.failures
        if args.trace:
            layers = metrics.per_layer(w, tracer, passes, starts, e2e, peak_rss_mb,
                                       len(failures) / attempted)
            os.makedirs(os.path.join(bench_dir, "traces"), exist_ok=True)
            tracer.dump(os.path.join(bench_dir, "traces", f"{run_id}.json"),
                        {"workload": args.workload, "seed": args.seed, "metrics": layers})
        failed = len(failures)
        for f in failures:
            print(f"FAILED {f}", file=sys.stderr)
        result = {
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": layers if args.trace else e2e,
        }
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        if spark is not None:
            harness.stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)
    phases["stopped"] = time.perf_counter()
    t0 = phases.pop("start")
    phases = {k: round(v - t0, 2) for k, v in phases.items()}
    print(json.dumps({**metrics.detail(args.workload, passes, setups), "phases_s": phases}),
          file=sys.stderr)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
