"""Benchmark entry point.

    python3 perfbench/run.py --workload cdc-steady --seed 1 --seconds 10 \\
        --trace 0

Runs one workload (``workloads.py``) through the engine's public API on
``local[nproc]``, checks its outputs against DuckDB (``oracle.py``), and
prints one JSON line on stdout as the last line:
``{"correct", "attempted", "failed", "metrics": {name: {value, unit}}}``.
``--seconds`` sets the timed iterations (``workloads.iterations``).
``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the
per-layer metrics of traced iterations interleaved with untraced ones.
Everything else - progress, Spark's own logs, and a one-line report
with tail percentiles, sample counts, loadavg before and after, and the
layer that holds most of a batch - goes to stderr; the report and the
spans are also written under ``.perfbench_work/reports/``.

Exit status is 0 when a result was printed (``correct`` may still be
false) and 1 when the run could not complete, e.g. in a directory
without the engine package.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import tempfile
import traceback

from workspace import (ROOT, Clock, REPORTS, TMP, Workspace, cpu_ticks,
                       loadavg, log)


def _parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["cdc-steady", "analytics"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--scale", choices=["full", "tiny"], default="full",
                    help="tiny: self-test sizes (perfbench/selftest.py)")
    return ap.parse_args(argv)


def _stop_gateway() -> None:
    """End the JVM that PySpark launched and wait for it."""
    try:
        from pyspark import SparkContext
    except ImportError:
        return
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway exits on stdin EOF
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 - fall back to killing it
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def _steal_share(before, after) -> float:
    """Stolen / (busy + stolen) CPU time over the run."""
    busy, steal = after[0] - before[0], after[1] - before[1]
    return round(steal / (busy + steal), 4) if busy + steal else 0.0


def main(argv=None) -> int:
    clock = Clock()
    args = _parse(argv)
    # stdout belongs to the result line: everything this process and
    # its children (the JVM, Python workers) print goes to stderr
    result_fd = os.dup(1)
    os.dup2(2, 1)
    sys.path.insert(0, ROOT)  # the engine package and bench.py
    os.makedirs(TMP, exist_ok=True)
    os.environ["TMPDIR"] = TMP
    tempfile.tempdir = None
    load_before, ticks_before = loadavg(), cpu_ticks()
    ws = Workspace(f"{args.workload}-s{args.seed}")
    try:
        import generate
        import metrics
        import workloads
        prof = (generate.TINY if args.scale == "tiny"
                else generate.PROFILES)[args.workload]
        log(f"{args.workload} seed={args.seed} seconds={args.seconds} "
            f"trace={args.trace} scale={args.scale}")
        run = workloads.WORKLOADS[args.workload](
            ws, args.seed, args.seconds, bool(args.trace), prof, clock)
        if args.trace:
            vals, report = metrics.layers(args.workload, run)
            units = dict(metrics.per_layer())
        else:
            vals, report = metrics.end_to_end(args.workload, run)
            units = dict(metrics.END_TO_END)
    except Exception:  # noqa: BLE001 - report and fail without a result
        traceback.print_exc()
        return 1
    finally:
        _stop_gateway()
        ws.close()
    failed = run.attempted if not run.correct else run.failed
    result = {"correct": run.correct, "attempted": run.attempted,
              "failed": failed,
              "metrics": {k: {"value": vals[k], "unit": u}
                          for k, u in units.items()}}
    report.update(workload=args.workload, seed=args.seed,
                  seconds=args.seconds, trace=args.trace, scale=args.scale,
                  loadavg_before=load_before, loadavg_after=loadavg(),
                  steal_share=_steal_share(ticks_before, cpu_ticks()),
                  notes=run.notes, metrics=result["metrics"])
    log("report " + json.dumps(report))
    name = (f"{args.workload}-seed{args.seed}-trace{args.trace}"
            f"-{os.getpid()}.json")
    with open(os.path.join(REPORTS, name), "w") as f:
        json.dump({**report, "spans": run.tracer.dump()
                   if args.trace else []}, f)
    with os.fdopen(result_fd, "w") as out:
        out.write(json.dumps(result) + "\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
