"""CDC benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Runs one workload (bulk_replay, microbatch_tail, binlog_rollback_sql)
on inputs generated from --seed, checks its output against an
independent oracle, and prints one JSON line: with --trace 0 the
end-to-end metrics, with --trace 1 the per-layer metrics of a traced
run (plus its tracing overhead). Exits non-zero, printing no result,
when the engine package is missing or the run cannot complete.
See perfbench/METRICS.md for every metric's definition.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

import harness as H

WORKLOADS = ("bulk_replay", "microbatch_tail", "binlog_rollback_sql")


def parse_args(argv: list[str] | None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full",
                    help="input size; tiny is for the benchmark's own tests")
    return ap.parse_args(argv)


def measure(ctx_args: argparse.Namespace, spark, work: str, t_session: float, sampler) -> dict:
    """Set up, run and check one workload; returns the result object."""
    import importlib

    mod = importlib.import_module(ctx_args.workload)
    ctx = H.Ctx(spark, work, ctx_args.seed, H.CORES, mod.SIZES[ctx_args.size])
    t0 = time.perf_counter()
    st = mod.setup(ctx)
    setup_s = t_session + time.perf_counter() - t0
    t1 = time.perf_counter()
    exp = mod.prepare(ctx, st)
    print(f"perfbench: session {t_session:.1f}s setup {t1 - t0:.1f}s "
          f"oracle inputs {time.perf_counter() - t1:.1f}s", file=sys.stderr)
    if not ctx_args.trace:
        t2 = time.perf_counter()
        out = mod.run(ctx, st, exp, ctx_args.seconds)
        print(f"perfbench: run and check {time.perf_counter() - t2:.1f}s", file=sys.stderr)
        sampler.stop()
        values = out.end_to_end(setup_s, sampler.peak_bytes)
        units = H.END_TO_END
        correct = out.failed == 0
    else:
        tr = H.Tracer(spark)
        tr.wrap_engine()
        try:
            out, layer = mod.trace(ctx, st, exp, ctx_args.seconds, tr)
        finally:
            tr.close()
        sampler.stop()
        values = dict.fromkeys(H.PER_LAYER, 0.0)
        values.update(layer)
        values["bench.error_rate"] = out.failed / max(out.attempted, 1)
        bad = H.bypass_violations(ctx_args.workload, values, tr.calls)
        for b in bad:
            print(f"bypass violated: {b}", file=sys.stderr)
        units = H.PER_LAYER
        correct = out.failed == 0 and not bad
    for p in out.problems:
        print(f"check failed: {p}", file=sys.stderr)
    values = H.finite(values)
    return {
        "correct": bool(correct and out.attempted > 0),
        "attempted": int(out.attempted),
        "failed": int(out.failed),
        "metrics": {k: {"value": values[k], "unit": units[k][0]} for k in units},
    }


def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv)
    t_run = time.perf_counter()
    sys.path.insert(0, H.ROOT)
    import bingo2sql_spark  # noqa: F401  (fails here, before any work, without the engine)

    work = os.path.join(H.WORK_ROOT, f"{args.workload}-{os.getpid()}")
    H.fresh_dir(work)
    H.prepare_environment(work)
    spark = None
    sampler = None
    try:
        t0 = time.perf_counter()
        spark = H.start_spark(work, H.CORES)
        t_session = time.perf_counter() - t0
        sampler = H.RssSampler(spark.sparkContext._gateway.proc.pid).start()
        result = measure(args, spark, work, t_session, sampler)
    finally:
        if sampler is not None:
            sampler.stop()
        t_stop = time.perf_counter()
        if spark is not None:
            H.stop_spark(spark, sampler.seen if sampler else set())
        print(f"perfbench: teardown {time.perf_counter() - t_stop:.1f}s", file=sys.stderr)
        shutil.rmtree(work, ignore_errors=True)
        if not os.listdir(H.WORK_ROOT):
            os.rmdir(H.WORK_ROOT)
    print(f"perfbench: {args.workload} run took {time.perf_counter() - t_run:.1f}s", file=sys.stderr)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
