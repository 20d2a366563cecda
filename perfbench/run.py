"""Benchmark entry point.

    python3 perfbench/run.py --workload {ingest,analyst} \\
        --seed N --seconds S --trace {0,1}

Run from the repository root. The run generates its inputs from
``--seed`` under ``.bench_work/`` in the current directory, runs one
workload against the package's public functions on local[nproc], checks
every output, prints one report line per metric (name, value, unit,
samples) and, last, one JSON object:

    {"correct": bool, "attempted": int, "failed": int,
     "metrics": {name: {"value": float, "unit": str}}}

With ``--trace 0`` the metrics are the end-to-end ones. With
``--trace 1`` the same measurement runs once, traced (bench-side spans,
a Spark job group per operation, query progress per trigger), and the
metrics are the per-layer ones. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import shutil
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ("ingest", "analyst")


def _fail(msg: str) -> int:
    print(f"perfbench: {msg}", file=sys.stderr)
    return 2


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if args.seconds <= 0:
        return _fail("--seconds must be positive")

    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "sparkstreamingtwitter_presidential_spark")):
        return _fail(f"no package to benchmark under {root}; run from the repository root")
    sys.path[:0] = [HERE, root]

    import harness

    work = os.path.join(root, ".bench_work", f"{args.workload}-{os.getpid()}")
    harness.prepare_env(work)
    ctx = harness.Ctx(seed=args.seed, seconds=args.seconds, trace=bool(args.trace),
                      work=work, cpus=harness.cpu_count())
    res = harness.Result()
    crashed = False
    try:
        ctx.session_start_s = harness.start_session(ctx)
        importlib.import_module(args.workload).run(ctx, res)
    except Exception as exc:  # noqa: BLE001 - report the failure as a result
        traceback.print_exc()
        res.check(False, f"run stopped: {exc!r}")
        crashed = True
    finally:
        harness.stop_session(ctx)
        shutil.rmtree(work, ignore_errors=True)

    for name, value, unit, n in res.report:
        print(f"{args.workload:8s} {name:40s} {value:14.4f} {unit:8s} n={n}")
    if res.tracer is not None:
        for layer, ms in sorted(res.tracer.self_times_ms().items()):
            print(f"{args.workload:8s} self_ms.{layer:32s} {ms:14.4f} ms")
        trace_dir = os.path.join(root, ".bench_work", "traces")
        os.makedirs(trace_dir, exist_ok=True)
        path = os.path.join(trace_dir, f"{args.workload}-seed{args.seed}-{int(time.time())}.json")
        with open(path, "w") as fh:
            json.dump([s.__dict__ for s in res.tracer.spans], fh)
    for e in res.errors:
        print(f"{args.workload:8s} FAILED {e}")
    share = res.failed / max(1, res.attempted)
    print(f"{args.workload:8s} {'failed_share':40s} {share:14.4f} {'ratio':8s} n={res.attempted}")

    metrics = res.layers if args.trace else res.e2e
    print(json.dumps({
        "correct": res.failed == 0,
        "attempted": max(1, res.attempted),
        "failed": res.failed,
        "metrics": {k: {"value": float(v), "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 1 if crashed else 0


if __name__ == "__main__":
    sys.exit(main())
