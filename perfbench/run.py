"""Layered benchmark of the engine.

    python3 perfbench/run.py --workload curation --seed 1 --seconds 5 --trace 0

Runs one workload's query list in repeated passes on one SparkSession
and prints, as the last line of standard output, one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end ones (setup_s and pass_cpu_s in CPU seconds,
and peak_rss_mb, the resident memory outside the fixed driver heap);
with ``--trace 1`` the per-layer ones, plus the wall-clock pass metrics
(pass_s, pass_s_tail, input_rows_per_s), fail_ratio and the box's CPU
steal, taken from the untraced passes the traced run alternates with its
traced ones. The line before it holds
run details: set-up wall time, every pass's wall and CPU time, the input
tables' files, rows and bytes, and per-query times.

``--make-golden`` regenerates ``golden.json`` (fingerprints of every
workload query, cross-checked against DuckDB where the engine has an
oracle); it is a maintenance command, not a benchmark run.
"""

from __future__ import annotations

import argparse
import json
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parent
REPO = BENCH.parent


def main() -> int:
    sys.path.insert(0, str(BENCH))
    from workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=5.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--make-golden", action="store_true")
    args = ap.parse_args()

    missing = [p for p in ("rws_data_ingester_spark/__init__.py", "bench.py")
               if not (REPO / p).is_file()]
    if missing:
        print(f"perfbench: engine sources not found next to perfbench/: {missing}",
              file=sys.stderr)
        return 2

    import harness

    if args.make_golden:
        golden = harness.make_golden()
        harness.GOLDEN.write_text(json.dumps(golden, indent=1, sort_keys=True) + "\n")
        return 0
    if args.workload is None:
        ap.error("--workload is required")

    bench = harness.Bench(args.workload, args.seed, args.seconds, bool(args.trace))
    try:
        details, metrics = bench.main()
    finally:
        bench.stop_spark()
        bench.cleanup()
    print(json.dumps(details))
    print(json.dumps({
        "correct": bench.failed == 0,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
