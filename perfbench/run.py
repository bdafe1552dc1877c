#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload curation_iterative --seed 1 --seconds 28 --trace 0

Run from the root of a checkout.  Progress goes to stderr; stdout ends
with a summary line (every metric, with quartiles and errors) and then
one result line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end metrics of
BENCHMARK.json, with ``--trace 1`` its per-layer metrics.
"""

from __future__ import annotations

import argparse
import json
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--timed-sf", type=float, default=None,
                    help="override the workload's timed scale factor (smoke runs)")
    args = ap.parse_args(argv)

    missing = [p for p in ("amazon_books_review_spark", "scripts/gen_sf.py")
               if not (ROOT / p).exists()]
    if missing:
        print(f"perfbench: not a checkout of the engine, missing {missing}",
              file=sys.stderr)
        return 2
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        print(f"perfbench: unknown workload {args.workload}", file=sys.stderr)
        return 2

    sys.path.insert(0, str(ROOT))
    from perfbench.harness import run

    summary = run(ROOT, args.workload, args.seed, args.seconds, bool(args.trace),
                  timed_sf=args.timed_sf)
    kind = "per_layer" if args.trace else "end_to_end"
    values = summary["per_layer"] if args.trace else summary["end_to_end"]
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
               for m in spec[kind]}
    print(json.dumps(summary, default=str))
    print(json.dumps({
        "correct": summary["failed"] == 0,
        "attempted": summary["attempted"],
        "failed": summary["failed"],
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
