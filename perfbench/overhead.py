"""Tracing overhead: run one workload untraced and traced on the same
seed and print, per end-to-end metric, traced minus untraced.

    python3 perfbench/overhead.py --workload tile_ingest --seed 1 --seconds 12
"""

from __future__ import annotations

import argparse
import json
import subprocess
import sys
from pathlib import Path

RUN = Path(__file__).resolve().parent / "run.py"


def run(workload: str, seed: int, seconds: float, trace: int) -> dict:
    out = subprocess.run(
        [sys.executable, str(RUN), "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", str(trace)],
        check=True, stdout=subprocess.PIPE, text=True,
    ).stdout
    return json.loads(out.strip().splitlines()[-1])["metrics"]


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=12)
    args = ap.parse_args()
    plain = run(args.workload, args.seed, args.seconds, 0)
    traced = run(args.workload, args.seed, args.seconds, 1)
    for name, m in plain.items():
        t = traced.get(f"traced.{name}")
        if t is None:
            continue
        d = t["value"] - m["value"]
        print(f"{args.workload}  {name:<20} untraced {m['value']:>12.6g}  traced "
              f"{t['value']:>12.6g}  overhead {d:>+12.6g} {m['unit']} "
              f"({100 * d / m['value']:+.1f}%)")
    book = traced.get("trace.bookkeeping_ms_per_op")
    if book:
        print(f"{args.workload}  tracer bookkeeping {book['value']:.6g} ms per operation")
    return 0


if __name__ == "__main__":
    sys.exit(main())
