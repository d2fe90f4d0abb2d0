"""sparkh3 benchmark: one seeded workload per run, end-to-end metrics
(``--trace 0``) or per-layer metrics from an outside-in trace
(``--trace 1``). The last line of stdout is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``.

    python3 perfbench/run.py --workload tile_ingest --seed 1 --seconds 12 --trace 0

Run it from the root of a checkout holding the ``sparkh3`` package.
"""

from __future__ import annotations

import argparse
import json
import shutil
import statistics
import sys
import time
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
SETUP_REPEATS = 3

# (name, unit) of the end-to-end metrics every workload reports
END_TO_END = [
    ("setup_s", "s"),
    ("peak_rss_mb", "MB"),
    ("throughput_per_s", "1/s"),
]


def end_to_end(ops, setup_s: float, peak_rss_bytes: int) -> dict[str, float]:
    return {
        "setup_s": setup_s,
        "peak_rss_mb": peak_rss_bytes / 2**20,
        "throughput_per_s": statistics.median(o.items / o.seconds for o in ops),
    }


def layer_metrics(spans: list[dict]) -> dict[str, float]:
    """Median over the timed operations of each span's counters, named
    ``<span>.<counter>``; a span's own time is ``action_s`` for the Spark
    action after a call and ``call_s`` otherwise."""
    per: dict[str, list[float]] = {}
    for rec in spans:
        if rec["kind"] == "op":
            continue
        base = rec["name"]
        vals = {("action_s" if rec["kind"] == "action" else "call_s"): rec["end"] - rec["start"]}
        for k, v in rec.items():
            if isinstance(v, (int, float)) and k not in ("id", "parent", "op", "start", "end"):
                vals[k] = v
        for k, v in vals.items():
            per.setdefault(f"{base}.{k}", []).append(float(v))
    return {k: statistics.median(v) for k, v in per.items()}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not (ROOT / "sparkh3" / "__init__.py").is_file():
        print(f"perfbench: no sparkh3 package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(1, str(ROOT))  # after this directory: its modules win
    import session
    from tracing import NullTracer, RssSampler, Tracer
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    work = ROOT / ".perfbench_work" / f"{args.workload}-{args.seed}-{time.time_ns()}"
    work.mkdir(parents=True)
    spark = None
    try:
        with RssSampler() as rss:
            t0 = time.perf_counter()
            spark = session.start(ROOT, work)
            t_start = time.perf_counter() - t0
            wl = WORKLOADS[args.workload](spark, work, args.seed)
            setups = []
            for _ in range(SETUP_REPEATS):
                t = time.perf_counter()
                wl.setup()
                setups.append(time.perf_counter() - t)
            # the first operation after start-up runs 3-5x slower (class
            # loading, plan compilation, first reads of the inputs, Python
            # worker start-up); with C1 only (session.py) later ones are
            # flat. One untimed operation on the same inputs, counted as
            # set-up; it also forks every Python worker the timed ones use
            t = time.perf_counter()
            wl.op(-1, NullTracer())
            t_warm = time.perf_counter() - t
            setup_s = t_start + statistics.median(setups) + t_warm

            tracer = Tracer(spark) if args.trace else NullTracer()
            ops, errors = [], 0
            deadline = time.perf_counter() + args.seconds
            i = 0
            # operations start until the window has passed, and the one
            # running at the deadline finishes, so a run times at least the
            # window
            while i == 0 or time.perf_counter() < deadline:
                try:
                    ops.append(wl.op(i, tracer))
                except Exception:  # an operation that fails counts; the run goes on
                    traceback.print_exc()
                    errors += 1
                i += 1
            attempted = i
        wrong = wl.check(ops).count(False) if ops else 0
        failed = errors + wrong
        e2e = end_to_end(ops, setup_s, rss.peak_bytes) if ops else {}

        print(f"# workload {wl.name}: seed {args.seed}, {attempted} ops attempted "
              f"({len(ops)} completed, {errors} raised, {wrong} wrong output) "
              f"in {args.seconds:g} s, trace={args.trace}")
        print("# operation seconds: " + ", ".join(f"{o.seconds:.2f}" for o in ops))
        print(f"# setup_s = session {t_start:.2f} + median of {SETUP_REPEATS} input builds "
              f"{statistics.median(setups):.2f} (all {', '.join(f'{x:.2f}' for x in setups)}) "
              f"+ warm operation {t_warm:.2f}")
        print("# peak memory by process: " + ", ".join(
            f"{c} {b / 2**20:.0f} MB" for c, b in sorted(rss.peak_by_command.items(), key=lambda x: -x[1])))
        print(f"# correctness: {'PASS' if failed == 0 else 'FAIL'}; "
              f"failed_ratio = {failed / attempted:.6g}")
        for name, unit in END_TO_END:
            if name in e2e:
                label = f"{wl.ITEMS}/s, " if name == "throughput_per_s" else ""
                print(f"{wl.name}  {name:<22} {e2e[name]:>14.6g} {unit}  ({label}n={len(ops)})")
        for name, (value, unit) in (wl.extra_metrics(ops) if ops else {}).items():
            print(f"{wl.name}  {name:<22} {value:>14.6g} {unit}  (n={len(ops)})")

        if args.trace:
            from kernelprobe import kernel_rates

            layers = layer_metrics(tracer.spans)
            layers.update(wl.layer_ratios(tracer.spans))
            inputs = wl.kernel_inputs()
            if inputs is not None:
                layers.update(kernel_rates(*inputs))
            for name, unit in END_TO_END:
                if name in e2e and name != "setup_s":
                    layers[f"traced.{name}"] = e2e[name]
            layers["trace.bookkeeping_ms_per_op"] = tracer.bookkeeping_s * 1e3 / max(len(ops), 1)
            for name in sorted(layers):
                print(f"{wl.name}  layer {name:<52} {layers[name]:>14.6g}")
            out = ROOT / ".perfbench_out" / f"spans-{wl.name}-seed{args.seed}.jsonl"
            tracer.write(out)
            print(f"# {len(tracer.spans)} spans written to {out.relative_to(ROOT)}")
            # every per-layer metric of BENCHMARK.json on every workload:
            # 0 where the span does not run on this one
            spec = json.loads((ROOT / "BENCHMARK.json").read_text())
            metrics = {
                m["name"]: {"value": float(layers.get(m["name"], 0.0)), "unit": m["unit"]}
                for m in spec["per_layer"]
            }
        else:
            metrics = {name: {"value": float(e2e[name]), "unit": unit} for name, unit in END_TO_END if name in e2e}
        result = {"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}
    finally:
        if spark is not None:
            session.stop(spark)
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
