"""Run the benchmark over several seeds and summarise each metric.

    python3 cdcbench/spread.py --workloads backfill consume --seeds 1-10 [--trace]

For every workload and end-to-end metric it prints the median and the
interquartile range as a share of the median (the quantity the
benchmark's bounds are checked against). With ``--trace`` each seed also
gets a traced run, and the tracing overhead is reported per end-to-end
metric as the traced median minus the untraced median. Every raw result
line is appended to ``--out`` (JSON lines) when given.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _seeds(spec: str) -> list[int]:
    if "-" in spec:
        lo, hi = spec.split("-")
        return list(range(int(lo), int(hi) + 1))
    return [int(s) for s in spec.split(",")]


def run_once(workload: str, seed: int, seconds: int, trace: int) -> dict:
    t0 = time.perf_counter()
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        raise RuntimeError(f"{workload} seed {seed} exited {proc.returncode}:\n{proc.stderr[-3000:]}")
    out = json.loads(lines[-1])
    out["context"] = json.loads(lines[-2]) if len(lines) > 1 else None
    out.update(workload=workload, seed=seed, trace=trace,
               process_s=time.perf_counter() - t0)
    return out


def spread(values: list[float]) -> tuple[float, float]:
    """(median, IQR / median)."""
    med = statistics.median(values)
    q1, _, q3 = statistics.quantiles(values, n=4)
    return med, (q3 - q1) / med if med else float("nan")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workloads", nargs="+", default=["backfill", "consume"])
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", action="store_true")
    ap.add_argument("--out", default=None)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}

    for w in args.workloads:
        runs = {0: [], 1: []}
        for seed in _seeds(args.seeds):
            # alternate which side runs first: the second run of a seed
            # finds its binlog in the input cache
            order = ([0, 1] if seed % 2 else [1, 0]) if args.trace else [0]
            for trace in order:
                r = run_once(w, seed, args.seconds, trace)
                runs[trace].append(r)
                if args.out:
                    with open(args.out, "a") as f:
                        f.write(json.dumps(r) + "\n")
                print(f"{w} seed={seed} trace={trace} correct={r['correct']} "
                      f"failed={r['failed']}/{r['attempted']} process_s={r['process_s']:.1f}",
                      file=sys.stderr)
        print(f"== {w}: {len(runs[0])} runs, all correct: "
              f"{all(r['correct'] for r in runs[0] + runs[1])}, "
              f"max process_s {max(r['process_s'] for r in runs[0] + runs[1]):.1f}")
        for name, bound in bounds.items():
            vals = [r["metrics"][name]["value"] for r in runs[0]]
            med, rel = spread(vals)
            line = f"  {name:10s} median {med:12.4f}  iqr/median {rel:.4f}  bound/3 {bound / 3:.4f}"
            if runs[1]:
                traced = statistics.median(r["metrics"][f"traced.{name}"]["value"] for r in runs[1])
                line += f"  tracing overhead {traced - med:+.4f} ({(traced - med) / med:+.1%})"
            print(line)
        if runs[1]:
            cov = [r["metrics"]["trace.span_coverage"]["value"] for r in runs[1]]
            print(f"  span coverage of the timed wall: min {min(cov):.4f} median {statistics.median(cov):.4f}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
