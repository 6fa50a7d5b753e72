"""Steadiness report: run one workload several times on the same code and
print each metric's median and quartile spread.

    python3 perfbench/steady.py --workload dashboard_reads --runs 10
    python3 perfbench/steady.py --workload tick_stream_wide --runs 5 --traced

Seeds are ``--first-seed`` .. ``--first-seed + runs - 1``.  The spread is the
distance between the first and third quartile as a share of the median.
Each gated metric's spread is set against its bound in BENCHMARK.json: a
regression check accepts the benchmark only if the spread stays within the
bound (``setup_s`` excepted, which is judged on its median alone), and a
steady metric keeps it below a third of the bound.
With ``--traced`` every seed is also run traced, right after its untraced
run, and the report adds the tracing overhead: the traced median of each
end-to-end metric minus the untraced one, and the median over seeds of
traced / untraced - 1, which pairs runs made a minute apart and so is less
moved by the host's load drifting over a set.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from run import END_TO_END  # noqa: E402
from stats import spread  # noqa: E402



def run_once(workload: str, seed: int, seconds: int, trace: int) -> tuple[dict, dict]:
    """(the result JSON, every end-to-end figure printed as ``name value unit``)."""
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    out = subprocess.run(cmd, cwd=os.path.dirname(HERE), capture_output=True,
                         text=True, timeout=600)
    if out.returncode != 0:
        sys.stderr.write(out.stderr[-4000:])
        raise SystemExit(f"{' '.join(cmd)} exited {out.returncode}")
    lines = out.stdout.strip().splitlines()
    names = {name for name, _ in END_TO_END}
    figures = {}
    for line in lines[:-1]:
        parts = line.split()
        if parts and parts[0] in names:
            figures[parts[0]] = float(parts[1])
    return json.loads(lines[-1]), figures


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    ap.add_argument("--seconds", type=int, default=spec["run_seconds"])
    ap.add_argument("--traced", action="store_true")
    args = ap.parse_args()

    values: dict[str, list[float]] = {}
    traced: dict[str, list[float]] = {}
    for seed in range(args.first_seed, args.first_seed + args.runs):
        res, figures = run_once(args.workload, seed, args.seconds, 0)
        line = {k: round(v, 4) for k, v in figures.items()}
        print(f"seed {seed}: correct={res['correct']} attempted={res['attempted']} "
              f"failed={res['failed']} {line}", flush=True)
        for k, v in figures.items():
            values.setdefault(k, []).append(v)
        if args.traced:
            res, figures = run_once(args.workload, seed, args.seconds, 1)
            line = {k: round(v, 4) for k, v in figures.items()}
            print(f"seed {seed} traced: correct={res['correct']} failed={res['failed']} {line}",
                  flush=True)
            for k, v in figures.items():
                traced.setdefault(k, []).append(v)

    print(f"\n{args.workload}: {args.runs} runs of {args.seconds} s")
    print(f"{'metric':16s} {'median':>12s} {'q1':>12s} {'q3':>12s} {'spread':>8s}  bound")
    for k, v in values.items():
        q1, _, q3 = statistics.quantiles(v, n=4)
        s = spread(v)
        b = bounds.get(k)
        if b is None:
            verdict = "  not gated"
        elif k == "setup_s":
            verdict = f"  {b} (median only)"
        else:
            verdict = f"  {b}" + ("" if s < b / 3 else
                                  "  above a third of it" if s <= b else "  OVER IT")
        print(f"{k:16s} {statistics.median(v):12.4f} {q1:12.4f} {q3:12.4f} {s:8.3f}{verdict}")
    if traced:
        print("\ntracing overhead: traced median - untraced median; "
              "median over seeds of traced / untraced - 1")
        for k, v in traced.items():
            if k in values:
                d = statistics.median(v) - statistics.median(values[k])
                paired = statistics.median(t / u - 1 for t, u in zip(v, values[k]))
                print(f"{k:16s} {d:+12.4f}  ({d / statistics.median(values[k]):+.1%})"
                      f"  paired {paired:+.1%}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
