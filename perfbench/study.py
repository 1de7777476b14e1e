#!/usr/bin/env python3
"""Studies built on perfbench/run.py, printed as markdown.

    python3 perfbench/study.py layers [--seed N] [--pairs P] [--seconds S] [--workloads a,b]
    python3 perfbench/study.py spread [--runs N] [--first-seed F] [--seconds S] [--workloads a,b]

`layers`: per workload, P alternating pairs of untraced and traced runs at
one seed. Prints each per-layer metric from every traced run side by side,
marks the count-type metrics that repeat exactly, and gives the tracing
overhead: the traced runs' median op_p50_s minus the untraced runs'.

`spread`: per workload, N untraced runs with seeds F..F+N-1. Prints each
end-to-end metric's median and its quartile spread, (Q3 - Q1) / median,
with quartiles as statistics.quantiles(values, n=4) gives them, and the same
for the wall time of a whole run (build excluded once the build is cached).
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
GATED = [w["name"] for w in json.load(open(os.path.join(ROOT, "BENCHMARK.json")))["workloads"]]
COUNTS = ("jobs", "stages", "tasks", "codegen_compiles", "files_written", "bytes_written",
          "pairs_out", "side_commits", "retries", "input_bytes", "output_bytes",
          "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes", "records_read",
          "rows_returned", "user_bytes")


def run(workload, seed, seconds, trace):
    t = time.monotonic()
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
                       cwd=ROOT, capture_output=True, text=True)
    lines = p.stdout.splitlines()
    if p.returncode != 0 or not lines:
        sys.exit(f"{workload} seed {seed} trace {trace} failed:\n{p.stderr[-2000:]}")
    result = json.loads(lines[-1])
    result["wall_s"] = time.monotonic() - t
    if not result["correct"]:
        sys.exit(f"{workload} seed {seed} trace {trace}: outputs not correct\n{p.stderr[-2000:]}")
    layers = {}
    for l in lines:
        if l.startswith("[layer] "):
            name, value = l[len("[layer] "):].split()
            layers[name] = float(value)
    return result, layers


def layers(args):
    for w in args.workloads:
        plain, traced = [], []
        for _ in range(args.pairs):
            plain.append(run(w, args.seed, args.seconds, 0)[0]["metrics"]["op_p50_s"]["value"])
            traced.append(run(w, args.seed, args.seconds, 1))
        tables = [t[1] for t in traced]
        tplain = [t["trace.op_p50_s"] for t in tables]
        p50, tp50 = statistics.median(plain), statistics.median(tplain)
        print(f"\n### {w} (seed {args.seed}, {traced[0][0]['attempted']} timed operations per run)\n")
        print(f"op_p50_s over {args.pairs} alternating pairs of runs: untraced "
              f"{', '.join(f'{x:.3f}' for x in plain)} s (median {p50:.3f}); traced "
              f"{', '.join(f'{x:.3f}' for x in tplain)} s (median {tp50:.3f}); "
              f"tracing overhead {tp50 - p50:+.3f} s.\n")
        print("| metric | " + " | ".join(f"traced run {i + 1}" for i in range(len(tables))) + " | repeats |")
        print("|---|" + "---|" * len(tables) + "---|")
        for k in sorted(set().union(*tables)):
            xs = [t.get(k, 0.0) for t in tables]
            if k.endswith(COUNTS):
                rep = "yes" if len(set(xs)) == 1 else f"no, range {max(xs) - min(xs):g}"
                cells = [f"{v:.0f}" if v == int(v) else f"{v:.2f}" for v in xs]
            else:
                med = statistics.median(xs)
                rep = f"range {(max(xs) - min(xs)) / med:.1%} of median" if med else ""
                cells = [f"{v:.4g}" for v in xs]
            print(f"| `{k}` | " + " | ".join(cells) + f" | {rep} |")


def spread(args):
    print("| workload | metric | median | (Q3-Q1)/median | min | max |")
    print("|---|---|---|---|---|---|")
    for w in args.workloads:
        values = {}
        for seed in range(args.first_seed, args.first_seed + args.runs):
            result, _ = run(w, seed, args.seconds, 0)
            for k, m in result["metrics"].items():
                values.setdefault(k, []).append(m["value"])
            values.setdefault("run wall_s", []).append(result["wall_s"])
        for k, xs in values.items():
            q = statistics.quantiles(xs, n=4)
            med = statistics.median(xs)
            print(f"| {w} | `{k}` | {med:.4f} | {(q[2] - q[0]) / med:.4f} | {min(xs):.4f} | {max(xs):.4f} |")


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("study", choices=["layers", "spread"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--pairs", type=int, default=3)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=json.load(open(os.path.join(ROOT, "BENCHMARK.json")))["run_seconds"])
    ap.add_argument("--workloads", type=lambda s: s.split(","), default=GATED)
    args = ap.parse_args()
    layers(args) if args.study == "layers" else spread(args)


if __name__ == "__main__":
    main()
