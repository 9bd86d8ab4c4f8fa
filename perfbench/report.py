#!/usr/bin/env python3
"""Per-layer table of every workload, with the tracing overhead.

    python3 perfbench/report.py --seed 1 --pairs 3 > perfbench/TRACE.md

For each workload, runs the benchmark ``--pairs`` times untraced and
traced on the same seed, alternating which goes first, and prints a
markdown table of the first traced run's per-layer metrics. The tracing
overhead is the median over the pairs of the traced run's timed wall time
minus the untraced run's; a single pair on a shared box is mostly noise.
"""
import statistics
import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import run  # noqa: E402


def once(workload, seed, trace):
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", "10", "--trace", str(trace)],
                       capture_output=True, text=True, check=True)
    lines = p.stdout.strip().splitlines()
    return json.loads(lines[-2])["context"], json.loads(lines[-1])


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--pairs", type=int, default=3)
    args = ap.parse_args()
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        layers = [m["name"] for m in json.load(f)["per_layer"]]
    cols = {}
    notes = []
    for w in run.WORKLOADS:
        pairs = []
        for i in range(args.pairs):
            order = (0, 1) if i % 2 == 0 else (1, 0)
            got = {t: once(w, args.seed, t) for t in order}
            pairs.append(got)
            if w not in cols:
                cols[w] = got[1][1]["metrics"]
        walls = [(p[0][1]["metrics"]["wall_s"]["value"],
                  p[1][1]["metrics"]["trace.wall_s"]["value"]) for p in pairs]
        over = statistics.median(b - a for a, b in walls)
        base = statistics.median(a for a, _ in walls)
        ok = all(p[t][1]["correct"] for p in pairs for t in (0, 1))
        ctx = pairs[0][1][0]
        notes.append(f"- `{w}`: tracing overhead {over:+.2f} s ({over / base:+.1%} of the "
                     f"untraced median {base:.2f} s); wall_s untraced/traced per pair: "
                     + ", ".join(f"{a:.2f}/{b:.2f}" for a, b in walls)
                     + f"; cal_s " + ", ".join(str(p[t][0]["cal_s"]) for p in pairs for t in (0, 1))
                     + f"; correct={ok}; nproc {ctx['nproc']}, commit {ctx['commit']}")
    print(f"# Traced run, seed {args.seed}\n")
    print("Per-layer metrics of one traced run of each workload (cron_cycle: per "
          "cycle; query workloads: summed over the timed region; correctness checks "
          "left out). A module's `job_s` is the time of the Spark jobs whose call "
          "site's innermost graft frame lies in that module, so it counts the jobs a "
          "module starts itself: eager `count()`s and checkpoints, writes, a tick's "
          "own actions. A query's main execution is started by the benchmark's noop "
          "write and counts for `queries`; parsing is lazy and runs inside the jobs "
          "that `storage` and `tools` start, so `ingest.job_s` reads zero. Zero "
          "elsewhere means the workload does not start jobs from that layer.\n")
    print("\n".join(notes) + "\n")
    print("| metric | unit | " + " | ".join(cols) + " |")
    print("|---|---|" + "---:|" * len(cols))
    for name in layers:
        unit = next(iter(cols.values()))[name]["unit"]
        vals = []
        for w in cols:
            v = cols[w][name]["value"]
            vals.append(f"{v:.0f}" if unit in ("bytes", "count") else f"{v:.3f}")
        print(f"| `{name}` | {unit} | " + " | ".join(vals) + " |")


if __name__ == "__main__":
    main()
