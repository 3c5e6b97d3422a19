#!/usr/bin/env python3
"""Write the committed per-layer table: one untraced and one traced run
of each workload on the same seed, as markdown on stdout.

    python3 perfbench/layers.py --seed 7 > perfbench/LAYERS.md

The tracing overhead is the traced ``wall_s`` minus the untraced one.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PREFIXES = {"crawl": ("session.", "frontier.", "scheduler.", "urlseen.", "rank.", "parse.", "snapshot."),
            "analytics": ("session.", "queries.")}


def bench(workload: str, seed: int, seconds: int, trace: int) -> dict:
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, check=True,
    )
    return json.loads(p.stdout.strip().splitlines()[-1])


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--seed", type=int, default=7)
    ap.add_argument("--seconds", type=int, default=5)
    args = ap.parse_args()
    cores = len(os.sched_getaffinity(0))
    mem_gib = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30
    print("# Per-layer table\n")
    print(f"Written by `perfbench/layers.py --seed {args.seed} --seconds {args.seconds}` "
          f"on {cores} cores, {mem_gib:.0f} GiB ({platform.machine()}, "
          f"Python {platform.python_version()}). "
          "One untraced and one traced run per workload. "
          "Metrics of layers the workload never calls are omitted. "
          "See README.md for definitions.\n")
    for workload, prefixes in PREFIXES.items():
        plain = bench(workload, args.seed, args.seconds, 0)
        traced = bench(workload, args.seed, args.seconds, 1)
        wall = plain["metrics"]["wall_s"]["value"]
        traced_wall = traced["metrics"]["trace.wall_s"]["value"]
        print(f"## {workload}\n")
        print(f"- untraced `wall_s`: {wall:.3f} s; traced: {traced_wall:.3f} s; "
              f"tracing overhead {traced_wall - wall:+.3f} s ({(traced_wall - wall) / wall:+.1%})")
        print(f"- correct: untraced {plain['correct']}, traced {traced['correct']}\n")
        print("| metric | value | unit |\n|---|---:|---|")
        for name, m in traced["metrics"].items():
            if name.startswith(prefixes):
                print(f"| `{name}` | {m['value']:.6g} | {m['unit']} |")
        print()


if __name__ == "__main__":
    main()
