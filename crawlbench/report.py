"""Per-layer report for one workload: an untraced and a traced run, same seed.

    python3 crawlbench/report.py --workload crawl_durable --seed 1

Prints the tracing overhead of every end-to-end metric (traced minus
untraced), the per-layer metrics of the traced run, and for each epoch the
``plans.crawler.step`` span split into its child spans and its self time.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def run(workload: str, seed: int, seconds: float, trace: int) -> dict:
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=os.path.dirname(HERE), capture_output=True, text=True, check=True,
    )
    return json.loads(p.stdout.strip().splitlines()[-1])


def main() -> None:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=10.0)
    args = p.parse_args()

    plain = run(args.workload, args.seed, args.seconds, 0)
    traced = run(args.workload, args.seed, args.seconds, 1)
    with open(os.path.join(HERE, "_out", f"trace-{args.workload}-s{args.seed}.json")) as f:
        record = json.load(f)

    print(f"{args.workload} seed {args.seed}: correct untraced={plain['correct']} "
          f"traced={traced['correct']}")
    print(f"\n{'end-to-end metric':34} {'untraced':>12} {'traced':>12} {'overhead':>12}")
    for name, m in plain["metrics"].items():
        t = record["end_to_end"][name]
        print(f"{name:34} {m['value']:12.4f} {t:12.4f} {t - m['value']:+12.4f}  {m['unit']}")
    print(f"\n{'per-layer metric':44} {'value':>16}")
    for name, m in traced["metrics"].items():
        print(f"{name:44} {m['value']:16.6g}  {m['unit']}")

    rows = record["span_table"]
    for step in (r for r in rows if r["name"] == "plans.crawler.step"):
        kids = [r for r in rows if r["parent"] == step["id"]]
        print(f"\nstep span {step['id']}: wall {step['wall_s']:.3f}s = self "
              f"{step['self_s']:.3f}s + children {step['children_s']:.3f}s; "
              f"{step['jobs']} jobs, driver-only {step['driver_s']:.3f}s")
        for k in kids:
            print(f"  {k['name']:36} {k['wall_s']:8.3f}s  jobs {k['jobs']:3}  "
                  f"driver-only {k['driver_s']:7.3f}s  executor cpu {k['cpu_s']:7.3f}s")


if __name__ == "__main__":
    main()
