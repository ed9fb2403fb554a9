#!/usr/bin/env python3
"""Run every workload once untraced and once traced and print the
end-to-end metrics, the per-layer table and the tracing overhead.

    python3 perfbench/report.py --seed 1

Run from the root of a checkout. The overhead is the traced run's mean
op latency over the untraced run's, same workload and seed.
"""

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# layers whose self time is the write and recovery protocol, and the
# build-and-execute pair; their shares of op time contrast the workloads
WRITE_PATH = ("loaders.self_s", "dml.self_s", "catalog.self_s", "recover.self_s")
BUILD_EXECUTE = ("queries.build_s", "spark.action_s")


def run_once(workload: str, seed: int, seconds: int, trace: int) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    proc = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True)
    if proc.returncode != 0:
        raise SystemExit(f"{' '.join(cmd)} exited {proc.returncode}")
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    path = os.path.join(ROOT, ".perfbench", "out",
                        f"{workload}-s{seed}-trace{trace}.json")
    with open(path) as fh:
        result["record"] = json.load(fh)
    return result


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=bench["run_seconds"])
    args = ap.parse_args()
    rows = []
    for w in bench["workloads"]:
        plain = run_once(w["name"], args.seed, args.seconds, 0)
        traced = run_once(w["name"], args.seed, args.seconds, 1)
        rows.append((w["name"], plain, traced))

    print("\nend-to-end (untraced)")
    for name, plain, _ in rows:
        ratio = plain["failed"] / plain["attempted"]
        print(f"  {name}: correct={plain['correct']} attempted={plain['attempted']} "
              f"failed={plain['failed']} failed_ratio={ratio:.4f}")
        for key, m in plain["metrics"].items():
            print(f"    {key:14s} {m['value']:12.4f} {m['unit']}")
    print("\nper layer (traced, per op)")
    names = [name for name, _, _ in rows]
    print("  " + " " * 22 + "".join(f"{n:>16s}" for n in names))
    for key in rows[0][2]["metrics"]:
        unit = rows[0][2]["metrics"][key]["unit"]
        vals = "".join(f"{t['metrics'][key]['value']:16.5f}" for _, _, t in rows)
        print(f"  {key:22s}{vals}  {unit}")
    print("\nshares of mean op time (traced)")
    for name, plain, traced in rows:
        m = {k: v["value"] for k, v in traced["metrics"].items()}
        op = traced["record"]["op_mean_s"]
        write = sum(m[k] for k in WRITE_PATH) / op
        build = sum(m[k] for k in BUILD_EXECUTE) / op
        overhead = op / plain["record"]["op_mean_s"] - 1
        print(f"  {name}: write path {100 * write:.1f}%, build+execute "
              f"{100 * build:.1f}%; tracing overhead {100 * overhead:+.1f}% "
              f"(traced op mean {op:.4f} s vs untraced "
              f"{plain['record']['op_mean_s']:.4f} s)")
    return 0


if __name__ == "__main__":
    sys.exit(main())
