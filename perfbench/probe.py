#!/usr/bin/env python3
"""Per-op probe: how long each catalog query or task kind takes, and how
many Spark jobs it runs, on given inputs. It compares the benchmark's
generated inputs with the catalog's own test data; the results are in
README.md ("Generated inputs against the test data").

    python3 perfbench/probe.py catalog --sf 0.01               # generated
    python3 perfbench/probe.py catalog --sf 0.01 --data DIR    # test data
    python3 perfbench/probe.py tasks --source-days 2499

Run from the root of a checkout, one probe per process so each starts
from a fresh JVM. A catalog probe runs every query of the workload once
cold, then ``--reps`` more times; a task probe runs the warm-up ops,
then ``--cycles`` cycles of every kind. Each prints one row per query or
kind (median warm seconds, jobs of one warm run) and, last, the same as
one JSON object.
"""

import argparse
import json
import os
import shutil
import statistics
import sys
import time

import run


def probe_catalog(spark, run_dir, args):
    import datagen
    import sparkstats
    import workloads
    from transformers_spark import cache
    from transformers_spark.queries import QUERIES

    data = args.data
    if not data:
        data = os.path.join(run_dir, "data")
        datagen.write_tables(datagen.catalog_tables(args.seed, args.sf), data)
    watermark = sparkstats.job_watermark(spark)

    def once(name):
        j, t = watermark(), time.perf_counter()
        QUERIES[name].build(spark, data).write.format("noop").mode(
            "overwrite").save()
        cache.release()
        return time.perf_counter() - t, watermark() - j

    names = [q for qs in workloads.CATALOG_QUERIES.values() for q in qs]
    cold = {name: once(name)[0] for name in names}
    warm = {name: [once(name) for _ in range(args.reps)] for name in names}
    return {name: {"cold_s": cold[name],
                   "warm_s": statistics.median(s for s, _ in warm[name]),
                   "jobs": warm[name][-1][1]} for name in names}


def probe_tasks(spark, run_dir, args):
    import sparkstats
    import workloads

    wl = workloads.TasksWorkload(args.seed, run_dir, args.source_days)
    t = time.perf_counter()
    wl.setup(spark, 0)
    print(f"set-up (source load, destination DDL) {time.perf_counter() - t:.2f} s",
          file=sys.stderr)
    wl.prepare(spark)
    watermark = sparkstats.job_watermark(spark)
    run_op = wl.runner(spark)
    runs: dict[str, list] = {}
    for op in wl.op_sequence(args.cycles * wl.cycle_len):
        j, t = watermark(), time.perf_counter()
        run_op(op)
        runs.setdefault(op.kind, []).append((time.perf_counter() - t, watermark() - j))
    return {kind: {"warm_s": statistics.median(s for s, _ in r), "jobs": r[-1][1]}
            for kind, r in runs.items()}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("workload", choices=("catalog", "tasks"))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--sf", type=float, default=0.01, help="catalog: generated scale")
    ap.add_argument("--data", help="catalog: a directory of test-data tables")
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--source-days", type=int, default=40)
    ap.add_argument("--cycles", type=int, default=2)
    args = ap.parse_args()
    run_dir = os.path.join(run.ROOT, ".perfbench", "runs", f"probe-{os.getpid()}")
    run.hermetic_env(run_dir)
    spark = run.start_spark(run_dir)
    try:
        probe = probe_catalog if args.workload == "catalog" else probe_tasks
        rows = probe(spark, run_dir, args)
    finally:
        run.stop_spark(spark)
        shutil.rmtree(run_dir, ignore_errors=True)
    for name, row in rows.items():
        print(f"  {name:28s} " + "  ".join(
            f"{k} {v:.3f}" if isinstance(v, float) else f"{k} {v}"
            for k, v in row.items()))
    print(json.dumps(rows))
    return 0


if __name__ == "__main__":
    sys.exit(main())
