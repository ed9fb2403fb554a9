#!/usr/bin/env python3
"""The repository's benchmark: one run of one workload.

    python3 perfbench/run.py --workload catalog --seed 1 --seconds 15 --trace 0

Run from the root of a checkout. The run builds its inputs from
``--seed``, sets up (Spark session, JVM warm-up, generated source
tables, destination DDL), runs the workload's ops in a closed loop with
one client for ``--seconds`` seconds, checks the outputs, and prints one
JSON object as the last line of stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` wraps the
package's public calls in spans (see spans.py) and reports the
per-layer metrics, writing the spans and the per-layer table under
``.perfbench/out/``. Every file the run writes stays under
``.perfbench/`` in the checkout. See README.md.
"""

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import resource  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CORES = 4
SETUP_REPS = 3

END_TO_END = {
    "setup_s": "s",
    "op_p50_s": "s",
    "op_tail_s": "s",
    "ops_per_s": "1/s",
}

# layer metrics, all per op; see README.md for what each should move
PER_LAYER = {
    **{f"{layer}.{m}": u for layer in ("windowing", "macros", "dialect")
       for m, u in (("calls", "count"), ("self_s", "s"))},
    "engine.self_s": "s",
    "engine.jobs": "count",
    "dml.self_s": "s",
    "dml.jobs": "count",
    "loaders.calls": "count",
    "loaders.self_s": "s",
    "loaders.jobs": "count",
    "loaders.output_mb": "MB",
    "loaders.write_amp": "ratio",
    "recover.calls": "count",
    "recover.self_s": "s",
    "catalog.calls": "count",
    "catalog.self_s": "s",
    "stats.self_s": "s",
    "runner.self_s": "s",
    "queries.build_s": "s",
    "queries.build_jobs": "count",
    "sources.self_s": "s",
    "cache.tracked": "count",
    "cache.release_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.task_s": "s",
    "spark.input_mb": "MB",
    "spark.shuffle_mb": "MB",
    "spark.spill_mb": "MB",
    "spark.action_s": "s",
    "spark.core_busy": "ratio",
    "memory.peak_rss_mb": "MB",
}


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def hermetic_env(run_dir: str) -> None:
    """Private temp, Spark-local and worker import paths for this run.
    Python UDF workers inherit PYTHONPATH, so they can import the
    package from the checkout."""
    for sub in ("tmp", "local"):
        os.makedirs(os.path.join(run_dir, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    # the launcher JVM that spark-submit starts first gets no driver
    # options; keep its perf-data file and temp files in the run too
    os.environ["SPARK_LAUNCHER_OPTS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={os.environ['TMPDIR']}")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    os.environ["SPARK_GRAFT_CPUS"] = str(CORES)
    path = os.environ.get("PYTHONPATH", "")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")
    sys.path.insert(0, ROOT)


def start_spark(run_dir: str):
    from sparkstats import RETENTION_CONF
    from transformers_spark.session import get_spark

    # heap size and collector are get_spark's own defaults; the options
    # only keep the JVM's temp and perf-data files inside the run
    java_opts = (f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')} "
                 "-XX:-UsePerfData")
    spark = get_spark(
        app_name="perfbench",
        master=f"local[{CORES}]",
        warehouse_dir=os.path.join(run_dir, "warehouse"),
        extra_conf={
            "spark.driver.extraJavaOptions": java_opts,
            "spark.driver.host": "127.0.0.1",
            "spark.ui.enabled": "false",
            "spark.ui.showConsoleProgress": "false",
            **RETENTION_CONF,
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and its Python workers)
    to exit."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 — escalate below
            proc.kill()
            proc.wait(timeout=30)


def peak_rss_mb(spark) -> float:
    """Peak resident memory of the driver JVM plus this process."""
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    jvm_kb = 0
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    if proc is not None:
        with open(f"/proc/{proc.pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    jvm_kb = int(line.split()[1])
    return (py_kb + jvm_kb) / 1024


def dir_files(path: str) -> dict[str, int]:
    out = {}
    for dirpath, _, files in os.walk(path):
        for f in files:
            if not f.startswith((".", "_")):
                full = os.path.join(dirpath, f)
                out[full] = os.path.getsize(full)
    return out


def layer_metrics(spark, tracer, op_spans, op_walls, new_bytes, rss):
    """The per-layer table of a traced run, every value but the peak
    RSS per op."""
    import metrics
    import sparkstats

    jobs, stages = sparkstats.read_store(spark)
    spans = tracer.spans
    n = len(op_spans)
    total = sparkstats.Counters()
    for span in op_spans:
        total.add(sparkstats.counters(jobs, stages, span.wm_start, span.wm_end))
    # self-check: every job of the timed phase is owned by exactly one op
    lo, hi = op_spans[0].wm_start, op_spans[-1].wm_end
    in_store = sum(1 for j in jobs if lo <= j < hi)
    jobs_ok = total.jobs == in_store == hi - lo
    if not jobs_ok:
        print(f"perfbench: job attribution mismatch: per-op sum {total.jobs}, "
              f"store {in_store}, watermark {hi - lo}", file=sys.stderr)
    layers = metrics.layer_totals(spans)

    def get(layer, key):
        return layers.get(layer, {}).get(key, 0) / n

    loader_out = 0
    for s in spans:
        if s.layer == "loaders" and (s.parent is None or spans[s.parent].layer != "loaders"):
            loader_out += sparkstats.counters(jobs, stages, s.wm_start, s.wm_end).output_bytes
    mb = sparkstats.MB
    wall = sum(op_walls)
    out = {}
    for layer in ("windowing", "macros", "dialect", "loaders", "recover", "catalog"):
        out[f"{layer}.calls"] = get(layer, "calls")
    for layer in ("windowing", "macros", "dialect", "engine", "dml", "loaders",
                  "recover", "catalog", "stats", "runner", "sources"):
        out[f"{layer}.self_s"] = get(layer, "self_s")
    for layer in ("engine", "dml", "loaders"):
        out[f"{layer}.jobs"] = get(layer, "jobs")
    builds = [s for s in spans if s.name == "queries.build"]
    out["queries.build_s"] = sum(s.end - s.start for s in builds) / n
    out["queries.build_jobs"] = sum(s.wm_end - s.wm_start for s in builds) / n
    out["cache.tracked"] = sum(1 for s in spans if s.name == "cache.track") / n
    out["cache.release_s"] = sum(
        s.end - s.start for s in spans if s.name == "cache.release") / n
    out["loaders.output_mb"] = loader_out / mb / n
    out["loaders.write_amp"] = loader_out / new_bytes if new_bytes else 0.0
    out["spark.jobs"] = total.jobs / n
    out["spark.stages"] = total.stages / n
    out["spark.tasks"] = total.tasks / n
    out["spark.task_s"] = total.task_s / n
    out["spark.input_mb"] = total.input_bytes / mb / n
    out["spark.shuffle_mb"] = total.shuffle_bytes / mb / n
    out["spark.spill_mb"] = total.spill_bytes / mb / n
    out["spark.action_s"] = total.action_s / n
    out["spark.core_busy"] = total.task_s / (wall * CORES)
    out["memory.peak_rss_mb"] = rss
    return {k: out[k] for k in PER_LAYER}, jobs_ok


def print_layer_table(name, values, op_mean, file=sys.stderr):
    print(f"\nper-layer table, workload {name} (per op; op mean {op_mean:.4f} s)",
          file=file)
    for key, value in values.items():
        share = ""
        if PER_LAYER[key] == "s" and op_mean:
            share = f"  {100 * value / op_mean:6.2f}% of op"
        print(f"  {key:22s} {value:12.5f} {PER_LAYER[key]:6s}{share}", file=file)


def main(argv=None) -> int:
    args = parse_args(argv)
    import workloads  # noqa: E402 — needs only the benchmark's own files

    if args.workload not in workloads.WORKLOADS:
        print(f"unknown workload {args.workload!r}; choose from "
              f"{sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    if not os.path.isfile(os.path.join(ROOT, "transformers_spark", "__init__.py")):
        print(f"perfbench: no transformers_spark package under {ROOT}; run from "
              "the root of a full checkout", file=sys.stderr)
        return 2
    run_dir = os.path.join(
        ROOT, ".perfbench", "runs", f"{args.workload}-s{args.seed}-{os.getpid()}")
    hermetic_env(run_dir)
    import metrics

    spark = start_spark(run_dir)
    try:
        return measure(args, spark, run_dir, workloads, metrics)
    finally:
        stop_spark(spark)
        shutil.rmtree(run_dir, ignore_errors=True)


def measure(args, spark, run_dir, workloads, metrics) -> int:
    session_s = time.perf_counter() - T0

    wl = workloads.WORKLOADS[args.workload](args.seed, run_dir)
    reps = []
    for rep in range(SETUP_REPS):
        t = time.perf_counter()
        wl.setup(spark, rep)
        reps.append(time.perf_counter() - t)
    # first runs: the untimed passes (catalog) or warm-up ops (tasks),
    # which also warm the JVM; the output comparisons made between them
    # are not part of it
    t = time.perf_counter()
    checks, first_run_s = wl.prepare(spark)
    check_s = time.perf_counter() - t - first_run_s
    setup_s = session_s + statistics.median(reps) + first_run_s

    # The op sequence is fixed by the seed; a run takes a prefix of it.
    sequence = wl.op_sequence(10_000)
    tracer = undo = None
    if args.trace:
        import sparkstats
        import spans

        tracer = spans.Tracer(sparkstats.job_watermark(spark))
        undo = spans.install(tracer)
        dest_root = os.path.join(run_dir, "warehouse")
    run = wl.runner(spark, tracer)
    latencies, executed, failed_ops, op_spans, new_bytes = [], [], [], [], 0
    start = time.perf_counter()
    for i, op in enumerate(sequence):
        # whole cycles only, so every run sees each op kind equally often
        if (i % wl.cycle_len == 0 and i >= metrics.MIN_CYCLES * wl.cycle_len
                and time.perf_counter() - start >= args.seconds):
            break
        if tracer:
            before = dir_files(dest_root)
            tracer.op = i
            span = tracer.open(f"op.{op.kind}", "op")
        t = time.perf_counter()
        try:
            run(op)
        except Exception as err:  # noqa: BLE001 — a failed op is counted
            failed_ops.append(i)
            print(f"op {i} {op.kind} failed: {err!r}"[:500], file=sys.stderr)
        else:
            latencies.append(time.perf_counter() - t)
        if tracer:
            tracer.close(span)
            op_spans.append(span)
            after = dir_files(dest_root)
            new_bytes += sum(size for path, size in after.items()
                             if path not in before and "__" not in path)
        executed.append(op)
    elapsed = time.perf_counter() - start
    rss = peak_rss_mb(spark)
    if undo:
        spans.uninstall(undo)

    t = time.perf_counter()
    bad_keys = wl.verify(spark, wl.warm_ops() + executed)
    check_s += time.perf_counter() - t
    bad_keys |= {k for k, good in checks.items() if not good}
    failed = {i for i, op in enumerate(executed) if op.key in bad_keys}
    failed |= set(failed_ops)
    correct = not failed
    attempted = len(executed)

    if not latencies:
        print("perfbench: no op completed", file=sys.stderr)
        return 1
    n = len(latencies)
    tail = metrics.tail_of_workload(wl.cycle_len)
    if metrics.beyond(n, tail) < metrics.MIN_BEYOND:
        print(f"perfbench: only {metrics.beyond(n, tail)} of {n} ops beyond "
              f"p{tail}", file=sys.stderr)
    print(f"perfbench: {args.workload} seed {args.seed}: {attempted} ops in "
          f"{elapsed:.2f} s, {len(failed)} failed (failed_ratio "
          f"{len(failed) / attempted:.4f}); session {session_s:.2f} s, setup "
          f"reps {[round(r, 3) for r in reps]} s, first runs {first_run_s:.2f} s, "
          f"checks {check_s:.2f} s, peak RSS {rss:.0f} MB", file=sys.stderr)

    record = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
              "ops": [op.kind for i, op in enumerate(executed) if i not in failed_ops],
              "latencies_s": latencies, "op_mean_s": sum(latencies) / n}
    if args.trace:
        values, jobs_ok = layer_metrics(
            spark, tracer, op_spans, latencies, new_bytes, rss)
        correct = correct and jobs_ok
        print_layer_table(args.workload, values, record["op_mean_s"])
        units = PER_LAYER
        record["spans"] = [s.__dict__ for s in tracer.spans]
    else:
        values = {
            "setup_s": setup_s,
            "op_p50_s": metrics.percentile(latencies, 50),
            "op_tail_s": metrics.percentile(latencies, tail),
            "ops_per_s": n / elapsed,
        }
        units = END_TO_END
        for key, value in values.items():
            print(f"  {key:12s} {value:12.4f} {units[key]}", file=sys.stderr)
    record["metrics"] = values
    out_dir = os.path.join(ROOT, ".perfbench", "out")
    os.makedirs(out_dir, exist_ok=True)
    name = f"{args.workload}-s{args.seed}-trace{args.trace}.json"
    with open(os.path.join(out_dir, name), "w") as fh:
        json.dump(record, fh)
    print(json.dumps({
        "correct": correct,
        "attempted": attempted,
        "failed": len(failed),
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in values.items()},
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
