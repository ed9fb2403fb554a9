"""What a run prints matches BENCHMARK.json, and the task replay that
checks outputs follows the load-method semantics."""

import json
import os
from datetime import date
from decimal import Decimal

import run
import workloads

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _benchmark():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def test_metric_names_and_units_match_benchmark_json():
    bench = _benchmark()
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == run.PER_LAYER


def test_workloads_match_benchmark_json():
    assert [w["name"] for w in _benchmark()["workloads"]] == list(workloads.WORKLOADS)


def test_task_replay_semantics():
    wl = workloads.TasksWorkload(0, "unused")
    d = lambda i: workloads._day(i)  # noqa: E731
    wl._daily = lambda: {
        d(i): [(d(i), "A", i, Decimal(i) / 10), (d(i), "R", 10 * i, Decimal(i))]
        for i in range(10)
    }
    Op = workloads.Op
    ops = [
        Op("rev_append", "append", 3),
        Op("rev_append", "append", 3),
        Op("rev_window", "replace_all", 4),
        Op("rev_window", "replace_all", 5),
        Op("acc_whole", "merge_whole", 4),
        Op("acc_whole", "merge_whole", 5),
        Op("acc_whole", "update_whole", 5),
        Op("acc_part", "merge_part", 5),
        Op("acc_part", "delete_part", 5),
        Op("rev_fanout", "replace_fanout", 5),
    ]
    exp = wl.expected(ops)
    day3 = [(a, b, c, float(e)) for a, b, c, e in wl._daily()[d(3)]]
    assert sorted(exp["rev_append"]) == sorted(day3 * 2)
    assert sorted(r[0] for r in exp["rev_window"]) == [d(3), d(3), d(4), d(4), d(5), d(5)]
    acc = {(r[0], r[1]): r for r in exp["acc_whole"]}
    assert acc[(d(4), "A")][4] == 2  # merged twice
    assert acc[(d(5), "R")][4] == 1 + 10  # inserted, then updated
    assert acc[(d(3), "A")][4] == 1
    part = {(r[0], r[1]) for r in exp["acc_part"]}
    assert (d(4), "A") not in part and (d(4), "R") in part
    assert sorted({r[0] for r in exp["rev_fanout"]}) == [d(3), d(4), d(5)]
    assert isinstance(exp["rev_fanout"][0][0], date)


def test_every_workload_has_an_odd_number_of_kinds():
    # see test_reported_percentiles_pick_the_middle_run_of_one_kind
    for cls in workloads.WORKLOADS.values():
        assert cls(0, "unused").cycle_len % 2 == 1
