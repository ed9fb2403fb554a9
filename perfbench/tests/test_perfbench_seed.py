"""The seed fixes the op sequence and the generated data; a new seed
changes both."""

import datagen
import workloads


def _ops(cls, seed, n=60):
    return cls(seed, "unused").op_sequence(n)


def test_same_seed_same_op_sequence():
    for cls in workloads.WORKLOADS.values():
        assert _ops(cls, 7) == _ops(cls, 7)
        assert _ops(cls, 7) != _ops(cls, 8)


def test_every_cycle_runs_each_kind_once():
    for cls in workloads.WORKLOADS.values():
        wl = cls(3, "unused")
        ops = wl.op_sequence(wl.cycle_len * 4)
        for c in range(4):
            cycle = ops[c * wl.cycle_len:(c + 1) * wl.cycle_len]
            assert len({op.kind for op in cycle}) == wl.cycle_len


def test_task_windows_are_consecutive_and_inside_the_source():
    ops = _ops(workloads.TasksWorkload, 5, 200)
    n = len(workloads.TASK_KINDS)
    days = [ops[i].day for i in range(0, len(ops), n)]
    assert all(b - a == 1 or b == workloads.FIRST_DAY for a, b in zip(days, days[1:]))
    assert all(workloads.FIRST_DAY <= d < datagen.SOURCE_DAYS for d in days)


def test_same_seed_same_catalog_data():
    a, b, c = (datagen.catalog_tables(s) for s in (1, 1, 2))
    rows = datagen.CATALOG_ROWS[0.01]
    assert set(a) == set(rows)
    assert all(a[t].equals(b[t]) for t in a)
    assert not all(a[t].equals(c[t]) for t in a)
    assert all(a[t].num_rows == n for t, n in rows.items())


def test_same_seed_same_task_source():
    a, b, c = (datagen.task_source(s) for s in (1, 1, 2))
    assert a.equals(b)
    assert not a.equals(c)
    days = {d.date() for d in a.column("l_shipdate").to_pylist()}
    assert len(days) == datagen.SOURCE_DAYS
