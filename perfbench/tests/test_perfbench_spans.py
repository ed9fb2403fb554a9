"""Self-time and self-job arithmetic on a synthetic span tree, and the
install/uninstall round trip."""

import sys
import types

import metrics
import spans


class Clock:
    """A settable clock and job-id counter standing in for time and Spark."""

    def __init__(self):
        self.now = 0.0
        self.jobs = 0

    def time(self):
        return self.now

    def watermark(self):
        return self.jobs


def build_tree():
    """op [0,10) jobs 0..6
         runner [1,9) jobs 1..6
           engine [2,5) jobs 2..4: one job of its own, then dialect
             dialect [3,4) jobs 3..4
           loaders [5,8) jobs 4..6 (two jobs, no children)"""
    c = Clock()
    t = spans.Tracer(c.watermark, c.time)
    op = t.open("op.x", "op")
    c.now, c.jobs = 1, 1
    runner = t.open("runner.run_task", "runner")
    c.now = 2
    engine = t.open("engine.transform", "engine")
    c.jobs = 3  # engine's own eager job(s) 1..2 -> ids 1, 2
    c.now = 3
    dialect = t.open("dialect.transpile", "dialect")
    c.now, c.jobs = 4, 4
    t.close(dialect)
    c.now = 5
    t.close(engine)
    loaders = t.open("loaders.append", "loaders")
    c.now, c.jobs = 8, 6
    t.close(loaders)
    c.now = 9
    t.close(runner)
    c.now = 10
    t.close(op)
    return t, op, runner, engine, dialect, loaders


def test_self_time_subtracts_direct_children():
    t, op, runner, engine, dialect, loaders = build_tree()
    s = t.spans
    assert spans.self_time(s, op) == 10 - 8
    assert spans.self_time(s, runner) == 8 - (3 + 3)
    assert spans.self_time(s, engine) == 3 - 1
    assert spans.self_time(s, dialect) == 1
    assert spans.self_time(s, loaders) == 3
    # self times of the whole tree add up to the root's duration
    assert sum(spans.self_time(s, x) for x in s) == op.end - op.start


def test_self_jobs_use_the_watermarks():
    t, op, runner, engine, dialect, loaders = build_tree()
    s = t.spans
    assert spans.self_jobs(s, engine) == 2
    assert spans.self_jobs(s, dialect) == 1
    assert spans.self_jobs(s, loaders) == 2
    assert spans.self_jobs(s, runner) == 0
    assert spans.self_jobs(s, op) == 1
    assert sum(spans.self_jobs(s, x) for x in s) == op.wm_end - op.wm_start


def test_layer_totals_skip_the_op_layer():
    t, *_ = build_tree()
    totals = metrics.layer_totals(t.spans)
    assert "op" not in totals
    assert totals["engine"] == {"calls": 1, "self_s": 2, "jobs": 2}
    assert totals["loaders"]["self_s"] == 3


def test_install_wraps_aliases_and_uninstall_restores():
    pkg = types.ModuleType("transformers_spark_fake")
    user = types.ModuleType("transformers_spark_fake_user")

    def f(x):
        return x + 1

    class K:
        def m(self):
            return f(1)

    pkg.f, pkg.K = f, K
    user.g = f  # imported under another name
    sys.modules.update({pkg.__name__: pkg, user.__name__: user})
    try:
        tracer = spans.Tracer()
        undo = spans.install(
            tracer, {"fake": [(pkg.__name__, "f"), (pkg.__name__, "K.m")]}
        )
        assert pkg.f(1) == 2 and user.g(1) == 2 and K().m() == 2
        names = [s.name for s in tracer.spans]
        assert names == ["fake.f", "fake.f", "fake.m"]
        spans.uninstall(undo)
        assert pkg.f is f and user.g is f and K.__dict__["m"] is not None
        K().m()
        assert len(tracer.spans) == 3
    finally:
        for name in (pkg.__name__, user.__name__):
            sys.modules.pop(name)
