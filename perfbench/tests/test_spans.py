"""Span bookkeeping: self times add up to each operation's wall time."""

from __future__ import annotations

import types

import spans


class FakeClock:
    def __init__(self):
        self.t = 0.0

    def __call__(self):
        self.t += 0.001  # every clock read advances time
        return self.t


def test_self_times_sum_to_operation_wall_time():
    tracer = spans.Tracer(clock=FakeClock())
    mod = types.SimpleNamespace(leaf=lambda: None)
    tracer.wrap(mod, "leaf", "leaf")

    def middle():
        mod.leaf()
        mod.leaf()

    mod.middle = middle
    tracer.wrap(mod, "middle", "middle")
    for op in range(3):
        tracer.op = op
        with tracer.span("op"):
            mod.middle()
            mod.leaf()
    selfs = tracer.self_times()
    for op in range(3):
        root = next(s for s in tracer.spans if s.op == op and s.name == "op")
        total = sum(t for s, t in zip(tracer.spans, selfs) if s.op == op)
        assert abs(total - (root.end - root.start)) < 1e-12
    assert tracer.count("leaf") == 9
    assert all(t >= 0 for t in selfs)


def test_restore_puts_originals_back():
    tracer = spans.Tracer()
    mod = types.SimpleNamespace(f=lambda x: x + 1)
    original = mod.f
    tracer.wrap(mod, "f", "f")
    assert mod.f(1) == 2 and tracer.count("f") == 1
    tracer.restore()
    assert mod.f is original


def test_exception_still_closes_span():
    tracer = spans.Tracer()

    def boom():
        raise ValueError("x")

    mod = types.SimpleNamespace(boom=boom)
    tracer.wrap(mod, "boom", "boom")
    try:
        mod.boom()
    except ValueError:
        pass
    (s,) = tracer.spans
    assert s.end >= s.start and not tracer._stack


def test_tree_cpu_reads_this_process():
    cpu = spans.tree_cpu()
    assert set(cpu) == {"driver", "jvm", "pyworker"} and cpu["driver"] >= 0
