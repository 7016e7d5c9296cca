"""The measurement loop against a stand-in session: which passes count,
how many run, and how wrong outputs are counted."""

from types import SimpleNamespace

import pytest

from perfbench import run
from perfbench.workloads import Op


class _Context:
    def __init__(self):
        self.groups = []
        bean = SimpleNamespace(getCollectionTime=lambda: 0)
        factory = SimpleNamespace(getGarbageCollectorMXBeans=lambda: [bean])
        self._jvm = SimpleNamespace(java=SimpleNamespace(lang=SimpleNamespace(
            management=SimpleNamespace(ManagementFactory=factory))))

    def setJobGroup(self, gid, _desc):
        self.groups.append(gid)

    def setLocalProperty(self, _key, _value):
        pass


@pytest.fixture
def spark():
    return SimpleNamespace(sparkContext=_Context())


def _ops(calls):
    def make(name, value):
        def run_():
            calls.append(name)
            return value
        return Op(name, f"layer.{name}", run_, lambda r: r == 1)
    return [make("a", 1), make("b", 2)]   # "b" is always wrong


def test_cold_pass_is_excluded_and_min_passes_run(spark):
    calls = []
    ops = _ops(calls)
    m = run.Measurement(warmup=True)
    m.run(spark, ops, 0.0, "t", min_passes=3)
    assert len(m.cycles) == 4
    assert calls == ["a", "b"] * 4
    assert len(m.walls["a"]) == 4 and len(m.measured("a")) == 3
    assert m.measured("a") == m.walls["a"][1:]
    assert m.op_walls(ops)[0] == sorted(m.walls["a"][1:])[1]
    assert [s["pass"] for s in m.execs] == [0, 0, 1, 1, 2, 2, 3, 3]
    assert spark.sparkContext.groups[:2] == ["t.a#0", "t.b#0"]


def test_every_execution_is_checked(spark):
    m = run.Measurement(warmup=True)
    m.run(spark, _ops([]), 0.0, "t", min_passes=2)
    assert m.attempted == 6
    assert m.failed == 3


def test_window_adds_passes_beyond_the_minimum(spark):
    m = run.Measurement()
    m.run(spark, _ops([]), 0.05, "t", min_passes=1)
    assert len(m.cycles) > 1

