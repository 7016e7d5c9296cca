"""The event-log reader against a tiny recorded Spark 4.1 log.

The fixture (data/tiny_eventlog.jsonl, re-recorded by
record_tiny_log.py) holds two job groups on local[2]:
- "join#0": a 1000-row range joined to a broadcast 100-row range on
  k = id % 50, filtered to even ids, counted (500 joined rows);
- "agg#0": a pandas UDF over the 1000 rows, then a group-by count.
"""

import os

import pytest

from perfbench import eventlog

LOG = os.path.join(os.path.dirname(__file__), "data", "tiny_eventlog.jsonl")


@pytest.fixture(scope="module")
def log():
    return eventlog.parse(eventlog.read_events(LOG))


def _window(log, gid):
    jobs = log.groups[gid].jobs
    return (min(s for _, s, _ in jobs) - 100.0,
            max(e for _, _, e in jobs) + 100.0)


def test_groups_and_jobs(log):
    assert {g for g in log.groups if g} == {"join#0", "agg#0"}
    assert len(log.groups["join#0"].jobs) == 3
    assert len(log.groups["agg#0"].jobs) == 2


def test_join_group_metrics(log):
    lo, hi = _window(log, "join#0")
    m = eventlog.group_metrics(log, "join#0", lo, hi)
    assert m["jobs"] == 3.0
    assert m["candidate_rows"] == 500.0
    assert m["broadcast_bytes"] > 0
    assert m["records_read"] == 1100.0
    assert m["python_s"] == 0.0 and m["python_bytes"] == 0
    assert m["busy_s"] > 0 and m["task_skew"] >= 1.0
    job_ms = eventlog.union_ms([(s, e) for _, s, e in
                                log.groups["join#0"].jobs], lo, hi)
    assert m["driver_s"] == pytest.approx((hi - lo - job_ms) / 1000.0)


def test_python_group_metrics(log):
    lo, hi = _window(log, "agg#0")
    m = eventlog.group_metrics(log, "agg#0", lo, hi)
    assert m["jobs"] == 2.0
    assert m["python_s"] > 0 and m["python_bytes"] > 0
    assert m["candidate_rows"] == 0 and m["broadcast_bytes"] == 0
    assert m["hash_probes_per_key"] >= 1.0
    assert m["shuffle_bytes"] > 0
    assert m["records_read"] == 1000.0


def test_stages_belong_to_one_group(log):
    a = set(eventlog.own_stages(log, "join#0"))
    b = set(eventlog.own_stages(log, "agg#0"))
    assert a and b and not a & b


def test_unknown_group_reads_zero(log):
    m = eventlog.group_metrics(log, "nope#0", 0.0, 1000.0)
    assert m["jobs"] == 0.0 and m["busy_s"] == 0.0
    assert m["driver_s"] == pytest.approx(1.0)


def test_spans_nest_run_op_job_stage(log):
    lo, hi = _window(log, "join#0")
    spans = eventlog.spans(log, "r1", [{"group": "join#0", "name": "join",
                                        "start_ms": lo, "end_ms": hi}])
    by_id = {s["span_id"]: s for s in spans}
    kinds = [s["kind"] for s in spans]
    assert kinds.count("run") == 1 and kinds.count("op") == 1
    assert kinds.count("job") == 3 and kinds.count("stage") >= 1
    assert all(s["run_id"] == "r1" for s in spans)
    for s in spans:
        if s["parent_id"] is not None:
            parent = by_id[s["parent_id"]]
            assert ["run", "op", "job", "stage"].index(parent["kind"]) \
                == ["run", "op", "job", "stage"].index(s["kind"]) - 1


def test_union_ms():
    assert eventlog.union_ms([], 0, 10) == 0.0
    assert eventlog.union_ms([(0, 4), (2, 6), (8, 9)], 0, 10) == 7.0
    assert eventlog.union_ms([(-5, 3), (9, 20)], 0, 10) == 4.0
    assert eventlog.union_ms([(1, 2), (1, 2)], 0, 10) == 1.0


def test_candidate_join_filter():
    assert eventlog._is_candidate_join(
        "BroadcastHashJoin", "BroadcastHashJoin [a], [b], Inner, BuildRight")
    assert eventlog._is_candidate_join("CartesianProduct", "CartesianProduct")
    assert not eventlog._is_candidate_join(
        "SortMergeJoin", "SortMergeJoin [a], [b], LeftAnti")
    assert not eventlog._is_candidate_join("HashAggregate", "Inner")
