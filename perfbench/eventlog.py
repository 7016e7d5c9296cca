"""Turn one Spark event log into per-operation layer metrics and spans.

The benchmark runs each timed operation under its own Spark job group
(`<op>#<execution>`), so every job, stage, task and SQL execution in
the log can be attributed to one operation execution.  The log must be
uncompressed JSON lines (`spark.eventLog.compress=false`); both the
single-file and the rolling `eventlog_v2_*` directory layouts are read.
"""

from __future__ import annotations

import json
import os
import statistics
from collections import defaultdict
from dataclasses import dataclass, field

SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"
SQL_AQE = ("org.apache.spark.sql.execution.ui."
           "SparkListenerSQLAdaptiveExecutionUpdate")
SQL_DRIVER_ACCUM = ("org.apache.spark.sql.execution.ui."
                    "SparkListenerDriverAccumUpdates")

JOIN_NODES = ("BroadcastHashJoin", "ShuffledHashJoin", "SortMergeJoin",
              "BroadcastNestedLoopJoin", "CartesianProduct")
PY_SENT = "data sent to Python workers"
PY_RECV = "data returned from Python workers"
PY_TIME = "time to run Python workers"


def log_files(path: str) -> list[str]:
    """Event files of one application, in write order."""
    if os.path.isfile(path):
        return [path]
    names = [n for n in os.listdir(path) if n.startswith("events_")]
    return [os.path.join(path, n) for n in
            sorted(names, key=lambda n: int(n.split("_")[1]))]


def read_events(path: str):
    for f in log_files(path):
        with open(f) as fh:
            for line in fh:
                if line.strip():
                    yield json.loads(line)


@dataclass
class Group:
    """Everything the log says about one job group (op execution)."""
    jobs: list = field(default_factory=list)      # (id, start, end)
    stages: set = field(default_factory=set)
    executions: set = field(default_factory=set)


@dataclass
class Log:
    groups: dict = field(default_factory=lambda: defaultdict(Group))
    stage_span: dict = field(default_factory=dict)   # id -> (start, end)
    stage_job: dict = field(default_factory=dict)    # id -> first job id
    job_group: dict = field(default_factory=dict)    # job id -> group
    tasks: dict = field(default_factory=lambda: defaultdict(list))
    acc_node: dict = field(default_factory=dict)     # acc id -> node info
    acc_exec: dict = field(default_factory=dict)     # acc id -> exec id
    acc_sum: dict = field(default_factory=lambda: defaultdict(float))
    acc_tasks: dict = field(default_factory=lambda: defaultdict(list))


def _walk_plan(info: dict, exec_id: int, log: Log) -> None:
    stack = [info]
    while stack:
        node = stack.pop()
        for m in node.get("metrics", []):
            log.acc_node[m["accumulatorId"]] = (
                node["nodeName"], node.get("simpleString", ""), m["name"])
            log.acc_exec[m["accumulatorId"]] = exec_id
        stack.extend(node.get("children", []))


def parse(events) -> Log:
    log = Log()
    job_group = log.job_group
    job_start: dict = {}
    for e in events:
        ev = e["Event"]
        if ev == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            gid = props.get("spark.jobGroup.id")
            jid = e["Job ID"]
            job_group[jid] = gid
            job_start[jid] = e["Submission Time"]
            if gid is not None:
                g = log.groups[gid]
                g.stages.update(e.get("Stage IDs", []))
                if "spark.sql.execution.id" in props:
                    g.executions.add(int(props["spark.sql.execution.id"]))
            for s in e.get("Stage IDs", []):
                log.stage_job.setdefault(s, jid)
        elif ev == "SparkListenerJobEnd":
            jid = e["Job ID"]
            gid = job_group.get(jid)
            if gid is not None:
                log.groups[gid].jobs.append(
                    (jid, job_start[jid], e["Completion Time"]))
        elif ev == "SparkListenerStageCompleted":
            si = e["Stage Info"]
            if "Submission Time" in si and "Completion Time" in si:
                log.stage_span[si["Stage ID"]] = (si["Submission Time"],
                                                  si["Completion Time"])
        elif ev == "SparkListenerTaskEnd":
            tm = e.get("Task Metrics")
            if tm is None:
                continue
            log.tasks[e["Stage ID"]].append(tm)
            for a in e["Task Info"].get("Accumulables", []):
                if a.get("Metadata") == "sql" and "Update" in a:
                    v = float(a["Update"])
                    log.acc_sum[a["ID"]] += v
                    log.acc_tasks[a["ID"]].append(v)
        elif ev == SQL_START:
            gid = e.get("jobGroupId")
            if gid is not None:
                log.groups[gid].executions.add(e["executionId"])
            _walk_plan(e["sparkPlanInfo"], e["executionId"], log)
        elif ev == SQL_AQE:
            _walk_plan(e["sparkPlanInfo"], e["executionId"], log)
        elif ev == SQL_DRIVER_ACCUM:
            for acc, v in e["accumUpdates"]:
                log.acc_sum[acc] += float(v)
    return log


def union_ms(spans, lo: float, hi: float) -> float:
    """Length of the union of [start, end] spans clipped to [lo, hi]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in spans):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def _is_candidate_join(node: str, simple: str) -> bool:
    """Inner or cross joins: the candidate-producing nodes (semi, anti
    and outer joins only filter or decorate candidates)."""
    if node not in JOIN_NODES:
        return False
    if node == "CartesianProduct":
        return True
    return ", Inner" in simple or ", Cross" in simple


def own_stages(log: Log, gid: str) -> list[int]:
    """Stages the group's jobs ran (a stage listed again by a later job
    is skipped there and belongs to its first job's group)."""
    g = log.groups.get(gid, Group())
    return sorted(s for s in g.stages if s in log.stage_span
                  and log.job_group.get(log.stage_job.get(s)) == gid)


def group_metrics(log: Log, gid: str, start_ms: float,
                  end_ms: float) -> dict:
    """Layer metrics of one op execution spanning [start_ms, end_ms]."""
    g = log.groups.get(gid, Group())
    stages = own_stages(log, gid)
    tasks = [t for s in stages for t in log.tasks.get(s, [])]
    run_ms = [t["Executor Run Time"] for t in tasks]
    skew = 1.0
    if stages:
        longest = max(stages, key=lambda s: log.stage_span[s][1]
                      - log.stage_span[s][0])
        times = [t["Executor Run Time"] for t in log.tasks.get(longest, [])]
        if times:
            skew = max(times) / max(statistics.median(times), 1.0)

    def tm(key, sub=None):
        if sub is None:
            return float(sum(t.get(key, 0) for t in tasks))
        return float(sum(t.get(key, {}).get(sub, 0) for t in tasks))

    accs = [a for a, x in log.acc_exec.items() if x in g.executions]

    def sql(name, node=None, pred=None):
        return sum(log.acc_sum.get(a, 0.0) for a in accs
                   if log.acc_node[a][2] == name
                   and (node is None or log.acc_node[a][0] == node)
                   and (pred is None or pred(*log.acc_node[a][:2])))

    probes = []
    for a in accs:
        if log.acc_node[a][2] == "avg hash probes per key":
            vals = [v for v in log.acc_tasks.get(a, []) if v > 0]
            if vals:
                # average metrics are stored x10 (one decimal digit)
                probes.append(statistics.fmean(vals) / 10.0)
    op_ms = max(end_ms - start_ms, 0.0)
    job_ms = union_ms([(s, e) for _, s, e in g.jobs], start_ms, end_ms)
    return {
        "jobs": float(len(g.jobs)),
        "driver_s": (op_ms - job_ms) / 1000.0,
        "busy_s": sum(run_ms) / 1000.0,
        "task_skew": skew,
        "shuffle_bytes": tm("Shuffle Write Metrics", "Shuffle Bytes Written"),
        "spill_bytes": tm("Disk Bytes Spilled"),
        "records_read": tm("Input Metrics", "Records Read"),
        "bytes_written": tm("Output Metrics", "Bytes Written"),
        "python_s": sql(PY_TIME) / 1000.0,
        "python_bytes": sql(PY_SENT) + sql(PY_RECV),
        "broadcast_bytes": sql("data size", node="BroadcastExchange"),
        "candidate_rows": sql("number of output rows",
                              pred=_is_candidate_join),
        "hash_probes_per_key": max(probes) if probes else 0.0,
    }


def spans(log: Log, run_id: str, op_spans: list[dict]) -> list[dict]:
    """run -> op -> Spark job -> stage spans sharing `run_id`.

    op_spans: [{"group": gid, "name": op, "start_ms", "end_ms"}]."""
    out = []
    lo = min((o["start_ms"] for o in op_spans), default=0.0)
    hi = max((o["end_ms"] for o in op_spans), default=0.0)
    out.append({"run_id": run_id, "span_id": run_id, "parent_id": None,
                "kind": "run", "name": run_id, "start_ms": lo,
                "end_ms": hi})
    for o in op_spans:
        gid = o["group"]
        out.append({"run_id": run_id, "span_id": gid, "parent_id": run_id,
                    "kind": "op", "name": o["name"],
                    "start_ms": o["start_ms"], "end_ms": o["end_ms"]})
        g = log.groups.get(gid, Group())
        for jid, s, e in g.jobs:
            jspan = f"{gid}/job{jid}"
            out.append({"run_id": run_id, "span_id": jspan,
                        "parent_id": gid, "kind": "job",
                        "name": f"job {jid}", "start_ms": s, "end_ms": e})
            for sid in own_stages(log, gid):
                if log.stage_job.get(sid) == jid:
                    s0, s1 = log.stage_span[sid]
                    out.append({"run_id": run_id,
                                "span_id": f"{jspan}/stage{sid}",
                                "parent_id": jspan, "kind": "stage",
                                "name": f"stage {sid}", "start_ms": s0,
                                "end_ms": s1})
    return out
