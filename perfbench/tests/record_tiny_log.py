"""Re-record perfbench/tests/data/tiny_eventlog.jsonl.

    python3 perfbench/tests/record_tiny_log.py

Runs two tiny job groups on a local[2] session with the event log on,
then keeps only the events and fields the reader uses, so the fixture
stays small.  The expected numbers in test_perfbench_eventlog
must be updated by hand after re-recording.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
KEEP = {"SparkListenerJobStart": ("Job ID", "Submission Time", "Stage IDs",
                                  "Properties"),
        "SparkListenerJobEnd": ("Job ID", "Completion Time"),
        "SparkListenerStageCompleted": ("Stage Info",),
        "SparkListenerTaskEnd": ("Stage ID", "Task Info", "Task Metrics")}
PROPS = ("spark.jobGroup.id", "spark.sql.execution.id")


def _plan(node: dict) -> dict:
    return {"nodeName": node["nodeName"],
            "simpleString": node.get("simpleString", ""),
            "metrics": node.get("metrics", []),
            "children": [_plan(c) for c in node.get("children", [])]}


def slim(e: dict) -> dict | None:
    ev = e["Event"]
    if ev in KEEP:
        out = {"Event": ev, **{k: e[k] for k in KEEP[ev] if k in e}}
        if "Properties" in out:
            out["Properties"] = {k: v for k, v in out["Properties"].items()
                                 if k in PROPS}
        if "Stage Info" in out:
            si = out["Stage Info"]
            out["Stage Info"] = {k: si[k] for k in
                                 ("Stage ID", "Submission Time",
                                  "Completion Time") if k in si}
        if "Task Info" in out:
            out["Task Info"] = {"Accumulables": [
                {k: a[k] for k in ("ID", "Update", "Metadata") if k in a}
                for a in out["Task Info"].get("Accumulables", [])
                if a.get("Metadata") == "sql"]}
        return out
    if ev.endswith("SQLExecutionStart"):
        return {"Event": ev, "executionId": e["executionId"],
                "jobGroupId": e.get("jobGroupId"),
                "sparkPlanInfo": _plan(e["sparkPlanInfo"])}
    if ev.endswith("SQLAdaptiveExecutionUpdate"):
        return {"Event": ev, "executionId": e["executionId"],
                "sparkPlanInfo": _plan(e["sparkPlanInfo"])}
    if ev.endswith("DriverAccumUpdates"):
        return e
    return None


def main() -> None:
    from pyspark.sql import SparkSession, functions as F
    from pyspark.sql.pandas.functions import pandas_udf

    sys.path.insert(0, os.path.dirname(os.path.dirname(HERE)))
    from perfbench import eventlog

    tmp = tempfile.mkdtemp(dir=HERE)
    spark = None
    try:
        spark = (SparkSession.builder.master("local[2]")
                 .config("spark.ui.enabled", "false")
                 .config("spark.ui.showConsoleProgress", "false")
                 .config("spark.sql.shuffle.partitions", "2")
                 .config("spark.eventLog.enabled", "true")
                 .config("spark.eventLog.dir", tmp)
                 .config("spark.eventLog.compress", "false")
                 .getOrCreate())

        # no annotations: this module's postponed annotations would
        # hide the pd.Series hints from pandas_udf's type inference
        def plus1(v):
            return v + 1
        plus1 = pandas_udf(plus1, "long")

        sc = spark.sparkContext
        big = spark.range(0, 1000, numPartitions=2)
        small = spark.range(0, 100).withColumnRenamed("id", "k")
        sc.setJobGroup("join#0", "join")
        (big.withColumn("k", F.col("id") % 50)
            .join(F.broadcast(small), "k")
            .where(F.col("id") % 2 == 0).count())
        sc.setJobGroup("agg#0", "agg")
        (big.select(plus1("id").alias("v"))
            .groupBy((F.col("v") % 7).alias("g")).count().collect())
        spark.stop()
        spark = None
        [app] = os.listdir(tmp)
        events = (slim(e) for e in
                  eventlog.read_events(os.path.join(tmp, app)))
        with open(os.path.join(HERE, "data", "tiny_eventlog.jsonl"),
                  "w") as f:
            for e in events:
                if e is not None:
                    f.write(json.dumps(e) + "\n")
    finally:
        if spark is not None:
            spark.stop()
        shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    main()
