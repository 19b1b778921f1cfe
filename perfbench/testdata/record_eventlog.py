"""Re-record the small event log that test_spans.py parses.

    python3 perfbench/testdata/record_eventlog.py

Runs two nested spans on local[2] (a pandas UDF + shuffle + parquet write
with a count nested inside), then keeps only the events and fields
``spans.parse_event_log`` reads, so the fixture stays a few kilobytes.
"""

from __future__ import annotations

import json
import os
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

from spans import Tracer  # noqa: E402

KEEP = ("SparkListenerJobStart", "SparkListenerJobEnd", "SparkListenerStageCompleted",
        "SparkListenerTaskEnd", "SQLExecutionStart", "SQLAdaptiveExecutionUpdate",
        "DriverAccumUpdates")
TASK_ACCUMS = ("data sent to Python workers", "data returned from Python workers")


def _plan(p: dict) -> dict:
    return {"metrics": [m for m in p.get("metrics", ()) if m["name"] == "number of written files"],
            "children": [_plan(c) for c in p.get("children", ())]}


def _trim(e: dict) -> dict | None:
    ev = e["Event"]
    if not ev.endswith(KEEP):
        return None
    if ev == "SparkListenerJobStart":
        props = e.get("Properties", {})
        return {"Event": ev, "Job ID": e["Job ID"], "Submission Time": e["Submission Time"],
                "Stage IDs": e["Stage IDs"],
                "Properties": {k: props[k] for k in ("spark.jobGroup.id",
                                                     "spark.sql.execution.id") if k in props}}
    if ev == "SparkListenerStageCompleted":
        return {"Event": ev, "Stage Info": {"Stage ID": e["Stage Info"]["Stage ID"]}}
    if ev == "SparkListenerTaskEnd":
        info = e["Task Info"]
        m = e["Task Metrics"]
        return {"Event": ev, "Stage ID": e["Stage ID"],
                "Task Info": {"Accumulables": [a for a in info["Accumulables"]
                                               if a.get("Name") in TASK_ACCUMS]},
                "Task Metrics": {k: m[k] for k in (
                    "Executor Run Time", "Executor CPU Time", "Memory Bytes Spilled",
                    "Disk Bytes Spilled", "Input Metrics", "Shuffle Read Metrics",
                    "Shuffle Write Metrics")}}
    if "sparkPlanInfo" in e:
        return {"Event": ev, "executionId": e["executionId"],
                "jobGroupId": e.get("jobGroupId"), "sparkPlanInfo": _plan(e["sparkPlanInfo"])}
    return e


def main() -> None:
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    tmp = tempfile.mkdtemp()
    spark = (SparkSession.builder.master("local[2]")
             .config("spark.ui.enabled", "false")
             .config("spark.sql.shuffle.partitions", "4")
             .config("spark.eventLog.enabled", "true")
             .config("spark.eventLog.dir", tmp)
             .config("spark.eventLog.rolling.enabled", "false")
             .config("spark.eventLog.compress", "false")
             .getOrCreate())
    tracer = Tracer(sc=spark.sparkContext)

    def double(batches):
        for pdf in batches:
            yield pdf.assign(v=pdf["id"] * 2)

    out = os.path.join(tmp, "out")
    with tracer.span("write"):
        (spark.range(0, 1000, numPartitions=3).withColumn("k", F.col("id") % 7)
         .mapInPandas(double, "id long, k long, v long")
         .groupBy("k").agg(F.sum("v").alias("s"))
         .write.parquet(out))
        with tracer.span("count"):
            spark.read.parquet(out).count()
    spark.stop()
    (log_path,) = [os.path.join(tmp, f) for f in os.listdir(tmp) if f != "out"]
    with open(log_path) as f, open(os.path.join(HERE, "eventlog.jsonl"), "w") as g:
        for line in f:
            e = _trim(json.loads(line))
            if e is not None:
                g.write(json.dumps(e) + "\n")
    with open(os.path.join(HERE, "spans.json"), "w") as g:
        json.dump([vars(sp) for sp in tracer.spans], g, indent=1)


if __name__ == "__main__":
    main()
