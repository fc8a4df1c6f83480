"""Regenerate ``eventlog_fragment.jsonl`` and ``fragment_spans.json``:
a few small Spark jobs run inside known spans, one of them submitted
from a worker thread, with the event log on. Only the events and fields
``tracing.read_event_log`` reads are kept.

    python3 perfbench/tests/data/make_fragment.py
"""

from __future__ import annotations

import json
import shutil
import sys
import tempfile
import threading
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE.parent.parent))

from tracing import Tracer, event_log_lines  # noqa: E402

KEEP = {
    "SparkListenerJobStart": ("Job ID", "Submission Time", "Stage IDs"),
    "SparkListenerStageCompleted": ("Stage Info",),
    "SparkListenerTaskEnd": ("Stage ID", "Stage Attempt ID", "Task End Reason",
                             "Task Info", "Task Metrics"),
}
STAGE_INFO = ("Stage ID", "Number of Tasks", "Submission Time", "Completion Time")
TASK_INFO = ("Task ID", "Launch Time", "Finish Time", "Failed", "Killed")
TASK_METRICS = ("Executor Deserialize Time", "Executor Run Time", "Executor CPU Time",
                "Result Serialization Time", "JVM GC Time", "Shuffle Read Metrics",
                "Shuffle Write Metrics", "Memory Bytes Spilled", "Disk Bytes Spilled")


def trim(ev: dict) -> dict | None:
    keep = KEEP.get(ev["Event"])
    if keep is None:
        return None
    out = {"Event": ev["Event"]} | {k: ev[k] for k in keep if k in ev}
    if "Stage Info" in out:
        out["Stage Info"] = {k: out["Stage Info"][k] for k in STAGE_INFO}
    if "Task Info" in out:
        out["Task Info"] = {k: out["Task Info"][k] for k in TASK_INFO}
        out["Task Metrics"] = {k: out["Task Metrics"][k] for k in TASK_METRICS}
    return out


def main() -> None:
    from pyspark.sql import SparkSession

    log_dir = Path(tempfile.mkdtemp())
    spark = (
        SparkSession.builder.master("local[2]")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.shuffle.partitions", "3")
        .config("spark.sql.adaptive.enabled", "false")
        .config("spark.eventLog.enabled", "true")
        .config("spark.eventLog.compress", "false")
        .config("spark.eventLog.dir", log_dir.as_uri())
        .getOrCreate()
    )
    spark.range(10).count()  # before any span: attributed to none
    tr = Tracer()
    with tr.span("op", op="shuffle"):
        with tr.span("plans.act"):
            df = spark.range(3000).selectExpr("id % 7 AS k").groupBy("k").count()
            df.collect()
            df.collect()  # re-uses the shuffle: its map stage is skipped
    with tr.span("op", op="threaded"):
        worker = threading.Thread(target=lambda: spark.range(50).count())
        worker.start()
        worker.join(timeout=120)
    spark.stop()

    events = [trim(json.loads(line)) for line in event_log_lines(log_dir) if line.strip()]
    with (HERE / "eventlog_fragment.jsonl").open("w") as fh:
        for ev in events:
            if ev is not None:
                fh.write(json.dumps(ev) + "\n")
    tr.write(HERE / "fragment_spans.json")
    shutil.rmtree(log_dir)


if __name__ == "__main__":
    main()
