"""The tools' one profiling instrument: ``measure``'s watchdog, and the
per-group records built from an event log."""

from __future__ import annotations

import json
import time

import pandas as pd
from pyspark.sql import functions as F

from tools import profile_queries


def test_measure_watchdog_cancels_a_hung_job(spark, monkeypatch):
    monkeypatch.setattr(profile_queries, "TIMEOUT_S", 2)

    @F.pandas_udf("long")
    def hang(v: pd.Series) -> pd.Series:
        time.sleep(120)
        return v

    df = spark.range(1, numPartitions=1).select(hang("id").alias("id"))
    t0 = time.perf_counter()
    value, r = profile_queries.measure(
        spark, "watchdog", lambda: df.write.mode("overwrite").format("noop").save()
    )
    assert r["err"] == "timeout" and value is None
    assert time.perf_counter() - t0 < 2 + 15
    # the cancelled task released its slot: the session still runs jobs
    assert spark.range(1).count() == 1


def _task_end(stage: int, ms: int, peak: int, **accums) -> dict:
    return {
        "Event": "SparkListenerTaskEnd",
        "Stage ID": stage,
        "Task Info": {
            "Launch Time": 1000,
            "Finish Time": 1000 + ms,
            "Accumulables": [{"Name": k, "Update": v} for k, v in accums.items()],
        },
        "Task Metrics": {"Executor Run Time": ms, "Peak Execution Memory": peak},
    }


def test_group_records_per_job_group(tmp_path):
    events = [
        {"Event": "SparkListenerApplicationStart"},
        {"Event": "SparkListenerJobStart", "Stage IDs": [0],
         "Properties": {"spark.jobGroup.id": "q:build"}},
        {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 0}},
        _task_end(0, 10, 300),
        _task_end(0, 30, 500, **{"time to run Python workers": 7,
                                  "time to start Python workers": 99}),
        {"Event": "SparkListenerJobStart", "Stage IDs": [1]},
        {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 1}},
        _task_end(1, 5, 900),
    ]
    app = tmp_path / "eventlog_v2_app"
    app.mkdir()
    (app / "events_1_app").write_text("\n".join(json.dumps(e) for e in events))

    recs = profile_queries.group_records(str(tmp_path))
    q = recs["q:build"]
    assert (q["jobs"], q["stages"], q["tasks"]) == (1, 1, 2)
    # the largest single task's peak, not the stage's sum over tasks
    assert q["max_task_peak_mem_bytes"] == 500
    assert q["stage_tasks"] == {"0": {"tasks": 2, "median_ms": 20, "max_ms": 30}}
    assert q["python"] == {"run_ms": 7, "bytes_sent": 0, "bytes_returned": 0}
    assert recs[""]["max_task_peak_mem_bytes"] == 900
