"""The one profiling instrument of ``tools/``: Spark's event log.

Every tool measures the same way:

1. ``enable_event_log()`` before the JVM starts, so the session logs every
   job, stage and task to a temp dir;
2. ``measure(spark, group, run)`` around each measured call, so its jobs
   carry a job group and a hung call is cancelled;
3. ``group_records(log_dir)`` after ``spark.stop()`` has flushed the log:
   one record per job group, read with ``perfbench/eventlog.py``.

Run as a script, it profiles registry queries at sf0.1 under the same
session and warm-up as ``bench.py``. Each query runs once, under two job
groups: ``<name>:build`` is ``fn(spark, sf_dir)`` (driver-side Python plus
any eager materializations and bounded collects the query function runs),
``<name>:exec`` is one noop-sink execution of the returned frame.

    python tools/profile_queries.py [name ...]

Writes ``plans/$SPARK_GRAFT_PLANS_ROUND/profile.json`` (default r15) and
prints a table sorted by build + exec wall.
"""

from __future__ import annotations

import atexit
import json
import os
import shlex
import shutil
import statistics
import sys
import tempfile
import threading
import time
from collections import defaultdict

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from perfbench.eventlog import GroupStats, group_stats, read_events  # noqa: E402

#: per-call wall cap: a call that runs past it has its job group cancelled
#: and reports err="timeout" — a hang is a finding, not a stalled tool
TIMEOUT_S = 240

_PYTHON_KEYS = ("run_ms", "bytes_sent", "bytes_returned")


def enable_event_log() -> str:
    """Turn Spark's event log on for the session this process starts next,
    writing to a fresh temp dir (removed at exit), and return that dir.
    Must run before the JVM starts: it goes through
    ``PYSPARK_SUBMIT_ARGS``, as ``perfbench/run.py`` does."""
    log_dir = tempfile.mkdtemp(prefix="spark-events-")
    atexit.register(shutil.rmtree, log_dir, True)
    submit = ["--conf", "spark.eventLog.enabled=true",
              "--conf", f"spark.eventLog.dir=file://{log_dir}"]
    rest = os.environ.get("PYSPARK_SUBMIT_ARGS", "pyspark-shell")
    os.environ["PYSPARK_SUBMIT_ARGS"] = f"{shlex.join(submit)} {rest}"
    return log_dir


def measure(spark, group: str, run):
    """Call ``run()`` with every Spark job it starts filed under job group
    ``group``. Returns ``(value, {"wall_s", "err"})``; ``value`` is None
    and ``err`` is set when ``run`` raises. A call still running after
    ``TIMEOUT_S`` has its jobs cancelled (interrupting their tasks) and
    reports ``err == "timeout"``. The watchdog only reaches Spark jobs: a
    driver-side Python loop that never starts one is not interrupted."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group, interruptOnCancel=True)
    timed_out = threading.Event()

    def _cancel():
        timed_out.set()
        sc.cancelJobGroup(group)

    timer = threading.Timer(TIMEOUT_S, _cancel)
    timer.start()
    value, err = None, None
    t0 = time.perf_counter()
    try:
        value = run()
    except Exception as exc:  # noqa: BLE001 — per-call isolation
        err = "timeout" if timed_out.is_set() else f"{type(exc).__name__}: {exc}"[:300]
    finally:
        wall = time.perf_counter() - t0
        timer.cancel()
        sc.setJobGroup("", "")
    return value, {"wall_s": round(wall, 3), "err": err}


def _max_task_peak_mem(events: list[dict]) -> dict[str, int]:
    """Per job group, the largest ``Peak Execution Memory`` of any one
    task. (The live UI's stage ``peakExecutionMemory`` is the SUM over the
    stage's tasks, not this.) Stage ids restart in every application."""
    stage_group: dict[int, str] = {}
    peak: dict[str, int] = defaultdict(int)
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerApplicationStart":
            stage_group = {}
        elif kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
            stage_group.update(dict.fromkeys(ev.get("Stage IDs", []), group))
        elif kind == "SparkListenerTaskEnd":
            mem = (ev.get("Task Metrics") or {}).get("Peak Execution Memory")
            g = stage_group.get(ev["Stage ID"], "")
            peak[g] = max(peak[g], int(mem or 0))
    return peak


def _record(s: GroupStats, max_task_peak_mem: int) -> dict:
    return {
        "jobs": s.jobs,
        "stages": s.stages,
        "tasks": s.tasks,
        "task_run_s": round(s.task_run_ms / 1e3, 3),
        "gc_s": round(s.gc_ms / 1e3, 3),
        "shuffle_write_bytes": s.shuffle_write_bytes,
        "spill_bytes": s.spill_bytes,
        "records_read": s.records_read,
        "max_task_peak_mem_bytes": max_task_peak_mem,
        "skew": round(s.skew(), 2),
        "python": {k: s.python.get(k, 0) for k in _PYTHON_KEYS},
        # per stage: task count and median/max task duration (launch to finish)
        "stage_tasks": {
            str(sid): {"tasks": len(ts), "median_ms": statistics.median(ts),
                       "max_ms": max(ts)}
            for sid, ts in sorted(s.stage_tasks.items())
        },
    }


#: the record of a group that started no job
EMPTY = _record(GroupStats(), 0)


def group_records(log_dir: str) -> dict[str, dict]:
    """One record per job group of the event log under ``log_dir``. Read
    it after ``spark.stop()``: only then is the log complete."""
    events = read_events(log_dir)
    peak = _max_task_peak_mem(events)
    return {g: _record(s, peak.get(g, 0)) for g, s in group_stats(events).items()}


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    log_dir = enable_event_log()

    import bench

    from duckdb_nats_jetstream_spark.queries import full_registry
    from duckdb_nats_jetstream_spark.session import get_spark

    spark = get_spark("profile-queries")
    spark.sparkContext.setLogLevel("ERROR")
    registry = full_registry()
    names = sys.argv[1:] or sorted(registry)

    bench.warm_up(spark, sf_dir)

    walls: dict[str, dict] = {}
    for name in names:
        fn = registry[name][0]
        df, build = measure(spark, f"{name}:build", lambda: fn(spark, sf_dir))
        exe = {"wall_s": 0.0, "err": "build failed"}
        if build["err"] is None:
            _, exe = measure(
                spark,
                f"{name}:exec",
                lambda: df.write.mode("overwrite").format("noop").save(),
            )
        walls[name] = {"build": build, "exec": exe}
        err = build["err"] or exe["err"]
        print(f"{name}: build {build['wall_s']}s exec {exe['wall_s']}s"
              f"{' ERR ' + err if err else ''}", file=sys.stderr, flush=True)
    spark.stop()

    records = group_records(log_dir)
    out = {
        name: {
            phase: {**w, **records.get(f"{name}:{phase}", EMPTY)}
            for phase, w in walls[name].items()
        }
        for name in names
    }

    rnd = os.environ.get("SPARK_GRAFT_PLANS_ROUND", "r15")
    os.makedirs(os.path.join(REPO, "plans", rnd), exist_ok=True)
    with open(os.path.join(REPO, "plans", rnd, "profile.json"), "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
        f.write("\n")

    print(f"{'query':35s} {'build_s':>8s} {'exec_s':>7s} {'jobs b+e':>8s}"
          f" {'stages':>6s} {'tasks':>6s} {'task_s':>7s} {'shufMB':>7s}"
          f" {'memMB':>6s} {'skew':>5s} {'pyrun_s':>7s}")
    for name in sorted(out, key=lambda n: -(out[n]["build"]["wall_s"] + out[n]["exec"]["wall_s"])):
        b, e = out[name]["build"], out[name]["exec"]
        err = b["err"] or e["err"]
        print(
            f"{name:35s} {b['wall_s']:8.3f} {e['wall_s']:7.3f}"
            f" {b['jobs']:>3d}+{e['jobs']:<4d} {b['stages'] + e['stages']:6d}"
            f" {b['tasks'] + e['tasks']:6d} {b['task_run_s'] + e['task_run_s']:7.2f}"
            f" {(b['shuffle_write_bytes'] + e['shuffle_write_bytes']) / 1e6:7.1f}"
            f" {max(b['max_task_peak_mem_bytes'], e['max_task_peak_mem_bytes']) / 1e6:6.1f}"
            f" {max(b['skew'], e['skew']):5.1f}"
            f" {(b['python']['run_ms'] + e['python']['run_ms']) / 1e3:7.2f}"
            f"{'  ERR ' + err if err else ''}"
        )
    print(f"wrote plans/{rnd}/profile.json ({len(out)} queries)")


if __name__ == "__main__":
    main()
