"""Per-query cost decomposition for the r13 optimization round.

For each named query (default: the full registry in bench order) measure,
under the SAME session + warm-up as ``bench.py``:

- ``build_s``    — DataFrame construction time (``fn(spark, sf_dir)``):
                   driver-side Python + any eager inner actions the query
                   function runs (codebook fits, dial sizing, RM3 collects).
- ``analysis_s`` — first ``df.schema`` touch (catalyst analysis).
- ``exec_first`` / ``exec_min`` — first and min-of-3 noop-sink executions
                   of a FRESHLY re-built DataFrame each time (bench
                   methodology: cold plan, warm session).
- ``n_jobs`` / ``n_stages`` / ``n_tasks`` — Spark jobs/stages/tasks of one
                   full build+execute pass, via a per-query job group.

The job/stage counts identify queries whose wall time is fixed scheduling
overhead (many tiny jobs: broadcasts, inner collects) vs real compute —
guide §1's "decide whether the time is scheduler delay or work" for a
173-query registry where the UI is disabled.

    python tools/profile_queries.py [--top N | name ...]

Writes ``plans/$SPARK_GRAFT_PLANS_ROUND/profile.json`` (default r14)
and prints a sorted table.
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    os.environ.setdefault("SPARK_GRAFT_ORACLE_SF_DIR", sf_dir)

    import bench

    from duckdb_nats_jetstream_spark.queries import full_registry
    from duckdb_nats_jetstream_spark.session import get_spark

    spark = get_spark("profile-queries")
    spark.sparkContext.setLogLevel("ERROR")
    registry = full_registry()

    args = sys.argv[1:]
    if args and args[0] == "--top":
        n = int(args[1])
        with open(os.path.join(REPO, "BENCH_DETAIL.json")) as f:
            detail = json.load(f)["queries"]

        def t(v):
            return v["spark_s"] if isinstance(v, dict) else v

        names = [
            k
            for k, _ in sorted(detail.items(), key=lambda kv: -t(kv[1]))
            if k in registry
        ][:n]
    elif args:
        names = args
    else:
        names = sorted(registry)

    bench.warm_up(spark, sf_dir)

    sc = spark.sparkContext
    tracker = sc.statusTracker()
    out: dict[str, dict] = {}
    for name in names:
        fn, _sql = registry[name]
        group = f"profile:{name}"
        sc.setJobGroup(group, name)
        try:
            t0 = time.perf_counter()
            df = fn(spark, sf_dir)
            t1 = time.perf_counter()
            _ = df.schema
            t2 = time.perf_counter()
            df.write.mode("overwrite").format("noop").save()
            t3 = time.perf_counter()
        except Exception as e:  # noqa: BLE001 — isolate per query
            out[name] = {"error": f"{type(e).__name__}: {e}"[:300]}
            continue
        finally:
            sc.setJobGroup("", "")

        job_ids = tracker.getJobIdsForGroup(group)
        n_stages = n_tasks = 0
        for jid in job_ids:
            ji = tracker.getJobInfo(jid)
            if ji is None:
                continue
            for sid in ji.stageIds:
                si = tracker.getStageInfo(sid)
                if si is not None and si.numTasks > 0 and si.numCompletedTasks > 0:
                    n_stages += 1
                    n_tasks += si.numTasks

        execs = [t3 - t2]
        for _ in range(2):
            df = fn(spark, sf_dir)
            t0b = time.perf_counter()
            df.write.mode("overwrite").format("noop").save()
            execs.append(time.perf_counter() - t0b)

        out[name] = {
            "build_s": round(t1 - t0, 3),
            "analysis_s": round(t2 - t1, 3),
            "exec_first": round(execs[0], 3),
            "exec_min": round(min(execs), 3),
            "total_first": round(t3 - t0, 3),
            "n_jobs": len(job_ids),
            "n_stages": n_stages,
            "n_tasks": n_tasks,
        }
        r = out[name]
        print(
            f"{name:35s} build {r['build_s']:6.3f} ana {r['analysis_s']:6.3f}"
            f" exec1 {r['exec_first']:6.3f} execmin {r['exec_min']:6.3f}"
            f" jobs {r['n_jobs']:3d} stages {r['n_stages']:3d}"
            f" tasks {r['n_tasks']:5d}",
            flush=True,
        )

    rnd = os.environ.get("SPARK_GRAFT_PLANS_ROUND", "r14")
    os.makedirs(os.path.join(REPO, "plans", rnd), exist_ok=True)
    with open(os.path.join(REPO, "plans", rnd, "profile.json"), "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
    print(f"wrote plans/{rnd}/profile.json ({len(out)} queries)")


if __name__ == "__main__":
    main()
