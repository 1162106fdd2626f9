"""Skewed-key stress batch (r04 verdict ask #6): measure what a hot key
does to the user-keyed shuffle family at scale.

Skew, not volume, is what kills user-keyed shuffles at 100 TB: AQE's skew
splitting only rescues sort-merge JOINS — a skewed GROUP BY whose aggregate
has no map-side partial (collect_list) or a skewed window (row_number over
the hot user) concentrates the hot key in ONE reducer task no matter how
many executors exist. This harness builds a 100× events table where 90% of
all rows belong to a single user, runs the three verdict-named queries at
uniform-100× and skewed-100×, and reports per-run wall time plus the
max/median task duration of the stage with the slowest task — the direct
measurement of "is one straggler task doing all the work" — measured
through ``profile_queries.measure`` and the event log.

Expected shapes (the hypotheses this measures):
- ``scan_salted_agg``   — two-phase salted aggregation: flat max/median.
- ``scan_funnel``       — collect_list groupBy(user): the hot user's array
  lands in ONE task (no map-side partial for collect_list).
- ``scan_latest_per_key`` — row_number window over user: the hot user's
  rows sort in ONE task; the measurement decides whether a max_by
  aggregation (map-side partial max per key) must replace the window.

Data lives under ``/root/repo/.stress/{uniform100,skew100}/`` (gitignored,
regenerated on demand; built atomically like stress_scale).

Run:  python tools/stress_skew.py   (~2-4 min)  → paste table into
SCALING.md.
"""

from __future__ import annotations

import os
import shutil
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from tools.profile_queries import (  # noqa: E402
    EMPTY,
    enable_event_log,
    group_records,
    measure,
)

SRC_DIR = "/root/testdata/sf0.1"
UNIFORM_DIR = os.path.join(REPO, ".stress", "uniform100")
SKEW_DIR = os.path.join(REPO, ".stress", "skew100")
#: 100× events (10M rows): at 10× the hot partition is ~20 MB and the
#: straggler signal drowns in task-startup noise — 100× makes the hot
#: user's ~9M rows vs a ~3k-row median partition measurable.
REPLICAS = 100
HOT_FRACTION = 0.9  # 90% of rows land on user_id = 1

QUERIES = [
    q
    for q in os.environ.get(
        "SPARK_GRAFT_SKEW_QUERIES",
        "scan_salted_agg,scan_funnel,scan_latest_per_key",
    ).split(",")
    if q
]
#: batch 5 (r05 verdict ask #6): measure the skewed fact-fact sort-merge
#: join — the one skew claim previously argued from docs, not data.
RUN_JOIN = os.environ.get("SPARK_GRAFT_SKEW_JOIN", "1") == "1"


def _build_events(out_dir: str, skewed: bool) -> None:
    """100× events under ``out_dir`` (atomic build; dims symlinked at 1×).
    ``skewed=True`` reassigns 90% of rows (hash-deterministic) to user_id=1;
    ``skewed=False`` keeps per-replica-distinct users. Same row count and
    columns either way, so uniform-vs-skewed isolates the key distribution."""
    import duckdb

    expected = [f for f in os.listdir(SRC_DIR) if f.endswith(".parquet")]
    if os.path.isdir(out_dir) and all(
        # exists (not lexists): a symlink whose target moved must fail
        # the completeness check and trigger a rebuild (r05 ADVICE).
        os.path.exists(os.path.join(out_dir, f)) for f in expected
    ):
        return
    if os.path.isdir(out_dir):
        shutil.rmtree(out_dir)
    tmp_dir = out_dir + ".tmp"
    if os.path.isdir(tmp_dir):
        shutil.rmtree(tmp_dir)
    os.makedirs(tmp_dir)
    uid = (
        f"""CASE WHEN hash(e.event_id + r.k * 10000000) % 100
                      < {int(HOT_FRACTION * 100)}
                 THEN 1
                 ELSE e.user_id + r.k * 10000000 END"""
        if skewed
        else "e.user_id + r.k * 10000000"
    )
    con = duckdb.connect()
    con.execute(
        f"""
        COPY (
          SELECT e.event_id + r.k * 10000000 AS event_id,
                 e.ts,
                 {uid} AS user_id,
                 e.event_type, e.value, e.props
          FROM '{SRC_DIR}/events.parquet' e,
               (SELECT unnest(range({REPLICAS})) AS k) r
          ORDER BY event_id
        ) TO '{tmp_dir}/events.parquet' (FORMAT parquet)
        """
    )
    for fname in expected:
        if not os.path.lexists(os.path.join(tmp_dir, fname)):
            os.symlink(
                os.path.join(SRC_DIR, fname), os.path.join(tmp_dir, fname)
            )
    os.rename(tmp_dir, out_dir)
    print(f"built {out_dir}: {REPLICAS}x events, skewed={skewed}",
          file=sys.stderr)


def run_one(spark, name: str, sf_dir: str) -> dict:
    from duckdb_nats_jetstream_spark.queries import full_registry

    fn = full_registry()[name][0]
    return _measure(
        spark,
        lambda: fn(spark, sf_dir),
        f"{name}[{os.path.basename(sf_dir)}]",
    )


def _measure(spark, build_df, label: str) -> dict:
    """Time one noop-sink materialization under job group ``label``;
    its task durations are read back from the event log by ``_result``."""
    _, r = measure(
        spark, label, lambda: build_df().write.mode("overwrite").format("noop").save()
    )
    print(f"{label}: {r}", file=sys.stderr)
    return {"group": label, **r}


def _result(records: dict[str, dict], run: dict) -> dict:
    """Wall + median/max task seconds of the stage whose slowest task is
    the slowest — the straggler signal for one materialization."""
    worst = max(
        records.get(run["group"], EMPTY)["stage_tasks"].values(),
        key=lambda st: st["max_ms"],
        default={"median_ms": 0, "max_ms": 0},
    )
    med, mx = worst["median_ms"] / 1e3, worst["max_ms"] / 1e3
    return {
        "wall_s": round(run["wall_s"], 2),
        "task_med_s": round(med, 2),
        "task_max_s": round(mx, 2),
        "straggler_x": round(mx / med, 1) if med > 0 else None,
    }


def run_join_variant(
    spark, sf_dir: str, skew_join_on: bool, agg_under_join: bool = False
) -> dict:
    """Skewed fact⋈fact sort-merge equi-join, AQE skew-splitting off/on.

    Shape: 100× events (90% of rows on user_id=1) equi-joined on user_id
    against its own distinct-user key set (~thousands of rows — broadcast
    is DISABLED so Catalyst must pick the sort-merge join under test; at
    100 TB the right side would be another fact, far past any broadcast
    threshold). Without skew handling, the hot key's post-shuffle
    partition sorts and joins in ONE task; ``OptimizeSkewedJoin`` splits
    it into advisory-sized chunks, duplicating the matching right-side
    partition per chunk — the claimed (SCALING.md:16) rescue under test.

    ``agg_under_join`` measures the trap this harness FOUND (batch 5):
    ``OptimizeSkewedJoin`` pattern-matches only
    ``SMJ(Sort(ShuffleRead), Sort(ShuffleRead))`` — leaving the
    ``distinct()`` aggregate directly under the join's right child makes
    that side ``Sort(HashAggregate(ShuffleRead))``, the rule no-ops, and
    the straggler SURVIVES skewJoin=on. The default (False) materializes
    the right side via eager ``localCheckpoint`` so the join sees a bare
    shuffle on both children, which is also the mitigation.

    Local-scale thresholds: only (user_id, value) survive projection, so
    the hot partition is tens of MB of compressed shuffle bytes — under
    the 256 MB default ``skewedPartitionThresholdInBytes``. The 100 TB
    regime this models has multi-GB partitions, far past the default;
    locally we scale the detection threshold (8 MB) and the advisory
    split size (2 MB) down proportionally rather than inflate the
    dataset another 10×."""
    from pyspark.sql import functions as F

    from duckdb_nats_jetstream_spark.tables import read_table

    conf = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": str(skew_join_on).lower(),
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": os.environ.get(
            "SPARK_GRAFT_SKEW_THRESHOLD", "8MB"
        ),
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": os.environ.get(
            "SPARK_GRAFT_SKEW_ADVISORY", "2MB"
        ),
    }
    old = {k: spark.conf.get(k, None) for k in conf}
    for k, v in conf.items():
        spark.conf.set(k, v)
    try:
        def build():
            ev = read_table(spark, sf_dir, "events").select("user_id", "value")
            users = ev.select("user_id").distinct()
            if not agg_under_join:
                # bare-shuffle right child (the checkpoint build's own
                # stages are tiny and cannot be the measured worst stage)
                users = users.localCheckpoint(eager=True)
            return (
                ev.join(users, "user_id")
                .select((F.col("value") * 2.0).alias("w"))
            )

        return _measure(
            spark,
            build,
            f"join[{os.path.basename(sf_dir)} skewJoin={skew_join_on} "
            f"aggUnderJoin={agg_under_join}]",
        )
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def main() -> None:
    _build_events(UNIFORM_DIR, skewed=False)
    _build_events(SKEW_DIR, skewed=True)
    log_dir = enable_event_log()

    from duckdb_nats_jetstream_spark.session import get_spark
    from duckdb_nats_jetstream_spark.tables import read_table

    spark = get_spark("stress-skew")
    spark.sparkContext.setLogLevel("ERROR")
    read_table(spark, UNIFORM_DIR, "events").count()  # warm

    rows = [
        (name, run_one(spark, name, UNIFORM_DIR), run_one(spark, name, SKEW_DIR))
        for name in QUERIES
    ]
    joins = []
    if RUN_JOIN:
        joins = [
            ("uniform-100×, AQE skewJoin on",
             run_join_variant(spark, UNIFORM_DIR, skew_join_on=True)),
            ("skew-100×, AQE skewJoin OFF",
             run_join_variant(spark, SKEW_DIR, skew_join_on=False)),
            ("skew-100×, AQE skewJoin on",
             run_join_variant(spark, SKEW_DIR, skew_join_on=True)),
            ("skew-100×, skewJoin on, agg under join (rule no-ops)",
             run_join_variant(spark, SKEW_DIR, skew_join_on=True, agg_under_join=True)),
        ]
    spark.stop()  # flushes the event log
    records = group_records(log_dir)

    if rows:
        print("\n| query | uniform-100× wall | skew-100× wall | uniform task med/max | skew task med/max | skew straggler× |")
        print("|---|---|---|---|---|---|")
        for name, u, k in rows:
            ru, rs = _result(records, u), _result(records, k)
            print(
                f"| {name} | {ru['wall_s']}s | {rs['wall_s']}s "
                f"| {ru['task_med_s']}/{ru['task_max_s']}s "
                f"| {rs['task_med_s']}/{rs['task_max_s']}s "
                f"| {rs['straggler_x']} |"
            )

    if joins:
        print("\n| sort-merge equi-join (broadcast off) | wall | task med/max | straggler× |")
        print("|---|---|---|---|")
        for label, run in joins:
            j = _result(records, run)
            print(
                f"| {label} | {j['wall_s']}s "
                f"| {j['task_med_s']}/{j['task_max_s']}s "
                f"| {j['straggler_x']} |"
            )


if __name__ == "__main__":
    main()
