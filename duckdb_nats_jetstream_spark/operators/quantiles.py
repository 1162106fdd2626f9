"""Distributed EXACT quantiles — order statistics without the two scale
collapses hiding in the obvious plans:

- ``groupBy(g).agg(percentile(v, p))`` builds an ObjectHashAggregate map of
  every distinct value per group and ships those maps through the shuffle;
  with few groups the final aggregation lands on that many tasks, so 1000
  executors do 3 tasks' work.
- ``Window.partitionBy(g).orderBy(v)`` ranking sorts each whole group on
  one task — same collapse.

This operator instead uses the selection algorithm a sort-based engine
would: range-partition ``(g, v)`` so every partition holds a contiguous
slice of each group's value order (parallel sort, every executor busy),
count per-partition slice sizes (tiny), turn the target ranks
``pos = (n-1)·p`` into (partition, local offset) coordinates with driver
prefix sums, then fetch ONLY the two neighboring order statistics per
target from the already-sorted slices and interpolate. Two passes over a
persisted 2-column projection; everything that grows with data stays
distributed, everything driver-side is O(partitions × groups).

Exactness: interpolation is the symmetric ``(hi-pos)·v_lo +
(pos-lo)·v_hi`` with ``pos`` from one ``(n-1)·p`` double product — the
exact expression Spark's ``percentile`` evaluates (and bit-equal to
DuckDB's ``quantile_cont`` on oracle data), so the operator is a
drop-in for either. The asymmetric ``v_lo + frac·(hi-lo)`` form differs
in the last ulp.
"""

from __future__ import annotations

import math
from collections import defaultdict

from pyspark.sql import DataFrame, functions as F

from duckdb_nats_jetstream_spark.tables import cached


def exact_group_quantiles(
    df: DataFrame,
    group_col: str,
    value_col: str,
    ps: list[float],
    n_partitions: int | None = None,
    max_coordination_rows: int = 100_000,
) -> DataFrame:
    """One row per group: ``q_<i>`` = the ``ps[i]`` quantile of
    ``value_col`` (continuous/interpolated, NULLs excluded), plus ``n``.
    Returns a small driver-built DataFrame (G × len(ps) values).

    The pass-1 rank coordination collects O(partitions × groups) count
    rows to the driver — by design bounded for the documented per-source /
    per-segment use (tens of groups). ``max_coordination_rows`` guards the
    failure mode where a million-group key silently turns that into a
    driver-memory bottleneck (r05 verdict ask #5): the guard is enforced
    INSIDE the job via ``limit(max+1)`` (the driver never receives the
    oversized set), and the error names the scalable alternative —
    ``operators.histsketch.hist_quantiles``, whose state is O(groups ×
    bins) and never driver-materialized."""
    if not ps:
        raise ValueError("exact_group_quantiles: ps must be non-empty")
    bad = [p for p in ps if not 0.0 <= p <= 1.0]
    if bad:
        # fail fast — out-of-range targets would otherwise surface as a
        # KeyError in the driver-side assembly AFTER both distributed passes
        raise ValueError(f"exact_group_quantiles: ps outside [0, 1]: {bad}")
    spark = df.sparkSession
    n_partitions = n_partitions or spark.sparkContext.defaultParallelism
    s = (
        df.select(F.col(group_col).alias("g"), F.col(value_col).alias("v"))
        .filter(F.col("v").isNotNull())
        .repartitionByRange(n_partitions, "g", "v")
        .sortWithinPartitions("g", "v")
    )
    with cached(s):
        # pass 1: slice sizes. spark_partition_id is stable here because the
        # persisted partitioning is what both passes read. The limit bounds
        # what reaches the driver: with > max rows we see exactly max+1 and
        # raise, having shipped max+1 rows instead of the full set.
        sizes = (
            s.groupBy(F.spark_partition_id().alias("pid"), "g")
            .count()
            .limit(max_coordination_rows + 1)
            .collect()
        )
        if len(sizes) > max_coordination_rows:
            raise ValueError(
                f"exact_group_quantiles: pass-1 coordination exceeds "
                f"{max_coordination_rows} (partition, group) rows — the "
                f"group cardinality of {group_col!r} is too high for exact "
                f"driver-side rank selection. Use operators.histsketch."
                f"hist_quantiles (O(groups × bins) distributed state) or "
                f"raise max_coordination_rows deliberately."
            )
        per_group: dict = defaultdict(list)  # g -> [(pid, cnt)]
        for r in sizes:
            per_group[r.g].append((r.pid, r["count"]))

        # driver: rank targets -> (pid, local offset) coordinates
        totals = {g: sum(c for _, c in parts) for g, parts in per_group.items()}
        wanted: dict = defaultdict(dict)  # pid -> {(g, local_off): [(g, p_idx, side)]}
        pos_of: dict = {}
        for g, parts in per_group.items():
            parts.sort()
            n = totals[g]
            starts = []
            acc = 0
            for pid, cnt in parts:
                starts.append((pid, acc, cnt))
                acc += cnt
            for i, p in enumerate(ps):
                pos = (n - 1) * p
                lo, hi = math.floor(pos), math.ceil(pos)
                pos_of[(g, i)] = (pos, lo, hi)
                for side, idx in (("lo", lo), ("hi", hi)):
                    # lo == hi when pos is integral: BOTH sides hang off the
                    # same coordinate, so the slot holds a list
                    for pid, start, cnt in starts:
                        if start <= idx < start + cnt:
                            wanted[pid].setdefault((g, idx - start), []).append(
                                (g, i, side)
                            )
                            break

        # pass 2: fetch just the targeted order statistics from each slice
        wanted_b = dict(wanted)

        def pick(it):
            import pandas as pd
            from pyspark import TaskContext

            pid = TaskContext.get().partitionId()
            targets = wanted_b.get(pid)
            local = defaultdict(int)
            for pdf in it:
                if not targets:
                    continue
                out = []
                for g, v in zip(pdf["g"], pdf["v"]):
                    for tg, p_idx, side in targets.get((g, local[g]), ()):
                        out.append((tg, p_idx, side, v))
                    local[g] += 1
                if out:
                    yield pd.DataFrame(out, columns=["g", "p_idx", "side", "v"])

        picked = s.mapInPandas(
            pick, f"g {dict(df.dtypes)[group_col]}, p_idx int, side string, v double"
        ).collect()

    vals = {(r.g, r.p_idx, r.side): r.v for r in picked}
    rows = []
    # a NULL group key is a group like any other (SQL GROUP BY semantics);
    # the (is-not-None, value) key keeps sorted() from comparing None
    # against str/int, which raises TypeError
    for g in sorted(totals, key=lambda g: (g is not None, g)):
        row = [g]
        for i in range(len(ps)):
            v_lo, v_hi = vals[(g, i, "lo")], vals[(g, i, "hi")]
            pos, lo, hi = pos_of[(g, i)]
            row.append(v_lo if hi == lo else (hi - pos) * v_lo + (pos - lo) * v_hi)
        row.append(totals[g])
        rows.append(tuple(row))
    schema = (
        f"g {dict(df.dtypes)[group_col]}, "
        + ", ".join(f"q_{i} double" for i in range(len(ps)))
        + ", n long"
    )
    return spark.createDataFrame(rows, schema).withColumnRenamed("g", group_col)
