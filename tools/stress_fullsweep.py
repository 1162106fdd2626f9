"""Full-registry sf1 sweep (r09 verdict ask #1).

The 11 heavy families have measured sf0.1→sf1 exponents (SCALING.md),
but 140+ registry queries had never run above sf0.1 — a hidden
superlinear query OUTSIDE the measured families was the likeliest
undiscovered scale defect (the uncapped-winnow exponent 1.90 was only
found by exactly this kind of sweep). This tool runs EVERY registry
query once at sf0.1 and once at a 10× replica and reports wall /
shuffle-write / largest single-task peak execution memory / exponent per
query, measured through ``profile_queries.measure`` and the event log.

Replica (``.stress/sf1.0full/``): extends ``stress_scale``'s
documents/embeddings/events replication (reused via symlink) with the
TPC-H fact/dim tables — customer/orders/lineitem/part/supplier get 10
replicas with a consistent +k*10M key offset on every PK/FK (join
fan-out and per-key cardinality are preserved; region/nation stay 1×,
as they would at 100 TB). Queries whose filters select a fixed slice
(seq/time-range pushdown) are EXPECTED to stay flat — that's the
pruning working, not a missing datapoint.

Exponent = log10(wall_10x / wall_1x): ~0 flat (pruned or floor-bound),
~1 linear, >1.2 investigate (>16× growth on 10× data).

Skips (documented): ``dedup_winnow`` — the registry entry is the
deliberately UNCAPPED oracle form (exponent 1.90, SCALING batch 27);
the deployment form is ``dedup_winnow_capped``, which IS swept. The
r09 verdict pins that the uncapped form must never be scaled past the
oracle fixture.

Run:  python tools/stress_fullsweep.py [--only name1,name2]
      (~15-30 min full) → writes .stress/FULLSWEEP.json, prints the
      PERF.md table.
"""

from __future__ import annotations

import argparse
import itertools
import json
import math
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from tools import stress_scale  # noqa: E402
from tools.profile_queries import (  # noqa: E402
    EMPTY,
    enable_event_log,
    group_records,
    measure,
)

SRC_DIR = stress_scale.SRC_DIR
FULL_DIR = os.path.join(REPO, ".stress", "sf1.0full")
REPLICAS = stress_scale.REPLICAS
KEY_OFF = 10_000_000
OUT_JSON = os.path.join(REPO, ".stress", "FULLSWEEP.json")

SKIP = {
    "dedup_winnow": "uncapped oracle form; must not scale past the "
    "oracle fixture (SCALING batch 27, r09 verdict #7) — "
    "dedup_winnow_capped is the swept deployment form",
}

#: tables whose every *key column is offset per replica (PK and FK get
#: the SAME offset so joins keep their 1× fan-out)
_TPCH_REPLICATED = {
    "customer": ["c_custkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
    "part": ["p_partkey"],
    "supplier": ["s_suppkey"],
}


def build_full_replica() -> None:
    import shutil

    import duckdb

    stress_scale.build_scaled_documents()  # reuses/builds .stress/sf1.0

    expected = [f for f in os.listdir(SRC_DIR) if f.endswith(".parquet")]
    if os.path.isdir(FULL_DIR) and all(
        os.path.exists(os.path.join(FULL_DIR, f)) for f in expected
    ):
        return
    if os.path.isdir(FULL_DIR):
        shutil.rmtree(FULL_DIR)
    tmp = FULL_DIR + ".tmp"
    if os.path.isdir(tmp):
        shutil.rmtree(tmp)
    os.makedirs(tmp)
    con = duckdb.connect()
    for table, keys in _TPCH_REPLICATED.items():
        replaced = ", ".join(
            f"t.{k} + r.k * {KEY_OFF} AS {k}" for k in keys
        )
        con.execute(
            f"""
            COPY (
              SELECT t.* REPLACE ({replaced})
              FROM '{SRC_DIR}/{table}.parquet' t,
                   (SELECT unnest(range({REPLICAS})) AS k) r
              ORDER BY {keys[0]}
            ) TO '{tmp}/{table}.parquet' (FORMAT parquet)
            """
        )
    # documents/embeddings/events: reuse stress_scale's replicas;
    # region/nation (and anything else): 1× symlink to the source
    for fname in expected:
        if os.path.lexists(os.path.join(tmp, fname)):
            continue
        scaled = os.path.join(stress_scale.STRESS_DIR, fname)
        src = scaled if os.path.exists(scaled) else os.path.join(SRC_DIR, fname)
        os.symlink(os.path.realpath(src), os.path.join(tmp, fname))
    os.rename(tmp, FULL_DIR)
    print(f"built {FULL_DIR}", file=sys.stderr)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--only", default="", help="comma-separated subset")
    args = ap.parse_args()

    build_full_replica()
    log_dir = enable_event_log()

    from duckdb_nats_jetstream_spark.queries import full_registry
    from duckdb_nats_jetstream_spark.session import get_spark
    from duckdb_nats_jetstream_spark.tables import read_table

    fns = {name: entry[0] for name, entry in full_registry().items()}
    names = [n for n in args.only.split(",") if n] or list(fns)

    spark = get_spark("stress-fullsweep")
    spark.sparkContext.setLogLevel("ERROR")
    read_table(spark, SRC_DIR, "documents").count()  # warm workers

    seq = itertools.count()

    def run(name: str, sf_dir: str) -> dict:
        """One noop-sink run; its job group names the record to read back."""
        group = f"{name}@{os.path.basename(sf_dir)}#{next(seq)}"
        _, r = measure(
            spark,
            group,
            lambda: fns[name](spark, sf_dir).write.mode("overwrite").format("noop").save(),
        )
        return {"group": group, **r}

    def _exp(a, b):
        if a["err"] or b["err"]:
            return None
        return round(
            math.log10(max(b["wall_s"], 0.05) / max(a["wall_s"], 0.05)), 2
        )

    results: dict[str, dict] = {}
    for i, name in enumerate(names):
        if name in SKIP:
            results[name] = {"skipped": SKIP[name]}
            continue
        r1 = run(name, SRC_DIR)
        r10 = run(name, FULL_DIR)
        exp = _exp(r1, r10)
        if exp is not None and exp > 0.8:
            # suspect: the 1× run may have absorbed cold-start (codegen,
            # python workers) — warm re-measure both sides, keep the min,
            # so only genuine growth crosses the 1.2 flag
            rb1 = run(name, SRC_DIR)
            if not rb1["err"] and rb1["wall_s"] < r1["wall_s"]:
                r1 = rb1
            rb10 = run(name, FULL_DIR)
            if not rb10["err"] and rb10["wall_s"] < r10["wall_s"]:
                r10 = rb10
            exp = _exp(r1, r10)
        results[name] = {"sf0.1": r1, "sf1.0": r10, "exponent": exp}
        flag = " <<<" if exp is not None and exp > 1.2 else ""
        err = r1["err"] or r10["err"]
        print(
            f"[{i + 1}/{len(names)}] {name}: {r1['wall_s']}s -> "
            f"{r10['wall_s']}s exp={exp}{' ERR ' + err if err else ''}{flag}",
            file=sys.stderr,
        )
    spark.stop()  # flushes the event log

    records = group_records(log_dir)
    for r in results.values():
        for key in ("sf0.1", "sf1.0"):
            if key in r:
                rec = records.get(r[key].pop("group"), EMPTY)
                r[key]["shuffle_write_mb"] = round(rec["shuffle_write_bytes"] / 1e6, 1)
                r[key]["max_task_peak_mem_mb"] = round(
                    rec["max_task_peak_mem_bytes"] / 1e6, 1
                )

    os.makedirs(os.path.dirname(OUT_JSON), exist_ok=True)
    with open(OUT_JSON, "w", encoding="utf-8") as fh:
        json.dump(results, fh, indent=1, sort_keys=True)
        fh.write("\n")

    swept = {
        n: r for n, r in results.items() if "exponent" in r and r["exponent"] is not None
    }
    hot = sorted(
        ((n, r) for n, r in swept.items() if r["exponent"] > 1.2),
        key=lambda kv: -kv[1]["exponent"],
    )
    errs = {
        n: r
        for n, r in results.items()
        if "sf0.1" in r and (r["sf0.1"]["err"] or r["sf1.0"]["err"])
    }
    print(f"\nswept {len(swept)}/{len(names)}; exponents >1.2: {len(hot)}; errors: {len(errs)}")
    for n, r in hot:
        print(f"  HOT {n}: exp {r['exponent']} ({r['sf0.1']['wall_s']}s -> {r['sf1.0']['wall_s']}s)")
    for n, r in errs.items():
        print(f"  ERR {n}: {r['sf0.1']['err'] or r['sf1.0']['err']}")

    print("\n| query | sf0.1 wall | sf1.0 wall | exp | shuffle MB 0.1→1.0 | max task peak mem MB 0.1→1.0 |")
    print("|---|---|---|---|---|---|")
    for n in sorted(swept, key=lambda k: -(swept[k]["exponent"] or 0)):
        r1, r10 = swept[n]["sf0.1"], swept[n]["sf1.0"]
        print(
            f"| {n} | {r1['wall_s']} | {r10['wall_s']} | {swept[n]['exponent']} "
            f"| {r1['shuffle_write_mb']}→{r10['shuffle_write_mb']} "
            f"| {r1['max_task_peak_mem_mb']}→{r10['max_task_peak_mem_mb']} |"
        )


if __name__ == "__main__":
    main()
