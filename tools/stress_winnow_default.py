"""Re-measure `winnow_pairs` DEFAULT path at the 10× replica (r08 verdict
ask #1 "Done" condition).

r08 measured the then-default UNCAPPED form at exponent 1.90 / 9.7 GB
shuffle / 34 GB peak task memory on the 10× adversarial replica (every doc
has 9 near-copies, so hot fingerprints explode quadratically), while the
df_cap=40 twin stayed flat. r09 made `df_cap=DEFAULT_WINNOW_DF_CAP` (256)
the default; this script measures exactly what a user now gets by calling
`winnow_pairs(docs, min_shared=30)` with NO cap argument, at 1× and 10×,
through ``profile_queries.measure`` and the event log — the evidence that
the shipped default is memory-bounded at scale.

Run:  python tools/stress_winnow_default.py   → paste table into SCALING.md.
"""

from __future__ import annotations

import math
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from tools.profile_queries import (  # noqa: E402
    EMPTY,
    enable_event_log,
    group_records,
    measure,
)
from tools.stress_scale import (  # noqa: E402 — same replica
    SRC_DIR,
    STRESS_DIR,
    build_scaled_documents,
)


def main() -> None:
    build_scaled_documents()
    log_dir = enable_event_log()

    from duckdb_nats_jetstream_spark.operators.dedup import (
        DEFAULT_WINNOW_DF_CAP,
        winnow_pairs,
    )
    from duckdb_nats_jetstream_spark.session import get_spark
    from duckdb_nats_jetstream_spark.tables import read_table

    spark = get_spark("stress-winnow-default")
    spark.sparkContext.setLogLevel("ERROR")
    read_table(spark, SRC_DIR, "documents").count()  # warm

    runs = {}
    for label, sf_dir in (("1x", SRC_DIR), ("10x", STRESS_DIR)):
        docs = read_table(spark, sf_dir, "documents")
        # default-arg call — THE user-facing path under measurement; df_cap
        # intentionally not passed
        _, runs[label] = measure(
            spark,
            label,
            lambda: winnow_pairs(docs, min_shared=30)
            .write.mode("overwrite").format("noop").save(),
        )
    spark.stop()  # flushes the event log

    records = group_records(log_dir)
    for label, r in runs.items():
        rec = records.get(label, EMPTY)
        r["shuffle_write_mb"] = round(rec["shuffle_write_bytes"] / 1e6, 1)
        r["max_task_peak_mem_mb"] = round(rec["max_task_peak_mem_bytes"] / 1e6, 1)
        r["stages"] = rec["stages"]
        print(f"{label} {r}", file=sys.stderr)
    r1, r10 = runs["1x"], runs["10x"]
    assert not (r1["err"] or r10["err"]), (r1["err"], r10["err"])
    exp = math.log10(max(r10["wall_s"], 0.01) / max(r1["wall_s"], 0.01))
    print(
        "\n| query | sf0.1 wall | sf1.0 wall | exponent "
        "| shuffle MB 0.1→1.0 | max task peak mem MB 0.1→1.0 |"
    )
    print("|---|---|---|---|---|---|")
    print(
        f"| winnow_pairs (default df_cap={DEFAULT_WINNOW_DF_CAP}) | {r1['wall_s']}s "
        f"| {r10['wall_s']}s | {round(exp, 2)} "
        f"| {r1['shuffle_write_mb']}→{r10['shuffle_write_mb']} "
        f"| {r1['max_task_peak_mem_mb']}→{r10['max_task_peak_mem_mb']} |"
    )


if __name__ == "__main__":
    main()
