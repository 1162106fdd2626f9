"""The 10× ``documents``/``embeddings``/``events`` replica (r03 verdict #7).

Replicates the sf0.1 ``documents`` table 10× (≈ sf1.0 — each replica gets
a distinct doc_id range and a one-token text perturbation so the near-dup
structure scales with the corpus instead of collapsing to exact copies),
plus ``embeddings`` and ``events``; every other table is symlinked at 1×.

``stress_fullsweep.py`` (which adds the TPC-H tables on top) and
``stress_winnow_default.py`` measure on it. The heavy dedup family that
this module used to sweep on its own is measured with

    python tools/stress_fullsweep.py --only docs_span_scrub,dedup_components,docs_chunk_dedup

(``dedup_winnow``, the uncapped oracle form, stays in that harness's
``SKIP``: it must never run past the oracle fixtures.)

Scaled data lives under ``.stress/`` in the checkout (gitignored,
regenerated on demand).
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

SRC_DIR = "/root/testdata/sf0.1"
STRESS_DIR = os.path.join(REPO, ".stress", "sf1.0")
REPLICAS = 10


def build_scaled_documents() -> None:
    import duckdb
    import shutil

    # Skip only when the FULL build exists: every 1× table must be present
    # (scaled or symlinked). An interrupted prior run must not leave a
    # half-populated dir that later stress runs silently read — so we build
    # into a temp dir and rename atomically at the end.
    expected = [f for f in os.listdir(SRC_DIR) if f.endswith(".parquet")]
    if os.path.isdir(STRESS_DIR) and all(
        # exists (not lexists): a symlink whose target moved must fail
        # the completeness check and trigger a rebuild (r05 ADVICE).
        os.path.exists(os.path.join(STRESS_DIR, f)) for f in expected
    ):
        return
    if os.path.isdir(STRESS_DIR):
        shutil.rmtree(STRESS_DIR)
    tmp_dir = STRESS_DIR + ".tmp"
    if os.path.isdir(tmp_dir):
        shutil.rmtree(tmp_dir)
    os.makedirs(tmp_dir)
    out = os.path.join(tmp_dir, "documents.parquet")
    con = duckdb.connect()
    # distinct id ranges per replica; a per-replica suffix token keeps the
    # docs NEAR-duplicates (all long shared substrings survive) rather than
    # byte-identical, so pair generation scales like a real corpus
    con.execute(
        f"""
        COPY (
          SELECT d.doc_id + r.k * 1000000 AS doc_id,
                 d.text || ' r' || r.k AS text,
                 d.lang, d.source, d.n_chars + 3 AS n_chars
          FROM '{SRC_DIR}/documents.parquet' d,
               (SELECT unnest(range({REPLICAS})) AS k) r
          ORDER BY doc_id
        ) TO '{out}' (FORMAT parquet)
        """
    )
    # embeddings: replicas get a tiny deterministic per-replica perturbation
    # on the last component — near-identical vectors (the ANN worst case:
    # every vector gains 9 near-neighbors) without exact duplicates
    con.execute(
        f"""
        COPY (
          SELECT e.vec_id + r.k * 1000000 AS vec_id,
                 list_transform(
                   e.embedding,
                   (x, i) -> CAST(CASE WHEN i = len(e.embedding)
                                       THEN x + r.k * 1e-3
                                       ELSE x END AS FLOAT)
                 ) AS embedding,
                 e.label
          FROM '{SRC_DIR}/embeddings.parquet' e,
               (SELECT unnest(range({REPLICAS})) AS k) r
          ORDER BY vec_id
        ) TO '{tmp_dir}/embeddings.parquet' (FORMAT parquet)
        """
    )
    # events: 10× the user population over the SAME month — the natural
    # 100 TB axis for funnels/sketches (per-day volume and distinct-user
    # cardinality grow; the time range doesn't)
    con.execute(
        f"""
        COPY (
          SELECT e.event_id + r.k * 10000000 AS event_id,
                 e.ts,
                 e.user_id + r.k * 10000000 AS user_id,
                 e.event_type, e.value, e.props
          FROM '{SRC_DIR}/events.parquet' e,
               (SELECT unnest(range({REPLICAS})) AS k) r
          ORDER BY event_id
        ) TO '{tmp_dir}/events.parquet' (FORMAT parquet)
        """
    )
    # remaining tables (dims etc.) stay at 1× — symlink so any query that
    # joins them still resolves
    for fname in expected:
        if not os.path.lexists(os.path.join(tmp_dir, fname)):
            os.symlink(
                os.path.join(SRC_DIR, fname), os.path.join(tmp_dir, fname)
            )
    os.rename(tmp_dir, STRESS_DIR)
    print(f"built {STRESS_DIR}: {REPLICAS}x replicas", file=sys.stderr)

