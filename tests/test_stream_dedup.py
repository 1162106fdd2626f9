"""Streaming dedup: redelivered messages dropped within the watermark."""

import pyarrow as pa
import pyarrow.parquet as pq

from duckdb_nats_jetstream_spark.streaming.dedup import dedup_content, dedup_messages
from duckdb_nats_jetstream_spark.streaming.stream_scan import (
    message_stream,
    run_to_completion,
)

HOUR_NS = 3600 * 10**9
BASE = 1704067200 * 10**9


def _write_events(path, rows):
    ids, ts, users, types, vals, props = zip(*rows)
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array(ids, pa.int64()),
                "ts": pa.array(ts, pa.timestamp("ns")),
                "user_id": pa.array(users, pa.int64()),
                "event_type": pa.array(types, pa.string()),
                "value": pa.array(vals, pa.float64()),
                "props": pa.array(props, pa.string()),
            }
        ),
        path,
    )


def test_redelivered_seq_dropped(spark, tmp_path):
    log = tmp_path / "log"
    log.mkdir()
    # event_id 1 delivered twice (same seq), id 2 once
    _write_events(
        str(log / "a.parquet"),
        [
            (1, BASE, 1, "click", 1.0, "{}"),
            (1, BASE, 1, "click", 1.0, "{}"),
            (2, BASE + HOUR_NS, 1, "click", 2.0, "{}"),
        ],
    )
    out = run_to_completion(
        dedup_messages(message_stream(spark, str(log))), str(tmp_path / "ckpt")
    )
    assert sorted(r.seq for r in out.collect()) == [2, 3]


def test_content_dedup_keeps_first_per_payload(spark, tmp_path):
    log = tmp_path / "log"
    log.mkdir()
    _write_events(
        str(log / "a.parquet"),
        [
            (1, BASE, 1, "click", 1.0, '{"k": 1}'),
            (2, BASE, 2, "click", 1.0, '{"k": 1}'),  # same payload content
            (3, BASE, 3, "click", 1.0, '{"k": 9}'),
        ],
    )
    out = run_to_completion(
        dedup_content(message_stream(spark, str(log))), str(tmp_path / "ckpt")
    )
    got = sorted(bytes(r.payload) for r in out.collect())
    assert got == [b'{"k": 1}', b'{"k": 9}']


def test_near_dup_flagger_incremental(spark, tmp_path):
    """Batch 2's near-dup of a batch-1 doc is flagged; unrelated docs are
    not; the store accumulates across micro-batches."""
    import pandas as pd

    from duckdb_nats_jetstream_spark.streaming.dedup import near_dup_flagger

    base = "the quick brown fox jumps over the lazy dog near the river bank today"
    doc_dir = tmp_path / "docs_in"
    doc_dir.mkdir()
    store = str(tmp_path / "store")
    out = str(tmp_path / "verdicts")
    ckpt = str(tmp_path / "ckpt")
    schema = "doc_id long, text string"

    def run_batch(rows, fname):
        pd.DataFrame(rows, columns=["doc_id", "text"]).to_parquet(doc_dir / fname)
        stream = spark.readStream.schema(schema).parquet(str(doc_dir))
        q = near_dup_flagger(stream, store, ckpt, out)
        q.awaitTermination()

    run_batch([(1, base), (2, "completely different words about spark engines")], "b1.parquet")
    run_batch([(3, base + " again"), (4, "nothing like anything before at all yes")], "b2.parquet")

    v = {r.doc_id: r for r in spark.read.parquet(out).collect()}
    assert set(v) == {1, 2, 3, 4}
    assert not v[1].is_near_dup and not v[2].is_near_dup  # first batch: empty store
    assert v[3].is_near_dup and v[3].n_candidate_bands > 0  # near-dups doc 1
    assert not v[4].is_near_dup
    # store grew across batches
    assert {r.doc_id for r in spark.read.parquet(store).select("doc_id").distinct().collect()} == {1, 2, 3, 4}


def test_near_dup_flagger_short_docs_still_get_verdicts(spark, tmp_path):
    """Docs with fewer tokens than the shingle size produce no band keys,
    but they must still verdict (0, false) — before r09 they silently got
    NO row, and a curation pipeline joining on verdicts lost them."""
    import pandas as pd

    from duckdb_nats_jetstream_spark.streaming.dedup import near_dup_flagger

    doc_dir = tmp_path / "docs_in"
    doc_dir.mkdir()
    rows = [
        (1, "hi"),  # 1 token < n=3: no shingles
        (2, "the quick brown fox jumps over the lazy dog by the river"),
    ]
    pd.DataFrame(rows, columns=["doc_id", "text"]).to_parquet(doc_dir / "b1.parquet")
    stream = spark.readStream.schema("doc_id long, text string").parquet(str(doc_dir))
    near_dup_flagger(
        stream, str(tmp_path / "store"), str(tmp_path / "ckpt"),
        str(tmp_path / "verdicts"),
    ).awaitTermination()
    v = {r.doc_id: r for r in spark.read.parquet(str(tmp_path / "verdicts")).collect()}
    assert set(v) == {1, 2}
    assert not v[1].is_near_dup and v[1].n_candidate_bands == 0


def test_near_dup_flagger_replay_idempotent(spark, tmp_path):
    """A replayed micro-batch must produce the same verdicts as a clean run:
    the band-key store may already contain the batch's OWN keys from a failed
    prior attempt, and those must not make in-batch documents flag each other
    (r02 ADVICE — the store read excludes the current batch_id partition)."""
    import pandas as pd

    from duckdb_nats_jetstream_spark.operators.dedup import _band_keys_df
    from duckdb_nats_jetstream_spark.streaming.dedup import near_dup_flagger

    base = "the quick brown fox jumps over the lazy dog near the river bank today"
    rows = [(1, base), (2, base + " again")]  # near-dups of EACH OTHER
    doc_dir = tmp_path / "docs_in"
    doc_dir.mkdir()
    store = str(tmp_path / "store")
    out = str(tmp_path / "verdicts")

    # Simulate the failed first attempt: batch 0's own band keys are already
    # in the store under its batch_id partition (step 4 ran, checkpoint
    # commit did not).
    batch_df = spark.createDataFrame(rows, "doc_id long, text string")
    _band_keys_df(batch_df, "text", "doc_id", 8, 2).write.parquet(
        f"{store}/batch_id=0"
    )

    pd.DataFrame(rows, columns=["doc_id", "text"]).to_parquet(doc_dir / "b1.parquet")
    stream = spark.readStream.schema("doc_id long, text string").parquet(str(doc_dir))
    q = near_dup_flagger(stream, store, str(tmp_path / "ckpt"), out)
    q.awaitTermination()

    v = {r.doc_id: r for r in spark.read.parquet(out).collect()}
    assert set(v) == {1, 2}
    # clean-run semantics: first batch sees an empty prior store
    assert not v[1].is_near_dup and not v[2].is_near_dup


def test_near_dup_flagger_empty_store_dir_recovers_as_first_batch(spark, tmp_path):
    """An existing store directory with ZERO data files (a failed first
    _write_store attempt can leave the dir created before any parquet
    lands) must behave exactly like a missing store — first batch,
    nothing to screen against. Raising here (UNABLE_TO_INFER_SCHEMA)
    would crash-loop the replay forever (r08 review)."""
    import os

    import pandas as pd

    from duckdb_nats_jetstream_spark.streaming.dedup import near_dup_flagger

    doc_dir = tmp_path / "docs_in"
    doc_dir.mkdir()
    store = tmp_path / "store"
    (store / "batch_id=0").mkdir(parents=True)  # dir exists, no files

    pd.DataFrame(
        [(1, "the quick brown fox jumps over the lazy dog today")],
        columns=["doc_id", "text"],
    ).to_parquet(doc_dir / "b1.parquet")
    stream = spark.readStream.schema("doc_id long, text string").parquet(str(doc_dir))
    out = str(tmp_path / "verdicts")
    q = near_dup_flagger(stream, str(store), str(tmp_path / "ckpt"), out)
    q.awaitTermination()

    v = {r.doc_id: r for r in spark.read.parquet(out).collect()}
    assert set(v) == {1} and not v[1].is_near_dup
    # and the store now holds the batch's keys for the next batch
    assert any(
        f.endswith(".parquet")
        for _, _, files in os.walk(store)
        for f in files
    )


def test_near_dup_flagger_corrupt_store_errors_not_empty_screen(spark, tmp_path):
    """A store that EXISTS but can't be read (corrupt footer, permissions,
    transient FS failure) must fail the micro-batch, not be treated as
    'first batch — empty store': screening against nothing writes wrong
    verdicts silently (r07 ADVICE; only PATH_NOT_FOUND means first batch)."""
    import pandas as pd
    import pytest

    from duckdb_nats_jetstream_spark.streaming.dedup import near_dup_flagger

    doc_dir = tmp_path / "docs_in"
    doc_dir.mkdir()
    store = tmp_path / "store"
    # an existing store whose only file is NOT parquet
    (store / "batch_id=0").mkdir(parents=True)
    (store / "batch_id=0" / "part-corrupt.parquet").write_bytes(b"not parquet")

    pd.DataFrame([(1, "some words here")], columns=["doc_id", "text"]).to_parquet(
        doc_dir / "b1.parquet"
    )
    stream = spark.readStream.schema("doc_id long, text string").parquet(str(doc_dir))
    with pytest.raises(Exception, match="(?i)parquet|footer|magic"):
        q = near_dup_flagger(
            stream, str(store), str(tmp_path / "ckpt"), str(tmp_path / "verdicts")
        )
        q.awaitTermination()
    # and no verdicts were written for the batch
    import os

    vdir = tmp_path / "verdicts"
    assert not vdir.exists() or not [
        f for f in os.listdir(vdir) if f.endswith(".parquet")
    ]


def test_near_dup_flagger_store_compaction_preserves_verdicts(spark, tmp_path):
    """Ops claim from SCALING.md batch 11: the band-key store can be
    compacted between drains (small-file maintenance) without changing a
    single verdict — the batch_id layout survives, so both the probe join
    and the replay-exclusion filter behave identically."""
    import shutil

    import pandas as pd

    from duckdb_nats_jetstream_spark.streaming.dedup import (
        compact_band_store,
        near_dup_flagger,
    )

    base = "the quick brown fox jumps over the lazy dog near the river bank today"
    batches = [
        [(1, base), (2, "completely different words about spark engines")],
        [(3, "unrelated second chunk text goes right here ok")],
        [(4, base + " again"), (5, "nothing like anything before at all")],
    ]
    schema = "doc_id long, text string"

    def run(label, compact_after=None):
        doc_dir = tmp_path / f"in_{label}"
        doc_dir.mkdir()
        store = str(tmp_path / f"store_{label}")
        out = str(tmp_path / f"out_{label}")
        ckpt = str(tmp_path / f"ckpt_{label}")
        for i, rows in enumerate(batches):
            pd.DataFrame(rows, columns=["doc_id", "text"]).to_parquet(
                doc_dir / f"b{i}.parquet"
            )
            stream = spark.readStream.schema(schema).parquet(str(doc_dir))
            near_dup_flagger(stream, store, ckpt, out).awaitTermination()
            if compact_after == i:
                compacted = str(tmp_path / f"store_{label}_compacted")
                compact_band_store(spark, store, compacted)
                shutil.rmtree(store)
                shutil.move(compacted, store)
        return {
            r.doc_id: (r.is_near_dup, r.n_candidate_bands)
            for r in spark.read.parquet(out).collect()
        }

    plain = run("plain")
    compacted = run("compacted", compact_after=1)
    assert plain == compacted
    assert plain[4][0]  # the planted near-dup still flags post-compaction
    assert not plain[1][0] and not plain[3][0]


def test_near_dup_flagger_bucketed_store_matches_dir_store(spark, tmp_path):
    """The bucketed-table store backend (shuffle-free probe at scale) must
    produce identical verdicts to the directory store on the same stream,
    including across a replayed batch; and the probe join against the
    bucketed store must read it WITHOUT a store-side exchange."""
    import pandas as pd
    from pyspark.sql import functions as F

    from duckdb_nats_jetstream_spark.operators.dedup import _band_keys_df
    from duckdb_nats_jetstream_spark.streaming.dedup import near_dup_flagger

    base = "the quick brown fox jumps over the lazy dog near the river bank today"
    batches = [
        [(1, base), (2, "completely different words about spark engines")],
        [(3, base + " again"), (4, "nothing like anything before at all")],
        [(5, base + " once more"), (6, "unrelated filler text goes here now")],
    ]
    schema = "doc_id long, text string"
    spark.sql("DROP TABLE IF EXISTS flagger_store_test")
    # also clear a stale managed-table LOCATION from a previous process:
    # the default in-memory catalog forgets metadata at session end, so
    # DROP alone can't see (or remove) the leftover warehouse directory
    import shutil as _sh

    _sh.rmtree(
        spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
        + "/flagger_store_test",
        ignore_errors=True,
    )

    def run(label, **kwargs):
        doc_dir = tmp_path / f"in_{label}"
        doc_dir.mkdir()
        out = str(tmp_path / f"out_{label}")
        for i, rows in enumerate(batches):
            pd.DataFrame(rows, columns=["doc_id", "text"]).to_parquet(
                doc_dir / f"b{i}.parquet"
            )
            stream = spark.readStream.schema(schema).parquet(str(doc_dir))
            near_dup_flagger(
                stream,
                str(tmp_path / f"store_{label}"),
                str(tmp_path / f"ckpt_{label}"),
                out,
                **kwargs,
            ).awaitTermination()
        return {
            r.doc_id: (r.is_near_dup, r.n_candidate_bands)
            for r in spark.read.parquet(out).collect()
        }

    via_dir = run("dir")
    via_table = run(
        "table", store_table="flagger_store_test", store_buckets=8
    )
    assert via_dir == via_table
    assert via_table[3][0] and via_table[5][0]  # planted near-dups flag
    assert not via_table[2][0]

    # replay idempotence on the TABLE backend: re-inserting a batch's own
    # keys must not change row counts (dynamic overwrite, not append)
    n_before = spark.table("flagger_store_test").count()
    replay_keys = _band_keys_df(
        spark.createDataFrame(batches[1], schema), "text", "doc_id", 8, 2
    ).withColumn("batch_id", F.lit(1))
    cols = spark.table("flagger_store_test").columns
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", None)
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        replay_keys.select(*cols).write.mode("overwrite").insertInto(
            "flagger_store_test"
        )
    finally:
        if prev is None:
            spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
        else:
            spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
    assert spark.table("flagger_store_test").count() == n_before

    # plan pin: SMJ against the bucketed store reads it with NO exchange
    prev_bc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        batch_keys = _band_keys_df(
            spark.createDataFrame(batches[0], schema), "text", "doc_id", 8, 2
        )
        j = batch_keys.join(
            spark.table("flagger_store_test").withColumnRenamed(
                "doc_id", "p"
            ),
            "band_key",
        )
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "Bucketed: true" in plan and "SelectedBucketsCount" in plan
        # exactly ONE join-key exchange — the batch side; the bucketed
        # store reads pre-hashed (its round-robin spread inside
        # _band_keys_df is not a join shuffle)
        assert plan.count("Exchange hashpartitioning") == 1, plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev_bc)
    spark.sql("DROP TABLE flagger_store_test")
