"""Streaming deduplication — the live twin of :mod:`operators.dedup`'s
exact dedup, for ingest pipelines where the same message can arrive twice
(NATS JetStream redelivery, at-least-once sources; the reference's Direct
Get scan can also refetch on retry, ref:src/nats_scan.cpp:715-723).

``dropDuplicatesWithinWatermark`` keeps state only for the watermark
horizon: a duplicate arriving within the delay is dropped, state for older
keys is evicted, so memory is bounded by (unique-key rate × watermark) —
the only dedup shape that runs forever. Plain ``dropDuplicates`` on a
stream would keep ALL keys in state and OOM eventually; don't use it
unbounded.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from duckdb_nats_jetstream_spark.session import scoped_conf
from duckdb_nats_jetstream_spark.tables import cached


def dedup_messages(
    stream_df: DataFrame,
    keys: list[str] | None = None,
    ts_col: str = "ts_nats",
    watermark: str = "2 hours",
) -> DataFrame:
    """Drop redelivered messages by key (default: the sequence number)
    within the watermark horizon."""
    keys = keys or ["seq"]
    return stream_df.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(keys)


def dedup_content(
    stream_df: DataFrame,
    payload_col: str = "payload",
    ts_col: str = "ts_nats",
    watermark: str = "2 hours",
) -> DataFrame:
    """Content-level streaming dedup: fingerprint the payload (md5 of the
    normalized bytes, same normalization as the batch ``fingerprint``) and
    keep the first arrival per fingerprint within the watermark."""
    from duckdb_nats_jetstream_spark.functions.text import fingerprint

    return (
        stream_df.withColumn("__fp", fingerprint(F.col(payload_col).cast("string")))
        .withWatermark(ts_col, watermark)
        .dropDuplicatesWithinWatermark(["__fp"])
        .drop("__fp")
    )


def near_dup_flagger(
    stream_df: DataFrame,
    store_dir: str,
    checkpoint_dir: str,
    out_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    band_size: int = 2,
    n: int = 3,
    store_table: str | None = None,
    store_buckets: int = 64,
):
    """Incremental NEAR-duplicate detection over a document stream — the
    streaming twin of :func:`operators.dedup.minhash_lsh_pairs`' candidate
    stage, for "is this new document a near-dup of ANYTHING ingested so
    far?" (continuous corpus curation).

    Per micro-batch (``foreachBatch``, replay-safe):

    1. compute the batch's MinHash LSH band keys (same salted-md5 carving
       as the batch operator — identical keys, so batch and stream agree
       on candidates; ``k``/``band_size``/``n`` must mirror the batch
       pipeline's values, r09: ``n`` is now a parameter rather than
       silently pinned to the batch default);
    2. broadcast-join them against the accumulated band-key store (a plain
       partitioned parquet table — at scale, the store shuffles on
       ``band_key`` and the join is key-co-located; candidate = any shared
       band key with an earlier doc);
    3. append per-doc verdicts ``(id, n_candidate_bands, is_near_dup)`` to
       ``out_dir`` under a per-batch subdirectory — one row for EVERY
       document in the batch, including docs too short to shingle (they
       cannot be near-dups under this detector and verdict
       ``(0, false)``; before r09 they silently got no row). Idempotent
       on redelivery: a replayed batch OVERWRITES its own directory,
       never double-appends;
    4. append the batch's own keys to the store the same way.

    State is the parquet store, not executor memory — survives restarts,
    unbounded corpus, no watermark eviction needed (near-dup checks must
    look back forever, unlike redelivery dedup above).

    ``store_table`` switches the store from a parquet directory to a
    ``band_key``-BUCKETED catalog table (``store_buckets`` buckets,
    sorted within bucket, still hive-partitioned by ``batch_id`` for the
    replay-exclusion prune). Why: the dir-backed probe join reshuffles
    the CORPUS-SIZED store on every micro-batch once it outgrows the
    broadcast threshold; a bucketed store is pre-hashed on disk — the
    probe SMJ reads it shuffle-free (``Bucketed: true``, store-side
    Exchange gone; plan-pinned in tests) and only the batch-sized side
    shuffles, forever. Replay stays idempotent via dynamic partition
    overwrite ``insertInto``. Requires a catalog that outlives the job
    for cross-RESTART durability (Hive metastore / warehouse catalog —
    the default in-memory catalog forgets table METADATA at session end
    even though the files remain); within one session (any number of
    query restarts) it is self-contained.
    """
    from duckdb_nats_jetstream_spark.operators.dedup import _band_keys_df

    def _read_store(spark, batch_id: int):
        """Prior band keys, excluding THIS batch's partition: after a
        failed attempt the store may already hold the replayed batch's
        own band keys, and without the filter documents within the batch
        would flag each other — verdicts on replay would differ from a
        clean run (r02 ADVICE). The batch_id partition layout makes the
        filter a directory/partition prune, not a scan."""
        if store_table is not None:
            if not spark.catalog.tableExists(store_table):
                return None
            return spark.table(store_table).filter(
                F.col("batch_id") != F.lit(batch_id)
            )
        # Missing store dir OR an existing-but-empty one = first batch
        # (a failed first _write_store attempt can leave the directory
        # created with zero data files — treating that as an error would
        # crash-loop the replay forever); everything ELSE (permissions,
        # transient FS error, corrupt footer) must propagate — swallowing
        # it would screen the batch against nothing and silently write
        # wrong verdicts (r07 ADVICE; the store_table branch above gets
        # this right with its explicit tableExists check). Matched by
        # error condition, not by exception breadth.
        from pyspark.errors import AnalysisException

        _FIRST_BATCH = ("PATH_NOT_FOUND", "UNABLE_TO_INFER_SCHEMA")

        try:
            store = spark.read.parquet(store_dir)
        except AnalysisException as exc:
            # When a condition API EXISTS, its verdict is final: a present
            # API returning None/"" means "this error has no condition",
            # which is already the answer (not PATH_NOT_FOUND → propagate).
            # str(exc) matching only when NEITHER API exists on this
            # pyspark version — falling back whenever the condition was
            # merely empty would reintroduce the message breadth where a
            # different failure whose nested cause chain MENTIONS
            # PATH_NOT_FOUND gets swallowed as first batch (r08 ADVICE;
            # tightened r09 review: `or ""` + break treated None as
            # "fall back" instead of "answered: no condition").
            cond = None
            for attr in ("getCondition", "getErrorClass"):
                api = getattr(exc, attr, None)
                if api is None:
                    continue
                try:
                    cond = api() or ""
                except Exception:
                    continue
                break
            haystack = str(exc) if cond is None else cond
            if any(m in haystack for m in _FIRST_BATCH):
                return None  # store not created / no data files yet
            raise
        return store.filter(F.col("batch_id") != F.lit(batch_id))

    def _write_store(spark, keys: DataFrame, batch_id: int) -> None:
        if store_table is None:
            keys.write.mode("overwrite").parquet(
                f"{store_dir}/batch_id={batch_id}"
            )
            return
        # align writer tasks with the bucket hash BEFORE the bucketed
        # write: without this every writer task holds rows of every
        # bucket and fans out (tasks × buckets) small files per batch —
        # measured 2× wall at toy scale, and a small-file explosion at
        # any scale (same hash family, so post-repartition each task
        # carries exactly one bucket's rows → one file per bucket)
        tagged = keys.withColumn("batch_id", F.lit(batch_id)).repartition(
            store_buckets, "band_key"
        )
        if not spark.catalog.tableExists(store_table):
            (
                tagged.write.partitionBy("batch_id")
                .bucketBy(store_buckets, "band_key")
                .sortBy("band_key")
                .format("parquet")
                .saveAsTable(store_table)
            )
            return
        # replay-idempotent append: dynamic partition overwrite replaces
        # ONLY this batch's partition (plain append would double-insert a
        # replayed batch; saveAsTable-overwrite would drop the table)
        with scoped_conf(spark, "spark.sql.sources.partitionOverwriteMode", "dynamic"):
            cols = spark.table(store_table).columns  # positional contract
            tagged.select(*cols).write.mode("overwrite").insertInto(
                store_table
            )

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        if not batch_df.head(1):
            return
        keys = _band_keys_df(batch_df, text_col, id_col, k, band_size, n)
        with cached(keys):
            store = _read_store(spark, batch_id)
            if store is not None:
                hits = (
                    keys.join(
                        store.withColumnRenamed(id_col, "__prior_id"),
                        "band_key",
                    )
                    .filter(F.col("__prior_id") != F.col(id_col))
                    .groupBy(id_col)
                    .agg(F.countDistinct("band_key").alias("n_candidate_bands"))
                )
            else:
                hits = keys.select(id_col).distinct().withColumn(
                    "n_candidate_bands", F.lit(0).cast("long")
                ).limit(0)
            # verdict universe = EVERY batch document, not just the
            # shingle-bearing ones: a doc with < n tokens produces no band
            # keys (the shingle stage filters empties) and used to get NO
            # verdict row at all (r09 review) — it cannot be a near-dup
            # under this detector, so it verdicts (0, false) explicitly.
            verdict = (
                batch_df.select(id_col)
                .distinct()
                .join(hits, id_col, "left")
                .select(
                    id_col,
                    F.coalesce("n_candidate_bands", F.lit(0).cast("long")).alias(
                        "n_candidate_bands"
                    ),
                    (F.coalesce("n_candidate_bands", F.lit(0)) > 0).alias("is_near_dup"),
                )
            )
            # per-batch dirs → a replayed batch overwrites itself (idempotent)
            verdict.write.mode("overwrite").parquet(f"{out_dir}/batch_id={batch_id}")
            _write_store(spark, keys, batch_id)

    return (
        stream_df.writeStream.foreachBatch(_process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def compact_band_store(
    spark,
    store_dir: str,
    dst_path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
) -> int:
    """Maintenance pass for :func:`near_dup_flagger`'s band-key store.

    Each micro-batch appends its keys as up-to-``shuffle.partitions``
    small files under ``batch_id=N``; after B batches the probe join pays
    the many-small-files penalty (measured 3.2× warm, SCALING.md batch 6)
    on every batch. This rewrites the store size-targeted WHILE KEEPING
    the ``batch_id`` hive layout — the layout is load-bearing: the
    flagger's replay-exclusion filter (``batch_id != current``) prunes
    the replayed batch's own directory, so a compaction that flattened
    the column away would silently break replay idempotence.

    Run it offline (between drains, or from a maintenance job) and swap
    the compacted directory in for the store: verdicts are identical
    before and after (pinned in ``tests/test_stream_dedup.py``). Returns
    the size-derived file-count target from :func:`sinks.compact_parquet`.
    """
    from duckdb_nats_jetstream_spark.sinks import compact_parquet

    return compact_parquet(
        spark,
        store_dir,
        dst_path,
        target_file_bytes=target_file_bytes,
        partition_cols=["batch_id"],
    )
