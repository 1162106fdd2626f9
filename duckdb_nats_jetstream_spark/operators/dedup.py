"""Deduplication operators for training-data pipelines (north-star surface):
exact, MinHash+LSH, SimHash, n-gram Jaccard, embedding-cosine near-dup.

All pure DataFrame compositions — shuffles only on the blocking/bucket keys,
which is the scale path: at 100 TB the LSH band join shuffles only
(doc_id, band_key) pairs plus shingle arrays, never all-pairs.

Float discipline: Jaccard and cosine are exact integer ratios / ordered
folds (see ``functions.text`` / ``functions.vector``), so the DuckDB oracle
mirrors match bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W, functions as F

from duckdb_nats_jetstream_spark.functions.text import (
    fingerprint,
    jaccard,
    shingles,
    tokens,
)
from duckdb_nats_jetstream_spark.tables import cached


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep one representative (min id) per exact normalized-content match.
    One shuffle (window by fingerprint); no join."""
    w = W.partitionBy("__fp").orderBy(id_col)
    return (
        df.withColumn("__fp", fingerprint(F.col(text_col)))
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__fp", "__rn")
    )


def exact_dup_groups(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Content-hash groups: canonical id + member count per distinct content."""
    return (
        df.withColumn("fp", fingerprint(F.col(text_col)))
        .groupBy("fp")
        .agg(
            F.min(id_col).alias("canonical_id"),
            F.count("*").alias("n_docs"),
        )
    )


def _with_shingles(df: DataFrame, text_col: str, id_col: str, n: int = 3) -> DataFrame:
    from duckdb_nats_jetstream_spark.tables import spread

    sh = shingles(tokens(F.col(text_col)), n)
    # tokenize+shingle is the expensive per-row stage of every shingle-based
    # dedup — spread first so a few-file input doesn't serialize it
    return spread(df).select(F.col(id_col), sh.alias("sh")).filter(F.size("sh") > 0)


def _banded_signatures(docs: DataFrame, id_col: str, k: int, band_size: int) -> DataFrame:
    """(id, band_key) rows from a shingled relation: k-seed min-hash
    signature (salted digests carved into four 32-bit slices each), then
    one md5 band key per ``k/band_size`` signature band."""
    from duckdb_nats_jetstream_spark.functions.text import _hex_slice, _seeded_md5

    # materialize the salted digest arrays once; each 32-char digest yields
    # four 32-bit signature slices (4× less hashing than one md5 per seed)
    n_digests = (k + 3) // 4
    withd = docs.select(
        id_col,
        "sh",
        *[
            F.transform(F.col("sh"), _seeded_md5(d)).alias(f"dg_{d}")
            for d in range(n_digests)
        ],
    )
    sig_cols = []
    for d in range(n_digests):
        for j in range(4):
            if len(sig_cols) == k:
                break
            sig_cols.append(
                F.array_min(
                    F.transform(F.col(f"dg_{d}"), _hex_slice(j * 8 + 1))
                ).alias(f"sig_{len(sig_cols)}")
            )
    sigs = withd.select(id_col, "sh", *sig_cols)
    n_bands = k // band_size
    band_keys = [
        F.md5(
            F.concat_ws(
                "|",
                F.lit(str(b)),
                *[F.col(f"sig_{b * band_size + j}") for j in range(band_size)],
            )
        ).alias("band_key")
        for b in range(n_bands)
    ]
    return sigs.select(id_col, F.explode(F.array(*band_keys)).alias("band_key"))


def _band_keys_df(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    band_size: int = 2,
    n: int = 3,
) -> DataFrame:
    """(id, band_key) for raw documents — the candidate-generation half of
    :func:`minhash_lsh_pairs`, shared by the streaming near-dup flagger
    (identical keys, so batch and stream agree on candidates)."""
    return _banded_signatures(
        _with_shingles(df, text_col, id_col, n), id_col, k, band_size
    )


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    band_size: int = 2,
    threshold: float = 0.2,
    n: int = 3,
) -> DataFrame:
    """MinHash + LSH banding near-duplicate pairs.

    shingle → k-seed min-hash signature → k/band_size band keys → self-join
    on band key (the only shuffle proportional to corpus size) → exact
    Jaccard verification of candidates. Returns (id_a, id_b, jaccard_r).
    """
    # cache the shingled docs: they feed the signature pipeline AND the two
    # candidate-verification joins — without this the whole tokenize+shingle
    # stage recomputes three times
    docs = _with_shingles(df, text_col, id_col, n)
    # Shuffle only (id, band_key) through the self-join — never the shingle
    # arrays. Candidate pairs are few; their shingles come back via two
    # broadcast joins against the (small relative to the log) docs relation.
    banded = _banded_signatures(docs, id_col, k, band_size)
    a = banded.alias("a")
    b = banded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
        )
        .distinct()
    )
    sh_a = docs.select(F.col(id_col).alias("id_a"), F.col("sh").alias("sh_a"))
    sh_b = docs.select(F.col(id_col).alias("id_b"), F.col("sh").alias("sh_b"))
    out = (
        cand.join(sh_a, "id_a")
        .join(sh_b, "id_b")
        .withColumn("jac", jaccard(F.col("sh_a"), F.col("sh_b")))
        .filter(F.col("jac") >= threshold)
        .select("id_a", "id_b", F.col("jac").alias("jaccard_r"))
    )
    with cached(docs):
        return out.localCheckpoint(eager=True)


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    block_col: str | None = None,
    threshold: float = 0.05,
    n: int = 3,
) -> DataFrame:
    """Blocked pairwise n-gram Jaccard. ``block_col`` bounds the pair
    explosion (at scale, block on an LSH bucket or length band — never
    all-pairs). Returns (id_a, id_b, jaccard_r).

    Join-strategy note (r10 sweep follow-up, measured at the 10×
    replica): Catalyst broadcasts the corpus side below the session's
    64 MB scan-size threshold, and the SCAN estimate misses the ~20–50×
    in-memory expansion of the shingle arrays — 4.3 GB peak task memory
    at sf1 is the broadcast hash build, not the pair expansion. The
    zone is bounded (≤ threshold × expansion ≈ a few GB; above it the
    estimate itself crosses the threshold and Catalyst picks
    sort-merge, whose group buffering spills). Callers in the
    under-estimate zone can force ``df.hint("merge")`` semantics by
    joining pre-hinted frames — measured 4× lower peak (1.0 GB) at the
    same wall at sf1. Sub-block salting was ALSO measured here and
    rejected: it shrinks join groups but replicates the array-heavy
    rows s×, and the sort/hash-build memory it inflates dominates
    (peak 2.1 GB salted vs 1.0 GB unsalted under merge; 20 GB vs 4.3 GB
    under broadcast)."""
    from duckdb_nats_jetstream_spark.tables import spread

    sh = shingles(tokens(F.col(text_col)), n)
    cols = [F.col(id_col), sh.alias("sh")]
    if block_col is not None:
        cols.append(F.col(block_col).alias("blk"))
    docs = spread(df).select(*cols).filter(F.size("sh") > 0)
    a, b = docs.alias("a"), docs.alias("b")
    cond = F.col(f"a.{id_col}") < F.col(f"b.{id_col}")
    if block_col is not None:
        cond = (F.col("a.blk") == F.col("b.blk")) & cond
    return (
        a.join(b, cond)
        .withColumn("jac", jaccard(F.col("a.sh"), F.col("b.sh")))
        .filter(F.col("jac") >= threshold)
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.col("jac").alias("jaccard_r"),
        )
    )


def simhash(df: DataFrame, text_col: str = "text", id_col: str = "doc_id", bits: int = 16) -> DataFrame:
    """Per-document SimHash: bit j is the sign of the ±1 majority vote over
    tokens, where token bit j = parity of hex digit j of md5(token) (each
    token hashed once, digits reused across bits). Integer math only —
    exactly mirrorable in SQL. Returns (id, simhash)."""
    from duckdb_nats_jetstream_spark.tables import spread

    hashed = spread(df).select(
        F.col(id_col),
        F.transform(tokens(F.col(text_col)), F.md5).alias("hs"),
    )
    def _bit_vote(j: int):
        # single-arg closure — a 2-arg lambda would receive the array index
        return lambda h: F.when(
            F.ascii(F.substring(h, j + 1, 1)) % 2 == 1, F.lit(1)
        ).otherwise(F.lit(-1))

    bit_cols = []
    for j in range(bits):
        vote = F.aggregate(
            F.transform(F.col("hs"), _bit_vote(j)),
            F.lit(0),
            lambda acc, v: acc + v,
        )
        bit_cols.append(F.when(vote > 0, F.lit(2**j)).otherwise(F.lit(0)))
    sim = bit_cols[0]
    for c in bit_cols[1:]:
        sim = sim + c
    return hashed.select(F.col(id_col), sim.cast("long").alias("simhash"))


def sql_simhash(md5_list_expr: str, bits: int = 16) -> str:
    """DuckDB mirror of :func:`simhash` over a token-md5-list expression."""
    parts = []
    for j in range(bits):
        vote = (
            f"list_reduce(list_prepend(0, list_transform({md5_list_expr}, "
            f"h -> CASE WHEN ascii(substr(h, {j + 1}, 1)) % 2 = 1 "
            f"THEN 1 ELSE -1 END)), (acc, v) -> acc + v)"
        )
        parts.append(f"CASE WHEN {vote} > 0 THEN {2**j} ELSE 0 END")
    return "CAST(" + " + ".join(parts) + " AS BIGINT)"


def winnow_fingerprints(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    w: int = 4,
    arrow: bool = True,
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer et al., SIGMOD'03 — the
    MOSS algorithm): hash every character k-gram, slide a w-wide window over
    the hash sequence, keep each window's minimum, dedupe. Guarantees every
    shared substring of length ≥ k+w-1 contributes at least one shared
    fingerprint, with ~2/(w+1) of the k-grams retained.

    Pure column expressions (sequence/transform/slice/array_min) — zero
    Python, zero shuffle; DuckDB mirrors the list pipeline exactly.
    Fingerprints are 8-hex-char md5 prefixes (strings): lexicographic min
    over fixed-width lowercase hex agrees across engines. Returns one row
    per (id, fp) — distinct fingerprints per document.
    """
    from duckdb_nats_jetstream_spark.tables import spread

    if arrow:
        # Arrow fast path: the k-gram md5s sit inside transform lambdas on
        # the column path, which evaluate INTERPRETED (outside whole-stage
        # codegen — the same finding as the SRP buckets); hashlib's C md5
        # over the identical UTF-8 substrings produces byte-identical
        # fingerprints at ~3× the throughput (measured: the winnow family's
        # dominant cost). ASCII corpus note: Python str.lower() ==
        # Spark lower() on ASCII; for locale-sensitive case folding use
        # arrow=False.
        def rows(it):
            import hashlib

            import pandas as pd

            for pdf in it:
                ids, fps = [], []
                for did, txt in zip(pdf[id_col], pdf[text_col]):
                    t = (txt or "").lower()
                    n = len(t)
                    if n < k:
                        continue  # no grams — same as the guarded column path
                    grams = [
                        hashlib.md5(t[i : i + k].encode()).hexdigest()[:8]
                        for i in range(n - k + 1)
                    ]
                    m = len(grams)
                    seen = set()
                    for i in range(max(m - w + 1, 1)):
                        f = min(grams[i : i + w])
                        if f not in seen:
                            seen.add(f)
                            ids.append(did)
                            fps.append(f)
                yield pd.DataFrame({id_col: ids, "fp": fps})

        id_type = dict(df.dtypes)[id_col]
        return spread(df).select(id_col, text_col).mapInPandas(
            rows, f"{id_col} {id_type}, fp string"
        )

    # materialize the normalized text FIRST: a transform lambda referencing
    # a complex outer expression re-evaluates it per element (PERF.md)
    norm = spread(df).select(
        F.col(id_col), F.lower(F.col(text_col)).alias("__t")
    )
    # texts shorter than k have NO grams. Guard explicitly: Spark's
    # sequence(1, 0) yields a DESCENDING [1, 0] (it interprets the reversed
    # bounds as step -1) while DuckDB's range(1, 1) is empty — unguarded,
    # a len<k document would emit a bogus fingerprint only on the Spark side
    # and break hash parity (r02 ADVICE, medium).
    n_grams = F.length("__t") - F.lit(k - 1)
    grams = F.when(
        n_grams >= 1,
        F.transform(
            F.sequence(F.lit(1), F.greatest(n_grams, F.lit(1))),
            lambda i: F.substring(F.md5(F.substr(F.col("__t"), i, F.lit(k))), 1, 8),
        ),
    ).otherwise(F.array().cast("array<string>"))
    g = norm.select(id_col, grams.alias("__g"))
    fps = F.array_distinct(
        F.transform(
            F.sequence(
                F.lit(1), F.greatest(F.size("__g") - F.lit(w - 1), F.lit(1))
            ),
            lambda i: F.array_min(F.slice(F.col("__g"), i, w)),
        )
    )
    return (
        g.filter(F.size("__g") > 0)
        .select(F.col(id_col), F.explode(fps).alias("fp"))
        .filter(F.col("fp").isNotNull())
    )


def sql_winnow_fingerprints(k: int = 8, w: int = 4, table: str = "documents") -> str:
    """DuckDB mirror of :func:`winnow_fingerprints` (1-based substr/slice
    semantics line up; ``range`` upper bound is exclusive)."""
    return f"""
WITH norm AS (
  SELECT doc_id, lower(text) AS t FROM {table}
), grams AS (
  SELECT doc_id,
         list_transform(range(1, greatest(length(t) - {k - 1}, 0) + 1),
                        i -> substr(md5(substr(t, CAST(i AS INT), {k})), 1, 8)) AS g
  FROM norm
), fps AS (
  SELECT doc_id,
         list_distinct(
           list_transform(range(1, greatest(len(g) - {w - 1}, 1) + 1),
                          i -> list_min(g[CAST(i AS INT):CAST(i + {w - 1} AS INT)]))
         ) AS f
  FROM grams WHERE len(g) > 0
)
SELECT doc_id, unnest(f) AS fp FROM fps WHERE f IS NOT NULL
"""


#: default hot-fingerprint document-frequency cap for :func:`winnow_pairs`.
#: A fingerprint shared by ``d`` documents emits ``d·(d-1)/2`` pairs, so the
#: uncapped self-join is quadratic in per-fingerprint popularity — measured
#: at the 10× replica (PERF.md sf1 table): exponent 1.90, 9.7 GB shuffle,
#: 34 GB peak task memory, while the capped twin stayed flat at 16 MB.
#: The cap value is a memory dial, ~quadratic in peak task memory (r09
#: sweep on the same adversarial replica, `tools/stress_winnow_default.py`:
#: cap 128 → 2.2 GB, 256 → 4.8 GB, 512 → 11.8 GB peak task memory). 256
#: bounds any one fingerprint's contribution to ~33k pairs regardless of
#: corpus size and keeps the worst measured task under 5 GB — inside any
#: standard executor — while fingerprints hotter than a few hundred docs
#: are boilerplate (license headers, nav bars): noise for near-dup
#: detection, not signal.
DEFAULT_WINNOW_DF_CAP = 256


def winnow_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    w: int = 4,
    min_shared: int = 3,
    df_cap: int | None = DEFAULT_WINNOW_DF_CAP,
) -> DataFrame:
    """Near-duplicate candidate pairs by shared winnowing fingerprints —
    MOSS's match step as a relational plan: self-join the (id, fp) relation
    on fp, count shared fingerprints per pair, keep pairs sharing at least
    ``min_shared``. The only corpus-sized shuffle is on the fingerprint key
    (like the LSH band join).

    ``df_cap`` is the hot-fingerprint guard for scale: a fingerprint shared
    by ``d`` documents contributes ``d·(d-1)/2`` pairs, so ONE boilerplate
    fingerprint (license header, nav bar) across a million documents is a
    half-trillion-row join output. Capping document frequency drops those
    fingerprints before the self-join — the standard MOSS deployment move
    (common code is noise, not plagiarism signal). The cap costs one extra
    aggregation on the same fp key the join shuffles on, so it adds no new
    shuffle boundary. Returns (id_a, id_b, n_shared).

    CAPPED BY DEFAULT (:data:`DEFAULT_WINNOW_DF_CAP`; r08 verdict): the
    uncapped form OOMs tasks on duplicated corpora (sf1 measured exponent
    1.90 / 34 GB peak task memory vs the capped twin flat at 4.8 s).
    Pass ``df_cap=None`` to opt out explicitly — exhaustive pairs over a
    corpus known to be boilerplate-free.
    """
    if df_cap is not None:
        # r13 optimization — capped path, single-subtree plan: document
        # frequency via a window count over fp (ONE fp exchange; the
        # spillable window buffer replaces the old rare-agg + semi-join
        # pair), then in-group ordered-pair expansion over the SAME fp
        # partitioning (groupBy(fp) reuses the window's exchange — no new
        # shuffle) instead of the self-join. Safe at corpus scale because
        # the post-filter group is ≤ df_cap members by construction, so
        # collect_list buffers and the row-local pair arrays are bounded
        # (≤ df_cap·(df_cap−1)/2 structs). No persist/checkpoint lifecycle:
        # the fingerprint relation has exactly one consumer now.
        from pyspark.sql import Window as W

        fps = winnow_fingerprints(df, text_col, id_col, k, w)
        kept = fps.withColumn(
            "__df", F.count(F.lit(1)).over(W.partitionBy("fp"))
        ).filter(F.col("__df") <= df_cap)
        groups = (
            kept.groupBy("fp")
            .agg(F.array_sort(F.collect_list(id_col)).alias("__ids"))
            .filter(F.size("__ids") >= 2)
        )
        # (id, fp) is distinct per document, so the sorted per-fp id array
        # is duplicate-free: pairing each element with its successors is
        # exactly the old a.id < b.id self-join condition
        pair = F.explode(
            F.flatten(
                F.expr(
                    "transform(__ids, (x, i) -> "
                    "transform(slice(__ids, i + 2, size(__ids)), "
                    "y -> struct(x, y)))"
                )
            )
        ).alias("p")
        return (
            groups.select(pair)
            .groupBy(
                F.col("p.x").alias("id_a"), F.col("p.y").alias("id_b")
            )
            .agg(F.count("*").alias("n_shared"))
            .filter(F.col("n_shared") >= min_shared)
        )

    # UNCAPPED opt-in (exhaustive oracle twin): the self-join needs the
    # fingerprint relation on both sides — cache it so the whole
    # k-gram/window pipeline doesn't run twice (same pattern as
    # minhash_lsh_pairs; on a cluster swap localCheckpoint for checkpoint)
    fps_cached = winnow_fingerprints(df, text_col, id_col, k, w)
    a = fps_cached.alias("a")
    b = fps_cached.alias("b")
    out = (
        a.join(
            b,
            (F.col("a.fp") == F.col("b.fp"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .groupBy(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
        )
        .agg(F.count("*").alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )
    with cached(fps_cached):
        return out.localCheckpoint(eager=True)


def embedding_near_dup_pairs(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.8,
    n_blocks: int | None = None,
    target_block_rows: int = 4096,
) -> DataFrame:
    """All-pairs cosine near-duplicates, fully distributed.

    Executed as an exact **block-pair product**: ids hash into ``n_blocks``
    blocks; every unordered block pair (p ≤ q) is one task group, and each
    row is shuffled into exactly the ``n_blocks`` groups its block belongs
    to. ``applyInPandas`` computes each group's cosine cross product with
    the fold-exact numpy kernel (``functions.vector_np``) and emits only
    (id_a < id_b, cos >= threshold) pairs — bit-identical to the per-pair
    column-fold oracle, since blocking never changes any dot product.

    Scale shape: NO driver-side collect/broadcast of the corpus (the r01
    design's scale-killer — driver memory bounded the corpus). Shuffle
    volume is n_blocks × corpus; per-task memory is two blocks of
    corpus/n_blocks vectors PLUS their (corpus/n_blocks)² cosine matrix —
    the matrix dominates, so ``n_blocks`` defaults to the SAME two-dial
    AUTO-BLOCKING as :func:`similarity.knn_join` (r10's fix there; the
    r11 two-decade sweep showed the fixed 8 here meant a ~5 GB per-task
    matrix at the 100× replica — the identical defect): (a) memory —
    ``ceil(N / target_block_rows)`` caps the matrix at
    ~``target_block_rows``² doubles (134 MB at the 4096 default);
    (b) parallelism — the smallest b with b(b+1)/2 ≥ 2×defaultParallelism.
    Pass an int to pin (blocking is execution-only: any n_blocks gives
    bit-identical results). The compute stays intrinsically N²/2 dot
    products however executed — for corpora beyond a few million vectors
    use the SRP-bucketed approximate path
    (``operators.similarity.with_srp_bucket``) instead of exact all-pairs.
    Returns (id_a, id_b, cos_r).
    """
    import math

    import numpy as np

    from duckdb_nats_jetstream_spark.functions.vector_np import (
        fold_gram,
        fold_norms,
    )
    from duckdb_nats_jetstream_spark.operators.similarity import (
        block_pair_memberships,
    )

    if n_blocks is None:
        par = df.sparkSession.sparkContext.defaultParallelism
        b = 2
        while b * (b + 1) // 2 < 2 * par:
            b += 1
        n_blocks = max(b, math.ceil(df.count() / target_block_rows))
    blk = F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_blocks)).cast("int")
    rows = df.select(F.col(id_col), F.col(vec_col), blk.alias("blk"))
    # each row participates in every block pair containing its block:
    # (min(blk, j), max(blk, j)) for j in 0..n_blocks-1
    pairs = rows.select(
        id_col,
        vec_col,
        "blk",
        F.explode(block_pair_memberships(n_blocks)).alias("bp"),
    )

    def _block_pair(key, pdf):
        import pandas as pd

        p, q = key
        if pdf.empty:
            return pd.DataFrame({"id_a": [], "id_b": [], "cos_r": []})
        if p == q:
            m = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            ids = pdf[id_col].to_numpy()
            cos = fold_gram(m, m) / np.outer(fold_norms(m), fold_norms(m))
            mask = (ids[:, None] < ids[None, :]) & (cos >= threshold)
            ai, bj = np.nonzero(mask)
            return pd.DataFrame(
                {"id_a": ids[ai], "id_b": ids[bj], "cos_r": cos[ai, bj]}
            )
        pa = pdf[pdf["blk"] == p]
        pb = pdf[pdf["blk"] == q]
        if pa.empty or pb.empty:
            return pd.DataFrame({"id_a": [], "id_b": [], "cos_r": []})
        ma = np.stack(pa[vec_col].to_numpy()).astype(np.float64)
        mb = np.stack(pb[vec_col].to_numpy()).astype(np.float64)
        ids_a = pa[id_col].to_numpy()
        ids_b = pb[id_col].to_numpy()
        cos = fold_gram(ma, mb) / np.outer(fold_norms(ma), fold_norms(mb))
        ai, bj = np.nonzero(cos >= threshold)
        lo = np.minimum(ids_a[ai], ids_b[bj])
        hi = np.maximum(ids_a[ai], ids_b[bj])
        return pd.DataFrame({"id_a": lo, "id_b": hi, "cos_r": cos[ai, bj]})

    out_schema = "id_a long, id_b long, cos_r double"
    return pairs.groupBy("bp.p", "bp.q").applyInPandas(_block_pair, out_schema)


def dup_span_stats(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 13,
) -> DataFrame:
    """Cross-document duplicated-span signal (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better"): for each
    document, the fraction of its word n-gram positions whose n-gram also
    occurs in at least one OTHER document. High fractions mark boilerplate
    and templated text that exact- and near-dup removal both miss (the
    span, not the document, is duplicated).

    Plan: explode (id, gram-fp) — fp is an 8-hex md5 prefix so the shuffle
    carries 8-byte keys, not 80-char grams — count distinct docs per fp,
    mark fps seen in ≥2 docs, join back on the SAME fp key (co-located),
    and aggregate per document. Two hash shuffles (fp, then id), both on
    keys the data is already being carved by; no windows, no collects.
    Documents with fewer than ``n`` tokens have no spans and are omitted
    (a 0/0 fraction has no cross-engine-stable value).
    Returns (id, n_spans, n_dup_spans, dup_frac).
    """
    from duckdb_nats_jetstream_spark.functions.text import shingles, tokens
    from duckdb_nats_jetstream_spark.tables import spread

    grams = (
        spread(df)
        .select(
            F.col(id_col),
            F.explode(shingles(tokens(F.col(text_col)), n)).alias("__s"),
        )
        .select(id_col, F.substring(F.md5("__s"), 1, 8).alias("fp"))
    )
    # "appears in ≥2 DISTINCT docs" ⟺ min(id) < max(id): count_distinct
    # plans as TWO exchanges (partial distinct on (fp, id), then the merge),
    # min/max as ONE (guide §2.4 — r13 optimization round; NULL ids agree:
    # both formulations ignore them)
    hot = (
        grams.groupBy("fp")
        .agg(F.min(id_col).alias("__mn"), F.max(id_col).alias("__mx"))
        .filter(F.col("__mn") < F.col("__mx"))
        .select("fp", F.lit(1).alias("__hot"))
    )
    out = (
        grams.join(hot, "fp", "left")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_spans"),
            F.count("__hot").alias("n_dup_spans"),
        )
        .select(
            id_col,
            "n_spans",
            "n_dup_spans",
            (F.col("n_dup_spans") / F.col("n_spans")).alias("dup_frac"),
        )
    )
    with cached(grams):
        return out.localCheckpoint(eager=True)


def sql_dup_span_stats(n: int = 13, table: str = "documents") -> str:
    """DuckDB mirror of :func:`dup_span_stats`."""
    from duckdb_nats_jetstream_spark.functions.text import (
        sql_shingles,
        sql_tokens,
    )

    sh = sql_shingles(sql_tokens("text"), n)
    return f"""
WITH g AS (
  SELECT doc_id, substr(md5(s), 1, 8) AS fp
  FROM (SELECT doc_id, unnest({sh}) AS s FROM {table})
), hot AS (
  SELECT fp FROM g GROUP BY fp HAVING count(DISTINCT doc_id) >= 2
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_spans,
       CAST(count(CASE WHEN fp IN (SELECT fp FROM hot) THEN 1 END) AS BIGINT)
         AS n_dup_spans,
       count(CASE WHEN fp IN (SELECT fp FROM hot) THEN 1 END) / count(*)
         AS dup_frac
FROM g GROUP BY doc_id
"""


def prefix_containment_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    block_chars: int = 32,
) -> DataFrame:
    """Truncation duplicates: pairs where one document's (lowercased) text
    is a strict-or-equal PREFIX of another's — the half-fetched page /
    clipped-context dup that content-hash dedup misses entirely and
    shingle near-dup only catches when the truncation is mild.

    Blocking: both sides of a prefix pair share their first ``block_chars``
    characters, so the self-join keys on md5 of that prefix — one shuffle
    on a 16-byte key, pairs bounded per block (no all-pairs). The prefix
    test itself is one substring + equality per candidate pair. Documents
    shorter than ``block_chars`` are excluded (their whole text is shorter
    than the blocking key; at scale run a second pass with a smaller block
    for the short tail). Exactly-equal texts pair once (id order breaks the
    tie). Returns (id_short, id_long, len_short, len_long).
    """
    # length measured on the LOWERED text: case folding can change string
    # length (e.g. 'İ' lowers to two chars in the JVM), and the prefix test
    # runs on __t — measuring the original would compare the wrong span
    base = df.select(
        F.col(id_col),
        F.lower(F.col(text_col)).alias("__t"),
        F.length(F.lower(F.col(text_col))).alias("__l"),
    ).filter(F.col("__l") >= block_chars)
    keyed = base.withColumn("__blk", F.md5(F.substring("__t", 1, block_chars)))
    a, b = keyed.alias("a"), keyed.alias("b")
    return (
        a.join(
            b,
            (F.col("a.__blk") == F.col("b.__blk"))
            & (F.col(f"a.{id_col}") != F.col(f"b.{id_col}"))
            & (F.col("a.__l") <= F.col("b.__l"))
            & (
                F.expr("substring(b.__t, 1, a.__l)") == F.col("a.__t")
            )
            & (
                (F.col("a.__l") < F.col("b.__l"))
                | (F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
            ),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_short"),
            F.col(f"b.{id_col}").alias("id_long"),
            F.col("a.__l").cast("long").alias("len_short"),
            F.col("b.__l").cast("long").alias("len_long"),
        )
    )


def sql_prefix_containment(
    table: str = "documents",
    text_col: str = "text",
    id_col: str = "doc_id",
    block_chars: int = 32,
) -> str:
    """DuckDB mirror of :func:`prefix_containment_pairs`."""
    return f"""
WITH base AS (
  SELECT {id_col}, lower({text_col}) AS t, length(lower({text_col})) AS l
  FROM {table} WHERE length(lower({text_col})) >= {block_chars}
), keyed AS (
  SELECT *, md5(substring(t, 1, {block_chars})) AS blk FROM base
)
SELECT a.{id_col} AS id_short, b.{id_col} AS id_long,
       CAST(a.l AS BIGINT) AS len_short, CAST(b.l AS BIGINT) AS len_long
FROM keyed a JOIN keyed b
  ON a.blk = b.blk AND a.{id_col} != b.{id_col} AND a.l <= b.l
 AND substring(b.t, 1, CAST(a.l AS BIGINT)) = a.t
 AND (a.l < b.l OR a.{id_col} < b.{id_col})
"""


def incremental_near_dups(
    new_df: DataFrame,
    ref_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    band_size: int = 2,
    threshold: float = 0.2,
    n: int = 3,
) -> DataFrame:
    """Incoming-batch vs existing-corpus near-dup screen — the production
    shape of LSH dedup: an incremental crawl/batch is checked against the
    already-accepted training set, NOT against itself (intra-batch dedup is
    :func:`minhash_lsh_pairs`'s job; run both for full hygiene).

    Candidates = band-key equi-join between the batch's and the corpus's
    banded min-hash signatures; verification = exact shingle Jaccard.
    Returns one row per *flagged* incoming document:
    ``(doc_id, n_ref_dups)`` — how many existing documents it near-matches.
    Anti-join the batch against this result to admit the survivors.

    Scale shape: the reference side's banded signatures are a narrow
    (id, band_key) relation that at steady state is precomputed once and
    stored (signature store), so each incremental batch costs
    O(batch grams) + one equi-join keyed band_key against the store —
    corpus text is never rescanned per batch. Candidate verification
    fetches only the matched candidates' shingles via join-back.
    """
    new_sh = _with_shingles(new_df, text_col, id_col, n)
    ref_sh = _with_shingles(ref_df, text_col, id_col, n)
    out = _screen_against_reference(
        new_sh,
        _banded_signatures(new_sh, id_col, k, band_size),
        ref_sh,
        _banded_signatures(ref_sh, id_col, k, band_size),
        id_col,
        threshold,
    )
    with cached(new_sh, ref_sh):
        return out.localCheckpoint(eager=True)


def _screen_against_reference(
    new_sh: DataFrame,
    new_bands: DataFrame,
    ref_shingles: DataFrame,
    ref_bands: DataFrame,
    id_col: str,
    threshold: float,
) -> DataFrame:
    """Shared candidate→verify→aggregate block of the two incremental
    screens (:func:`incremental_near_dups` recomputes the reference side;
    :func:`incremental_near_dups_stored` reads it from the signature
    store): band-key equi-join for candidates, exact shingle Jaccard via
    join-back for verification, one ``(doc_id, n_ref_dups)`` row per
    flagged incoming doc. Both the recomputed and stored paths must
    produce bit-identical results (pinned by ``tests/test_incstore.py``),
    which is exactly why this block is shared, not duplicated."""
    nb = new_bands.alias("nb")
    rb = ref_bands.alias("rb")
    cand = (
        nb.join(rb, F.col("nb.band_key") == F.col("rb.band_key"))
        .select(
            F.col(f"nb.{id_col}").alias("new_id"),
            F.col(f"rb.{id_col}").alias("ref_id"),
        )
        .distinct()
    )
    verified = (
        cand.join(
            new_sh.select(F.col(id_col).alias("new_id"), F.col("sh").alias("sh_n")),
            "new_id",
        )
        .join(
            ref_shingles.select(
                F.col(id_col).alias("ref_id"), F.col("sh").alias("sh_r")
            ),
            "ref_id",
        )
        .filter(jaccard(F.col("sh_n"), F.col("sh_r")) >= threshold)
    )
    return verified.groupBy(F.col("new_id").alias(id_col)).agg(
        F.count("*").cast("long").alias("n_ref_dups")
    )


def build_signature_store(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    band_size: int = 2,
    n: int = 3,
) -> tuple[DataFrame, DataFrame]:
    """One-time (or per-admitted-batch, appended) signature-store build:
    returns ``(shingles, bands)`` — ``(id, sh)`` and ``(id, band_key)``
    relations using exactly the hash pipeline of
    :func:`incremental_near_dups`, so stored and recomputed candidates
    are identical.

    This is the steady-state shape :func:`incremental_near_dups`'s
    docstring promises ("banded signatures ... precomputed once and
    stored"): the rescanning API re-shingles the whole reference corpus
    on every call, and its per-batch wall grows with corpus size even at
    a fixed batch (measured ×2.25 on a 4× corpus, SCALING.md batch 24,
    while the stored twin stays flat). The store is TWO narrow relations
    so the shingle array isn't duplicated per band row; persist both as
    parquet, and bucket the band relation by ``band_key`` to delete its
    per-batch reshuffle (same measured win as the streaming flagger's
    ``store_table`` backend, SCALING.md batch 11). Admission is
    append-only: accepted docs are shingled exactly once, ever.

    Reference scope: beyond the reference (scan/extract only);
    north-star curation surface, the batch complement of
    ``streaming/dedup.near_dup_flagger(store_table=)``.
    """
    sh = _with_shingles(df, text_col, id_col, n)
    return sh, _banded_signatures(sh, id_col, k, band_size)


def incremental_near_dups_stored(
    new_df: DataFrame,
    ref_shingles: DataFrame,
    ref_bands: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    band_size: int = 2,
    threshold: float = 0.2,
    n: int = 3,
) -> DataFrame:
    """Store-backed twin of :func:`incremental_near_dups`: identical
    output ``(doc_id, n_ref_dups)`` — one row per flagged incoming doc —
    but the reference side arrives as the prebuilt store relations from
    :func:`build_signature_store`, so the per-batch bill is
    O(batch grams) + two store joins; the corpus text is never rescanned.
    ``k``/``band_size``/``n`` must match the store build (they
    parameterize only the batch side here)."""
    new_sh = _with_shingles(new_df, text_col, id_col, n)
    out = _screen_against_reference(
        new_sh,
        _banded_signatures(new_sh, id_col, k, band_size),
        ref_shingles,
        ref_bands,
        id_col,
        threshold,
    )
    with cached(new_sh):
        return out.localCheckpoint(eager=True)


def sql_incremental_near_dups(
    new_pred: str,
    k: int = 8,
    band_size: int = 2,
    threshold: float = 0.2,
    table: str = "documents",
    id_col: str = "doc_id",
) -> str:
    """DuckDB mirror: ``new_pred`` selects the incoming batch; its negation
    is the reference corpus."""
    from duckdb_nats_jetstream_spark.functions.text import (
        sql_minhash_signature,
        sql_shingles,
        sql_tokens,
    )

    sig = sql_minhash_signature("sh", k)
    sig_cols = ", ".join(f"{s} AS sig_{i}" for i, s in enumerate(sig))
    n_bands = k // band_size
    band_selects = []
    for b in range(n_bands):
        parts = " || '|' || ".join(
            f"sig_{b * band_size + j}" for j in range(band_size)
        )
        band_selects.append(
            f"SELECT {id_col}, is_new, sh, md5('{b}' || '|' || {parts}) AS band_key FROM sigs"
        )
    bands = " UNION ALL ".join(band_selects)
    from duckdb_nats_jetstream_spark.functions.text import sql_jaccard

    return f"""
WITH docs AS (
  SELECT {id_col}, ({new_pred}) AS is_new,
         {sql_shingles(sql_tokens('text'))} AS sh
  FROM {table}
), nonempty AS (SELECT * FROM docs WHERE len(sh) > 0),
sigs AS (SELECT {id_col}, is_new, sh, {sig_cols} FROM nonempty),
banded AS ({bands}),
cand AS (
  SELECT DISTINCT n.{id_col} AS new_id, r.{id_col} AS ref_id,
         n.sh AS sh_n, r.sh AS sh_r
  FROM banded n JOIN banded r
    ON n.band_key = r.band_key AND n.is_new AND NOT r.is_new
)
SELECT new_id AS {id_col}, COUNT(*) AS n_ref_dups
FROM cand
WHERE {sql_jaccard('sh_n', 'sh_r')} >= {threshold}
GROUP BY 1
"""


def span_scrub(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 13,
) -> DataFrame:
    """Cross-document duplicated-span REMOVAL — the transform step that
    :func:`dup_span_stats` only measures (Lee et al. 2022 remove the spans,
    not the documents): every token covered by a word n-gram that also
    occurs in another document is dropped, and the scrubbed text is
    re-rendered.

    Plan: positioned grams (posexplode) → hot-fp relation (≥2 distinct
    docs) on the same 8-hex fp key as the stats operator → per-doc sorted
    hot-start array (collect on the doc key the final agg shuffles anyway)
    → one row-local array filter keeps token j unless some hot start s
    covers it (s ≤ j ≤ s+n−1, positions 1-based both engines — NOTE
    Spark's indexed filter lambda is 0-based, DuckDB's is 1-based, so the
    Spark side shifts). Shuffles: fp, then id — identical shape to the
    stats pass. Documents shorter than n tokens have no grams and pass
    through unscrubbed. Returns (id, n_tokens, n_removed, scrubbed)."""
    from duckdb_nats_jetstream_spark.functions.text import shingles, tokens
    from duckdb_nats_jetstream_spark.tables import spread

    toked = spread(df).select(
        F.col(id_col), tokens(F.col(text_col)).alias("__t")
    )
    grams = toked.select(
        id_col,
        F.posexplode(shingles(F.col("__t"), n)).alias("__p0", "__s"),
    ).select(
        id_col,
        (F.col("__p0") + 1).alias("p"),  # 1-based gram start
        F.substring(F.md5("__s"), 1, 8).alias("fp"),
    )
    # min(id) < max(id) ⟺ ≥2 distinct docs — one exchange instead of the
    # distinct-agg's two (same rewrite as dup_span_stats; r13 optimization)
    hot = (
        grams.groupBy("fp")
        .agg(F.min(id_col).alias("__mn"), F.max(id_col).alias("__mx"))
        .filter(F.col("__mn") < F.col("__mx"))
        .select("fp")
    )
    starts = (
        grams.join(hot, "fp", "left_semi")
        .groupBy(id_col)
        .agg(F.array_sort(F.collect_list("p")).alias("starts"))
    )
    joined = toked.join(starts, id_col, "left").select(
        id_col,
        "__t",
        F.coalesce(F.col("starts"), F.array().cast("array<int>")).alias("st"),
    )
    kept = F.filter(
        "__t",
        lambda t, j: ~F.exists(
            "st", lambda s: (s <= j + 1) & (j + 1 <= s + F.lit(n - 1))
        ),
    )
    out = joined.select(
        F.col(id_col),
        F.size("__t").cast("long").alias("n_tokens"),
        (F.size("__t") - F.size(kept)).cast("long").alias("n_removed"),
        F.array_join(kept, " ").alias("scrubbed"),
    )
    with cached(grams):
        return out.localCheckpoint(eager=True)


def sql_span_scrub(n: int = 13, table: str = "documents") -> str:
    """DuckDB mirror of :func:`span_scrub` (1-based indexed lambdas;
    ``array_to_string([])`` is NULL in DuckDB vs Spark's '' — coalesced)."""
    from duckdb_nats_jetstream_spark.functions.text import (
        sql_shingles,
        sql_tokens,
    )

    sh = sql_shingles("t", n)
    return f"""
WITH toked AS (
  SELECT doc_id, {sql_tokens('text')} AS t FROM {table}
), g AS (
  SELECT doc_id, i AS p, substr(md5(sh[i]), 1, 8) AS fp
  FROM (SELECT doc_id, {sh} AS sh FROM toked),
       LATERAL (SELECT unnest(generate_series(1, len(sh))) AS i)
), hot AS (
  SELECT fp FROM g GROUP BY fp HAVING count(DISTINCT doc_id) >= 2
), starts AS (
  SELECT doc_id, list_sort(list(p)) AS st
  FROM g WHERE fp IN (SELECT fp FROM hot) GROUP BY doc_id
), joined AS (
  SELECT toked.doc_id, toked.t, coalesce(starts.st, []::BIGINT[]) AS st
  FROM toked LEFT JOIN starts ON starts.doc_id = toked.doc_id
)
SELECT doc_id,
       CAST(len(t) AS BIGINT) AS n_tokens,
       CAST(len(t) - len(kept) AS BIGINT) AS n_removed,
       coalesce(array_to_string(kept, ' '), '') AS scrubbed
FROM (
  SELECT doc_id, t,
         list_filter(t, (x, j) ->
           len(list_filter(st, s -> s <= j AND j <= s + {n - 1})) = 0) AS kept
  FROM joined
) q
"""
