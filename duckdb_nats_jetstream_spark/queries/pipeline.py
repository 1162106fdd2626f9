"""Training-data pipeline queries (north-star surface): text analysis,
deduplication, similarity search over ``documents`` / ``embeddings``.

Every query has an exact DuckDB oracle: deterministic md5-based hashing,
integer-ratio similarities, and ordered double folds keep both engines
bit-identical (see ``functions.text`` / ``functions.vector`` docstrings).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W, functions as F

from duckdb_nats_jetstream_spark.functions import text as TX
from duckdb_nats_jetstream_spark.functions.vector import sql_dot
from duckdb_nats_jetstream_spark.operators import dedup as D
from duckdb_nats_jetstream_spark.operators import similarity as S
from duckdb_nats_jetstream_spark.tables import read_table, spread
from duckdb_nats_jetstream_spark.sources.message_scan import EVENTS_ORACLE_SCAN_SQL

_TOKS = TX.sql_tokens("text")
_SCAN_CTE = f"WITH scan AS ({EVENTS_ORACLE_SCAN_SQL}) "


# --- text analysis ------------------------------------------------------------


def text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    t = F.col("text")
    return docs.select(
        "doc_id",
        TX.token_count(t).alias("n_tokens"),
        TX.bpe_token_estimate(t).alias("n_bpe_est"),
        TX.fingerprint(t).alias("fp"),
    )


TEXT_STATS_SQL = f"""
SELECT doc_id,
       {TX.sql_token_count('text')} AS n_tokens,
       {TX.sql_bpe_token_estimate('text')} AS n_bpe_est,
       {TX.sql_fingerprint('text')} AS fp
FROM documents
"""


def text_lang_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic language ID vs the labeled lang — confusion-matrix counts."""
    docs = spread(read_table(spark, sf_dir, "documents"))
    toks = TX.tokens(F.col("text"))
    return (
        docs.select(F.col("lang"), TX.predicted_lang(toks).alias("pred_lang"))
        .groupBy("lang", "pred_lang")
        .agg(F.count("*").alias("n_docs"))
        .orderBy("lang", "pred_lang")
    )


TEXT_LANG_SQL = f"""
SELECT lang, {TX.sql_predicted_lang(_TOKS)} AS pred_lang, count(*) AS n_docs
FROM documents
GROUP BY 1, 2
ORDER BY 1, 2
"""


def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document quality score (length/stopword/distinctness blend)."""
    docs = read_table(spark, sf_dir, "documents")
    toks = TX.tokens(F.col("text"))
    return docs.select(
        "doc_id",
        "source",
        TX.quality_score(toks).alias("quality_r"),
    )


TEXT_QUALITY_SQL = f"""
SELECT doc_id, source, {TX.sql_quality_score(_TOKS)} AS quality_r
FROM documents
"""


def text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition filters (Rae et al. 2021 §A1.1, adapted to
    position counts): per-document duplicate-2gram / duplicate-3gram
    fractions and the share of the single most frequent word.

    Scale shape (r13 optimization): ZERO shuffle at any corpus size. The
    dup-n-gram fractions were always pure per-row array math; the word-
    mode branch — previously an explode + (doc, token) aggregation +
    per-doc max + join-back, i.e. two shuffles and a second scan — is the
    max run length of the per-row SORTED token array, another row-local
    fold. Docs whose token array is empty had no exploded rows and were
    dropped by the old inner join; the explicit size filter preserves
    that contract."""
    docs = spread(read_table(spark, sf_dir, "documents"))
    # materialize the split once; re-deriving it inside every consumer
    # expression re-runs the tokenizer per expression (the PERF.md
    # transform-lambda trap)
    toked = docs.select(
        "doc_id", TX.tokens(F.col("text")).alias("__t")
    ).filter(F.size("__t") > 0)
    toks = F.col("__t")
    run = lambda acc, x: F.when(  # noqa: E731 — two-use lambda
        x == acc.getField("prev"), acc.getField("run") + F.lit(1).cast("long")
    ).otherwise(F.lit(1).cast("long"))
    top_cnt = F.aggregate(
        F.array_sort(toks),
        F.struct(
            F.lit("").alias("prev"),
            F.lit(0).cast("long").alias("run"),
            F.lit(0).cast("long").alias("best"),
        ),
        lambda acc, x: F.struct(
            x.alias("prev"),
            run(acc, x).alias("run"),
            F.greatest(acc.getField("best"), run(acc, x)).alias("best"),
        ),
        lambda acc: acc.getField("best"),
    )
    return toked.select(
        "doc_id",
        F.size(toks).cast("long").alias("n_tokens"),
        TX.dup_ngram_fraction(toks, 2).alias("dup_2gram_r"),
        TX.dup_ngram_fraction(toks, 3).alias("dup_3gram_r"),
        (top_cnt / F.size(toks).cast("long")).alias("top_word_share"),
    )


TEXT_REPETITION_SQL = f"""
WITH tok AS (SELECT doc_id, {_TOKS} AS t FROM documents),
base AS (
  SELECT doc_id, len(t) AS n_tokens,
         {TX.sql_dup_ngram_fraction('t', 2)} AS dup_2gram_r,
         {TX.sql_dup_ngram_fraction('t', 3)} AS dup_3gram_r
  FROM tok
),
top AS (
  SELECT doc_id, max(c) AS top_cnt FROM (
    SELECT doc_id, token, count(*) AS c
    FROM (SELECT doc_id, unnest(t) AS token FROM tok) u
    GROUP BY doc_id, token
  ) g GROUP BY doc_id
)
SELECT doc_id, n_tokens, dup_2gram_r, dup_3gram_r,
       top_cnt / n_tokens AS top_word_share
FROM base JOIN top USING (doc_id)
"""


# --- dedup --------------------------------------------------------------------


def dedup_exact_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.exact_dup_groups(read_table(spark, sf_dir, "documents"))


DEDUP_EXACT_SQL = f"""
SELECT {TX.sql_fingerprint('text')} AS fp,
       min(doc_id) AS canonical_id,
       count(*) AS n_docs
FROM documents
GROUP BY 1
"""


def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.minhash_lsh_pairs(
        read_table(spark, sf_dir, "documents"), k=8, band_size=2, threshold=0.2
    )


def _minhash_lsh_sql(
    k: int = 8,
    band_size: int = 2,
    threshold: float = 0.2,
    source: str = "documents",
) -> str:
    # ``source``: the relation to pair over — default the base table;
    # the curation-v4 capstone splices a kept-subset CTE in (byte-identical
    # output for every pre-existing caller)
    sig = TX.sql_minhash_signature("sh", k)
    sig_cols = ", ".join(f"{s} AS sig_{i}" for i, s in enumerate(sig))
    n_bands = k // band_size
    band_selects = []
    for b in range(n_bands):
        parts = " || '|' || ".join(
            f"sig_{b * band_size + j}" for j in range(band_size)
        )
        band_selects.append(
            f"SELECT doc_id, sh, md5('{b}' || '|' || {parts}) AS band_key FROM sigs"
        )
    bands = " UNION ALL ".join(band_selects)
    jac = TX.sql_jaccard("a.sh", "b.sh")
    return f"""
WITH docs AS (
  SELECT doc_id, {TX.sql_shingles(_TOKS)} AS sh FROM {source}
), nonempty AS (
  SELECT * FROM docs WHERE len(sh) > 0
), sigs AS (
  SELECT doc_id, sh, {sig_cols} FROM nonempty
), banded AS ({bands}),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b, a.sh AS sh_a, b.sh AS sh_b
  FROM banded a JOIN banded b
    ON a.band_key = b.band_key AND a.doc_id < b.doc_id
)
SELECT id_a, id_b, jac AS jaccard_r
FROM (SELECT id_a, id_b, {TX.sql_jaccard('sh_a', 'sh_b')} AS jac FROM cand) t
WHERE jac >= {threshold}
"""


def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked pairwise Jaccard with exact-length blocking — the cheap
    blocker (pair count stays near-linear). Near-dups across *different*
    lengths are the LSH query's job (``dedup_minhash_lsh``)."""
    return D.ngram_jaccard_pairs(
        read_table(spark, sf_dir, "documents"), block_col="n_chars", threshold=0.05
    )


NGRAM_JACCARD_SQL = f"""
WITH docs AS (
  SELECT doc_id, n_chars AS blk,
         {TX.sql_shingles(_TOKS)} AS sh
  FROM documents
), nonempty AS (SELECT * FROM docs WHERE len(sh) > 0)
SELECT id_a, id_b, jac AS jaccard_r
FROM (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         {TX.sql_jaccard('a.sh', 'b.sh')} AS jac
  FROM nonempty a JOIN nonempty b ON a.blk = b.blk AND a.doc_id < b.doc_id
) t
WHERE jac >= 0.05
"""


def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.simhash(read_table(spark, sf_dir, "documents"))


SIMHASH_SQL = f"""
WITH hashed AS (
  SELECT doc_id, list_transform({_TOKS}, t -> md5(t)) AS hs FROM documents
)
SELECT doc_id, {D.sql_simhash('hs')} AS simhash FROM hashed
"""


def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.embedding_near_dup_pairs(
        read_table(spark, sf_dir, "embeddings"), threshold=0.4
    )


EMB_NEAR_DUP_SQL = f"""
WITH base AS (
  SELECT vec_id, embedding AS v, sqrt({sql_dot('embedding', 'embedding')}) AS nrm
  FROM embeddings
)
SELECT id_a, id_b, cos AS cos_r
FROM (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         {sql_dot('a.v', 'b.v')} / (a.nrm * b.nrm) AS cos
  FROM base a JOIN base b ON a.vec_id < b.vec_id
) t
WHERE cos >= 0.4
"""


# --- similarity search --------------------------------------------------------


def sim_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return S.cosine_topk(read_table(spark, sf_dir, "embeddings"), query_max_id=10, k=5)


SIM_TOPK_SQL = f"""
WITH base AS (
  SELECT vec_id, embedding AS v, sqrt({sql_dot('embedding', 'embedding')}) AS nrm
  FROM embeddings
), q AS (SELECT * FROM base WHERE vec_id < 10),
s AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         {sql_dot('q.v', 'c.v')} / (q.nrm * c.nrm) AS cos
  FROM q JOIN base c ON q.vec_id != c.vec_id
), r AS (
  SELECT query_id, neighbor_id, cos,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cos DESC, neighbor_id) AS rn
  FROM s
)
SELECT query_id, neighbor_id, CAST(rn AS BIGINT) AS rnk, cos AS cos_r
FROM r WHERE rn <= 5
"""


def sim_srp_bucket_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH bucket histogram — the data layout the approximate path shuffles on."""
    emb = read_table(spark, sf_dir, "embeddings")
    return (
        S.with_srp_bucket(emb, n_bits=8, dim=64)
        .groupBy("bucket")
        .agg(F.count("*").alias("n_vecs"))
    )


SRP_BUCKET_SQL = f"""
SELECT {S.sql_srp_bucket('embedding', 8, 64)} AS bucket, count(*) AS n_vecs
FROM embeddings
GROUP BY 1
"""


def sim_srp_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return S.srp_topk(
        read_table(spark, sf_dir, "embeddings"), query_max_id=10, k=5, n_bits=8, dim=64
    )


SRP_TOPK_SQL = f"""
WITH bucketed AS (
  SELECT vec_id, embedding AS v,
         sqrt({sql_dot('embedding', 'embedding')}) AS nrm,
         {S.sql_srp_bucket('embedding', 8, 64)} AS bucket
  FROM embeddings
), q AS (SELECT * FROM bucketed WHERE vec_id < 10),
s AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         {sql_dot('q.v', 'c.v')} / (q.nrm * c.nrm) AS cos
  FROM q JOIN bucketed c ON q.vec_id != c.vec_id AND q.bucket = c.bucket
), r AS (
  SELECT query_id, neighbor_id, cos,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cos DESC, neighbor_id) AS rn
  FROM s
)
SELECT query_id, neighbor_id, CAST(rn AS BIGINT) AS rnk, cos AS cos_r
FROM r WHERE rn <= 5
"""


def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-batched media feature extraction (stub decoder) over payload
    binaries, digested to scalar columns the driver can hash.

    r02's row errored because the raw ``feature: array<double>`` column is
    unhashable for the driver's pandas canonicalizer. Each feature component
    is uint32/2^32 (exact in a double), so the vector round-trips losslessly
    to a 128-hex-char string (``v*2^32 → bigint → hex``) — and because the
    fake decoder's md5 chain hashes hex STRINGS (see
    :func:`operators.multimodal._fake_feature`), DuckDB can recompute the
    identical digest chain in SQL. What was a rows-only check is now a full
    hash-parity gate over the mapInPandas plumbing."""
    from duckdb_nats_jetstream_spark.operators.multimodal import (
        as_media,
        extract_features,
    )
    from duckdb_nats_jetstream_spark.sources import message_scan

    media = as_media(message_scan(spark, sf_dir), id_col="seq", bytes_col="payload")
    feats = extract_features(media, dim=16)
    return feats.select(
        "media_id",
        "kind",
        "n_bytes",
        F.array_join(
            F.transform(
                "feature",
                lambda v: F.lpad(
                    F.lower(F.hex((v * F.lit(float(2**32))).cast("bigint"))),
                    8,
                    "0",
                ),
            ),
            "",
        ).alias("feature_hex"),
    )


#: dim=16 → exactly 4 chained md5 digests (4 uint32s each). The oracle
#: recomputes the hex-string chain: d0 = md5(lowercase hex of the payload
#: bytes), d_{i+1} = md5(d_i), and concatenates the 4 hex digests — exactly
#: what the Spark side reconstructs from the double components.
MULTIMODAL_FEATURES_SQL = (
    _SCAN_CTE
    + """, b AS (
  SELECT seq AS media_id, coalesce(payload, '')::BLOB AS p FROM scan
), d AS (
  SELECT media_id, octet_length(p) AS n_bytes,
         md5(lower(hex(p))) AS d0 FROM b
)
SELECT media_id, 'image' AS kind, CAST(n_bytes AS BIGINT) AS n_bytes,
       d0 || md5(d0) || md5(md5(d0)) || md5(md5(md5(d0))) AS feature_hex
FROM d
"""
)


def multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real image decode→resize→encode over the cluster: deterministic PNGs
    are synthesized from message payload bytes (mapInPandas), then probed
    (header metadata) and resampled to 16×12 by the stdlib PNG codec
    (``functions.imagecodec`` — actual pixel work, no media libraries).
    Non-SQL-expressible; rows-only check. Returns per-image output metadata
    plus a content digest so value drift in any stage is visible."""
    from duckdb_nats_jetstream_spark.operators.multimodal import (
        probe_media,
        resize_images,
    )
    from duckdb_nats_jetstream_spark.sources import message_scan

    src = message_scan(spark, sf_dir, start_seq=1, end_seq=500).select("seq", "payload")

    def make_pngs(it):
        import numpy as np
        import pandas as pd

        from duckdb_nats_jetstream_spark.functions.imagecodec import png_encode

        for pdf in it:
            ids, pngs = [], []
            for seq, payload in zip(pdf["seq"], pdf["payload"]):
                b = np.frombuffer((payload or b"\x00") * 40, dtype=np.uint8)
                side = 20 + int(seq) % 13
                arr = np.resize(b, (side, side, 3))
                ids.append(seq)
                pngs.append(png_encode(arr))
            yield pd.DataFrame({"media_id": ids, "kind": "image", "data": pngs,
                                "meta": [None] * len(ids)})

    from duckdb_nats_jetstream_spark.operators.multimodal import MEDIA_SCHEMA
    from duckdb_nats_jetstream_spark.tables import spread

    media = spread(src).mapInPandas(make_pngs, MEDIA_SCHEMA)
    resized = resize_images(probe_media(media), 16, 12)
    return resized.select(
        "media_id",
        F.col("meta.format").alias("fmt"),
        F.col("meta.width").alias("w"),
        F.col("meta.height").alias("h"),
        F.col("meta.n_bytes").alias("n_bytes"),
        F.md5(F.col("data")).alias("content_md5"),
    )


def dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup clusters: the Jaccard pair list closed under transitivity —
    each involved doc mapped to its component's canonical (min) id via
    hash-min label propagation (:mod:`operators.components`). The oracle
    computes the same fixpoint with a recursive CTE."""
    from duckdb_nats_jetstream_spark.operators.components import (
        connected_components,
    )

    pairs = D.minhash_lsh_pairs(
        read_table(spark, sf_dir, "documents"), k=8, band_size=2, threshold=0.2
    )
    return connected_components(pairs, "id_a", "id_b", edges_unique=True).orderBy(
        "doc_id"
    )


def _dedup_components_sql(source: str = "documents") -> str:
    # edges = the exact minhash pair query; closure via recursive CTE.
    # ``source`` threads through to the pair query (curation-v4 splice).
    return f"""
WITH RECURSIVE pairs AS (
  SELECT id_a, id_b FROM ({_minhash_lsh_sql(source=source)}) mp
),
edges AS (
  SELECT id_a AS a, id_b AS b FROM pairs
  UNION
  SELECT id_b, id_a FROM pairs
),
reach(node, root) AS (
  SELECT a, a FROM edges
  UNION
  SELECT e.b, r.root FROM reach r JOIN edges e ON e.a = r.node
)
SELECT node AS doc_id, min(root) AS component
FROM reach GROUP BY node ORDER BY doc_id
"""


def text_token_frequency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide token stats (the DF half of tf-idf): term count + document
    frequency, top 50 with deterministic tie-break."""
    docs = read_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.explode(TX.tokens(F.col("text"))).alias("token")
    )
    return (
        tok.groupBy("token")
        .agg(
            F.count("*").alias("term_count"),
            F.countDistinct("doc_id").alias("doc_freq"),
        )
        .orderBy(F.col("term_count").desc(), F.col("token"))
        .limit(50)
    )


TOKEN_FREQUENCY_SQL = f"""
SELECT token, count(*) AS term_count, count(DISTINCT doc_id) AS doc_freq
FROM (SELECT doc_id, unnest({_TOKS}) AS token FROM documents) t
GROUP BY token
ORDER BY term_count DESC, token
LIMIT 50
"""


def text_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Most-distinctive terms per source by tf-idf — the other half of
    tf-idf on top of :func:`text_token_frequency`'s document frequencies.

    Cross-engine exactness: the score is ``term_count * N / doc_freq``
    (raw inverse document frequency, no log) — two exact integers and ONE
    correctly-rounded double division, bit-identical in Spark and DuckDB.
    A log-weighted idf or a SUM of per-doc double scores would not be
    (libm variation / fold order — see functions/exact.py)."""
    docs = read_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", "source", F.explode(TX.tokens(F.col("text"))).alias("token")
    )
    n_docs = docs.agg(F.count("*").alias("n_docs"))
    term = tok.groupBy("source", "token").agg(F.count("*").alias("term_count"))
    dfreq = tok.groupBy("token").agg(F.countDistinct("doc_id").alias("doc_freq"))
    w = W.partitionBy("source").orderBy(F.col("tfidf").desc(), F.col("token"))
    return (
        term.join(dfreq, "token")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "tfidf",
            (F.col("term_count") * F.col("n_docs")).cast("double") / F.col("doc_freq"),
        )
        .withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= 5)
        .select("source", "token", "term_count", "doc_freq", "tfidf", "rnk")
        .orderBy("source", "rnk")
    )


TFIDF_SQL = f"""
WITH tok AS (
  SELECT doc_id, source, unnest({_TOKS}) AS token FROM documents
),
term AS (
  SELECT source, token, count(*) AS term_count FROM tok GROUP BY source, token
),
dfreq AS (
  SELECT token, count(DISTINCT doc_id) AS doc_freq FROM tok GROUP BY token
),
scored AS (
  SELECT source, token, term_count, doc_freq,
         CAST(term_count * (SELECT count(*) FROM documents) AS DOUBLE) / doc_freq
           AS tfidf
  FROM term JOIN dfreq USING (token)
),
ranked AS (
  SELECT *, CAST(row_number() OVER (
      PARTITION BY source ORDER BY tfidf DESC, token) AS BIGINT) AS rnk
  FROM scored
)
SELECT source, token, term_count, doc_freq, tfidf, rnk
FROM ranked WHERE rnk <= 5 ORDER BY source, rnk
"""


def decon_ngram_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: every 50th document plays the eval set;
    each remaining training doc is scored by the fraction of its distinct
    3-grams that collide with the benchmark gram set (broadcast semi-join
    probe — see :mod:`operators.decon` for the scale analysis)."""
    from duckdb_nats_jetstream_spark.operators.decon import ngram_contamination

    docs = read_table(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 50 == 0)
    train = docs.filter(F.col("doc_id") % 50 != 0)
    return ngram_contamination(train, bench, n=3)


DECON_SQL = f"""
WITH tok AS (SELECT doc_id, {_TOKS} AS t FROM documents),
g AS (
  SELECT doc_id, list_distinct({TX.sql_shingles('t')}) AS grams FROM tok
),
bench AS (
  SELECT DISTINCT unnest(grams) AS gram FROM g WHERE doc_id % 50 = 0
),
train AS (
  SELECT doc_id, grams FROM g WHERE doc_id % 50 <> 0 AND len(grams) > 0
),
m AS (
  SELECT doc_id, count(*) AS n_matched
  FROM (SELECT doc_id, unnest(grams) AS gram FROM train) tg
  WHERE gram IN (SELECT gram FROM bench)
  GROUP BY doc_id
)
SELECT t.doc_id, len(t.grams) AS n_grams,
       coalesce(m.n_matched, 0) AS n_matched,
       coalesce(m.n_matched, 0) / len(t.grams) AS contam_r
FROM train t LEFT JOIN m USING (doc_id)
"""


def docs_hash_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash-based sampling (reproducible data selection — no
    engine RNG): keep docs whose salted md5 starts with 0 or 1 (≈12.5%)."""
    docs = read_table(spark, sf_dir, "documents")
    bucket = F.substring(F.md5(F.concat(F.lit("sample:"), F.col("doc_id").cast("string"))), 1, 1)
    return (
        docs.withColumn("b", bucket)
        .filter(F.col("b").isin("0", "1"))
        .groupBy("source")
        .agg(F.count("*").alias("n_sampled"), F.min("doc_id").alias("min_doc_id"))
        .orderBy("source")
    )


HASH_SAMPLE_SQL = """
SELECT source, count(*) AS n_sampled, min(doc_id) AS min_doc_id
FROM documents
WHERE substr(md5('sample:' || CAST(doc_id AS VARCHAR)), 1, 1) IN ('0', '1')
GROUP BY source ORDER BY source
"""


def docs_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 10-per-language deterministic sample (domain-mixing quotas):
    smallest salted hashes win. The operator prefilters large strata by
    hash prefix before the rank window so no single-language task ever
    sees a whole stratum (see :mod:`operators.sampling`)."""
    from duckdb_nats_jetstream_spark.operators.sampling import stratified_hash_topn

    docs = read_table(spark, sf_dir, "documents")
    return stratified_hash_topn(docs, "lang", 10, id_col="doc_id").select(
        "lang", "doc_id", F.col("smp_rank").alias("rk")
    )


def docs_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language winsorization of document length (outlier-robust
    normalization before length-based quality filtering). The operator's
    quantile bounds use the same (n-1)p interpolation as DuckDB's
    ``quantile_cont`` and the clip is comparison-only, so every output
    value is an exact pass-through of the input or the bound — hash-exact
    cross-engine (see :mod:`operators.winsorize`)."""
    from duckdb_nats_jetstream_spark.operators.winsorize import winsorize

    docs = read_table(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    return winsorize(docs, "n_chars", ["lang"], 0.05, 0.95, out_col="w").select(
        "doc_id", "lang", "w", F.col("_clipped").alias("clipped")
    )


WINSORIZE_SQL = """
WITH bounds AS (
    SELECT lang,
           quantile_cont(CAST(n_chars AS DOUBLE), 0.05) AS lo,
           quantile_cont(CAST(n_chars AS DOUBLE), 0.95) AS hi
    FROM documents GROUP BY lang
)
SELECT doc_id, d.lang,
       least(greatest(CAST(n_chars AS DOUBLE), lo), hi) AS w,
       CAST(CAST(n_chars AS DOUBLE) < lo OR CAST(n_chars AS DOUBLE) > hi AS INT) AS clipped
FROM documents d JOIN bounds USING (lang)
"""


STRATIFIED_SAMPLE_SQL = """
SELECT lang, doc_id, rk FROM (
  SELECT lang, doc_id,
         CAST(row_number() OVER (
             PARTITION BY lang
             ORDER BY md5('strat:' || CAST(doc_id AS VARCHAR)), doc_id
         ) AS BIGINT) AS rk
  FROM documents
) t WHERE rk <= 10
"""


def docs_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget sequence packing (chunk-parallel greedy,
    :mod:`operators.packing`): documents ordered by id are greedily packed
    into 256-token training sequences within 100-doc chunks. The oracle
    replays the identical greedy recurrence with a recursive CTE that
    steps every chunk simultaneously."""
    from duckdb_nats_jetstream_spark.operators.packing import pack_sequences

    docs = read_table(spark, sf_dir, "documents")
    sized = docs.select("doc_id", TX.token_count(F.col("text")).alias("n_tokens"))
    return pack_sequences(sized, budget=256, chunk_size=100)


PACK_SEQUENCES_SQL = f"""
WITH RECURSIVE tok AS (
  SELECT doc_id, {TX.sql_token_count('text')} AS n_tokens FROM documents
),
o AS (
  SELECT doc_id, n_tokens, CAST(doc_id // 100 AS BIGINT) AS chunk,
         CAST(row_number() OVER (
             PARTITION BY doc_id // 100 ORDER BY doc_id) AS BIGINT) AS idx
  FROM tok
),
pack(chunk, idx, doc_id, n_tokens, bin, fill) AS (
  -- coalesce: the operator packs a NULL token count ZERO-WIDTH (commit
  -- a4908ec); without the same totality here one NULL n_tokens makes the
  -- seed fill NULL, every later comparison NULL, and the whole chunk
  -- freezes in bin 0 — a silent oracle divergence on any NULL text
  SELECT chunk, idx, doc_id, n_tokens, CAST(0 AS BIGINT),
         coalesce(n_tokens, 0)
  FROM o WHERE idx = 1
  UNION ALL
  SELECT o.chunk, o.idx, o.doc_id, o.n_tokens,
         CASE WHEN p.fill + coalesce(o.n_tokens, 0) > 256
              THEN p.bin + 1 ELSE p.bin END,
         CASE WHEN p.fill + coalesce(o.n_tokens, 0) > 256
              THEN coalesce(o.n_tokens, 0)
              ELSE p.fill + coalesce(o.n_tokens, 0) END
  FROM pack p JOIN o ON o.chunk = p.chunk AND o.idx = p.idx + 1
)
SELECT doc_id, n_tokens, chunk * 100 + bin AS seq_id FROM pack
"""


def text_udtf_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UDTF registration surface (:mod:`functions.udx`): a Python UDTF in a
    SQL LATERAL join explodes documents into tokens; per-language token
    totals must match the built-in split/unnest oracle."""
    from duckdb_nats_jetstream_spark.functions.udx import register_udx

    register_udx(spark)
    read_table(spark, sf_dir, "documents").createOrReplaceTempView("docs_udtf_src")
    return spark.sql(
        """
        SELECT lang, count(*) AS n_tokens, count(DISTINCT token) AS n_distinct
        FROM docs_udtf_src, LATERAL udx_split_tokens(text)
        GROUP BY lang
        """
    )


UDTF_TOKENS_SQL = f"""
SELECT lang, count(*) AS n_tokens, count(DISTINCT token) AS n_distinct
FROM (SELECT lang, unnest({_TOKS}) AS token FROM documents) t
GROUP BY lang
"""


def sim_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF (KMeans inverted-file) approximate top-k. KMeans has no SQL —
    but the training is deterministic (bounded ORDER BY id sample, seeded
    init), so the oracle re-trains the identical codebook offline and
    embeds it as literals (:func:`operators.similarity.sql_ivf_topk`);
    distances are fold-exact both sides. r02's "no_oracle" slot burn is
    now a full hash-parity row."""
    return S.ivf_topk(
        read_table(spark, sf_dir, "embeddings"), query_max_id=10, k=5,
        n_clusters=16, n_probe=4,
    )


def _ivf_sql() -> str | None:
    """Generate the embedded-codebook oracle for the scale factor the
    oracle will RUN against (``SPARK_GRAFT_ORACLE_SF_DIR``; bench.py points
    it at its own sf_dir before reading any oracle, so the mirror's
    codebook always matches the data it queries). Registered as a LAZY
    callable — ``queries._resolve_oracle`` runs it when the entry's oracle
    is first read (not at import or registry build), caches per SF dir,
    and degrades this entry alone to rows-only with a logged warning if
    the parquet is unreadable."""
    import os

    return S.sql_ivf_topk(
        os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01"),
        query_max_id=10, k=5, n_clusters=16, n_probe=4,
    )


def corpus_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The capstone data-cleaning pipeline (C4-style): length bounds +
    repetition/stopword-ratio filters + exact dedup (keep min doc_id per
    content fingerprint), composed from the text operators. One pass +
    one fingerprint window — the shape you'd run on 100 TB of raw crawl."""
    from pyspark.sql import Window as W

    # tokenize+ratio stage is the hot per-row work — spread a few-file input
    docs = spread(read_table(spark, sf_dir, "documents"))
    toks = TX.tokens(F.col("text"))
    stop = sorted({w for ws in TX.LANG_STOPWORDS.values() for w in ws})
    n = F.size(toks).cast("long")
    enriched = docs.select(
        "doc_id",
        "source",
        TX.fingerprint(F.col("text")).alias("fp"),
        n.alias("n_tokens"),
        (F.size(F.array_distinct(toks)).cast("long") / n).alias("distinct_ratio"),
        (F.size(F.filter(toks, lambda t: t.isin(*stop))).cast("long") / n).alias(
            "stopword_ratio"
        ),
    )
    kept = enriched.filter(
        (F.col("n_tokens") >= 20)
        & (F.col("n_tokens") <= 1000)
        & (F.col("distinct_ratio") > 0.05)
        & (F.col("stopword_ratio") < 0.6)
    )
    w = W.partitionBy("fp").orderBy("doc_id")
    return (
        kept.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", "source", "n_tokens", "distinct_ratio", "stopword_ratio")
    )


def _corpus_clean_sql() -> str:
    stop = sorted({w for ws in TX.LANG_STOPWORDS.values() for w in ws})
    lst = ", ".join(f"'{w}'" for w in stop)
    return f"""
WITH enriched AS (
  SELECT doc_id, source, {TX.sql_fingerprint('text')} AS fp,
         len({_TOKS}) AS n_tokens,
         len(list_distinct({_TOKS})) / len({_TOKS}) AS distinct_ratio,
         len(list_filter({_TOKS}, t -> t IN ({lst}))) / len({_TOKS}) AS stopword_ratio
  FROM documents
), kept AS (
  SELECT * FROM enriched
  WHERE n_tokens >= 20 AND n_tokens <= 1000
    AND distinct_ratio > CAST(0.05 AS DOUBLE)
    AND stopword_ratio < CAST(0.6 AS DOUBLE)
)
SELECT doc_id, source, n_tokens, distinct_ratio, stopword_ratio
FROM (SELECT *, row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rn FROM kept) t
WHERE rn = 1
"""


QUERIES = {
    "corpus_clean": (corpus_clean, _corpus_clean_sql()),
    "sim_ivf_topk": (sim_ivf_topk, _ivf_sql),
    "text_stats": (text_stats, TEXT_STATS_SQL),
    "text_token_frequency": (text_token_frequency, TOKEN_FREQUENCY_SQL),
    "text_tfidf_topk": (text_tfidf_top_terms, TFIDF_SQL),
    "docs_hash_sample": (docs_hash_sample, HASH_SAMPLE_SQL),
    "decon_ngram_overlap": (decon_ngram_overlap, DECON_SQL),
    "docs_stratified_sample": (docs_stratified_sample, STRATIFIED_SAMPLE_SQL),
    "docs_winsorize": (docs_winsorize, WINSORIZE_SQL),
    "docs_pack_sequences": (docs_pack_sequences, PACK_SEQUENCES_SQL),
    "text_udtf_tokens": (text_udtf_tokens, UDTF_TOKENS_SQL),
    "multimodal_features": (multimodal_features, MULTIMODAL_FEATURES_SQL),
    "multimodal_resize": (multimodal_resize, None),
    "text_lang_confusion": (text_lang_confusion, TEXT_LANG_SQL),
    "text_quality": (text_quality, TEXT_QUALITY_SQL),
    "text_repetition": (text_repetition, TEXT_REPETITION_SQL),
    "dedup_exact_groups": (dedup_exact_groups, DEDUP_EXACT_SQL),
    "dedup_minhash_lsh": (dedup_minhash_lsh, _minhash_lsh_sql()),
    "dedup_ngram_jaccard": (dedup_ngram_jaccard, NGRAM_JACCARD_SQL),
    "dedup_components": (dedup_components, _dedup_components_sql()),
    "dedup_simhash": (dedup_simhash, SIMHASH_SQL),
    "dedup_embedding_cosine": (dedup_embedding_cosine, EMB_NEAR_DUP_SQL),
    "sim_cosine_topk": (sim_cosine_topk, SIM_TOPK_SQL),
    "sim_srp_bucket_stats": (sim_srp_bucket_stats, SRP_BUCKET_SQL),
    "sim_srp_topk": (sim_srp_topk, SRP_TOPK_SQL),
}
