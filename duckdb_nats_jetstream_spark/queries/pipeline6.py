"""Training-data pipeline queries, batch 6 (round 10): retrieval.

- ``text_bm25_topk`` — BM25 relevance ranking of the document corpus
  against a fixed query term set (one rare discriminative term, two
  common ones). Map-only scoring + a single-row broadcast stats join +
  TakeOrderedAndProject top-k — see :mod:`operators.retrieval` for the
  scale analysis and the rational-idf cross-engine exactness note.
- ``sim_hybrid_rrf`` — hybrid retrieval: reciprocal-rank fusion (Cormack
  et al., SIGIR 2009) of the BM25 lexical candidate list with the exact
  cosine vector candidate list around document 0 (``documents.doc_id``
  and ``embeddings.vec_id`` are aligned in the fixtures). The fusion
  join runs over two bounded top-100 lists, so the corpus-sized work
  stays inside the two candidate generators.

The reference engine has no retrieval surface (its relational host would
run the same shapes through SQL); these extend the LLM-pipeline operator
family in SURVEY §2's north-star block.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from duckdb_nats_jetstream_spark.functions.vector import sql_dot
from duckdb_nats_jetstream_spark.operators import retrieval as R
from duckdb_nats_jetstream_spark.operators import similarity as S
from duckdb_nats_jetstream_spark.tables import cached, read_table

#: One rare, discriminative term ('dup' marks the planted duplicate docs in
#: the fixtures — high idf) plus two common terms; exercises both ends of
#: the idf range without leaving the fixture vocabulary.
_QUERY_TERMS = ["dup", "vector", "join"]


def text_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 documents by BM25 against the fixed query term set."""
    docs = read_table(spark, sf_dir, "documents")
    return R.bm25_topk(docs, _QUERY_TERMS, topk=10)


BM25_TOPK_SQL = R.sql_bm25_topk(_QUERY_TERMS, topk=10)


def sim_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid lexical+vector retrieval around document 0: RRF-fuse the
    BM25 top-100 (document 0 itself excluded — it is the query) with the
    exact cosine top-100 neighbors of vector 0, keep the fused top-10.
    The BM25 leg defers its cache to the fusion, so both candidate
    generators execute inside one eager checkpoint (r14, guide §2.6)."""
    docs = read_table(spark, sf_dir, "documents").filter(F.col("doc_id") != 0)
    emb = read_table(spark, sf_dir, "embeddings")
    caches: list[DataFrame] = []
    lex = R.bm25_topk(docs, _QUERY_TERMS, topk=100, defer=caches)
    vec = S.cosine_topk(emb, query_max_id=1, k=100)
    fused = R.rrf_fuse(lex, vec, id_b="neighbor_id", rnk_b="rnk", topk=10)
    with cached(*caches):
        return fused.localCheckpoint(eager=True)


_RRF = R.DEFAULT_RRF_K

HYBRID_RRF_SQL = f"""
WITH lex AS ({R.sql_bm25_topk(_QUERY_TERMS, topk=100, where="doc_id != 0")}),
vbase AS (
  SELECT vec_id, embedding AS v, sqrt({sql_dot('embedding', 'embedding')}) AS nrm
  FROM embeddings
),
vq AS (SELECT * FROM vbase WHERE vec_id < 1),
vs AS (
  SELECT c.vec_id AS neighbor_id,
         {sql_dot('vq.v', 'c.v')} / (vq.nrm * c.nrm) AS cos
  FROM vq JOIN vbase c ON vq.vec_id != c.vec_id
),
vr AS (
  SELECT neighbor_id,
         CAST(row_number() OVER (ORDER BY cos DESC, neighbor_id) AS BIGINT)
           AS vec_rnk
  FROM vs
),
vec AS (SELECT * FROM vr WHERE vec_rnk <= 100),
fused AS (
  SELECT coalesce(lex.doc_id, vec.neighbor_id) AS doc_id,
         lex.rnk AS lex_rnk, vec.vec_rnk,
         coalesce(CAST(1 AS DOUBLE) / ({_RRF} + lex.rnk), CAST(0 AS DOUBLE))
           + coalesce(CAST(1 AS DOUBLE) / ({_RRF} + vec.vec_rnk),
                      CAST(0 AS DOUBLE)) AS rrf_r
  FROM lex FULL OUTER JOIN vec ON lex.doc_id = vec.neighbor_id
)
SELECT doc_id, lex_rnk, vec_rnk, rrf_r
FROM fused ORDER BY rrf_r DESC, doc_id LIMIT 10
"""


#: Phrase (bigram) query set spanning the idf range like _QUERY_TERMS does:
#: 'dup dup' occurs in exactly ONE document at sf0.01 (the duplicate-marker
#: run), 'hash join' / 'vector join' are common collocations.
_QUERY_PHRASES = ["dup dup", "hash join", "vector join"]


def sim_hybrid_rrf3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three-signal hybrid retrieval: RRF-fuse the BM25 unigram top-100,
    the exact cosine top-100 of vector 0, and the PHRASE-BM25 top-100
    (exact consecutive-bigram matches — the positional signal unigram
    BM25 cannot see), keep the fused top-10. Exercises
    :func:`operators.retrieval.rrf_fuse_many`'s n-ary generalization;
    each candidate generator stays map-only + one-row broadcast stats +
    TakeOrderedAndProject, and the fusion joins three bounded 100-row
    lists."""
    docs = read_table(spark, sf_dir, "documents").filter(F.col("doc_id") != 0)
    emb = read_table(spark, sf_dir, "embeddings")
    caches: list[DataFrame] = []
    lex = R.bm25_topk(docs, _QUERY_TERMS, topk=100, defer=caches)
    vec = S.cosine_topk(emb, query_max_id=1, k=100)
    phr = R.bm25_phrase_topk(docs, _QUERY_PHRASES, topk=100, defer=caches)
    fused = R.rrf_fuse_many(
        [
            (lex, "doc_id", "rnk", "lex_rnk"),
            (vec, "neighbor_id", "rnk", "vec_rnk"),
            (phr, "doc_id", "rnk", "phr_rnk"),
        ],
        topk=10,
    )
    with cached(*caches):
        return fused.localCheckpoint(eager=True)


HYBRID_RRF3_SQL = f"""
WITH lex AS ({R.sql_bm25_topk(_QUERY_TERMS, topk=100, where="doc_id != 0")}),
phr AS ({R.sql_bm25_phrase_topk(_QUERY_PHRASES, topk=100, where="doc_id != 0")}),
vbase AS (
  SELECT vec_id, embedding AS v, sqrt({sql_dot('embedding', 'embedding')}) AS nrm
  FROM embeddings
),
vq AS (SELECT * FROM vbase WHERE vec_id < 1),
vs AS (
  SELECT c.vec_id AS neighbor_id,
         {sql_dot('vq.v', 'c.v')} / (vq.nrm * c.nrm) AS cos
  FROM vq JOIN vbase c ON vq.vec_id != c.vec_id
),
vr AS (
  SELECT neighbor_id,
         CAST(row_number() OVER (ORDER BY cos DESC, neighbor_id) AS BIGINT)
           AS vec_rnk
  FROM vs
),
vec AS (SELECT * FROM vr WHERE vec_rnk <= 100),
fused2 AS (
  SELECT coalesce(lex.doc_id, vec.neighbor_id) AS cid,
         lex.rnk AS lex_rnk, vec.vec_rnk
  FROM lex FULL OUTER JOIN vec ON lex.doc_id = vec.neighbor_id
),
fused AS (
  SELECT coalesce(fused2.cid, phr.doc_id) AS doc_id,
         fused2.lex_rnk, fused2.vec_rnk, phr.rnk AS phr_rnk,
         coalesce(CAST(1 AS DOUBLE) / ({_RRF} + fused2.lex_rnk),
                  CAST(0 AS DOUBLE))
           + coalesce(CAST(1 AS DOUBLE) / ({_RRF} + fused2.vec_rnk),
                      CAST(0 AS DOUBLE))
           + coalesce(CAST(1 AS DOUBLE) / ({_RRF} + phr.rnk),
                      CAST(0 AS DOUBLE)) AS rrf_r
  FROM fused2 FULL OUTER JOIN phr ON fused2.cid = phr.doc_id
)
SELECT doc_id, lex_rnk, vec_rnk, phr_rnk, rrf_r
FROM fused ORDER BY rrf_r DESC, doc_id LIMIT 10
"""


def sim_hybrid_rrf_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval with an ANN candidate generator: RRF-fuse the BM25
    unigram top-100 with the IVF top-100 neighbors of vector 0 (16
    clusters, 4 probes), keep the fused top-10. This is the corpus-scale
    variant of ``sim_hybrid_rrf`` — at 100 TB the exact ``cosine_topk``
    generator scans every vector per query, while IVF touches the corpus
    with ONE assignment map and then only the probed fraction
    (n_probe/n_clusters) of the candidate join (see
    :func:`operators.similarity.ivf_topk`); the fusion itself is the same
    bounded-lists full-outer chain either way. Closes the gap between the
    PIPELINE_GUIDE retrieval recipe (which prescribes IVF candidates at
    corpus scale) and what the registry verifies end-to-end (r11 verdict
    ask #6). Oracle: the IVF leg embeds the deterministically re-trained
    codebook as literals (the ``sim_ivf_topk`` trick), so the whole fusion
    stays hash-parity checkable."""
    docs = read_table(spark, sf_dir, "documents").filter(F.col("doc_id") != 0)
    emb = read_table(spark, sf_dir, "embeddings")
    caches: list[DataFrame] = []
    lex = R.bm25_topk(docs, _QUERY_TERMS, topk=100, defer=caches)
    ann = S.ivf_topk(emb, query_max_id=1, k=100, n_clusters=16, n_probe=4)
    fused = R.rrf_fuse_many(
        [
            (lex, "doc_id", "rnk", "lex_rnk"),
            (ann, "neighbor_id", "rnk", "ann_rnk"),
        ],
        topk=10,
    )
    with cached(*caches):
        return fused.localCheckpoint(eager=True)


def _hybrid_rrf_ann_sql() -> str:
    """Lazy oracle (the ``_ivf_sql`` pattern): the IVF leg's embedded
    codebook must be trained on the SF the oracle runs against, so this
    builds when the entry's oracle is first read, against
    ``SPARK_GRAFT_ORACLE_SF_DIR``.
    Fusion term order matches ``rrf_fuse_many``'s left-to-right sum
    (lex, then ann) so every IEEE rounding step agrees."""
    import os

    ivf = S.sql_ivf_topk(
        os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01"),
        query_max_id=1, k=100, n_clusters=16, n_probe=4,
    )
    return f"""
WITH lex AS ({R.sql_bm25_topk(_QUERY_TERMS, topk=100, where="doc_id != 0")}),
ann AS (SELECT neighbor_id, rnk AS ann_rnk FROM ({ivf})),
fused AS (
  SELECT coalesce(lex.doc_id, ann.neighbor_id) AS doc_id,
         lex.rnk AS lex_rnk, ann.ann_rnk,
         coalesce(CAST(1 AS DOUBLE) / ({_RRF} + lex.rnk), CAST(0 AS DOUBLE))
           + coalesce(CAST(1 AS DOUBLE) / ({_RRF} + ann.ann_rnk),
                      CAST(0 AS DOUBLE)) AS rrf_r
  FROM lex FULL OUTER JOIN ann ON lex.doc_id = ann.neighbor_id
)
SELECT doc_id, lex_rnk, ann_rnk, rrf_r
FROM fused ORDER BY rrf_r DESC, doc_id LIMIT 10
"""


def sim_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining (contrastive-training data op): for each of
    the first 10 query vectors, the top-5 most-similar vectors with a
    KNOWN-DIFFERENT label (NULL labels excluded on both sides — an
    unlabeled candidate might be a positive; see the operator docstring).
    The anti-predicate lives inside the broadcast join."""
    emb = read_table(spark, sf_dir, "embeddings")
    return S.hard_negative_topk(emb, query_max_id=10, k=5)


HARD_NEGATIVES_SQL = f"""
WITH base AS (
  SELECT vec_id, label, embedding AS v,
         sqrt({sql_dot('embedding', 'embedding')}) AS nrm
  FROM embeddings
), q AS (SELECT * FROM base WHERE vec_id < 10),
s AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         {sql_dot('q.v', 'c.v')} / (q.nrm * c.nrm) AS cos
  FROM q JOIN base c
    ON q.vec_id != c.vec_id
   AND q.label IS NOT NULL AND c.label IS NOT NULL AND q.label != c.label
), r AS (
  SELECT query_id, neighbor_id, cos,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cos DESC, neighbor_id) AS rn
  FROM s
)
SELECT query_id, neighbor_id, CAST(rn AS BIGINT) AS rnk, cos AS cos_r
FROM r WHERE rn <= 5
"""


def sim_contrastive_triplets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive triplet generation: for each of the first 10 anchor
    vectors, the best same-label positive joined with the top-5
    different-label hard negatives — the rows a triplet/InfoNCE loss
    consumes directly. One corpus scan serves both candidate classes
    (see :func:`operators.similarity.contrastive_triplets`)."""
    emb = read_table(spark, sf_dir, "embeddings")
    return S.contrastive_triplets(emb, query_max_id=10, k=5)


CONTRASTIVE_TRIPLETS_SQL = f"""
WITH base AS (
  SELECT vec_id, label, embedding AS v,
         sqrt({sql_dot('embedding', 'embedding')}) AS nrm
  FROM embeddings
), q AS (SELECT * FROM base WHERE vec_id < 10),
s AS (
  SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
         (q.label = c.label) AS is_pos,
         {sql_dot('q.v', 'c.v')} / (q.nrm * c.nrm) AS cos
  FROM q JOIN base c
    ON q.vec_id != c.vec_id
   AND q.label IS NOT NULL AND c.label IS NOT NULL
), r AS (
  SELECT query_id, cand_id, is_pos, cos,
         row_number() OVER (PARTITION BY query_id, is_pos
                            ORDER BY cos DESC, cand_id) AS rn
  FROM s
), pos AS (
  SELECT query_id, cand_id AS pos_id, cos AS pos_cos
  FROM r WHERE is_pos AND rn = 1
), neg AS (
  SELECT query_id, cand_id AS neg_id, CAST(rn AS BIGINT) AS rnk,
         cos AS neg_cos
  FROM r WHERE NOT is_pos AND rn <= 5
)
SELECT p.query_id, p.pos_id, p.pos_cos, n.neg_id, n.rnk, n.neg_cos
FROM pos p JOIN neg n ON p.query_id = n.query_id
"""


def text_bm25_rm3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 with RM3 pseudo-relevance feedback: mine 3 expansion terms
    from the top-10 feedback documents (feedback-df vote, deterministic),
    re-score with originals + expansion. The expansion pull is 3 rows
    (lint-pinned bounded collect); both scoring passes are the map-only
    zero-shuffle BM25 plan. Oracle: re-derives the identical expansion
    offline and embeds it (the codebook pattern)."""
    docs = read_table(spark, sf_dir, "documents")
    return R.bm25_rm3_topk(docs, _QUERY_TERMS, fb_docs=10, fb_terms=3, topk=10)


def _bm25_rm3_sql() -> str:
    """Lazy oracle: expansion terms depend on the SF the oracle runs
    against (``SPARK_GRAFT_ORACLE_SF_DIR``), like the IVF codebook."""
    import os

    return R.sql_bm25_rm3_topk(
        os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01"),
        _QUERY_TERMS, fb_docs=10, fb_terms=3, topk=10,
    )


def docs_quota_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quota-capped quality selection: the global top-50 documents by
    length (a stand-in quality score with deterministic ties) with no
    single language contributing more than 20 — the curation shape that
    stops one domain from monopolizing a ranked training slice (see
    :func:`operators.sampling.quota_topk`)."""
    from duckdb_nats_jetstream_spark.operators.sampling import quota_topk

    docs = read_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "n_chars"
    )
    return quota_topk(docs, "lang", "n_chars", per_group=20, topk=50)


QUOTA_TOPK_SQL = """
WITH ranked AS (
  SELECT doc_id, lang, n_chars,
         CAST(row_number() OVER (PARTITION BY lang
                                 ORDER BY n_chars DESC NULLS LAST, doc_id)
              AS BIGINT) AS grp_rank
  FROM documents
)
SELECT doc_id, lang, n_chars, grp_rank
FROM ranked WHERE grp_rank <= 20
ORDER BY n_chars DESC NULLS LAST, doc_id LIMIT 50
"""


def docs_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget-constrained selection: keep documents in quality order
    (length stand-in, doc_id tie-break) while the inclusive running token
    total stays ≤ 20,000 — the fill-the-training-budget step, executed as
    a range-chunked distributed prefix sum (no single-partition window;
    see :func:`operators.sampling.select_token_budget`)."""
    from duckdb_nats_jetstream_spark.functions.text import token_count
    from duckdb_nats_jetstream_spark.operators.sampling import (
        select_token_budget,
    )

    docs = read_table(spark, sf_dir, "documents").select(
        "doc_id",
        "n_chars",
        token_count(F.col("text")).alias("n_tokens"),
    )
    return select_token_budget(
        docs, score_col="n_chars", token_col="n_tokens", budget=20_000
    )


def _token_budget_sql() -> str:
    from duckdb_nats_jetstream_spark.functions.text import sql_token_count

    return f"""
WITH t AS (
  SELECT doc_id, n_chars,
         CAST({sql_token_count('text')} AS BIGINT) AS n_tokens
  FROM documents
), c AS (
  SELECT doc_id, n_chars, n_tokens,
         CAST(SUM(n_tokens) OVER (ORDER BY n_chars DESC NULLS LAST, doc_id
                                  ROWS BETWEEN UNBOUNDED PRECEDING
                                           AND CURRENT ROW)
              AS BIGINT) AS cum_tokens
  FROM t
)
SELECT doc_id, n_chars, n_tokens, cum_tokens
FROM c WHERE cum_tokens <= 20000
"""


TOKEN_BUDGET_SQL = _token_budget_sql()


#: per-language token allocations for the mixture-budget query: english
#: dominant, the rest capped tighter, one deliberately unlisted language
#: ('zh') exercising the default-budget arm
_LANG_BUDGETS = {"en": 8000, "de": 2000, "es": 2000, "fr": 1500}


def docs_token_budget_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixture-aware token budgeting: every language fills its OWN token
    allocation in quality order (the step that turns a mixture plan into
    an actual selection); 'zh' is unlisted and takes the default budget
    1000. Group-restarted range-chunked prefix sum — a giant stratum
    never funnels one window task (see
    :func:`operators.sampling.select_token_budget_by_group`)."""
    from duckdb_nats_jetstream_spark.functions.text import token_count
    from duckdb_nats_jetstream_spark.operators.sampling import (
        select_token_budget_by_group,
    )

    docs = read_table(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        "n_chars",
        token_count(F.col("text")).alias("n_tokens"),
    )
    return select_token_budget_by_group(
        docs,
        group_col="lang",
        score_col="n_chars",
        token_col="n_tokens",
        budgets=_LANG_BUDGETS,
        default_budget=1000,
    )


def _token_budget_mix_sql() -> str:
    from duckdb_nats_jetstream_spark.functions.text import sql_token_count
    from duckdb_nats_jetstream_spark.operators.retrieval import _sql_str

    # _sql_str: '' quote-escaping (r12 ADVICE — byte-identical for the
    # quote-free _LANG_BUDGETS keys, but keeps the r11 escaping discipline
    # if a group key ever contains a quote)
    cases = " ".join(
        f"WHEN {_sql_str(g)} THEN {b}" for g, b in sorted(_LANG_BUDGETS.items())
    )
    return f"""
WITH t AS (
  SELECT doc_id, lang, n_chars,
         CAST({sql_token_count('text')} AS BIGINT) AS n_tokens
  FROM documents
), c AS (
  SELECT doc_id, lang, n_chars, n_tokens,
         CAST(SUM(n_tokens) OVER (PARTITION BY lang
                                  ORDER BY n_chars DESC NULLS LAST, doc_id
                                  ROWS BETWEEN UNBOUNDED PRECEDING
                                           AND CURRENT ROW)
              AS BIGINT) AS cum_tokens
  FROM t
)
SELECT doc_id, lang, n_chars, n_tokens, cum_tokens
FROM c WHERE cum_tokens <= (CASE lang {cases} ELSE 1000 END)
"""


TOKEN_BUDGET_MIX_SQL = _token_budget_mix_sql()


QUERIES = {
    "text_bm25_topk": (text_bm25_topk, BM25_TOPK_SQL),
    "sim_hybrid_rrf": (sim_hybrid_rrf, HYBRID_RRF_SQL),
    "sim_hybrid_rrf3": (sim_hybrid_rrf3, HYBRID_RRF3_SQL),
    "sim_hybrid_rrf_ann": (sim_hybrid_rrf_ann, _hybrid_rrf_ann_sql),
    "sim_hard_negatives": (sim_hard_negatives, HARD_NEGATIVES_SQL),
    "sim_contrastive_triplets": (
        sim_contrastive_triplets,
        CONTRASTIVE_TRIPLETS_SQL,
    ),
    "docs_quota_topk": (docs_quota_topk, QUOTA_TOPK_SQL),
    "text_bm25_rm3": (text_bm25_rm3, _bm25_rm3_sql),
    "docs_token_budget": (docs_token_budget, TOKEN_BUDGET_SQL),
    "docs_token_budget_mix": (docs_token_budget_mix, TOKEN_BUDGET_MIX_SQL),
}
