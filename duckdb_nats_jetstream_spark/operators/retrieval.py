"""Retrieval operators: BM25 lexical scoring and reciprocal-rank fusion.

The retrieval half of a RAG / curation pipeline over the ``documents`` and
``embeddings`` tables — the missing sibling of the similarity-search family
(:mod:`operators.similarity`): score the corpus against a query term set
with BM25 (Robertson/Sparck Jones probabilistic ranking), and fuse a
lexical candidate list with a vector candidate list by reciprocal-rank
fusion (Cormack, Clarke & Buettcher, SIGIR 2009).

Scale shape (the part that survives a 100 TB corpus):

- **BM25 scoring is map-only.** Per-document term frequencies come from
  array higher-order functions over the tokenized text (``size(filter(
  tokens, t = term))``) — no explode, no per-token shuffle. The corpus
  statistics the score needs (doc count, total token count, per-term
  document frequency) are ONE single-row aggregate, broadcast back with a
  ``crossJoin(broadcast(...))``. Total cost: one scan + one 1-row exchange.
- **Top-k is TakeOrderedAndProject** (distributed partial top-k), never a
  global sort; ranks are assigned by a window over the already-reduced
  k rows.
- **RRF fuses two bounded candidate lists** (k rows each), so the fusion
  join is broadcast-trivial regardless of corpus size; the heavy lifting
  stays in the two candidate generators.

Cross-engine exactness (the driver hash-compares against DuckDB): the idf
is kept *rational* — ``(N - df + 0.5) / (df + 0.5)``, the argument of the
classic Robertson log-idf and strictly monotone in it — so every score is
a composition of exact integer counts and correctly-rounded IEEE double
ops in a pinned evaluation order, bit-identical across engines. A log
would hit libm last-ulp variation (same discipline as
``queries/pipeline.text_tfidf_top_terms``; see ``functions/exact.py``).
All fractional constants are emitted into the oracle SQL via
``sql_lit_f64`` (scientific notation → DuckDB's exact double parser).

The reference engine has no retrieval surface; this extends the
LLM-pipeline operator family (SURVEY §2 north-star block).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window as W
from pyspark.sql import functions as F

from duckdb_nats_jetstream_spark.errors import BindError
from duckdb_nats_jetstream_spark.functions import text as TX
from duckdb_nats_jetstream_spark.operators.similarity import sql_lit_f64
from duckdb_nats_jetstream_spark.tables import cached

__all__ = [
    "bm25_phrase_scored",
    "bm25_phrase_topk",
    "bm25_rm3_topk",
    "bm25_scored",
    "bm25_topk",
    "rm3_expansion_terms",
    "rrf_fuse",
    "rrf_fuse_many",
    "sql_bm25_phrase_scored",
    "sql_bm25_phrase_topk",
    "sql_bm25_rm3_topk",
    "sql_bm25_scored",
    "sql_bm25_topk",
    "sql_rm3_expansion_terms",
]

#: BM25 free parameters (Robertson et al.; the usual defaults rounded to
#: exactly-representable doubles so the Python-side constant folding and
#: the SQL literal agree bit-for-bit: 1.5 and 0.75 are dyadic rationals).
DEFAULT_K1 = 1.5
DEFAULT_B = 0.75

#: RRF smoothing constant from the original paper.
DEFAULT_RRF_K = 60


def _tf(toks: Column, term: str) -> Column:
    # per-doc term frequency without an explode: filter the token array
    return F.size(F.filter(toks, lambda x: x == F.lit(term)))


def _require_terms(terms: Sequence[str], what: str) -> None:
    # bind-time: an empty term set previously emitted syntactically
    # invalid oracle SQL (dangling comma + trailing '+') while the Spark
    # twin silently scored constant 0.0 — fail both sides consistently
    # and early (r10 ADVICE)
    if not terms:
        raise BindError(f"{what} requires at least one term")


def _require_phrases(phrases: Sequence[str], what: str) -> None:
    # bind-time (r11 ADVICE): a blank/whitespace-only phrase passed
    # _require_terms but then emitted malformed n-gram expressions
    # (``concat_ws(' ', )``) — a parse error instead of a BindError; and
    # a non-canonical phrase ('hash  join', ' hash join') silently scored
    # 0 on BOTH engines because n-grams are joined with single spaces.
    # Reject both here. Case follows the package-wide contract (terms
    # match NORMALIZED tokens; an uppercase term matches nothing), but a
    # spacing mismatch is never intentional, so it fails loudly.
    _require_terms(phrases, what)
    for p in phrases:
        if not p.split():
            raise BindError(f"{what}: blank phrase {p!r}")
        if p != " ".join(p.split()):
            raise BindError(
                f"{what}: phrase {p!r} is not single-space canonical — "
                f"n-grams join tokens with one space, so it could never "
                f"match; pass {' '.join(p.split())!r}"
            )


def _guard_id_col(id_col: str, n_terms: int, what: str) -> None:
    # the scored base projects (id_col, dl, tf_0..): an id column named
    # like an internal would silently shadow it (the r10 sweeps' reserved
    # -name defect class — fail loudly at bind time instead)
    internal = {"dl", "toks", "score"} | {f"tf_{i}" for i in range(n_terms)}
    if id_col in internal:
        raise BindError(f"{what}: id_col {id_col!r} collides with an internal name")


def _sql_str(s: str) -> str:
    # SQL single-quoted literal: '' escaping (a term containing a quote is
    # matchable on the Spark side — normalized text keeps apostrophes — so
    # the oracle must quote it, not break on it)
    return "'" + s.replace("'", "''") + "'"


def _bm25_from_base(
    base: DataFrame, n_terms: int, k1: float, b: float, id_col: str
) -> DataFrame:
    """Shared BM25 assembly over a ``(id_col, dl, tf_0..tf_n-1)`` base:
    ONE single-row stats aggregate broadcast back, fixed left-to-right
    term-sum order (every IEEE rounding step mirrors the oracle SQL)."""
    stats = base.agg(
        F.count("*").alias("n_docs"),
        F.sum("dl").alias("sum_dl"),
        *[
            F.sum((F.col(f"tf_{i}") > 0).cast("long")).alias(f"df_{i}")
            for i in range(n_terms)
        ],
    ).withColumn("avgdl", F.col("sum_dl").cast("double") / F.col("n_docs"))

    score: Column = F.lit(0.0)
    for i in range(n_terms):
        tf = F.col(f"tf_{i}")
        idf = (F.col("n_docs") - F.col(f"df_{i}") + F.lit(0.5)) / (
            F.col(f"df_{i}") + F.lit(0.5)
        )
        denom = tf + F.lit(k1) * (
            F.lit(1.0 - b) + F.lit(b) * (F.col("dl") / F.col("avgdl"))
        )
        score = score + idf * (tf * F.lit(k1 + 1.0)) / denom

    return base.crossJoin(F.broadcast(stats)).select(
        F.col(id_col), score.alias("score")
    )


def bm25_scored(
    docs: DataFrame,
    terms: list[str],
    k1: float = DEFAULT_K1,
    b: float = DEFAULT_B,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Every document scored by BM25 against ``terms`` → ``(id_col, score)``.

    One scan (map-only tf/dl), one single-row stats aggregate broadcast
    back, zero data-sized shuffles. A term absent from a document
    contributes an exact ``0.0`` (zero numerator over a positive
    denominator), so no per-term conditional is needed and the fixed
    left-to-right sum order matches the oracle SQL term-for-term.

    Terms match NORMALIZED tokens (``functions.text.tokens``: lowercased,
    whitespace-split) — pass lowercase terms; an uppercase term matches
    nothing, by the same contract as every text operator here.
    """
    _require_terms(terms, "bm25_scored")
    _guard_id_col(id_col, len(terms), "bm25_scored")
    base = _word_base(docs, terms, text_col, id_col)
    return _bm25_from_base(base, len(terms), k1, b, id_col)


def _word_base(
    docs: DataFrame, terms: list[str], text_col: str, id_col: str
) -> DataFrame:
    toks = TX.tokens(F.col(text_col))
    return docs.select(
        F.col(id_col),
        F.size(toks).alias("dl"),
        *[_tf(toks, t).alias(f"tf_{i}") for i, t in enumerate(terms)],
    )


def _topk_from_base(
    base: DataFrame,
    n_terms: int,
    topk: int,
    k1: float,
    b: float,
    id_col: str,
    score_out: str,
    defer: list[DataFrame] | None = None,
) -> DataFrame:
    """Shared top-k assembly with the single-scan lifecycle (r13
    optimization): the stats aggregate and the scoring projection both
    consume ``base``, and Catalyst plans that subtree TWICE (the stats
    side is a broadcast, so there is no exchange to reuse) — at corpus
    scale that is two full tokenize/tf passes over the text. ``base`` is
    a NARROW integer relation (id, dl, tf_0..n), far smaller than the
    text it derives from, so caching it turns BM25 into one text scan
    + two cheap cached passes.

    Default (``defer=None``): the bounded top-k output is eager-checkpointed
    inside ``tables.cached(base)``. NOTE this makes the call execute
    EAGERLY at build time, and localCheckpoint output is not recomputable
    on executor loss — on a cluster with a checkpoint dir, swap for
    ``checkpoint`` (r13 ADVICE).

    ``defer`` (r14): a caller fusing SEVERAL bounded candidate lists
    passes a list; the base is appended to it and the top-k plan is
    returned LAZY, so the caller can cache every deferred base and
    materialize all branches in ONE action (independent subtrees overlap
    inside a single job instead of serializing per-branch eager
    checkpoints — guide §2.6)."""
    scored = _bm25_from_base(base, n_terms, k1, b, id_col)
    top = scored.orderBy(F.col("score").desc(), F.col(id_col)).limit(topk)
    w = W.orderBy(F.col("score").desc(), F.col(id_col))
    out = top.select(
        F.col(id_col),
        F.row_number().over(w).cast("long").alias("rnk"),
        F.col("score").alias(score_out),
    )
    if defer is not None:
        defer.append(base)
        return out
    with cached(base):
        return out.localCheckpoint(eager=True)


def bm25_topk(
    docs: DataFrame,
    terms: list[str],
    topk: int = 10,
    k1: float = DEFAULT_K1,
    b: float = DEFAULT_B,
    text_col: str = "text",
    id_col: str = "doc_id",
    defer: list[DataFrame] | None = None,
) -> DataFrame:
    """Top-``topk`` documents by BM25 → ``(id_col, rnk, bm25_r)``.

    ``orderBy(...).limit(k)`` plans TakeOrderedAndProject (per-partition
    heap + driver merge of k rows); ``row_number`` then runs over the k
    surviving rows only — the unpartitioned window is bounded by
    construction, never corpus-sized. One text scan; executes EAGERLY
    unless ``defer`` is passed by a multi-branch fusion caller: see
    :func:`_topk_from_base`.
    """
    _require_terms(terms, "bm25_topk")
    _guard_id_col(id_col, len(terms), "bm25_topk")
    base = _word_base(docs, terms, text_col, id_col)
    return _topk_from_base(
        base, len(terms), topk, k1, b, id_col, "bm25_r", defer=defer
    )


def _phrase_ngrams(n: int) -> Column:
    """Row-local n-gram array over a column named ``toks`` — a zero-shuffle
    higher-order transform (the same shape as pipeline2's bigram LM stats).
    Guarded: Spark's ``sequence(0, size-n)`` runs BACKWARD when size < n
    (step defaults to -1), so short docs take the empty branch."""
    positions = f"sequence(0, size(toks) - {n})"
    gram = "concat_ws(' ', " + ", ".join(f"toks[i + {j}]" for j in range(n)) + ")"
    return F.when(
        F.size("toks") >= n,
        F.expr(f"transform({positions}, i -> {gram})"),
    ).otherwise(F.array().cast("array<string>"))


def bm25_phrase_scored(
    docs: DataFrame,
    phrases: list[str],
    k1: float = DEFAULT_K1,
    b: float = DEFAULT_B,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """BM25 over PHRASE terms: each phrase's tf counts its exact
    consecutive-token occurrences (an n-gram match, n = the phrase's word
    count), then enters the standard BM25 saturation with the document
    length in TOKENS — the usual convention when mixing phrase and word
    features (and it keeps avgdl > 0 unconditionally; an n-gram dl would
    be 0 on a corpus of short docs and poison dl/avgdl on both engines).

    Same scale shape as :func:`bm25_scored`: the n-gram arrays are
    row-local transforms (no explode), so scoring stays map-only + one
    single-row broadcast stats aggregate."""
    _require_phrases(phrases, "bm25_phrase_scored")
    _guard_id_col(id_col, len(phrases), "bm25_phrase_scored")
    base = _phrase_base(docs, phrases, text_col, id_col)
    return _bm25_from_base(base, len(phrases), k1, b, id_col)


def _phrase_base(
    docs: DataFrame, phrases: list[str], text_col: str, id_col: str
) -> DataFrame:
    widths = {len(p.split()) for p in phrases}
    toked = docs.select(
        F.col(id_col), TX.tokens(F.col(text_col)).alias("toks")
    )
    grams = {n: _phrase_ngrams(n) for n in widths}
    return toked.select(
        F.col(id_col),
        F.size("toks").alias("dl"),
        *[
            _tf(grams[len(p.split())], p).alias(f"tf_{i}")
            for i, p in enumerate(phrases)
        ],
    )


def bm25_phrase_topk(
    docs: DataFrame,
    phrases: list[str],
    topk: int = 10,
    k1: float = DEFAULT_K1,
    b: float = DEFAULT_B,
    text_col: str = "text",
    id_col: str = "doc_id",
    defer: list[DataFrame] | None = None,
) -> DataFrame:
    """Top-``topk`` documents by phrase BM25 → ``(id_col, rnk, score)``
    (TakeOrderedAndProject + a window over the k survivors, like
    :func:`bm25_topk`). One text scan; eager unless ``defer`` is passed:
    see :func:`_topk_from_base`."""
    _require_phrases(phrases, "bm25_phrase_topk")
    _guard_id_col(id_col, len(phrases), "bm25_phrase_topk")
    base = _phrase_base(docs, phrases, text_col, id_col)
    return _topk_from_base(
        base, len(phrases), topk, k1, b, id_col, "score", defer=defer
    )


def rrf_fuse_many(
    lists: Sequence[tuple[DataFrame, str, str, str]],
    rrf_k: int = DEFAULT_RRF_K,
    topk: int = 10,
) -> DataFrame:
    """Reciprocal-rank fusion of N ≥ 2 ranked candidate lists →
    ``(doc_id, <out_rank_1>, ..., <out_rank_n>, rrf_r)``.

    ``lists``: one ``(ranked_df, id_col, rnk_col, out_rank_name)`` per
    signal, fused in order (the rrf_r sum is evaluated left-to-right, so
    list order pins the IEEE rounding order — keep the oracle SQL's term
    order identical). Classic RRF (Cormack et al., SIGIR 2009): an item
    absent from one list contributes 0 from that list (``coalesce``),
    present items contribute ``1/(rrf_k + rank)``.

    Every input is a bounded top-k list, so the chain of full-outer
    joins — each on the running coalesced id — is trivially small at any
    corpus scale; the heavy lifting stays in the candidate generators.
    """
    if len(lists) < 2:
        raise BindError("rrf_fuse_many requires at least two ranked lists")
    outs = [out for _df, _i, _r, out in lists]
    # _cid/_cid2 are the fold's working columns (r11 ADVICE: an out_rank
    # name of "_cid" was silently overwritten mid-chain, dropping that
    # list's contribution without error)
    reserved = (
        {"doc_id", "rrf_r", "_cid", "_cid2"}
        | {f"_id{i}" for i in range(len(lists))}
    )
    if len(set(outs)) != len(outs) or set(outs) & reserved:
        raise BindError(
            f"rank output names must be distinct and avoid {sorted(reserved)}; "
            f"got {outs}"
        )
    renamed = [
        df.select(
            F.col(id_c).alias(f"_id{i}"), F.col(rnk_c).cast("long").alias(out)
        )
        for i, (df, id_c, rnk_c, out) in enumerate(lists)
    ]
    cur = renamed[0].withColumn("_cid", F.col("_id0")).drop("_id0")
    for i in range(1, len(renamed)):
        nxt = renamed[i]
        cur = (
            cur.join(nxt, cur["_cid"] == nxt[f"_id{i}"], "full_outer")
            .withColumn("_cid2", F.coalesce(F.col("_cid"), F.col(f"_id{i}")))
            .drop("_cid", f"_id{i}")
            .withColumnRenamed("_cid2", "_cid")
        )
    score: Column | None = None
    for out in outs:
        term = F.coalesce(
            F.lit(1.0) / (F.lit(rrf_k) + F.col(out)), F.lit(0.0)
        )
        score = term if score is None else score + term
    fused = cur.select(
        F.col("_cid").alias("doc_id"),
        *[F.col(out) for out in outs],
        score.alias("rrf_r"),
    )
    return fused.orderBy(F.col("rrf_r").desc(), F.col("doc_id")).limit(topk)


def rrf_fuse(
    ranked_a: DataFrame,
    ranked_b: DataFrame,
    id_a: str = "doc_id",
    id_b: str = "doc_id",
    rnk_a: str = "rnk",
    rnk_b: str = "rnk",
    rrf_k: int = DEFAULT_RRF_K,
    topk: int = 10,
) -> DataFrame:
    """Two-list RRF → ``(doc_id, lex_rnk, vec_rnk, rrf_r)`` — the common
    lexical+vector hybrid, delegated to :func:`rrf_fuse_many`."""
    return rrf_fuse_many(
        [
            (ranked_a, id_a, rnk_a, "lex_rnk"),
            (ranked_b, id_b, rnk_b, "vec_rnk"),
        ],
        rrf_k=rrf_k,
        topk=topk,
    )


# --- DuckDB oracle builders ---------------------------------------------------


def _sql_bm25_query(
    base_select: str, n_terms: int, k1: float, b: float, id_col: str
) -> str:
    """Shared oracle assembly over a base SELECT producing
    ``(id_col, dl, tf_0..tf_n-1)`` — mirrors :func:`_bm25_from_base`
    expression-for-expression (same operand order, so every IEEE rounding
    step matches)."""
    df_cols = ", ".join(
        f"sum(CASE WHEN tf_{i} > 0 THEN 1 ELSE 0 END) AS df_{i}"
        for i in range(n_terms)
    )
    half = sql_lit_f64(0.5)
    terms_sql = " + ".join(
        f"((n_docs - df_{i} + {half}) / (df_{i} + {half}))"
        f" * (tf_{i} * {sql_lit_f64(k1 + 1.0)})"
        f" / (tf_{i} + {sql_lit_f64(k1)} * ({sql_lit_f64(1.0 - b)}"
        f" + {sql_lit_f64(b)} * (dl / avgdl)))"
        for i in range(n_terms)
    )
    return f"""
WITH bm25_base AS ({base_select}),
bm25_stats AS (
  SELECT count(*) AS n_docs, sum(dl) AS sum_dl, {df_cols},
         CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl
  FROM bm25_base
)
SELECT {id_col}, {sql_lit_f64(0.0)} + {terms_sql} AS score
FROM bm25_base CROSS JOIN bm25_stats
"""


def sql_bm25_scored(
    terms: list[str],
    k1: float = DEFAULT_K1,
    b: float = DEFAULT_B,
    table: str = "documents",
    text_col: str = "text",
    id_col: str = "doc_id",
    where: str = "TRUE",
) -> str:
    """DuckDB SELECT mirroring :func:`bm25_scored`."""
    _require_terms(terms, "sql_bm25_scored")
    toks = TX.sql_tokens(text_col)
    tf_cols = ", ".join(
        f"len(list_filter(toks, x -> x = {_sql_str(t)})) AS tf_{i}"
        for i, t in enumerate(terms)
    )
    base = (
        f"\n  SELECT {id_col}, len(toks) AS dl, {tf_cols}"
        f"\n  FROM (SELECT {id_col}, {toks} AS toks FROM {table} WHERE {where})\n"
    )
    return _sql_bm25_query(base, len(terms), k1, b, id_col)


def _sql_ngrams(n: int) -> str:
    """DuckDB n-gram list over a 1-indexed ``toks`` list column — mirrors
    :func:`_phrase_ngrams` (empty below n tokens; ``range`` is
    end-exclusive, so positions run 1..len-n+1)."""
    gram = " || ' ' || ".join(f"toks[i + {j}]" for j in range(n))
    return (
        f"CASE WHEN len(toks) >= {n} THEN "
        f"list_transform(range(1, len(toks) - {n - 2}), i -> {gram}) "
        f"ELSE [] END"
    )


def sql_bm25_phrase_scored(
    phrases: list[str],
    k1: float = DEFAULT_K1,
    b: float = DEFAULT_B,
    table: str = "documents",
    text_col: str = "text",
    id_col: str = "doc_id",
    where: str = "TRUE",
) -> str:
    """DuckDB SELECT mirroring :func:`bm25_phrase_scored` (phrase tf over
    n-gram lists, document length in TOKENS)."""
    _require_phrases(phrases, "sql_bm25_phrase_scored")
    toks = TX.sql_tokens(text_col)
    tf_cols = ", ".join(
        f"len(list_filter({_sql_ngrams(len(p.split()))}, x -> x = {_sql_str(p)}))"
        f" AS tf_{i}"
        for i, p in enumerate(phrases)
    )
    base = (
        f"\n  SELECT {id_col}, len(toks) AS dl, {tf_cols}"
        f"\n  FROM (SELECT {id_col}, {toks} AS toks FROM {table} WHERE {where})\n"
    )
    return _sql_bm25_query(base, len(phrases), k1, b, id_col)


def sql_bm25_phrase_topk(
    phrases: list[str],
    topk: int = 10,
    k1: float = DEFAULT_K1,
    b: float = DEFAULT_B,
    table: str = "documents",
    text_col: str = "text",
    id_col: str = "doc_id",
    where: str = "TRUE",
) -> str:
    scored = sql_bm25_phrase_scored(
        phrases, k1=k1, b=b, table=table, text_col=text_col,
        id_col=id_col, where=where,
    )
    return f"""
SELECT {id_col},
       CAST(row_number() OVER (ORDER BY score DESC, {id_col}) AS BIGINT) AS rnk,
       score
FROM ({scored}) bm25_phrase_scored
ORDER BY score DESC, {id_col}
LIMIT {topk}
"""


def sql_bm25_topk(
    terms: list[str],
    topk: int = 10,
    k1: float = DEFAULT_K1,
    b: float = DEFAULT_B,
    table: str = "documents",
    text_col: str = "text",
    id_col: str = "doc_id",
    where: str = "TRUE",
) -> str:
    scored = sql_bm25_scored(
        terms, k1=k1, b=b, table=table, text_col=text_col, id_col=id_col, where=where
    )
    return f"""
SELECT {id_col},
       CAST(row_number() OVER (ORDER BY score DESC, {id_col}) AS BIGINT) AS rnk,
       score AS bm25_r
FROM ({scored}) bm25_scored
ORDER BY score DESC, {id_col}
LIMIT {topk}
"""


def rm3_expansion_terms(
    docs: DataFrame,
    terms: list[str],
    fb_docs: int = 10,
    fb_terms: int = 3,
    min_len: int = 4,
    k1: float = DEFAULT_K1,
    b: float = DEFAULT_B,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> list[str]:
    """RM3-style pseudo-relevance-feedback expansion terms (Lavrenko &
    Croft relevance models, simplified to a deterministic df-vote): take
    the BM25 top-``fb_docs`` feedback documents for ``terms``, and pick
    the ``fb_terms`` tokens (length ≥ ``min_len``, not already a query
    term) appearing in the MOST distinct feedback documents — feedback-df
    desc, lexicographic tie-break, so selection is a pure deterministic
    function of the corpus that an offline oracle re-derives exactly.

    The driver-side materialization is ``fb_terms`` rows selected by
    ``limit(fb_terms)`` — bounded by construction (the same class as the
    pinned BPE-merge / quantile / codebook pulls; tests/test_lint.py
    allowlist). Everything corpus-sized stays distributed: the feedback
    list is a TakeOrderedAndProject, its text re-join is a ``fb_docs``-row
    broadcast, and the candidate explode runs over those ≤ ``fb_docs``
    documents only.
    """
    _require_terms(terms, "rm3_expansion_terms")
    fb = bm25_topk(
        docs, terms, topk=fb_docs, k1=k1, b=b,
        text_col=text_col, id_col=id_col,
    ).select(id_col)
    fb_text = docs.join(F.broadcast(fb), id_col)
    cand = (
        fb_text.select(
            F.col(id_col),
            F.explode(TX.tokens(F.col(text_col))).alias("tok"),
        )
        .filter(F.length("tok") >= min_len)
        .filter(~F.col("tok").isin(terms))
        .groupBy("tok")
        .agg(F.count_distinct(F.col(id_col)).alias("fb_df"))
        .orderBy(F.col("fb_df").desc(), F.col("tok"))
        .limit(fb_terms)
    )
    return [r.tok for r in cand.collect()]


def bm25_rm3_topk(
    docs: DataFrame,
    terms: list[str],
    fb_docs: int = 10,
    fb_terms: int = 3,
    min_len: int = 4,
    topk: int = 10,
    k1: float = DEFAULT_K1,
    b: float = DEFAULT_B,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """BM25 with RM3 pseudo-relevance feedback: score once, mine expansion
    terms from the top-``fb_docs`` feedback documents
    (:func:`rm3_expansion_terms`), then re-score the corpus with the
    original terms followed by the expansion terms (that concatenation
    order pins the left-to-right IEEE sum, so the oracle embedding the
    same re-derived terms is bit-identical). Both passes are the map-only
    + one-row-broadcast-stats BM25 plan — the corpus is scanned twice and
    shuffled never."""
    exp = rm3_expansion_terms(
        docs, terms, fb_docs=fb_docs, fb_terms=fb_terms, min_len=min_len,
        k1=k1, b=b, text_col=text_col, id_col=id_col,
    )
    return bm25_topk(
        docs, terms + exp, topk=topk, k1=k1, b=b,
        text_col=text_col, id_col=id_col,
    )


def sql_rm3_expansion_terms(
    sf_dir: str,
    terms: list[str],
    fb_docs: int = 10,
    fb_terms: int = 3,
    min_len: int = 4,
    k1: float = DEFAULT_K1,
    b: float = DEFAULT_B,
    table: str = "documents",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> list[str]:
    """Offline re-derivation of :func:`rm3_expansion_terms` for the oracle
    (the embedded-codebook pattern of ``similarity.sql_ivf_topk``): run
    the identical deterministic selection in DuckDB against the parquet
    directly and return the term list to embed as literals."""
    import duckdb

    _require_terms(terms, "sql_rm3_expansion_terms")
    src = f"'{sf_dir}/{table}.parquet'"
    fb = sql_bm25_topk(
        terms, topk=fb_docs, k1=k1, b=b, table=src,
        text_col=text_col, id_col=id_col,
    )
    not_in = ", ".join(_sql_str(t) for t in terms)
    q = f"""
WITH fb AS ({fb}),
toks AS (
  SELECT d.{id_col}, unnest({TX.sql_tokens(f'd.{text_col}')}) AS tok
  FROM {src} d JOIN fb ON fb.{id_col} = d.{id_col}
)
SELECT tok FROM toks
WHERE length(tok) >= {min_len} AND tok NOT IN ({not_in})
GROUP BY tok
ORDER BY count(DISTINCT {id_col}) DESC, tok
LIMIT {fb_terms}
"""
    con = duckdb.connect()
    try:
        return [r[0] for r in con.execute(q).fetchall()]
    finally:
        con.close()


def sql_bm25_rm3_topk(
    sf_dir: str,
    terms: list[str],
    fb_docs: int = 10,
    fb_terms: int = 3,
    min_len: int = 4,
    topk: int = 10,
    k1: float = DEFAULT_K1,
    b: float = DEFAULT_B,
    table: str = "documents",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> str:
    """DuckDB oracle for :func:`bm25_rm3_topk`: re-derive the expansion
    terms offline, then emit the standard fixed-term BM25 top-k SQL over
    ``terms + expansion`` in the same concatenation order."""
    exp = sql_rm3_expansion_terms(
        sf_dir, terms, fb_docs=fb_docs, fb_terms=fb_terms, min_len=min_len,
        k1=k1, b=b, table=table, text_col=text_col, id_col=id_col,
    )
    return sql_bm25_topk(
        terms + exp, topk=topk, k1=k1, b=b, table=table,
        text_col=text_col, id_col=id_col,
    )
