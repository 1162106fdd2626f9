"""DSIR-style domain-targeted data selection (Xie et al., *Data Selection
for Language Models via Importance Resampling*, NeurIPS 2023 — public).

Select documents from a RAW pool that look most like a TARGET domain:
fit hashed bag-of-n-gram models over both pools, score each raw document
by the importance weight of its features under target-vs-raw, keep the
top-k. This is the standard domain-matching selection step of a
pretraining pipeline (the learned cousin of the rule-based filters and
the mixture planner already in this package).

Deterministic integer variant: the paper's log-likelihood ratio
``Σ_b c_b·(log p̂_t[b] − log p̂_r[b])`` uses transcendental logs, which
this package bans for cross-engine bit-exactness. We substitute the
established whole-bit surprisal (`queries/pipeline5._unigram_bit_scores`
trick): with add-1 smoothing,

    bits_side[b] = floor(log2(total_side // (count_side[b] + 1)))
                 = length(bin(total_side // (count_side[b] + 1))) − 1
    weight[doc]  = Σ_b c_b · (bits_raw[b] − bits_target[b])

— all int64, no floating point anywhere, so Spark and the DuckDB oracle
agree bit-for-bit. Ranking by whole-bit surprisal difference
quantizes the paper's ratio (ties broken by doc id); the selection
SHAPE — fit two hashed LMs, score one scan, top-k — is exactly DSIR's.
Features/hashing are shared with :mod:`functions.classifier`
(unigrams + consecutive bigrams, md5-slice buckets).

Scale shape (100 TB): one explode scan → per-(doc, bucket) counts with
map-side combine (the only corpus-sized shuffle, keyed on doc_id×bucket);
the per-side bucket LMs aggregate to ≤ 2·n_buckets rows; the weight
table is n_buckets rows BROADCAST back onto the per-doc counts; final
per-doc sum + TakeOrderedAndProject. Nothing but the first two
aggregations scales with the corpus.

The reference engine has no selection surface (its host would run this
through SQL); SURVEY §2 LLM-pipeline block, r13.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from duckdb_nats_jetstream_spark.errors import BindError
from duckdb_nats_jetstream_spark.functions.classifier import (
    _check_n_buckets,
    hashed_feature_buckets,
    sql_feature_bucket,
    sql_hashed_text_features,
)
from duckdb_nats_jetstream_spark.tables import cached


def dsir_select(
    df: DataFrame,
    is_target: Column,
    topk: int,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 256,
    keep_cols: list[str] | None = None,
) -> DataFrame:
    """Top-``topk`` raw-pool documents by DSIR importance weight.

    ``is_target`` marks the target-domain rows (NULL → raw: the
    predicate is coalesced to false, so an unattributed document can be
    selected, never silently dropped). Documents with NULL ``text_col``
    vanish from both pools (explode of a NULL feature array — mirrored
    by the oracle's unnest). If the target pool is EMPTY the result is
    empty — there is no distribution to match; callers own a nonempty
    target predicate. Returns (id, keep_cols..., dsir_weight) ordered
    weight-desc with id tie-break; higher weight = more target-like.
    """
    n = _check_n_buckets(n_buckets)
    if topk < 1:
        raise BindError(f"topk must be >= 1, got {topk}")
    keep = list(keep_cols or [])
    spark = df.sparkSession

    fb = df.select(
        F.col(id_col),
        F.coalesce(is_target, F.lit(False)).alias("__t"),
        F.explode(hashed_feature_buckets(F.col(text_col), n)).alias("__b"),
    )
    # per-(doc, bucket) counts: the only corpus-sized shuffle (map-side
    # combine on (id, t, b)). Two consumers — the LM/weight chain and
    # the scoring join — i.e. the classic two-pass stats-then-score
    # shape. The first draft's per-side filter chain ran FIVE scans
    # (8.3 s at sf0.1 / 213 s at sf10); two memoized-Arrow passes + one
    # conditional-agg pivot was the r13-build fix. r14 (§2.3/§5, the
    # bm25/domain_shift pattern): both consumers replanned the
    # explode+md5-hash subtree — two full feature-hash passes over the
    # text. ``db`` is a NARROW integer relation, far smaller than the
    # text it derives from, so it is cached once. One feature-hash pass,
    # two cheap cached passes.
    db = fb.groupBy(id_col, "__t", "__b").agg(
        F.count(F.lit(1)).cast("long").alias("__c")
    )
    # both sides' bucket LMs in ONE conditional aggregation (n_buckets
    # rows), totals in one more row — no per-side re-scans
    sc = db.groupBy("__b").agg(
        F.sum(F.when(F.col("__t"), F.col("__c")).otherwise(F.lit(0)))
        .alias("__ct"),
        F.sum(F.when(~F.col("__t"), F.col("__c")).otherwise(F.lit(0)))
        .alias("__cr"),
    )
    # empty-target contract: with no target rows the pivot would yield a
    # sum-of-zeros row (not an empty relation), and bin(0) has "0 bits",
    # silently scoring against a vacuous LM — filter keeps the documented
    # "no distribution to match → empty result" semantics (and mirrors
    # the oracle's per-side subquery going empty)
    tot = sc.agg(
        F.sum("__ct").alias("__tt"), F.sum("__cr").alias("__tr")
    ).filter(F.col("__tt") > 0)
    bits_r = F.length(F.bin(F.expr("__tr div (coalesce(__cr, 0L) + 1L)"))) - 1
    bits_t = F.length(F.bin(F.expr("__tt div (coalesce(__ct, 0L) + 1L)"))) - 1
    weights = (
        spark.range(n).select(F.col("id").alias("__b"))
        .join(sc, "__b", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "__b",
            (bits_r.cast("long") - bits_t.cast("long")).alias("__wb"),
        )
    )
    scored = (
        db.filter(~F.col("__t"))
        .join(F.broadcast(weights), "__b")
        .groupBy(id_col)
        .agg(F.sum(F.col("__c") * F.col("__wb")).cast("long").alias("dsir_weight"))
    )
    out = scored
    if keep:
        out = scored.join(df.select(id_col, *keep), id_col)
    out = (
        out.select(id_col, *keep, "dsir_weight")
        .orderBy(F.col("dsir_weight").desc(), F.col(id_col))
        .limit(topk)
    )
    with cached(db):
        return out.localCheckpoint(eager=True)


def sql_dsir_select(
    target_pred: str,
    topk: int,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 256,
    keep_cols: list[str] | None = None,
    source: str = "documents",
) -> str:
    """DuckDB mirror — same integer chain, same NULL policy."""
    n = _check_n_buckets(n_buckets)
    keep = list(keep_cols or [])
    keep_sel = "".join(f", d.{c}" for c in keep)
    feats = sql_hashed_text_features(text_col)
    bucket = sql_feature_bucket("__f", n)
    return f"""
WITH ex AS (
  SELECT {id_col}, coalesce({target_pred}, false) AS t,
         unnest({feats}) AS __f
  FROM {source}
),
fb AS (SELECT {id_col}, t, {bucket} AS b FROM ex),
db AS (
  SELECT {id_col}, t, b, CAST(count(*) AS BIGINT) AS c
  FROM fb GROUP BY {id_col}, t, b
),
sc AS (SELECT t, b, CAST(sum(c) AS BIGINT) AS n FROM db GROUP BY t, b),
tot AS (SELECT t, CAST(sum(n) AS BIGINT) AS total FROM sc GROUP BY t),
w AS (
  SELECT bk.b,
         CAST(length(bin(tr.total // (coalesce(cr.n, 0) + 1))) - 1 AS BIGINT)
       - CAST(length(bin(tt.total // (coalesce(ct.n, 0) + 1))) - 1 AS BIGINT)
           AS wb
  FROM (SELECT unnest(range({n})) AS b) bk
  LEFT JOIN (SELECT b, n FROM sc WHERE NOT t) cr USING (b)
  LEFT JOIN (SELECT b, n FROM sc WHERE t) ct USING (b)
  CROSS JOIN (SELECT total FROM tot WHERE NOT t) tr
  CROSS JOIN (SELECT total FROM tot WHERE t) tt
),
dw AS (
  SELECT d.{id_col}, CAST(sum(d.c * w.wb) AS BIGINT) AS dsir_weight
  FROM db d JOIN w USING (b) WHERE NOT d.t GROUP BY d.{id_col}
)
SELECT dw.{id_col}{keep_sel}, dw.dsir_weight
FROM dw JOIN {source} d USING ({id_col})
ORDER BY dsir_weight DESC, {id_col} LIMIT {topk}
"""
