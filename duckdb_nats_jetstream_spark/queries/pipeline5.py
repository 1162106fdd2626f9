"""Training-data pipeline queries, batch 5 (round 3, second session).

- ``text_unigram_bits`` — unigram-LM surprisal quality scoring (the CCNet /
  Wenzek et al. 2020 perplexity-filter signal) made cross-engine exact by
  quantizing log-loss to whole bits: token surprisal = floor(log2(total /
  count)) computed as ``length(bin(total div n)) - 1`` — pure integer/string
  ops, so per-document sums are order-independent exact integers and the
  only double is one final mean division. At deployment scale you'd use a
  real float ``ln`` (no oracle constraint there); the *plan* is identical —
  this keeps the verification gate honest without a transcendental whose
  last ulp differs between engines.
- ``scan_funnel`` — ordered 3-stage funnel (view → click → purchase) over
  the event log: per-user single-pass sorted-array fold (ONE shuffle, one
  scan) instead of the textbook 3-aggregation cascade the oracle runs —
  same semantics, one pass.
- ``rel_hll_counts`` — HyperLogLog distinct-count sketch
  (:mod:`operators.hll`) with the exact distinct count alongside as the
  accuracy audit, plus a shard-merge consistency proof in pytest.
- ``rel_mad_outliers`` — robust outlier screen: per-type median via exact
  interpolated percentile, MAD on the deviations, count beyond 3×MAD
  (Iglewicz-Hoaglin; the winsorize operator's robust sibling).
- ``rel_hist_quantiles`` — mergeable equi-width histogram sketch
  (:mod:`operators.histsketch`) quantile estimates with exact-percentile
  audit columns.
- ``text_pmi_topk`` — collocations ranked by the PMI-monotone lift ratio
  (transcendental-free; exact integer counts, one fixed-order division
  chain).
- ``sim_pq_topk`` — product-quantization ADC top-k (:mod:`operators.pq`)
  with an embedded-codebook SQL oracle.
- ``scan_path_mining`` — gap-sessionized user-journey path frequencies.
- ``scan_funnel_windowed`` — the ``max_gap`` conversion-window funnel.
- ``rel_kmv_intersection`` — KMV theta-sketch set algebra
  (:mod:`operators.kmv`): overlap/Jaccard between customer sets.
- ``scan_hopping_rollup`` — overlapping 1h/30min windows (epoch-slot
  oracle arithmetic).
- ``scan_cumulative_uniques`` — DAU-to-date via HLL register running max.
- ``dedup_graph_triangles`` — near-dup graph 2-path/triangle closure audit.
- ``scan_daily_dashboard`` — per-day sketch serving layer (HLL + histogram
  + top type).
- ``docs_span_scrub`` / ``docs_curation_v3`` — duplicated-span removal and
  the scrub→re-score→keep capstone.

Scale notes: unigram_bits/pmi shuffle on the token key (combiner-reduced)
and the doc key — the vocabulary relation joins by shuffle, never
collected; funnel and path mining are one user-keyed shuffle each; the
HLL/histogram sketch builds move ≤ m rows per input partition by
construction; MAD is two broadcast-joined per-type aggregates; PQ touches
the corpus with exactly two Arrow maps.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from duckdb_nats_jetstream_spark.functions import exact as EX
from duckdb_nats_jetstream_spark.functions import text as TX
from duckdb_nats_jetstream_spark.operators import funnel as FN
from duckdb_nats_jetstream_spark.operators import histsketch as HS
from duckdb_nats_jetstream_spark.operators import hll as HLL
from duckdb_nats_jetstream_spark.tables import cached, read_table

# --- unigram LM surprisal ----------------------------------------------------


def _unigram_bit_scores(tok: DataFrame) -> DataFrame:
    """(doc_id, token) rows → per-doc ``(doc_id, n_tokens, bits_total)``
    via the integer bit-surprisal chain — ONE definition shared by
    ``text_unigram_bits`` and the ``docs_curation_v3`` capstone, so an
    edit to the surprisal formula can never land in one and silently
    break the other's "re-score with unigram-bit surprisal" claim while
    both queries' own parity rows stay green (r10 review).

    floor(log2(total/n)) with integer division: ``bin()`` of a positive
    int64 has no leading zeros in either engine, so its length − 1 IS the
    floor log2 — no floating point anywhere in the surprisal.

    Plan shape (r14, replacing the r13 window form): the pre-r13
    vocab-aggregate + join-back planned the tokenize→explode→(doc,token)
    count subtree THREE times (join left, vocab build, corpus total); the
    r13 rewrite fixed that with a token-partitioned window sum — but that
    traded a *broadcast probe* for a full exchange of every (doc, token)
    row on ``token``, a stopword-skewed key whose hottest group one window
    task must buffer (a §2.5 straggler/spill hazard at corpus scale; the
    r13 benchmark also measured it 29 % slower locally). Now the vocab is a
    hash aggregate over the narrow (doc_id, token, c) relation with
    map-side partial aggregation (the skew-proof reduction), the corpus
    total derives from the ≤|vocab|-row aggregate, and scoring probes the
    vocab via the join Catalyst picks (broadcast when the vocab estimate
    is small, SMJ co-keyed on token otherwise). The plan is returned lazy:
    the (doc_id, token, c) aggregate feeds both the scoring join and the
    vocab, and exchange reuse shuffles it once (``ReusedExchange``, pinned
    in tests/test_plans.py) — no cache, no eager checkpoint, no Spark job
    while the query is built. One tokenize pass, zero token-keyed
    windows."""
    dtc = tok.groupBy("doc_id", "token").agg(F.count("*").alias("c"))
    vocab = dtc.groupBy("token").agg(F.sum("c").alias("n"))
    total = vocab.agg(F.sum("n").alias("total"))
    bits = F.length(F.bin(F.expr("total div n"))) - 1
    return (
        dtc.join(vocab, "token")
        .crossJoin(F.broadcast(total))
        .select("doc_id", "c", bits.cast("long").alias("bits"))
        .groupBy("doc_id")
        .agg(
            F.sum("c").cast("long").alias("n_tokens"),
            F.sum(F.col("c") * F.col("bits")).cast("long").alias("bits_total"),
        )
    )


def text_unigram_bits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document unigram surprisal in whole bits.

    Pipeline: explode tokens → per-(doc, token) counts → corpus frequency
    table → join back on the token key → integer bit-surprisal per token →
    per-doc sum. ``mean_bits`` (total bits / total tokens) is the
    perplexity-filter threshold signal: templated/repetitive documents score
    low, lexically improbable ones high.
    """
    docs = read_table(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.explode(TX.tokens(F.col("text"))).alias("token"))
    return _unigram_bit_scores(tok).select(
        "doc_id",
        "n_tokens",
        "bits_total",
        (
            F.col("bits_total").cast("double") / F.col("n_tokens").cast("double")
        ).alias("mean_bits"),
    )


UNIGRAM_BITS_SQL = f"""
WITH tok AS (
  SELECT doc_id, unnest({TX.sql_tokens('text')}) AS token FROM documents
), dtc AS (
  SELECT doc_id, token, count(*) AS c FROM tok GROUP BY doc_id, token
), vocab AS (
  SELECT token, sum(c) AS n FROM dtc GROUP BY token
), tot AS (
  SELECT sum(n) AS total FROM vocab
), scored AS (
  SELECT dtc.doc_id, dtc.c,
         CAST(length(bin(CAST(tot.total AS BIGINT) // CAST(vocab.n AS BIGINT))) - 1
              AS BIGINT) AS bits
  FROM dtc JOIN vocab USING (token) CROSS JOIN tot
)
SELECT doc_id,
       CAST(sum(c) AS BIGINT) AS n_tokens,
       CAST(sum(c * bits) AS BIGINT) AS bits_total,
       CAST(sum(c * bits) AS DOUBLE) / CAST(sum(c) AS DOUBLE) AS mean_bits
FROM scored GROUP BY doc_id
"""


# --- ordered funnel ----------------------------------------------------------


def scan_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """view → click → purchase funnel: users entering each stage in strict
    timestamp order, with stage-to-stage conversion rates.

    Runs the skew-safe cascade (default of
    :func:`operators.funnel.funnel_user_stages`): k algebraic min-aggs
    chained by per-user joins — every shuffle map-side-combinable, so a
    hot user (90% of a 100×-events log, SCALING.md batch 4) cannot create
    the 34× straggler task the single-shuffle collect_list fold showed.
    The oracle runs the same 3-aggregation cascade; the fold stays
    available as ``algorithm="fold"`` with a pinned bit-equality test.
    """
    per_user = FN.funnel_user_stages(
        read_table(spark, sf_dir, "events"), ["view", "click", "purchase"]
    )
    return per_user.agg(
        F.count("t1").alias("u_view"),
        F.count("t2").alias("u_click"),
        F.count("t3").alias("u_purchase"),
        (F.count("t2").cast("double") / F.count("t1").cast("double")).alias(
            "conv_click"
        ),
        (F.count("t3").cast("double") / F.count("t2").cast("double")).alias(
            "conv_purchase"
        ),
    )


FUNNEL_SQL = """
WITH s1 AS (
  SELECT user_id, min(ts) AS t1 FROM events WHERE event_type = 'view' GROUP BY user_id
), s2 AS (
  SELECT e.user_id, min(e.ts) AS t2
  FROM events e JOIN s1 ON e.user_id = s1.user_id
  WHERE e.event_type = 'click' AND e.ts > s1.t1 GROUP BY e.user_id
), s3 AS (
  SELECT e.user_id, min(e.ts) AS t3
  FROM events e JOIN s2 ON e.user_id = s2.user_id
  WHERE e.event_type = 'purchase' AND e.ts > s2.t2 GROUP BY e.user_id
)
SELECT (SELECT CAST(count(*) AS BIGINT) FROM s1) AS u_view,
       (SELECT CAST(count(*) AS BIGINT) FROM s2) AS u_click,
       (SELECT CAST(count(*) AS BIGINT) FROM s3) AS u_purchase,
       CAST((SELECT count(*) FROM s2) AS DOUBLE)
         / CAST((SELECT count(*) FROM s1) AS DOUBLE) AS conv_click,
       CAST((SELECT count(*) FROM s3) AS DOUBLE)
         / CAST((SELECT count(*) FROM s2) AS DOUBLE) AS conv_purchase
"""


def scan_funnel_windowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The conversion-window funnel variant: each stage must land within
    2 hours of the previous one (``max_gap`` — one more predicate inside
    each cascade stage's qualifying filter; see
    ``operators/funnel.funnel_user_stages``). The oracle adds the identical
    deadline to its cascade."""
    per_user = FN.funnel_user_stages(
        read_table(spark, sf_dir, "events"),
        ["view", "click", "purchase"],
        max_gap="2 hours",
    )
    return per_user.agg(
        F.count("t1").alias("u_view"),
        F.count("t2").alias("u_click"),
        F.count("t3").alias("u_purchase"),
    )


FUNNEL_WINDOWED_SQL = """
WITH s1 AS (
  SELECT user_id, min(ts) AS t1 FROM events WHERE event_type = 'view' GROUP BY user_id
), s2 AS (
  SELECT e.user_id, min(e.ts) AS t2
  FROM events e JOIN s1 ON e.user_id = s1.user_id
  WHERE e.event_type = 'click' AND e.ts > s1.t1
    AND e.ts <= s1.t1 + INTERVAL '2 hours'
  GROUP BY e.user_id
), s3 AS (
  SELECT e.user_id, min(e.ts) AS t3
  FROM events e JOIN s2 ON e.user_id = s2.user_id
  WHERE e.event_type = 'purchase' AND e.ts > s2.t2
    AND e.ts <= s2.t2 + INTERVAL '2 hours'
  GROUP BY e.user_id
)
SELECT (SELECT CAST(count(*) AS BIGINT) FROM s1) AS u_view,
       (SELECT CAST(count(*) AS BIGINT) FROM s2) AS u_click,
       (SELECT CAST(count(*) AS BIGINT) FROM s3) AS u_purchase
"""


# --- HLL distinct-count sketch ----------------------------------------------


def rel_hll_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL raw estimate of distinct ordering customers vs the exact count.

    The exact side joins in as the audit column — at 100 TB you'd drop it
    and keep only the ≤ 256-row sketch; the error column is what tells you
    whether you can.
    """
    orders = read_table(spark, sf_dir, "orders")
    est = HLL.hll_estimate(HLL.hll_registers(orders, "o_custkey"))
    exact = orders.agg(
        F.countDistinct("o_custkey").cast("long").alias("exact_distinct")
    )
    return est.crossJoin(F.broadcast(exact)).select(
        "m",
        "n_present",
        "n_zero",
        "raw_estimate",
        "exact_distinct",
        (
            (F.col("raw_estimate") - F.col("exact_distinct").cast("double"))
            / F.col("exact_distinct").cast("double")
        ).alias("rel_err"),
    )


HLL_COUNTS_SQL = f"""
WITH regs AS (
{HLL.sql_hll_registers("o_custkey", "orders")}
), est AS (
{HLL.sql_hll_estimate("regs")}
), ex AS (
  SELECT CAST(count(DISTINCT o_custkey) AS BIGINT) AS exact_distinct FROM orders
)
SELECT m, n_present, n_zero, raw_estimate, exact_distinct,
       (raw_estimate - CAST(exact_distinct AS DOUBLE))
         / CAST(exact_distinct AS DOUBLE) AS rel_err
FROM est CROSS JOIN ex
"""


# --- MAD robust outliers ----------------------------------------------------


def rel_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type robust outlier counts: |value − median| > 3 × MAD.

    Median and MAD use the exact interpolated percentile (Spark
    ``percentile`` == DuckDB ``quantile_cont``, parity proven by
    ``rel_percentiles``); both per-type statistics relations are tiny and
    broadcast back onto the fact scan — two broadcast joins, three hash
    aggregations, no window over raw rows.
    """
    ev = read_table(spark, sf_dir, "events").select("event_type", "value")
    med = ev.groupBy("event_type").agg(F.percentile("value", 0.5).alias("med"))
    dev = ev.join(F.broadcast(med), "event_type").select(
        "event_type", "value", "med", F.abs(F.col("value") - F.col("med")).alias("dev")
    )
    mad = dev.groupBy("event_type").agg(F.percentile("dev", 0.5).alias("mad"))
    flagged = dev.join(F.broadcast(mad), "event_type")
    return (
        flagged.groupBy("event_type")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum(
                F.when(F.col("dev") > F.lit(3.0) * F.col("mad"), 1).otherwise(0)
            )
            .cast("long")
            .alias("n_outliers"),
            F.first("med").alias("med"),
            F.first("mad").alias("mad"),
        )
        .orderBy("event_type")
    )


MAD_OUTLIERS_SQL = """
WITH med AS (
  SELECT event_type, quantile_cont(value, 0.5) AS med FROM events GROUP BY event_type
), dev AS (
  SELECT e.event_type, e.value, med.med, abs(e.value - med.med) AS dev
  FROM events e JOIN med USING (event_type)
), mad AS (
  SELECT event_type, quantile_cont(dev, 0.5) AS mad FROM dev GROUP BY event_type
)
SELECT dev.event_type,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CASE WHEN dev.dev > 3.0 * mad.mad THEN 1 ELSE 0 END) AS BIGINT)
         AS n_outliers,
       any_value(dev.med) AS med,
       any_value(mad.mad) AS mad
FROM dev JOIN mad USING (event_type)
GROUP BY dev.event_type ORDER BY dev.event_type
"""


# --- histogram quantile sketch ----------------------------------------------

_HLO, _HHI, _HBINS = 0.0, 640.0, 128
_HQS = [0.25, 0.5, 0.9]


def rel_hist_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Histogram-sketch quantile estimates of ``events.value`` with the
    exact interpolated percentiles alongside as the accuracy audit — the
    constant-memory path (≤ 128-row sketch, bin-wise mergeable) vs the
    per-group value buffer the exact percentile carries."""
    ev = read_table(spark, sf_dir, "events")
    sk = HS.hist_bins(ev, "value", _HLO, _HHI, _HBINS)
    est = HS.hist_quantiles(sk, _HQS, _HLO, _HHI, _HBINS)
    exact = ev.agg(
        F.percentile("value", 0.25).alias("x25"),
        F.percentile("value", 0.5).alias("x50"),
        F.percentile("value", 0.9).alias("x90"),
    )
    return est.crossJoin(F.broadcast(exact)).select(
        "n", "q_0_25", "q_0_5", "q_0_9", "x25", "x50", "x90"
    )


HIST_QUANTILES_SQL = f"""
WITH hist AS (
{HS.sql_hist_bins("value", "events", _HLO, _HHI, _HBINS)}
), est AS (
{HS.sql_hist_quantiles(_HQS, _HLO, _HHI, _HBINS, "hist")}
), ex AS (
  SELECT quantile_cont(value, 0.25) AS x25,
         quantile_cont(value, 0.5) AS x50,
         quantile_cont(value, 0.9) AS x90
  FROM events
)
SELECT n, q_0_25, q_0_5, q_0_9, x25, x50, x90 FROM est CROSS JOIN ex
"""


# --- PMI collocations --------------------------------------------------------


def text_pmi_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 collocations by PMI lift — transcendental-free: PMI is
    monotone in ``p(xy) / (p(x)·p(y))``, so ranking by the lift ratio IS
    ranking by PMI, with no ``log`` whose last ulp differs between engines.
    The ratio evaluates in one fixed op sequence over exact integer counts.

    Shuffle shape: bigrams/unigrams are row-local transforms; two token-key
    aggregations; the unigram relation joins the bigram relation twice (left
    word, right word) by hash join — vocabulary-sized, never collected. A
    min-count floor keeps one-off pairs from dominating the ranking (the
    standard PMI sparsity fix).

    The VOCAB-SIZED count relations (uni, bi) are persisted for the
    query's duration: each is consumed 2-3× (self-as-join-side plus its
    own total), and without the cache every consumer re-tokenizes the
    corpus — 5 full scans at 100 TB instead of 2 (one per n-gram order).
    Cached via ``tables.cached`` (cache-hygiene pinned by the registry
    sweep test)."""
    docs = read_table(spark, sf_dir, "documents")
    toked = docs.select(TX.tokens(F.col("text")).alias("toks"))
    bigrams = F.when(
        F.size("toks") >= 2,
        F.expr(
            "transform(sequence(0, size(toks) - 2),"
            " i -> struct(toks[i] AS x, toks[i + 1] AS y))"
        ),
    ).otherwise(F.expr("array()").cast("array<struct<x:string,y:string>>"))
    bi = (
        toked.select(F.explode(bigrams).alias("b"))
        .select(F.col("b.x").alias("x"), F.col("b.y").alias("y"))
        .groupBy("x", "y")
        .agg(F.count(F.lit(1)).alias("cxy"))
    )
    uni = (
        toked.select(F.explode("toks").alias("t"))
        .groupBy("t")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    n_uni = uni.agg(F.sum("c").alias("nu"))
    n_bi = bi.agg(F.sum("cxy").alias("nb"))
    lift = (F.col("cxy").cast("double") / F.col("nb").cast("double")) / (
        (F.col("cx").cast("double") / F.col("nu").cast("double"))
        * (F.col("cy").cast("double") / F.col("nu").cast("double"))
    )
    out = (
        bi.filter(F.col("cxy") >= 5)
        .join(uni.select(F.col("t").alias("x"), F.col("c").alias("cx")), "x")
        .join(uni.select(F.col("t").alias("y"), F.col("c").alias("cy")), "y")
        .crossJoin(F.broadcast(n_uni))
        .crossJoin(F.broadcast(n_bi))
        .select("x", "y", "cxy", "cx", "cy", lift.alias("lift"))
        .orderBy(F.col("lift").desc(), "x", "y")
        .limit(20)
    )
    with cached(bi, uni):
        return out.localCheckpoint(eager=True)


PMI_TOPK_SQL = f"""
WITH toked AS (
  SELECT {TX.sql_tokens('text')} AS toks FROM documents
), bi AS (
  SELECT t.x, t.y, count(*) AS cxy FROM (
    SELECT unnest(list_transform(range(1, len(toks)),
                  i -> {{'x': toks[i], 'y': toks[i + 1]}})) AS t
    FROM toked
  ) GROUP BY t.x, t.y
), uni AS (
  SELECT t, count(*) AS c FROM (SELECT unnest(toks) AS t FROM toked) GROUP BY t
), nu AS (SELECT sum(c) AS nu FROM uni),
nb AS (SELECT sum(cxy) AS nb FROM bi)
SELECT bi.x, bi.y, bi.cxy, ux.c AS cx, uy.c AS cy,
       (CAST(bi.cxy AS DOUBLE) / CAST(nb.nb AS DOUBLE))
         / ((CAST(ux.c AS DOUBLE) / CAST(nu.nu AS DOUBLE))
            * (CAST(uy.c AS DOUBLE) / CAST(nu.nu AS DOUBLE))) AS lift
FROM bi
JOIN uni ux ON ux.t = bi.x
JOIN uni uy ON uy.t = bi.y
CROSS JOIN nu CROSS JOIN nb
WHERE bi.cxy >= 5
ORDER BY lift DESC, bi.x, bi.y
LIMIT 20
"""


# --- duplicated-span scrubbing -----------------------------------------------


def docs_span_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicated-span REMOVAL (Lee et al. 2022 — the transform
    ``dedup_span_fraction`` only measures): tokens covered by any
    cross-document 13-gram are dropped and the text re-rendered
    (:func:`operators.dedup.span_scrub`)."""
    from duckdb_nats_jetstream_spark.operators import dedup as D

    return D.span_scrub(read_table(spark, sf_dir, "documents"), n=13)


def docs_curation_v3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch-5 capstone: span-scrub the corpus, re-score the SCRUBBED text
    with unigram-bit surprisal (vocabulary rebuilt post-scrub — boilerplate
    removal shifts the distribution, so scoring pre-scrub text would
    threshold against the wrong model), and keep documents inside the
    [1.5, 9] mean-bits band. Fully-scrubbed documents (everything was
    boilerplate) drop out, which is the point.

    Output: (doc_id, n_tokens, mean_bits, content_md5) — the md5 pins the
    scrubbed text bytes through the oracle gate."""
    from duckdb_nats_jetstream_spark.operators import dedup as D

    scrub = D.span_scrub(read_table(spark, sf_dir, "documents"), n=13).filter(
        F.col("scrubbed") != ""
    )
    tok = scrub.select(
        "doc_id", F.explode(TX.tokens(F.col("scrubbed"))).alias("token")
    )
    # shared surprisal chain — see _unigram_bit_scores (one definition
    # with text_unigram_bits; the capstone rebuilds the vocabulary over
    # the SCRUBBED text by feeding scrubbed tokens in)
    scored = _unigram_bit_scores(tok).select(
        "doc_id",
        "n_tokens",
        (
            F.col("bits_total").cast("double") / F.col("n_tokens").cast("double")
        ).alias("mean_bits"),
    )
    # The md5 join is the oracle's inner join on doc_id, written null-safe
    # against a side with NULL ids removed (same rows). An inner `=` join
    # would infer isnotnull(doc_id) and push it into the scoring side's
    # (doc_id, token) aggregate only — not into the vocabulary's copy — and
    # the two copies would no longer be one exchange to reuse.
    md5s = scrub.filter(F.col("doc_id").isNotNull()).select(
        F.col("doc_id").alias("md5_doc_id"), F.md5("scrubbed").alias("content_md5")
    )
    return (
        scored.filter((F.col("mean_bits") >= 1.5) & (F.col("mean_bits") <= 9.0))
        .join(md5s, F.col("doc_id").eqNullSafe(F.col("md5_doc_id")))
        .select("doc_id", "n_tokens", "mean_bits", "content_md5")
    )


def _span_scrub_sql() -> str:
    # the same oracle-builder shape as every sibling entry (an inline
    # __import__ expression here evaded grep and refactoring tools)
    from duckdb_nats_jetstream_spark.operators.dedup import sql_span_scrub

    return sql_span_scrub(13)


def _curation_v3_sql() -> str:
    from duckdb_nats_jetstream_spark.operators.dedup import sql_span_scrub

    return f"""
WITH scrub0 AS ({sql_span_scrub(13)}),
scrub AS (
  SELECT doc_id, scrubbed FROM scrub0 WHERE scrubbed <> ''
), tok AS (
  SELECT doc_id, unnest({TX.sql_tokens('scrubbed')}) AS token FROM scrub
), dtc AS (
  SELECT doc_id, token, count(*) AS c FROM tok GROUP BY doc_id, token
), vocab AS (
  SELECT token, sum(c) AS n FROM dtc GROUP BY token
), tot AS (
  SELECT sum(n) AS total FROM vocab
), scored AS (
  SELECT doc_id,
         CAST(sum(c) AS BIGINT) AS n_tokens,
         CAST(sum(c * CAST(length(bin(CAST(tot.total AS BIGINT) // CAST(n AS BIGINT))) - 1 AS BIGINT)) AS DOUBLE)
           / CAST(sum(c) AS DOUBLE) AS mean_bits
  FROM dtc JOIN vocab USING (token) CROSS JOIN tot
  GROUP BY doc_id
)
SELECT scored.doc_id, n_tokens, mean_bits, md5(scrub.scrubbed) AS content_md5
FROM scored JOIN scrub ON scrub.doc_id = scored.doc_id
WHERE mean_bits >= 1.5 AND mean_bits <= 9.0
"""


def multimodal_phash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual image dedup keys over REAL decoded pixels: deterministic
    PNGs synthesized from message payloads (same pattern as
    ``multimodal_resize``), dHashed by :func:`operators.multimodal.
    image_dhash` (stdlib codec decode → integer luma → 9×8 → 64-bit
    gradient hash), plus each hash's collision count — the exact-dup
    signal; near-dups go through ``dhash_near_pairs``'s banded join.
    Pixel decode is not SQL-expressible → rows-only registry check; the
    hash math itself is pinned by pytest fixtures."""
    from pyspark.sql import Window as W

    from duckdb_nats_jetstream_spark.operators.multimodal import image_dhash
    from duckdb_nats_jetstream_spark.sources import message_scan

    src = message_scan(spark, sf_dir, start_seq=1, end_seq=500).select(
        "seq", "payload"
    )

    def make_pngs(it):
        import numpy as np
        import pandas as pd

        from duckdb_nats_jetstream_spark.functions.imagecodec import png_encode

        for pdf in it:
            ids, pngs = [], []
            for seq, payload in zip(pdf["seq"], pdf["payload"]):
                b = np.frombuffer((payload or b"\x00") * 40, dtype=np.uint8)
                side = 16 + int(seq) % 7
                need = side * side * 3
                px = np.resize(b, need).reshape(side, side, 3)
                ids.append(int(seq))
                pngs.append(bytearray(png_encode(px)))
            yield pd.DataFrame({"media_id": ids, "media": pngs})

    media = src.mapInPandas(make_pngs, "media_id long, media binary")
    h = image_dhash(media)
    return h.select(
        "media_id",
        "dhash",
        F.count(F.lit(1)).over(W.partitionBy("dhash")).cast("long").alias(
            "n_same_hash"
        ),
    )


# --- daily sketch dashboard --------------------------------------------------


def scan_daily_dashboard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The sketch layer AS a serving layer: one row per day with event
    volume (exact), distinct-user estimate (HLL registers), median value
    estimate (histogram sketch), and the day's top event type — everything
    derivable from ≤ m-row per-day sketch relations that a 100 TB pipeline
    would maintain incrementally (all three sketches merge, so daily
    partials roll up without rescans; the exact columns here are the
    audit)."""
    from pyspark.sql import Window as W

    ev = read_table(spark, sf_dir, "events")
    day = F.to_date("ts").alias("day")
    vol = ev.groupBy(day).agg(F.count(F.lit(1)).alias("n_events"))
    reg, rank = HLL.register_rank_cols("user_id")
    regs = (
        ev.filter(F.col("user_id").isNotNull())
        .select(day, reg.alias("register"), rank.alias("rank"))
        .groupBy("day", "register")
        .agg(F.max("rank").alias("max_rank"))
    )
    uniq = HLL.hll_estimate(regs, "day").select(
        "day", F.col("raw_estimate").alias("uniques_est")
    )
    hist = HS.hist_bins(ev, "value", _HLO, _HHI, _HBINS, day)
    p50 = HS.hist_quantiles(hist, [0.5], _HLO, _HHI, _HBINS, "day").select(
        "day", F.col("q_0_5").alias("p50_value_est")
    )
    w = W.partitionBy("day").orderBy(F.col("n").desc(), "event_type")
    top = (
        ev.groupBy(day, F.col("event_type"))
        .agg(F.count(F.lit(1)).alias("n"))
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select("day", F.col("event_type").alias("top_type"), F.col("n").alias("top_type_n"))
    )
    return (
        vol.join(uniq, "day").join(p50, "day").join(top, "day").orderBy("day")
    )


def _daily_dashboard_sql() -> str:
    reg, rank = HLL.sql_register_rank_exprs("user_id")
    width = (_HHI - _HLO) / _HBINS
    return f"""
WITH vol AS (
  SELECT CAST(ts AS DATE) AS day, CAST(count(*) AS BIGINT) AS n_events
  FROM events GROUP BY 1
), regs AS (
  SELECT day, register, CAST(max(rank) AS BIGINT) AS max_rank FROM (
    SELECT CAST(ts AS DATE) AS day, {reg} AS register, {rank} AS rank
    FROM events WHERE user_id IS NOT NULL
  ) t GROUP BY day, register
), uniq AS (
  SELECT day,
         ((0.7213 / (1.0 + 1.079 / {float(HLL.M)})) * {float(HLL.M * HLL.M)})
           / list_reduce(
               list_prepend(CAST({HLL.M} - count(*) AS DOUBLE),
                            list(1.0 / CAST((CAST(1 AS BIGINT) << max_rank) AS DOUBLE)
                                 ORDER BY register)),
               (acc, x) -> acc + x) AS uniques_est
  FROM regs GROUP BY day
), hist AS (
  SELECT CAST(ts AS DATE) AS day,
         CAST(least(greatest(floor((CAST(value AS DOUBLE) - {_HLO!r}) / {width!r}), 0),
                    {_HBINS - 1}) AS BIGINT) AS bin,
         count(*) AS cnt
  FROM events WHERE value IS NOT NULL GROUP BY 1, 2
), htot AS (
  SELECT day, CAST(sum(cnt) AS DOUBLE) AS nd FROM hist GROUP BY day
), p50 AS (
  SELECT hist.day,
         (list_reduce(
            list_prepend({{'est': CAST(NULL AS DOUBLE), 'cum': CAST(0 AS DOUBLE),
                           'b': CAST(0 AS DOUBLE), 'c': CAST(0 AS DOUBLE),
                           'n': CAST(0 AS DOUBLE)}},
              list({{'est': CAST(NULL AS DOUBLE), 'cum': CAST(cnt AS DOUBLE),
                     'b': CAST(bin AS DOUBLE), 'c': CAST(cnt AS DOUBLE),
                     'n': htot.nd}} ORDER BY bin)),
            (acc, x) -> {{
              'est': CASE WHEN acc.est IS NOT NULL THEN acc.est
                          WHEN acc.cum + x.c > (0.5 * (x.n - 1))
                          THEN {_HLO!r} + {width!r} * (x.b + ((0.5 * (x.n - 1)) - acc.cum) / x.c)
                          ELSE CAST(NULL AS DOUBLE) END,
              'cum': acc.cum + x.c,
              'b': x.b, 'c': x.c, 'n': x.n
            }})).est AS p50_value_est
  FROM hist JOIN htot ON htot.day = hist.day
  GROUP BY hist.day, htot.nd
), top AS (
  SELECT day, event_type AS top_type, CAST(n AS BIGINT) AS top_type_n FROM (
    SELECT CAST(ts AS DATE) AS day, event_type, count(*) AS n,
           row_number() OVER (PARTITION BY CAST(ts AS DATE)
                              ORDER BY count(*) DESC, event_type) AS rn
    FROM events GROUP BY 1, 2
  ) WHERE rn = 1
)
SELECT vol.day, n_events, uniques_est, p50_value_est, top_type, top_type_n
FROM vol JOIN uniq ON uniq.day = vol.day
JOIN p50 ON p50.day = vol.day
JOIN top ON top.day = vol.day
ORDER BY vol.day
"""


# --- KMV theta-sketch set algebra --------------------------------------------


def rel_kmv_intersection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch set algebra (:mod:`operators.kmv`): estimate the overlap
    between the customers with finished ('F') and open ('O') orders from
    two ≤ k-row KMV sketches — union sketch, Jaccard from sketch
    membership, intersection = J × |A∪B| — with the exact counts as audit
    columns. This is the question HLL cannot answer (register maxima
    destroy membership) and the reason theta sketches exist.

    Scan shape: ONE pass over orders builds a per-custkey membership-flag
    relation (cached — it is |customers|-sized, not |orders|-sized); both
    sketches AND the exact-intersection audit derive from it, so the fact
    table is never rescanned (was 8 scans when every sketch/audit consumer
    re-read parquet). ``kmv_sketch`` dedups internally, so feeding it the
    pre-distinct key relation is value-identical to feeding raw orders.

    Branch fold (r14, r13 verdict ask #8): the union/match/estimate
    branches used to be three consumers over two ADDITIONALLY persisted
    ≤k-row sketches (a distinct + two broadcast semi-joins). Sketch
    membership now rides ALONG the union as presence flags — each side's
    k-smallest list is tagged, the union sketch is one (h)-keyed
    aggregation over the tagged stack, and ONE single-row aggregate
    yields n_union, the kth hash, and the both-sides match count
    (``h ∈ ka ∧ h ∈ kb`` ⇔ max(ia)·max(ib) — exactly what the semi-join
    pair tested). Two persists, one distinct exchange and two broadcast
    builds gone; values identical."""
    from duckdb_nats_jetstream_spark.operators import kmv as KMV

    orders = read_table(spark, sf_dir, "orders")
    ck = (
        orders.groupBy("o_custkey")
        .agg(
            F.max(F.col("o_orderstatus") == "F").alias("in_a"),
            F.max(F.col("o_orderstatus") == "O").alias("in_b"),
        )
    )
    ka = KMV.kmv_sketch(ck.filter("in_a"), "o_custkey")
    kb = KMV.kmv_sketch(ck.filter("in_b"), "o_custkey")
    stats = KMV.kmv_intersection_stats(KMV.kmv_union_with_membership(ka, kb))
    exact = ck.filter("in_a AND in_b").agg(
        F.count(F.lit(1)).cast("long").alias("exact_inter")
    )
    jac = F.col("n_match").cast("double") / F.col("n_union").cast("double")
    out = (
        stats.crossJoin(F.broadcast(exact))
        .select(
            "n_union",
            "n_match",
            "est_union",
            jac.alias("jaccard_est"),
            (jac * F.col("est_union")).alias("inter_est"),
            "exact_inter",
        )
    )
    with cached(ck):
        return out.localCheckpoint(eager=True)


def _kmv_intersection_sql() -> str:
    from duckdb_nats_jetstream_spark.operators import kmv as KMV

    a_tbl = "(SELECT o_custkey FROM orders WHERE o_orderstatus = 'F') ta"
    b_tbl = "(SELECT o_custkey FROM orders WHERE o_orderstatus = 'O') tb"
    return f"""
WITH ka AS ({KMV.sql_kmv_sketch("o_custkey", a_tbl)}),
kb AS ({KMV.sql_kmv_sketch("o_custkey", b_tbl)}),
ku AS (
  SELECT DISTINCT h FROM (SELECT h FROM ka UNION ALL SELECT h FROM kb) u
  ORDER BY h LIMIT {KMV.K}
), est_u AS ({KMV.sql_kmv_estimate("ku")}),
m AS (
  SELECT CAST(count(*) AS BIGINT) AS n_match
  FROM ku
  WHERE h IN (SELECT h FROM ka) AND h IN (SELECT h FROM kb)
), ex AS (
  SELECT CAST(count(*) AS BIGINT) AS exact_inter FROM (
    SELECT DISTINCT o_custkey FROM orders WHERE o_orderstatus = 'F'
    INTERSECT
    SELECT DISTINCT o_custkey FROM orders WHERE o_orderstatus = 'O'
  ) i
)
SELECT est_u.n_sketch AS n_union, m.n_match, est_u.estimate AS est_union,
       CAST(m.n_match AS DOUBLE) / CAST(est_u.n_sketch AS DOUBLE) AS jaccard_est,
       (CAST(m.n_match AS DOUBLE) / CAST(est_u.n_sketch AS DOUBLE)) * est_u.estimate
         AS inter_est,
       ex.exact_inter
FROM est_u CROSS JOIN m CROSS JOIN ex
"""


# --- hopping-window rollup ---------------------------------------------------


def scan_hopping_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type event counts/volumes over HOPPING windows (1 h length,
    30 min slide — each event lands in exactly 2 overlapping windows).
    Spark-first this is just ``F.window(ts, '1 hour', '30 minutes')`` — the
    same construct Structured Streaming would run with a watermark; the
    oracle has no hopping-window primitive and derives the two member
    windows per event from epoch-slot integer arithmetic (identical
    alignment: Spark windows anchor to the 1970 epoch on the slide grid).

    Scale shape: one hash aggregation; the window expansion is row-local
    (factor = length/slide), so shuffle volume is 2× events pre-combine —
    map-side partials reduce it to windows × types per partition."""
    ev = read_table(spark, sf_dir, "events")
    win = F.window("ts", "1 hour", "30 minutes")
    return (
        ev.groupBy(win.alias("win"), F.col("event_type"))
        .agg(F.count(F.lit(1)).alias("n"), EX.dsum("value", "sum_value"))
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            "event_type",
            "n",
            "sum_value",
        )
        .orderBy("window_start", "event_type")
    )


_SLIDE_US = 30 * 60 * 1_000_000

HOPPING_ROLLUP_SQL = f"""
WITH slotted AS (
  SELECT event_type, value, epoch_us(ts) // {_SLIDE_US} AS slot FROM events
), expanded AS (
  SELECT event_type, value, unnest([slot, slot - 1]) AS wslot FROM slotted
)
SELECT make_timestamp(wslot * {_SLIDE_US}) AS window_start,
       make_timestamp((wslot + 2) * {_SLIDE_US}) AS window_end,
       event_type,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
FROM expanded
GROUP BY wslot, event_type
ORDER BY window_start, event_type
"""


# --- cumulative uniques via HLL register algebra -----------------------------


def scan_cumulative_uniques(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative distinct users per day — the DAU-to-date curve — computed
    with HLL register ALGEBRA instead of a growing distinct set: daily
    register tables, then a per-register running ``max`` over days (the
    sketch-union of all days so far), then one estimate per day. State per
    day is ≤ m register rows regardless of user count; the exact cumulative
    count rides along as the audit (computable cheaply here via each user's
    first-seen day, which is itself the scalable exact formulation).

    Shuffle shape: one (day, register) aggregation (≤ m rows per partition
    per day), one 256-row-per-day window, one first-seen aggregation on
    user_id. Nothing scales with raw event count except the initial maps."""
    from pyspark.sql import Window as W

    ev = read_table(spark, sf_dir, "events")
    reg, rank = HLL.register_rank_cols("user_id")
    # cached: ≤ m×days rows, consumed three times (grid days, grid
    # registers, the fill join) — uncached each consumer re-scans events
    daily = (
        ev.filter(F.col("user_id").isNotNull())
        .select(
            F.to_date("ts").alias("day"), reg.alias("register"), rank.alias("rank")
        )
        .groupBy("day", "register")
        .agg(F.max("rank").alias("max_rank"))
    )
    # dense (day × observed-register) grid so a register seen on day 1 but
    # silent on day 3 still carries into day 3's cumulative sketch
    days = daily.select("day").distinct()
    regs = daily.select("register").distinct()
    grid = days.crossJoin(F.broadcast(regs))
    filled = grid.join(daily, ["day", "register"], "left")
    w = W.partitionBy("register").orderBy("day")
    cum = filled.select(
        "day",
        "register",
        F.max("max_rank")
        .over(w.rowsBetween(W.unboundedPreceding, 0))
        .alias("max_rank"),
    ).filter(F.col("max_rank").isNotNull())
    est = HLL.hll_estimate(cum, "day")
    first_seen = ev.groupBy("user_id").agg(F.min(F.to_date("ts")).alias("day"))
    new_users = first_seen.groupBy("day").agg(F.count(F.lit(1)).alias("new_users"))
    # dense over ALL observed days: a day where no user appears for the
    # first time still has a cumulative count (carry-forward via coalesce 0)
    exact = days.join(new_users, "day", "left").select(
        "day",
        F.sum(F.coalesce(F.col("new_users"), F.lit(0)))
        .over(W.orderBy("day").rowsBetween(W.unboundedPreceding, 0))
        .cast("long")
        .alias("exact_cum"),
    )
    out = est.join(exact, "day").orderBy("day")
    with cached(daily):
        return out.localCheckpoint(eager=True)


def _cumulative_uniques_sql() -> str:
    reg, rank = HLL.sql_register_rank_exprs("user_id")
    return f"""
WITH daily AS (
  SELECT CAST(day AS DATE) AS day, CAST(register AS BIGINT) AS register,
         CAST(max(rank) AS BIGINT) AS max_rank
  FROM (
    SELECT CAST(ts AS DATE) AS day, {reg} AS register, {rank} AS rank
    FROM events WHERE user_id IS NOT NULL
  ) t GROUP BY 1, 2
), grid AS (
  SELECT d.day, r.register
  FROM (SELECT DISTINCT day FROM daily) d
  CROSS JOIN (SELECT DISTINCT register FROM daily) r
), cum AS (
  SELECT g.day, g.register,
         max(daily.max_rank) OVER (PARTITION BY g.register ORDER BY g.day
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS max_rank
  FROM grid g LEFT JOIN daily ON daily.day = g.day AND daily.register = g.register
), cum2 AS (
  SELECT day, register, max_rank FROM cum WHERE max_rank IS NOT NULL
), est AS (
  SELECT day,
         CAST({HLL.M} AS BIGINT) AS m,
         CAST(count(*) AS BIGINT) AS n_present,
         CAST({HLL.M} - count(*) AS BIGINT) AS n_zero,
         list_reduce(
           list_prepend(CAST({HLL.M} - count(*) AS DOUBLE),
                        list(1.0 / CAST((CAST(1 AS BIGINT) << max_rank) AS DOUBLE)
                             ORDER BY register)),
           (acc, x) -> acc + x) AS denom
  FROM cum2 GROUP BY day
), first_seen AS (
  SELECT user_id, min(CAST(ts AS DATE)) AS day FROM events GROUP BY user_id
), new_users AS (
  SELECT day, count(*) AS n FROM first_seen GROUP BY day
), exact AS (
  SELECT d.day,
         CAST(sum(coalesce(new_users.n, 0)) OVER (ORDER BY d.day
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS exact_cum
  FROM (SELECT DISTINCT day FROM daily) d
  LEFT JOIN new_users ON new_users.day = d.day
)
SELECT est.day, m, n_present, n_zero, denom,
       ((0.7213 / (1.0 + 1.079 / {float(HLL.M)})) * {float(HLL.M * HLL.M)}) / denom
         AS raw_estimate,
       exact.exact_cum
FROM est JOIN exact ON est.day = exact.day
ORDER BY est.day
"""


# --- near-dup graph triangles ------------------------------------------------


def dedup_graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structure audit of the near-dup graph: edges (LSH pairs), monotone
    2-paths (a<b<c with edges ab, bc), and triangles (2-paths whose closing
    edge ac exists). The closure ratio separates chain-like duplication
    (scrape drift: low closure) from clique-like duplication (mirrored
    corpora: high closure) — which predicts whether component-based pruning
    collapses too much or too little.

    Shuffle shape: the canonical (a<b) edge relation is small (near-dup
    pairs, not the corpus); triangles are two hash joins on it — the
    standard distributed triangle count (node-iterator join form)."""
    from duckdb_nats_jetstream_spark.operators import dedup as D

    edges = (
        D.minhash_lsh_pairs(
            read_table(spark, sf_dir, "documents"), k=8, band_size=2, threshold=0.2
        )
        .select("id_a", "id_b")
    )
    wedges = edges.alias("ab").join(
        edges.alias("bc"), F.col("ab.id_b") == F.col("bc.id_a")
    )
    triangles = wedges.join(
        edges.alias("ac"),
        (F.col("ac.id_a") == F.col("ab.id_a"))
        & (F.col("ac.id_b") == F.col("bc.id_b")),
    )
    # one lazy plan (three 1-row aggregates broadcast-crossed), no eager
    # driver counts — the whole cost stays inside whatever sink runs it
    ce = edges.agg(F.count(F.lit(1)).alias("n_edges"))
    cw = wedges.agg(F.count(F.lit(1)).alias("n_wedges"))
    ct = triangles.agg(F.count(F.lit(1)).alias("n_triangles"))
    return (
        ce.crossJoin(F.broadcast(cw))
        .crossJoin(F.broadcast(ct))
        .select(
            "n_edges",
            "n_wedges",
            "n_triangles",
            F.when(
                F.col("n_wedges") > 0,
                F.col("n_triangles").cast("double")
                / F.col("n_wedges").cast("double"),
            ).alias("closure"),
        )
    )


def _triangles_sql() -> str:
    from duckdb_nats_jetstream_spark.queries.pipeline import _minhash_lsh_sql

    return f"""
WITH edges AS (
  SELECT id_a, id_b FROM ({_minhash_lsh_sql()}) mp
), wedges AS (
  SELECT ab.id_a AS a, ab.id_b AS b, bc.id_b AS c
  FROM edges ab JOIN edges bc ON ab.id_b = bc.id_a
), tri AS (
  SELECT w.a, w.b, w.c
  FROM wedges w JOIN edges ac ON ac.id_a = w.a AND ac.id_b = w.c
)
SELECT (SELECT CAST(count(*) AS BIGINT) FROM edges) AS n_edges,
       (SELECT CAST(count(*) AS BIGINT) FROM wedges) AS n_wedges,
       (SELECT CAST(count(*) AS BIGINT) FROM tri) AS n_triangles,
       CASE WHEN (SELECT count(*) FROM wedges) = 0 THEN NULL
            ELSE CAST((SELECT count(*) FROM tri) AS DOUBLE)
                 / CAST((SELECT count(*) FROM wedges) AS DOUBLE) END AS closure
"""


# --- session path mining -----------------------------------------------------


def scan_path_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-15 user-journey paths: gap-sessionize the event log (>30 min
    silence per user = new session, the same assignment
    ``scan_sessionization`` proves), render each session's ordered
    event-type sequence as a path string, count path frequencies.

    Shuffle shape: the session window shuffles on user_id (same as
    sessionization); the path aggregation shuffles (user, session) — tiny;
    the frequency count shuffles the path strings (combiner-reduced to the
    distinct-path relation). Ordering inside a session is total (ts, then
    event_id), so the path string is deterministic cross-engine."""
    ev = read_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type"
    )
    from pyspark.sql import Window as W

    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    sess = (
        ev.withColumn("prev_ts", F.lag("ts").over(w))
        .withColumn(
            "is_new",
            F.when(
                F.col("prev_ts").isNull()
                | (F.col("ts") > F.col("prev_ts") + F.expr("INTERVAL 30 MINUTES")),
                F.lit(1),
            ).otherwise(F.lit(0)),
        )
        .withColumn(
            "session_no",
            F.sum("is_new").over(w.rowsBetween(W.unboundedPreceding, 0)),
        )
    )
    paths = sess.groupBy("user_id", "session_no").agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("ts", "event_id", "event_type"))
                ),
                lambda x: x["event_type"],
            ),
            ">",
        ).alias("path")
    )
    return (
        paths.groupBy("path")
        .agg(F.count(F.lit(1)).alias("n_sessions"))
        .orderBy(F.col("n_sessions").desc(), "path")
        .limit(15)
    )


PATH_MINING_SQL = """
WITH flagged AS (
  SELECT *, CASE WHEN prev_ts IS NULL
                   OR ts > prev_ts + INTERVAL '30 minutes'
            THEN 1 ELSE 0 END AS is_new
  FROM (SELECT user_id, ts, event_id, event_type,
               lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
        FROM events) t
), numbered AS (
  SELECT *, sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_no
  FROM flagged
), paths AS (
  SELECT user_id, session_no,
         string_agg(event_type, '>' ORDER BY ts, event_id) AS path
  FROM numbered GROUP BY user_id, session_no
)
SELECT path, count(*) AS n_sessions
FROM paths GROUP BY path
ORDER BY n_sessions DESC, path
LIMIT 15
"""


# --- product quantization ANN ------------------------------------------------


def sim_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ADC top-k (:mod:`operators.pq`): the corpus
    compresses to m=8 one-byte codes per vector; queries rank candidates by
    lookup-table distance without touching original vectors. The oracle
    re-trains the identical deterministic per-subspace codebooks and embeds
    them as SQL literals — same pattern as ``sim_ivf_topk``."""
    from duckdb_nats_jetstream_spark.operators import pq as PQ

    return PQ.pq_topk(
        read_table(spark, sf_dir, "embeddings"), query_max_id=10, k=5
    )


def _pq_sql() -> str | None:
    import os

    from duckdb_nats_jetstream_spark.operators import pq as PQ

    return PQ.sql_pq_topk(
        os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01"),
        query_max_id=10,
        k=5,
    )


QUERIES = {
    "text_unigram_bits": (text_unigram_bits, UNIGRAM_BITS_SQL),
    "scan_funnel": (scan_funnel, FUNNEL_SQL),
    "scan_funnel_windowed": (scan_funnel_windowed, FUNNEL_WINDOWED_SQL),
    "rel_hll_counts": (rel_hll_counts, HLL_COUNTS_SQL),
    "rel_mad_outliers": (rel_mad_outliers, MAD_OUTLIERS_SQL),
    "rel_hist_quantiles": (rel_hist_quantiles, HIST_QUANTILES_SQL),
    "text_pmi_topk": (text_pmi_topk, PMI_TOPK_SQL),
    "sim_pq_topk": (sim_pq_topk, _pq_sql),
    "scan_path_mining": (scan_path_mining, PATH_MINING_SQL),
    "scan_hopping_rollup": (scan_hopping_rollup, HOPPING_ROLLUP_SQL),
    "rel_kmv_intersection": (rel_kmv_intersection, _kmv_intersection_sql()),
    "scan_daily_dashboard": (scan_daily_dashboard, _daily_dashboard_sql()),
    "docs_curation_v3": (docs_curation_v3, _curation_v3_sql()),
    "multimodal_phash": (multimodal_phash, None),
    "docs_span_scrub": (docs_span_scrub, _span_scrub_sql()),
    "scan_cumulative_uniques": (scan_cumulative_uniques, _cumulative_uniques_sql()),
    "dedup_graph_triangles": (dedup_graph_triangles, _triangles_sql()),
}
