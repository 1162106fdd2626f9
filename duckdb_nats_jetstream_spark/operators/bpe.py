"""Byte-pair-encoding merge induction over a corpus — tokenizer vocabulary
training as a data-pipeline operator (Sennrich et al. 2016) — plus the
apply side: re-encoding the corpus with the learned merges.

The classic algorithm runs on the corpus's **word-frequency table**, not the
raw corpus: one corpus-scale aggregation builds ``(word, count)``, and every
merge round after that runs on the vocabulary relation (≪ corpus; a 100 TB
corpus has a few-million-row vocab). Per round:

  1. count adjacent symbol pairs, weighted by word count (one hash agg on
     the pair string);
  2. pick the most frequent pair — deterministic tie-break on the pair
     string; this 1-row result is the round's only driver materialization;
  3. apply the merge everywhere via literal string replacement on a
     delimiter-wrapped symbol encoding (see below) — map-only.

Symbol encoding: a word's symbol sequence is rendered as ``<s1><s2>...``.
Wrapping every symbol in ``<`` ``>`` makes the merge a plain substring
replacement — the pattern ``<a><b>`` can never straddle a symbol boundary,
and left-to-right non-overlapping ``replace`` (identical semantics in Spark
and DuckDB, verified) reproduces BPE's greedy merge order exactly (e.g. the
pair (a,a) on ``aaa`` → ``aa a``, not ``a aa``). Words containing the
delimiter characters are dropped by an explicit guard — a REAL filter on
corpora whose text can contain ``<``/``>`` (normalization only lowercases
and collapses whitespace); on this synthetic corpus every word is
``[a-z0-9]`` so nothing is dropped. The guard is mirrored in the oracle,
so the two engines always agree on the surviving vocabulary.

Applying the tokenizer (:func:`bpe_token_counts`) is one join: the corpus's
exploded tokens against the vocabulary's post-merge symbol counts — the
standard deployment shape (the trained tokenizer is a word→pieces lookup;
the corpus never re-runs the merges).

Cross-engine exactness: counts are integer sums; the argmax is ORDER BY
(count DESC, pair) both sides; replacement strings are byte-identical — no
floats anywhere.

Reference scope note: beyond the reference extension (scan + extraction
only, ref:src/nats_scan.cpp:700-790); north-star tokenizer-induction
surface of a training-data pipeline.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from duckdb_nats_jetstream_spark.functions.text import (
    shingles,
    sql_norm,
    sql_shingles,
    tokens,
)
from duckdb_nats_jetstream_spark.tables import cached, spread

_SYMS = "regexp_extract_all(seq, '<([^>]*)>', 1)"


def _encode(word: F.Column) -> F.Column:
    return F.concat(
        F.lit("<"), F.array_join(F.split(word, ""), "><"), F.lit(">")
    )


def _pair_counts(enc: DataFrame) -> DataFrame:
    """(pair, n) — adjacent symbol pairs weighted by word count; the pair
    key is ``"a b"`` (symbols never contain spaces: words are space-split)."""
    return (
        enc.select("cnt", F.expr(_SYMS).alias("syms"))
        .select("cnt", F.explode(shingles(F.col("syms"), 2)).alias("pair"))
        .groupBy("pair")
        .agg(F.sum("cnt").alias("n"))
    )


def _encoded_vocab(df: DataFrame, text_col: str) -> DataFrame:
    """``(w, cnt, seq)`` — the character-encoded vocabulary every training
    round reads; callers cache it around :func:`_learn_merges`."""
    vocab = (
        spread(df)
        .select(F.explode(tokens(F.col(text_col))).alias("w"))
        .filter((F.col("w") != "") & ~F.col("w").rlike("[<>]"))
        .groupBy("w")
        .agg(F.count("*").alias("cnt"))
    )
    return vocab.select("w", "cnt", _encode(F.col("w")).alias("seq"))


def _learn_merges(
    base: DataFrame, rounds: int
) -> tuple[DataFrame, list[tuple[str, int]]]:
    """Shared training core over the cached vocabulary ``base`` from
    :func:`_encoded_vocab`: returns ``(enc, merges)`` — the post-merge
    encoded vocabulary ``enc`` (a lazy chain of per-round replaces over
    ``base``) and the chosen ``(pair, n)`` merges in order.

    r13 optimization: the corpus-scale work is the ONE vocab aggregation,
    cached once. Each round's replace is a row-local string op over
    that cached relation, so the per-round ``persist → count → unpersist
    parent`` lifecycle (one extra materialization job per round) is
    replaced by a lazy projection chain — round r's pair-count pass
    re-applies r cheap replaces against the cache instead of paying a
    full materialization barrier per round. Guide §1.2: remove passes
    first; §5: cache only what is reused (the base is, the per-round
    frames are not).

    Small-rounds assumption (r13 ADVICE): the lazy chain makes round r
    re-apply r replaces, i.e. O(rounds²) row-local replace work total,
    and the plan's expression depth grows with rounds — fine at the
    registry's rounds=3 and cheap next to a materialization barrier up
    to a few dozen rounds, but a large-rounds caller should
    re-materialize the chain every N rounds (localCheckpoint ``enc`` and
    continue from it) to cap both the replay and the codegen depth."""
    enc = base
    merges: list[tuple[str, int]] = []
    for _ in range(rounds):
        best = (
            _pair_counts(enc)
            .orderBy(F.col("n").desc(), F.col("pair"))
            .limit(1)
            .collect()
        )
        if not best:
            break
        pair, n = best[0].pair, best[0].n
        merges.append((pair, n))
        a, b = pair.split(" ", 1)
        enc = enc.select(
            "w",
            "cnt",
            F.replace(
                F.col("seq"), F.lit(f"<{a}><{b}>"), F.lit(f"<{a}{b}>")
            ).alias("seq"),
        )
    return enc, merges


def bpe_merge_table(
    df: DataFrame,
    rounds: int = 3,
    top_k: int = 10,
    text_col: str = "text",
) -> DataFrame:
    """Run ``rounds`` BPE merge rounds; return the learned merges plus the
    ``top_k`` most frequent pairs still unmerged afterwards:
    ``(step, rank, pair, n_occ)`` — steps 1..rounds are the chosen merges
    (rank 1), step rounds+1 holds the final top-k frontier.

    Scale: the vocab aggregation is the single corpus-scale shuffle; each
    round adds one hash agg + one map over the vocab relation and collects
    exactly ONE row.
    """
    spark = df.sparkSession
    base = _encoded_vocab(df, text_col)
    with cached(base):
        enc, merges = _learn_merges(base, rounds)
        frontier = (
            _pair_counts(enc)
            .orderBy(F.col("n").desc(), F.col("pair"))
            .limit(top_k)
            .collect()
        )
    out_rows = [(r + 1, 1, pair, n) for r, (pair, n) in enumerate(merges)]
    out_rows += [
        (rounds + 1, i + 1, row.pair, row.n) for i, row in enumerate(frontier)
    ]
    return spark.createDataFrame(
        out_rows, "step int, rank int, pair string, n_occ long"
    )


def bpe_token_counts(
    df: DataFrame,
    rounds: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Apply the learned tokenizer to the corpus: per document,
    ``(doc_id, n_words, n_chars, n_tokens)`` where ``n_tokens`` sums the
    post-merge symbol counts of the document's words and ``n_chars`` the
    pre-merge (character-level) counts — ``n_chars - n_tokens`` is exactly
    the number of merge applications, the compression the tokenizer buys.

    Scale shape: training cost as in :func:`bpe_merge_table`; application
    is ONE join of the corpus's exploded tokens against the word→n_syms
    vocabulary relation (the deployment lookup) plus a per-doc hash agg —
    the merges never re-run over the corpus.
    """
    base = _encoded_vocab(df, text_col)
    with cached(base):
        enc, _ = _learn_merges(base, rounds)
        word_syms = enc.select(
            "w",
            F.size(F.expr(_SYMS)).cast("long").alias("n_syms"),
            F.length("w").cast("long").alias("n_ch"),
        )
        exploded = spread(df).select(
            F.col(id_col), F.explode(tokens(F.col(text_col))).alias("w")
        ).filter((F.col("w") != "") & ~F.col("w").rlike("[<>]"))
        out = (
            exploded.join(word_syms, "w")
            .groupBy(id_col)
            .agg(
                F.count("*").alias("n_words"),
                F.sum("n_ch").alias("n_chars"),
                F.sum("n_syms").alias("n_tokens"),
            )
        )
        return out.localCheckpoint(eager=True)


def _sql_merge_ctes(rounds: int, table: str, text_col: str) -> tuple[str, str]:
    """The unrolled training CTE chain; returns ``(cte_sql, final_enc)``.
    Each ``enc{r}`` carries ``(w, cnt, seq)`` so apply-side mirrors can
    join the final encoding back to the corpus."""
    syms = "regexp_extract_all(seq, '<([^>]*)>', 1)"
    pair_cte = (
        "SELECT pair, SUM(cnt) AS n FROM ("
        f"SELECT cnt, unnest({sql_shingles(syms, 2)}) AS pair FROM ENC"
        ") GROUP BY pair"
    )
    parts = [
        f"""
vocab AS (
  SELECT w, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM (SELECT unnest(string_split({sql_norm(text_col)}, ' ')) AS w FROM {table})
  WHERE w <> '' AND NOT regexp_matches(w, '[<>]')
  GROUP BY w
),
enc0 AS (
  SELECT w, cnt, '<' || array_to_string(string_split(w, ''), '><') || '>' AS seq
  FROM vocab
)"""
    ]
    for r in range(1, rounds + 1):
        prev = f"enc{r - 1}"
        parts.append(
            # LEFT JOIN ON TRUE, not a cross join: when the corpus exhausts
            # its merge pairs before `rounds` (every word fully merged),
            # b{r} is EMPTY — a cross join would wipe enc{r} and cascade an
            # empty vocabulary through every later round, while the Spark
            # twin breaks out of the loop keeping the encoding intact. A
            # NULL pair makes the round a no-op, matching that break.
            f"p{r} AS ({pair_cte.replace('ENC', prev)}),\n"
            f"b{r} AS (SELECT pair, n FROM p{r} ORDER BY n DESC, pair LIMIT 1),\n"
            f"enc{r} AS (\n"
            f"  SELECT w, cnt, CASE WHEN b{r}.pair IS NULL THEN seq ELSE replace(seq,\n"
            f"    '<' || string_split(b{r}.pair, ' ')[1] || '><' || string_split(b{r}.pair, ' ')[2] || '>',\n"
            f"    '<' || string_split(b{r}.pair, ' ')[1] || string_split(b{r}.pair, ' ')[2] || '>') END AS seq\n"
            f"  FROM {prev} LEFT JOIN b{r} ON TRUE\n"
            f")"
        )
    return ",".join(parts), f"enc{rounds}"


def sql_bpe_merge_table(
    rounds: int = 3,
    top_k: int = 10,
    table: str = "documents",
    text_col: str = "text",
) -> str:
    """DuckDB mirror with the merge rounds unrolled as CTEs (the chosen
    pair is a 1-row CTE cross-joined into the next round's replacement)."""
    syms = "regexp_extract_all(seq, '<([^>]*)>', 1)"
    pair_cte = (
        "SELECT pair, SUM(cnt) AS n FROM ("
        f"SELECT cnt, unnest({sql_shingles(syms, 2)}) AS pair FROM ENC"
        ") GROUP BY pair"
    )
    ctes, final_enc = _sql_merge_ctes(rounds, table, text_col)
    final_pairs = pair_cte.replace("ENC", final_enc)
    merge_rows = "\nUNION ALL\n".join(
        f"SELECT {r} AS step, 1 AS rank, pair, CAST(n AS BIGINT) AS n_occ FROM b{r}"
        for r in range(1, rounds + 1)
    )
    return f"""
WITH {ctes},
frontier AS (
  SELECT {rounds + 1} AS step,
         CAST(row_number() OVER (ORDER BY n DESC, pair) AS INT) AS rank,
         pair, CAST(n AS BIGINT) AS n_occ
  FROM ({final_pairs})
  ORDER BY n DESC, pair LIMIT {top_k}
)
{merge_rows}
UNION ALL
SELECT step, rank, pair, n_occ FROM frontier
"""


def sql_bpe_token_counts(
    rounds: int = 3,
    table: str = "documents",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> str:
    """DuckDB mirror of :func:`bpe_token_counts` — same training CTEs, then
    the word→n_syms lookup joined to the corpus's exploded tokens."""
    syms = "regexp_extract_all(seq, '<([^>]*)>', 1)"
    ctes, final_enc = _sql_merge_ctes(rounds, table, text_col)
    return f"""
WITH {ctes},
word_syms AS (
  SELECT w,
         CAST(len({syms}) AS BIGINT) AS n_syms,
         CAST(length(w) AS BIGINT) AS n_ch
  FROM {final_enc}
),
exploded AS (
  SELECT {id_col}, w FROM (
    SELECT {id_col}, unnest(string_split({sql_norm(text_col)}, ' ')) AS w
    FROM {table}
  ) WHERE w <> '' AND NOT regexp_matches(w, '[<>]')
)
SELECT e.{id_col},
       COUNT(*) AS n_words,
       CAST(SUM(s.n_ch) AS BIGINT) AS n_chars,
       CAST(SUM(s.n_syms) AS BIGINT) AS n_tokens
FROM exploded e JOIN word_syms s USING (w)
GROUP BY e.{id_col}
"""
