"""Operator-level invariants for the retrieval family (BM25 + RRF).

The registry queries (``text_bm25_topk`` / ``sim_hybrid_rrf``) are
oracle-checked by the driver; these tests pin the operator semantics on
constructed inputs where the expected values are computable by hand.
"""

from __future__ import annotations

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from duckdb_nats_jetstream_spark.operators import retrieval as R


def _py_bm25(texts: list[str], terms: list[str], k1=1.5, b=0.75) -> list[float]:
    """Pure-Python mirror of bm25_scored — SAME operation order, so the
    expected doubles are bit-identical, not approximately equal."""
    toks = [t.split(" ") for t in texts]
    n = len(texts)
    dls = [len(tk) for tk in toks]
    avgdl = float(sum(dls)) / n
    dfs = [sum(1 for tk in toks if term in tk) for term in terms]
    out = []
    for tk, dl in zip(toks, dls):
        score = 0.0
        for term, df in zip(terms, dfs):
            tf = sum(1 for x in tk if x == term)
            idf = (n - df + 0.5) / (df + 0.5)
            denom = tf + k1 * ((1.0 - b) + b * (dl / avgdl))
            score = score + idf * (tf * (k1 + 1.0)) / denom
        out.append(score)
    return out


def test_bm25_matches_python_reference_bit_exact(spark):
    texts = [
        "alpha beta beta gamma",
        "alpha alpha alpha",
        "delta epsilon zeta eta theta",
        "beta",
        "gamma gamma gamma gamma beta alpha",
    ]
    terms = ["alpha", "beta"]
    docs = spark.createDataFrame(
        [Row(doc_id=i, text=t) for i, t in enumerate(texts)]
    )
    got = {
        r.doc_id: r.score
        for r in R.bm25_scored(docs, terms).collect()
    }
    expected = _py_bm25(texts, terms)
    assert got == {i: expected[i] for i in range(len(texts))}


def test_bm25_absent_terms_score_exact_zero(spark):
    docs = spark.createDataFrame(
        [Row(doc_id=0, text="nothing relevant here"), Row(doc_id=1, text="alpha")]
    )
    scores = {r.doc_id: r.score for r in R.bm25_scored(docs, ["alpha"]).collect()}
    assert scores[0] == 0.0
    assert scores[1] > 0.0


def test_bm25_topk_rank_and_saturation(spark):
    # tf saturation: 10x the term occurrences must NOT give 10x the score
    # (the k1 denominator bounds the per-term contribution), but more
    # occurrences at equal length still rank higher.
    docs = spark.createDataFrame(
        [
            Row(doc_id=0, text="alpha alpha alpha alpha alpha alpha alpha alpha alpha alpha"),
            Row(doc_id=1, text="alpha filler filler filler filler filler filler filler filler filler"),
            Row(doc_id=2, text="filler filler filler filler filler filler filler filler filler filler"),
        ]
    )
    top = R.bm25_topk(docs, ["alpha"], topk=3).collect()
    assert [r.doc_id for r in top] == [0, 1, 2]
    assert [r.rnk for r in top] == [1, 2, 3]
    s = {r.doc_id: r.bm25_r for r in top}
    assert s[0] < 10 * s[1]  # saturated, not linear in tf
    assert s[2] == 0.0


def test_bm25_rare_term_dominates_fixture_ranking(spark, sf_dir):
    """On the driver fixtures the rare 'dup' marker has ~19x the idf of any
    common token, so every document containing it must outrank every
    document without it."""
    from duckdb_nats_jetstream_spark.tables import read_table

    docs = read_table(spark, sf_dir, "documents")
    with_dup = {
        r.doc_id
        for r in docs.filter(
            F.array_contains(F.split(F.col("text"), " "), "dup")
        ).select("doc_id").collect()
    }
    if not with_dup:  # tiny SF may not plant any dup docs
        import pytest

        pytest.skip("fixture has no 'dup' docs at this SF")
    k = min(len(with_dup), 10)
    top = R.bm25_topk(docs, ["dup", "vector", "join"], topk=k).collect()
    assert {r.doc_id for r in top} <= with_dup


def test_rrf_fuse_exact_values_and_overlap_priority(spark):
    # item 1 appears in both lists (ranks 2 and 1); items 2/3 in one each.
    a = spark.createDataFrame([Row(doc_id=2, rnk=1), Row(doc_id=1, rnk=2)])
    b = spark.createDataFrame([Row(doc_id=1, rnk=1), Row(doc_id=3, rnk=2)])
    rows = {r.doc_id: r for r in R.rrf_fuse(a, b, topk=10).collect()}
    assert rows[1].rrf_r == 1.0 / 62 + 1.0 / 61
    assert rows[2].rrf_r == 1.0 / 61
    assert rows[3].rrf_r == 1.0 / 62
    assert rows[1].lex_rnk == 2 and rows[1].vec_rnk == 1
    assert rows[2].vec_rnk is None and rows[3].lex_rnk is None
    # the doubly-listed item wins
    order = sorted(rows.values(), key=lambda r: (-r.rrf_r, r.doc_id))
    assert order[0].doc_id == 1


def test_hybrid_rrf_query_shape(spark, sf_dir):
    from duckdb_nats_jetstream_spark.queries.pipeline6 import sim_hybrid_rrf

    out = sim_hybrid_rrf(spark, sf_dir).collect()
    assert 0 < len(out) <= 10
    assert all(r.doc_id != 0 for r in out)  # the query doc never retrieves itself
    vals = [r.rrf_r for r in out]
    assert vals == sorted(vals, reverse=True)
    # every fused row carries at least one source rank
    assert all(r.lex_rnk is not None or r.vec_rnk is not None for r in out)


def test_empty_terms_is_bind_error_both_sides():
    """r10 ADVICE: an empty term set used to emit syntactically invalid
    oracle SQL while the Spark twin silently scored 0.0 — the two sides
    must fail consistently at bind time."""
    import pytest

    from duckdb_nats_jetstream_spark.errors import BindError

    for fn in (
        lambda: R.sql_bm25_scored([]),
        lambda: R.sql_bm25_phrase_scored([]),
    ):
        with pytest.raises(BindError, match="at least one term"):
            fn()
    with pytest.raises(BindError, match="at least one term"):
        R.bm25_scored(None, [])  # raises before touching the DataFrame
    with pytest.raises(BindError, match="at least one term"):
        R.bm25_phrase_scored(None, [])


def test_phrase_tf_counts_consecutive_occurrences_only(spark):
    """'fast scan' must match consecutive tokens (twice in doc 0 via
    overlap-free restarts), never the unordered co-occurrence in doc 1;
    docs shorter than the phrase take the empty-ngram branch."""
    docs = spark.createDataFrame(
        [
            Row(doc_id=0, text="fast scan fast scan join"),
            Row(doc_id=1, text="scan somewhere fast"),
            Row(doc_id=2, text="fast"),
            Row(doc_id=3, text=""),
        ]
    )
    scored = {
        r.doc_id: r.score
        for r in R.bm25_phrase_scored(docs, ["fast scan"]).collect()
    }
    assert scored[0] > 0.0
    assert scored[1] == 0.0 and scored[2] == 0.0 and scored[3] == 0.0


def test_phrase_scored_matches_duckdb_mirror_bit_exact(spark):
    import duckdb

    rows = [
        (0, "fast scan fast scan join"),
        (1, "fast join table scan"),
        (2, "hash join hash join hash join"),
        (3, "x"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = sorted(
        (r.doc_id, r.score)
        for r in R.bm25_phrase_scored(docs, ["fast scan", "hash join"]).collect()
    )
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE documents AS SELECT * FROM (VALUES "
        + ", ".join(f"({i}, '{t}')" for i, t in rows)
        + ") t(doc_id, text)"
    )
    want = sorted(
        con.execute(R.sql_bm25_phrase_scored(["fast scan", "hash join"])).fetchall()
    )
    assert got == want  # bit-exact, not approx


def test_rrf_fuse_many_three_way_exact(spark):
    a = spark.createDataFrame([(1, 1), (2, 2)], "doc_id long, rnk long")
    b = spark.createDataFrame([(2, 1), (3, 2)], "doc_id long, rnk long")
    c = spark.createDataFrame([(3, 1), (1, 2)], "doc_id long, rnk long")
    out = R.rrf_fuse_many(
        [
            (a, "doc_id", "rnk", "lex_rnk"),
            (b, "doc_id", "rnk", "vec_rnk"),
            (c, "doc_id", "rnk", "phr_rnk"),
        ],
        rrf_k=60,
        topk=3,
    ).collect()
    assert [r.doc_id for r in out] == [1, 2, 3]  # equal scores → id tiebreak
    by_id = {r.doc_id: r for r in out}
    assert by_id[1].lex_rnk == 1 and by_id[1].vec_rnk is None and by_id[1].phr_rnk == 2
    # every doc appears in exactly two lists at ranks {1,2} → identical sums
    expect = 1.0 / 61 + 1.0 / 62
    assert all(r.rrf_r == expect for r in out)


def test_rrf_fuse_many_validates_names_and_arity(spark):
    import pytest

    from duckdb_nats_jetstream_spark.errors import BindError

    a = spark.createDataFrame([(1, 1)], "doc_id long, rnk long")
    with pytest.raises(BindError, match="at least two"):
        R.rrf_fuse_many([(a, "doc_id", "rnk", "lex_rnk")])
    with pytest.raises(BindError, match="distinct"):
        R.rrf_fuse_many(
            [(a, "doc_id", "rnk", "r1"), (a, "doc_id", "rnk", "r1")]
        )
    with pytest.raises(BindError, match="distinct"):
        R.rrf_fuse_many(
            [(a, "doc_id", "rnk", "doc_id"), (a, "doc_id", "rnk", "r2")]
        )


def test_rrf_fuse_wrapper_unchanged_shape(spark):
    """rrf_fuse now delegates to rrf_fuse_many — same columns, same values
    as the r10 contract (lex_rnk, vec_rnk names, coalesced 0 contribution)."""
    a = spark.createDataFrame([(1, 1), (2, 2)], "doc_id long, rnk long")
    b = spark.createDataFrame([(2, 1), (9, 2)], "nid long, rnk long")
    out = R.rrf_fuse(a, b, id_b="nid", topk=3)
    assert out.columns == ["doc_id", "lex_rnk", "vec_rnk", "rrf_r"]
    by_id = {r.doc_id: r for r in out.collect()}
    assert by_id[2].rrf_r == 1.0 / 62 + 1.0 / 61
    assert by_id[1].rrf_r == 1.0 / 61 and by_id[1].vec_rnk is None


def test_quoted_term_is_sql_safe_and_parity_exact(spark):
    """A term containing a single quote is matchable on the Spark side
    (normalization keeps apostrophes), so the oracle must escape it, not
    emit broken SQL."""
    import duckdb

    rows = [(0, "don't panic"), (1, "dont panic"), (2, "panic")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = sorted(
        (r.doc_id, r.score) for r in R.bm25_scored(docs, ["don't"]).collect()
    )
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE documents AS SELECT * FROM (VALUES "
        "(0, 'don''t panic'), (1, 'dont panic'), (2, 'panic')"
        ") t(doc_id, text)"
    )
    want = sorted(con.execute(R.sql_bm25_scored(["don't"])).fetchall())
    assert got == want
    assert got[0][1] > 0.0  # doc 0 actually matched


def test_id_col_collision_with_internal_names_is_bind_error(spark):
    import pytest

    from duckdb_nats_jetstream_spark.errors import BindError

    docs = spark.createDataFrame([(0, "a b")], "dl long, text string")
    with pytest.raises(BindError, match="collides"):
        R.bm25_scored(docs, ["a"], id_col="dl")
    with pytest.raises(BindError, match="collides"):
        R.bm25_phrase_scored(docs, ["a b"], id_col="tf_0")


def test_hard_negative_topk_excludes_same_label_and_handles_null(spark):
    """Hard-negative mining: the nearest SAME-label vector must never
    appear (even at cosine 1.0); NULL labels follow IS DISTINCT FROM —
    NULL labels are excluded on BOTH sides (training-safe: an unlabeled
    candidate might be a positive), so a NULL-label query mines nothing."""
    from duckdb_nats_jetstream_spark.operators.similarity import (
        hard_negative_topk,
    )

    rows = [
        (0, [1.0, 0.0], "a"),      # query
        (1, [1.0, 0.0], "a"),      # identical but same label -> excluded
        (2, [0.9, 0.1], "b"),      # best legal negative
        (3, [0.0, 1.0], "b"),      # orthogonal negative
        (4, [1.0, 0.0], None),     # NULL label: never a negative
        (5, [0.5, 0.5], None),     # NULL-label query (id < query_max_id? no)
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label string"
    )
    out = hard_negative_topk(df, query_max_id=1, k=3, dim=2).collect()
    got = [(r.query_id, r.neighbor_id) for r in out]
    assert (0, 1) not in got and (0, 4) not in got
    assert [n for _q, n in got] == [2, 3]  # ranked by cosine desc

    # NULL-label query mines nothing; labeled queries never mine NULL rows
    out2 = hard_negative_topk(df, query_max_id=6, k=10, dim=2).collect()
    assert not [r for r in out2 if r.query_id in (4, 5)]
    assert not [r for r in out2 if r.neighbor_id in (4, 5)]


def test_rrf_fuse_many_reserves_working_columns(spark):
    """r11 ADVICE: an out_rank name of '_cid' was silently overwritten by
    the fold's own withColumn, dropping that list's rank contribution
    without error; '_cid2' collided mid-chain. Both now BindError."""
    import pytest

    from duckdb_nats_jetstream_spark.errors import BindError

    a = spark.createDataFrame([(1, 1)], "doc_id long, rnk long")
    for bad in ("_cid", "_cid2"):
        with pytest.raises(BindError, match="distinct and avoid"):
            R.rrf_fuse_many(
                [(a, "doc_id", "rnk", bad), (a, "doc_id", "rnk", "r2")]
            )


def test_phrase_builders_reject_blank_and_noncanonical(spark):
    """r11 ADVICE: a whitespace-only phrase passed the empty-list guard but
    emitted malformed expressions (parse error, not BindError); 'hash  join'
    (double space) silently scored 0 on both engines because n-grams join
    tokens with single spaces. Both reject at bind time now, on BOTH the
    Spark builder and the SQL mirror."""
    import pytest

    from duckdb_nats_jetstream_spark.errors import BindError

    docs = spark.createDataFrame([(1, "hash join plans")], "doc_id long, text string")
    for bad, why in [("  ", "blank"), ("hash  join", "canonical"),
                     (" hash join", "canonical"), ("hash join ", "canonical")]:
        with pytest.raises(BindError, match=why):
            R.bm25_phrase_scored(docs, [bad])
        with pytest.raises(BindError, match=why):
            R.sql_bm25_phrase_scored([bad])
    # canonical single-space phrases still bind and score
    assert R.bm25_phrase_scored(docs, ["hash join"]).count() == 1


def test_hybrid_rrf_ann_query_shape(spark, sf_dir):
    """The ANN-backed hybrid (r11 verdict ask #6): same fused contract as
    sim_hybrid_rrf but with IVF candidates — bounded output, descending
    fused score, no self-retrieval, and ann ranks within the top-100 ask."""
    from duckdb_nats_jetstream_spark.queries.pipeline6 import sim_hybrid_rrf_ann

    out = sim_hybrid_rrf_ann(spark, sf_dir).collect()
    assert 0 < len(out) <= 10
    assert all(r.doc_id != 0 for r in out)
    vals = [r.rrf_r for r in out]
    assert vals == sorted(vals, reverse=True)
    assert all(r.lex_rnk is not None or r.ann_rnk is not None for r in out)
    assert all(r.ann_rnk is None or 1 <= r.ann_rnk <= 100 for r in out)


def test_contrastive_triplets_semantics(spark):
    """Triplet generation: positive = best SAME-label neighbor (anchor
    excluded), negatives = top-k different-label, NULL labels excluded on
    both sides, and an anchor with no same-label candidate yields NO rows
    (a triplet needs all three legs)."""
    from duckdb_nats_jetstream_spark.operators.similarity import (
        contrastive_triplets,
    )

    rows = [
        (0, [1.0, 0.0], "a"),   # anchor
        (1, [0.9, 0.1], "a"),   # best positive
        (2, [1.0, 0.0], "a"),   # identical positive BUT id 2 > 1? cos=1.0 wins
        (3, [0.8, 0.2], "b"),   # negative rank 1
        (4, [0.0, 1.0], "b"),   # negative rank 2
        (5, [1.0, 0.0], None),  # NULL label: neither leg
        (6, [1.0, 0.0], "c"),   # lone-label anchor: no positive -> no rows
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label string"
    )
    out = contrastive_triplets(df, query_max_id=1, k=3, dim=2).collect()
    assert out, "anchor 0 has positives and negatives"
    # identical vector 2 has cos exactly 1.0 -> beats 1 (0.9...) as positive
    assert all(r.pos_id == 2 and r.pos_cos == 1.0 for r in out)
    negs = sorted((r.rnk, r.neg_id) for r in out)
    assert [n for _rk, n in negs] == [6, 3, 4]  # c-label 6 is cos 1.0 neg
    assert all(r.neg_id != 5 for r in out)

    # lone-label anchor 6: negatives exist but no positive -> zero rows
    out6 = contrastive_triplets(df, query_max_id=7, k=3, dim=2).collect()
    assert not [r for r in out6 if r.query_id == 5]  # NULL-label anchor
    assert not [r for r in out6 if r.query_id == 6]  # no-positive anchor


def test_quota_topk_cap_and_global_selection(spark):
    """quota_topk: no group exceeds its cap, the global list is the top-k
    of the capped survivors under (score desc, id), and the rank column
    reports the within-group position."""
    from duckdb_nats_jetstream_spark.operators.sampling import quota_topk

    rows = [(i, "big" if i < 10 else "small", 1000 - i) for i in range(14)]
    df = spark.createDataFrame(rows, "doc_id long, lang string, n_chars long")
    out = quota_topk(df, "lang", "n_chars", per_group=3, topk=5).collect()
    assert len(out) == 5
    from collections import Counter

    by_lang = Counter(r.lang for r in out)
    assert by_lang["big"] == 3 and by_lang["small"] == 2
    # global order: big's top-3 scores (1000, 999, 998) then small's
    # (990, 989); grp_rank is the within-group position
    assert [(r.doc_id, r.grp_rank) for r in out] == [
        (0, 1), (1, 2), (2, 3), (10, 1), (11, 2),
    ]

    import pytest

    with pytest.raises(ValueError, match="collide"):
        quota_topk(
            df.withColumnRenamed("n_chars", "grp_rank"),
            "lang", "grp_rank", 3, 5,
        )


def test_rm3_expansion_deterministic_and_excludes_query_terms(spark):
    """RM3 expansion: feedback-df vote with lexicographic tie-break,
    query terms and short tokens excluded; the Spark selection and the
    offline oracle re-derivation agree exactly (the embedded-terms
    pattern depends on it)."""
    from duckdb_nats_jetstream_spark.errors import BindError
    from duckdb_nats_jetstream_spark.operators.retrieval import (
        bm25_rm3_topk,
        rm3_expansion_terms,
    )
    import pytest

    rows = [
        (1, "alpha shared common wordy"),
        (2, "alpha shared common wordy"),
        (3, "alpha shared other wordy"),
        (4, "beta nothing here at all"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    exp = rm3_expansion_terms(docs, ["alpha"], fb_docs=3, fb_terms=2)
    # 'alpha' excluded (query term); df vote: shared=3, wordy=3, common=2;
    # tie shared/wordy breaks lexicographically
    assert exp == ["shared", "wordy"]
    out = bm25_rm3_topk(docs, ["alpha"], fb_docs=3, fb_terms=2, topk=4)
    assert out.columns == ["doc_id", "rnk", "bm25_r"]
    assert [r.doc_id for r in out.collect()][:3] == [1, 2, 3]
    with pytest.raises(BindError, match="at least one term"):
        rm3_expansion_terms(docs, [])


def test_quota_topk_salted_path_bit_identical(spark):
    """The n_salts cascade must equal the plain window exactly — same
    rows, same grp_rank values — including under score ties (the (score
    desc, id) total order makes shard survival deterministic)."""
    from duckdb_nats_jetstream_spark.operators.sampling import quota_topk

    rows = [
        (i, "g" + str(i % 3), (i * 7) % 11)  # many score ties
        for i in range(500)
    ]
    df = spark.createDataFrame(rows, "doc_id long, lang string, n_chars long")
    plain = [
        tuple(r)
        for r in quota_topk(df, "lang", "n_chars", 8, 20).collect()
    ]
    for s in (2, 7, 64):
        salted = [
            tuple(r)
            for r in quota_topk(
                df, "lang", "n_chars", 8, 20, n_salts=s
            ).collect()
        ]
        assert salted == plain, f"n_salts={s} diverged"


def test_quota_topk_null_id_tiebreak_matches_duckdb(spark):
    """r12 sweep finding: on a score tie involving a NULL id, Spark's bare
    ASC (NULLS FIRST) and DuckDB's ASC (NULLS LAST) rank differently —
    the operator now pins asc_nulls_last, matching the oracle mirror."""
    import duckdb

    from duckdb_nats_jetstream_spark.operators.sampling import quota_topk

    rows = [(1, "g", 10), (None, "g", 10), (2, "g", 10), (3, "g", 5)]
    df = spark.createDataFrame(rows, "doc_id long, lang string, n_chars long")
    got = [
        (r.doc_id, r.grp_rank)
        for r in quota_topk(df, "lang", "n_chars", 2, 4).collect()
    ]
    con = duckdb.connect()
    con.execute("CREATE TABLE t (doc_id BIGINT, lang VARCHAR, n_chars BIGINT)")
    con.executemany("INSERT INTO t VALUES (?, ?, ?)", rows)
    want = con.execute("""
      WITH ranked AS (
        SELECT doc_id,
               CAST(row_number() OVER (PARTITION BY lang
                    ORDER BY n_chars DESC NULLS LAST, doc_id) AS BIGINT)
                 AS grp_rank
        FROM t)
      SELECT doc_id, grp_rank FROM ranked WHERE grp_rank <= 2
      ORDER BY grp_rank
    """).fetchall()
    assert sorted(got, key=lambda x: x[1]) == [tuple(r) for r in want]
    # NULL id loses every tie on both engines now
    assert got and all(r[0] is not None for r in got)
