"""Deterministic stratified sampling for training-data pipelines
(north-star surface — beyond the reference): exact per-group quotas
selected by salted content hash, reproducible across runs and engines
(no RNG, no ``TABLESAMPLE``).

``stratified_hash_topn(df, group_col, n)`` keeps, for every group, the
``n`` rows with the smallest ``md5(salt || id)`` — i.e. a uniform,
deterministic without-replacement sample of fixed size per stratum
(domain/language mixing quotas, eval-set carving, per-source caps).

Scale shape (the 100 TB path): the naive plan — one window over every
group — funnels each stratum through a single task, which dies when one
domain holds billions of rows. Instead:

1. aggregate per-group row counts (map-side combine, tiny output) and
   broadcast them;
2. **coarse hash prefilter**: keep rows whose hash prefix falls below a
   per-group threshold sized for ``margin × n`` expected survivors — a
   row-local comparison that discards ~``1 - margin·n/count`` of every
   large group before any shuffle (md5 hex is fixed-width, so the
   lexicographic prefix compare IS the numeric compare);
3. exact rank window over the survivors only;
4. **declarative shortfall guard**: the prefilter is probabilistic, so
   groups whose survivor rank-count came up short of ``min(n, count)``
   are re-ranked from the full input (broadcast semi-join on the
   shortfall group list) and unioned in. The guard is an empty join in
   the overwhelmingly common case — the plan stays exact ALWAYS without
   any driver-side retry loop.

Determinism/exactness: selection depends only on (salt, id) — engine-,
partitioning-, and prefilter-independent — so a plain QUALIFY window in
DuckDB mirrors it bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window as W, functions as F

from duckdb_nats_jetstream_spark.tables import cached

#: hash-prefix width (hex chars) used for the coarse threshold compare
_PFX = 8
_PFX_SPACE = 16 ** _PFX


def sample_hash(id_col: Column, salt: str) -> Column:
    """The salted selection hash: ``md5(salt || ':' || id)``."""
    return F.md5(F.concat(F.lit(f"{salt}:"), id_col.cast("string")))


def weighted_mixture_sample(
    df: DataFrame,
    rates: dict[str, float],
    group_col: str = "source",
    id_col: str = "doc_id",
    salt: str = "mix",
    default_rate: float = 0.0,
) -> DataFrame:
    """Deterministic per-stratum RATE sampling — the domain-mixing step of a
    training-data pipeline (keep 100% of wiki, 25% of forums, 5% of crawl…).

    Row-local: keep a row iff the first ``_PFX`` hex chars of its salted id
    hash fall below ``floor(rate × 16^_PFX)`` for its stratum, expressed as
    a WHEN-chain over the (small, fixed) rate table — NO join, NO shuffle,
    NO RNG; the filter rides the scan and survives any partitioning. The
    same hex-threshold compare mirrors to SQL verbatim, so DuckDB agrees
    row-for-row (not just in expectation).
    """
    if not rates:
        raise ValueError("weighted_mixture_sample requires at least one rate")
    h8 = F.substring(sample_hash(F.col(id_col), salt), 1, _PFX)

    def thr_hex(rate: float) -> str | None:
        if rate >= 1.0:
            return None  # keep everything — no threshold compare needed
        t = max(int(rate * _PFX_SPACE), 0)
        return format(t, f"0{_PFX}x")

    cond = None
    for g, rate in sorted(rates.items()):
        t = thr_hex(rate)
        branch = F.lit(True) if t is None else (h8 < F.lit(t))
        this = (F.col(group_col) == g) & branch
        cond = this if cond is None else cond | this
    t_def = thr_hex(default_rate)
    default_branch = F.lit(True) if t_def is None else (h8 < F.lit(t_def))
    # NULL strata take the default rate explicitly: `NULL isin(...)` is NULL,
    # which a bare NOT-IN filter silently drops even at default_rate=1.0
    # (r02 ADVICE). NULL-group rows are data too — sample them, don't lose
    # them. The SQL mirror spells out the same IS NULL arm.
    not_listed = ~F.col(group_col).isin(*rates.keys()) | F.col(group_col).isNull()
    others = not_listed & default_branch
    cond = others if cond is None else cond | others
    return df.filter(cond)


def sql_weighted_mixture(
    rates: dict[str, float],
    group_col: str = "source",
    id_col: str = "doc_id",
    salt: str = "mix",
    default_rate: float = 0.0,
) -> str:
    """DuckDB mirror of :func:`weighted_mixture_sample`'s filter predicate."""
    if not rates:
        raise ValueError("sql_weighted_mixture requires at least one rate")

    def q(s: str) -> str:
        # '' escaping: a group name (or salt) containing a quote is a
        # legal value the Spark twin handles — the oracle must quote it,
        # not emit broken SQL (same class as retrieval._sql_str, r11)
        return "'" + s.replace("'", "''") + "'"

    h8 = f"substr(md5({q(salt + ':')} || CAST({id_col} AS VARCHAR)), 1, {_PFX})"
    parts = []
    for g, rate in sorted(rates.items()):
        if rate >= 1.0:
            parts.append(f"({group_col} = {q(g)})")
        else:
            t = format(max(int(rate * _PFX_SPACE), 0), f"0{_PFX}x")
            parts.append(f"({group_col} = {q(g)} AND {h8} < '{t}')")
    in_list = ", ".join(q(g) for g in sorted(rates))
    not_listed = f"({group_col} NOT IN ({in_list}) OR {group_col} IS NULL)"
    if default_rate >= 1.0:
        parts.append(not_listed)
    else:
        t = format(max(int(default_rate * _PFX_SPACE), 0), f"0{_PFX}x")
        parts.append(f"({not_listed} AND {h8} < '{t}')")
    return " OR ".join(parts)


def stratified_hash_topn(
    df: DataFrame,
    group_col: str,
    n: int,
    id_col: str = "doc_id",
    salt: str = "strat",
    margin: float = 4.0,
    rank_col: str = "smp_rank",
    max_broadcast_groups: int = 5_000_000,
) -> DataFrame:
    """Exact deterministic n-per-group sample; see module docstring.

    ``margin`` sizes the coarse prefilter (expected survivors per group =
    ``margin × n``); ``margin=None`` disables it (plain window — fine when
    every group is small). ``max_broadcast_groups`` guards the three
    broadcast hints on the group-sized relations (``counts`` and its
    ``shortfall`` subset): their row count IS the stratum cardinality,
    which scales with the data — past the cap the hints are dropped and
    the joins fall back to the planner's shuffle strategy instead of
    OOMing the driver (SCALING.md batch 8). The sizing probe is free
    here: ``counts`` is cached and consumed eagerly anyway."""
    reserved = {"__h", "__gk", "__gcnt", "__thr", "__kept", rank_col}
    taken = reserved & set(df.columns)
    if taken:
        raise ValueError(
            f"stratified_hash_topn: column(s) {sorted(taken)} are reserved "
            "internals; alias them first"
        )
    h = sample_hash(F.col(id_col), salt)
    w = W.partitionBy(group_col).orderBy("__h", id_col)
    # __gk: the stratum key wrapped in a struct — struct equality is
    # null-safe on its fields, so every join below keeps the NULL stratum
    # (a bare group_col equi-join silently drops it, diverging from the
    # margin=None window path and from the module's NULL-stratum policy
    # in weighted_mixture_sample).
    hashed = df.withColumn("__h", h).withColumn(
        "__gk", F.struct(F.col(group_col))
    )

    def ranked(in_df: DataFrame) -> DataFrame:
        return (
            in_df.withColumn(rank_col, F.row_number().over(w).cast("long"))
            .filter(F.col(rank_col) <= n)
        )

    if margin is None:
        return ranked(hashed).drop("__h", "__gk")

    counts = hashed.groupBy("__gk").agg(F.count("*").alias("__gcnt"))
    # per-group prefix threshold: ceil(space * margin * n / count), capped
    # cap at space-1 ("ffffffff", keeps everything): the cap must stay
    # _PFX hex chars wide or the lpad would truncate it into a SMALLER bound
    thr = F.least(
        F.lit(_PFX_SPACE - 1),
        F.ceil(F.lit(float(_PFX_SPACE) * margin * n) / F.col("__gcnt")).cast("long"),
    )
    thr_hex = F.lpad(F.lower(F.conv(thr.cast("string"), 10, 16)), _PFX, "0")
    # cached: group-sized (one row per stratum), consumed by the survivor
    # join, the shortfall check, and the threshold projection — uncached,
    # each consumer re-scans the corpus to re-count.
    counts = counts.withColumn("__thr", thr_hex)
    with cached(counts):
        # realized stratum cardinality — the cache is materialized by the
        # first consumer regardless, so counting it here only moves that
        # job earlier; the count decides whether the group-sized sides
        # stay broadcast-hinted (see max_broadcast_groups in the docstring)
        hint = counts.count() <= max_broadcast_groups

        def maybe_b(d: DataFrame) -> DataFrame:
            # over the cap: pin merge — merely dropping the hint lets the
            # static size estimate re-broadcast the side the count just
            # proved huge (see operators/broadcast_guard docstring)
            return F.broadcast(d) if hint else d.hint("merge")

        survivors = hashed.join(maybe_b(counts), "__gk").filter(
            F.substring("__h", 1, _PFX) <= F.col("__thr")
        )
        # cached: ≈ margin·n rows per group, consumed by the shortfall
        # check and the final anti-join — uncached, the prefilter+window
        # reruns twice
        kept = ranked(survivors)

        # groups where the prefilter starved the quota (kept < min(n,
        # count)); anchored on `counts`, not `kept` — a fully-starved group
        # has NO kept rows at all and must still be flagged (left join +
        # coalesce 0)
        shortfall = (
            counts.join(
                kept.groupBy("__gk").agg(F.count("*").alias("__kept")),
                "__gk",
                "left",
            )
            .filter(
                F.coalesce(F.col("__kept"), F.lit(0).cast("long"))
                < F.least(F.lit(n).cast("long"), F.col("__gcnt"))
            )
            .select("__gk")
        )
        ok = kept.join(maybe_b(shortfall), "__gk", "left_anti")
        redo = ranked(hashed.join(maybe_b(shortfall), "__gk", "left_semi"))
        out_cols = df.columns + [rank_col]
        out = ok.select(out_cols).unionByName(redo.select(out_cols))
        with cached(kept):
            return out.localCheckpoint(eager=True)


def quota_topk(
    df: DataFrame,
    group_col: str,
    order_col: str,
    per_group: int,
    topk: int,
    id_col: str = "doc_id",
    rank_col: str = "grp_rank",
    n_salts: int | None = None,
) -> DataFrame:
    """Quota-capped top-k selection: the global top-``topk`` rows by
    ``order_col`` (descending, ``id_col`` tie-break) under the constraint
    that no single ``group_col`` value contributes more than
    ``per_group`` rows — the curation shape that stops one domain/source
    from monopolizing a quality-ranked training slice (the score-ordered
    sibling of :func:`stratified_hash_topn`'s uniform quotas).

    Plan: one window ranks rows within their group (shuffle keyed on the
    group — the partitioning the cap is defined over), the cap filter
    drops everything past ``per_group`` BEFORE the global selection, and
    the final ``orderBy(...).limit(topk)`` plans TakeOrderedAndProject
    (per-partition heaps + a k-row driver merge, never a full sort). At
    most ``per_group × n_groups`` rows survive the window; the global
    step reduces map-side to ``topk`` per partition.

    Skew: a single giant group funnels through one window task. Pass
    ``n_salts`` to enable the salted two-stage cascade (the
    :func:`operators.skew.salted_agg` discipline): stage 1 ranks within
    ``(group, hash(id) % n_salts)`` shards and keeps each shard's top
    ``per_group`` — the worst task shrinks from |group| to
    |group|/n_salts rows — and stage 2 runs the exact window over the ≤
    ``per_group × n_salts`` survivors per group. BIT-IDENTICAL to the
    plain path: any row in the group's true top-``per_group`` is beaten
    by fewer than ``per_group`` rows overall, hence by fewer than
    ``per_group`` within its own shard, so it survives stage 1 — and
    every row ranked above a surviving top row also survives, so the
    stage-2 rank equals the full-group rank (pinned in
    ``test_quota_topk_salted_path_bit_identical``). The salt is a
    deterministic content hash, never a nondeterministic shuffle key
    (SPARK-23207; the lint test's rule).

    NULL policy: window partitioning keys treat NULL as a group, so
    unattributed rows compete under their own cap (consistent with the
    module's NULL-stratum policy). NULL scores sort LAST under the
    descending order on both engines (Spark NULLS LAST default; the
    oracle mirror must say ``NULLS LAST`` explicitly: DuckDB default is
    NULLS FIRST on DESC). The id tie-break is explicitly
    ``asc_nulls_last`` — Spark's bare ASC defaults NULLS FIRST while
    DuckDB's defaults NULLS LAST, so a NULL id on a score tie would
    otherwise rank differently across engines (r12 sweep). Returns the input columns plus ``rank_col``
    (the within-group rank), ordered by the global selection order.

    PRECONDITION: ``(order_col, id_col)`` must be a TOTAL order — i.e.
    ``id_col`` unique within any ``(group, order_col)`` tie (unique
    non-null ids satisfy this trivially). Both the salted path's
    bit-identity proof and the deterministic global cut assume it;
    duplicate ids on a tie would let the ``n_salts`` cascade silently
    diverge from the plain window with no error (r12 ADVICE — stated
    loudly here, matching ``ranged_running_sum``'s discipline).
    """
    reserved = {rank_col} | ({"__salt", "__r1"} if n_salts is not None else set())
    taken = reserved & set(df.columns)
    if taken:
        raise ValueError(
            f"quota_topk: column(s) {sorted(taken)} collide with internals"
        )
    src = df
    if n_salts is not None:
        w1 = W.partitionBy(group_col, "__salt").orderBy(
            F.col(order_col).desc(), F.col(id_col).asc_nulls_last()
        )
        src = (
            df.withColumn(
                "__salt", F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_salts))
            )
            .withColumn("__r1", F.row_number().over(w1))
            .filter(F.col("__r1") <= per_group)
            .drop("__salt", "__r1")
        )
    w = W.partitionBy(group_col).orderBy(
        F.col(order_col).desc(), F.col(id_col).asc_nulls_last()
    )
    capped = (
        src.withColumn(rank_col, F.row_number().over(w).cast("long"))
        .filter(F.col(rank_col) <= per_group)
    )
    return capped.orderBy(
        F.col(order_col).desc(), F.col(id_col).asc_nulls_last()
    ).limit(topk)


def select_token_budget(
    df: DataFrame,
    score_col: str,
    token_col: str,
    budget: int,
    id_col: str = "doc_id",
    out_col: str = "cum_tokens",
    num_chunks: int | None = None,
) -> DataFrame:
    """Token-budget-constrained corpus selection: walk the corpus in
    quality order (``score_col`` desc, ``id_col`` tie-break) and keep
    documents while the inclusive running token total stays ≤ ``budget``
    — the "fill a 100 B-token training budget with the best documents"
    step of a data pipeline, as a single declarative plan.

    The running total is :func:`operators.ordered.ranged_running_sum`
    (range-chunked two-level prefix sum — no single-partition window, no
    driver-side iteration), so the cut is exact at any corpus size: the
    kept set is precisely the maximal quality-prefix whose token sum fits
    the budget. A document is kept only if it fits ENTIRELY (inclusive
    sum ≤ budget; the first overflowing document is dropped, not
    truncated — chunk-level packing is :mod:`operators.packing`'s job).
    Returns the input columns plus ``out_col``.
    """
    order = [
        F.col(score_col).desc(),
        F.col(id_col).asc_nulls_last(),
    ]
    from duckdb_nats_jetstream_spark.operators.ordered import (
        ranged_running_sum,
    )

    cum = ranged_running_sum(
        df, order, token_col, out_col=out_col, num_chunks=num_chunks
    )
    return cum.filter(F.col(out_col) <= budget)


def select_token_budget_by_group(
    df: DataFrame,
    group_col: str,
    score_col: str,
    token_col: str,
    budgets: dict[str, int],
    default_budget: int = 0,
    id_col: str = "doc_id",
    out_col: str = "cum_tokens",
    num_chunks: int | None = None,
) -> DataFrame:
    """Mixture-aware token budgeting: each ``group_col`` stratum fills its
    OWN token allocation in quality order — the step that materializes a
    mixture plan ("8 B tokens of wiki, 3 B of forums, …") as an actual
    document selection. Per group, keep documents while the inclusive
    group-local running token total stays ≤ that group's budget
    (``budgets[group]``, else ``default_budget``; a budget of 0 selects
    nothing from unlisted strata — list every stratum you want).

    The group-restarted running total is
    :func:`operators.ordered.ranged_running_sum` with ``partition_cols``
    — the same range-chunked two-level prefix sum, so a giant stratum
    never funnels through one window task (chunk boundaries may split a
    group; the offset chain is group-keyed). NULL strata take the
    default budget under the module's NULL-stratum policy (the budget
    WHEN-chain ends in an explicit ELSE, and the group key rides
    null-safe through the operator). Returns the input columns plus
    ``out_col`` (the group-local inclusive running sum).
    """
    from duckdb_nats_jetstream_spark.operators.ordered import (
        ranged_running_sum,
    )

    order = [
        F.col(score_col).desc(),
        F.col(id_col).asc_nulls_last(),
    ]
    cum = ranged_running_sum(
        df,
        order,
        token_col,
        out_col=out_col,
        num_chunks=num_chunks,
        partition_cols=[group_col],
    )
    budget = None
    for g, b in sorted(budgets.items()):
        cond = F.col(group_col) == F.lit(g)
        budget = (
            F.when(cond, F.lit(int(b)))
            if budget is None
            else budget.when(cond, F.lit(int(b)))
        )
    budget = (
        F.lit(int(default_budget))
        if budget is None
        else budget.otherwise(F.lit(int(default_budget)))
    )
    return cum.filter(F.col(out_col) <= budget)
