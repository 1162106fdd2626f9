"""Text analysis for training-data pipelines (north-star surface — not in the
reference, which stops at payload extraction; these extend the engine for
LLM-corpus work): normalization, tokenization, token counting, language ID,
quality scoring, fingerprinting, shingling, MinHash.

Every helper has an exact DuckDB SQL mirror (the ``sql_*`` twin) so the
driver's oracle gate can verify values bit-for-bit:

- hashing is md5 (present and identical in both engines); MinHash uses the
  *lexicographic minimum of md5 hex strings* per seed — a valid min-hash
  (uniform over a total order) that needs no cross-engine integer hash;
- set operations (intersect/union/distinct) have identical dedup semantics
  in both engines (verified);
- ratios are single IEEE divisions of exact integers — bit-identical;
- composite scores evaluate in a fixed textual op order both sides.

All of this is built-in column expressions (JVM codegen in Spark, vectorized
C++ in DuckDB) — no Python UDFs anywhere in the hot path, so the same code
scales from 500 rows to 100 TB with nothing but partition count changing.
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F

# --- normalization / tokens ---------------------------------------------------


def norm_text(c: Column) -> Column:
    """lower + collapse whitespace + trim."""
    return F.trim(F.regexp_replace(F.lower(c), r"\s+", " "))


def sql_norm(x: str) -> str:
    return f"trim(regexp_replace(lower({x}), '\\s+', ' ', 'g'))"


def tokens(c: Column) -> Column:
    return F.split(norm_text(c), " ")


def sql_tokens(x: str) -> str:
    return f"string_split({sql_norm(x)}, ' ')"


def token_count(c: Column) -> Column:
    return F.size(tokens(c)).cast("long")


def sql_token_count(x: str) -> str:
    return f"len({sql_tokens(x)})"


def bpe_token_estimate(c: Column) -> Column:
    """Cheap BPE-ish token estimate: ceil(chars/4) on normalized text."""
    return F.ceil(F.length(norm_text(c)) / 4).cast("long")


def sql_bpe_token_estimate(x: str) -> str:
    return f"CAST(ceil(length({sql_norm(x)}) / 4) AS BIGINT)"


def fingerprint(c: Column) -> Column:
    """Deterministic content fingerprint of the normalized text."""
    return F.md5(norm_text(c))


def sql_fingerprint(x: str) -> str:
    return f"md5({sql_norm(x)})"


# --- shingles / MinHash -------------------------------------------------------


def shingles(toks: Column, n: int = 3) -> Column:
    """Word n-gram shingles as strings; empty array when fewer than n tokens.

    Implemented as a zip of n shifted slices, NOT ``transform(sequence, i ->
    slice(toks, i, n))``: a lambda body referencing ``toks`` re-evaluates the
    whole tokenize pipeline per element (measured 12s → 1s on 5k docs).
    Row-level slice references evaluate once. (Also guarded: Spark's
    ``sequence(1, 0)`` would produce a *descending* range.)
    """
    count = F.size(toks) - (n - 1)
    shifted = [F.slice(toks, i + 1, count) for i in range(n)]
    zipped = shifted[0]
    for nxt in shifted[1:]:
        zipped = F.zip_with(zipped, nxt, lambda a, b: F.concat(a, F.lit(" "), b))
    return F.when(count >= 1, zipped).otherwise(F.array().cast("array<string>"))


def sql_shingles(toks: str, n: int = 3) -> str:
    # DuckDB list slice is 1-based inclusive: toks[i : i+n-1]
    return (
        f"CASE WHEN len({toks}) >= {n} THEN "
        f"list_transform(generate_series(1, len({toks}) - {n - 1}), "
        f"i -> array_to_string(({toks})[i : i + {n - 1}], ' ')) "
        f"ELSE []::VARCHAR[] END"
    )


def _seeded_md5(seed: int):
    # single-arg closure: a 2-arg lambda would make pyspark's transform()
    # pass the ARRAY INDEX as the second argument, clobbering the seed
    return lambda s: F.md5(F.concat(F.lit(f"{seed}:"), s))


def _hex_slice(start: int):
    return lambda h: F.substring(h, start, 8)


def sql_minhash_signature(sh: str, k: int = 8) -> list[str]:
    out = []
    for d in range((k + 3) // 4):
        for j in range(4):
            if len(out) == k:
                break
            out.append(
                f"list_min(list_transform(list_transform({sh}, s -> md5('{d}:' || s)), "
                f"h -> substr(h, {j * 8 + 1}, 8)))"
            )
    return out


def jaccard(a: Column, b: Column) -> Column:
    """Set Jaccard over shingle arrays (both engines dedup in
    intersect/distinct; division is one IEEE op — bit-identical).
    ``try_divide``: two EMPTY shingle sets make 0/0, which DuckDB returns
    as NULL and default-ANSI ``/`` turns into a job-killing
    DIVIDE_BY_ZERO — NULL is also the right answer (undefined
    similarity, and a NULL never passes a ``>= threshold`` filter)."""
    inter = F.size(F.array_intersect(a, b))
    union = F.size(F.array_distinct(F.concat(a, b)))
    return F.try_divide(inter, union)


def sql_jaccard(a: str, b: str) -> str:
    return f"len(list_intersect({a}, {b})) / len(list_distinct(list_concat({a}, {b})))"


def dup_ngram_fraction(toks: Column, n: int) -> Column:
    """Fraction of word n-gram positions occupied by repeated n-grams:
    ``(total - distinct) / total`` — the Gopher-style repetition signal
    adapted to position counts. Pure per-row array math (no shuffle, no
    Python): exact integers and ONE IEEE division, bit-identical to the
    SQL mirror."""
    sh = shingles(toks, n)
    total = F.size(sh)
    # try_divide: a doc shorter than n tokens has ZERO n-gram positions —
    # 0/0 is NULL in the DuckDB mirror and a DIVIDE_BY_ZERO crash under
    # default-ANSI `/`; NULL ("no repetition signal") matches the oracle
    return F.try_divide(total - F.size(F.array_distinct(sh)), total)


def sql_dup_ngram_fraction(toks: str, n: int) -> str:
    sh = sql_shingles(toks, n)
    return f"(len({sh}) - len(list_distinct({sh}))) / len({sh})"


# --- language ID --------------------------------------------------------------

#: tiny per-language stopword lists for the heuristic scorer
LANG_STOPWORDS: dict[str, list[str]] = {
    "de": ["der", "die", "das", "und", "ist", "von", "nicht", "ein"],
    "en": ["the", "a", "and", "of", "to", "in", "is", "that"],
    "es": ["el", "los", "las", "y", "es", "por", "una", "con"],
    "fr": ["le", "les", "et", "est", "une", "dans", "pour", "que"],
    "zh": ["的", "是", "了", "在", "我", "有", "他", "这"],
}


def lang_score(toks: Column, lang: str) -> Column:
    words = LANG_STOPWORDS[lang]
    return F.size(F.filter(toks, lambda t: t.isin(*words))).cast("long")


def sql_lang_score(toks: str, lang: str) -> str:
    lst = ", ".join(f"'{w}'" for w in LANG_STOPWORDS[lang])
    return f"len(list_filter({toks}, t -> t IN ({lst})))"


def predicted_lang(toks: Column) -> Column:
    """Argmax over language scores with a fixed priority order on ties
    (alphabetical) — mirrored exactly by a CASE chain in SQL."""
    langs = sorted(LANG_STOPWORDS)
    scores = {lang: lang_score(toks, lang) for lang in langs}
    expr = F.lit(None).cast("string")
    for lang in reversed(langs):
        cond = None
        for other in langs:
            if other == lang:
                continue
            c = scores[lang] >= scores[other]
            cond = c if cond is None else (cond & c)
        expr = F.when(cond, F.lit(lang)).otherwise(expr)
    return expr


def sql_predicted_lang(toks: str) -> str:
    langs = sorted(LANG_STOPWORDS)
    score = {lang: sql_lang_score(toks, lang) for lang in langs}
    whens = []
    for lang in langs:
        conds = " AND ".join(
            f"{score[lang]} >= {score[o]}" for o in langs if o != lang
        )
        whens.append(f"WHEN {conds} THEN '{lang}'")
    return "CASE " + " ".join(whens) + " ELSE NULL END"


# --- quality ------------------------------------------------------------------


def quality_score(toks: Column, all_stop: list[str] | None = None) -> Column:
    """Deterministic [0,1] quality heuristic:
    0.3·min(1, n_tokens/200) + 0.4·stopword_ratio + 0.3·distinct_ratio.

    Fixed op order; every term is a single IEEE op on exact ints."""
    if all_stop is None:
        all_stop = sorted({w for ws in LANG_STOPWORDS.values() for w in ws})
    n = F.size(toks).cast("long")
    stop = F.size(F.filter(toks, lambda t: t.isin(*all_stop))).cast("long")
    dist = F.size(F.array_distinct(toks)).cast("long")
    return (
        F.lit(0.3) * F.least(F.lit(1.0), n / F.lit(200.0))
        + F.lit(0.4) * (stop / n)
        + F.lit(0.3) * (dist / n)
    )


def sql_quality_score(toks: str, all_stop: list[str] | None = None) -> str:
    if all_stop is None:
        all_stop = sorted({w for ws in LANG_STOPWORDS.values() for w in ws})
    lst = ", ".join(f"'{w}'" for w in all_stop)
    n = f"len({toks})"
    stop = f"len(list_filter({toks}, t -> t IN ({lst})))"
    dist = f"len(list_distinct({toks}))"
    # explicit DOUBLE literals — bare 0.3 is DECIMAL in DuckDB, and
    # decimal-vs-double arithmetic would diverge from Spark's double math
    d = "CAST({} AS DOUBLE)".format
    return (
        f"{d('0.3')} * least({d('1.0')}, {n} / {d('200.0')}) "
        f"+ {d('0.4')} * ({stop} / {n}) + {d('0.3')} * ({dist} / {n})"
    )


# --- character diversity ------------------------------------------------------


def char_diversity(c: Column) -> Column:
    """Gini–Simpson diversity of the character distribution, ``1 − Σ p_c²``
    — a transcendental-free stand-in for character entropy (entropy's log2
    is not correctly rounded in either engine, so its last ulp could differ
    cross-engine; Σp² is division + multiply + ordered add, bit-exact).
    Low values mean a few characters dominate (repeated padding, ASCII-art,
    encoding junk); natural text sits high.

    Row-local: chars via positional substring (NOT ``split(c, '')`` — Java's
    split keeps a trailing empty match at limit −1), per-char counts via
    ``filter`` over the row's own array, and the Σ folds over the SORTED
    distinct characters so the summation order is identical in both engines.
    O(distinct_chars × len) per row; for long documents prefer the
    explode + (doc, char) hash-agg plan, which trades row-local work for one
    narrow shuffle."""
    chars = F.transform(
        F.sequence(F.lit(1), F.length(c)), lambda i: F.substring(c, i, F.lit(1))
    )
    # the usual empty-sequence guard: sequence(1, 0) yields DESCENDING [1, 0]
    chars = F.when(F.length(c) > 0, chars).otherwise(
        F.array().cast("array<string>")
    )
    n = F.size(chars)
    # bind each distinct char's count ONCE (the O(n) filter ran twice per
    # char before — doubling the dominant cost of this row-local path)
    counts = F.transform(
        F.array_sort(F.array_distinct(chars)),
        lambda ch: F.size(F.filter(chars, lambda x: x == ch)),
    )
    sumsq = F.aggregate(
        counts, F.lit(0.0), lambda acc, c: acc + (c / n) * (c / n)
    )
    return F.when(n > 0, F.lit(1.0) - sumsq).otherwise(F.lit(0.0))
