"""Text-analysis operators for large-scale training-data pipelines.

Beyond the reference's surface (BASELINE.json north star): language ID,
quality scoring, token counting, and document fingerprinting over a
``documents``-shaped table. Every operator is a pure Column expression
(whole-stage codegen, no Python in the hot path) built from a shared
dual-dialect SQL generator so the DuckDB oracle runs the *same formula*.

Conventions: ``dialect`` is 'spark' or 'duckdb'; functions ending in ``_sql``
return SQL text; Spark-side wrappers turn the spark-dialect text into Columns.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from harmonize_search_analyze_spark.functions.hashing import hash64_sql

# -- tokenization ------------------------------------------------------------

_WORD_RE = r"[a-z0-9]+"


def tokens_sql(expr: str, dialect: str) -> str:
    """Lowercased alnum tokens (same semantics as functions/tokenize.py)."""
    if dialect == "spark":
        return f"filter(split(lower({expr}), '[^a-z0-9]+'), t -> t != '')"
    return (
        f"list_filter(regexp_split_to_array(lower({expr}), '[^a-z0-9]+'), "
        "t -> t != '')"
    )


def token_count_sql(expr: str, dialect: str) -> str:
    fn = "size" if dialect == "spark" else "len"
    return f"{fn}({tokens_sql(expr, dialect)})"


def bpe_ish_token_count_sql(expr: str, dialect: str) -> str:
    """BPE-ish proxy token count: word pieces of <=4 chars — a ceil-div of
    each word's length by 4, plus one token per punctuation run. A cheap,
    deterministic stand-in for a real tokenizer's token count."""
    toks = tokens_sql(expr, dialect)
    if dialect == "spark":
        pieces = (
            f"aggregate({toks}, 0L, (acc, t) -> acc + CAST(ceil(length(t) / 4.0) AS BIGINT))"
        )
        punct = f"size(regexp_extract_all({expr}, '[^a-zA-Z0-9\\\\s]+', 0))"
    else:
        pieces = (
            f"list_sum(list_transform({toks}, "
            "t -> CAST(ceil(length(t) / 4.0) AS BIGINT)))"
        )
        punct = f"len(regexp_extract_all({expr}, '[^a-zA-Z0-9\\s]+'))"
    return f"(COALESCE({pieces}, 0) + {punct})"


# -- quality scoring ---------------------------------------------------------

STOPWORDS = ("the", "a", "an", "and", "of", "to", "in", "is", "it")


def _raw_quality_parts(expr: str, dialect: str) -> dict[str, str]:
    """UNROUNDED quality signal expressions (identical float ops on both
    engines). Keep raw values inside composite formulas: summing pre-rounded
    components (multiples of 1e-6 scaled by the 0.3/0.4 weights) lands the
    final score exactly on 6-decimal rounding TIES, where Spark and DuckDB
    round differently (observed at sf0.1: 1-ulp quality mismatches)."""
    toks = tokens_sql(expr, dialect)
    stop_list = ", ".join(f"'{s}'" for s in STOPWORDS)
    if dialect == "spark":
        n_tokens = f"size({toks})"
        sum_len = f"aggregate({toks}, 0L, (acc, t) -> acc + length(t))"
        n_stop = f"size(filter({toks}, t -> t IN ({stop_list})))"
        n_alnum = f"length(regexp_replace({expr}, '[^a-zA-Z0-9]', ''))"
    else:
        n_tokens = f"len({toks})"
        sum_len = f"COALESCE(list_sum(list_transform({toks}, t -> length(t))), 0)"
        n_stop = f"len(list_filter({toks}, t -> t IN ({stop_list})))"
        n_alnum = f"length(regexp_replace({expr}, '[^a-zA-Z0-9]', '', 'g'))"
    return {
        "n_tokens": n_tokens,
        "mean_token_len": f"(CAST({sum_len} AS DOUBLE) / NULLIF({n_tokens}, 0))",
        "stopword_ratio": f"(CAST({n_stop} AS DOUBLE) / NULLIF({n_tokens}, 0))",
        "alnum_ratio": (
            f"(CAST({n_alnum} AS DOUBLE) / NULLIF(length({expr}), 0))"
        ),
    }


def quality_components_sql(expr: str, dialect: str) -> dict[str, str]:
    """Deterministic per-document quality signals (Gopher-rules-ish):
    n_tokens, mean token length, stopword ratio, alnum char ratio (rounded
    for stable cross-engine display/compare)."""
    raw = _raw_quality_parts(expr, dialect)
    return {
        "n_tokens": f"CAST({raw['n_tokens']} AS BIGINT)",
        "mean_token_len": f"ROUND({raw['mean_token_len']}, 6)",
        "stopword_ratio": f"ROUND({raw['stopword_ratio']}, 6)",
        "alnum_ratio": f"ROUND({raw['alnum_ratio']}, 6)",
    }


def quality_score_sql(expr: str, dialect: str) -> str:
    """Scalar quality score in [0, 1]: penalize too-short docs, extreme
    stopword ratios and non-alnum noise. Fixed weights, fully deterministic;
    built from RAW ratios (see ``_raw_quality_parts``) so the single final
    rounding never sits on a decimal tie."""
    raw = _raw_quality_parts(expr, dialect)
    len_score = f"LEAST(CAST({raw['n_tokens']} AS DOUBLE) / 50.0, 1.0)"
    stop_score = f"(1.0 - ABS(COALESCE({raw['stopword_ratio']}, 0) - 0.1))"
    alnum_score = f"COALESCE({raw['alnum_ratio']}, 0)"
    return (
        f"ROUND(0.4 * {len_score} + 0.3 * {stop_score} + 0.3 * {alnum_score}, 6)"
    )


# -- language ID -------------------------------------------------------------

# Marker tokens per language. On real corpora these would be character
# n-gram profiles; the deterministic marker-count argmax shape is the same.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "is", "with"),
    "de": ("der", "die", "das", "und", "ist"),
    "fr": ("le", "la", "les", "et", "est"),
    "es": ("el", "los", "las", "es", "y"),
    "zh": ("de5", "shi4", "le5", "zai4", "he2"),
}


def lang_id_sql(expr: str, dialect: str) -> str:
    """Argmax of marker-token hits. Ties resolve to the FIRST language in
    ``LANG_MARKERS`` order ('en' wins all ties — deterministic, same CASE
    order on both engines); only zero-hit docs get 'unknown'. Expressed as
    a greatest-of CASE so both engines evaluate identically."""
    toks = tokens_sql(expr, dialect)
    scores = {}
    for lang, markers in LANG_MARKERS.items():
        lst = ", ".join(f"'{m}'" for m in markers)
        if dialect == "spark":
            scores[lang] = f"size(filter({toks}, t -> t IN ({lst})))"
        else:
            scores[lang] = f"len(list_filter({toks}, t -> t IN ({lst})))"
    langs = list(scores)
    best = f"GREATEST({', '.join(scores[lang] for lang in langs)})"
    # first language (fixed order) achieving the max; 0 hits -> unknown
    case = "CASE WHEN " + best + " = 0 THEN 'unknown' "
    for lang in langs:
        case += f"WHEN {scores[lang]} = {best} THEN '{lang}' "
    case += "ELSE 'unknown' END"
    return f"({case})"


# -- fingerprinting ----------------------------------------------------------

def fingerprint_sql(expr: str, dialect: str, ngram: int = 8) -> str:
    """Document fingerprint: minimum 60-bit hash over character n-grams of
    the normalized text (the winnowing/MinHash '1-sketch' — identical docs,
    and docs differing only in whitespace/case, collide)."""
    if dialect == "spark":
        norm = f"regexp_replace(lower({expr}), '[^a-z0-9]+', ' ')"
        grams = (
            f"transform(sequence(1, greatest(length({norm}) - {ngram - 1}, 1)), "
            f"i -> substring({norm}, i, {ngram}))"
        )
        hashes = f"transform({grams}, g -> {hash64_sql('g', 'spark')})"
        return f"array_min({hashes})"
    norm = f"regexp_replace(lower({expr}), '[^a-z0-9]+', ' ', 'g')"
    grams = (
        f"list_transform(range(1, greatest(length({norm}) - {ngram - 1}, 1) + 1), "
        f"i -> substring({norm}, i, {ngram}))"
    )
    hashes = f"list_transform({grams}, g -> {hash64_sql('g', 'duckdb')})"
    return f"list_min({hashes})"


# -- Spark-side DataFrame wrappers ------------------------------------------

def token_count(col: str) -> Column:
    return F.expr(token_count_sql(col, "spark")).cast("bigint")


def bpe_ish_token_count(col: str) -> Column:
    return F.expr(bpe_ish_token_count_sql(col, "spark")).cast("bigint")


def quality_score(col: str) -> Column:
    return F.expr(quality_score_sql(col, "spark"))


def lang_id(col: str) -> Column:
    return F.expr(lang_id_sql(col, "spark"))


def fingerprint(col: str, ngram: int = 8) -> Column:
    return F.expr(fingerprint_sql(col, "spark", ngram))


def _lang_case_sql(score_exprs: dict[str, str]) -> str:
    """The lang_id argmax CASE over per-language score EXPRESSIONS —
    shared by the inlined :func:`lang_id_sql` and the staged
    :func:`with_lang_id`, so the tie order ('en' wins, fixed
    LANG_MARKERS order, 0 hits -> 'unknown') is pinned in ONE place."""
    langs = list(score_exprs)
    best = f"GREATEST({', '.join(score_exprs[lang] for lang in langs)})"
    case = "CASE WHEN " + best + " = 0 THEN 'unknown' "
    for lang in langs:
        case += f"WHEN {score_exprs[lang]} = {best} THEN '{lang}' "
    case += "ELSE 'unknown' END"
    return f"({case})"


def with_lang_id(
    df: DataFrame,
    text_col: str,
    out_col: str,
    *,
    toks_col: str | None = None,
) -> DataFrame:
    """PLAN-STAGED lang_id: identical values to ``lang_id()`` /
    ``lang_id_sql()`` (same score expressions, same argmax CASE order,
    same NULL propagation) with the tokenization and the five marker
    counts each computed ONCE per row in layered projections.

    Why (guide §1.2 per-task work): the inlined CASE re-derives
    ``tokens_sql`` inside every score reference — ~40 evaluations of
    split+filter per row — and higher-order functions are
    interpreted-only (no codegen), so codegen subexpression elimination
    never dedupes them. CollapseProject keeps multi-referenced non-cheap
    aliases staged, so the layering survives optimization. Measured on
    confusion_eval (round 11): the lang-ID scan drops ~2x.

    ``toks_col`` names an ALREADY-STAGED token-array column to reuse
    (analyze_documents stages one for all its consumers); otherwise one
    is staged here and dropped on the way out.
    """
    drop_toks = toks_col is None
    if toks_col is None:
        toks_col = "__lang_toks"
        df = df.withColumn(
            toks_col, F.expr(tokens_sql(text_col, "spark"))
        )
    score_names = {}
    scored = df
    for lang, markers in LANG_MARKERS.items():
        lst = ", ".join(f"'{m}'" for m in markers)
        name = f"__lang_s_{lang}"
        score_names[lang] = name
        scored = scored.withColumn(
            name, F.expr(f"size(filter({toks_col}, t -> t IN ({lst})))")
        )
    out = scored.withColumn(out_col, F.expr(_lang_case_sql(score_names)))
    out = out.drop(*score_names.values())
    if drop_toks:
        out = out.drop(toks_col)
    return out


def analyze_documents(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Attach the full text-analysis column set to a documents frame.

    Round-11 plan staging (guide §1.2): every output used to re-derive
    the token array inside its own expression (the component set plus
    quality plus lang-ID totals ~50 tokenizations per row), and the
    fingerprint built its char-grams with the whitespace-normalization
    INSIDE the per-position lambda — O(len^2) regexp work per document
    (the exact trap winnow_fingerprints documents). The token array, the
    raw ratio signals, and the fingerprint normalization are now staged
    columns computed ONCE per row; every output is the SAME expression
    over the staged values (identical floats — same arithmetic, same
    NULL propagation), so results are bit-identical and the DuckDB
    oracle text is untouched."""
    toks = "__ad_toks"
    norm = "__ad_fpnorm"
    stop_list = ", ".join(f"'{s}'" for s in STOPWORDS)
    staged = df.withColumn(
        toks, F.expr(tokens_sql(text_col, "spark"))
    ).withColumn(
        norm,
        F.expr(f"regexp_replace(lower({text_col}), '[^a-z0-9]+', ' ')"),
    )
    # raw (unrounded) signals, staged once — quality combines the raw
    # values, the component outputs round them (same contract as
    # quality_components_sql vs quality_score_sql)
    n_tokens = f"size({toks})"
    staged = (
        staged.withColumn(
            "__ad_mtl",
            F.expr(
                f"(CAST(aggregate({toks}, 0L, (acc, t) -> acc + length(t))"
                f" AS DOUBLE) / NULLIF({n_tokens}, 0))"
            ),
        )
        .withColumn(
            "__ad_sr",
            F.expr(
                f"(CAST(size(filter({toks}, t -> t IN ({stop_list})))"
                f" AS DOUBLE) / NULLIF({n_tokens}, 0))"
            ),
        )
        .withColumn(
            "__ad_ar",
            F.expr(
                f"(CAST(length(regexp_replace({text_col}, '[^a-zA-Z0-9]', "
                f"'')) AS DOUBLE) / NULLIF(length({text_col}), 0))"
            ),
        )
    )
    len_score = f"LEAST(CAST({n_tokens} AS DOUBLE) / 50.0, 1.0)"
    h = hash64_sql("g", "spark")
    out = (
        staged.withColumn("n_tokens", F.expr(f"CAST({n_tokens} AS BIGINT)"))
        .withColumn("mean_token_len", F.expr("ROUND(__ad_mtl, 6)"))
        .withColumn("stopword_ratio", F.expr("ROUND(__ad_sr, 6)"))
        .withColumn("alnum_ratio", F.expr("ROUND(__ad_ar, 6)"))
        .withColumn(
            "bpe_ish_tokens",
            F.expr(
                f"(COALESCE(aggregate({toks}, 0L, (acc, t) -> acc +"
                " CAST(ceil(length(t) / 4.0) AS BIGINT)), 0) +"
                f" size(regexp_extract_all({text_col},"
                " '[^a-zA-Z0-9\\\\s]+', 0)))"
            ).cast("bigint"),
        )
        .withColumn(
            "quality",
            F.expr(
                f"ROUND(0.4 * {len_score} + 0.3 *"
                " (1.0 - ABS(COALESCE(__ad_sr, 0) - 0.1)) +"
                " 0.3 * COALESCE(__ad_ar, 0), 6)"
            ),
        )
    )
    out = with_lang_id(out, text_col, "lang_pred", toks_col=toks)
    out = out.withColumn(
        "fingerprint",
        F.expr(
            f"array_min(transform(transform(sequence(1,"
            f" greatest(length({norm}) - 7, 1)),"
            f" i -> substring({norm}, i, 8)), g -> {h}))"
        ),
    )
    return out.drop(toks, norm, "__ad_mtl", "__ad_sr", "__ad_ar")


def significant_text_sql(
    table: str,
    text_col: str,
    foreground_pred: str,
    dialect: str,
    k: int = 10,
) -> str:
    """ES ``significant_text`` agg (dual-dialect): tokens over-represented in
    the ``foreground_pred`` document subset vs the whole corpus, JLH-scored
    on DOC frequencies (each token counted once per doc — ES re-analyzes
    text and dedupes per document; we mirror with a distinct-token explode).

    Plan shape: one scan -> distinct-token explode (the only row expansion,
    bounded by vocabulary-per-doc) -> one hash agg keyed by token carrying a
    conditional foreground count -> tiny totals frame cross-joined back.
    Identical formula text on both engines; counts are integers and the
    rates divide identically, so the 6-decimal rounding is tie-safe.
    """
    toks = tokens_sql(text_col, dialect)
    if dialect == "spark":
        unnest = (
            f"SELECT explode(array_distinct({toks})) AS t, "
            f"CASE WHEN {foreground_pred} THEN 1 ELSE 0 END AS fg "
            f"FROM {table} WHERE {text_col} IS NOT NULL"
        )
    else:
        unnest = (
            f"SELECT unnest(list_distinct({toks})) AS t, "
            f"CASE WHEN {foreground_pred} THEN 1 ELSE 0 END AS fg "
            f"FROM {table} WHERE {text_col} IS NOT NULL"
        )
    totals = (
        f"SELECT COUNT(*) AS bg_total, "
        f"COUNT(CASE WHEN {foreground_pred} THEN 1 END) AS fg_total "
        f"FROM {table} WHERE {text_col} IS NOT NULL"
    )
    return f"""
WITH tok AS ({unnest}),
per_term AS (
  SELECT t, COUNT(*) AS bg_count, SUM(fg) AS fg_count
  FROM tok GROUP BY t
),
tot AS ({totals})
SELECT t AS term, CAST(fg_count AS BIGINT) AS fg_count, bg_count,
       ROUND((CAST(fg_count AS DOUBLE) / tot.fg_total
              - CAST(bg_count AS DOUBLE) / tot.bg_total)
             * ((CAST(fg_count AS DOUBLE) / tot.fg_total)
                / (CAST(bg_count AS DOUBLE) / tot.bg_total)), 6) AS score
FROM per_term CROSS JOIN tot
WHERE fg_count > 0
ORDER BY score DESC, term ASC
LIMIT {k}
"""


# -- log categorization ------------------------------------------------------

def categorize_pattern_sql(expr: str, dialect: str, max_tokens: int = 4) -> str:
    """ES ``categorize_text`` category key (deterministic variant): lowercase,
    strip digit runs (the variable parts of log messages), tokenize on
    non-letters, keep the first ``max_tokens`` tokens joined by spaces.

    ES's categorizer is an ML drain-tree; this is the reproducible
    prefix-pattern form — same intent (group near-identical machine-generated
    text), exact instead of adaptive, so the DuckDB oracle can run the same
    formula.
    """
    # 'g' flag on the DuckDB side: its regexp_replace replaces only the
    # FIRST match by default, Spark's replaces all (sweep-caught)
    if dialect == "spark":
        stripped = f"regexp_replace(lower({expr}), '[0-9]+', '')"
        toks = f"filter(split({stripped}, '[^a-z]+'), t -> t != '')"
        return f"array_join(slice({toks}, 1, {max_tokens}), ' ')"
    stripped = f"regexp_replace(lower({expr}), '[0-9]+', '', 'g')"
    toks = (
        f"list_filter(regexp_split_to_array({stripped}, '[^a-z]+'), "
        "t -> t != '')"
    )
    # COALESCE: DuckDB array_to_string of an empty slice is NULL where
    # Spark array_join is '' (the zero-token-document edge)
    return f"COALESCE(array_to_string({toks}[1:{max_tokens}], ' '), '')"


def categorize_text(
    df: DataFrame,
    text_col: str = "text",
    max_tokens: int = 4,
    k: int = 10,
) -> DataFrame:
    """ES ``categorize_text`` agg: bucket documents by message pattern.

    One scan -> codegen'd pattern projection -> hash agg -> top-k
    (TakeOrderedAndProject). Bucket count is bounded by distinct patterns,
    which the digit-stripping collapses aggressively for machine-generated
    text; the agg state stays small at any corpus size.
    """
    pat = categorize_pattern_sql(text_col, "spark", max_tokens)
    return (
        df.where(F.col(text_col).isNotNull())
        .select(F.expr(pat).alias("category"))
        .where(F.col("category") != "")
        .groupBy("category")
        .agg(F.count(F.lit(1)).alias("doc_count"))
        .orderBy(F.desc("doc_count"), F.asc("category"))
        .limit(k)
    )


# -- highlighting ------------------------------------------------------------

def highlight_sql(
    expr: str,
    term: str,
    dialect: str,
    *,
    window: int = 30,
    pre_tag: str = "<em>",
    post_tag: str = "</em>",
) -> str:
    """ES ``highlight``: a snippet around the FIRST case-insensitive
    occurrence of ``term`` with the match wrapped in emphasis tags,
    ``window`` characters of context either side. NULL when absent.

    Pure string-position arithmetic (instr/substr/greatest — identical on
    Spark and DuckDB; position found on lower(text) maps 1:1 onto the
    original for the ASCII corpora this targets). Codegen'd projection, no
    UDF — ES's fragment scorer picks the "best" fragment, this pins the
    first, which is deterministic and oracle-checkable."""
    if "'" in term:
        raise ValueError("highlight term may not contain quotes")
    t = term.lower()
    tl = len(t)
    pos = f"instr(lower({expr}), '{t}')"
    start = f"GREATEST(1, {pos} - {window})"
    pre = f"substr({expr}, {start}, {pos} - {start})"
    hit = f"substr({expr}, {pos}, {tl})"
    post = f"substr({expr}, {pos} + {tl}, {window})"
    return (
        f"CASE WHEN {pos} > 0 THEN "
        f"({pre} || '{pre_tag}' || {hit} || '{post_tag}' || {post}) END"
    )


def highlight(
    col: str, term: str, *, window: int = 30
) -> Column:
    """Spark Column form of :func:`highlight_sql`."""
    return F.expr(highlight_sql(col, term, "spark", window=window))


# -- vocabulary / n-gram statistics ------------------------------------------

def ngrams_sql(expr: str, dialect: str, n: int = 2) -> str:
    """Word n-gram array (space-joined, duplicates kept) of the pinned
    tokenization — the counting unit for vocabulary/bigram statistics.
    Docs with fewer than n tokens yield no n-grams."""
    if n < 1:
        raise ValueError("n must be >= 1")
    toks = tokens_sql(expr, dialect)
    if n == 1:
        return toks
    # zip_with chain, not transform(i -> slice(...)): the per-index slice
    # re-copies an n-window per element — measured 10x slower (see
    # dedup.grams_sql). zip_with pads the shorter shifted side with NULL,
    # concat propagates it, and the filter drops the tail — which also
    # handles docs shorter than n (everything nulls out -> empty array).
    if dialect == "spark":
        chain = toks
        for j in range(1, n):
            shifted = f"slice({toks}, {j + 1}, greatest(size({toks}) - {j}, 0))"
            chain = (
                f"zip_with({chain}, {shifted}, "
                f"(a{j}, b{j}) -> concat(a{j}, ' ', b{j}))"
            )
        return f"filter({chain}, x -> x IS NOT NULL)"
    return (
        f"CASE WHEN len({toks}) < {n} THEN [] "
        f"ELSE list_transform(generate_series(1, len({toks}) - {n - 1}), "
        f"i -> array_to_string(({toks})[i:i+{n - 1}], ' ')) END"
    )


def ngram_counts(
    df: DataFrame,
    text_col: str = "text",
    n: int = 2,
    k: int = 20,
) -> DataFrame:
    """Top-k n-gram frequency table over the corpus (the raw statistic
    under BPE-merge selection and collocation analysis). One explode ->
    one hash agg -> TakeOrdered top-k; the explode fan-out is per-doc
    token count, the agg state is vocabulary-bounded."""
    grams = ngrams_sql(text_col, "spark", n)
    return (
        df.where(F.col(text_col).isNotNull())
        .select(F.explode(F.expr(grams)).alias("ngram"))
        .groupBy("ngram")
        .agg(F.count(F.lit(1)).alias("occurrences"))
        .orderBy(F.desc("occurrences"), F.asc("ngram"))
        .limit(k)
    )


def vocab_build(
    df: DataFrame,
    text_col: str = "text",
    k: int = 100,
) -> DataFrame:
    """Corpus vocabulary head: top-k tokens with occurrence counts, corpus
    frequency, and CUMULATIVE coverage — "the 100 most frequent tokens
    cover X% of all token occurrences", the tokenizer-design statistic.

    One explode -> one hash agg; the total-token count rides the same agg
    (summed after, via a 1-row crossJoin — no second scan); the cumulative
    window runs over only the k survivors (tiny, single partition is fine
    BECAUSE it is k rows, never corpus rows)."""
    from pyspark.sql import Window

    toks = tokens_sql(text_col, "spark")
    counts = (
        df.where(F.col(text_col).isNotNull())
        .select(F.explode(F.expr(toks)).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("occurrences"))
    )
    total = counts.agg(F.sum("occurrences").alias("__total"))
    top = (
        counts.orderBy(F.desc("occurrences"), F.asc("token"))
        .limit(k)
        .crossJoin(F.broadcast(total))
    )
    w = (
        Window.orderBy(F.desc("occurrences"), F.asc("token"))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return top.select(
        "token",
        "occurrences",
        F.round(F.col("occurrences") / F.col("__total"), 6).alias("frequency"),
        F.round(
            F.sum("occurrences").over(w) / F.col("__total"), 6
        ).alias("cum_coverage"),
    ).orderBy(F.desc("occurrences"), F.asc("token"))


def vocab_build_sql(
    table: str, text_col: str, dialect: str, k: int = 100
) -> str:
    """Dual-dialect twin of :func:`vocab_build`."""
    toks = tokens_sql(text_col, dialect)
    unnest = "explode" if dialect == "spark" else "unnest"
    return f"""
WITH tok AS (
  SELECT {unnest}({toks}) AS token FROM {table}
  WHERE {text_col} IS NOT NULL
),
counts AS (
  SELECT token, COUNT(*) AS occurrences FROM tok GROUP BY token
),
total AS (SELECT SUM(occurrences) AS t FROM counts),
top AS (
  SELECT token, occurrences FROM counts
  ORDER BY occurrences DESC, token ASC LIMIT {k}
)
SELECT token, occurrences,
       ROUND(CAST(occurrences AS DOUBLE) / total.t, 6) AS frequency,
       ROUND(SUM(occurrences) OVER (
               ORDER BY occurrences DESC, token ASC
               ROWS UNBOUNDED PRECEDING) / CAST(total.t AS DOUBLE),
             6) AS cum_coverage
FROM top CROSS JOIN total
ORDER BY occurrences DESC, token ASC
"""


def term_vectors(
    df: DataFrame,
    doc_ids: list,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """ES ``_termvectors`` / ``_mtermvectors`` API: for each requested
    document, its terms with per-doc ``term_freq`` and 1-based
    ``positions``, plus the corpus-wide ``doc_freq`` and ``ttf`` (total
    term frequency) term statistics — the exact field set the ES API
    returns with ``term_statistics: true`` under the pinned
    tokenization.

    Scale shape: the requested docs (an API-call-sized list) tokenize
    and posexplode alone; the corpus statistics pass explodes the full
    corpus ONCE, pre-filtered by a broadcast semi join on the requested
    docs' distinct terms, then reduces in two stages — per (term, doc)
    counts first, then per-term sum/count — so ttf AND doc_freq come out
    of the single explode with no count-distinct (never the Expand plan)
    and no second pass. Output ordered (doc_id, term).
    """
    if not doc_ids:
        raise ValueError("term_vectors needs at least one doc id")
    toks = F.expr(tokens_sql(text_col, "spark"))
    tgt = (
        df.where(F.col(id_col).isin(doc_ids))
        .select(F.col(id_col), F.posexplode(toks).alias("__p", "term"))
        .groupBy(id_col, "term")
        .agg(
            F.count(F.lit(1)).alias("term_freq"),
            F.sort_array(F.collect_list(F.col("__p") + 1)).alias(
                "positions"
            ),
        )
    )
    terms = tgt.select("term").distinct()
    per_doc = (
        df.select(
            F.col(id_col).alias("__cid"),
            F.explode(F.expr(tokens_sql(text_col, "spark"))).alias("term"),
        )
        .join(F.broadcast(terms), "term", "left_semi")
        .groupBy("term", "__cid")
        .agg(F.count(F.lit(1)).alias("__tf"))
    )
    stats = per_doc.groupBy("term").agg(
        F.sum("__tf").cast("bigint").alias("ttf"),
        F.count(F.lit(1)).alias("doc_freq"),
    )
    return (
        tgt.join(stats, "term")
        .select(
            id_col, "term", "term_freq", "positions", "doc_freq", "ttf"
        )
        .orderBy(id_col, "term")
    )


def term_vectors_sql(
    table: str,
    doc_ids: list,
    dialect: str = "duckdb",
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> str:
    """Oracle twin of :func:`term_vectors` (single-query form)."""
    if not doc_ids:
        raise ValueError("term_vectors needs at least one doc id")
    ids = ", ".join(str(int(i)) for i in doc_ids)
    toks = tokens_sql(text_col, dialect)
    return f"""
WITH tgt_tok AS (
  SELECT {id_col}, t.term, t.pos
  FROM {table},
       LATERAL (SELECT unnest({toks}) AS term,
                       generate_subscripts({toks}, 1) AS pos) t
  WHERE {id_col} IN ({ids})
), tgt AS (
  SELECT {id_col}, term, COUNT(*) AS term_freq,
         list_sort(list(pos)) AS positions
  FROM tgt_tok GROUP BY {id_col}, term
), corpus AS (
  SELECT {id_col} AS cid, unnest({toks}) AS term FROM {table}
), stats AS (
  SELECT term, COUNT(*) AS ttf, COUNT(DISTINCT cid) AS doc_freq
  FROM corpus WHERE term IN (SELECT DISTINCT term FROM tgt)
  GROUP BY term
)
SELECT tgt.{id_col}, tgt.term, tgt.term_freq, tgt.positions,
       stats.doc_freq, stats.ttf
FROM tgt JOIN stats ON tgt.term = stats.term
ORDER BY tgt.{id_col}, tgt.term
"""


def highlight_fragments_sql(
    expr: str,
    dialect: str,
    term: str,
    *,
    window: int = 30,
    n_fragments: int = 3,
    pre_tag: str = "<em>",
    post_tag: str = "</em>",
) -> str:
    """ES ``highlight`` with ``number_of_fragments``: up to
    ``n_fragments`` snippets, one per successive case-insensitive
    occurrence of ``term``, each with ``window`` characters of context
    (first-N occurrences pinned — ES's fragment scorer ranks, this stays
    deterministic/oracle-checkable; the single-fragment highlight_sql
    remains the top-fragment fast path). Empty array when absent.

    All positions derive from ONE lowercase split of the text: occurrence
    i starts after the first i segments plus the i-1 matched terms, a
    prefix-sum computed per emitted fragment only (bounded by
    ``n_fragments``, never by occurrence count). Let-bound so the split
    happens once per row; codegen'd on both engines, no UDF."""
    if not term.replace(" ", "").isalnum():
        raise ValueError(
            "highlight term must be alnum (it doubles as a literal "
            "split separator)"
        )
    t = term.lower()
    tl = len(t)
    spark = dialect == "spark"
    if spark:
        segs = f"split(lower({expr}), '{t}')"
        inner_pos = (
            "aggregate(slice(S0, 1, i), 0, (a, s) -> a + length(s))"
            f" + (i - 1) * {tl} + 1"
        )
        body = (
            f"transform(sequence(1, least(size(S0) - 1, {n_fragments})),"
            f" i -> {inner_pos})"
        )
        positions = (
            f"CASE WHEN size({segs}) >= 2 THEN"
            f" transform(array({segs}), S0 -> {body})[0]"
            " ELSE array() END"
        )
        frag = (
            f"substr({expr}, GREATEST(1, p - {window}),"
            f" p - GREATEST(1, p - {window}))"
            f" || '{pre_tag}' || substr({expr}, p, {tl}) || '{post_tag}'"
            f" || substr({expr}, p + {tl}, {window})"
        )
        return f"transform({positions}, p -> {frag})"
    segs = f"string_split(lower({expr}), '{t}')"
    inner_pos = (  # CAST: list_sum yields HUGEINT, substr wants BIGINT
        "CAST(list_sum(list_transform(list_slice(S0, 1, i),"
        " s -> length(s)))"
        f" + (i - 1) * {tl} + 1 AS BIGINT)"
    )
    body = (
        f"list_transform(range(1, least(len(S0) - 1, {n_fragments}) + 1),"
        f" i -> {inner_pos})"
    )
    positions = (
        f"CASE WHEN len({segs}) >= 2 THEN"
        f" list_transform([{segs}], S0 -> {body})[1]"
        " ELSE [] END"
    )
    frag = (
        f"substr({expr}, GREATEST(1, p - {window}),"
        f" p - GREATEST(1, p - {window}))"
        f" || '{pre_tag}' || substr({expr}, p, {tl}) || '{post_tag}'"
        f" || substr({expr}, p + {tl}, {window})"
    )
    return f"list_transform({positions}, p -> CAST({frag} AS VARCHAR))"


def zipf_fit(
    df: DataFrame,
    text_col: str = "text",
    *,
    top_ranks: int = 500,
) -> DataFrame:
    """Zipf's-law fit over the corpus token distribution: token
    frequencies ranked (freq DESC, token ASC), the top ``top_ranks``
    ranks fit by OLS on (ln rank, ln freq).  The slope is the Zipf
    exponent (s ~ -1 for natural language) — a standard corpus-health
    probe for LLM training data (a too-shallow slope flags boilerplate /
    template spam, too-steep flags vocabulary collapse).

    Returns one row: (n_ranks, slope, intercept, r2), rounded to 6.

    Scale shape: explode + one map-combinable token count (the same
    single pass vocab_build does), a TakeOrdered-sized top-``top_ranks``
    cut, and the regression reduces 500 rows with built-in regr_*
    aggregates — the only corpus-sized exchange is the token-count agg.
    """
    toks = df.select(
        F.explode(
            F.expr(tokens_sql(text_col, "spark"))
        ).alias("token")
    )
    freq = toks.groupBy("token").agg(F.count(F.lit(1)).alias("freq"))
    top = (
        freq.orderBy(F.col("freq").desc(), F.col("token").asc())
        .limit(top_ranks)
        .select(
            F.row_number()
            .over(
                Window.orderBy(F.col("freq").desc(), F.col("token").asc())
            )
            .alias("rank"),
            "freq",
        )
    )
    pts = top.select(
        F.log(F.col("rank").cast("double")).alias("x"),
        F.log(F.col("freq").cast("double")).alias("y"),
    )
    return pts.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_ranks"),
        F.round(F.expr("regr_slope(y, x)"), 6).alias("slope"),
        F.round(F.expr("regr_intercept(y, x)"), 6).alias("intercept"),
        F.round(F.expr("regr_r2(y, x)"), 6).alias("r2"),
    )


def zipf_fit_sql(table: str, text_col: str = "text", *, top_ranks: int = 500) -> str:
    """DuckDB replay of :func:`zipf_fit` — same tokenization, ranking
    pins, and regr_* aggregates."""
    return f"""
WITH toks AS (
  SELECT unnest({tokens_sql(text_col, 'duckdb')}) AS token FROM {table}
), freq AS (
  SELECT token, COUNT(*) AS freq FROM toks GROUP BY token
  ORDER BY freq DESC, token ASC LIMIT {top_ranks}
), ranked AS (
  SELECT ROW_NUMBER() OVER (ORDER BY freq DESC, token ASC) AS rank, freq
  FROM freq
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_ranks,
       ROUND(regr_slope(ln(freq), ln(rank)), 6) AS slope,
       ROUND(regr_intercept(ln(freq), ln(rank)), 6) AS intercept,
       ROUND(regr_r2(ln(freq), ln(rank)), 6) AS r2
FROM ranked
"""


def feature_hash_vectors(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    n_buckets: int = 1024,
    weighting: str = "tfidf",
) -> DataFrame:
    """Feature-hashing sparse document vectors (the hashing-trick TF /
    TF-IDF featurizer): every token maps to ``hash(token) % n_buckets``;
    the output is the EXPLODED sparse form, one row per (doc, bucket)
    with its weight — the representation sparse_search consumes and the
    cheapest join-able layout at scale (no array columns cross a
    shuffle).

    Weights: ``tf`` = raw term count in the doc; ``tfidf`` =
    ``tf * ln((N + 1) / (df + 1)) + 0`` with N = documents carrying at
    least one token and df = documents hitting the bucket (the smoothed
    idf; hash collisions fold into the bucket by construction — the
    hashing trick's documented bias). Rounded to 6.

    Scale shape: explode -> ONE (doc, bucket) hash agg for tf; the df
    frame is a second agg over the tf frame keyed by bucket (bounded by
    n_buckets after reduction); N is a 1-row broadcast; the idf join
    broadcasts the <= n_buckets df frame. No row ever carries an array
    across an exchange.
    """
    if weighting not in ("tf", "tfidf"):
        raise ValueError("weighting must be tf or tfidf")
    if n_buckets < 2:
        raise ValueError("n_buckets must be >= 2")
    toks = df.select(
        F.col(id_col).alias("doc"),
        F.explode(F.expr(tokens_sql(text_col, "spark"))).alias("token"),
    )
    h = hash64_sql("token", "spark")
    tf = (
        toks.select("doc", F.expr(f"{h} % {n_buckets}").alias("bucket"))
        .groupBy("doc", "bucket")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    if weighting == "tf":
        return tf.select(
            F.col("doc").alias(id_col), "bucket",
            F.col("tf").cast("double").alias("weight"),
        )
    dfreq = tf.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("df")
    )
    n_docs = tf.select("doc").distinct().agg(
        F.count(F.lit(1)).alias("n")
    )
    return (
        tf.join(F.broadcast(dfreq), "bucket")
        .crossJoin(F.broadcast(n_docs))
        .select(
            F.col("doc").alias(id_col),
            "bucket",
            F.round(
                F.col("tf")
                * F.log(
                    (F.col("n") + F.lit(1.0)) / (F.col("df") + F.lit(1.0))
                ),
                6,
            ).alias("weight"),
        )
    )


def feature_hash_vectors_sql(
    table: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    n_buckets: int = 1024,
    weighting: str = "tfidf",
) -> str:
    """DuckDB replay of :func:`feature_hash_vectors` — same tokenizer,
    same 60-bit hash, same smoothed idf."""
    h = hash64_sql("token", "duckdb")
    base = f"""
WITH toks AS (
  SELECT {id_col} AS doc, unnest({tokens_sql(text_col, 'duckdb')}) AS token
  FROM {table}
), tf AS (
  SELECT doc, {h} % {n_buckets} AS bucket, COUNT(*) AS tf
  FROM toks GROUP BY 1, 2
)"""
    if weighting == "tf":
        return base + f"""
SELECT doc AS {id_col}, bucket, CAST(tf AS DOUBLE) AS weight FROM tf
"""
    return base + f""", dfreq AS (
  SELECT bucket, COUNT(*) AS df FROM tf GROUP BY 1
), nd AS (SELECT COUNT(DISTINCT doc) AS n FROM tf)
SELECT tf.doc AS {id_col}, tf.bucket,
       ROUND(tf * ln((n + 1.0) / (df + 1.0)), 6) AS weight
FROM tf JOIN dfreq ON tf.bucket = dfreq.bucket CROSS JOIN nd
"""


def readability_sql(expr: str, dialect: str) -> str:
    """Flesch reading-ease score, pinned deterministic form:

        206.835 - 1.015 * words/sentences - 84.6 * syllables/words

    with sentences = periods/!/? runs (min 1), words = the pinned alnum
    tokens, and syllables approximated as VOWEL RUNS per word (min 1 per
    word) — the standard cheap approximation; real hyphenation
    dictionaries are out of scope and this pin is cross-engine exact.
    Clamped to [-100, 121.22] and rounded to 6. Pure column expression —
    map-only at any scale."""
    toks = tokens_sql(expr, dialect)
    if dialect == "spark":
        n_words = f"size({toks})"
        syl = (
            f"aggregate({toks}, 0L, (acc, t) -> acc + "
            f"greatest(size(regexp_extract_all(t, '[aeiouy]+', 0)), 1))"
        )
        n_sent = f"greatest(size(regexp_extract_all({expr}, '[.!?]+', 0)), 1)"
    else:
        n_words = f"len({toks})"
        syl = (
            f"COALESCE(list_sum(list_transform({toks}, t -> "
            f"greatest(len(regexp_extract_all(t, '[aeiouy]+')), 1))), 0)"
        )
        n_sent = f"greatest(len(regexp_extract_all({expr}, '[.!?]+')), 1)"
    score = (
        f"(206.835 - 1.015 * (CAST({n_words} AS DOUBLE) / {n_sent}) "
        f"- 84.6 * (CAST({syl} AS DOUBLE) / NULLIF({n_words}, 0)))"
    )
    return f"ROUND(LEAST(GREATEST({score}, -100.0), 121.22), 6)"


def term_overlap_sql(
    query_text: str, cols: list[str], dialect: str
) -> str:
    """The deterministic rerank stand-in shared by the ES|QL ``RERANK``
    command and the ``text_similarity_reranker`` retriever: matched
    DISTINCT query tokens / total query tokens over the concatenated
    columns (pinned tokenizer, score in [0, 1], rounded 6). A neural
    re-ranker can't run in-engine; this is the registered
    ``term_overlap`` model type."""
    import re as _re

    toks = sorted({
        t for t in _re.split(r"[^a-z0-9]+", query_text.lower()) if t
    })
    if not toks:
        raise ValueError("rerank query has no tokens")
    qt = lambda t: "'" + t.replace("'", "''") + "'"  # noqa: E731
    cast = "STRING" if dialect == "spark" else "VARCHAR"
    joined = "concat_ws(' ', " + ", ".join(
        f"coalesce(CAST({c} AS {cast}), '')" for c in cols
    ) + ")"
    dtoks = tokens_sql(joined, dialect)
    if dialect == "spark":
        lit = "array(" + ", ".join(qt(t) for t in toks) + ")"
        matched = f"size(array_intersect({lit}, {dtoks}))"
    else:
        lit = "[" + ", ".join(qt(t) for t in toks) + "]"
        matched = (
            f"len(list_filter({lit}, __qtok -> list_contains({dtoks}, __qtok)))"
        )
    return f"ROUND(CAST({matched} AS DOUBLE) / {len(toks)}, 6)"


_SCRIPT_CLASSES = {
    # name -> (java/Spark class, RE2/DuckDB class)
    "latin": (r"\\p{IsLatin}", r"\p{Latin}"),
    "han": (r"\\p{IsHan}", r"\p{Han}"),
    "cyrillic": (r"\\p{IsCyrillic}", r"\p{Cyrillic}"),
    "arabic": (r"\\p{IsArabic}", r"\p{Arabic}"),
    "digit": ("[0-9]", "[0-9]"),
}
SCRIPT_NAMES = tuple(_SCRIPT_CLASSES)  # the tie-break priority order


def script_ratios_sql(expr: str, dialect: str) -> dict[str, str]:
    """Per-unicode-script character ratios (multilingual-curation
    signal): for each of latin/han/cyrillic/arabic/digit, the fraction
    of NON-WHITESPACE characters in that script (0.0 for an empty or
    all-space text). Both engines' regex classes verified to count the
    same characters (Java \\p{IsX} vs RE2 \\p{X})."""
    if dialect == "spark":
        total = f"regexp_count({expr}, '\\\\S')"

        def cnt(cls: str) -> str:
            return f"regexp_count({expr}, '{cls}')"

        idx = 0
    else:
        total = f"len(regexp_extract_all({expr}, '\\S'))"

        def cnt(cls: str) -> str:
            return f"len(regexp_extract_all({expr}, '{cls}'))"

        idx = 1
    return {
        name: (
            f"ROUND(COALESCE(CAST({cnt(classes[idx])} AS DOUBLE)"
            f" / NULLIF({total}, 0), 0.0), 6)"
        )
        for name, classes in _SCRIPT_CLASSES.items()
    }


def script_profile(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-document script profile: one ratio column per script plus
    the ``dominant`` script (highest ratio; ties resolve in
    ``SCRIPT_NAMES`` priority order — latin first). Map-only codegen
    regex counts, the multilingual routing signal (language-family
    sharding, mixed-script spam flags) upstream of lang-ID."""
    ratios = script_ratios_sql(text_col, "spark")
    out = df.where(F.col(text_col).isNotNull()).select(
        F.col(id_col),
        *[F.expr(sql).alias(name) for name, sql in ratios.items()],
    )
    names = list(_SCRIPT_CLASSES)
    dom = F
    expr = None
    for i, name in enumerate(names):
        others = [F.col(n) for n in names[:i] + names[i + 1:]]
        cond = F.col(name) >= F.greatest(*others)
        expr = (
            F.when(cond, F.lit(name))
            if expr is None
            else expr.when(cond, F.lit(name))
        )
    return out.withColumn("dominant", expr)


def tokenizer_fertility(
    df: DataFrame,
    text_col: str = "text",
    group_col: str = "source",
) -> DataFrame:
    """Tokenizer fertility per group — the standard tokenizer-eval
    metric for mixing decisions (a domain whose fertility is 2x pays
    2x the sequence length for the same words): per ``group_col``,
    total words (pinned whitespace-alnum tokens), total BPE-ish pieces
    (the deterministic stand-in tokenizer), total characters, and the
    two ratios — pieces/word (fertility) and chars/piece (compression).
    ONE map-combinable agg over map-side counts."""
    words = token_count_sql(text_col, "spark")
    pieces = bpe_ish_token_count_sql(text_col, "spark")
    out = (
        df.where(F.col(text_col).isNotNull() & F.col(group_col).isNotNull())
        .groupBy(F.col(group_col).alias("grp"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.expr(words)).alias("n_words"),
            F.sum(F.expr(pieces)).alias("n_pieces"),
            F.sum(F.length(text_col)).alias("n_chars"),
        )
    )
    return out.select(
        F.col("grp").alias(group_col),
        "n_docs", "n_words", "n_pieces", "n_chars",
        F.round(
            F.try_divide(F.col("n_pieces"), F.col("n_words")), 6
        ).alias("fertility"),
        F.round(
            F.try_divide(F.col("n_chars"), F.col("n_pieces")), 6
        ).alias("chars_per_piece"),
    ).orderBy(group_col)


def tokenizer_fertility_sql(
    table: str,
    text_col: str,
    group_col: str,
    dialect: str,
) -> str:
    """Dual-dialect twin of :func:`tokenizer_fertility`."""
    words = token_count_sql(text_col, dialect)
    pieces = bpe_ish_token_count_sql(text_col, dialect)
    return f"""
WITH agg AS (
  SELECT {group_col} AS grp, COUNT(*) AS n_docs,
         SUM({words}) AS n_words,
         SUM({pieces}) AS n_pieces,
         SUM(length({text_col})) AS n_chars
  FROM {table}
  WHERE {text_col} IS NOT NULL AND {group_col} IS NOT NULL
  GROUP BY 1
)
SELECT grp AS {group_col}, n_docs,
       CAST(n_words AS BIGINT) AS n_words,
       CAST(n_pieces AS BIGINT) AS n_pieces,
       CAST(n_chars AS BIGINT) AS n_chars,
       ROUND(CAST(n_pieces AS DOUBLE) / NULLIF(n_words, 0), 6)
         AS fertility,
       ROUND(CAST(n_chars AS DOUBLE) / NULLIF(n_pieces, 0), 6)
         AS chars_per_piece
FROM agg ORDER BY {group_col}
"""

# -- corpus-distribution divergence / diversity --------------------------------

def jsd_divergence(
    df: DataFrame,
    text_col: str,
    side_expr: str,
) -> DataFrame:
    """Jensen-Shannon divergence between the term distributions of two
    corpus slices — the bounded, symmetric drift metric for "did this
    month's crawl change vocabulary?" and source-vs-source mixing
    audits (complements :func:`analytics.psi_drift`, which bins a
    NUMERIC column; JSD compares the whole token distribution).
    ``side_expr`` is a boolean SQL expression over the input's columns:
    true rows form side A, false rows side B (NULL rows drop).

    ``JSD = sum_t [ p/2 * log2(p/m) + q/2 * log2(q/m) ]`` with
    ``m = (p+q)/2`` and the ``0 log 0 = 0`` convention; base 2 bounds
    it in [0, 1] and ``sqrt(JSD)`` is a true metric (the JS distance).
    Returns ONE row ``(tokens_a, tokens_b, vocab, jsd_bits,
    jsd_distance)`` rounded 6; if either side has no tokens the
    divergence is NULL (nothing to compare), never 0.

    Scale shape: one token explode -> one vocabulary-sized conditional
    count agg -> a 1-row totals agg broadcast back -> one final fold.
    The corpus is scanned once; everything after the first agg is
    vocab-sized. The count frame feeds two consumers (totals + fold) —
    persisted, lifetime tethered to the result.
    """
    from harmonize_search_analyze_spark.functions.caching import tether

    toks = tokens_sql(text_col, "spark")
    side = F.expr(side_expr)
    pairs = (
        df.where(F.col(text_col).isNotNull() & side.isNotNull())
        .select(side.alias("__side"), F.explode(F.expr(toks)).alias("__t"))
        .groupBy("__t")
        .agg(
            F.count(F.when(F.col("__side"), 1)).alias("__ca"),
            F.count(F.when(~F.col("__side"), 1)).alias("__cb"),
        )
        .persist()
    )
    totals = pairs.agg(
        F.sum("__ca").alias("__ta"), F.sum("__cb").alias("__tb")
    )
    # nullif denominators: an empty side has total 0 and under ANSI the
    # division throws even inside an untaken when() branch — NULL
    # propagates to the (already NULL-gated) outputs instead
    p = F.col("__ca") / F.nullif(F.col("__ta"), F.lit(0))
    q = F.col("__cb") / F.nullif(F.col("__tb"), F.lit(0))
    m = (p + q) / 2
    contrib = F.when(
        F.col("__ca") > 0, p / 2 * F.log2(p / m)
    ).otherwise(F.lit(0.0)) + F.when(
        F.col("__cb") > 0, q / 2 * F.log2(q / m)
    ).otherwise(F.lit(0.0))
    folded = (
        pairs.crossJoin(F.broadcast(totals))
        .agg(
            F.max("__ta").alias("__ta"),
            F.max("__tb").alias("__tb"),
            F.count(F.lit(1)).alias("__vocab"),
            F.sum(contrib).alias("__jsd"),
        )
    )
    out = folded.select(
        F.coalesce(F.col("__ta"), F.lit(0)).cast("bigint").alias("tokens_a"),
        F.coalesce(F.col("__tb"), F.lit(0)).cast("bigint").alias("tokens_b"),
        F.col("__vocab").cast("bigint").alias("vocab"),
        F.when(
            (F.col("__ta") > 0) & (F.col("__tb") > 0),
            F.round(F.col("__jsd"), 6) + F.lit(0.0),
        ).alias("jsd_bits"),
        F.when(
            (F.col("__ta") > 0) & (F.col("__tb") > 0),
            F.round(F.sqrt(F.greatest(F.col("__jsd"), F.lit(0.0))), 6),
        ).alias("jsd_distance"),
    )
    return tether(out, pairs)


def jsd_divergence_sql(
    table: str,
    text_col: str,
    side_expr: str,
    dialect: str,
    *,
    where: str | None = None,
) -> str:
    """Dual-dialect twin of :func:`jsd_divergence`. ``side_expr`` must be
    valid in both dialects (plain comparisons are)."""
    toks = tokens_sql(text_col, dialect)
    if dialect == "spark":
        unnest = f"SELECT ({side_expr}) AS side, explode({toks}) AS t"
    elif dialect == "duckdb":
        unnest = f"SELECT ({side_expr}) AS side, UNNEST({toks}) AS t"
    else:
        raise ValueError(f"unknown dialect: {dialect}")
    w = f"AND ({where})" if where else ""
    return f"""
WITH tok AS (
  {unnest}
  FROM {table}
  WHERE {text_col} IS NOT NULL AND ({side_expr}) IS NOT NULL {w}
),
pairs AS (
  SELECT t,
         COUNT(CASE WHEN side THEN 1 END) AS ca,
         COUNT(CASE WHEN NOT side THEN 1 END) AS cb
  FROM tok GROUP BY t
),
tot AS (SELECT SUM(ca) AS ta, SUM(cb) AS tb FROM pairs),
fold AS (
  SELECT MAX(ta) AS ta, MAX(tb) AS tb, COUNT(*) AS vocab,
         SUM(
           CASE WHEN ca > 0 THEN (ca / CAST(ta AS DOUBLE)) / 2
                * LOG2((ca / CAST(ta AS DOUBLE))
                       / ((ca / CAST(ta AS DOUBLE)
                           + cb / CAST(tb AS DOUBLE)) / 2))
                ELSE 0.0 END
           + CASE WHEN cb > 0 THEN (cb / CAST(tb AS DOUBLE)) / 2
                * LOG2((cb / CAST(tb AS DOUBLE))
                       / ((ca / CAST(ta AS DOUBLE)
                           + cb / CAST(tb AS DOUBLE)) / 2))
                ELSE 0.0 END
         ) AS jsd
  FROM pairs CROSS JOIN tot
)
SELECT CAST(COALESCE(ta, 0) AS BIGINT) AS tokens_a,
       CAST(COALESCE(tb, 0) AS BIGINT) AS tokens_b,
       CAST(vocab AS BIGINT) AS vocab,
       CASE WHEN ta > 0 AND tb > 0
            THEN ROUND(jsd, 6) + 0.0 END AS jsd_bits,
       CASE WHEN ta > 0 AND tb > 0
            THEN ROUND(SQRT(GREATEST(jsd, 0.0)), 6) END AS jsd_distance
FROM fold
"""


def distinct_ngrams(
    df: DataFrame,
    text_col: str,
    group_col: str,
    *,
    n: int = 2,
) -> DataFrame:
    """Distinct-n diversity per group — the repetition/mode-collapse
    audit for synthetic or deduplicated corpora: the share of n-gram
    OCCURRENCES that are unique n-grams (distinct-1/distinct-2 in the
    dialogue-generation literature; low values flag templated or
    self-repeating sources). Returns per group ``(group, total_ngrams,
    distinct_ngrams, distinct_ratio)`` rounded 6, ordered by group;
    groups whose docs are all shorter than ``n`` tokens yield no
    n-grams and drop (identically on both engines).

    Scale shape: one n-gram explode -> (group, gram) hash agg ->
    group hash agg. count and count_distinct never share an agg (the
    Expand-plan trap) — the two-level stack IS the distinct count.
    """
    grams = ngrams_sql(text_col, "spark", n)
    per_gram = (
        df.where(F.col(text_col).isNotNull())
        .select(F.col(group_col), F.explode(F.expr(grams)).alias("__g"))
        .groupBy(group_col, "__g")
        .agg(F.count(F.lit(1)).alias("__c"))
    )
    return (
        per_gram.groupBy(group_col)
        .agg(
            F.sum("__c").cast("bigint").alias("total_ngrams"),
            F.count(F.lit(1)).cast("bigint").alias("distinct_ngrams"),
            F.round(
                F.count(F.lit(1)) / F.sum("__c").cast("double"), 6
            ).alias("distinct_ratio"),
        )
        .orderBy(group_col)
    )


def distinct_ngrams_sql(
    table: str,
    text_col: str,
    group_col: str,
    dialect: str,
    *,
    n: int = 2,
) -> str:
    """Dual-dialect twin of :func:`distinct_ngrams` (same two-level agg
    stack; the n-gram construction comes from :func:`ngrams_sql`)."""
    grams = ngrams_sql(text_col, dialect, n)
    if dialect == "spark":
        unnest = f"SELECT {group_col} AS g, explode({grams}) AS gram"
    elif dialect == "duckdb":
        unnest = f"SELECT {group_col} AS g, UNNEST({grams}) AS gram"
    else:
        raise ValueError(f"unknown dialect: {dialect}")
    return f"""
WITH exploded AS (
  {unnest} FROM {table} WHERE {text_col} IS NOT NULL
),
per_gram AS (
  SELECT g, gram, COUNT(*) AS c FROM exploded GROUP BY g, gram
)
SELECT g AS {group_col},
       CAST(SUM(c) AS BIGINT) AS total_ngrams,
       CAST(COUNT(*) AS BIGINT) AS distinct_ngrams,
       ROUND(COUNT(*) / CAST(SUM(c) AS DOUBLE), 6) AS distinct_ratio
FROM per_gram GROUP BY g ORDER BY g
"""

def source_jsd_matrix(
    df: DataFrame,
    text_col: str,
    group_col: str,
) -> DataFrame:
    """Pairwise Jensen-Shannon divergence between EVERY pair of sources'
    token distributions — the mixture-design matrix ("which sources are
    near-duplicates of each other's vocabulary, which add diversity?")
    generalizing :func:`jsd_divergence` from one split to all pairs.
    Returns ``(source_a, source_b, jsd_bits, jsd_distance)`` for
    ``source_a < source_b``, rounded 6, ordered.

    The token-equi-join only sees tokens SHARED by a pair; each side's
    unshared probability mass contributes exactly ``(1 - shared_p)/2``
    (at p = 0 the other side's term collapses to q/2), so the full JSD
    folds from the inner join plus two shared-mass sums — no outer join,
    no per-pair vocabulary union.

    Scale shape: one explode -> one (source, token) agg (persisted; two
    consumers), source totals broadcast back, then ONE token-keyed
    self-join whose fan-out per token is bounded by the number of
    sources carrying it (sources are bounded by contract — this is a
    per-SOURCE matrix, never per-document).
    """
    from harmonize_search_analyze_spark.functions.caching import tether

    toks = tokens_sql(text_col, "spark")
    counts = (
        df.where(F.col(text_col).isNotNull() & F.col(group_col).isNotNull())
        .select(F.col(group_col).alias("__g"), F.explode(F.expr(toks)).alias("__t"))
        .groupBy("__g", "__t")
        .agg(F.count(F.lit(1)).alias("__c"))
        .persist()
    )
    totals = counts.groupBy("__g").agg(F.sum("__c").alias("__tot"))
    probs = counts.join(F.broadcast(totals), "__g").select(
        "__g", "__t", (F.col("__c") / F.col("__tot")).alias("__p")
    )
    a = probs.select(
        F.col("__g").alias("source_a"), F.col("__t").alias("__t"),
        F.col("__p").alias("__pa"),
    )
    b = probs.select(
        F.col("__g").alias("source_b"), F.col("__t").alias("__t"),
        F.col("__p").alias("__pb"),
    )
    m = (F.col("__pa") + F.col("__pb")) / 2
    shared = (
        a.join(b, "__t")
        .where(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(
            F.sum(
                F.col("__pa") / 2 * F.log2(F.col("__pa") / m)
                + F.col("__pb") / 2 * F.log2(F.col("__pb") / m)
            ).alias("__shared_jsd"),
            F.sum("__pa").alias("__sa"),
            F.sum("__pb").alias("__sb"),
        )
    )
    # pairs sharing NO token never appear in the join — they are exactly
    # JSD = 1; build the full pair spine from the (tiny) totals frame
    ga = totals.select(F.col("__g").alias("source_a"))
    gb = totals.select(F.col("__g").alias("source_b"))
    spine = ga.crossJoin(gb).where(F.col("source_a") < F.col("source_b"))
    jsd = (
        F.coalesce(F.col("__shared_jsd"), F.lit(0.0))
        + (1.0 - F.coalesce(F.col("__sa"), F.lit(0.0))) / 2
        + (1.0 - F.coalesce(F.col("__sb"), F.lit(0.0))) / 2
    )
    out = (
        spine.join(shared, ["source_a", "source_b"], "left")
        .select(
            "source_a", "source_b",
            (F.round(jsd, 6) + F.lit(0.0)).alias("jsd_bits"),
            F.round(F.sqrt(F.greatest(jsd, F.lit(0.0))), 6).alias(
                "jsd_distance"
            ),
        )
        .orderBy("source_a", "source_b")
    )
    return tether(out, counts)


def source_jsd_matrix_sql(
    table: str,
    text_col: str,
    group_col: str,
    dialect: str,
) -> str:
    """Dual-dialect twin of :func:`source_jsd_matrix` (same shared-mass
    fold; the pair spine left-joins the shared-token aggregate)."""
    toks = tokens_sql(text_col, dialect)
    if dialect == "spark":
        unnest = f"SELECT {group_col} AS g, explode({toks}) AS t"
    elif dialect == "duckdb":
        unnest = f"SELECT {group_col} AS g, UNNEST({toks}) AS t"
    else:
        raise ValueError(f"unknown dialect: {dialect}")
    return f"""
WITH tok AS (
  {unnest} FROM {table}
  WHERE {text_col} IS NOT NULL AND {group_col} IS NOT NULL
),
counts AS (SELECT g, t, COUNT(*) AS c FROM tok GROUP BY g, t),
tot AS (SELECT g, SUM(c) AS tot FROM counts GROUP BY g),
probs AS (
  SELECT counts.g, t, c / CAST(tot AS DOUBLE) AS p
  FROM counts JOIN tot ON counts.g = tot.g
),
shared AS (
  SELECT a.g AS sa, b.g AS sb,
         SUM(a.p / 2 * LOG2(a.p / ((a.p + b.p) / 2))
             + b.p / 2 * LOG2(b.p / ((a.p + b.p) / 2))) AS shared_jsd,
         SUM(a.p) AS ma, SUM(b.p) AS mb
  FROM probs a JOIN probs b ON a.t = b.t AND a.g < b.g
  GROUP BY a.g, b.g
),
spine AS (
  SELECT ta.g AS sa, tb.g AS sb
  FROM tot ta CROSS JOIN tot tb WHERE ta.g < tb.g
)
SELECT spine.sa AS source_a, spine.sb AS source_b,
       ROUND(COALESCE(shared_jsd, 0.0)
             + (1.0 - COALESCE(ma, 0.0)) / 2
             + (1.0 - COALESCE(mb, 0.0)) / 2, 6) + 0.0 AS jsd_bits,
       ROUND(SQRT(GREATEST(COALESCE(shared_jsd, 0.0)
             + (1.0 - COALESCE(ma, 0.0)) / 2
             + (1.0 - COALESCE(mb, 0.0)) / 2, 0.0)), 6) AS jsd_distance
FROM spine LEFT JOIN shared ON spine.sa = shared.sa AND spine.sb = shared.sb
ORDER BY source_a, source_b
"""

def heaps_law(
    df: DataFrame,
    text_col: str,
    order_col: str,
    *,
    buckets: int = 20,
) -> DataFrame:
    """Heaps'-law fit of vocabulary growth ``V(n) = K * n^beta`` — the
    tokenizer/corpus-planning curve ("how much NEW vocabulary does the
    next TB buy?"; natural text sits near beta ~ 0.5, templated or
    looping corpora flatten toward 0). Docs order by ``order_col`` into
    ``buckets`` equal-width rank buckets; the cumulative vocabulary at
    each bucket boundary counts each token at its FIRST-APPEARANCE
    bucket (min bucket per token — one agg, no per-prefix distinct
    pass), and (log n, log V) fits with the shared REGR_* aggregates.
    Returns ONE row ``(n_tokens, vocab, k, beta, r2)`` rounded 6;
    degenerate single-bucket/zero-variance fits pin NULL beta (the
    REGR contract).

    Scale shape: the bucket id comes from :func:`ordering.ntile_scalable`
    (range exchange + parallel per-partition row_number + broadcast
    offsets — exact NTILE semantics with no single-task corpus sort;
    ``order_col`` must be unique for the order to be total), one
    explode -> (token -> min bucket) agg, cumulative sums over the
    ``buckets``-sized frame, one 1-row regression agg.
    """
    if buckets < 2:
        raise ValueError("buckets must be >= 2")
    from harmonize_search_analyze_spark.functions.caching import tether
    from harmonize_search_analyze_spark.operators.ordering import (
        ntile_scalable,
    )

    toks = tokens_sql(text_col, "spark")
    bucketed = ntile_scalable(
        df.where(F.col(text_col).isNotNull()).select(order_col, text_col),
        [order_col],
        buckets,
        "__b",
    ).select(
        F.col("__b"),
        F.explode(F.expr(toks)).alias("__t"),
    )
    # per-token first appearance + per-bucket token totals ride ONE
    # (bucket, token)-keyed agg; both downstream consumers are
    # buckets-sized after the second agg
    per_bt = (
        bucketed.groupBy("__b", "__t")
        .agg(F.count(F.lit(1)).alias("__c"))
        .persist()
    )
    first = (
        per_bt.groupBy("__t").agg(F.min("__b").alias("__fb"))
        .groupBy("__fb").agg(F.count(F.lit(1)).alias("__new"))
    )
    sizes = per_bt.groupBy("__b").agg(F.sum("__c").alias("__nt"))
    cum = Window.orderBy("__b").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    curve = (
        sizes.join(first, sizes["__b"] == first["__fb"], "left")
        .select(
            sizes["__b"],
            F.sum("__nt").over(cum).alias("__n"),
            F.sum(F.coalesce("__new", F.lit(0))).over(cum).alias("__v"),
        )
        .where(F.col("__n") > 0)
    )
    # r2 pin: a FLAT vocabulary curve (every token seen in bucket 1 —
    # tiny corpora) zeroes the y-variance, where Spark's regr_r2 returns
    # 1.0 but DuckDB's returns SSE/SST float-noise junk; the flat line
    # fits perfectly, so pin 1.0 explicitly on both engines
    out = curve.agg(
        F.max("__n").cast("bigint").alias("n_tokens"),
        F.max("__v").cast("bigint").alias("vocab"),
        F.round(
            F.exp(F.expr(
                "regr_intercept(ln(CAST(__v AS DOUBLE)),"
                " ln(CAST(__n AS DOUBLE)))"
            )),
            6,
        ).alias("k"),
        (F.round(F.expr(
            "regr_slope(ln(CAST(__v AS DOUBLE)),"
            " ln(CAST(__n AS DOUBLE)))"
        ), 6) + F.lit(0.0)).alias("beta"),
        F.round(
            F.when(F.min("__v") == F.max("__v"), F.lit(1.0)).otherwise(
                F.expr(
                    "regr_r2(ln(CAST(__v AS DOUBLE)),"
                    " ln(CAST(__n AS DOUBLE)))"
                )
            ),
            6,
        ).alias("r2"),
    )
    return tether(out, per_bt)


def heaps_law_sql(
    table: str,
    text_col: str,
    order_col: str,
    dialect: str,
    *,
    buckets: int = 20,
) -> str:
    """Dual-dialect twin of :func:`heaps_law` (NTILE, the min-bucket
    first-appearance trick, and REGR_* are all shared SQL)."""
    toks = tokens_sql(text_col, dialect)
    if dialect == "spark":
        unnest = (
            f"SELECT b, explode({toks}) AS t FROM ranked"
        )
    elif dialect == "duckdb":
        unnest = f"SELECT b, UNNEST({toks}) AS t FROM ranked"
    else:
        raise ValueError(f"unknown dialect: {dialect}")
    return f"""
WITH ranked AS (
  SELECT {text_col}, NTILE({buckets}) OVER (ORDER BY {order_col}) AS b
  FROM {table} WHERE {text_col} IS NOT NULL
),
tok AS ({unnest}),
per_bt AS (SELECT b, t, COUNT(*) AS c FROM tok GROUP BY b, t),
first AS (
  SELECT fb, COUNT(*) AS new_tokens FROM (
    SELECT t, MIN(b) AS fb FROM per_bt GROUP BY t
  ) f GROUP BY fb
),
sizes AS (SELECT b, SUM(c) AS nt FROM per_bt GROUP BY b),
curve AS (
  SELECT sizes.b,
         SUM(nt) OVER (ORDER BY sizes.b
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS n,
         SUM(COALESCE(new_tokens, 0)) OVER (ORDER BY sizes.b
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v
  FROM sizes LEFT JOIN first ON sizes.b = first.fb
)
SELECT CAST(MAX(n) AS BIGINT) AS n_tokens,
       CAST(MAX(v) AS BIGINT) AS vocab,
       ROUND(EXP(REGR_INTERCEPT(LN(CAST(v AS DOUBLE)),
                                LN(CAST(n AS DOUBLE)))), 6) AS k,
       ROUND(REGR_SLOPE(LN(CAST(v AS DOUBLE)),
                        LN(CAST(n AS DOUBLE))), 6) + 0.0 AS beta,
       ROUND(CASE WHEN MIN(v) = MAX(v) THEN 1.0
                  ELSE REGR_R2(LN(CAST(v AS DOUBLE)),
                               LN(CAST(n AS DOUBLE))) END, 6) AS r2
FROM curve WHERE n > 0
"""


def entropy_rate(
    df: DataFrame,
    text_col: str,
) -> DataFrame:
    """Corpus entropy rate under a bigram model: the conditional entropy
    ``H(w2 | w1) = H(bigram) - H(unigram)`` in bits/token — the
    predictability/diversity number that separates natural prose
    (~6-8 bits under small models) from templated or looping corpora
    (-> 0) without training anything. Both entropies use empirical ML
    estimates over the SAME token stream (bigrams within docs, no
    cross-doc pairs). Returns ONE row ``(n_tokens, n_bigrams,
    h_unigram, h_bigram, h_rate)`` rounded 6; corpora with no bigrams
    (all docs < 2 tokens) pin NULL h_bigram/h_rate.

    Scale shape: one explode + vocab-sized agg per order (the n-gram
    machinery of :func:`ngrams_sql`); entropies fold via
    ``ln(tot) - sum(c ln c)/tot`` so totals never need a second scan.
    """
    uni = ngrams_sql(text_col, "spark", 1)
    bi = ngrams_sql(text_col, "spark", 2)

    def _h(grams: str) -> DataFrame:
        counts = (
            df.where(F.col(text_col).isNotNull())
            .select(F.explode(F.expr(grams)).alias("__g"))
            .groupBy("__g")
            .agg(F.count(F.lit(1)).alias("__c"))
        )
        return counts.agg(
            F.sum("__c").alias("__tot"),
            (
                (
                    F.log(F.sum("__c"))
                    - F.sum(F.col("__c") * F.log("__c")) / F.sum("__c")
                )
                / F.lit(math.log(2.0))
            ).alias("__h"),
        )

    hu = _h(uni).select(
        F.col("__tot").alias("__nu"), F.col("__h").alias("__h1")
    )
    hb = _h(bi).select(
        F.col("__tot").alias("__nb"), F.col("__h").alias("__h2")
    )
    return hu.crossJoin(hb).select(
        F.coalesce("__nu", F.lit(0)).cast("bigint").alias("n_tokens"),
        F.coalesce("__nb", F.lit(0)).cast("bigint").alias("n_bigrams"),
        F.round("__h1", 6).alias("h_unigram"),
        F.round("__h2", 6).alias("h_bigram"),
        (F.round(F.col("__h2") - F.col("__h1"), 6) + F.lit(0.0)).alias(
            "h_rate"
        ),
    )


def entropy_rate_sql(table: str, text_col: str, dialect: str) -> str:
    """Dual-dialect twin of :func:`entropy_rate`."""
    uni = ngrams_sql(text_col, dialect, 1)
    bi = ngrams_sql(text_col, dialect, 2)
    ex = "explode" if dialect == "spark" else "UNNEST"
    if dialect not in ("spark", "duckdb"):
        raise ValueError(f"unknown dialect: {dialect}")
    return f"""
WITH ucounts AS (
  SELECT g, COUNT(*) AS c FROM (
    SELECT {ex}({uni}) AS g FROM {table} WHERE {text_col} IS NOT NULL
  ) e GROUP BY g
),
bcounts AS (
  SELECT g, COUNT(*) AS c FROM (
    SELECT {ex}({bi}) AS g FROM {table} WHERE {text_col} IS NOT NULL
  ) e GROUP BY g
),
hu AS (
  SELECT SUM(c) AS nu,
         (LN(SUM(c)) - SUM(c * LN(c)) / SUM(c)) / LN(2.0) AS h1
  FROM ucounts
),
hb AS (
  SELECT SUM(c) AS nb,
         (LN(SUM(c)) - SUM(c * LN(c)) / SUM(c)) / LN(2.0) AS h2
  FROM bcounts
)
SELECT CAST(COALESCE(nu, 0) AS BIGINT) AS n_tokens,
       CAST(COALESCE(nb, 0) AS BIGINT) AS n_bigrams,
       ROUND(h1, 6) AS h_unigram,
       ROUND(h2, 6) AS h_bigram,
       ROUND(h2 - h1, 6) + 0.0 AS h_rate
FROM hu CROSS JOIN hb
"""

def template_prefixes(
    df: DataFrame,
    text_col: str,
    *,
    prefix_len: int = 32,
    k: int = 20,
) -> DataFrame:
    """Templated-prefix audit: the top-k most repeated document PREFIXES
    and the corpus share they claim — the fastest tell for synthetic or
    boilerplate feeds ("As an AI...", scraped nav headers), upstream of
    the heavier winnowing/substring passes. Returns ``(prefix, n,
    share)`` rounded 6, ties pinned (n desc, prefix asc), docs shorter
    than ``prefix_len`` count with their full text.

    Scale shape: one map-combinable prefix hash agg + TakeOrdered
    top-k; the total rides a broadcast 1-row agg of the prefix frame
    (never a second corpus scan).
    """
    if prefix_len < 1:
        raise ValueError("prefix_len must be >= 1")
    from harmonize_search_analyze_spark.functions.caching import tether

    counts = (
        df.where(F.col(text_col).isNotNull())
        .groupBy(
            F.substring(F.col(text_col), 1, prefix_len).alias("prefix")
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .persist()
    )
    total = counts.agg(F.sum("n").alias("__tot"))
    out = (
        counts.crossJoin(F.broadcast(total))
        .select(
            "prefix",
            F.col("n").cast("bigint").alias("n"),
            F.round(F.col("n") / F.col("__tot"), 6).alias("share"),
        )
        .orderBy(F.desc("n"), F.asc("prefix"))
        .limit(k)
    )
    return tether(out, counts)


def template_prefixes_sql(
    table: str,
    text_col: str,
    dialect: str,
    *,
    prefix_len: int = 32,
    k: int = 20,
) -> str:
    """Dual-dialect twin of :func:`template_prefixes` (SUBSTRING
    semantics agree for the 1-based fixed-length slice)."""
    if dialect not in ("spark", "duckdb"):
        raise ValueError(f"unknown dialect: {dialect}")
    return f"""
WITH counts AS (
  SELECT SUBSTRING({text_col}, 1, {prefix_len}) AS prefix, COUNT(*) AS n
  FROM {table} WHERE {text_col} IS NOT NULL
  GROUP BY 1
),
tot AS (SELECT SUM(n) AS tot FROM counts)
SELECT prefix, CAST(n AS BIGINT) AS n,
       ROUND(n / CAST(tot AS DOUBLE), 6) AS share
FROM counts CROSS JOIN tot
ORDER BY n DESC, prefix ASC
LIMIT {k}
"""


def vocab_coverage(
    df: DataFrame,
    text_col: str,
    *,
    ks: tuple = (100, 500, 1000, 5000),
) -> DataFrame:
    """Cumulative token-mass coverage of the top-k vocabulary — the
    tokenizer-budget curve ("what share of the corpus does a 32k vocab
    even see?") beside :func:`heaps_law`'s growth fit: tokens rank by
    (count DESC, token ASC), and each requested ``k`` reports how much
    of the total token mass the top-k covers. Returns one row per k
    present in the vocabulary: ``(k, vocab_size, total_tokens,
    covered_tokens, coverage)`` rounded 6 ordered by k.

    Scale shape: one explode -> token count agg (the vocab frame), then
    ONE :func:`ordering.prefix_sums` pass computing BOTH the rank (a
    running count of 1s) and the cumulative mass over the (count DESC,
    token) order — web-scale vocabularies are ~1e8 rows, so the rank
    must never be an unpartitioned window; totals ride a broadcast
    1-row agg.
    """
    from harmonize_search_analyze_spark.functions.caching import tether
    from harmonize_search_analyze_spark.operators.ordering import (
        prefix_sums,
    )

    toks = tokens_sql(text_col, "spark")
    vocab = (
        df.where(F.col(text_col).isNotNull())
        .select(F.explode(F.expr(toks)).alias("__t"))
        .groupBy("__t")
        .agg(F.count(F.lit(1)).alias("__c"))
        .withColumn("__one", F.lit(1))
        .persist()
    )
    tot = vocab.agg(
        F.sum("__c").alias("__tot"),
        F.count(F.lit(1)).alias("__v"),
    )
    ranked = prefix_sums(
        vocab,
        [("__c", False), ("__t", True)],
        {"__c": "__cum", "__one": "__rank"},
    )
    out = (
        ranked.where(
            F.col("__rank").isin(*[int(k) for k in ks])
        )
        .crossJoin(F.broadcast(tot))
        .select(
            F.col("__rank").cast("bigint").alias("k"),
            F.col("__v").cast("bigint").alias("vocab_size"),
            F.col("__tot").cast("bigint").alias("total_tokens"),
            F.col("__cum").cast("bigint").alias("covered_tokens"),
            F.round(
                F.col("__cum") / F.col("__tot").cast("double"), 6
            ).alias("coverage"),
        )
        .orderBy("k")
    )
    return tether(out, vocab)


def vocab_coverage_sql(
    table: str,
    text_expr: str,
    dialect: str,
    *,
    ks: tuple = (100, 500, 1000, 5000),
) -> str:
    """Dual-dialect twin of :func:`vocab_coverage` (single-window form —
    fine at oracle scale; the Spark side is where the plan shape
    matters)."""
    if dialect == "spark":
        unnest = f"SELECT explode({tokens_sql(text_expr, 'spark')}) AS t"
    elif dialect == "duckdb":
        unnest = f"SELECT unnest({tokens_sql(text_expr, 'duckdb')}) AS t"
    else:
        raise ValueError(f"unknown dialect: {dialect}")
    klist = ", ".join(str(int(k)) for k in ks)
    return f"""
WITH toks AS (
  {unnest} FROM {table} WHERE {text_expr} IS NOT NULL
),
vocab AS (SELECT t, COUNT(*) AS c FROM toks GROUP BY 1),
tot AS (SELECT SUM(c) AS total, COUNT(*) AS v FROM vocab),
ranked AS (
  SELECT c,
         ROW_NUMBER() OVER (ORDER BY c DESC, t ASC) AS rk,
         SUM(c) OVER (ORDER BY c DESC, t ASC
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM vocab
)
SELECT CAST(rk AS BIGINT) AS k, CAST(v AS BIGINT) AS vocab_size,
       CAST(total AS BIGINT) AS total_tokens,
       CAST(cum AS BIGINT) AS covered_tokens,
       ROUND(cum / CAST(total AS DOUBLE), 6) AS coverage
FROM ranked CROSS JOIN tot
WHERE rk IN ({klist})
ORDER BY k
"""


def log_odds_terms(
    df: DataFrame,
    text_col: str,
    target,
    *,
    alpha0: float = 100.0,
    top: int = 20,
    min_count: int = 5,
) -> DataFrame:
    """Weighted log-odds term ranking with an informative Dirichlet
    prior (Monroe/Colaresi/Quinn 2008, "Fightin' Words") — the
    principled replacement for raw tf ratios when asking WHAT WORDS
    characterize a slice (the significant_terms family's statistically
    careful sibling): for each term,

        delta_w = ln((y_t + a_w) / (n_t + a0 - y_t - a_w))
                - ln((y_b + a_w) / (n_b + a0 - y_b - a_w))
        z_w = delta_w / sqrt(1/(y_t + a_w) + 1/(y_b + a_w))

    where the prior ``a_w = alpha0 * y_w / n`` shrinks rare terms
    toward the corpus rate (killing the low-frequency noise that
    dominates plain log-odds) and ``a0 = alpha0``. ``target`` is a
    boolean Column/SQL predicate splitting rows into target vs
    background. Terms with total count below ``min_count`` drop.
    Returns the ``top`` terms by z DESC (term ASC ties):
    ``(term, y_target, y_background, delta, z)`` rounded 6; a slice
    holding EVERY occurrence of a term pins NULL z (the log-odds
    denominator empties — nothing to contrast against).

    Scale shape: one tokenize+explode pass, one term hash agg with
    conditional sums (never two scans for the two slices), a 1-row
    totals broadcast, a top-k sort over the VOCAB frame. All
    map-combinable.
    """
    from harmonize_search_analyze_spark.functions.tokenize import (
        split_tokens,
    )

    pred = F.expr(target) if isinstance(target, str) else target
    toks = (
        df.where(F.col(text_col).isNotNull())
        .select(
            pred.cast("boolean").alias("__g"),
            F.explode(split_tokens(text_col)).alias("term"),
        )
        .where(F.col("__g").isNotNull())
    )
    terms = toks.groupBy("term").agg(
        F.sum(F.when(F.col("__g"), 1).otherwise(0)).alias("y_t"),
        F.sum(F.when(F.col("__g"), 0).otherwise(1)).alias("y_b"),
    )
    tot = terms.agg(
        F.sum("y_t").cast("double").alias("__nt"),
        F.sum("y_b").cast("double").alias("__nb"),
    )
    y = (F.col("y_t") + F.col("y_b")).cast("double")
    n = F.col("__nt") + F.col("__nb")
    aw = F.lit(alpha0) * y / n
    num_t = F.col("y_t") + aw
    den_t = F.col("__nt") + F.lit(alpha0) - num_t
    num_b = F.col("y_b") + aw
    den_b = F.col("__nb") + F.lit(alpha0) - num_b
    delta = F.log(F.try_divide(num_t, F.nullif(den_t, F.lit(0.0)))) - (
        F.log(F.try_divide(num_b, F.nullif(den_b, F.lit(0.0))))
    )
    z = delta / F.sqrt(1.0 / num_t + 1.0 / num_b)
    return (
        terms.where(y >= min_count)
        .crossJoin(F.broadcast(tot))
        .select(
            "term",
            F.col("y_t").cast("bigint").alias("y_target"),
            F.col("y_b").cast("bigint").alias("y_background"),
            (F.round(delta, 6) + F.lit(0.0)).alias("delta"),
            (F.round(z, 6) + F.lit(0.0)).alias("z"),
        )
        .orderBy(F.desc_nulls_last("z"), F.asc("term"))
        .limit(top)
    )


def log_odds_terms_sql(
    table: str,
    text_col: str,
    target: str,
    dialect: str,
    *,
    alpha0: float = 100.0,
    top: int = 20,
    min_count: int = 5,
) -> str:
    """Dual-dialect twin of :func:`log_odds_terms` (tokens via the
    shared tokens_sql; NULLIF mirrors try_divide on the degenerate
    all-in-one-slice denominator)."""
    toks = tokens_sql(text_col, dialect)
    if dialect == "spark":
        expl = (
            f"SELECT CAST({target} AS BOOLEAN) AS g,"
            f" explode({toks}) AS term"
            f" FROM {table} WHERE {text_col} IS NOT NULL"
        )
    elif dialect == "duckdb":
        expl = (
            f"SELECT CAST({target} AS BOOLEAN) AS g,"
            f" UNNEST({toks}) AS term"
            f" FROM {table} WHERE {text_col} IS NOT NULL"
        )
    else:
        raise ValueError(f"unknown dialect: {dialect}")
    return f"""
WITH tok AS ({expl}),
terms AS (
  SELECT term,
         SUM(CASE WHEN g THEN 1 ELSE 0 END) AS y_t,
         SUM(CASE WHEN g THEN 0 ELSE 1 END) AS y_b
  FROM tok WHERE g IS NOT NULL
  GROUP BY 1
),
tot AS (
  SELECT CAST(SUM(y_t) AS DOUBLE) AS nt, CAST(SUM(y_b) AS DOUBLE) AS nb
  FROM terms
),
scored AS (
  SELECT term, y_t, y_b,
         LN((y_t + aw) / NULLIF(nt + {alpha0!r} - y_t - aw, 0.0))
           - LN((y_b + aw) / NULLIF(nb + {alpha0!r} - y_b - aw, 0.0))
           AS delta,
         SQRT(1.0 / (y_t + aw) + 1.0 / (y_b + aw)) AS sd
  FROM (
    SELECT term, y_t, y_b, nt, nb,
           {alpha0!r} * CAST(y_t + y_b AS DOUBLE) / (nt + nb) AS aw
    FROM terms CROSS JOIN tot
    WHERE y_t + y_b >= {min_count}
  )
)
SELECT term, CAST(y_t AS BIGINT) AS y_target,
       CAST(y_b AS BIGINT) AS y_background,
       ROUND(delta, 6) + 0.0 AS delta,
       ROUND(delta / sd, 6) + 0.0 AS z
FROM scored
ORDER BY z DESC NULLS LAST, term ASC
LIMIT {top}
"""


def pmi_collocations(
    df: DataFrame,
    text_col: str,
    *,
    min_count: int = 5,
    top: int = 20,
) -> DataFrame:
    """Collocation mining by pointwise mutual information over adjacent
    token bigrams (Church & Hanks 1990) — the "these words belong
    together" detector tokenizer/vocab pipelines run before merging
    multiword units: ``PMI = ln(p(w1,w2) / (p(w1) p(w2)))`` with
    ``p(w1,w2) = c12/B`` over bigram occurrences and ``p(w) = c/N``
    over unigrams. Raw PMI promotes rare pairs, so ``min_count`` floors
    the bigram count (the standard guard). Returns the ``top`` pairs by
    PMI DESC (w1, w2 ASC ties):
    ``(w1, w2, c12, c1, c2, pmi)`` rounded 6.

    Scale shape: one tokenize pass; bigrams form INSIDE the token array
    (zip of two slices — map-only, never a positional self-join), one
    explode+agg each for bigram and unigram counts, two vocab-frame
    joins, a 1-row totals broadcast, vocab-sized top-k.
    """
    from harmonize_search_analyze_spark.functions.caching import tether

    # one tokenization pass shared by the unigram, bigram, and totals
    # consumers (persist + tether: the MinHash discipline)
    toks = (
        df.where(F.col(text_col).isNotNull())
        .select(
            F.expr(
                f"filter(split(lower({text_col}), '[^a-z0-9]+'),"
                " t -> t != '')"
            ).alias("__t")
        )
    ).persist()
    uni = (
        toks.select(F.explode("__t").alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    bi = (
        toks.where(F.size("__t") >= 2)
        .select(
            F.explode(
                F.expr(
                    "transform(sequence(1, size(__t) - 1),"
                    " i -> struct(element_at(__t, i) AS w1,"
                    " element_at(__t, i + 1) AS w2))"
                )
            ).alias("bg")
        )
        .select("bg.w1", "bg.w2")
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c12"))
        .where(F.col("c12") >= min_count)
    )
    tots = F.broadcast(
        uni.agg(F.sum("c").cast("double").alias("__n")).crossJoin(
            toks.select(
                F.greatest(
                    F.size("__t") - 1, F.lit(0)
                ).alias("__b0")
            ).agg(F.sum("__b0").cast("double").alias("__b"))
        )
    )
    u1 = uni.select(F.col("w").alias("w1"), F.col("c").alias("c1"))
    u2 = uni.select(F.col("w").alias("w2"), F.col("c").alias("c2"))
    pmi = F.log(
        (F.col("c12") / F.col("__b"))
        / ((F.col("c1") / F.col("__n")) * (F.col("c2") / F.col("__n")))
    )
    out = (
        bi.join(u1, "w1")
        .join(u2, "w2")
        .crossJoin(tots)
        .select(
            "w1", "w2", "c12", "c1", "c2",
            F.round(pmi, 6).alias("pmi"),
        )
        .orderBy(F.desc("pmi"), F.asc("w1"), F.asc("w2"))
        .limit(top)
    )
    return tether(out, toks)


def pmi_collocations_sql(
    table: str,
    text_col: str,
    dialect: str,
    *,
    min_count: int = 5,
    top: int = 20,
) -> str:
    """Dual-dialect twin of :func:`pmi_collocations` (bigrams via the
    same slice-zip inside the token array; Spark sequence(1, 0) would
    run DESCENDING, so the size >= 2 guard is load-bearing in both
    texts)."""
    toks = tokens_sql(text_col, dialect)
    if dialect == "spark":
        tlen = "size(t)"
        bigrams = (
            "transform(sequence(1, size(t) - 1),"
            " i -> element_at(t, i) || ' ' || element_at(t, i + 1))"
        )
        unn_b = f"explode({bigrams})"
        unn_u = "explode(t)"
    elif dialect == "duckdb":
        tlen = "len(t)"
        bigrams = (
            "list_transform(generate_series(1, len(t) - 1),"
            " i -> t[i] || ' ' || t[i + 1])"
        )
        unn_b = f"UNNEST({bigrams})"
        unn_u = "UNNEST(t)"
    else:
        raise ValueError(f"unknown dialect: {dialect}")
    return f"""
WITH toks AS (
  SELECT {toks} AS t FROM {table} WHERE {text_col} IS NOT NULL
),
uni AS (
  SELECT w, COUNT(*) AS c
  FROM (SELECT {unn_u} AS w FROM toks)
  GROUP BY 1
),
bi AS (
  SELECT split_part(bg, ' ', 1) AS w1, split_part(bg, ' ', 2) AS w2,
         COUNT(*) AS c12
  FROM (SELECT {unn_b} AS bg FROM toks WHERE {tlen} >= 2)
  GROUP BY 1, 2
  HAVING COUNT(*) >= {min_count}
),
tots AS (
  SELECT (SELECT CAST(SUM(c) AS DOUBLE) FROM uni) AS n,
         (SELECT CAST(SUM(GREATEST({tlen} - 1, 0)) AS DOUBLE)
          FROM toks) AS b
)
SELECT bi.w1, bi.w2, CAST(c12 AS BIGINT) AS c12,
       CAST(u1.c AS BIGINT) AS c1, CAST(u2.c AS BIGINT) AS c2,
       ROUND(LN((c12 / b) / ((u1.c / n) * (u2.c / n))), 6) AS pmi
FROM bi
JOIN uni u1 ON bi.w1 = u1.w
JOIN uni u2 ON bi.w2 = u2.w
CROSS JOIN tots
ORDER BY pmi DESC, w1 ASC, w2 ASC
LIMIT {top}
"""


def doc_keywords(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    per_doc: int = 3,
    top_docs: int = 20,
) -> DataFrame:
    """Per-document TF-IDF keywords — the classic what-is-this-doc-about
    extraction (the per-DOC complement of the slice-level
    significant_text family): ``score = tf * (ln((1 + D) / (1 + df))
    + 1)`` (smoothed idf, the scikit-learn convention), top ``per_doc``
    terms per document. The corpus-wide statistics (D, df) come from
    EVERY document; the extraction itself is shown for the first
    ``top_docs`` ids (bounded, driver-gate-friendly output). Returns
    ``(doc, term, tf, df, score, rk)`` ordered (doc ASC, rk ASC);
    score rounded 6, ties pinned (score DESC, term ASC).

    Scale shape: one tokenize+explode pass -> (doc, term) tf agg; df
    aggregates FROM that frame (term-vocab-sized); D is a 1-row
    broadcast; the per-doc rank window partitions BY DOCUMENT (one
    doc's vocabulary per partition — bounded by doc length); the
    top_docs id filter broadcast-joins before the window so only the
    displayed docs rank.
    """
    base = df.where(
        F.col(text_col).isNotNull() & F.col(id_col).isNotNull()
    )
    tf = (
        base.select(
            F.col(id_col).alias("doc"),
            F.explode(
                F.expr(
                    f"filter(split(lower({text_col}), '[^a-z0-9]+'),"
                    " t -> t != '')"
                )
            ).alias("term"),
        )
        .groupBy("doc", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    ).persist()
    from harmonize_search_analyze_spark.functions.caching import tether

    dft = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    dd = F.broadcast(
        base.agg(F.count(F.lit(1)).cast("double").alias("__d"))
    )
    picked = F.broadcast(
        base.select(F.col(id_col).alias("doc"))
        .orderBy(F.asc("doc"))
        .limit(top_docs)
    )
    idf = F.log((1.0 + F.col("__d")) / (1.0 + F.col("df"))) + 1.0
    scored = (
        tf.join(picked, "doc")
        .join(dft, "term")
        .crossJoin(dd)
        .select(
            "doc", "term", "tf", "df",
            (F.col("tf") * idf).alias("__score"),
        )
    )
    w = Window.partitionBy("doc").orderBy(
        F.desc("__score"), F.asc("term")
    )
    out = (
        scored.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= per_doc)
        .select(
            "doc", "term", "tf", "df",
            F.round("__score", 6).alias("score"), "rk",
        )
        .orderBy(F.asc("doc"), F.asc("rk"))
    )
    return tether(out, tf)


def doc_keywords_sql(
    table: str,
    id_col: str,
    text_col: str,
    dialect: str,
    *,
    per_doc: int = 3,
    top_docs: int = 20,
) -> str:
    """Dual-dialect twin of :func:`doc_keywords` (identical text up to
    the explode/UNNEST split)."""
    toks = tokens_sql("txt", dialect)
    if dialect == "spark":
        unn = f"explode({toks})"
    elif dialect == "duckdb":
        unn = f"UNNEST({toks})"
    else:
        raise ValueError(f"unknown dialect: {dialect}")
    return f"""
WITH base AS (
  SELECT {id_col} AS doc, {text_col} AS txt
  FROM {table}
  WHERE {text_col} IS NOT NULL AND {id_col} IS NOT NULL
),
tf AS (
  SELECT doc, term, COUNT(*) AS tf
  FROM (SELECT doc, {unn} AS term FROM base)
  GROUP BY 1, 2
),
dft AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
dd AS (SELECT CAST(COUNT(*) AS DOUBLE) AS d FROM base),
picked AS (SELECT doc FROM base ORDER BY doc ASC LIMIT {top_docs}),
scored AS (
  SELECT tf.doc, tf.term, tf.tf, dft.df,
         tf.tf * (LN((1.0 + dd.d) / (1.0 + dft.df)) + 1.0) AS score
  FROM tf
  JOIN picked ON tf.doc = picked.doc
  JOIN dft ON tf.term = dft.term
  CROSS JOIN dd
),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY doc ORDER BY score DESC, term ASC
  ) AS rk
  FROM scored
)
SELECT doc, term, CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df,
       ROUND(score, 6) AS score, rk
FROM ranked
WHERE rk <= {per_doc}
ORDER BY doc ASC, rk ASC
"""


def llr_collocations(
    df: DataFrame,
    text_col: str,
    *,
    min_count: int = 5,
    top: int = 20,
) -> DataFrame:
    """Collocations by Dunning's log-likelihood ratio (1993) — the
    significance-weighted fix for :func:`pmi_collocations`' known rare-
    pair bias: per adjacent bigram the 2x2 contingency over bigram
    slots (``k11`` = the pair; margins = first-position count of w1 and
    second-position count of w2) scored ``LLR = 2 sum k_ij ln(k_ij N /
    (R_i C_j))`` with ``0 ln 0 = 0``. High LLR = the pair co-occurs far
    beyond what its parts' frequencies explain, with evidence WEIGHT
    (PMI is evidence-blind). Returns the ``top`` pairs by LLR DESC
    (w1, w2 ASC ties): ``(w1, w2, c12, r1, c2, llr)`` rounded 6.

    Scale shape: one persisted tokenization pass, bigram counts from a
    slice zip, first/second position margins as window sums over the
    bigram frame (vocab-pair-sized), and a 1-row broadcast.
    """
    from harmonize_search_analyze_spark.functions.caching import tether

    toks = (
        df.where(F.col(text_col).isNotNull())
        .select(
            F.expr(
                f"filter(split(lower({text_col}), '[^a-z0-9]+'),"
                " t -> t != '')"
            ).alias("__t")
        )
        .where(F.size("__t") >= 2)
    ).persist()
    bi = (
        toks.select(
            F.explode(
                F.expr(
                    "transform(sequence(1, size(__t) - 1),"
                    " i -> struct(element_at(__t, i) AS w1,"
                    " element_at(__t, i + 1) AS w2))"
                )
            ).alias("bg")
        )
        .select("bg.w1", "bg.w2")
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c12"))
    ).persist()
    # Round-11 (the mutual_info / ipf_weights pattern — margin joins ->
    # window aggregates, guide §2.1/§2.4): r1/c2 were two groupBy-agg
    # subtrees joined back onto bi — profiled as the query's two heaviest
    # stages (4.0 s + 3.1 s runTime of mostly-blocked 32-task scans of
    # the persisted frame, plus two join exchanges). Each margin is now a
    # window SUM partitioned by its axis, computed in the main pass.
    # Margins are sums of BIGINT counts — integer addition is order-free,
    # so values are bit-identical; the DuckDB oracle keeps the join form
    # (parity = equivalence proof). The bigram frame is vocab-pair-sized,
    # so window partitions stay metadata at any corpus size. The join
    # form measured slower on 4 cores too (PERFORMANCE.md decision 9).
    nn = F.broadcast(bi.agg(F.sum("c12").cast("double").alias("__n")))

    def h(k, r, c):
        # k ln(k N / (r c)), with 0 ln 0 = 0
        k = k.cast("double")
        return F.when(
            k > 0, k * F.log(k * F.col("__n") / (r * c))
        ).otherwise(F.lit(0.0))

    k11 = F.col("c12").cast("double")
    rr = F.col("r1").cast("double")
    cc = F.col("c2").cast("double")
    k12 = rr - k11
    k21 = cc - k11
    k22 = F.col("__n") - rr - cc + k11
    llr = 2.0 * (
        h(k11, rr, cc)
        + h(k12, rr, F.col("__n") - cc)
        + h(k21, F.col("__n") - rr, cc)
        + h(k22, F.col("__n") - rr, F.col("__n") - cc)
    )
    margined = bi.select(
        "w1", "w2", "c12",
        F.sum("c12").over(Window.partitionBy("w1")).alias("r1"),
        F.sum("c12").over(Window.partitionBy("w2")).alias("c2"),
    )
    out = (
        margined.where(F.col("c12") >= min_count)
        .crossJoin(nn)
        .select(
            "w1", "w2", "c12", "r1", "c2",
            F.round(llr, 6).alias("llr"),
        )
        .orderBy(F.desc("llr"), F.asc("w1"), F.asc("w2"))
        .limit(top)
    )
    return tether(tether(out, toks), bi)


def llr_collocations_sql(
    table: str,
    text_col: str,
    dialect: str,
    *,
    min_count: int = 5,
    top: int = 20,
) -> str:
    """Dual-dialect twin of :func:`llr_collocations`."""
    toks = tokens_sql(text_col, dialect)
    if dialect == "spark":
        bigrams = (
            "transform(sequence(1, size(t) - 1),"
            " i -> element_at(t, i) || ' ' || element_at(t, i + 1))"
        )
        unn_b = f"explode({bigrams})"
        tlen = "size(t)"
    elif dialect == "duckdb":
        bigrams = (
            "list_transform(generate_series(1, len(t) - 1),"
            " i -> t[i] || ' ' || t[i + 1])"
        )
        unn_b = f"UNNEST({bigrams})"
        tlen = "len(t)"
    else:
        raise ValueError(f"unknown dialect: {dialect}")
    term = (
        "CASE WHEN {k} > 0 THEN {k} * LN({k} * n / ({r} * {c}))"
        " ELSE 0.0 END"
    )
    k11 = "CAST(c12 AS DOUBLE)"
    t11 = term.format(k=k11, r="r1", c="c2")
    t12 = term.format(k=f"(r1 - {k11})", r="r1", c="(n - c2)")
    t21 = term.format(k=f"(c2 - {k11})", r="(n - r1)", c="c2")
    t22 = term.format(
        k=f"(n - r1 - c2 + {k11})", r="(n - r1)", c="(n - c2)"
    )
    return f"""
WITH toks AS (
  SELECT t FROM (
    SELECT {toks} AS t FROM {table} WHERE {text_col} IS NOT NULL
  ) WHERE {tlen} >= 2
),
bi AS (
  SELECT split_part(bg, ' ', 1) AS w1, split_part(bg, ' ', 2) AS w2,
         COUNT(*) AS c12
  FROM (SELECT {unn_b} AS bg FROM toks)
  GROUP BY 1, 2
),
r1m AS (SELECT w1, SUM(c12) AS r1 FROM bi GROUP BY 1),
c2m AS (SELECT w2, SUM(c12) AS c2 FROM bi GROUP BY 1),
nn AS (SELECT CAST(SUM(c12) AS DOUBLE) AS n FROM bi),
scored AS (
  SELECT bi.w1, bi.w2, bi.c12,
         CAST(r1m.r1 AS DOUBLE) AS r1, CAST(c2m.c2 AS DOUBLE) AS c2,
         nn.n
  FROM bi
  JOIN r1m ON bi.w1 = r1m.w1
  JOIN c2m ON bi.w2 = c2m.w2
  CROSS JOIN nn
  WHERE bi.c12 >= {min_count}
)
SELECT w1, w2, CAST(c12 AS BIGINT) AS c12,
       CAST(r1 AS BIGINT) AS r1, CAST(c2 AS BIGINT) AS c2,
       ROUND(2.0 * ({t11} + {t12} + {t21} + {t22}), 6) AS llr
FROM scored
ORDER BY llr DESC, w1 ASC, w2 ASC
LIMIT {top}
"""
