"""Benchmark decontamination and unigram language-model quality scoring.

Two published training-data-pipeline recipes the engine exposes as
first-class operators (beyond the reference's search surface — see
SURVEY.md §2's LLM-pipeline extension):

- **n-gram decontamination** (GPT-3 appendix C / Llama 2 §A.6 style): a
  training document is contaminated if it shares any word n-gram
  (canonically 13-gram) with a held-out benchmark set. Relationally this
  is exploded-doc-grams ⋈ exploded-benchmark-grams: the benchmark side is
  MB-sized even for large eval suites, so it broadcasts and the join is
  map-side — the 100 TB corpus is scanned once, never shuffled.
- **unigram LM scoring** (the degenerate public form of CCNet's KenLM
  quality filter, Wenzek et al. 2020): train token frequencies over the
  corpus in one hash agg, then score each document by its mean negative
  log-likelihood. High NLL = surprising/garbage text, low NLL =
  boilerplate; both tails get clipped by downstream filters. Two shuffles
  total (vocab agg + token⋈vocab regroup) regardless of corpus size.

Both are dual-dialect (the DuckDB oracle replays the same formula) and
keep the cross-engine float discipline: ratios stay raw until one final
6-decimal round.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from harmonize_search_analyze_spark.functions.caching import checkpoint
from harmonize_search_analyze_spark.operators.dedup import (
    band_join,
    jaccard_sql,
    minhash_bands,
    minhash_signatures,
    shingles_sql,
)
from harmonize_search_analyze_spark.operators.text import tokens_sql


def contamination_flags(
    docs: DataFrame,
    benchmark: DataFrame,
    *,
    n: int = 13,
    doc_id: str = "doc_id",
    text_col: str = "text",
    bench_text: str = "text",
) -> DataFrame:
    """Flag training documents sharing any word ``n``-gram with the
    benchmark set.

    Returns one row per input document: (doc_id, n_hits BIGINT — count of
    distinct contaminating n-grams, contaminated BOOLEAN). Shorter-than-n documents
    contribute their whole token stream as one gram (shingles_sql
    semantics), so tiny docs are still comparable.

    Scale shape: the benchmark gram set is collected-free but broadcast
    (`F.broadcast`) — eval suites are MBs, corpora are TBs; the doc side
    is scanned once, grams exploded, hash-semi-joined map-side, then one
    hash agg on doc_id. No shuffle of the corpus text itself.
    """
    bench_grams = (
        benchmark.select(
            F.explode(F.expr(shingles_sql(bench_text, "spark", n))).alias("gram")
        )
        .distinct()
    )
    doc_grams = docs.select(
        doc_id,
        F.explode(F.expr(shingles_sql(text_col, "spark", n))).alias("gram"),
    )
    # grams are already distinct per doc (shingles_sql) and the broadcast
    # side is distinct, so the join can't duplicate: plain COUNT equals
    # COUNT(DISTINCT) and skips its extra (doc, gram) shuffle
    hits = (
        doc_grams.join(F.broadcast(bench_grams), "gram")
        .groupBy(doc_id)
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    return (
        docs.select(doc_id)
        .join(hits, doc_id, "left")
        .select(
            doc_id,
            F.coalesce(F.col("n_hits"), F.lit(0)).cast("bigint").alias("n_hits"),
            (F.coalesce(F.col("n_hits"), F.lit(0)) > 0).alias("contaminated"),
        )
    )


def contamination_oracle_sql(
    doc_table: str,
    bench_predicate: str,
    *,
    n: int = 13,
    doc_id: str = "doc_id",
    text_col: str = "text",
) -> str:
    """DuckDB SQL replaying contamination_flags where the benchmark set is
    ``doc_table`` rows satisfying ``bench_predicate``."""
    sh = shingles_sql(text_col, "duckdb", n)
    return f"""
WITH bg AS (
  SELECT DISTINCT unnest({sh}) AS gram FROM {doc_table}
  WHERE {bench_predicate}
), dg AS (
  SELECT {doc_id}, unnest({sh}) AS gram FROM {doc_table}
), hits AS (
  SELECT {doc_id}, COUNT(*) AS n_hits
  FROM dg JOIN bg USING (gram) GROUP BY {doc_id}
)
SELECT d.{doc_id},
       CAST(COALESCE(h.n_hits, 0) AS BIGINT) AS n_hits,
       COALESCE(h.n_hits, 0) > 0 AS contaminated
FROM {doc_table} d LEFT JOIN hits h USING ({doc_id})
ORDER BY d.{doc_id}
"""


def unigram_lm_score(
    docs: DataFrame,
    *,
    doc_id: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Mean negative log-likelihood of each document under the corpus's own
    unigram distribution.

    Returns (doc_id, n_tokens BIGINT, nll DOUBLE rounded to 6). Every token
    is in-vocabulary by construction (the model is trained on the scored
    corpus), so no smoothing term is needed.

    Scale shape: shuffle 1 builds the vocab (token hash agg with map-side
    combine — vocab is |V| rows no matter the corpus size); shuffle 2
    regroups token⋈vocab rows by doc for the NLL sum. The corpus total is
    a 1-row agg cross-joined in (metadata, not a driver round-trip).
    """
    toks = docs.select(
        doc_id, F.explode(F.expr(tokens_sql(text_col, "spark"))).alias("tok")
    )
    vocab = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("c"))
    total = vocab.agg(F.sum("c").alias("s"))
    return (
        toks.join(vocab, "tok")
        .crossJoin(F.broadcast(total))
        .groupBy(doc_id)
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
            F.round(
                F.sum(-F.log(F.col("c").cast("double") / F.col("s")))
                / F.count(F.lit(1)),
                6,
            ).alias("nll"),
        )
    )


def unigram_lm_oracle_sql(
    doc_table: str,
    *,
    doc_id: str = "doc_id",
    text_col: str = "text",
) -> str:
    """DuckDB SQL replaying unigram_lm_score (same LN, same one-round)."""
    toks = tokens_sql(text_col, "duckdb")
    return f"""
WITH t AS (
  SELECT {doc_id}, unnest({toks}) AS tok FROM {doc_table}
), v AS (
  SELECT tok, COUNT(*) AS c FROM t GROUP BY tok
), tot AS (
  SELECT SUM(c) AS s FROM v
)
SELECT {doc_id},
       CAST(COUNT(*) AS BIGINT) AS n_tokens,
       ROUND(SUM(-LN(CAST(c AS DOUBLE) / CAST(s AS DOUBLE))) / COUNT(*), 6)
         AS nll
FROM t JOIN v USING (tok) CROSS JOIN tot
GROUP BY {doc_id}
ORDER BY {doc_id}
"""


def _pair_stream_sql(text_col: str, dialect: str) -> str:
    """(prev, cur) adjacent-token pairs of a document as ONE map-only
    expression — prev is NULL on the first token. Built from the token
    array directly (zip with its own shift) so NO per-document window or
    positional self-join is needed: the usual bigram shuffle disappears,
    only the count aggregations shuffle. Let-bound (array(...)[0] trick,
    see functions/analyze.py::_let) so the tokenizer runs once per row."""
    toks = tokens_sql(text_col, dialect)
    if dialect == "spark":
        body = (
            "transform(sequence(1, greatest(size(A0), 1)), i -> "
            "named_struct("
            "'prev', CASE WHEN i <= 1 THEN CAST(NULL AS STRING)"
            " ELSE try_element_at(A0, i - 1) END, "
            "'cur', try_element_at(A0, i)))"
        )
        return (
            f"filter(transform(array({toks}), A0 -> {body})[0], "
            "s -> s.cur IS NOT NULL)"
        )
    body = (
        "list_transform(range(1, greatest(len(A0), 1) + 1), i -> "
        "struct_pack(prev := CASE WHEN i <= 1 THEN NULL ELSE A0[i - 1] END, "
        "cur := A0[i]))"
    )
    return (
        f"list_filter(list_transform([{toks}], A0 -> {body})[1], "
        "s -> s.cur IS NOT NULL)"
    )


def bigram_lm_score(
    docs: DataFrame,
    *,
    doc_id: str = "doc_id",
    text_col: str = "text",
    lam: float = 0.8,
) -> DataFrame:
    """Mean negative log-likelihood of each document under an interpolated
    bigram model trained on the scored corpus itself — the KenLM-shaped
    upgrade of unigram_lm_score (CCNet uses a 5-gram LM; two orders with
    Jelinek-Mercer interpolation is the same quality signal family
    without shipping a model file).

    P(w_i | w_{i-1}) = lam * c(w_{i-1} w_i) / c_ctx(w_{i-1})
                       + (1 - lam) * c(w_i) / N
    with the document's first token scored by the unigram term alone.
    Every n-gram is in-vocabulary by construction; ``lam`` < 1 keeps
    unseen *transitions* finite exactly like JM smoothing.

    Returns (doc_id, n_tokens BIGINT, nll DOUBLE rounded 6; lower =
    closer to corpus phrasing).

    Scale shape: ONE map-only pair explode feeds every count (no
    per-document window, no positional self-join — the pair stream is
    zip-with-shift inside the row, _pair_stream_sql). Three hash aggs
    build the tables (bigram |B| rows, context+unigram |V| rows), joined
    back by token keys, then one regroup by doc. The 1-row corpus total
    is a broadcast cross join."""
    pairs = docs.select(
        doc_id,
        F.explode(F.expr(_pair_stream_sql(text_col, "spark"))).alias("p"),
    ).select(doc_id, F.col("p.prev").alias("prev"), F.col("p.cur").alias("cur"))

    uni = pairs.groupBy("cur").agg(F.count(F.lit(1)).alias("cu"))
    total = uni.agg(F.sum("cu").alias("n"))
    big = (
        pairs.where(F.col("prev").isNotNull())
        .groupBy("prev", "cur")
        .agg(F.count(F.lit(1)).alias("cb"))
    )
    ctx = (
        pairs.where(F.col("prev").isNotNull())
        .groupBy("prev")
        .agg(F.count(F.lit(1)).alias("cc"))
    )
    lam_ = F.lit(float(lam))
    p_uni = F.col("cu").cast("double") / F.col("n").cast("double")
    p_big = F.col("cb").cast("double") / F.col("cc").cast("double")
    p = F.when(
        F.col("prev").isNull(), p_uni
    ).otherwise(lam_ * p_big + (F.lit(1.0) - lam_) * p_uni)
    return (
        pairs.join(uni, "cur")
        .join(big, ["prev", "cur"], "left")
        .join(ctx, ["prev"], "left")
        .crossJoin(F.broadcast(total))
        .groupBy(doc_id)
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
            F.round(F.sum(-F.log(p)) / F.count(F.lit(1)), 6).alias("nll"),
        )
    )


def bigram_lm_oracle_sql(
    doc_table: str,
    *,
    doc_id: str = "doc_id",
    text_col: str = "text",
    lam: float = 0.8,
) -> str:
    """DuckDB SQL replaying bigram_lm_score exactly."""
    pairs = _pair_stream_sql(text_col, "duckdb")
    return f"""
WITH pr AS (
  SELECT {doc_id}, u.prev AS prev, u.cur AS cur
  FROM (SELECT {doc_id}, unnest({pairs}) AS u FROM {doc_table})
), uni AS (
  SELECT cur, COUNT(*) AS cu FROM pr GROUP BY cur
), tot AS (
  SELECT SUM(cu) AS n FROM uni
), big AS (
  SELECT prev, cur, COUNT(*) AS cb FROM pr WHERE prev IS NOT NULL
  GROUP BY prev, cur
), ctx AS (
  SELECT prev, COUNT(*) AS cc FROM pr WHERE prev IS NOT NULL GROUP BY prev
)
SELECT {doc_id},
       CAST(COUNT(*) AS BIGINT) AS n_tokens,
       ROUND(SUM(-LN(
         CASE WHEN pr.prev IS NULL
              THEN CAST(cu AS DOUBLE) / CAST(n AS DOUBLE)
              ELSE {lam!r} * (CAST(cb AS DOUBLE) / CAST(cc AS DOUBLE))
                   + (1.0 - {lam!r}) * (CAST(cu AS DOUBLE) / CAST(n AS DOUBLE))
         END)) / COUNT(*), 6) AS nll
FROM pr
JOIN uni USING (cur)
LEFT JOIN big USING (prev, cur)
LEFT JOIN ctx USING (prev)
CROSS JOIN tot
GROUP BY {doc_id}
ORDER BY {doc_id}
"""


# -- fuzzy (near-dup) decontamination -----------------------------------------


def fuzzy_decontaminate(
    corpus: DataFrame,
    bench: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    bench_id_col: str = "bench_id",
    bench_text_col: str = "text",
    threshold: float = 0.9,
    k: int = 8,
    n: int = 1,
    rows_per_band: int = 4,
    seed: int = 42,
) -> DataFrame:
    """Fuzzy benchmark decontamination (the Llama-3 / FineWeb follow-up to
    exact n-gram overlap): flag training documents whose token-set Jaccard
    with ANY benchmark document clears ``threshold``, found via a
    cross-corpus MinHash-LSH band join rather than an all-pairs scan.

    Returns (corpus id, bench id, jaccard) for every verified contaminated
    pair — callers anti-join the id set against the corpus to drop hits.

    Scale shape: both sides build signatures with the same
    explode→hash→ONE-agg pipeline as ``minhash_signatures``; candidates are
    a band-key equi-join — the 100 TB corpus side never self-joins, and the
    benchmark side is MB-sized, so its band frame broadcasts and candidate
    generation is map-side against the corpus bands. Verification joins the
    (bounded) candidate list back to both shingle frames — the standard
    sig→band→verify LSH contract, with banding recall (a pair missed by
    every band is missed; raise k / lower rows_per_band to tighten)."""
    # band tuning is the operative knob: the candidate threshold is
    # s* ~ (1/b)^(1/r) for b bands of r rows, so match it to ``threshold``
    # (r=4, b=2 targets ~0.84 for 0.9-dedup; the r=2 default of the
    # SELF-join path targets 0.5 and floods this cross join with
    # candidates on near-dup-dense corpora — measured 193k candidates of
    # 257k possible pairs at sf0.1 before retuning)
    # spread the corpus-side signature build: a single-file parquet input
    # would otherwise hash every document in one task
    corpus = corpus.repartition(
        corpus.sparkSession.sparkContext.defaultParallelism, id_col
    )
    sig_c = minhash_signatures(corpus, id_col, text_col, k=k, n=n, seed=seed)
    sig_b = minhash_signatures(
        bench, bench_id_col, bench_text_col, k=k, n=n, seed=seed
    )
    bands_c = minhash_bands(sig_c, id_col, k, rows_per_band)
    bands_b = minhash_bands(sig_b, bench_id_col, k, rows_per_band)
    cands = band_join(bands_c, F.broadcast(bands_b)).toDF(id_col, bench_id_col)
    # shingle only the documents that actually have a candidate: the
    # semi-join bounds the second tokenization pass to the candidate
    # fraction instead of re-tokenizing the full 100 TB corpus
    sh_c = corpus.join(
        cands.select(id_col).distinct(), id_col, "left_semi"
    ).select(
        F.col(id_col),
        F.expr(shingles_sql(text_col, "spark", n)).alias("c_sh"),
    )
    sh_b = bench.select(
        F.col(bench_id_col),
        F.expr(shingles_sql(bench_text_col, "spark", n)).alias("b_sh"),
    )
    j = jaccard_sql("c_sh", "b_sh", "spark")
    return (
        cands.join(sh_c, id_col)
        .join(F.broadcast(sh_b), bench_id_col)
        .withColumn("jaccard", F.expr(j))
        .where(F.col("jaccard") >= threshold)
        .select(id_col, bench_id_col, "jaccard")
    )


# -- CCNet perplexity bucketing ----------------------------------------------


def perplexity_buckets(
    docs: DataFrame,
    *,
    doc_id: str = "doc_id",
    text_col: str = "text",
    lang_col: str = "lang",
    n_buckets: int = 3,
    exact: bool = True,
) -> DataFrame:
    """CCNet's head/middle/tail split (Wenzek et al. 2020 §4.3): score each
    document with the unigram LM, then partition each language's documents
    into ``n_buckets`` equal-depth perplexity tiers — bucket 1 ("head") is
    the lowest-perplexity (most fluent) third.

    Returns one row per (lang, bucket): the tier label, its doc count and
    its mean NLL. With ``exact=True`` tiering uses NTILE over
    (nll, doc_id) — the doc_id tie-break makes the assignment
    deterministic and engine-portable (NLL is pre-rounded to 6 by
    :func:`unigram_lm_score`, so equal scores compare equal in both
    engines). This is the DuckDB-replayable oracle form.

    **Scale path** (``exact=False``): per-language NTILE hashes every
    'en' row through ONE reducer — the classic low-cardinality-window
    funnel. CCNet's own production recipe cuts on quantile THRESHOLDS
    instead (lm.py computes the cutoffs once, then assigns by
    comparison): here, ``percentile_approx`` collapses each language to
    (n_buckets-1) cutoffs (one lang-count-sized agg), broadcast back,
    and tier assignment becomes a map-side comparison — no per-language
    sort anywhere. Tier populations are approximate at the cutoff (ties
    + sketch error), which is CCNet's own contract.

    Scale shape: the LM score is two shuffles (see unigram_lm_score);
    exact adds one lang-hash exchange + per-lang sort, approx adds a
    metadata-sized cutoff agg + broadcast join.
    """
    scored = unigram_lm_score(docs, doc_id=doc_id, text_col=text_col).join(
        docs.select(doc_id, lang_col), doc_id
    )
    if not exact:
        qs = ", ".join(
            str(round(i / n_buckets, 6)) for i in range(1, n_buckets)
        )
        cuts = scored.groupBy(lang_col).agg(
            F.expr(
                f"percentile_approx(nll, array({qs}), 10000)"
            ).alias("__cuts")
        )
        tier = F.lit(1)
        for i in range(n_buckets - 1):
            tier = tier + F.when(
                F.col("nll") > F.element_at("__cuts", i + 1), 1
            ).otherwise(0)
        assigned = (
            scored.join(F.broadcast(cuts), lang_col)
            .withColumn("__tier", tier)
            .drop("__cuts")
        )
        lab = F.when(F.col("__tier") == 1, "head")
        for t in range(2, n_buckets):
            lab = lab.when(
                F.col("__tier") == t,
                f"middle{t - 1}" if n_buckets > 3 else "middle",
            )
        lab = lab.otherwise("tail")
        return (
            assigned.groupBy(lang_col, "__tier")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("doc_count"),
                F.round(F.avg("nll"), 6).alias("avg_nll"),
            )
            .withColumn("bucket", lab)
            .drop("__tier")
            .select(lang_col, "bucket", "doc_count", "avg_nll")
        )
    from pyspark.sql import Window

    w = Window.partitionBy(lang_col).orderBy("nll", doc_id)
    lab = F.when(F.col("__tier") == 1, "head")
    for t in range(2, n_buckets):
        lab = lab.when(F.col("__tier") == t, f"middle{t - 1}" if n_buckets > 3 else "middle")
    lab = lab.otherwise("tail")
    return (
        scored.withColumn("__tier", F.ntile(n_buckets).over(w))
        .groupBy(lang_col, "__tier")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("doc_count"),
            F.round(F.avg("nll"), 6).alias("avg_nll"),
        )
        .withColumn("bucket", lab)
        .drop("__tier")
        .select(lang_col, "bucket", "doc_count", "avg_nll")
    )


def perplexity_buckets_oracle_sql(
    doc_table: str,
    *,
    doc_id: str = "doc_id",
    text_col: str = "text",
    lang_col: str = "lang",
    n_buckets: int = 3,
) -> str:
    """DuckDB replay of :func:`perplexity_buckets` (n_buckets<=3 labels)."""
    toks = tokens_sql(text_col, "duckdb")
    return f"""
WITH t AS (
  SELECT {doc_id}, unnest({toks}) AS tok FROM {doc_table}
), v AS (
  SELECT tok, COUNT(*) AS c FROM t GROUP BY tok
), tot AS (
  SELECT SUM(c) AS s FROM v
), scored AS (
  SELECT {doc_id},
         ROUND(SUM(-LN(CAST(c AS DOUBLE) / CAST(s AS DOUBLE))) / COUNT(*), 6)
           AS nll
  FROM t JOIN v USING (tok) CROSS JOIN tot
  GROUP BY {doc_id}
), tiered AS (
  SELECT d.{lang_col}, s.nll,
         NTILE({n_buckets}) OVER (
           PARTITION BY d.{lang_col} ORDER BY s.nll, s.{doc_id}
         ) AS tier
  FROM scored s JOIN {doc_table} d USING ({doc_id})
)
SELECT {lang_col},
       CASE tier WHEN 1 THEN 'head'
                 WHEN {n_buckets} THEN 'tail'
                 ELSE 'middle' END AS bucket,
       CAST(COUNT(*) AS BIGINT) AS doc_count,
       ROUND(AVG(nll), 6) AS avg_nll
FROM tiered
GROUP BY {lang_col}, tier
"""


def ngram_novelty(
    docs: DataFrame,
    reference: DataFrame,
    id_col: str,
    text_col: str,
    *,
    n: int = 5,
    m_bits: int = 1 << 20,
    k: int = 5,
    seed: int = 42,
) -> DataFrame:
    """Per-document n-gram NOVELTY against a reference corpus — the
    memorization / regurgitation signal (Carlini-style n-gram overlap,
    inverted): ``novelty = 1 - |doc grams seen in reference| / |doc
    grams|`` over distinct word n-grams. EXACT by construction, Bloom-
    ACCELERATED by architecture (same split as ``bloom_dedup``): the
    reference folds once into a Bloom word table; a doc gram whose
    probe says "definitely not present" skips the expensive membership
    join entirely (no false negatives), and only the maybe-present
    sliver — true overlaps plus the tunable FP rate — is verified with
    the exact semi-join. The result is therefore identical to the plain
    anti-join answer the oracle runs, at a fraction of the shuffle.

    Returns ``(id, n_grams, n_seen, novelty)`` rounded 6, ordered;
    docs with no grams (text shorter than n tokens) report NULL
    novelty.

    100 TB shape: reference -> <= m/64 bloom words (metadata-sized,
    reusable parquet); per batch the probe is k broadcast map-side
    joins; the verify join's left side is only the maybe sliver.
    """
    from harmonize_search_analyze_spark.operators.bloom import (
        bloom_build,
        bloom_flag_maybe,
    )
    from harmonize_search_analyze_spark.operators.dedup import (
        shingles_sql,
    )

    # both gram frames feed two consumers each (ref: bloom build +
    # verify semi-join; doc: probe + totals) — checkpoint or the explode+
    # distinct replays per reader
    ref_grams = checkpoint(reference.select(
        F.explode(F.expr(shingles_sql(text_col, "spark", n)))
        .alias("gram")
    ).distinct())
    words = checkpoint(bloom_build(
        ref_grams, "gram", m_bits=m_bits, k=k, seed=seed
    ))
    doc_grams = checkpoint(docs.select(
        F.col(id_col),
        F.explode(F.expr(shingles_sql(text_col, "spark", n)))
        .alias("gram"),
    ).distinct())
    flagged = bloom_flag_maybe(
        doc_grams, words, "gram", m_bits=m_bits, k=k, seed=seed
    )
    # the maybe sliver verifies exactly; definite-no short-circuits
    seen = (
        flagged.where(F.col("__bloom_maybe"))
        .join(ref_grams, "gram", "left_semi")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("__seen"))
    )
    totals = doc_grams.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_grams")
    )
    base = docs.select(id_col).distinct()
    out = (
        base.join(totals, id_col, "left")
        .join(seen, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_grams", F.lit(0)).cast("bigint")
            .alias("n_grams"),
            F.coalesce("__seen", F.lit(0)).cast("bigint")
            .alias("n_seen"),
            F.round(
                1.0
                - F.coalesce("__seen", F.lit(0))
                / F.col("n_grams").cast("double"),
                6,
            ).alias("novelty"),
        )
        .orderBy(id_col)
    )
    return out


def ngram_novelty_sql(
    docs_sql: str,
    reference_sql: str,
    id_col: str,
    text_col: str,
    dialect: str,
    *,
    n: int = 5,
) -> str:
    """Oracle twin of :func:`ngram_novelty` — the plain exact form (the
    Bloom prefilter provably does not change the answer; its word-table
    arithmetic stays on the engine side)."""
    from harmonize_search_analyze_spark.operators.dedup import (
        shingles_sql,
    )

    sh = shingles_sql(text_col, dialect, n)
    expl = "explode" if dialect == "spark" else "unnest"
    return f"""
WITH ref AS (
  SELECT DISTINCT {expl}({sh}) AS gram FROM ({reference_sql}) r
),
dg AS (
  SELECT DISTINCT {id_col} AS id, {expl}({sh}) AS gram
  FROM ({docs_sql}) d
),
tot AS (SELECT id, COUNT(*) AS n_grams FROM dg GROUP BY id),
seen AS (
  SELECT dg.id, COUNT(*) AS n_seen
  FROM dg JOIN ref ON dg.gram = ref.gram
  GROUP BY dg.id
),
base AS (SELECT DISTINCT {id_col} AS id FROM ({docs_sql}) b)
SELECT base.id AS {id_col},
       CAST(COALESCE(tot.n_grams, 0) AS BIGINT) AS n_grams,
       CAST(COALESCE(seen.n_seen, 0) AS BIGINT) AS n_seen,
       ROUND(1.0 - COALESCE(seen.n_seen, 0)
             / CAST(tot.n_grams AS DOUBLE), 6) AS novelty
FROM base
LEFT JOIN tot ON base.id = tot.id
LEFT JOIN seen ON base.id = seen.id
ORDER BY base.id
"""


def good_turing(
    df: DataFrame,
    text_col: str,
    *,
    max_r: int = 10,
) -> DataFrame:
    """Good-Turing adjusted counts over the corpus unigram distribution
    — the smoothing backbone under Katz/Kneser-Ney that
    :func:`bigram_lm_score`'s add-k floor approximates: for each raw
    count ``r``, the adjusted count ``r* = (r + 1) F_{r+1} / F_r`` and
    the smoothed probability ``p_gt = r*/N``; row ``r = 0`` carries the
    UNSEEN mass ``F_1 / N`` (the probability the next token is a new
    type). Rows where ``F_{r+1} = 0`` pin NULL r_star (the estimator is
    undefined without the next frequency class — real smoothers switch
    to a fitted tail there). Returns rows ``r = 0..max_r`` ordered by
    r: ``(r, f_r, r_star, p_gt)`` rounded 6.

    Scale shape: one tokenize+explode pass -> term counts, one
    frequency-of-frequency agg OVER the vocab frame (bounded by max
    multiplicity), a self-join of the tiny fof frame on ``r + 1``, a
    1-row total broadcast.
    """
    toks = df.where(F.col(text_col).isNotNull()).select(
        F.explode(
            F.expr(
                f"filter(split(lower({text_col}), '[^a-z0-9]+'),"
                " t -> t != '')"
            )
        ).alias("__w")
    )
    counts = toks.groupBy("__w").agg(F.count(F.lit(1)).alias("__c"))
    fof = counts.groupBy(F.col("__c").alias("r")).agg(
        F.count(F.lit(1)).alias("f_r")
    )
    nn = F.broadcast(
        fof.agg(
            F.sum(F.col("r") * F.col("f_r")).cast("double").alias("__n"),
            F.coalesce(
                F.sum(F.when(F.col("r") == 1, F.col("f_r"))), F.lit(0)
            ).cast("double").alias("__f1"),
        )
    )
    nxt = fof.select(
        (F.col("r") - 1).alias("r"), F.col("f_r").alias("__fn")
    )
    spark = df.sparkSession
    grid = spark.range(1, max_r + 1).select(
        F.col("id").cast("long").alias("r")
    )
    body = (
        grid.join(fof, "r", "left")
        .join(nxt, "r", "left")
        .crossJoin(nn)
        .select(
            "r",
            F.coalesce("f_r", F.lit(0)).alias("f_r"),
            (
                (F.col("r") + 1.0)
                * F.col("__fn")
                / F.col("f_r")
            ).alias("__rstar"),
            F.col("__n"),
        )
        .select(
            "r", "f_r",
            (F.round("__rstar", 6) + F.lit(0.0)).alias("r_star"),
            (
                F.round(F.col("__rstar") / F.col("__n"), 6)
                + F.lit(0.0)
            ).alias("p_gt"),
        )
    )
    zero = (
        spark.range(1)
        .crossJoin(nn)
        .select(
            F.lit(0).cast("long").alias("r"),
            F.lit(0).cast("long").alias("f_r"),
            F.lit(None).cast("double").alias("r_star"),
            F.round(
                F.try_divide(F.col("__f1"), F.col("__n")), 6
            ).alias("p_gt"),
        )
    )
    return zero.unionByName(body).orderBy("r")


def good_turing_sql(
    table: str,
    text_col: str,
    dialect: str,
    *,
    max_r: int = 10,
) -> str:
    """Dual-dialect twin of :func:`good_turing` (explode/UNNEST and the
    integer grid are the dialect splits)."""
    from harmonize_search_analyze_spark.operators.text import tokens_sql

    toks = tokens_sql(text_col, dialect)
    if dialect == "spark":
        unn = f"SELECT explode({toks}) AS w FROM {table} WHERE {text_col} IS NOT NULL"
        grid = f"SELECT explode(sequence(1, {max_r})) AS r"
    elif dialect == "duckdb":
        unn = f"SELECT UNNEST({toks}) AS w FROM {table} WHERE {text_col} IS NOT NULL"
        grid = f"SELECT UNNEST(generate_series(1, {max_r})) AS r"
    else:
        raise ValueError(f"unknown dialect: {dialect}")
    return f"""
WITH toks AS ({unn}),
counts AS (SELECT w, COUNT(*) AS c FROM toks GROUP BY 1),
fof AS (SELECT c AS r, COUNT(*) AS f_r FROM counts GROUP BY 1),
nn AS (
  SELECT CAST(SUM(r * f_r) AS DOUBLE) AS n,
         CAST(COALESCE(SUM(CASE WHEN r = 1 THEN f_r END), 0) AS DOUBLE)
           AS f1
  FROM fof
),
grid AS ({grid}),
body AS (
  SELECT CAST(g.r AS BIGINT) AS r,
         CAST(COALESCE(fof.f_r, 0) AS BIGINT) AS f_r,
         (g.r + 1.0) * nxt.f_r / fof.f_r AS rstar,
         nn.n
  FROM grid g
  LEFT JOIN fof ON g.r = fof.r
  LEFT JOIN fof nxt ON g.r + 1 = nxt.r
  CROSS JOIN nn
)
SELECT CAST(0 AS BIGINT) AS r, CAST(0 AS BIGINT) AS f_r,
       CAST(NULL AS DOUBLE) AS r_star,
       ROUND(f1 / NULLIF(n, 0.0), 6) AS p_gt
FROM nn
UNION ALL
SELECT r, f_r,
       ROUND(rstar, 6) + 0.0 AS r_star,
       ROUND(rstar / n, 6) + 0.0 AS p_gt
FROM body
ORDER BY r
"""
