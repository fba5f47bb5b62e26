"""BPE tokenizer training on Spark (byte-pair-encoding merge learning).

The standard public algorithm (Sennrich et al. 2016, "Neural Machine
Translation of Rare Words with Subword Units"): start from characters,
repeatedly merge the most frequent adjacent symbol pair. Real trainers
(the published formulation and every public implementation) operate on the
WORD-FREQUENCY table, not raw text — which is exactly what makes this
Spark-shaped:

1. ONE corpus-scale pass builds (word, count) — explode + hash agg, the
   same plan as ``vocab_build``. This is the only stage that touches all
   the data; at 100 TB it is a scan-bound aggregation with map-side
   combine.
2. The merge loop then iterates on the VOCAB-sized frame (millions of
   rows at web scale, not billions): per round, pair counts are one
   weighted hash agg, the argmax is a driver-side 1-row TakeOrdered (the
   justified metadata collect, same contract as kmeans_train), and the
   merge applies as a per-row array fold. ``localCheckpoint`` every round
   truncates the growing lineage (measured necessity — see
   ``functions.caching``).

Ties are pinned (count DESC, then pair lexicographic ASC) so training is
deterministic; the merge table is the model. Encoding applies the learned
merge list per batch in an Arrow stage (a chained-fold SQL expression for
n merges would nest n deep and hit Catalyst's analysis cliff — same
finding as the k-means literal-distance experiment, PERFORMANCE.md).

The end-of-word marker ``</w>`` follows the public BPE convention so
merges distinguish suffixes from mid-word pairs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from harmonize_search_analyze_spark.functions.caching import checkpoint
from harmonize_search_analyze_spark.operators.text import tokens_sql

EOW = "</w>"


def _word_counts(df: DataFrame, text_col: str) -> DataFrame:
    toks = tokens_sql(text_col, "spark")
    return (
        df.where(F.col(text_col).isNotNull())
        .select(F.explode(F.expr(toks)).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("weight"))
    )


def _train_local(
    rows: list[tuple[str, int]], n_merges: int, min_pair_count: int
) -> list[tuple[str, str]]:
    """Merge loop on a driver-resident word-count table — identical
    formulas and tie-breaks to the distributed loop (pinned by test)."""
    syms = [(list(w) + [EOW], c) for w, c in rows]
    merges: list[tuple[str, str]] = []
    for _ in range(n_merges):
        counts: dict[tuple[str, str], int] = {}
        for s, c in syms:
            for i in range(len(s) - 1):
                counts[(s[i], s[i + 1])] = counts.get((s[i], s[i + 1]), 0) + c
        if not counts:
            break
        best = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        if best[1] < min_pair_count:
            break
        (left, right), _cnt = best
        merges.append((left, right))
        nxt = []
        for s, c in syms:
            out: list[str] = []
            i = 0
            while i < len(s):
                if i + 1 < len(s) and s[i] == left and s[i + 1] == right:
                    out.append(left + right)
                    i += 2
                else:
                    out.append(s[i])
                    i += 1
            nxt.append((out, c))
        syms = nxt
    return merges


def bpe_train(
    df: DataFrame,
    text_col: str = "text",
    *,
    n_merges: int = 20,
    min_pair_count: int = 2,
    driver_threshold: int = 200_000,
) -> list[tuple[str, str]]:
    """Learn ``n_merges`` BPE merges from the corpus. Returns the ordered
    merge list [(left, right), ...] — the tokenizer model.

    Stops early when the best remaining pair's weighted count falls under
    ``min_pair_count``.

    Hybrid execution, data-size-dictated: the corpus-scale word count is
    ALWAYS the distributed pass; the merge loop then runs driver-side when
    the distinct-word table fits (<= ``driver_threshold`` rows — public
    BPE trainers operate on exactly this in-memory table), else as
    distributed per-round aggregations. Both paths share tie-breaks and
    produce identical merges (pinned by test, including at >200k words);
    the loop's cost lives where the vocabulary size says it should, not
    where the corpus size does.

    The distributed loop's per-round driver round-trip is ONE row (the
    argmax pair — the same justified-collect contract as kmeans_train)
    and is inherent to exact sequential BPE: each merge decision needs
    the recount. The symbol table is eagerly ``localCheckpoint``-ed
    after every merge: checkpointing every 4th merge MEASURED 1.5x
    SLOWER at 299k distinct words — the un-materialized fold chain
    re-executes inside every later round's pair-count job, and re-running
    array folds over the vocab costs more than the local checkpoint
    write it saves (PERFORMANCE.md, round 3). Timings at 299k words / 12
    merges: driver loop 24.7s, distributed per-merge checkpoint 27.0s,
    every 4th merge 39.7s — identical merge sequences on all paths
    (pinned by test)."""
    words = _word_counts(df, text_col)
    n_words = words.count()
    if n_words <= driver_threshold:
        rows = [
            (r["word"], r["weight"])
            for r in words.orderBy("word").collect()
        ]
        return _train_local(rows, n_merges, min_pair_count)
    syms = checkpoint(words.select(
        "weight",
        F.expr(
            f"concat(split(word, ''), array('{EOW}'))"
        ).alias("syms"),
    ), eager=True)
    merges: list[tuple[str, str]] = []
    for _ in range(n_merges):
        pairs = (
            syms.select(
                "weight",
                F.explode(
                    F.expr(
                        "zip_with(syms, slice(syms, 2, greatest(size(syms)"
                        " - 1, 0)), (a, b) -> CASE WHEN b IS NULL THEN NULL"
                        " ELSE struct(a AS l, b AS r) END)"
                    )
                ).alias("p"),
            )
            .where(F.col("p").isNotNull())
            .groupBy("p.l", "p.r")
            .agg(F.sum("weight").alias("cnt"))
            .orderBy(F.desc("cnt"), F.asc("l"), F.asc("r"))
            .limit(1)
            .collect()
        )
        if not pairs or pairs[0]["cnt"] < min_pair_count:
            break
        left, right = pairs[0]["l"], pairs[0]["r"]
        merges.append((left, right))
        la = left.replace("\\", "\\\\").replace("'", "\\'")
        rb = right.replace("\\", "\\\\").replace("'", "\\'")
        # fold: rebuild the symbol array merging adjacent (left, right)
        merge_expr = (
            "aggregate(syms, CAST(array() AS ARRAY<STRING>), (acc, s) -> "
            f"CASE WHEN size(acc) > 0 AND element_at(acc, -1) = '{la}' "
            f"AND s = '{rb}' THEN concat(slice(acc, 1, size(acc) - 1), "
            f"array('{la}{rb}')) ELSE concat(acc, array(s)) END)"
        )
        syms = checkpoint(syms.select(
            "weight", F.expr(merge_expr).alias("syms")
        ), eager=True)
    return merges


def bpe_encode(
    df: DataFrame,
    merges: list[tuple[str, str]],
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Apply a learned merge list: (id, bpe_tokens ARRAY<STRING>,
    n_bpe_tokens). One map-only Arrow stage — the merge list rides the
    task closure; per word the fold is the standard sequential merge
    application (deterministic, order = training order)."""
    import pandas as pd

    import re as _re

    word_re = _re.compile(r"[a-z0-9]+")
    rules = list(merges)

    def apply_word(word: str, cache: dict) -> list[str]:
        got = cache.get(word)
        if got is not None:
            return got
        syms = list(word) + [EOW]
        for left, right in rules:
            merged = left + right
            out = []
            i = 0
            while i < len(syms):
                if (
                    i + 1 < len(syms)
                    and syms[i] == left
                    and syms[i + 1] == right
                ):
                    out.append(merged)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            syms = out
        cache[word] = syms
        return syms

    def encode(batches):
        cache: dict = {}
        for pdf in batches:
            if len(pdf) == 0:
                continue
            toks_col = []
            for text in pdf[text_col]:
                toks: list[str] = []
                if text is not None:
                    for w in word_re.findall(str(text).lower()):
                        toks.extend(apply_word(w, cache))
                toks_col.append(toks)
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "bpe_tokens": toks_col,
                    "n_bpe_tokens": [len(t) for t in toks_col],
                }
            )

    return df.select(id_col, text_col).mapInPandas(
        encode, f"{id_col} long, bpe_tokens array<string>, n_bpe_tokens int"
    )
