"""Unigram-LM subword tokenizer training (SentencePiece's unigram model).

The public algorithm (Kudo 2018, "Subword Regularization"): seed a large
candidate piece vocabulary, fit piece probabilities with EM over the best
segmentations, and iteratively prune low-probability pieces until the
target vocabulary size. This implementation uses the standard hard-EM
(Viterbi) variant: the E-step segments each word with the current model
and accumulates weighted piece counts, the M-step re-normalizes.

Spark shape — the same hybrid contract as ``bpe_train``:

1. The corpus-scale (word, count) table is ALWAYS one distributed
   explode + hash agg; nothing after it rescans the corpus.
2. Below ``driver_threshold`` distinct words the EM loop runs
   driver-side on the word-count table (public trainers, SentencePiece
   included, are single-node over exactly this table).
3. Above it, each EM round is ONE Arrow ``mapInPandas`` over the sharded
   word table (the piece model rides the task closure — vocab-sized,
   broadcast-scale) followed by ONE piece-count hash agg. Rounds scale
   with distinct words, never corpus size.

Both paths call the SAME ``_viterbi`` on the same seed, so they produce
identical models (pinned by test). Determinism: seeds ranked
(freq DESC, piece ASC); Viterbi ties resolved by the fixed scan order
(shorter last-piece candidates scanned first, strictly-greater wins);
prune keeps top pieces by (count DESC, piece ASC); single characters are
never pruned (the model must be able to segment anything — Kudo's
character-coverage floor).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from harmonize_search_analyze_spark.functions.caching import checkpoint
from harmonize_search_analyze_spark.operators.bpe import _word_counts


def _viterbi(
    word: str, logp: dict[str, float], max_len: int
) -> list[str] | None:
    """Best segmentation of ``word`` into model pieces (max sum of piece
    log-probs). Returns None when no segmentation exists (an unseen
    character with no piece). Tie-break: candidates are scanned by
    increasing last-piece length and only a STRICTLY better score
    replaces, so every caller sees the same segmentation."""
    n = len(word)
    best = [0.0] + [-math.inf] * n
    back = [0] * (n + 1)
    for i in range(1, n + 1):
        for piece_len in range(1, min(i, max_len) + 1):
            j = i - piece_len
            if best[j] == -math.inf:
                continue
            lp = logp.get(word[j:i])
            if lp is None:
                continue
            score = best[j] + lp
            if score > best[i]:
                best[i] = score
                back[i] = j
    if best[n] == -math.inf:
        return None
    out: list[str] = []
    i = n
    while i > 0:
        j = back[i]
        out.append(word[j:i])
        i = j
    return out[::-1]


def _seed_pieces_local(
    rows: list[tuple[str, int]], seed_size: int, max_piece_len: int
) -> dict[str, int]:
    """Candidate pieces: every substring up to ``max_piece_len``,
    weighted by word frequency; top ``seed_size`` by (freq DESC, piece
    ASC), single characters always included."""
    freq: dict[str, int] = {}
    for word, cnt in rows:
        n = len(word)
        for j in range(n):
            for k in range(j + 1, min(j + max_piece_len, n) + 1):
                p = word[j:k]
                freq[p] = freq.get(p, 0) + cnt
    chars = {p: c for p, c in freq.items() if len(p) == 1}
    multi = sorted(
        ((p, c) for p, c in freq.items() if len(p) > 1),
        key=lambda kv: (-kv[1], kv[0]),
    )
    keep = dict(multi[: max(seed_size - len(chars), 0)])
    keep.update(chars)
    return keep


def _em_rounds_local(
    rows: list[tuple[str, int]],
    counts: dict[str, int],
    *,
    vocab_size: int,
    max_piece_len: int,
    n_iters: int,
    segment_fn,
) -> list[tuple[str, float]]:
    """Shared EM + prune loop. ``segment_fn(rows, logp)`` returns the
    aggregated weighted piece counts for one E-step — driver-side or
    distributed; everything else is identical between paths."""
    for it in range(n_iters):
        total = sum(counts.values())
        logp = {
            p: math.log(c / total) for p, c in counts.items() if c > 0
        }
        new_counts = segment_fn(rows, logp)
        # characters survive with a floor count so coverage never drops
        for p in counts:
            if len(p) == 1 and new_counts.get(p, 0) == 0:
                new_counts[p] = 1
        counts = {p: c for p, c in new_counts.items() if c > 0}
        # prune to vocab_size: chars always kept, then best multi pieces
        chars = {p: c for p, c in counts.items() if len(p) == 1}
        multi = sorted(
            ((p, c) for p, c in counts.items() if len(p) > 1),
            key=lambda kv: (-kv[1], kv[0]),
        )
        keep = dict(multi[: max(vocab_size - len(chars), 0)])
        keep.update(chars)
        counts = keep
    total = sum(counts.values())
    model = [
        (p, round(math.log(c / total), 6)) for p, c in counts.items()
    ]
    model.sort(key=lambda kv: (-kv[1], kv[0]))
    return model


def unigram_train(
    df: DataFrame,
    text_col: str = "text",
    *,
    vocab_size: int = 200,
    seed_size: int = 2000,
    max_piece_len: int = 8,
    n_iters: int = 2,
    driver_threshold: int = 200_000,
) -> list[tuple[str, float]]:
    """Train a unigram-LM subword vocabulary. Returns the model as
    [(piece, logprob)] sorted (logprob DESC, piece ASC).

    Hybrid execution like bpe_train: one distributed word count always;
    EM driver-side below ``driver_threshold`` distinct words, else each
    round is one Arrow map over the sharded word table + one hash agg
    (model rides the closure; round-trip is the vocab-sized count table,
    the same justified-collect contract as kmeans_train)."""
    words = _word_counts(df, text_col)
    n_words = words.count()
    if n_words <= driver_threshold:
        rows = [
            (r["word"], int(r["weight"]))
            for r in words.orderBy("word").collect()
        ]
        seed = _seed_pieces_local(rows, seed_size, max_piece_len)

        def segment_local(rows_, logp):
            out: dict[str, int] = {}
            for w, c in rows_:
                seg = _viterbi(w, logp, max_piece_len)
                if seg is None:
                    continue
                for p in seg:
                    out[p] = out.get(p, 0) + c
            return out

        return _em_rounds_local(
            rows, seed,
            vocab_size=vocab_size, max_piece_len=max_piece_len,
            n_iters=n_iters, segment_fn=segment_local,
        )

    # distributed path: seed + each E-step over the sharded word table
    words = checkpoint(words, eager=True)
    sub = (
        "flatten(transform(sequence(1, length(word)), j -> "
        "transform(sequence(j, least(j + {L} - 1, length(word))), k -> "
        "substr(word, j, k - j + 1))))"
    ).format(L=max_piece_len)
    # checkpoint: the chars + multi collects below would otherwise each
    # re-run the all-substrings explode (the most expensive seed stage)
    seeded = checkpoint(
        words.select(
            F.col("weight"), F.explode(F.expr(sub)).alias("piece")
        )
        .groupBy("piece")
        .agg(F.sum("weight").alias("c")),
        eager=True,
    )
    chars = {
        r["piece"]: int(r["c"])
        for r in seeded.where(F.length("piece") == 1).collect()
    }
    multi = {
        r["piece"]: int(r["c"])
        for r in seeded.where(F.length("piece") > 1)
        .orderBy(F.desc("c"), F.asc("piece"))
        .limit(max(seed_size - len(chars), 0))
        .collect()
    }
    seed = {**multi, **chars}

    max_len = max_piece_len

    def segment_distributed(_rows_unused, logp):
        import pandas as pd

        def estep(batches):
            for pdf in batches:
                acc: dict[str, int] = {}
                for w, c in zip(pdf["word"], pdf["weight"]):
                    seg = _viterbi(str(w), logp, max_len)
                    if seg is None:
                        continue
                    for p in seg:
                        acc[p] = acc.get(p, 0) + int(c)
                yield pd.DataFrame(
                    {"piece": list(acc), "c": list(acc.values())}
                )

        out = (
            words.mapInPandas(estep, "piece string, c long")
            .groupBy("piece")
            .agg(F.sum("c").alias("c"))
            .collect()
        )
        return {r["piece"]: int(r["c"]) for r in out}

    return _em_rounds_local(
        None, seed,
        vocab_size=vocab_size, max_piece_len=max_piece_len,
        n_iters=n_iters, segment_fn=segment_distributed,
    )


def unigram_encode(
    df: DataFrame,
    model: list[tuple[str, float]],
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Segment documents with a trained unigram model: (id, pieces
    ARRAY<STRING>, n_pieces). One map-only Arrow stage (model in the
    task closure, per-word memoization per batch) — the same plan shape
    as bpe_encode. Words the model cannot segment fall back to
    characters-of-word filtered to known pieces (coverage guard)."""
    import re as _re

    word_re = _re.compile(r"[a-z0-9]+")
    logp = dict(model)
    max_len = max((len(p) for p in logp), default=1)

    def encode(batches):
        import pandas as pd

        cache: dict[str, list[str]] = {}
        for pdf in batches:
            if len(pdf) == 0:
                continue
            pieces_col = []
            for text in pdf[text_col]:
                toks: list[str] = []
                if text is not None:
                    for w in word_re.findall(str(text).lower()):
                        seg = cache.get(w)
                        if seg is None:
                            seg = _viterbi(w, logp, max_len)
                            if seg is None:
                                seg = [ch for ch in w if ch in logp]
                            cache[w] = seg
                        toks.extend(seg)
                pieces_col.append(toks)
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "pieces": pieces_col,
                    "n_pieces": [len(t) for t in pieces_col],
                }
            )

    return df.select(id_col, text_col).mapInPandas(
        encode, f"{id_col} long, pieces array<string>, n_pieces int"
    )
