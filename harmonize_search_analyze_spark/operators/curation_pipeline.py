"""Data-driven corpus-curation pipelines (the Dolma/datatrove/CCNet
pipeline shape): an ordered stage list, declared as JSON, composed over
the engine's gated curation primitives.

Training-data pipelines are conventionally declared as configuration —
Dolma's taggers+filters YAML, datatrove's pipeline lists, CCNet's stage
chain. This module is the engine's equivalent of that config surface,
sitting beside the other two spec loaders (Kibana saved objects, ES
ingest pipelines):

    {"lang_filter":    {"keep": ["en", "de"]}}
    {"quality_filter": {"min_score": 0.5}}
    {"length_filter":  {"min_chars": 100, "max_chars": 20000}}
    {"clean":          {}}                      # C4 text normalization
    {"pii_redact":     {}}                      # [EMAIL]/[SSN]/[PHONE]/[IP]
    {"exact_dedup":    {}}                      # keep min-id per digest
    {"line_dedup":     {"min_line_chars": 10}}  # corpus-wide line dedup
    {"sample":         {"fraction": 0.1, "seed": 42}}

Every stage compiles from ONE dual-dialect fragment generator
(`_stage_predicate` / the dedup window), so ``run_corpus_pipeline`` (the
Spark execution) and ``corpus_pipeline_sql`` (the DuckDB oracle) cannot
drift — the same property the per-operator `_sql` twins have, lifted to
whole pipelines.

Scale: filter/sample stages are sargable map-only predicates that fuse
into the scan in declaration order; ``clean`` is a map-only projection;
``exact_dedup`` is the single wide stage (one digest-keyed window,
min-id winner — the same keep-first contract as dedup.exact_dedup but
row-preserving). A pipeline of k filters + dedup + sample is therefore
scan -> fused filters -> one exchange -> fused filters, at any corpus
size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from harmonize_search_analyze_spark.functions.caching import checkpoint
from harmonize_search_analyze_spark.operators.curation import clean_text_sql
from harmonize_search_analyze_spark.operators.sampling import (
    HASH_BUCKETS,
    sample_hash_sql,
)
from harmonize_search_analyze_spark.operators.text import (
    lang_id_sql,
    quality_score_sql,
)


def _q(s: str) -> str:
    return "'" + s.replace("'", "''") + "'"


def _stage_predicate(
    kind: str, cfg: dict, text_col: str, dialect: str, id_col: str
) -> str | None:
    """The boolean fragment of a filter-shaped stage (None for stages
    that are not plain predicates)."""
    if kind == "lang_filter":
        keep = cfg["keep"]
        if not keep:
            raise ValueError("lang_filter.keep must be non-empty")
        lst = ", ".join(_q(lang) for lang in keep)
        return f"({lang_id_sql(text_col, dialect)}) IN ({lst})"
    if kind == "quality_filter":
        lo = float(cfg["min_score"])
        return f"({quality_score_sql(text_col, dialect)}) >= {lo!r}"
    if kind == "length_filter":
        lo = int(cfg.get("min_chars", 0))
        hi = int(cfg.get("max_chars", 2**31 - 1))
        return (
            f"(length({text_col}) >= {lo} AND length({text_col}) <= {hi})"
        )
    if kind == "script_filter":
        # keep documents whose given unicode-script ratio clears the
        # floor (multilingual routing: {"script_filter": {"script":
        # "latin", "min_ratio": 0.9}}) — shares text.script_ratios_sql
        from harmonize_search_analyze_spark.operators.text import (
            script_ratios_sql,
        )

        ratios = script_ratios_sql(text_col, dialect)
        script = cfg["script"]
        if script not in ratios:
            raise ValueError(
                f"unknown script {script!r}; one of {sorted(ratios)}"
            )
        lo = float(cfg.get("min_ratio", 0.5))
        return f"({ratios[script]}) >= {lo!r}"
    if kind == "fertility_filter":
        # drop documents whose BPE-ish fertility (pieces/word) exceeds
        # the cap — the standard tokenizer-budget guard
        from harmonize_search_analyze_spark.operators.text import (
            bpe_ish_token_count_sql,
            token_count_sql,
        )

        hi = float(cfg["max_fertility"])
        w = token_count_sql(text_col, dialect)
        p_ = bpe_ish_token_count_sql(text_col, dialect)
        return (
            f"({w}) > 0 AND CAST({p_} AS DOUBLE) / ({w}) <= {hi!r}"
        )
    if kind == "sample":
        frac = float(cfg["fraction"])
        if not 0.0 <= frac <= 1.0:
            raise ValueError(f"fraction must be in [0, 1], got {frac}")
        seed = int(cfg.get("seed", 42))
        thr = int(frac * HASH_BUCKETS)
        key = cfg.get("key", id_col)  # default: the PIPELINE's id column
        return f"({sample_hash_sql(key, dialect, seed=seed)}) < {thr}"
    return None


def _digest_sql(text_col: str) -> str:
    # identical text both dialects: md5 of the case/whitespace-normalized
    # body (dedup.exact_dedup's digest)
    return f"md5(lower(trim({text_col})))"


def run_corpus_pipeline(
    df: DataFrame,
    stages: list[dict],
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Execute a curation-pipeline spec over a corpus frame."""
    out = df.where(F.col(text_col).isNotNull())
    for stage in stages:
        if len(stage) != 1:
            raise ValueError("each stage must be a single {kind: config}")
        (kind, cfg), = stage.items()
        if kind == "lang_filter":
            # Same predicate the SQL fragment declares — (lang_id) IN
            # keep, lang_id never NULL — but computed via the STAGED
            # projection (text.with_lang_id): the inlined fragment
            # re-derives the token array inside every CASE reference
            # (~40 interpreted HOF evaluations per row; round-11
            # optimization pass, guide §1.2). Values identical; the
            # DuckDB oracle keeps the shared fragment.
            from harmonize_search_analyze_spark.operators.text import (
                with_lang_id,
            )

            keep = cfg["keep"]
            if not keep:
                raise ValueError("lang_filter.keep must be non-empty")
            out = with_lang_id(out, text_col, "__lang_pred_staged")
            out = out.where(
                F.col("__lang_pred_staged").isin(list(keep))
            ).drop("__lang_pred_staged")
            continue
        pred = _stage_predicate(kind, cfg, text_col, "spark", id_col)
        if pred is not None:
            out = out.where(F.expr(pred))
            continue
        if kind == "clean":
            out = out.withColumn(
                text_col, F.expr(clean_text_sql(text_col, "spark"))
            )
        elif kind == "pii_redact":
            from harmonize_search_analyze_spark.operators.curation import (
                redact_pii_sql,
            )

            out = out.withColumn(
                text_col, F.expr(redact_pii_sql(text_col, "spark"))
            )
        elif kind == "line_dedup":
            from harmonize_search_analyze_spark.operators.dedup import (
                line_dedup,
            )

            # `out` feeds BOTH the line-dedup derivation and the join's
            # left side; without materialization the whole upstream
            # filter/redact chain executes twice (profiled: two
            # duplicate 1.26 s single-task stages at sf0.1 — no CSE
            # across join branches, round 11). A checkpoint (not
            # persist) keeps AQE coalescing for the consumers.
            out = checkpoint(out)
            ld = line_dedup(
                out.select(id_col, text_col),
                id_col,
                text_col,
                min_line_chars=int(cfg.get("min_line_chars", 10)),
            ).select(id_col, text_col)
            out = out.drop(text_col).join(ld, id_col)
        elif kind == "exact_dedup":
            w = Window.partitionBy(
                F.expr(_digest_sql(text_col))
            ).orderBy(F.asc(id_col))
            out = (
                out.withColumn("__rn", F.row_number().over(w))
                .where(F.col("__rn") == 1)
                .drop("__rn")
            )
        else:
            raise ValueError(f"unknown curation stage: {kind!r}")
    return out


def corpus_pipeline_sql(
    table: str,
    stages: list[dict],
    columns: list[str],
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> str:
    """DuckDB oracle twin: the same stages as chained CTEs, built from
    the SAME fragment generators as the Spark path.

    ``columns`` must enumerate EVERY column of ``table`` — the
    text-transform stages (clean / pii_redact / line_dedup) re-project
    the frame from this list, so a column omitted here is unavailable to
    later stages on the SQL side while the Spark path (which carries the
    whole frame) would still see it. Narrow the OUTPUT by wrapping this
    SQL in an outer SELECT, not by shortening ``columns``."""
    if text_col not in columns or id_col not in columns:
        raise ValueError(
            "columns must list every column of the table, including "
            f"{id_col!r} and {text_col!r} (narrow output by wrapping "
            "the generated SQL instead)"
        )
    cols = ", ".join(columns)
    ctes = [f"s0 AS (SELECT * FROM {table} WHERE {text_col} IS NOT NULL)"]
    cur = "s0"
    for i, stage in enumerate(stages, start=1):
        (kind, cfg), = stage.items()
        name = f"s{i}"
        pred = _stage_predicate(kind, cfg, text_col, "duckdb", id_col)
        if pred is not None:
            ctes.append(
                f"{name} AS (SELECT * FROM {cur} WHERE {pred})"
            )
        elif kind in ("clean", "pii_redact"):
            if kind == "clean":
                repl = clean_text_sql(text_col, "duckdb")
            else:
                from harmonize_search_analyze_spark.operators.curation import (  # noqa: E501
                    redact_pii_sql,
                )

                repl = redact_pii_sql(text_col, "duckdb")
            others = ", ".join(
                c for c in columns if c != text_col
            )
            sel = (others + ", ") if others else ""
            ctes.append(
                f"{name} AS (SELECT {sel}"
                f"{repl} AS {text_col}"
                f" FROM {cur})"
            )
        elif kind == "line_dedup":
            from harmonize_search_analyze_spark.operators.dedup import (
                line_dedup_sql,
            )

            inner = line_dedup_sql(
                cur,
                id_col,
                text_col,
                min_line_chars=int(cfg.get("min_line_chars", 10)),
            )
            others = ", ".join(
                f"o.{c}" for c in columns if c != text_col
            )
            sel = (others + ", ") if others else ""
            ctes.append(
                f"{name} AS (SELECT {sel}ld.{text_col} AS {text_col}"
                f" FROM {cur} o JOIN ({inner}) ld"
                f" ON o.{id_col} = ld.{id_col})"
            )
        elif kind == "exact_dedup":
            ctes.append(
                f"{name} AS (SELECT * EXCLUDE (__rn) FROM ("
                f"SELECT *, ROW_NUMBER() OVER ("
                f"PARTITION BY {_digest_sql(text_col)}"
                f" ORDER BY {id_col} ASC) AS __rn FROM {cur}"
                ") WHERE __rn = 1)"
            )
        else:
            raise ValueError(f"unknown curation stage: {kind!r}")
        cur = name
    return (
        "WITH " + ",\n".join(ctes)
        + f"\nSELECT {cols} FROM {cur} ORDER BY {id_col}"
    )
