#!/usr/bin/env python
"""Matched-slot A/B harness for round-11 optimization experiments.

Runs variant callables ALTERNATING inside ONE Spark session (A B A B ...),
timing each to full materialization (count), and reports per-variant mins
and medians — the only comparison that survives the documented ±8-10%
session-to-session drift (OPTIMIZATION_r10 method note).

Each experiment registers variants as monkeypatches of operator-module
attributes; declared queries pick them up because they import operator
functions at call time. Usage:

    python scripts/ab_r11.py <experiment> [trials_per_variant=4]

Experiments are defined in EXPERIMENTS below.
"""

from __future__ import annotations

import gc
import statistics
import sys
import time

sys.path.insert(0, "/root/repo")

import __spark_entry__ as entrymod
from harmonize_search_analyze_spark.session import get_spark

SF_DIR = "/root/testdata/sf0.1"


def _time_query(spark, name: str) -> float:
    qfn = entrymod.queries()[name]
    spark.sparkContext.setJobDescription(f"ab:{name}")
    t0 = time.perf_counter()
    qfn(spark, SF_DIR).count()
    dt = time.perf_counter() - t0
    spark.sparkContext.setJobDescription(None)
    spark.catalog.clearCache()
    gc.collect()
    return dt


def run(spark, query: str, variants: dict, trials: int) -> None:
    results: dict[str, list[float]] = {v: [] for v in variants}
    order = list(variants) * trials
    # warmup once with the first variant
    setup = variants[order[0]]
    setup()
    _time_query(spark, query)
    for v in order:
        variants[v]()
        results[v].append(_time_query(spark, query))
    print(f"\n== {query} ({trials} trials/variant, alternating) ==")
    for v, ts in results.items():
        print(
            f"  {v:14s} min={min(ts):.3f} med={statistics.median(ts):.3f} "
            f"all={[round(t, 3) for t in ts]}"
        )


# -- experiment definitions --------------------------------------------------

def exp_kcenter(spark, trials):
    import harmonize_search_analyze_spark.operators.similarity as sim

    src = None

    def lazy():
        pass  # current code (eager=False)

    def eager():
        pass

    # patch by flipping a module-level knob we thread through kcenter
    orig = sim.kcenter_select

    def make(eager_flag):
        def patched(df, id_col, vec_col, *, k=8):
            import pyspark.sql.functions as F
            from harmonize_search_analyze_spark.sources.tables import (
                local_frame,
            )

            if k < 1:
                raise ValueError("k must be >= 1")
            vecs = df.where(F.col(vec_col).isNotNull()).select(
                id_col, F.col(vec_col).cast("array<double>").alias("dvec")
            )
            seed = sim.kcenter_seed(df, id_col, vec_col).collect()[0]
            picked = [(0, seed[0], float(seed[1]))]
            spark_ = df.sparkSession
            state = vecs.withColumn("mind", F.lit(float("inf")))
            for rank in range(1, k):
                center = vecs.where(
                    F.col(id_col) == picked[-1][1]
                ).select(F.col("dvec").alias("cvec"))
                d2 = F.expr(
                    "aggregate(zip_with(dvec, cvec, (a, b) -> (a - b) * (a - b)),"
                    " CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)"
                )
                state = (
                    state.crossJoin(F.broadcast(center))
                    .withColumn("mind", F.least(F.col("mind"), d2))
                    .drop("cvec")
                    .localCheckpoint(eager=eager_flag)
                )
                nxt = (
                    state.where(~F.col(id_col).isin([p[1] for p in picked]))
                    .orderBy(F.desc("mind"), F.asc(id_col))
                    .limit(1)
                    .collect()
                )
                if not nxt:
                    break
                picked.append(
                    (rank, nxt[0][0], round(float(nxt[0]["mind"]), 6))
                )
            return local_frame(
                spark_, picked, f"rank INT, {id_col} LONG, d2 DOUBLE"
            )

        return patched

    run(
        spark,
        "kcenter_select",
        {
            "lazy": lambda: setattr(sim, "kcenter_select", make(False)),
            "eager": lambda: setattr(sim, "kcenter_select", make(True)),
        },
        trials,
    )
    sim.kcenter_select = orig


def exp_noop(spark, trials):
    """Drift probe: same code twice — spread is pure session noise."""
    run(spark, sys.argv[3], {"a": lambda: None, "b": lambda: None}, trials)


EXPERIMENTS = {
    "kcenter": exp_kcenter,
    "noop": exp_noop,
}



def exp_spread(spark, trials):
    """A/B the q-level spread=True adoption: variant 'nospread' wraps
    entrymod._t to ignore spread kwargs; 'spread' is current code."""
    orig_t = entrymod._t

    def t_nospread(spark_, sf_dir, name, **kw):
        kw.pop("spread", None)
        return orig_t(spark_, sf_dir, name, **kw)

    for q in sys.argv[3:]:
        run(
            spark,
            q,
            {
                "spread": lambda: setattr(entrymod, "_t", orig_t),
                "nospread": lambda: setattr(entrymod, "_t", t_nospread),
            },
            trials,
        )
    entrymod._t = orig_t


EXPERIMENTS["spread"] = exp_spread


def exp_cc(spark, trials):
    """A/B connected_components checkpoint cadence (1 = round-10 shape)."""
    import harmonize_search_analyze_spark.operators.dedup as dd

    for q in sys.argv[3:]:
        run(
            spark,
            q,
            {
                "cadence2": lambda: setattr(dd, "_CC_CADENCE", 2),
                "cadence1": lambda: setattr(dd, "_CC_CADENCE", 1),
            },
            trials,
        )
    dd._CC_CADENCE = 2


EXPERIMENTS["cc"] = exp_cc


def exp_tri(spark, trials):
    import harmonize_search_analyze_spark.operators.graph as gr

    run(
        spark,
        "triangle_count",
        {
            "ckpt": lambda: setattr(gr, "_TRI_ORIENTED_CKPT", True),
            "nockpt": lambda: setattr(gr, "_TRI_ORIENTED_CKPT", False),
        },
        trials,
    )
    gr._TRI_ORIENTED_CKPT = True


EXPERIMENTS["tri"] = exp_tri


def exp_spearman(spark, trials):
    """A/B spearman's lazy shared bounds frame vs the r10 eager
    sample_boundaries collect."""
    import pyspark.sql.functions as F

    import harmonize_search_analyze_spark.operators.analytics as an
    from harmonize_search_analyze_spark.functions.caching import tether
    from harmonize_search_analyze_spark.operators.ordering import (
        prefix_sums,
        sample_boundaries,
    )

    new = an.spearman_corr

    def old(df, x_expr, y_expr):
        x = F.expr(x_expr).cast("double")
        y = F.expr(y_expr).cast("double")
        base = (
            df.where(x.isNotNull() & y.isNotNull())
            .select(x.alias("__x"), y.alias("__y"))
            .persist()
        )
        bounds = sample_boundaries(base, ["__x", "__y"])

        def _ranks(col):
            counts = base.groupBy(col).agg(F.count(F.lit(1)).alias("__c"))
            return prefix_sums(
                counts, [col], {"__c": "__cum"}, boundaries=bounds[col]
            ).select(
                col,
                (
                    F.col("__cum") - F.col("__c") + (F.col("__c") + 1) / 2.0
                ).alias(f"__r{col[-1]}"),
            )

        ranked = tether(
            base.join(_ranks("__x"), "__x").join(_ranks("__y"), "__y"),
            base,
        )
        rho = F.try_divide(
            F.covar_pop("__rx", "__ry"),
            F.stddev_pop("__rx") * F.stddev_pop("__ry"),
        )
        return ranked.agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            (F.round(rho, 6) + F.lit(0.0)).alias("rho"),
        )

    run(
        spark,
        "spearman_corr",
        {
            "lazy": lambda: setattr(an, "spearman_corr", new),
            "eager": lambda: setattr(an, "spearman_corr", old),
        },
        trials,
    )
    an.spearman_corr = new


EXPERIMENTS["spearman"] = exp_spearman


#: generic boolean-knob A/B: exp name -> (module path, flag, query names)
_FLAG_EXPS = {
    "dsir": ("harmonize_search_analyze_spark.operators.dsir",
             "_DSIR_EAGER", ["dsir_sample"]),
    "getok": ("harmonize_search_analyze_spark.operators.graph",
              "_GE_TOK_CKPT", ["graph_explore"]),
    "llr": ("harmonize_search_analyze_spark.operators.text",
            "_LLR_WINDOW_MARGINS", ["llr_collocations"]),
    "smallframe": ("harmonize_search_analyze_spark.operators.similarity",
                   "_SMALL_FRAME_ONE_SLICE",
                   ["kmeans_ivf", "pq_search_ivf", "similarity_join_ivf"]),
    "lazybounds": ("harmonize_search_analyze_spark.operators.ordering",
                   "_LAZY_BOUNDS",
                   ["lorenz_gini", "weighted_percentile", "kruskal_wallis",
                    "mann_whitney", "roc_auc", "rfm_segments", "heaps_law",
                    "negative_sampling", "global_order", "pareto_front"]),
}


def _make_flag_exp(modpath, flag, queries):
    def exp(spark, trials):
        import importlib

        mod = importlib.import_module(modpath)
        qs = sys.argv[3:] or queries
        for q in qs:
            run(
                spark,
                q,
                {
                    "on": lambda: setattr(mod, flag, True),
                    "off": lambda: setattr(mod, flag, False),
                },
                trials,
            )
        setattr(mod, flag, True)

    return exp


for _name, (_m, _f, _qs) in _FLAG_EXPS.items():
    EXPERIMENTS[_name] = _make_flag_exp(_m, _f, _qs)


def main():
    exp = sys.argv[1]
    trials = int(sys.argv[2]) if len(sys.argv) > 2 else 4
    spark = get_spark()
    EXPERIMENTS[exp](spark, trials)


if __name__ == "__main__":
    main()
