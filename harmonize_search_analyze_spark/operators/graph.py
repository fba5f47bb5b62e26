"""ES Graph explore (the ``_graph/explore`` API / Kibana Graph UI).

A two-wave co-occurrence spider over a text field: the seed query's
matching documents surface the first wave of vertices (most-connected
terms), then every document containing a wave-1 vertex is explored for
the connections it reveals (wave-2 targets + edge doc counts). This is
the ``use_significance: false`` mode of the API (edges weighted by raw
co-occurring-document count); significance-weighted vertex scoring is
the ``significant_text`` operator composed upstream. Deeper spiders are
successive calls seeded from the previous wave's vertices, exactly like
the REST API's repeated explore requests.

Pins (documented divergences-by-simplification from the ES plugin):
- the seed token itself is excluded from the vertex set (it trivially
  connects to everything in its own doc set);
- per-document term multiplicity is ignored (ES samples per-shard
  diversified doc sets; here every matching doc counts once — the
  batch-exact answer the oracle can replay).

Scale shape: one token explode (linear), wave-1 vertex set is
``size``-bounded and broadcast, per-doc edge fan-out is bounded by
|wave-1 terms in doc| x |doc tokens| — never all-pairs over the corpus.
The per-doc distinct-token frame is checkpointed once and read by all
three hops; the plan is otherwise one straight-line agg per hop.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from harmonize_search_analyze_spark.functions.caching import checkpoint, iterate
from harmonize_search_analyze_spark.functions.tokenize import split_tokens


def graph_explore(
    df: DataFrame,
    text_col: str,
    seed_term: str,
    *,
    id_col: str = "doc_id",
    size: int = 5,
    conn_size: int = 20,
    min_doc_count: int = 2,
) -> DataFrame:
    """Two-wave graph exploration from ``seed_term``. Returns the edge
    list (source, target, doc_count): source is a wave-1 vertex (top
    ``size`` terms co-occurring with the seed, by distinct-doc count),
    target a wave-2 discovery (not the seed, not a wave-1 vertex),
    doc_count the distinct documents containing both. Ordered
    (doc_count DESC, source ASC, target ASC), top ``conn_size``."""
    seed = seed_term.lower()
    # tok has FOUR consumers (seed_docs, v0, src, final); without a
    # materialization each re-runs the tokenize+explode. persist() was
    # MEASURED SLOWER in round 10 (1.9 s -> 2.6-3.0 s at sf0.1): a cached
    # subplan compiles without AQE coalescing, so each consumer pays
    # fixed full-width scans. A lazy checkpoint materializes the ~6 MB
    # token frame once and KEEPS AQE coalescing for every consumer.
    # The un-checkpointed plan measured slower on 4 cores (PERFORMANCE.md
    # decision 9).
    tok = checkpoint(df.where(F.col(text_col).isNotNull()).select(
        F.col(id_col).alias("__doc"),
        F.explode(F.array_distinct(split_tokens(text_col))).alias("term"),
    ))
    seed_docs = tok.where(F.col("term") == seed).select("__doc").distinct()
    v0 = (
        tok.join(seed_docs, "__doc")
        .where(F.col("term") != seed)
        .groupBy("term")
        .agg(F.count_distinct("__doc").alias("dc"))
        .orderBy(F.desc("dc"), F.asc("term"))
        .limit(size)
    )
    src = tok.join(
        F.broadcast(v0.select(F.col("term").alias("source"))),
        tok.term == F.col("source"),
    ).select("__doc", "source")
    return (
        tok.join(src, "__doc")
        .where((F.col("term") != F.col("source")) & (F.col("term") != seed))
        .join(
            F.broadcast(v0.select("term")), "term", "left_anti"
        )
        .groupBy("source", F.col("term").alias("target"))
        .agg(F.count_distinct("__doc").alias("doc_count"))
        .where(F.col("doc_count") >= min_doc_count)
        .orderBy(F.desc("doc_count"), F.asc("source"), F.asc("target"))
        .limit(conn_size)
    )


def graph_explore_sql(
    table: str,
    text_col: str,
    seed_term: str,
    dialect: str,
    *,
    id_col: str = "doc_id",
    size: int = 5,
    conn_size: int = 20,
    min_doc_count: int = 2,
) -> str:
    """Dual-dialect twin of :func:`graph_explore`."""
    from harmonize_search_analyze_spark.operators.text import tokens_sql

    toks = tokens_sql(text_col, dialect)
    if dialect == "spark":
        stream = f"explode(array_distinct({toks}))"
    else:
        stream = f"unnest(list_distinct({toks}))"
    seed = seed_term.lower().replace("'", "''")
    return f"""
WITH tok AS (
  SELECT {id_col} AS doc, {stream} AS term
  FROM {table} WHERE {text_col} IS NOT NULL
),
seed_docs AS (SELECT DISTINCT doc FROM tok WHERE term = '{seed}'),
v0 AS (
  SELECT term, COUNT(DISTINCT t.doc) AS dc
  FROM tok t JOIN seed_docs USING (doc)
  WHERE term <> '{seed}'
  GROUP BY term ORDER BY dc DESC, term ASC LIMIT {size}
),
src AS (
  SELECT t.doc, t.term AS source FROM tok t JOIN v0 ON t.term = v0.term
)
SELECT s.source, t.term AS target,
       CAST(COUNT(DISTINCT t.doc) AS BIGINT) AS doc_count
FROM tok t JOIN src s ON t.doc = s.doc
WHERE t.term <> s.source AND t.term <> '{seed}'
  AND t.term NOT IN (SELECT term FROM v0)
GROUP BY 1, 2
HAVING COUNT(DISTINCT t.doc) >= {min_doc_count}
ORDER BY doc_count DESC, source ASC, target ASC LIMIT {conn_size}
"""


def pagerank(
    edges: DataFrame,
    *,
    iters: int = 3,
    damping: float = 0.85,
    src_col: str = "src",
    dst_col: str = "dst",
    weight_col: str | None = None,
) -> DataFrame:
    """Fixed-iteration weighted PageRank — the crawl-graph centrality
    signal corpus-curation pipelines use for URL/domain quality (the
    CommonCrawl harmonic/PageRank ranking idea). A FIXED iteration
    count keeps the recursion unrollable: each iteration is one
    edges-to-ranks join + one dst agg + one dangling-mass scalar agg,
    so the whole run is a single deterministic Catalyst plan the SQL
    oracle replays CTE-for-CTE. Dangling mass (nodes with no
    out-edges) redistributes uniformly, the standard correction. At
    100 TB: ranks are node-sized (<< edges), the edges frame is scanned
    once per iteration — pre-partition edges by src. The rank frame is
    checkpointed on ``caching.iterate``'s fixed-loop cadence.
    Returns (node, rank) ordered (rank DESC, node ASC); ranks sum to 1.
    """
    w = (
        F.col(weight_col).cast("double")
        if weight_col
        else F.lit(1.0)
    )
    # edges are loop-invariant but referenced every unrolled iteration
    # (contrib join) — without truncating lineage Catalyst would
    # replay the whole edge-derivation subtree (often an expensive
    # co-occurrence self-join) every time. A checkpoint materializes
    # it once; measured 19.3s -> ~4s at sf0.1 on the co-occurrence gate.
    e = checkpoint(edges.select(
        F.col(src_col).alias("__s"),
        F.col(dst_col).alias("__t"),
        w.alias("__w"),
    ))
    # ONE pass + ONE shuffle builds the loop-invariant node frame WITH
    # each node's out-weight baked in (round-11 optimization pass; the
    # old shape was nodes = union+distinct, outw = a second groupBy, and
    # a per-iteration outw JOIN + a per-iteration LEFT ANTI join for the
    # dangling mass — three shuffles and two per-iteration joins that
    # need not exist, guide §2.4/§3). Src endpoints carry their edge
    # weight, dst endpoints a NULL: SUM() ignores NULLs, so a node with
    # no out-edges gets __ow NULL — exactly the old left-anti dangling
    # set, now a plain filter on the rank frame.
    base = checkpoint(
        e.select(
            F.explode(
                F.array(
                    F.struct(
                        F.col("__s").alias("node"), F.col("__w").alias("__wc")
                    ),
                    F.struct(
                        F.col("__t").alias("node"),
                        F.lit(None).cast("double").alias("__wc"),
                    ),
                )
            ).alias("__x")
        )
        .select("__x.node", "__x.__wc")
        .groupBy("node")
        .agg(F.sum("__wc").alias("__ow"))
    )
    nn = F.broadcast(base.agg(F.count(F.lit(1)).alias("__n")))

    def step(r: DataFrame) -> DataFrame:
        contrib = (
            e.join(r, e.__s == r.node)
            .groupBy("__t")
            .agg(F.sum(F.col("rank") * F.col("__w") / F.col("__ow")).alias("__c"))
        )
        dangling = F.broadcast(
            r.where(F.col("__ow").isNull())
            .agg(F.coalesce(F.sum("rank"), F.lit(0.0)).alias("__dang"))
        )
        return (
            base.crossJoin(nn)
            .crossJoin(dangling)
            .join(contrib, base.node == contrib.__t, "left")
            .select(
                "node",
                "__ow",
                (
                    (1.0 - damping) / F.col("__n")
                    + damping
                    * (
                        F.coalesce(F.col("__c"), F.lit(0.0))
                        + F.col("__dang") / F.col("__n")
                    )
                ).alias("rank"),
            )
        )

    r = iterate(
        base.crossJoin(nn).select(
            "node", "__ow", (F.lit(1.0) / F.col("__n")).alias("rank")
        ),
        step,
        iters,
    )
    return r.select("node", F.round("rank", 6).alias("rank")).orderBy(
        F.desc("rank"), F.asc("node")
    )


def pagerank_sql(
    edges_sql: str,
    dialect: str,
    *,
    iters: int = 3,
    damping: float = 0.85,
) -> str:
    """Dual-dialect twin of :func:`pagerank`. ``edges_sql`` yields
    (src, dst, w); the fixed iteration count unrolls to one CTE chain.
    """
    d = float(damping)
    ctes = [
        f"edges AS ({edges_sql})",
        "nodes AS (SELECT src AS node FROM edges"
        " UNION SELECT dst FROM edges)",
        "nn AS (SELECT COUNT(*) AS n FROM nodes)",
        "outw AS (SELECT src, SUM(w) AS ow FROM edges GROUP BY src)",
        "r0 AS (SELECT node, 1.0 / n AS rank FROM nodes CROSS JOIN nn)",
    ]
    for i in range(1, iters + 1):
        p = i - 1
        ctes.append(
            f"c{i} AS (SELECT e.dst AS node,"
            f" SUM(r.rank * e.w / o.ow) AS c"
            f" FROM edges e JOIN r{p} r ON e.src = r.node"
            f" JOIN outw o ON e.src = o.src GROUP BY e.dst)"
        )
        ctes.append(
            f"d{i} AS (SELECT COALESCE(SUM(rank), 0.0) AS dang"
            f" FROM r{p} WHERE node NOT IN (SELECT src FROM outw))"
        )
        ctes.append(
            f"r{i} AS (SELECT nodes.node,"
            f" (1.0 - CAST({d!r} AS DOUBLE)) / n"
            f" + CAST({d!r} AS DOUBLE) * (COALESCE(c.c, 0.0) + dang / n)"
            f" AS rank"
            f" FROM nodes CROSS JOIN nn CROSS JOIN d{i}"
            f" LEFT JOIN c{i} c ON nodes.node = c.node)"
        )
    return (
        "WITH " + ",\n".join(ctes)
        + f"\nSELECT node, ROUND(rank, 6) AS rank FROM r{iters}"
        " ORDER BY rank DESC, node ASC"
    )


def triangle_count(
    edges: DataFrame,
    *,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Global triangle census of an undirected graph — the classic
    MapReduce-era scale benchmark (Suri & Vassilvitskii's degree-ordered
    orientation), and the signal behind graph-quality curation metrics
    (clustering coefficient of a crawl/co-occurrence graph).

    Input is an edge LIST (either orientation, duplicates and self-loops
    tolerated): edges are canonicalized to ``u < v`` + distinct, so every
    undirected edge counts once. Returns ONE row: ``(n_vertices,
    n_edges, n_triangles, n_wedges, transitivity)`` where ``n_wedges`` =
    sum over vertices of C(deg, 2) (open + closed paths of length 2) and
    ``transitivity`` = 3 * triangles / wedges (the global clustering
    coefficient), rounded 6.

    Scale shape — the whole point of the operator: each edge is oriented
    from its lower-(degree, id) endpoint to the higher one, a total
    order, so every triangle is generated EXACTLY once from its
    lowest-degree corner and per-source join fan-out is bounded by
    O(sqrt(m)) out-degree (never a hub's full neighborhood — the
    all-pairs-per-vertex naive plan melts on power-law graphs). The
    wedge enumeration is one self-equi-join on the oriented source and
    the closure check one more equi-join. The degree joins carry NO
    broadcast hint on purpose: nodes << edges on this corpus so AQE
    promotes them to broadcast from runtime stats anyway, but at a
    web-graph edge list the node frame is billions of rows and a forced
    hint would OOM where the un-hinted plan degrades gracefully to a
    shuffled equi-join (VERDICT r5 "What's wrong" #2).
    """
    # the canonical edge frame feeds FIVE consumers (degree build, the
    # orientation join, the closure probe, and two summary counts) and
    # the degree frame four — checkpoint both or the (often expensive)
    # upstream edge derivation replays per consumer (no CSE across join
    # branches)
    e = checkpoint(
        edges.where(F.col(src_col) != F.col(dst_col))
        .select(
            F.least(F.col(src_col), F.col(dst_col)).alias("u"),
            F.greatest(F.col(src_col), F.col(dst_col)).alias("v"),
        )
        .distinct()
    )
    deg = checkpoint(
        e.select(F.col("u").alias("node"))
        .unionAll(e.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    du = deg.select(F.col("node").alias("u"), F.col("d").alias("du"))
    dv = deg.select(F.col("node").alias("v"), F.col("d").alias("dv"))
    with_deg = e.join(du, "u").join(dv, "v")
    u_first = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    # oriented has three readers: a lazy checkpoint computes it once
    # WITHOUT the SQL-cache AQE trap persist() has (LogicalRDD keeps the
    # parent partitioning; persist measured FLAT in round 10).
    # The un-checkpointed plan measured slower on 4 cores (PERFORMANCE.md
    # decision 9).
    oriented = checkpoint(with_deg.select(
        F.when(u_first, F.col("u")).otherwise(F.col("v")).alias("s"),
        F.when(u_first, F.col("v")).otherwise(F.col("u")).alias("t"),
        F.when(u_first, F.col("dv")).otherwise(F.col("du")).alias("td"),
    ))
    e1 = oriented.alias("e1")
    e2 = oriented.alias("e2")
    e3 = oriented.select(
        F.col("s").alias("ws"), F.col("t").alias("wt")
    ).alias("e3")
    wedges = e1.join(
        e2,
        (F.col("e1.s") == F.col("e2.s"))
        & (
            (F.col("e1.td") < F.col("e2.td"))
            | ((F.col("e1.td") == F.col("e2.td"))
               & (F.col("e1.t") < F.col("e2.t")))
        ),
    )
    tri = wedges.join(
        e3,
        (F.col("e1.t") == F.col("ws")) & (F.col("e2.t") == F.col("wt")),
    ).agg(F.count(F.lit(1)).alias("n_triangles"))
    wedge_total = deg.agg(
        F.sum(F.col("d") * (F.col("d") - 1) / 2).cast("bigint").alias(
            "n_wedges"
        )
    )
    summary = (
        deg.agg(F.count(F.lit(1)).alias("n_vertices"))
        .crossJoin(e.agg(F.count(F.lit(1)).alias("n_edges")))
        .crossJoin(tri)
        .crossJoin(wedge_total)
    )
    out = summary.select(
        F.col("n_vertices").cast("bigint"),
        F.col("n_edges").cast("bigint"),
        F.col("n_triangles").cast("bigint"),
        F.col("n_wedges").cast("bigint"),
        F.round(
            3.0 * F.col("n_triangles")
            / F.nullif(F.col("n_wedges").cast("double"), F.lit(0.0)),
            6,
        ).alias("transitivity"),
    )
    return out


def triangle_count_sql(edges_sql: str, dialect: str) -> str:
    """Dual-dialect twin of :func:`triangle_count`. ``edges_sql`` yields
    (src, dst) in either orientation; identical text runs on both
    engines (explicit boolean lexicographic compares — no row-value
    syntax)."""
    if dialect not in ("spark", "duckdb"):
        raise ValueError(f"unknown dialect: {dialect}")
    return f"""
WITH raw AS ({edges_sql}),
edges AS (
  SELECT DISTINCT LEAST(src, dst) AS u, GREATEST(src, dst) AS v
  FROM raw WHERE src <> dst
),
deg AS (
  SELECT node, COUNT(*) AS d FROM (
    SELECT u AS node FROM edges UNION ALL SELECT v AS node FROM edges
  ) both_ends GROUP BY node
),
oe AS (
  SELECT CASE WHEN du.d < dv.d OR (du.d = dv.d AND e.u < e.v)
              THEN e.u ELSE e.v END AS s,
         CASE WHEN du.d < dv.d OR (du.d = dv.d AND e.u < e.v)
              THEN e.v ELSE e.u END AS t,
         CASE WHEN du.d < dv.d OR (du.d = dv.d AND e.u < e.v)
              THEN dv.d ELSE du.d END AS td
  FROM edges e
  JOIN deg du ON e.u = du.node
  JOIN deg dv ON e.v = dv.node
),
tri AS (
  SELECT COUNT(*) AS n_triangles
  FROM oe e1
  JOIN oe e2 ON e1.s = e2.s
            AND (e1.td < e2.td OR (e1.td = e2.td AND e1.t < e2.t))
  JOIN oe e3 ON e3.s = e1.t AND e3.t = e2.t
),
wed AS (SELECT CAST(SUM(d * (d - 1) / 2) AS BIGINT) AS n_wedges FROM deg)
SELECT CAST((SELECT COUNT(*) FROM deg) AS BIGINT) AS n_vertices,
       CAST((SELECT COUNT(*) FROM edges) AS BIGINT) AS n_edges,
       CAST(n_triangles AS BIGINT) AS n_triangles,
       (SELECT n_wedges FROM wed) AS n_wedges,
       ROUND(3.0 * n_triangles
             / NULLIF(CAST((SELECT n_wedges FROM wed) AS DOUBLE), 0.0),
             6) AS transitivity
FROM tri
"""


def k_core(
    edges: DataFrame,
    *,
    k: int = 3,
    iters: int = 6,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """k-core decomposition by FIXED-ITERATION peeling: repeatedly drop
    vertices with degree < k and the edges they carry — the
    graph-quality core extractor (crawl-graph curation keeps the dense
    core, link-farm tendrils peel away). A fixed ``iters`` keeps the
    recursion unrollable and oracle-replayable (same pin as
    :func:`pagerank`); graphs whose peeling hasn't converged by then
    return the iters-times-peeled subgraph on BOTH engines identically,
    so the contract stays deterministic. Returns surviving
    ``(node, core_degree)`` ordered by node.

    Scale shape: each iteration is one degree agg + one two-sided
    semi-join of edges onto surviving nodes (no broadcast hint — AQE
    promotes the node frame from runtime stats when it is genuinely
    small; a forced hint OOMs on billion-node graphs where the
    un-hinted plan shuffles instead). The loop runs on
    ``caching.iterate`` with the edge count as its measure: the edge
    frame SHRINKS monotonically, so a level that drops no edge proves
    every remaining level is the identity and peeling stops there —
    exactly the iters-times-peeled subgraph the contract pins, without
    paying a degree agg + two joins + a checkpoint per no-op level.
    """
    if k < 1:
        raise ValueError("k must be >= 1")

    def peel(e: DataFrame) -> DataFrame:
        deg = (
            e.select(F.explode(F.array("u", "v")).alias("node"))
            .groupBy("node")
            .agg(F.count(F.lit(1)).alias("d"))
            .where(F.col("d") >= k)
        )
        nu = deg.select(F.col("node").alias("u"))
        nv = deg.select(F.col("node").alias("v"))
        return e.join(nu, "u").join(nv, "v").select("u", "v")

    e, _ = iterate(
        edges.where(F.col(src_col) != F.col(dst_col))
        .select(
            F.least(F.col(src_col), F.col(dst_col)).alias("u"),
            F.greatest(F.col(src_col), F.col(dst_col)).alias("v"),
        )
        .distinct(),
        peel,
        iters,
        F.count(F.lit(1)),
    )
    return (
        e.select(F.col("u").alias("node"))
        .unionAll(e.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("bigint").alias("core_degree"))
        .orderBy("node")
    )


def k_core_sql(
    edges_sql: str, dialect: str, *, k: int = 3, iters: int = 6
) -> str:
    """Dual-dialect twin of :func:`k_core`. DuckDB 1.0 INLINES chained
    CTEs, which re-evaluates this recursion tree exponentially — the
    duckdb dialect therefore pins every level ``AS MATERIALIZED``
    (measured: the inlined form never finishes at 6 levels; the
    materialized form runs in milliseconds). Spark's dialect omits the
    keyword (unsupported; the DataFrame path with its checkpoints is
    the production plan there)."""
    if dialect not in ("spark", "duckdb"):
        raise ValueError(f"unknown dialect: {dialect}")
    mat = " MATERIALIZED" if dialect == "duckdb" else ""
    ctes = [
        f"""e0 AS{mat} (
  SELECT DISTINCT LEAST(src, dst) AS u, GREATEST(src, dst) AS v
  FROM ({edges_sql}) raw WHERE src <> dst
)"""
    ]
    for i in range(1, iters + 1):
        p = i - 1
        ctes.append(
            f"d{i} AS{mat} (SELECT node FROM (SELECT u AS node FROM e{p}"
            f" UNION ALL SELECT v AS node FROM e{p}) t GROUP BY node"
            f" HAVING COUNT(*) >= {k})"
        )
        ctes.append(
            f"e{i} AS{mat} (SELECT e.u, e.v FROM e{p} e"
            f" JOIN d{i} x ON e.u = x.node JOIN d{i} y ON e.v = y.node)"
        )
    return (
        "WITH " + ",\n".join(ctes)
        + f"""
SELECT node, CAST(COUNT(*) AS BIGINT) AS core_degree
FROM (SELECT u AS node FROM e{iters}
      UNION ALL SELECT v AS node FROM e{iters}) t
GROUP BY node ORDER BY node
"""
    )


def hits_scores(
    edges: DataFrame,
    *,
    iters: int = 3,
    src_col: str = "src",
    dst_col: str = "dst",
    weight_col: str | None = None,
    top: int = 20,
) -> DataFrame:
    """Fixed-iteration HITS (Kleinberg 1999) — hubs point at good
    authorities, authorities are pointed at by good hubs; on a
    bipartite actor -> action graph the pair separates POWER USERS
    (high hub) from POPULAR ACTIONS (high authority), the two
    centralities PageRank's single score conflates. Each iteration is
    two edge-to-score joins + two L2 normalizations (1-row broadcast
    aggs); the FIXED count keeps the whole run one deterministic
    Catalyst plan the SQL oracle unrolls CTE-for-CTE (the
    :func:`pagerank` discipline). Returns the ``top`` nodes ordered
    (authority DESC, hub DESC, node ASC):
    ``(node, hub, authority)`` rounded 6; scoreless sides coalesce
    to 0.

    Scale shape: score frames are node-sized (<< edges); the edges
    frame localCheckpoints once and is scanned twice per iteration;
    per-iteration checkpoints keep plan depth flat exactly as in
    pagerank.
    """
    if iters < 1:
        raise ValueError("iters must be >= 1")
    w = (
        F.col(weight_col).cast("double")
        if weight_col
        else F.lit(1.0)
    )
    e = checkpoint(edges.select(
        F.col(src_col).alias("__s"),
        F.col(dst_col).alias("__t"),
        w.alias("__w"),
    ), eager=True)
    nodes = checkpoint(
        e.select(F.col("__s").alias("node"))
        .union(e.select(F.col("__t").alias("node")))
        .distinct(),
        eager=True,
    )
    a = nodes.select("node", F.lit(1.0).alias("score"))
    h = None
    for _ in range(iters):
        # checkpoint the RAW aggregate, not the normalized frame: the
        # norm broadcast and the normalized select both read it, and
        # without the materialization each reader replays the edges
        # join (2x the per-iteration join work — round-10 optimization
        # pass; no CSE across the crossJoin branches). The normalized
        # frame itself stays lazy: deriving it from the checkpointed
        # raw frame is a cached-scan + 1-row broadcast, cheap for both
        # of its consumers.
        # Round-11: the checkpoints are LAZY — the Catalyst plan still
        # truncates at each LogicalRDD (so analysis stays flat, unlike
        # the measured-worse no-checkpoint form) and each raw frame is
        # still persisted ONCE at first compute, but materialization
        # rides the consumers' own jobs instead of one eager action per
        # half-iteration (2*iters fewer job submissions per call).
        h_raw = checkpoint(
            e.join(a, e.__t == a.node)
            .groupBy("__s")
            .agg(F.sum(F.col("__w") * F.col("score")).alias("hs"))
        )
        hn = F.broadcast(
            h_raw.agg(
                F.sqrt(F.sum(F.col("hs") * F.col("hs"))).alias("__n")
            )
        )
        h = h_raw.crossJoin(hn).select(
            "__s", (F.col("hs") / F.col("__n")).alias("hs")
        )
        a_raw = checkpoint(
            e.join(h, "__s")
            .groupBy("__t")
            .agg(F.sum(F.col("__w") * F.col("hs")).alias("as_"))
        )
        an = F.broadcast(
            a_raw.agg(
                F.sqrt(F.sum(F.col("as_") * F.col("as_"))).alias("__n")
            )
        )
        a = a_raw.crossJoin(an).select(
            F.col("__t").alias("node"),
            (F.col("as_") / F.col("__n")).alias("score"),
        )
    out = (
        nodes.join(h, nodes.node == h.__s, "left")
        .join(a, "node", "left")
        .select(
            "node",
            F.round(F.coalesce("hs", F.lit(0.0)), 6).alias("hub"),
            F.round(F.coalesce("score", F.lit(0.0)), 6).alias(
                "authority"
            ),
        )
    )
    return out.orderBy(
        F.desc("authority"), F.desc("hub"), F.asc("node")
    ).limit(top)


def hits_scores_sql(
    edges_sql: str,
    dialect: str,
    *,
    iters: int = 3,
    top: int = 20,
) -> str:
    """Dual-dialect twin of :func:`hits_scores`. ``edges_sql`` yields
    (src, dst, w); the fixed iteration count unrolls to one CTE chain
    of per-iteration hub/authority aggs + scalar L2 norms."""
    if iters < 1:
        raise ValueError("iters must be >= 1")
    if dialect not in ("spark", "duckdb"):
        raise ValueError(f"unknown dialect: {dialect}")
    ctes = [
        f"edges AS ({edges_sql})",
        "nodes AS (SELECT src AS node FROM edges UNION"
        " SELECT dst AS node FROM edges)",
        "a0 AS (SELECT node, 1.0 AS s FROM nodes)",
    ]
    prev_a = "a0"
    h = None
    for i in range(1, iters + 1):
        ctes.append(
            f"h{i}r AS (SELECT e.src, SUM(e.w * a.s) AS s"
            f" FROM edges e JOIN {prev_a} a ON e.dst = a.node"
            f" GROUP BY e.src)"
        )
        ctes.append(
            f"h{i} AS (SELECT src, s / (SELECT SQRT(SUM(s * s))"
            f" FROM h{i}r) AS s FROM h{i}r)"
        )
        ctes.append(
            f"a{i}r AS (SELECT e.dst, SUM(e.w * h.s) AS s"
            f" FROM edges e JOIN h{i} h ON e.src = h.src"
            f" GROUP BY e.dst)"
        )
        ctes.append(
            f"a{i} AS (SELECT dst AS node, s / (SELECT SQRT(SUM(s * s))"
            f" FROM a{i}r) AS s FROM a{i}r)"
        )
        prev_a = f"a{i}"
        h = f"h{i}"
    body = ",\n".join(ctes)
    return f"""
WITH {body}
SELECT n.node,
       ROUND(COALESCE(h.s, 0.0), 6) AS hub,
       ROUND(COALESCE(a.s, 0.0), 6) AS authority
FROM nodes n
LEFT JOIN {h} h ON n.node = h.src
LEFT JOIN {prev_a} a ON n.node = a.node
ORDER BY authority DESC, hub DESC, n.node ASC
LIMIT {top}
"""
