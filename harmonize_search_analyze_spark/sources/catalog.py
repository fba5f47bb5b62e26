"""Dataset catalog with ES-style wildcard "index patterns".

The reference unifies heterogeneous per-city datasets not by joining but by
indexing each into its own ES index (``<city>_harmonized``/``<city>_dictionary``)
and querying wildcard patterns ``*harmonized*`` / ``*dictionary*``
(``services/webapp/src/config.js:16,22``). Per-city schemas differ (Baltimore
has ``weapon``, LA has ``gang_related``), and ES transparently treats missing
fields as null.

Spark-native equivalent: a registry of named DataFrames; pattern resolution
globs the names and folds the matches with
``unionByName(allowMissingColumns=True)`` — the exact "loosely coupled union"
semantics, with missing columns null-padded. Catalyst pushes any later filter
into each branch of the union, so per-dataset Parquet pruning still applies.

Also carries the reference's sink/lifecycle surface (esindex.py:53-139
``createOrReplaceIndex``/``deleteIndex``/``saveToEs``) re-expressed as
register/drop/save-parquet, and the notebook's ``saveAsParquetTable``
(``harmonizeCrimeIncidents.py:408-422``) including the external-DDL export.
"""

from __future__ import annotations

import fnmatch
from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from harmonize_search_analyze_spark.sources.tables import local_frame


class Catalog:
    """In-session registry: name -> DataFrame, with wildcard union."""

    def __init__(self, spark: SparkSession):
        self.spark = spark
        self._datasets: dict[str, DataFrame] = {}
        self._aliases: dict[str, tuple[str, dict | None]] = {}
        self._enrich: dict[str, tuple[DataFrame, str, list[str]]] = {}
        self._inference: dict[str, dict] = {}

    # -- enrich policies (ES .enrich-* materialized indexes) ---------------
    def register_enrich(
        self,
        name: str,
        df: DataFrame,
        *,
        match_field: str,
        enrich_fields: list[str] | None = None,
    ) -> None:
        """ES enrich policy: a small lookup frame keyed by
        ``match_field`` whose ``enrich_fields`` (default: every other
        column) are added to documents by the ES|QL ``ENRICH`` command.
        ES materializes the policy into a ``.enrich-*`` system index on
        execute; here the registered frame IS the materialization —
        broadcast-sized by the same contract that makes ES enrich
        viable."""
        if match_field not in df.columns:
            raise ValueError(
                f"match_field {match_field!r} not in policy columns"
            )
        if enrich_fields is None:
            enrich_fields = [c for c in df.columns if c != match_field]
        missing = [c for c in enrich_fields if c not in df.columns]
        if missing:
            raise ValueError(f"enrich fields not in policy: {missing}")
        self._enrich[name] = (df, match_field, list(enrich_fields))

    def enrich_policy(self, name: str) -> tuple[DataFrame, str, list[str]]:
        return self._enrich[name]

    # -- inference endpoints (the ES _inference API registry) --------------
    def register_inference(self, inference_id: str, model: dict) -> None:
        """ES inference endpoint: the id ES|QL ``RERANK``/``COMPLETION``
        name in their WITH clause. ``model`` is the endpoint config:
        ``task_type`` must be ``rerank`` or ``completion``. A neural
        re-ranker/LLM cannot run in this engine; the supported model
        types are the deterministic stand-ins (``term_overlap`` rerank,
        ``echo_template`` completion) — the command plumbing (parse,
        column wiring, scoring shape) is real, the model is honestly
        pinned, and anything else raises with guidance (same contract
        as the multimodal decode gates)."""
        task = model.get("task_type")
        if task not in ("rerank", "completion"):
            raise ValueError(
                f"inference task_type must be rerank or completion, "
                f"got {task!r}"
            )
        self._inference[inference_id] = dict(model)

    def inference_endpoint(self, inference_id: str) -> dict:
        if inference_id not in self._inference:
            raise KeyError(
                f"unknown inference endpoint {inference_id!r} — "
                "register it with Catalog.register_inference"
            )
        return self._inference[inference_id]


    # -- index lifecycle (esindex.py:53-114 equivalents) -------------------
    def register(self, name: str, df: DataFrame) -> None:
        """createOrReplaceIndex: idempotent (re)registration."""
        if name in self._aliases:
            raise ValueError(f"name {name!r} is taken by an alias")
        self._datasets[name] = df

    def drop(self, pattern: str = "*") -> list[str]:
        """deleteIndex(index='*'): drop every dataset matching the pattern."""
        victims = self.resolve_names(pattern)
        for name in victims:
            del self._datasets[name]
        return victims

    def names(self) -> list[str]:
        return sorted(self._datasets)

    def mget(
        self, pattern: str, ids: list, *, id_col: str = "doc_id"
    ) -> DataFrame:
        """ES ``_mget``: fetch documents by id from the indices matching
        ``pattern``. Compiles to one sargable IN-list filter over the
        resolved union — at scale the id list prunes row groups via
        parquet min/max stats, the multi-get never becomes N point
        queries."""
        if not ids:
            raise ValueError("mget needs at least one id")
        return self.resolve(pattern).where(F.col(id_col).isin(list(ids)))

    # -- pattern resolution (config.js:16,22 wildcard semantics) -----------
    def resolve_names(self, pattern: str) -> list[str]:
        return sorted(n for n in self._datasets if fnmatch.fnmatchcase(n, pattern))

    def resolve(self, pattern: str, *, _seen: set | None = None) -> DataFrame:
        """Union every dataset matching an index pattern, by column name,
        null-padding columns a member lacks (ES multi-index semantics).
        An alias name resolves through its target pattern (cycles raise),
        applying the alias filter when one was attached."""
        if pattern in self._aliases:
            target, filter_ast = self._aliases[pattern]
            if _seen is None:
                _seen = set()
            if pattern in _seen:
                raise ValueError(
                    f"alias cycle detected resolving {pattern!r}"
                )
            _seen.add(pattern)
            df = self.resolve(target, _seen=_seen)
            if filter_ast is not None:
                from harmonize_search_analyze_spark.plans.compiler import (
                    compile_query,
                )

                df = df.where(compile_query(filter_ast))
            return df
        names = self.resolve_names(pattern)
        if not names:
            raise KeyError(f"no datasets match index pattern {pattern!r}")
        frames = [self._datasets[n] for n in names]
        return reduce(
            lambda a, b: a.unionByName(b, allowMissingColumns=True), frames
        )

    # -- index aliases (the ES _aliases API surface) -----------------------
    def create_alias(
        self, alias: str, target: str, *, filter: dict | None = None
    ) -> None:
        """ES index alias: a stable name over an index pattern, optionally
        FILTERED (ES's filtered alias — e.g. a per-tenant slice). The
        alias resolves lazily: indices registered after alias creation
        that match the target pattern are included, exactly like ES.
        The filter is a query-DSL AST compiled by ``plans.compiler`` —
        pushed into each union branch by Catalyst, so member-level
        parquet pruning survives the aliasing."""
        if alias in self._datasets:
            raise ValueError(f"alias {alias!r} collides with a dataset name")
        self._aliases[alias] = (target, filter)

    def drop_alias(self, alias: str) -> None:
        del self._aliases[alias]

    def aliases(self) -> dict[str, str]:
        """alias -> target pattern (filters not shown)."""
        return {a: t for a, (t, _f) in sorted(self._aliases.items())}

    def field_caps(self, pattern: str = "*") -> DataFrame:
        """ES ``_field_caps`` API: per-field capabilities across every
        index matching the pattern — the field's type per index, whether
        the type is consistent (ES reports conflicting fields with one
        entry per type + the index lists), and ES's searchable /
        aggregatable flags (here: every present field is searchable;
        aggregatable maps to "not a nested array/struct", mirroring
        doc_values availability).

        Pure catalog metadata — schemas only, NO data scan at any corpus
        size. Returns (field, type, indices ARRAY<STRING>, searchable,
        aggregatable, is_conflict), ordered (field, type)."""
        names = self.resolve_names(pattern)
        by_field: dict[str, dict[str, list[str]]] = {}
        aggable: dict[tuple[str, str], bool] = {}
        for n in names:
            for f in self._datasets[n].schema.fields:
                t = f.dataType.simpleString()
                by_field.setdefault(f.name, {}).setdefault(t, []).append(n)
                aggable[(f.name, t)] = not t.startswith(
                    ("array", "struct", "map")
                )
        rows = [
            (
                field,
                t,
                sorted(idxs),
                True,
                aggable[(field, t)],
                len(types) > 1,
            )
            for field, types in sorted(by_field.items())
            for t, idxs in sorted(types.items())
        ]
        return local_frame(
            self.spark,
            rows,
            "field string, type string, indices array<string>, "
            "searchable boolean, aggregatable boolean, is_conflict boolean",
        )

    def cat_indices(self, pattern: str = "*") -> DataFrame:
        """ES ``_cat/indices`` API: one row per matching index with its
        doc count, field count, and alias list — the admin listing every
        ES operator reads first. Unlike ``field_caps`` this scans for
        counts, but as ONE union of metadata-only count aggregates: each
        index contributes a count(*) (column-pruned to nothing by
        Catalyst — parquet answers from footer statistics), unioned into
        a single small plan, never collected per-index in a driver loop.
        Returns (index, docs BIGINT, fields INT, aliases ARRAY<STRING>),
        ordered by index name."""
        names = self.resolve_names(pattern)
        if not names:
            return local_frame(
                self.spark,
                [],
                "index string, docs bigint, fields int, "
                "aliases array<string>",
            )
        alias_of: dict[str, list[str]] = {}
        for a, (t, _f) in self._aliases.items():
            alias_of.setdefault(t, []).append(a)
        parts = []
        for n in names:
            df = self._datasets[n]
            parts.append(
                df.agg(F.count(F.lit(1)).cast("bigint").alias("docs"))
                .select(
                    F.lit(n).alias("index"),
                    "docs",
                    F.lit(len(df.schema.fields)).cast("int").alias(
                        "fields"
                    ),
                    F.array(
                        *[F.lit(a) for a in sorted(alias_of.get(n, []))]
                    ).cast("array<string>").alias("aliases"),
                )
            )
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out.orderBy("index")

    def compile_with_lookups(self, query: dict, *, now=None):
        """Compile a query AST after resolving ES ``terms`` LOOKUPS —
        ``{"terms": {field: {"index": ..., "id": ..., "path": ...}}}``
        fetches the value list from document ``id`` of a registered
        index (matched on its ``id`` column by convention, ``path``
        naming the list-bearing column) and substitutes a plain terms
        list before compilation.

        The fetch is ONE driver-side row per lookup (the justified
        metadata collect — ES itself fetches the lookup doc on the
        coordinating node); the substituted query then compiles to the
        ordinary sargable IN-list predicate."""
        from pyspark.sql import functions as _F

        from harmonize_search_analyze_spark.plans.compiler import (
            compile_query,
        )

        def resolve(node):
            if isinstance(node, list):
                return [resolve(n) for n in node]
            if not isinstance(node, dict):
                return node
            if "terms" in node and isinstance(node["terms"], dict):
                body = node["terms"]
                if len(body) == 1:
                    (field, spec), = body.items()
                    if isinstance(spec, dict) and "index" in spec:
                        src = self.resolve(spec["index"])
                        rows = (
                            src.where(
                                _F.col("id") == _F.lit(spec["id"])
                            )
                            .select(spec["path"])
                            .limit(2)
                            .collect()
                        )
                        if not rows:
                            raise ValueError(
                                f"terms lookup doc {spec['id']!r} not "
                                f"found in {spec['index']!r}"
                            )
                        if len(rows) > 1:
                            # a silent limit(1) would pick a partition-
                            # order-dependent document
                            raise ValueError(
                                f"terms lookup id {spec['id']!r} is "
                                f"ambiguous in {spec['index']!r}"
                            )
                        vals = rows[0][0] or []
                        return {"terms": {field: list(vals)}}
            return {k: resolve(v) for k, v in node.items()}

        return compile_query(resolve(query), now=now)

    # -- document-level index management (ES _reindex / _update_by_query /
    # _delete_by_query / rollover) -----------------------------------------
    def reindex(
        self,
        source_pattern: str,
        dest: str,
        *,
        query: dict | None = None,
        pipeline: list[dict] | None = None,
    ) -> int:
        """ES ``_reindex``: copy the documents matching ``query`` from
        every index matching ``source_pattern`` into ``dest``, optionally
        through an ingest pipeline (the same processor-list format
        ``operators.ingest_pipeline.run_pipeline`` executes — exactly
        ES's ``dest.pipeline`` parameter). Lazy/relational: the
        destination is the TRANSFORMED PLAN, so Catalyst fuses
        filter+pipeline into the eventual scan; the returned doc count is
        the only materialization this call performs."""
        df = self.resolve(source_pattern)
        if query is not None:
            from harmonize_search_analyze_spark.plans.compiler import (
                compile_query,
            )

            df = df.where(compile_query(query))
        if pipeline:
            from harmonize_search_analyze_spark.operators.ingest_pipeline import (  # noqa: E501
                run_pipeline,
            )

            df = run_pipeline(df, pipeline)
        self.register(dest, df)
        return df.count()

    def update_by_query(
        self, name: str, query: dict, set_exprs: dict[str, str]
    ) -> int:
        """ES ``_update_by_query`` with a script: re-register ``name``
        with ``set_exprs`` (column -> restricted SQL expression, the
        engine's painless mapping) applied to the rows matching
        ``query``; other rows pass through unchanged — one conditional
        projection, no per-row mutation machinery. Returns the matched
        count."""
        from pyspark.sql import functions as _F

        from harmonize_search_analyze_spark.plans.compiler import (
            compile_query,
        )

        df = self._datasets[name]
        pred = compile_query(query)
        out = df
        for col, expr in set_exprs.items():
            prev = (
                _F.col(col) if col in df.columns else _F.lit(None)
            )
            out = out.withColumn(
                col, _F.when(pred, _F.expr(expr)).otherwise(prev)
            )
        self._datasets[name] = out
        return df.where(pred).count()

    def delete_by_query(self, name: str, query: dict) -> int:
        """ES ``_delete_by_query``: re-register ``name`` without the rows
        matching ``query`` (an anti-filter — deletion in a relational
        engine is exclusion from the plan). Returns the deleted count."""
        from harmonize_search_analyze_spark.plans.compiler import (
            compile_query,
        )

        df = self._datasets[name]
        pred = compile_query(query)
        deleted = df.where(pred).count()
        self._datasets[name] = df.where(~pred)
        return deleted

    def rollover(
        self, alias: str, *, max_docs: int
    ) -> tuple[str, bool]:
        """ES ILM-style ``_rollover``: when the alias's CURRENT write
        index holds >= ``max_docs`` documents, create the next
        ``<base>-NNNNNN`` generation (empty, same schema) and repoint the
        alias at it. Returns (write_index_name, rolled). The alias must
        target a single concrete index (the ES rollover contract)."""
        if alias not in self._aliases:
            raise ValueError(f"unknown alias: {alias!r}")
        target, filter_ast = self._aliases[alias]
        if filter_ast is not None:
            raise ValueError("cannot roll over a filtered alias")
        if target not in self._datasets:
            raise ValueError(
                "rollover alias must point at one concrete index"
            )
        cur = self._datasets[target]
        if cur.count() < max_docs:
            return target, False
        base, _, gen = target.rpartition("-")
        if base and gen.isdigit():
            nxt = f"{base}-{int(gen) + 1:06d}"
        else:
            nxt = f"{target}-000002"
        self.register(nxt, cur.limit(0))
        self._aliases[alias] = (nxt, None)
        return nxt, True

    # -- schema (database) DDL (S4: Baltimore-notebook.ipynb:893-899) ------
    def create_schema(self, name: str, comment: str = "") -> None:
        """``CREATE SCHEMA`` with optional comment (idempotent). The comment
        is escaped (quote-doubled), not interpolated raw — a comment
        containing ``'`` must not break (or inject into) the DDL."""
        c = " COMMENT '" + comment.replace("'", "''") + "'" if comment else ""
        self.spark.sql(f"CREATE SCHEMA IF NOT EXISTS {name}{c}")

    def drop_schema(self, name: str, cascade: bool = True) -> None:
        """``DROP SCHEMA IF EXISTS ... CASCADE``."""
        self.spark.sql(
            f"DROP SCHEMA IF EXISTS {name}{' CASCADE' if cascade else ''}"
        )

    # -- persistence (harmonizeCrimeIncidents.py:408-422) ------------------
    def save_parquet(
        self,
        df: DataFrame,
        path: str,
        partition_by: list[str] | None = None,
        *,
        bloom_filter_ndv: dict[str, int] | None = None,
        bloom_max_bytes: int = 64 * 1024,
        sort_within_partitions: list[str] | None = None,
    ) -> None:
        """Parquet sink, overwrite mode. ``partition_by`` (e.g. city/year)
        buys partition pruning for the dashboard's global time filter.

        Scan-side skipping levers for 100 TB point lookups:

        - ``bloom_filter_ndv`` ({column: expected distinct values})
          writes parquet bloom filters so an equality probe on a
          high-cardinality key (doc_id, user_id, url hash) can skip row
          groups min-max stats can't discriminate. MEASURED quirk of
          the bundled parquet-java: the per-column
          ``parquet.bloom.filter.enabled#col`` toggle is ignored (via
          writer options AND hadoop conf), so enabling is GLOBAL — the
          listed columns get right-sized filters from their NDV and
          ``bloom_max_bytes`` caps every other column's filter so the
          global toggle can't bloat the file (parquet's default cap is
          1 MB per column chunk).
        - ``sort_within_partitions`` clusters rows per file WITHOUT a
          shuffle so min-max column indexes actually discriminate —
          the cheap cousin of ``layout.zorder_cluster`` (which range-
          partitions first for multi-column locality).
        """
        if sort_within_partitions:
            df = df.sortWithinPartitions(*sort_within_partitions)
        writer = df.write.mode("overwrite")
        if bloom_filter_ndv:
            writer = writer.option("parquet.bloom.filter.enabled", "true")
            writer = writer.option(
                "parquet.bloom.filter.max.bytes", str(int(bloom_max_bytes))
            )
            for col, ndv in bloom_filter_ndv.items():
                writer = writer.option(
                    f"parquet.bloom.filter.expected.ndv#{col}", str(int(ndv))
                )
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(path)

    def save_bucketed(
        self,
        df: DataFrame,
        table: str,
        buckets: int,
        by: str | list[str],
        sort_by: str | list[str] | None = None,
        path: str | None = None,
    ) -> None:
        """Bucketed parquet table: pre-partitions rows by hash(``by``) into
        ``buckets`` files per partition so equi-joins and aggregations on the
        bucket key run WITHOUT an exchange (both sides read co-located).
        The 100 TB answer to 'this join shuffles the fact table every query':
        pay the shuffle once at write time. Same-bucket-count tables join
        shuffle-free; ``sort_by`` additionally removes the sort from
        sort-merge joins."""
        by = [by] if isinstance(by, str) else by
        writer = df.write.mode("overwrite").format("parquet").bucketBy(
            buckets, *by
        )
        if sort_by:
            sort_by = [sort_by] if isinstance(sort_by, str) else sort_by
            writer = writer.sortBy(*sort_by)
        if path:
            writer = writer.option("path", path)
        writer.saveAsTable(table)

    def save_as_table(
        self, df: DataFrame, table: str, path: str | None = None
    ) -> str:
        """saveAsParquetTable: persist as a metastore table and return its
        DDL (the reference regex-rewrote SHOW CREATE TABLE into Athena DDL;
        we return Spark's own DDL text — an external catalog can adapt it)."""
        writer = df.write.mode("overwrite").format("parquet")
        if path:
            writer = writer.option("path", path)
        writer.saveAsTable(table)
        return self.spark.sql(f"SHOW CREATE TABLE {table}").collect()[0][0]
