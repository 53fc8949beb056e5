"""Pipeline runner — the engine's dbt-core replacement.

Reference analog: ``dbt build`` (reference ``README.md:59-63``) —
Jinja-compile models, topo-sort the ref()/source() DAG, materialize each
node as a view or table, run tests (SURVEY §3.1-3.2). Here a model is a
Python function returning a DataFrame; ``ref()`` is a registry lookup;
the DAG is explicit dependency lists; materialization is:

- ``view``  → ``createOrReplaceTempView`` — lazy, recomputed per query,
  inlined by Catalyst into consumers: the exact semantic of dbt's view
  materialization (``dbt_project.yml:38-39``).
- ``table`` → parquet write + re-register — forces computation once,
  like CTAS (``dbt_project.yml:40-41``). Supports ``partition_by`` for
  scale (month-partitioned fact ⇒ dynamic partition pruning downstream).
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field
from typing import Callable, Sequence

from pyspark.sql import DataFrame, SparkSession

from .dq import DQTest, DQResult, run_tests


@dataclass
class Model:
    name: str
    deps: tuple[str, ...]
    build: Callable[..., DataFrame]  # called with resolved dep DataFrames, in order
    # 'view' | 'table' | 'ephemeral' | 'incremental' | 'incremental_merge'
    materialization: str = "view"
    partition_by: tuple[str, ...] = ()
    unique_key: tuple[str, ...] = ()  # incremental_merge upsert key


@dataclass
class PipelineRunner:
    """Tiny topo-sort executor over ``{model: (deps, fn, materialization)}``."""

    spark: SparkSession
    warehouse_dir: str
    models: dict[str, Model] = field(default_factory=dict)
    sources: dict[str, DataFrame] = field(default_factory=dict)
    built: dict[str, DataFrame] = field(default_factory=dict)

    def add_source(self, name: str, df: DataFrame) -> None:
        self.sources[name] = df

    def add_model(self, model: Model) -> None:
        self.models[model.name] = model

    def ref(self, name: str) -> DataFrame:
        """dbt ``ref()``/``source()`` — resolve a built model or source."""
        if name in self.built:
            return self.built[name]
        if name in self.sources:
            return self.sources[name]
        raise KeyError(f"unresolved ref {name!r} (not built yet or unknown)")

    def _topo_order(self) -> list[str]:
        order: list[str] = []
        seen: set[str] = set()
        visiting: set[str] = set()

        def visit(name: str) -> None:
            if name in seen or name in self.sources:
                return
            if name in visiting:
                raise ValueError(f"cycle at {name}")
            visiting.add(name)
            for d in self.models[name].deps:
                visit(d)
            visiting.discard(name)
            seen.add(name)
            order.append(name)

        for name in self.models:
            visit(name)
        return order

    def _read_back(self, model: Model, df: DataFrame, path: str) -> DataFrame:
        """Register the table just written at ``path``, read with the
        written frame's schema. Spark moves partition columns last and
        makes every field nullable, which gives the schema parquet
        inference finds at ``path`` without its job."""
        out = self.spark.read.schema(df.schema).parquet(path)
        out.createOrReplaceTempView(model.name)
        return out

    def _materialize(self, model: Model, df: DataFrame) -> DataFrame:
        if model.materialization == "view":
            df.createOrReplaceTempView(model.name)
            return df
        if model.materialization == "ephemeral":
            return df  # inlined only; not addressable by SQL (dbt ephemeral)
        if model.materialization == "table":
            path = os.path.join(self.warehouse_dir, model.name)
            writer = df.write.mode("overwrite").format("parquet")
            if model.partition_by:
                writer = writer.partitionBy(*model.partition_by)
            writer.save(path)
            return self._read_back(model, df, path)
        if model.materialization == "incremental":
            # dbt's insert_overwrite incremental strategy: the build fn
            # returns only the NEW slice; dynamic partition overwrite
            # replaces exactly the partitions present in that slice and
            # leaves the rest of the table untouched. At 100 TB this is
            # the difference between rewriting a month and rewriting
            # three years.
            if not model.partition_by:
                raise ValueError(
                    f"incremental model {model.name!r} requires partition_by"
                )
            path = os.path.join(self.warehouse_dir, model.name)
            (
                df.write.mode("overwrite")
                .format("parquet")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy(*model.partition_by)
                .save(path)
            )
            return self._read_back(model, df, path)
        if model.materialization == "incremental_merge":
            # dbt's merge incremental strategy: the build fn returns the
            # new/changed slice; rows whose unique_key matches are
            # replaced, everything else is kept. On raw parquet this is
            # anti-join + union + atomic directory swap; on a
            # transactional table format (Delta/Iceberg) the same plan
            # is a native MERGE INTO — the join shape (broadcast the
            # small new-key set against the big table) is identical.
            if not model.unique_key:
                raise ValueError(
                    f"incremental_merge model {model.name!r} requires unique_key"
                )
            path = os.path.join(self.warehouse_dir, model.name)
            keys = list(model.unique_key)
            if os.path.exists(path):
                import shutil

                existing = self.spark.read.parquet(path)
                merged = existing.join(
                    df.select(*keys).distinct(), keys, "left_anti"
                ).unionByName(df)
                tmp = path + "__merge_tmp"
                merged.write.mode("overwrite").format("parquet").save(tmp)
                shutil.rmtree(path)
                os.rename(tmp, path)
            else:
                df.write.mode("overwrite").format("parquet").save(path)
            return self._read_back(model, df, path)
        raise ValueError(f"unknown materialization {model.materialization!r}")

    def _select(self, selectors: Sequence[str]) -> set[str]:
        """dbt node-selection: ``m`` (just m), ``+m`` (m and ancestors),
        ``m+`` (m and descendants), ``+m+`` (both). Union over selectors."""
        children: dict[str, set[str]] = {}
        for m in self.models.values():
            for d in m.deps:
                children.setdefault(d, set()).add(m.name)
        chosen: set[str] = set()

        def walk(start: str, edges) -> None:
            stack = [start]
            while stack:
                n = stack.pop()
                for nxt in edges(n):
                    if nxt in self.models and nxt not in chosen:
                        chosen.add(nxt)
                        stack.append(nxt)

        for sel in selectors:
            up, down = sel.startswith("+"), sel.endswith("+")
            name = sel.strip("+")
            if name not in self.models:
                raise KeyError(f"unknown model in selector {sel!r}")
            chosen.add(name)
            if up:
                walk(name, lambda n: self.models[n].deps)
            if down:
                walk(name, lambda n: children.get(n, ()))
        return chosen

    def run(self, select: str | Sequence[str] | None = None) -> dict[str, DataFrame]:
        """``dbt run [-s selector ...]``: build models in dependency
        order. ``select`` takes dbt graph-selector syntax (``+m``, ``m+``,
        a bare name, or a list — unioned). A selected model whose
        upstream is neither selected nor already built fails with the
        unresolved-ref error, matching dbt's relation-not-found when an
        excluded parent was never materialized — select ``+m`` to pull
        ancestors in."""
        from ..cache import cache_scope

        names = self._topo_order()
        if select is not None:
            selectors = [select] if isinstance(select, str) else list(select)
            chosen = self._select(selectors)
            names = [n for n in names if n in chosen]
        for name in names:
            m = self.models[name]
            # one cache scope per node (r10 registry): any operator
            # persists the node's build registers are dropped once the
            # node is materialized — table/incremental nodes have
            # written their parquet by then, and view nodes re-read
            # sources lazily, so nothing downstream needs them.
            with cache_scope():
                df = m.build(*[self.ref(d) for d in m.deps])
                self.built[name] = self._materialize(m, df)
        return dict(self.built)

    def manifest(self) -> dict:
        """The dbt ``manifest.json`` analog: the compiled DAG as plain
        data — nodes (materialization, deps, partitioning, and the
        resolved output schema once built), sources, and edges. This is
        the artifact downstream tooling consumes (PipeRider reads dbt's
        manifest to find models and metrics, SURVEY §3.3); ours is
        engine-native and JSON-serializable.
        """
        def schema_of(name: str):
            df = self.built.get(name) or self.sources.get(name)
            if df is None:
                return None
            return [{"name": f.name, "type": f.dataType.simpleString()}
                    for f in df.schema.fields]

        return {
            "sources": {n: {"schema": schema_of(n)} for n in self.sources},
            "nodes": {
                m.name: {
                    "depends_on": list(m.deps),
                    "materialization": m.materialization,
                    "partition_by": list(m.partition_by),
                    "unique_key": list(m.unique_key),
                    "built": m.name in self.built,
                    "schema": schema_of(m.name),
                }
                for m in self.models.values()
            },
            "edges": [
                {"from": d, "to": m.name}
                for m in self.models.values()
                for d in m.deps
            ],
        }

    def test(
        self,
        tests: Sequence[DQTest],
        raise_on_error: bool = True,
        store_failures: bool = False,
    ) -> list[DQResult]:
        """``dbt test``: run data-quality tests against built models.
        ``store_failures`` writes each test's violating rows under
        ``{warehouse_dir}/dq_failures/{test.name}`` (dbt
        ``--store-failures``)."""
        universe = {**self.sources, **self.built}
        store_dir = (
            os.path.join(self.warehouse_dir, "dq_failures") if store_failures else None
        )
        return run_tests(
            universe, tests, raise_on_error=raise_on_error,
            store_failures_dir=store_dir,
        )

    def build(
        self,
        tests: Sequence[DQTest] = (),
        raise_on_error: bool = True,
        store_failures: bool = False,
    ):
        """``dbt build`` = run + test (README.md:59-63)."""
        built = self.run()
        results = (
            self.test(tests, raise_on_error=raise_on_error, store_failures=store_failures)
            if tests
            else []
        )
        return built, results
