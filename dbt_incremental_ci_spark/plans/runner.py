"""DAG runner + materializations — the engine's ``dbt build`` analogue.

Semantics mirror the reference's lifecycle (SURVEY §3.1): topo-order the
model DAG, materialize each node per its config, run tests as
zero-row assertions. The key Spark-first difference: *views are not
warehouse objects* — a "view" model stays a Catalyst logical plan that
downstream models inline (exactly how PG inlines views into mart
queries), so staging/intermediate tiers add zero materialization cost
and Catalyst optimizes across tier boundaries (filter pushdown through
the whole stack).

Tables/incremental models persist via ``saveAsTable`` into a Spark
database (= the reference's target schema, ref SRC/copier.py:38-64).
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field
from datetime import date
from typing import Any

from pyspark.sql import DataFrame, SparkSession

from dbt_incremental_ci_spark.incremental.merge import incremental_upsert
from dbt_incremental_ci_spark.plans.dag import topo_sort
from dbt_incremental_ci_spark.plans.registry import Model, ModelRegistry


@dataclass
class RunResult:
    name: str
    status: str  # success | error | test_failed | skipped
    materialized: str
    seconds: float
    error: str | None = None
    violations: int | None = None


class Context:
    """Passed to every model builder: ``ref``/``source`` resolution plus
    the frozen clock (SURVEY §4 'deterministic time')."""

    def __init__(self, engine: "Engine") -> None:
        self.spark = engine.spark
        self.run_date: date = engine.run_date
        self._engine = engine

    def ref(self, name: str) -> DataFrame:
        return self._engine.resolve(name)

    def source(self, name: str) -> DataFrame:
        return self._engine.resolve_source(name)

    def this(self, model_name: str) -> DataFrame | None:
        """Existing materialization of *model_name* (dbt ``{{ this }}``),
        or None on first run."""
        return self._engine.read_table(model_name)


class Engine:
    """Materializes a ModelRegistry into a Spark database."""

    def __init__(
        self,
        spark: SparkSession,
        registry: ModelRegistry,
        schema: str = "analytics",
        sources: dict[str, DataFrame] | None = None,
        run_date: date | None = None,
    ) -> None:
        self.spark = spark
        self.registry = registry
        self.schema = schema
        self.sources = dict(sources or {})
        self.run_date = run_date or date(2026, 1, 1)
        self._views: dict[str, DataFrame] = {}
        spark.sql(f"CREATE DATABASE IF NOT EXISTS {schema}")

    # -- resolution ---------------------------------------------------
    def qualified(self, model_name: str) -> str:
        m = self.registry.get(model_name) if model_name in self.registry else None
        sch = self.schema if m is None or m.schema is None else f"{self.schema}_{m.schema}"
        return f"{sch}.{model_name}"

    def resolve_source(self, name: str) -> DataFrame:
        if name in self.sources:
            return self.sources[name]
        raise KeyError(f"unknown source: {name}")

    def resolve(self, name: str) -> DataFrame:
        """ref(): inline logical plan for view/ephemeral models, catalog
        table for persisted ones."""
        if name in self._views:
            return self._views[name]
        if name in self.sources:
            return self.sources[name]
        qualified = self.qualified(name)
        if self.spark.catalog.tableExists(qualified):
            return self.spark.table(qualified)
        raise KeyError(f"model {name} not yet built (DAG order violated?)")

    def read_table(self, model_name: str) -> DataFrame | None:
        qualified = self.qualified(model_name)
        if self.spark.catalog.tableExists(qualified):
            return self.spark.table(qualified)
        return None

    # -- build --------------------------------------------------------
    def _build_df(self, m: Model) -> DataFrame:
        out = m.builder(Context(self))
        if isinstance(out, str):  # SQL-string models are first-class
            out = self.spark.sql(out)
        return out

    def _materialize(self, m: Model, df: DataFrame) -> int | None:
        if m.resource_type == "test":
            return df.limit(1001).count()  # violations (cap the scan)
        if m.materialized in ("view", "ephemeral"):
            self._views[m.name] = df
            df.createOrReplaceTempView(m.name)  # also queryable via SQL
            return None
        qualified = self.qualified(m.name)
        sch = qualified.split(".")[0]
        self.spark.sql(f"CREATE DATABASE IF NOT EXISTS {sch}")
        if m.materialized == "snapshot" or m.resource_type == "snapshot":
            from datetime import datetime as _dt

            from dbt_incremental_ci_spark.incremental.snapshot import snapshot

            snapshot(
                self.spark,
                qualified,
                df,
                unique_key=m.unique_key or df.columns[0],
                run_ts=_dt.combine(self.run_date, _dt.min.time()),
            )
            return None
        if m.materialized == "table" or m.resource_type == "seed":
            writer = df.write.mode("overwrite").format("parquet")
            if m.partition_by:
                writer = writer.partitionBy(*m.partition_by)
            writer.saveAsTable(qualified)
            return None
        if m.materialized == "incremental":
            if m.watermark_col is not None:
                # dbt is_incremental() guard: on later runs only rows past
                # the target's max watermark are processed (SURVEY §2.11
                # I1/I2; `>=` variants re-read boundary rows, absorbed by
                # the unique-key upsert).
                from dbt_incremental_ci_spark.incremental.merge import (
                    read_watermark,
                    watermark_filter,
                )

                wm = read_watermark(self.spark, qualified, m.watermark_col)
                df = watermark_filter(df, m.watermark_col, wm, strict=m.watermark_strict)
            incremental_upsert(
                self.spark,
                qualified,
                df,
                unique_key=m.unique_key,
                on_schema_change=m.on_schema_change,
                partition_by=m.partition_by or None,
            )
            return None
        raise ValueError(f"unknown materialization: {m.materialized}")

    def run(self, select: list[str] | None = None) -> list[RunResult]:
        order = topo_sort(self.registry.parent_map())
        selected = set(select) if select is not None else None
        results: list[RunResult] = []
        failed: set[str] = set()
        for name in order:
            if name not in self.registry:
                continue  # dependency that is a source, not a model
            m = self.registry.get(name)
            if selected is not None and name not in selected:
                continue
            if any(d in failed for d in m.deps):
                failed.add(name)
                results.append(RunResult(name, "skipped", m.materialized, 0.0))
                continue
            t0 = time.time()
            try:
                df = self._build_df(m)
                violations = self._materialize(m, df)
            except Exception as e:  # noqa: BLE001 — reported per-node like dbt
                failed.add(name)
                results.append(
                    RunResult(name, "error", m.materialized, time.time() - t0, error=str(e))
                )
                continue
            if m.resource_type == "test" and violations:
                failed.add(name)
                results.append(
                    RunResult(
                        name, "test_failed", m.materialized, time.time() - t0,
                        violations=violations,
                    )
                )
            else:
                results.append(
                    RunResult(name, "success", m.materialized, time.time() - t0,
                              violations=violations)
                )
        return results
