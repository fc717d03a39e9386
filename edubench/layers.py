"""Per-layer metrics of the traced run.

:func:`install` puts span wrappers on the engine's public entry points
(in this process only); :func:`layer_metrics` turns the recorded spans,
the per-unit counters and the Spark event log into the per-layer
metrics. Times and counts are per timed unit (the median over the
traced units), except the ``edu.*`` and ``session.*`` set-up figures.
"""

from __future__ import annotations

import os

from harness import Harness, dir_stats, median
from spans import EventLog, Span, busy_seconds, self_seconds
from wl_queries import QUERY_NAMES

LAYERS = ["plans", "incremental", "ci", "workload"]
KINDS = ["view", "table", "test", "seed", "incremental"]


def _node_kind(m) -> str:
    if m.resource_type in ("seed", "test"):
        return m.resource_type
    return m.materialized


def _critical_path(parents: dict[str, list[str]], seconds: dict[str, float]) -> float:
    """Longest dependency chain of node times over the nodes that ran."""
    memo: dict[str, float] = {}

    def longest(n: str) -> float:
        if n not in memo:
            memo[n] = seconds[n] + max(
                (longest(p) for p in parents.get(n, []) if p in seconds), default=0.0
            )
        return memo[n]

    return max((longest(n) for n in seconds), default=0.0)


def _table_files(path: str) -> dict[str, frozenset[str]]:
    """Data files of a table directory, keyed by partition directory."""
    out: dict[str, frozenset[str]] = {}
    for dirpath, _, names in os.walk(path):
        files = frozenset(n for n in names if not n.startswith((".", "_")))
        if files:
            out[os.path.relpath(dirpath, path)] = files
    return out


def install(h: Harness, query_names: list[str]) -> None:
    """Wrap the layers' public functions with span recorders."""
    import pyarrow.parquet as pq

    from dbt_incremental_ci_spark.ci import copier, core
    from dbt_incremental_ci_spark.edu import fixtures
    from dbt_incremental_ci_spark.incremental import merge
    from dbt_incremental_ci_spark.plans import registry, runner

    t = h.tracer

    def engine_run(engine, *args, **kwargs):
        def done(span: Span, results) -> None:
            secs = {r.name: r.seconds for r in results}
            by_kind = {k: 0.0 for k in KINDS}
            for r in results:
                by_kind[_node_kind(engine.registry.get(r.name))] += r.seconds
            span.attrs.update(
                by_kind=by_kind,
                nodes=len(results),
                failed=sum(r.status != "success" for r in results),
                slowest=max(secs.values(), default=0.0),
                critical=_critical_path(engine.registry.parent_map(), secs),
            )
        return done

    def upsert(spark, qualified, *args, **kwargs):
        path = h.table_dir(qualified)
        before = _table_files(path)

        def done(span: Span, _result) -> None:
            after = _table_files(path)
            files = [os.path.join(path, p, f) for p, fs in after.items() for f in fs]
            span.attrs.update(
                rewritten=sum(before.get(p) != fs for p, fs in after.items())
                + sum(p not in after for p in before),
                files_after=len(files),
                bytes_after=sum(os.path.getsize(f) for f in files),
                rows_after=sum(pq.read_metadata(f).num_rows for f in files),
            )
        return done

    def slim_ci(*args, **kwargs):
        def done(span: Span, result) -> None:
            copied = [c for c in result.copies if c.status == "copied"]
            span.attrs.update(
                modified=len(result.modified),
                copied=len(copied),
                copy_bytes=sum(dir_stats(h.table_dir(c.target))[1] for c in copied),
            )
        return done

    t.wrap(fixtures, "generate_raw_edu", "edu.fixtures")
    t.wrap(fixtures, "to_spark", "edu.to_spark")
    t.wrap(runner.Engine, "run", "plans.run", engine_run)
    t.wrap(merge, "read_watermark", "incremental.watermark")
    t.wrap(runner, "incremental_upsert", "incremental.upsert", upsert)
    t.wrap(registry.ModelRegistry, "fingerprints", "ci.fingerprints")
    t.wrap(core, "modified_plus", "ci.detect")
    t.wrap(core.SlimCI, "filter_incremental_and_snapshots", "ci.filter")
    t.wrap(copier.TableCopier, "copy_tables", "ci.copy")
    t.wrap(core.SlimCI, "run", "ci.slim_ci", slim_ci)
    if query_names:
        from dbt_incremental_ci_spark import workload

        for name in query_names:
            t.wrap(workload.QUERIES, name, "workload.plan")


class _Units:
    """The span tree, with the Spark jobs each subtree launched."""

    def __init__(self, h: Harness, log: EventLog, spans: list[Span]) -> None:
        self.h, self.log = h, log
        self.children: dict[int, list[Span]] = {}
        for s in spans:
            if s.parent is not None:
                self.children.setdefault(s.parent, []).append(s)

    def subtree(self, s: Span) -> list[Span]:
        out, todo = [], [s]
        while todo:
            cur = todo.pop()
            out.append(cur)
            todo.extend(self.children.get(cur.id, []))
        return out

    def jobs(self, roots: list[Span]):
        groups = {self.h.tracer.group_id(x) for r in roots for x in self.subtree(r)}
        seen, out = set(), []
        for r in roots:
            for j in self.log.jobs_for(groups, r.start, r.end):
                if j.id not in seen:
                    seen.add(j.id)
                    out.append(j)
        return out


def layer_metrics(h: Harness, log: EventLog, units: list[tuple[Span, float]],
                  edu_source_rows: int) -> dict[str, float]:
    """*units* holds each traced unit's span and its timed seconds."""
    spans = h.tracer.spans
    selfs = self_seconds(spans)
    view = _Units(h, log, spans)
    per_unit: list[dict[str, float]] = []
    for unit_span, timed in units:
        mine = [s for s in spans if s.unit == unit_span.unit]
        named = lambda n: [s for s in mine if s.name == n]  # noqa: E731
        total = lambda n: sum(s.seconds for s in named(n))  # noqa: E731
        attr = lambda n, k: sum(s.attrs.get(k, 0) for s in named(n))  # noqa: E731
        counts = h.tracer.counts.get(unit_span.unit, {})
        m: dict[str, float] = {}

        runs = named("plans.run")
        for k in KINDS:
            m[f"plans.{k}_s"] = sum(s.attrs["by_kind"][k] for s in runs)
        m["plans.nodes"] = attr("plans.run", "nodes")
        m["plans.nodes_failed"] = attr("plans.run", "failed")
        m["plans.slowest_node_s"] = max((s.attrs["slowest"] for s in runs), default=0.0)
        m["plans.critical_path_s"] = attr("plans.run", "critical")
        run_wall = sum(s.seconds for s in runs)
        busy = sum(busy_seconds(log.tasks_of(view.jobs([s])), s.start, s.end) for s in runs)
        m["plans.no_task_frac"] = 1.0 - busy / run_wall if run_wall else 0.0
        run_jobs = view.jobs(runs)
        run_tasks = log.tasks_of(run_jobs)
        m["plans.jobs"] = len(run_jobs)
        m["plans.stages"] = len({t.stage for t in run_tasks})
        m["plans.tasks"] = len(run_tasks)

        ups = named("incremental.upsert")
        written = sum(t.output_bytes for t in log.tasks_of(view.jobs(ups)))
        rows_in = counts.get("incremental.rows_in", 0)
        rows_after = attr("incremental.upsert", "rows_after")
        bytes_per_row = attr("incremental.upsert", "bytes_after") / rows_after if rows_after else 0.0
        m["incremental.watermark_s"] = total("incremental.watermark")
        m["incremental.upsert_s"] = total("incremental.upsert")
        m["incremental.rows_in"] = rows_in
        m["incremental.bytes_written"] = written
        m["incremental.write_amp"] = (
            written / (rows_in * bytes_per_row) if rows_in and bytes_per_row else 0.0
        )
        m["incremental.files_after"] = attr("incremental.upsert", "files_after")
        m["incremental.partitions_rewritten"] = attr("incremental.upsert", "rewritten")
        m["incremental.partitions_needed"] = counts.get("incremental.partitions_needed", 0)

        m["ci.fingerprint_s"] = total("ci.fingerprints")
        m["ci.detect_s"] = total("ci.detect")
        m["ci.filter_s"] = total("ci.filter")
        m["ci.copy_s"] = total("ci.copy")
        m["ci.modified"] = attr("ci.slim_ci", "modified")
        m["ci.tables_copied"] = attr("ci.slim_ci", "copied")
        m["ci.copy_bytes"] = attr("ci.slim_ci", "copy_bytes")
        m["ci.copy_ratio"] = m["ci.tables_copied"] / m["ci.modified"] if m["ci.modified"] else 0.0

        m["workload.plan_s"] = total("workload.plan")
        m["workload.exec_s"] = total("workload.exec")
        for q in QUERY_NAMES:
            m[f"query.{q}_s"] = total(f"query.{q}")

        jobs = view.jobs([unit_span])
        tasks = log.tasks_of(jobs)
        task_s = sum(t.finish - t.launch for t in tasks)
        m["spark.jobs"] = len(jobs)
        m["spark.tasks"] = len(tasks)
        m["spark.task_s"] = task_s
        m["spark.gc_s"] = sum(t.gc_s for t in tasks)
        m["spark.busy_frac"] = task_s / (timed * h.cpus) if timed else 0.0
        m["spark.input_mb"] = sum(t.input_bytes for t in tasks) / 1e6
        m["spark.output_mb"] = sum(t.output_bytes for t in tasks) / 1e6
        m["spark.shuffle_write_mb"] = sum(t.shuffle_write_bytes for t in tasks) / 1e6
        m["spark.spill_mb"] = sum(t.spill_bytes for t in tasks) / 1e6

        for layer in LAYERS:
            m[f"self.{layer}_s"] = sum(selfs[s.id] for s in mine if s.name.split(".")[0] == layer)
        per_unit.append(m)

    out = {k: median([m[k] for m in per_unit]) for k in per_unit[0]}
    # set-up repetitions are recorded as units -1, -2, ...
    reps = sorted({s.unit for s in spans if s.unit is not None and s.unit < 0})
    for key, name in (("edu.fixtures_s", "edu.fixtures"), ("edu.to_spark_s", "edu.to_spark")):
        out[key] = median([
            sum(s.seconds for s in spans if s.name == name and s.unit == r) for r in reps
        ])
    out["edu.source_rows"] = edu_source_rows
    return out
