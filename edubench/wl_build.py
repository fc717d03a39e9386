"""``edu_full_build``: the ``dbt build`` analogue.

Each timed unit is one ``Engine.run`` of a dependency-closed slice of
the education project into a fresh, empty schema: a seed,
every staging view, both incremental models (first-run path), five
tests and two marts. The slice keeps every node kind of the full
67-node DAG, at a size where several builds fit in one run.
"""

from __future__ import annotations

import time

from harness import Harness, digests, log

N_STUDENTS = 300
TOY_STUDENTS = 100

SLICE = [
    # seed
    "semester_calendar",
    # staging views
    "stg_students", "stg_courses", "stg_departments", "stg_faculty",
    "stg_enrollments", "stg_semesters", "stg_class_sessions", "stg_assignments",
    "stg_assignment_submissions", "stg_financial_aid", "stg_tuition_payments",
    # incremental models
    "stg_enrollments_incremental", "student_enrollment_history_incremental",
    # tests
    "test_data_quality_checks", "test_enrollment_integrity",
    "test_financial_consistency",
    "source_unique_raw_edu_enrollments_enrollment_id",
    "source_not_null_raw_edu_enrollments_enrollment_id",
    # intermediate view + marts
    "int_student_enrollment_history",
    "student_academic_summary", "tuition_revenue_analysis",
]


class EduFullBuild:
    name = "edu_full_build"
    setup_reps = 3
    unit_metric = "build_s"

    def __init__(self, h: Harness, toy: bool) -> None:
        from dbt_incremental_ci_spark.edu.project import edu_registry

        self.h = h
        self.n_students = TOY_STUDENTS if toy else N_STUDENTS
        self.registry = edu_registry()
        missing = [
            d for n in SLICE for d in self.registry.get(n).deps
            if d in self.registry and d not in SLICE
        ]
        if missing:
            raise RuntimeError(f"slice is not dependency-closed: {missing}")
        self.sources = None
        self.edu_source_rows = 0
        self.builds = 0
        self.persisted = [
            n for n in SLICE
            if self.registry.get(n).resource_type != "test"
            and self.registry.get(n).materialized in ("table", "incremental")
            and self.registry.get(n).resource_type != "seed"
        ]

    def setup_data(self) -> None:
        from dbt_incremental_ci_spark.edu import fixtures

        pdfs = fixtures.generate_raw_edu(n_students=self.n_students, seed=self.h.seed)
        self.sources = fixtures.to_spark(self.h.spark, pdfs)
        self.edu_source_rows = sum(len(p) for p in pdfs.values())
        self.enrollments = len(pdfs["enrollments"])
        # both incremental models rewrite everything on a first run: the
        # unpartitioned table plus one partition per semester
        self.partitions = 1 + pdfs["enrollments"]["semester_id"].nunique()

    def prepare(self) -> None:
        pass

    def _engine(self, schema: str):
        from dbt_incremental_ci_spark.edu import fixtures
        from dbt_incremental_ci_spark.plans.runner import Engine

        return Engine(self.h.spark, self.registry, schema=schema,
                      sources=self.sources, run_date=fixtures.RUN_DATE)

    def _schema(self) -> str:
        self.builds += 1
        return f"build{self.builds}"

    def _build(self, schema: str) -> float:
        t0 = time.perf_counter()
        results = self._engine(schema).run(select=SLICE)
        seconds = time.perf_counter() - t0
        self.h.tracer.count("incremental.rows_in", 2 * self.enrollments)
        self.h.tracer.count("incremental.partitions_needed", self.partitions)
        for r in results:
            ok = r.status == "success" and not r.violations
            self.h.attempt(ok, f"node {r.name}: {r.status} {r.error or ''}".strip())
        self.h.attempt(len(results) == len(SLICE), f"{len(results)}/{len(SLICE)} nodes ran")
        return seconds

    def warmup(self) -> None:
        schema = self._schema()
        t0 = time.perf_counter()
        self._build(schema)
        t1 = time.perf_counter()
        self._check(schema)
        log(f"[{self.name}] first build {t1 - t0:.2f}s, output check "
            f"{time.perf_counter() - t1:.2f}s")
        self._drop(schema)

    def unit(self) -> float:
        schema = self._schema()
        seconds = self._build(schema)
        with self.h.tracer.paused():
            self._drop(schema)
        return seconds

    def _drop(self, schema: str) -> None:
        for s in (schema, f"{schema}_incremental_models"):
            self.h.drop_schema(s)

    def _check(self, schema: str) -> None:
        """Every persisted model of the slice must equal the same model
        evaluated as a plain logical plan, without the runner or any
        materialization."""
        engine = self._engine(schema)
        plans = _PlanEvaluator(self.h.spark, self.registry, self.sources)
        frames = [self.h.spark.table(engine.qualified(n)) for n in self.persisted]
        frames += [plans.resolve(n) for n in self.persisted]
        sums = digests(frames)
        k = len(self.persisted)
        for name, built, expected in zip(self.persisted, sums[:k], sums[k:]):
            self.h.attempt(built == expected, f"{name}: built {built} != plan {expected}")

    def check(self) -> None:
        pass


class _PlanEvaluator:
    """Resolves ``ref``/``source`` by calling model builders directly:
    every model is an inline plan, nothing is written."""

    def __init__(self, spark, registry, sources) -> None:
        from dbt_incremental_ci_spark.edu import fixtures

        self.spark = spark
        self.registry = registry
        self.sources = sources
        self.run_date = fixtures.RUN_DATE
        self._memo: dict = {}

    def ref(self, name: str):
        return self.resolve(name)

    def source(self, name: str):
        return self.sources[name]

    def this(self, model_name: str):
        return None

    def resolve(self, name: str):
        if name in self.sources:
            return self.sources[name]
        if name not in self._memo:
            out = self.registry.get(name).builder(self)
            self._memo[name] = self.spark.sql(out) if isinstance(out, str) else out
        return self._memo[name]
