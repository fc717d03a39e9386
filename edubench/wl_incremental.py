"""``edu_incremental_ci``: one slim-CI day, repeated.

Set-up builds production for the incremental chain on the enrollments
dated up to the median enrollment date and saves the production state.
Each timed unit is one day that starts from that production state:

- *batch step*: the source grows by the next date-bounded slice, about
  5 % of which re-sends existing keys with a later date and a changed
  ``semester_id``/grade (key replacement and moved partitions in the
  merge), and the chain runs into production;
- *CI cycle*: the builders of ``stg_enrollments`` and
  ``stg_enrollments_incremental`` are wrapped in a closure carrying the
  cycle number (a model edit), ``SlimCI.run`` copies the affected
  incremental tables into the CI schema, and the chain runs there over
  the slice after that.

Production is reset to the set-up state between days, outside the
timed window, so every day does the same work.
"""

from __future__ import annotations

import os
import time
from datetime import timedelta

import numpy as np
import pandas as pd

from harness import Harness, digests, median

N_STUDENTS = 600
TOY_STUDENTS = 200
SLICE_FRACTION = 0.08  # rows per slice, as a share of all enrollments
CORRECTION_FRACTION = 0.05
CHAIN = ["stg_enrollments", "stg_enrollments_incremental",
         "student_enrollment_history_incremental"]
INCREMENTAL = ["stg_enrollments_incremental", "student_enrollment_history_incremental"]
EDITED = ["stg_enrollments", "stg_enrollments_incremental"]
PROD, CI = "prod", "ci"


def make_steps(enrollments: pd.DataFrame, seed: int) -> tuple[list[pd.DataFrame], list[dict]]:
    """Source states ``[base, +slice 1, +slice 2]`` and, per slice, the
    rows it adds and the partitions a merge of it must rewrite."""
    from dbt_incremental_ci_spark.edu.fixtures import GRADE_POINTS, GRADES

    rng = np.random.default_rng(seed)
    df = enrollments.sort_values(["enrollment_date", "enrollment_id"]).reset_index(drop=True)
    dates = df["enrollment_date"]
    cut = dates.iloc[len(df) // 2]
    state = df[dates <= cut]
    rest = df[dates > cut]
    n_semesters = int(df["semester_id"].max())
    steps, slices = [state], []
    for _ in range(2):
        # whole dates only: the strict watermark would drop rows dated
        # at a cut inside one date
        target = int(len(df) * SLICE_FRACTION)
        first = rest["enrollment_date"].iloc[min(target, len(rest) - 1)]
        new = rest[rest["enrollment_date"] <= first]
        rest = rest[rest["enrollment_date"] > first]
        lo, hi = new["enrollment_date"].min(), new["enrollment_date"].max()
        span = (hi - lo).days
        n_fixed = max(int(len(new) * CORRECTION_FRACTION), n_semesters)
        fixed = state.sample(n=n_fixed, random_state=int(rng.integers(1 << 30))).copy()
        old = fixed["semester_id"].to_numpy()
        old_parts = set(old)
        # new semesters cycle through every partition, so each merge
        # touches all of them (see README: a CI copy loses partitioning)
        moved = np.arange(n_fixed) % n_semesters + 1
        moved[moved == old] = moved[moved == old] % n_semesters + 1
        fixed["semester_id"] = moved
        fixed["grade"] = [str(g) for g in rng.choice(GRADES, len(fixed))]
        fixed["grade_points"] = [GRADE_POINTS[g] for g in fixed["grade"]]
        fixed["enrollment_date"] = [
            lo + timedelta(days=int(d)) for d in rng.integers(0, span + 1, len(fixed))
        ]
        batch = pd.concat([new, fixed])
        state = pd.concat([state[~state["enrollment_id"].isin(fixed["enrollment_id"])], batch])
        steps.append(state)
        slices.append({
            "rows": len(batch),
            # unpartitioned stg table counts as one partition
            "partitions": 1 + len(set(batch["semester_id"]) | old_parts),
        })
    return steps, slices


class EduIncrementalCI:
    name = "edu_incremental_ci"
    setup_reps = 3

    def __init__(self, h: Harness, toy: bool) -> None:
        from dbt_incremental_ci_spark.edu.project import edu_registry

        self.h = h
        self.n_students = TOY_STUDENTS if toy else N_STUDENTS
        self.registry = edu_registry()
        self.state_path = os.path.join(h.run_dir, "state", "prod_state.json")
        self.cycle = 0
        self.batch_times: list[float] = []
        self.ci_times: list[float] = []
        self.edu_source_rows = 0

    def setup_data(self) -> None:
        from dbt_incremental_ci_spark.edu import fixtures

        pdfs = fixtures.generate_raw_edu(n_students=self.n_students, seed=self.h.seed)
        frames, self.slices = make_steps(pdfs["enrollments"], self.h.seed)
        self.steps = [fixtures.to_spark(self.h.spark, {"enrollments": f}) for f in frames]
        self.edu_source_rows = sum(len(f) for f in frames)

    def _engine(self, registry, schema: str, step: int):
        from dbt_incremental_ci_spark.edu import fixtures
        from dbt_incremental_ci_spark.plans.runner import Engine

        return Engine(self.h.spark, registry, schema=schema,
                      sources=self.steps[step], run_date=fixtures.RUN_DATE)

    def _run_chain(self, registry, schema: str, step: int) -> None:
        results = self._engine(registry, schema, step).run(select=CHAIN)
        for r in results:
            self.h.attempt(r.status == "success", f"{schema}.{r.name}: {r.status} {r.error or ''}")

    def _reset(self) -> None:
        for s in (PROD, f"{PROD}_incremental_models", CI, f"{CI}_incremental_models"):
            self.h.drop_schema(s)
        self._run_chain(self.registry, PROD, 0)

    def prepare(self) -> None:
        from dbt_incremental_ci_spark.ci.state import StateStore

        self._reset()
        StateStore(self.state_path).save(self.registry)

    def _edited_registry(self):
        """A registry copy whose two staging builders carry the cycle
        number in a closure, which changes their fingerprints."""
        from dbt_incremental_ci_spark.edu.project import edu_registry

        self.cycle += 1
        registry = edu_registry()
        for name in EDITED:
            registry.get(name).builder = _edit(registry.get(name).builder, self.cycle)
        return registry

    def _day(self) -> tuple[float, float]:
        from dbt_incremental_ci_spark.ci.core import SlimCI
        from dbt_incremental_ci_spark.ci.state import StateStore

        tracer = self.h.tracer
        with tracer.paused():
            self._reset()
        ci_registry = self._edited_registry()
        for s in self.slices:
            tracer.count("incremental.rows_in", 2 * s["rows"])
            tracer.count("incremental.partitions_needed", s["partitions"])

        t0 = time.perf_counter()
        self._run_chain(self.registry, PROD, 1)
        batch = time.perf_counter() - t0

        t0 = time.perf_counter()
        result = SlimCI(self.h.spark, ci_registry, StateStore(self.state_path),
                        base_schema=PROD, ci_schema=CI, threads=self.h.cpus).run()
        copied = time.perf_counter() - t0
        with tracer.paused():
            self._check_copies(result)
        t0 = time.perf_counter()
        self._run_chain(ci_registry, CI, 2)
        ci = copied + time.perf_counter() - t0
        return batch, ci

    def _check_copies(self, result) -> None:
        self.h.attempt(result.ok and len(result.copies) == len(INCREMENTAL),
                       f"slim CI copied {[c.status for c in result.copies]}")
        for c in result.copies:
            if c.status == "copied":
                n_prod = self.h.spark.table(c.table).count()
                n_ci = self.h.spark.table(c.target).count()
                self.h.attempt(n_prod == n_ci, f"{c.target}: {n_ci} rows, prod {n_prod}")

    def warmup(self) -> None:
        self._day()

    def unit(self) -> float:
        batch, ci = self._day()
        self.batch_times.append(batch)
        self.ci_times.append(ci)
        return batch + ci

    def check(self) -> None:
        """Each incremental table equals a from-scratch build of the
        chain on the same final source."""
        pairs = []
        for schema, step in ((PROD, 1), (CI, 2)):
            scratch = f"scratch{step}"
            self._run_chain(self.registry, scratch, step)
            engine = self._engine(self.registry, scratch, step)
            for name in INCREMENTAL:
                fresh = engine.qualified(name)
                pairs.append((fresh.replace(scratch, schema, 1), fresh))
        sums = digests([self.h.spark.table(t) for pair in pairs for t in pair])
        for (built, fresh), got, want in zip(pairs, sums[0::2], sums[1::2]):
            self.h.attempt(got == want, f"{built}: {got} != from scratch {want}")

    def named_metrics(self, skip: int) -> dict[str, tuple[float, str]]:
        return {
            "incr_batch_s": (median(self.batch_times[skip:]), "s"),
            "ci_cycle_s": (median(self.ci_times[skip:]), "s"),
        }


def _edit(builder, cycle: int):
    def edited(ctx):
        _ = cycle  # the edit: a new value captured by the model
        return builder(ctx)

    return edited
