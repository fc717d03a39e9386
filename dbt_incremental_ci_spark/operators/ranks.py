"""Distributed global ranking — row_number / rank / percent_rank over
a GLOBAL ordering without the single-task window.

``F.percent_rank().over(Window.orderBy(c))`` forces
``Exchange SinglePartition`` of the whole input: every row funnels
through one task — the canonical Spark scale trap (fine on a 10k-row
dimension, fatal on anything that grows with the data). The round-3
plan audit caught exactly that shape in q13 over the supplier table,
which grows linearly with scale factor.

The scalable shape is the two-phase rank this codebase already uses in
``dsir.dsir_select`` and ``sampling.epoch_shuffle_rank``, factored out
here for reuse:

1. range-partition by the sort key (contiguous key ranges per
   partition),
2. per-partition local ``row_number`` (parallel; state = 1 counter),
3. per-partition counts (O(partitions) rows) exclusive-prefix-summed
   through a partition-count-sized window and broadcast back as
   offsets.

``rank()`` tie semantics (ties share the MINIMUM position) come from a
``min(row_number) over (partition by order-value)`` pass — a per-value
group window whose state is bounded by the tie multiplicity, never the
table. ``percent_rank`` is then ``(rank - 1) / (n - 1)`` with the row
count joined in as a broadcast literal (the W7 grand-total pattern —
no single-partition shuffle anywhere in the plan).

The ``repartitionByRange`` boundaries are RNG-sampled, so the frame is
``localCheckpoint``-pinned before both consuming branches — the same
double-evaluation hazard documented at ``sampling.epoch_shuffle_rank``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def two_phase_row_number(
    df: DataFrame,
    sort_cols: list[Column],
    out_col: str = "rn",
    num_partitions: int | None = None,
) -> DataFrame:
    """Global 1-based ``row_number`` in ``sort_cols`` order (which must
    be a unique total order for a deterministic result), computed with
    partition-local windows + broadcast offsets. Adds ``out_col``."""
    spark = df.sparkSession
    n_parts = num_partitions or spark.sparkContext.defaultParallelism
    ranged = (
        df.repartitionByRange(n_parts, *sort_cols)
        .withColumn("__pid", F.spark_partition_id())
        .localCheckpoint(eager=False)
    )
    lw = Window.partitionBy("__pid").orderBy(*sort_cols)
    local = ranged.withColumn("__local", F.row_number().over(lw))
    totals = ranged.groupBy("__pid").agg(F.count(F.lit(1)).alias("__t"))
    # O(partitions) rows — the deliberate tiny single-task step
    tw = Window.orderBy("__pid").rowsBetween(Window.unboundedPreceding, -1)
    off = totals.select(
        "__pid", F.coalesce(F.sum("__t").over(tw), F.lit(0)).alias("__off")
    )
    return (
        local.join(F.broadcast(off), "__pid")
        .withColumn(out_col, (F.col("__local") + F.col("__off")).cast("bigint"))
        .drop("__pid", "__local", "__off")
    )


def global_percent_rank(
    df: DataFrame,
    order_col: str,
    unique_col: str,
    out_col: str = "pct_rank",
    num_partitions: int | None = None,
) -> DataFrame:
    """SQL ``percent_rank() OVER (ORDER BY order_col)`` — identical
    semantics (ties share the minimum rank; result is
    ``(rank-1)/(n-1)``, and 0.0 for a single-row input) — with no
    data-sized single-partition exchange in the plan. ``unique_col``
    breaks row_number ties arbitrarily; it does not affect the output
    because tied rows collapse to the same rank anyway."""
    rn = two_phase_row_number(
        df,
        [F.asc(order_col), F.asc(unique_col)],
        out_col="__rn",
        num_partitions=num_partitions,
    )
    # tie collapse: per-order-value group window, state = multiplicity
    tie = Window.partitionBy(order_col)
    ranked = rn.withColumn("__rank", F.min("__rn").over(tie))
    total = df.agg(F.count(F.lit(1)).alias("__n"))
    return (
        ranked.crossJoin(F.broadcast(total))
        .withColumn(
            out_col,
            F.when(
                F.col("__n") > 1,
                (F.col("__rank") - 1).cast("double")
                / (F.col("__n") - 1).cast("double"),
            ).otherwise(F.lit(0.0)),
        )
        .drop("__rn", "__rank", "__n")
    )


def exact_quantiles(
    df: DataFrame, value_col: str, qs: list[float]
) -> DataFrame:
    """Exact linearly-interpolated quantiles (the ``quantile_cont`` /
    ``F.percentile`` definition: position k = (n−1)·q over the sorted
    values, interpolating between the two adjacent order statistics)
    WITHOUT the single-task sort.

    ``F.percentile`` is an ObjectHashAggregate that ships every value
    into one task and sorts there — fine on a bounded frame, fatal on
    a corpus (the q77 plan at 100 TB). The scalable exact shape is the
    Mann-Whitney machinery: ONE map-side-combinable aggregate to
    distinct-value counts, per-range-bucket count totals with an
    O(buckets) prefix for rank offsets, then each requested quantile's
    two bracketing order statistics come from a cumulative window run
    over its HOME BUCKET's rows only (round-12 — see the inline note).

    Determinism: the target position is computed in DOUBLE exactly
    as both engines' own implementations do (pos = (n−1)·q —
    identical IEEE expression, identical rounding); the interpolation is
    ``vlo·(1−frac) + vhi·frac`` — the exact expression form BOTH
    Spark's percentile and DuckDB's quantile_cont evaluate (the
    algebraically-equal ``vlo + frac·(vhi−vlo)`` rounds one ulp
    differently on extreme magnitudes; hypothesis-found). Output:
    ``(q, n, quantile)`` — quantile UNROUNDED (callers round to
    their grid).

    Eager contract: building the DataFrame runs Spark jobs. Two
    driver-bound actions execute before this function returns — the
    one-row bounds/count aggregate and the per-bucket count totals —
    plus a third one-row bounds read when the 1-in-20 hash sample of a
    tiny input is empty. Each may launch several jobs (one per shuffle
    stage under AQE). Only the final window and fold run when the
    result is acted on. Callers that only build plans (``explain``,
    plan audits) pay these jobs too, and input errors surface here, not
    at execution. ``qs=[]`` runs nothing.
    """
    if not qs:
        # round-11 ADVICE: the wide 1-row aggregate below is built with
        # one expression per requested quantile, so qs=[] would call
        # .agg() with zero expressions and raise at plan time; the old
        # join shape returned an empty frame — preserve that contract.
        return df.sparkSession.createDataFrame(
            [], "q double, n bigint, quantile double"
        )
    spark = df.sparkSession
    g = (
        df.select(F.col(value_col).cast("double").alias("__v"))
        .filter(F.col("__v").isNotNull())
        .groupBy("__v")
        .agg(F.count(F.lit(1)).alias("__cnt"))
        .localCheckpoint(eager=False)  # stats + totals + probe all read it
    )
    # Round-12 (guide §1.2 — don't compute what you throw away, §2.4 —
    # fewer sync points): the old shape computed a FULL distinct-value
    # cumulative sum (global_cumsum: per-bucket window over every row,
    # offsets joined back — profiled 2.3–3.3 s of q77's ~5 s at sf0.1
    # on 583k distinct prices) and then threaded n and the 2k probe
    # ranks through a ladder of 1-row broadcasts (tot → rank table →
    # conditional-min pass), ~4 sequential broadcast materializations
    # of pure latency. All of those scalars are O(num_partitions)-
    # bounded, so they now ride DRIVER-BOUND reads (the sanctioned
    # two-phase-rank-offsets class — never data-sized):
    #   job 1: one aggregate over g → deterministic range-bucket
    #          boundaries (percentile of a 1-in-20 xxhash64 slice),
    #          the sampled distinct-count estimate, and the exact n;
    #   job 2: per-bucket count totals (O(buckets) rows) → exclusive
    #          offsets, computed in exact Python ints;
    #   job 3: the ONE data-sized job — a cumulative window over the
    #          probed buckets' rows only, with every rank/offset a
    #          literal, folding to the 2k bracketing mins.
    # EXACT: buckets are ranges of __v (every v in bucket b+1 exceeds
    # every v in bucket b), so the first bucket whose end-cumulative
    # reaches rank r contains min(v | cum ≥ r), and inside it
    # local-cum + offset IS the global cumulative. Bucket BOUNDARIES
    # only regroup exact integer count sums — any deterministic choice
    # gives identical output.
    n_parts = spark.sparkContext.defaultParallelism
    ps = [i / n_parts for i in range(1, n_parts)]
    in_sample = F.pmod(F.xxhash64(F.col("__v")), F.lit(20)) == 0
    srow = g.agg(
        F.percentile(F.when(in_sample, F.col("__v")), F.lit(ps)).alias("b"),
        F.count(F.when(in_sample, F.lit(1))).alias("sc"),
        F.sum("__cnt").alias("n"),
        # driver-bound: 1 row — O(num_partitions) bounds + 2 scalars
    ).first()
    n = int(srow["n"] or 0)
    if n == 0:
        # empty-input parity with the old join shape: zero rows
        return spark.createDataFrame(
            [], "q double, n bigint, quantile double"
        )
    bounds, est_distinct = srow["b"], 20 * int(srow["sc"] or 0)
    if not bounds:
        # tiny input: the 1-in-20 sample came up empty — exact bounds
        # of the full (small) input keep the parallel path
        # driver-bound: O(num_partitions) bounds, one row (tiny-input fallback)
        bounds = g.agg(
            F.percentile(F.col("__v"), F.lit(ps)).alias("b")
        ).first()["b"]
    bucket = F.lit(0)
    for b in sorted({float(x) for x in (bounds or [])}):
        bucket = bucket + (F.col("__v") > F.lit(b)).cast("int")
    bucketed = g.withColumn("__b", bucket)
    offrows = sorted(
        (r["__b"], int(r["__t"]))
        for r in bucketed.groupBy("__b")
        .agg(F.sum("__cnt").alias("__t"))
        # driver-bound: O(buckets) ≤ num_partitions rows (count totals)
        .collect()
    )
    offs: dict[int, int] = {}
    acc = 0
    for b, tcnt in offrows:
        offs[b] = acc
        acc += tcnt
    # probe positions in DOUBLE, exactly as both engines' own
    # implementations do: pos = (n-1)*q, kf = floor(pos), frac =
    # pos - kf — Python floats ARE IEEE binary64, so float(n-1)*q /
    # math.floor reproduce the old Spark double column bit-for-bit.
    # (An integer-micro "exact" position was tried and DIVERGES from
    # F.percentile / quantile_cont whenever (n-1)*q rounds — e.g.
    # 3*0.1; hypothesis-found.)
    import math

    probes = []
    for i, qv in enumerate(qs):
        qd = float(qv)
        posd = float(n - 1) * qd
        kf = math.floor(posd)
        frac = posd - kf
        lo = int(kf) + 1
        hi = lo + (1 if frac > 0 else 0)
        probes.append((i, qd, lo, hi, frac))

    def _home_bucket(rank: int) -> int | None:
        # first bucket whose end-cumulative reaches the rank
        for b, tcnt in offrows:
            if offs[b] + tcnt >= rank:
                return b
        return None

    # Prune gate (measured, round-12): restricting the window to the
    # probed home buckets only amortizes when it drops materially more
    # rows than the extra filter costs — paired A/B read 1.05–1.11 on
    # the small-table riders (q285/q286/q374) vs wins on the
    # ~583k-distinct price callers (q77/q375). Below the gate the SAME
    # machinery windows every bucket — the full cumulative table.
    if est_distinct >= 200_000:
        pbset = sorted(
            {
                hb
                for _, _, lo, hi, _ in probes
                for r in (lo, hi)
                if (hb := _home_bucket(r)) is not None
            }
        )
        cw = bucketed.where(F.col("__b").isin(pbset))
    else:
        cw = bucketed
    off_expr = None
    for b, _ in offrows:
        off_expr = (
            F.when(F.col("__b") == F.lit(b), F.lit(offs[b]))
            if off_expr is None
            else off_expr.when(F.col("__b") == F.lit(b), F.lit(offs[b]))
        )
    off_expr = off_expr.otherwise(F.lit(0)) if off_expr is not None else F.lit(0)
    lw = Window.partitionBy("__b").orderBy("__v")
    cum = (
        cw.withColumn("__lc", F.sum("__cnt").over(lw))
        .withColumn("__cum", F.col("__lc") + off_expr.cast("bigint"))
    )
    br = cum.agg(
        *[
            expr
            for i, _, lo, hi, _ in probes
            for expr in (
                F.min(
                    F.when(F.col("__cum") >= F.lit(lo), F.col("__v"))
                ).alias(f"__vlo_{i}"),
                F.min(
                    F.when(F.col("__cum") >= F.lit(hi), F.col("__v"))
                ).alias(f"__vhi_{i}"),
            )
        ],
    )
    return br.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(qd).alias("q"),
                        F.lit(n).cast("bigint").alias("n"),
                        # lo*(1-d) + hi*d — the EXACT expression form
                        # BOTH Spark's percentile and DuckDB's
                        # quantile_cont evaluate; lo + d*(hi-lo) is
                        # mathematically equal but rounds one ulp
                        # differently on extreme magnitudes
                        # (hypothesis-found)
                        (
                            F.col(f"__vlo_{i}") * F.lit(1.0 - frac)
                            + F.col(f"__vhi_{i}") * F.lit(frac)
                        ).alias("quantile"),
                    )
                    for i, qd, lo, hi, frac in probes
                ]
            )
        ).alias("__r")
    ).select("__r.q", "__r.n", "__r.quantile")


def exact_quantiles_sql(
    rows: str, value_expr: str, qs: list[float]
) -> str:
    """DuckDB twin of :func:`exact_quantiles` (plain window cumsum +
    the same DOUBLE position arithmetic: pos = (n-1)*q in IEEE double,
    matching F.percentile / quantile_cont — see the inline note in
    :func:`exact_quantiles` on why integer-micro positions diverge)."""
    spine = " UNION ALL ".join(f"SELECT {float(x)!r} AS q" for x in qs)
    return f"""
    WITH g AS (
      SELECT CAST({value_expr} AS DOUBLE) AS v, count(*) AS cnt
      FROM {rows} WHERE {value_expr} IS NOT NULL GROUP BY 1
    ),
    c AS (
      SELECT *, SUM(cnt) OVER (ORDER BY v
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      FROM g
    ),
    tot AS (SELECT SUM(cnt) AS n FROM g),
    spine AS ({spine}),
    tq AS (
      SELECT q, n,
             CAST(floor(CAST(n - 1 AS DOUBLE) * q) AS BIGINT) AS kf,
             CAST(n - 1 AS DOUBLE) * q
               - floor(CAST(n - 1 AS DOUBLE) * q) AS frac
      FROM spine, tot
    ),
    vlo AS (
      SELECT tq.q, MIN(c.v) AS vlo FROM tq JOIN c ON c.cum >= tq.kf + 1
      GROUP BY tq.q
    ),
    vhi AS (
      SELECT tq.q, MIN(c.v) AS vhi FROM tq
      JOIN c ON c.cum >= tq.kf + 1 + CASE WHEN tq.frac > 0 THEN 1 ELSE 0 END
      GROUP BY tq.q
    )
    SELECT tq.q, CAST(tq.n AS BIGINT) AS n,
           vlo.vlo * (1.0 - tq.frac) + vhi.vhi * tq.frac AS quantile
    FROM tq JOIN vlo ON tq.q = vlo.q JOIN vhi ON tq.q = vhi.q
    """


def exact_quantiles_by_key(
    df: DataFrame,
    key_cols: list[str],
    value_col: str,
    qs: list[float],
) -> DataFrame:
    """Per-group exact interpolated quantiles without per-group
    value-buffer aggregates.

    ``F.percentile`` grouped by a key still collects EVERY group row
    into one task's buffer — per-group corpus-sized state at scale.
    This reduces to distinct (key, value) COUNTS first (map-side
    combinable; the frame is value-grid-bounded — a 2-dp price column
    has at most 10² · range distinct values no matter how many rows),
    then a per-key window cumsum whose task state is the group's
    DISTINCT-value count, then the same DOUBLE position bracketing as
    :func:`exact_quantiles` (pos = (n-1)*q in IEEE double, matching
    F.percentile / quantile_cont), fanned out by a constant quantile
    spine.

    Output: ``(key…, q, n, quantile)`` — quantile unrounded,
    bit-equal to ``F.percentile`` (unit-tested).
    """
    keys = [F.col(k) for k in key_cols]
    g = (
        df.select(*keys, F.col(value_col).cast("double").alias("__v"))
        .filter(F.col("__v").isNotNull())
        .groupBy(*key_cols, "__v")
        .agg(F.count(F.lit(1)).alias("__cnt"))
        .localCheckpoint(eager=False)  # cumsum + totals both read it
    )
    w = (
        Window.partitionBy(*key_cols)
        .orderBy("__v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    c = g.withColumn("__cum", F.sum("__cnt").over(w)).localCheckpoint(
        eager=False  # probed once per bracketing side
    )
    tot = g.groupBy(*key_cols).agg(F.sum("__cnt").alias("__n"))
    qlits = F.array(*[F.lit(float(x)) for x in qs])
    pos = (F.col("__n") - 1).cast("double") * F.col("q")
    tq = tot.select(
        *key_cols,
        "__n",
        F.explode(qlits).alias("q"),
    ).select(
        *key_cols,
        "q",
        "__n",
        # engines' own double position arithmetic — see exact_quantiles
        F.floor(pos).cast("bigint").alias("__kf"),
        (pos - F.floor(pos)).alias("__frac"),
    )
    lo_rank = F.col("__kf") + 1
    hi_rank = lo_rank + F.when(F.col("__frac") > 0, 1).otherwise(0)

    # rename the cumulative table's columns before probing: probe and
    # c share lineage through g, and same-name join conditions trip
    # Spark's ambiguous-self-join analyzer
    c2 = c.select(
        *[F.col(k).alias(f"__ck_{i}") for i, k in enumerate(key_cols)],
        F.col("__v").alias("__cv"),
        F.col("__cum").alias("__ccum"),
    )

    def bracket(rank_expr: F.Column, out: str) -> DataFrame:
        probe = tq.select(*key_cols, "q", rank_expr.alias("__r"))
        cond = [
            probe[k] == c2[f"__ck_{i}"] for i, k in enumerate(key_cols)
        ] + [c2["__ccum"] >= probe["__r"]]
        joined = probe.join(c2, cond)
        return joined.groupBy(*key_cols, "q").agg(
            F.min("__cv").alias(out)
        )

    vlo = bracket(lo_rank, "__vlo")
    vhi = bracket(hi_rank, "__vhi")
    on = [*key_cols, "q"]
    return (
        tq.join(vlo, on)
        .join(vhi, on)
        .select(
            *key_cols,
            "q",
            F.col("__n").cast("bigint").alias("n"),
            # lo*(1-d) + hi*d — the EXACT expression form BOTH
            # Spark's percentile and DuckDB's quantile_cont evaluate;
            # lo + d*(hi-lo) is mathematically equal but rounds one
            # ulp differently on extreme magnitudes (hypothesis-found)
            (
                F.col("__vlo") * (F.lit(1.0) - F.col("__frac"))
                + F.col("__vhi") * F.col("__frac")
            ).alias("quantile"),
        )
    )
