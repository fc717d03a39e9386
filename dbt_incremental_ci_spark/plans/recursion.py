"""Recursive-query support (SURVEY §2.8 R1; the reference's one site
is the course-prerequisite chain walk,
int_course_prerequisite_chains.sql:3-36, depth-capped at 10). Both
helpers compute ``WITH RECURSIVE … UNION ALL`` semantics.

At this scale a recursion costs Spark jobs, not data. Spark 4.1's
native ``WITH RECURSIVE`` runs every recursion level as jobs of its
own: q24 (binary tree over ``part``, cap 10, sf0.01) took 53 jobs per
call through it (51 executing the plan) and 40 through
:func:`recursive_loop`. :func:`hierarchy_walk` runs it in 9: 3 for its
single-parent gate, 6 executing the plan.

- :func:`recursive_loop` — a driver-side loop over a *frontier*
  DataFrame: seed → step(frontier) → union, until the frontier is empty
  or the depth cap hits. Each level is one distributed join, never a
  collect; every few levels the frontier is ``localCheckpoint``-ed,
  which truncates the lineage and materializes the (small) frontier for
  the emptiness probe. Works for any step function, including
  multi-parent graphs such as the edu prerequisite chains.
- :func:`hierarchy_walk` — when each node has at most one parent, its
  upward chain is unique, so its first ``cap`` ancestors come from
  pointer jumping / path doubling (Valduriez & Boral 1986): ⌈log2 cap⌉
  self-joins of ancestor arrays inside one lazy plan. Multi-parent
  inputs fall back to the loop.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def recursive_loop(
    seed: DataFrame,
    step: Callable[[DataFrame, int], DataFrame],
    max_iterations: int = 10,
    checkpoint_interval: int = 3,
) -> DataFrame:
    """Union of seed + all step results, dbt/PG ``WITH RECURSIVE … UNION ALL``
    semantics (each iteration sees only the previous frontier).

    ``step(frontier, depth)`` returns the next frontier (may be empty).

    ``checkpoint_interval``: steps between lineage checkpoints. Each
    checkpoint costs a fixed job round-trip (~0.25 s in local mode);
    chaining a few cheap broadcast joins between checkpoints amortizes
    it, at the cost of re-executing ≤ interval-1 joins when the
    accumulated union is evaluated, and of detecting frontier
    exhaustion only at checkpoint boundaries (steps on an empty
    frontier are empty — semantics unchanged).
    """
    frontier = seed.localCheckpoint(eager=True)
    acc = frontier
    depth = 0
    while depth < max_iterations:
        for _ in range(min(checkpoint_interval, max_iterations - depth)):
            depth += 1
            # The frontier is small relative to the edge relation —
            # broadcast it so each step is a broadcast hash join.
            frontier = step(F.broadcast(frontier), depth)
            acc = acc.unionByName(frontier)
        frontier = frontier.localCheckpoint(eager=True)
        if frontier.isEmpty():
            break
    return acc


_BCAST_CAP = 4_000_000  # ancestor-array entries (bigint) ≈ 32 MB


def hierarchy_walk(edges: DataFrame, seeds: DataFrame, max_depth: int) -> DataFrame:
    """Every chain hanging below a seed, up to ``max_depth`` steps:

        WITH RECURSIVE chain AS (
          SELECT node, 0 AS depth, CAST(node AS STRING) AS path FROM seeds
          UNION ALL
          SELECT e.node, c.depth + 1, c.path || '->' || CAST(e.node AS STRING)
          FROM edges e JOIN chain c ON e.parent = c.node
          WHERE c.depth < max_depth)
        SELECT node, depth, path FROM chain

    ``edges`` has columns ``node`` and ``parent``; ``seeds`` has
    ``node``. The output is ``(node, depth int, path string)`` with the
    CTE's UNION ALL multiplicities.

    Eager contract: one aggregate over ``edges`` (rows per node: the
    most, the null keys, the total) runs while the DataFrame is built,
    three Spark jobs. When no key repeats or is null, each node has at
    most one parent and the result is one lazy plan: every edge node's
    ancestor array is doubled ⌈log2 max_depth⌉ times (``anc[k-1]`` is
    its k-th ancestor), and ``(v, k)`` is a row for each seed row equal
    to ``anc[k-1]``. So cycles, several seeds on one chain and repeated
    seeds come out exactly as the CTE gives them. Otherwise (a node
    with two parents, or a null key, whose path the CTE makes NULL) it
    falls back to :func:`recursive_loop`, which runs jobs of its own.
    """
    seed_rows = seeds.select(
        "node",
        F.lit(0).cast("int").alias("depth"),
        F.col("node").cast("string").alias("path"),
    )
    gate = (
        edges.groupBy("node")
        .count()
        .agg(
            F.max("count").alias("most"),
            F.sum(F.col("node").isNull().cast("int")).alias("nulls"),
            F.sum("count").alias("rows"),
        )
        # driver-bound: 1 row — the single-parent gate and the edge count
        .first()
    )
    if (gate["most"] or 0) > 1 or gate["nulls"]:
        return _walk_levels(edges, seed_rows, max_depth)
    # Each round broadcasts the whole ancestor table (≤ max_depth bigint
    # entries per node). Past the cap the hint is withheld and Spark
    # picks the join from its own size estimates.
    fits = (gate["rows"] or 0) * max(max_depth, 1) <= _BCAST_CAP
    anc = edges.select("node", F.array("parent").alias("anc"))
    span = 1
    while span < max_depth:
        more = anc.select(F.col("node").alias("via"), F.col("anc").alias("more"))
        # anc has exactly `span` entries unless its chain ended (the
        # last entry has no parent, so the lookup misses)
        anc = anc.join(
            F.broadcast(more) if fits else more,
            F.element_at("anc", -1) == F.col("via"),
            "left",
        ).select(
            "node",
            F.when(F.col("via").isNull(), F.col("anc"))
            .otherwise(F.concat("anc", "more"))
            .alias("anc"),
        )
        span *= 2
    hits = anc.select(
        "node",
        "anc",
        F.posexplode(F.slice("anc", 1, max_depth)).alias("pos", "seed"),
    ).join(seeds.select(F.col("node").alias("seed")), "seed")
    depth = F.col("pos") + 1
    path = F.array_join(
        F.reverse(
            F.slice(F.concat(F.array("node"), "anc"), 1, depth + 1).cast("array<string>")
        ),
        "->",
    )
    return seed_rows.unionByName(
        hits.select("node", depth.cast("int").alias("depth"), path.alias("path"))
    )


def _walk_levels(edges: DataFrame, seed_rows: DataFrame, max_depth: int) -> DataFrame:
    """:func:`hierarchy_walk` one level at a time (any edge relation)."""
    steps = edges.select(
        "node", F.col("node").cast("string").alias("name"), "parent"
    )

    def step(frontier: DataFrame, depth: int) -> DataFrame:
        return steps.join(
            frontier.select(F.col("node").alias("parent"), F.col("path").alias("up")),
            "parent",
        ).select(
            "node",
            F.lit(depth).cast("int").alias("depth"),
            F.concat("up", F.lit("->"), "name").alias("path"),
        )

    return recursive_loop(seed_rows, step, max_iterations=max_depth)
