"""Twin-path test of the log-depth hierarchy walk.

``hierarchy_walk`` takes its ancestor-doubling path when every node has
at most one parent, and falls back to the level-by-level
``recursive_loop`` otherwise. Both must equal DuckDB's ``WITH
RECURSIVE`` over the same edges, row for row (UNION ALL multiplicities
included), on graphs with missing intermediate nodes, cycles (through a
seed too), several seeds on one chain, duplicate or null node keys and
caps from 0 to 12. The doubling path runs both with and without its
broadcast hint.
"""

from collections import Counter
from unittest import mock

import duckdb
from hypothesis import example, given, settings, strategies as st
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dbt_incremental_ci_spark.plans import recursion

# parents range past the node keys, so some chains end at a missing node
KEY = st.integers(min_value=0, max_value=9)
PARENT = st.one_of(st.none(), st.integers(min_value=0, max_value=11))


@st.composite
def graphs(draw):
    if draw(st.booleans()):
        nodes = draw(st.lists(KEY, unique=True, max_size=10))
    else:
        nodes = draw(st.lists(st.one_of(KEY, st.none()), min_size=1, max_size=12))
    parents = draw(st.lists(PARENT, min_size=len(nodes), max_size=len(nodes)))
    seeds = draw(st.lists(st.integers(min_value=0, max_value=11), min_size=1, max_size=3))
    return list(zip(nodes, parents)), seeds, draw(st.integers(min_value=0, max_value=12))


def _duckdb_chain(edges, seeds, cap) -> Counter:
    con = duckdb.connect()
    con.execute("CREATE TABLE edges (node BIGINT, parent BIGINT)")
    con.execute("CREATE TABLE seeds (node BIGINT)")
    if edges:
        con.executemany("INSERT INTO edges VALUES (?, ?)", edges)
    con.executemany("INSERT INTO seeds VALUES (?)", [(s,) for s in seeds])
    rows = con.execute(
        f"""
        WITH RECURSIVE chain(node, depth, path) AS (
          SELECT node, 0, CAST(node AS VARCHAR) FROM seeds
          UNION ALL
          SELECT e.node, c.depth + 1, c.path || '->' || CAST(e.node AS VARCHAR)
          FROM edges e JOIN chain c ON e.parent = c.node
          WHERE c.depth < {cap}
        )
        SELECT node, depth, path FROM chain
        """
    ).fetchall()
    con.close()
    return Counter(rows)


def _loop_chain(edges_df: DataFrame, seeds_df: DataFrame, cap: int) -> DataFrame:
    """The level-by-level reference, written against recursive_loop."""
    seed = seeds_df.select(
        "node", F.lit(0).alias("depth"), F.col("node").cast("string").alias("path")
    )

    def step(frontier: DataFrame, depth: int) -> DataFrame:
        return edges_df.join(
            frontier.select(F.col("node").alias("up_node"), F.col("path").alias("up_path")),
            F.col("parent") == F.col("up_node"),
        ).select(
            "node",
            F.lit(depth).alias("depth"),
            F.concat("up_path", F.lit("->"), F.col("node").cast("string")).alias("path"),
        )

    return recursion.recursive_loop(seed, step, max_iterations=cap)


def _rows(df: DataFrame) -> Counter:
    return Counter((r["node"], r["depth"], r["path"]) for r in df.collect())


@settings(max_examples=20, deadline=None)
@given(graph=graphs(), broadcast=st.booleans())
@example(graph=([(1, 0), (2, 1), (0, 2), (3, 2)], [0], 12), broadcast=True)  # cycle through the seed
@example(graph=([(1, 0), (2, 1), (3, 2), (4, 3)], [0, 2, 2], 4), broadcast=False)  # stacked, repeated seeds
@example(graph=([(2, 7), (3, 2), (5, 9)], [7, 9], 3), broadcast=True)  # missing intermediate nodes
@example(graph=([(1, 0), (2, 1), (2, 0), (3, 2)], [0], 5), broadcast=True)  # node 2 has two parents
@example(graph=([(None, 0), (1, 0), (2, 1)], [0], 2), broadcast=True)  # null node key
@example(graph=([(1, 0), (2, 1)], [0], 0), broadcast=True)  # cap 0
def test_hierarchy_walk_matches_loop_and_duckdb(spark, graph, broadcast):
    edges, seeds, cap = graph
    edges_df = spark.createDataFrame(edges, "node bigint, parent bigint")
    seeds_df = spark.createDataFrame([(s,) for s in seeds], "node bigint")

    cap_rows = recursion._BCAST_CAP if broadcast else 0
    with mock.patch.object(recursion, "_BCAST_CAP", cap_rows), mock.patch.object(
        recursion, "recursive_loop", wraps=recursion.recursive_loop
    ) as loop:
        walked = _rows(recursion.hierarchy_walk(edges_df, seeds_df, cap))
    single_parent = len({n for n, _ in edges}) == len(edges) and all(
        n is not None for n, _ in edges
    )
    assert loop.called != single_parent, "single-parent inputs take the doubling path"

    expected = _duckdb_chain(edges, seeds, cap)
    assert walked == expected
    assert _rows(_loop_chain(edges_df, seeds_df, cap)) == expected
