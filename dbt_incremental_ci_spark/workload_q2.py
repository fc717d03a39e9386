"""q51-q100: sampling, dedup/ANN, text-quality, retrieval, pagination bands

Split from the original single-module workload (round-4 verdict item
8) — purely mechanical: the @q decorator registers every query into
the shared registries in ``workload_base``; ``workload`` re-exports
them, so the driver contract is unchanged. Determinism rules live in
``workload_base``'s docstring.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from dbt_incremental_ci_spark.operators import (
    asof,
    dedup,
    packing,
    sampling,
    similarity,
    skew,
    text,
)
from dbt_incremental_ci_spark.workload_base import (
    _LAZY_ORACLES,
    ORACLES,
    QUERIES,
    d,
    dec,
    events_table,
    get_oracles,
    q,
    t,
)
from dbt_incremental_ci_spark.workload_q1 import _q51_oracle



@q("q51_stratified_sample", _q51_oracle())
def q51(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    kept = sampling.stratified_hash_sample(
        docs,
        "doc_id",
        "lang",
        {"en": 0.25, "zh": 0.5, "de": 1.0, "fr": 1.0},
        salt="mix",
    )
    u = sampling.hash_uniform("doc_id", "mix")
    return kept.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_kept"), F.round(F.sum(u), 6).alias("u_sum")
    )


# =====================================================================
# Near-dup GROUPS: connected components over the MinHash pair graph
# (pairs alone don't dedup — transitive chains must collapse to one
# survivor per component). Spark side: iterative min-label
# propagation, one shuffle per round, rounds = component diameter.
# DuckDB replays it as WITH RECURSIVE min-reachable-label over the
# same ground-truth exact-Jaccard edges the q32 oracle brute-forces.
# =====================================================================
@q(
    "q52_dedup_components",
    r"""
    WITH RECURSIVE
    sh AS (
      SELECT doc_id,
             CASE WHEN strlen(lower(text)) >= 5 THEN
               list_distinct(list_transform(
                 generate_series(1, strlen(lower(text)) - 4),
                 i -> substr(lower(text), i, 5)))
             ELSE [lower(text)] END AS s
      FROM documents
    ),
    pairs AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b
      FROM sh a JOIN sh b ON a.doc_id < b.doc_id
      WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
                 / len(list_distinct(list_concat(a.s, b.s))) >= 0.7
    ),
    edges AS (
      SELECT id_a AS u, id_b AS v FROM pairs
      UNION ALL
      SELECT id_b AS u, id_a AS v FROM pairs
    ),
    reach(node, label) AS (
      SELECT u, u FROM edges
      UNION
      SELECT e.u, r.label FROM edges e JOIN reach r ON r.node = e.v
    ),
    comp AS (SELECT node, MIN(label) AS component FROM reach GROUP BY node)
    SELECT d.doc_id,
           COALESCE(c.component, d.doc_id) AS component,
           (COALESCE(c.component, d.doc_id) = d.doc_id) AS is_survivor
    FROM documents d LEFT JOIN comp c ON c.node = d.doc_id
    """,
)
def q52(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbt_incremental_ci_spark.operators import components as cc

    docs = t(spark, sf_dir, "documents")
    pairs = dedup.minhash_dedup_pairs(docs, "doc_id", "text", threshold=0.7)
    return cc.dedup_components(
        docs.select("doc_id"), pairs.select("id_a", "id_b"), "doc_id"
    )


# =====================================================================
# Window-function breadth: ntile quartiles, cume_dist, nth_value.
# Ordering carries the c_custkey tiebreak on BOTH sides so tied
# balances bucket identically; nth_value uses an explicit full frame
# (DuckDB's default frame stops at the current row, Spark's nth_value
# needs unbounded-following to see the 2nd row from everywhere).
# =====================================================================
@q(
    "q53_window_family",
    """
    SELECT c_custkey,
           c_mktsegment,
           ntile(4) OVER w AS balance_quartile,
           ROUND(cume_dist() OVER w, 6) AS balance_cume,
           nth_value(c_custkey, 2) OVER
             (PARTITION BY c_mktsegment ORDER BY c_acctbal, c_custkey
              ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
               AS second_poorest
    FROM customer
    WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal, c_custkey)
    """,
)
def q53(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = t(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy("c_acctbal", "c_custkey")
    wfull = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return cust.select(
        "c_custkey",
        "c_mktsegment",
        F.ntile(4).over(w).alias("balance_quartile"),
        F.round(F.cume_dist().over(w), 6).alias("balance_cume"),
        F.nth_value("c_custkey", 2).over(wfull).alias("second_poorest"),
    )


# =====================================================================
# Set operations: INTERSECT / EXCEPT (distinct semantics both sides).
# =====================================================================
@q(
    "q54_set_ops",
    """
    SELECT 'both' AS tag, nk FROM (
      SELECT c_nationkey AS nk FROM customer
      INTERSECT
      SELECT s_nationkey AS nk FROM supplier)
    UNION ALL
    SELECT 'customer_only' AS tag, nk FROM (
      SELECT c_nationkey AS nk FROM customer
      EXCEPT
      SELECT s_nationkey AS nk FROM supplier)
    """,
)
def q54(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = t(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nk"))
    supp = t(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nk"))
    both = cust.intersect(supp).select(F.lit("both").alias("tag"), "nk")
    # subtract == SQL EXCEPT (distinct semantics)
    only = cust.subtract(supp).select(F.lit("customer_only").alias("tag"), "nk")
    return both.unionByName(only)


# =====================================================================
# CUBE + grouping_id (all four grouping combinations in one pass —
# Spark expands the cube map-side, one shuffle). gid bit order is
# (first col = MSB) in both engines; DuckDB spells it GROUPING(a, b).
# =====================================================================
@q(
    "q55_cube",
    """
    SELECT COALESCE(o_orderstatus, 'ALL') AS status,
           COALESCE(o_orderpriority, 'ALL') AS priority,
           CAST(GROUPING(o_orderstatus, o_orderpriority) AS BIGINT) AS gid,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
)
def q55(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = t(spark, sf_dir, "orders")
    return (
        orders.cube("o_orderstatus", "o_orderpriority")
        .agg(
            F.grouping_id().cast("bigint").alias("gid"),
            d(F.sum(dec("o_totalprice"))).alias("total"),
            F.count(F.lit(1)).alias("n"),
        )
        .select(
            F.coalesce("o_orderstatus", F.lit("ALL")).alias("status"),
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("priority"),
            "gid",
            "total",
            "n",
        )
    )


# =====================================================================
# UNPIVOT (wide → long): stack() in Spark, spelled as UNION ALL in the
# oracle (engine-portable). Decimal-cast before the per-measure sums.
# =====================================================================
@q(
    "q56_unpivot",
    """
    SELECT measure, CAST(SUM(v) AS DOUBLE) AS total,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM (
      SELECT 'extendedprice' AS measure,
             CAST(l_extendedprice AS DECIMAL(18,2)) AS v FROM lineitem
      UNION ALL
      SELECT 'discount', CAST(l_discount AS DECIMAL(18,2)) FROM lineitem
      UNION ALL
      SELECT 'tax', CAST(l_tax AS DECIMAL(18,2)) FROM lineitem
    )
    GROUP BY measure
    """,
)
def q56(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    long = li.select(
        F.expr(
            "stack(3, 'extendedprice', CAST(l_extendedprice AS DECIMAL(18,2)),"
            " 'discount', CAST(l_discount AS DECIMAL(18,2)),"
            " 'tax', CAST(l_tax AS DECIMAL(18,2))) AS (measure, v)"
        )
    )
    return long.groupBy("measure").agg(
        d(F.sum("v")).alias("total"), F.count(F.lit(1)).alias("n")
    )


# =====================================================================
# Lateral explode / unnest: tokenize documents and count word
# frequencies per language (top-5 with deterministic tiebreak). The
# explode is map-side — no shuffle until the count agg; DuckDB's
# unnest over string_split_regex is the exact twin of the \s+ split.
# =====================================================================
@q(
    "q57_explode_tokens",
    r"""
    WITH words AS (
      SELECT lang, lower(w) AS word
      FROM documents,
           unnest(string_split_regex(trim(text), '\s+')) AS u(w)
      WHERE strlen(trim(text)) > 0
    ),
    counts AS (
      SELECT lang, word, CAST(COUNT(*) AS BIGINT) AS n
      FROM words GROUP BY lang, word
    )
    SELECT lang, word, n, CAST(rnk AS INT) AS rnk FROM (
      SELECT *, row_number() OVER (PARTITION BY lang
                                   ORDER BY n DESC, word) AS rnk
      FROM counts
    ) WHERE rnk <= 5
    """,
)
def q57(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    words = (
        docs.filter(F.length(F.trim("text")) > 0)
        .select(
            "lang",
            F.explode(F.split(F.trim("text"), r"\s+")).alias("w"),
        )
        .select("lang", F.lower("w").alias("word"))
    )
    counts = words.groupBy("lang", "word").agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("lang").orderBy(F.col("n").desc(), F.col("word"))
    return (
        counts.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 5)
        .withColumn("rnk", F.col("rnk").cast("int"))
    )


# =====================================================================
# Fuzzy entity matching: blocked levenshtein self-join (the
# entity-resolution primitive). Blocking on nation bounds the pair
# space to per-block quadratics (the same block-then-verify shape as
# the LSH dedup pipelines — never an unblocked cartesian); edit
# distance is a JVM built-in on both engines.
# =====================================================================
@q(
    "q58_fuzzy_match",
    """
    SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
           CAST(levenshtein(a.c_name, b.c_name) AS INT) AS dist
    FROM customer a JOIN customer b
      ON a.c_nationkey = b.c_nationkey AND a.c_custkey < b.c_custkey
    WHERE levenshtein(a.c_name, b.c_name) <= 1
    """,
)
def q58(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Deletion-neighborhood (FastSS) blocking: lev(a,b) <= 1 iff the
    # {s} ∪ del1(s) variant sets intersect, so the plan is one shuffle
    # on (nation, variant) + bounded levenshtein verify on candidates —
    # LINEAR in rows where the old per-nation all-pairs broadcast was
    # quadratic in block size (49.7× wall for the 10× sf1 step; this
    # plan steps ~linearly). Semantics identical to the oracle's
    # all-pairs SQL — blocking is exact for edit distance 1.
    from dbt_incremental_ci_spark.operators.fuzzy import edit_distance_pairs
    from dbt_incremental_ci_spark.operators.scaling import ensure_min_parallelism

    cust = ensure_min_parallelism(
        t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey", "c_name")
    )
    return edit_distance_pairs(
        cust, "c_custkey", "c_name", block_cols=["c_nationkey"]
    ).select("id_a", "id_b", "dist")


# =====================================================================
# Explicit ROWS-frame windows: 7-row moving average and running sum of
# daily revenue (the reference uses only default frames — this covers
# the bounded-frame surface). The unpartitioned window is safe HERE
# because it runs on the post-aggregation daily table (|days| rows,
# thousands at any SF), never on the fact table — the same
# aggregate-then-window shape as the reference's trend models.
# =====================================================================
@q(
    "q59_moving_avg",
    """
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS day,
             SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
      FROM orders GROUP BY 1
    )
    SELECT day,
           ROUND(CAST(SUM(rev) OVER (ORDER BY day
                 ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS DOUBLE)
                 / COUNT(*) OVER (ORDER BY day
                 ROWS BETWEEN 6 PRECEDING AND CURRENT ROW), 4) AS ma7,
           ROUND(CAST(SUM(rev) OVER (ORDER BY day
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS DOUBLE), 4) AS cum_rev
    FROM daily
    """,
)
def q59(spark: SparkSession, sf_dir: str) -> DataFrame:
    # window sums stay DECIMAL (exact in any accumulation order /
    # segment-tree shape); the double cast + divide happen on already-
    # exact values, so both engines round the same number
    orders = t(spark, sf_dir, "orders")
    daily = orders.groupBy(
        F.col("o_orderdate").cast("date").alias("day")
    ).agg(F.sum(dec("o_totalprice")).alias("rev"))
    w = Window.orderBy("day")
    ma = w.rowsBetween(-6, Window.currentRow)
    cum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return daily.select(
        "day",
        F.round(
            d(F.sum("rev").over(ma)) / F.count(F.lit(1)).over(ma), 4
        ).alias("ma7"),
        F.round(d(F.sum("rev").over(cum)), 4).alias("cum_rev"),
    )


# =====================================================================
# Date-function breadth: date_trunc / add_months / last_day / datediff
# / quarter (beyond the §2.9 shim families). Spark's date_trunc emits
# TIMESTAMP — cast back to DATE on both sides; month addition clamps
# month-ends identically in both engines.
# =====================================================================
@q(
    "q60_date_functions",
    """
    SELECT o_orderkey,
           CAST(date_trunc('month', CAST(o_orderdate AS DATE)) AS DATE)
               AS order_month,
           CAST(CAST(o_orderdate AS DATE) + INTERVAL 3 MONTH AS DATE)
               AS plus3m,
           last_day(CAST(o_orderdate AS DATE)) AS month_end,
           CAST(date_diff('day', DATE '1995-01-01',
                          CAST(o_orderdate AS DATE)) AS INT) AS days_since_epoch,
           CAST(quarter(o_orderdate) AS INT) AS qtr
    FROM orders
    """,
)
def q60(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = t(spark, sf_dir, "orders")
    day = F.col("o_orderdate").cast("date")
    return orders.select(
        "o_orderkey",
        F.date_trunc("month", day).cast("date").alias("order_month"),
        F.add_months(day, 3).alias("plus3m"),
        F.last_day(day).alias("month_end"),
        F.datediff(day, F.lit("1995-01-01").cast("date"))
        .cast("int")
        .alias("days_since_epoch"),
        F.quarter("o_orderdate").cast("int").alias("qtr"),
    )


# =====================================================================
# String-function breadth: lpad/rpad, split_part, instr/strpos,
# translate, reverse, left — identical semantics across engines.
# =====================================================================
@q(
    "q61_string_functions",
    """
    SELECT p_partkey,
           lpad(CAST(p_partkey AS VARCHAR), 10, '0') AS padded_key,
           split_part(p_name, ' ', 1) AS first_word,
           CAST(strpos(p_name, 'a') AS INT) AS first_a,
           translate(p_brand, '#', '-') AS brand_dashed,
           reverse(left(p_name, 5)) AS rev5,
           rpad(p_type, 12, '.') AS type_padded
    FROM part
    """,
)
def q61(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = t(spark, sf_dir, "part")
    return part.select(
        "p_partkey",
        F.lpad(F.col("p_partkey").cast("string"), 10, "0").alias("padded_key"),
        F.split_part("p_name", F.lit(" "), F.lit(1)).alias("first_word"),
        F.instr("p_name", "a").cast("int").alias("first_a"),
        F.translate("p_brand", "#", "-").alias("brand_dashed"),
        F.reverse(F.expr("left(p_name, 5)")).alias("rev5"),
        F.rpad("p_type", 12, ".").alias("type_padded"),
    )


def _lsh_topk_oracle() -> str:
    """Full value oracle for the LSH ANN path: the hyperplanes are
    deterministic hash-derived constants, so they inline into SQL as
    literal arrays and DuckDB reproduces bucket assignment + ranking."""
    from dbt_incremental_ci_spark.operators.similarity import _hyperplane

    def arr(plane: list[float]) -> str:
        return "[" + ",".join(repr(x) for x in plane) + "]"

    def bucket(col: str) -> str:
        terms = [
            f"(CASE WHEN list_dot_product({col}::DOUBLE[], {arr(_hyperplane(64, p, 42))})"
            f" >= 0 THEN {1 << p} ELSE 0 END)"
            for p in range(6)
        ]
        return "(" + " + ".join(terms) + ")"

    return f"""
    WITH c AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv,
                      {bucket('embedding')} AS bkt
               FROM embeddings),
    qs AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv,
                  {bucket('embedding')} AS qbkt
           FROM embeddings WHERE vec_id < 10),
    scored AS (
      SELECT qs.query_id, c.neighbor_id,
             ROUND(list_dot_product(qs.qv, c.cv)
                   / NULLIF(sqrt(list_dot_product(qs.qv, qs.qv))
                            * sqrt(list_dot_product(c.cv, c.cv)), 0), 6) AS cosine
      FROM qs JOIN c ON c.bkt = qs.qbkt AND c.neighbor_id <> qs.query_id
    )
    SELECT query_id, neighbor_id, cosine, CAST(rank AS INT) AS rank FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY cosine DESC, neighbor_id) AS rank
      FROM scored
    ) WHERE rank <= 5
    """


ORACLES["q34_lsh_ann_topk"] = _lsh_topk_oracle()


# =====================================================================
# TF-IDF top terms per document (text-analysis breadth for the
# training-data pipeline). Shape: explode → two hash aggs (term
# frequency, document frequency) → join → per-doc top-k window. The
# doc-frequency join keys on the term — vocabulary is heavy-tailed, so
# this stays a shuffle join under AQE (broadcasting a 100 TB corpus
# vocabulary is not an option); the corpus size N rides along as a
# broadcast single-row cross join, never a driver-side collect.
# Determinism: tf/doc_len/df are exact integers; ln and the divides are
# IEEE-deterministic on them; round(…, 6) before ranking; word
# tiebreak.
# =====================================================================
@q(
    "q62_tfidf_top_terms",
    r"""
    WITH words AS (
      SELECT doc_id, lower(w) AS word
      FROM documents,
           unnest(string_split_regex(trim(text), '\s+')) AS u(w)
      WHERE strlen(trim(text)) > 0
    ),
    tf AS (
      SELECT doc_id, word, CAST(COUNT(*) AS BIGINT) AS tf
      FROM words GROUP BY doc_id, word
    ),
    doclen AS (
      SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS doc_len FROM tf GROUP BY doc_id
    ),
    dfreq AS (
      SELECT word, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY word
    ),
    n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM doclen),
    scored AS (
      SELECT t.doc_id, t.word, t.tf,
             ROUND((CAST(t.tf AS DOUBLE) / dl.doc_len)
                   * (ln((n.n_docs + 1.0) / (d.df + 1.0)) + 1.0), 6) AS tfidf
      FROM tf t
      JOIN doclen dl USING (doc_id)
      JOIN dfreq d USING (word)
      CROSS JOIN n
    )
    SELECT doc_id, word, tf, tfidf, CAST(rnk AS INT) AS rnk FROM (
      SELECT *, row_number() OVER (PARTITION BY doc_id
                                   ORDER BY tfidf DESC, word) AS rnk
      FROM scored
    ) WHERE rnk <= 3
    """,
)
def q62(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    words = (
        docs.filter(F.length(F.trim("text")) > 0)
        .select("doc_id", F.explode(F.split(F.trim("text"), r"\s+")).alias("w"))
        .select("doc_id", F.lower("w").alias("word"))
    )
    tf = words.groupBy("doc_id", "word").agg(F.count(F.lit(1)).alias("tf"))
    doclen = tf.groupBy("doc_id").agg(F.sum("tf").alias("doc_len"))
    dfreq = tf.groupBy("word").agg(F.count(F.lit(1)).alias("df"))
    n = doclen.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(doclen, "doc_id")
        .join(dfreq, "word")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "word",
            "tf",
            F.round(
                (F.col("tf").cast("double") / F.col("doc_len"))
                * (
                    F.log(
                        (F.col("n_docs") + F.lit(1.0)) / (F.col("df") + F.lit(1.0))
                    )
                    + F.lit(1.0)
                ),
                6,
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), F.col("word"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .withColumn("rnk", F.col("rnk").cast("int"))
    )


# =====================================================================
# Histogram binning: fixed-bound equal-width buckets as pure integer
# arithmetic (no two-pass min/max, no sort — one hash agg at any
# scale), plus each bucket's share of rows via a broadcast single-row
# total (the scale-safe rewrite of `over ()`, same as q15).
# =====================================================================
@q(
    "q63_histogram",
    """
    WITH b AS (
      SELECT LEAST(GREATEST(CAST(FLOOR(o_totalprice / 30000.0) AS INT), 0), 19)
                 AS bucket,
             CAST(o_totalprice AS DECIMAL(18,2)) AS price
      FROM orders
    ),
    agg AS (
      SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(price) AS DOUBLE) AS total
      FROM b GROUP BY bucket
    ),
    tot AS (SELECT CAST(SUM(n) AS BIGINT) AS all_n FROM agg)
    SELECT bucket, n, total, ROUND(CAST(n AS DOUBLE) / all_n, 6) AS share
    FROM agg CROSS JOIN tot
    """,
)
def q63(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = t(spark, sf_dir, "orders")
    bucket = F.least(
        F.greatest(F.floor(F.col("o_totalprice") / 30000.0).cast("int"), F.lit(0)),
        F.lit(19),
    )
    agg = orders.groupBy(bucket.alias("bucket")).agg(
        F.count(F.lit(1)).alias("n"),
        d(F.sum(dec("o_totalprice"))).alias("total"),
    )
    tot = agg.agg(F.sum("n").alias("all_n"))
    return agg.crossJoin(F.broadcast(tot)).select(
        "bucket",
        "n",
        "total",
        F.round(F.col("n").cast("double") / F.col("all_n"), 6).alias("share"),
    )


# =====================================================================
# Per-group z-score normalization (feature scaling for training
# pipelines). stddev over doubles is accumulation-order-dependent, so
# the moments are computed as EXACT integer sums (n, Σx, Σx²) — one
# hash agg — and mean/variance derived from them in closed form; the
# derivation is bit-identical in any engine, so z-scores hash-match
# without tolerance. The tiny per-group moment table broadcasts back
# onto the fact side.
# =====================================================================
@q(
    "q64_zscore_normalize",
    """
    WITH m AS (
      SELECT lang, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(n_chars) AS BIGINT) AS s,
             CAST(SUM(n_chars * n_chars) AS BIGINT) AS ss
      FROM documents GROUP BY lang
    )
    SELECT d.doc_id, d.lang, d.n_chars,
           ROUND((d.n_chars - CAST(m.s AS DOUBLE) / m.n)
                 / NULLIF(sqrt((m.ss - CAST(m.s AS DOUBLE) * m.s / m.n)
                               / NULLIF(m.n - 1, 0)), 0), 4) AS z
    FROM documents d JOIN m USING (lang)
    """,
)
def q64(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    m = docs.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("n_chars").alias("s"),
        F.sum(F.col("n_chars") * F.col("n_chars")).alias("ss"),
    )
    mean = F.col("s").cast("double") / F.col("n")
    var = (F.col("ss") - F.col("s").cast("double") * F.col("s") / F.col("n")) / F.nullif(
        (F.col("n") - 1).cast("bigint"), F.lit(0).cast("bigint")
    )
    return docs.join(F.broadcast(m), "lang").select(
        "doc_id",
        "lang",
        "n_chars",
        F.round(
            (F.col("n_chars") - mean) / F.nullif(F.sqrt(var), F.lit(0.0)), 4
        ).alias("z"),
    )


# =====================================================================
# Hopping (sliding) windows: 10-minute windows every 5 minutes via the
# NATIVE F.window(…, windowDuration, slideDuration) operator — each
# event lands in W/H = 2 windows, expanded map-side before the single
# hash agg. events.ts arrives as raw nanoseconds (see events_table);
# truncating to microseconds feeds Spark's timestamp windowing, and
# the oracle replays the same epoch-µs arithmetic. Window starts are
# emitted as epoch seconds (H divides them exactly).
# =====================================================================
@q(
    "q65_hopping_windows",
    """
    WITH e AS (
      SELECT epoch_ns(ts) // 1000 AS us,
             CAST(value AS DECIMAL(18,2)) AS v
      FROM events
    ),
    expanded AS (
      SELECT ((us // 300000000) - k.k) * 300 AS win_start,
             v
      FROM e, (SELECT unnest([0, 1]) AS k) k
    )
    SELECT CAST(win_start AS BIGINT) AS win_start,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(v) AS DOUBLE) AS total_value
    FROM expanded GROUP BY win_start
    """,
)
def q65(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = events_table(spark, sf_dir)
    tstamp = F.timestamp_micros(F.expr("ts DIV 1000"))
    return (
        ev.select(tstamp.alias("t"), dec("value").alias("v"))
        .groupBy(F.window("t", "10 minutes", "5 minutes").alias("win"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            d(F.sum("v")).alias("total_value"),
        )
        .select(
            F.col("win.start").cast("long").alias("win_start"),
            "n_events",
            "total_value",
        )
    )


# =====================================================================
# Incremental aggregate maintenance: history and new batch are each
# reduced to mergeable state (count + decimal sum — a commutative
# monoid), then merged with a second O(|keys|) aggregation; avg is
# derived at read time. At 100 TB the history state is a stored table
# and only the batch is scanned — the oracle (one flat aggregate over
# everything) IS the semantics being preserved. Operator:
# operators/aggstate.py; split/merge equivalence property-tested in
# tests.
# =====================================================================
@q(
    "q66_partial_agg_merge",
    """
    SELECT o_custkey,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                 / COUNT(*) AS avg_price
    FROM orders GROUP BY o_custkey
    """,
)
def q66(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbt_incremental_ci_spark.operators import aggstate

    orders = t(spark, sf_dir, "orders").withColumn(
        "price", dec("o_totalprice")
    )
    cutoff = F.lit("1997-01-01").cast("timestamp_ntz")
    measures = {"n_orders": ("count", "o_custkey"), "total_dec": ("sum", "price")}
    history = aggstate.partial_agg(
        orders.filter(F.col("o_orderdate") < cutoff), ["o_custkey"], measures
    )
    batch = aggstate.partial_agg(
        orders.filter(F.col("o_orderdate") >= cutoff), ["o_custkey"], measures
    )
    merged = aggstate.merge_partials([history, batch], ["o_custkey"], measures)
    return merged.select(
        "o_custkey",
        "n_orders",
        d(F.col("total_dec")).alias("total"),
        # no round: the quotient of an exact decimal-derived double by an
        # int is the same IEEE double in every engine; rounding a
        # halfway repr is what diverges (q01's avg_qty rule)
        (d(F.col("total_dec")) / F.col("n_orders")).alias("avg_price"),
    )


# =====================================================================
# Array-function breadth over the embedding column: size / array_max /
# array_min / array_position / slice — all JVM built-ins, no UDFs. The
# 8-element head sum is written as explicit left-associated element
# adds so both engines accumulate in the same order (a fold over the
# full vector is q29's job; per-element expansion beyond ~8 terms is
# the documented plan-bloat landmine — docs/SCALE.md).
# =====================================================================
_Q67_SQL = """
    SELECT vec_id,
           CAST(len(embedding) AS INT) AS dim,
           ROUND(CAST(list_max(embedding) AS DOUBLE), 6) AS vmax,
           ROUND(CAST(list_min(embedding) AS DOUBLE), 6) AS vmin,
           CAST(list_position(embedding, list_max(embedding)) AS INT) AS pos_max,
           ROUND(CAST(embedding[1] AS DOUBLE) + CAST(embedding[2] AS DOUBLE)
                 + CAST(embedding[3] AS DOUBLE) + CAST(embedding[4] AS DOUBLE)
                 + CAST(embedding[5] AS DOUBLE) + CAST(embedding[6] AS DOUBLE)
                 + CAST(embedding[7] AS DOUBLE) + CAST(embedding[8] AS DOUBLE),
                 6) AS head_sum,
           CAST(len(list_filter(embedding, x -> x > 0)) AS INT) AS n_pos
    FROM embeddings
    """


def _q68_oracle() -> str:
    from dbt_incremental_ci_spark.operators.sampling import hash_uniform_sql

    u = hash_uniform_sql("doc_id", "curate")
    return rf"""
    WITH tok AS (
      SELECT doc_id, lang, text,
             list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS toks,
             length(text) AS nc,
             length(regexp_replace(text, '[^[:punct:]]', '', 'g')) AS np
      FROM documents
    ),
    scored AS (
      SELECT doc_id, lang, text, CAST(len(toks) AS INT) AS n_tokens,
             ROUND(0.5 * least(CAST(len(toks) AS DOUBLE) / 64.0, 1.0)
                   + 0.5 * (CASE WHEN len(toks) > 0
                                 THEN CAST(len(list_distinct(toks)) AS DOUBLE)
                                      / len(toks) ELSE 0 END)
                   - least(CASE WHEN nc > 0
                                THEN CAST(np AS DOUBLE) / nc ELSE 0 END,
                           0.5), 6) AS quality
      FROM tok
    ),
    kept AS (SELECT * FROM scored WHERE quality >= 0.60),
    dedup AS (
      SELECT * FROM (
        SELECT *, row_number() OVER (PARTITION BY md5(text)
                                     ORDER BY doc_id) AS rn
        FROM kept
      ) WHERE rn = 1
    )
    SELECT doc_id, lang, n_tokens, quality
    FROM dedup WHERE {u} < 0.5
    """


# =====================================================================
# End-to-end curation pipeline — the composed shape a 100 TB
# training-data run actually executes: quality gate (per-row Column
# math, map-side) → exact dedup (one shuffle on the content digest,
# survivor = min id) → deterministic hash sample (per-row filter,
# key-stable across reruns/engines/partitionings). Only ONE shuffle in
# the whole pipeline; every stage reuses an operator that is
# individually oracled (q27 quality, q26 dedup, q41 sampling).
# =====================================================================
@q("q68_curation_pipeline", _q68_oracle())
def q68(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbt_incremental_ci_spark.operators import sampling

    docs = t(spark, sf_dir, "documents")
    scored = docs.select(
        "doc_id",
        "lang",
        "text",
        text.token_count("text").alias("n_tokens"),
        F.round(text.quality_score("text"), 6).alias("quality"),
    )
    kept = scored.filter(F.col("quality") >= 0.60)
    w = Window.partitionBy(F.md5("text")).orderBy("doc_id")
    deduped = kept.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1)
    return deduped.filter(sampling.hash_uniform("doc_id", "curate") < 0.5).select(
        "doc_id", "lang", "n_tokens", "quality"
    )


# =====================================================================
# Heavy hitters via approx_top_k (Spark 4's frequent-items sketch —
# mergeable, one pass, no global sort; the 100 TB replacement for
# ORDER BY count DESC LIMIT k over a high-cardinality domain). The
# sketch tracks 10k items, far above this domain's cardinality, so
# reported counts are exact and the oracle is the exact top-k; on a
# larger-than-tracked domain the contract would weaken to
# within-tolerance (q40's pattern).
# =====================================================================
@q(
    "q69_heavy_hitters",
    """
    SELECT event_type, CAST(cnt AS BIGINT) AS cnt, CAST(rnk AS INT) AS rnk
    FROM (
      SELECT event_type, COUNT(*) AS cnt,
             row_number() OVER (ORDER BY COUNT(*) DESC, event_type) AS rnk
      FROM events GROUP BY event_type
    ) WHERE rnk <= 3
    """,
)
def q69(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = events_table(spark, sf_dir)
    topk = ev.agg(F.expr("approx_top_k(event_type, 3)").alias("tk"))
    item = F.explode("tk").alias("e")
    return (
        topk.select(item)
        .select(
            F.col("e.item").alias("event_type"),
            F.col("e.count").cast("bigint").alias("cnt"),
        )
        .withColumn(
            "rnk",
            F.row_number()
            .over(Window.orderBy(F.col("cnt").desc(), F.col("event_type")))
            .cast("int"),
        )
    )


# =====================================================================
# Mergeable HLL sketch state — q66's incremental-aggregate-maintenance
# pattern extended to APPROX-DISTINCT: per-month sketches built
# independently over history and new batch (hll_sketch_agg), merged
# with hll_union_agg (the sketch is the monoid state; a stored state
# table needs only the batch scanned per run), estimate checked
# against exact COUNT(DISTINCT) with a tolerance contract (HLL lgK=12
# rel. err ≈1.6% ≪ the 5% gate). Estimates are engine-specific, so
# the oracle pins the exact counts + the contract boolean (q40 rule).
# =====================================================================
@q(
    "q70_hll_merge",
    """
    SELECT CAST(date_trunc('month', CAST(o_orderdate AS DATE)) AS DATE) AS month,
           CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS exact_custs,
           TRUE AS within_tolerance
    FROM orders GROUP BY 1
    """,
)
def q70(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = t(spark, sf_dir, "orders")
    month = F.date_trunc("month", F.col("o_orderdate").cast("date")).cast("date")
    cutoff = F.lit("1997-01-01").cast("timestamp_ntz")
    sketch = lambda df: df.groupBy(month.alias("month")).agg(  # noqa: E731
        F.expr("hll_sketch_agg(o_custkey)").alias("sk")
    )
    history = sketch(orders.filter(F.col("o_orderdate") < cutoff))
    batch = sketch(orders.filter(F.col("o_orderdate") >= cutoff))
    merged = (
        history.unionByName(batch)
        .groupBy("month")
        .agg(F.expr("hll_sketch_estimate(hll_union_agg(sk))").alias("approx_custs"))
    )
    exact = orders.groupBy(month.alias("month")).agg(
        F.countDistinct("o_custkey").alias("exact_custs")
    )
    err = F.abs(F.col("approx_custs") - F.col("exact_custs")) / F.col("exact_custs")
    return exact.join(merged, "month").select(
        "month", "exact_custs", (err <= 0.05).alias("within_tolerance")
    )


# =====================================================================
# Bitmap-accelerated EXACT distinct (the roaring-bitmap technique of
# Doris/ClickHouse/Databricks, on Spark built-ins): keys map to
# (bucket, bit-position); per (group, bucket) a fixed 4 KB bitmap is
# OR-aggregated, then bitmap_count sums per group. Two cheap hash aggs
# — no count-distinct sort/dedup state, fully mergeable across
# incremental batches — and the result is EXACT, so the oracle is the
# plain COUNT(DISTINCT).
# =====================================================================
@q(
    "q71_bitmap_distinct",
    """
    SELECT l_returnflag,
           CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS n_supp
    FROM lineitem GROUP BY l_returnflag
    """,
)
def q71(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    per_bucket = li.groupBy(
        "l_returnflag",
        F.expr("bitmap_bucket_number(l_suppkey)").alias("bucket"),
    ).agg(F.expr("bitmap_construct_agg(bitmap_bit_position(l_suppkey))").alias("bm"))
    return per_bucket.groupBy("l_returnflag").agg(
        F.sum(F.expr("bitmap_count(bm)")).alias("n_supp")
    )


# =====================================================================
# Regression aggregates (regr_slope / regr_intercept / regr_r2).
# Built-in regr_* accumulate doubles (order-dependent), so the
# hash-compared values are closed forms over EXACT decimal moments
# (q64's rule: n, Σx, Σy, Σxy, Σx², Σy² — decimal sums are exact in
# any order); the built-ins are exercised in-plan and pinned to the
# exact-moment values by 1e-6 consistency flags.
# =====================================================================
@q(
    "q72_regression",
    """
    WITH m AS (
      SELECT l_returnflag,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sx,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sy,
             CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))
                      * CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sxy,
             CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))
                      * CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sxx,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                      * CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS syy
      FROM lineitem GROUP BY l_returnflag
    )
    SELECT l_returnflag, n,
           ROUND((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS slope,
           ROUND((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n, 6)
               AS intercept,
           ROUND(((n * sxy - sx * sy) * (n * sxy - sx * sy))
                 / ((n * sxx - sx * sx) * (n * syy - sy * sy)), 6) AS r2,
           TRUE AS regr_consistent
    FROM m
    """,
)
def q72(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    x, y = dec("l_quantity"), dec("l_extendedprice")
    m = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        d(F.sum(x)).alias("sx"),
        d(F.sum(y)).alias("sy"),
        d(F.sum(x * y)).alias("sxy"),
        d(F.sum(x * x)).alias("sxx"),
        d(F.sum(y * y)).alias("syy"),
        F.regr_slope(F.col("l_extendedprice"), F.col("l_quantity")).alias("b_slope"),
        F.regr_intercept(F.col("l_extendedprice"), F.col("l_quantity")).alias(
            "b_icpt"
        ),
        F.regr_r2(F.col("l_extendedprice"), F.col("l_quantity")).alias("b_r2"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxy, sxx, syy = F.col("sxy"), F.col("sxx"), F.col("syy")
    slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    icpt = (sy - slope * sx) / n
    r2 = ((n * sxy - sx * sy) * (n * sxy - sx * sy)) / (
        (n * sxx - sx * sx) * (n * syy - sy * sy)
    )
    consistent = (
        (F.abs(F.col("b_slope") - slope) < 1e-6)
        & (F.abs(F.col("b_icpt") - icpt) < 1e-6)
        & (F.abs(F.col("b_r2") - r2) < 1e-6)
    )
    return m.select(
        "l_returnflag",
        "n",
        F.round(slope, 6).alias("slope"),
        F.round(icpt, 6).alias("intercept"),
        F.round(r2, 6).alias("r2"),
        consistent.alias("regr_consistent"),
    )


# =====================================================================
# posexplode — ordinal-preserving lateral explode (token position
# features for sequence models). Map-side expansion, no shuffle at
# all; DuckDB replays ordinals via a two-arg list_transform lambda
# (WITH ORDINALITY is unsupported there).
# =====================================================================
@q(
    "q73_posexplode",
    r"""
    SELECT doc_id, CAST(e.pos AS INT) AS pos, e.tok
    FROM (
      SELECT doc_id,
             unnest(list_transform(string_split_regex(trim(text), '\s+'),
                                   (x, i) -> {'pos': i - 1, 'tok': x})) AS e
      FROM documents
      WHERE strlen(trim(text)) > 0
    )
    """,
)
def q73(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    return (
        docs.filter(F.length(F.trim("text")) > 0)
        .select(
            "doc_id",
            F.posexplode(F.split(F.trim("text"), r"\s+")).alias("pos", "tok"),
        )
        .withColumn("pos", F.col("pos").cast("int"))
    )


# =====================================================================
# GROUPING SETS — the general form behind q39's ROLLUP and q55's CUBE:
# explicitly chosen grouping combinations, one pass, grouping() flags
# disambiguating the all-rows NULL from a real NULL.
# =====================================================================
@q(
    "q74_grouping_sets",
    """
    SELECT COALESCE(o_orderstatus, 'ALL') AS status,
           COALESCE(o_orderpriority, 'ALL') AS priority,
           CAST(GROUPING(o_orderstatus) * 2 + GROUPING(o_orderpriority) AS INT)
               AS gid,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
    """,
)
def q74(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = t(spark, sf_dir, "orders")
    orders.createOrReplaceTempView("__q74_orders")
    return spark.sql(
        """
        SELECT COALESCE(o_orderstatus, 'ALL') AS status,
               COALESCE(o_orderpriority, 'ALL') AS priority,
               CAST(GROUPING(o_orderstatus) * 2 + GROUPING(o_orderpriority) AS INT)
                   AS gid,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        FROM __q74_orders
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        """
    )


# =====================================================================
# Null-safety scalar family: try_divide / try_cast (Spark runs ANSI
# mode — plain ÷0 or bad casts THROW; the try_* forms return NULL,
# which is what a 100 TB pipeline wants instead of a 3 a.m. job
# abort), ifnull / nvl2 / nullif, null-safe equality (<=>, DuckDB
# IS NOT DISTINCT FROM). NULLs are PLANTED (every 7th key) so every
# branch actually fires.
# =====================================================================
@q(
    "q75_null_safety",
    """
    WITH c AS (
      SELECT c_custkey,
             CASE WHEN c_custkey % 7 = 0 THEN NULL ELSE c_name END AS name_opt,
             c_acctbal, c_mktsegment
      FROM customer
    )
    SELECT c_custkey,
           CASE WHEN (c_custkey % 5) = 0 THEN NULL
                ELSE c_acctbal / (c_custkey % 5) END AS safe_div,
           TRY_CAST(name_opt AS INTEGER) AS name_as_int,
           ifnull(name_opt, 'missing') AS name_or_default,
           CASE WHEN name_opt IS NOT NULL THEN 'has' ELSE 'none' END AS name_flag,
           nullif(c_mktsegment, 'BUILDING') AS seg_not_building,
           (name_opt IS NOT DISTINCT FROM NULL) AS name_null_safe_eq
    FROM c
    """,
)
def q75(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = t(spark, sf_dir, "customer")
    name_opt = F.when(F.col("c_custkey") % 7 == 0, F.lit(None)).otherwise(
        F.col("c_name")
    )
    return cust.select(
        "c_custkey",
        F.try_divide(F.col("c_acctbal"), F.col("c_custkey") % 5).alias("safe_div"),
        name_opt.try_cast("int").alias("name_as_int"),
        F.ifnull(name_opt, F.lit("missing")).alias("name_or_default"),
        F.nvl2(name_opt, F.lit("has"), F.lit("none")).alias("name_flag"),
        F.nullif(F.col("c_mktsegment"), F.lit("BUILDING")).alias("seg_not_building"),
        name_opt.eqNullSafe(F.lit(None).cast("string")).alias("name_null_safe_eq"),
    )


# =====================================================================
# Map-type functions: build a map from columns, explode it to rows
# (map_keys/map_values are the non-exploding forms). The driver's
# canonicalizer can't hash map cells, so the query emits exploded
# (key, value) rows; the oracle is the portable UNION ALL spelling.
# =====================================================================
@q(
    "q76_map_functions",
    """
    SELECT p_partkey, 'brand' AS attr, p_brand AS val FROM part
    UNION ALL
    SELECT p_partkey, 'name', p_name FROM part
    UNION ALL
    SELECT p_partkey, 'type', p_type FROM part
    """,
)
def q76(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = t(spark, sf_dir, "part")
    m = F.create_map(
        F.lit("brand"), F.col("p_brand"),
        F.lit("name"), F.col("p_name"),
        F.lit("type"), F.col("p_type"),
    )
    return part.select("p_partkey", F.explode(m).alias("attr", "val"))


# =====================================================================
# Equi-depth (quantile) binning — the stats/optimizer histogram dual
# of q63's equal-width bins: exact global quartiles via the SCALABLE
# quantile_cont path (operators/ranks.exact_quantiles: distinct-value
# counts + partition-parallel cumsum + constant-spine probes — never
# F.percentile's single-task ObjectHashAggregate sort, which was both
# ~5 s of this query's sf0.1 runtime and the one corpus-sized
# single-task stage in its 100 TB plan), broadcast back as a 1-row
# cross join, pure CASE bucketing. Boundary comparison uses the
# ROUNDED quantiles on both sides so bucket edges are
# engine-identical; a unit test pins exact_quantiles ≡ F.percentile.
# =====================================================================
def _q77_oracle() -> str:
    from dbt_incremental_ci_spark.operators.ranks import exact_quantiles_sql

    eq = exact_quantiles_sql("lineitem", "l_extendedprice", [0.25, 0.5, 0.75])
    return f"""
    WITH q AS (
      SELECT ROUND(MAX(CASE WHEN q = 0.25 THEN quantile END), 4) AS q1,
             ROUND(MAX(CASE WHEN q = 0.50 THEN quantile END), 4) AS q2,
             ROUND(MAX(CASE WHEN q = 0.75 THEN quantile END), 4) AS q3
      FROM ({eq})
    ),
    b AS (
      SELECT CASE WHEN l_extendedprice < q.q1 THEN 0
                  WHEN l_extendedprice < q.q2 THEN 1
                  WHEN l_extendedprice < q.q3 THEN 2
                  ELSE 3 END AS bucket,
             CAST(l_extendedprice AS DECIMAL(18,2)) AS price
      FROM lineitem CROSS JOIN q
    )
    SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(price) AS DOUBLE) AS total
    FROM b GROUP BY bucket
    """


@q("q77_equidepth_bins", _q77_oracle())
def q77(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbt_incremental_ci_spark.operators.ranks import exact_quantiles

    li = t(spark, sf_dir, "lineitem")
    eq = exact_quantiles(li, "l_extendedprice", [0.25, 0.5, 0.75])
    qs = eq.agg(
        F.round(
            F.max(F.when(F.col("q") == 0.25, F.col("quantile"))), 4
        ).alias("q1"),
        F.round(
            F.max(F.when(F.col("q") == 0.50, F.col("quantile"))), 4
        ).alias("q2"),
        F.round(
            F.max(F.when(F.col("q") == 0.75, F.col("quantile"))), 4
        ).alias("q3"),
    )
    bucket = (
        F.when(F.col("l_extendedprice") < F.col("q1"), 0)
        .when(F.col("l_extendedprice") < F.col("q2"), 1)
        .when(F.col("l_extendedprice") < F.col("q3"), 2)
        .otherwise(3)
    )
    return (
        li.crossJoin(F.broadcast(qs))
        .groupBy(bucket.alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            d(F.sum(dec("l_extendedprice"))).alias("total"),
        )
    )


# =====================================================================
# Quality-weighted importance sampling: acceptance probability IS the
# document's quality score (keys with better quality are kept more
# often), driven by the same md5 uniform variate as q41/q51 — per-row
# filter, no shuffle, key-stable across engines/reruns, exactly
# replayable in SQL. The training-data pattern for up-weighting clean
# text without a separate weighting pass.
# =====================================================================
def _q78_oracle() -> str:
    from dbt_incremental_ci_spark.operators.sampling import hash_uniform_sql

    u = hash_uniform_sql("doc_id", "wsamp")
    return rf"""
    WITH tok AS (
      SELECT doc_id, lang,
             list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS toks,
             length(text) AS nc,
             length(regexp_replace(text, '[^[:punct:]]', '', 'g')) AS np
      FROM documents
    ),
    scored AS (
      SELECT doc_id, lang,
             ROUND(0.5 * least(CAST(len(toks) AS DOUBLE) / 64.0, 1.0)
                   + 0.5 * (CASE WHEN len(toks) > 0
                                 THEN CAST(len(list_distinct(toks)) AS DOUBLE)
                                      / len(toks) ELSE 0 END)
                   - least(CASE WHEN nc > 0
                                THEN CAST(np AS DOUBLE) / nc ELSE 0 END,
                           0.5), 6) AS quality
      FROM tok
    )
    SELECT doc_id, lang, quality, ROUND({u}, 6) AS u_accept
    FROM scored WHERE {u} < quality
    """


@q("q78_weighted_sample", _q78_oracle())
def q78(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbt_incremental_ci_spark.operators import sampling

    docs = t(spark, sf_dir, "documents")
    u = sampling.hash_uniform("doc_id", "wsamp")
    return (
        docs.select(
            "doc_id",
            "lang",
            F.round(text.quality_score("text"), 6).alias("quality"),
            F.round(u, 6).alias("u_accept"),
            u.alias("__u"),
        )
        .filter(F.col("__u") < F.col("quality"))
        .drop("__u")
    )


# =====================================================================
# Sequential funnel (view → click → purchase, order-constrained): each
# stage's earliest qualifying timestamp must follow the previous
# stage's. Three filtered aggregates chained by broadcast-joinable
# per-user minima — shuffle keys are all user_id, so AQE coalesces the
# chain onto one exchange footprint; all arithmetic on exact nanos.
# =====================================================================
@q(
    "q79_funnel",
    """
    WITH v AS (
      SELECT user_id, MIN(epoch_ns(ts)) AS tv FROM events
      WHERE event_type = 'view' GROUP BY user_id
    ),
    c AS (
      SELECT e.user_id, MIN(epoch_ns(e.ts)) AS tc
      FROM events e JOIN v ON e.user_id = v.user_id
      WHERE e.event_type = 'click' AND epoch_ns(e.ts) > v.tv
      GROUP BY e.user_id
    ),
    p AS (
      SELECT e.user_id, MIN(epoch_ns(e.ts)) AS tp
      FROM events e JOIN c ON e.user_id = c.user_id
      WHERE e.event_type = 'purchase' AND epoch_ns(e.ts) > c.tc
      GROUP BY e.user_id
    )
    SELECT 'view' AS stage, CAST(COUNT(*) AS BIGINT) AS n_users FROM v
    UNION ALL
    SELECT 'click_after_view', CAST(COUNT(*) AS BIGINT) FROM c
    UNION ALL
    SELECT 'purchase_after_click', CAST(COUNT(*) AS BIGINT) FROM p
    """,
)
def q79(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = events_table(spark, sf_dir).select("user_id", "event_type", "ts")
    v = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("tv"))
    )
    c = (
        ev.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(F.col("ts") > F.col("tv"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("tc"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(F.col("ts") > F.col("tc"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("tp"))
    )
    count_stage = lambda df, name: df.agg(  # noqa: E731
        F.lit(name).alias("stage"), F.count(F.lit(1)).alias("n_users")
    ).select("stage", "n_users")
    return (
        count_stage(v, "view")
        .unionByName(count_stage(c, "click_after_view"))
        .unionByName(count_stage(p, "purchase_after_click"))
    )


# =====================================================================
# Cohort retention: users bucketed by first-seen week; cells count the
# distinct users active at each week offset. Two hash aggs (per-user
# first week; per-cell distinct) — the standard retention-matrix plan;
# weeks are exact integer arithmetic on the nano timeline.
# =====================================================================
@q(
    "q80_cohort_retention",
    """
    WITH wk AS (
      SELECT user_id,
             epoch_ns(ts) // 604800000000000 AS week
      FROM events
    ),
    first_seen AS (
      SELECT user_id, MIN(week) AS cohort_week FROM wk GROUP BY user_id
    )
    SELECT CAST(f.cohort_week AS BIGINT) AS cohort_week,
           CAST(w.week - f.cohort_week AS BIGINT) AS week_offset,
           CAST(COUNT(DISTINCT w.user_id) AS BIGINT) AS n_users
    FROM wk w JOIN first_seen f ON w.user_id = f.user_id
    GROUP BY 1, 2
    """,
)
def q80(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = events_table(spark, sf_dir)
    wk = ev.select("user_id", F.expr("ts DIV 604800000000000").alias("week"))
    first_seen = wk.groupBy("user_id").agg(F.min("week").alias("cohort_week"))
    return (
        wk.join(first_seen, "user_id")
        .groupBy(
            F.col("cohort_week").cast("bigint").alias("cohort_week"),
            (F.col("week") - F.col("cohort_week")).cast("bigint").alias("week_offset"),
        )
        .agg(F.countDistinct("user_id").alias("n_users"))
    )


# =====================================================================
# argmax/argmin aggregates (max_by / min_by ↔ DuckDB arg_max/arg_min):
# which-row-wins aggregation without a window+filter detour — one hash
# agg instead of a shuffle+sort. max_by is nondeterministic on value
# ties, so the ordering value is a composed UNIQUE integer
# (price-cents ⊕ orderkey) — the same rule as ranked-float tiebreaks.
# The composition is 128-bit (Spark decimal(38,0) / DuckDB HUGEINT)
# with a 10^12 orderkey slot: TPC-H orderkeys stay < 10^12 up to
# ~sf150,000 (>100 TB), so the key never collides across prices at the
# workload's target scale (a 64-bit slot of 10^8 broke at sf>=17).
# =====================================================================
@q(
    "q81_argmax",
    """
    SELECT o_custkey,
           arg_max(o_orderkey,
                   CAST(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
                        AS HUGEINT) * 1000000000000 + o_orderkey) AS best_order,
           arg_min(o_orderkey,
                   CAST(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
                        AS HUGEINT) * 1000000000000 + o_orderkey) AS worst_order,
           CAST(MAX(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS best_price
    FROM orders GROUP BY o_custkey
    """,
)
def q81(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = t(spark, sf_dir, "orders")
    # double→bigint casts TRUNCATE in Spark but ROUND in DuckDB; the
    # decimal(18,2) hop is exact in both (the workload-wide dec() rule).
    # decimal(20,0) * 13-digit literal -> decimal(34,0): exact 128-bit
    # integer arithmetic matching DuckDB's HUGEINT composition.
    rank_key = (
        (dec("o_totalprice") * 100).cast("bigint").cast("decimal(20,0)")
        * F.lit(1000000000000).cast("decimal(13,0)")
        + F.col("o_orderkey").cast("decimal(20,0)")
    )
    return orders.groupBy("o_custkey").agg(
        F.max_by("o_orderkey", rank_key).alias("best_order"),
        F.min_by("o_orderkey", rank_key).alias("worst_order"),
        d(F.max(dec("o_totalprice"))).alias("best_price"),
    )


# =====================================================================
# Boolean / conditional aggregate family: count_if, bool_and/bool_or
# (every/any), conditional sums — the compact form of CASE-wrapped
# aggregation (reference A4's pattern, first-class functions here).
# =====================================================================
@q(
    "q82_bool_aggs",
    """
    SELECT l_returnflag,
           CAST(count_if(l_discount > 0.05) AS BIGINT) AS n_discounted,
           bool_and(l_quantity > 0) AS all_positive_qty,
           bool_or(l_tax > 0.07) AS any_high_tax,
           CAST(SUM(CASE WHEN l_discount > 0.05
                         THEN CAST(l_extendedprice AS DECIMAL(18,2)) END)
                AS DOUBLE) AS discounted_revenue
    FROM lineitem GROUP BY l_returnflag
    """,
)
def q82(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    disc = F.col("l_discount") > 0.05
    return li.groupBy("l_returnflag").agg(
        F.count_if(disc).alias("n_discounted"),
        F.bool_and(F.col("l_quantity") > 0).alias("all_positive_qty"),
        F.bool_or(F.col("l_tax") > 0.07).alias("any_high_tax"),
        d(F.sum(F.when(disc, dec("l_extendedprice")))).alias("discounted_revenue"),
    )


# =====================================================================
# Context-window chunking (operators/chunking.py): fixed-size char
# chunks via sequence → substr → posexplode — map-side row expansion,
# zero shuffle, codegen'd; the UDTF twin is unit-tested equivalent
# (the slow-path template for logic that truly needs Python). md5 of
# each chunk keeps the compared payload small while pinning content.
# =====================================================================
@q(
    "q83_text_chunking",
    """
    SELECT doc_id,
           CAST(e.idx - 1 AS INT) AS chunk_idx,
           md5(e.chunk) AS chunk_md5,
           CAST(strlen(e.chunk) AS INT) AS chunk_len,
           CAST(CEIL(strlen(text) / 200.0) AS INT) AS n_chunks
    FROM (
      SELECT doc_id, text,
             unnest(list_transform(
               generate_series(1, CAST(CEIL(strlen(text) / 200.0) AS INT)),
               i -> {'idx': i, 'chunk': substr(text, (i - 1) * 200 + 1, 200)}
             )) AS e
      FROM documents WHERE strlen(text) > 0
    )
    """,
)
def q83(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbt_incremental_ci_spark.operators import chunking

    docs = t(spark, sf_dir, "documents")
    out = chunking.chunk_text(docs, "doc_id", "text", size=200)
    return out.select(
        "doc_id",
        F.col("chunk_idx").cast("int").alias("chunk_idx"),
        F.md5("chunk").alias("chunk_md5"),
        F.length("chunk").cast("int").alias("chunk_len"),
        "n_chunks",
    )


# =====================================================================
# Hash / encoding function family: md5, sha2-256, base64, hex — the
# content-addressing primitives the dedup/sampling operators build on,
# exposed as first-class scalars. hex case differs across engines →
# lower() on both sides.
# =====================================================================
@q(
    "q84_hash_functions",
    """
    SELECT p_partkey,
           md5(p_name) AS name_md5,
           sha256(p_name) AS name_sha256,
           to_base64(p_name::BLOB) AS name_b64,
           lower(hex(p_name::BLOB)) AS name_hex
    FROM part
    """,
)
def q84(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = t(spark, sf_dir, "part")
    return part.select(
        "p_partkey",
        F.md5("p_name").alias("name_md5"),
        F.sha2(F.col("p_name").cast("binary"), 256).alias("name_sha256"),
        F.base64(F.col("p_name").cast("binary")).alias("name_b64"),
        F.lower(F.hex("p_name")).alias("name_hex"),
    )


# =====================================================================
# Numeric scalar family: pow/sqrt/exp/ln/log10, abs/sign, mod/pmod,
# floor/ceil at scale. Transcendentals can differ in the last ulp
# across libm implementations → round(…, 6) (the q29 cosine rule);
# integer mod/sign/floor are exact. pmod has no DuckDB twin →
# ((x % m) + m) % m spelling.
# =====================================================================
@q(
    "q85_numeric_functions",
    """
    SELECT p_partkey,
           ROUND(pow(p_size, 1.5), 6) AS size_pow,
           ROUND(sqrt(p_retailprice), 6) AS price_sqrt,
           ROUND(exp(p_size / 25.0), 6) AS size_exp,
           ROUND(ln(p_retailprice), 6) AS price_ln,
           ROUND(log10(p_retailprice), 6) AS price_log10,
           CAST(abs(p_size - 25) AS BIGINT) AS size_dev,
           CAST(sign(p_size - 25) AS INT) AS size_sign,
           CAST(p_partkey % 7 AS BIGINT) AS key_mod,
           CAST((((p_partkey - 40) % 7) + 7) % 7 AS BIGINT) AS key_pmod,
           CAST(FLOOR(p_retailprice / 100) AS BIGINT) AS price_hundreds,
           CAST(CEIL(p_retailprice / 100) AS BIGINT) AS price_hundreds_up
    FROM part
    """,
)
def q85(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = t(spark, sf_dir, "part")
    price = F.col("p_retailprice")
    return part.select(
        "p_partkey",
        F.round(F.pow("p_size", F.lit(1.5)), 6).alias("size_pow"),
        F.round(F.sqrt(price), 6).alias("price_sqrt"),
        F.round(F.exp(F.col("p_size") / 25.0), 6).alias("size_exp"),
        F.round(F.log(price), 6).alias("price_ln"),
        F.round(F.log10(price), 6).alias("price_log10"),
        F.abs(F.col("p_size") - 25).cast("bigint").alias("size_dev"),
        F.signum(F.col("p_size") - 25).cast("int").alias("size_sign"),
        (F.col("p_partkey") % 7).cast("bigint").alias("key_mod"),
        F.pmod(F.col("p_partkey") - 40, F.lit(7)).cast("bigint").alias("key_pmod"),
        F.floor(price / 100).cast("bigint").alias("price_hundreds"),
        F.ceil(price / 100).cast("bigint").alias("price_hundreds_up"),
    )


# =====================================================================
# Five-table star join (TPC-H Q5 shape): region→nation→customer dims
# chained onto orders⋈lineitem facts. Every dimension side is
# broadcast-hinted so the fact tables shuffle at most once (on the
# orders⋈lineitem key) — the §2(SCALE) star-schema discipline in one
# query; supplier-nation consistency predicate keeps the local-supply
# semantics of the original.
# =====================================================================
@q(
    "q86_star_join",
    """
    SELECT n.n_name AS nation,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
                    * (1 - CAST(l.l_discount AS DECIMAL(18,2)))) AS DOUBLE)
               AS revenue,
           CAST(COUNT(*) AS BIGINT) AS n_items
    FROM region r
    JOIN nation n   ON n.n_regionkey = r.r_regionkey
    JOIN customer c ON c.c_nationkey = n.n_nationkey
    JOIN orders o   ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
                   AND s.s_nationkey = c.c_nationkey
    WHERE r.r_name = 'ASIA'
      AND o.o_orderdate >= TIMESTAMP '1995-01-01'
      AND o.o_orderdate <  TIMESTAMP '1997-01-01'
    GROUP BY n.n_name
    """,
)
def q86(spark: SparkSession, sf_dir: str) -> DataFrame:
    r = t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    n = t(spark, sf_dir, "nation")
    c = t(spark, sf_dir, "customer")
    s = t(spark, sf_dir, "supplier")
    o = t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1995-01-01").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp_ntz"))
    )
    li = t(spark, sf_dir, "lineitem")
    dims = (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .select("c_custkey", "c_nationkey", "n_name")
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(dims), o.o_custkey == dims.c_custkey)
        .join(
            F.broadcast(s),
            (li.l_suppkey == s.s_suppkey) & (s.s_nationkey == F.col("c_nationkey")),
        )
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            d(
                F.sum(dec("l_extendedprice") * (F.lit(1) - dec("l_discount")))
            ).alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


# =====================================================================
# Value-based RANGE window frames (q59 covered ROWS): trailing-30-day
# revenue per day — the frame is defined by the ORDER-BY VALUE (days),
# so gaps in the calendar shrink the window, which ROWS frames get
# wrong. Runs on the post-aggregation daily table (q59's
# aggregate-then-window shape); decimal window sums keep it exact.
# =====================================================================
@q(
    "q87_range_frames",
    """
    WITH daily AS (
      SELECT CAST(date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE))
                  AS BIGINT) AS day_no,
             SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
      FROM orders GROUP BY 1
    )
    SELECT day_no,
           CAST(SUM(rev) OVER (ORDER BY day_no
                 RANGE BETWEEN 29 PRECEDING AND CURRENT ROW) AS DOUBLE)
               AS rev_30d,
           CAST(COUNT(*) OVER (ORDER BY day_no
                 RANGE BETWEEN 29 PRECEDING AND CURRENT ROW) AS BIGINT)
               AS days_present_30d
    FROM daily
    """,
)
def q87(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = t(spark, sf_dir, "orders")
    daily = orders.groupBy(
        F.datediff(
            F.col("o_orderdate").cast("date"), F.lit("1995-01-01").cast("date")
        )
        .cast("bigint")
        .alias("day_no")
    ).agg(F.sum(dec("o_totalprice")).alias("rev"))
    w = Window.orderBy("day_no").rangeBetween(-29, Window.currentRow)
    return daily.select(
        "day_no",
        d(F.sum("rev").over(w)).alias("rev_30d"),
        F.count(F.lit(1)).over(w).alias("days_present_30d"),
    )


# =====================================================================
# Bigram frequency table (sequence features — the n>1 companion to
# q57's unigram counts): adjacent-token pairs built by indexing the
# token array (sequence → element_at ‖ element_at), exploded map-side,
# one count agg + per-lang top-k. Docs need ≥2 tokens — guarded on
# BOTH sides (Spark's sequence(1,0) would count DOWN, not come back
# empty).
# =====================================================================
@q(
    "q88_bigram_counts",
    r"""
    WITH toks AS (
      SELECT lang,
             list_transform(
               list_filter(string_split_regex(lower(trim(text)), '\s+'),
                           x -> x <> ''), x -> x) AS l
      FROM documents WHERE strlen(trim(text)) > 0
    ),
    bigrams AS (
      SELECT lang, b
      FROM (
        SELECT lang,
               unnest(list_transform(generate_series(1, len(l) - 1),
                                     i -> l[i] || ' ' || l[i + 1])) AS b
        FROM toks WHERE len(l) >= 2
      )
    ),
    counts AS (
      SELECT lang, b AS bigram, CAST(COUNT(*) AS BIGINT) AS n
      FROM bigrams GROUP BY lang, b
    )
    SELECT lang, bigram, n, CAST(rnk AS INT) AS rnk FROM (
      SELECT *, row_number() OVER (PARTITION BY lang
                                   ORDER BY n DESC, bigram) AS rnk
      FROM counts
    ) WHERE rnk <= 5
    """,
)
def q88(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    toks = F.filter(F.split(F.lower(F.trim("text")), r"\s+"), lambda x: x != "")
    base = (
        docs.filter(F.length(F.trim("text")) > 0)
        .select("lang", toks.alias("l"))
        .filter(F.size("l") >= 2)
    )
    bigram = F.transform(
        F.sequence(F.lit(1), F.size("l") - 1),
        lambda i: F.concat(
            F.element_at("l", i), F.lit(" "), F.element_at("l", i + 1)
        ),
    )
    counts = (
        base.select("lang", F.explode(bigram).alias("bigram"))
        .groupBy("lang", "bigram")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = Window.partitionBy("lang").orderBy(F.col("n").desc(), F.col("bigram"))
    return (
        counts.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 5)
        .withColumn("rnk", F.col("rnk").cast("int"))
    )


# =====================================================================
# Regex scalar family: extract (group), extract-all count, boolean
# match, global replace — patterns kept in the Java∩RE2∩DuckDB common
# dialect (the q44 PII rule).
# =====================================================================
@q(
    "q89_regex_functions",
    """
    SELECT c_custkey,
           regexp_extract(c_name, '([0-9]+)', 1) AS cust_num,
           CAST(len(regexp_extract_all(c_name, '[0-9]')) AS INT) AS n_digits,
           regexp_matches(c_name, '^Customer') AS is_customer,
           regexp_replace(c_name, '[0-9]', '#', 'g') AS masked
    FROM customer
    """,
)
def q89(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = t(spark, sf_dir, "customer")
    return cust.select(
        "c_custkey",
        F.regexp_extract("c_name", r"([0-9]+)", 1).alias("cust_num"),
        F.size(F.regexp_extract_all("c_name", F.lit(r"([0-9])"), 1))
        .cast("int")
        .alias("n_digits"),
        F.col("c_name").rlike("^Customer").alias("is_customer"),
        F.regexp_replace("c_name", r"[0-9]", "#").alias("masked"),
    )


# =====================================================================
# Date formatting: Spark's SimpleDateFormat-style patterns vs DuckDB
# strftime — different pattern languages, same rendered strings (the
# oracle is the semantic twin, not a token-for-token copy). Day names
# use each engine's default English locale.
# =====================================================================
@q(
    "q90_date_format",
    """
    SELECT o_orderkey,
           strftime(CAST(o_orderdate AS DATE), '%Y-%m') AS year_month,
           strftime(CAST(o_orderdate AS DATE), '%d') AS day_padded,
           dayname(CAST(o_orderdate AS DATE)) AS day_name,
           strftime(CAST(o_orderdate AS DATE), '%Y-%m-%d') AS iso_day
    FROM orders
    """,
)
def q90(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = t(spark, sf_dir, "orders")
    day = F.col("o_orderdate").cast("date")
    return orders.select(
        "o_orderkey",
        F.date_format(day, "yyyy-MM").alias("year_month"),
        F.date_format(day, "dd").alias("day_padded"),
        F.date_format(day, "EEEE").alias("day_name"),
        F.date_format(day, "yyyy-MM-dd").alias("iso_day"),
    )


# =====================================================================
# JSON function family (q31 parses with regex; this is the real JSON
# surface): path extraction as string, schema'd from_json with typed
# field access, missing-path → NULL, and to_json re-serialization
# (int/string fields only — float rendering differs across engines).
# =====================================================================
@q(
    "q91_json_functions",
    """
    SELECT event_id,
           json_extract_string(props, '$.k') AS k_str,
           CAST(json_extract_string(props, '$.k') AS INTEGER) AS k_int,
           json_extract_string(props, '$.missing') AS missing_field,
           to_json(struct_pack(et := event_type,
                               k := CAST(json_extract_string(props, '$.k')
                                         AS INTEGER))) AS rebuilt
    FROM events
    """,
)
def q91(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = events_table(spark, sf_dir)
    k_int = F.from_json("props", "k INT").getField("k")
    return ev.select(
        "event_id",
        F.get_json_object("props", "$.k").alias("k_str"),
        k_int.alias("k_int"),
        F.get_json_object("props", "$.missing").alias("missing_field"),
        F.to_json(
            F.struct(F.col("event_type").alias("et"), k_int.alias("k"))
        ).alias("rebuilt"),
    )


def _q92_oracle(bits: int = 16) -> str:
    """DuckDB replica of sinks.layout.zorder_key: the same min-max
    scaling and bit interleave, loop-unrolled into SQL (the q34
    inline-the-constants technique applied to bit arithmetic)."""
    bounds = {"p_size": (1.0, 50.0), "p_retailprice": (900.0, 2100.0)}
    scaled = []
    top = (1 << bits) - 1
    for c, (lo, hi) in bounds.items():
        span = hi - lo
        scaled.append(
            f"LEAST(GREATEST(CAST(FLOOR((CAST({c} AS DOUBLE) - {lo!r})"
            f" / {span!r} * {top}) AS BIGINT), 0), {top})"
        )
    terms = []
    for i in range(bits):
        for j, s in enumerate(scaled):
            terms.append(f"((({s} >> {i}) & 1) << {i * len(scaled) + j})")
    return f"""
    SELECT p_partkey, CAST({' | '.join(terms)} AS BIGINT) AS zkey
    FROM part
    """


# =====================================================================
# Z-order key as a value-oracled query (upgrades sinks/layout.py's
# Morton curve from unit-tested to oracle-verified): fixed caller
# bounds, 16 bits/dim, bit-for-bit interleave replicated in DuckDB.
# =====================================================================
@q("q92_zorder_key", _q92_oracle())
def q92(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbt_incremental_ci_spark.sinks.layout import zorder_key

    part = t(spark, sf_dir, "part")
    key = zorder_key(
        part,
        ["p_size", "p_retailprice"],
        bounds={"p_size": (1.0, 50.0), "p_retailprice": (900.0, 2100.0)},
    )
    return part.select("p_partkey", key.alias("zkey"))


# =====================================================================
# Multimodal frame sampling (operators/multimodal.sample_frames — the
# 1→N mapInPandas fan-out): every 64-byte chunk of the video payload
# becomes a "frame" with a sha256[:16] digest. Oracle chunks the text
# as VARCHAR — valid because the corpus is verified pure-ASCII (char
# positions ≡ byte offsets, UTF-8 of ASCII ≡ the raw bytes); the
# operator itself is byte-based.
# =====================================================================
@q(
    "q93_frame_sampling",
    """
    SELECT doc_id AS media_id,
           CAST(e.i - 1 AS INT) AS frame_idx,
           substr(sha256(substr(text, (e.i - 1) * 64 + 1, 64)), 1, 16)
               AS frame_digest
    FROM (
      SELECT doc_id, text,
             unnest(generate_series(1,
                    CAST(CEIL(strlen(text) / 64.0) AS INT))) AS i
      FROM documents
      WHERE doc_id % 3 = 2 AND strlen(text) > 0
    ) AS e(doc_id, text, i)
    """,
)
def q93(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbt_incremental_ci_spark.operators import multimodal as mm

    docs = t(spark, sf_dir, "documents")
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.when(F.col("doc_id") % 3 == 0, "image")
        .when(F.col("doc_id") % 3 == 1, "audio")
        .otherwise("video")
        .alias("media_type"),
        F.encode("text", "utf-8").alias("content"),
    )
    return mm.sample_frames(media, every_n_bytes=64)


# =====================================================================
# Keyset-free pagination: ORDER BY … LIMIT … OFFSET on a unique total
# order (the offset surface added in Spark 3.4). A global sort + skip
# is the WRONG primitive at 100 TB (each page re-sorts; keyset
# pagination on the ordered key is the scale path — documented here,
# exercised as the API surface).
# =====================================================================
@q(
    "q94_pagination",
    """
    SELECT o_orderkey, CAST(o_totalprice AS DOUBLE) AS price
    FROM orders ORDER BY o_orderkey LIMIT 20 OFFSET 100
    """,
)
def q94(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = t(spark, sf_dir, "orders")
    return (
        orders.select("o_orderkey", F.col("o_totalprice").cast("double").alias("price"))
        .orderBy("o_orderkey")
        .offset(100)
        .limit(20)
    )


# =====================================================================
# explode_outer — NULL-preserving lateral explode (rows with empty
# token arrays survive with NULL, the LEFT JOIN LATERAL twin). The
# corpus has no token-less docs, so one is PLANTED (doc_id −1, empty
# text — the q44/q36 planted-fixture rule) so the NULL branch is
# actually exercised and compared.
# =====================================================================
@q(
    "q95_explode_outer",
    r"""
    SELECT d.doc_id, u.tok
    FROM (
      SELECT doc_id,
             list_filter(string_split_regex(trim(text), '\s+'),
                         x -> x <> '') AS toks
      FROM (SELECT doc_id, text FROM documents
            UNION ALL SELECT -1, '')
    ) d
    LEFT JOIN LATERAL unnest(d.toks) AS u(tok) ON TRUE
    """,
)
def q95(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents").select("doc_id", "text")
    planted = docs.unionByName(
        docs.sparkSession.createDataFrame([(-1, "")], "doc_id long, text string")
    )
    toks = F.filter(F.split(F.trim("text"), r"\s+"), lambda x: x != "")
    return planted.select("doc_id", F.explode_outer(toks).alias("tok"))


@q("q67_array_functions", _Q67_SQL)
def q67(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = t(spark, sf_dir, "embeddings")
    el = lambda i: F.element_at("embedding", i).cast("double")  # noqa: E731
    head = el(1) + el(2) + el(3) + el(4) + el(5) + el(6) + el(7) + el(8)
    return emb.select(
        "vec_id",
        F.size("embedding").cast("int").alias("dim"),
        F.round(F.array_max("embedding").cast("double"), 6).alias("vmax"),
        F.round(F.array_min("embedding").cast("double"), 6).alias("vmin"),
        F.array_position("embedding", F.array_max("embedding"))
        .cast("int")
        .alias("pos_max"),
        F.round(head, 6).alias("head_sum"),
        F.size(F.filter("embedding", lambda x: x > 0)).cast("int").alias("n_pos"),
    )


# =====================================================================
# Keyset pagination — the seek-predicate operator q94 documents as the
# scale path, now callable (operators/pagination.py). The query pages
# orders sequentially by the unique o_orderkey (pages 0-7, size 20,
# cursor = last key of the previous page — the real protocol, no
# offsets anywhere) and returns pages 5-7; the oracle computes the
# same rows 101-160 positionally. Keyset page N ≡ OFFSET page N on a
# unique total order — verified for three consecutive pages.
# =====================================================================
@q(
    "q96_keyset_pagination",
    """
    SELECT o_orderkey, price,
           5 + CAST(FLOOR((rn - 101) / 20.0) AS INT) AS page_idx
    FROM (
      SELECT o_orderkey, CAST(o_totalprice AS DOUBLE) AS price,
             row_number() OVER (ORDER BY o_orderkey) AS rn
      FROM orders
    )
    WHERE rn > 100 AND rn <= 160
    """,
)
def q96(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbt_incremental_ci_spark.operators.pagination import keyset_page

    orders = t(spark, sf_dir, "orders").select(
        "o_orderkey", F.col("o_totalprice").cast("double").alias("price")
    )
    pages: list[DataFrame] = []
    cursor = None
    for page_idx in range(8):
        page = keyset_page(orders, ["o_orderkey"], 20, cursor)
        if page_idx >= 5:
            pages.append(page.withColumn("page_idx", F.lit(page_idx)))
        # cursor advance: last key of the page — an O(page) scalar read,
        # same class as the incremental watermark, not a data collect
        # driver-bound: page_size rows — keyset cursor demo page
        rows = page.select("o_orderkey").collect()
        cursor = [rows[-1]["o_orderkey"]]
    out = pages[0]
    for p in pages[1:]:
        out = out.unionByName(p)
    return out


# =====================================================================
# Benchmark decontamination: the n-gram-overlap hygiene step every
# pre-training corpus runs against its eval suites. Eval set = every
# 41st document under a FIXED id bound (a benchmark suite does not
# grow with the training corpus — the unbounded slice made eval-side
# work scale with the data and measured 11.0x on the 10x sf1 gate;
# at sf0.01 every doc_id is under the bound, so the oracle value is
# unchanged), held OUT of the corpus; contamination is planted the
# q36-twin way — each eval doc re-enters the corpus under id+2000000
# with a prefix, so its interior 5-grams still overlap. A doc is
# flagged when it shares >= 3 distinct word 5-grams with ANY eval doc.
# Value-exact oracle: same shingling, same plant, joined on the n-gram
# string (Spark joins on xxhash64 of the same string — equal up to
# 2^-64 collisions).
# =====================================================================
@q(
    "q97_decontamination",
    """
    WITH evals AS (SELECT doc_id, text FROM documents
                   WHERE doc_id % 41 = 0 AND doc_id < 10000),
    corp AS (
      SELECT doc_id, text FROM documents
      WHERE NOT (doc_id % 41 = 0 AND doc_id < 10000)
      UNION ALL
      SELECT doc_id + 2000000 AS doc_id,
             'copied from benchmark : ' || text AS text
      FROM evals
    ),
    cng AS (
      SELECT DISTINCT doc_id, ng FROM (
        SELECT doc_id,
               unnest(list_transform(
                 generate_series(1, greatest(0, len(toks) - 4)),
                 i -> array_to_string(toks[i:i+4], ' '))) AS ng
        FROM (SELECT doc_id,
                     list_filter(string_split_regex(trim(text), '\\s+'),
                                 x -> x <> '') AS toks
              FROM corp))
    ),
    eng AS (
      SELECT DISTINCT ng FROM (
        SELECT unnest(list_transform(
                 generate_series(1, greatest(0, len(toks) - 4)),
                 i -> array_to_string(toks[i:i+4], ' '))) AS ng
        FROM (SELECT list_filter(string_split_regex(trim(text), '\\s+'),
                                 x -> x <> '') AS toks
              FROM evals))
    )
    SELECT doc_id, count(*) AS overlap_ngrams
    FROM cng JOIN eng USING (ng)
    GROUP BY doc_id
    HAVING count(*) >= 3
    """,
)
def q97(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbt_incremental_ci_spark.operators import decontam

    docs = t(spark, sf_dir, "documents").select("doc_id", "text")
    is_eval = (F.col("doc_id") % 41 == 0) & (F.col("doc_id") < 10000)
    evals = docs.filter(is_eval)
    corpus = docs.filter(~is_eval).unionByName(
        evals.select(
            (F.col("doc_id") + 2000000).alias("doc_id"),
            F.concat(F.lit("copied from benchmark : "), F.col("text")).alias(
                "text"
            ),
        )
    )
    return decontam.contaminated(
        corpus, evals, id_col="doc_id", text_col="text", n=5, min_overlap=3
    )


# =====================================================================
# Gopher-style repetition/quality filter suite: published pre-training
# heuristics (doc length, duplicate-word fraction, top-bigram
# repetition, mean word length, alphabetic-word fraction,
# symbol-to-word ratio) as pure per-row expressions — a map-only pass
# fused into the scan at any scale. Full value oracle: every metric
# and the combined keep flag replicated in DuckDB list functions.
# Count-fraction (not char-fraction) for the top-bigram rule keeps the
# metric tie-free and deterministic.
# =====================================================================
@q(
    "q98_gopher_quality",
    """
    WITH tk AS (
      SELECT doc_id,
             list_filter(string_split_regex(trim(text), '\\s+'),
                         x -> x <> '') AS toks,
             text
      FROM documents
    ),
    m AS (
      SELECT doc_id,
        len(toks) AS n_tokens,
        ROUND(CASE WHEN len(toks) > 0
              THEN 1.0 - len(list_distinct(toks))::DOUBLE / len(toks)
              ELSE 0.0 END, 6) AS dup_word_frac,
        ROUND(CASE WHEN len(toks) >= 2 THEN (
          SELECT list_max(list_transform(list_distinct(bgs),
                          x -> len(list_filter(bgs, y -> y = x))))::DOUBLE
                 / len(bgs)
          FROM (SELECT list_transform(generate_series(1, len(toks) - 1),
                       i -> toks[i] || ' ' || toks[i+1]) AS bgs)
        ) ELSE 0.0 END, 6) AS top_bigram_frac,
        ROUND(CASE WHEN len(toks) > 0
              THEN list_sum(list_transform(toks, t -> len(t)))::DOUBLE
                   / len(toks)
              ELSE 0.0 END, 6) AS mean_word_len,
        ROUND(CASE WHEN len(toks) > 0
              THEN len(list_filter(toks,
                       t -> regexp_matches(t, '[A-Za-z]')))::DOUBLE
                   / len(toks)
              ELSE 0.0 END, 6) AS alpha_word_frac,
        ROUND(CASE WHEN len(toks) > 0
              THEN len(regexp_replace(text, '[^#.]', '', 'g'))::DOUBLE
                   / len(toks)
              ELSE 0.0 END, 6) AS symbol_to_word
      FROM tk
    )
    SELECT *,
           (n_tokens >= 20 AND dup_word_frac <= 0.6
            AND top_bigram_frac <= 0.08
            AND mean_word_len BETWEEN 3.0 AND 10.0
            AND alpha_word_frac >= 0.8
            AND symbol_to_word <= 0.1) AS gopher_keep
    FROM m
    """,
)
def q98(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents").select("doc_id", "text")
    return text.gopher_quality(docs).drop("text")


# =====================================================================
# Product-quantization ADC top-k (Jégou et al.; FAISS PQ scan shape):
# the corpus compresses map-side to m=8 codes (ks=8 codewords per
# subspace — the scan side carries 8 ints instead of 64 doubles),
# queries precompute per-subspace lookup tables, and scoring is m
# table lookups per corpus code — no per-pair dot products. Codebooks
# are the deterministic hash-derived defaults so the full pipeline
# (encode, LUT, ADC sum, rank) replays value-exactly in DuckDB with
# inlined codeword literals; train_pq_codebooks() is the fitted path
# (recall-tested in units, same contract as trained IVF).
# =====================================================================
def _q99_oracle(dim: int = 64, m: int = 8, ks: int = 8) -> str:
    from dbt_incremental_ci_spark.operators.similarity import pq_codebooks

    cbs = pq_codebooks(dim, m, ks)
    sub = dim // m

    def arr(vec: list[float]) -> str:
        return "[" + ",".join(repr(x) for x in vec) + "]"

    def dists(j: int, src: str) -> str:
        terms = ", ".join(
            f"ROUND(list_sum(list_transform(generate_series(1, {sub}), "
            f"i -> ({src}[{j * sub}+i] - ({arr(cbs[j][c])})[i])"
            f" * ({src}[{j * sub}+i] - ({arr(cbs[j][c])})[i]))), 9)"
            for c in range(ks)
        )
        return f"[{terms}]"

    code_cols = ", ".join(
        f"list_position({dists(j, 'v')}, list_min({dists(j, 'v')})) AS c{j}"
        for j in range(m)
    )
    lut_cols = ", ".join(f"{dists(j, 'v')} AS l{j}" for j in range(m))
    adc = " + ".join(f"q.l{j}[c.c{j}]" for j in range(m))
    return f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    c AS (SELECT vec_id AS neighbor_id, {code_cols} FROM e),
    q AS (SELECT vec_id AS query_id, {lut_cols} FROM e WHERE vec_id < 10),
    scored AS (
      SELECT query_id, neighbor_id, ROUND({adc}, 6) AS approx_dist
      FROM c, q WHERE c.neighbor_id <> q.query_id
    )
    SELECT query_id, neighbor_id, approx_dist, CAST(rank AS INT) AS rank
    FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY approx_dist, neighbor_id) AS rank
      FROM scored
    ) WHERE rank <= 5
    """


@q("q99_pq_adc_topk", _q99_oracle())
def q99(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    return similarity.pq_adc_topk(emb, queries, k=5, dim=64, m=8, ks=8)


# =====================================================================
# Target-mixture resampling: rebalance the corpus to a prescribed
# language mix by derived per-category acceptance rates (largest
# corpus achievable by downsampling alone: the binding category keeps
# rate 1.0). Membership is the key-stable md5 variate shared with
# q41/q51 — reproducible across engines, partitionings, and runs. The
# oracle recomputes counts → N* → rates → filter entirely in SQL with
# the same operation order, so the rate doubles (and therefore the
# survivor set) are bit-identical to the Spark side's driver-computed
# literals.
# =====================================================================
_Q100_SHARES = {"en": 0.3, "zh": 0.2, "es": 0.2, "de": 0.15, "fr": 0.15}


def _q100_oracle() -> str:
    from dbt_incremental_ci_spark.operators.sampling import hash_uniform_sql

    shares_rows = ", ".join(f"('{c}', {s})" for c, s in _Q100_SHARES.items())
    u = hash_uniform_sql("d.doc_id", "mix")
    return f"""
    WITH tgt(lang, share) AS (VALUES {shares_rows}),
    cnt AS (SELECT lang, count(*) AS c FROM documents GROUP BY lang),
    n AS (SELECT min(c / share) AS nmax FROM cnt JOIN tgt USING (lang)
          WHERE share > 0),
    rates AS (
      SELECT t.lang, least(1.0, (t.share * n.nmax) / c.c) AS rate
      FROM tgt t JOIN cnt c USING (lang) CROSS JOIN n
      WHERE t.share > 0
    )
    SELECT d.doc_id, d.lang, d.source
    FROM documents d JOIN rates r USING (lang)
    WHERE {u} < r.rate
    """


@q("q100_mixture_resample", _q100_oracle())
def q100(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents").select("doc_id", "lang", "source")
    return sampling.mixture_resample(
        docs, key_col="doc_id", category_col="lang",
        target_shares=_Q100_SHARES, salt="mix",
    )
