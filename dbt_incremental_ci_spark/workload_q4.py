"""q146-q184: eval metrics, privacy, linkage, CDC/SCD2, HLL, patterns bands

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



# =====================================================================
# Multi-source BFS (q146): minimum hop distance from a scattered
# source set through the q24 implicit binary-tree part graph, treated
# UNDIRECTED — distance-to-nearest-source, the graph primitive behind
# dependency depth and k-hop neighborhoods. Frontier expansion with
# an anti-join visited set: rounds = eccentricity, total work O(|E|).
# Oracle: WITH RECURSIVE level exploration + MIN per node.
# operators/bfs.py.
# =====================================================================
@q(
    "q146_bfs_levels",
    """
    WITH RECURSIVE
    e AS (
      SELECT p_partkey AS u, p_partkey // 2 AS v FROM part
      WHERE p_partkey > 1
      UNION ALL
      SELECT p_partkey // 2, p_partkey FROM part WHERE p_partkey > 1
    ),
    walk(node, level) AS (
      SELECT p_partkey, 0 FROM part WHERE p_partkey % 97 = 0
      UNION
      SELECT e.v, w.level + 1 FROM walk w JOIN e ON e.u = w.node
      WHERE w.level < 50
    )
    SELECT node, CAST(MIN(level) AS INT) AS level
    FROM walk GROUP BY node
    """,
)
def q146(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbt_incremental_ci_spark.operators.bfs import bfs_levels
    from dbt_incremental_ci_spark.operators.scaling import (
        ensure_min_parallelism,
    )

    part = ensure_min_parallelism(t(spark, sf_dir, "part"))
    edges = part.where(F.col("p_partkey") > 1).select(
        F.col("p_partkey").alias("src"),
        F.expr("p_partkey div 2").alias("dst"),
    )
    sources = part.where(F.col("p_partkey") % 97 == 0).select(
        F.col("p_partkey").alias("node")
    )
    out = bfs_levels(edges, sources, directed=False)
    return out.select("node", F.col("level").cast("int").alias("level"))


# =====================================================================
# Winnowing fingerprint overlap (q147): rolling-hash document
# fingerprinting (Schleimer et al., SIGMOD'03) — k-gram md5 variates,
# sliding-window minima, distinct fingerprints; pairs sharing >= 2
# rare fingerprints are long-verbatim-overlap candidates. The whole
# derivation is per-row array math (zero shuffle before the postings
# explode); the pair join drops fingerprints with df > 50 (the same
# hot-key cap as the MinHash band join). operators/winnow.py.
# =====================================================================
@q(
    "q147_winnowing_overlap",
    """
    WITH toks AS (
      SELECT doc_id,
             list_filter(string_split_regex(trim(text), '\\s+'),
                         x -> x <> '') AS t
      FROM documents
    ),
    gh AS (
      SELECT doc_id,
             CASE WHEN len(t) >= 4 THEN
               list_transform(range(1, len(t) - 2),
                 i -> ('0x' || substr(md5(array_to_string(t[i:i+3], ' ')
                                          || ':wn'), 1, 8))::BIGINT)
             ELSE []::BIGINT[] END AS g
      FROM toks
    ),
    mins AS (
      SELECT doc_id,
             CASE WHEN len(g) >= 4 THEN
                    list_transform(range(1, len(g) - 2),
                                   i -> list_min(g[i:i+3]))
                  WHEN len(g) >= 1 THEN [list_min(g)]
                  ELSE []::BIGINT[] END AS m
      FROM gh
    ),
    fps AS (
      SELECT DISTINCT doc_id, fp
      FROM mins, LATERAL unnest(list_distinct(m)) AS u(fp)
    ),
    rare AS (
      SELECT fp FROM fps GROUP BY fp HAVING count(*) <= 50
    ),
    pairs AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS shared_fps
      FROM fps a JOIN rare USING (fp) JOIN fps b USING (fp)
      WHERE a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    )
    SELECT id_a, id_b, CAST(shared_fps AS BIGINT) AS shared_fps
    FROM pairs WHERE shared_fps >= 2
    """,
)
def q147(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbt_incremental_ci_spark.operators.winnow import (
        fingerprint_overlap_pairs,
    )

    docs = t(spark, sf_dir, "documents").select("doc_id", "text")
    return fingerprint_overlap_pairs(
        docs, k=4, w=4, min_shared=2, max_df=50
    )


# =====================================================================
# Interpolated bigram LM scoring (q148): Jelinek-Mercer-smoothed
# bigram log-probability under the corpus's own LM — the sequence-
# aware upgrade of q104's unigram filter (garbled token ORDER scores
# low even when every token is common). Bigrams from a per-row array
# zip (no positional self-join); three vocabulary-sized joins + a
# 1-row total broadcast; per-term lns round to 8dp and sum in
# DECIMAL(18,8) so the mean is order-independent. operators/text.py.
# =====================================================================
@q(
    "q148_bigram_lm_score",
    """
    WITH toks AS (
      SELECT doc_id,
             list_filter(string_split_regex(trim(text), '\\s+'),
                         x -> x <> '') AS t
      FROM documents
    ),
    big AS (
      SELECT doc_id, t[i] AS prev, t[i+1] AS w
      FROM toks, LATERAL unnest(range(1, len(t))) AS r(i)
      WHERE len(t) >= 2
    ),
    uni AS (
      SELECT tk, count(*) AS c1
      FROM (SELECT unnest(t) AS tk FROM toks) GROUP BY tk
    ),
    tot AS (SELECT sum(c1) AS n FROM uni),
    c2 AS (SELECT prev, w, count(*) AS c2 FROM big GROUP BY prev, w),
    terms AS (
      SELECT b.doc_id,
             ROUND(ln(0.8 * c2.c2 / u1.c1 + 0.2 * u2.c1 / tot.n), 8) AS lp
      FROM big b
      JOIN c2 USING (prev, w)
      JOIN uni u1 ON u1.tk = b.prev
      JOIN uni u2 ON u2.tk = b.w
      CROSS JOIN tot
    ),
    sc AS (
      SELECT doc_id, count(*) AS n_bigrams,
             ROUND(CAST(sum(CAST(lp AS DECIMAL(18,8))) AS DOUBLE)
                   / count(*), 6) AS avg_logprob
      FROM terms GROUP BY doc_id
    )
    SELECT d.doc_id,
           CAST(coalesce(sc.n_bigrams, 0) AS BIGINT) AS n_bigrams,
           sc.avg_logprob,
           sc.avg_logprob >= -3.42 AS lm_keep
    FROM documents d LEFT JOIN sc USING (doc_id)
    """,
)
def q148(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents").select("doc_id", "text")
    out = text.bigram_logprob(docs, lam=0.8)
    return out.select(
        "doc_id",
        "n_bigrams",
        "avg_logprob",
        (F.col("avg_logprob") >= -3.42).alias("lm_keep"),
    )


# =====================================================================
# Sequence-pattern matching (q149): MATCH_RECOGNIZE-lite `A (NOT C)* B`
# over per-user event streams — every 'view' paired with its FIRST
# 'purchase' within 6h, vetoed if an 'error' falls strictly between.
# Emits the matched EVENT PAIRS (q79's funnel only counts users).
# Keyed joins + per-A min-struct + left-anti veto; window bound caps
# fan-out per key. operators/patterns.py.
# =====================================================================
@q(
    "q149_event_pattern",
    """
    WITH a AS (
      SELECT user_id, event_id AS a_id, epoch_ns(ts) AS a_ts
      FROM events WHERE event_type = 'view'
    ),
    b AS (
      SELECT user_id, event_id AS b_id, epoch_ns(ts) AS b_ts
      FROM events WHERE event_type = 'purchase'
    ),
    cand AS (
      SELECT a.user_id, a.a_id, a.a_ts, b.b_id, b.b_ts
      FROM a JOIN b USING (user_id)
      WHERE b.b_ts > a.a_ts AND b.b_ts <= a.a_ts + 21600000000000
    ),
    fst AS (
      SELECT user_id, a_id, a_ts, b_id, b_ts
      FROM cand
      QUALIFY row_number() OVER (PARTITION BY a_id ORDER BY b_ts, b_id) = 1
    )
    SELECT f.user_id, f.a_id, f.a_ts, f.b_id, f.b_ts,
           f.b_ts - f.a_ts AS gap
    FROM fst f
    WHERE NOT EXISTS (
      SELECT 1 FROM events c
      WHERE c.event_type = 'error' AND c.user_id = f.user_id
        AND epoch_ns(c.ts) > f.a_ts AND epoch_ns(c.ts) < f.b_ts
    )
    """,
)
def q149(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbt_incremental_ci_spark.operators.patterns import (
        first_match_pattern,
    )

    ev = events_table(spark, sf_dir)
    return first_match_pattern(
        ev, "view", "purchase", within=21_600_000_000_000, veto="error"
    )


# =====================================================================
# k-core decomposition (q150): synchronous parallel peeling (delete
# all degree<k nodes each round) over a mixed hierarchy graph — the
# q146 part tree + grandparent chords + a dense small-key clique, so
# the peel cascades through the hierarchy (8 rounds at sf0.01) and
# leaves a genuine nonempty core. Oracle: the peeling recurrence
# unrolled to a fixed depth (idempotent past the fixpoint, so a
# margin of extra rounds is harmless). operators/kcore.py.
# =====================================================================
def _q150_oracle(k: int = 4, rounds: int = 14) -> str:
    base = """
    WITH base AS (
      SELECT u, v FROM (
        SELECT p_partkey AS u, p_partkey // 2 AS v FROM part WHERE p_partkey > 1
        UNION ALL
        SELECT p_partkey, p_partkey // 4 FROM part WHERE p_partkey > 3
        UNION ALL
        SELECT a.p_partkey, b.p_partkey
        FROM part a JOIN part b ON a.p_partkey < b.p_partkey
        WHERE a.p_partkey <= 12 AND b.p_partkey <= 12
      ) WHERE u <> v
    ),
    e0 AS MATERIALIZED (
      SELECT DISTINCT u, v FROM (
        SELECT u, v FROM base UNION ALL SELECT v, u FROM base
      )
    )"""
    rounds_sql = []
    for r in range(1, rounds + 1):
        p = r - 1
        rounds_sql.append(
            f""",
    k{r} AS MATERIALIZED (SELECT u FROM e{p} GROUP BY u HAVING count(*) >= {k}),
    e{r} AS MATERIALIZED (
      SELECT e.u, e.v FROM e{p} e
      JOIN k{r} ku ON e.u = ku.u
      JOIN k{r} kv ON e.v = kv.u
    )"""
        )
    return (
        base
        + "".join(rounds_sql)
        + f"""
    SELECT u AS node, CAST(count(*) AS BIGINT) AS degree
    FROM e{rounds} GROUP BY u
    """
    )


@q("q150_kcore", _q150_oracle())
def q150(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbt_incremental_ci_spark.operators.kcore import kcore

    p = t(spark, sf_dir, "part").select("p_partkey")
    tree = p.where(F.col("p_partkey") > 1).select(
        F.col("p_partkey").alias("src"), F.expr("p_partkey div 2").alias("dst")
    )
    grand = p.where(F.col("p_partkey") > 3).select(
        F.col("p_partkey").alias("src"), F.expr("p_partkey div 4").alias("dst")
    )
    small = p.where(F.col("p_partkey") <= 12)
    clique = (
        small.select(F.col("p_partkey").alias("src"))
        .crossJoin(small.select(F.col("p_partkey").alias("dst")))
        .where(F.col("src") < F.col("dst"))
    )
    edges = tree.unionByName(grand).unionByName(clique)
    return kcore(edges, k=4)


# =====================================================================
# Binned PR curve (q151): precision/recall/F1 of the hashed-bag
# quality classifier against the lang='en' label at 20 probability
# thresholds — the measurement side of the curation stack. Exact PR
# curves need a data-sized global sort; the binned form is one hash
# agg + an O(bins) spine window (the equi-width-histogram class).
# Bin assignment runs in exact decimal micro-units. evalmetrics.py.
# =====================================================================
def _q151_oracle() -> str:
    from dbt_incremental_ci_spark.operators import classifier

    w = classifier.default_weights(64, "qc")
    score = classifier.linear_score_sql("text", w, 0.0, "qc")
    return f"""
    WITH s AS (
      SELECT ROUND(1.0 / (1.0 + exp(-(ROUND({score}, 6)))), 6) AS prob,
             (lang = 'en') AS y
      FROM documents
    ),
    binned AS (
      SELECT LEAST(CAST((CAST(CAST(prob AS DECIMAL(9,6)) * 1000000 AS BIGINT) * 20
                    - (CAST(CAST(prob AS DECIMAL(9,6)) * 1000000 AS BIGINT) * 20)
                      % 1000000) / 1000000 AS INT), 19) AS bin,
             CAST(y AS INT) AS y
      FROM s
    ),
    per AS (SELECT bin, count(*) AS n, sum(y) AS pos FROM binned GROUP BY bin),
    spine AS (SELECT CAST(i AS INT) AS bin FROM range(20) r(i)),
    fl AS (
      SELECT spine.bin, coalesce(n, 0) AS n, coalesce(pos, 0) AS pos
      FROM spine LEFT JOIN per USING (bin)
    ),
    tot AS (SELECT sum(n) AS n_all, sum(pos) AS pos_all FROM fl),
    cum AS (
      SELECT bin,
             sum(pos) OVER (ORDER BY bin DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS tp,
             sum(n) OVER (ORDER BY bin DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             - sum(pos) OVER (ORDER BY bin DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS fp
      FROM fl
    )
    SELECT c.bin, ROUND(c.bin / 20.0, 6) AS threshold,
           CAST(c.tp AS BIGINT) AS tp, CAST(c.fp AS BIGINT) AS fp,
           CAST(t.pos_all - c.tp AS BIGINT) AS fn,
           CAST(t.n_all - c.tp - c.fp - (t.pos_all - c.tp) AS BIGINT) AS tn,
           CASE WHEN c.tp + c.fp > 0
                THEN ROUND(c.tp / (c.tp + c.fp), 6) END AS precision,
           CASE WHEN t.pos_all > 0
                THEN ROUND(c.tp / t.pos_all, 6) END AS recall,
           CASE WHEN 2*c.tp + c.fp + (t.pos_all - c.tp) > 0
                THEN ROUND(2*c.tp / (2*c.tp + c.fp + (t.pos_all - c.tp)), 6)
           END AS f1
    FROM cum c CROSS JOIN tot t
    """


@q("q151_pr_curve", _q151_oracle())
def q151(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbt_incremental_ci_spark.operators import classifier
    from dbt_incremental_ci_spark.operators.evalmetrics import binned_pr_curve

    docs = t(spark, sf_dir, "documents").select("text", "lang")
    raw = F.round(classifier.linear_score("text", classifier.default_weights(64, "qc"), 0.0, "qc"), 6)
    scored = docs.select(
        F.round(classifier.sigmoid(raw), 6).alias("prob"),
        (F.col("lang") == "en").alias("y"),
    )
    return binned_pr_curve(scored, "prob", "y", bins=20)


# =====================================================================
# Cohen's kappa (q152): chance-corrected agreement between two
# curation filters — the classifier's keep flag vs a length rule —
# one map-side-combined 2x2 contingency aggregate, single-row output.
# evalmetrics.py.
# =====================================================================
def _q152_oracle() -> str:
    from dbt_incremental_ci_spark.operators import classifier

    w = classifier.default_weights(64, "qc")
    score = classifier.linear_score_sql("text", w, 0.0, "qc")
    return f"""
    WITH s AS (
      SELECT CAST(ROUND({score}, 6) >= 0.0 AS INT) AS a,
             CAST(len(list_filter(string_split_regex(trim(text), '\\s+'),
                                  x -> x <> '')) >= 50 AS INT) AS b
      FROM documents
    ),
    agg AS (
      SELECT count(*) AS n,
             sum(a * b) AS n11, sum(a * (1 - b)) AS n10,
             sum((1 - a) * b) AS n01, sum((1 - a) * (1 - b)) AS n00
      FROM s
    )
    SELECT CAST(n AS BIGINT) AS n, CAST(n11 AS BIGINT) AS n11,
           CAST(n10 AS BIGINT) AS n10, CAST(n01 AS BIGINT) AS n01,
           CAST(n00 AS BIGINT) AS n00,
           ROUND((n11 + n00) / CAST(n AS DOUBLE), 6) AS po,
           ROUND(((n11 + n10) * (n11 + n01) + (n01 + n00) * (n10 + n00))
                 / (CAST(n AS DOUBLE) * n), 6) AS pe,
           CASE WHEN ((n11 + n10) * (n11 + n01) + (n01 + n00) * (n10 + n00))
                     / (CAST(n AS DOUBLE) * n) >= 1.0 THEN 1.0
                ELSE ROUND((((n11 + n00) / CAST(n AS DOUBLE))
                      - ((n11 + n10) * (n11 + n01) + (n01 + n00) * (n10 + n00))
                        / (CAST(n AS DOUBLE) * n))
                     / (1 - ((n11 + n10) * (n11 + n01) + (n01 + n00) * (n10 + n00))
                        / (CAST(n AS DOUBLE) * n)), 6)
           END AS kappa
    FROM agg
    """


@q("q152_cohens_kappa", _q152_oracle())
def q152(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbt_incremental_ci_spark.operators import classifier
    from dbt_incremental_ci_spark.operators.evalmetrics import cohens_kappa
    from dbt_incremental_ci_spark.operators.text import token_count

    docs = t(spark, sf_dir, "documents").select("text")
    raw = F.round(classifier.linear_score("text", classifier.default_weights(64, "qc"), 0.0, "qc"), 6)
    rated = docs.select(
        (raw >= 0.0).alias("a"), (token_count("text") >= 50).alias("b")
    )
    return cohens_kappa(rated, "a", "b")


# =====================================================================
# Token-budget data mix (q153): "at most 300 tokens per source" —
# per-category selection in deterministic hash order until the token
# budget is exhausted. The scalable shape is a GLOBAL two-phase
# cumsum over (source, hash) order + O(#sources) broadcast offsets —
# never a per-source window whose frame is data-sized when one
# source dominates. Oracle: the plain per-source window (DuckDB can
# afford it at sf0.01). operators/sampling.py token_budget_mix.
# =====================================================================
@q(
    "q153_token_budget_mix",
    """
    WITH tk AS (
      SELECT doc_id, source,
             len(list_filter(string_split_regex(trim(text), '\\s+'),
                             x -> x <> '')) AS n_tokens,
             (('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':tb'), 1, 8))::BIGINT
              / 4294967296.0) AS u
      FROM documents
    ),
    c AS (
      SELECT doc_id, source, n_tokens,
             sum(n_tokens) OVER (PARTITION BY source ORDER BY u, doc_id)
               AS cum_tokens
      FROM tk
    )
    SELECT doc_id, source, CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(cum_tokens AS BIGINT) AS cum_tokens,
           cum_tokens <= 300 AS keep
    FROM c
    """,
)
def q153(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbt_incremental_ci_spark.operators.sampling import token_budget_mix
    from dbt_incremental_ci_spark.operators.text import token_count

    docs = t(spark, sf_dir, "documents").select(
        "doc_id", "source", token_count("text").alias("n_tokens")
    )
    out = token_budget_mix(docs, "source", "n_tokens", 300, "doc_id")
    return out.select(
        "doc_id",
        "source",
        F.col("n_tokens").cast("bigint").alias("n_tokens"),
        "cum_tokens",
        "keep",
    )


# =====================================================================
# Scalar 8-bit quantization (q154): per-dimension SQ8 — global
# [min,max] per dim (DIM-row aggregate, broadcast back), linear map
# onto {0..255}, dequantized reconstruction + order-independent
# decimal MSE in one pass. Codes serialize to a CSV string for the
# cross-engine hash (array stringification differs between pandas and
# DuckDB). operators/similarity.py scalar_quantize_8bit.
# =====================================================================
@q(
    "q154_sq8_quantization",
    """
    WITH base AS (
      SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
    ),
    vals AS (
      SELECT vec_id, i AS pos, v[i] AS val
      FROM base, LATERAL unnest(range(1, len(v) + 1)) AS r(i)
    ),
    dims AS (
      SELECT pos, min(val) AS mn, max(val) AS mx FROM vals GROUP BY pos
    ),
    coded AS (
      SELECT vec_id, pos, val, mn, mx,
             CASE WHEN mx > mn
                  THEN CAST(ROUND((val - mn) * 255.0 / (mx - mn), 0) AS INT)
                  ELSE 0 END AS code
      FROM vals JOIN dims USING (pos)
    ),
    deq AS (
      SELECT vec_id, pos, code,
             val - (CASE WHEN mx > mn
                         THEN mn + code * (mx - mn) / 255.0
                         ELSE mn END) AS err
      FROM coded
    )
    SELECT vec_id,
           array_to_string(list(code ORDER BY pos), ',') AS codes_str,
           ROUND(CAST(sum(CAST(ROUND(err * err, 12) AS DECIMAL(28,12)))
                      AS DOUBLE) / count(*), 9) AS mse
    FROM deq GROUP BY vec_id
    """,
)
def q154(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbt_incremental_ci_spark.operators.similarity import (
        scalar_quantize_8bit,
    )

    emb = t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    out = scalar_quantize_8bit(emb)
    return out.select(
        "vec_id",
        F.array_join(F.col("codes"), ",").alias("codes_str"),
        "mse",
    )


# =====================================================================
# Semantic decontamination (q155): flag training vectors whose max
# cosine against the EVAL embedding set exceeds a threshold — the
# embedding-space complement of q97's n-gram decontamination (catches
# paraphrased eval leakage that exact n-grams miss). The eval set is
# FIXED-SIZE by definition (vec_id < _Q155_EVAL_BOUND — a benchmark
# suite does not grow with the training corpus; the unbounded %50
# slice of rounds 3/4a made the query quadratic and measured 62x on
# the 10x gate), so total work is |train| × O(1) map-side dots — one
# max per train vector before any shuffle. Dots go through the Arrow
# einsum path (dot_arrow round-6 contract); zero-norm guard matches
# retrieval.normalize_vec. At sf0.01 every vec_id < the bound, so the
# oracle below (same predicate) is value-identical to the old form.
# =====================================================================
@q(
    "q155_semantic_decontam",
    """
    WITH base AS (
      SELECT vec_id,
             CASE WHEN sqrt(list_dot_product(embedding::DOUBLE[],
                                             embedding::DOUBLE[])) > 0
                  THEN list_transform(embedding::DOUBLE[],
                    x -> x / sqrt(list_dot_product(embedding::DOUBLE[],
                                                   embedding::DOUBLE[])))
                  ELSE list_transform(embedding::DOUBLE[], x -> 0.0)
             END AS v
      FROM embeddings
    ),
    ev AS (SELECT vec_id AS eid, v AS evec FROM base
           WHERE vec_id % 50 = 0 AND vec_id < 10000),
    tr AS (SELECT vec_id, v FROM base
           WHERE NOT (vec_id % 50 = 0 AND vec_id < 10000))
    SELECT t.vec_id,
           MAX(ROUND(list_dot_product(t.v, e.evec), 6)) AS max_eval_cos,
           MAX(ROUND(list_dot_product(t.v, e.evec), 6)) >= 0.35
             AS contaminated
    FROM tr t CROSS JOIN ev e
    GROUP BY t.vec_id
    """,
)
def q155(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbt_incremental_ci_spark.operators.retrieval import normalize_vec
    from dbt_incremental_ci_spark.operators.similarity import dot_arrow

    emb = t(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").alias("v")
    )
    n = normalize_vec(emb, "v")
    is_eval = (F.col("vec_id") % 50 == 0) & (F.col("vec_id") < 10000)
    ev = n.filter(is_eval).select(F.col("v").alias("evec"))
    tr = n.filter(~is_eval)
    return (
        tr.crossJoin(F.broadcast(ev))
        .withColumn(
            "__c", F.round(dot_arrow()(F.col("v"), F.col("evec")), 6)
        )
        .groupBy("vec_id")
        .agg(F.max("__c").alias("max_eval_cos"))
        .withColumn("contaminated", F.col("max_eval_cos") >= 0.35)
    )


# =====================================================================
# SCD Type-2 history build (q156): compact the event log into validity
# intervals per user — the dbt snapshot materialization's output shape
# (ref: SRC/core.py classifies snapshot models for CI copying), built
# as a timestamp-strategy replay. One shuffle on the key; per-key
# window frames, never data-sized. operators/scd.py.
# =====================================================================
@q(
    "q156_scd2_build",
    """
    WITH e AS (
      SELECT user_id, event_type, epoch_ns(ts) AS tsn, event_id FROM events
    ),
    d AS (
      SELECT user_id, event_type, tsn, event_id,
             lag(event_type) OVER (PARTITION BY user_id
                                   ORDER BY tsn, event_id) AS prev
      FROM e
    ),
    o AS (
      SELECT user_id, event_type, tsn, event_id FROM d
      WHERE prev IS NULL OR prev IS DISTINCT FROM event_type
    )
    SELECT user_id, event_type, tsn AS valid_from,
           lead(tsn) OVER (PARTITION BY user_id ORDER BY tsn, event_id)
             AS valid_to,
           lead(tsn) OVER (PARTITION BY user_id ORDER BY tsn, event_id)
             IS NULL AS is_current
    FROM o
    """,
)
def q156(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbt_incremental_ci_spark.operators.scd import scd2_from_events

    ev = events_table(spark, sf_dir).select(
        "user_id", "event_type", "ts", "event_id"
    )
    return scd2_from_events(
        ev, "user_id", ["event_type"], "ts", tiebreak_col="event_id"
    )


# =====================================================================
# k-anonymity / l-diversity audit (q157): per quasi-identifier group
# size and sensitive-value diversity — the pre-release privacy gate.
# Single hash aggregate; count_distinct is the two-phase partial
# distinct, so no group materializes members. operators/privacy.py.
# =====================================================================
@q(
    "q157_k_anonymity",
    """
    SELECT c_nationkey,
           CAST(floor(c_acctbal / 1000) AS BIGINT) AS bal_bucket,
           CAST(count(*) AS BIGINT) AS grp_n,
           CAST(count(DISTINCT c_mktsegment) AS BIGINT) AS l_distinct,
           count(*) >= 5 AS k_ok,
           count(DISTINCT c_mktsegment) >= 2 AS l_ok
    FROM customer
    GROUP BY 1, 2
    """,
)
def q157(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbt_incremental_ci_spark.operators.privacy import k_anonymity_audit

    c = t(spark, sf_dir, "customer").select(
        "c_nationkey",
        F.floor(F.col("c_acctbal") / 1000).cast("bigint").alias("bal_bucket"),
        "c_mktsegment",
    )
    return k_anonymity_audit(
        c, ["c_nationkey", "bal_bucket"], "c_mktsegment", k=5, l=2
    )


# =====================================================================
# Typed JSON extraction (q158): from_json with an explicit schema —
# parse once inside codegen, then the struct field behaves like a real
# column (pruned, pushed, aggregated JVM-side). Malformed payloads
# count as parse failures, never silently dropped.
# operators/semistructured.py.
# =====================================================================
@q(
    "q158_json_extract",
    """
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CASE WHEN json_valid(props) THEN 1 ELSE 0 END)
                AS BIGINT) AS n_parsed,
           CAST(SUM(CAST(CAST(props->>'k' AS INT) AS DECIMAL(18,2)))
                AS DOUBLE) AS sum_k,
           max(CAST(props->>'k' AS INT)) AS max_k
    FROM events
    GROUP BY event_type
    """,
)
def q158(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbt_incremental_ci_spark.operators.semistructured import json_typed

    ev = t(spark, sf_dir, "events").select("event_type", "props")
    typed = json_typed(ev, "props", "k INT")
    return typed.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(F.col("parse_ok"), 1).otherwise(0)).alias("n_parsed"),
        d(F.sum(dec(F.col("parsed.k")))).alias("sum_k"),
        F.max(F.col("parsed.k")).alias("max_k"),
    )


def _q159_oracle() -> str:
    from dbt_incremental_ci_spark.operators.countmin import (
        _bucket_sql,
        countmin_sketch_sql,
    )

    depth, width = 4, 256
    sketch = countmin_sketch_sql("events", "user_id", depth, width)
    probes = " UNION ALL ".join(
        f"SELECT user_id, {r} AS r, "
        f"{_bucket_sql('user_id', r, width, '')} AS b FROM keys"
        for r in range(depth)
    )
    return f"""
    WITH sketch AS ({sketch}),
    keys AS (SELECT user_id, count(*) AS exact_n FROM events GROUP BY user_id),
    probes AS ({probes}),
    est AS (
      SELECT p.user_id, min(coalesce(s.cnt, 0)) AS cm_est
      FROM probes p LEFT JOIN sketch s ON s.r = p.r AND s.b = p.b
      GROUP BY p.user_id
    )
    SELECT k.user_id, CAST(k.exact_n AS BIGINT) AS exact_n,
           CAST(e.cm_est AS BIGINT) AS cm_est,
           CAST(e.cm_est - k.exact_n AS BIGINT) AS overcount
    FROM keys k JOIN est e USING (user_id)
    """


# =====================================================================
# Count-min sketch (q159): mergeable d×w frequency sketch, one-sided
# error (est >= exact, checked per key in the output). Build shuffles
# at most d·w cells per partition (map-side combine); estimates are a
# broadcast join of the tiny sketch. operators/countmin.py.
# =====================================================================
@q("q159_countmin", _q159_oracle())
def q159(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbt_incremental_ci_spark.operators import countmin

    depth, width = 4, 256
    ev = t(spark, sf_dir, "events").select("user_id")
    sk = countmin.countmin_build(ev, "user_id", depth=depth, width=width)
    exact = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("exact_n"))
    est = countmin.countmin_estimate(
        sk, exact.select("user_id"), "user_id", depth=depth, width=width
    )
    return exact.join(est, on="user_id").select(
        "user_id",
        "exact_n",
        "cm_est",
        (F.col("cm_est") - F.col("exact_n")).alias("overcount"),
    )


def _q160_oracle() -> str:
    import math

    wa1, wd1 = math.log2(0.9 / 0.001), math.log2(0.1 / 0.999)
    wa2, wd2 = math.log2(0.8 / 0.1), math.log2(0.2 / 0.9)
    w = (
        f"(CASE WHEN agree_suffix THEN {wa1!r} ELSE {wd1!r} END) + "
        f"(CASE WHEN agree_bal THEN {wa2!r} ELSE {wd2!r} END)"
    )
    return f"""
    WITH p AS (
      SELECT c_custkey, s_suppkey,
             substr(c_name, length(c_name) - 2, 3)
               = substr(s_name, length(s_name) - 2, 3) AS agree_suffix,
             floor(c_acctbal / 1000) = floor(s_acctbal / 1000) AS agree_bal
      FROM customer JOIN supplier
        ON c_nationkey = s_nationkey
       AND substr(c_name, length(c_name) - 2, 3)
             = substr(s_name, length(s_name) - 2, 3)
    ),
    s AS (
      SELECT c_custkey, s_suppkey, agree_suffix, agree_bal,
             ROUND({w}, 6) AS fs_weight
      FROM p
    )
    SELECT *,
           CASE WHEN fs_weight >= 5.0 THEN 'link'
                WHEN fs_weight <= -2.0 THEN 'non_link'
                ELSE 'possible' END AS decision
    FROM s
    WHERE fs_weight >= 5.0
    """


# =====================================================================
# Fellegi-Sunter record linkage (q160): blocked candidate pairs,
# per-field agreement flags, summed log2(m/u) match weights, link
# decision. The m/u weights fold to compile-time literals, so scoring
# is one codegen'd expression over the pair frame. Blocking is the
# scale knob (operators/linkage.py): with these weights the link band
# (fs_weight >= 5.0) is EXACTLY the suffix-agreeing pairs (max
# non-suffix weight = wd1+wa2 = -0.32), so blocking on
# (nationkey, 3-char name suffix) generates every link candidate with
# ZERO false negatives while keeping pair volume ~|C|·|S|/(25·1000) —
# linear at scale. The round-3/4a form blocked on nationkey alone and
# emitted the 'possible' band, whose size is Θ(|C|·|S|) by definition
# (measured 43x on the 10x gate): a pair-quadratic OUTPUT cannot
# scale, so the query emits confirmed links and the review band stays
# behind the blocking knob. operators/linkage.py.
# =====================================================================
@q("q160_fs_linkage", _q160_oracle())
def q160(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbt_incremental_ci_spark.operators import linkage

    c = t(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_name",
        F.col("c_nationkey").alias("nationkey"),
        "c_acctbal",
        F.col("c_name").substr(F.length("c_name") - 2, F.lit(3)).alias("sfx"),
    )
    s = t(spark, sf_dir, "supplier").select(
        "s_suppkey",
        "s_name",
        F.col("s_nationkey").alias("nationkey"),
        "s_acctbal",
        F.col("s_name").substr(F.length("s_name") - 2, F.lit(3)).alias("sfx"),
    )
    pairs = linkage.block_pairs(c, s, ["nationkey", "sfx"])
    suffix = F.col("c_name").substr(
        F.length("c_name") - 2, F.lit(3)
    ) == F.col("s_name").substr(F.length("s_name") - 2, F.lit(3))
    bal = F.floor(F.col("c_acctbal") / 1000) == F.floor(
        F.col("s_acctbal") / 1000
    )
    scored = linkage.fs_score(
        pairs,
        {"suffix": (suffix, 0.9, 0.001), "bal": (bal, 0.8, 0.1)},
    )
    out = linkage.classify(scored, upper=5.0, lower=-2.0)
    return out.filter(F.col("fs_weight") >= 5.0).select(
        "c_custkey",
        "s_suppkey",
        "agree_suffix",
        "agree_bal",
        "fs_weight",
        "decision",
    )


def _q161_oracle() -> str:
    from dbt_incremental_ci_spark.operators.privacy import dp_group_counts_sql

    return dp_group_counts_sql("customer", ["c_mktsegment"], epsilon=1.0)


# =====================================================================
# Differentially-private release (q161): Laplace-noised group counts,
# seed = md5(group key) so the release is reproducible (and exactly
# twinned in the oracle). The exact count never leaves the aggregate —
# only the noised value is emitted, as a DP release requires.
# operators/privacy.py.
# =====================================================================
@q("q161_dp_counts", _q161_oracle())
def q161(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbt_incremental_ci_spark.operators.privacy import dp_group_counts

    c = t(spark, sf_dir, "customer")
    return dp_group_counts(c, ["c_mktsegment"], epsilon=1.0)


def _q162_oracle() -> str:
    bits, top = 8, 255
    sx = "CAST(least(greatest(floor((CAST(x AS DOUBLE) - 0.0) / 255.0 * 255), 0), 255) AS BIGINT)"
    sy = "CAST(least(greatest(floor((CAST(y AS DOUBLE) - 0.0) / 255.0 * 255), 0), 255) AS BIGINT)"
    terms = []
    for i in range(bits):
        terms.append(f"(((sx >> {i}) & 1) * {1 << (2 * i)})")
        terms.append(f"(((sy >> {i}) & 1) * {1 << (2 * i + 1)})")
    z = " + ".join(terms)
    return f"""
    WITH base AS (
      SELECT o_orderkey,
             o_custkey % 256 AS x,
             date_diff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE))
               % 256 AS y
      FROM orders
    ),
    scaled AS (
      SELECT o_orderkey, x, y, {sx} AS sx, {sy} AS sy FROM base
    )
    SELECT o_orderkey, CAST(x AS BIGINT) AS x, CAST(y AS BIGINT) AS y,
           CAST({z} AS BIGINT) AS zkey,
           CAST(({z}) >> 10 AS BIGINT) AS zbucket
    FROM scaled
    """


# =====================================================================
# Z-order clustering key (q162): Morton-interleave two predicate
# columns so range-partitioned files cover tight hyper-boxes on BOTH —
# parquet min/max stats then prune scans for predicates on either
# column (the write-side data-skipping story, sinks/layout.py
# write_zordered). The key is a pure codegen expression; the oracle
# reproduces the interleave arithmetically. sinks/layout.py:97.
# =====================================================================
@q("q162_zorder_key", _q162_oracle())
def q162(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbt_incremental_ci_spark.sinks.layout import zorder_key

    o = t(spark, sf_dir, "orders").select(
        "o_orderkey",
        (F.col("o_custkey") % 256).alias("x"),
        (
            F.datediff(
                F.col("o_orderdate").cast("date"),
                F.lit("1992-01-01").cast("date"),
            )
            % 256
        ).cast("bigint").alias("y"),
    )
    zk = zorder_key(o, ["x", "y"], bounds={"x": (0, 255), "y": (0, 255)}, bits=8)
    return o.select(
        "o_orderkey",
        F.col("x").cast("bigint").alias("x"),
        "y",
        zk.alias("zkey"),
        F.shiftright(zk, 10).cast("bigint").alias("zbucket"),
    )


# =====================================================================
# CDC changelog apply (q163): reduce an ordered upsert/delete stream
# to its latest surviving state — one max(struct) hash aggregate
# (argmax by sequence with deterministic tiebreak), shuffled bytes
# O(|keys|) not O(|changelog|), no window sort. Deletes (here: a key
# whose last event is an 'error') drop the key. operators/cdc.py.
# =====================================================================
@q(
    "q163_cdc_apply",
    """
    WITH e AS (
      SELECT user_id, epoch_ns(ts) AS ts, event_id, event_type, value,
             CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op
      FROM events
    ),
    w AS (
      SELECT *, row_number() OVER (PARTITION BY user_id
                                   ORDER BY ts DESC, event_id DESC) AS rn
      FROM e
    )
    SELECT user_id, ts, event_id, event_type, value, op
    FROM w WHERE rn = 1 AND op <> 'D'
    """,
)
def q163(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbt_incremental_ci_spark.operators.cdc import cdc_latest_state

    ev = events_table(spark, sf_dir).select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        "value",
        F.when(F.col("event_type") == "error", F.lit("D"))
        .otherwise(F.lit("U"))
        .alias("op"),
    )
    return cdc_latest_state(
        ev, ["user_id"], "ts", "op", delete_op="D", tiebreak_col="event_id"
    )


def _q164_oracle() -> str:
    from dbt_incremental_ci_spark.operators.sampling import (
        neyman_stratified_sample_sql,
    )

    return neyman_stratified_sample_sql(
        "events",
        "t.event_id",
        "event_type",
        "value",
        2000,
        "t.event_id, t.event_type, t.value",
    )


# =====================================================================
# Neyman stratified sampling (q164): allocate a fixed sample budget
# across strata ∝ N_h·S_h (variance-optimal for the stratified mean).
# Strata stats come from one exact-decimal aggregate so the derived
# rates are bit-identical across engines; membership is the usual
# md5-hash filter — input never shuffles. operators/sampling.py
# neyman_stratified_sample.
# =====================================================================
@q("q164_neyman_sample", _q164_oracle())
def q164(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbt_incremental_ci_spark.operators.sampling import (
        neyman_stratified_sample,
    )

    ev = events_table(spark, sf_dir).select("event_id", "event_type", "value")
    out = neyman_stratified_sample(
        ev, "event_id", "event_type", "value", n_target=2000
    )
    return out.select("event_id", "event_type", "value", "sample_rate")


def _q165_oracle() -> str:
    from dbt_incremental_ci_spark.operators import classifier

    w = classifier.default_weights(64, "qc")
    score = classifier.linear_score_sql("text", w, 0.0, "qc")
    return f"""
    WITH s AS (
      SELECT ROUND({score}, 6) AS score,
             CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
      FROM documents
    ),
    g AS (SELECT score, count(*) AS cnt, sum(y) AS pos FROM s GROUP BY score),
    c AS (SELECT *, sum(cnt) OVER (ORDER BY score) AS cum FROM g),
    t AS (
      SELECT sum(cnt) AS n, sum(pos) AS n_pos,
             CAST(sum(CAST(pos * (2 * (cum - cnt) + cnt + 1)
                           AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS s2
      FROM c
    )
    SELECT CAST(n AS BIGINT) AS n, CAST(n_pos AS BIGINT) AS n_pos,
           CAST(n - n_pos AS BIGINT) AS n_neg,
           ROUND((CAST(s2 AS DOUBLE) - CAST(n_pos * (n_pos + 1) AS DOUBLE))
                 / (2.0 * CAST(n_pos AS DOUBLE) * CAST(n - n_pos AS DOUBLE)),
                 9) AS auc
    FROM t
    """


# =====================================================================
# Exact ROC-AUC (q165): Mann-Whitney rank-sum with tie-averaged ranks
# over the quality-classifier score, label = lang='en'. Rank
# arithmetic stays integer (2·avg_rank), summed as decimal — one float
# division total, so the metric is engine-exact; cumulative ranks come
# from the two-phase global_cumsum, never a single-task window.
# operators/evalmetrics.py roc_auc.
# =====================================================================
@q("q165_roc_auc", _q165_oracle())
def q165(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbt_incremental_ci_spark.operators import classifier
    from dbt_incremental_ci_spark.operators.evalmetrics import roc_auc

    docs = t(spark, sf_dir, "documents").select("text", "lang")
    scored = docs.select(
        F.round(
            classifier.linear_score(
                "text", classifier.default_weights(64, "qc"), 0.0, "qc"
            ),
            6,
        ).alias("score"),
        (F.col("lang") == "en").alias("y"),
    )
    return roc_auc(scored, "score", "y")


# =====================================================================
# Volume anomaly monitor (q166): per event-type hourly counts
# z-scored against that type's own mean/std across observed hours —
# integer count sums are exact, so mean/std/z reproduce bit-for-bit.
# Two hash aggregates + one keys-sized join (AQE-broadcastable).
# operators/timeseries.py count_anomaly_zscore.
# =====================================================================
@q(
    "q166_count_anomaly",
    """
    WITH e AS (
      SELECT event_type,
             epoch_ns(ts) // 3600000000000 AS bucket
      FROM events
    ),
    per AS (
      SELECT event_type, bucket, count(*) AS cnt
      FROM e GROUP BY event_type, bucket
    ),
    st AS (
      SELECT event_type, count(*) AS nb, sum(cnt) AS s1,
             sum(cnt * cnt) AS s2
      FROM per GROUP BY event_type
    ),
    j AS (
      SELECT p.event_type, p.bucket, p.cnt,
             CAST(s1 AS DOUBLE) / CAST(nb AS DOUBLE) AS mean_c,
             CASE WHEN nb > 1
                  THEN sqrt(greatest((CAST(s2 AS DOUBLE)
                         - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)
                           / CAST(nb AS DOUBLE))
                         / (CAST(nb AS DOUBLE) - 1.0), 0.0))
                  ELSE 0.0 END AS std_c
      FROM per p JOIN st USING (event_type)
    )
    SELECT event_type, bucket, CAST(cnt AS BIGINT) AS cnt,
           ROUND(mean_c, 6) AS mean_cnt,
           ROUND(std_c, 6) AS std_cnt,
           ROUND(CASE WHEN std_c > 0
                      THEN (CAST(cnt AS DOUBLE) - mean_c) / std_c
                      ELSE 0.0 END, 6) AS z,
           abs(CASE WHEN std_c > 0
                    THEN (CAST(cnt AS DOUBLE) - mean_c) / std_c
                    ELSE 0.0 END) >= 2.0 AS is_anomaly
    FROM j
    """,
)
def q166(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbt_incremental_ci_spark.operators.timeseries import (
        count_anomaly_zscore,
    )

    ev = events_table(spark, sf_dir).select(
        "event_type",
        # integer div: ns timestamps exceed 2^53, double division here
        # would be lossy at bucket boundaries
        F.expr("ts div 3600000000000").alias("bucket"),
    )
    out = count_anomaly_zscore(ev, ["event_type"], "bucket", z_thresh=2.0)
    return out


# =====================================================================
# Aggregate-delta IVM (q167): maintain a grouped count/sum view under
# a mixed insert/retract batch without rescanning the base — one
# batch-sized delta aggregate + one full-outer key join (classic
# count-algebra; groups retracted to zero support vanish). Oracle
# recomputes the effective relation directly. incremental/ivm.py
# agg_delta_apply.
# =====================================================================
@q(
    "q167_agg_ivm",
    """
    WITH base AS (
      SELECT * FROM orders WHERE o_orderdate < TIMESTAMP '1997-01-01'
    ),
    eff AS (
      SELECT * FROM base WHERE o_orderkey % 17 <> 0
      UNION ALL
      SELECT * FROM orders WHERE o_orderdate >= TIMESTAMP '1997-01-01'
    )
    SELECT o_orderstatus,
           CAST(count(*) AS BIGINT) AS cnt,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             AS sum_total
    FROM eff GROUP BY o_orderstatus
    """,
)
def q167(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbt_incremental_ci_spark.incremental.ivm import agg_delta_apply

    o = t(spark, sf_dir, "orders")
    cutoff = F.lit("1997-01-01").cast("timestamp_ntz")
    base = o.filter(F.col("o_orderdate") < cutoff)
    view = base.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum(dec("o_totalprice")).alias("sum_o_totalprice"),
    )
    dels = base.filter(F.col("o_orderkey") % 17 == 0).withColumn(
        "op", F.lit("D")
    )
    ins = o.filter(F.col("o_orderdate") >= cutoff).withColumn(
        "op", F.lit("I")
    )
    delta = dels.unionByName(ins)
    out = agg_delta_apply(
        view,
        delta,
        ["o_orderstatus"],
        count_col="cnt",
        sum_cols=["o_totalprice"],
        op_col="op",
    )
    return out.select(
        "o_orderstatus",
        F.col("cnt").cast("bigint").alias("cnt"),
        d(F.col("sum_o_totalprice")).alias("sum_total"),
    )


def _q168_oracle() -> str:
    from dbt_incremental_ci_spark.operators.sampling import hash_uniform_sql

    u = hash_uniform_sql("user_id", "ab")
    return f"""
    WITH units AS (
      SELECT user_id,
             CASE WHEN {u} < 0.5 THEN 'A' ELSE 'B' END AS variant,
             max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) = 1
               AS converted
      FROM events GROUP BY user_id
    ),
    wide AS (
      SELECT sum(CASE WHEN variant = 'A' THEN 1 END) AS n_a,
             sum(CASE WHEN variant = 'A' AND converted THEN 1 ELSE 0 END)
               AS c_a,
             sum(CASE WHEN variant = 'B' THEN 1 END) AS n_b,
             sum(CASE WHEN variant = 'B' AND converted THEN 1 ELSE 0 END)
               AS c_b
      FROM units
    ),
    calc AS (
      SELECT *,
             CAST(c_a AS DOUBLE) / CAST(n_a AS DOUBLE) AS pa,
             CAST(c_b AS DOUBLE) / CAST(n_b AS DOUBLE) AS pb,
             (CAST(c_a AS DOUBLE) + CAST(c_b AS DOUBLE))
               / (CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE)) AS pool
      FROM wide
    ),
    zc AS (
      SELECT *,
             sqrt(pool * (1.0 - pool)
                  * (1.0 / CAST(n_a AS DOUBLE) + 1.0 / CAST(n_b AS DOUBLE)))
               AS se
      FROM calc
    )
    SELECT CAST(n_a AS BIGINT) AS n_a, CAST(c_a AS BIGINT) AS c_a,
           CAST(n_b AS BIGINT) AS n_b, CAST(c_b AS BIGINT) AS c_b,
           ROUND(pa, 6) AS rate_a, ROUND(pb, 6) AS rate_b,
           ROUND(pa - pb, 6) AS lift,
           ROUND(CASE WHEN se > 0 THEN (pa - pb) / se ELSE 0.0 END, 6) AS z,
           abs(CASE WHEN se > 0 THEN (pa - pb) / se ELSE 0.0 END)
             >= 1.959963984540054 AS significant
    FROM zc
    """


# =====================================================================
# A/B experiment readout (q168): deterministic hash assignment of
# users to variants, unit-level conversion (any purchase), pooled
# two-proportion z-test. Unit aggregate + 1-row pivot; the statistic
# is a fixed double expression over exact integer counts.
# operators/evalmetrics.py two_proportion_ztest.
# =====================================================================
@q("q168_ab_test", _q168_oracle())
def q168(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbt_incremental_ci_spark.operators.evalmetrics import (
        two_proportion_ztest,
    )
    from dbt_incremental_ci_spark.operators.sampling import hash_uniform

    units = (
        t(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            (
                F.max(
                    F.when(F.col("event_type") == "purchase", 1).otherwise(0)
                )
                == 1
            ).alias("converted")
        )
        .select(
            F.when(hash_uniform("user_id", "ab") < 0.5, F.lit("A"))
            .otherwise(F.lit("B"))
            .alias("variant"),
            "converted",
        )
    )
    return two_proportion_ztest(units, "variant", "converted")


# =====================================================================
# Eval-set n-gram coverage (q169): fraction of each eval doc's
# distinct trigrams present anywhere in the training corpus — the
# recall-side complement of q97's leakage check (low coverage = the
# corpus never discusses the benchmark's domain). Hash-keyed explode +
# distinct corpus set + one left join; 8-byte join keys.
# operators/decontam.py eval_coverage.
# =====================================================================
@q(
    "q169_eval_coverage",
    """
    WITH evals AS (SELECT doc_id, text FROM documents
                   WHERE doc_id % 97 = 0 AND doc_id < 10000),
    corp AS (SELECT doc_id, text FROM documents
             WHERE NOT (doc_id % 97 = 0 AND doc_id < 10000)),
    eng AS (
      SELECT DISTINCT doc_id, ng FROM (
        SELECT doc_id,
               unnest(list_transform(
                 generate_series(1, greatest(0, len(toks) - 2)),
                 i -> array_to_string(toks[i:i+2], ' '))) AS ng
        FROM (SELECT doc_id,
                     list_filter(string_split_regex(trim(text), '\\s+'),
                                 x -> x <> '') AS toks
              FROM evals))
    ),
    cng AS (
      SELECT DISTINCT ng FROM (
        SELECT unnest(list_transform(
                 generate_series(1, greatest(0, len(toks) - 2)),
                 i -> array_to_string(toks[i:i+2], ' '))) AS ng
        FROM (SELECT list_filter(string_split_regex(trim(text), '\\s+'),
                                 x -> x <> '') AS toks
              FROM corp))
    )
    SELECT e.doc_id,
           CAST(count(*) AS BIGINT) AS n_eval_ngrams,
           CAST(sum(CASE WHEN c.ng IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_covered,
           ROUND(sum(CASE WHEN c.ng IS NOT NULL THEN 1 ELSE 0 END)
                 / CAST(count(*) AS DOUBLE), 6) AS coverage
    FROM eng e LEFT JOIN cng c USING (ng)
    GROUP BY e.doc_id
    """,
)
def q169(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbt_incremental_ci_spark.operators.decontam import eval_coverage

    docs = t(spark, sf_dir, "documents").select("doc_id", "text")
    # fixed-bound eval slice: benchmark suites do not grow with the
    # corpus (the q97/q155 scale rule)
    is_eval = (F.col("doc_id") % 97 == 0) & (F.col("doc_id") < 10000)
    evals = docs.filter(is_eval)
    corpus = docs.filter(~is_eval)
    return eval_coverage(corpus, evals, n=3)


# =====================================================================
# Reciprocal Rank Fusion (q170): fuse two per-nation supplier
# rankings — balance-sheet rank and exact-decimal revenue rank — with
# RRF 1/(60+r) scoring (Cormack et al. SIGIR'09), the hybrid-retrieval
# combiner (BM25 + dense) applied to the warehouse. Each run reduces
# to one row per supplier before the key-only full-outer fuse;
# suppliers absent from a run contribute nothing.
# operators/retrieval.py rrf_fuse.
# =====================================================================
@q(
    "q170_rrf_fusion",
    """
    WITH a AS (
      SELECT s_nationkey, s_suppkey,
             row_number() OVER (PARTITION BY s_nationkey
                                ORDER BY s_acctbal DESC, s_suppkey)
               AS rank_bal
      FROM supplier
    ),
    rv AS (
      SELECT s.s_nationkey, l.l_suppkey AS s_suppkey,
             sum(CAST(l.l_extendedprice AS DECIMAL(18,2))
                 * (1 - CAST(l.l_discount AS DECIMAL(18,2)))) AS rev
      FROM lineitem l JOIN supplier s ON s.s_suppkey = l.l_suppkey
      GROUP BY s.s_nationkey, l.l_suppkey
    ),
    b AS (
      SELECT s_nationkey, s_suppkey,
             row_number() OVER (PARTITION BY s_nationkey
                                ORDER BY rev DESC, s_suppkey) AS rank_rev
      FROM rv
    )
    SELECT s_nationkey, s_suppkey, a.rank_bal, b.rank_rev,
           ROUND(coalesce(1.0 / (60 + a.rank_bal), 0)
                 + coalesce(1.0 / (60 + b.rank_rev), 0), 9) AS rrf_score
    FROM a FULL OUTER JOIN b USING (s_nationkey, s_suppkey)
    """,
)
def q170(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from dbt_incremental_ci_spark.operators.retrieval import rrf_fuse

    s = t(spark, sf_dir, "supplier").select(
        "s_nationkey", "s_suppkey", "s_acctbal"
    )
    li = t(spark, sf_dir, "lineitem").select(
        "l_suppkey", "l_extendedprice", "l_discount"
    )
    wa = Window.partitionBy("s_nationkey").orderBy(
        F.desc("s_acctbal"), F.asc("s_suppkey")
    )
    run_a = s.select(
        "s_nationkey",
        "s_suppkey",
        F.row_number().over(wa).alias("rank_bal"),
    )
    rv = (
        li.join(s.select("s_suppkey", "s_nationkey"),
                li["l_suppkey"] == s["s_suppkey"])
        .groupBy("s_nationkey", "l_suppkey")
        .agg(
            F.sum(
                dec("l_extendedprice") * (F.lit(1) - dec("l_discount"))
            ).alias("__rev")
        )
        .select(
            "s_nationkey", F.col("l_suppkey").alias("s_suppkey"), "__rev"
        )
    )
    wb = Window.partitionBy("s_nationkey").orderBy(
        F.desc("__rev"), F.asc("s_suppkey")
    )
    run_b = rv.select(
        "s_nationkey",
        "s_suppkey",
        F.row_number().over(wb).alias("rank_rev"),
    )
    return rrf_fuse(
        [run_a, run_b],
        ["s_nationkey", "s_suppkey"],
        ["rank_bal", "rank_rev"],
        k=60,
    )


def _q171_oracle() -> str:
    from dbt_incremental_ci_spark.operators.hll import hll_cardinality_sql

    return hll_cardinality_sql(
        "FROM (SELECT unnest(list_filter("
        "string_split_regex(lower(text), '\\s+'), x -> x <> '')) AS tok"
        " FROM documents) u",
        "tok",
        m=128,
        salt="vocab",
    )


# =====================================================================
# HLL vocabulary cardinality (q171): HyperLogLog distinct-token
# estimate over the corpus vocabulary, self-graded against the exact
# distinct — the mergeable-sketch answer to "how big is the vocab"
# that reduces map-side to 128 registers per partition at any scale
# (the built-in approx_count_distinct is HLL++ but JVM-private, hence
# un-oracle-able; this sketch replays bit-for-bit in DuckDB).
# operators/hll.py.
# =====================================================================
@q("q171_hll_vocab", _q171_oracle())
def q171(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbt_incremental_ci_spark.operators.hll import hll_cardinality

    docs = t(spark, sf_dir, "documents")
    toks = docs.select(
        F.explode(
            F.filter(
                F.split(F.lower(F.col("text")), r"\s+"),
                lambda x: x != "",
            )
        ).alias("token")
    )
    return hll_cardinality(toks, "token", m=128, salt="vocab")


def _q172_oracle() -> str:
    from dbt_incremental_ci_spark.operators import classifier

    w = classifier.default_weights(64, "qc")
    score = classifier.linear_score_sql("text", w, 0.0, "qc")
    return f"""
    WITH s AS (
      SELECT ROUND(1.0 / (1.0 + exp(-(ROUND({score}, 6)))), 6) AS prob,
             (lang = 'en') AS y
      FROM documents
    ),
    m AS (
      SELECT CAST(CAST(prob AS DECIMAL(9,6)) * 1000000 AS BIGINT) AS mi,
             CAST(y AS INT) AS y
      FROM s
    ),
    binned AS (
      SELECT LEAST(CAST((mi * 10 - (mi * 10) % 1000000) / 1000000 AS INT),
                   9) AS bin,
             mi, y
      FROM m
    ),
    per AS (
      SELECT bin, count(*) AS n, sum(mi) AS smi, sum(y) AS pos
      FROM binned GROUP BY bin
    ),
    tot AS (SELECT sum(n) AS n_all FROM per),
    spine AS (SELECT CAST(i AS INT) AS bin FROM range(10) r(i)),
    fl AS (
      SELECT spine.bin, coalesce(n, 0) AS n, smi, coalesce(pos, 0) AS pos
      FROM spine LEFT JOIN per USING (bin)
    )
    SELECT fl.bin, ROUND(fl.bin / 10.0, 6) AS bin_lo,
           CAST(n AS BIGINT) AS n,
           CASE WHEN n > 0
                THEN ROUND(smi / (n * 1000000.0), 6) END AS mean_prob,
           CASE WHEN n > 0
                THEN ROUND(pos / CAST(n AS DOUBLE), 6) END AS pos_rate,
           CASE WHEN n > 0
                THEN ROUND(abs(ROUND(smi / (n * 1000000.0), 6)
                               - ROUND(pos / CAST(n AS DOUBLE), 6)), 6)
           END AS gap,
           CASE WHEN n > 0
                THEN ROUND(ROUND(abs(ROUND(smi / (n * 1000000.0), 6)
                                     - ROUND(pos / CAST(n AS DOUBLE), 6)), 6)
                           * n / t.n_all, 9)
                ELSE 0.0 END AS ece_term
    FROM fl CROSS JOIN tot t
    """


# =====================================================================
# Calibration / reliability bins (q172): is the quality classifier's
# probability honest? Equal-width probability bins over the q151
# scored frame; per-bin mean predicted probability (EXACT micro-unit
# integer sum, one division), observed positive rate, and weighted
# ECE terms (Naeini et al. 2015). One hash aggregate + O(bins) spine.
# operators/evalmetrics.py calibration_bins.
# =====================================================================
@q("q172_calibration", _q172_oracle())
def q172(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbt_incremental_ci_spark.operators import classifier
    from dbt_incremental_ci_spark.operators.evalmetrics import (
        calibration_bins,
    )

    docs = t(spark, sf_dir, "documents").select("text", "lang")
    raw = F.round(
        classifier.linear_score(
            "text", classifier.default_weights(64, "qc"), 0.0, "qc"
        ),
        6,
    )
    scored = docs.select(
        F.round(classifier.sigmoid(raw), 6).alias("prob"),
        (F.col("lang") == "en").alias("y"),
    )
    return calibration_bins(scored, "prob", "y", bins=10)


# =====================================================================
# Sequential funnel (q173): users reaching view -> click -> purchase,
# each step strictly after the previous step's first qualifying time —
# the product-analytics staple, as len(steps) linear min-aggregates
# + user-keyed joins (the frame shrinks every step); rate pass runs
# on a 3-row frame. Complements q149 (single A->B pattern with a veto
# event). operators/patterns.py funnel_counts.
# =====================================================================
@q(
    "q173_funnel",
    """
    WITH e AS (
      SELECT user_id, event_type, epoch_ns(ts) AS tsn FROM events
    ),
    s0 AS (
      SELECT user_id, min(tsn) AS t FROM e
      WHERE event_type = 'view' GROUP BY user_id
    ),
    s1 AS (
      SELECT e.user_id, min(e.tsn) AS t
      FROM e JOIN s0 ON e.user_id = s0.user_id AND e.tsn > s0.t
      WHERE e.event_type = 'click' GROUP BY e.user_id
    ),
    s2 AS (
      SELECT e.user_id, min(e.tsn) AS t
      FROM e JOIN s1 ON e.user_id = s1.user_id AND e.tsn > s1.t
      WHERE e.event_type = 'purchase' GROUP BY e.user_id
    ),
    c AS (
      SELECT 0 AS step_idx, 'view' AS step, count(*) AS users FROM s0
      UNION ALL SELECT 1, 'click', count(*) FROM s1
      UNION ALL SELECT 2, 'purchase', count(*) FROM s2
    )
    SELECT CAST(step_idx AS INT) AS step_idx, step,
           CAST(users AS BIGINT) AS users,
           CASE WHEN lag(users) OVER (ORDER BY step_idx) > 0
                THEN ROUND(users / CAST(lag(users) OVER (ORDER BY step_idx)
                                        AS DOUBLE), 6)
           END AS conv_from_prev,
           CASE WHEN step_idx > 0
                     AND first_value(users) OVER (ORDER BY step_idx) > 0
                THEN ROUND(users
                           / CAST(first_value(users) OVER (ORDER BY step_idx)
                                  AS DOUBLE), 6)
           END AS conv_from_first
    FROM c
    """,
)
def q173(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbt_incremental_ci_spark.operators.patterns import funnel_counts

    ev = events_table(spark, sf_dir).select("user_id", "ts", "event_type")
    return funnel_counts(
        ev, "user_id", "ts", "event_type", ["view", "click", "purchase"]
    )


def _q174_oracle() -> str:
    from dbt_incremental_ci_spark.operators.hll import hll_cardinality_sql

    inner = hll_cardinality_sql(
        "FROM (SELECT unnest(list_filter("
        "string_split_regex(lower(text), '\\s+'), x -> x <> '')) AS tok"
        " FROM documents) u",
        "tok",
        m=64,
        salt="vocab2",
    )
    return f"SELECT m, n_active, estimate FROM ({inner}) full_sketch"


# =====================================================================
# Incremental HLL state maintenance (q174): the corpus is sketched in
# two shards (stored state + new batch), the register frames merged by
# max-per-bucket, and the estimator applied to the MERGED state — the
# streaming/incremental path that never rescans history. The oracle
# sketches the FULL corpus directly: mergeability says the two answers
# are IDENTICAL (not approximately — register-exact), so the value
# match is itself the proof of the merge contract. operators/hll.py
# hll_registers / hll_merge / hll_estimate.
# =====================================================================
@q("q174_hll_merge", _q174_oracle())
def q174(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbt_incremental_ci_spark.operators.hll import (
        hll_estimate,
        hll_merge,
        hll_registers,
    )

    docs = t(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.explode(
            F.filter(
                F.split(F.lower(F.col("text")), r"\s+"),
                lambda x: x != "",
            )
        ).alias("token"),
    )
    state = hll_registers(
        toks.filter(F.col("doc_id") % 5 != 0), "token", m=64, salt="vocab2"
    )
    batch = hll_registers(
        toks.filter(F.col("doc_id") % 5 == 0), "token", m=64, salt="vocab2"
    )
    return hll_estimate(hll_merge(state, batch), m=64)


def _q175_oracle() -> str:
    return """
    WITH base AS (
      SELECT vec_id,
             CASE WHEN sqrt(list_dot_product(embedding::DOUBLE[],
                                             embedding::DOUBLE[])) > 0
                  THEN list_transform(embedding::DOUBLE[],
                    x -> x / sqrt(list_dot_product(embedding::DOUBLE[],
                                                   embedding::DOUBLE[])))
                  ELSE list_transform(embedding::DOUBLE[], x -> 0.0)
             END AS v
      FROM embeddings
    ),
    anch AS (
      SELECT vec_id AS anchor_id, v AS av, vec_id % 7 AS adom
      FROM base WHERE vec_id % 100 = 0 AND vec_id < 10000
    ),
    cand AS (SELECT vec_id AS neg_id, v AS cv, vec_id % 7 AS cdom FROM base),
    scored AS (
      SELECT a.anchor_id, c.neg_id,
             ROUND(list_dot_product(a.av, c.cv), 6) AS cos
      FROM anch a JOIN cand c
        ON c.cdom <> a.adom AND c.neg_id <> a.anchor_id
    )
    SELECT anchor_id, neg_id, cos, CAST(rnk AS INT) AS rnk FROM (
      SELECT *, row_number() OVER (PARTITION BY anchor_id
                                   ORDER BY cos DESC, neg_id) AS rnk
      FROM scored
    ) WHERE rnk <= 3
    """


# =====================================================================
# Hard-negative mining (q175): for each anchor in a FIXED probe set
# (bounded like q155's eval set — probes don't grow with the corpus),
# the top-3 most-similar vectors from a DIFFERENT domain (vec_id % 7
# as the synthetic domain label) — the contrastive-training negative
# selector: nearest non-matches make the hardest negatives. Work is
# |corpus| × O(1) Arrow dots map-side; the per-anchor top-3 window
# partitions on anchor (bounded frames). operators/retrieval.py
# normalize_vec + similarity.dot_arrow.
# =====================================================================
@q("q175_hard_negatives", _q175_oracle())
def q175(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from dbt_incremental_ci_spark.operators.retrieval import normalize_vec
    from dbt_incremental_ci_spark.operators.similarity import dot_arrow

    emb = t(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").alias("v")
    )
    nv = normalize_vec(emb, "v")
    anch = nv.filter(
        (F.col("vec_id") % 100 == 0) & (F.col("vec_id") < 10000)
    ).select(
        F.col("vec_id").alias("anchor_id"),
        F.col("v").alias("av"),
        (F.col("vec_id") % 7).alias("adom"),
    )
    cand = nv.select(
        F.col("vec_id").alias("neg_id"),
        F.col("v").alias("cv"),
        (F.col("vec_id") % 7).alias("cdom"),
    )
    scored = (
        cand.crossJoin(F.broadcast(anch))
        .filter(
            (F.col("cdom") != F.col("adom"))
            & (F.col("neg_id") != F.col("anchor_id"))
        )
        .select(
            "anchor_id",
            "neg_id",
            F.round(dot_arrow()(F.col("av"), F.col("cv")), 6).alias("cos"),
        )
    )
    w = Window.partitionBy("anchor_id").orderBy(
        F.desc("cos"), F.asc("neg_id")
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("int"))
        .filter(F.col("rnk") <= 3)
    )


# =====================================================================
# Negative sampling (q176): k deterministic candidate items per
# customer (md5-slot hashing onto the item key space) minus the items
# the customer actually bought (anti-join on the interaction set) —
# the recommender-training staple. Candidate generation is a map-side
# explode of a k-literal sequence; the interaction set is one
# distinct projection of orders✕lineitem; the anti-join shuffles on
# (customer, item) only. All hashing replays exactly in the oracle.
# =====================================================================
@q(
    "q176_negative_sampling",
    """
    WITH maxp AS (SELECT max(p_partkey) AS mp FROM part),
    inter AS (
      SELECT DISTINCT o.o_custkey, l.l_partkey
      FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    ),
    cust AS (SELECT DISTINCT o_custkey FROM orders),
    cand AS (
      SELECT c.o_custkey, s.i AS slot,
             1 + (('0x' || substr(md5(CAST(c.o_custkey AS VARCHAR) || ':'
                                      || CAST(s.i AS VARCHAR) || ':neg'),
                                  1, 8))::BIGINT % m.mp) AS cand_item
      FROM cust c CROSS JOIN (SELECT unnest(range(5)) AS i) s
      CROSS JOIN maxp m
    )
    SELECT cd.o_custkey, CAST(cd.slot AS INT) AS slot, cd.cand_item
    FROM cand cd
    ANTI JOIN inter i
      ON i.o_custkey = cd.o_custkey AND i.l_partkey = cd.cand_item
    """,
)
def q176(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    maxp = t(spark, sf_dir, "part").agg(F.max("p_partkey").alias("__mp"))
    inter = (
        o.join(li, o["o_orderkey"] == li["l_orderkey"])
        .select("o_custkey", "l_partkey")
        .distinct()
    )
    cust = o.select("o_custkey").distinct()
    cand = (
        cust.withColumn("slot", F.explode(F.sequence(F.lit(0), F.lit(4))))
        .crossJoin(F.broadcast(maxp))
        .select(
            "o_custkey",
            F.col("slot").cast("int").alias("slot"),
            (
                F.lit(1)
                + F.conv(
                    F.substring(
                        F.md5(
                            F.concat(
                                F.col("o_custkey").cast("string"),
                                F.lit(":"),
                                F.col("slot").cast("string"),
                                F.lit(":neg"),
                            )
                        ),
                        1,
                        8,
                    ),
                    16,
                    10,
                ).cast("bigint")
                % F.col("__mp")
            ).alias("cand_item"),
        )
    )
    return cand.join(
        inter,
        (cand["o_custkey"] == inter["o_custkey"])
        & (cand["cand_item"] == inter["l_partkey"]),
        "left_anti",
    )


def _q177_oracle() -> str:
    from dbt_incremental_ci_spark.operators.sampling import hash_uniform_sql

    u = hash_uniform_sql("user_id", "srm")
    return f"""
    WITH units AS (
      SELECT user_id,
             CASE WHEN {u} < 0.4 THEN 'A'
                  WHEN {u} < 0.8 THEN 'B' ELSE 'H' END AS variant
      FROM (SELECT DISTINCT user_id FROM events)
    ),
    per AS (SELECT variant, count(*) AS n FROM units GROUP BY variant),
    exp AS (
      SELECT * FROM (VALUES ('A', CAST(0.4 AS DOUBLE)),
                            ('B', CAST(0.4 AS DOUBLE)),
                            ('H', CAST(0.2 AS DOUBLE)))
        e(variant, expected_share)
    ),
    tot AS (SELECT sum(n) AS n_all FROM per),
    j AS (
      SELECT e.variant, coalesce(p.n, 0) AS n, e.expected_share, t.n_all
      FROM exp e LEFT JOIN per p USING (variant) CROSS JOIN tot t
    ),
    terms AS (
      SELECT variant, n, expected_share,
             expected_share * n_all AS en,
             CASE WHEN expected_share * n_all > 0
                  THEN pow(n - expected_share * n_all, 2)
                       / (expected_share * n_all)
                  ELSE 0.0 END AS term
      FROM j
    )
    SELECT variant, CAST(n AS BIGINT) AS n, expected_share,
           ROUND(en, 6) AS expected_n,
           ROUND(term, 9) AS chi2_term,
           CAST(sum(CAST(ROUND(term, 9) AS DECIMAL(28,9))) OVER ()
                AS DOUBLE) AS chi2,
           CAST(sum(CAST(ROUND(term, 9) AS DECIMAL(28,9))) OVER ()
                AS DOUBLE) >= 5.991464547107979 AS srm
    FROM terms
    """


# =====================================================================
# Sample Ratio Mismatch check (q177): chi-square goodness-of-fit of
# observed variant assignment counts vs the 40/40/20 design — the
# experiment-health gate read before any A/B metric (complements
# q168's effect readout). |variants|-row frame; the chi-square is a
# decimal-exact fold of round-9 terms so the 3-row window sum cannot
# drift an ulp between engines. operators/evalmetrics.py srm_check.
# =====================================================================
@q("q177_srm_check", _q177_oracle())
def q177(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbt_incremental_ci_spark.operators.evalmetrics import srm_check
    from dbt_incremental_ci_spark.operators.sampling import hash_uniform

    u = hash_uniform("user_id", "srm")
    units = (
        events_table(spark, sf_dir)
        .select("user_id")
        .distinct()
        .select(
            F.when(u < 0.4, F.lit("A"))
            .when(u < 0.8, F.lit("B"))
            .otherwise(F.lit("H"))
            .alias("variant")
        )
    )
    return srm_check(
        units,
        "variant",
        {"A": 0.4, "B": 0.4, "H": 0.2},
        chi2_crit=5.991464547107979,
    )


# =====================================================================
# Linear multi-touch attribution (q178): split each purchase's value
# equally across the user's view/click/signup touches in the 6h
# window before it. Pair volume is the per-user activity bound (the
# q149 event-join class), never a corpus product; attributed value is
# integer micro-unit floor shares (value_micro div n) so bigint sums
# reproduce bit-for-bit on any partitioning — the sub-micro remainder
# is deliberately dropped, not order-dependently assigned.
# operators/attribution.py linear_attribution.
# =====================================================================
@q(
    "q178_attribution",
    """
    WITH conv AS (
      SELECT user_id, epoch_ns(ts) AS cts, event_id,
             CAST(CAST(ROUND(value, 6) AS DECIMAL(18,6)) * 1000000
                  AS BIGINT) AS vm,
             CAST(user_id AS VARCHAR) || ':' || CAST(epoch_ns(ts) AS VARCHAR)
               || ':' || CAST(event_id AS VARCHAR) AS cid
      FROM events WHERE event_type = 'purchase' AND value > 0
    ),
    tch AS (
      SELECT user_id, epoch_ns(ts) AS tts, event_type AS ch
      FROM events WHERE event_type IN ('view', 'click', 'signup')
    ),
    pairs AS (
      SELECT c.cid, c.vm, t.ch
      FROM conv c JOIN tch t ON t.user_id = c.user_id
      WHERE t.tts < c.cts AND t.tts >= c.cts - 21600000000000
    ),
    per_conv AS (SELECT cid, count(*) AS n FROM pairs GROUP BY cid),
    shared AS (
      SELECT p.ch, p.cid, p.vm // pc.n AS share
      FROM pairs p JOIN per_conv pc USING (cid)
    )
    SELECT ch AS channel,
           CAST(count(*) AS BIGINT) AS touches,
           CAST(count(DISTINCT cid) AS BIGINT) AS conversions,
           CAST(sum(share) AS BIGINT) AS attributed_micro,
           ROUND(sum(share) / 1000000.0, 6) AS attributed
    FROM shared
    GROUP BY ch
    """,
)
def q178(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbt_incremental_ci_spark.operators.attribution import (
        linear_attribution,
    )

    ev = events_table(spark, sf_dir)
    conv = ev.filter(
        (F.col("event_type") == "purchase") & (F.col("value") > 0)
    ).select("user_id", "ts", "event_id", "value")
    tch = ev.filter(
        F.col("event_type").isin("view", "click", "signup")
    ).select("user_id", "ts", F.col("event_type").alias("channel"))
    return linear_attribution(
        conv,
        tch,
        user_col="user_id",
        ts_col="ts",
        value_col="value",
        channel_col="channel",
        lookback=21_600_000_000_000,
        id_col="event_id",
    )


# =====================================================================
# Data-quality expectation suite (q179): the dbt generic tests
# (not_null / unique / accepted_values / relationships — the reference
# project's schema.yml surface) as count-only aggregates unioned into
# one report; one check is deliberately violated so the fail path is
# exercised. Each check is a single hash aggregate or anti-join
# emitting ONE row — output bounded by suite size at any scale.
# operators/expectations.py.
# =====================================================================
@q(
    "q179_expectation_suite",
    """
    SELECT 'not_null:o_custkey' AS check_name,
           CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS violations,
           sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) = 0 AS passed
    FROM orders
    UNION ALL
    SELECT 'unique:o_orderkey',
           CAST(coalesce(sum(c - 1), 0) AS BIGINT),
           coalesce(sum(c - 1), 0) = 0
    FROM (SELECT count(*) AS c FROM orders
          WHERE o_orderkey IS NOT NULL GROUP BY o_orderkey)
    UNION ALL
    SELECT 'accepted_values:o_orderstatus',
           CAST(sum(CASE WHEN o_orderstatus IS NOT NULL
                          AND o_orderstatus NOT IN ('O', 'F', 'P')
                         THEN 1 ELSE 0 END) AS BIGINT),
           sum(CASE WHEN o_orderstatus IS NOT NULL
                     AND o_orderstatus NOT IN ('O', 'F', 'P')
                    THEN 1 ELSE 0 END) = 0
    FROM orders
    UNION ALL
    SELECT 'relationships:o_custkey',
           CAST(count(*) AS BIGINT), count(*) = 0
    FROM (SELECT o_custkey FROM orders WHERE o_custkey IS NOT NULL) o
    ANTI JOIN (SELECT DISTINCT c_custkey FROM customer) c
      ON o.o_custkey = c.c_custkey
    UNION ALL
    SELECT 'accepted_values:o_orderpriority',
           CAST(sum(CASE WHEN o_orderpriority IS NOT NULL
                          AND o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT),
           sum(CASE WHEN o_orderpriority IS NOT NULL
                     AND o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END) = 0
    FROM orders
    """,
)
def q179(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbt_incremental_ci_spark.operators import expectations as ex

    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer")
    return ex.suite(
        [
            ex.not_null(o, "o_custkey"),
            ex.unique(o, "o_orderkey"),
            ex.accepted_values(o, "o_orderstatus", ["O", "F", "P"]),
            ex.relationships(o, "o_custkey", c, "c_custkey"),
            ex.accepted_values(
                o, "o_orderpriority", ["1-URGENT", "2-HIGH"]
            ),
        ]
    )


# =====================================================================
# Golden-record compaction (q180): one survivor row per user from the
# event stream — latest event type by (ts, event_id), latest NON-NULL
# value (survivorship takes the freshest observed field, not the
# freshest row — the MDM "coalesce latest non-null" rule), first/last
# seen, event count. Two user-partitioned rn=1 windows (per-user
# frames) + one aggregate; user-keyed shuffles only.
# =====================================================================
@q(
    "q180_golden_record",
    """
    WITH e AS (
      SELECT user_id, event_type, value, epoch_ns(ts) AS tsn, event_id
      FROM events
    ),
    latest AS (
      SELECT user_id, event_type AS last_type
      FROM e
      QUALIFY row_number() OVER (PARTITION BY user_id
                                 ORDER BY tsn DESC, event_id DESC) = 1
    ),
    lastval AS (
      SELECT user_id, ROUND(value, 6) AS last_value
      FROM e WHERE value IS NOT NULL
      QUALIFY row_number() OVER (PARTITION BY user_id
                                 ORDER BY tsn DESC, event_id DESC) = 1
    ),
    base AS (
      SELECT user_id, min(tsn) AS first_seen, max(tsn) AS last_seen,
             count(*) AS n_events
      FROM e GROUP BY user_id
    )
    SELECT b.user_id, l.last_type, v.last_value,
           b.first_seen, b.last_seen, CAST(b.n_events AS BIGINT) AS n_events
    FROM base b
    JOIN latest l USING (user_id)
    LEFT JOIN lastval v USING (user_id)
    """,
)
def q180(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    e = events_table(spark, sf_dir).select(
        "user_id", "event_type", "value", "ts", "event_id"
    )
    w = Window.partitionBy("user_id").orderBy(
        F.desc("ts"), F.desc("event_id")
    )
    latest = (
        e.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select("user_id", F.col("event_type").alias("last_type"))
    )
    lastval = (
        e.filter(F.col("value").isNotNull())
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select("user_id", F.round("value", 6).alias("last_value"))
    )
    base = e.groupBy("user_id").agg(
        F.min("ts").alias("first_seen"),
        F.max("ts").alias("last_seen"),
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
    )
    return (
        base.join(latest, "user_id")
        .join(lastval, "user_id", "left")
        .select(
            "user_id",
            "last_type",
            "last_value",
            "first_seen",
            "last_seen",
            "n_events",
        )
    )


# =====================================================================
# Seasonal decomposition (q181): per-nation monthly revenue, centered
# 3-month moving-average trend, seasonal ratio — the classical
# ratio-to-moving-average step. Month arithmetic runs on integer month
# indexes (year*12+month-1) and the trend only emits where the
# previous/next months are actually CONSECUTIVE, so calendar gaps
# yield NULL instead of misaligned frames. Revenue sums are decimal-
# exact; the trend's single double division is order-free. Per-nation
# windows over O(#months) frames.
# =====================================================================
@q(
    "q181_seasonal_decompose",
    """
    WITH m AS (
      SELECT c.c_nationkey AS nationkey,
             year(o.o_orderdate) * 12 + month(o.o_orderdate) - 1 AS midx,
             sum(CAST(o.o_totalprice AS DECIMAL(18,2))) AS rev
      FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
      GROUP BY 1, 2
    ),
    w AS (
      SELECT nationkey, midx, rev,
             lag(midx)  OVER (PARTITION BY nationkey ORDER BY midx) AS pm,
             lag(rev)   OVER (PARTITION BY nationkey ORDER BY midx) AS pr,
             lead(midx) OVER (PARTITION BY nationkey ORDER BY midx) AS nm,
             lead(rev)  OVER (PARTITION BY nationkey ORDER BY midx) AS nr
      FROM m
    )
    SELECT nationkey, CAST(midx AS BIGINT) AS midx,
           CAST(rev AS DOUBLE) AS rev,
           CASE WHEN pm = midx - 1 AND nm = midx + 1
                THEN ROUND(CAST(pr + rev + nr AS DOUBLE) / 3.0, 6)
           END AS trend,
           CASE WHEN pm = midx - 1 AND nm = midx + 1
                     AND CAST(pr + rev + nr AS DOUBLE) > 0
                THEN ROUND(CAST(rev AS DOUBLE)
                           / (CAST(pr + rev + nr AS DOUBLE) / 3.0), 6)
           END AS seasonal_ratio
    FROM w
    """,
)
def q181(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    o = t(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderdate", "o_totalprice"
    )
    c = t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    m = (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .select(
            F.col("c_nationkey").alias("nationkey"),
            (
                F.year("o_orderdate") * 12 + F.month("o_orderdate") - 1
            ).alias("midx"),
            dec("o_totalprice").alias("__p"),
        )
        .groupBy("nationkey", "midx")
        .agg(F.sum("__p").alias("rev"))
    )
    w = Window.partitionBy("nationkey").orderBy("midx")
    pm, pr = F.lag("midx").over(w), F.lag("rev").over(w)
    nm, nr = F.lead("midx").over(w), F.lead("rev").over(w)
    consec = (pm == F.col("midx") - 1) & (nm == F.col("midx") + 1)
    s3 = (pr + F.col("rev") + nr).cast("double")
    return m.select(
        "nationkey",
        F.col("midx").cast("bigint").alias("midx"),
        F.col("rev").cast("double").alias("rev"),
        F.when(consec, F.round(s3 / 3.0, 6)).alias("trend"),
        F.when(
            consec & (s3 > 0),
            F.round(F.col("rev").cast("double") / (s3 / 3.0), 6),
        ).alias("seasonal_ratio"),
        pm.alias("__pm"), nm.alias("__nm"),
    ).drop("__pm", "__nm")


# =====================================================================
# Session metrics (q182): the metrics layer over q30's gap
# sessionization — per user: session count, bounce rate (1-event
# sessions), average and max session duration in integer seconds
# (exact second arithmetic; the average is one double division).
# Session ids come from the running sum of new-session flags — a
# per-user frame, never data-sized.
# =====================================================================
@q(
    "q182_session_metrics",
    """
    WITH flagged AS (
      SELECT user_id, epoch_ns(ts) // 1000000000 AS sec, event_id,
             CASE WHEN lag(ts) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) IS NULL THEN 1
                  WHEN date_diff('second',
                       lag(ts) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id),
                       ts) > 1800 THEN 1
                  ELSE 0 END AS is_new
      FROM events
    ),
    sess AS (
      SELECT user_id, sec,
             sum(is_new) OVER (PARTITION BY user_id
                               ORDER BY sec, event_id
                               ROWS BETWEEN UNBOUNDED PRECEDING
                               AND CURRENT ROW) AS sid
      FROM flagged
    ),
    per AS (
      SELECT user_id, sid, count(*) AS n_ev,
             max(sec) - min(sec) AS dur
      FROM sess GROUP BY user_id, sid
    )
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_sessions,
           CAST(sum(CASE WHEN n_ev = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS bounces,
           ROUND(sum(CASE WHEN n_ev = 1 THEN 1 ELSE 0 END)
                 / CAST(count(*) AS DOUBLE), 6) AS bounce_rate,
           ROUND(sum(dur) / CAST(count(*) AS DOUBLE), 6)
             AS avg_session_sec,
           CAST(max(dur) AS BIGINT) AS max_session_sec
    FROM per
    GROUP BY user_id
    """,
)
def q182(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = events_table(spark, sf_dir).withColumn(
        "sec", F.expr("CAST(ts DIV 1000000000 AS BIGINT)")
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev_sec = F.lag("sec").over(w)
    is_new = (
        F.when(prev_sec.isNull(), 1)
        .when(F.col("sec") - prev_sec > 1800, 1)
        .otherwise(0)
    )
    ws = (
        Window.partitionBy("user_id")
        .orderBy("sec", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    sess = ev.withColumn("__new", is_new).withColumn(
        "sid", F.sum("__new").over(ws)
    )
    per = sess.groupBy("user_id", "sid").agg(
        F.count(F.lit(1)).alias("__n_ev"),
        (F.max("sec") - F.min("sec")).alias("__dur"),
    )
    return per.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_sessions"),
        F.sum(F.when(F.col("__n_ev") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("bounces"),
        F.round(
            F.sum(F.when(F.col("__n_ev") == 1, 1).otherwise(0))
            / F.count(F.lit(1)).cast("double"),
            6,
        ).alias("bounce_rate"),
        F.round(
            F.sum("__dur") / F.count(F.lit(1)).cast("double"), 6
        ).alias("avg_session_sec"),
        F.max("__dur").cast("bigint").alias("max_session_sec"),
    )


# =====================================================================
# Cohort retention (q183): users cohorted by first-active week;
# retention(cohort, k) = share of the cohort active k weeks later.
# Weeks are integer epoch-week indexes (sec // 86400 // 7 — exact in
# both engines); the activity set is a distinct (user, week)
# projection, cohorts a per-user min — all key-hash aggregates, output
# bounded by weeks². The product-analytics retention triangle.
# =====================================================================
@q(
    "q183_cohort_retention",
    """
    WITH act AS (
      SELECT DISTINCT user_id,
             (epoch_ns(ts) // 1000000000) // 86400 // 7 AS wk
      FROM events
    ),
    cohort AS (SELECT user_id, min(wk) AS cw FROM act GROUP BY user_id),
    sizes AS (SELECT cw, count(*) AS cohort_size FROM cohort GROUP BY cw),
    joined AS (
      SELECT c.cw, a.wk - c.cw AS offset_weeks, a.user_id
      FROM act a JOIN cohort c USING (user_id)
    ),
    ret AS (
      SELECT cw, offset_weeks, count(DISTINCT user_id) AS active_users
      FROM joined GROUP BY cw, offset_weeks
    )
    SELECT CAST(r.cw AS BIGINT) AS cohort_week,
           CAST(r.offset_weeks AS BIGINT) AS offset_weeks,
           CAST(r.active_users AS BIGINT) AS active_users,
           CAST(s.cohort_size AS BIGINT) AS cohort_size,
           ROUND(r.active_users / CAST(s.cohort_size AS DOUBLE), 6)
             AS retention
    FROM ret r JOIN sizes s USING (cw)
    """,
)
def q183(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = events_table(spark, sf_dir)
    act = ev.select(
        "user_id",
        F.expr(
            "CAST(ts DIV 1000000000 AS BIGINT) DIV 86400 DIV 7"
        ).alias("wk"),
    ).distinct()
    cohort = act.groupBy("user_id").agg(F.min("wk").alias("cw"))
    sizes = cohort.groupBy("cw").agg(
        F.count(F.lit(1)).alias("cohort_size")
    )
    joined = act.join(cohort, "user_id").select(
        "cw", (F.col("wk") - F.col("cw")).alias("offset_weeks"), "user_id"
    )
    ret = joined.groupBy("cw", "offset_weeks").agg(
        F.count_distinct("user_id").alias("active_users")
    )
    return ret.join(sizes, "cw").select(
        F.col("cw").cast("bigint").alias("cohort_week"),
        F.col("offset_weeks").cast("bigint").alias("offset_weeks"),
        F.col("active_users").cast("bigint").alias("active_users"),
        F.col("cohort_size").cast("bigint").alias("cohort_size"),
        F.round(
            F.col("active_users") / F.col("cohort_size").cast("double"), 6
        ).alias("retention"),
    )


# =====================================================================
# Market-basket association rules (q184): support / confidence / lift
# over order-basket item pairs (Apriori levels 1-2 — the "also
# bought" pipeline). Pair volume is the per-basket bound
# sum C(|basket|,2), never |items|^2; metrics are single divisions of
# exact integer counts. operators/association.py.
# =====================================================================
@q(
    "q184_association_rules",
    """
    WITH items AS (
      SELECT DISTINCT l_orderkey AS b, l_partkey AS i FROM lineitem
    ),
    nb AS (SELECT count(DISTINCT b) AS n FROM items),
    supp AS (SELECT i, count(*) AS cnt FROM items GROUP BY i),
    pairs AS (
      SELECT a.i AS item_a, b.i AS item_b, count(*) AS pair_count
      FROM items a JOIN items b ON a.b = b.b AND a.i < b.i
      GROUP BY a.i, b.i
      HAVING count(*) >= 2
    )
    SELECT p.item_a, p.item_b,
           CAST(p.pair_count AS BIGINT) AS pair_count,
           ROUND(p.pair_count / CAST(nb.n AS DOUBLE), 6) AS support,
           ROUND(p.pair_count / CAST(sa.cnt AS DOUBLE), 6) AS conf_a_to_b,
           ROUND(p.pair_count / CAST(sb.cnt AS DOUBLE), 6) AS conf_b_to_a,
           ROUND(CAST(p.pair_count * nb.n AS DOUBLE)
                 / CAST(sa.cnt * sb.cnt AS DOUBLE), 6) AS lift
    FROM pairs p
    JOIN supp sa ON sa.i = p.item_a
    JOIN supp sb ON sb.i = p.item_b
    CROSS JOIN nb
    """,
)
def q184(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbt_incremental_ci_spark.operators.association import (
        association_rules,
    )

    li = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    return association_rules(
        li, "l_orderkey", "l_partkey", min_pair_count=2
    )
