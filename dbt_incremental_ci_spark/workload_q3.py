"""q101-q145: curation v2, sketches, graph, drift, IVM, timeseries bands

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
    fan_out,
    get_oracles,
    q,
    t,
)
from dbt_incremental_ci_spark.workload_q1 import _q36_perturbed_union



# =====================================================================
# Incremental corpus dedup: an incoming batch against the existing
# corpus — the ingestion-time shape of web-corpus dedup. The batch is
# every 17th doc re-entering with a suffix (ids +3000000); the
# operator bands both sides identically and joins batch bands against
# corpus bands (batch side AQE-broadcast, corpus never self-paired).
# Oracle: brute-force exact Jaccard over batch × corpus (q32
# convention) — recall-safe because every true pair in this corpus
# sits at J ≥ 0.844, far above the 0.7 banding midpoint.
# =====================================================================
@q(
    "q101_incremental_dedup",
    r"""
    WITH batch AS (
      SELECT doc_id + 3000000 AS doc_id, text || ' zz9 batch copy' AS text
      FROM documents WHERE doc_id % 17 = 0
    ),
    shc AS (
      SELECT doc_id, CASE WHEN strlen(lower(text)) >= 5 THEN
               list_distinct(list_transform(
                 generate_series(1, strlen(lower(text)) - 4),
                 i -> substr(lower(text), i, 5)))
             ELSE [lower(text)] END AS s
      FROM documents
    ),
    shb AS (
      SELECT doc_id, CASE WHEN strlen(lower(text)) >= 5 THEN
               list_distinct(list_transform(
                 generate_series(1, strlen(lower(text)) - 4),
                 i -> substr(lower(text), i, 5)))
             ELSE [lower(text)] END AS s
      FROM batch
    )
    SELECT b.doc_id AS batch_id, c.doc_id AS corpus_id,
           CAST(len(list_intersect(b.s, c.s)) AS DOUBLE)
               / len(list_distinct(list_concat(b.s, c.s))) AS jaccard
    FROM shb b, shc c
    WHERE CAST(len(list_intersect(b.s, c.s)) AS DOUBLE)
               / len(list_distinct(list_concat(b.s, c.s))) >= 0.7
    """,
)
def q101(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents").select("doc_id", "text")
    batch = docs.filter(F.col("doc_id") % 17 == 0).select(
        (F.col("doc_id") + 3000000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" zz9 batch copy")).alias("text"),
    )
    return dedup.cross_corpus_dedup_pairs(
        docs, batch, "doc_id", "text", threshold=0.7
    )


# =====================================================================
# Per-domain frequency capping (C4-style): keep at most K docs per
# source domain, chosen by the key-stable md5 variate so the kept set
# is reproducible and independent of partitioning. One shuffle on the
# domain; no global sort. Oracle: the same windowed rank in SQL over
# the identical variate.
# =====================================================================
@q(
    "q102_domain_cap",
    f"""
    SELECT doc_id, lang, source FROM (
      SELECT doc_id, lang, source,
             row_number() OVER (
               PARTITION BY source
               ORDER BY {{u}} ASC, doc_id ASC) AS r
      FROM documents
    ) WHERE r <= 15
    """.replace("{u}", "(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':cap'), 1, 8))::BIGINT / 4294967296.0)"),
)
def q102(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents").select("doc_id", "lang", "source")
    return sampling.per_category_cap(
        docs, key_col="doc_id", category_col="source", cap=15, salt="cap"
    )


# =====================================================================
# Deterministic epoch shuffle: a reproducible, partitioning-
# independent global training order per epoch (rank by the epoch-
# seeded md5 variate). Computed with the packing operator's two-phase
# shape — range partition, local row_numbers, broadcast O(partitions)
# offsets — never a single-task global window. Oracle: plain global
# row_number over the same variate (DuckDB can afford it at sf0.01).
# =====================================================================
@q(
    "q103_epoch_shuffle",
    """
    SELECT doc_id,
           row_number() OVER (ORDER BY
             (('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':shuffle:1'), 1, 8))::BIGINT
              / 4294967296.0) ASC, doc_id ASC) AS shuffle_rank
    FROM documents
    """,
)
def q103(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents").select("doc_id")
    return sampling.epoch_shuffle_rank(docs, key_col="doc_id", epoch=1)


# =====================================================================
# Perplexity-proxy quality filtering: mean unigram log-probability of
# each doc under the corpus's own unigram LM (the KenLM/CCNet-style
# filter, self-trained). One explode feeds the vocab count, the
# corpus total derives from the vocab (no second pass), and the
# token→vocab join is AQE-broadcast when the vocab fits. The keep
# flag compares the ROUNDED score on both sides so the boolean can
# never disagree with the hashed value column.
# =====================================================================
@q(
    "q104_unigram_ppl_filter",
    """
    WITH tok AS (
      SELECT doc_id,
             unnest(list_filter(string_split_regex(trim(text), '\\s+'),
                                x -> x <> '')) AS tk
      FROM documents
    ),
    vocab AS (SELECT tk, count(*) AS c FROM tok GROUP BY tk),
    tot AS (SELECT sum(c) AS n FROM vocab),
    scored AS (
      SELECT doc_id, count(*) AS n_tokens,
             ROUND(avg(ln(c / n)), 6) AS avg_logprob
      FROM tok JOIN vocab USING (tk) CROSS JOIN tot
      GROUP BY doc_id
    )
    SELECT doc_id, n_tokens, avg_logprob,
           avg_logprob >= -3.41 AS ppl_keep
    FROM scored
    """,
)
def q104(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents").select("doc_id", "text")
    scored = text.unigram_logprob(docs).withColumn(
        "avg_logprob", F.round("avg_logprob", 6)
    )
    return scored.select(
        "doc_id",
        "n_tokens",
        "avg_logprob",
        (F.col("avg_logprob") >= -3.41).alias("ppl_keep"),
    )


# =====================================================================
# ROLLUP hierarchy totals with explicit grouping flags — the OLAP
# subtotal surface (GROUP BY ROLLUP nation → year), exact decimal
# money sums, NULL group labels coalesced to sentinels and
# disambiguated by grouping() so real NULLs can never collide with
# subtotal rows.
# =====================================================================
@q(
    "q105_rollup_revenue",
    """
    WITH j AS (
      SELECT n_name, CAST(year(o_orderdate) AS INT) AS yr,
             CAST(o_totalprice AS DECIMAL(18,2)) AS p
      FROM orders
      JOIN customer ON o_custkey = c_custkey
      JOIN nation ON c_nationkey = n_nationkey
    )
    SELECT COALESCE(n_name, '(all)') AS nation,
           COALESCE(yr, -1) AS order_year,
           CAST(GROUPING(n_name) AS INT) AS g_nation,
           CAST(GROUPING(yr) AS INT) AS g_year,
           CAST(SUM(p) AS DOUBLE) AS revenue,
           count(*) AS n_orders
    FROM j
    GROUP BY ROLLUP(n_name, yr)
    """,
)
def q105(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = t(spark, sf_dir, "orders")
    customer = t(spark, sf_dir, "customer")
    nation = t(spark, sf_dir, "nation")
    joined = (
        orders.join(customer, orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .select(
            "n_name",
            F.year("o_orderdate").cast("int").alias("yr"),
            dec("o_totalprice").alias("__p"),
        )
    )
    return (
        joined.rollup("n_name", "yr")
        .agg(
            F.sum("__p").cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n_orders"),
            F.grouping("n_name").cast("int").alias("g_nation"),
            F.grouping("yr").cast("int").alias("g_year"),
        )
        .select(
            F.coalesce("n_name", F.lit("(all)")).alias("nation"),
            F.coalesce("yr", F.lit(-1)).alias("order_year"),
            "g_nation",
            "g_year",
            "revenue",
            "n_orders",
        )
    )


# =====================================================================
# End-to-end curation pipeline over the round-3 operator set: Gopher
# quality gate → benchmark decontamination (held-out eval slice) →
# self-trained unigram-LM perplexity filter (vocab from the survivors,
# exactly as the operator chain computes it) → per-source frequency
# cap. Every stage's exact semantics — rounded metric flags, distinct
# 5-gram overlap ≥ 3, rounded score threshold, md5-variate capping —
# replays in one chained DuckDB oracle, so the final kept set and its
# per-doc metrics are value-exact end to end.
# =====================================================================
@q(
    "q106_curation_v2",
    r"""
    WITH evals AS (SELECT doc_id, text FROM documents WHERE doc_id % 41 = 0),
    corpus AS (SELECT doc_id, text, lang, source FROM documents
               WHERE doc_id % 41 <> 0),
    tk AS (
      SELECT doc_id, lang, source, text,
             list_filter(string_split_regex(trim(text), '\s+'),
                         x -> x <> '') AS toks
      FROM corpus
    ),
    m AS (
      SELECT doc_id, lang, source, toks,
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
                   / len(toks) ELSE 0.0 END, 6) AS mean_word_len,
        ROUND(CASE WHEN len(toks) > 0
              THEN len(list_filter(toks,
                       t -> regexp_matches(t, '[A-Za-z]')))::DOUBLE
                   / len(toks) ELSE 0.0 END, 6) AS alpha_word_frac,
        ROUND(CASE WHEN len(toks) > 0
              THEN len(regexp_replace(text, '[^#.]', '', 'g'))::DOUBLE
                   / len(toks) ELSE 0.0 END, 6) AS symbol_to_word
      FROM tk
    ),
    g AS (
      SELECT doc_id, lang, source, toks, n_tokens FROM m
      WHERE n_tokens >= 20 AND dup_word_frac <= 0.6
        AND top_bigram_frac <= 0.08 AND mean_word_len BETWEEN 3.0 AND 10.0
        AND alpha_word_frac >= 0.8 AND symbol_to_word <= 0.1
    ),
    gng AS (
      SELECT DISTINCT doc_id, ng FROM (
        SELECT doc_id,
               unnest(list_transform(
                 generate_series(1, greatest(0, len(toks) - 4)),
                 i -> array_to_string(toks[i:i+4], ' '))) AS ng
        FROM g)
    ),
    eng AS (
      SELECT DISTINCT ng FROM (
        SELECT unnest(list_transform(
                 generate_series(1, greatest(0, len(etoks) - 4)),
                 i -> array_to_string(etoks[i:i+4], ' '))) AS ng
        FROM (SELECT list_filter(string_split_regex(trim(text), '\s+'),
                                 x -> x <> '') AS etoks FROM evals))
    ),
    contaminated AS (
      SELECT doc_id FROM gng JOIN eng USING (ng)
      GROUP BY doc_id HAVING count(*) >= 3
    ),
    clean AS (
      SELECT * FROM g
      WHERE doc_id NOT IN (SELECT doc_id FROM contaminated)
    ),
    tok AS (SELECT doc_id, unnest(toks) AS tkn FROM clean),
    vocab AS (SELECT tkn, count(*) AS c FROM tok GROUP BY tkn),
    tot AS (SELECT sum(c) AS n FROM vocab),
    scored AS (
      SELECT doc_id, ROUND(avg(ln(c / n)), 6) AS avg_logprob
      FROM tok JOIN vocab USING (tkn) CROSS JOIN tot GROUP BY doc_id
    ),
    kept AS (
      SELECT c.doc_id, c.lang, c.source, c.n_tokens, s.avg_logprob
      FROM clean c JOIN scored s USING (doc_id)
      WHERE s.avg_logprob >= -3.42
    )
    SELECT doc_id, lang, source, n_tokens, avg_logprob FROM (
      SELECT *, row_number() OVER (
        PARTITION BY source
        ORDER BY (('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':cur'), 1, 8))::BIGINT
                  / 4294967296.0) ASC, doc_id ASC) AS r
      FROM kept
    ) WHERE r <= 10
    """,
)
def q106(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbt_incremental_ci_spark.operators import decontam

    docs = t(spark, sf_dir, "documents").select("doc_id", "text", "lang", "source")
    evals = docs.filter(F.col("doc_id") % 41 == 0).select("doc_id", "text")
    corpus = docs.filter(F.col("doc_id") % 41 != 0)
    # Round-11: the gopher pass tokenizes each document ~6 times (one
    # per rule column) and was re-executed by THREE downstream
    # branches (the decontamination subtree, the LM scoring pass, and
    # the final keep join) — checkpoint it once; fan the corpus out
    # first so the token expressions use all cores on a single-split
    # local scan (no-op at cluster scale).
    g = (
        text.gopher_quality(fan_out(corpus))
        .filter("gopher_keep")
        .localCheckpoint(eager=False)
    )
    flagged = decontam.contaminated(
        g.select("doc_id", "text"), evals, n=5, min_overlap=3
    )
    clean = g.join(flagged.select("doc_id"), "doc_id", "left_anti")
    scored = (
        text.unigram_logprob(clean.select("doc_id", "text"))
        .withColumn("avg_logprob", F.round("avg_logprob", 6))
        .filter(F.col("avg_logprob") >= -3.42)
        .select("doc_id", "avg_logprob")
    )
    kept = clean.join(scored, "doc_id")
    capped = sampling.per_category_cap(
        kept, key_col="doc_id", category_col="source", cap=10, salt="cur"
    )
    return capped.select("doc_id", "lang", "source", "n_tokens", "avg_logprob")


# =====================================================================
# Corpus-wide repeated n-gram profile (RefinedWeb / Lee et al.
# "Deduplicating Training Data" signal): for every document, the
# fraction of its word trigram positions whose trigram occurs in >= 2
# DISTINCT documents. Spark side explodes positional trigrams keyed by
# xxhash64 (8-byte shuffle keys), counts distinct-document frequency
# with map-side partial agg, and joins the duplicated-hash set back on
# the same key — both shuffles hash-keyed and near-uniform, nothing
# driver-sized. Oracle replays positions/doc-frequency/fraction on the
# raw trigram strings (hash only changes the join key, not the
# result). Full value oracle incl. the rounded fraction and keep flag.
# =====================================================================
@q(
    "q107_repeated_ngrams",
    r"""
    WITH tk AS (
      SELECT doc_id,
             list_filter(string_split_regex(trim(text), '\s+'),
                         x -> x <> '') AS toks
      FROM documents
    ),
    pos AS (
      SELECT doc_id,
             unnest(list_transform(
               generate_series(1, greatest(0, len(toks) - 2)),
               i -> array_to_string(toks[i:i+2], ' '))) AS ng
      FROM tk
    ),
    dfreq AS (
      SELECT ng FROM (SELECT DISTINCT doc_id, ng FROM pos)
      GROUP BY ng HAVING count(*) >= 2
    ),
    per AS (
      SELECT p.doc_id,
             count(*) AS n_ngrams,
             sum(CASE WHEN d.ng IS NOT NULL THEN 1 ELSE 0 END) AS dup_ngrams
      FROM pos p LEFT JOIN dfreq d ON p.ng = d.ng
      GROUP BY p.doc_id
    )
    SELECT t.doc_id,
           CAST(coalesce(per.n_ngrams, 0) AS BIGINT) AS n_ngrams,
           CAST(coalesce(per.dup_ngrams, 0) AS BIGINT) AS dup_ngrams,
           ROUND(CASE WHEN coalesce(per.n_ngrams, 0) > 0
                 THEN per.dup_ngrams::DOUBLE / per.n_ngrams
                 ELSE 0.0 END, 6) AS dup_ngram_frac,
           ROUND(CASE WHEN coalesce(per.n_ngrams, 0) > 0
                 THEN per.dup_ngrams::DOUBLE / per.n_ngrams
                 ELSE 0.0 END, 6) <= 0.6 AS ngram_keep
    FROM tk t LEFT JOIN per USING (doc_id)
    """,
)
def q107(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbt_incremental_ci_spark.operators import ngrams

    docs = t(spark, sf_dir, "documents").select("doc_id", "text")
    return ngrams.flag_repetitive_docs(
        docs, n=3, min_doc_freq=2, max_dup_frac=0.6
    )


# =====================================================================
# fastText-style linear quality classifier: hashed bag-of-words
# buckets (house md5 variate), mean-pooled weights + bias, sigmoid.
# Weights live on a dyadic 2^-20 grid so the pooled sum is EXACT in
# IEEE double — bit-identical across engines regardless of summation
# order; the oracle inlines the same weights as a DuckDB list literal
# (the pq_codebooks pattern) and replays bucket/pool/threshold
# value-exactly. Serving is a map-only expression pass — no shuffle,
# no UDF, any scale; training (train_quality_classifier) is bounded-
# sample driver-side logistic regression, unit-tested separately.
# =====================================================================
def _q108_oracle() -> str:
    from dbt_incremental_ci_spark.operators import classifier

    w = classifier.default_weights(64, "qc")
    score = classifier.linear_score_sql("text", w, 0.0, "qc")
    return f"""
    WITH s AS (
      SELECT doc_id,
             len(list_filter(string_split_regex(trim(text), '\\s+'),
                             x -> x <> '')) AS n_tokens,
             ROUND({score}, 6) AS quality_raw
      FROM documents
    )
    SELECT doc_id, n_tokens, quality_raw,
           ROUND(1.0 / (1.0 + exp(-quality_raw)), 6) AS quality_prob,
           quality_raw >= 0.0 AS quality_keep
    FROM s
    """


@q("q108_quality_classifier", _q108_oracle())
def q108(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbt_incremental_ci_spark.operators import classifier

    docs = t(spark, sf_dir, "documents").select("doc_id", "text")
    return classifier.classify(docs, threshold=0.0, salt="qc")


# =====================================================================
# C4-style line cleaning (Raffel et al. §2.2). The test corpus is a
# flat token stream, so the query synthesizes a deterministic
# multi-line page per document (token-slice lines + planted
# boilerplate: a javascript ad line every 5th doc, a lorem-ipsum line
# every 11th, a too-short line everywhere) identically in both
# engines — the q97 planted-contamination pattern. The operator
# itself (operators/c4.c4_filter) is a pure map-only Column
# expression: terminal-punctuation / min-words / javascript line
# rules, lorem-ipsum / brace / min-lines page rules. Full value
# oracle including the reassembled kept_text string.
# =====================================================================
_C4_DOC2_SQL = r"""
    tk AS (
      SELECT doc_id,
             list_filter(string_split_regex(trim(text), '\s+'),
                         x -> x <> '') AS toks
      FROM documents
    ),
    doc2 AS (
      SELECT doc_id,
             coalesce(array_to_string(toks[1:12], ' '), '') || ' .' || chr(10) ||
             (CASE WHEN doc_id % 5 = 0
                   THEN 'click to buy javascript required now .'
                   ELSE coalesce(array_to_string(toks[13:17], ' '), '') END) || chr(10) ||
             (CASE WHEN doc_id % 11 = 0
                   THEN 'lorem ipsum dolor sit amet .'
                   ELSE coalesce(array_to_string(toks[18:28], ' '), '') || ' ?' END) || chr(10) ||
             'tiny .' || chr(10) ||
             coalesce(array_to_string(toks[29:40], ' '), '') || ' .' AS text
      FROM tk
    ),
    lns AS (
      SELECT doc_id, text,
             list_filter(list_transform(string_split(text, chr(10)),
                                        l -> trim(l)),
                         l -> l <> '') AS ls
      FROM doc2
    )
"""


def _c4_doc2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Spark twin of _C4_DOC2_SQL's doc2 CTE."""
    docs = t(spark, sf_dir, "documents").select("doc_id", "text")
    toks = F.filter(F.split(F.trim(F.col("text")), r"\s+"), lambda x: x != "")
    l1 = F.concat(F.concat_ws(" ", F.slice(toks, 1, 12)), F.lit(" ."))
    l2 = F.when(
        F.col("doc_id") % 5 == 0,
        F.lit("click to buy javascript required now ."),
    ).otherwise(F.concat_ws(" ", F.slice(toks, 13, 5)))
    l3 = F.when(
        F.col("doc_id") % 11 == 0, F.lit("lorem ipsum dolor sit amet .")
    ).otherwise(F.concat(F.concat_ws(" ", F.slice(toks, 18, 11)), F.lit(" ?")))
    l5 = F.concat(F.concat_ws(" ", F.slice(toks, 29, 12)), F.lit(" ."))
    return docs.select(
        "doc_id",
        F.concat_ws("\n", l1, l2, l3, F.lit("tiny ."), l5).alias("text"),
    )


@q(
    "q109_c4_line_filter",
    "WITH "
    + _C4_DOC2_SQL
    + r"""
    SELECT doc_id,
           len(ls) AS n_lines,
           len(kept) AS n_kept,
           (NOT contains(lower(text), 'lorem ipsum')
            AND NOT contains(text, '{')
            AND len(kept) >= 3) AS c4_keep,
           array_to_string(kept, chr(10)) AS kept_text
    FROM (
      SELECT doc_id, text, ls,
             list_filter(ls, l ->
               regexp_matches(l, '[.!?"]$')
               AND len(list_filter(string_split_regex(trim(l), '\s+'),
                                   x -> x <> '')) >= 5
               AND NOT contains(lower(l), 'javascript')) AS kept
      FROM lns
    )
    """,
)
def q109(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbt_incremental_ci_spark.operators import c4

    return c4.c4_filter(_c4_doc2(spark, sf_dir), min_words=5, min_lines=3)


# =====================================================================
# Corpus-wide exact line dedup keeping first occurrences (C4's
# repeated-span dedup at line granularity) over the same synthetic
# multi-line corpus: the planted 'tiny .' line appears in every doc
# and survives only at its minimum (doc, pos); boilerplate lines and
# token-slice lines of exact-duplicate documents dedup the same way.
# Spark plan: posexplode -> min-(doc,pos)-per-line-hash (map-side
# combined, 8-byte xxhash64 keys) -> winners join back on the hash ->
# bounded per-doc reassembly. Oracle replays with a row_number window
# on the raw line strings and an ordered string_agg.
# =====================================================================
@q(
    "q110_line_dedup",
    "WITH "
    + _C4_DOC2_SQL
    + r""",
    pos AS (
      SELECT doc_id,
             unnest(generate_series(1, len(ls))) AS pos, ls
      FROM lns
    ),
    pl AS (SELECT doc_id, pos, ls[pos] AS line FROM pos),
    r AS (
      SELECT doc_id, pos, line,
             row_number() OVER (PARTITION BY line
                                ORDER BY doc_id, pos) AS rn
      FROM pl
    ),
    surv AS (
      SELECT doc_id, count(*) AS n_lines_after,
             string_agg(line, chr(10) ORDER BY pos) AS deduped_text
      FROM r WHERE rn = 1 GROUP BY doc_id
    )
    SELECT l.doc_id,
           len(l.ls) AS n_lines_before,
           CAST(coalesce(s.n_lines_after, 0) AS BIGINT) AS n_lines_after,
           coalesce(s.deduped_text, '') AS deduped_text
    FROM lns l LEFT JOIN surv s USING (doc_id)
    """,
)
def q110(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbt_incremental_ci_spark.operators import c4

    return c4.dedup_lines(_c4_doc2(spark, sf_dir))


# =====================================================================
# SemDeDup-style semantic dedup (Abbas et al. 2023) over the q36
# planted-twin corpus: k-means-style cluster assignment against
# broadcast centroid literals (hash-derived defaults — the trained
# path shares the contract via train_ivf_centroids), within-cluster
# pairwise cosine at threshold 0.95, and pairwise-domination keep
# semantics on the (centroid_cos, id) priority. The quadratic is
# bounded by cluster size — n_clusters is the web-scale knob (the
# paper runs ~100k clusters), so k SCALES WITH THE CORPUS here:
# k = clamp(ceil(n/_SD_TARGET), _SD_K, _SD_K_MAX) keeps expected
# cluster size ~_SD_TARGET rows, making within-cluster pair volume
# (and the whole query) linear in n instead of quadratic (the fixed
# k=8 of rounds 3/4a measured 28x on the 10x sf1 gate). At sf0.01
# (n=550) the clamp floors at the original k=8, so the trained
# DuckDB oracle below is byte-identical. _SD_K_MAX bounds the
# driver-side Lloyd sample (8 vectors/cluster); past that a
# distributed trainer is the documented extension (docs/SCALE.md).
# Full value oracle: twins, centroid assignment, cosines, domination
# flags all replayed in DuckDB with inlined centroids.
# =====================================================================
_SD_K, _SD_CAP, _SD_ITERS, _SD_SEED, _SD_SALT = 8, 200, 10, 7, "sd"
_SD_TARGET, _SD_K_MAX = 256, 4096


def _q111_oracle(
    centroids: list[list[float]],
    dim: int = 64,
    thr: float = 0.95,
) -> str:
    def arr(vec: list[float]) -> str:
        return "[" + ",".join(repr(x) for x in vec) + "]"

    dist_terms = ", ".join(
        f"ROUND(list_sum(list_transform(generate_series(1, {dim}), "
        f"i -> (v[i] - ({arr(c)})[i])"
        f" * (v[i] - ({arr(c)})[i]))), 9)"
        for c in centroids
    )
    cents = "[" + ", ".join(arr(c) for c in centroids) + "]"
    return f"""
    WITH base AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    twins AS (
      SELECT vec_id + 1000000 AS vec_id,
             list_transform(generate_series(1, {dim}),
                            i -> v[i] * (1.0 + ((vec_id + i - 1) % 7 - 3) / 100.0)) AS v
      FROM base WHERE vec_id < 50
    ),
    u AS (SELECT * FROM base UNION ALL SELECT * FROM twins),
    d AS (SELECT vec_id, v, [{dist_terms}] AS dists FROM u),
    asg AS (
      SELECT vec_id, v,
             CAST(list_position(dists, list_min(dists)) - 1 AS INT) AS cluster
      FROM d
    ),
    cc AS (
      SELECT vec_id, v, cluster,
             ROUND(CASE WHEN sqrt(list_dot_product(v, v))
                             * sqrt(list_dot_product(({cents})[cluster + 1],
                                                     ({cents})[cluster + 1])) > 0
                   THEN list_dot_product(v, ({cents})[cluster + 1])
                        / (sqrt(list_dot_product(v, v))
                           * sqrt(list_dot_product(({cents})[cluster + 1],
                                                   ({cents})[cluster + 1])))
                   ELSE 0.0 END, 6) AS centroid_cos
      FROM asg
    ),
    pairs AS (
      SELECT a.vec_id AS ida, a.centroid_cos AS cca,
             b.vec_id AS idb, b.centroid_cos AS ccb
      FROM cc a JOIN cc b
        ON a.cluster = b.cluster AND a.vec_id < b.vec_id
      WHERE ROUND(list_dot_product(a.v, b.v)
                  / NULLIF(sqrt(list_dot_product(a.v, a.v))
                           * sqrt(list_dot_product(b.v, b.v)), 0), 6) >= {thr}
    ),
    losers AS (
      SELECT DISTINCT CASE WHEN (cca, ida) > (ccb, idb) THEN ida ELSE idb END AS vec_id
      FROM pairs
    )
    SELECT cc.vec_id, cluster, centroid_cos,
           losers.vec_id IS NULL AS semdedup_keep
    FROM cc LEFT JOIN losers USING (vec_id)
    """


def _q111_trained_oracle(sf_dir: str = "/root/testdata/sf0.01") -> str | None:
    """Replays the IDENTICAL k-means training (twin construction, md5
    sample order, shared numpy lloyd) and inlines the trained centroids
    into the assignment/domination SQL — the q119 trained-state
    pattern, applied to SemDeDup's own clustering step."""
    import os as _os

    from dbt_incremental_ci_spark.operators import clustering

    ep = _os.path.join(sf_dir, "embeddings.parquet")
    if not _os.path.exists(ep):
        return None
    import duckdb as _duck

    con = _duck.connect()
    rows = con.execute(
        f"""SELECT vec_id, embedding::DOUBLE[]
            FROM read_parquet('{ep}') WHERE embedding IS NOT NULL"""
    ).fetchall()
    con.close()
    pool: list[tuple[int, list[float]]] = []
    for vid, v in rows:
        v = list(v)
        pool.append((vid, v))
        if vid < 50:
            pool.append(
                (
                    vid + 1000000,
                    [x * (1.0 + ((vid + j) % 7 - 3) / 100.0)
                     for j, x in enumerate(v)],
                )
            )
    sampled = sorted(
        pool, key=lambda r: clustering.sample_order_key(r[0], _SD_SALT)
    )[:_SD_CAP]
    sampled = sorted(sampled, key=lambda r: r[0])
    cents = clustering.lloyd(
        [v for _, v in sampled], _SD_K, _SD_ITERS, _SD_SEED
    )
    return _q111_oracle(cents)


_LAZY_ORACLES["q111_semdedup"] = _q111_trained_oracle


@q("q111_semdedup")
def q111(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbt_incremental_ci_spark.operators import clustering
    from dbt_incremental_ci_spark.operators import semdedup as sd

    emb = t(spark, sf_dir, "embeddings")
    u = _q36_perturbed_union(emb).localCheckpoint(eager=False)
    # ^ counted once here, then scanned by kmeans_fit's sample and
    # semdedup's assignment — without truncation each re-runs the
    # twin-union projection (cheap, but the count() below would add a
    # third full re-execution of it).
    n = u.count()
    k = min(max(_SD_K, -(-n // _SD_TARGET)), _SD_K_MAX)
    cents = clustering.kmeans_fit(
        u, k=k, id_col="vec_id", vec_col="embedding",
        sample_cap=max(_SD_CAP, 8 * k), iters=_SD_ITERS, seed=_SD_SEED,
        salt=_SD_SALT,
    )
    return sd.semdedup(
        u, dim=64, n_clusters=k, threshold=0.95, centroids=cents
    )


# =====================================================================
# Fixed-point PageRank over the customer->supplier trade graph —
# link-graph centrality as a corpus-curation quality weight (the
# Common-Crawl host-ranking step). Integer fixed-point ranks (units of
# 1e-12) make every per-iteration sum associative and partitioning-
# independent, so the rank vector has exactly one well-defined value;
# the oracle recomputes the whole iteration INDEPENDENTLY in pure
# Python (operators/pagerank.pagerank_replica) and inlines it as
# VALUES — the q33 independent-replica pattern. Suppliers have no
# out-edges, so the dangling-mass redistribution path is exercised on
# every iteration.
# =====================================================================
def _q112_oracle(sf_dir: str = "/root/testdata/sf0.01") -> str | None:
    import os as _os

    from dbt_incremental_ci_spark.operators.pagerank import pagerank_replica

    op = _os.path.join(sf_dir, "orders.parquet")
    lp = _os.path.join(sf_dir, "lineitem.parquet")
    if not (_os.path.exists(op) and _os.path.exists(lp)):
        return None
    import duckdb as _duck

    con = _duck.connect()
    pairs = con.execute(
        f"""
        SELECT DISTINCT o.o_custkey * 10 AS src, l.l_suppkey * 10 + 1 AS dst
        FROM read_parquet('{op}') o
        JOIN read_parquet('{lp}') l ON l.l_orderkey = o.o_orderkey
        """
    ).fetchall()
    con.close()
    ranks = pagerank_replica([(int(s), int(d)) for s, d in pairs], iterations=6)
    rows = ",\n      ".join(
        f"({node}, {fp})" for node, fp in sorted(ranks.items())
    )
    return f"""
    SELECT CAST(node AS BIGINT) AS node,
           CAST(rank_fp AS BIGINT) AS rank_fp,
           rank_fp / 1000000000000.0 AS rank
    FROM (VALUES
      {rows}
    ) t(node, rank_fp)
    """


_LAZY_ORACLES["q112_pagerank"] = _q112_oracle


@q("q112_pagerank")
def q112(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbt_incremental_ci_spark.operators.pagerank import pagerank

    o = t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    edges = o.join(li, o["o_orderkey"] == li["l_orderkey"]).select(
        (F.col("o_custkey") * 10).alias("src"),
        (F.col("l_suppkey") * 10 + 1).alias("dst"),
    )
    return pagerank(edges, iterations=6)


# =====================================================================
# Column profiling — the ANALYZE-style source audit (row counts, null
# fractions, distinct counts, canonicalized min/max) as one row per
# column from a single aggregation pass (stack pivot of a 1-row agg;
# the data never reaches the driver). NULLs are planted in c_phone so
# the null-accounting path actually fires. Floats canonicalize
# through decimal(18,2) before min/max so the rendered strings agree
# across engines. Oracle: per-column UNION ALL replica.
# =====================================================================
def _q113_oracle() -> str:
    cols = [
        ("c_custkey", "bigint", "c_custkey"),
        ("c_name", "string", "c_name"),
        ("c_nationkey", "int", "c_nationkey"),
        ("c_acctbal", "double", "c_acctbal"),
        ("c_mktsegment", "string", "c_mktsegment"),
    ]
    parts = []
    for name, dtype, expr in cols:
        if dtype == "double":
            mn = f"CAST(min(CAST({expr} AS DECIMAL(18,2))) AS VARCHAR)"
            mx = f"CAST(max(CAST({expr} AS DECIMAL(18,2))) AS VARCHAR)"
        else:
            mn = f"CAST(min({expr}) AS VARCHAR)"
            mx = f"CAST(max({expr}) AS VARCHAR)"
        parts.append(
            f"""
      SELECT '{name}' AS "column", '{dtype}' AS dtype,
             count(*) AS n_rows,
             count(*) - count({expr}) AS n_nulls,
             ROUND((count(*) - count({expr}))::DOUBLE / count(*), 6) AS null_frac,
             count(DISTINCT {expr}) AS n_distinct,
             {mn} AS min_val, {mx} AS max_val
      FROM planted"""
        )
    body = "\n      UNION ALL".join(parts)
    return f"""
    WITH planted AS (
      SELECT c_custkey,
             CASE WHEN c_custkey % 7 = 0 THEN NULL ELSE c_name END AS c_name,
             c_nationkey, c_acctbal, c_mktsegment
      FROM customer
    )
    {body}
    """


@q("q113_column_profile", _q113_oracle())
def q113(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbt_incremental_ci_spark.operators import profiling

    c = t(spark, sf_dir, "customer").select(
        "c_custkey",
        F.when(F.col("c_custkey") % 7 == 0, F.lit(None).cast("string"))
        .otherwise(F.col("c_name"))
        .alias("c_name"),
        "c_nationkey",
        "c_acctbal",
        "c_mktsegment",
    )
    return profiling.profile(c, exact_distinct=True)


# =====================================================================
# Bloom-filter membership — the incremental-ingestion "seen before?"
# primitive: build the filter over the accepted corpus (doc_id%3<>0),
# probe EVERY doc, and audit false positives explicitly. m is set
# deliberately small (1024 bits, ~73% fill) so the false-positive
# path genuinely fires and its exact membership is part of the value
# hash. Sparse relational representation: the filter is a table of
# set bit positions (md5 house hash, k=4 salted draws), membership is
# a broadcast join counting all-k hits — every step replays
# value-exactly in DuckDB.
# =====================================================================
def _q114_oracle(m: int = 1024, k: int = 4, salt: str = "bloom") -> str:
    from dbt_incremental_ci_spark.operators.bloom import position_sql

    member_pos = "\n        UNION ALL ".join(
        f"SELECT {position_sql('doc_id', m, salt, i)} AS bit_pos FROM members"
        for i in range(k)
    )
    probe_pos = "\n        UNION ALL ".join(
        f"SELECT doc_id, {position_sql('doc_id', m, salt, i)} AS bit_pos FROM probes"
        for i in range(k)
    )
    return f"""
    WITH members AS (SELECT doc_id FROM documents WHERE doc_id % 3 <> 0),
    probes AS (SELECT doc_id FROM documents),
    bits AS (
      SELECT DISTINCT bit_pos FROM (
        {member_pos}
      )
    ),
    pp AS (
        {probe_pos}
    ),
    hits AS (
      SELECT doc_id,
             count(*) = sum(CASE WHEN b.bit_pos IS NOT NULL THEN 1 ELSE 0 END)
               AS mc
      FROM pp LEFT JOIN bits b USING (bit_pos)
      GROUP BY doc_id
    )
    SELECT p.doc_id,
           coalesce(h.mc, FALSE) AS might_contain,
           p.doc_id % 3 <> 0 AS is_member,
           (coalesce(h.mc, FALSE) AND NOT (p.doc_id % 3 <> 0)) AS false_positive
    FROM probes p LEFT JOIN hits h USING (doc_id)
    """


@q("q114_bloom_membership", _q114_oracle())
def q114(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbt_incremental_ci_spark.operators import bloom

    docs = t(spark, sf_dir, "documents").select("doc_id")
    members = docs.filter(F.col("doc_id") % 3 != 0)
    bits = bloom.bloom_build(members, m=1024, k=4)
    probed = bloom.bloom_might_contain(bits, docs, m=1024, k=4)
    return probed.select(
        "doc_id",
        "might_contain",
        (F.col("doc_id") % 3 != 0).alias("is_member"),
        (F.col("might_contain") & ~(F.col("doc_id") % 3 != 0)).alias(
            "false_positive"
        ),
    )


# =====================================================================
# Temperature (alpha) mixture resampling — the mBERT/XLM-R rebalance:
# shares proportional to count^0.5 over the (skewed) lang column, rates
# derived by the q100 machinery, key-stable md5 membership. The
# oracle is LAZY: it reads the same per-source counts from parquet
# and runs the IDENTICAL Python share/rate computation, inlining the
# resulting rate doubles as literals — so there is no cross-engine
# pow()/summation drift at all; the only SQL is the md5 filter.
# =====================================================================
def _q115_oracle(sf_dir: str = "/root/testdata/sf0.01") -> str | None:
    import os as _os

    from dbt_incremental_ci_spark.operators.sampling import (
        hash_uniform_sql,
        mixture_rates,
        temperature_shares,
    )

    dp = _os.path.join(sf_dir, "documents.parquet")
    if not _os.path.exists(dp):
        return None
    import duckdb as _duck

    con = _duck.connect()
    counts = dict(
        con.execute(
            f"SELECT lang, count(*) FROM read_parquet('{dp}') GROUP BY lang"
        ).fetchall()
    )
    con.close()
    rates = mixture_rates(counts, temperature_shares(counts, alpha=0.5))
    rows = ", ".join(f"('{c}', {r!r})" for c, r in sorted(rates.items()))
    u = hash_uniform_sql("d.doc_id", "temp")
    return f"""
    WITH rates(lang, rate) AS (VALUES {rows})
    SELECT d.doc_id, d.lang, d.source
    FROM documents d JOIN rates r USING (lang)
    WHERE {u} < r.rate
    """


_LAZY_ORACLES["q115_temperature_mixture"] = _q115_oracle


@q("q115_temperature_mixture")
def q115(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents").select("doc_id", "lang", "source")
    return sampling.temperature_resample(
        docs, key_col="doc_id", category_col="lang", alpha=0.5, salt="temp"
    )


# =====================================================================
# Text normalization — the canonical pre-shingle cleanup (accent
# folding, control-char strip, lowercase, whitespace collapse). The
# corpus is pure ASCII, so mess is PLANTED: every 4th doc gains an
# accented prefix, every 6th a control char and tab runs — then both
# engines normalize with the identical translate map and regexes.
# Also emits the house 64-bit fingerprint of the normalized text via
# md5 (so dedup keys downstream are normalization-aware).
# =====================================================================
@q(
    "q116_normalize_text",
    r"""
    WITH planted AS (
      SELECT doc_id,
             CASE WHEN doc_id % 4 = 0
                  THEN 'Héllo WÖRLD Ünïcode ' || text
                  ELSE text END ||
             CASE WHEN doc_id % 6 = 0
                  THEN chr(9) || ' spaced' || chr(7) || 'out  '
                  ELSE '' END AS text
      FROM documents
    )
    SELECT doc_id,
           trim(regexp_replace(
             lower(regexp_replace(
               translate(text,
                 'àáâãäåçèéêëìíîïñòóôõöùúûüýÿÀÁÂÃÄÅÇÈÉÊËÌÍÎÏÑÒÓÔÕÖÙÚÛÜÝ',
                 'aaaaaaceeeeiiiinooooouuuuyyAAAAAACEEEEIIIINOOOOOUUUUY'),
               '[\x00-\x08\x0b\x0c\x0e-\x1f\x7f]', '', 'g')),
             '\s+', ' ', 'g')) AS norm_text,
           substr(md5(trim(regexp_replace(
             lower(regexp_replace(
               translate(text,
                 'àáâãäåçèéêëìíîïñòóôõöùúûüýÿÀÁÂÃÄÅÇÈÉÊËÌÍÎÏÑÒÓÔÕÖÙÚÛÜÝ',
                 'aaaaaaceeeeiiiinooooouuuuyyAAAAAACEEEEIIIINOOOOOUUUUY'),
               '[\x00-\x08\x0b\x0c\x0e-\x1f\x7f]', '', 'g')),
             '\s+', ' ', 'g'))), 1, 16) AS norm_fp
    FROM planted
    """,
)
def q116(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents").select("doc_id", "text")
    planted = docs.select(
        "doc_id",
        F.concat(
            F.when(
                F.col("doc_id") % 4 == 0,
                F.concat(F.lit("Héllo WÖRLD Ünïcode "), F.col("text")),
            ).otherwise(F.col("text")),
            F.when(
                F.col("doc_id") % 6 == 0,
                F.lit("\t spaced\x07out  "),
            ).otherwise(F.lit("")),
        ).alias("text"),
    )
    norm = text.normalize_text("text")
    return planted.select(
        "doc_id",
        norm.alias("norm_text"),
        F.substring(F.md5(norm), 1, 16).alias("norm_fp"),
    )


# =====================================================================
# BM25 lexical retrieval: a small literal query set scored against the
# corpus through posting lists only (token-sharded inverted index —
# never an all-pairs product). Per-term partials are rounded to
# DECIMAL(18,10) before the per-(query,doc) sum so the grouped sum is
# order-independent decimal arithmetic in both engines; the final
# score rounds to 6 and ranks with a doc_id tiebreaker.
# =====================================================================
_BM25_QUERIES = [
    ("q1", "spark merge table"),
    ("q2", "hash join window"),
    ("q3", "stream batch vector"),
    ("q4", "slow query scan filter"),
]


@q(
    "q117_bm25_topk",
    r"""
    WITH q(query_id, qtext) AS (
      VALUES ('q1', 'spark merge table'),
             ('q2', 'hash join window'),
             ('q3', 'stream batch vector'),
             ('q4', 'slow query scan filter')
    ),
    tok AS (
      SELECT doc_id,
             unnest(list_filter(string_split_regex(lower(text), '\s+'),
                                x -> x <> '')) AS token
      FROM documents
    ),
    post AS (SELECT token, doc_id, count(*) AS tf FROM tok GROUP BY 1, 2),
    dl AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY 1),
    stats AS (
      SELECT count(*) AS n_docs,
             CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl
      FROM dl
    ),
    dftbl AS (SELECT token, count(DISTINCT doc_id) AS df_t FROM post GROUP BY 1),
    qt AS (
      SELECT DISTINCT query_id,
             unnest(list_filter(string_split_regex(lower(qtext), '\s+'),
                                x -> x <> '')) AS token
      FROM q
    ),
    scored AS (
      SELECT query_id, doc_id,
             ROUND(CAST(SUM(CAST(
               ln(1.0 + (n_docs - df_t + 0.5) / (df_t + 0.5))
               * (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))
             AS DECIMAL(18,10))) AS DOUBLE), 6) AS score
      FROM qt
      JOIN post USING (token)
      JOIN dl USING (doc_id)
      JOIN dftbl USING (token)
      CROSS JOIN stats
      GROUP BY query_id, doc_id
    )
    SELECT query_id, doc_id, score, rnk FROM (
      SELECT query_id, doc_id, score,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY score DESC, doc_id ASC) AS rnk
      FROM scored
    ) WHERE rnk <= 5
    """,
)
def q117(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbt_incremental_ci_spark.operators import retrieval

    docs = t(spark, sf_dir, "documents").select("doc_id", "text")
    queries = spark.createDataFrame(_BM25_QUERIES, ["query_id", "qtext"])
    return retrieval.bm25_topk(docs, queries, k=5, k1=1.2, b=0.75)


# =====================================================================
# DSIR importance resampling (Xie et al. 2023): rank the raw corpus by
# hashed-unigram target-likeness (target = the 'en' slice) and keep
# the top 100. The feature space is a CONSTANT 64-bucket table, so the
# scoring join broadcasts a 64-row log-ratio table — the corpus is
# only ever touched by its own token explode. Per-token log-ratio
# contributions round to DECIMAL(18,10) before the per-doc sum
# (order-independent); the Spark side ranks through the two-phase
# range-partition shape, never a single-task global window.
# =====================================================================
@q(
    "q118_dsir_selection",
    r"""
    WITH tok AS (
      SELECT doc_id, lang,
             unnest(list_filter(string_split_regex(trim(text), '\s+'),
                                x -> x <> '')) AS tk
      FROM documents
    ),
    b AS (
      SELECT doc_id, lang,
             ('0x' || substr(md5(tk || ':dsir'), 1, 8))::BIGINT % 64 AS bucket
      FROM tok
    ),
    tc AS (SELECT bucket, count(*) AS ct FROM b WHERE lang = 'en' GROUP BY 1),
    rc AS (SELECT bucket, count(*) AS cr FROM b GROUP BY 1),
    spine AS (SELECT range AS bucket FROM range(64)),
    j AS (
      SELECT spine.bucket, COALESCE(ct, 0) AS ct, COALESCE(cr, 0) AS cr
      FROM spine LEFT JOIN tc USING (bucket) LEFT JOIN rc USING (bucket)
    ),
    tot AS (SELECT sum(ct) AS tt, sum(cr) AS tr FROM j),
    w AS (
      SELECT bucket,
             ln((ct + 0.5) / (tt + 32.0)) - ln((cr + 0.5) / (tr + 32.0))
               AS logratio
      FROM j CROSS JOIN tot
    ),
    scored AS (
      SELECT doc_id, count(*) AS n_tokens,
             ROUND(CAST(SUM(CAST(logratio AS DECIMAL(18,10))) AS DOUBLE), 6)
               AS logweight
      FROM b JOIN w USING (bucket)
      GROUP BY doc_id
    )
    SELECT doc_id, n_tokens, logweight,
           CAST(row_number() OVER (ORDER BY logweight DESC, doc_id ASC)
                AS INT) AS rnk,
           row_number() OVER (ORDER BY logweight DESC, doc_id ASC) <= 100
             AS keep
    FROM scored
    """,
)
def q118(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbt_incremental_ci_spark.operators import dsir

    docs = t(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    target = docs.filter(F.col("lang") == "en")
    return dsir.dsir_select(docs, target, k=100, n_buckets=64, alpha=0.5)


# =====================================================================
# K-means embedding clustering (q119): train on a bounded md5-ordered
# sample (distributed TakeOrderedAndProject, Lloyd in shared numpy),
# assign the corpus map-only against literal centroids, annotate with
# k-row cluster sizes. The lazy oracle replays the IDENTICAL training
# (same md5 sample selection via DuckDB, same numpy code) and inlines
# the resulting centroids into SQL — the q43/q99 pattern extended to
# trained state.
# =====================================================================
_KM_K, _KM_DIM, _KM_CAP, _KM_ITERS, _KM_SEED = 10, 64, 200, 10, 7


def _q119_oracle(sf_dir: str = "/root/testdata/sf0.01") -> str | None:
    import os as _os

    from dbt_incremental_ci_spark.operators import clustering

    ep = _os.path.join(sf_dir, "embeddings.parquet")
    if not _os.path.exists(ep):
        return None
    import duckdb as _duck

    con = _duck.connect()
    rows = con.execute(
        f"""
        SELECT vec_id, embedding::DOUBLE[] FROM read_parquet('{ep}')
        WHERE embedding IS NOT NULL
        ORDER BY md5(vec_id::VARCHAR || ':km') LIMIT {_KM_CAP}
        """
    ).fetchall()
    con.close()
    rows = sorted(rows, key=lambda r: r[0])
    centers = clustering.lloyd(
        [r[1] for r in rows], _KM_K, _KM_ITERS, _KM_SEED
    )

    def arr(vec: list[float]) -> str:
        return "[" + ",".join(repr(x) for x in vec) + "]"

    dist_terms = ", ".join(
        f"ROUND(list_sum(list_transform(generate_series(1, {_KM_DIM}), "
        f"i -> (v[i] - ({arr(c)})[i]) * (v[i] - ({arr(c)})[i]))), 9)"
        for c in centers
    )
    return f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    d AS (SELECT vec_id, [{dist_terms}] AS dists FROM e),
    a AS (
      SELECT vec_id,
             CAST(list_position(dists, list_min(dists)) - 1 AS INT) AS cluster,
             ROUND(list_min(dists), 6) AS dist2
      FROM d
    )
    SELECT vec_id, cluster, dist2,
           count(*) OVER (PARTITION BY cluster) AS cluster_size
    FROM a
    """


_LAZY_ORACLES["q119_kmeans_clusters"] = _q119_oracle


@q("q119_kmeans_clusters")
def q119(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbt_incremental_ci_spark.operators import clustering

    emb = t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    return clustering.kmeans_cluster(
        emb,
        k=_KM_K,
        sample_cap=_KM_CAP,
        iters=_KM_ITERS,
        seed=_KM_SEED,
        salt="km",
    )


# =====================================================================
# Length-bucketed batching (q120): power-of-two token-length buckets,
# md5-variate deterministic order within bucket, fixed-size batch
# cuts, per-row pad waste. Spark ranks through the two-phase
# range-partition shape (a per-bucket window would be a single
# data-sized task at 100 TB — bucket cardinality is only ~log(max
# len)); the oracle can afford the plain per-bucket window at sf0.01.
# =====================================================================
@q(
    "q120_length_batches",
    r"""
    WITH base AS (
      SELECT doc_id,
             len(list_filter(string_split_regex(text, '\s+'),
                             x -> x <> '')) AS n_tokens
      FROM documents
    ),
    b AS (
      SELECT doc_id, n_tokens,
             CAST(pow(2.0, ceil(log2(greatest(n_tokens, 1)))) AS INT)
               AS bucket_len
      FROM base
    )
    SELECT doc_id, n_tokens, bucket_len,
           CAST(floor((row_number() OVER (
             PARTITION BY bucket_len
             ORDER BY (('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':batch'), 1, 8))
                       ::BIGINT / 4294967296.0) ASC, doc_id ASC) - 1) / 8)
             AS BIGINT) AS batch_id,
           bucket_len - n_tokens AS pad_waste
    FROM b
    """,
)
def q120(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbt_incremental_ci_spark.operators import batching

    docs = t(spark, sf_dir, "documents").select("doc_id", "text")
    return batching.length_bucketed_batches(docs, batch_size=8, salt="batch")


# =====================================================================
# Robust outlier audit (q121): exact per-group median/MAD over
# lineitem prices, modified-z outlier counts (Iglewicz–Hoaglin), and
# the winsorized mean at [p05, p95]. Exact percentiles are the
# audit-grade complement to the q46/q49 sketch route; Spark
# percentile() and DuckDB quantile_cont() interpolate identically.
# The winsorized mean goes through DECIMAL(18,6) before summing so
# the grouped sum is order-independent.
# =====================================================================
@q(
    "q121_robust_outliers",
    """
    WITH stats AS (
      SELECT l_returnflag,
             quantile_cont(l_extendedprice, 0.5) AS med,
             quantile_cont(l_extendedprice, 0.05) AS p05,
             quantile_cont(l_extendedprice, 0.95) AS p95
      FROM lineitem GROUP BY l_returnflag
    ),
    mad AS (
      SELECT l_returnflag,
             quantile_cont(abs(l_extendedprice - med), 0.5) AS mad
      FROM lineitem JOIN stats USING (l_returnflag)
      GROUP BY l_returnflag
    ),
    j AS (
      SELECT l.l_returnflag, l.l_extendedprice, s.med, s.p05, s.p95, m.mad
      FROM lineitem l
      JOIN stats s USING (l_returnflag) JOIN mad m USING (l_returnflag)
    )
    SELECT l_returnflag,
           CAST(count(*) AS BIGINT) AS n_rows,
           ROUND(first(med), 6) AS med, ROUND(first(mad), 6) AS mad,
           ROUND(first(p05), 6) AS p05, ROUND(first(p95), 6) AS p95,
           CAST(count(*) FILTER (WHERE mad > 0
                 AND abs(l_extendedprice - med) > 3.5 * mad / 0.6745)
                AS BIGINT) AS n_outliers,
           ROUND(CAST(SUM(CAST(least(greatest(l_extendedprice, p05), p95)
                               AS DECIMAL(18,6))) AS DOUBLE) / count(*), 4)
             AS winsor_mean
    FROM j
    GROUP BY l_returnflag
    """,
)
def q121(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbt_incremental_ci_spark.operators import robust

    li = t(spark, sf_dir, "lineitem").select("l_returnflag", "l_extendedprice")
    flagged = robust.flag_outliers(li, ["l_returnflag"], "l_extendedprice")
    wv = robust.winsorize(
        F.col("l_extendedprice").cast("double"), F.col("p05"), F.col("p95")
    )
    return flagged.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.round(F.first("med"), 6).alias("med"),
        F.round(F.first("mad"), 6).alias("mad"),
        F.round(F.first("p05"), 6).alias("p05"),
        F.round(F.first("p95"), 6).alias("p95"),
        F.sum(F.col("is_outlier").cast("bigint")).alias("n_outliers"),
        F.round(
            F.sum(wv.cast("decimal(18,6)")).cast("double")
            / F.count(F.lit(1)),
            4,
        ).alias("winsor_mean"),
    )


# =====================================================================
# Character-entropy screening (q122): per-doc char-unigram entropy,
# distinct-char count, dominant char + share. One doc-sharded char
# explode with map-side combine; H = log2(n) − (Σ c·log2 c)/n with
# decimal-rounded terms so the fold is order-independent; dominant
# char resolves (count desc, char asc) identically in both engines.
# =====================================================================
@q(
    "q122_char_entropy",
    """
    WITH ch AS (
      SELECT doc_id, unnest(regexp_extract_all(text, '.')) AS ch
      FROM documents
    ),
    counts AS (SELECT doc_id, ch, count(*) AS c FROM ch GROUP BY 1, 2),
    per_doc AS (
      SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_chars,
             count(*) AS distinct_chars,
             CAST(SUM(CAST(c * log2(c) AS DECIMAL(18,10))) AS DOUBLE)
               AS clogc
      FROM counts GROUP BY doc_id
    ),
    top AS (
      SELECT doc_id, ch AS top_char, c AS topc
      FROM (SELECT *, row_number() OVER (PARTITION BY doc_id
                                         ORDER BY c DESC, ch ASC) AS rn
            FROM counts)
      WHERE rn = 1
    )
    SELECT doc_id, n_chars, distinct_chars,
           ROUND(log2(n_chars) - clogc / n_chars, 6) AS char_entropy,
           top_char,
           ROUND(CAST(topc AS DOUBLE) / n_chars, 6) AS top_char_frac
    FROM per_doc JOIN top USING (doc_id)
    """,
)
def q122(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents").select("doc_id", "text")
    return text.char_stats(docs)


# =====================================================================
# BPE tokenizer training (q123): one corpus pass builds the word-
# frequency table; 10 merge rounds then run over the VOCAB only —
# weighted pair-count aggregate, deterministic (count desc, pair asc)
# argmax, map-only regexp merge — the reason BPE training is feasible
# on a 100 TB corpus. The oracle replays training in pure Python from
# DuckDB's word counts (integer arithmetic end to end).
# =====================================================================
def _q123_oracle(sf_dir: str = "/root/testdata/sf0.01") -> str | None:
    import os as _os

    from dbt_incremental_ci_spark.operators import bpe

    dp = _os.path.join(sf_dir, "documents.parquet")
    if not _os.path.exists(dp):
        return None
    import duckdb as _duck

    con = _duck.connect()
    wc = dict(
        con.execute(
            f"""
            SELECT word, count(*) FROM (
              SELECT unnest(list_filter(
                string_split_regex(trim(text), '\\s+'), x -> x <> '')) AS word
              FROM read_parquet('{dp}')
            ) GROUP BY word
            """
        ).fetchall()
    )
    con.close()
    merges = bpe.bpe_train_replica(wc, n_merges=10)
    rows = ", ".join(
        f"({r}, '{l}', '{rt}', {c})" for r, l, rt, c in merges
    )
    return f"""
    SELECT merge_rank, left_sym, right_sym, pair_count
    FROM (VALUES {rows})
      AS t(merge_rank, left_sym, right_sym, pair_count)
    """


_LAZY_ORACLES["q123_bpe_merges"] = _q123_oracle


@q("q123_bpe_merges")
def q123(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbt_incremental_ci_spark.operators import bpe

    docs = t(spark, sf_dir, "documents").select("text")
    merges = bpe.bpe_train(docs, n_merges=10)
    return spark.createDataFrame(
        merges, ["merge_rank", "left_sym", "right_sym", "pair_count"]
    ).select(
        F.col("merge_rank").cast("int"),
        "left_sym",
        "right_sym",
        F.col("pair_count").cast("bigint"),
    )


# =====================================================================
# Boilerplate span removal (q124): any trigram present in >= 10
# distinct docs is boilerplate; every token position it covers is
# dropped corpus-wide and survivors rejoin in order (Lee et al. 2022
# ExactSubstr flavor, span-granular vs q110's line granularity).
# Boilerplate is PLANTED — every 3rd doc gains a newsletter footer —
# identically in both engines; organic repeated trigrams above the
# threshold are removed by both sides too. Integer/string arithmetic
# end to end.
# =====================================================================
@q(
    "q124_boilerplate_removal",
    r"""
    WITH planted AS (
      SELECT doc_id,
             text || CASE WHEN doc_id % 3 = 0
                          THEN ' subscribe to our newsletter today'
                          ELSE '' END AS text
      FROM documents
    ),
    tk AS (
      SELECT doc_id,
             list_filter(string_split_regex(trim(text), '\s+'),
                         x -> x <> '') AS toks
      FROM planted
    ),
    tok_pos AS (
      SELECT doc_id, unnest(toks) AS tok,
             unnest(generate_series(1, len(toks))) AS pos
      FROM tk
    ),
    grams AS (
      SELECT doc_id,
             unnest(generate_series(1, greatest(0, len(toks) - 2))) AS gpos,
             unnest(list_transform(
               generate_series(1, greatest(0, len(toks) - 2)),
               i -> array_to_string(toks[i:i+2], ' '))) AS ng
      FROM tk
    ),
    boiler AS (
      SELECT ng FROM (SELECT DISTINCT doc_id, ng FROM grams)
      GROUP BY ng HAVING count(*) >= 10
    ),
    covered AS (
      SELECT DISTINCT doc_id,
             unnest(generate_series(gpos, gpos + 2)) AS pos
      FROM grams JOIN boiler USING (ng)
    ),
    kept AS (
      SELECT tok_pos.* FROM tok_pos
      ANTI JOIN covered USING (doc_id, pos)
    ),
    rebuilt AS (
      SELECT doc_id, count(*) AS n_kept,
             string_agg(tok, ' ' ORDER BY pos) AS cleaned_text
      FROM kept GROUP BY doc_id
    ),
    totals AS (SELECT doc_id, len(toks) AS n_tokens FROM tk)
    SELECT p.doc_id,
           CAST(coalesce(t.n_tokens, 0) AS BIGINT) AS n_tokens,
           CAST(coalesce(t.n_tokens, 0) - coalesce(r.n_kept, 0) AS BIGINT)
             AS n_removed,
           coalesce(r.cleaned_text, '') AS cleaned_text
    FROM planted p
    LEFT JOIN totals t USING (doc_id)
    LEFT JOIN rebuilt r USING (doc_id)
    """,
)
def q124(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbt_incremental_ci_spark.operators import ngrams

    docs = t(spark, sf_dir, "documents").select("doc_id", "text")
    planted = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(
                F.col("doc_id") % 3 == 0,
                F.lit(" subscribe to our newsletter today"),
            ).otherwise(F.lit("")),
        ).alias("text"),
    )
    return ngrams.remove_boilerplate_spans(planted, n=3, min_doc_freq=10)


# =====================================================================
# Time-series gap fill + forward fill (q125): per-user daily grid over
# each user's own observed range (per-key sequence explode — spine is
# output-sized, never |keys|×|global range|), decimal-exact daily
# sums, NULL gaps materialized, last-observation-carried-forward via
# an ignore-nulls running window. ts is the house BIGINT-nanos
# contract; DuckDB buckets with integer epoch_ns division.
# =====================================================================
@q(
    "q125_gap_fill_ffill",
    """
    WITH b AS (
      SELECT user_id, epoch_ns(ts) // 86400000000000 AS bucket,
             CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS observed
      FROM events
      GROUP BY 1, 2
    ),
    spine AS (
      SELECT user_id, unnest(generate_series(min(bucket), max(bucket)))
               AS bucket
      FROM b GROUP BY user_id
    ),
    grid AS (
      SELECT s.user_id, s.bucket, b.observed
      FROM spine s LEFT JOIN b USING (user_id, bucket)
    )
    SELECT user_id, bucket, observed,
           observed IS NULL AS is_gap,
           last_value(observed IGNORE NULLS) OVER (
             PARTITION BY user_id ORDER BY bucket
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled
    FROM grid
    """,
)
def q125(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbt_incremental_ci_spark.operators import timeseries

    ev = events_table(spark, sf_dir).select("user_id", "ts", "value")
    return timeseries.gap_fill_ffill(ev, "user_id", "ts", "value")


# =====================================================================
# Bloom-filtered join (q126): the semi-join-reduction runtime filter
# as a first-class operator — a bits table over the selective
# customer slice pre-drops non-matching orders map-only before the
# exact join, so the fact shuffle carries a sliver, not the table.
# No false negatives, so the result is EXACTLY the plain inner join —
# which is precisely what the oracle runs.
# =====================================================================
@q(
    "q126_bloom_join",
    """
    SELECT o_orderkey, c_custkey, c_name,
           CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE)
             AS total_price
    FROM orders JOIN customer ON o_custkey = c_custkey
    WHERE c_acctbal > 9900.0
    """,
)
def q126(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbt_incremental_ci_spark.operators import bloom

    orders = t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    cust = (
        t(spark, sf_dir, "customer")
        .filter(F.col("c_acctbal") > 9900.0)
        .select("c_custkey", "c_name")
    )
    joined = bloom.bloom_filtered_join(
        orders, cust, "o_custkey", "c_custkey"
    )
    return joined.select(
        "o_orderkey",
        "c_custkey",
        "c_name",
        dec("o_totalprice").cast("double").alias("total_price"),
    )


# =====================================================================
# Exact set-similarity join (q127): PPJoin-style prefix filtering.
# Unlike the MinHash/SimHash stack (q32/q33 — banded, probabilistic
# recall), this is EXACT at the threshold: the rarest-first prefix
# equi-join provably generates every pair with J >= t, then a
# candidate-bounded intersection count verifies. The oracle is the
# brute-force DuckDB list_intersect over all pairs — any false
# negative (or extra pair) hash-mismatches.
# =====================================================================
@q(
    "q127_setsim_join",
    """
    WITH ts AS (
      SELECT doc_id,
             list_distinct(list_filter(
               string_split_regex(lower(text), '\\s+'),
               x -> x <> '')) AS tk
      FROM documents
    ),
    nz AS (SELECT * FROM ts WHERE len(tk) > 0)
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           len(a.tk) AS sz_a, len(b.tk) AS sz_b,
           len(list_intersect(a.tk, b.tk)) AS inter,
           ROUND(CAST(len(list_intersect(a.tk, b.tk)) AS DOUBLE)
                 / (len(a.tk) + len(b.tk) - len(list_intersect(a.tk, b.tk))),
                 6) AS jaccard
    FROM nz a JOIN nz b ON a.doc_id < b.doc_id
    WHERE ROUND(CAST(len(list_intersect(a.tk, b.tk)) AS DOUBLE)
                / (len(a.tk) + len(b.tk) - len(list_intersect(a.tk, b.tk))),
                6) >= 0.9
    """,
)
def q127(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbt_incremental_ci_spark.operators import setsim

    docs = t(spark, sf_dir, "documents")
    out = setsim.jaccard_set_join(docs, "doc_id", "text", threshold=0.9)
    return out.select(
        "id_a",
        "id_b",
        F.col("sz_a").cast("long"),
        F.col("sz_b").cast("long"),
        F.col("inter").cast("long"),
        "jaccard",
    )


# =====================================================================
# Containment join (q128): asymmetric |a∩b|/|a| — the quote/subset
# detector symmetric Jaccard under-scores. The contained side is a
# deterministic 1-in-25 slice of the corpus (the "suspect quotes");
# the containing side is the full corpus. Prefix filter on the
# contained side only; the containing side probes all tokens, so big
# containers are found regardless of their size.
# =====================================================================
@q(
    "q128_containment_join",
    """
    WITH ts AS (
      SELECT doc_id,
             list_distinct(list_filter(
               string_split_regex(lower(text), '\\s+'),
               x -> x <> '')) AS tk
      FROM documents
    ),
    nz AS (SELECT * FROM ts WHERE len(tk) > 0),
    small AS (SELECT * FROM nz WHERE doc_id % 25 = 0)
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           len(a.tk) AS sz_a,
           len(list_intersect(a.tk, b.tk)) AS inter,
           ROUND(CAST(len(list_intersect(a.tk, b.tk)) AS DOUBLE)
                 / len(a.tk), 6) AS containment
    FROM small a JOIN nz b ON a.doc_id <> b.doc_id
    WHERE ROUND(CAST(len(list_intersect(a.tk, b.tk)) AS DOUBLE)
                / len(a.tk), 6) >= 0.9
    """,
)
def q128(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbt_incremental_ci_spark.operators import setsim

    docs = t(spark, sf_dir, "documents")
    small = docs.filter(F.col("doc_id") % 25 == 0)
    out = setsim.containment_join(small, docs, threshold=0.9)
    return out.select(
        "id_a",
        "id_b",
        F.col("sz_a").cast("long"),
        F.col("inter").cast("long"),
        "containment",
    )


# =====================================================================
# Triangle census of the near-dup graph (q129): degree-ordered
# orientation (Suri & Vassilvitskii WWW'11) bounds wedge fan-out by
# O(sqrt(|E|)) so the count survives celebrity nodes at 100 TB. The
# edge set is the EXACT 0.9-Jaccard setsim graph over a
# deterministic 1-in-5 corpus slice — the "census a sample to
# calibrate dedup thresholds" pattern; the full-corpus 0.9 graph on
# this synthetic near-identical corpus is clique soup (308M
# triangles at sf0.1 — correct but uninformative and output-bound).
# The DuckDB oracle rebuilds the same sliced graph brute-force and closes
# triangles with a canonical (u<v) 3-way join. Local clustering
# coefficient separates template cliques from quote-hub stars before
# dedup survivor selection.
# =====================================================================
@q(
    "q129_triangle_census",
    """
    WITH ts AS (
      SELECT doc_id,
             list_distinct(list_filter(
               string_split_regex(lower(text), '\\s+'),
               x -> x <> '')) AS tk
      FROM documents WHERE doc_id % 5 = 0
    ),
    nz AS (SELECT * FROM ts WHERE len(tk) > 0),
    pairs AS (
      SELECT a.doc_id AS u, b.doc_id AS v
      FROM nz a JOIN nz b ON a.doc_id < b.doc_id
      WHERE ROUND(CAST(len(list_intersect(a.tk, b.tk)) AS DOUBLE)
                  / (len(a.tk) + len(b.tk) - len(list_intersect(a.tk, b.tk))),
                  6) >= 0.9
    ),
    deg AS (
      SELECT node, COUNT(*) AS deg FROM (
        SELECT u AS node FROM pairs UNION ALL SELECT v AS node FROM pairs)
      GROUP BY node
    ),
    tri AS (
      SELECT e1.u AS a, e1.v AS b, e2.v AS c
      FROM pairs e1
      JOIN pairs e2 ON e2.u = e1.v
      JOIN pairs e3 ON e3.u = e1.u AND e3.v = e2.v
    ),
    tcnt AS (
      SELECT node, COUNT(*) AS tri FROM (
        SELECT a AS node FROM tri
        UNION ALL SELECT b AS node FROM tri
        UNION ALL SELECT c AS node FROM tri)
      GROUP BY node
    )
    SELECT d.doc_id,
           CAST(COALESCE(deg.deg, 0) AS BIGINT) AS deg,
           CAST(COALESCE(tcnt.tri, 0) AS BIGINT) AS tri,
           CASE WHEN COALESCE(deg.deg, 0) >= 2
                THEN ROUND(2.0 * COALESCE(tcnt.tri, 0)
                           / (deg.deg * (deg.deg - 1)), 6)
                ELSE 0.0 END AS lcc
    FROM (SELECT doc_id FROM documents WHERE doc_id % 5 = 0) d
    LEFT JOIN deg ON deg.node = d.doc_id
    LEFT JOIN tcnt ON tcnt.node = d.doc_id
    """,
)
def q129(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbt_incremental_ci_spark.operators import setsim, triangles

    docs = t(spark, sf_dir, "documents").filter(F.col("doc_id") % 5 == 0)
    edges = setsim.jaccard_set_join(docs, "doc_id", "text", threshold=0.9)
    stats = triangles.node_triangle_stats(
        docs, edges.select("id_a", "id_b"), "doc_id"
    )
    return stats.select(
        F.col("node").alias("doc_id"), "deg", "tri", "lcc"
    )


# =====================================================================
# Weighted sampling without replacement (q130): Efraimidis–Spirakis
# exponential-race keys over the deterministic md5 variate — rank by
# ln(u)/w desc, take the top n. Selection is exactly successive
# weight-proportional draws without replacement, reproducible across
# engines/partitionings (the oracle computes the identical key in
# DuckDB). Plan is TakeOrderedAndProject: per-partition top-n, no
# global sort — the 100 TB shape for "give me 1M docs sampled by
# quality weight".
# =====================================================================
@q(
    "q130_weighted_sample",
    """
    WITH keyed AS (
      SELECT o_orderkey, o_custkey,
             CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS weight,
             ln((('0x' || substr(md5(CAST(o_orderkey AS VARCHAR) || ':wsr'),
                               1, 8))::BIGINT + 0.5) / 4294967296.0)
               / CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS k
      FROM orders
      WHERE CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) > 0
    )
    SELECT o_orderkey, o_custkey, weight,
           CAST(ROW_NUMBER() OVER (ORDER BY k DESC, o_orderkey) AS INT)
             AS wsr_rank
    FROM keyed
    ORDER BY k DESC, o_orderkey
    LIMIT 200
    """,
)
def q130(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = t(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        dec("o_totalprice").cast("double").alias("weight"),
    )
    return sampling.weighted_sample_wor(
        orders, "o_orderkey", "weight", n=200, salt="wsr"
    )


# =====================================================================
# Join-delta IVM (q131): maintain orders ⋈ customer under insert-only
# batches without re-joining history. Old state = orders before the
# split date ⋈ customers outside the delta slice; the batch adds late
# orders AND a slice of customers. The maintained view (old view ∪
# delta-rule terms) must equal the full join — which is EXACTLY what
# the oracle computes, so any dropped/duplicated delta term
# hash-mismatches. Per-batch cost is O(batch ⋈ history-matches), not
# O(history ⋈ history): the incremental-marts pattern at 100 TB.
# =====================================================================
@q(
    "q131_join_ivm",
    """
    SELECT o_orderkey, c_custkey, c_name,
           CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE)
             AS total_price
    FROM orders JOIN customer ON o_custkey = c_custkey
    """,
)
def q131(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbt_incremental_ci_spark.incremental import ivm

    orders = t(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.col("o_custkey").alias("c_custkey"),
        dec("o_totalprice").cast("double").alias("total_price"),
        "o_orderdate",
    )
    cust = t(spark, sf_dir, "customer").select("c_custkey", "c_name")
    split = F.lit("1997-01-01").cast("date")
    a_old = orders.filter(F.col("o_orderdate") < split).drop("o_orderdate")
    delta_a = orders.filter(F.col("o_orderdate") >= split).drop("o_orderdate")
    b_old = cust.filter(F.col("c_custkey") % 10 != 0)
    delta_b = cust.filter(F.col("c_custkey") % 10 == 0)
    view = a_old.join(b_old, "c_custkey")
    out = ivm.maintain_join(view, a_old, delta_a, b_old, delta_b, "c_custkey")
    return out.select("o_orderkey", "c_custkey", "c_name", "total_price")


# =====================================================================
# Late-interaction MaxSim retrieval (q132): ColBERT scoring over
# token-level embeddings — docs are 8-vector groups of the embeddings
# table, queries are 4-vector slices (which also live in their "home"
# doc, so rank-1 self-retrieval is a built-in sanity signal). Each
# token-pair cosine rounds to 6 dp before the order-free max; per-doc
# sums run in DECIMAL(18,6), so the full pipeline replays value-exact
# in DuckDB. The no-candidates form is the documented brute baseline;
# the candidates path (ANN over pooled vectors) is the 100 TB route.
# =====================================================================
@q(
    "q132_maxsim_topk",
    """
    WITH base AS (
      -- zero vectors normalize to zero vectors (matches
      -- retrieval.normalize_vec's norm>0 branch; plain division would
      -- give Inf/NaN here vs NULL in Spark)
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
    d AS (SELECT vec_id // 8 AS doc_id, v FROM base),
    qt AS (SELECT vec_id // 40 AS query_id, vec_id AS qtok, v
           FROM base WHERE vec_id % 40 < 4 AND vec_id < 2000),
    mx AS (
      SELECT q.query_id, q.qtok, d.doc_id,
             MAX(ROUND(list_dot_product(q.v, d.v), 6)) AS mxdp
      FROM qt q CROSS JOIN d
      GROUP BY q.query_id, q.qtok, d.doc_id
    ),
    sc AS (
      SELECT query_id, doc_id,
             CAST(SUM(CAST(mxdp AS DECIMAL(18,6))) AS DOUBLE) AS score
      FROM mx GROUP BY query_id, doc_id
    )
    SELECT query_id, doc_id, score, rnk FROM (
      SELECT *, CAST(row_number() OVER (
        PARTITION BY query_id ORDER BY score DESC, doc_id) AS INT) AS rnk
      FROM sc
    ) WHERE rnk <= 5
    """,
)
def q132(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbt_incremental_ci_spark.operators import retrieval

    emb = t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    docs = emb.select(
        (F.col("vec_id") / 8).cast("long").alias("doc_id"),
        F.col("embedding").alias("vec"),
    )
    # query set capped at vec_id < 2000 (a no-op at the shipped SFs,
    # where vec_id < 2000 always holds): the ground-truth brute form
    # must keep a FIXED query set as the corpus scales — a query side
    # growing with the data turns the baseline quadratic in corpus
    # size, which is q29's lesson; the candidates path is the scale
    # route either way.
    queries = emb.filter(
        (F.col("vec_id") % 40 < 4) & (F.col("vec_id") < 2000)
    ).select(
        (F.col("vec_id") / 40).cast("long").alias("query_id"),
        F.col("vec_id").alias("qtok"),
        F.col("embedding").alias("vec"),
    )
    return retrieval.maxsim_topk(docs, queries, k=5)


# =====================================================================
# Balanced range bucketing (q133): sampled-exact-quantile boundaries
# (R-7 — Spark percentile == DuckDB quantile_cont) over the
# deterministic md5 sample, then a pure per-row CASE assignment. The
# audit shows per-bucket counts staying near-uniform under
# l_extendedprice's skew — the deterministic twin of what
# repartitionByRange's private RNG sampler does for balanced sorts /
# range-clustered writes. Oracle recomputes sample, boundaries, and
# assignment entirely in SQL.
# =====================================================================
@q(
    "q133_range_buckets",
    """
    WITH v AS (
      SELECT l_orderkey, l_linenumber,
             CAST(CAST(l_extendedprice AS DECIMAL(18,2)) AS DOUBLE) AS price
      FROM lineitem
    ),
    smp AS (
      SELECT price FROM v
      WHERE (('0x' || substr(md5(CAST(l_orderkey * 10 + l_linenumber
                                      AS VARCHAR) || ':rb'), 1, 8))::BIGINT
             / 4294967296.0) < 0.1
    ),
    b AS (
      SELECT quantile_cont(price,
               [0.125, 0.25, 0.375, 0.5, 0.625, 0.75, 0.875]) AS bounds
      FROM smp
    )
    SELECT bucket,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           ROUND(MIN(price), 2) AS min_price,
           ROUND(MAX(price), 2) AS max_price
    FROM (
      SELECT (CASE WHEN price > bounds[1] THEN 1 ELSE 0 END
            + CASE WHEN price > bounds[2] THEN 1 ELSE 0 END
            + CASE WHEN price > bounds[3] THEN 1 ELSE 0 END
            + CASE WHEN price > bounds[4] THEN 1 ELSE 0 END
            + CASE WHEN price > bounds[5] THEN 1 ELSE 0 END
            + CASE WHEN price > bounds[6] THEN 1 ELSE 0 END
            + CASE WHEN price > bounds[7] THEN 1 ELSE 0 END) AS bucket,
             price
      FROM v CROSS JOIN b
    )
    GROUP BY bucket
    """,
)
def q133(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbt_incremental_ci_spark.operators import scaling

    li = t(spark, sf_dir, "lineitem").select(
        (F.col("l_orderkey") * 10 + F.col("l_linenumber")).alias("rk"),
        dec("l_extendedprice").cast("double").alias("price"),
    )
    bucketed, _ = scaling.balanced_range_buckets(
        li, "price", "rk", n_buckets=8, sample_rate=0.1, salt="rb"
    )
    return bucketed.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.round(F.min("price"), 2).alias("min_price"),
        F.round(F.max("price"), 2).alias("max_price"),
    )


# =====================================================================
# Interval union / gaps-and-islands (q134): merge overlapping
# [ts, ts+dur] activity spans per user into maximal disjoint islands
# via the cummax sweep — one shuffle on the key, O(1) window state,
# both window passes sharing a single sort. Complements q30 (point
# sessionize by timeout) with true span-overlap semantics. Integer
# nanosecond arithmetic end-to-end; the oracle replays the sweep with
# the same window frames in DuckDB.
# =====================================================================
@q(
    "q134_interval_union",
    """
    WITH iv AS (
      SELECT user_id,
             epoch_ns(ts) AS s,
             epoch_ns(ts) + (60 + event_id % 240) * 1000000000 AS e
      FROM events
    ),
    m AS (
      SELECT user_id, s, e,
             CASE WHEN max(e) OVER (
                    PARTITION BY user_id ORDER BY s, e
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                  IS NULL
                  OR s > max(e) OVER (
                    PARTITION BY user_id ORDER BY s, e
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
             THEN 1 ELSE 0 END AS ni
      FROM iv
    ),
    isl AS (
      SELECT user_id, s, e,
             SUM(ni) OVER (PARTITION BY user_id ORDER BY s, e
                           ROWS UNBOUNDED PRECEDING) AS island
      FROM m
    )
    SELECT user_id,
           MIN(s) AS island_start,
           MAX(e) AS island_end,
           CAST(COUNT(*) AS BIGINT) AS n_spans
    FROM isl GROUP BY user_id, island
    """,
)
def q134(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbt_incremental_ci_spark.operators import intervals

    ev = events_table(spark, sf_dir).select(
        "user_id",
        F.col("ts").alias("s"),
        (F.col("ts") + (F.lit(60) + F.col("event_id") % 240) * F.lit(1000000000)).alias("e"),
    )
    return intervals.merge_intervals(ev, "user_id", "s", "e").select(
        "user_id",
        F.col("island_start"),
        F.col("island_end"),
        "n_spans",
    )


# =====================================================================
# Distribution drift (q135 PSI, q136 KS): did the order-value
# distribution move between the pre-1998 corpus and the rest? PSI
# buckets the REFERENCE side by its own sampled quantiles (reusing
# the q133 machinery) and compares add-half-smoothed per-bucket mass;
# KS takes max |CDF_a - CDF_b| over every observed value with the
# prefix sums running through the partition-parallel global_cumsum —
# no single-task data-sized window. Both replay value-exact in
# DuckDB.
# =====================================================================
_PSI_BOUNDS_SQL = """
      SELECT quantile_cont(price, [{ps}]) AS bounds
      FROM (
        SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS price
        FROM orders
        WHERE year(o_orderdate) < 1998
          AND (('0x' || substr(md5(CAST(o_orderkey AS VARCHAR) || ':psi'),
                               1, 8))::BIGINT / 4294967296.0) < 0.2
      )
""".format(ps=", ".join(str(i / 10) for i in range(1, 10)))

_PSI_BUCKET_SQL = " + ".join(
    f"CASE WHEN price > bounds[{i}] THEN 1 ELSE 0 END" for i in range(1, 10)
)


@q(
    "q135_psi_drift",
    f"""
    WITH b AS ({_PSI_BOUNDS_SQL}),
    ref AS (
      SELECT ({_PSI_BUCKET_SQL}) AS bucket FROM (
        SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS price
        FROM orders WHERE year(o_orderdate) < 1998) CROSS JOIN b
    ),
    cur AS (
      SELECT ({_PSI_BUCKET_SQL}) AS bucket FROM (
        SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS price
        FROM orders WHERE year(o_orderdate) >= 1998) CROSS JOIN b
    ),
    grid AS (SELECT unnest(generate_series(0, 9)) AS bucket),
    cr AS (SELECT bucket, count(*) AS n_ref FROM ref GROUP BY bucket),
    cc AS (SELECT bucket, count(*) AS n_cur FROM cur GROUP BY bucket),
    m AS (
      SELECT g.bucket,
             COALESCE(cr.n_ref, 0) AS n_ref,
             COALESCE(cc.n_cur, 0) AS n_cur
      FROM grid g LEFT JOIN cr USING (bucket) LEFT JOIN cc USING (bucket)
    ),
    t AS (SELECT SUM(n_ref) AS tr, SUM(n_cur) AS tc FROM m)
    SELECT CAST(bucket AS INT) AS bucket,
           CAST(n_ref AS BIGINT) AS n_ref,
           CAST(n_cur AS BIGINT) AS n_cur,
           ROUND((n_ref + 0.5) / (tr + 5.0), 6) AS p_ref,
           ROUND((n_cur + 0.5) / (tc + 5.0), 6) AS p_cur,
           ROUND(((n_cur + 0.5) / (tc + 5.0) - (n_ref + 0.5) / (tr + 5.0))
                 * ln(((n_cur + 0.5) / (tc + 5.0))
                      / ((n_ref + 0.5) / (tr + 5.0))), 6) AS contrib
    FROM m CROSS JOIN t
    """,
)
def q135(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbt_incremental_ci_spark.operators import drift

    orders = t(spark, sf_dir, "orders").select(
        "o_orderkey",
        dec("o_totalprice").cast("double").alias("price"),
        F.year("o_orderdate").alias("yr"),
    )
    ref = orders.filter(F.col("yr") < 1998)
    cur = orders.filter(F.col("yr") >= 1998)
    return drift.psi_report(
        ref, cur, "price", "o_orderkey", n_buckets=10, sample_rate=0.2,
        salt="psi",
    )


@q(
    "q136_ks_drift",
    """
    WITH a AS (
      SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS v
      FROM orders WHERE year(o_orderdate) < 1998
    ),
    b AS (
      SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS v
      FROM orders WHERE year(o_orderdate) >= 1998
    ),
    ca AS (SELECT v, count(*) AS n_a FROM a GROUP BY v),
    cb AS (SELECT v, count(*) AS n_b FROM b GROUP BY v),
    m AS (
      SELECT COALESCE(ca.v, cb.v) AS v,
             COALESCE(n_a, 0) AS n_a, COALESCE(n_b, 0) AS n_b
      FROM ca FULL OUTER JOIN cb ON ca.v = cb.v
    ),
    c AS (
      SELECT SUM(n_a) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cum_a,
             SUM(n_b) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cum_b
      FROM m
    ),
    t AS (SELECT SUM(n_a) AS ta, SUM(n_b) AS tb FROM m)
    SELECT CAST(ta AS BIGINT) AS n_a,
           CAST(tb AS BIGINT) AS n_b,
           ROUND(MAX(ABS(cum_a / ta - cum_b / tb)), 6) AS ks
    FROM c CROSS JOIN t GROUP BY ta, tb
    """,
)
def q136(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbt_incremental_ci_spark.operators import drift

    orders = t(spark, sf_dir, "orders").select(
        dec("o_totalprice").cast("double").alias("v"),
        F.year("o_orderdate").alias("yr"),
    )
    return drift.ks_statistic(
        orders.filter(F.col("yr") < 1998).select("v"),
        orders.filter(F.col("yr") >= 1998).select("v"),
        "v",
    )


# =====================================================================
# Snapshot reconciliation (q137): keyed diff of two table versions —
# the "what did the CI run change vs prod" relation the reference's
# copier workflow implies but never materializes (ref SRC/copier.py
# copies tables; this audits the result). One full-outer shuffle on
# the key, all columns compared null-safely in one map-side pass,
# tiny summary aggregate. The synthetic "new" snapshot drops 1-in-97
# keys, bumps total_price for 1-in-13, and adds 1-in-101 under new
# keys; the oracle replays the whole diff with IS NOT DISTINCT FROM.
# =====================================================================
@q(
    "q137_snapshot_diff",
    """
    WITH base AS (
      SELECT o_orderkey, o_custkey,
             CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE)
               AS total_price,
             o_orderstatus
      FROM orders
    ),
    newt AS (
      SELECT o_orderkey, o_custkey,
             CASE WHEN o_orderkey % 13 = 0 THEN total_price + 1.0
                  ELSE total_price END AS total_price,
             o_orderstatus
      FROM base WHERE o_orderkey % 97 <> 0
      UNION ALL
      SELECT o_orderkey + 10000000, o_custkey, total_price, o_orderstatus
      FROM base WHERE o_orderkey % 101 = 0
    ),
    j AS (
      SELECT o.o_orderkey IS NOT NULL AS in_o,
             n.o_orderkey IS NOT NULL AS in_n,
             NOT (o.o_custkey IS NOT DISTINCT FROM n.o_custkey) AS d_cust,
             NOT (o.total_price IS NOT DISTINCT FROM n.total_price) AS d_price,
             NOT (o.o_orderstatus IS NOT DISTINCT FROM n.o_orderstatus)
               AS d_status
      FROM base o FULL OUTER JOIN newt n ON o.o_orderkey = n.o_orderkey
    ),
    s AS (
      SELECT CASE WHEN in_o AND NOT in_n THEN 'removed'
                  WHEN in_n AND NOT in_o THEN 'added'
                  WHEN d_cust OR d_price OR d_status THEN 'changed'
                  ELSE 'unchanged' END AS diff_status,
             in_o AND in_n AS both_sides, d_cust, d_price, d_status
      FROM j
    )
    SELECT diff_status, CAST(COUNT(*) AS BIGINT) AS n_rows
    FROM s GROUP BY diff_status
    UNION ALL
    SELECT 'col:o_custkey', CAST(COUNT(*) AS BIGINT)
    FROM s WHERE both_sides AND d_cust
    HAVING COUNT(*) > 0
    UNION ALL
    SELECT 'col:total_price', CAST(COUNT(*) AS BIGINT)
    FROM s WHERE both_sides AND d_price
    HAVING COUNT(*) > 0
    UNION ALL
    SELECT 'col:o_orderstatus', CAST(COUNT(*) AS BIGINT)
    FROM s WHERE both_sides AND d_status
    HAVING COUNT(*) > 0
    """,
)
def q137(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbt_incremental_ci_spark.operators import reconcile

    base = t(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        dec("o_totalprice").cast("double").alias("total_price"),
        "o_orderstatus",
    )
    changed = base.filter(F.col("o_orderkey") % 97 != 0).withColumn(
        "total_price",
        F.when(
            F.col("o_orderkey") % 13 == 0, F.col("total_price") + 1.0
        ).otherwise(F.col("total_price")),
    )
    added = base.filter(F.col("o_orderkey") % 101 == 0).select(
        (F.col("o_orderkey") + 10000000).alias("o_orderkey"),
        "o_custkey",
        "total_price",
        "o_orderstatus",
    )
    new = changed.unionByName(added)
    diff = reconcile.snapshot_diff(base, new, "o_orderkey")
    return reconcile.diff_summary(diff)


# =====================================================================
# PMI collocations (q138): Church & Hanks pointwise mutual information
# over adjacent word pairs — one bigram explode (shifted-slice zip),
# two hash aggs, the vocabulary-sized unigram table joined twice
# (AQE-broadcastable), totals inlined as literals. Integer counts all
# the way to one rounded ln. Top-50 by (pmi desc, w1, w2).
# =====================================================================
@q(
    "q138_pmi_collocations",
    r"""
    WITH tk AS (
      SELECT list_filter(string_split_regex(trim(lower(text)), '\s+'),
                         x -> x <> '') AS toks
      FROM documents
    ),
    bg AS (
      SELECT unnest(list_transform(
               generate_series(1, greatest(0, len(toks) - 1)),
               i -> [toks[i], toks[i+1]])) AS p
      FROM tk
    ),
    pc AS (
      SELECT p[1] AS w1, p[2] AS w2, count(*) AS n_pair
      FROM bg GROUP BY 1, 2 HAVING count(*) >= 5
    ),
    uc AS (
      SELECT w, count(*) AS n_w
      FROM (SELECT unnest(toks) AS w FROM tk) GROUP BY w
    ),
    tot AS (
      SELECT (SELECT sum(len(toks)) FROM tk) AS n_tok,
             (SELECT sum(greatest(len(toks) - 1, 0)) FROM tk) AS n_bg
    )
    SELECT w1, w2,
           CAST(n_pair AS BIGINT) AS n_pair,
           CAST(u1.n_w AS BIGINT) AS n_w1,
           CAST(u2.n_w AS BIGINT) AS n_w2,
           ROUND(ln((n_pair / n_bg)
                    / ((u1.n_w / n_tok) * (u2.n_w / n_tok))), 6) AS pmi
    FROM pc
    JOIN uc u1 ON u1.w = pc.w1
    JOIN uc u2 ON u2.w = pc.w2
    CROSS JOIN tot
    ORDER BY pmi DESC, w1, w2 LIMIT 50
    """,
)
def q138(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbt_incremental_ci_spark.operators import collocations

    docs = t(spark, sf_dir, "documents")
    return collocations.pmi_collocations(
        docs, "text", min_pair_count=5, top_k=50
    )


# =====================================================================
# Chi-square association audit (q139): is documents.lang independent
# of documents.source? Contingency counts + derived marginals,
# decimal-summed cell terms (order-independent), zero-observed cells
# folded in as n - sum(expected-over-observed) so no dense |A|x|B|
# grid is ever built. One scalar row: chi2 + Cramér's V.
# =====================================================================
@q(
    "q139_chi_square",
    """
    WITH obs AS (
      SELECT COALESCE(lang, '<null>') AS a,
             COALESCE(source, '<null>') AS b,
             count(*) AS o
      FROM documents GROUP BY 1, 2
    ),
    ra AS (SELECT a, sum(o) AS ra FROM obs GROUP BY a),
    cb AS (SELECT b, sum(o) AS cb FROM obs GROUP BY b),
    nn AS (SELECT CAST(sum(o) AS DOUBLE) AS n FROM obs),
    cells AS (
      SELECT o, ra.ra * cb.cb / nn.n AS e
      FROM obs JOIN ra USING (a) JOIN cb USING (b) CROSS JOIN nn
    ),
    s AS (
      SELECT SUM(CAST(ROUND((o - e) * (o - e) / e, 10)
                      AS DECIMAL(28,10))) AS sc,
             SUM(CAST(ROUND(e, 10) AS DECIMAL(28,10))) AS se
      FROM cells
    ),
    k AS (SELECT (SELECT count(*) FROM ra) AS n_a,
                 (SELECT count(*) FROM cb) AS n_b)
    SELECT CAST(nn.n AS BIGINT) AS n,
           CAST((k.n_a - 1) * (k.n_b - 1) AS BIGINT) AS df_degrees,
           ROUND(CAST(s.sc AS DOUBLE) + (nn.n - CAST(s.se AS DOUBLE)), 6)
             AS chi2,
           ROUND(sqrt((CAST(s.sc AS DOUBLE) + (nn.n - CAST(s.se AS DOUBLE)))
                      / (nn.n * least(k.n_a - 1, k.n_b - 1))), 6)
             AS cramers_v
    FROM s CROSS JOIN nn CROSS JOIN k
    """,
)
def q139(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbt_incremental_ci_spark.operators import collocations

    docs = t(spark, sf_dir, "documents")
    return collocations.chi_square_association(docs, "lang", "source")


# =====================================================================
# End-to-end entity resolution (q140): fuzzy-match customers by name
# (FastSS deletion-neighborhood blocking, exact for edit distance 1 —
# the q58 pair relation), close the match graph with connected
# components, and keep the min-id survivor per entity cluster — the
# full record-linkage pipeline as ONE composed declarative plan. The
# oracle rebuilds the pairs brute-force and resolves components with
# WITH RECURSIVE min-label reachability (the q52 pattern).
# =====================================================================
@q(
    "q140_entity_resolution",
    """
    WITH RECURSIVE
    n AS (
      SELECT a.c_custkey AS id_a, b.c_custkey AS id_b
      FROM customer a JOIN customer b
        ON a.c_nationkey = b.c_nationkey AND a.c_custkey < b.c_custkey
      WHERE levenshtein(a.c_name, b.c_name) <= 1
    ),
    edges AS (
      SELECT id_a AS u, id_b AS v FROM n
      UNION ALL
      SELECT id_b AS u, id_a AS v FROM n
    ),
    reach(node, label) AS (
      SELECT u, u FROM edges
      UNION
      SELECT e.u, r.label FROM edges e JOIN reach r ON r.node = e.v
    ),
    comp AS (SELECT node, MIN(label) AS component FROM reach GROUP BY node)
    SELECT c.c_custkey,
           COALESCE(comp.component, c.c_custkey) AS component,
           (COALESCE(comp.component, c.c_custkey) = c.c_custkey)
             AS is_survivor
    FROM customer c LEFT JOIN comp ON comp.node = c.c_custkey
    """,
)
def q140(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbt_incremental_ci_spark.operators import components as cc
    from dbt_incremental_ci_spark.operators.fuzzy import edit_distance_pairs
    from dbt_incremental_ci_spark.operators.scaling import ensure_min_parallelism

    cust = ensure_min_parallelism(
        t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey", "c_name")
    )
    pairs = edit_distance_pairs(
        cust, "c_custkey", "c_name", block_cols=["c_nationkey"]
    )
    return cc.dedup_components(
        cust.select("c_custkey"), pairs.select("id_a", "id_b"), "c_custkey"
    )


# =====================================================================
# Window-function completion (q141): ntile / cume_dist / nth_value —
# the last three ANSI window functions the §2.6 family hadn't
# exercised (row_number/lag/first_value/percent_rank/partition-aggs
# are q10-q15). Ordering is the per-customer unique total order
# (o_orderdate, o_orderkey), so every ranked value is deterministic.
# nth_value needs the full-partition frame in BOTH engines (the
# default frame stops at CURRENT ROW and would return NULL for rows
# before the 2nd).
# =====================================================================
@q(
    "q141_window_completion",
    """
    SELECT o_orderkey, o_custkey,
           CAST(ntile(4) OVER w AS INT) AS spend_quartile,
           ROUND(cume_dist() OVER w, 6) AS cd,
           nth_value(o_orderkey, 2) OVER (
             PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING
           ) AS second_orderkey
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    """,
)
def q141(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    w_full = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return orders.select(
        "o_orderkey",
        "o_custkey",
        F.ntile(4).over(w).cast("int").alias("spend_quartile"),
        F.round(F.cume_dist().over(w), 6).alias("cd"),
        F.nth_value("o_orderkey", 2).over(w_full).alias("second_orderkey"),
    )


# =====================================================================
# Referential-integrity audit (q142): the dbt `relationships` /
# `not_null` schema tests (the reference project declares 17 of them)
# as ONE audit relation over the whole star schema — orphan FKs,
# NULL FKs, and never-referenced parents per relationship, via
# anti-joins AQE can broadcast. operators/quality.py.
# =====================================================================
@q(
    "q142_fk_audit",
    """
    SELECT 'orders_customer' AS relationship,
      (SELECT count(*) FROM orders) AS child_rows,
      (SELECT count(*) FROM orders WHERE o_custkey IS NULL) AS null_fk,
      (SELECT count(*) FROM orders o WHERE o.o_custkey IS NOT NULL
         AND NOT EXISTS (SELECT 1 FROM customer c
                         WHERE c.c_custkey = o.o_custkey)) AS orphans,
      (SELECT count(*) FROM customer c
         WHERE NOT EXISTS (SELECT 1 FROM orders o
                           WHERE o.o_custkey = c.c_custkey))
        AS childless_parents
    UNION ALL
    SELECT 'lineitem_orders',
      (SELECT count(*) FROM lineitem),
      (SELECT count(*) FROM lineitem WHERE l_orderkey IS NULL),
      (SELECT count(*) FROM lineitem l WHERE l.l_orderkey IS NOT NULL
         AND NOT EXISTS (SELECT 1 FROM orders o
                         WHERE o.o_orderkey = l.l_orderkey)),
      (SELECT count(*) FROM orders o
         WHERE NOT EXISTS (SELECT 1 FROM lineitem l
                           WHERE l.l_orderkey = o.o_orderkey))
    UNION ALL
    SELECT 'lineitem_part',
      (SELECT count(*) FROM lineitem),
      (SELECT count(*) FROM lineitem WHERE l_partkey IS NULL),
      (SELECT count(*) FROM lineitem l WHERE l.l_partkey IS NOT NULL
         AND NOT EXISTS (SELECT 1 FROM part p
                         WHERE p.p_partkey = l.l_partkey)),
      (SELECT count(*) FROM part p
         WHERE NOT EXISTS (SELECT 1 FROM lineitem l
                           WHERE l.l_partkey = p.p_partkey))
    UNION ALL
    SELECT 'lineitem_supplier',
      (SELECT count(*) FROM lineitem),
      (SELECT count(*) FROM lineitem WHERE l_suppkey IS NULL),
      (SELECT count(*) FROM lineitem l WHERE l.l_suppkey IS NOT NULL
         AND NOT EXISTS (SELECT 1 FROM supplier s
                         WHERE s.s_suppkey = l.l_suppkey)),
      (SELECT count(*) FROM supplier s
         WHERE NOT EXISTS (SELECT 1 FROM lineitem l
                           WHERE l.l_suppkey = s.s_suppkey))
    """,
)
def q142(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbt_incremental_ci_spark.operators.quality import fk_audit_many

    orders = t(spark, sf_dir, "orders")
    lineitem = t(spark, sf_dir, "lineitem")
    return fk_audit_many(
        [
            (orders, "o_custkey", t(spark, sf_dir, "customer"), "c_custkey",
             "orders_customer"),
            (lineitem, "l_orderkey", orders, "o_orderkey",
             "lineitem_orders"),
            (lineitem, "l_partkey", t(spark, sf_dir, "part"), "p_partkey",
             "lineitem_part"),
            (lineitem, "l_suppkey", t(spark, sf_dir, "supplier"), "s_suppkey",
             "lineitem_supplier"),
        ]
    )


# =====================================================================
# Per-key EWMA (q143): the one ubiquitous sequential statistic a
# window function cannot express (each step MULTIPLIES the
# accumulator) — an ordered in-group fold: sort_array(collect_list)
# + aggregate() in Spark, list(… ORDER BY …) + list_reduce in the
# DuckDB oracle. The fold runs in EXACT decimal arithmetic (values
# quantized to cents, accumulator re-quantized to 10 places each
# step) — a raw double fold differs across engines by an ulp when one
# fuses the multiply-add, and an ulp straddles rounding boundaries.
# operators/timeseries.py:ewma.
# =====================================================================
@q(
    "q143_ewma",
    """
    WITH seq AS (
      SELECT o_custkey,
             list(CAST(CAST(o_totalprice AS DECIMAL(18,2))
                       AS DECIMAL(28,10))
                  ORDER BY o_orderdate, o_orderkey) AS xs
      FROM orders GROUP BY o_custkey
    )
    SELECT o_custkey,
           CAST(len(xs) AS BIGINT) AS n_obs,
           CAST(xs[-1] AS DOUBLE) AS last_value,
           ROUND(CAST(list_reduce(xs, (acc, x) ->
                   CAST(ROUND(0.300000 * x + 0.700000 * acc, 10)
                        AS DECIMAL(28,10))) AS DOUBLE), 6) AS ewma
    FROM seq
    """,
)
def q143(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbt_incremental_ci_spark.operators import timeseries

    orders = t(spark, sf_dir, "orders")
    out = timeseries.ewma(
        orders, "o_custkey", ["o_orderdate", "o_orderkey"],
        "o_totalprice", alpha=0.3,
    )
    return out.select(
        "o_custkey", "n_obs", "last_value",
        F.round("ewma", 6).alias("ewma"),
    )


# =====================================================================
# Markov transition matrix (q144): P(next event | event) from
# consecutive per-user event pairs — the sequential complement of
# q79's funnel and q30's sessionization. One window shuffle to form
# pairs; the (state, state) aggregate is |states|²-sized regardless
# of data volume. operators/sequences.py.
# =====================================================================
@q(
    "q144_markov_transitions",
    """
    WITH pairs AS (
      SELECT event_type AS from_state,
             lead(event_type) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
             ) AS to_state
      FROM events
    ),
    c AS (
      SELECT from_state, to_state, count(*) AS n
      FROM pairs WHERE to_state IS NOT NULL
      GROUP BY from_state, to_state
    )
    SELECT from_state, to_state, CAST(n AS BIGINT) AS n,
           ROUND(CAST(n AS DOUBLE)
                 / SUM(n) OVER (PARTITION BY from_state), 6) AS p
    FROM c
    """,
)
def q144(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbt_incremental_ci_spark.operators.sequences import transition_matrix

    ev = events_table(spark, sf_dir)
    return transition_matrix(ev, "user_id", ["ts", "event_id"], "event_type")


# =====================================================================
# Equi-width histogram (q145): fixed-width bins over the observed
# [min, max] — the equi-WIDTH complement of q133's equi-depth
# buckets. Bin assignment is exact integer arithmetic on decimal(18,2)
# hundredths ((v-lo)*bins div span), so no engine can disagree about
# a boundary value. operators/profiling.py:equi_width_histogram.
# =====================================================================
@q(
    "q145_equi_width_histogram",
    """
    WITH v AS (
      SELECT CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)
               AS c
      FROM lineitem WHERE l_extendedprice IS NOT NULL
    ),
    b AS (SELECT MIN(c) AS lo, MAX(c) AS hi FROM v),
    binned AS (
      SELECT CAST(CASE WHEN b.hi = b.lo THEN 0
                       ELSE least((v.c - b.lo) * 20 // (b.hi - b.lo), 19)
                  END AS INT) AS bin,
             count(*) AS n
      FROM v CROSS JOIN b GROUP BY 1
    ),
    spine AS (
      SELECT unnest(generate_series(0, 19)) AS bin, b.lo, b.hi FROM b
    )
    SELECT s.bin,
           ROUND(s.lo / 100.0
                 + (s.hi - s.lo) / 100.0 / 20 * s.bin, 6) AS lo,
           ROUND(CASE WHEN s.bin = 19 THEN s.hi / 100.0
                      ELSE s.lo / 100.0
                           + (s.hi - s.lo) / 100.0 / 20 * (s.bin + 1)
                 END, 6) AS hi,
           CAST(COALESCE(n, 0) AS BIGINT) AS n
    FROM spine s LEFT JOIN binned USING (bin)
    """,
)
def q145(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbt_incremental_ci_spark.operators.profiling import (
        equi_width_histogram,
    )

    li = t(spark, sf_dir, "lineitem")
    return equi_width_histogram(li, "l_extendedprice", bins=20)
