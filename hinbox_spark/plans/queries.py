"""Driver-contract query registry: Spark DataFrame implementations paired
with DuckDB oracle SQL (see __spark_entry__.py).

Each entry exercises an operator family from SURVEY.md §2 on the driver's
testdata tables. Column names and types are aliased identically on both
sides; double aggregates are rounded so accumulation-order differences
between engines can't flip the value hash.

Scale discipline: every query is expressed declaratively (Catalyst owns the
physical plan); dimension-table joins stay broadcastable; window top-k uses
deterministic tie-breaks; nothing collects on the driver.
"""

from __future__ import annotations

from collections.abc import Callable

import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _t_rowcount(spark: SparkSession, sf_dir: str, name: str) -> int:
    """Exact row count of a base table from parquet FOOTER metadata — the
    num_rows every footer already carries — instead of a count() job per
    table (3 sequential jobs ≈ 0.6 s measured in the link-prediction
    bound probe, r6). Falls back to the count() job for any layout
    pyarrow can't read (non-parquet stores, hdfs/s3a paths) and for
    directories whose rows are not all in top-level part files (nested or
    hive-partitioned layouts): a zero there would pass as a small bound."""
    path = f"{sf_dir}/{name}.parquet"
    try:
        import os

        import pyarrow.parquet as pq

        if os.path.isdir(path):
            entries = [e for e in os.scandir(path) if e.name[0] not in "._"]
            parts = [e.path for e in entries if e.name.endswith(".parquet")]
            if not parts or any(e.is_dir() for e in entries):
                return _t(spark, sf_dir, name).count()
            return sum(pq.ParquetFile(f).metadata.num_rows for f in parts)
        return pq.ParquetFile(path).metadata.num_rows
    except Exception:
        return _t(spark, sf_dir, name).count()


# ── TPC-H-ish relational family (SURVEY §2.7 A1-A2, §2.3 F-family) ──


def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1/A2: scan + filter pushdown + hash aggregate."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1999-12-31").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


ORACLE_PRICING = """
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 2)                             AS sum_qty,
       round(sum(l_extendedprice), 2)                        AS sum_base_price,
       round(sum(l_extendedprice * (1 - l_discount)), 2)     AS sum_disc_price,
       round(avg(l_quantity), 4)                             AS avg_qty,
       round(avg(l_discount), 4)                             AS avg_disc,
       count(*)                                              AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1999-12-31'
GROUP BY l_returnflag, l_linestatus
"""


def q_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-way join (dims broadcastable) + aggregate (TPC-H Q5 shape)."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
            F.count("*").alias("n_lineitems"),
        )
    )


ORACLE_REVENUE_BY_NATION = """
SELECT n_name AS nation,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
       count(*) AS n_lineitems
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
GROUP BY n_name
"""


def q_top_orders_building(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join + agg + deterministic top-k (TPC-H Q3 shape, O2)."""
    c = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, o.o_orderkey == li.l_orderkey)
        .groupBy("o_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .orderBy(F.desc("revenue"), F.asc("o_orderkey"))
        .limit(10)
    )


ORACLE_TOP_ORDERS = """
SELECT o_orderkey, o_orderdate, o_orderpriority,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON o_orderkey = l_orderkey
WHERE c_mktsegment = 'BUILDING'
GROUP BY o_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, o_orderkey ASC
LIMIT 10
"""


def q_top_customer_per_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window argmax with deterministic tie-break (O3/J6-argmax shape)."""
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    w = Window.partitionBy("n_name").orderBy(
        F.desc("c_acctbal"), F.asc("c_custkey")
    )
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            F.col("n_name").alias("nation"),
            F.col("c_custkey").alias("top_custkey"),
            F.round("c_acctbal", 2).alias("acctbal"),
        )
    )


ORACLE_TOP_CUSTOMER = """
SELECT n_name AS nation, c_custkey AS top_custkey, round(c_acctbal, 2) AS acctbal
FROM (
  SELECT n_name, c_custkey, c_acctbal,
         row_number() OVER (PARTITION BY n_name
                            ORDER BY c_acctbal DESC, c_custkey ASC) AS rn
  FROM customer JOIN nation ON c_nationkey = n_nationkey
) WHERE rn = 1
"""


def q_latest_order_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-wins key collapse (A6): latest order per customer."""
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_orderdate"), F.desc("o_orderkey")
    )
    return (
        o.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            F.col("o_custkey").alias("custkey"),
            F.col("o_orderkey").alias("latest_orderkey"),
            F.col("o_orderdate").alias("latest_orderdate"),
        )
    )


ORACLE_LATEST_ORDER = """
SELECT o_custkey AS custkey, o_orderkey AS latest_orderkey,
       o_orderdate AS latest_orderdate
FROM (
  SELECT o_custkey, o_orderkey, o_orderdate,
         row_number() OVER (PARTITION BY o_custkey
                            ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
  FROM orders
) WHERE rn = 1
"""


def q_customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anti-join — the checkpoint/resume primitive (F2/S7)."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_anti")
        .select(F.col("c_custkey").alias("custkey"), F.col("c_name").alias("name"))
    )


ORACLE_NO_ORDERS = """
SELECT c_custkey AS custkey, c_name AS name
FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
"""


def q_distinct_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct filter-chip values (A9)."""
    return (
        _t(spark, sf_dir, "customer")
        .select(F.col("c_mktsegment").alias("segment"))
        .distinct()
    )


ORACLE_SEGMENTS = "SELECT DISTINCT c_mktsegment AS segment FROM customer"


# ── events family (SC17 dates, O2 top-k, SC12 json) ──


def q_events_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events")
    return (
        e.groupBy(
            F.date_format("ts", "yyyy-MM-dd").alias("day"), "event_type"
        )
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
            F.countDistinct("user_id").alias("n_users"),
        )
    )


ORACLE_EVENTS_DAILY = """
SELECT strftime(ts, '%Y-%m-%d') AS day, event_type,
       count(*) AS n_events,
       round(sum(value), 2) AS total_value,
       count(DISTINCT user_id) AS n_users
FROM events
GROUP BY 1, 2
"""


def q_events_top3_per_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy(
        F.desc("value"), F.asc("event_id")
    )
    return (
        e.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("event_type", "rank", "event_id", F.round("value", 2).alias("value"))
    )


ORACLE_EVENTS_TOP3 = """
SELECT event_type, rank, event_id, round(value, 2) AS value
FROM (
  SELECT event_type, event_id, value,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY value DESC, event_id ASC) AS rank
  FROM events
)
WHERE rank <= 3
"""


def q_events_json_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON prop extraction (the props sidecar-blob pattern, S5/SC12)."""
    e = _t(spark, sf_dir, "events")
    return (
        e.withColumn("k", F.get_json_object("props", "$.k").cast("long"))
        .groupBy("event_type")
        .agg(
            F.sum("k").alias("sum_k"),
            F.round(F.avg("k"), 4).alias("avg_k"),
        )
    )


ORACLE_EVENTS_JSON = """
SELECT event_type,
       CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
       round(avg(CAST(json_extract_string(props, '$.k') AS BIGINT)), 4) AS avg_k
FROM events
GROUP BY event_type
"""


# ── documents family (text analysis + dedup, SURVEY training-data ops) ──


def q_doc_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting per language (whitespace tokenizer)."""
    d = _t(spark, sf_dir, "documents")
    toks = F.size(F.split(F.col("text"), " "))
    return (
        d.groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(toks).alias("total_tokens"),
            F.round(F.avg(toks), 4).alias("avg_tokens"),
            F.sum("n_chars").alias("total_chars"),
        )
    )


ORACLE_DOC_TOKENS = """
SELECT lang,
       count(*) AS n_docs,
       CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS total_tokens,
       round(avg(len(string_split(text, ' '))), 4) AS avg_tokens,
       CAST(sum(n_chars) AS BIGINT) AS total_chars
FROM documents
GROUP BY lang
"""


def q_doc_prefix_fingerprint_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fingerprint dedup: md5 over the first 8 tokens → duplicate groups
    (exact-dedup shape; the prefix makes collisions exist in synthetic data)."""
    d = _t(spark, sf_dir, "documents")
    fp = F.md5(F.concat_ws(" ", F.slice(F.split(F.col("text"), " "), 1, 8)))
    return (
        d.withColumn("fingerprint", fp)
        .groupBy("fingerprint")
        .agg(F.count("*").alias("n_docs"), F.min("doc_id").alias("keeper_doc_id"))
        .filter(F.col("n_docs") > 1)
    )


ORACLE_DOC_FP_DUPS = """
SELECT md5(array_to_string(string_split(text, ' ')[1:8], ' ')) AS fingerprint,
       count(*) AS n_docs,
       min(doc_id) AS keeper_doc_id
FROM documents
GROUP BY 1
HAVING count(*) > 1
"""


def q_doc_stopword_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring: stopword ratio per document (bucketed)."""
    d = _t(spark, sf_dir, "documents")
    ratio = F.expr(
        "size(filter(split(text, ' '), x -> x IN ('the', 'a'))) "
        "/ CAST(size(split(text, ' ')) AS DOUBLE)"
    )
    return (
        d.withColumn("stop_ratio", F.round(ratio, 4))
        .withColumn("bucket", F.floor(F.col("stop_ratio") * 20).cast("long"))
        .groupBy("lang", "bucket")
        .agg(F.count("*").alias("n_docs"))
    )


ORACLE_DOC_STOPWORDS = """
SELECT lang,
       CAST(floor(round(len(list_filter(string_split(text, ' '),
                                        x -> x IN ('the', 'a')))
             / CAST(len(string_split(text, ' ')) AS DOUBLE), 4) * 20) AS BIGINT)
         AS bucket,
       count(*) AS n_docs
FROM documents
GROUP BY 1, 2
"""


def q_doc_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID heuristic: stopword-family voting over the text, compared
    against the labeled lang column (accuracy-style confusion counts)."""
    d = _t(spark, sf_dir, "documents")
    # the synthetic corpus is english word-soup for every lang label, so the
    # heuristic is exercised for plumbing parity: predicted = 'en' when
    # english stopwords appear, else 'other'
    pred = F.when(
        F.expr("size(filter(split(text, ' '), x -> x IN ('the','a','of','and'))) > 0"),
        F.lit("en"),
    ).otherwise(F.lit("other"))
    return (
        d.withColumn("pred_lang", pred)
        .groupBy(F.col("lang").alias("label_lang"), "pred_lang")
        .agg(F.count("*").alias("n_docs"))
    )


ORACLE_DOC_LANGID = """
SELECT lang AS label_lang,
       CASE WHEN len(list_filter(string_split(text, ' '),
                                 x -> x IN ('the','a','of','and'))) > 0
            THEN 'en' ELSE 'other' END AS pred_lang,
       count(*) AS n_docs
FROM documents
GROUP BY 1, 2
"""


# ── embeddings family (similarity search) ──


def q_embedding_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2 norms via JVM-side higher-order aggregate (no Python)."""
    e = _t(spark, sf_dir, "embeddings")
    norm = F.expr(
        "round(sqrt(aggregate(embedding, 0.0D,"
        " (acc, x) -> acc + CAST(x AS DOUBLE) * CAST(x AS DOUBLE))), 4)"
    )
    return e.select("vec_id", "label", norm.alias("l2_norm"))


ORACLE_EMB_NORMS = """
SELECT vec_id, label,
       round(sqrt(list_sum(list_transform(embedding,
             x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))), 4) AS l2_norm
FROM embeddings
"""


def q_knn_top5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-5 neighbors for query vectors (vec_id < 5).

    Spark plan: broadcast the 5 query vectors against the full table,
    JVM-side dot product via zip_with/aggregate (no Python in the hot path),
    window top-k with deterministic tie-break.
    """
    e = _t(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    # spread the single-split candidate scan: the per-pair dots execute
    # inside its tasks under the broadcast cross join (guide §2.2)
    from hinbox_spark.partitioning import spread_for_compute

    cand = spread_for_compute(e, ["vec_id"]).select(
        F.col("vec_id").alias("neighbor_id"), "embedding"
    )
    dot = F.expr(
        "aggregate(zip_with(qvec, embedding, (a, b) ->"
        " CAST(a AS DOUBLE) * CAST(b AS DOUBLE)), 0.0D, (acc, x) -> acc + x)"
    )
    nq = F.expr(
        "sqrt(aggregate(qvec, 0.0D, (acc, x) -> acc + CAST(x AS DOUBLE)*CAST(x AS DOUBLE)))"
    )
    nc = F.expr(
        "sqrt(aggregate(embedding, 0.0D, (acc, x) -> acc + CAST(x AS DOUBLE)*CAST(x AS DOUBLE)))"
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    # zero-norm guard mirrored in the oracle: NaN cosine sorts above all
    # doubles desc, so a zero vector would otherwise rank top-1 everywhere
    return (
        F.broadcast(q.filter(nq > 0))
        .crossJoin(cand.filter(nc > 0))
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cos", dot / (nq * nc))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .select("query_id", "rank", "neighbor_id", F.round("cos", 6).alias("cos_sim"))
    )


ORACLE_KNN = """
SELECT query_id, rank, neighbor_id, cos_sim
FROM (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         round(list_cosine_similarity(
             list_transform(q.embedding, x -> CAST(x AS DOUBLE)),
             list_transform(c.embedding, x -> CAST(x AS DOUBLE))), 6) AS cos_sim,
         row_number() OVER (
             PARTITION BY q.vec_id
             ORDER BY list_cosine_similarity(
                 list_transform(q.embedding, x -> CAST(x AS DOUBLE)),
                 list_transform(c.embedding, x -> CAST(x AS DOUBLE))) DESC,
             c.vec_id ASC) AS rank
  FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
  WHERE q.vec_id < 5
    AND sqrt(list_sum(list_transform(q.embedding,
            x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) > 0
    AND sqrt(list_sum(list_transform(c.embedding,
            x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) > 0
)
WHERE rank <= 5
"""


def q_label_centroid_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid (element-wise mean over array column) — the
    grouped vector aggregation used for node evidence embeddings (J2)."""
    e = _t(spark, sf_dir, "embeddings")
    # element-wise sum via explode with position, then mean — pure JVM
    ex = e.select("label", F.posexplode("embedding").alias("pos", "x"))
    return (
        ex.groupBy("label", "pos")
        .agg(F.avg(F.col("x").cast("double")).alias("m"))
        .groupBy("label")
        .agg(
            F.round(F.sqrt(F.sum(F.col("m") * F.col("m"))), 4).alias("centroid_norm"),
            F.count("*").alias("dim"),
        )
    )


ORACLE_CENTROID = """
SELECT label,
       round(sqrt(sum(m * m)), 4) AS centroid_norm,
       count(*) AS dim
FROM (
  SELECT label, pos, avg(CAST(x AS DOUBLE)) AS m
  FROM (SELECT label, unnest(embedding) AS x,
               generate_subscripts(embedding, 1) AS pos
        FROM embeddings)
  GROUP BY label, pos
)
GROUP BY label
"""


def q_emb_near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs (dedup family, brute variant — the LSH
    scale path is operators/ann.lsh_topk, self-checked in tests)."""
    from hinbox_spark.operators.dedup import embedding_cosine_near_duplicates

    emb = _t(spark, sf_dir, "embeddings")
    return embedding_cosine_near_duplicates(emb, threshold=0.45)


ORACLE_EMB_NEAR_DUP = """
SELECT vec_a, vec_b, round(cos, 6) AS cos_sim
FROM (
  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
         list_cosine_similarity(list_transform(a.embedding, x -> CAST(x AS DOUBLE)),
                                list_transform(b.embedding, x -> CAST(x AS DOUBLE))) AS cos
  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
)
WHERE cos >= 0.45
"""


def q_doc_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite quality score (length/stopword/punct heuristic) per lang."""
    from hinbox_spark.functions.textstats import quality_score

    d = _t(spark, sf_dir, "documents")
    return (
        d.withColumn("q", quality_score("text"))
        .groupBy("lang")
        .agg(
            F.round(F.avg("q"), 4).alias("avg_quality"),
            F.count(F.when(F.col("q") >= 0.5, 1)).alias("n_good"),
        )
    )


ORACLE_DOC_QUALITY = """
WITH scored AS (
  SELECT lang,
         round(
           least(length(text) / 500.0, 1.0) * 0.4
           + least((len(list_filter(string_split(text, ' '),
                     x -> x IN ('the','and','of','to','in','a','is','that')))
                    / CAST(greatest(len(string_split(text, ' ')), 1) AS DOUBLE)) * 4,
                   1.0) * 0.4
           + greatest(0.0, 1.0 - (length(regexp_replace(text, '[^[:punct:]]', '', 'g'))
                    / CAST(greatest(length(text), 1) AS DOUBLE)) * 5) * 0.2,
         4) AS q
  FROM documents
)
SELECT lang, round(avg(q), 4) AS avg_quality,
       CAST(count(*) FILTER (WHERE q >= 0.5) AS BIGINT) AS n_good
FROM scored GROUP BY lang
"""


def q_doc_wordpiece(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish sub-word unit counting per lang (JVM regex ops)."""
    from hinbox_spark.functions.textstats import wordpiece_count

    d = _t(spark, sf_dir, "documents")
    return (
        d.groupBy("lang")
        .agg(F.sum(wordpiece_count("text")).alias("total_wordpieces"))
    )


ORACLE_DOC_WORDPIECE = """
SELECT lang,
       CAST(sum(
         len(string_split(text, ' '))
         + CAST(floor(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) / 4.0) AS BIGINT)
         + length(regexp_replace(text, '[A-Za-z\\s]', '', 'g'))
       ) AS BIGINT) AS total_wordpieces
FROM documents
GROUP BY lang
"""


def q_doc_langid_votes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-family-voting language ID vs the labeled lang column."""
    from hinbox_spark.functions.textstats import lang_id

    d = _t(spark, sf_dir, "documents")
    return (
        d.withColumn("pred", lang_id("text"))
        .groupBy(F.col("lang").alias("label_lang"), "pred")
        .agg(F.count("*").alias("n_docs"))
    )


ORACLE_DOC_LANGID_VOTES = """
WITH votes AS (
  SELECT lang,
    len(list_filter(string_split(lower(text), ' '),
        x -> x IN ('the','and','of','to','in','a','is','that'))) AS v_en,
    len(list_filter(string_split(lower(text), ' '),
        x -> x IN ('el','la','de','que','y','en','un','es'))) AS v_es,
    len(list_filter(string_split(lower(text), ' '),
        x -> x IN ('le','la','de','et','les','des','en','un'))) AS v_fr,
    len(list_filter(string_split(lower(text), ' '),
        x -> x IN ('der','die','und','das','von','zu','mit','ist'))) AS v_de
  FROM documents
), labeled AS (
  SELECT lang,
    CASE WHEN v_en = greatest(v_en, v_es, v_fr, v_de) AND greatest(v_en, v_es, v_fr, v_de) > 0 THEN 'en'
         WHEN v_es = greatest(v_en, v_es, v_fr, v_de) AND greatest(v_en, v_es, v_fr, v_de) > 0 THEN 'es'
         WHEN v_fr = greatest(v_en, v_es, v_fr, v_de) AND greatest(v_en, v_es, v_fr, v_de) > 0 THEN 'fr'
         WHEN v_de = greatest(v_en, v_es, v_fr, v_de) AND greatest(v_en, v_es, v_fr, v_de) > 0 THEN 'de'
         ELSE 'und' END AS pred
  FROM votes
)
SELECT lang AS label_lang, pred, count(*) AS n_docs
FROM labeled GROUP BY 1, 2
"""


def q_rollup_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP aggregation (region → nation → grand total)."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    joined = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
    )
    return (
        joined.rollup("r_name", "n_name")
        .agg(F.round(F.sum("l_extendedprice"), 2).alias("revenue"))
        .select(
            F.coalesce("r_name", F.lit("ALL")).alias("region"),
            F.coalesce("n_name", F.lit("ALL")).alias("nation"),
            "revenue",
        )
    )


ORACLE_ROLLUP = """
SELECT coalesce(r_name, 'ALL') AS region,
       coalesce(n_name, 'ALL') AS nation,
       round(sum(l_extendedprice), 2) AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
GROUP BY ROLLUP (r_name, n_name)
"""


def q_events_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization: 30-min inactivity gap splits a user's sessions
    (lag window + cumulative sum — the classic stateful-window shape)."""
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
    return (
        e.withColumn(
            "new_session",
            F.when(gap.isNull() | (gap > 1800), 1).otherwise(0),
        )
        .groupBy("user_id")
        .agg(
            F.sum("new_session").alias("n_sessions"),
            F.count("*").alias("n_events"),
        )
    )


ORACLE_EVENTS_SESSIONS = """
SELECT user_id,
       CAST(sum(new_session) AS BIGINT) AS n_sessions,
       count(*) AS n_events
FROM (
  SELECT user_id,
         CASE WHEN prev_ts IS NULL
              OR (epoch(ts) - epoch(prev_ts)) > 1800 THEN 1 ELSE 0 END AS new_session
  FROM (
    SELECT user_id, ts,
           lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
    FROM events
  )
)
GROUP BY user_id
"""


def q_orders_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot: order totals by priority × status."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(F.round(F.sum("o_totalprice"), 2))
        .withColumnRenamed("F", "total_f")
        .withColumnRenamed("O", "total_o")
        .withColumnRenamed("P", "total_p")
    )


ORACLE_ORDERS_PIVOT = """
SELECT o_orderpriority,
       round(sum(o_totalprice) FILTER (WHERE o_orderstatus = 'F'), 2) AS total_f,
       round(sum(o_totalprice) FILTER (WHERE o_orderstatus = 'O'), 2) AS total_o,
       round(sum(o_totalprice) FILTER (WHERE o_orderstatus = 'P'), 2) AS total_p
FROM orders
GROUP BY o_orderpriority
"""


def q_events_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles per event type."""
    e = _t(spark, sf_dir, "events")
    return e.groupBy("event_type").agg(
        F.round(F.expr("percentile(value, 0.25)"), 4).alias("p25"),
        F.round(F.expr("percentile(value, 0.5)"), 4).alias("p50"),
        F.round(F.expr("percentile(value, 0.9)"), 4).alias("p90"),
    )


ORACLE_EVENTS_PERCENTILES = """
SELECT event_type,
       round(quantile_cont(value, 0.25), 4) AS p25,
       round(quantile_cont(value, 0.5), 4) AS p50,
       round(quantile_cont(value, 0.9), 4) AS p90
FROM events
GROUP BY event_type
"""


def q_events_percentiles_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-path quantiles beside the exact `events_percentiles` oracle
    baseline — `approx_percentile` (Greenwald-Khanna with relative-error
    accuracy 10000), the quantile sibling of the HLL 2-hop path: the
    sketch is MERGEABLE, so partial aggregates combine map-side and the
    shuffle carries one bounded-size summary per (partition, type)
    instead of the value multiset — at 10¹² events the exact
    `percentile()` must materialize/sort each group's values while this
    plan's state is O(accuracy) per group. Deterministic for a fixed
    input+accuracy (GK is rank-based, not sampled). Rows-only driver
    check; error vs the exact percentiles is pinned ≤1% of each type's
    value range in tests/test_plans.py."""
    e = _t(spark, sf_dir, "events")
    return e.groupBy("event_type").agg(
        F.round(F.expr("approx_percentile(value, 0.25, 10000)"), 4).alias("p25"),
        F.round(F.expr("approx_percentile(value, 0.5, 10000)"), 4).alias("p50"),
        F.round(F.expr("approx_percentile(value, 0.9, 10000)"), 4).alias("p90"),
    )


def q_nation_customer_supplier_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set operations: nations with both customers and suppliers
    (INTERSECT) vs customer-only nations (EXCEPT)."""
    c = _t(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nk"))
    s = _t(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nk"))
    n = _t(spark, sf_dir, "nation")
    both = c.intersect(s).withColumn("scope", F.lit("both"))
    cust_only = c.distinct().exceptAll(s.distinct()).withColumn(
        "scope", F.lit("customer_only")
    )
    return (
        both.unionByName(cust_only)
        .join(F.broadcast(n), F.col("nk") == n.n_nationkey)
        .select("scope", F.col("n_name").alias("nation"))
    )


ORACLE_NATION_SETS = """
WITH both_nk AS (
  SELECT c_nationkey AS nk FROM customer
  INTERSECT
  SELECT s_nationkey FROM supplier
), cust_only AS (
  SELECT DISTINCT c_nationkey AS nk FROM customer
  EXCEPT
  SELECT DISTINCT s_nationkey FROM supplier
)
SELECT 'both' AS scope, n_name AS nation FROM both_nk JOIN nation ON nk = n_nationkey
UNION ALL
SELECT 'customer_only', n_name FROM cust_only JOIN nation ON nk = n_nationkey
"""


def q_events_hourly_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour event-time windows (the streaming window primitive,
    applied in batch)."""
    e = _t(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"),
             F.round(F.sum("value"), 2).alias("total_value"))
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


ORACLE_EVENTS_HOURLY = """
SELECT strftime(time_bucket(INTERVAL 1 HOUR, ts), '%Y-%m-%d %H:%M') AS window_start,
       event_type,
       count(*) AS n_events,
       round(sum(value), 2) AS total_value
FROM events
GROUP BY 1, 2
"""


def q_part_display_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SC13: hash-disambiguated display keys (reference
    src/frontend/data_access.py:113-176 — "Name (md5(name##type)[:6])"),
    exercised over the part table so the md5/substring/concat chain is
    oracle-checked. Serving-layer analog: operators/serving.with_display_keys."""
    p = _t(spark, sf_dir, "part")
    h = F.substring(
        F.md5(F.concat(F.col("p_name"), F.lit("##"), F.col("p_type"))), 1, 6
    )
    return (
        p.filter(F.col("p_partkey") <= 50)
        .select(
            "p_partkey",
            F.concat(F.col("p_name"), F.lit(" ("), h, F.lit(")")).alias(
                "display_key"
            ),
        )
    )


ORACLE_DISPLAY_KEYS = """
SELECT p_partkey,
       p_name || ' (' || substr(md5(p_name || '##' || p_type), 1, 6) || ')'
           AS display_key
FROM part
WHERE p_partkey <= 50
"""


def q_doc_word_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition quality rule: top-word frequency / word
    count per document (high ratio = degenerate/boilerplate text). Pure
    JVM explode + two-level aggregation — the repetition signal every
    web-corpus filter stack carries (e.g. Gopher/C4 rules)."""
    d = _t(spark, sf_dir, "documents")
    words = d.select(
        "doc_id", F.explode(F.split(F.lower(F.col("text")), " ")).alias("w")
    ).filter(F.col("w") != "")
    counts = words.groupBy("doc_id", "w").agg(F.count("*").alias("c"))
    return counts.groupBy("doc_id").agg(
        F.round(
            F.max("c").cast("double") / F.sum("c").cast("double"), 6
        ).alias("top_word_ratio"),
        F.sum("c").cast("long").alias("n_words"),
    )


ORACLE_DOC_WORD_REPETITION = """
SELECT doc_id,
       round(CAST(max(c) AS DOUBLE) / CAST(sum(c) AS DOUBLE), 6) AS top_word_ratio,
       CAST(sum(c) AS BIGINT) AS n_words
FROM (
  SELECT doc_id, w, count(*) AS c
  FROM (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w
        FROM documents)
  WHERE w <> ''
  GROUP BY doc_id, w
)
GROUP BY doc_id
"""


def q_doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-data chunking fan-out (operators/chunking.py): 120-word
    chunks every 100 words, keeping the partial tail. Zero UDFs, zero
    shuffles — split/sequence/explode/slice inside codegen."""
    from hinbox_spark.operators.chunking import chunk_documents

    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 50)
    return chunk_documents(d, chunk_words=120, stride_words=100)


ORACLE_DOC_CHUNKS = """
SELECT doc_id, chunk_start,
       array_to_string(list_slice(w, chunk_start + 1, chunk_start + 120), ' ')
           AS chunk_text,
       CAST(least(120, n - chunk_start) AS INT) AS n_chunk_words
FROM (
  SELECT doc_id, w, len(w) AS n,
         unnest(range(0, len(w), 100)) AS chunk_start
  FROM (
    SELECT doc_id,
           list_filter(string_split(text, ' '), x -> x <> '') AS w
    FROM documents WHERE doc_id < 50
  )
  WHERE len(w) > 0
)
"""


def q_doc_pair_word_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact word-set Jaccard over document pairs (the dedup family's
    verify primitive as a standalone oracle-checked operator). All-pairs on
    a 20-doc slice — the oracle baseline; the banded scale path is
    doc_minhash_near_dups."""
    d = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 20)
        .select(
            "doc_id",
            F.array_distinct(F.split(F.lower(F.col("text")), " ")).alias("w"),
        )
    )
    a = d.select(F.col("doc_id").alias("doc_a"), F.col("w").alias("wa"))
    b = d.select(F.col("doc_id").alias("doc_b"), F.col("w").alias("wb"))
    inter = F.size(F.array_intersect("wa", "wb"))
    union = F.size(F.array_union("wa", "wb"))
    return (
        a.crossJoin(b)
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select(
            "doc_a",
            "doc_b",
            F.round(inter.cast("double") / union, 6).alias("jaccard"),
        )
        .filter(F.col("jaccard") > 0.1)
    )


ORACLE_DOC_PAIR_JACCARD = """
SELECT doc_a, doc_b, jaccard
FROM (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         round(CAST(len(list_intersect(a.w, b.w)) AS DOUBLE)
               / len(list_distinct(a.w || b.w)), 6) AS jaccard
  FROM (SELECT doc_id, list_distinct(string_split(lower(text), ' ')) AS w
        FROM documents WHERE doc_id < 20) a
  JOIN (SELECT doc_id, list_distinct(string_split(lower(text), ' ')) AS w
        FROM documents WHERE doc_id < 20) b
    ON a.doc_id < b.doc_id
)
WHERE jaccard > 0.1
"""


def q_doc_minhash_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-duplicate detection over documents (non-SQL-
    expressible: banding + signature hashing; driver records rows-only)."""
    from hinbox_spark.operators.dedup import minhash_near_duplicates

    d = _t(spark, sf_dir, "documents")
    return minhash_near_duplicates(d, jaccard_threshold=0.5)


def q_ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed approximate top-5 neighbors (non-SQL-expressible: the
    scale path of knn_top5). Recall is data-dependent: ≥0.8 on clustered
    embeddings (tests/test_ann.py); on the uniform-random testdata vectors
    near-neighbor structure barely exists, so only the row/schema contract
    is checked here."""
    from hinbox_spark.operators.ann import lsh_topk

    e = _t(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    # 8 planes → 256 buckets for ~2000 vectors (≈8/bucket) + multiprobe:
    # enough candidates for k=5 at high recall
    return lsh_topk(e, q, k=5, n_planes=8, dim=64, multiprobe_bits=6)


def q_ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF cell-probe ANN top-5 (non-SQL-expressible: k-means quantizer +
    probe; rows-only driver check; recall ≥0.8 vs brute force pinned in
    tests/test_ann.py)."""
    from hinbox_spark.operators.ann import ivf_topk

    e = _t(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    return ivf_topk(e, q, k=5, n_centroids=32, n_probe=8, iters=2)


def q_ann_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN top-5 — the memory-lever scale path: the
    corpus scan reads m-byte PQ codes via per-query ADC lookup tables
    (per-batch partial tournaments, shuffle carries only candidate ids),
    exact cosine re-rank on survivors. Non-SQL-expressible (learned
    codebooks + ADC); rows-only driver check; recall ≥0.8 vs brute force
    and codebook determinism pinned in tests/test_ann.py."""
    from hinbox_spark.operators.ann import pq_topk

    e = _t(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    return pq_topk(e, q, k=5, m=8, ksub=32, iters=2, refine=16)


def q_ann_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ (FAISS IVFADC) ANN top-5 — the composed scale path: coarse
    cells restrict each query's scan to n_probe/n_centroids of the corpus
    AND residual PQ codes make that scan read m bytes per vector, scored
    purely from lookup tables. Non-SQL-expressible (two learned
    quantizers + ADC); rows-only driver check; recall ≥0.8 vs brute force
    pinned in tests/test_ann.py."""
    from hinbox_spark.operators.ann import ivfpq_topk

    e = _t(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    return ivfpq_topk(
        e, q, k=5, n_centroids=32, n_probe=8, m=8, ksub=32, iters=2,
        refine=16,
    )


def q_emb_near_dup_pairs_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed embedding near-dup threshold pairs — the scale path of
    emb_near_dup_pairs (which stays the brute-force oracle). Non-SQL-
    expressible (multi-table hyperplane banding); rows-only driver check;
    recall ≥0.8 vs the brute path is pinned in tests/test_ann.py.

    Parameters sized for the 0.45 threshold: 4 planes × 12 tables →
    per-table collision p ≈ 0.65⁴ ≈ 0.18, recall ≈ 1−(1−0.18)¹² ≈ 0.91."""
    from hinbox_spark.operators.ann import lsh_bucketed_neighbors

    e = _t(spark, sf_dir, "embeddings")
    return lsh_bucketed_neighbors(
        e, threshold=0.45, n_planes=4, n_tables=12, dim=64
    )


# ── registry ──



# ── relational coverage: EXISTS semi-join + conditional aggregation ──


def q_orders_with_late_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape — EXISTS correlated semi-join: count orders per
    priority having at least one lineitem shipped >60 days after the order
    date. left_semi keeps the probe side un-duplicated (no distinct needed)
    and shuffles only the two key columns + predicate columns; at scale the
    semi-join is the right primitive (an inner join + dropDuplicates would
    amplify rows by lineitem fan-out before deduping)."""
    o = _t(spark, sf_dir, "orders")
    l = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    late = o.join(
        l,
        (o.o_orderkey == l.l_orderkey)
        & (l.l_shipdate > F.date_add(o.o_orderdate, 60)),
        "left_semi",
    )
    return (
        late.groupBy(F.col("o_orderpriority").alias("priority"))
        .agg(F.count("*").alias("n_orders"))
    )


ORACLE_LATE_ORDERS = """
SELECT o_orderpriority AS priority, count(*) AS n_orders
FROM orders
WHERE EXISTS (
  SELECT 1 FROM lineitem
  WHERE l_orderkey = o_orderkey
    AND l_shipdate > o_orderdate + INTERVAL 60 DAY
)
GROUP BY 1
"""


def q_promo_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape — conditional aggregation over a broadcast join:
    monthly share of revenue from PROMO parts. part is the small dim
    (broadcast, no shuffle of lineitem); the case-sum/sum ratio is one
    map-side-combinable aggregate."""
    l = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").select("p_partkey", "p_type")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .groupBy(F.date_format("l_shipdate", "yyyy-MM").alias("month"))
        .agg(
            F.round(
                F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(0.0))
                / F.sum(rev) * 100,
                4,
            ).alias("promo_share_pct"),
            F.round(F.sum(rev), 2).alias("total_revenue"),
        )
    )


ORACLE_PROMO_SHARE = """
SELECT strftime(l_shipdate, '%Y-%m') AS month,
       round(100 * sum(CASE WHEN p_type = 'PROMO'
                            THEN l_extendedprice * (1 - l_discount)
                            ELSE 0 END)
             / sum(l_extendedprice * (1 - l_discount)), 4) AS promo_share_pct,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS total_revenue
FROM lineitem JOIN part ON l_partkey = p_partkey
GROUP BY 1
"""


def q_click_asof_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (operator Spark lacks — operators/asof.py): every click
    event matched to the same user's latest purchase at or before it.
    Spark side: union-tag + carry-forward window (ONE shuffle on user_id,
    no range cross-join); oracle side: DuckDB's native ASOF JOIN — two
    independent engines, two different algorithms, same rows."""
    from hinbox_spark.operators.asof import asof_join

    ev = _t(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("ts").alias("p_ts"),
        F.col("event_id").alias("purchase_event_id"),
        F.col("value").alias("purchase_value"),
    )
    out = asof_join(
        clicks, purchases,
        on=["user_id"], left_ts="ts", right_ts="p_ts",
        payload_cols=["purchase_event_id", "purchase_value"],
        tiebreak="purchase_event_id",
    )
    # coalesce the no-prior-purchase nulls so both engines agree on dtypes
    return out.select(
        "event_id",
        "user_id",
        F.coalesce("purchase_event_id", F.lit(-1)).alias("purchase_event_id"),
        F.round(F.coalesce("purchase_value", F.lit(0.0)), 2).alias(
            "purchase_value"
        ),
    )


ORACLE_CLICK_ASOF = """
SELECT c.event_id AS event_id,
       c.user_id AS user_id,
       coalesce(p.event_id, -1) AS purchase_event_id,
       round(coalesce(p.value, 0.0), 2) AS purchase_value
FROM (SELECT * FROM events WHERE event_type = 'click') c
ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
  ON c.user_id = p.user_id AND c.ts >= p.ts
"""


def q_nation_trade_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape — cross-nation trade volume: revenue between
    (supplier nation, customer nation) pairs per year. Both nation lookups
    and both dimension joins broadcast (supplier/customer are small dims);
    the only shuffle is lineitem⋈orders on the orderkey plus the final
    map-side-combinable aggregate."""
    l = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate"
    )
    n = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    supp_n = (
        _t(spark, sf_dir, "supplier")
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    cust_n = (
        _t(spark, sf_dir, "customer")
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .select("c_custkey", F.col("n_name").alias("cust_nation"))
    )
    # the measure is summed as integer CENTS (per-item round, then an
    # exactly-associative integer sum) — a float sum's result depends on
    # partition order, so two engines disagree in the last cent and a
    # value-hash compare would flap
    rev_cents = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
    ).cast("long")
    return (
        l.join(F.broadcast(supp_n), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(cust_n), F.col("o_custkey") == F.col("c_custkey"))
        .filter(F.col("supp_nation") != F.col("cust_nation"))
        .groupBy(
            "supp_nation", "cust_nation",
            F.year("o_orderdate").alias("year"),
        )
        .agg(
            (F.sum(rev_cents) / 100.0).alias("volume"),
            F.count("*").alias("n_lines"),
        )
    )


ORACLE_NATION_TRADE = """
SELECT sn.n_name AS supp_nation,
       cn.n_name AS cust_nation,
       year(o_orderdate) AS year,
       sum(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT))
         / 100.0 AS volume,
       count(*) AS n_lines
FROM lineitem
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation sn ON s_nationkey = sn.n_nationkey
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation cn ON c_nationkey = cn.n_nationkey
WHERE sn.n_name <> cn.n_name
GROUP BY 1, 2, 3
"""


def q_top_value_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape — per-group value vs a global scalar threshold:
    parts whose revenue exceeds 1.5× the average per-part revenue. The
    scalar is a one-row aggregate over the per-part rows, broadcast into
    the filter (no second pass over lineitem, no driver collect)."""
    l = _t(spark, sf_dir, "lineitem")
    # integer-cents sum: exactly associative, engine-order-independent
    rev_cents = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
    ).cast("long")
    per_part = l.groupBy("l_partkey").agg(
        F.sum(rev_cents).alias("part_cents")
    )
    total = per_part.agg(F.avg("part_cents").alias("avg_cents"))
    return (
        per_part.crossJoin(F.broadcast(total))
        .filter(F.col("part_cents") > 1.5 * F.col("avg_cents"))
        .select(
            "l_partkey", (F.col("part_cents") / 100.0).alias("part_value")
        )
    )


ORACLE_TOP_VALUE_PARTS = """
WITH per_part AS (
  SELECT l_partkey,
         sum(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT))
           AS part_cents
  FROM lineitem GROUP BY 1
)
SELECT l_partkey, part_cents / 100.0 AS part_value
FROM per_part
WHERE part_cents > 1.5 * (SELECT avg(part_cents) FROM per_part)
"""


def q_brand_supplier_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape — distinct-supplier counts per part attribute with a
    NOT-IN exclusion: suppliers in deficit (negative acctbal) are removed
    via a broadcast anti-join BEFORE the count-distinct, so the exclusion
    never shuffles the big side."""
    l = _t(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    p = _t(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_size")
    bad = (
        _t(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") < 0)
        .select("s_suppkey")
    )
    return (
        l.join(F.broadcast(bad), l.l_suppkey == bad.s_suppkey, "left_anti")
        .join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_brand", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


ORACLE_BRAND_SUPPLIER_COUNTS = """
SELECT p_brand, p_size, count(DISTINCT l_suppkey) AS supplier_cnt
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY 1, 2
"""


def q_click_purchase_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range (interval) join — operator Spark lacks (`operators/rangejoin.py`):
    purchases by the same user strictly-after a click and within one hour,
    aggregated per click. Spark side: bucketized equi-join on
    (user_id, time-bucket) + exact filter — no BroadcastNestedLoopJoin
    (plan pinned in tests/test_rangejoin.py); oracle side: DuckDB's native
    inequality join. Two engines, two algorithms, same rows."""
    from hinbox_spark.operators.rangejoin import range_join

    ev = _t(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("ts").alias("p_ts"),
        F.col("value").alias("p_value"),
    )
    joined = range_join(
        clicks, purchases, on=["user_id"], left_ts="ts", right_ts="p_ts",
        lower_s=1, upper_s=3600,
    )
    return joined.groupBy("event_id", "user_id").agg(
        F.count("*").alias("n_purchases_1h"),
        F.round(F.sum("p_value"), 2).alias("purchase_value_1h"),
    )


ORACLE_CLICK_PURCHASE_WINDOW = """
SELECT c.event_id AS event_id,
       c.user_id AS user_id,
       count(*) AS n_purchases_1h,
       round(sum(p.value), 2) AS purchase_value_1h
FROM (SELECT * FROM events WHERE event_type = 'click') c
JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
  ON c.user_id = p.user_id
 AND p.ts >= c.ts + INTERVAL 1 SECOND
 AND p.ts <= c.ts + INTERVAL 3600 SECOND
GROUP BY 1, 2
"""


def q_doc_holdout_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/validation holdout split — the standard
    training-data-pipeline op for carving an eval set out of a corpus
    WITHOUT an RNG: split = f(md5(doc_id)), so every run, every engine,
    and every retry assigns each document identically, and the split
    survives corpus growth (new docs don't reshuffle old assignments —
    unlike `ORDER BY rand() LIMIT n`). The hex-prefix comparison
    ('0x1a'/'0x100' ≈ 10.2%) is a pure string compare, identical across
    engines and collation-free. Scale: stateless per-row map, no
    shuffle until the final small aggregate — safe at 10¹² docs."""
    d = _t(spark, sf_dir, "documents")
    split = F.when(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2) < "1a",
        F.lit("val"),
    ).otherwise("train")
    toks = F.size(F.split(F.col("text"), " "))
    return (
        d.select("lang", split.alias("split"), toks.alias("n_toks"))
        .groupBy("lang", "split")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_toks").alias("total_tokens"),
        )
    )


ORACLE_DOC_HOLDOUT_SPLIT = """
SELECT lang,
       CASE WHEN substr(md5(doc_id::VARCHAR), 1, 2) < '1a'
            THEN 'val' ELSE 'train' END AS split,
       count(*) AS n_docs,
       sum(len(string_split(text, ' ')))::BIGINT AS total_tokens
FROM documents
GROUP BY 1, 2
"""


def q_doc_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language quota sampling (k docs per stratum) — the
    training-data op for building a balanced eval/inspection slice from a
    wildly imbalanced corpus. Deterministic pseudo-random order within a
    stratum: sort by (md5(doc_id), doc_id) — uniform, engine-agnostic,
    and stable across runs. The Spark side routes through
    `skew.bounded_topk` (two bounded tournament rounds) instead of a
    naive per-stratum window sort, so a stratum with 10¹¹ docs never
    funnels into one sort task; the oracle uses the plain window — two
    different algorithms, identical rows."""
    from hinbox_spark.functions.skew import bounded_topk

    d = _t(spark, sf_dir, "documents")
    ranked = d.select(
        "doc_id",
        "lang",
        F.md5(F.col("doc_id").cast("string")).alias("h"),
    )
    top = bounded_topk(
        ranked,
        keys=["lang"],
        order_by=[F.col("h"), F.col("doc_id")],
        k=20,
        salt_expr=F.xxhash64("doc_id"),
    )
    w = Window.partitionBy("lang").orderBy("h", "doc_id")
    return top.withColumn("sample_rank", F.row_number().over(w)).select(
        "lang", "doc_id", "sample_rank"
    )


ORACLE_DOC_STRATIFIED_SAMPLE = """
SELECT lang, doc_id, sample_rank
FROM (
  SELECT lang, doc_id,
         row_number() OVER (
           PARTITION BY lang
           ORDER BY md5(doc_id::VARCHAR), doc_id
         ) AS sample_rank
  FROM documents
)
WHERE sample_rank <= 20
"""


def q_doc_simhash_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-duplicates (rows-only driver check — the 64-bit
    signature is a numpy UDF, not SQL-expressible; hamming/pigeonhole
    semantics pinned in tests/test_dedup.py)."""
    from hinbox_spark.operators.dedup import simhash_near_duplicates

    docs = _t(spark, sf_dir, "documents")
    return simhash_near_duplicates(docs, max_hamming=6).orderBy(
        "doc_a", "doc_b"
    )




def q_top_revenue_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape — aggregate + global-max semi-join: supplier(s)
    whose lineitem revenue equals the maximum supplier revenue. The
    per-supplier aggregate is map-side combinable; the scalar max is a
    one-row broadcast (a cross-join filter on one value), so no second
    shuffle of the big side."""
    l = _t(spark, sf_dir, "lineitem")
    sup = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    rev = (
        l.groupBy("l_suppkey")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2)
             .alias("total_revenue"))
    )
    mx = rev.agg(F.max("total_revenue").alias("mx"))
    return (
        rev.join(F.broadcast(mx), rev.total_revenue == mx.mx)
        .join(F.broadcast(sup), rev.l_suppkey == sup.s_suppkey)
        .select(
            F.col("s_suppkey").alias("suppkey"),
            F.col("s_name").alias("name"),
            "total_revenue",
        )
    )


ORACLE_TOP_REV_SUPPLIER = """
WITH rev AS (
  SELECT l_suppkey, round(sum(l_extendedprice * (1 - l_discount)), 2) AS total_revenue
  FROM lineitem GROUP BY 1
)
SELECT s_suppkey AS suppkey, s_name AS name, total_revenue
FROM rev JOIN supplier ON l_suppkey = s_suppkey
WHERE total_revenue = (SELECT max(total_revenue) FROM rev)
"""


def q_large_order_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape — HAVING-filtered IN-subquery: customers with an
    order whose total quantity exceeds 250. The heavy aggregate runs on
    lineitem alone (map-side combinable); the tiny surviving key set is
    broadcast into orders, then customer — the big tables never shuffle."""
    l = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_name")
    big = (
        l.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("total_qty"))
        .filter(F.col("total_qty") > 250)
    )
    return (
        o.join(F.broadcast(big), o.o_orderkey == big.l_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .select(
            F.col("c_custkey").alias("custkey"),
            F.col("c_name").alias("name"),
            F.col("o_orderkey").alias("orderkey"),
            F.col("o_orderdate").alias("orderdate"),
            F.round("total_qty", 2).alias("total_qty"),
        )
    )


ORACLE_LARGE_ORDERS = """
SELECT c_custkey AS custkey, c_name AS name, o_orderkey AS orderkey,
       o_orderdate AS orderdate, round(total_qty, 2) AS total_qty
FROM orders
JOIN (SELECT l_orderkey, sum(l_quantity) AS total_qty
      FROM lineitem GROUP BY 1 HAVING sum(l_quantity) > 250) big
  ON o_orderkey = big.l_orderkey
JOIN customer ON o_custkey = c_custkey
"""


def q_idle_rich_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape — scalar-average subquery + NOT EXISTS anti-join:
    above-average-balance customers with no RECENT order (none since
    2001-01-01). The average is a one-row broadcast; the anti-join is the
    same primitive the pipeline's resume gate uses; the date predicate
    pushes into the orders scan before the anti-join."""
    c = _t(spark, sf_dir, "customer")
    o = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") >= F.lit("2001-01-01").cast("timestamp"))
        .select("o_custkey")
    )
    avg_bal = c.filter(F.col("c_acctbal") > 0).agg(
        F.avg("c_acctbal").alias("avg_bal")
    )
    return (
        c.join(F.broadcast(avg_bal), F.col("c_acctbal") > F.col("avg_bal"))
        .join(o, c.c_custkey == o.o_custkey, "left_anti")
        .groupBy(F.col("c_mktsegment").alias("segment"))
        .agg(
            F.count("*").alias("n_customers"),
            F.round(F.sum("c_acctbal"), 2).alias("total_balance"),
        )
    )


ORACLE_IDLE_RICH = """
SELECT c_mktsegment AS segment, count(*) AS n_customers,
       round(sum(c_acctbal), 2) AS total_balance
FROM customer
WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer WHERE c_acctbal > 0)
  AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
                  AND o_orderdate >= TIMESTAMP '2001-01-01')
GROUP BY 1
"""




# ── graph queries over the customer—supplier bipartite purchase graph
#    (downstream consumers of a KG run exactly these shapes on the edges
#    table; here they run on testdata so DuckDB can oracle them) ──


def _purchase_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct (custkey, suppkey) edges via orders ⨝ lineitem — the
    bipartite purchase graph. groupBy-distinct is map-side combinable."""
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    l = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    return (
        o.join(l, o.o_orderkey == l.l_orderkey)
        .select(F.col("o_custkey").alias("custkey"),
                F.col("l_suppkey").alias("suppkey"))
        .distinct()
    )


def _purchase_bigraph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bidirected, namespace-prefixed ('c:'/'s:') purchase graph as
    (src, dst) — the ONE edge definition shared by the traversal /
    centrality / fingerprint queries so a future change (e.g. an order-
    status filter) lands everywhere at once instead of silently diverging
    per query."""
    e = _purchase_edges(spark, sf_dir)
    fwd = e.select(
        F.concat(F.lit("c:"), F.col("custkey")).alias("src"),
        F.concat(F.lit("s:"), F.col("suppkey")).alias("dst"),
    )
    return fwd.unionByName(
        fwd.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )


def _power_iterate(
    nodes: DataFrame,
    out_edges: DataFrame,
    ranks: DataFrame,
    restart,
    d: float = 0.85,
    iters: int = 8,
    n_nodes: int | None = None,
) -> DataFrame:
    """The shared PageRank power loop (global and personalized variants
    differ ONLY in the initial rank vector and the `restart` column
    expression — one body keeps damping / iteration / checkpoint
    discipline in sync). nodes(node_id, ...), out_edges(src, dst, deg),
    ranks(node_id, rank). Per iteration: ONE shuffle (edges ⋈ ranks on
    src, contributions groupBy dst, map-side combinable); LAZY
    localCheckpoints keep the plan O(1) in rounds (A/B'd in
    q_copurchase_pagerank's docstring). With `n_nodes` under the state
    cap the rank/contrib frames ride broadcasts (graph._bc_if), so the
    edge list is read in place every round and the only exchange is the
    map-side-combined contribution partials — the checkpointed-RDD
    inputs otherwise defeat size estimation and every round planned a
    SortMergeJoin exchanging the edges (r6 plan audit)."""
    from hinbox_spark.operators.graph import _bc_if

    for _ in range(iters):
        contrib = (
            out_edges.join(
                _bc_if(ranks, n_nodes), out_edges.src == ranks.node_id
            )
            .select("dst", (F.col("rank") / F.col("deg")).alias("c"))
            .groupBy("dst")
            .agg(F.sum("c").alias("contrib"))
        )
        ranks = (
            nodes.join(
                _bc_if(contrib, n_nodes), nodes.node_id == contrib.dst, "left"
            )
            .select(
                "node_id",
                (restart + d * F.coalesce("contrib", F.lit(0.0))).alias(
                    "rank"
                ),
            )
            .localCheckpoint(eager=False)
        )
    return ranks


def q_purchase_graph_degrees(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree distribution of the supplier side: for each supplier-degree
    d, how many customers bought from exactly d suppliers."""
    deg = _purchase_edges(spark, sf_dir).groupBy("custkey").agg(
        F.count("*").alias("degree")
    )
    return deg.groupBy("degree").agg(F.count("*").alias("n_customers"))


ORACLE_GRAPH_DEGREES = """
WITH e AS (
  SELECT DISTINCT o_custkey AS custkey, l_suppkey AS suppkey
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
), deg AS (
  SELECT custkey, count(*) AS degree FROM e GROUP BY 1
)
SELECT degree, count(*) AS n_customers FROM deg GROUP BY 1
"""


def q_customers_sharing_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-hop neighborhood size: for each customer, how many OTHER
    customers share at least one supplier. Top 10 by reach, deterministic
    tie-break.

    EXACT baseline, oracle-scoped: the self-join is inherently Σ(degree²)
    — ~24M int-pairs at sf0.01, fine for the DuckDB comparison, quadratic
    at web scale. The scale path is `copurchase_reach_hll` (HLL sketches:
    one sketch per supplier, merged per customer — linear in edges)."""
    e = _purchase_edges(spark, sf_dir)
    a, b = e.alias("a"), e.alias("b")
    reach = (
        a.join(b, (F.col("a.suppkey") == F.col("b.suppkey"))
               & (F.col("a.custkey") != F.col("b.custkey")))
        .groupBy(F.col("a.custkey").alias("custkey"))
        .agg(F.count_distinct(F.col("b.custkey")).alias("n_neighbors"))
        .orderBy(F.desc("n_neighbors"), F.asc("custkey"))
        .limit(10)
    )
    return reach


ORACLE_SHARED_SUPPLIERS = """
WITH e AS (
  SELECT DISTINCT o_custkey AS custkey, l_suppkey AS suppkey
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
)
SELECT a.custkey AS custkey, count(DISTINCT b.custkey) AS n_neighbors
FROM e a JOIN e b ON a.suppkey = b.suppkey AND a.custkey <> b.custkey
GROUP BY 1
ORDER BY n_neighbors DESC, custkey ASC
LIMIT 10
"""


def q_copurchase_reach_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate 2-hop reach at scale: HLL sketch of each supplier's
    customer set, merged per customer (hll_sketch_agg / hll_union_agg —
    JVM DataSketches, mergeable = map-side combinable). Linear in edges
    where the exact self-join is Σ(degree²); estimates within HLL's ~2%
    standard error (relative accuracy pinned vs the exact count in
    tests/test_plans.py). Rows-only: DuckDB's HLL differs bit-for-bit."""
    e = _purchase_edges(spark, sf_dir)
    # lgConfigK=10 (1 KB registers, ~3.3% std error vs the ≤5% pinned
    # accuracy gate): the join below ships ONE SKETCH PER EDGE ROW, so
    # sketch bytes — not edge count — dominate the shuffle; 12→10 cuts
    # that volume 4× (and the union-agg GC footprint with it)
    sk = e.groupBy("suppkey").agg(
        F.hll_sketch_agg("custkey", F.lit(10)).alias("sk")
    )
    return (
        e.join(sk, "suppkey")
        .groupBy("custkey")
        .agg(
            # estimate counts the union of neighbor sets INCLUDING self
            (F.hll_sketch_estimate(F.hll_union_agg("sk")) - 1).alias(
                "approx_neighbors"
            )
        )
        .orderBy(F.desc("approx_neighbors"), F.asc("custkey"))
        .limit(10)
    )


def q_copurchase_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components of the bipartite purchase graph via the
    pipeline's J11 operator (adaptive driver-UF / distributed min-label
    propagation) — standalone driver-contract exercise of
    clustering.connected_components. Node ids are namespaced ("c:"/"s:")
    so the two key spaces cannot collide. Returns (n_components,
    n_nodes, largest_component), oracle-checked against an independent
    DuckDB algorithm (ORACLE_COPURCHASE_COMPONENTS: bipartite contraction
    to per-customer supplier chains, then recursive-CTE closure over the
    small supplier projection — connectivity-preserving, so component
    sizes match exactly)."""
    from hinbox_spark.operators.clustering import connected_components

    # lazy checkpoint: the o⋈l edge derivation otherwise re-executes for
    # both nodes branches and the CC probe/collect (doc_dedup_keepers
    # discipline)
    e = _purchase_edges(spark, sf_dir).select(
        F.concat(F.lit("c:"), F.col("custkey")).alias("src"),
        F.concat(F.lit("s:"), F.col("suppkey")).alias("dst"),
    ).localCheckpoint(eager=False)
    nodes = (
        e.select(F.col("src").alias("node_id"))
        .unionByName(e.select(F.col("dst").alias("node_id")))
        .distinct()
    )
    labels = connected_components(nodes, e)
    comp = labels.groupBy("cluster_id").agg(F.count("*").alias("size"))
    return comp.agg(
        F.count("*").alias("n_components"),
        F.sum("size").alias("n_nodes"),
        F.max("size").alias("largest_component"),
    )


# Independent CC algorithm for the oracle: a bipartite graph's components
# survive contraction to the supplier projection when each customer's
# supplier set is replaced by a CHAIN of consecutive (sorted) suppliers —
# connectivity-preserving with O(Σ deg) edges instead of the clique's
# O(Σ deg²). The recursive closure then runs over only |suppliers| nodes
# (vs the 60s full-bipartite transitive closure), and component sizes are
# recovered by attaching distinct-customer counts per supplier label.
ORACLE_COPURCHASE_COMPONENTS = """
WITH RECURSIVE e AS (
  SELECT DISTINCT o_custkey AS c, l_suppkey AS s
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
), chain AS (
  SELECT c, s, lag(s) OVER (PARTITION BY c ORDER BY s) AS prev_s FROM e
), sedges AS (
  SELECT DISTINCT prev_s AS a, s AS b FROM chain WHERE prev_s IS NOT NULL
  UNION
  SELECT DISTINCT s AS a, prev_s AS b FROM chain WHERE prev_s IS NOT NULL
), snodes AS (SELECT DISTINCT s FROM e),
reach(node, label) AS (
  SELECT s, s FROM snodes
  UNION
  SELECT sedges.b, reach.label FROM reach JOIN sedges ON sedges.a = reach.node
), slab AS (SELECT node AS s, min(label) AS lab FROM reach GROUP BY node),
csize AS (
  SELECT lab, count(DISTINCT c) AS n_cust FROM e JOIN slab USING (s) GROUP BY lab
),
ssize AS (SELECT lab, count(*) AS n_supp FROM slab GROUP BY lab),
comp AS (
  SELECT ssize.lab, n_supp + coalesce(n_cust, 0) AS size
  FROM ssize LEFT JOIN csize USING (lab)
)
SELECT CAST(count(*) AS BIGINT) AS n_components,
       CAST(sum(size) AS BIGINT) AS n_nodes,
       CAST(max(size) AS BIGINT) AS largest_component
FROM comp
"""


def q_customer_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape — order-count histogram over an outer join: how many
    customers placed exactly k (non-default-priority) orders, including the
    zero-order customers the inner join would drop. Scale shape: orders is
    pre-aggregated to one row per custkey BEFORE the join (map-side
    combinable), so the outer join moves |customers| + |active customers|
    rows, never |orders|; the final histogram groupBy is over tiny
    (c_count, custdist) pairs."""
    c = _t(spark, sf_dir, "customer").select("c_custkey")
    per_cust = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") != "4-NOT SPECIFIED")
        .groupBy(F.col("o_custkey").alias("c_custkey"))
        .agg(F.count("*").alias("n_orders"))
    )
    return (
        c.join(per_cust, "c_custkey", "left")
        .select(F.coalesce("n_orders", F.lit(0)).alias("c_count"))
        .groupBy("c_count")
        .agg(F.count("*").alias("custdist"))
    )


ORACLE_CUSTOMER_ORDER_DIST = """
SELECT c_count, count(*) AS custdist
FROM (
  SELECT c_custkey, count(o_custkey) AS c_count
  FROM customer
  LEFT JOIN (SELECT o_custkey FROM orders
             WHERE o_orderpriority <> '4-NOT SPECIFIED') o
    ON c_custkey = o_custkey
  GROUP BY c_custkey
)
GROUP BY c_count
"""


def q_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape — correlated per-key scalar: revenue from lineitems
    of one brand whose quantity is below half that part's average quantity.
    The correlated avg is a window over l_partkey on the already-brand-
    filtered rows (the predicate correlates on partkey only, so filtering
    first is equivalence-preserving) — ONE scan of lineitem, one bounded
    shuffle (≲30 lineitems per part, no skew), no self-join second pass."""
    l = _t(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice"
    )
    p = (
        _t(spark, sf_dir, "part")
        .filter(F.col("p_brand") == "Brand#23")
        .select("p_partkey")
    )
    w = Window.partitionBy("l_partkey")
    cents = F.round(F.col("l_extendedprice") * 100).cast("long")
    return (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .withColumn("half_avg_qty", 0.5 * F.avg("l_quantity").over(w))
        .filter(F.col("l_quantity") < F.col("half_avg_qty"))
        .agg(
            (F.sum(cents) / 700.0).alias("avg_yearly"),
            F.count("*").alias("n_small_items"),
        )
    )


ORACLE_SMALL_QTY_REVENUE = """
SELECT sum(CAST(round(l_extendedprice * 100) AS BIGINT)) / 700.0
         AS avg_yearly,
       count(*) AS n_small_items
FROM lineitem
JOIN part ON p_partkey = l_partkey
WHERE p_brand = 'Brand#23'
  AND l_quantity < (SELECT 0.5 * avg(l2.l_quantity)
                    FROM lineitem l2 WHERE l2.l_partkey = part.p_partkey)
"""


def q_disjunctive_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape — OR-of-ANDs predicate over a broadcast join: three
    disjoint (brand, size-range, quantity-range) branches summed in one
    pass. The disjunction stays a single JVM filter after the broadcast
    hash join — no union of three scans, no shuffle of lineitem."""
    l = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_size")
    rev_cents = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
    ).cast("long")
    cond = (
        (F.col("p_brand") == "Brand#12")
        & F.col("p_size").between(1, 15)
        & F.col("l_quantity").between(1, 11)
    ) | (
        (F.col("p_brand") == "Brand#23")
        & F.col("p_size").between(16, 30)
        & F.col("l_quantity").between(10, 20)
    ) | (
        (F.col("p_brand") == "Brand#34")
        & F.col("p_size").between(31, 50)
        & F.col("l_quantity").between(20, 30)
    )
    return (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .filter(cond)
        .agg(
            (F.sum(rev_cents) / 100.0).alias("revenue"),
            F.count("*").alias("n_items"),
        )
    )


ORACLE_DISJUNCTIVE_PROMO = """
SELECT sum(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT))
         / 100.0 AS revenue,
       count(*) AS n_items
FROM lineitem JOIN part ON p_partkey = l_partkey
WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15
       AND l_quantity BETWEEN 1 AND 11)
   OR (p_brand = 'Brand#23' AND p_size BETWEEN 16 AND 30
       AND l_quantity BETWEEN 10 AND 20)
   OR (p_brand = 'Brand#34' AND p_size BETWEEN 31 AND 50
       AND l_quantity BETWEEN 20 AND 30)
"""


def q_priority_by_returnflag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape — conditional two-way counts over a join with a
    pushed date range: per returnflag, how many 1997-shipped lineitems
    belong to high- vs low-priority orders. The date predicate reaches the
    lineitem scan (partition-prunable at scale); the case-sums are one
    map-side-combinable aggregate after the orderkey join."""
    l = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    ).select("l_orderkey", "l_returnflag")
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(high, 0).otherwise(1)).alias("low_line_count"),
        )
    )


ORACLE_PRIORITY_BY_RETURNFLAG = """
SELECT l_returnflag,
       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE l_shipdate >= TIMESTAMP '1997-01-01'
  AND l_shipdate <  TIMESTAMP '1998-01-01'
GROUP BY l_returnflag
"""


def q_top_return_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape — top-20 customers by returned-item revenue: filter
    pushed to the lineitem scan (returnflag = 'R'), orderkey join, then a
    customer rollup joined to broadcast nation. Revenue is summed as
    integer cents (exactly associative → engine-order-independent), and
    the top-k has a deterministic c_custkey tie-break."""
    l = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_returnflag") == "R"
    ).select("l_orderkey", "l_extendedprice", "l_discount")
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = _t(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_nationkey"
    )
    n = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    rev_cents = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
    ).cast("long")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", F.col("n_name").alias("nation"))
        .agg((F.sum(rev_cents) / 100.0).alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


ORACLE_TOP_RETURN_CUSTOMERS = """
SELECT c_custkey, c_name, n_name AS nation,
       sum(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT))
         / 100.0 AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
GROUP BY c_custkey, c_name, n_name
ORDER BY revenue DESC, c_custkey ASC
LIMIT 20
"""


def q_doc_weighted_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted dataset mix — the corpus-blending step before
    training (keep 100% of high-quality sources, 50% of mid, ~10% of the
    rest). RNG-free like the holdout split: keep iff the 4-hex-char
    md5(doc_id) prefix is below the source's hex threshold, so every
    engine/run/retry keeps the identical document set and upweighting a
    source later only ADDS documents (monotone under weight increases —
    `ORDER BY rand()` resampling has neither property). The per-source
    rates ride a broadcast weights dim (at 10¹² docs the weights table is
    still tiny); the filter is a stateless per-row map — no shuffle until
    the final small per-source aggregate."""
    d = _t(spark, sf_dir, "documents")
    weights = spark.createDataFrame(
        [(f"src{i}", "g" if i < 5 else ("8000" if i < 10 else "199a"))
         for i in range(20)],
        "source string, hex_cap string",
    )
    kept = d.join(F.broadcast(weights), "source").filter(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4)
        < F.col("hex_cap")
    )
    return kept.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.size(F.split(F.col("text"), " "))).alias("total_tokens"),
    )


ORACLE_DOC_WEIGHTED_MIX = """
WITH weights(source, hex_cap) AS (
  VALUES ('src0', 'g'),
         ('src1', 'g'),
         ('src2', 'g'),
         ('src3', 'g'),
         ('src4', 'g'),
         ('src5', '8000'),
         ('src6', '8000'),
         ('src7', '8000'),
         ('src8', '8000'),
         ('src9', '8000'),
         ('src10', '199a'),
         ('src11', '199a'),
         ('src12', '199a'),
         ('src13', '199a'),
         ('src14', '199a'),
         ('src15', '199a'),
         ('src16', '199a'),
         ('src17', '199a'),
         ('src18', '199a'),
         ('src19', '199a')
)
SELECT source,
       count(*) AS n_docs,
       CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS total_tokens
FROM documents
JOIN weights USING (source)
WHERE substr(md5(doc_id::VARCHAR), 1, 4) < hex_cap
GROUP BY source
"""


def q_corpus_vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary top-k — the tokenizer/vocab-building scan every
    training-data pipeline runs. Scale shape: explode to words, count with
    map-side partial aggregation (word counts shrink the data before the
    one shuffle), then a global top-50 via TakeOrderedAndProject — Spark's
    distributed tournament, so no task ever sorts the full vocabulary.
    Deterministic (count desc, word asc) tie-break."""
    words = (
        _t(spark, sf_dir, "documents")
        .select(F.explode(F.split(F.lower("text"), " ")).alias("word"))
        .filter(F.col("word") != "")
    )
    return (
        words.groupBy("word")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), F.asc("word"))
        .limit(50)
    )


ORACLE_CORPUS_VOCAB = """
SELECT word, count(*) AS n
FROM (SELECT unnest(string_split(lower(text), ' ')) AS word FROM documents)
WHERE word <> ''
GROUP BY word
ORDER BY n DESC, word ASC
LIMIT 50
"""


def q_corpus_bigram_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation mining — adjacent-bigram association strength, the
    corpus-analytics pass that finds multi-word expressions before
    tokenizer training (reference analog: the n-gram signals feeding
    linking/dedup; here corpus-global). Emits the top-10 bigrams by
    LIFT = P(w1,w2) / (P(w1)·P(w2)) — PMI before the log, monotone in
    PMI — kept as one IEEE division of integer-exact counts so the
    cross-engine value hash can't flake on transcendental rounding (the
    same discipline as the integer-exact TF-IDF query).

    Scale shape: bigram construction is a LINEAR zip of each token array
    with its own tail (no quadratic within-doc pairing); unigram and
    bigram counts both shrink via map-side partial aggregation before
    their one shuffle; the two count joins are on the bigram's words and
    the totals ride in as a broadcast scalar row. A min-count gate
    (c12 ≥ 5) drops hapax noise exactly like a production collocation
    pass."""
    docs = _t(spark, sf_dir, "documents")
    ws = docs.select(
        F.filter(
            F.split(F.lower("text"), " "), lambda w: w != F.lit("")
        ).alias("ws")
    )
    uni = (
        ws.select(F.explode("ws").alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("c"))
    )
    bi_all = (
        ws.filter(F.size("ws") >= 2)
        .select(
            F.explode(
                F.zip_with(
                    F.slice(F.col("ws"), 1, F.size("ws") - 1),
                    F.slice(F.col("ws"), 2, F.size("ws") - 1),
                    lambda x, y: F.struct(x.alias("w1"), y.alias("w2")),
                )
            ).alias("b")
        )
        .select("b.w1", "b.w2")
        .groupBy("w1", "w2")
        .agg(F.count("*").alias("c12"))
    )
    bi = bi_all.filter(F.col("c12") >= 5)
    # totals over the FULL distributions (the min-count gate selects which
    # bigrams are reported, not the probability space they score against)
    totals = uni.agg(F.sum("c").alias("n_uni")).crossJoin(
        bi_all.agg(F.sum("c12").alias("n_bi"))
    )
    u1 = uni.select(F.col("w").alias("w1"), F.col("c").alias("c1"))
    u2 = uni.select(F.col("w").alias("w2"), F.col("c").alias("c2"))
    lift = (
        F.col("c12").cast("double")
        * F.col("n_uni").cast("double")
        * F.col("n_uni").cast("double")
    ) / (
        F.col("c1").cast("double")
        * F.col("c2").cast("double")
        * F.col("n_bi").cast("double")
    )
    return (
        bi.join(u1, "w1")
        .join(u2, "w2")
        .crossJoin(F.broadcast(totals))
        .select(
            "w1", "w2", "c12", F.round(lift, 4).alias("lift")
        )
        .orderBy(F.desc("lift"), F.asc("w1"), F.asc("w2"))
        .limit(10)
    )


ORACLE_CORPUS_BIGRAM_PMI = """
WITH ws AS (
  SELECT list_filter(string_split(lower(text), ' '), w -> w <> '') AS ws
  FROM documents
),
uni AS (
  SELECT w, count(*) AS c
  FROM (SELECT unnest(ws) AS w FROM ws)
  GROUP BY w
),
bi_all AS (
  SELECT z[1] AS w1, z[2] AS w2, count(*) AS c12
  FROM (
    SELECT unnest(list_zip(
             ws[1:len(ws) - 1], ws[2:len(ws)])) AS z
    FROM ws WHERE len(ws) >= 2
  )
  GROUP BY 1, 2
),
bi AS (SELECT * FROM bi_all WHERE c12 >= 5),
totals AS (
  SELECT (SELECT sum(c) FROM uni) AS n_uni,
         (SELECT sum(c12) FROM bi_all) AS n_bi
)
SELECT bi.w1 AS w1, bi.w2 AS w2, bi.c12 AS c12,
       round((CAST(bi.c12 AS DOUBLE) * CAST(n_uni AS DOUBLE)
              * CAST(n_uni AS DOUBLE))
             / (CAST(u1.c AS DOUBLE) * CAST(u2.c AS DOUBLE)
                * CAST(n_bi AS DOUBLE)), 4) AS lift
FROM bi
JOIN uni u1 ON u1.w = bi.w1
JOIN uni u2 ON u2.w = bi.w2
CROSS JOIN totals
ORDER BY lift DESC, w1 ASC, w2 ASC
LIMIT 10
"""


def q_copurchase_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the bidirected bipartite purchase graph — the iterative
    graph-analytics shape a KG consumer runs on the materialized edges
    (reference serves a static entity graph; ranking its nodes is the
    canonical downstream query). Fixed 8 power iterations, damping 0.85 —
    deterministic, no convergence RNG. Scale shape per iteration: ONE
    shuffle (edges ⋈ ranks on src, contributions groupBy dst); out-degrees
    are precomputed once; ranks are LAZILY localCheckpointed each round so
    the lineage (and the physical plan) stays O(1) in the iteration count
    instead of nesting 8 joins — lazy, not eager, so all 8 rounds run
    inside one job at the final action instead of launching a
    materialization job per iteration (A/B: 8.3 s vs 12.9 s warm at
    sf0.1, identical output; blocks still truncate lineage as each
    round materializes). No dangling-mass term is needed: every
    node of this graph has degree ≥ 1 by construction (nodes come from
    the edge list). Oracle-checked: a DuckDB RECURSIVE CTE runs the same
    8 fixed iterations (no dangling nodes → every node receives
    contributions every round, so the pure-recursive join loses nobody);
    8-dp rounding leaves ~6 orders of magnitude of headroom over
    cross-engine float-summation-order error. Values additionally pinned
    vs a numpy power iteration in tests/test_graph_queries.py. Returns
    top-10 (node_id, rank)."""
    from hinbox_spark.operators.graph import _bc_if

    edges = _purchase_bigraph(spark, sf_dir).localCheckpoint(eager=True)
    deg = edges.groupBy("src").agg(F.count("*").alias("deg"))
    nodes = deg.select(F.col("src").alias("node_id")).localCheckpoint(eager=True)
    n_nodes = nodes.count()
    d = 0.85
    ranks = nodes.select("node_id", F.lit(1.0 / n_nodes).alias("rank"))
    # deg is node-sized (n_nodes just counted): broadcast it onto the
    # edge list instead of exchanging both sides of a sort-merge join
    out_edges = edges.join(_bc_if(deg, n_nodes), "src").localCheckpoint(
        eager=True
    )
    ranks = _power_iterate(
        nodes, out_edges, ranks, F.lit((1.0 - d) / n_nodes), d=d, iters=8,
        n_nodes=n_nodes,
    )
    return (
        ranks.select("node_id", F.round("rank", 8).alias("rank"))
        .orderBy(F.desc("rank"), F.asc("node_id"))
        .limit(10)
    )


ORACLE_COPURCHASE_PAGERANK = """
WITH RECURSIVE
e AS (
  SELECT DISTINCT 'c:' || o_custkey AS src, 's:' || l_suppkey AS dst
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
),
edges AS (SELECT src, dst FROM e UNION ALL SELECT dst, src FROM e),
deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY 1),
oe AS (SELECT edges.src, edges.dst, deg.deg FROM edges JOIN deg USING (src)),
n AS (SELECT count(*) AS c FROM deg),
pr AS (
  SELECT 0 AS iter, src AS node_id, 1.0 / (SELECT c FROM n) AS rank FROM deg
  UNION ALL
  SELECT pr.iter + 1, oe.dst,
         0.15 / (SELECT c FROM n) + 0.85 * sum(pr.rank / oe.deg)
  FROM pr JOIN oe ON oe.src = pr.node_id
  WHERE pr.iter < 8
  GROUP BY pr.iter, oe.dst
)
SELECT node_id, round(rank, 8) AS rank FROM pr WHERE iter = 8
ORDER BY rank DESC, node_id
LIMIT 10
"""


def q_copurchase_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS hubs/authorities (Kleinberg 1999) over the DIRECTED bipartite
    purchase graph (customer → supplier) — PageRank's mutual-reinforcement
    sibling: a customer is a good hub if it buys from authoritative
    suppliers, a supplier authoritative if bought from by good hubs.

    Fixed 4 full iterations of the UNnormalized power iteration
    (a ← Eᵀh, h ← E a) with ONE max-normalization at the end: scaling
    commutes with the linear updates, so normalizing once is algebraically
    identical to the textbook per-round normalization while keeping the
    DuckDB oracle a plain recursive CTE (no per-step max subquery, which
    recursive SQL cannot express over the working table). Magnitudes grow
    like (d̄_c·d̄_s)^4 ≈ 3e17 at sf0.1 (measured: 586,871 edges over
    14,999 customers × 1,000 suppliers) — far inside double range even at
    web-scale degree distributions, and the final division restores
    [0, 1].

    Scale shape per half-step: ONE shuffle (edges ⋈ scores on the source
    side, groupBy the target side — a map-side-combinable sum, so a
    mega-degree supplier partially aggregates before the exchange);
    scores are LAZILY localCheckpointed per half-step so the physical
    plan stays O(1) in the iteration count (the q_copurchase_pagerank
    discipline). Returns top-10 suppliers by authority and top-10
    customers by hub score, max-normalized, 8-dp rounded — cross-engine
    float-summation-order error sits ~6 orders of magnitude below the
    rounding grid (measured on the pagerank oracle, same arithmetic
    depth)."""
    from hinbox_spark.operators.graph import _bc_if

    e = _purchase_edges(spark, sf_dir).localCheckpoint(eager=True)
    h = (
        e.select("custkey").distinct()
        .select("custkey", F.lit(1.0).alias("score"))
        .localCheckpoint(eager=True)
    )
    # hub/authority score tables are node-sided; one count gates the
    # per-half-step broadcast so the edge list never shuffles in the loop
    n_side = h.count()
    a = None
    for _ in range(4):
        a = (
            e.join(_bc_if(h, n_side), "custkey")
            .groupBy("suppkey").agg(F.sum("score").alias("score"))
        ).localCheckpoint(eager=False)
        h = (
            e.join(_bc_if(a, n_side), "suppkey")
            .groupBy("custkey").agg(F.sum("score").alias("score"))
        ).localCheckpoint(eager=False)

    def _norm_top(df: DataFrame, key: str, prefix: str, role: str) -> DataFrame:
        mx = df.agg(F.max("score").alias("mx"))
        return (
            df.crossJoin(F.broadcast(mx))
            .select(
                F.lit(role).alias("role"),
                F.concat(F.lit(prefix), F.col(key).cast("string")).alias(
                    "node_id"
                ),
                F.round(F.col("score") / F.col("mx"), 8).alias("score"),
            )
            .orderBy(F.desc("score"), F.asc("node_id"))
            .limit(10)
        )

    return (
        _norm_top(a, "suppkey", "s:", "auth")
        .unionAll(_norm_top(h, "custkey", "c:", "hub"))
        .orderBy("role", F.desc("score"), F.asc("node_id"))
    )


# Half-step recursion: even steps hold hub scores on customers, odd steps
# authority scores on suppliers (the working table at each step is exactly
# the previous step's rows, so the CASE picks the join side by parity);
# step 7 = 4th authority update, step 8 = 4th hub update — the same
# schedule as the Spark loop above.
ORACLE_COPURCHASE_HITS = """
WITH RECURSIVE
e AS (
  SELECT DISTINCT o_custkey AS c, l_suppkey AS s
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
),
hits AS (
  SELECT 0 AS step, c AS k, CAST(1.0 AS DOUBLE) AS score
  FROM (SELECT DISTINCT c FROM e)
  UNION ALL
  SELECT step + 1,
         CASE WHEN step % 2 = 0 THEN e.s ELSE e.c END AS k,
         sum(score) AS score
  FROM hits JOIN e ON (CASE WHEN step % 2 = 0 THEN e.c ELSE e.s END) = hits.k
  WHERE step < 8
  GROUP BY 1, 2
),
auth AS (SELECT k, score FROM hits WHERE step = 7),
hub  AS (SELECT k, score FROM hits WHERE step = 8),
top_auth AS (
  SELECT 'auth' AS role, 's:' || k AS node_id,
         round(score / (SELECT max(score) FROM auth), 8) AS score
  FROM auth ORDER BY score DESC, node_id LIMIT 10
),
top_hub AS (
  SELECT 'hub' AS role, 'c:' || k AS node_id,
         round(score / (SELECT max(score) FROM hub), 8) AS score
  FROM hub ORDER BY score DESC, node_id LIMIT 10
)
SELECT * FROM top_auth
UNION ALL
SELECT * FROM top_hub
ORDER BY role, score DESC, node_id
"""


def _capped_coprojection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The degree-capped customer co-supplier projection shared by the
    triangle and transitivity queries: each supplier contributes pairs
    only among its 8 smallest custkeys (cap via the `bounded_topk`
    tournament, so a mega-supplier never sorts in one task; the edge set
    is bounded at C(8,2)=28 rows per supplier), undirected edges kept as
    x < y, distinct."""
    from hinbox_spark.functions.skew import bounded_topk

    e = _purchase_edges(spark, sf_dir)
    capped = bounded_topk(
        e, ["suppkey"], [F.asc("custkey")], 8, F.xxhash64("custkey")
    )
    a, b = capped.alias("a"), capped.alias("b")
    return (
        a.join(
            b,
            (F.col("a.suppkey") == F.col("b.suppkey"))
            & (F.col("a.custkey") < F.col("b.custkey")),
        )
        .select(F.col("a.custkey").alias("x"), F.col("b.custkey").alias("y"))
        .distinct()
    )


def q_copurchase_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle counting — the classic graph-cohesion analytic (clustering
    coefficient's numerator) over the customer co-supplier projection.
    Top-10 customers by the number of triangles they sit in.

    The bipartite purchase graph itself is triangle-free, so the query
    first PROJECTS it: two customers are adjacent iff some supplier links
    them. A raw projection is Σ(degree²) — quadratic in a mega-supplier's
    customer count — so each supplier contributes pairs only among its 8
    smallest custkeys (deterministic cap, the same capped-projection
    discipline as the LSH bucket caps). The cap itself runs through the
    `bounded_topk` tournament, so a mega-supplier never sorts in one task,
    and the projected edge set is bounded at C(8,2)=28 rows per supplier.

    Triangle enumeration is the standard ordered wedge-check: edges kept
    as a<b only (each triangle materializes exactly once as a<b<c), one
    self-join builds wedges, one more membership join closes them. On an
    uncapped power-law graph the refinement is degree-orientation (edges
    point low→high degree) which bounds wedge fan-out by arboricity; the
    cap already enforces a stronger bound here. Exact, deterministic,
    oracle-checked against DuckDB running the identical capped
    definition."""
    edges = _capped_coprojection(spark, sf_dir)
    e1, e2, e3 = edges.alias("e1"), edges.alias("e2"), edges.alias("e3")
    tri = (
        e1.join(e2, F.col("e2.x") == F.col("e1.y"))
        .join(
            e3,
            (F.col("e3.x") == F.col("e1.x")) & (F.col("e3.y") == F.col("e2.y")),
        )
        .select(
            F.col("e1.x").alias("u"),
            F.col("e1.y").alias("v"),
            F.col("e2.y").alias("w"),
        )
    )
    return (
        tri.select(F.explode(F.array("u", "v", "w")).alias("custkey"))
        .groupBy("custkey")
        .agg(F.count("*").alias("n_triangles"))
        .orderBy(F.desc("n_triangles"), F.asc("custkey"))
        .limit(10)
    )


ORACLE_COPURCHASE_TRIANGLES = """
WITH e AS (
  SELECT DISTINCT o_custkey AS custkey, l_suppkey AS suppkey
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
),
capped AS (
  SELECT suppkey, custkey FROM (
    SELECT suppkey, custkey,
           row_number() OVER (PARTITION BY suppkey ORDER BY custkey) AS rn
    FROM e
  ) WHERE rn <= 8
),
edges AS (
  SELECT DISTINCT a.custkey AS x, b.custkey AS y
  FROM capped a JOIN capped b
    ON a.suppkey = b.suppkey AND a.custkey < b.custkey
),
tri AS (
  SELECT e1.x AS u, e1.y AS v, e2.y AS w
  FROM edges e1
  JOIN edges e2 ON e2.x = e1.y
  JOIN edges e3 ON e3.x = e1.x AND e3.y = e2.y
),
nodes AS (
  SELECT u AS custkey FROM tri
  UNION ALL SELECT v FROM tri
  UNION ALL SELECT w FROM tri
)
SELECT custkey, count(*) AS n_triangles
FROM nodes GROUP BY 1
ORDER BY n_triangles DESC, custkey ASC
LIMIT 10
"""


def q_copurchase_transitivity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global transitivity (clustering coefficient) of the capped
    co-supplier projection — the one-scalar cohesion companion to the
    per-node triangle counts: T = 3·triangles / wedges, where wedges =
    Σ deg·(deg−1)/2 over projected nodes. Everything INTEGER-EXACT up to
    the final division (the Gini/assortativity discipline): degrees fold
    from the undirected edge list (each x<y edge counted once per
    endpoint via explode — map-side combinable), the wedge sum keeps the
    even product deg·(deg−1) in bigint and halves it exactly, and the
    triangle count reuses the same ordered wedge-check join as
    q_copurchase_triangles (each triangle exactly once as a<b<c) over
    the SHARED `_capped_coprojection` edge definition, so both queries
    answer about the identical graph. Emits the exact counts beside the
    8-dp ratio. Same scale story as the triangle query: the cap bounds
    every fan-out before any join."""
    edges = _capped_coprojection(spark, sf_dir).localCheckpoint(eager=True)
    deg = (
        edges.select(F.explode(F.array("x", "y")).alias("node"))
        .groupBy("node")
        .agg(F.count("*").alias("deg"))
    )
    wedge = deg.agg(
        F.count("*").alias("n_nodes"),
        (F.sum(F.col("deg") * (F.col("deg") - 1)) / 2)
        .cast("bigint")
        .alias("n_wedges"),
    )
    e1, e2, e3 = edges.alias("e1"), edges.alias("e2"), edges.alias("e3")
    n_tri = (
        e1.join(e2, F.col("e2.x") == F.col("e1.y"))
        .join(
            e3,
            (F.col("e3.x") == F.col("e1.x"))
            & (F.col("e3.y") == F.col("e2.y")),
        )
        .agg(F.count("*").alias("n_triangles"))
    )
    return (
        wedge.crossJoin(F.broadcast(n_tri))
        .crossJoin(
            F.broadcast(edges.agg(F.count("*").alias("n_edges")))
        )
        .select(
            "n_nodes",
            "n_edges",
            "n_wedges",
            "n_triangles",
            F.round(
                3 * F.col("n_triangles")
                / F.col("n_wedges").cast("double"),
                8,
            ).alias("transitivity"),
        )
    )


ORACLE_COPURCHASE_TRANSITIVITY = """
WITH e AS (
  SELECT DISTINCT o_custkey AS custkey, l_suppkey AS suppkey
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
),
capped AS (
  SELECT suppkey, custkey FROM (
    SELECT suppkey, custkey,
           row_number() OVER (PARTITION BY suppkey ORDER BY custkey) AS rn
    FROM e
  ) WHERE rn <= 8
),
edges AS (
  SELECT DISTINCT a.custkey AS x, b.custkey AS y
  FROM capped a JOIN capped b
    ON a.suppkey = b.suppkey AND a.custkey < b.custkey
),
deg AS (
  SELECT node, count(*) AS deg FROM (
    SELECT x AS node FROM edges UNION ALL SELECT y FROM edges
  ) GROUP BY 1
),
wedge AS (
  SELECT count(*) AS n_nodes,
         CAST(sum(deg * (deg - 1)) / 2 AS BIGINT) AS n_wedges
  FROM deg
),
tri AS (
  SELECT count(*) AS n_triangles
  FROM edges e1
  JOIN edges e2 ON e2.x = e1.y
  JOIN edges e3 ON e3.x = e1.x AND e3.y = e2.y
),
ne AS (SELECT count(*) AS n_edges FROM edges)
SELECT n_nodes, n_edges, n_wedges, n_triangles,
       round(3 * n_triangles / CAST(n_wedges AS DOUBLE), 8) AS transitivity
FROM wedge, tri, ne
"""


def q_doc_dedup_keepers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup cluster resolution — the composition a training-data
    pipeline actually ships (RefinedWeb/CCNet shape): MinHash-LSH pair
    generation → connected components over the near-dup graph → one
    deterministic keeper (min doc_id) per duplicate cluster. Reuses the
    tested U-family and J11 operators end-to-end; every stage is the
    capped/banded scale path (no all-pairs anywhere). Node ids are
    zero-padded so the component label (lexicographic min) equals the
    numeric min. Rows-only driver check; pinned vs an independent
    union-find over the same pairs in tests/test_dedup.py.
    Returns (cluster_id, keeper_doc_id, n_docs, n_removed)."""
    from hinbox_spark.operators.clustering import connected_components
    from hinbox_spark.operators.dedup import minhash_near_duplicates

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    pairs = minhash_near_duplicates(docs, jaccard_threshold=0.7)
    pad = lambda c: F.lpad(F.col(c).cast("string"), 12, "0")  # noqa: E731
    # lazy checkpoint (the emb_dedup_keepers discipline): the MinHash
    # pair DAG otherwise re-executes for BOTH nodes branches and both
    # union-find consumers — A/B 3.3 → 2.5 s, identical output (r6 s2)
    edges = pairs.select(
        pad("doc_a").alias("src"), pad("doc_b").alias("dst")
    ).localCheckpoint(eager=False)
    nodes = (
        edges.select(F.col("src").alias("node_id"))
        .unionByName(edges.select(F.col("dst").alias("node_id")))
        .distinct()
    )
    labels = connected_components(nodes, edges)
    return (
        labels.groupBy("cluster_id")
        .agg(
            F.min(F.col("node_id").cast("long")).alias("keeper_doc_id"),
            F.count("*").alias("n_docs"),
            (F.count("*") - 1).alias("n_removed"),
        )
        .select(
            F.col("cluster_id").cast("long").alias("cluster_id"),
            "keeper_doc_id",
            "n_docs",
            "n_removed",
        )
    )


_SHINGLE_N = 4


def _shingle_set_udf():
    """Vectorized shingle builder: sorted distinct word-{_SHINGLE_N}-gram
    strings per text. Python-set construction beats the previous
    sequence/transform/slice/concat_ws/array_distinct chain ~5× warm
    (0.37 s vs 2.0 s for the sf0.1 explode, r6 measurement): higher-order
    array functions are interpreted, not codegen'd, so the per-position
    slice+concat paid interpreter overhead on every shingle (guide §4.2 —
    hand whole batches to native/set code instead of chaining interpreted
    expressions). sorted() keeps the array deterministic across workers
    (set iteration order is salted per process). Token semantics match
    str.split(" ")/Java split exactly (empties preserved); docs with
    < {_SHINGLE_N} tokens yield no shingles, as before."""
    import pandas as pd

    @F.pandas_udf("array<string>")
    def _sh(texts: pd.Series) -> pd.Series:
        n = _SHINGLE_N

        def g(t):
            w = (t or "").split(" ")
            if len(w) < n:
                return []
            return sorted({" ".join(w[i : i + n]) for i in range(len(w) - n + 1)})

        return texts.map(g)

    return _sh


def _doc_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct word-{_SHINGLE_N}-gram shingles per document, exploded to
    (doc_id, sh) rows — the shared substrate for decontamination and
    novelty (see _shingle_set_udf for the construction choice).

    Deliberately NOT spread_for_compute'd: the set-dedup'd shingle pass is
    only ~0.26 s serial at sf0.1, and an interleaved A/B (r6 session 2)
    measured the extra exchange + stage barriers costing MORE than the
    spread saves (contamination 1.03 s serial vs 1.22 s spread) — the
    rebalance only pays for Python stages ≳1 s serial (minhash/simhash)."""
    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id", F.explode(_shingle_set_udf()(F.col("text"))).alias("sh")
    )


def q_doc_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination — the n-gram-overlap scan every serious
    training-data pipeline runs before training (GPT-3/PaLM-style: flag
    corpus documents sharing word n-grams with the held-out eval set).
    Eval set = doc_id % 50 == 0, a deterministic stand-in for the
    benchmark suite. Scale shape: the eval side is DISTINCT shingles of
    the (small) benchmark set and is BROADCAST — at 10¹² corpus docs the
    benchmark suite is still a few million shingles, so the corpus side
    never shuffles for the join; the only shuffles are the two per-doc
    groupBy counts (map-side combinable). Short 4-gram shingles =
    high-recall stage; hits feed an exact verifier downstream.
    Returns (doc_id, n_shared, n_shingles, contamination)."""
    # lazy checkpoint: the shingle pass otherwise computes once per side
    # (eval broadcast + corpus) — A/B'd faster every round (1.23 vs
    # 1.08 s, r6 session 2)
    sh = _doc_shingles(spark, sf_dir).localCheckpoint(eager=False)
    eval_sh = (
        sh.filter(F.col("doc_id") % 50 == 0)
        .select("sh")
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    corpus = sh.filter(F.col("doc_id") % 50 != 0)
    # single pass: left-broadcast-join the eval flag onto every corpus
    # shingle, then ONE per-doc groupBy yields both counts — the corpus
    # is exploded once and shuffled once (vs the naive
    # totals-join-shared shape: 2 explosions + 2 shuffles + a join).
    return (
        corpus.join(F.broadcast(eval_sh), "sh", "left")
        .groupBy("doc_id")
        .agg(
            F.sum(F.coalesce(F.col("hit"), F.lit(0))).alias("n_shared"),
            F.count("*").alias("n_shingles"),
        )
        .filter(F.col("n_shared") > 0)
        .select(
            "doc_id",
            "n_shared",
            "n_shingles",
            F.round(F.col("n_shared") / F.col("n_shingles"), 4).alias(
                "contamination"
            ),
        )
        .orderBy("doc_id")
    )


ORACLE_DOC_CONTAMINATION = """
WITH words AS (
  SELECT doc_id, string_split(text, ' ') AS w FROM documents
),
shingles AS (
  SELECT DISTINCT doc_id, array_to_string(w[g:g+3], ' ') AS sh
  FROM words, unnest(generate_series(1, greatest(len(w) - 3, 0))) AS t(g)
),
eval_sh AS (SELECT DISTINCT sh FROM shingles WHERE doc_id % 50 = 0),
corpus AS (SELECT * FROM shingles WHERE doc_id % 50 <> 0),
totals AS (SELECT doc_id, count(*) AS n_shingles FROM corpus GROUP BY doc_id),
shared AS (
  SELECT c.doc_id, count(*) AS n_shared
  FROM corpus c JOIN eval_sh e USING (sh)
  GROUP BY c.doc_id
)
SELECT s.doc_id, s.n_shared, t.n_shingles,
       round(s.n_shared::DOUBLE / t.n_shingles, 4) AS contamination
FROM shared s JOIN totals t USING (doc_id)
ORDER BY s.doc_id
"""


def q_doc_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document n-gram novelty — fraction of a doc's distinct 4-gram
    shingles first seen in THIS doc (min doc_id over the corpus), the
    running-freshness metric crawl pipelines use to rank recrawl value
    and detect boilerplate saturation. Scale shape: one groupBy(sh) with
    map-side-combined min (shingle cardinality ≪ exploded rows on real
    boilerplate-heavy corpora), then the join back to the exploded rows
    reuses the same hash partitioning on sh (no extra exchange under
    AQE), then a per-doc groupBy. Nothing is all-pairs and nothing is
    collected. Returns (doc_id, n_shingles, n_novel, novelty)."""
    # r6 plan restructure (guide §2.3/§2.4): the old shape joined the full
    # exploded shingle set back onto the per-shingle minima — two
    # exchanges + a sort-merge join of millions of ~25-char strings. But
    # n_novel(d) = |{sh : min_doc(sh) = d}| needs no join at all: count
    # the minima by their owning doc; n_shingles(d) is a per-doc count of
    # the same exploded rows (map-side combinable, tiny exchange). The
    # exploded set is lazily checkpointed so the shingle construction
    # runs once for both aggregates; only the per-shingle min still
    # shuffles shingle-cardinality rows. Identical results (same oracle).
    sh = _doc_shingles(spark, sf_dir).localCheckpoint(eager=False)
    novel = (
        sh.groupBy("sh")
        .agg(F.min("doc_id").alias("first_doc"))
        .groupBy(F.col("first_doc").alias("doc_id"))
        .agg(F.count("*").alias("n_novel"))
    )
    totals = sh.groupBy("doc_id").agg(F.count("*").alias("n_shingles"))
    return (
        totals.join(novel, "doc_id", "left")
        .select(
            "doc_id",
            "n_shingles",
            F.coalesce("n_novel", F.lit(0)).alias("n_novel"),
            F.round(
                F.coalesce("n_novel", F.lit(0)) / F.col("n_shingles"), 4
            ).alias("novelty"),
        )
        .orderBy("doc_id")
    )


ORACLE_DOC_NGRAM_NOVELTY = """
WITH words AS (
  SELECT doc_id, string_split(text, ' ') AS w FROM documents
),
shingles AS (
  SELECT DISTINCT doc_id, array_to_string(w[g:g+3], ' ') AS sh
  FROM words, unnest(generate_series(1, greatest(len(w) - 3, 0))) AS t(g)
),
first_seen AS (SELECT sh, min(doc_id) AS first_doc FROM shingles GROUP BY sh)
SELECT s.doc_id,
       count(*) AS n_shingles,
       CAST(sum(CASE WHEN f.first_doc = s.doc_id THEN 1 ELSE 0 END) AS BIGINT)
         AS n_novel,
       round(CAST(sum(CASE WHEN f.first_doc = s.doc_id THEN 1 ELSE 0 END)
                  AS BIGINT)::DOUBLE / count(*), 4) AS novelty
FROM shingles s JOIN first_seen f USING (sh)
GROUP BY s.doc_id
ORDER BY s.doc_id
"""


def q_source_distinctive_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source distinctive vocabulary — top-3 terms per source by an
    integer-exact TF-IDF variant: score = tf × (N_docs − df). Same
    ranking intent as tf·log(N/df) (monotone in tf, anti-monotone in df)
    but exactly reproducible across engines — transcendental log would
    make the DuckDB-vs-JVM value hash flaky at the last ulp. Scale
    shape: term frequencies shrink map-side before their one shuffle;
    the document-frequency table is vocabulary-sized and BROADCAST; the
    per-source window ranks at most |vocab| rows per source. Ties break
    (score desc, term asc) — deterministic.
    Returns (source, term, tf, df, score)."""
    d = _t(spark, sf_dir, "documents")
    words = d.select(
        "doc_id", "source", F.explode(F.split(F.col("text"), " ")).alias("term")
    ).filter(F.col("term") != "")
    df_tbl = words.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    total = d.agg(F.count("*").alias("n_docs"))
    tf = words.groupBy("source", "term").agg(F.count("*").alias("tf"))
    scored = (
        tf.join(F.broadcast(df_tbl), "term")
        .crossJoin(F.broadcast(total))
        .withColumn("score", F.col("tf") * (F.col("n_docs") - F.col("df")))
    )
    w = Window.partitionBy("source").orderBy(F.desc("score"), F.asc("term"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("source", "term", "tf", "df", "score")
        .orderBy("source", "term")
    )


ORACLE_SOURCE_DISTINCTIVE_TERMS = """
WITH w AS (
  SELECT doc_id, source, unnest(string_split(text, ' ')) AS term
  FROM documents
),
tf AS (
  SELECT source, term, count(*) AS tf
  FROM w WHERE term <> '' GROUP BY source, term
),
dft AS (
  SELECT term, count(DISTINCT doc_id) AS df
  FROM w WHERE term <> '' GROUP BY term
),
tot AS (SELECT count(*) AS n_docs FROM documents),
scored AS (
  SELECT source, term, tf, df, tf * (n_docs - df) AS score
  FROM tf JOIN dft USING (term) CROSS JOIN tot
)
SELECT source, term, tf, df, score
FROM (
  SELECT *, row_number() OVER (
    PARTITION BY source ORDER BY score DESC, term ASC) AS rk
  FROM scored
)
WHERE rk <= 3
ORDER BY source, term
"""


def q_events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel view → click → purchase: per user, the
    first view, the first click strictly AFTER that view, and the first
    purchase strictly after that click (the standard product-analytics
    funnel with step ordering enforced, not mere set membership). Scale
    shape: each step is a map-side-combinable min-aggregation per user;
    the step joins are all keyed on user_id, so at 10¹² events AQE
    co-partitions the three step tables on one exchange each — no
    window over a user's full history and no per-user collect_list.
    Returns (user_id, t_view, t_click, t_purchase) with NULLs where the
    funnel was abandoned."""
    e = _t(spark, sf_dir, "events")
    v = (
        e.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_view"))
    )
    c = (
        e.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(F.col("ts") > F.col("t_view"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_click"))
    )
    p = (
        e.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(F.col("ts") > F.col("t_click"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_purchase"))
    )
    return (
        v.join(c, "user_id", "left")
        .join(p, "user_id", "left")
        .select("user_id", "t_view", "t_click", "t_purchase")
        .orderBy("user_id")
    )


ORACLE_EVENTS_FUNNEL = """
WITH v AS (
  SELECT user_id, min(ts) AS t_view
  FROM events WHERE event_type = 'view' GROUP BY user_id
),
c AS (
  SELECT e.user_id, min(e.ts) AS t_click
  FROM events e JOIN v USING (user_id)
  WHERE e.event_type = 'click' AND e.ts > v.t_view
  GROUP BY e.user_id
),
p AS (
  SELECT e.user_id, min(e.ts) AS t_purchase
  FROM events e JOIN c USING (user_id)
  WHERE e.event_type = 'purchase' AND e.ts > c.t_click
  GROUP BY e.user_id
)
SELECT v.user_id, v.t_view, c.t_click, p.t_purchase
FROM v LEFT JOIN c USING (user_id) LEFT JOIN p USING (user_id)
ORDER BY v.user_id
"""


def q_events_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix — users grouped by first-activity day,
    counted on each later active day as an offset from their cohort day
    (the canonical D1/D7/D30 retention triangle). Scale shape: the
    cohort table is a map-side-combinable min per user; per-user active
    days are a distinct (user, day) projection; both sides are keyed on
    user_id for the one join, then the (cohort, offset) aggregate is
    tiny (days²). Nothing scans a user's history twice.
    Returns (cohort_day, day_offset, n_active)."""
    e = _t(spark, sf_dir, "events")
    first = e.groupBy("user_id").agg(F.min(F.to_date("ts")).alias("cohort"))
    act = e.select("user_id", F.to_date("ts").alias("day")).distinct()
    return (
        act.join(first, "user_id")
        .groupBy(
            F.date_format("cohort", "yyyy-MM-dd").alias("cohort_day"),
            F.datediff("day", "cohort").cast("long").alias("day_offset"),
        )
        .agg(F.countDistinct("user_id").alias("n_active"))
        .orderBy("cohort_day", "day_offset")
    )


ORACLE_EVENTS_RETENTION = """
WITH first AS (
  SELECT user_id, min(CAST(ts AS DATE)) AS cohort
  FROM events GROUP BY user_id
),
act AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events)
SELECT strftime(f.cohort, '%Y-%m-%d') AS cohort_day,
       CAST(date_diff('day', f.cohort, a.day) AS BIGINT) AS day_offset,
       count(DISTINCT a.user_id) AS n_active
FROM act a JOIN first f USING (user_id)
GROUP BY 1, 2
ORDER BY 1, 2
"""


def q_training_corpus_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The capstone data-prep flow as ONE declarative plan: per source,
    how many documents survive the standard training-corpus gauntlet —
    language gate (en), length gate (≥ 20 words), repetition gate (top
    word ≤ 25% of tokens, Gopher-style), and exact-dup gate (keeper =
    min doc_id per 32-char-prefix fingerprint group) — with
    first-failing-reason attribution in that fixed order, so every
    engine assigns each drop to exactly one gate. Scale shape: the word
    stats are one map-side-combined pass over the text; the dup-keeper
    rule is a fingerprint groupBy (hash-partitioned, no window over the
    corpus); the final per-source rollup is tiny. This is the query a
    platform team actually runs nightly; everything upstream of it in
    this file is one of its stages. Returns per-source counts."""
    d = _t(spark, sf_dir, "documents")
    words = F.filter(F.split(F.lower("text"), " "), lambda w: w != "")
    n_words = F.size(words)
    # max word multiplicity = longest equal-run in the SORTED word array,
    # folded in one aggregate pass — O(n log n) per doc. (The tempting
    # transform(array_distinct, w -> size(filter(...))) shape is
    # O(distinct × words) per row: quadratic on exactly the long
    # boilerplate documents this filter exists to catch.)
    top_count = F.aggregate(
        F.array_sort(words),
        F.struct(
            F.lit("").alias("prev"),
            F.lit(0).alias("run"),
            F.lit(0).alias("best"),
        ),
        lambda acc, w: F.struct(
            w.alias("prev"),
            F.when(w == acc.prev, acc.run + 1).otherwise(F.lit(1)).alias("run"),
            F.greatest(
                acc.best,
                F.when(w == acc.prev, acc.run + 1).otherwise(F.lit(1)),
            ).alias("best"),
        ),
        lambda acc: acc.best,
    )
    top_ratio = top_count / n_words
    fp = F.substring(F.col("text"), 1, 32)
    keeper = d.groupBy(fp.alias("fp")).agg(F.min("doc_id").alias("keep_id"))
    staged = (
        d.join(keeper, fp == F.col("fp"))
        .withColumn("n_words", n_words)
        .withColumn("top_ratio", top_ratio)
        .withColumn(
            "drop_reason",
            F.when(F.col("lang") != "en", "lang")
            .when(F.col("n_words") < 20, "short")
            .when(F.col("top_ratio") > 0.25, "repetition")
            .when(F.col("doc_id") != F.col("keep_id"), "duplicate")
            .otherwise("kept"),
        )
    )
    return (
        staged.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.when(F.col("drop_reason") == "kept", 1).otherwise(0)).alias("n_kept"),
            F.sum(F.when(F.col("drop_reason") == "lang", 1).otherwise(0)).alias("n_lang"),
            F.sum(F.when(F.col("drop_reason") == "short", 1).otherwise(0)).alias("n_short"),
            F.sum(F.when(F.col("drop_reason") == "repetition", 1).otherwise(0)).alias("n_repetition"),
            F.sum(F.when(F.col("drop_reason") == "duplicate", 1).otherwise(0)).alias("n_duplicate"),
        )
        .orderBy("source")
    )


ORACLE_TRAINING_CORPUS_FILTER = """
WITH stats AS (
  SELECT doc_id, max(c) AS top_c, sum(c) AS n_words
  FROM (
    SELECT doc_id, w, count(*) AS c
    FROM (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w
          FROM documents)
    WHERE w <> ''
    GROUP BY doc_id, w
  )
  GROUP BY doc_id
),
keeper AS (
  SELECT substr(text, 1, 32) AS fp, min(doc_id) AS keep_id
  FROM documents GROUP BY 1
),
staged AS (
  SELECT d.source,
         CASE WHEN d.lang <> 'en' THEN 'lang'
              WHEN coalesce(s.n_words, 0) < 20 THEN 'short'
              WHEN s.top_c::DOUBLE / s.n_words > 0.25 THEN 'repetition'
              WHEN d.doc_id <> k.keep_id THEN 'duplicate'
              ELSE 'kept' END AS drop_reason
  FROM documents d
  LEFT JOIN stats s USING (doc_id)
  JOIN keeper k ON substr(d.text, 1, 32) = k.fp
)
SELECT source,
       count(*) AS n_docs,
       CAST(sum(CASE WHEN drop_reason = 'kept' THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       CAST(sum(CASE WHEN drop_reason = 'lang' THEN 1 ELSE 0 END) AS BIGINT) AS n_lang,
       CAST(sum(CASE WHEN drop_reason = 'short' THEN 1 ELSE 0 END) AS BIGINT) AS n_short,
       CAST(sum(CASE WHEN drop_reason = 'repetition' THEN 1 ELSE 0 END) AS BIGINT) AS n_repetition,
       CAST(sum(CASE WHEN drop_reason = 'duplicate' THEN 1 ELSE 0 END) AS BIGINT) AS n_duplicate
FROM staged
GROUP BY source
ORDER BY source
"""


def q_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape — suppliers who were the SOLE late supplier on a
    multi-supplier finished order: one EXISTS (another supplier shipped on
    the same order) and one NOT EXISTS (no OTHER supplier was late) against
    the same fact table. Both are expressed as semi/anti hash joins keyed on
    l_orderkey with the supplier inequality as a residual condition — never
    an inner self-join that would amplify by per-order line fan-out before
    deduping. At scale all three lineitem branches shuffle on the same
    orderkey, so AQE can reuse one exchange; supplier is broadcast."""
    l = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderstatus"
    )
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    late = (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .filter(F.col("o_orderstatus") == "F")
        .filter(F.col("l_shipdate") > F.date_add(F.col("o_orderdate"), 60))
        .select("l_orderkey", "l_suppkey", "o_orderdate")
    )
    other_lines = l.select(
        F.col("l_orderkey").alias("ao"), F.col("l_suppkey").alias("asupp")
    )
    other_late = late.select(
        F.col("l_orderkey").alias("bo"), F.col("l_suppkey").alias("bsupp")
    )
    sole_late = (
        late.join(
            other_lines,
            (F.col("l_orderkey") == F.col("ao"))
            & (F.col("l_suppkey") != F.col("asupp")),
            "left_semi",
        )
        .join(
            other_late,
            (F.col("l_orderkey") == F.col("bo"))
            & (F.col("l_suppkey") != F.col("bsupp")),
            "left_anti",
        )
    )
    return (
        sole_late.join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy(F.col("s_name").alias("supplier"))
        .agg(F.count("*").alias("numwait"))
        .orderBy(F.desc("numwait"), "supplier")
        .limit(20)
    )


ORACLE_WAITING_SUPPLIERS = """
SELECT s_name AS supplier, count(*) AS numwait
FROM lineitem l1
JOIN orders   ON o_orderkey = l1.l_orderkey
JOIN supplier ON s_suppkey = l1.l_suppkey
WHERE o_orderstatus = 'F'
  AND l1.l_shipdate > o_orderdate + INTERVAL 60 DAY
  AND EXISTS (
    SELECT 1 FROM lineitem l2
    WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey
  )
  AND NOT EXISTS (
    SELECT 1 FROM lineitem l3
    WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
      AND l3.l_shipdate > o_orderdate + INTERVAL 60 DAY
  )
GROUP BY s_name
ORDER BY numwait DESC, supplier
LIMIT 20
"""


def q_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape — market share: within (ASIA-region customers ×
    PROMO-type parts), the fraction of yearly revenue supplied by one
    nation. nation/region are hinted broadcasts (true dims at any scale);
    the filtered part set, supplier→nation map, and region-filtered
    customer key set are left UNHINTED — at bench scale AQE broadcasts
    them, at 100 TB (where a 1/6 slice of part is still billions of rows)
    they degrade to shuffle joins already keyed on
    partkey/suppkey/custkey. Revenue is summed as integer cents (exact,
    associative) and the share is one exact long/long division at the
    end, so both engines agree bit-for-bit."""
    l = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate"
    )
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    asia_cust = (
        _t(spark, sf_dir, "customer")
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
        .filter(F.col("r_name") == "ASIA")
        .select("c_custkey")
    )
    promo_parts = (
        _t(spark, sf_dir, "part")
        .filter(F.col("p_type") == "PROMO")
        .select("p_partkey")
    )
    supp_nation = (
        _t(spark, sf_dir, "supplier")
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    rev_cents = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
    ).cast("long")
    return (
        l.join(promo_parts, F.col("l_partkey") == F.col("p_partkey"))
        .join(supp_nation, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(asia_cust, F.col("o_custkey") == F.col("c_custkey"), "left_semi")
        .groupBy(F.year("o_orderdate").alias("year"))
        .agg(
            (
                F.sum(F.when(F.col("supp_nation") == "NATION_7", rev_cents).otherwise(F.lit(0)))
                / F.sum(rev_cents)
            ).alias("mkt_share"),
            (F.sum(rev_cents) / 100.0).alias("total_revenue"),
        )
    )


ORACLE_MARKET_SHARE = """
WITH slice AS (
  SELECT year(o_orderdate) AS year,
         CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT) AS cents,
         (SELECT n_name FROM nation WHERE n_nationkey = s_nationkey) AS supp_nation
  FROM lineitem
  JOIN orders   ON o_orderkey = l_orderkey
  JOIN supplier ON s_suppkey = l_suppkey
  WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_type = 'PROMO')
    AND o_custkey IN (
      SELECT c_custkey FROM customer
      JOIN nation ON n_nationkey = c_nationkey
      JOIN region ON r_regionkey = n_regionkey
      WHERE r_name = 'ASIA')
)
SELECT year,
       sum(CASE WHEN supp_nation = 'NATION_7' THEN cents ELSE 0 END)
         / CAST(sum(cents) AS DOUBLE)                    AS mkt_share,
       sum(cents) / 100.0                                AS total_revenue
FROM slice
GROUP BY year
"""


def q_profit_by_nation_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape — profit by (supplier nation, order year) over
    STANDARD-type parts; cost proxy = 10% of retail price × quantity (the
    testdata has no partsupp/ps_supplycost). Per-item profit is rounded to
    integer cents BEFORE the sum so the aggregate is associative across
    engines. Only nation carries a broadcast hint; the filtered part set
    and supplier→nation map are unhinted — AQE broadcasts them while they
    fit and falls back to key-partitioned shuffle joins at the scale where
    they don't. The one unavoidable big shuffle is lineitem⋈orders."""
    l = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey",
        "l_extendedprice", "l_discount", "l_quantity",
    )
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    n = _t(spark, sf_dir, "nation")
    std_parts = (
        _t(spark, sf_dir, "part")
        .filter(F.col("p_type") == "STANDARD")
        .select("p_partkey", "p_retailprice")
    )
    supp_nation = (
        _t(spark, sf_dir, "supplier")
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", F.col("n_name").alias("nation"))
    )
    profit_cents = F.round(
        (
            F.col("l_extendedprice") * (1 - F.col("l_discount"))
            - F.col("p_retailprice") * F.col("l_quantity") * 0.10
        )
        * 100
    ).cast("long")
    return (
        l.join(std_parts, F.col("l_partkey") == F.col("p_partkey"))
        .join(supp_nation, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("nation", F.year("o_orderdate").alias("year"))
        .agg(
            (F.sum(profit_cents) / 100.0).alias("profit"),
            F.count("*").alias("n_lines"),
        )
    )


ORACLE_PROFIT_BY_NATION_YEAR = """
SELECT n_name AS nation, year(o_orderdate) AS year,
       sum(CAST(round((l_extendedprice * (1 - l_discount)
                       - p_retailprice * l_quantity * 0.10) * 100) AS BIGINT))
         / 100.0                                         AS profit,
       count(*)                                          AS n_lines
FROM lineitem
JOIN part     ON p_partkey = l_partkey
JOIN supplier ON s_suppkey = l_suppkey
JOIN nation   ON n_nationkey = s_nationkey
JOIN orders   ON o_orderkey = l_orderkey
WHERE p_type = 'STANDARD'
GROUP BY 1, 2
"""


def q_events_moving_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing 7-day moving average of daily event counts per type. The
    raw table collapses through ONE map-side-combinable groupBy to
    (type × day) — a few thousand rows at any corpus size — and the window
    runs over that post-aggregate frame, so the sort inside each window
    partition is over ~days-per-type rows, never over raw events. The frame
    (6 PRECEDING .. CURRENT ROW over integer counts) is order-fixed, so the
    double average is bit-identical across engines."""
    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.col("event_type"),
        F.date_format("ts", "yyyy-MM-dd").alias("day"),
    ).agg(F.count("*").alias("n_events"))
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(-6, Window.currentRow)
    )
    return daily.select(
        "event_type",
        "day",
        "n_events",
        F.round(F.avg("n_events").over(w), 4).alias("ma7"),
    )


ORACLE_EVENTS_MOVING_AVG = """
WITH daily AS (
  SELECT event_type, strftime(ts, '%Y-%m-%d') AS day, count(*) AS n_events
  FROM events GROUP BY 1, 2
)
SELECT event_type, day, n_events,
       round(avg(n_events) OVER (
         PARTITION BY event_type ORDER BY day
         ROWS BETWEEN 6 PRECEDING AND CURRENT ROW), 4) AS ma7
FROM daily
"""


def q_doc_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-sequence packing (GPT-style concat-and-chunk): documents are
    concatenated in deterministic order and cut into fixed token-budget
    sequences; a doc starting past a budget boundary opens the next
    sequence. RNG-free and shard-parallel: docs are salted into P shards by
    an md5 prefix (engine-agnostic — no Spark/DuckDB hash() mismatch), the
    running token offset is a window cumsum WITHIN a shard, and
    seq = floor(offset/budget). Each shard packs independently, so at scale
    P grows with the corpus (P ≈ corpus_tokens / executor-task budget) and
    no task ever sorts more than one shard; the P=64 here is the small-SF
    instantiation of that knob. Output is one row per packed sequence."""
    P, BUDGET = 64, 2048
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    toks = docs.select(
        "doc_id",
        F.size(F.split("text", " ")).cast("long").alias("n_tokens"),
        (
            F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4), 16, 10)
            .cast("long") % P
        ).alias("shard"),
    )
    w = (
        Window.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    placed = toks.withColumn(
        "offset", F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
    ).withColumn("seq_id", F.floor(F.col("offset") / BUDGET))
    return (
        placed.groupBy("shard", "seq_id")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("seq_tokens"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
    )


ORACLE_DOC_PACK_SEQUENCES = """
WITH toks AS (
  SELECT doc_id,
         CAST(len(string_split(text, ' ')) AS BIGINT)       AS n_tokens,
         CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4)) AS BIGINT)
           % 64                                             AS shard
  FROM documents
), placed AS (
  SELECT shard, doc_id, n_tokens,
         COALESCE(sum(n_tokens) OVER (
           PARTITION BY shard ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS "offset"
  FROM toks
)
SELECT shard, CAST(floor("offset" / 2048) AS BIGINT) AS seq_id,
       count(*)                        AS n_docs,
       CAST(sum(n_tokens) AS BIGINT)   AS seq_tokens,
       min(doc_id)   AS first_doc,
       max(doc_id)   AS last_doc
FROM placed
GROUP BY 1, 2
"""


def q_revenue_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE aggregation (all 2^2 grouping sets over returnflag ×
    linestatus, with grouping_id disambiguating NULL-as-total from
    NULL-as-value). Complements the ROLLUP shape (`rollup_revenue`): CUBE
    runs through one Expand + one hash aggregate — the fact table is
    scanned once and each row fans to 4 grouping sets map-side, all
    partials combinable, so the cost at 100 TB is one scan + one shuffle
    of the (tiny) group domain."""
    li = _t(spark, sf_dir, "lineitem")
    rev_cents = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
    ).cast("long")
    return (
        li.cube("l_returnflag", "l_linestatus")
        .agg(
            (F.sum(rev_cents) / 100.0).alias("revenue"),
            F.count("*").alias("n_lines"),
            F.grouping_id().alias("gid"),
        )
    )


ORACLE_REVENUE_CUBE = """
SELECT l_returnflag, l_linestatus,
       sum(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT))
         / 100.0                                        AS revenue,
       count(*)                                         AS n_lines,
       CAST(grouping(l_returnflag) * 2 + grouping(l_linestatus) AS BIGINT)
                                                        AS gid
FROM lineitem
GROUP BY CUBE (l_returnflag, l_linestatus)
"""


def q_nation_activity_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER reconciliation: per-nation customer count vs supplier
    count, keeping nations present on either side only (and flagging which
    side is missing). Both inputs are pre-aggregated to nation granularity
    BEFORE the outer join — the join touches ≤ |nations| rows however big
    the base tables are."""
    c = (
        _t(spark, sf_dir, "customer")
        .groupBy(F.col("c_nationkey").alias("nationkey"))
        .agg(F.count("*").alias("n_customers"))
    )
    s = (
        _t(spark, sf_dir, "supplier")
        .groupBy(F.col("s_nationkey").alias("nationkey"))
        .agg(F.count("*").alias("n_suppliers"))
    )
    n = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("nationkey"), F.col("n_name").alias("nation")
    )
    return (
        c.join(s, "nationkey", "full_outer")
        .join(F.broadcast(n), "nationkey")
        .select(
            "nation",
            F.coalesce("n_customers", F.lit(0)).alias("n_customers"),
            F.coalesce("n_suppliers", F.lit(0)).alias("n_suppliers"),
            F.when(F.col("n_customers").isNull(), F.lit("suppliers_only"))
            .when(F.col("n_suppliers").isNull(), F.lit("customers_only"))
            .otherwise(F.lit("both"))
            .alias("presence"),
        )
    )


ORACLE_NATION_ACTIVITY_FULL_OUTER = """
WITH c AS (
  SELECT c_nationkey AS nationkey, count(*) AS n_customers
  FROM customer GROUP BY 1
), s AS (
  SELECT s_nationkey AS nationkey, count(*) AS n_suppliers
  FROM supplier GROUP BY 1
)
SELECT n_name AS nation,
       COALESCE(n_customers, 0) AS n_customers,
       COALESCE(n_suppliers, 0) AS n_suppliers,
       CASE WHEN n_customers IS NULL THEN 'suppliers_only'
            WHEN n_suppliers IS NULL THEN 'customers_only'
            ELSE 'both' END     AS presence
FROM c FULL OUTER JOIN s USING (nationkey)
JOIN nation ON n_nationkey = nationkey
"""


def q_concurrent_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per user session (30-min-gap sessionization, the `events_sessions`
    rule), how many OTHER users' sessions overlap it in time — computed by
    `operators.sweep.count_interval_overlaps`, the O(n log n) sweep
    identity (starts ≤ end_i) − (ends < start_i) − 1, with ZERO pair rows:
    a peak hour with s concurrent sessions costs 2n tagged point rows per
    pass, not ~s² pair candidates in one time cell (the prior
    interval_overlap_join plan — kept for pair-EMITTING consumers).
    Subtracting only self is exact here because same-user sessions are
    disjoint by construction: a >30-min event gap splits sessions, so
    consecutive same-user sessions are separated by >1800 s and can never
    overlap. The DuckDB oracle stays the naive non-equi self-join — an
    independent algorithm."""
    from hinbox_spark.operators.sweep import count_interval_overlaps

    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
    sessions = (
        e.withColumn(
            "new_session",
            F.when(gap.isNull() | (gap > 1800), 1).otherwise(0),
        )
        .withColumn("session_id", F.sum("new_session").over(w))
        .groupBy("user_id", "session_id")
        .agg(
            F.min("ts").alias("s_start"),
            F.max("ts").alias("s_end"),
        )
    ).localCheckpoint(eager=False)  # sessionize once, feed both sweep passes
    return count_interval_overlaps(
        sessions,
        key_cols=["user_id", "session_id"],
        start_col="s_start",
        end_col="s_end",
        out_col="n_concurrent",
    )


ORACLE_CONCURRENT_SESSIONS = """
WITH flagged AS (
  SELECT user_id, ts, event_id,
         CASE WHEN prev_ts IS NULL
              OR (epoch(ts) - epoch(prev_ts)) > 1800 THEN 1 ELSE 0 END AS new_session
  FROM (
    SELECT user_id, ts, event_id,
           lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
    FROM events
  )
), sess AS (
  SELECT user_id,
         CAST(sum(new_session) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS session_id,
         ts
  FROM flagged
), sessions AS (
  SELECT user_id, session_id, min(ts) AS s_start, max(ts) AS s_end
  FROM sess GROUP BY 1, 2
)
SELECT a.user_id, a.session_id,
       CAST(count(b.user_id) AS BIGINT) AS n_concurrent
FROM sessions a
LEFT JOIN sessions b
  ON a.user_id <> b.user_id
 AND a.s_start <= b.s_end AND b.s_start <= a.s_end
GROUP BY 1, 2
"""


def q_copurchase_bfs_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BFS k-hop neighborhood profile: from the lowest-custkey customer
    node, how many nodes sit at each exact hop distance ≤ 3 over the
    bidirected purchase graph (`operators/graph.bfs_distances` — one
    frontier⋈edges shuffle + one visited anti-join per hop, id-only rows,
    per-hop checkpoints keeping the plan O(1) in depth). The DuckDB oracle
    is an independent algorithm: a recursive CTE enumerating (node, dist)
    walks then taking min(dist) per node — so the iterative Spark BFS is
    value-verified end-to-end, not rows-only."""
    from hinbox_spark.operators.graph import bfs_distances

    e = _purchase_edges(spark, sf_dir)
    fwd = e.select(
        F.concat(F.lit("c:"), F.col("custkey")).alias("src"),
        F.concat(F.lit("s:"), F.col("suppkey")).alias("dst"),
    )
    bi = fwd.unionByName(
        fwd.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).localCheckpoint(eager=False)  # edge build runs once, reused per hop
    src_key = (
        _t(spark, sf_dir, "orders").agg(F.min("o_custkey").alias("k")).first()["k"]
    )
    sources = spark.createDataFrame([(f"c:{src_key}",)], "node_id string")
    dists = bfs_distances(bi, sources, max_hops=3)
    return (
        dists.groupBy("dist")
        .agg(F.count("*").alias("n_nodes"))
    )


ORACLE_COPURCHASE_BFS = """
WITH RECURSIVE e AS (
  SELECT DISTINCT 'c:' || o_custkey AS src, 's:' || l_suppkey AS dst
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
), bi AS (
  SELECT src, dst FROM e UNION ALL SELECT dst, src FROM e
), walk(node, dist) AS (
  SELECT 'c:' || min(o_custkey), 0 FROM orders
  UNION
  SELECT bi.dst, walk.dist + 1
  FROM walk JOIN bi ON bi.src = walk.node
  WHERE walk.dist < 3
), best AS (
  SELECT node, min(dist) AS dist FROM walk GROUP BY node
)
SELECT CAST(dist AS BIGINT) AS dist, count(*) AS n_nodes
FROM best
GROUP BY 1
"""


def q_events_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily-volume anomaly detection per event type: z-score of each
    day's count against the TRAILING 7 days (window ends at 1 PRECEDING —
    the tested day never contaminates its own baseline). All window inputs
    are exact integer sums (Σn, Σn², count over the frame) and the
    variance is computed from them with one explicit formula, so both
    engines run the identical float expression — no engine-specific
    Welford/two-pass stddev divergence can flip the value hash. The window
    runs over the (type × day) aggregate, never raw events. Emits only
    days with a defined baseline (≥ 2 prior days, positive variance) and
    |z| rounded to 4dp."""
    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.date_format("ts", "yyyy-MM-dd").alias("day")
    ).agg(F.count("*").alias("n_events"))
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(-7, -1)
    )
    s1 = F.sum("n_events").over(w).cast("double")
    s2 = F.sum(F.col("n_events") * F.col("n_events")).over(w).cast("double")
    cnt = F.count("n_events").over(w).cast("double")
    # ANSI mode: guard every division (days with < 2 prior days would
    # otherwise hit cnt-1 = 0 while the projection is computed, before the
    # filter can drop them); the guard keeps the same exact float formula
    # on the surviving rows
    var = F.when(cnt >= 2, (s2 - s1 * s1 / cnt) / (cnt - 1))
    z = F.when(var > 0, (F.col("n_events") - s1 / cnt) / F.sqrt(var))
    return (
        daily.withColumn("_z", z)
        .filter(F.col("_z").isNotNull())
        .select(
            "event_type",
            "day",
            "n_events",
            F.round("_z", 4).alias("zscore"),
        )
    )


ORACLE_EVENTS_ANOMALY = """
WITH daily AS (
  SELECT event_type, strftime(ts, '%Y-%m-%d') AS day, count(*) AS n_events
  FROM events GROUP BY 1, 2
), stats AS (
  SELECT event_type, day, n_events,
         CAST(sum(n_events) OVER w AS DOUBLE)              AS s1,
         CAST(sum(n_events * n_events) OVER w AS DOUBLE)   AS s2,
         CAST(count(n_events) OVER w AS DOUBLE)            AS cnt
  FROM daily
  WINDOW w AS (PARTITION BY event_type ORDER BY day
               ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING)
)
SELECT event_type, day, n_events,
       round((n_events - s1 / cnt) / sqrt((s2 - s1 * s1 / cnt) / (cnt - 1)), 4)
         AS zscore
FROM stats
WHERE cnt >= 2 AND (s2 - s1 * s1 / cnt) / (cnt - 1) > 0
"""


def q_order_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width histogram of order values: 20 fixed bins over a
    deterministic [0, 600k) range (fixed bounds, not data-derived — two
    scans would otherwise be needed and cross-engine float min/max could
    shift bin edges). Bin arithmetic on integer cents; one
    map-side-combinable aggregate."""
    o = _t(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    bin_w = 60_000_000 // 20  # 600k dollars in cents / 20 bins
    b = F.least(F.floor(cents / bin_w).cast("long"), F.lit(19))
    return (
        o.groupBy(b.alias("bin"))
        .agg(
            F.count("*").alias("n_orders"),
            (F.sum(cents) / 100.0).alias("bin_value"),
        )
    )


ORACLE_ORDER_HISTOGRAM = """
WITH c AS (
  SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders
)
SELECT LEAST(CAST(floor(cents / 3000000) AS BIGINT), 19) AS bin,
       count(*)                                          AS n_orders,
       CAST(sum(cents) AS BIGINT) / 100.0                AS bin_value
FROM c
GROUP BY 1
"""


def q_doc_quality_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile stratification: exact ntile(4) over a deterministic total
    order (score desc, doc_id as the unique tie-break) → per-quartile
    corpus stats. Runs through `operators/ranking.distributed_ntile` —
    range-partition + local sort + offset fold — because a bare
    `Window.orderBy` ntile plans as Exchange SinglePartition (the whole
    corpus sorted in ONE task, the mega-task anti-pattern). Only
    (score, doc_id) pairs ride the ranged sort; results are bit-identical
    to SQL ntile (the DuckDB oracle IS the window ntile — an independent
    algorithm)."""
    from hinbox_spark.operators.ranking import distributed_ntile

    d = _t(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    n_toks = F.size(toks)
    score = (n_toks * 1000 + F.length("text")).cast("long")  # deterministic proxy
    scored = d.select("doc_id", score.alias("score"))
    tiled = distributed_ntile(
        scored, 4, [F.desc("score"), F.asc("doc_id")], tile_col="quartile"
    )
    return (
        tiled.groupBy("quartile")
        .agg(
            F.count("*").alias("n_docs"),
            F.min("score").alias("min_score"),
            F.max("score").alias("max_score"),
        )
    )


ORACLE_DOC_QUALITY_QUARTILES = """
WITH scored AS (
  SELECT doc_id,
         CAST(len(string_split(text, ' ')) * 1000 + length(text) AS BIGINT)
           AS score
  FROM documents
), tiled AS (
  SELECT ntile(4) OVER (ORDER BY score DESC, doc_id) AS quartile, score
  FROM scored
)
SELECT quartile, count(*) AS n_docs,
       min(score) AS min_score, max(score) AS max_score
FROM tiled
GROUP BY 1
"""


def q_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape — pure scan + conjunctive filter + scalar aggregate.
    Every predicate is a parquet-pushable comparison and the projection is
    2 columns, so at 100 TB this is a row-group-pruned scan of exactly
    (l_extendedprice, l_discount) with zero shuffle (partial aggregation
    map-side, one final combine)."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        ).agg(
            F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2)
            .alias("forecast_revenue"),
            F.count("*").alias("n_lineitems"),
        )
    )


ORACLE_FORECAST_REVENUE = """
SELECT round(sum(l_extendedprice * l_discount), 2) AS forecast_revenue,
       count(*) AS n_lineitems
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1997-01-01'
  AND l_shipdate <  TIMESTAMP '1998-01-01'
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24
"""


def q_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape adapted to this schema (lineitem is the part↔supplier
    bridge; there is no partsupp table): for each SMALL part, the EUROPE
    supplier offering the minimum observed unit price. The reference Q2's
    correlated MIN subquery is rewritten as a window argmin with a
    deterministic suppkey tie-break. The only shuffle is the
    (part, supplier) pre-aggregate; supplier/nation/region/part dims are
    broadcast. unit_cost uses MIN (exact, order-independent) rather than
    AVG so the value hash can't flip on float accumulation order, and the
    displayed values use floor-scaling instead of round() — engines
    disagree on round()'s half-boundary doubles (438.07875 → .0787 vs
    .0788 at sf0.1) while x*10^k and floor are bit-identical IEEE ops."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    eu_sup = (
        s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(
            F.broadcast(r.filter(F.col("r_name") == "EUROPE")),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    parts = p.filter((F.col("p_type") == "SMALL") & (F.col("p_size") <= 15))
    # pre-filter the fact side with a broadcast semi-join on the SMALL
    # part keys BEFORE the (part, supplier) aggregate — only ~1/10 of
    # lineitem rows survive the part filter, so the query's single
    # shuffle carries a tenth of the groups (guide §3.4; same rows out)
    cost = (
        li.join(
            F.broadcast(parts.select("p_partkey")),
            li.l_partkey == F.col("p_partkey"),
            "left_semi",
        )
        .groupBy("l_partkey", "l_suppkey")
        .agg(
            F.min(
                F.col("l_extendedprice") / F.col("l_quantity")
            ).alias("unit_cost")
        )
    )
    w = Window.partitionBy("p_partkey").orderBy(
        F.asc("unit_cost"), F.asc("s_suppkey")
    )
    return (
        cost.join(F.broadcast(eu_sup), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(parts), F.col("l_partkey") == F.col("p_partkey"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "p_partkey",
            "p_name",
            "s_name",
            F.col("n_name").alias("nation"),
            (F.floor(F.col("s_acctbal") * 100) / 100).alias("s_acctbal"),
            (F.floor(F.col("unit_cost") * 10000) / 10000).alias("unit_cost"),
        )
    )


ORACLE_MIN_COST_SUPPLIER = """
WITH eu_sup AS (
  SELECT s_suppkey, s_name, s_acctbal, n_name
  FROM supplier
  JOIN nation ON s_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey
  WHERE r_name = 'EUROPE'
), cost AS (
  SELECT l_partkey, l_suppkey,
         min(l_extendedprice / l_quantity) AS unit_cost
  FROM lineitem GROUP BY 1, 2
)
SELECT p_partkey, p_name, s_name, n_name AS nation,
       floor(s_acctbal * 100) / 100 AS s_acctbal,
       floor(unit_cost * 10000) / 10000 AS unit_cost
FROM (
  SELECT p_partkey, p_name, s_name, n_name, s_acctbal, unit_cost,
         row_number() OVER (PARTITION BY p_partkey
                            ORDER BY unit_cost ASC, s_suppkey ASC) AS rn
  FROM cost
  JOIN eu_sup ON l_suppkey = s_suppkey
  JOIN part   ON l_partkey = p_partkey
  WHERE p_type = 'SMALL' AND p_size <= 15
) WHERE rn = 1
"""


def q_dominant_part_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape adapted (no partsupp availqty): suppliers who moved
    an outsized share — more than half of a 'small %' part's total 1997
    volume — of at least one part, i.e. Q20's 'quantity > 0.5 * shipped'
    threshold re-anchored on the part's own total. The per-part total is a
    window sum OVER the shuffled (part, supplier) pre-aggregate — one
    lineitem scan total (plan-asserted), with the window running on the
    already-tiny aggregate, not the fact table; supplier dim broadcast for
    the name join. l_quantity values are integral doubles, so the sums and
    the 0.5× comparison are exact on both engines."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    s = _t(spark, sf_dir, "supplier")
    small_parts = p.filter(F.col("p_name").startswith("small")).select("p_partkey")
    ps = (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
        )
        .join(F.broadcast(small_parts), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.sum("l_quantity").alias("qty"))
    )
    part_w = Window.partitionBy("l_partkey")
    dominant = ps.withColumn("part_qty", F.sum("qty").over(part_w)).filter(
        F.col("qty") > 0.5 * F.col("part_qty")
    )
    return (
        dominant.groupBy("l_suppkey")
        .agg(
            F.count("*").alias("n_dominated_parts"),
            F.round(F.sum("qty"), 2).alias("dominated_qty"),
        )
        .join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .select(
            "s_suppkey", "s_name", "n_dominated_parts", "dominated_qty"
        )
    )


ORACLE_DOMINANT_PART_SUPPLIERS = """
WITH ps AS (
  SELECT l_partkey, l_suppkey, sum(l_quantity) AS qty
  FROM lineitem
  JOIN part ON l_partkey = p_partkey
  WHERE l_shipdate >= TIMESTAMP '1997-01-01'
    AND l_shipdate <  TIMESTAMP '1998-01-01'
    AND p_name LIKE 'small%'
  GROUP BY 1, 2
), part_tot AS (
  SELECT l_partkey, sum(qty) AS part_qty FROM ps GROUP BY 1
)
SELECT s_suppkey, s_name,
       count(*) AS n_dominated_parts,
       round(sum(qty), 2) AS dominated_qty
FROM ps
JOIN part_tot USING (l_partkey)
JOIN supplier ON l_suppkey = s_suppkey
WHERE qty > 0.5 * part_qty
GROUP BY 1, 2
"""


_SPAN_L = 8  # words per exact-match window (Lee et al. 2022 use ~50 BPE
# tokens; scaled to this corpus's short synthetic docs)


def q_doc_exact_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact duplicated-substring spans (Lee et al. 2022, "Deduplicating
    Training Data Makes Language Models Better" — the ExactSubstr
    criterion): every maximal word span of length ≥ {_SPAN_L} that appears
    verbatim in ≥2 distinct documents, reported per document as
    (doc_id, span_start, span_words). The suffix-array formulation of the
    paper is inherently single-machine; the distributed re-expression is
    positional shingling: every doc emits its length-L windows WITH
    position, windows shared across ≥2 docs are found by a groupBy on the
    window content, and surviving positions merge into maximal spans with
    a per-doc gaps-and-islands fold (pos − row_number is constant within
    a run of consecutive positions).

    Scale shape: the groupBy on the window content is the only corpus-wide
    shuffle and it map-side combines; the hit→span merge windows partition
    BY DOC (bounded per-doc work, never a global sort). At 10¹² docs you
    would group on a 128-bit hash of the window instead of its text
    (collision probability ≪ corpus size⁻¹) — text is kept here so the
    DuckDB oracle is exact, and the note is the only delta. Within-doc
    repeats are NOT flagged (cross-doc distinct count ≥ 2), matching the
    oracle."""
    from hinbox_spark.partitioning import spread_for_compute

    # spread the Python positional-gram pass (single-split scan → one
    # task otherwise; guide §2.2)
    d = spread_for_compute(
        _t(spark, sf_dir, "documents").select("doc_id", "text"), ["doc_id"]
    )

    # positional windows via a vectorized Arrow UDF — the interpreted
    # transform/slice/concat_ws chain gets no codegen and measured ~5×
    # slower on the sibling shingle path (see _shingle_set_udf); the
    # exploded frame is lazily checkpointed because BOTH the dup groupBy
    # and the hits join consume it (it was planned and computed twice)
    @F.pandas_udf("array<struct<pos:int,gram:string>>")
    def _pos_grams(texts: pd.Series) -> pd.Series:
        n = _SPAN_L

        def gr(t):
            w = (t or "").split(" ")
            if len(w) < n:
                return []
            return [
                (i + 1, " ".join(w[i : i + n])) for i in range(len(w) - n + 1)
            ]

        return texts.map(gr)

    g = (
        d.select("doc_id", F.explode(_pos_grams(F.col("text"))).alias("g"))
        .select(
            "doc_id", F.col("g.pos").alias("pos"), F.col("g.gram").alias("gram")
        )
        .localCheckpoint(eager=False)
    )
    dup = (
        g.groupBy("gram")
        .agg(F.count_distinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("gram")
    )
    # hit join reuses the gram hash partitioning from the groupBy; the
    # dup side is the aggregate output (small), the big side shuffles once
    hits = g.join(dup, "gram").select("doc_id", "pos")
    doc_w = Window.partitionBy("doc_id").orderBy("pos")
    islands = hits.withColumn(
        "island", F.col("pos") - F.row_number().over(doc_w)
    )
    return (
        islands.groupBy("doc_id", "island")
        .agg(
            F.min("pos").alias("span_start"),
            (F.max("pos") - F.min("pos") + _SPAN_L)
            .cast("long")
            .alias("span_words"),
        )
        .select("doc_id", "span_start", "span_words")
        .orderBy("doc_id", "span_start")
    )


ORACLE_EXACT_SUBSTRING_SPANS = f"""
WITH words AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
grams AS (
  SELECT doc_id, g AS pos, array_to_string(w[g:g+{_SPAN_L - 1}], ' ') AS gram
  FROM words,
       unnest(generate_series(1, greatest(len(w) - {_SPAN_L - 1}, 0))) AS t(g)
),
dup AS (SELECT gram FROM grams GROUP BY gram HAVING count(DISTINCT doc_id) >= 2),
hits AS (
  SELECT doc_id, pos,
         pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS island
  FROM grams JOIN dup USING (gram)
)
SELECT doc_id, min(pos) AS span_start,
       CAST(max(pos) - min(pos) + {_SPAN_L} AS BIGINT) AS span_words
FROM hits GROUP BY doc_id, island
ORDER BY doc_id, span_start
"""


def q_doc_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub pass (functions/pii.py): detect + redact emails, NANP
    phones, and IPv4s per document. The synthetic corpus carries no
    natural PII, so the query deterministically plants it from doc_id
    (identically in the oracle SQL) — every doc gets an email, every
    3rd a phone, every 5th an IP — making the per-doc counts AND the
    md5 of the redacted text a real engine-vs-engine check of the
    regex + replacement semantics. Zero UDFs, zero shuffles before the
    final sort: the scrub is one codegen'd projection, which is what a
    100-TB pass must be."""
    from hinbox_spark.functions.pii import pii_count, redact_pii
    from hinbox_spark.partitioning import spread_for_compute

    # the regex chain (3 counts + 2 redactions per doc) runs inside the
    # single-split scan task — spread it (A/B: 1.05 s serial vs 0.72 s
    # spread, r6); no-op at scale where the scan splits
    d = spread_for_compute(
        _t(spark, sf_dir, "documents").select("doc_id", "text"), ["doc_id"]
    )
    did = F.col("doc_id")
    planted = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        did.cast("string"),
        F.lit("@mail"),
        (did % 7).cast("string"),
        F.lit(".example.com"),
        F.when(
            did % 3 == 0,
            F.concat(
                F.lit(" call 555-"),
                ((did % 900) + 100).cast("string"),
                F.lit("-"),
                F.lpad((did % 10000).cast("string"), 4, "0"),
            ),
        ).otherwise(F.lit("")),
        F.when(
            did % 5 == 0,
            F.concat(
                F.lit(" from 10."),
                (did % 256).cast("string"),
                F.lit(".0."),
                ((did * 7) % 256).cast("string"),
            ),
        ).otherwise(F.lit("")),
    )
    aug = d.select("doc_id", planted.alias("aug"))
    return aug.select(
        "doc_id",
        pii_count(F.col("aug"), "email").alias("n_email"),
        pii_count(F.col("aug"), "phone").alias("n_phone"),
        pii_count(F.col("aug"), "ipv4").alias("n_ipv4"),
        F.length(redact_pii(F.col("aug"))).alias("redacted_len"),
        F.md5(redact_pii(F.col("aug"))).alias("redacted_md5"),
    ).orderBy("doc_id")


# NOTE: pattern strings below are the same RE2-safe literals as
# functions/pii.py PII_PATTERNS — keep in lock-step.
ORACLE_DOC_PII = r"""
WITH aug AS (
  SELECT doc_id,
         text || ' contact user' || CAST(doc_id AS VARCHAR)
              || '@mail' || CAST(doc_id % 7 AS VARCHAR) || '.example.com'
              || CASE WHEN doc_id % 3 = 0
                      THEN ' call 555-' || CAST((doc_id % 900) + 100 AS VARCHAR)
                           || '-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                      ELSE '' END
              || CASE WHEN doc_id % 5 = 0
                      THEN ' from 10.' || CAST(doc_id % 256 AS VARCHAR)
                           || '.0.' || CAST((doc_id * 7) % 256 AS VARCHAR)
                      ELSE '' END AS aug
  FROM documents
),
red AS (
  SELECT doc_id, aug,
         regexp_replace(
           regexp_replace(
             regexp_replace(aug,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
             '\b\d{3}[-.]\d{3}[-.]\d{4}\b', '<PHONE>', 'g'),
           '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IPV4>', 'g') AS redacted
  FROM aug
)
SELECT doc_id,
       CAST(len(regexp_extract_all(aug, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', 0)) AS INT) AS n_email,
       CAST(len(regexp_extract_all(aug, '\b\d{3}[-.]\d{3}[-.]\d{4}\b', 0)) AS INT)                    AS n_phone,
       CAST(len(regexp_extract_all(aug, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', 0)) AS INT)         AS n_ipv4,
       CAST(length(redacted) AS INT)                                                                  AS redacted_len,
       md5(redacted)                                                                                  AS redacted_md5
FROM red
ORDER BY doc_id
"""


def q_doc_unigram_rarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM document scoring: fit the LM (global token counts)
    over the corpus, score every doc by its tokens' corpus frequencies
    — the classic quality/rarity gate a training pipeline runs before
    perplexity filtering. Two map-side-combinable aggregations plus one
    vocab join; the vocab is zipf-bounded (≪ corpus size) so at 100 TB
    it broadcast-joins, and the token explode never leaves its scan
    stage. Scores are integer-exact (counts + floor-scaled mean — the
    min_cost_supplier convention) so the cross-engine hash can't flake
    on transcendental rounding."""
    d = _t(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("w")
    ).filter(F.col("w") != "")
    vocab = toks.groupBy("w").agg(F.count("*").alias("cnt"))
    return (
        toks.join(F.broadcast(vocab), "w")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.sum("cnt").alias("freq_mass"),
            F.min("cnt").alias("rarest_count"),
            F.floor(F.lit(10000) * F.sum("cnt") / F.count("*")).alias(
                "avg_tok_freq_e4"
            ),
        )
        .orderBy("doc_id")
    )


ORACLE_DOC_UNIGRAM_RARITY = """
WITH toks AS (
  SELECT doc_id, w
  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents)
  WHERE w <> ''
),
vocab AS (SELECT w, count(*) AS cnt FROM toks GROUP BY w)
SELECT doc_id,
       count(*)                                         AS n_tokens,
       CAST(sum(cnt) AS BIGINT)                         AS freq_mass,
       min(cnt)                                         AS rarest_count,
       CAST(floor(10000 * sum(cnt) / count(*)) AS BIGINT) AS avg_tok_freq_e4
FROM toks JOIN vocab USING (w)
GROUP BY doc_id
ORDER BY doc_id
"""


def q_emb_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive-training pair mining: for each query vector, the
    best same-label neighbor (the positive) and the best cross-label
    neighbor (the hard negative), plus their cosine margin — the
    (anchor, positive, hard-negative) triple an embedding-training
    pipeline materializes per batch. Same plan family as knn_top5:
    queries broadcast against the candidate scan, JVM-side dot
    products, one window per (query, same_label) side, no Python. At
    100 TB the brute-force candidate scan swaps for the LSH/IVF/PQ
    prefilters in operators/ann.py — this query IS the exact re-rank
    those paths share."""
    e = _t(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("qlabel"),
        F.col("embedding").alias("qvec"),
    )
    # spread the single-split candidate scan: the per-pair dots execute
    # inside its tasks under the broadcast cross join (guide §2.2)
    from hinbox_spark.partitioning import spread_for_compute

    cand = spread_for_compute(e, ["vec_id"]).select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("label").alias("clabel"),
        "embedding",
    )
    dot = F.expr(
        "aggregate(zip_with(qvec, embedding, (a, b) ->"
        " CAST(a AS DOUBLE) * CAST(b AS DOUBLE)), 0.0D, (acc, x) -> acc + x)"
    )
    nq = F.expr(
        "sqrt(aggregate(qvec, 0.0D, (acc, x) -> acc + CAST(x AS DOUBLE)*CAST(x AS DOUBLE)))"
    )
    nc = F.expr(
        "sqrt(aggregate(embedding, 0.0D, (acc, x) -> acc + CAST(x AS DOUBLE)*CAST(x AS DOUBLE)))"
    )
    same = (F.col("qlabel") == F.col("clabel")).alias("same_label")
    w = Window.partitionBy("query_id", "same_label").orderBy(
        F.desc("cos"), F.asc("neighbor_id")
    )
    best = (
        # norms stamped per side before the pair join — not re-evaluated
        # per pair (identical expressions/values; see q_emb_neighbor_pool)
        F.broadcast(q.filter(nq > 0).withColumn("nq", nq))
        .crossJoin(cand.filter(nc > 0).withColumn("nc", nc))
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cos", dot / (F.col("nq") * F.col("nc")))
        .withColumn("same_label", same)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
    )
    pick = lambda flag, col: F.max(  # noqa: E731 — one winner per side
        F.when(F.col("same_label") == flag, F.col(col))
    )
    return (
        best.groupBy("query_id")
        .agg(
            pick(True, "neighbor_id").alias("pos_id"),
            F.round(pick(True, "cos"), 6).alias("pos_cos"),
            pick(False, "neighbor_id").alias("neg_id"),
            F.round(pick(False, "cos"), 6).alias("neg_cos"),
            F.round(pick(True, "cos") - pick(False, "cos"), 6).alias("margin"),
        )
        .orderBy("query_id")
    )


ORACLE_EMB_HARD_NEGATIVES = """
WITH scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         (q.label = c.label) AS same_label,
         list_cosine_similarity(
             list_transform(q.embedding, x -> CAST(x AS DOUBLE)),
             list_transform(c.embedding, x -> CAST(x AS DOUBLE))) AS cos,
         row_number() OVER (
             PARTITION BY q.vec_id, (q.label = c.label)
             ORDER BY list_cosine_similarity(
                 list_transform(q.embedding, x -> CAST(x AS DOUBLE)),
                 list_transform(c.embedding, x -> CAST(x AS DOUBLE))) DESC,
             c.vec_id ASC) AS rn
  FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
  WHERE q.vec_id < 20
    AND sqrt(list_sum(list_transform(q.embedding,
            x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) > 0
    AND sqrt(list_sum(list_transform(c.embedding,
            x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) > 0
)
SELECT query_id,
       max(CASE WHEN same_label THEN neighbor_id END)            AS pos_id,
       round(max(CASE WHEN same_label THEN cos END), 6)          AS pos_cos,
       max(CASE WHEN NOT same_label THEN neighbor_id END)        AS neg_id,
       round(max(CASE WHEN NOT same_label THEN cos END), 6)      AS neg_cos,
       round(max(CASE WHEN same_label THEN cos END)
             - max(CASE WHEN NOT same_label THEN cos END), 6)    AS margin
FROM scored WHERE rn = 1
GROUP BY query_id
ORDER BY query_id
"""


def q_copurchase_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KG link prediction over the bipartite purchase graph: rank customer
    pairs by the Jaccard similarity of their supplier neighborhoods —
    the common-neighbors score a KG-completion pass uses to propose
    missing same-as / related-to edges between entity nodes. Runs on
    operators/graph.neighbor_jaccard_topk: n_shared is the Gram matrix
    A·Aᵀ of the customer × supplier incidence matrix, computed as a
    broadcast-block float32 GEMM with per-block local top-k — no Σ deg²
    pair shuffle (172M rows at sf0.1 under the naive per-supplier
    self-join). Past the dense cap the operator falls back to the
    packed-pair-key counting join; at web scale the MinHash variant
    below is the candidate generator and this exact form the bounded
    re-rank. The Jaccard is a ratio of the SAME integers in both
    engines, so IEEE division makes the ordering bit-identical."""
    from hinbox_spark.operators.graph import neighbor_jaccard_topk

    # base-table upper bounds for the size probe: |edges| <= |lineitem|,
    # |keys| <= |customer|, |items| <= |supplier| — three metadata-cheap
    # counts that, when under the caps, prove the dense path safe without
    # the full-pass 3-way count-distinct probe over the joined edge list
    # (guide §1.2: don't compute what a cheaper bound already answers);
    # read from parquet footers (no job) with a count() fallback
    bounds = (
        _t_rowcount(spark, sf_dir, "lineitem"),
        _t_rowcount(spark, sf_dir, "customer"),
        _t_rowcount(spark, sf_dir, "supplier"),
    )
    top = neighbor_jaccard_topk(
        _purchase_edges(spark, sf_dir), "custkey", "suppkey", k=15,
        probe_bounds=bounds,
    )
    return top.select(
        F.col("key_a").alias("cust_a"),
        F.col("key_b").alias("cust_b"),
        "n_shared",
        "deg_a",
        "deg_b",
        F.round("jaccard", 6).alias("jaccard"),
    )


ORACLE_LINK_PREDICTION = """
WITH e AS (
  SELECT DISTINCT o_custkey AS custkey, l_suppkey AS suppkey
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
), deg AS (
  SELECT custkey, count(*) AS deg FROM e GROUP BY 1
), shared AS (
  SELECT a.custkey AS cust_a, b.custkey AS cust_b, count(*) AS n_shared
  FROM e a JOIN e b ON a.suppkey = b.suppkey AND a.custkey < b.custkey
  GROUP BY 1, 2
)
SELECT cust_a, cust_b, n_shared, da.deg AS deg_a, db.deg AS deg_b,
       round(n_shared / CAST(da.deg + db.deg - n_shared AS DOUBLE), 6)
           AS jaccard
FROM shared
JOIN deg da ON da.custkey = cust_a
JOIN deg db ON db.custkey = cust_b
ORDER BY n_shared / CAST(da.deg + db.deg - n_shared AS DOUBLE) DESC,
         cust_a ASC, cust_b ASC
LIMIT 15
"""


def q_emb_dedup_keepers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic dedup RESOLUTION over embeddings: cosine
    near-dup pairs (≥ 0.45, the emb_near_dup_pairs criterion) → connected
    components (the pipeline's J11 operator) → min-vec_id keeper per
    cluster. Completes the dedup-resolution family: doc_dedup_keepers
    resolves MinHash-LSH text pairs, this resolves embedding-space pairs
    — together they are the RefinedWeb / SemDeDup two-track keeper
    pipeline. At 100 TB the pair stage swaps brute cosine for the LSH /
    IVF / PQ prefilters in operators/ann.py; the CC + keeper stages are
    unchanged. Oracle: independent DuckDB recursive-CTE closure over the
    same pair graph (singleton clusters excluded on both sides)."""
    from hinbox_spark.operators.clustering import connected_components
    from hinbox_spark.operators.dedup import embedding_cosine_near_duplicates

    emb = _t(spark, sf_dir, "embeddings")
    pairs = embedding_cosine_near_duplicates(emb, threshold=0.45)
    edges = pairs.select(
        F.col("vec_a").cast("string").alias("src"),
        F.col("vec_b").cast("string").alias("dst"),
    ).localCheckpoint(eager=False)  # cosine-pair DAG feeds nodes + CC's
    # probe/collect actions (see doc_dedup_keepers)
    nodes = (
        edges.select(F.col("src").alias("node_id"))
        .unionByName(edges.select(F.col("dst").alias("node_id")))
        .distinct()
    )
    labels = connected_components(nodes, edges).select(
        F.col("node_id").cast("long").alias("vec_id"),
        F.col("cluster_id").cast("long").alias("cluster"),
    )
    return (
        labels.groupBy("cluster")
        .agg(
            F.min("vec_id").alias("keeper_id"),
            F.count("*").alias("n_members"),
            (F.count("*") - F.lit(1)).alias("n_dropped"),
        )
        .filter(F.col("n_members") > 1)
        .select("keeper_id", "n_members", "n_dropped")
    )


ORACLE_EMB_DEDUP_KEEPERS = """
WITH RECURSIVE pairs AS (
  SELECT a.vec_id AS va, b.vec_id AS vb
  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
  WHERE list_cosine_similarity(
          list_transform(a.embedding, x -> CAST(x AS DOUBLE)),
          list_transform(b.embedding, x -> CAST(x AS DOUBLE))) >= 0.45
), edges AS (
  SELECT va AS a, vb AS b FROM pairs UNION SELECT vb, va FROM pairs
), nodes AS (
  SELECT DISTINCT a AS node FROM edges
), reach(node, label) AS (
  SELECT node, node FROM nodes
  UNION
  SELECT edges.b, reach.label FROM reach JOIN edges ON edges.a = reach.node
), lab AS (
  SELECT node, min(label) AS cluster FROM reach GROUP BY node
)
SELECT CAST(min(node) AS BIGINT) AS keeper_id,
       count(*) AS n_members,
       count(*) - 1 AS n_dropped
FROM lab GROUP BY cluster HAVING count(*) > 1
"""


def q_doc_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic quality-classifier pass: a linear log-odds score over
    cheap lexical features (stopword ratio, punctuation density, length,
    chars-per-token) — the shape of a fastText/logistic quality filter
    with the learned weights frozen, scoring the whole corpus in pure
    JVM column arithmetic (no model server, no Python). Every feature is
    a RATIO OF INTEGERS and the score is +/× of those ratios — no
    transcendentals — so Spark and DuckDB produce bit-identical doubles.
    Emits the per-source keep/drop funnel a corpus-curation run reports.
    Scale: one scan, map-side partial agg; the keep decision would push
    into the training_corpus_filter gate chain as one more conjunct."""
    d = _t(spark, sf_dir, "documents")
    toks = F.size(F.split(F.col("text"), " ")).cast("double")
    stop = F.expr(
        "size(filter(split(text, ' '), x -> x IN ('the', 'a')))"
    ).cast("double") / toks
    punct = (
        F.length("text")
        - F.length(F.translate(F.col("text"), ".,!?;", ""))
    ).cast("double") / F.col("n_chars").cast("double")
    length_feat = F.least(toks, F.lit(500.0)) / F.lit(500.0)
    cpt = F.col("n_chars").cast("double") / toks
    z = (
        F.lit(2.5) * stop - F.lit(8.0) * punct + length_feat
        - cpt / F.lit(20.0)
    )
    return (
        d.withColumn("z", z)
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.count(F.when(F.col("z") > 0, 1)).alias("n_keep"),
            F.round(F.avg("z"), 4).alias("avg_score"),
            F.round(F.min("z"), 6).alias("min_score"),
            F.round(F.max("z"), 6).alias("max_score"),
        )
    )


ORACLE_DOC_QUALITY_CLASSIFIER = """
WITH scored AS (
  SELECT source,
         2.5 * (len(list_filter(string_split(text, ' '),
                                x -> x IN ('the', 'a')))
                / CAST(len(string_split(text, ' ')) AS DOUBLE))
         - 8.0 * ((length(text)
                   - length(replace(replace(replace(replace(replace(
                       text, '.', ''), ',', ''), '!', ''), '?', ''),
                       ';', '')))
                  / CAST(n_chars AS DOUBLE))
         + least(CAST(len(string_split(text, ' ')) AS DOUBLE), 500.0) / 500.0
         - (n_chars / CAST(len(string_split(text, ' ')) AS DOUBLE)) / 20.0
         AS z
  FROM documents
)
SELECT source,
       count(*) AS n_docs,
       count(CASE WHEN z > 0 THEN 1 END) AS n_keep,
       round(avg(z), 4) AS avg_score,
       round(min(z), 6) AS min_score,
       round(max(z), 6) AS max_score
FROM scored GROUP BY source
"""


def q_doc_length_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-bucketed batching stats: bucket documents by token count
    into width-64 buckets and report, per bucket, the doc count, the
    real token mass, the padded token mass (every doc padded to the
    bucket ceiling — how a fixed-shape training batch allocates), and
    the waste — the padding-efficiency table a pretraining dataloader
    is tuned against. All-integer arithmetic end to end (bucket id,
    sums, waste), so the oracle comparison is exact. Scale: one scan +
    one tiny groupBy on the bucket id; no joins, no windows."""
    d = _t(spark, sf_dir, "documents")
    toks = F.size(F.split(F.col("text"), " ")).cast("long")
    bucket = (F.floor(toks / F.lit(64)) * 64).cast("long")
    ceiling = bucket + F.lit(64)
    return (
        d.select(
            bucket.alias("bucket_start"),
            toks.alias("toks"),
            (ceiling - toks).alias("waste"),
            ceiling.alias("cap"),
        )
        .groupBy("bucket_start")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("toks").alias("total_tokens"),
            F.sum("cap").alias("padded_tokens"),
            F.sum("waste").alias("padding_waste"),
        )
    )


ORACLE_DOC_LENGTH_BUCKETS = """
WITH t AS (
  SELECT CAST(len(string_split(text, ' ')) AS BIGINT) AS toks FROM documents
), b AS (
  SELECT (toks // 64) * 64 AS bucket_start, toks,
         (toks // 64) * 64 + 64 AS cap
  FROM t
)
SELECT bucket_start,
       count(*) AS n_docs,
       CAST(sum(toks) AS BIGINT) AS total_tokens,
       CAST(sum(cap) AS BIGINT) AS padded_tokens,
       CAST(sum(cap - toks) AS BIGINT) AS padding_waste
FROM b GROUP BY bucket_start
"""


def q_corpus_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy hitters via a count-min sketch (operators/sketches.py): one
    scan builds a 4×2048 cell table whose shuffle volume is O(tasks ×
    depth × width) — independent of token count — then the exact top-15
    vocabulary terms are point-estimated against the broadcast sketch.
    Output carries BOTH the true and the sketch count, so the contract
    row set also witnesses the CMS guarantee (est ≥ true; overcount ≤ εN,
    pinned in tests/test_sketches.py along with exact shard-merge).
    Rows-only in the driver contract: the cell hashing is Spark's seeded
    xxhash64, which DuckDB cannot reproduce. At 10¹² tokens the exact
    top-k side comes from skew.bounded_topk's tournament (as in
    corpus_vocab_topk); the sketch side is unchanged."""
    from hinbox_spark.operators.sketches import cms_estimate, count_min_sketch

    d = _t(spark, sf_dir, "documents")
    toks = d.select(F.explode(F.split(F.col("text"), " ")).alias("token"))
    sketch = count_min_sketch(toks, "token", depth=4, width=2048)
    top = (
        toks.groupBy("token")
        .agg(F.count("*").alias("true_cnt"))
        .orderBy(F.desc("true_cnt"), F.asc("token"))
        .limit(15)
    )
    est = cms_estimate(sketch, top, "token", depth=4, width=2048)
    return (
        est.select(
            "token", "true_cnt", "est_cnt",
            (F.col("est_cnt") - F.col("true_cnt")).alias("overcount"),
        )
        .orderBy(F.desc("true_cnt"), F.asc("token"))
    )


def q_copurchase_link_prediction_minhash(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """SCALE PATH for copurchase_link_prediction: set-MinHash signatures
    over supplier neighbor sets (pure JVM min-of-xxhash64 aggregates, no
    Python) → banded LSH buckets with the dedup family's broadcast
    anti-join cap → exact-Jaccard re-rank on the surviving candidates
    only. The per-supplier self-join's Σ deg² candidate volume collapses
    to bucket-capped pairs — the plan that survives a power-law supplier
    at 10¹² edges where the exact sibling's hottest supplier alone
    yields ~deg² pairs. Approximate (LSH can miss a pair), so rows-only
    in the driver contract; recall vs the exact top-15 is pinned ≥0.8
    in pytest (measured 1.0 at sf0.001 and sf0.01: the top pairs sit at
    J≈0.5+, which 16 two-row bands catch with ~99% probability)."""
    from hinbox_spark.operators.dedup import neighbor_minhash_candidates

    # the edge projection feeds FOUR subtrees (signatures, both sides of
    # the exact-verify walk, degrees) — materialize the distinct (cust,
    # supp) list once (lazy: the first job populates the blocks, no extra
    # materialization job) instead of re-running the orders⋈lineitem join
    # + dedup per subtree (guide §2.4; at web scale the same edge list
    # would be a written table read many times)
    e = _purchase_edges(spark, sf_dir).localCheckpoint(eager=False)
    cand = neighbor_minhash_candidates(
        e, "custkey", "suppkey", n_hashes=32, bands=16
    )
    # exact verify on candidates only: count shared suppliers per pair by
    # walking each candidate through the edge table twice (semi-shaped
    # joins on (key, supplier)), then the same broadcast degree math as
    # the exact query. Size-probed broadcast (guide §3.1): the cand⋈edges
    # walk inflates each candidate by deg_a (~32M intermediate rows at
    # sf0.1), and a sort-merge second join would EXCHANGE that whole
    # intermediate on (key_b, suppkey); broadcasting the edge list when it
    # fits keeps the inflated rows inside their tasks — the partial
    # aggregation collapses them to <=|cand| rows before the only
    # exchange. Over the cap (web scale) the shuffle walk stands.
    # |edges| <= |lineitem|, read from the parquet footer (no job): when
    # the BOUND clears the cap the broadcast is provably safe and the
    # count job is skipped outright — the lazy checkpoint then
    # materializes inside the signature job instead of a dedicated count
    # pass (one fewer full o⋈l derivation job, ~0.5-0.9 s at sf0.1).
    # An over-bound input still runs the exact count (bounds only
    # over-estimate; never straight to the shuffle walk).
    n_e = _t_rowcount(spark, sf_dir, "lineitem")
    if n_e > 2_000_000:
        n_e = e.count()
    ea = e.select(F.col("custkey").alias("key_a"), "suppkey")
    eb = e.select(F.col("custkey").alias("key_b"), "suppkey")
    if n_e <= 2_000_000:
        ea, eb = F.broadcast(ea), F.broadcast(eb)
    shared = (
        cand.join(ea, "key_a")
        .join(eb, ["key_b", "suppkey"])
        .groupBy("key_a", "key_b")
        .agg(F.count("*").alias("n_shared"))
    )
    deg = e.groupBy("custkey").agg(F.count("*").alias("deg"))
    da = F.broadcast(deg.select(F.col("custkey").alias("key_a"),
                                F.col("deg").alias("deg_a")))
    db = F.broadcast(deg.select(F.col("custkey").alias("key_b"),
                                F.col("deg").alias("deg_b")))
    jac = F.col("n_shared") / (
        F.col("deg_a") + F.col("deg_b") - F.col("n_shared")
    ).cast("double")
    return (
        shared.join(da, "key_a").join(db, "key_b")
        .withColumn("jaccard", jac)
        .orderBy(F.desc("jaccard"), F.asc("key_a"), F.asc("key_b"))
        .select(F.col("key_a").alias("cust_a"), F.col("key_b").alias("cust_b"),
                "n_shared", "deg_a", "deg_b",
                F.round("jaccard", 6).alias("jaccard"))
        .limit(15)
    )


def q_copurchase_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core of the bidirected bipartite purchase graph (k=8) — the
    dense-region primitive (spam-farm / community seeding) run on the
    materialized KG edges. Iterative peeling in operators/graph.kcore:
    per round one map-side-combinable degree shuffle + two semi-join
    filters, edge set only shrinks, driver sees one scalar per round
    (the fixpoint count). Deterministic (pure set fixpoint, no RNG, no
    floats). Oracle-checked since the round-5 continuation: peeling only
    ever REMOVES nodes, so once the fixpoint is reached further rounds
    are no-ops — the DuckDB oracle unrolls SIX peel rounds as chained
    CTEs (the purchase graph converges in ONE round at every test SF,
    measured; six is headroom) and reads the surviving degree table,
    value-verifying the iterative Spark fixpoint end-to-end. Also
    pinned in tests/test_graph_queries.py
    against an independent pure-Python peeling on the same edges, plus
    invariance and core-property assertions. Returns the core nodes with
    their in-core degree, largest first (node ASC tie-break)."""
    from hinbox_spark.operators.graph import kcore

    e = _purchase_edges(spark, sf_dir)
    bip = e.select(
        F.concat(F.lit("c:"), F.col("custkey")).alias("src"),
        F.concat(F.lit("s:"), F.col("suppkey")).alias("dst"),
    )
    return kcore(bip, k=8).orderBy(F.desc("core_deg"), F.asc("node")).limit(50)


def _kcore_unrolled_oracle(k: int, rounds: int) -> str:
    """Unrolled-peeling DuckDB oracle for q_copurchase_kcore: each stage
    keeps nodes whose surviving degree ≥ k and restricts the edge list to
    them. Peeling is monotone-decreasing, so any `rounds` ≥ the true
    peeling depth yields the exact fixpoint (extra stages are no-ops).
    Every stage is AS MATERIALIZED: each eᵢ is referenced three times by
    stage i+1, so inlining (DuckDB's default for CTEs) would re-plan the
    base scan 3^rounds times — materialization keeps it linear."""
    parts = [
        """WITH e0 AS MATERIALIZED (
  SELECT DISTINCT a, b FROM (
    SELECT 'c:' || o_custkey AS a, 's:' || l_suppkey AS b
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    UNION ALL
    SELECT 's:' || l_suppkey, 'c:' || o_custkey
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
  )
)"""
    ]
    for i in range(1, rounds + 1):
        parts.append(
            f"n{i} AS MATERIALIZED (SELECT a FROM e{i-1} GROUP BY a"
            f" HAVING count(*) >= {k})"
        )
        parts.append(
            f"e{i} AS MATERIALIZED (SELECT e.a, e.b FROM e{i-1} e"
            f" JOIN n{i} x ON e.a = x.a JOIN n{i} y ON e.b = y.a)"
        )
    return (
        ",\n".join(parts)
        + f"""
SELECT a AS node, count(*) AS core_deg
FROM e{rounds}
GROUP BY a HAVING count(*) >= {k}
ORDER BY core_deg DESC, node ASC
LIMIT 50
"""
    )


ORACLE_COPURCHASE_KCORE = _kcore_unrolled_oracle(k=8, rounds=6)


def q_events_type_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user event-type transition counts (behavioral bigrams) — the
    sequence-mining pass behind funnel discovery: order each user's
    events by time, pair each with its successor, count transitions
    corpus-wide. Scale shape: the ONLY shuffle is the per-user window
    (partitionBy user_id — user event counts are bounded, no mega-key),
    then the transition groupBy shrinks map-side; top-20 via the
    TakeOrderedAndProject tournament. Deterministic: (ts, event_id)
    ordering breaks timestamp ties."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        ev.select(
            "user_id",
            F.col("event_type").alias("from_type"),
            F.lead("event_type").over(w).alias("to_type"),
        )
        .filter(F.col("to_type").isNotNull())
    )
    return (
        pairs.groupBy("from_type", "to_type")
        .agg(
            F.count("*").alias("n_transitions"),
            F.countDistinct("user_id").alias("n_users"),
        )
        .orderBy(F.desc("n_transitions"), F.asc("from_type"), F.asc("to_type"))
        .limit(20)
    )


ORACLE_EVENTS_TYPE_BIGRAMS = """
WITH pairs AS (
    SELECT user_id, event_type AS from_type,
           lead(event_type) OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS to_type
    FROM events
)
SELECT from_type, to_type,
       count(*) AS n_transitions,
       count(DISTINCT user_id) AS n_users
FROM pairs
WHERE to_type IS NOT NULL
GROUP BY from_type, to_type
ORDER BY n_transitions DESC, from_type ASC, to_type ASC
LIMIT 20
"""


def q_corpus_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer training over the corpus (Sennrich et al. 2016) —
    learn the first 20 merge rules from the documents table. The corpus
    is scanned ONCE (word counts, map-side combine); every merge round
    then runs over the bounded vocabulary table with a 1-row global
    argmax tournament, so the driver sees exactly one pair per round —
    the merge decision itself (see operators/bpe.py for the 10¹²-doc
    scale argument). Deterministic: tie-breaks (cnt DESC, left ASC,
    right ASC) make the merge table a pure function of the corpus.
    Rows-only in the driver contract (iterative argmax isn't one SQL
    statement); pinned in tests/test_bpe.py against an independent
    pure-Python Sennrich implementation and across repartitionings."""
    from hinbox_spark.operators.bpe import (
        merges_dataframe,
        train_bpe,
        word_counts,
    )

    wc = word_counts(_t(spark, sf_dir, "documents"))
    return merges_dataframe(spark, train_bpe(wc, num_merges=20, min_count=2))


def q_doc_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index construction stats — the search/IR pass a web-scale
    corpus runs after dedup: term → (document frequency, total term
    frequency, hottest posting). Emits the top-100 terms by df with each
    term's best document (max tf, ties → min doc_id, deterministic).

    Scale shape: (term, doc) term frequencies shrink via map-side partial
    aggregation before the ONE corpus-wide shuffle on term; the per-term
    fold is a bounded aggregate (count/sum/max_by), never a posting-list
    collect — a hot term ("the") folds to 4 scalars, not a giant array.
    The deterministic argmax rides a struct ordering (tf DESC via struct
    max, doc_id ASC via negation) so no window sort materializes a
    mega-term's postings in one task. Final top-100 is Spark's
    TakeOrderedAndProject tournament."""
    d = _t(spark, sf_dir, "documents")
    tf = (
        d.select(
            "doc_id",
            F.explode(F.split(F.lower("text"), " ")).alias("word"),
        )
        .filter(F.col("word") != "")
        .groupBy("word", "doc_id")
        .agg(F.count("*").alias("tf"))
    )
    return (
        tf.groupBy("word")
        .agg(
            F.count("*").alias("df"),
            F.sum("tf").alias("tf_total"),
            F.expr("max_by(doc_id, struct(tf, -doc_id))").alias("top_doc_id"),
            F.max("tf").alias("top_tf"),
        )
        .filter(F.col("df") >= 5)
        .orderBy(F.desc("df"), F.asc("word"))
        .limit(100)
    )


ORACLE_DOC_INVERTED_INDEX = """
WITH tf AS (
    SELECT word, doc_id, count(*) AS tf
    FROM (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS word
          FROM documents)
    WHERE word <> ''
    GROUP BY word, doc_id
),
ranked AS (
    SELECT word, doc_id, tf,
           row_number() OVER (PARTITION BY word
                              ORDER BY tf DESC, doc_id ASC) AS rn
    FROM tf
),
agg AS (
    SELECT word, count(*) AS df, CAST(sum(tf) AS BIGINT) AS tf_total,
           CAST(max(tf) AS BIGINT) AS top_tf
    FROM tf GROUP BY word
)
SELECT a.word, a.df, a.tf_total, r.doc_id AS top_doc_id, a.top_tf
FROM agg a JOIN ranked r ON a.word = r.word AND r.rn = 1
WHERE a.df >= 5
ORDER BY a.df DESC, a.word ASC
LIMIT 100
"""


def q_purchase_degree_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Gini coefficient of the degree distribution, per role — the
    inequality number a web-scale operator watches to quantify key skew
    BEFORE it becomes a mega-task (power-law degree inequality is exactly
    what the bucket caps / salting / tournament top-k defenses exist
    for; Gini puts one monitored scalar on it).

    G = (2·Σ i·dᵢ − (n+1)·Σdᵢ) / (n·Σdᵢ) over degrees sorted ascending
    with 1-based rank i — INTEGER-EXACT numerator and denominator (no
    float summation anywhere), emitted alongside the rounded ratio, so
    the cross-engine hash cannot flake (the TF-IDF/PMI integer-exact
    discipline). The global sort-rank comes from
    `operators/ranking.global_row_numbers` — range partition + offset
    fold, NO `Exchange SinglePartition`, so the rank pass holds at 10¹²
    nodes where a bare row_number() window funnels the world into one
    task; the tie-break on the node key makes the order total, and any
    total order over equal degrees yields the same Σ i·dᵢ (equal values
    commute), so the rank-sampling nondeterminism cannot leak into the
    result. One rank pass + one 5-scalar fold per role."""
    from hinbox_spark.operators.ranking import global_row_numbers

    # lazy checkpoint: each role derives its degree table from the same
    # edge projection (it was re-joined from base tables once per role)
    e = _purchase_edges(spark, sf_dir).localCheckpoint(eager=False)

    def one(role: str, key: str) -> DataFrame:
        deg = e.groupBy(key).agg(F.count("*").alias("deg"))
        ranked = global_row_numbers(
            deg, [F.asc("deg"), F.asc(key)], rank_col="r"
        )
        return (
            ranked.agg(
                F.count("*").alias("n_nodes"),
                F.sum("deg").alias("sum_deg"),
                F.sum((F.col("r") + 1) * F.col("deg")).alias("s_rank_deg"),
            )
            .select(
                F.lit(role).alias("role"),
                "n_nodes",
                "sum_deg",
                (
                    2 * F.col("s_rank_deg")
                    - (F.col("n_nodes") + 1) * F.col("sum_deg")
                ).alias("gini_num"),
                (F.col("n_nodes") * F.col("sum_deg")).alias("gini_den"),
            )
            .withColumn(
                "gini", F.round(F.col("gini_num") / F.col("gini_den"), 8)
            )
        )

    return (
        one("customer", "custkey")
        .unionAll(one("supplier", "suppkey"))
        .orderBy("role")
    )


ORACLE_PURCHASE_DEGREE_GINI = """
WITH e AS (
  SELECT DISTINCT o_custkey AS custkey, l_suppkey AS suppkey
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
),
cd AS (SELECT custkey AS k, count(*) AS deg FROM e GROUP BY 1),
sd AS (SELECT suppkey AS k, count(*) AS deg FROM e GROUP BY 1),
cr AS (SELECT deg, row_number() OVER (ORDER BY deg, k) AS i FROM cd),
sr AS (SELECT deg, row_number() OVER (ORDER BY deg, k) AS i FROM sd),
folded AS (
  SELECT 'customer' AS role, count(*) AS n_nodes,
         CAST(sum(deg) AS BIGINT) AS sum_deg,
         CAST(sum(i * deg) AS BIGINT) AS s_rank_deg
  FROM cr
  UNION ALL
  SELECT 'supplier', count(*), CAST(sum(deg) AS BIGINT),
         CAST(sum(i * deg) AS BIGINT)
  FROM sr
)
SELECT role, n_nodes, sum_deg,
       2 * s_rank_deg - (n_nodes + 1) * sum_deg AS gini_num,
       n_nodes * sum_deg AS gini_den,
       round(CAST(2 * s_rank_deg - (n_nodes + 1) * sum_deg AS DOUBLE)
             / (n_nodes * sum_deg), 8) AS gini
FROM folded
ORDER BY role
"""


def q_purchase_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity (Newman 2002) of the bidirected purchase
    graph — the Pearson correlation of endpoint degrees over edges, the
    standard one-scalar answer to "do hubs attach to hubs?" (web graphs
    are famously disassortative; on THIS bipartite graph high-degree
    suppliers necessarily face lower-degree customers, so r < 0 is the
    structurally expected sign — a useful fixture property).

    All six moments (m, Σx, Σy, Σxy, Σx², Σy² with x = src degree,
    y = dst degree per directed edge) are INTEGER-EXACT — the degree
    table (one row per node; node-count-sized, so NOT broadcast at
    10¹²-node scale) joins onto edges keyed by node, where the degree
    aggregation has already partitioned both sides; the moments then
    fold map-side before ONE 6-scalar exchange. No float summation
    anywhere (int64 headroom: m·Σx² ≈ 5e17 at sf0.1, bound scales as
    |E|²·d̄_max² — switch the moments to DECIMAL(38) past ~10⁹ edges). The only non-integer
    steps are the final subtractions, one sqrt, and one division —
    performed on identical integer operands in both engines, and IEEE
    sqrt/division are correctly rounded, so the 8-dp rounded r cannot
    flake cross-engine. Emits the exact moments beside r so the hash
    check is anchored on integers."""
    e = _purchase_bigraph(spark, sf_dir).localCheckpoint(eager=False)
    deg = e.groupBy("src").agg(F.count("*").alias("deg")).localCheckpoint(
        eager=False
    )  # e feeds deg + the edge walk; deg joins onto BOTH endpoints
    xy = (
        e.join(deg.withColumnRenamed("deg", "dx"), "src")
        .join(
            deg.select(
                F.col("src").alias("dst"), F.col("deg").alias("dy")
            ),
            "dst",
        )
    )
    m = xy.agg(
        F.count("*").alias("m"),
        F.sum("dx").alias("sx"),
        F.sum("dy").alias("sy"),
        F.sum(F.col("dx") * F.col("dy")).alias("sxy"),
        F.sum(F.col("dx") * F.col("dx")).alias("sxx"),
        F.sum(F.col("dy") * F.col("dy")).alias("syy"),
    )
    return m.select(
        "m", "sx", "sy", "sxy", "sxx", "syy",
        F.round(
            (F.col("m") * F.col("sxy") - F.col("sx") * F.col("sy"))
            / F.sqrt(
                (F.col("m") * F.col("sxx") - F.col("sx") * F.col("sx"))
                .cast("double")
                * (F.col("m") * F.col("syy") - F.col("sy") * F.col("sy"))
                .cast("double")
            ),
            8,
        ).alias("assortativity"),
    )


ORACLE_PURCHASE_ASSORTATIVITY = """
WITH b AS (
  SELECT DISTINCT 'c:' || o_custkey AS src, 's:' || l_suppkey AS dst
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
),
e AS (SELECT src, dst FROM b UNION ALL SELECT dst, src FROM b),
deg AS (SELECT src AS node, count(*) AS deg FROM e GROUP BY 1),
xy AS (
  SELECT dx.deg AS dx, dy.deg AS dy
  FROM e
  JOIN deg dx ON dx.node = e.src
  JOIN deg dy ON dy.node = e.dst
),
mo AS (
  SELECT count(*) AS m,
         CAST(sum(dx) AS BIGINT) AS sx, CAST(sum(dy) AS BIGINT) AS sy,
         CAST(sum(dx * dy) AS BIGINT) AS sxy,
         CAST(sum(dx * dx) AS BIGINT) AS sxx,
         CAST(sum(dy * dy) AS BIGINT) AS syy
  FROM xy
)
SELECT m, sx, sy, sxy, sxx, syy,
       round((m * sxy - sx * sy)
             / sqrt(CAST(m * sxx - sx * sx AS DOUBLE)
                    * CAST(m * syy - sy * sy AS DOUBLE)), 8)
  AS assortativity
FROM mo
"""


#: Fixed multi-term query for the BM25 ranked-retrieval entry — mid-df
#: terms from the synthetic vocabulary so the ranking exercises both the
#: tf saturation and the length normalization.
BM25_QUERY_TERMS = ("hash", "merge", "vector", "stream")


def q_doc_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 ranked retrieval — the IR query the inverted index exists to
    serve: top-10 documents for a fixed 4-term query under the Lucene
    BM25 variant (idf = ln(1 + (N − df + 0.5)/(df + 0.5)), always
    positive even for df > N/2 — the Robertson idf goes negative there,
    and this corpus's query terms sit at df ≈ 0.8·N; k1 = 1.2, b = 0.75).

    Scale shape: the token stream is filtered to the ≤4 query terms
    BEFORE any shuffle, so the per-(doc, term) tf aggregation carries
    only matching postings — on a 10¹²-doc corpus the shuffle is
    O(matching postings), not O(tokens). Document lengths fold in one
    map-side-combinable pass; N and avgdl are 1-row aggregates broadcast
    via crossJoin; per-term df is a ≤4-row aggregate joined broadcast.
    Everything is JVM column arithmetic — no UDFs. The only
    transcendental is ln inside idf: summed over ≤4 terms the
    cross-engine libm drift is ~1e-15 absolute, ~7 orders of magnitude
    under the 8-dp rounding grid (the q_copurchase_pagerank rounding
    argument). Deterministic: ties broken by doc_id."""
    k1, b = 1.2, 0.75
    d = _t(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.explode(F.split(F.lower("text"), " ")).alias("word")
    ).filter(F.col("word") != "")
    dl = toks.groupBy("doc_id").agg(F.count("*").alias("dl"))
    stats = dl.agg(
        F.count("*").alias("n_docs"), F.avg("dl").alias("avgdl")
    )
    tf = (
        toks.filter(F.col("word").isin(*BM25_QUERY_TERMS))
        .groupBy("doc_id", "word")
        .agg(F.count("*").alias("tf"))
    )
    df_tbl = tf.groupBy("word").agg(F.count("*").alias("df"))
    scored = (
        tf.join(F.broadcast(df_tbl), "word")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .withColumn(
            "idf",
            F.log(
                F.lit(1.0)
                + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
            ),
        )
        .withColumn(
            "contrib",
            F.col("idf")
            * F.col("tf")
            / (
                F.col("tf")
                + k1 * (1.0 - b + b * F.col("dl") / F.col("avgdl"))
            ),
        )
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_hit"),
            F.round(F.sum("contrib"), 8).alias("score"),
        )
    )
    return scored.orderBy(F.desc("score"), F.asc("doc_id")).limit(10)


ORACLE_DOC_BM25_SEARCH = """
WITH toks AS (
    SELECT doc_id, unnest(string_split(lower(text), ' ')) AS word
    FROM documents
),
toks_ne AS (SELECT doc_id, word FROM toks WHERE word <> ''),
dl AS (SELECT doc_id, count(*) AS dl FROM toks_ne GROUP BY 1),
stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl),
tf AS (
    SELECT doc_id, word, count(*) AS tf FROM toks_ne
    WHERE word IN ('hash', 'merge', 'vector', 'stream')
    GROUP BY 1, 2
),
df_tbl AS (SELECT word, count(*) AS df FROM tf GROUP BY 1),
scored AS (
    SELECT tf.doc_id,
           count(*) AS n_hit,
           round(sum(
               ln(1.0 + (stats.n_docs - df_tbl.df + 0.5) / (df_tbl.df + 0.5))
               * tf.tf
               / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * dl.dl / stats.avgdl))
           ), 8) AS score
    FROM tf
    JOIN df_tbl USING (word)
    JOIN dl ON dl.doc_id = tf.doc_id
    CROSS JOIN stats
    GROUP BY tf.doc_id
)
SELECT doc_id, n_hit, score FROM scored
ORDER BY score DESC, doc_id ASC
LIMIT 10
"""


def q_doc_target_affinity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style importance selection (Xie et al. 2023, "Data Selection
    for Language Models via Importance Resampling"): score every
    candidate document by how much its hashed-n-gram feature mass sits in
    buckets OVER-represented in a target domain vs the raw pool, then
    keep the top-k. Here the target is the English slice, candidates are
    the non-English docs, and features are hashed unigram buckets
    (md5-prefix → 256 buckets, identical in both engines). Real DSIR
    weights each bucket by log(p_target/p_raw); this query uses the SIGN
    of the same ratio (+1 over-represented / −1 under, decided by the
    exact integer cross-product ct·R > cr·T) so the cross-engine value
    hash can't flake on transcendental rounding — the integer-exact
    discipline of the TF-IDF and PMI queries.

    Scale shape: the bucket table is ≤256 rows however large the corpus —
    computed with map-side partial aggregation, then BROADCAST to score
    docs; the only corpus-wide shuffle is the per-doc score fold
    (groupBy doc_id with partial aggregation). Final top-20 is the
    TakeOrderedAndProject tournament. At 10¹² docs nothing here grows
    except the two linear token scans."""
    d = _t(spark, sf_dir, "documents")
    toks = (
        d.select(
            "doc_id",
            "lang",
            F.explode(F.split(F.lower("text"), " ")).alias("word"),
        )
        .filter(F.col("word") != "")
        .withColumn("bucket", F.substring(F.md5("word"), 1, 2))
    )
    raw = toks.groupBy("bucket").agg(F.count("*").alias("cr"))
    tgt = (
        toks.filter(F.col("lang") == "en")
        .groupBy("bucket")
        .agg(F.count("*").alias("ct"))
    )
    stats = (
        raw.join(tgt, "bucket", "left")
        .fillna(0, subset=["ct"])
        .crossJoin(
            F.broadcast(
                raw.agg(F.sum("cr").alias("r_total")).crossJoin(
                    tgt.agg(F.sum("ct").alias("t_total"))
                )
            )
        )
        .select(
            "bucket",
            F.when(
                F.col("ct") * F.col("r_total") > F.col("cr") * F.col("t_total"),
                F.lit(1),
            )
            .otherwise(F.lit(-1))
            .alias("sign"),
        )
    )
    return (
        toks.filter(F.col("lang") != "en")
        .join(F.broadcast(stats), "bucket")
        .groupBy("doc_id", "lang")
        .agg(F.sum("sign").alias("affinity"), F.count("*").alias("n_toks"))
        .orderBy(F.desc("affinity"), F.asc("doc_id"))
        .limit(20)
    )


ORACLE_DOC_TARGET_AFFINITY = """
WITH toks AS (
    SELECT doc_id, lang, substr(md5(word), 1, 2) AS bucket
    FROM (SELECT doc_id, lang,
                 unnest(string_split(lower(text), ' ')) AS word
          FROM documents)
    WHERE word <> ''
),
raw AS (SELECT bucket, count(*) AS cr FROM toks GROUP BY bucket),
tgt AS (SELECT bucket, count(*) AS ct FROM toks WHERE lang = 'en'
        GROUP BY bucket),
stats AS (
    SELECT raw.bucket,
           CASE WHEN coalesce(tgt.ct, 0) * (SELECT sum(cr) FROM raw)
                     > raw.cr * (SELECT sum(ct) FROM tgt)
                THEN 1 ELSE -1 END AS sign
    FROM raw LEFT JOIN tgt ON raw.bucket = tgt.bucket
)
SELECT t.doc_id, t.lang,
       CAST(sum(s.sign) AS BIGINT) AS affinity,
       count(*) AS n_toks
FROM toks t JOIN stats s ON t.bucket = s.bucket
WHERE t.lang <> 'en'
GROUP BY t.doc_id, t.lang
ORDER BY affinity DESC, t.doc_id ASC
LIMIT 20
"""


def q_er_cluster_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity-resolution evaluation: pairwise precision/recall/F1 of a
    predicted clustering against gold labels, computed from the
    (pred, gold) contingency table — never from materialized item pairs
    (Σ n² rows; the contingency form is one map-side-combinable groupBy).
    The demo assignment buckets embeddings by the sign pattern of their
    first three components (SQL-expressible, so the METRIC itself is
    hash-oracled end to end); the pipeline applies the same operator to
    its linking clusters vs pages_gen gold in tests. All pair counts are
    exact integers (`div` 2, not float), and each emitted ratio is ONE
    IEEE division of two integers — bit-identical across engines."""
    from hinbox_spark.operators.clustering import pairwise_cluster_quality

    e = _t(spark, sf_dir, "embeddings")
    assign = e.select(
        (
            (F.col("embedding")[0] > 0).cast("int") * 4
            + (F.col("embedding")[1] > 0).cast("int") * 2
            + (F.col("embedding")[2] > 0).cast("int")
        ).alias("pred"),
        F.col("label").alias("gold"),
    )
    return pairwise_cluster_quality(assign)


ORACLE_ER_CLUSTER_QUALITY = """
WITH a AS (
  SELECT CAST(embedding[1] > 0 AS INT) * 4
       + CAST(embedding[2] > 0 AS INT) * 2
       + CAST(embedding[3] > 0 AS INT) AS pred,
         label AS gold
  FROM embeddings
),
c AS (SELECT pred, gold, count(*) AS n FROM a GROUP BY pred, gold),
tp AS (SELECT CAST(sum(n) AS BIGINT) AS n_items,
              CAST(sum(n * (n - 1) // 2) AS BIGINT) AS tp_pairs FROM c),
pp AS (SELECT CAST(sum(np * (np - 1) // 2) AS BIGINT) AS pred_pairs
       FROM (SELECT sum(n) AS np FROM c GROUP BY pred)),
gp AS (SELECT CAST(sum(ng * (ng - 1) // 2) AS BIGINT) AS gold_pairs
       FROM (SELECT sum(n) AS ng FROM c GROUP BY gold))
SELECT n_items, tp_pairs, pred_pairs, gold_pairs,
       tp_pairs / CAST(pred_pairs AS DOUBLE) AS "precision",
       tp_pairs / CAST(gold_pairs AS DOUBLE) AS recall,
       2 * tp_pairs / CAST(pred_pairs + gold_pairs AS DOUBLE) AS f1
FROM tp, pp, gp
"""


def q_copurchase_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection over the purchase graph: 3 rounds of
    DETERMINISTIC synchronous label propagation (most-frequent neighbor
    label, ties to MIN label), then the 20 largest communities. Because
    the operator is a pure function of the edge set — no RNG, no
    scheduling dependence — the unrolled iteration is SQL-expressible
    and this query is hash-checked against a DuckDB oracle (the only
    other distributed-community op in the suite, connected components,
    finds 1 giant component here; LPA recovers finer structure).
    Per-round cost: one node-keyed join + one counting groupBy, plan
    kept O(1) in rounds via localCheckpoint (the PageRank discipline)."""
    from hinbox_spark.operators.graph import label_propagation

    e = _purchase_edges(spark, sf_dir).select(
        F.concat(F.lit("c:"), F.col("custkey")).alias("src"),
        F.concat(F.lit("s:"), F.col("suppkey")).alias("dst"),
    )
    labels = label_propagation(e, iters=3)
    return (
        labels.groupBy(F.col("label").alias("community"))
        .agg(F.count("*").alias("n_nodes"))
        .orderBy(F.desc("n_nodes"), F.asc("community"))
        .limit(20)
    )


ORACLE_COPURCHASE_COMMUNITIES = """
WITH e0 AS (
  SELECT DISTINCT 'c:' || o_custkey AS a, 's:' || l_suppkey AS b
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
),
und AS (SELECT a, b FROM e0 UNION SELECT b, a FROM e0),
l0 AS (SELECT DISTINCT a AS node, a AS label FROM und),
c1 AS (SELECT u.a AS node, l.label, count(*) AS c
       FROM und u JOIN l0 l ON u.b = l.node GROUP BY u.a, l.label),
l1 AS (SELECT node, label FROM (
         SELECT node, label,
                row_number() OVER (PARTITION BY node
                                   ORDER BY c DESC, label ASC) AS rn
         FROM c1) WHERE rn = 1),
c2 AS (SELECT u.a AS node, l.label, count(*) AS c
       FROM und u JOIN l1 l ON u.b = l.node GROUP BY u.a, l.label),
l2 AS (SELECT node, label FROM (
         SELECT node, label,
                row_number() OVER (PARTITION BY node
                                   ORDER BY c DESC, label ASC) AS rn
         FROM c2) WHERE rn = 1),
c3 AS (SELECT u.a AS node, l.label, count(*) AS c
       FROM und u JOIN l2 l ON u.b = l.node GROUP BY u.a, l.label),
l3 AS (SELECT node, label FROM (
         SELECT node, label,
                row_number() OVER (PARTITION BY node
                                   ORDER BY c DESC, label ASC) AS rn
         FROM c3) WHERE rn = 1)
SELECT label AS community, count(*) AS n_nodes
FROM l3
GROUP BY label
ORDER BY n_nodes DESC, community ASC
LIMIT 20
"""


# ── Materialized-KG query family (round 5: the shapes a consumer runs
# over the pipeline's (subj, pred, obj) output — SURVEY §2 "graph
# materialize" downstream surface) ──


def _kg_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Derived (subj, pred, obj) triple view over the relational tables —
    the exact narrow shape `pipeline.run_pipeline` materializes as its
    triples table (reference parity: the entities/relations the frontend
    reads). Four predicate branches unioned; each branch is a columnar
    scan (dimension joins broadcast), the union itself is narrow (no
    shuffle). `placed_priority` is intentionally NOT deduplicated — one
    triple per order — so multiplicity-sensitive consumers (functional-
    property QC below) see real-world duplication."""
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    s = _t(spark, sf_dir, "supplier")
    o = _t(spark, sf_dir, "orders")
    cust = F.concat(F.lit("customer/"), F.col("c_custkey"))
    cust_nation = (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .select(cust.alias("subj"), F.lit("in_nation").alias("pred"),
                F.col("n_name").alias("obj"))
    )
    cust_seg = c.select(
        cust.alias("subj"), F.lit("in_segment").alias("pred"),
        F.col("c_mktsegment").alias("obj"))
    supp_nation = (
        s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .select(F.concat(F.lit("supplier/"), F.col("s_suppkey")).alias("subj"),
                F.lit("in_nation").alias("pred"),
                F.col("n_name").alias("obj"))
    )
    cust_priority = o.select(
        F.concat(F.lit("customer/"), F.col("o_custkey")).alias("subj"),
        F.lit("placed_priority").alias("pred"),
        F.col("o_orderpriority").alias("obj"))
    return cust_nation.unionByName(cust_seg).unionByName(
        supp_nation).unionByName(cust_priority)


_ORACLE_KG_TRIPLES_CTE = """
t AS (
  SELECT 'customer/' || c_custkey AS subj, 'in_nation' AS pred,
         n_name AS obj
  FROM customer JOIN nation ON c_nationkey = n_nationkey
  UNION ALL
  SELECT 'customer/' || c_custkey, 'in_segment', c_mktsegment
  FROM customer
  UNION ALL
  SELECT 'supplier/' || s_suppkey, 'in_nation', n_name
  FROM supplier JOIN nation ON s_nationkey = n_nationkey
  UNION ALL
  SELECT 'customer/' || o_custkey, 'placed_priority', o_orderpriority
  FROM orders
)
"""


def q_kg_star_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL basic-graph-pattern star join — the canonical query over a
    materialized KG: ?s where (?s in_nation NATION_7) AND (?s in_segment
    BUILDING) AND (?s placed_priority 1-URGENT).

    Scale plan: each pattern filters (pred, obj) literals against the
    union view — Catalyst constant-folds the literal pred per branch, so
    non-matching branches collapse to empty scans (pattern 1 never touches
    orders; asserted in tests/test_plans.py). Patterns 2..k attach as
    LEFT SEMI joins (set semantics survive triple multiplicity — an
    URGENT repeat buyer appears once), and the pattern side is explicitly
    broadcast: a selective pattern is dimension-sized however large the
    triple store grows."""
    t = _kg_triples(spark, sf_dir)

    def pat(pred: str, obj: str) -> DataFrame:
        return t.filter(
            (F.col("pred") == pred) & (F.col("obj") == obj)).select("subj")

    base = pat("in_nation", "NATION_7")
    for pred, obj in [("in_segment", "BUILDING"),
                      ("placed_priority", "1-URGENT")]:
        base = base.join(F.broadcast(pat(pred, obj)), "subj", "left_semi")
    return base.select("subj")


ORACLE_KG_STAR_JOIN = f"""
WITH {_ORACLE_KG_TRIPLES_CTE.strip()}
SELECT subj FROM t WHERE pred = 'in_nation' AND obj = 'NATION_7'
INTERSECT
SELECT subj FROM t WHERE pred = 'in_segment' AND obj = 'BUILDING'
INTERSECT
SELECT subj FROM t WHERE pred = 'placed_priority' AND obj = '1-URGENT'
"""


def q_kg_ntriples_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical N-Triples serialization of the KG — the RDF export sink
    (W3C N-Triples: IRI subject/predicate, escaped string-literal object,
    ' .' terminator). Pure JVM string exprs over a distinct triple scan;
    the bounded preview is a TakeOrderedAndProject top-k (no global
    sort), so the driver never sees more than the cap. The full-export
    path is the same projection written straight to text files —
    embarrassingly parallel, zero shuffles past the distinct.

    Escaping (backslash first, then quote) is the load-bearing part:
    tests/test_plans.py pins crafted literals containing both."""
    t = _kg_triples(spark, sf_dir).distinct()
    return (
        t.select(ntriples_line("subj", "pred", "obj").alias("line"))
        .orderBy("line")
        .limit(100)
    )


def ntriples_line(subj: str, pred: str, obj: str) -> F.Column:
    """W3C N-Triples line from (subj, pred, obj) string columns. Object
    literals escape backslash FIRST, then the remaining ECHARs — quote,
    LF, CR, tab (the order is what keeps `a\\"b` unambiguous on
    re-parse, and a raw newline would split one triple across two
    physical lines). Pure JVM exprs — usable directly as the projection
    of a full text-file export."""
    esc = F.col(obj)
    for lit, rep in (("\\", "\\\\"), ('"', '\\"'), ("\n", "\\n"),
                     ("\r", "\\r"), ("\t", "\\t")):
        esc = F.replace(esc, F.lit(lit), F.lit(rep))
    return F.concat(
        F.lit("<http://kg.local/"), F.col(subj),
        F.lit("> <http://kg.local/pred/"), F.col(pred),
        F.lit('> "'), esc, F.lit('" .'))


ORACLE_KG_NTRIPLES = f"""
WITH {_ORACLE_KG_TRIPLES_CTE.strip()}
SELECT '<http://kg.local/' || subj || '> <http://kg.local/pred/' || pred
       || '> "'
       || replace(replace(replace(replace(replace(
            obj, '\\', '\\\\'), '"', '\\"'),
            chr(10), '\\n'), chr(13), '\\r'), chr(9), '\\t')
       || '" .' AS line
FROM (SELECT DISTINCT subj, pred, obj FROM t)
ORDER BY line
LIMIT 100
"""


def q_kg_functional_violations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KG quality control: per-predicate cardinality profile + OWL
    FunctionalProperty check (subjects asserting >1 distinct object for
    the same predicate — `placed_priority` violates by construction,
    `in_nation`/`in_segment` must not).

    Two aggregation trees, both map-side combinable: (pred, subj) →
    distinct-object counts feeds the violation fold; a direct pred-level
    profile carries triple/subject/object counts. Both land on a handful
    of pred rows, so the final join is broadcast by size."""
    t = _kg_triples(spark, sf_dir)
    per_subj = t.groupBy("pred", "subj").agg(
        F.count_distinct("obj").alias("n_obj"))
    viol = per_subj.groupBy("pred").agg(
        F.count(F.when(F.col("n_obj") > 1, F.lit(1))).alias(
            "n_violating_subjects"),
        F.min(F.when(F.col("n_obj") > 1, F.col("subj"))).alias(
            "first_violator"),
    )
    stats = t.groupBy("pred").agg(
        F.count("*").alias("n_triples"),
        F.count_distinct("subj").alias("n_subjects"),
        F.count_distinct("obj").alias("n_objects"),
    )
    return stats.join(viol, "pred").select(
        "pred", "n_triples", "n_subjects", "n_objects",
        "n_violating_subjects", "first_violator")


ORACLE_KG_FUNCTIONAL = f"""
WITH {_ORACLE_KG_TRIPLES_CTE.strip()},
per_subj AS (
  SELECT pred, subj, count(DISTINCT obj) AS n_obj
  FROM t GROUP BY pred, subj
),
viol AS (
  SELECT pred,
         count(CASE WHEN n_obj > 1 THEN 1 END) AS n_violating_subjects,
         min(CASE WHEN n_obj > 1 THEN subj END) AS first_violator
  FROM per_subj GROUP BY pred
),
stats AS (
  SELECT pred, count(*) AS n_triples,
         count(DISTINCT subj) AS n_subjects,
         count(DISTINCT obj) AS n_objects
  FROM t GROUP BY pred
)
SELECT s.pred AS pred, n_triples, n_subjects, n_objects,
       n_violating_subjects, first_violator
FROM stats s JOIN viol v ON s.pred = v.pred
"""


def q_kg_temporal_validity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal KG: reconstruct validity intervals for a time-varying
    predicate (SCD-2). Each customer's `placed_priority` assertions,
    ordered by (ts, obj, orderkey) — a TOTAL order, so same-day conflicts
    resolve identically everywhere — collapse into runs of equal object;
    each run becomes one (subj, obj, valid_from, valid_to) row, valid_to =
    next run's start (NULL while current). The point-in-time KG at T is
    then a filter `valid_from <= T < coalesce(valid_to, inf)`.

    Scale: both windows partition by subj (per-key history is bounded —
    no global sort), and the run collapse is gaps-and-islands: lag →
    running change count → groupBy(subj, run)."""
    o = _t(spark, sf_dir, "orders").select(
        F.concat(F.lit("customer/"), F.col("o_custkey")).alias("subj"),
        F.col("o_orderpriority").alias("obj"),
        F.col("o_orderdate").alias("ts"),
        "o_orderkey",
    )
    w = Window.partitionBy("subj").orderBy("ts", "obj", "o_orderkey")
    changed = F.when(
        F.lag("obj").over(w).isNull() | (F.lag("obj").over(w) != F.col("obj")),
        1).otherwise(0)
    runs = o.withColumn(
        "run",
        F.sum(changed).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)),
    )
    seg = runs.groupBy("subj", "run").agg(
        F.min("obj").alias("obj"),  # constant within a run
        F.min("ts").alias("valid_from"),
        F.count("*").alias("n_assertions"),
    )
    wseg = Window.partitionBy("subj").orderBy("run")
    return seg.select(
        "subj",
        F.lit("placed_priority").alias("pred"),
        "obj",
        "valid_from",
        F.lead("valid_from").over(wseg).alias("valid_to"),
        "n_assertions",
    )


ORACLE_KG_TEMPORAL_VALIDITY = """
WITH o AS (
  SELECT 'customer/' || o_custkey AS subj, o_orderpriority AS obj,
         o_orderdate AS ts, o_orderkey
  FROM orders
),
marked AS (
  SELECT *, CASE WHEN lag(obj) OVER w IS NULL
                   OR lag(obj) OVER w <> obj THEN 1 ELSE 0 END AS changed
  FROM o WINDOW w AS (PARTITION BY subj ORDER BY ts, obj, o_orderkey)
),
runs AS (
  SELECT *, sum(changed) OVER (PARTITION BY subj ORDER BY ts, obj, o_orderkey
                               ROWS UNBOUNDED PRECEDING) AS run
  FROM marked
),
seg AS (
  SELECT subj, run, min(obj) AS obj, min(ts) AS valid_from,
         count(*) AS n_assertions
  FROM runs GROUP BY subj, run
)
SELECT subj, 'placed_priority' AS pred, obj, valid_from,
       lead(valid_from) OVER (PARTITION BY subj ORDER BY run) AS valid_to,
       n_assertions
FROM seg
"""


def q_kg_snapshot_timeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time KG over the validity intervals: for a quarterly grid
    of probe timestamps, how many subjects held each `placed_priority`
    value at that instant — the time-travel query a temporal KG exists to
    answer (`AS OF T` over the SCD-2 table).

    Scale: the probe grid is a handful of literal rows, broadcast against
    the interval table (nested-loop on the range predicate is CORRECT
    here — |probes| is a constant, so the pass is O(intervals·probes)
    with no shuffle of the big side); the count is a map-side-combinable
    groupBy. Probing one key instead would use the (key, ts-range)
    equi+residual join shape."""
    iv = q_kg_temporal_validity(spark, sf_dir)
    probes = spark.range(1).select(
        F.explode(
            F.sequence(
                F.lit("1995-01-01").cast("timestamp"),
                F.lit("2001-07-01").cast("timestamp"),
                F.expr("INTERVAL 3 MONTHS"),
            )
        ).alias("probe_ts")
    )
    return (
        iv.join(
            F.broadcast(probes),
            (F.col("valid_from") <= F.col("probe_ts"))
            & (F.col("valid_to").isNull()
               | (F.col("probe_ts") < F.col("valid_to"))),
        )
        .groupBy("probe_ts", F.col("obj").alias("priority"))
        .agg(F.count("*").alias("n_subjects"))
    )


ORACLE_KG_SNAPSHOT_TIMELINE = """
WITH o AS (
  SELECT 'customer/' || o_custkey AS subj, o_orderpriority AS obj,
         o_orderdate AS ts, o_orderkey
  FROM orders
),
marked AS (
  SELECT *, CASE WHEN lag(obj) OVER w IS NULL
                   OR lag(obj) OVER w <> obj THEN 1 ELSE 0 END AS changed
  FROM o WINDOW w AS (PARTITION BY subj ORDER BY ts, obj, o_orderkey)
),
runs AS (
  SELECT *, sum(changed) OVER (PARTITION BY subj ORDER BY ts, obj, o_orderkey
                               ROWS UNBOUNDED PRECEDING) AS run
  FROM marked
),
seg AS (
  SELECT subj, run, min(obj) AS obj, min(ts) AS valid_from
  FROM runs GROUP BY subj, run
),
iv AS (
  SELECT subj, obj, valid_from,
         lead(valid_from) OVER (PARTITION BY subj ORDER BY run) AS valid_to
  FROM seg
),
probes AS (
  SELECT unnest(range(TIMESTAMP '1995-01-01', TIMESTAMP '2001-07-02',
                      INTERVAL 3 MONTH)) AS probe_ts
)
SELECT probe_ts, obj AS priority, count(*) AS n_subjects
FROM iv JOIN probes
  ON valid_from <= probe_ts AND (valid_to IS NULL OR probe_ts < valid_to)
GROUP BY probe_ts, obj
"""


def q_kg_random_walks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """node2vec-style metapath walk corpus (customer→supplier→customer→
    supplier) over the bipartite purchase graph — the input a KG-embedding
    trainer consumes. The 'random' choice at each step is the md5-argmin
    neighbor (hash keyed by walk step + current node + candidate), which
    is (a) uniformly pseudo-random, (b) bit-identical across engines and
    partitionings — so the whole corpus is hash-oracled, where a true RNG
    walk could only ever be rows-only.

    Scale: each step's choice is a function of (step, current node)
    alone — the shared-RNG-stream property — so the whole step is ONE
    map-side-combinable min_by groupBy over the edge table producing a
    node→next transition map (≤ |V| rows), which the walk frame then
    consumes via a broadcast join. Never a walks×edges join (that is
    Σ deg(current) ≈ |E|·|walks|/|V| rows — measured 12× slower here);
    k steps = k edge scans + k broadcast joins, no window, no collect.
    Walk count = |seed nodes|, never edge-quadratic."""
    e = _purchase_edges(spark, sf_dir)

    def step_map(key: str, cand: str, step: str, out: str) -> DataFrame:
        # deterministic tie-break: hash, then zero-padded candidate id
        h = F.concat_ws(
            "|",
            F.md5(F.concat_ws("|", F.lit(step), F.col(key), F.col(cand))),
            F.lpad(F.col(cand).cast("string"), 12, "0"),
        )
        return e.groupBy(key).agg(F.min_by(F.col(cand), h).alias(out))

    # two walks meeting at the same node step identically, so the three
    # transition maps fully determine every walk
    m1 = step_map("custkey", "suppkey", "w1", "s1")   # c0 → s1
    m2 = step_map("suppkey", "custkey", "w2", "c2")   # s1 → c2
    m3 = step_map("custkey", "suppkey", "w3", "s3")   # c2 → s3
    return (
        m1.join(F.broadcast(m2), m1.s1 == m2.suppkey)
        .select("custkey", "s1", "c2")
        .join(F.broadcast(m3.withColumnRenamed("custkey", "c2")), "c2")
        .select("custkey", "s1", "c2", "s3")
    )


ORACLE_KG_RANDOM_WALKS = """
WITH e AS (
  SELECT DISTINCT o_custkey AS custkey, l_suppkey AS suppkey
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
),
s1 AS (
  SELECT custkey,
         arg_min(suppkey, md5('w1' || '|' || custkey || '|' || suppkey)
                 || '|' || lpad(CAST(suppkey AS VARCHAR), 12, '0')) AS s1
  FROM e GROUP BY custkey
),
c2 AS (
  SELECT w.custkey, w.s1,
         arg_min(e2.custkey, md5('w2' || '|' || w.s1 || '|' || e2.custkey)
                 || '|' || lpad(CAST(e2.custkey AS VARCHAR), 12, '0')) AS c2
  FROM s1 w JOIN e e2 ON w.s1 = e2.suppkey
  GROUP BY w.custkey, w.s1
)
SELECT w.custkey AS custkey, w.s1 AS s1, w.c2 AS c2,
       arg_min(e3.suppkey, md5('w3' || '|' || w.c2 || '|' || e3.suppkey)
               || '|' || lpad(CAST(e3.suppkey AS VARCHAR), 12, '0')) AS s3
FROM c2 w JOIN e e3 ON w.c2 = e3.custkey
GROUP BY w.custkey, w.s1, w.c2
"""


def q_part_name_edit_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance near-duplicate detection (ER blocking refinement):
    part names within the same (brand, size) block at Levenshtein ≤ 2.

    Scale discipline, two layers: (1) levenshtein ≤ 2 implies
    |len(a)−len(b)| ≤ 2, so the length bound rides IN the equi-join key —
    one side replicates to its five candidate lengths (len−2…len+2) and
    the join blocks on (brand, length); each real pair matches exactly
    once (the emitted lengths are distinct) and out-of-band pairs never
    materialize at all. (2) The JVM `levenshtein(..., threshold=2)`
    variant is banded — O(threshold·min_len) per pair with early exit,
    returning -1 above the band, vs O(len²) unbounded. Blocking bounds
    the pair stream to Σ block² over the finer (brand, length) blocks,
    the same contract as the MinHash/LSH paths
    (`dedup.minhash_near_duplicates` is the scale path when no natural
    block key exists or blocks skew — the groupBy-count +
    broadcast-anti-join bucket cap pattern applies verbatim here)."""
    from hinbox_spark.partitioning import spread_for_compute

    p = _t(spark, sf_dir, "part").select("p_partkey", "p_name", "p_brand")
    # the banded levenshtein runs in the broadcast-hash-join condition on
    # the PROBE side — spread the probe so the ~Σ block² edit-distance
    # evaluations parallelize instead of running inside the single task of
    # a one-split scan (r6: 4.7 s wall with 32 idle cores); no-op at scale
    a = spread_for_compute(p, ["p_partkey"]).select(
        F.col("p_partkey").alias("a_key"), F.col("p_name").alias("a_nm"),
        "p_brand", F.length("p_name").alias("len_key"))
    b = p.select(
        F.col("p_partkey").alias("b_key"), F.col("p_name").alias("b_nm"),
        "p_brand",
        F.explode(
            F.sequence(F.length("p_name") - 2, F.length("p_name") + 2)
        ).alias("len_key"))
    pairs = a.join(b, ["p_brand", "len_key"]).filter(
        F.col("a_key") < F.col("b_key"))
    d = F.levenshtein(F.col("a_nm"), F.col("b_nm"), 2)
    return (
        pairs.select(
            F.col("a_key").alias("a_partkey"),
            F.col("b_key").alias("b_partkey"),
            F.col("a_nm").alias("a_name"),
            F.col("b_nm").alias("b_name"),
            d.alias("edit_distance"),
        )
        .filter(F.col("edit_distance") >= 0)
    )


ORACLE_PART_NAME_EDIT_PAIRS = """
SELECT a.p_partkey AS a_partkey, b.p_partkey AS b_partkey,
       a.p_name AS a_name, b.p_name AS b_name,
       levenshtein(a.p_name, b.p_name) AS edit_distance
FROM part a JOIN part b
  ON a.p_brand = b.p_brand AND a.p_partkey < b.p_partkey
WHERE levenshtein(a.p_name, b.p_name) <= 2
"""


def q_kg_shacl_violations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SHACL-style shape validation over the materialized KG — the graph
    QC pass a production KG pipeline runs before publishing a snapshot
    (reference parity: the reference's per-entity profile QC flags,
    re-expressed as declarative node-shape constraints over triples).
    Four constraints on the customer node shape:

      * ``in_nation minCount 1``        — every customer node asserts a
        nation (sh:minCount),
      * ``in_segment maxCount 1``       — at most one market segment
        (sh:maxCount),
      * ``placed_priority maxCount 3``  — no more than three distinct
        priorities per customer (violated by construction: repeat buyers
        spread across the five priority literals),
      * ``in_nation range closed``      — every in_nation object (any
        subject type) is a member of the nation dimension (sh:in closed
        value set).

    Scale plan: ONE subj-keyed aggregation (map-side combinable
    conditional count_distincts, one shuffle) feeds the three
    cardinality constraints; the node universe left-joins on the same
    key so nodes with zero triples still get evaluated for minCount.
    The per-node frame folds to a single row of counters, unpivoted via
    ``stack`` — driver never sees node rows. The closed-range check is
    ONE pass over the in_nation triples: a broadcast left join against
    the nation dimension (dimension-sized however large the triple
    store grows) whose null-indicator feeds focus count, violation
    count, and first-violator in the same fold. Zero violations is a
    legitimate (and asserted) outcome for the constraints the generator
    satisfies by construction."""
    t = _kg_triples(spark, sf_dir)
    tc = t.filter(F.col("subj").startswith("customer/"))
    per = tc.groupBy("subj").agg(
        F.count_distinct(
            F.when(F.col("pred") == "in_nation", F.col("obj"))
        ).alias("n_nation"),
        F.count_distinct(
            F.when(F.col("pred") == "in_segment", F.col("obj"))
        ).alias("n_segment"),
        F.count_distinct(
            F.when(F.col("pred") == "placed_priority", F.col("obj"))
        ).alias("n_priority"),
    )
    nodes = _t(spark, sf_dir, "customer").select(
        F.concat(F.lit("customer/"), F.col("c_custkey")).alias("subj"))
    per = nodes.join(per, "subj", "left").na.fill(
        0, ["n_nation", "n_segment", "n_priority"])
    folded = per.agg(
        F.count("*").alias("focus"),
        F.count(F.when(F.col("n_nation") < 1, 1)).alias("v1"),
        F.min(F.when(F.col("n_nation") < 1, F.col("subj"))).alias("f1"),
        F.count(F.when(F.col("n_segment") > 1, 1)).alias("v2"),
        F.min(F.when(F.col("n_segment") > 1, F.col("subj"))).alias("f2"),
        F.count(F.when(F.col("n_priority") > 3, 1)).alias("v3"),
        F.min(F.when(F.col("n_priority") > 3, F.col("subj"))).alias("f3"),
    )
    card = folded.selectExpr(
        "stack(3, "
        " 'customer/in_nation/minCount1',        focus, v1, f1,"
        " 'customer/in_segment/maxCount1',       focus, v2, f2,"
        " 'customer/placed_priority/maxCount3',  focus, v3, f3"
        ") AS (constraint_id, n_focus, n_violations, first_violator)")
    nat = _t(spark, sf_dir, "nation").select(
        F.col("n_name").alias("obj"), F.lit(1).alias("known"))
    rng = t.filter(F.col("pred") == "in_nation")
    unknown = F.col("known").isNull()
    range_row = (
        rng.join(F.broadcast(nat), "obj", "left")
        .agg(
            F.count("*").alias("n_focus"),
            F.count(F.when(unknown, 1)).alias("n_violations"),
            F.min(F.when(unknown, F.col("subj"))).alias("first_violator"),
        )
        .select(
            F.lit("any/in_nation/inClosedSet").alias("constraint_id"),
            "n_focus", "n_violations", "first_violator")
    )
    return card.unionByName(range_row).orderBy("constraint_id")


ORACLE_KG_SHACL = f"""
WITH {_ORACLE_KG_TRIPLES_CTE.strip()},
per AS (
  SELECT c.subj,
         coalesce(n_nation, 0) AS n_nation,
         coalesce(n_segment, 0) AS n_segment,
         coalesce(n_priority, 0) AS n_priority
  FROM (SELECT 'customer/' || c_custkey AS subj FROM customer) c
  LEFT JOIN (
    SELECT subj,
           count(DISTINCT CASE WHEN pred = 'in_nation' THEN obj END)
             AS n_nation,
           count(DISTINCT CASE WHEN pred = 'in_segment' THEN obj END)
             AS n_segment,
           count(DISTINCT CASE WHEN pred = 'placed_priority' THEN obj END)
             AS n_priority
    FROM t WHERE subj LIKE 'customer/%' GROUP BY subj
  ) a ON c.subj = a.subj
)
SELECT 'customer/in_nation/minCount1' AS constraint_id,
       count(*) AS n_focus,
       count(CASE WHEN n_nation < 1 THEN 1 END) AS n_violations,
       min(CASE WHEN n_nation < 1 THEN subj END) AS first_violator
FROM per
UNION ALL
SELECT 'customer/in_segment/maxCount1', count(*),
       count(CASE WHEN n_segment > 1 THEN 1 END),
       min(CASE WHEN n_segment > 1 THEN subj END)
FROM per
UNION ALL
SELECT 'customer/placed_priority/maxCount3', count(*),
       count(CASE WHEN n_priority > 3 THEN 1 END),
       min(CASE WHEN n_priority > 3 THEN subj END)
FROM per
UNION ALL
SELECT 'any/in_nation/inClosedSet',
       (SELECT count(*) FROM t WHERE pred = 'in_nation'),
       count(*), min(subj)
FROM (
  SELECT subj FROM t
  WHERE pred = 'in_nation'
    AND obj NOT IN (SELECT n_name FROM nation)
)
ORDER BY constraint_id
"""


def q_kg_property_path(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL property-path query with an OPTIONAL pattern: for every
    supplier, ``?s in_nation/^in_nation ?c`` (customers co-located via
    the inverse path) plus OPTIONAL ``?c placed_priority '1-URGENT'`` —
    per supplier, how many customers share its nation and how many of
    those are urgent buyers.

    Scale plan: the naive path plan materializes supplier×customer
    pairs (Σ per-nation |S|·|C| rows — quadratic in the co-location
    hubs). Because both endpoints only feed COUNT DISTINCT aggregates,
    the aggregation is pushed BELOW the inverse step: customers fold to
    one row per nation first (one subj-keyed left join against the
    urgent subject set, then a nation-keyed fold — both map-side
    combinable), and the supplier side broadcast-joins the resulting
    dimension-sized per-nation table. No pair row ever materializes;
    tests assert the customer aggregation sits BELOW the top-level
    broadcast join (partial_count inside its build side)."""
    t = _kg_triples(spark, sf_dir)
    cust_nat = t.filter(
        (F.col("pred") == "in_nation")
        & F.col("subj").startswith("customer/"))
    urgent = (
        t.filter((F.col("pred") == "placed_priority")
                 & (F.col("obj") == "1-URGENT"))
        .select("subj").distinct().withColumn("is_urgent", F.lit(1))
    )
    per_nation = (
        cust_nat.join(urgent, "subj", "left")
        .groupBy("obj")
        .agg(
            F.count_distinct("subj").alias("n_colocated_customers"),
            F.count_distinct(
                F.when(F.col("is_urgent") == 1, F.col("subj"))
            ).alias("n_urgent_colocated"),
        )
    )
    supp = t.filter(
        (F.col("pred") == "in_nation")
        & F.col("subj").startswith("supplier/"))
    return (
        supp.join(F.broadcast(per_nation), "obj", "left")
        .na.fill(0, ["n_colocated_customers", "n_urgent_colocated"])
        .select(
            F.col("subj").alias("supplier"),
            F.col("obj").alias("nation"),
            "n_colocated_customers", "n_urgent_colocated")
    )


ORACLE_KG_PROPERTY_PATH = f"""
WITH {_ORACLE_KG_TRIPLES_CTE.strip()},
urgent AS (
  SELECT DISTINCT subj FROM t
  WHERE pred = 'placed_priority' AND obj = '1-URGENT'
),
per_nation AS (
  SELECT c.obj AS nation,
         count(DISTINCT c.subj) AS n_colocated_customers,
         count(DISTINCT CASE WHEN u.subj IS NOT NULL THEN c.subj END)
           AS n_urgent_colocated
  FROM t c LEFT JOIN urgent u ON c.subj = u.subj
  WHERE c.pred = 'in_nation' AND c.subj LIKE 'customer/%'
  GROUP BY c.obj
)
SELECT s.subj AS supplier, s.obj AS nation,
       coalesce(n_colocated_customers, 0) AS n_colocated_customers,
       coalesce(n_urgent_colocated, 0) AS n_urgent_colocated
FROM t s LEFT JOIN per_nation p ON s.obj = p.nation
WHERE s.pred = 'in_nation' AND s.subj LIKE 'supplier/%'
"""


def q_kg_negative_samples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KG-embedding training prep: TransE-style corrupted-tail negative
    sampling over the ``placed_priority`` triples, in the *filtered*
    protocol of Bordes et al. 2013 (negatives that happen to be true
    triples are flagged so the loss/eval can drop them). RNG-free so
    both engines and every rerun agree byte-for-byte: the corruption
    index is md5(subj#obj) mod (V−1) over the ranked object vocabulary,
    with the index-shift trick (idx ≥ rank(true) → idx+1) giving an
    exactly uniform draw over the V−1 WRONG objects — no rejection
    loop, no window.

    Scale plan: the object vocabulary is ranked once (V rows — literal
    vocabularies are dimension-sized) and broadcast twice: once to
    resolve the true object's rank, once to resolve the sampled index
    back to a literal. The filtered flag is a left join against the
    distinct true-triple set on (subj, candidate) — same subj-keyed
    partitioning as the input, one shuffle. Everything downstream of
    the distincts is JVM expressions (md5/conv), no Python. A
    single-literal vocabulary (V == 1) has no wrong object to draw, so
    it yields an explicit EMPTY result (filtered before the modulo —
    never a silent `h % 0` NULL-join)."""
    t = _kg_triples(spark, sf_dir)
    tp = (
        t.filter(F.col("pred") == "placed_priority")
        .select("subj", "obj").distinct()
    )
    vocab = tp.select("obj").distinct()
    w = Window.orderBy("obj")
    # V literals total: a global row_number over a dimension-sized frame
    # (the SinglePartition sort is V rows, not corpus rows)
    ranked = vocab.select(
        "obj", (F.row_number().over(w) - F.lit(1)).alias("idx"))
    n_row = ranked.agg(F.count("*").alias("n_obj"))
    h = F.conv(
        F.substring(F.md5(F.concat_ws("#", "subj", "obj")), 1, 8), 16, 10
    ).cast("long")
    # a single-literal vocabulary has no wrong object to draw — filter
    # BEFORE the modulo so the degenerate case is an explicit empty
    # result (documented), never a silent NULL-join from `h % 0`
    base = (
        tp.crossJoin(F.broadcast(n_row))
        .filter(F.col("n_obj") > 1)
        .join(
            F.broadcast(ranked.withColumnRenamed("idx", "true_idx")), "obj")
        .withColumn("r", h % (F.col("n_obj") - 1))
        .withColumn(
            "neg_idx",
            F.when(F.col("r") < F.col("true_idx"), F.col("r"))
            .otherwise(F.col("r") + 1))
    )
    neg = base.join(
        F.broadcast(
            ranked.select(
                F.col("idx").alias("neg_idx"), F.col("obj").alias("neg_obj"))
        ),
        "neg_idx",
    )
    truth = tp.select(
        "subj", F.col("obj").alias("neg_obj"), F.lit(1).alias("hit"))
    return (
        neg.join(truth, ["subj", "neg_obj"], "left")
        .select(
            "subj",
            F.col("obj").alias("true_obj"),
            "neg_obj",
            F.when(F.col("hit").isNotNull(), F.lit(1))
            .otherwise(F.lit(0)).alias("is_filtered"),
        )
    )


ORACLE_KG_NEGATIVE_SAMPLES = f"""
WITH {_ORACLE_KG_TRIPLES_CTE.strip()},
tp AS (
  SELECT DISTINCT subj, obj FROM t WHERE pred = 'placed_priority'
),
ranked AS (
  SELECT obj, row_number() OVER (ORDER BY obj) - 1 AS idx
  FROM (SELECT DISTINCT obj FROM tp)
),
n AS (SELECT count(*) AS n_obj FROM ranked),
base AS (
  SELECT tp.subj, tp.obj, r.idx AS true_idx,
         CAST(('0x' || substr(md5(tp.subj || '#' || tp.obj), 1, 8))
              AS BIGINT) % (n.n_obj - 1) AS r
  FROM tp
  CROSS JOIN n
  JOIN ranked r ON tp.obj = r.obj
  WHERE n.n_obj > 1
),
neg AS (
  SELECT b.subj, b.obj, r2.obj AS neg_obj
  FROM base b
  JOIN ranked r2
    ON r2.idx = CASE WHEN b.r < b.true_idx THEN b.r ELSE b.r + 1 END
)
SELECT neg.subj AS subj, neg.obj AS true_obj, neg.neg_obj AS neg_obj,
       CASE WHEN tp2.subj IS NOT NULL THEN 1 ELSE 0 END AS is_filtered
FROM neg
LEFT JOIN tp tp2 ON tp2.subj = neg.subj AND tp2.obj = neg.neg_obj
"""


def q_kg_schema_induction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema/ontology induction from instance triples — the step that
    turns a bag of extracted (subj, pred, obj) assertions into a typed
    schema a downstream consumer can trust: per predicate, the dominant
    subject class (IRI prefix), its purity, the inferred object
    datatype (uniform integer / date / string, else 'mixed'), and an
    OWL FunctionalProperty flag. Mirrors what KG-construction systems
    (e.g. schema-on-read RDF profilers) publish next to the graph.

    The triple view is widened with two typed branches private to this
    query — nation_code (integer literals) and placed_on (date
    literals) — so datatype inference has real work to do. Purity is
    floor-scaled to milli-units (integer-exact across engines; the
    repo-wide rule for ratios in oracle-hashed outputs).

    Scale plan: three aggregation trees, all map-side combinable, all
    landing on ≤|preds| rows — (pred, class) counts with a deterministic
    count-desc/class-asc argmax via per-pred sort of a handful of class
    rows; (pred, subj) distinct-object counts folding to the functional
    flag; per-pred datatype-set folds over a regexp classification
    (pure JVM). Nothing driver-side, no window over corpus rows."""
    t = _kg_triples(spark, sf_dir)
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    extra = c.select(
        F.concat(F.lit("customer/"), F.col("c_custkey")).alias("subj"),
        F.lit("nation_code").alias("pred"),
        F.col("c_nationkey").cast("string").alias("obj"),
    ).unionByName(o.select(
        F.concat(F.lit("customer/"), F.col("o_custkey")).alias("subj"),
        F.lit("placed_on").alias("pred"),
        F.col("o_orderdate").cast("date").cast("string").alias("obj"),
    ))
    t = t.unionByName(extra)
    typed = t.withColumn(
        "obj_type",
        F.when(F.col("obj").rlike("^-?[0-9]+$"), F.lit("integer"))
        .when(F.col("obj").rlike("^[0-9]{4}-[0-9]{2}-[0-9]{2}$"),
              F.lit("date"))
        .otherwise(F.lit("string")),
    ).withColumn("subj_class", F.split("subj", "/").getItem(0))
    by_class = typed.groupBy("pred", "subj_class").agg(
        F.count("*").alias("n_cls"))
    w = Window.partitionBy("pred").orderBy(
        F.col("n_cls").desc(), F.col("subj_class").asc())
    dom = (
        by_class.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("pred", F.col("subj_class").alias("dominant_subject_class"),
                F.col("n_cls").alias("n_dom"))
    )
    stats = typed.groupBy("pred").agg(
        F.count("*").alias("n_triples"),
        F.count_distinct("subj").alias("n_subjects"),
        F.count_distinct("obj_type").alias("n_types"),
        F.min("obj_type").alias("one_type"),
    )
    func = (
        typed.groupBy("pred", "subj")
        .agg(F.count_distinct("obj").alias("n_obj"))
        .groupBy("pred")
        .agg(F.max("n_obj").alias("max_obj"))
    )
    return (
        stats.join(dom, "pred").join(func, "pred")
        .select(
            "pred", "n_triples", "n_subjects", "dominant_subject_class",
            F.floor(F.lit(1000) * F.col("n_dom") / F.col("n_triples"))
            .alias("subject_class_purity_milli"),
            F.when(F.col("n_types") == 1, F.col("one_type"))
            .otherwise(F.lit("mixed")).alias("inferred_object_type"),
            F.when(F.col("max_obj") == 1, F.lit(1)).otherwise(F.lit(0))
            .alias("is_functional"),
        )
        .orderBy("pred")
    )


ORACLE_KG_SCHEMA_INDUCTION = f"""
WITH {_ORACLE_KG_TRIPLES_CTE.strip()},
t2 AS (
  SELECT subj, pred, obj FROM t
  UNION ALL
  SELECT 'customer/' || c_custkey, 'nation_code',
         CAST(c_nationkey AS VARCHAR)
  FROM customer
  UNION ALL
  SELECT 'customer/' || o_custkey, 'placed_on',
         CAST(CAST(o_orderdate AS DATE) AS VARCHAR)
  FROM orders
),
typed AS (
  SELECT subj, pred, obj,
         CASE WHEN regexp_matches(obj, '^-?[0-9]+$') THEN 'integer'
              WHEN regexp_matches(obj, '^[0-9]{{4}}-[0-9]{{2}}-[0-9]{{2}}$')
                THEN 'date'
              ELSE 'string' END AS obj_type,
         string_split(subj, '/')[1] AS subj_class
  FROM t2
),
dom AS (
  SELECT pred, subj_class AS dominant_subject_class, n_cls AS n_dom
  FROM (
    SELECT pred, subj_class, count(*) AS n_cls,
           row_number() OVER (
             PARTITION BY pred ORDER BY count(*) DESC, subj_class ASC
           ) AS rn
    FROM typed GROUP BY pred, subj_class
  ) WHERE rn = 1
),
stats AS (
  SELECT pred, count(*) AS n_triples, count(DISTINCT subj) AS n_subjects,
         count(DISTINCT obj_type) AS n_types, min(obj_type) AS one_type
  FROM typed GROUP BY pred
),
func AS (
  SELECT pred, max(n_obj) AS max_obj
  FROM (SELECT pred, subj, count(DISTINCT obj) AS n_obj
        FROM typed GROUP BY pred, subj)
  GROUP BY pred
)
SELECT s.pred AS pred, n_triples, n_subjects, dominant_subject_class,
       CAST(floor(1000.0 * n_dom / n_triples) AS BIGINT)
         AS subject_class_purity_milli,
       CASE WHEN n_types = 1 THEN one_type ELSE 'mixed' END
         AS inferred_object_type,
       CASE WHEN max_obj = 1 THEN 1 ELSE 0 END AS is_functional
FROM stats s
JOIN dom ON s.pred = dom.pred
JOIN func ON s.pred = func.pred
ORDER BY s.pred
"""


def q_kg_completion_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KG-completion evaluation in the FILTERED protocol (Bordes et al.
    2013): per predicate, rank the true tail of every (subj, pred, obj)
    test triple under a deterministic popularity scorer (global
    (pred, obj) frequency, obj-asc tie-break), filtering the subject's
    OTHER true tails out of the candidate list; report n_test,
    MRR (micro-units, integer-exact) and Hits@1/Hits@3.

    The trick that makes this web-scale: the UNFILTERED rank is a
    property of (pred, obj) alone — one row_number over the
    dimension-sized vocabulary — so no test×vocab candidate expansion
    ever materializes (the textbook implementation is |test|·|V| rows).
    The filtered correction subtracts the subject's better-ranked
    sibling tails: a self-join on (subj, pred) whose fan-out is the
    per-subject tail count (≤|V|, here ≤5), not |V|. MRR is summed as
    floor(1e6/rank) BEFORE averaging so both engines fold integers —
    no float-accumulation-order flake in the oracle hash."""
    t = _kg_triples(spark, sf_dir)
    tp = (
        t.filter(F.col("pred").isin("in_nation", "in_segment",
                                    "placed_priority"))
        .select("subj", "pred", "obj").distinct()
    )
    pop = tp.groupBy("pred", "obj").agg(F.count("*").alias("freq"))
    w = Window.partitionBy("pred").orderBy(
        F.col("freq").desc(), F.col("obj").asc())
    ranked = pop.select(
        "pred", "obj", F.row_number().over(w).alias("r"))
    test = tp.join(F.broadcast(ranked), ["pred", "obj"])
    sib = test.select(
        "subj", "pred", F.col("obj").alias("sib_obj"),
        F.col("r").alias("sib_r"))
    better = (
        test.join(sib, ["subj", "pred"])
        .filter((F.col("sib_obj") != F.col("obj"))
                & (F.col("sib_r") < F.col("r")))
        .groupBy("subj", "pred", "obj")
        .agg(F.count("*").alias("n_better"))
    )
    scored = (
        test.join(better, ["subj", "pred", "obj"], "left")
        .withColumn("rank", F.col("r") - F.coalesce("n_better", F.lit(0)))
    )
    return (
        scored.groupBy("pred")
        .agg(
            F.count("*").alias("n_test"),
            F.floor(
                F.sum(F.floor(F.lit(1000000) / F.col("rank")))
                / F.count("*")
            ).alias("mrr_micro"),
            F.count(F.when(F.col("rank") == 1, 1)).alias("n_hits1"),
            F.count(F.when(F.col("rank") <= 3, 1)).alias("n_hits3"),
        )
        .orderBy("pred")
    )


ORACLE_KG_COMPLETION_EVAL = f"""
WITH {_ORACLE_KG_TRIPLES_CTE.strip()},
tp AS (
  SELECT DISTINCT subj, pred, obj FROM t
  WHERE pred IN ('in_nation', 'in_segment', 'placed_priority')
),
ranked AS (
  SELECT pred, obj,
         row_number() OVER (
           PARTITION BY pred ORDER BY count(*) DESC, obj ASC
         ) AS r
  FROM tp GROUP BY pred, obj
),
test AS (
  SELECT tp.subj, tp.pred, tp.obj, ranked.r
  FROM tp JOIN ranked ON tp.pred = ranked.pred AND tp.obj = ranked.obj
),
better AS (
  SELECT a.subj, a.pred, a.obj, count(*) AS n_better
  FROM test a JOIN test b ON a.subj = b.subj AND a.pred = b.pred
  WHERE b.obj <> a.obj AND b.r < a.r
  GROUP BY a.subj, a.pred, a.obj
),
scored AS (
  SELECT test.pred, test.r - coalesce(n_better, 0) AS rank
  FROM test LEFT JOIN better
    ON test.subj = better.subj AND test.pred = better.pred
   AND test.obj = better.obj
)
SELECT pred, count(*) AS n_test,
       CAST(floor(sum(floor(1000000.0 / rank)) / count(*)) AS BIGINT)
         AS mrr_micro,
       count(CASE WHEN rank = 1 THEN 1 END) AS n_hits1,
       count(CASE WHEN rank <= 3 THEN 1 END) AS n_hits3
FROM scored GROUP BY pred ORDER BY pred
"""


# ── round-5 continuation: KG fusion / graph / exact-similarity family ──


def q_kg_truth_discovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Truth discovery for KG fusion — resolve conflicting (object, value)
    claims from many sources by iterated source reliability (Sums /
    TruthFinder family, the Knowledge-Vault-style fusion step that follows
    triple extraction: reference parity `src/engine.py` merge loop, which
    trusts per-article assertions equally; this operator weighs them).

    Claims: DISTINCT (supplier → part → returnflag) assertions from
    lineitem. Two un-normalized Sums rounds kept INTEGER-exact so both
    engines agree to the digit (normalizing divisions would reintroduce
    float-order divergence):
      c1(o,v) = #sources asserting (o,v)          — vote count
      t1(s)   = Σ_{(o,v) claimed by s} c1(o,v)    — source trust
      c2(o,v) = Σ_{s asserting (o,v)} t1(s)       — trust-weighted belief
    Resolution per object: argmin over (-c2, v) — highest belief, value
    ASC on ties — via one min_by struct aggregate (map-side combinable).

    Scale shape (10^12 claims): claims-distinct and c1 are map-side
    combinable groupBys on (obj, val); t1 re-joins claims to c1 on the
    SAME (obj, val) keys (shuffle reuse, no new exchange); the t1 table is
    source-cardinality (web domains ≪ triples) and is broadcast back.
    Nothing collects; no floats; no windows over raw claims."""
    li = _t(spark, sf_dir, "lineitem")
    claims = (
        li.select(
            F.col("l_suppkey").alias("src"),
            F.col("l_partkey").alias("obj"),
            F.col("l_returnflag").alias("val"),
        ).distinct()
    )
    c1 = claims.groupBy("obj", "val").agg(F.count("*").alias("c1"))
    t1 = (
        claims.join(c1, ["obj", "val"])
        .groupBy("src")
        .agg(F.sum("c1").alias("t1"))
    )
    c2 = (
        claims.join(F.broadcast(t1), "src")
        .groupBy("obj", "val")
        .agg(F.sum("t1").alias("score"))
    )
    per_obj = claims.groupBy("obj").agg(
        F.count_distinct("val").alias("n_values"),
        F.count_distinct("src").alias("n_sources"),
    )
    resolved = c2.groupBy("obj").agg(
        F.min_by(
            F.struct(F.col("val").alias("v"), F.col("score").alias("sc")),
            F.struct((-F.col("score")).alias("neg"), F.col("val").alias("v")),
        ).alias("best")
    )
    return (
        resolved.join(per_obj, "obj")
        .select(
            F.col("obj").alias("partkey"),
            F.col("best.v").alias("resolved_flag"),
            F.col("best.sc").alias("score"),
            "n_values",
            "n_sources",
        )
    )


def q_kg_embedding_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TransE KG-embedding training over the materialized triple store
    (`operators/kge.py`: partition-local SGD + per-epoch model
    averaging, deterministic end-to-end) followed by a distributed
    quality eval: per predicate, the mean L2 energy ‖h+r−t‖² of TRUE
    triples vs hash-corrupted ones and the margin-satisfaction rate.
    Training must drive true-triple energy BELOW corrupted energy for
    every predicate (asserted in tests/test_kge.py, along with the
    distributed==sequential pin and local[1]==local[4] invariance).

    Rows-only in the driver contract: two epochs of SGD are not one SQL
    statement. Scale shape: one Arrow-batched applyInPandas sweep +
    one map-side-combinable average shuffle per epoch; eval is one
    mapInPandas pass with the model on the broadcast (driver holds one
    model copy between epochs — parameter-server sharding is the
    10⁹-entity path, documented in kge.py)."""
    import pandas as pd  # noqa: F401

    from hinbox_spark.operators.kge import _h64, transe_train

    # lazy localCheckpoint: the train's pid-stamped materialization pulls
    # these blocks into the cache once; the eval pass below then reads the
    # same blocks instead of re-deriving the 4-branch triple union (the
    # view was computed 4× per bench run before — guide §1.2 "don't
    # compute things twice")
    t = _kg_triples(spark, sf_dir).distinct().localCheckpoint(eager=False)
    ent, rel = transe_train(t, dim=16, epochs=2, parts=8, pre_distinct=True)
    bc = spark.sparkContext.broadcast((ent, rel))

    def energies(batches):
        import numpy as np
        import pandas as pd

        ent_b, rel_b = bc.value
        ents_sorted = sorted(ent_b)
        for pdf in batches:
            rows = []
            for s, p, o in zip(
                pdf["subj"], pdf["pred"], pdf["obj"], strict=True
            ):
                idx = _h64(f"{s}\x1f{p}\x1f{o}\x1feval") % max(
                    len(ents_sorted) - 1, 1
                )
                neg = ents_sorted[idx]
                if neg == o:
                    neg = ents_sorted[(idx + 1) % len(ents_sorted)]
                d_pos = ent_b[s] + rel_b[p] - ent_b[o]
                d_neg = ent_b[s] + rel_b[p] - ent_b[neg]
                e_pos = float(d_pos @ d_pos)
                e_neg = float(d_neg @ d_neg)
                rows.append((p, e_pos, e_neg, 1 if e_pos < e_neg else 0))
            yield pd.DataFrame(
                rows, columns=["pred", "e_pos", "e_neg", "ok"]
            )

    scored = t.mapInPandas(
        energies, "pred string, e_pos double, e_neg double, ok long"
    )
    return scored.groupBy("pred").agg(
        F.count("*").alias("n_triples"),
        F.round(F.avg("e_pos"), 4).alias("mean_true_energy"),
        F.round(F.avg("e_neg"), 4).alias("mean_corrupt_energy"),
        F.round(F.avg("ok"), 4).alias("rank_acc"),
    )


def q_doc_bloom_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter novelty screen — the constant-memory membership
    structure every incremental crawl dedup runs BEFORE the expensive
    exact/near-dup passes: build a Bloom filter over the HISTORY corpus'
    content fingerprints (even doc_ids), test each INCOMING doc (odd
    doc_ids), and report per source how many were flagged, how many were
    true duplicates, and how many were Bloom FALSE POSITIVES (false
    negatives are impossible by construction — pinned in tests).

    The filter is fully deterministic, so it is ORACLE-checkable: m=4096
    bits, j=3 probes at (h1 + i·h2) mod m with h1/h2 = two 32-bit halves
    of the md5 fingerprint — the identical integer formula on both
    engines. The 'bit array' is represented as the DISTINCT set-position
    table: membership(p) ⇔ p ∈ positions(history), exactly Bloom
    semantics.

    Scale shape: history positions are a map-side-combinable distinct
    (≤ m rows however large history grows) broadcast to the incoming
    side — ZERO shuffle on the incoming corpus, the whole point of the
    op at 10¹² docs; the truth join (oracle-side extra) is the standard
    fingerprint equi-join. In production the same plan holds with m
    sized to n (bits stay broadcast-constant) and the position table
    folded into `aggregate`d long registers (operators/sketches.py CMS
    pattern) — semantics identical."""
    d = _t(spark, sf_dir, "documents")
    fp = F.md5(F.concat_ws(" ", F.slice(F.split(F.col("text"), " "), 1, 8)))
    h1 = F.conv(F.substring(F.col("fp"), 1, 8), 16, 10).cast("long") % 4096
    h2 = F.conv(F.substring(F.col("fp"), 9, 8), 16, 10).cast("long") % 4096
    probes = F.array(
        *[(h1 + F.lit(i) * h2) % 4096 for i in range(3)]
    )
    base = d.select("doc_id", "source", fp.alias("fp")).withColumn(
        "probes", probes
    )
    hist = base.filter(F.col("doc_id") % 2 == 0)
    inc = base.filter(F.col("doc_id") % 2 == 1)
    bloom = (
        hist.select(F.explode("probes").alias("pos")).distinct()
    )
    hits = (
        inc.select("doc_id", F.explode("probes").alias("pos"))
        .join(F.broadcast(bloom), "pos", "left_semi")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_hit"))
        .filter(F.col("n_hit") == 3)
        .select("doc_id", F.lit(True).alias("flagged"))
    )
    truth = (
        inc.join(
            hist.select(F.col("fp").alias("hfp")).distinct(),
            F.col("fp") == F.col("hfp"),
            "left_semi",
        ).select("doc_id", F.lit(True).alias("is_dup"))
    )
    joined = (
        inc.select("doc_id", "source")
        .join(F.broadcast(hits), "doc_id", "left")
        .join(F.broadcast(truth), "doc_id", "left")
    )
    return joined.groupBy("source").agg(
        F.count("*").alias("n_incoming"),
        F.sum(F.when(F.col("flagged"), 1).otherwise(0)).alias("n_flagged"),
        F.sum(F.when(F.col("is_dup"), 1).otherwise(0)).alias("n_true_dups"),
        F.sum(
            F.when(F.col("flagged") & F.col("is_dup").isNull(), 1).otherwise(0)
        ).alias("n_false_pos"),
        F.sum(
            F.when(F.col("is_dup") & F.col("flagged").isNull(), 1).otherwise(0)
        ).alias("n_false_neg"),
    )


ORACLE_DOC_BLOOM_NOVELTY = """
WITH base AS (
  SELECT doc_id, source,
         md5(array_to_string(string_split(text, ' ')[1:8], ' ')) AS fp
  FROM documents
), hashed AS (
  SELECT doc_id, source, fp,
         CAST(('0x' || substr(fp, 1, 8)) AS BIGINT) % 4096 AS h1,
         CAST(('0x' || substr(fp, 9, 8)) AS BIGINT) % 4096 AS h2
  FROM base
), probes AS (
  SELECT doc_id, source, fp, (h1 + i * h2) % 4096 AS pos
  FROM hashed, unnest([0, 1, 2]) AS t(i)
), bloom AS (
  SELECT DISTINCT pos FROM probes WHERE doc_id % 2 = 0
), flagged AS (
  SELECT p.doc_id FROM probes p JOIN bloom USING (pos)
  WHERE p.doc_id % 2 = 1
  GROUP BY p.doc_id HAVING count(*) = 3
), dups AS (
  SELECT DISTINCT i.doc_id
  FROM base i JOIN base h ON i.fp = h.fp
  WHERE i.doc_id % 2 = 1 AND h.doc_id % 2 = 0
), inc AS (
  SELECT b.doc_id, b.source,
         f.doc_id IS NOT NULL AS flagged,
         d.doc_id IS NOT NULL AS is_dup
  FROM base b
  LEFT JOIN flagged f ON b.doc_id = f.doc_id
  LEFT JOIN dups d ON b.doc_id = d.doc_id
  WHERE b.doc_id % 2 = 1
)
SELECT source, count(*) AS n_incoming,
       CAST(sum(CASE WHEN flagged THEN 1 ELSE 0 END) AS BIGINT)
         AS n_flagged,
       CAST(sum(CASE WHEN is_dup THEN 1 ELSE 0 END) AS BIGINT)
         AS n_true_dups,
       CAST(sum(CASE WHEN flagged AND NOT is_dup THEN 1 ELSE 0 END)
            AS BIGINT) AS n_false_pos,
       CAST(sum(CASE WHEN is_dup AND NOT flagged THEN 1 ELSE 0 END)
            AS BIGINT) AS n_false_neg
FROM inc
GROUP BY source
"""


def q_doc_jaccard_prefix_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT set-similarity self-join with PREFIX FILTERING (AllPairs /
    PPJoin family, Bayardo et al. 2007) — the scalable *exact* near-dup
    join, complementing the approximate MinHash/SimHash paths: all
    document pairs whose 4-shingle sets have Jaccard ≥ 0.5.

    Plan: rank every shingle by global rarity (df ASC, shingle ASC);
    per doc sort its shingles by that rank and keep only the PREFIX of
    p = n − ceil(τ·n) + 1 rarest shingles (τ=0.5 → p = n − ceil(n/2) + 1).
    The prefix-filtering theorem guarantees two sets with Jaccard ≥ τ
    share ≥ 1 prefix token, so joining on PREFIX tokens only is
    candidate-complete while shrinking join buckets to the rare end of
    the df distribution (a boilerplate shingle shared by half the corpus
    never generates candidates unless it lands in some doc's rare
    prefix). Survivors are verified EXACTLY via array_intersect on the
    bounded per-doc shingle arrays; the τ-test is kept integer
    (3·|∩| ≥ nₐ+n_b ⇔ J ≥ 0.5) so no float crosses the engine boundary.

    Scale shape: df is a map-side-combinable groupBy; the rank join
    reuses the shingle hash partitioning; candidate buckets are
    df-bounded by construction (degenerate corpora → the capped LSH path
    in operators/dedup.py is the approximate fallback); per-doc arrays
    are document-length-bounded. The DuckDB oracle is the NAIVE exact
    join — same answer, independent plan."""
    # lazy checkpoint: the shingle explode feeds the df count, the rank
    # join AND (via per_doc) both sides of the prefix self-join — the
    # Python pass was computed 2-4×; materializing once A/B'd faster
    # every round (2.6 vs 2.1 s, r6 session 2)
    sh = _doc_shingles(spark, sf_dir).localCheckpoint(eager=False)
    dfc = sh.groupBy("sh").agg(F.count("*").alias("df"))
    per_doc = (
        sh.join(dfc, "sh")
        .groupBy("doc_id")
        .agg(
            F.sort_array(
                F.collect_list(F.struct(F.col("df"), F.col("sh")))
            ).alias("ranked")
        )
        .select(
            "doc_id",
            F.transform(F.col("ranked"), lambda x: x["sh"]).alias("shs"),
            F.size("ranked").alias("n"),
        )
    )
    # prefix length for tau=0.5: n - ceil(n/2) + 1 = n div 2 + 1
    prefix = per_doc.select(
        "doc_id",
        F.explode(
            F.slice(F.col("shs"), 1, F.floor(F.col("n") / 2) + 1)
        ).alias("sh"),
    )
    cand = (
        prefix.alias("a")
        .join(prefix.alias("b"), "sh")
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )
    da = per_doc.select(
        F.col("doc_id").alias("doc_a"),
        F.col("shs").alias("shs_a"),
        F.col("n").alias("n_a"),
    )
    db = per_doc.select(
        F.col("doc_id").alias("doc_b"),
        F.col("shs").alias("shs_b"),
        F.col("n").alias("n_b"),
    )
    return (
        cand.join(da, "doc_a")
        .join(db, "doc_b")
        .withColumn(
            "n_inter", F.size(F.array_intersect("shs_a", "shs_b"))
        )
        .filter(3 * F.col("n_inter") >= F.col("n_a") + F.col("n_b"))
        .select(
            "doc_a", "doc_b",
            F.col("n_inter").cast("long").alias("n_inter"),
            F.col("n_a").cast("long").alias("n_a"),
            F.col("n_b").cast("long").alias("n_b"),
        )
    )


ORACLE_DOC_JACCARD_PREFIX = """
WITH words AS (
  SELECT doc_id, string_split(text, ' ') AS w FROM documents
),
shingles AS (
  SELECT DISTINCT doc_id, array_to_string(w[g:g+3], ' ') AS sh
  FROM words, unnest(generate_series(1, greatest(len(w) - 3, 0))) AS t(g)
),
sizes AS (SELECT doc_id, count(*) AS n FROM shingles GROUP BY 1),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
  FROM shingles a JOIN shingles b
    ON a.sh = b.sh AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b, n_inter, sa.n AS n_a, sb.n AS n_b
FROM inter
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE 3 * n_inter >= sa.n + sb.n
"""


def q_copurchase_shortest_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hop-bounded WEIGHTED shortest paths over the purchase graph —
    the cost-aware sibling of `copurchase_bfs_hops` (BFS counts hops;
    real KG traversals weight edges: relation confidence, latency bands,
    toll costs). Edge weight = 1 + min(l_quantity) % 4 per (customer,
    supplier) edge — a deterministic 1..4 cost band derived from the
    data. From the lowest-custkey node, dist = min total weight over
    paths of ≤ 3 edges (`operators/graph.sssp_bounded`, bounded
    Bellman-Ford: one frontier shuffle + one min-merge per round,
    id-only state, O(1) plan depth); emitted as a (dist, n_nodes)
    profile. The DuckDB oracle is an independent algorithm — a recursive
    CTE enumerating (node, total, hops) walk states then min per node —
    so the iterative relaxation is value-verified, not rows-only."""
    from hinbox_spark.operators.graph import sssp_bounded

    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_quantity"
    )
    ew = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .groupBy(
            F.col("o_custkey").alias("ck"), F.col("l_suppkey").alias("sk")
        )
        .agg(F.min("l_quantity").alias("mq"))
        .select(
            "ck", "sk",
            (F.lit(1) + F.col("mq").cast("long") % 4).alias("w"),
        )
    )
    fwd = ew.select(
        F.concat(F.lit("c:"), F.col("ck")).alias("src"),
        F.concat(F.lit("s:"), F.col("sk")).alias("dst"),
        "w",
    )
    bi = fwd.unionByName(
        fwd.select(F.col("dst").alias("src"), F.col("src").alias("dst"), "w")
    ).localCheckpoint(eager=False)
    src_key = (
        _t(spark, sf_dir, "orders").agg(F.min("o_custkey").alias("k")).first()["k"]
    )
    sources = spark.createDataFrame([(f"c:{src_key}",)], "node_id string")
    dists = sssp_bounded(bi, sources, max_hops=3)
    return dists.groupBy("dist").agg(F.count("*").alias("n_nodes"))


ORACLE_COPURCHASE_SSSP = """
WITH RECURSIVE e0 AS (
  SELECT o_custkey AS ck, l_suppkey AS sk,
         1 + CAST(min(l_quantity) AS BIGINT) % 4 AS w
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
  GROUP BY 1, 2
), bi AS (
  SELECT 'c:' || ck AS src, 's:' || sk AS dst, w FROM e0
  UNION ALL
  SELECT 's:' || sk, 'c:' || ck, w FROM e0
), walk(node, d, h) AS (
  SELECT 'c:' || min(o_custkey), CAST(0 AS BIGINT), 0 FROM orders
  UNION
  SELECT bi.dst, walk.d + bi.w, walk.h + 1
  FROM walk JOIN bi ON bi.src = walk.node
  WHERE walk.h < 3
), best AS (
  SELECT node, min(d) AS dist FROM walk GROUP BY node
)
SELECT dist, count(*) AS n_nodes FROM best GROUP BY 1
"""


def q_kg_entity_alignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source entity alignment (ontology-matching style): match
    supplier entities to customer entities inside a blocking key (nation)
    by numeric-profile proximity (account balance in integer cents), keep
    only MUTUAL best matches — the deterministic re-expression of the
    reference's similarity-then-confirm merge step
    (`src/engine.py` profile matching) for two entity collections.

    Spec: per (nation, side, cents) the representative is the min key;
    a supplier's best customer is argmin over (|Δcents|, customer cents)
    — unique because representative cents are distinct per side — and
    vice versa; emit mutual pairs only.

    Scale shape: the naive plan is a per-block cross join (quadratic in
    the block). This plan is the SORT-ADJACENCY one: nearest-in-value is
    always adjacent in the per-block (cents, side, key) sort order, so
    ONE window pass (as-of-join pattern, `operators/asof.py` at
    cluster scale) yields each side's nearest other-side candidate from
    last/first IGNORE NULLS — O(n log n), no pair materialization. The
    mutual check is an id-only self-join. Integer cents keep both
    engines bit-identical (no float rounding divergence)."""
    cents = lambda col: F.round(F.col(col) * 100).cast("long")  # noqa: E731
    sup = (
        _t(spark, sf_dir, "supplier")
        .groupBy(
            F.col("s_nationkey").alias("nk"),
            cents("s_acctbal").alias("cents"),
        )
        .agg(F.min("s_suppkey").alias("key"))
        .withColumn("side", F.lit("S"))
    )
    cus = (
        _t(spark, sf_dir, "customer")
        .groupBy(
            F.col("c_nationkey").alias("nk"),
            cents("c_acctbal").alias("cents"),
        )
        .agg(F.min("c_custkey").alias("key"))
        .withColumn("side", F.lit("C"))
    )
    pts = sup.unionByName(cus)
    w = Window.partitionBy("nk").orderBy("cents", "side", "key")
    prevf = w.rowsBetween(Window.unboundedPreceding, -1)
    nextf = w.rowsBetween(1, Window.unboundedFollowing)

    def other(side: str, col: str) -> F.Column:
        return F.when(F.col("side") == side, F.col(col))

    def cand(cents_col: F.Column, key_col: F.Column) -> F.Column:
        return F.when(
            key_col.isNotNull(),
            F.struct(
                F.abs(F.col("cents") - cents_col).alias("diff"),
                cents_col.alias("ocents"),
                key_col.alias("okey"),
            ),
        )

    enriched = pts.select(
        "nk", "cents", "side", "key",
        *[
            f(other(s, c), True).over(fr).alias(n)
            for s, tag in (("C", "c"), ("S", "s"))
            for f, fr, d in ((F.last, prevf, "p"), (F.first, nextf, "n"))
            for c, kind in (("cents", "cents"), ("key", "key"))
            for n in [f"{d}_{tag}_{kind}"]
        ],
    )
    best_of = lambda tag: F.least(  # noqa: E731
        cand(F.col(f"p_{tag}_cents"), F.col(f"p_{tag}_key")),
        cand(F.col(f"n_{tag}_cents"), F.col(f"n_{tag}_key")),
    )
    s_best = (
        enriched.filter(F.col("side") == "S")
        .select("nk", F.col("key").alias("s_suppkey"), best_of("c").alias("b"))
        .filter(F.col("b").isNotNull())
        .select("nk", "s_suppkey", F.col("b.okey").alias("c_custkey"),
                F.col("b.diff").alias("diff_cents"))
    )
    c_best = (
        enriched.filter(F.col("side") == "C")
        .select("nk", F.col("key").alias("c_custkey"), best_of("s").alias("b"))
        .filter(F.col("b").isNotNull())
        .select("nk", "c_custkey", F.col("b.okey").alias("s_suppkey"))
    )
    return s_best.join(c_best, ["nk", "s_suppkey", "c_custkey"]).select(
        F.col("nk").alias("nationkey"), "s_suppkey", "c_custkey", "diff_cents"
    )


ORACLE_KG_ENTITY_ALIGNMENT = """
WITH sup AS (
  SELECT s_nationkey AS nk, CAST(round(s_acctbal * 100) AS BIGINT) AS cents,
         min(s_suppkey) AS skey
  FROM supplier GROUP BY 1, 2
), cus AS (
  SELECT c_nationkey AS nk, CAST(round(c_acctbal * 100) AS BIGINT) AS cents,
         min(c_custkey) AS ckey
  FROM customer GROUP BY 1, 2
), s_best AS (
  SELECT nk, skey, ckey, diff FROM (
    SELECT sup.nk, skey, ckey, abs(sup.cents - cus.cents) AS diff,
           row_number() OVER (
             PARTITION BY sup.nk, skey
             ORDER BY abs(sup.cents - cus.cents), cus.cents) AS r
    FROM sup JOIN cus ON sup.nk = cus.nk) WHERE r = 1
), c_best AS (
  SELECT nk, ckey, skey FROM (
    SELECT cus.nk, ckey, skey,
           row_number() OVER (
             PARTITION BY cus.nk, ckey
             ORDER BY abs(sup.cents - cus.cents), sup.cents) AS r
    FROM cus JOIN sup ON sup.nk = cus.nk) WHERE r = 1
)
SELECT s_best.nk AS nationkey, s_best.skey AS s_suppkey,
       s_best.ckey AS c_custkey, diff AS diff_cents
FROM s_best JOIN c_best
  ON s_best.nk = c_best.nk AND s_best.skey = c_best.skey
 AND s_best.ckey = c_best.ckey
"""


ORACLE_KG_TRUTH_DISCOVERY = """
WITH claims AS (
  SELECT DISTINCT l_suppkey AS src, l_partkey AS obj, l_returnflag AS val
  FROM lineitem
), c1 AS (
  SELECT obj, val, count(*) AS c1 FROM claims GROUP BY 1, 2
), t1 AS (
  SELECT src, sum(c1) AS t1
  FROM claims JOIN c1 USING (obj, val) GROUP BY 1
), c2 AS (
  SELECT obj, val, CAST(sum(t1) AS BIGINT) AS score
  FROM claims JOIN t1 USING (src) GROUP BY 1, 2
), resolved AS (
  SELECT obj, val, score,
         row_number() OVER (
           PARTITION BY obj ORDER BY score DESC, val ASC) AS r
  FROM c2
), per_obj AS (
  SELECT obj, count(DISTINCT val) AS n_values,
         count(DISTINCT src) AS n_sources
  FROM claims GROUP BY 1
)
SELECT resolved.obj AS partkey, val AS resolved_flag, score,
       n_values, n_sources
FROM resolved JOIN per_obj ON resolved.obj = per_obj.obj
WHERE r = 1
"""


def q_kg_rdfs_closure(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RDFS subClassOf entailment (rdfs9/rdfs11 rules) over an induced
    multiple-inheritance taxonomy — the ontology-reasoning step a KG
    pipeline runs after schema induction (`kg_schema_induction` emits the
    classes; this query closes the hierarchy and propagates instance
    types). Taxonomy: each part instance has leaf class
    `t:{p_type}/b:{p_brand}`; every leaf is subClassOf BOTH `t:{p_type}`
    and `b:{p_brand}` (a DAG, not a tree — the diamond through `root`
    is what makes the closure non-trivial), and both uppers are
    subClassOf `root`. Output: per class, the DIRECT instance count and
    the ENTAILED count after rdf:type propagation through subClassOf⁺.

    Scale shape: the closure runs on the SCHEMA relation (|classes| ~
    dimension-sized even at 10¹² triples) via semi-naive iteration
    (`operators/graph.transitive_closure` — delta⋈base per round, never
    known×known); instance-side entailment is then ONE broadcast join of
    the closed hierarchy against the instance table plus a map-side-
    combinable count. No instance-scale iteration anywhere."""
    from hinbox_spark.operators.graph import transitive_closure

    p = _t(spark, sf_dir, "part").select("p_type", "p_brand")
    leaf = p.distinct()
    lc = F.concat(F.lit("t:"), F.col("p_type"), F.lit("/b:"), F.col("p_brand"))
    tc = F.concat(F.lit("t:"), F.col("p_type"))
    bc = F.concat(F.lit("b:"), F.col("p_brand"))
    sub = (
        leaf.select(lc.alias("c"), tc.alias("a"))
        .unionByName(leaf.select(lc.alias("c"), bc.alias("a")))
        .unionByName(
            leaf.select(tc.alias("c"), F.lit("root").alias("a")).distinct()
        )
        .unionByName(
            leaf.select(bc.alias("c"), F.lit("root").alias("a")).distinct()
        )
        .distinct()
    )
    closed = transitive_closure(sub, "c", "a")
    classes = (
        sub.select("c").unionByName(sub.select(F.col("a").alias("c"))).distinct()
    )
    # reflexive closure: rdf:type entails membership in the class itself
    anc = closed.unionByName(classes.select("c", F.col("c").alias("a")))
    inst = p.select(lc.alias("leaf"))
    direct = inst.groupBy(F.col("leaf").alias("class")).agg(
        F.count("*").alias("n_direct")
    )
    entailed = (
        inst.join(F.broadcast(anc), inst.leaf == anc.c)
        .groupBy(F.col("a").alias("class"))
        .agg(F.count("*").alias("n_entailed"))
    )
    return entailed.join(direct, "class", "left").select(
        "class",
        F.coalesce("n_direct", F.lit(0)).cast("long").alias("n_direct"),
        "n_entailed",
    )


ORACLE_KG_RDFS_CLOSURE = """
WITH RECURSIVE leaf AS (
  SELECT DISTINCT p_type AS t, p_brand AS b FROM part
), sub AS (
  SELECT 't:' || t || '/b:' || b AS c, 't:' || t AS a FROM leaf
  UNION
  SELECT 't:' || t || '/b:' || b, 'b:' || b FROM leaf
  UNION
  SELECT DISTINCT 't:' || t, 'root' FROM leaf
  UNION
  SELECT DISTINCT 'b:' || b, 'root' FROM leaf
), closure(c, a) AS (
  SELECT c, a FROM sub
  UNION
  SELECT closure.c, sub.a FROM closure JOIN sub ON closure.a = sub.c
), classes AS (
  -- explicit DISTINCT: inside WITH RECURSIVE this DuckDB build does not
  -- dedup a plain UNION in non-recursive CTEs
  SELECT DISTINCT c FROM (SELECT c FROM sub UNION ALL SELECT a FROM sub)
), anc AS (
  SELECT DISTINCT c, a
  FROM (SELECT c, a FROM closure UNION ALL SELECT c, c FROM classes)
), inst AS (
  SELECT 't:' || p_type || '/b:' || p_brand AS leaf FROM part
), direct AS (
  SELECT leaf AS class, count(*) AS n_direct FROM inst GROUP BY 1
), entailed AS (
  SELECT anc.a AS class, count(*) AS n_entailed
  FROM inst JOIN anc ON inst.leaf = anc.c GROUP BY 1
)
SELECT entailed.class, CAST(coalesce(n_direct, 0) AS BIGINT) AS n_direct,
       n_entailed
FROM entailed LEFT JOIN direct ON entailed.class = direct.class
"""


def q_kg_sameas_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """owl:sameAs consolidation — the graph-canonicalization step after
    entity resolution: two equivalence-GENERATING relations (same surface
    form + same brand, i.e. (p_name, p_brand); same surface form + same
    size, i.e. (p_name, p_size)) each assert sameAs within their block,
    the union is closed into cliques by connected components (the two
    relations overlap on the name key, so brand-chains and size-chains
    genuinely compose multi-hop — no single blocking pass finds these),
    every triple is rewritten through the
    canonical (min-key) representative, and the output profiles the
    consolidation: per sameAs-clique size, how many cliques exist and
    how many DISTINCT (customer, canonical-part) purchase triples remain
    after the rewrite (the KG-compression measure). Re-expresses the
    reference's transitive profile-merge (J11/J12,
    /root/reference/src/engine.py merge loop) at the whole-graph level.

    Scale shape: each blocking relation emits STAR edges (member →
    block-min) — O(n) edges, never the block clique's O(n²);
    clustering.connected_components is the adaptive driver-UF /
    distributed min-label operator the pipeline itself uses; the rewrite
    is one broadcast-sized mapping join (mapping rows = |entities|, and
    only clustered entities need a row at production scale); the
    distinct-after-rewrite is a map-side-combinable dedup on the
    rewritten key. The oracle is an INDEPENDENT algorithm (recursive-CTE
    min-label propagation over the bidirectional star edges)."""
    from hinbox_spark.operators.clustering import connected_components

    p = _t(spark, sf_dir, "part").select(
        "p_partkey", "p_name", "p_brand", "p_type", "p_size"
    )

    def star_edges(df: DataFrame, keys: list[str]) -> DataFrame:
        m = df.groupBy(*keys).agg(F.min("p_partkey").alias("canon"))
        return (
            df.join(m, keys)
            .filter(F.col("p_partkey") != F.col("canon"))
            .select(F.col("p_partkey").alias("src"), F.col("canon").alias("dst"))
        )

    edges = star_edges(p, ["p_name", "p_brand"]).unionByName(
        star_edges(p, ["p_name", "p_size"])
    ).distinct()
    nodes = p.select(F.col("p_partkey").alias("node_id"))
    labels = connected_components(nodes, edges)  # (node_id, cluster_id=min)
    sizes = labels.groupBy("cluster_id").agg(F.count("*").alias("clique_size"))
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    triples = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .select("o_custkey", "l_partkey")
        .distinct()
    )
    rewritten = (
        triples.join(
            F.broadcast(labels), triples.l_partkey == labels.node_id
        )
        .select("o_custkey", F.col("cluster_id").alias("canon"))
        .distinct()
    )
    per_size = sizes.groupBy("clique_size").agg(F.count("*").alias("n_cliques"))
    tri_per_size = (
        rewritten.join(
            F.broadcast(sizes), rewritten.canon == sizes.cluster_id
        )
        .groupBy("clique_size")
        .agg(F.count("*").alias("n_triples_after"))
    )
    return per_size.join(tri_per_size, "clique_size", "left").select(
        "clique_size",
        "n_cliques",
        F.coalesce("n_triples_after", F.lit(0)).cast("long").alias(
            "n_triples_after"
        ),
    )


ORACLE_KG_SAMEAS_REWRITE = """
WITH RECURSIVE p AS (
  SELECT p_partkey AS k, p_name || '|' || p_brand AS nb,
         p_name || '|' || CAST(p_size AS VARCHAR) AS ns
  FROM part
), e1 AS (
  SELECT k AS u, min(k) OVER (PARTITION BY nb) AS v FROM p
), e2 AS (
  SELECT k AS u, min(k) OVER (PARTITION BY ns) AS v FROM p
), edges AS (
  SELECT u, v FROM e1 WHERE u <> v
  UNION SELECT v, u FROM e1 WHERE u <> v
  UNION SELECT u, v FROM e2 WHERE u <> v
  UNION SELECT v, u FROM e2 WHERE u <> v
), en AS (
  SELECT DISTINCT u AS k FROM edges
), reach(node, label) AS (
  SELECT k, k FROM en
  UNION
  SELECT edges.v, reach.label FROM reach JOIN edges ON edges.u = reach.node
), lab AS (
  SELECT node AS k, min(label) AS cluster FROM reach GROUP BY 1
), allmap AS (
  SELECT p.k, coalesce(lab.cluster, p.k) AS cluster
  FROM p LEFT JOIN lab ON p.k = lab.k
), sizes AS (
  SELECT cluster, count(*) AS clique_size FROM allmap GROUP BY 1
), tri AS (
  SELECT DISTINCT o_custkey AS c, l_partkey AS pk
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
), rew AS (
  SELECT DISTINCT c, cluster FROM tri JOIN allmap ON tri.pk = allmap.k
), pc AS (
  SELECT clique_size, count(*) AS n_cliques FROM sizes GROUP BY 1
), ts AS (
  SELECT clique_size, count(*) AS n_triples_after
  FROM rew JOIN sizes ON rew.cluster = sizes.cluster GROUP BY 1
)
SELECT pc.clique_size, n_cliques,
       CAST(coalesce(n_triples_after, 0) AS BIGINT) AS n_triples_after
FROM pc LEFT JOIN ts ON pc.clique_size = ts.clique_size
"""


def q_emb_neighbor_pool(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GraphSAGE-style mean-pool neighborhood aggregation — the feature
    step a graph-ML training pipeline runs over the materialized KG:
    for each sampled node (vec_id % 17 = 0), pool the element-wise MEAN
    of its k=3 cosine-nearest neighbor embeddings and emit the pooled
    norm plus cosine(self, pooled) — the layer-1 GNN input features.
    The kNN edge build here is the brute oracle baseline (same contract
    as knn_top5); at web scale the edge list comes from the ANN scale
    paths (operators/ann.lsh_topk / ivf_topk / pq_topk, recall-pinned).

    Scale shape: sampled query vectors broadcast against the candidate
    scan (one pass, JVM zip_with/aggregate dot products, no Python);
    mean-pool via posexplode→(node, pos) avg — the exact grouped vector
    aggregation discipline of label_centroid_norms — then one (node,
    pos)-keyed join with the self vector and a final per-node fold. All
    aggregations map-side combinable; nothing collects."""
    e = _t(spark, sf_dir, "embeddings")
    nrm = F.expr(
        "sqrt(aggregate(embedding, 0.0D,"
        " (acc, x) -> acc + CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))"
    )
    # norms are a per-VECTOR property: stamp them on each side before the
    # |q|×|cand| pair join instead of re-evaluating the interpreted
    # aggregate() expression once per pair (it ran 2·|q|·|cand| times —
    # guide §1.2 step 2, per-task work). Same expressions, same values.
    nq = F.expr(
        "sqrt(aggregate(qvec, 0.0D,"
        " (acc, x) -> acc + CAST(x AS DOUBLE)*CAST(x AS DOUBLE)))"
    )
    nc = F.expr(
        "sqrt(aggregate(embedding, 0.0D,"
        " (acc, x) -> acc + CAST(x AS DOUBLE)*CAST(x AS DOUBLE)))"
    )
    q = (
        e.filter((F.col("vec_id") % 17 == 0) & (nrm > 0))
        .select(F.col("vec_id").alias("node"), F.col("embedding").alias("qvec"))
        .withColumn("nq", nq)
    )
    # the |q|×|cand| dot products execute INSIDE the candidate-scan tasks
    # (broadcast cross join streams cand) — spread the single-split scan
    # so the interpreted-dot work parallelizes (guide §2.2); no-op at
    # scale where the scan already splits
    from hinbox_spark.partitioning import spread_for_compute

    cand = (
        spread_for_compute(e.filter(nrm > 0), ["vec_id"])
        .select(F.col("vec_id").alias("nb"), "embedding")
        .withColumn("nc", nc)
    )
    dot = F.expr(
        "aggregate(zip_with(qvec, embedding, (a, b) ->"
        " CAST(a AS DOUBLE) * CAST(b AS DOUBLE)), 0.0D, (acc, x) -> acc + x)"
    )
    w = Window.partitionBy("node").orderBy(F.desc("cos"), F.asc("nb"))
    # project to (node, nb, cos) BEFORE the window exchange (guide §2.3):
    # the candidate embedding array otherwise rides the full |q|×|cand|
    # pair stream through the top-k shuffle; the 3·|q| winners re-join
    # their vectors afterwards — identical rows, ~dim× fewer bytes moved
    knn_ids = (
        F.broadcast(q)
        .crossJoin(cand)
        .filter(F.col("node") != F.col("nb"))
        .select(
            "node", "nb", (dot / (F.col("nq") * F.col("nc"))).alias("cos")
        )
        .withColumn("r", F.row_number().over(w))
        .filter(F.col("r") <= 3)
        .select("node", "nb")
    )
    knn = knn_ids.join(
        e.select(F.col("vec_id").alias("nb"), "embedding"), "nb"
    ).select("node", "embedding")
    pooled = (
        knn.select("node", F.posexplode("embedding").alias("pos", "x"))
        .groupBy("node", "pos")
        .agg(F.avg(F.col("x").cast("double")).alias("m"))
    )
    selfx = q.select("node", F.posexplode("qvec").alias("pos", "sx"))
    j = pooled.join(selfx, ["node", "pos"]).select(
        "node", "m", F.col("sx").cast("double").alias("sx")
    )
    return j.groupBy("node").agg(
        F.round(F.sqrt(F.sum(F.col("m") * F.col("m"))), 4).alias("pooled_norm"),
        F.round(
            F.sum(F.col("m") * F.col("sx"))
            / (
                F.sqrt(F.sum(F.col("m") * F.col("m")))
                * F.sqrt(F.sum(F.col("sx") * F.col("sx")))
            ),
            4,
        ).alias("self_cos"),
    )


ORACLE_EMB_NEIGHBOR_POOL = """
WITH q AS (
  SELECT vec_id AS node, embedding AS qv FROM embeddings
  WHERE vec_id % 17 = 0
    AND sqrt(list_sum(list_transform(embedding,
          x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) > 0
), c AS (
  SELECT vec_id AS nb, embedding FROM embeddings
  WHERE sqrt(list_sum(list_transform(embedding,
          x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) > 0
), knn AS (
  SELECT node, nb, embedding FROM (
    SELECT q.node, c.nb, c.embedding,
           row_number() OVER (
             PARTITION BY q.node
             ORDER BY list_cosine_similarity(
                 list_transform(q.qv, x -> CAST(x AS DOUBLE)),
                 list_transform(c.embedding, x -> CAST(x AS DOUBLE))) DESC,
             c.nb ASC) AS r
    FROM q JOIN c ON q.node <> c.nb
  ) WHERE r <= 3
), ex AS (
  SELECT node, generate_subscripts(embedding, 1) AS pos,
         unnest(embedding) AS x
  FROM knn
), pooled AS (
  SELECT node, pos, avg(CAST(x AS DOUBLE)) AS m FROM ex GROUP BY 1, 2
), selfx AS (
  SELECT node, generate_subscripts(qv, 1) AS pos, unnest(qv) AS sx FROM q
), j AS (
  SELECT pooled.node, m, CAST(sx AS DOUBLE) AS sx
  FROM pooled JOIN selfx ON pooled.node = selfx.node AND pooled.pos = selfx.pos
)
SELECT node, round(sqrt(sum(m * m)), 4) AS pooled_norm,
       round(sum(m * sx) / (sqrt(sum(m * m)) * sqrt(sum(sx * sx))), 4)
         AS self_cos
FROM j GROUP BY node
"""


def q_kg_harmonic_centrality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sampled harmonic centrality (Boldi & Vigna's preferred closeness
    variant — sums 1/d so unreachable nodes cost nothing) over the
    bipartite purchase graph, hop-bounded at 3: from each of the 8
    smallest customer nodes, harmonic = Σ 1/dist over reached nodes.
    Distances ∈ {1,2,3} make 6/dist integer-EXACT, so `harmonic_sixths`
    = Σ (6 div dist) is a bit-identical long in both engines (no float
    summation anywhere). The sampled-sources design is the standard
    web-graph estimator (Eppstein-Wang): at 10¹² nodes you never run
    all-pairs — k sampled BFS trees bound the estimate.

    Scale shape: ONE multi-source tagged BFS
    (operators/graph.bfs_distances_multi) — per hop a single
    frontier⋈edges shuffle keyed on node plus a composite-key anti-join;
    all 8 trees ride the same 3 rounds (state = (tag, node, dist) ids).
    The final fold is one map-side-combinable groupBy over |tags| keys."""
    from hinbox_spark.operators.graph import bfs_distances_multi

    # eager checkpoint: the BFS loop joins the edge list once per hop —
    # without it the orders⋈lineitem union re-derived per hop
    bi = _purchase_bigraph(spark, sf_dir).localCheckpoint(eager=True)
    srcs = (
        _t(spark, sf_dir, "orders")
        .select("o_custkey")
        .distinct()
        .orderBy("o_custkey")
        .limit(8)
        .select(F.concat(F.lit("c:"), F.col("o_custkey")).alias("node_id"))
        .withColumn("tag", F.col("node_id"))
    )
    vis = bfs_distances_multi(bi, srcs, max_hops=3)
    return (
        vis.filter(F.col("dist") > 0)
        .groupBy("tag")
        .agg(
            F.sum(F.expr("6 div dist")).alias("harmonic_sixths"),
            F.count("*").alias("n_reached"),
        )
        .select(F.col("tag").alias("source"), "harmonic_sixths", "n_reached")
    )


ORACLE_KG_HARMONIC_CENTRALITY = """
WITH RECURSIVE e0 AS (
  SELECT DISTINCT 'c:' || o_custkey AS src, 's:' || l_suppkey AS dst
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
), bi AS (
  SELECT src, dst FROM e0
  UNION ALL
  SELECT dst, src FROM e0
), srcs AS (
  SELECT 'c:' || o_custkey AS node
  FROM (SELECT DISTINCT o_custkey FROM orders ORDER BY o_custkey LIMIT 8)
), walk(tag, node, h) AS (
  SELECT node, node, 0 FROM srcs
  UNION
  SELECT walk.tag, bi.dst, walk.h + 1
  FROM walk JOIN bi ON bi.src = walk.node
  WHERE walk.h < 3
), best AS (
  SELECT tag, node, min(h) AS dist FROM walk GROUP BY 1, 2
)
SELECT tag AS source, CAST(sum(6 // dist) AS BIGINT) AS harmonic_sixths,
       count(*) AS n_reached
FROM best WHERE dist > 0 GROUP BY tag
"""


def q_kg_wl_colors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weisfeiler-Leman structural fingerprint of the purchase graph —
    2 rounds of 1-WL color refinement (operators/graph.wl_refinement)
    seeded by node side (customer=0, supplier=1), then the color
    HISTOGRAM: (wl_color, n_nodes). Two nodes share a round-2 color iff
    their 2-hop neighborhood trees agree — the canonical-form screen a
    KG pipeline uses for structural dedup of subgraphs and as
    graph-kernel features. Integer-exact by construction (commutative
    modular multiset hash, no floats, no collect_list), so the whole
    histogram hash-matches a DuckDB oracle running the identical two
    unrolled rounds.

    Scale shape: per round ONE edges⋈labels shuffle + one map-side-
    combinable SUM groupBy — a hub node's neighborhood folds inside the
    combiner instead of materializing in one task. The histogram is a
    second tiny groupBy over |colors| keys."""
    from hinbox_spark.operators.graph import wl_refinement

    # eager checkpoint: the refinement loop joins the edge list every
    # round AND labels0 derives from it — without materialization the
    # orders⋈lineitem union was recomputed once per round
    bi = _purchase_bigraph(spark, sf_dir).localCheckpoint(eager=True)
    labels0 = (
        bi.select(F.col("src").alias("node"))
        .distinct()
        .select(
            "node",
            F.when(F.col("node").startswith("c:"), F.lit(0))
            .otherwise(F.lit(1))
            .alias("l"),
        )
        .localCheckpoint(eager=True)
    )
    refined = wl_refinement(bi, labels0, rounds=2, n_nodes=labels0.count())
    return refined.groupBy(F.col("l").alias("wl_color")).agg(
        F.count("*").alias("n_nodes")
    )


ORACLE_KG_WL_COLORS = """
WITH e0 AS (
  SELECT DISTINCT 'c:' || o_custkey AS src, 's:' || l_suppkey AS dst
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
), bi AS (
  SELECT src, dst FROM e0
  UNION ALL
  SELECT dst, src FROM e0
), l0 AS (
  SELECT src AS node,
         CAST(CASE WHEN src LIKE 'c:%' THEN 0 ELSE 1 END AS BIGINT) AS l
  FROM (SELECT DISTINCT src FROM bi)
), c1 AS (
  SELECT bi.dst AS node,
         CAST(sum(((l0.l + 1) * (l0.l + 1)) % 2147483647)
              % 2147483647 AS BIGINT) AS s
  FROM bi JOIN l0 ON bi.src = l0.node GROUP BY bi.dst
), l1 AS (
  SELECT l0.node,
         CAST((l0.l * 31 + coalesce(c1.s, 0)) % 2147483647 AS BIGINT) AS l
  FROM l0 LEFT JOIN c1 ON l0.node = c1.node
), c2 AS (
  SELECT bi.dst AS node,
         CAST(sum(((l1.l + 1) * (l1.l + 1)) % 2147483647)
              % 2147483647 AS BIGINT) AS s
  FROM bi JOIN l1 ON bi.src = l1.node GROUP BY bi.dst
), l2 AS (
  SELECT l1.node,
         CAST((l1.l * 31 + coalesce(c2.s, 0)) % 2147483647 AS BIGINT) AS l
  FROM l1 LEFT JOIN c2 ON l1.node = c2.node
)
SELECT l AS wl_color, count(*) AS n_nodes FROM l2 GROUP BY 1
"""


def q_kg_ppr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Personalized PageRank — entity relatedness in a KG: random walk
    with restart to a 4-seed set (the 4 smallest customer nodes, uniform
    restart mass), damping 0.85, fixed 8 power iterations, top-10 nodes.
    The PPR vector is what KG serving layers rank "related entities" by
    (Pixie/Pinterest-style); it differs from global PageRank
    (`copurchase_pagerank`) only in the teleport distribution, so the
    whole determinism discipline carries over: fixed iterations, every
    node carries a rank row from iteration 0 (non-seeds start at 0.0, so
    no row ever vanishes and the restart mass can never be dropped — the
    naive seeds-only recursion LOSES a seed's restart term in any round
    where no contribution reaches it), 8-dp rounding with ~6 orders of
    magnitude of cross-engine float headroom.

    Scale shape per iteration: ONE shuffle (edges ⋈ ranks on src,
    contributions groupBy dst, map-side combinable); degrees precomputed;
    lazy localCheckpoints keep the plan O(1) in rounds. The seed
    indicator is a broadcast hash join against a 4-row frame."""
    edges = _purchase_bigraph(spark, sf_dir).localCheckpoint(eager=True)
    deg = edges.groupBy("src").agg(F.count("*").alias("deg"))
    # seeds come from ORDERS (like the oracle and the harmonic-centrality
    # sibling), not from the joined edge list: an orders-only customer
    # with a small key must pick the same seed set in both engines
    seeds = (
        _t(spark, sf_dir, "orders")
        .select("o_custkey")
        .distinct()
        .orderBy("o_custkey")
        .limit(4)
        .select(F.concat(F.lit("c:"), F.col("o_custkey")).alias("node_id"))
        .withColumn("is_seed", F.lit(True))
    )
    nodes = (
        deg.select(F.col("src").alias("node_id"))
        .join(F.broadcast(seeds), "node_id", "left")
        .select(
            "node_id", F.coalesce("is_seed", F.lit(False)).alias("is_seed")
        )
        .localCheckpoint(eager=True)
    )
    d = 0.85
    restart = F.when(F.col("is_seed"), F.lit((1.0 - d) * 0.25)).otherwise(
        F.lit(0.0)
    )
    ranks = nodes.select(
        "node_id",
        F.when(F.col("is_seed"), F.lit(0.25)).otherwise(F.lit(0.0)).alias(
            "rank"
        ),
    )
    n_nodes = nodes.count()  # instant on the eager checkpoint; gates the
    # state broadcasts below (q_copurchase_pagerank discipline)
    from hinbox_spark.operators.graph import _bc_if

    out_edges = edges.join(_bc_if(deg, n_nodes), "src").localCheckpoint(
        eager=True
    )
    ranks = _power_iterate(
        nodes, out_edges, ranks, restart, d=d, iters=8, n_nodes=n_nodes
    )
    return (
        ranks.select("node_id", F.round("rank", 8).alias("rank"))
        .orderBy(F.desc("rank"), F.asc("node_id"))
        .limit(10)
    )


ORACLE_KG_PPR = """
WITH RECURSIVE
e AS (
  SELECT DISTINCT 'c:' || o_custkey AS src, 's:' || l_suppkey AS dst
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
),
edges AS (SELECT src, dst FROM e UNION ALL SELECT dst, src FROM e),
deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY 1),
oe AS (SELECT edges.src, edges.dst, deg.deg FROM edges JOIN deg USING (src)),
seeds AS (
  SELECT 'c:' || o_custkey AS node
  FROM (SELECT DISTINCT o_custkey FROM orders ORDER BY o_custkey LIMIT 4)
),
pr AS (
  SELECT 0 AS iter, src AS node_id,
         CASE WHEN src IN (SELECT node FROM seeds)
              THEN CAST(0.25 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END
           AS rank
  FROM deg
  UNION ALL
  SELECT pr.iter + 1, oe.dst,
         0.15 * (CASE WHEN oe.dst IN (SELECT node FROM seeds)
                 THEN CAST(0.25 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END)
         + 0.85 * sum(pr.rank / oe.deg)
  FROM pr JOIN oe ON oe.src = pr.node_id
  WHERE pr.iter < 8
  GROUP BY pr.iter, oe.dst
)
SELECT node_id, round(rank, 8) AS rank FROM pr WHERE iter = 8
ORDER BY rank DESC, node_id
LIMIT 10
"""


SPARK_QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "pricing_summary": q_pricing_summary,
    "revenue_by_nation": q_revenue_by_nation,
    "top_orders_building": q_top_orders_building,
    "top_customer_per_nation": q_top_customer_per_nation,
    "latest_order_per_customer": q_latest_order_per_customer,
    "customers_without_orders": q_customers_without_orders,
    "distinct_segments": q_distinct_segments,
    "events_daily": q_events_daily,
    "events_top3_per_type": q_events_top3_per_type,
    "events_json_k": q_events_json_k,
    "doc_token_stats": q_doc_token_stats,
    "doc_prefix_fingerprint_dups": q_doc_prefix_fingerprint_dups,
    "doc_stopword_ratio": q_doc_stopword_ratio,
    "doc_language_id": q_doc_language_id,
    "embedding_norms": q_embedding_norms,
    "knn_top5": q_knn_top5,
    "label_centroid_norms": q_label_centroid_norms,
    "emb_near_dup_pairs": q_emb_near_dup_pairs,
    "doc_quality": q_doc_quality,
    "doc_wordpiece": q_doc_wordpiece,
    "doc_langid_votes": q_doc_langid_votes,
    "rollup_revenue": q_rollup_revenue,
    "events_sessions": q_events_sessions,
    "orders_pivot": q_orders_pivot,
    "events_percentiles": q_events_percentiles,
    "nation_customer_supplier_sets": q_nation_customer_supplier_sets,
    "events_hourly_windows": q_events_hourly_windows,
    "part_display_keys": q_part_display_keys,
    "doc_pair_word_jaccard": q_doc_pair_word_jaccard,
    "doc_word_repetition": q_doc_word_repetition,
    "doc_chunks": q_doc_chunks,
    "orders_with_late_lineitem": q_orders_with_late_lineitem,
    "promo_revenue_share": q_promo_revenue_share,
    "top_revenue_suppliers": q_top_revenue_suppliers,
    "large_order_customers": q_large_order_customers,
    "idle_rich_customers": q_idle_rich_customers,
    "purchase_graph_degrees": q_purchase_graph_degrees,
    "er_cluster_quality": q_er_cluster_quality,
    "copurchase_communities": q_copurchase_communities,
    "customers_sharing_suppliers": q_customers_sharing_suppliers,
    # round-4 additions
    "click_asof_purchase": q_click_asof_purchase,
    "nation_trade_volume": q_nation_trade_volume,
    "top_value_parts": q_top_value_parts,
    "brand_supplier_counts": q_brand_supplier_counts,
    "click_purchase_window": q_click_purchase_window,
    "doc_holdout_split": q_doc_holdout_split,
    "doc_stratified_sample": q_doc_stratified_sample,
    "customer_order_distribution": q_customer_order_distribution,
    "small_quantity_revenue": q_small_quantity_revenue,
    "disjunctive_promo_revenue": q_disjunctive_promo_revenue,
    "priority_by_returnflag": q_priority_by_returnflag,
    "top_return_customers": q_top_return_customers,
    "corpus_vocab_topk": q_corpus_vocab_topk,
    "doc_weighted_mix": q_doc_weighted_mix,
    "doc_contamination": q_doc_contamination,
    "doc_ngram_novelty": q_doc_ngram_novelty,
    "source_distinctive_terms": q_source_distinctive_terms,
    "events_funnel": q_events_funnel,
    "events_retention": q_events_retention,
    "training_corpus_filter": q_training_corpus_filter,
    "ann_pq_topk": q_ann_pq_topk,
    "events_percentiles_sketch": q_events_percentiles_sketch,
    "waiting_suppliers": q_waiting_suppliers,
    "market_share": q_market_share,
    "profit_by_nation_year": q_profit_by_nation_year,
    "events_moving_avg": q_events_moving_avg,
    "doc_pack_sequences": q_doc_pack_sequences,
    "revenue_cube": q_revenue_cube,
    "nation_activity_full_outer": q_nation_activity_full_outer,
    "concurrent_sessions": q_concurrent_sessions,
    "copurchase_bfs_hops": q_copurchase_bfs_hops,
    "events_anomaly": q_events_anomaly,
    "order_value_histogram": q_order_value_histogram,
    "doc_quality_quartiles": q_doc_quality_quartiles,
    "forecast_revenue": q_forecast_revenue,
    "min_cost_supplier": q_min_cost_supplier,
    "dominant_part_suppliers": q_dominant_part_suppliers,
    "doc_exact_substring_spans": q_doc_exact_substring_spans,
    "doc_pii_redaction": q_doc_pii_redaction,
    "doc_unigram_rarity": q_doc_unigram_rarity,
    "emb_hard_negatives": q_emb_hard_negatives,
    "copurchase_link_prediction": q_copurchase_link_prediction,
    "copurchase_link_prediction_minhash": q_copurchase_link_prediction_minhash,
    "emb_dedup_keepers": q_emb_dedup_keepers,
    "doc_quality_classifier": q_doc_quality_classifier,
    "doc_length_buckets": q_doc_length_buckets,
    "corpus_cms_heavy_hitters": q_corpus_cms_heavy_hitters,
    "doc_inverted_index": q_doc_inverted_index,
    "doc_bm25_search": q_doc_bm25_search,
    "purchase_degree_gini": q_purchase_degree_gini,
    "purchase_assortativity": q_purchase_assortativity,
    "doc_target_affinity": q_doc_target_affinity,
    "corpus_bpe_merges": q_corpus_bpe_merges,
    "copurchase_kcore": q_copurchase_kcore,
    "events_type_bigrams": q_events_type_bigrams,
    "copurchase_components": q_copurchase_components,
    # non-SQL-expressible (rows-only driver check; correctness pinned by
    # tests/test_dedup.py and tests/test_ann.py)
    "doc_minhash_near_dups": q_doc_minhash_near_dups,
    "ann_lsh_topk": q_ann_lsh_topk,
    "ann_ivf_topk": q_ann_ivf_topk,
    "ann_ivfpq_topk": q_ann_ivfpq_topk,
    "emb_near_dup_pairs_lsh": q_emb_near_dup_pairs_lsh,
    "doc_simhash_near_dups": q_doc_simhash_near_dups,
    "copurchase_reach_hll": q_copurchase_reach_hll,
    "doc_dedup_keepers": q_doc_dedup_keepers,
    # oracle-checked since round 5 (fixed-iteration recursive CTE)
    "copurchase_pagerank": q_copurchase_pagerank,
    "copurchase_hits": q_copurchase_hits,
    "copurchase_triangles": q_copurchase_triangles,
    "copurchase_transitivity": q_copurchase_transitivity,
    "corpus_bigram_pmi": q_corpus_bigram_pmi,
    # materialized-KG query family (round 5)
    "kg_star_join": q_kg_star_join,
    "kg_ntriples_export": q_kg_ntriples_export,
    "kg_functional_violations": q_kg_functional_violations,
    "part_name_edit_pairs": q_part_name_edit_pairs,
    "kg_temporal_validity": q_kg_temporal_validity,
    "kg_random_walks": q_kg_random_walks,
    "kg_snapshot_timeline": q_kg_snapshot_timeline,
    "kg_shacl_violations": q_kg_shacl_violations,
    "kg_property_path": q_kg_property_path,
    "kg_negative_samples": q_kg_negative_samples,
    "kg_schema_induction": q_kg_schema_induction,
    "kg_completion_eval": q_kg_completion_eval,
    # round-5 continuation
    "kg_truth_discovery": q_kg_truth_discovery,
    "kg_entity_alignment": q_kg_entity_alignment,
    "copurchase_shortest_paths": q_copurchase_shortest_paths,
    "doc_jaccard_prefix_pairs": q_doc_jaccard_prefix_pairs,
    "doc_bloom_novelty": q_doc_bloom_novelty,
    "kg_rdfs_closure": q_kg_rdfs_closure,
    "kg_sameas_rewrite": q_kg_sameas_rewrite,
    "emb_neighbor_pool": q_emb_neighbor_pool,
    "kg_harmonic_centrality": q_kg_harmonic_centrality,
    "kg_wl_colors": q_kg_wl_colors,
    "kg_ppr": q_kg_ppr,
    # rows-only: iterative SGD training is not one SQL statement
    "kg_embedding_train": q_kg_embedding_train,
}

ORACLE_QUERIES: dict[str, str] = {
    "pricing_summary": ORACLE_PRICING,
    "revenue_by_nation": ORACLE_REVENUE_BY_NATION,
    "top_orders_building": ORACLE_TOP_ORDERS,
    "top_customer_per_nation": ORACLE_TOP_CUSTOMER,
    "latest_order_per_customer": ORACLE_LATEST_ORDER,
    "customers_without_orders": ORACLE_NO_ORDERS,
    "distinct_segments": ORACLE_SEGMENTS,
    "events_daily": ORACLE_EVENTS_DAILY,
    "events_top3_per_type": ORACLE_EVENTS_TOP3,
    "events_json_k": ORACLE_EVENTS_JSON,
    "doc_token_stats": ORACLE_DOC_TOKENS,
    "doc_prefix_fingerprint_dups": ORACLE_DOC_FP_DUPS,
    "doc_stopword_ratio": ORACLE_DOC_STOPWORDS,
    "doc_language_id": ORACLE_DOC_LANGID,
    "embedding_norms": ORACLE_EMB_NORMS,
    "knn_top5": ORACLE_KNN,
    "label_centroid_norms": ORACLE_CENTROID,
    "emb_near_dup_pairs": ORACLE_EMB_NEAR_DUP,
    "doc_quality": ORACLE_DOC_QUALITY,
    "doc_wordpiece": ORACLE_DOC_WORDPIECE,
    "doc_langid_votes": ORACLE_DOC_LANGID_VOTES,
    "rollup_revenue": ORACLE_ROLLUP,
    "events_sessions": ORACLE_EVENTS_SESSIONS,
    "orders_pivot": ORACLE_ORDERS_PIVOT,
    "events_percentiles": ORACLE_EVENTS_PERCENTILES,
    "nation_customer_supplier_sets": ORACLE_NATION_SETS,
    "events_hourly_windows": ORACLE_EVENTS_HOURLY,
    "part_display_keys": ORACLE_DISPLAY_KEYS,
    "doc_pair_word_jaccard": ORACLE_DOC_PAIR_JACCARD,
    "doc_word_repetition": ORACLE_DOC_WORD_REPETITION,
    "doc_chunks": ORACLE_DOC_CHUNKS,
    "orders_with_late_lineitem": ORACLE_LATE_ORDERS,
    "promo_revenue_share": ORACLE_PROMO_SHARE,
    "top_revenue_suppliers": ORACLE_TOP_REV_SUPPLIER,
    "large_order_customers": ORACLE_LARGE_ORDERS,
    "idle_rich_customers": ORACLE_IDLE_RICH,
    "purchase_graph_degrees": ORACLE_GRAPH_DEGREES,
    "er_cluster_quality": ORACLE_ER_CLUSTER_QUALITY,
    "copurchase_communities": ORACLE_COPURCHASE_COMMUNITIES,
    "customers_sharing_suppliers": ORACLE_SHARED_SUPPLIERS,
    "click_asof_purchase": ORACLE_CLICK_ASOF,
    "nation_trade_volume": ORACLE_NATION_TRADE,
    "top_value_parts": ORACLE_TOP_VALUE_PARTS,
    "brand_supplier_counts": ORACLE_BRAND_SUPPLIER_COUNTS,
    "click_purchase_window": ORACLE_CLICK_PURCHASE_WINDOW,
    "doc_holdout_split": ORACLE_DOC_HOLDOUT_SPLIT,
    "doc_stratified_sample": ORACLE_DOC_STRATIFIED_SAMPLE,
    "customer_order_distribution": ORACLE_CUSTOMER_ORDER_DIST,
    "small_quantity_revenue": ORACLE_SMALL_QTY_REVENUE,
    "disjunctive_promo_revenue": ORACLE_DISJUNCTIVE_PROMO,
    "priority_by_returnflag": ORACLE_PRIORITY_BY_RETURNFLAG,
    "top_return_customers": ORACLE_TOP_RETURN_CUSTOMERS,
    "corpus_vocab_topk": ORACLE_CORPUS_VOCAB,
    "doc_weighted_mix": ORACLE_DOC_WEIGHTED_MIX,
    "doc_contamination": ORACLE_DOC_CONTAMINATION,
    "doc_ngram_novelty": ORACLE_DOC_NGRAM_NOVELTY,
    "source_distinctive_terms": ORACLE_SOURCE_DISTINCTIVE_TERMS,
    "events_funnel": ORACLE_EVENTS_FUNNEL,
    "events_retention": ORACLE_EVENTS_RETENTION,
    "training_corpus_filter": ORACLE_TRAINING_CORPUS_FILTER,
    "waiting_suppliers": ORACLE_WAITING_SUPPLIERS,
    "market_share": ORACLE_MARKET_SHARE,
    "profit_by_nation_year": ORACLE_PROFIT_BY_NATION_YEAR,
    "events_moving_avg": ORACLE_EVENTS_MOVING_AVG,
    "doc_pack_sequences": ORACLE_DOC_PACK_SEQUENCES,
    "revenue_cube": ORACLE_REVENUE_CUBE,
    "nation_activity_full_outer": ORACLE_NATION_ACTIVITY_FULL_OUTER,
    "concurrent_sessions": ORACLE_CONCURRENT_SESSIONS,
    "copurchase_bfs_hops": ORACLE_COPURCHASE_BFS,
    "copurchase_components": ORACLE_COPURCHASE_COMPONENTS,
    "events_anomaly": ORACLE_EVENTS_ANOMALY,
    "order_value_histogram": ORACLE_ORDER_HISTOGRAM,
    "doc_quality_quartiles": ORACLE_DOC_QUALITY_QUARTILES,
    "forecast_revenue": ORACLE_FORECAST_REVENUE,
    "min_cost_supplier": ORACLE_MIN_COST_SUPPLIER,
    "dominant_part_suppliers": ORACLE_DOMINANT_PART_SUPPLIERS,
    "doc_exact_substring_spans": ORACLE_EXACT_SUBSTRING_SPANS,
    "doc_pii_redaction": ORACLE_DOC_PII,
    "doc_unigram_rarity": ORACLE_DOC_UNIGRAM_RARITY,
    "emb_hard_negatives": ORACLE_EMB_HARD_NEGATIVES,
    "copurchase_pagerank": ORACLE_COPURCHASE_PAGERANK,
    "copurchase_hits": ORACLE_COPURCHASE_HITS,
    "copurchase_triangles": ORACLE_COPURCHASE_TRIANGLES,
    "corpus_bigram_pmi": ORACLE_CORPUS_BIGRAM_PMI,
    "copurchase_link_prediction": ORACLE_LINK_PREDICTION,
    "emb_dedup_keepers": ORACLE_EMB_DEDUP_KEEPERS,
    "doc_quality_classifier": ORACLE_DOC_QUALITY_CLASSIFIER,
    "doc_length_buckets": ORACLE_DOC_LENGTH_BUCKETS,
    "doc_inverted_index": ORACLE_DOC_INVERTED_INDEX,
    "doc_bm25_search": ORACLE_DOC_BM25_SEARCH,
    "purchase_degree_gini": ORACLE_PURCHASE_DEGREE_GINI,
    "purchase_assortativity": ORACLE_PURCHASE_ASSORTATIVITY,
    "copurchase_transitivity": ORACLE_COPURCHASE_TRANSITIVITY,
    "doc_target_affinity": ORACLE_DOC_TARGET_AFFINITY,
    "events_type_bigrams": ORACLE_EVENTS_TYPE_BIGRAMS,
    "kg_star_join": ORACLE_KG_STAR_JOIN,
    "kg_ntriples_export": ORACLE_KG_NTRIPLES,
    "kg_functional_violations": ORACLE_KG_FUNCTIONAL,
    "part_name_edit_pairs": ORACLE_PART_NAME_EDIT_PAIRS,
    "kg_temporal_validity": ORACLE_KG_TEMPORAL_VALIDITY,
    "kg_random_walks": ORACLE_KG_RANDOM_WALKS,
    "kg_snapshot_timeline": ORACLE_KG_SNAPSHOT_TIMELINE,
    "kg_shacl_violations": ORACLE_KG_SHACL,
    "kg_property_path": ORACLE_KG_PROPERTY_PATH,
    "kg_negative_samples": ORACLE_KG_NEGATIVE_SAMPLES,
    "kg_schema_induction": ORACLE_KG_SCHEMA_INDUCTION,
    "kg_completion_eval": ORACLE_KG_COMPLETION_EVAL,
    "kg_truth_discovery": ORACLE_KG_TRUTH_DISCOVERY,
    "kg_entity_alignment": ORACLE_KG_ENTITY_ALIGNMENT,
    "copurchase_shortest_paths": ORACLE_COPURCHASE_SSSP,
    "doc_jaccard_prefix_pairs": ORACLE_DOC_JACCARD_PREFIX,
    "copurchase_kcore": ORACLE_COPURCHASE_KCORE,
    "doc_bloom_novelty": ORACLE_DOC_BLOOM_NOVELTY,
    "kg_rdfs_closure": ORACLE_KG_RDFS_CLOSURE,
    "kg_sameas_rewrite": ORACLE_KG_SAMEAS_REWRITE,
    "emb_neighbor_pool": ORACLE_EMB_NEIGHBOR_POOL,
    "kg_harmonic_centrality": ORACLE_KG_HARMONIC_CENTRALITY,
    "kg_wl_colors": ORACLE_KG_WL_COLORS,
    "kg_ppr": ORACLE_KG_PPR,
}
