"""Driver-contract queries: each SURVEY.md §2 operator re-expressed over
the sandbox testdata tables (region nation customer supplier part orders
lineitem events documents embeddings), paired with an ANSI-SQL oracle
that DuckDB runs on the same parquet files.

Conventions for engine-parity (Spark vs DuckDB value-hash):
- banker's rounding: Spark ``bround`` <-> DuckDB ``round_even``;
- double sums are order-dependent -> cast to DECIMAL before SUM (exact,
  associative), cast the final value to DOUBLE;
- counts cast to BIGINT in SQL (DuckDB SUM(int) is HUGEINT);
- arrays in outputs are sorted then joined to strings;
- every computed column is aliased identically in both engines.

The "dictionary" for lookup-shaped queries is the ``part`` table
(p_name = surface form, p_partkey = entity id, p_retailprice =
popularity, p_type/p_brand = type-ish attributes); "mentions" come from
``documents.text`` — the same join/scoring shapes as
lamapi_spark/operators/lookup.py on KG data.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from lamapi_spark.functions import (
    clean_str,
    ed_score,
    jaccard_arrays,
    jaccard_ngram_score,
    jaccard_score,
    ngram_set,
    token_set,
)
from lamapi_spark.functions.literals import classify_literal
from lamapi_spark.functions.strings import STOPWORDS

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


_SQL_STOPWORDS = "[" + ", ".join(f"'{w}'" for w in STOPWORDS) + "]"

# registry: name -> (spark_fn, oracle_sql | None)
_REGISTRY: dict[str, tuple[Callable[[SparkSession, str], DataFrame], str | None]] = {}


def register(name: str, sql: str | None):
    def deco(fn):
        _REGISTRY[name] = (fn, sql)
        return fn
    return deco


# --------------------------------------------------------------------------
# Aggregations (SURVEY A1-A9)
# --------------------------------------------------------------------------

@register("pred_freq", """
SELECT event_type, count(*)::BIGINT AS cnt
FROM events GROUP BY event_type ORDER BY cnt DESC, event_type
""")
def pred_freq(spark, sf):
    """A1 — predicate frequency (scripts/summary.py:88-103): explode->
    group->count->sort as a partial+final hash agg."""
    return (
        load(spark, sf, "events")
        .groupBy("event_type").agg(F.count("*").alias("cnt"))
        .orderBy(F.desc("cnt"), "event_type")
    )


@register("literal_freq", """
SELECT l_returnflag, l_linestatus,
       CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
       count(*)::BIGINT AS count_order
FROM lineitem GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
""")
def literal_freq(spark, sf):
    """A2 — composite-key frequency (scripts/summary.py:110-131), with
    decimal-exact sums (TPC-H Q1 shape; map-side partial agg)."""
    li = load(spark, sf, "lineitem")
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(F.col("l_quantity").cast("decimal(18,2)")).cast("double").alias("sum_qty"),
            F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).cast("double").alias("sum_base_price"),
            F.count("*").alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


@register("summary_stats", """
WITH counts AS (
  SELECT event_type, count(*)::BIGINT AS cnt FROM events GROUP BY event_type
), stats AS (
  SELECT CAST(avg(cnt) AS DOUBLE) AS mean_cnt,
         CAST(max(cnt) AS BIGINT) AS max_cnt,
         CAST(min(cnt) AS BIGINT) AS min_cnt,
         CAST(sum(cnt) AS BIGINT) AS sum_cnt
  FROM counts
)
SELECT c.event_type, c.cnt,
       round_even(c.cnt / s.sum_cnt, 2) AS count_norm_sum,
       round_even(c.cnt / s.max_cnt, 2) AS count_norm_max,
       round_even((c.cnt - s.min_cnt) / greatest(s.max_cnt - s.min_cnt, 1), 2) AS count_norm_minmax
FROM counts c CROSS JOIN stats s
ORDER BY c.event_type
""")
def summary_stats(spark, sf):
    """A3 — distribution stats + per-row normalized scores
    (scripts/summary.py:33-62): scalar agg cross-joined back."""
    counts = (
        load(spark, sf, "events").groupBy("event_type")
        .agg(F.count("*").alias("cnt"))
    )
    stats = counts.agg(
        F.avg("cnt").cast("double").alias("mean_cnt"),
        F.max("cnt").alias("max_cnt"),
        F.min("cnt").alias("min_cnt"),
        F.sum("cnt").alias("sum_cnt"),
    )
    return (
        counts.crossJoin(F.broadcast(stats))
        .select(
            "event_type", "cnt",
            F.bround(F.col("cnt") / F.col("sum_cnt"), 2).alias("count_norm_sum"),
            F.bround(F.col("cnt") / F.col("max_cnt"), 2).alias("count_norm_max"),
            F.bround((F.col("cnt") - F.col("min_cnt"))
                     / F.greatest(F.col("max_cnt") - F.col("min_cnt"), F.lit(1)), 2)
            .alias("count_norm_minmax"),
        )
        .orderBy("event_type")
    )


@register("popularity_norm", """
SELECT p_partkey,
       round_even(p_retailprice / (SELECT max(p_retailprice) FROM part), 2) AS pop_norm
FROM part ORDER BY p_partkey
""")
def popularity_norm(spark, sf):
    """A4+F9 — global max + bround normalization
    (scripts/elastic_indexing.py:88-93,172)."""
    part = load(spark, sf, "part")
    mx = part.agg(F.max("p_retailprice").alias("_mx"))
    return (
        part.crossJoin(F.broadcast(mx))
        .select("p_partkey", F.bround(F.col("p_retailprice") / F.col("_mx"), 2).alias("pop_norm"))
        .orderBy("p_partkey")
    )


@register("label_dedup", """
SELECT lower(p_name) AS name_key, p_partkey, p_retailprice
FROM part
QUALIFY row_number() OVER (PARTITION BY lower(p_name)
                           ORDER BY p_retailprice DESC, p_partkey) = 1
ORDER BY name_key
""")
def label_dedup(spark, sf):
    """A5 — case-folded first-wins dedup per surface key
    (scripts/elastic_indexing.py:123-145)."""
    part = load(spark, sf, "part")
    w = Window.partitionBy(F.lower("p_name")).orderBy(
        F.desc("p_retailprice"), F.asc("p_partkey"))
    return (
        part.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(F.lower("p_name").alias("name_key"), "p_partkey", "p_retailprice")
        .orderBy("name_key")
    )


@register("candidate_argmax", """
SELECT l_orderkey, l_linenumber,
       CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue
FROM lineitem
QUALIFY row_number() OVER (PARTITION BY l_orderkey
    ORDER BY CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2))) DESC,
             l_linenumber) = 1
ORDER BY l_orderkey
""")
def candidate_argmax(spark, sf):
    """A6 — per-group argmax dedup (lookup_retriever.py:177-182):
    window row_number over a computed score, decimal-exact."""
    li = load(spark, sf, "lineitem")
    rev = (F.col("l_extendedprice").cast("decimal(18,2)")
           * (F.lit(1) - F.col("l_discount").cast("decimal(18,2)")))
    w = Window.partitionBy("l_orderkey").orderBy(rev.desc(), F.asc("l_linenumber"))
    return (
        li.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("l_orderkey", "l_linenumber", rev.cast("double").alias("revenue"))
        .orderBy("l_orderkey")
    )


@register("ambiguity_features", """
SELECT p_type,
       round_even(count(DISTINCT CASE WHEN p_size > 25 THEN p_partkey END)
                  / greatest(count(DISTINCT p_partkey), 1), 3) AS ambiguity,
       round_even(count(DISTINCT p_brand) / greatest(count(DISTINCT p_name), 1), 3) AS brand_per_name
FROM part GROUP BY p_type ORDER BY p_type
""")
def ambiguity_features(spark, sf):
    """A7 — countDistinct-ratio mention features
    (lookup_retriever.py:118-135), round 3 half-even."""
    part = load(spark, sf, "part")
    return (
        part.groupBy("p_type")
        .agg(
            F.bround(
                F.countDistinct(F.when(F.col("p_size") > 25, F.col("p_partkey")))
                / F.greatest(F.countDistinct("p_partkey"), F.lit(1)), 3
            ).alias("ambiguity"),
            F.bround(
                F.countDistinct("p_brand") / F.greatest(F.countDistinct("p_name"), F.lit(1)), 3
            ).alias("brand_per_name"),
        )
        .orderBy("p_type")
    )


@register("bow_similarity", """
WITH doc_toks AS (
  SELECT doc_id, list_distinct(string_split(lower(text), ' ')) AS toks
  FROM documents
), part_toks AS (
  SELECT p_partkey, list_distinct(string_split(lower(p_name), ' ')) AS ptoks
  FROM part
)
SELECT d.doc_id, p.p_partkey,
       round_even(len(list_intersect(d.toks, p.ptoks))::DOUBLE / greatest(len(d.toks), 1), 2) AS similarity_score
FROM doc_toks d JOIN part_toks p
  ON len(list_intersect(d.toks, p.ptoks)) > 0
ORDER BY d.doc_id, p.p_partkey
""")
def bow_similarity(spark, sf):
    """A8/J8 — BoW overlap score |row ∩ bow| / |row| round 2
    (bow_retriever.py:147-161). Shares the operator's default
    exploded-token equi-join path (operators/bow.py) — NOT a cross join:
    only pairs sharing >=1 token ever materialize, so cost scales with
    the inverted-index hit list instead of |docs| x |parts|."""
    from lamapi_spark.operators.bow import bow_similarity as bow_op
    docs = load(spark, sf, "documents").select("doc_id", "text")
    parts = load(spark, sf, "part").select(
        F.col("p_partkey").alias("entity"),
        token_set(F.lower("p_name"), pre_cleaned=True).alias("bow"))
    out = bow_op(
        docs, parts, text_col="text", id_col="doc_id",
        tokenizer=lambda c: token_set(F.lower(c), pre_cleaned=True),
        with_matched_words=False)
    return (
        out.select(
            F.col("request_id").alias("doc_id"),
            F.col("entity").alias("p_partkey"),
            "similarity_score",
        )
        .orderBy("doc_id", "p_partkey")
    )


@register("summary_topk", """
SELECT event_type, count(*)::BIGINT AS cnt
FROM events GROUP BY event_type
ORDER BY cnt DESC, event_type LIMIT 3
""")
def summary_topk(spark, sf):
    """A9 — count-sorted top-k summary read (summary_retriever.py:14-21)."""
    return (
        load(spark, sf, "events")
        .groupBy("event_type").agg(F.count("*").alias("cnt"))
        .orderBy(F.desc("cnt"), "event_type").limit(3)
    )


# --------------------------------------------------------------------------
# Windows / ranking (W1-W4)
# --------------------------------------------------------------------------

@register("topk_per_group", """
SELECT o_custkey, o_orderkey, o_totalprice,
       row_number() OVER (PARTITION BY o_custkey
                          ORDER BY o_totalprice DESC, o_orderkey) AS rnk
FROM orders
QUALIFY rnk <= 3
ORDER BY o_custkey, rnk
""")
def topk_per_group(spark, sf):
    """W1 — per-mention popularity top-k (lookup_retriever.py:264 sort +
    size cap) as a window, avoiding a global sort."""
    o = load(spark, sf, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), "o_orderkey")
    return (
        o.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rnk")
        .orderBy("o_custkey", "rnk")
    )


@register("pos_score", """
SELECT o_custkey, o_orderkey,
       round_even(row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey)
             / (count(*) OVER (PARTITION BY o_custkey)), 3) AS pos_score
FROM orders ORDER BY o_custkey, o_orderkey
""")
def pos_score(spark, sf):
    """W2 — normalized rank position (elastic.py:55): rank/len round 3."""
    o = load(spark, sf, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), "o_orderkey")
    wc = Window.partitionBy("o_custkey")
    return (
        o.select(
            "o_custkey", "o_orderkey",
            F.bround(F.row_number().over(w) / F.count("*").over(wc), 3).alias("pos_score"),
        )
        .orderBy("o_custkey", "o_orderkey")
    )


@register("norm_score", """
SELECT o_custkey, o_orderkey,
       round_even(o_totalprice / max(o_totalprice) OVER (PARTITION BY o_custkey), 3) AS es_score
FROM orders ORDER BY o_custkey, o_orderkey
""")
def norm_score(spark, sf):
    """W3 — score normalized by per-group max (elastic.py:41,56)."""
    o = load(spark, sf, "orders")
    wc = Window.partitionBy("o_custkey")
    return (
        o.select(
            "o_custkey", "o_orderkey",
            F.bround(F.col("o_totalprice") / F.max("o_totalprice").over(wc), 3).alias("es_score"),
        )
        .orderBy("o_custkey", "o_orderkey")
    )


# --------------------------------------------------------------------------
# Joins / set ops (J4-J7, SO5, P2-P3)
# --------------------------------------------------------------------------

@register("semi_join_entities", """
SELECT c_custkey, c_name FROM customer c
WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
ORDER BY c_custkey
""")
def semi_join_entities(spark, sf):
    """J4/S6 — the Mongo `$in` batch fetch as a left-semi hash join
    (objects_retriever.py:11-12)."""
    c = load(spark, sf, "customer")
    o = load(spark, sf, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_semi")
        .select("c_custkey", "c_name").orderBy("c_custkey")
    )


@register("anti_join_backfill", """
SELECT c_custkey, c_name FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
ORDER BY c_custkey
""")
def anti_join_backfill(spark, sf):
    """J7 — id-backfill's 'remove found ids' as a left-anti join
    (lookup_retriever.py:220-225)."""
    c = load(spark, sf, "customer")
    o = load(spark, sf, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_anti")
        .select("c_custkey", "c_name").orderBy("c_custkey")
    )


@register("pair_predicate_probe", """
SELECT l_partkey, l_suppkey,
       count(DISTINCT l_orderkey)::BIGINT AS n_orders,
       min(l_orderkey) AS first_order
FROM lineitem GROUP BY l_partkey, l_suppkey
ORDER BY l_partkey, l_suppkey
""")
def pair_predicate_probe(spark, sf):
    """J5 — (subj,obj) pair probe into the adjacency
    (predicates_retriever.py:52-73): equi-join + collect per pair
    (collected list reduced to count+min for engine-stable output)."""
    li = load(spark, sf, "lineitem")
    return (
        li.groupBy("l_partkey", "l_suppkey")
        .agg(
            F.countDistinct("l_orderkey").alias("n_orders"),
            F.min("l_orderkey").alias("first_order"),
        )
        .orderBy("l_partkey", "l_suppkey")
    )


@register("filter_project_scan", """
SELECT o_orderkey, o_totalprice FROM orders
WHERE o_orderstatus = 'F' AND o_orderpriority = '1-URGENT' AND o_totalprice > 1000
ORDER BY o_orderkey
""")
def filter_project_scan(spark, sf):
    """P1-P3 — term filters + column pruning; Catalyst pushes both into
    the parquet scan (verified via .explain PushedFilters)."""
    return (
        load(spark, sf, "orders")
        .filter((F.col("o_orderstatus") == "F")
                & (F.col("o_orderpriority") == "1-URGENT")
                & (F.col("o_totalprice") > 1000))
        .select("o_orderkey", "o_totalprice")
        .orderBy("o_orderkey")
    )


# --------------------------------------------------------------------------
# Scalar functions (F1-F12, SO1-SO3)
# --------------------------------------------------------------------------

@register("clean_str_hash", """
SELECT doc_id, md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS clean_hash
FROM documents ORDER BY doc_id
""")
def clean_str_hash(spark, sf):
    """F1 — clean_str (utils.py:42-44), md5 for stable compare."""
    return (
        load(spark, sf, "documents")
        .select("doc_id", F.md5(clean_str("text")).alias("clean_hash"))
        .orderBy("doc_id")
    )


@register("ed_score_pairs", """
SELECT n.n_name, r.r_name,
       round_even(1 - levenshtein(lower(n.n_name), lower(r.r_name))
             / greatest(length(n.n_name), length(r.r_name), 1), 2) AS ed_score
FROM nation n JOIN region r ON n.n_regionkey = r.r_regionkey
ORDER BY n.n_name
""")
def ed_score_pairs(spark, sf):
    """F2 — normalized edit similarity (utils.py:6-7), bround 2."""
    n = load(spark, sf, "nation")
    r = load(spark, sf, "region")
    return (
        n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .select("n_name", "r_name",
                ed_score(F.lower("n_name"), F.lower("r_name")).alias("ed_score"))
        .orderBy("n_name")
    )


@register("jaccard_tokens", """
SELECT p_partkey,
       round_even(len(list_intersect(list_distinct(string_split(lower(p_name), ' ')),
                                list_distinct(string_split(lower(p_type), ' '))))::DOUBLE
             / greatest(len(list_distinct(string_split(lower(p_name), ' '))),
                        len(list_distinct(string_split(lower(p_type), ' '))), 1), 2) AS jaccard
FROM part ORDER BY p_partkey
""")
def jaccard_tokens(spark, sf):
    """F3/SO1 — whole-token overlap with max-size denominator
    (utils.py:47-51)."""
    return (
        load(spark, sf, "part")
        .select("p_partkey",
                jaccard_score(F.lower("p_name"), F.lower("p_type")).alias("jaccard"))
        .orderBy("p_partkey")
    )


@register("jaccard_ngrams", """
WITH g AS (
  SELECT p_partkey,
    list_distinct(flatten(list_transform(string_split(lower(p_name), ' '),
      t -> list_transform(range(1, greatest(length(t)-1, 1)), i -> t[i:i+2])))) AS g_name,
    list_distinct(flatten(list_transform(string_split(lower(p_brand), ' '),
      t -> list_transform(range(1, greatest(length(t)-1, 1)), i -> t[i:i+2])))) AS g_brand
  FROM part
)
SELECT p_partkey,
       round_even(len(list_intersect(g_name, g_brand))::DOUBLE
             / greatest(len(g_name), len(g_brand), 1), 2) AS jaccard_ngram
FROM g ORDER BY p_partkey
""")
def jaccard_ngrams(spark, sf):
    """F4/SO2 — character 3-gram jaccard (utils.py:54-67)."""
    return (
        load(spark, sf, "part")
        .select("p_partkey",
                jaccard_ngram_score(F.lower("p_name"), F.lower("p_brand")).alias("jaccard_ngram"))
        .orderBy("p_partkey")
    )


_LIT_SQL_CASCADE = r"""
CASE
  WHEN regexp_matches(v, '(?i)^\d{4}[-.\/]\d{1,2}[-.\/]\d{1,2}T(24:00|2[0-3]:[0-5][0-9]|[0-1][0-9]:[0-5][0-9])$') THEN 'DATETIME'
  WHEN regexp_matches(v, '(?i)^(24:00|2[0-3]:[0-5][0-9]|[0-1][0-9]:[0-5][0-9])$') THEN 'TIME'
  WHEN regexp_matches(v, '(?i)^((http|https)\:\/\/)?[a-zA-Z0-9\.\/\?\:@\-_=#]+\.([a-zA-Z]){2,6}([a-zA-Z0-9\.\&\/\?\:@\-_=#])$') THEN 'URL'
  WHEN regexp_matches(v, '(?i)^\b[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Z|a-z]{2,}\b$') THEN 'EMAIL'
  WHEN regexp_matches(v, '(?i)^[-+]?\d+[\,\.]\d+$|^[-+]?\d+[\,\.]\d+[eE][-+]\d+$|^[-+]?\d+[\,\.]\d+[ ]+(km|km2|m|sq|mi|cm|cm2|mm|dm|ft)|^\d+[ ]+(km|km2|m|sq|mi|cm|cm2|mm|dm|ft)') THEN 'FLOAT'
  WHEN regexp_matches(v, '(?i)^[-+]?\d+$|^\d+[ –-](thousand|million|billion|trillion)$|^\d+[\,\.]\d+[ –-](thousand|million|billion|trillion)$') THEN 'INTEGER'
  WHEN regexp_matches(v, '(?i)^\d{1,4}[\,\.\s\t\n]+bc$|^\d{4}[-.\/]\d{1,2}[-.\/]\d{1,2}$|^\d{1,2}[-.\/]\d{1,2}[-.\/]\d{4}$|^\d{1,2}[-.\/]\d{1,2}[-.\/]\d{2}$|^\d+[\.\,]\d+[\.\,]\d+[\.\,]\d+$|^\d+[\.\,]\d+[\.\,]\d+$|^\d+[\.\,]\d+$|^\d{4}[–-]\d{4}$|^\d{4}[–-](present|now)$|^\d{4}$|^\d+$') THEN 'DATE'
  ELSE 'STRING'
END
""".replace("\n", " ")

@register("literal_classify", f"""
WITH vals AS (
  SELECT CAST(p_size AS VARCHAR) AS v FROM part
  UNION ALL SELECT CAST(p_retailprice AS VARCHAR) FROM part
  UNION ALL SELECT strftime(o_orderdate, '%Y-%m-%d') FROM orders
  UNION ALL SELECT lang FROM documents
  UNION ALL SELECT strftime(ts, '%H:%M') FROM events
)
SELECT {_LIT_SQL_CASCADE} AS lit_class, count(*)::BIGINT AS cnt
FROM vals GROUP BY lit_class ORDER BY lit_class
""")
def literal_classify(spark, sf):
    """F5/F6 — the literal-recognizer regex cascade
    (literal_recognizer.py:86-94) over strings derived from several
    columns; grouped by class. Month-name DATE alternatives are omitted
    from the oracle because no such values occur in the derived set."""
    part = load(spark, sf, "part")
    orders = load(spark, sf, "orders")
    docs = load(spark, sf, "documents")
    events = load(spark, sf, "events")
    vals = (
        part.select(F.col("p_size").cast("string").alias("v"))
        .unionAll(part.select(F.col("p_retailprice").cast("string").alias("v")))
        .unionAll(orders.select(F.date_format("o_orderdate", "yyyy-MM-dd").alias("v")))
        .unionAll(docs.select(F.col("lang").alias("v")))
        .unionAll(events.select(F.date_format("ts", "HH:mm").alias("v")))
    )
    return (
        vals.select(classify_literal("v").alias("lit_class"))
        .groupBy("lit_class").agg(F.count("*").alias("cnt"))
        .orderBy("lit_class")
    )


@register("stopword_tokens", f"""
SELECT doc_id,
       array_to_string(list_sort(list_distinct(list_filter(
         string_split(lower(text), ' '),
         t -> NOT list_contains({_SQL_STOPWORDS}, t) AND regexp_matches(t, '^[a-z0-9]+$')
       ))), ' ') AS kept_tokens
FROM documents ORDER BY doc_id
""")
def stopword_tokens(spark, sf):
    """SO3 — stopword removal + alnum filter + set-dedup + sort
    (bow_retriever.py:53-64)."""
    toks = F.split(F.lower("text"), " ")
    kept = F.filter(
        toks,
        lambda t: t.rlike("^[a-z0-9]+$") & ~t.isin(*STOPWORDS),
    )
    return (
        load(spark, sf, "documents")
        .select("doc_id",
                F.concat_ws(" ", F.array_sort(F.array_distinct(kept))).alias("kept_tokens"))
        .orderBy("doc_id")
    )


@register("url_builder", """
SELECT c_custkey, 'https://example.org/entity/C' || CAST(c_custkey AS VARCHAR) AS url
FROM customer ORDER BY c_custkey
""")
def url_builder(spark, sf):
    """F12 — kg URL prefix + id (labels_retriever.py:31)."""
    return (
        load(spark, sf, "customer")
        .select("c_custkey",
                F.concat(F.lit("https://example.org/entity/C"),
                         F.col("c_custkey").cast("string")).alias("url"))
        .orderBy("c_custkey")
    )


@register("kg_partition_split", """
WITH ids AS (
  SELECT CASE WHEN user_id % 3 = 0 THEN 'Q' || CAST(user_id AS VARCHAR)
              WHEN user_id % 3 = 1 THEN 'P' || CAST(user_id AS VARCHAR)
              ELSE 'ent_' || CAST(user_id AS VARCHAR) END AS ent
  FROM (SELECT DISTINCT user_id FROM events)
)
SELECT CASE WHEN regexp_matches(ent, '^[QP]\\d+$') THEN 'wikidata' ELSE 'dbpedia' END AS kg,
       count(*)::BIGINT AS cnt
FROM ids GROUP BY kg ORDER BY kg
""")
def kg_partition_split(spark, sf):
    """SO6/F10 — QID/PID recognizer + per-KG partition (utils.py:11-26)."""
    ids = (
        load(spark, sf, "events").select("user_id").distinct()
        .select(
            F.when(F.col("user_id") % 3 == 0,
                   F.concat(F.lit("Q"), F.col("user_id").cast("string")))
            .when(F.col("user_id") % 3 == 1,
                  F.concat(F.lit("P"), F.col("user_id").cast("string")))
            .otherwise(F.concat(F.lit("ent_"), F.col("user_id").cast("string")))
            .alias("ent"))
    )
    return (
        ids.select(
            F.when(F.col("ent").rlike(r"^[QP]\d+$"), F.lit("wikidata"))
            .otherwise(F.lit("dbpedia")).alias("kg"))
        .groupBy("kg").agg(F.count("*").alias("cnt"))
        .orderBy("kg")
    )


# --------------------------------------------------------------------------
# The flagship lookup shape on testdata (J1 + W1-W3 + F2-F4 + A6)
# --------------------------------------------------------------------------

@register("lookup_token_match", """
WITH m_tok AS (
  SELECT DISTINCT doc_id, unnest(list_distinct(string_split(lower(text), ' '))) AS token
  FROM documents
), d_tok AS (
  SELECT DISTINCT p_partkey, p_name, unnest(list_distinct(string_split(lower(p_name), ' '))) AS token
  FROM part
)
SELECT m.doc_id, d.p_partkey, d.p_name, count(*)::BIGINT AS matched_tokens
FROM m_tok m JOIN d_tok d USING (token)
GROUP BY m.doc_id, d.p_partkey, d.p_name
ORDER BY m.doc_id, d.p_partkey
""")
def lookup_token_match(spark, sf):
    """J1 core — OR-of-tokens match: exploded mention tokens equi-join
    the exploded dictionary (ES whitespace-lowercase analyzer analogue,
    kg_schema.json:7-17). Dictionary side broadcast.

    Plan notes: no .distinct() anywhere — doc_id/p_partkey are unique
    keys and array_distinct already dedupes within a row, so the SQL
    oracle's SELECT DISTINCT is a no-op the Spark side should not pay
    two shuffles for. The aggregation runs on the NARROW (doc_id,
    p_partkey) key; the wide p_name string re-attaches afterwards via a
    broadcast join instead of riding the shuffle."""
    return _token_match_unsorted(spark, sf).orderBy("doc_id", "p_partkey")


def _token_match_unsorted(spark, sf):
    """The match WITHOUT the presentation sort — lookup_candidates
    consumes this directly: its window repartitions by hash(doc_id)
    anyway, so the composed query must not pay the range exchange +
    sort of the full matched frame first (round-6 plan audit: the
    inner orderBy survived into the composed plan as a dead
    Exchange+Sort pair immediately below the window's own exchange)."""
    m_tok = (
        load(spark, sf, "documents")
        .select("doc_id", F.explode(F.array_distinct(F.split(F.lower("text"), " "))).alias("token"))
    )
    d_tok = (
        load(spark, sf, "part")
        .select("p_partkey",
                F.explode(F.array_distinct(F.split(F.lower("p_name"), " "))).alias("token"))
    )
    names = load(spark, sf, "part").select("p_partkey", "p_name")
    return (
        # ONE doc-keyed exchange for the whole match lifecycle (round-6,
        # the r05 repartition(mention_norm) discipline): the pair-key
        # aggregation has ~zero collapse (measured sf0.1: 9.86M joined
        # rows -> 9.86M groups — each (doc, part) pair shares ~1 token),
        # so map-side partial aggregation buys nothing and the default
        # plan paid a full hash(doc_id, p_partkey) exchange of the
        # matched frame PLUS (in lookup_candidates) a second hash(doc_id)
        # exchange for the ranking windows. hash(doc_id) alone satisfies
        # ClusteredDistribution for the pair groupBy, the n_hits window,
        # and the rank window — everything downstream is partition-local.
        # Measured: lookup_token_match 6.1-6.5s -> 2.5-3.0s,
        # lookup_candidates 6.7-7.8s -> 3.4s (sf0.1 noop, bit-equal).
        m_tok.join(F.broadcast(d_tok), "token")
        .select("doc_id", "p_partkey")
        .repartition(F.col("doc_id"))
        .groupBy("doc_id", "p_partkey")
        .agg(F.count("*").alias("matched_tokens"))
        .join(F.broadcast(names), "p_partkey")
        .select("doc_id", "p_partkey", "p_name", "matched_tokens")
    )


@register("lookup_candidates", """
WITH m_tok AS (
  SELECT DISTINCT doc_id, unnest(list_distinct(string_split(lower(text), ' '))) AS token
  FROM documents
), d_tok AS (
  SELECT DISTINCT p_partkey, p_name, unnest(list_distinct(string_split(lower(p_name), ' '))) AS token
  FROM part
), matched AS (
  SELECT m.doc_id, d.p_partkey, d.p_name, count(*)::BIGINT AS matched_tokens
  FROM m_tok m JOIN d_tok d USING (token)
  GROUP BY m.doc_id, d.p_partkey, d.p_name
), scored AS (
  SELECT doc_id, p_partkey, p_name, matched_tokens,
         round_even(1 - levenshtein(lower(p_name), 'small ring')
               / greatest(length(p_name), 10, 1), 2) AS ed_vs_probe,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY matched_tokens DESC, p_partkey) AS rnk,
         count(*) OVER (PARTITION BY doc_id) AS n_hits
  FROM matched
)
SELECT doc_id, p_partkey, p_name, matched_tokens, ed_vs_probe,
       rnk, round_even(rnk / n_hits, 3) AS pos_score
FROM scored WHERE rnk <= 5
ORDER BY doc_id, rnk
""")
def lookup_candidates(spark, sf):
    """Flagship — full lookup shape: token match -> per-doc ranking ->
    pos_score -> similarity feature -> top-5 (the documents table plays
    the mention stream, part the label dictionary)."""
    matched = _token_match_unsorted(spark, sf)
    w = Window.partitionBy("doc_id").orderBy(F.desc("matched_tokens"), "p_partkey")
    wc = Window.partitionBy("doc_id")
    return (
        matched
        .withColumn("ed_vs_probe",
                    F.bround(F.lit(1) - F.levenshtein(F.lower("p_name"), F.lit("small ring"))
                             / F.greatest(F.length("p_name"), F.lit(10), F.lit(1)), 2))
        .withColumn("rnk", F.row_number().over(w))
        .withColumn("n_hits", F.count("*").over(wc))
        .filter(F.col("rnk") <= 5)
        .select("doc_id", "p_partkey", "p_name", "matched_tokens", "ed_vs_probe",
                "rnk", F.bround(F.col("rnk") / F.col("n_hits"), 3).alias("pos_score"))
        .orderBy("doc_id", "rnk")
    )


_LOOKUP_INDEXED_SQL = r"""
WITH dict AS (
  SELECT CAST(p_partkey AS VARCHAR) AS entity, p_name AS name,
         trim(regexp_replace(lower(p_name), '\s+', ' ', 'g')) AS name_norm,
         p_retailprice AS popularity, FALSE AS is_alias
  FROM part
), d_tok AS (
  SELECT entity, name, is_alias, popularity,
         unnest(list_distinct(string_split(name_norm, ' '))) AS token
  FROM dict
), pruned AS (
  -- prune_index: top-3 per posting key by popularity (build-time pruning)
  SELECT * FROM d_tok
  QUALIFY row_number() OVER (PARTITION BY token
      ORDER BY popularity DESC, entity, name, is_alias) <= 3
), m AS (
  SELECT DISTINCT trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS mention_norm
  FROM documents
), m_tok AS (
  SELECT mention_norm,
         unnest(list_distinct(string_split(mention_norm, ' '))) AS m_token
  FROM m
), exact AS (
  SELECT mt.mention_norm, mt.m_token, p.entity, p.name, p.is_alias, p.popularity
  FROM m_tok mt JOIN pruned p ON mt.m_token = p.token
), exact_name AS (
  -- the exact-name inclusion guard: full-string equality joins the
  -- UNPRUNED names table so pruning can never lose an exact match
  SELECT m.mention_norm,
         unnest(list_distinct(string_split(d.name_norm, ' '))) AS m_token,
         d.entity, d.name, d.is_alias, d.popularity
  FROM m JOIN dict d ON m.mention_norm = d.name_norm
), per_token AS (
  SELECT mention_norm, m_token, entity, name, is_alias, min(popularity) AS _pop
  FROM (SELECT * FROM exact UNION ALL SELECT * FROM exact_name)
  GROUP BY mention_norm, m_token, entity, name, is_alias
), agg AS (
  SELECT mention_norm, entity, name, is_alias,
         count(*)::BIGINT AS matched_tokens, min(_pop) AS popularity
  FROM per_token GROUP BY mention_norm, entity, name, is_alias
)
SELECT mention_norm, entity, name, matched_tokens, popularity,
       row_number() OVER (PARTITION BY mention_norm
           ORDER BY popularity DESC, entity, name) AS rnk
FROM agg QUALIFY rnk <= 5
ORDER BY mention_norm, rnk
"""


def _lci_index(spark, sf):
    """Build-or-load the ``lookup_candidates_indexed`` artifact for one
    sf directory. The prefix is SF-SCOPED (the dictionary derives from
    ``part`` at that sf, so reusing across sf dirs would probe a stale
    snapshot); within one session/metastore the build runs once and
    every later invocation probes the existing artifact — mirroring the
    offline build-once / probe-many index lifecycle, and keeping the
    timed query body PROBE-ONLY (bench.py warms the build separately)."""
    import re

    from lamapi_spark.operators.indexes import LookupIndex

    prefix = "q_lci_idx_" + re.sub(r"[^A-Za-z0-9]", "_", str(sf))
    part = load(spark, sf, "part")
    label_dict = part.select(
        F.col("p_partkey").cast("string").alias("entity"),
        F.col("p_name").alias("name"),
        clean_str("p_name").alias("name_norm"),
        F.col("p_retailprice").alias("popularity"),
        F.lit(False).alias("is_alias"),
    )
    if LookupIndex.exists(spark, prefix, fuzzy=False, limit_per_token=3):
        return label_dict, LookupIndex.load(spark, prefix)
    return label_dict, LookupIndex.write(label_dict, prefix=prefix,
                                         n_buckets=8, fuzzy=False,
                                         limit_per_token=3)


@register("lookup_candidates_indexed", _LOOKUP_INDEXED_SQL)
def lookup_candidates_indexed(spark, sf):
    """The ARTIFACT plan under the correctness gate: the same J1 token
    match as ``lookup_candidates``, but routed through a real
    :class:`LookupIndex` — bucketed, sorted, build-time-pruned saved
    tables (prune K=3 so the exact-name inclusion guard is exercised,
    not just present) probed shuffle-free on the dictionary side. This
    is the plan a 10^8-entity dictionary runs, now value-hash-checked
    against a DuckDB oracle that reproduces build-time pruning + the
    guard union + the two-step aggregation. The index build-or-load is
    factored into :func:`_lci_index` so repeat invocations (and the
    bench harness) time the PROBE, not the offline build."""
    from lamapi_spark.operators.lookup import _prepare_mentions, token_match

    label_dict, index = _lci_index(spark, sf)
    mentions = load(spark, sf, "documents").select(F.col("text").alias("mention"))
    prepared = _prepare_mentions(mentions)
    slim = token_match(prepared, label_dict, fuzzy=False, index=index,
                       slim=True)
    w = Window.partitionBy("mention_norm").orderBy(
        F.desc("popularity"), "entity", "name")
    return (
        slim.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 5)
        .select("mention_norm", "entity", "name", "matched_tokens",
                "popularity", "rnk")
        .orderBy("mention_norm", "rnk")
    )


_CLEAN = r"trim(regexp_replace(lower({c}), '\s+', ' ', 'g'))"
_GRAMS3 = (
    "list_distinct(flatten(list_transform(string_split({c}, ' '), "
    "t -> list_transform(range(1, greatest(length(t)-1, 1)), i -> t[i:i+2]))))"
)

_IDS_BACKFILL_SQL = f"""
WITH dict AS (
  SELECT CAST(p_partkey AS VARCHAR) AS entity, p_name AS name,
         {_CLEAN.format(c='p_name')} AS name_norm,
         length(p_name)::INT AS length_entity,
         len(string_split(p_name, ' '))::INT AS ntoken_entity,
         p_retailprice AS popularity
  FROM part
), prepared AS (
  SELECT DISTINCT {_CLEAN.format(c='p_name')} AS mention_norm,
         length({_CLEAN.format(c='p_name')})::INT AS length_mention,
         len(string_split({_CLEAN.format(c='p_name')}, ' '))::INT AS ntoken_mention
  FROM part WHERE p_partkey % 97 = 1
), req AS (
  SELECT DISTINCT {_CLEAN.format(c='p_name')} AS mention_norm,
         CAST(p_partkey AS VARCHAR) AS entity
  FROM part WHERE p_partkey % 97 = 1
  UNION
  SELECT DISTINCT {_CLEAN.format(c='p_name')} AS mention_norm,
         CAST((p_partkey * 7) % 500 + 1 AS VARCHAR) AS entity
  FROM part WHERE p_partkey % 97 = 1
), m_tok AS (
  SELECT mention_norm, unnest(list_distinct(string_split(mention_norm, ' '))) AS token
  FROM prepared
), d_tok AS (
  SELECT entity, unnest(list_distinct(string_split(name_norm, ' '))) AS token
  FROM dict
), matched AS (
  SELECT m.mention_norm, d.entity, count(*)::BIGINT AS matched_tokens
  FROM m_tok m JOIN d_tok d USING (token)
  GROUP BY m.mention_norm, d.entity
), feats_amb AS (
  SELECT ma.mention_norm,
         round_even(count(DISTINCT CASE WHEN di.name_norm = ma.mention_norm THEN di.entity END)
               / greatest(count(DISTINCT di.entity), 1), 3) AS ambiguity_mention
  FROM matched ma JOIN dict di ON ma.entity = di.entity
  GROUP BY ma.mention_norm
), tok_overlap AS (
  SELECT x.mention_norm, count(DISTINCT x.token)::BIGINT AS tok_hits
  FROM (SELECT ma.mention_norm, unnest(string_split(di.name_norm, ' ')) AS token
        FROM matched ma JOIN dict di ON ma.entity = di.entity) x
  JOIN m_tok mt ON mt.mention_norm = x.mention_norm AND mt.token = x.token
  GROUP BY x.mention_norm
), feats AS (
  SELECT p.mention_norm, f.ambiguity_mention,
         round_even(coalesce(t.tok_hits, 0)
               / len(list_distinct(string_split(p.mention_norm, ' '))), 3) AS corrects_tokens
  FROM prepared p
  JOIN feats_amb f USING (mention_norm)
  LEFT JOIN tok_overlap t USING (mention_norm)
), scored AS (
  SELECT ma.mention_norm, ma.entity, di.name, di.name_norm, di.popularity,
         di.length_entity, di.ntoken_entity, ma.matched_tokens,
         row_number() OVER (PARTITION BY ma.mention_norm
             ORDER BY di.popularity DESC, ma.entity ASC, di.name ASC) AS rnk
  FROM matched ma JOIN dict di ON ma.entity = di.entity
), truncated AS (
  SELECT *, count(*) OVER (PARTITION BY mention_norm) AS n_hits
  FROM scored WHERE rnk <= 1000
), sc2 AS (
  SELECT t.*, p.ntoken_mention, p.length_mention,
         (CASE WHEN t.name_norm = t.mention_norm THEN 2.0 ELSE 1.0 END)
           * t.matched_tokens / greatest(p.ntoken_mention, 1) AS raw_score
  FROM truncated t JOIN prepared p USING (mention_norm)
), match_arm AS (
  SELECT mention_norm, entity AS id, name, popularity,
         round_even(rnk / n_hits, 3) AS pos_score,
         round_even(raw_score / max(raw_score) OVER (PARTITION BY mention_norm), 3) AS es_score,
         name_norm, ntoken_mention, length_mention, ntoken_entity, length_entity
  FROM sc2
), missing AS (
  SELECT r.mention_norm, r.entity FROM req r
  WHERE NOT EXISTS (SELECT 1 FROM truncated t
                    WHERE t.mention_norm = r.mention_norm AND t.entity = r.entity)
), bf AS (
  SELECT m.mention_norm, m.entity AS id, di.name, di.popularity,
         round_even(row_number() OVER (PARTITION BY m.mention_norm
               ORDER BY di.popularity DESC, m.entity ASC)
             / count(*) OVER (PARTITION BY m.mention_norm), 3) AS pos_score,
         1.0 AS es_score,
         di.name_norm, p.ntoken_mention, p.length_mention,
         di.ntoken_entity, di.length_entity
  FROM missing m
  JOIN dict di ON m.entity = di.entity
  JOIN prepared p USING (mention_norm)
), unioned AS (
  SELECT * FROM match_arm UNION ALL SELECT * FROM bf
)
SELECT u.mention_norm, u.id, u.name, u.popularity, u.pos_score, u.es_score,
       round_even(1 - levenshtein(u.name_norm, u.mention_norm)
             / greatest(length(u.name_norm), length(u.mention_norm), 1), 2) AS ed_score,
       round_even(len(list_intersect(list_distinct(string_split(u.name_norm, ' ')),
                                     list_distinct(string_split(u.mention_norm, ' '))))::DOUBLE
             / greatest(len(list_distinct(string_split(u.name_norm, ' '))),
                        len(list_distinct(string_split(u.mention_norm, ' '))), 1), 2) AS jaccard_score,
       round_even(len(list_intersect({_GRAMS3.format(c='u.name_norm')},
                                     {_GRAMS3.format(c='u.mention_norm')}))::DOUBLE
             / greatest(len({_GRAMS3.format(c='u.name_norm')}),
                        len({_GRAMS3.format(c='u.mention_norm')}), 1), 2) AS jaccardNgram_score,
       coalesce(f.ambiguity_mention, 0.0) AS ambiguity_mention,
       coalesce(f.corrects_tokens, 0.0) AS corrects_tokens,
       u.ntoken_mention, u.ntoken_entity, u.length_mention, u.length_entity
FROM unioned u LEFT JOIN feats f USING (mention_norm)
ORDER BY u.mention_norm, u.id
"""


@register("lookup_ids_backfill", _IDS_BACKFILL_SQL)
def lookup_ids_backfill(spark, sf):
    """J7 + full-lookup parity — runs the REAL lookup() operator (token
    match -> rank/truncate -> pos/es scores -> similarity features ->
    argmax dedup) with a ``requested_ids`` frame on a part-derived
    dictionary; requested ids missing from the token-match result are
    guaranteed present via the id-retrieval arm
    (lookup_retriever.py:213-234). The oracle reproduces the entire
    dataflow in SQL — this is the driver-gate twin for the operator the
    KG pipeline actually runs."""
    from lamapi_spark.operators.lookup import lookup

    part = load(spark, sf, "part")
    label_dict = part.select(
        F.col("p_partkey").cast("string").alias("entity"),
        F.col("p_name").alias("name"),
        clean_str("p_name").alias("name_norm"),
        F.lit("").alias("description"),
        F.lit("entity").alias("kind"),
        F.lit(None).cast("string").alias("NERtype"),
        F.array().cast("array<string>").alias("types"),
        F.length("p_name").alias("length"),
        F.size(F.split("p_name", " ")).alias("ntoken"),
        F.col("p_retailprice").alias("popularity"),
        F.lit(False).alias("is_alias"),
        F.array(F.lit("en")).alias("language"),
    )
    items_stub = part.select(
        F.col("p_partkey").cast("string").alias("entity"),
        F.lit("entity").alias("kind"),
        F.create_map(F.lit("en"), F.col("p_name")).alias("labels"),
    )
    probes = part.filter(F.col("p_partkey") % 97 == 1)
    mentions = probes.select(F.lower("p_name").alias("mention"))
    req = (
        probes.select(F.lower("p_name").alias("mention"),
                      F.col("p_partkey").cast("string").alias("entity"))
        .unionAll(probes.select(
            F.lower("p_name").alias("mention"),
            ((F.col("p_partkey") * 7) % 500 + 1).cast("string").alias("entity")))
    )
    out = lookup(mentions, label_dict, items_stub, limit=1000, fuzzy=False,
                 requested_ids=req)
    return out.select(
        "mention_norm", "id", "name", "popularity", "pos_score", "es_score",
        "ed_score", "jaccard_score", "jaccardNgram_score",
        "ambiguity_mention", "corrects_tokens",
        "ntoken_mention", "ntoken_entity", "length_mention", "length_entity",
    ).orderBy("mention_norm", "id")


# --------------------------------------------------------------------------
# Streaming-analogue windowed op over events
# --------------------------------------------------------------------------

@register("sessionize_events", """
WITH g AS (
  SELECT user_id, ts,
         CASE WHEN epoch_ms(ts) - epoch_ms(lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)) > 1800000
              OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
              THEN 1 ELSE 0 END AS new_session
  FROM events
)
SELECT user_id, sum(new_session)::BIGINT AS n_sessions, count(*)::BIGINT AS n_events
FROM g GROUP BY user_id ORDER BY user_id
""")
def sessionize_events(spark, sf):
    """Gap-based sessionization (30 min) — the batch twin of a
    Structured Streaming session window; lag + gaps-and-islands."""
    # ts arrives as TIMESTAMP_NTZ; session TZ is pinned UTC so the cast
    # to instant-type for unix_millis is stable
    e = load(spark, sf, "events").withColumn("_tsi", F.col("ts").cast("timestamp"))
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        e.withColumn(
            "new_session",
            F.when(
                F.lag("_tsi").over(w).isNull()
                | ((F.unix_millis("_tsi") - F.unix_millis(F.lag("_tsi").over(w))) > 1800000),
                F.lit(1)).otherwise(F.lit(0)))
        .groupBy("user_id")
        .agg(F.sum("new_session").cast("bigint").alias("n_sessions"),
             F.count("*").alias("n_events"))
        .orderBy("user_id")
    )


@register("events_latest_state", """
SELECT user_id, event_type,
       epoch_us(ts)::BIGINT AS last_ts_us,
       event_id AS last_event_id,
       value AS last_value
FROM events
QUALIFY row_number() OVER (PARTITION BY user_id, event_type
                           ORDER BY ts DESC, event_id DESC) = 1
ORDER BY user_id, event_type
""")
def events_latest_state(spark, sf):
    """CDC latest-state snapshot: the current value per (user_id,
    event_type) key — the upsert/merge compaction every incrementally
    maintained table needs (apply a change feed, keep the newest row
    per key). ONE aggregation with a struct max instead of a
    row_number window: struct comparison is lexicographic, so
    max(struct(ts, event_id, value)) picks the latest row with the
    unique event_id as the deterministic tiebreak — map-side partial
    aggregation collapses each partition to one row per live key
    before the shuffle, where a window would shuffle and sort EVERY
    change-feed row. That is the difference between O(keys) and
    O(history) shuffled rows when compacting a long-history feed at
    scale. (Plan-audited: Spark runs this as partial+final
    SortAggregate — struct buffers are not hash-aggregable — so the
    residual cost is a map-side sort per partition; the shuffle stays
    O(keys).) Timestamps emit as epoch MICROS — parquet's native
    precision, so the ordering key is bit-identical to the stored
    timestamp in both engines (millis would truncate and could flip a
    sub-millisecond tie against the oracle's full-precision ORDER BY)."""
    e = load(spark, sf, "events").withColumn(
        "_us", F.unix_micros(F.col("ts").cast("timestamp")))
    return (
        e.groupBy("user_id", "event_type")
        .agg(F.max(F.struct(
            F.col("_us").alias("us"),
            F.col("event_id").alias("event_id"),
            F.col("value").alias("value"))).alias("_last"))
        .select(
            "user_id", "event_type",
            F.col("_last.us").alias("last_ts_us"),
            F.col("_last.event_id").alias("last_event_id"),
            F.col("_last.value").alias("last_value"),
        )
        .orderBy("user_id", "event_type")
    )


# --------------------------------------------------------------------------
# public registry accessors
# --------------------------------------------------------------------------

def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    _load_extra_registrations()
    return {name: fn for name, (fn, _sql) in _REGISTRY.items()}


def oracle_sql() -> dict[str, str]:
    _load_extra_registrations()
    return {name: sql for name, (_fn, sql) in _REGISTRY.items() if sql is not None}


def _load_extra_registrations() -> None:
    # queries_ops/queries_corpus register into _REGISTRY on import;
    # deferred to avoid a circular import at module load
    import lamapi_spark.queries_corpus  # noqa: F401
    import lamapi_spark.queries_graph  # noqa: F401
    import lamapi_spark.queries_kg  # noqa: F401
    import lamapi_spark.queries_kg2  # noqa: F401
    import lamapi_spark.queries_ops  # noqa: F401
    import lamapi_spark.queries_stats  # noqa: F401
    import lamapi_spark.queries_temporal  # noqa: F401


# ---------------------------------------------------------------------------
# incremental dictionary maintenance: main artifact + append-only delta
# ---------------------------------------------------------------------------

_LOOKUP_DELTA_SQL = r"""
WITH dict AS (
  SELECT CAST(p_partkey AS VARCHAR) AS entity, p_name AS name,
         trim(regexp_replace(lower(p_name), '\s+', ' ', 'g')) AS name_norm,
         p_retailprice AS popularity, FALSE AS is_alias,
         CASE WHEN p_partkey % 10 = 0 THEN 'd' ELSE 'm' END AS part_tag
  FROM part
), d_tok AS (
  SELECT entity, name, is_alias, popularity, part_tag,
         unnest(list_distinct(string_split(name_norm, ' '))) AS token
  FROM dict
), pruned AS (
  -- pruning applies PER PART (main artifact pruned at build; delta
  -- posting lists pruned with the same K at probe) — top-3 per
  -- (token, part), the exact semantics of token_match_with_delta
  SELECT * FROM d_tok
  QUALIFY row_number() OVER (PARTITION BY token, part_tag
      ORDER BY popularity DESC, entity, name, is_alias) <= 3
), m AS (
  SELECT DISTINCT trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS mention_norm
  FROM documents
), m_tok AS (
  SELECT mention_norm,
         unnest(list_distinct(string_split(mention_norm, ' '))) AS m_token
  FROM m
), exact AS (
  SELECT mt.mention_norm, mt.m_token, p.entity, p.name, p.is_alias, p.popularity
  FROM m_tok mt JOIN pruned p ON mt.m_token = p.token
), exact_name AS (
  -- both parts' guards union to the full-dictionary guard
  SELECT m.mention_norm,
         unnest(list_distinct(string_split(d.name_norm, ' '))) AS m_token,
         d.entity, d.name, d.is_alias, d.popularity
  FROM m JOIN dict d ON m.mention_norm = d.name_norm
), per_token AS (
  SELECT mention_norm, m_token, entity, name, is_alias, min(popularity) AS _pop
  FROM (SELECT * FROM exact UNION ALL SELECT * FROM exact_name)
  GROUP BY mention_norm, m_token, entity, name, is_alias
), agg AS (
  SELECT mention_norm, entity, name, is_alias,
         count(*)::BIGINT AS matched_tokens, min(_pop) AS popularity
  FROM per_token GROUP BY mention_norm, entity, name, is_alias
)
SELECT mention_norm, entity, name, matched_tokens, popularity,
       row_number() OVER (PARTITION BY mention_norm
           ORDER BY popularity DESC, entity, name) AS rnk
FROM agg QUALIFY rnk <= 5
ORDER BY mention_norm, rnk
"""


def _lcd_index(spark, sf):
    """Build-or-load the delta-maintenance fixtures for one sf dir: the
    MAIN artifact covers 90% of the part dictionary (p_partkey % 10
    != 0); the remaining 10% lands in the <prefix>_delta side table via
    LookupIndex.write_delta (once per session — later invocations
    load_delta), modelling a label snapshot that grew after the offline
    build."""
    import re

    from lamapi_spark.operators.indexes import LookupIndex

    prefix = "q_lcd_idx_" + re.sub(r"[^A-Za-z0-9]", "_", str(sf))
    part = load(spark, sf, "part")

    def to_dict(p):
        return p.select(
            F.col("p_partkey").cast("string").alias("entity"),
            F.col("p_name").alias("name"),
            clean_str("p_name").alias("name_norm"),
            F.col("p_retailprice").alias("popularity"),
            F.lit(False).alias("is_alias"),
        )

    main_dict = to_dict(part.filter(F.col("p_partkey") % 10 != 0))
    if LookupIndex.exists(spark, prefix, fuzzy=False, limit_per_token=3):
        index = LookupIndex.load(spark, prefix)
    else:
        index = LookupIndex.write(main_dict, prefix=prefix, n_buckets=8,
                                  fuzzy=False, limit_per_token=3)
    delta = LookupIndex.load_delta(spark, prefix)
    if delta is None:
        LookupIndex.write_delta(
            to_dict(part.filter(F.col("p_partkey") % 10 == 0)), prefix)
        delta = LookupIndex.load_delta(spark, prefix)
    return index, delta


@register("lookup_candidates_delta", _LOOKUP_DELTA_SQL)
def lookup_candidates_delta(spark, sf):
    """Incremental dictionary maintenance under the correctness gate:
    the J1 probe of ``lookup_candidates_indexed`` against a main
    bucketed artifact built on 90% of the dictionary PLUS an
    append-only 10% delta (operators/lookup.token_match_with_delta +
    LookupIndex.write_delta/load_delta) — new labels visible to
    lookups without rebuilding the 10^8-entity artifact. The oracle
    reproduces per-part build-time pruning (top-K per (token, part)),
    the unioned exact-name guard, and the two-step aggregation over
    the unioned match."""
    from lamapi_spark.operators.lookup import (
        _prepare_mentions, token_match_with_delta,
    )

    index, delta = _lcd_index(spark, sf)
    mentions = load(spark, sf, "documents").select(F.col("text").alias("mention"))
    prepared = _prepare_mentions(mentions)
    slim = token_match_with_delta(prepared, index, delta, fuzzy=False)
    w = Window.partitionBy("mention_norm").orderBy(
        F.desc("popularity"), "entity", "name")
    return (
        slim.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 5)
        .select("mention_norm", "entity", "name", "matched_tokens",
                "popularity", "rnk")
        .orderBy("mention_norm", "rnk")
    )
