"""Label-dictionary builder — the Spark analogue of the reference's
Elasticsearch label index (scripts/elastic_indexing.py:114-186).

One output row per (entity, lowercase-unique surface form), with the same
dedup semantics as the reference:

- labels explode first, keyed by ``lower(name)``; the winning
  original-case ``name`` is the first label by (language asc, position)
  — the reference uses Python-dict insertion order, which Spark maps do
  not preserve, so we pin a deterministic language ordering instead;
- aliases that collide with a label key are skipped; alias-only keys get
  ``is_alias = true``;
- ``language`` collects every contributing language in insertion order;
- PERS entities additionally emit dot-abbreviation alias rows for their
  English label (including the unabbreviated variant — the reference
  appends all options, elastic_indexing.py:147-152);
- features: ``length``/``ntoken`` on the original-case name,
  ``popularity = bround(pop / global_max_pop, 2)`` (banker's rounding,
  elastic_indexing.py:170-172), ``types`` as an array (the reference
  space-joins; an array is the honest Spark shape and joins better).

Scale: every step is narrow except (a) the per-(entity, key) dedup — a
hash aggregation keyed by (entity, lower(name)), evenly distributed, and
(b) the global max-popularity scalar (tiny). The output should be written
bucketed by token (see ``token_inverted_index``) for the lookup join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from lamapi_spark.functions import clean_str, dot_notation_variants


def build_label_dict(items: DataFrame, max_popularity: int | None = None) -> DataFrame:
    """items (kg_items schema, FIXTURES.md §2) -> label_dict (§3)."""
    if max_popularity is None:
        # A4 global max (elastic_indexing.py:88-93): scalar agg, broadcast
        # back via crossJoin of a 1-row frame.
        maxpop_df = items.agg(F.max("popularity").alias("_max_pop"))
    else:
        maxpop_df = None

    base = items.select(
        "entity", "description", "labels", "aliases", "types",
        "popularity", "kind", "NERtype",
    )

    labels = base.select(
        "*",
        F.explode(F.map_entries("labels")).alias("_kv"),
    ).select(
        "entity", "description", "types", "popularity", "kind", "NERtype",
        F.col("_kv.value").alias("name"),
        F.col("_kv.key").alias("lang"),
        F.lit(False).alias("is_alias"),
        F.lit(0).alias("arr_pos"),
    )

    aliases = base.select(
        "*",
        F.explode(F.map_entries("aliases")).alias("_lkv"),
    ).select(
        "entity", "description", "types", "popularity", "kind", "NERtype",
        F.col("_lkv.key").alias("lang"),
        F.posexplode(F.col("_lkv.value")).alias("arr_pos", "name"),
    ).select(
        "entity", "description", "types", "popularity", "kind", "NERtype",
        "name", "lang",
        F.lit(True).alias("is_alias"),
        "arr_pos",
    )

    exploded = labels.unionByName(aliases)

    # Dedup per (entity, lower(name)): labels beat aliases, then insertion
    # order — a single hash-shuffle on an even key. An alias colliding with
    # a label key is skipped entirely (its language is NOT collected),
    # matching elastic_indexing.py:134-135's `continue`.
    key = F.lower(F.col("name"))
    wp = Window.partitionBy("entity", key)
    w = wp.orderBy("is_alias", "lang", "arr_pos")
    deduped = (
        exploded
        .withColumn("_has_label", F.max(F.when(~F.col("is_alias"), 1).otherwise(0)).over(wp))
        .filter(~F.col("is_alias") | (F.col("_has_label") == 0))
        .withColumn("_rn", F.row_number().over(w))
        .withColumn("language", F.collect_list("lang").over(
            w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
        .filter(F.col("_rn") == 1)
        .drop("_rn", "_has_label", "lang", "arr_pos")
    )

    # PERS dot-abbreviation alias rows from the English label
    # (elastic_indexing.py:147-152) — appended without dedup, like the ref.
    pers = (
        base
        .filter((F.col("NERtype") == "PERS") & F.col("labels").getItem("en").isNotNull())
        .select(
            "entity", "description", "types", "popularity", "kind", "NERtype",
            F.explode(dot_notation_variants(F.col("labels").getItem("en"))).alias("name"),
            F.array(F.lit("en")).alias("language"),
            F.lit(True).alias("is_alias"),
        )
    )

    dict_df = deduped.select(
        "entity", "name", "language", "is_alias", "description",
        "kind", "NERtype", "types", "popularity",
    ).unionByName(pers.select(
        "entity", "name", "language", "is_alias", "description",
        "kind", "NERtype", "types", "popularity",
    ))

    # The dictionary is unique on (entity, name, is_alias): a PERS dot
    # variant colliding with an existing alias row would otherwise emit an
    # exact duplicate (the reference's ES index does store such duplicate
    # docs — an indexing artifact, not information). Prefer the richer
    # language list deterministically.
    w_uni = Window.partitionBy("entity", "name", "is_alias").orderBy(
        F.size("language").desc(), F.col("language").cast("string").asc())
    dict_df = (
        dict_df.withColumn("_u", F.row_number().over(w_uni))
        .filter(F.col("_u") == 1).drop("_u")
    )

    dict_df = dict_df.select(
        "entity", "name",
        clean_str("name").alias("name_norm"),
        "language", "is_alias", "description", "kind", "NERtype",
        F.coalesce("types", F.array().cast("array<string>")).alias("types"),
        F.length("name").alias("length"),
        F.size(F.split("name", " ")).alias("ntoken"),
        F.col("popularity").alias("_raw_pop"),
    )

    if maxpop_df is not None:
        dict_df = dict_df.crossJoin(F.broadcast(maxpop_df))
    else:
        dict_df = dict_df.withColumn("_max_pop", F.lit(max_popularity))

    return dict_df.withColumn(
        "popularity",
        F.bround(F.col("_raw_pop") / F.col("_max_pop"), 2),
    ).drop("_raw_pop", "_max_pop")


def token_inverted_index(label_dict: DataFrame) -> DataFrame:
    """Explode ``name_norm`` into one row per (token, dictionary row) —
    the Spark shape of ES's whitespace-lowercase inverted index
    (scripts/index_confs/kg_schema.json:7-17).

    At production scale this table is written out partitioned/bucketed by
    ``token`` so the lookup join co-locates without a dictionary-side
    shuffle per query batch.
    """
    return label_dict.select(
        F.explode(F.array_distinct(F.split("name_norm", " "))).alias("token"),
        "*",
    )


def deletion_variants(token, max_dels):
    """All strings reachable from ``token`` by deleting up to ``max_dels``
    chars (SymSpell-style neighborhood), as a Column expression.

    Used on both the dictionary side (precomputed, index artifact) and the
    mention side to implement ES ``fuzziness:auto`` bands as equi-joins:
    two tokens within edit distance d share a deletion variant when each
    drops ≤ d chars. Candidates are post-filtered with ``levenshtein``.
    """
    one = F.transform(
        F.sequence(F.lit(1), F.length(token)),
        lambda i: F.concat(token.substr(F.lit(1), i - 1),
                           token.substr(i + 1, F.length(token))),
    )
    if max_dels <= 0:
        return F.array(token)
    if max_dels == 1:
        return F.array_distinct(F.concat(F.array(token), one))
    two = F.flatten(F.transform(one, lambda t1: F.transform(
        F.sequence(F.lit(1), F.greatest(F.length(t1), F.lit(1))),
        lambda i: F.concat(t1.substr(F.lit(1), i - 1), t1.substr(i + 1, F.length(t1))),
    )))
    return F.array_distinct(F.concat(F.array(token), one, two))


def fuzzy_token_index(label_dict: DataFrame, max_edits: int = 2) -> DataFrame:
    """Deletion-neighborhood index over dictionary tokens, with ES
    ``fuzziness:auto`` bands (lookup_retriever.py:272 semantics):
    token length 1-2 -> exact only, 3-5 -> 1 edit, >=6 -> 2 edits
    (capped at ``max_edits`` — pipelines that only chase 1-edit typos
    cut the variant volume ~4x).

    Emits (variant, token, <dict row>) — join mentions' own deletion
    variants against ``variant`` then post-filter by real edit distance.
    """
    toks = token_inverted_index(label_dict)
    band = (
        F.when(F.length("token") >= 6, F.least(F.lit(2), F.lit(max_edits)))
        .when(F.length("token") >= 3, F.lit(1))
        .otherwise(F.lit(0))
    )
    return toks.withColumn("_band", band).select(
        F.explode(
            F.when(F.col("_band") == 2, deletion_variants(F.col("token"), 2))
            .when(F.col("_band") == 1, deletion_variants(F.col("token"), 1))
            .otherwise(F.array(F.col("token")))
        ).alias("variant"),
        "*",
    ).drop("_band")


def fuzzy_name_index(label_dict: DataFrame) -> DataFrame:
    """(variant, name_norm) deletion-1 index over distinct dictionary
    names — precomputable; at scale written bucketed by ``variant``."""
    return (
        label_dict.select("name_norm").distinct()
        .select(F.explode(deletion_variants(F.col("name_norm"), 1)).alias("variant"),
                "name_norm")
    )
