"""Entity-link scoring: detected mention spans -> (span, entity) links.

The link decision is lookup.best_links over the flagship lookup
dataflow's match (lamapi_spark/operators/lookup.py — the reference's
entity-retrieval semantics), computed ONCE per distinct surface form
(the batch analogue of the reference's result cache) and re-joined to
spans here.

Link choice per surface: argmax over candidates by
(ed_score + jaccard_score + jaccardNgram_score) desc, then popularity
desc, then id asc — similarity first, popularity as the ambiguity
tiebreak. Surfaces whose best score falls below ``nil_threshold`` (and
OOV surfaces with no candidates at all) map to deterministic NIL ids:
``NIL-<md5(surface)[:12]>``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from lamapi_spark.pipeline.canonicalize import connected_components


def nil_id(col):
    return F.concat(F.lit("NIL-"), F.substring(F.md5(col), 1, 12))


def link_mentions(
    mentions: DataFrame,
    best: DataFrame,
    nil_threshold: float = 1.0,
) -> DataFrame:
    """mentions: detect_mentions ∪ detect_oov_mentions output (OOV rows
    may lack name_norm/edits). ``best``: the (mention_norm, id,
    link_score) argmax frame of lookup.best_links over the FULL
    un-truncated match — the exact linking decision with no response
    build on the critical path.

    -> (conv_id, turn_idx, start, ntoken_span, surface, entity, link_score,
        nil) — every input span appears exactly once."""
    best = best.select(
        "mention_norm", F.col("id").alias("_best_id"), "link_score")
    m = mentions.select(
        "conv_id", "turn_idx", "start", "ntoken_span", "surface",
    ).withColumn("mention_norm", F.col("surface"))

    linked = (
        m.join(best, "mention_norm", "left")
        .withColumn(
            "nil",
            F.col("_best_id").isNull() | (F.col("link_score") < F.lit(nil_threshold)),
        )
        .withColumn(
            "entity",
            F.when(~F.col("nil"), F.col("_best_id")).otherwise(nil_id(F.col("surface"))),
        )
        .select("conv_id", "turn_idx", "start", "ntoken_span", "surface",
                "entity", F.coalesce("link_score", F.lit(0.0)).alias("link_score"), "nil")
    )
    return linked


def nil_clusters(surfaces: DataFrame, taun: int = 3, taud: int = 5) -> DataFrame:
    """Cross-conversation NIL clustering — the canonicalization step for
    the mentions linking COULDN'T resolve: NIL surfaces that likely
    denote the same unseen entity collapse to one cluster id, so the
    emitted triples still co-refer ("J. Smith" / "J Smith" / "Smith"
    across conversations get ONE NIL node instead of three).

    Composition of two existing primitives, no new algorithm: exact
    token-set Jaccard pairs (ops/setjoin.setjoin_jaccard_pairs — the
    lossless prefix-filter join; surfaces act as both id and content)
    feed the converged CC loop (canonicalize.connected_components — the
    same loop sameas edges ride). cluster_id = lexicographically
    smallest member surface; surfaces with no >= tau neighbor cluster
    to themselves.

    -> (surface, cluster_id), one row per distinct input surface.
    """
    from lamapi_spark.ops.setjoin import setjoin_jaccard_pairs

    surf = surfaces.select("surface").distinct()
    pairs = setjoin_jaccard_pairs(surf, id_col="surface",
                                  text_col="surface",
                                  taun=taun, taud=taud)
    comp = connected_components(
        pairs.select(F.col("id_a").alias("a"), F.col("id_b").alias("b")))
    return (
        surf.join(comp.withColumnRenamed("entity", "surface"),
                  "surface", "left")
        .select("surface",
                F.coalesce("component", "surface").alias("cluster_id"))
    )
