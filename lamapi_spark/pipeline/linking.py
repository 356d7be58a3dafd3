"""Entity-link scoring: detected mention spans -> (span, entity) links.

Candidate generation + scoring reuses the flagship lookup dataflow
(lamapi_spark/operators/lookup.py — the reference's entity-retrieval
semantics), computed ONCE per distinct surface form (the batch analogue
of the reference's result cache) and re-joined to spans.

Link choice per span: argmax over candidates by
(ed_score + jaccard_score + jaccardNgram_score) desc, then popularity
desc, then id asc — similarity first, popularity as the ambiguity
tiebreak. Surfaces whose best score falls below ``nil_threshold`` (and
OOV surfaces with no candidates at all) map to deterministic NIL ids:
``NIL-<md5(surface)[:12]>``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from lamapi_spark.operators.lookup import lookup
from lamapi_spark.pipeline.canonicalize import connected_components

def link_score_col():
    return F.col("ed_score") + F.col("jaccard_score") + F.col("jaccardNgram_score")


def candidates_for_surfaces(
    surfaces: DataFrame,
    label_dict: DataFrame,
    items: DataFrame,
    fuzzy: bool = False,
    limit: int = 1000,
    limit_per_token: int | None = None,
    fuzzy_edits: int = 1,
    index=None,
    prepared: DataFrame | None = None,
    match: DataFrame | None = None,
) -> DataFrame:
    """Distinct surface forms -> full 19-field candidates table
    (checkpointable stage; response-parity artifact). ``limit_per_token``
    enables the pruned posting-list path for huge dictionaries (see
    indexes.prune_index) — rank-lossless for the candidate list whenever
    K >= limit (the pipeline passes K=100 with candidate_limit=100, so
    the artifact is exact); the exact-name / 1-edit-name guards
    additionally pin those matches into the match set. The LINK decision
    does not depend on this frame at all — run_pipeline links from
    lookup.best_links over the full un-truncated match."""
    return lookup(
        surfaces.select(F.col("surface").alias("mention")),
        label_dict, items,
        limit=limit, fuzzy=fuzzy,
        limit_per_token=limit_per_token, fuzzy_edits=fuzzy_edits,
        index=index, prepared=prepared, match=match,
    )


def nil_id(col):
    return F.concat(F.lit("NIL-"), F.substring(F.md5(col), 1, 12))


def link_mentions(
    mentions: DataFrame,
    candidates: DataFrame | None = None,
    nil_threshold: float = 1.0,
    best: DataFrame | None = None,
) -> DataFrame:
    """mentions: detect_mentions ∪ detect_oov_mentions output (OOV rows
    may lack name_norm/edits). Provide EITHER ``candidates`` (the
    19-field response frame — argmax computed here over whatever that
    frame contains, including its limit truncation) OR ``best`` (a
    precomputed (mention_norm, id, link_score) frame, e.g. from
    lookup.best_links over the FULL un-truncated match — the exact
    linking decision with no response build on the critical path).

    -> (conv_id, turn_idx, start, ntoken_span, surface, entity, link_score,
        nil) — every input span appears exactly once."""
    if best is not None:
        best = best.select(
            "mention_norm", F.col("id").alias("_best_id"), "link_score")
    else:
        best = (
            candidates
            .withColumn("_score", link_score_col())
            .withColumn("_rn", F.row_number().over(
                Window.partitionBy("mention_norm").orderBy(
                    F.col("_score").desc(), F.col("popularity").desc(), F.col("id").asc())))
            .filter(F.col("_rn") == 1)
            .select(
                F.col("mention_norm"),
                F.col("id").alias("_best_id"),
                F.col("_score").alias("link_score"),
            )
        )
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
