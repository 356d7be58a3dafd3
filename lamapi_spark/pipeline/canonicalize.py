"""NIL-aware canonicalization: connected components over alias edges.

Alias edges come from (a) explicit sameas pairs (the reference's
``/entity/sameas`` data, api/model/data_retrievers/sameas_retriever.py)
and (b) optional high-confidence same-surface links. Components are
computed with iterative hash-min label propagation — a driver loop of
self-joins with ``localCheckpoint`` every few iterations to truncate
lineage (SURVEY §4 'custom work Catalyst will not do'). Canonical id =
the minimum entity id in each component; NIL ids canonicalize to
themselves (they are already deterministic hashes of the surface form).

Scale: each iteration is one shuffle on the vertex id. Hash-min moves
a label one edge per round, so a component needs up to its diameter in
rounds (the eccentricity of its minimum id), plus one that sees no
change. Alias graphs are near-degenerate
(tiny components), so a few rounds with early exit suffice; a graph that
has not converged after ``max_iter`` rounds raises instead of returning
partial components.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def connected_components(edges: DataFrame, max_iter: int = 15) -> DataFrame:
    """edges(a, b) undirected -> (entity, component) with component =
    min id reachable. Deterministic; driver-side convergence loop.

    Each iteration is materialized with localCheckpoint (truncates the
    self-join lineage) and checked for convergence — a limit(1) count on
    the changed set is one cheap job, and alias graphs converge in 1-2
    iterations (near-degenerate components), so eager checking beats
    running blind extra rounds of shuffles. Raises ValueError when the
    labels still change in round ``max_iter`` (a component of diameter
    ``max_iter`` or more).
    """
    # materialize the symmetric edge set ONCE: it feeds every iteration's
    # propagation join, and the upstream edge plan may be expensive (the
    # dedup_clusters caller hands us an LSH band self-join — without the
    # checkpoint that join would re-execute per iteration)
    sym = (
        edges.select(F.col("a").alias("src"), F.col("b").alias("dst"))
        .unionByName(edges.select(F.col("b").alias("src"), F.col("a").alias("dst")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    labels = (
        sym.select(F.col("src").alias("entity"))
        .distinct()
        .withColumn("component", F.col("entity"))
        .localCheckpoint(eager=True)
    )
    for _i in range(max_iter):
        # candidate labels flowing across edges
        prop = (
            sym.join(labels, sym.src == labels.entity, "inner")
            .select(F.col("dst").alias("entity"), "component")
        )
        new_labels = (
            labels.unionByName(prop)
            .groupBy("entity")
            .agg(F.min("component").alias("component"))
            .localCheckpoint(eager=True)
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "entity")
            .filter(F.col("n.component") != F.col("o.component"))
            .limit(1).count()
        )
        labels = new_labels
        if changed == 0:
            return labels
    raise ValueError(f"connected_components did not converge in max_iter={max_iter} "
                     "rounds: a component's diameter is at least max_iter")


def canonical_map(sameas: DataFrame) -> DataFrame:
    """-> (raw_entity, canonical_entity). Entities not in any component
    are absent (callers coalesce to identity)."""
    comp = connected_components(sameas)
    return comp.select(
        F.col("entity").alias("raw_entity"),
        F.col("component").alias("canonical_entity"),
    )


def canonicalize_triples(triples: DataFrame, cmap: DataFrame) -> DataFrame:
    """Rewrite subj/obj through the canonical map (identity when absent).
    Two broadcast-friendly left joins — the map is tiny relative to
    triples; broadcast explicitly."""
    cm = F.broadcast(cmap)
    out = (
        triples
        .join(cm.withColumnRenamed("raw_entity", "subj")
                .withColumnRenamed("canonical_entity", "_subj_c"), "subj", "left")
        .join(cm.withColumnRenamed("raw_entity", "obj")
                .withColumnRenamed("canonical_entity", "_obj_c"), "obj", "left")
        .select(
            F.coalesce("_subj_c", "subj").alias("subj"),
            "pred",
            F.coalesce("_obj_c", "obj").alias("obj"),
            "conv_id", "turn_idx",
        )
    )
    return out
