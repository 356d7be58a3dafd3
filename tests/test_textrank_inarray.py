"""Round-6 differential: conv_textrank's per-conversation IN-ROW
fixed-point PageRank must be bit-identical to the pre-round-6
formulation — ops/graph.pagerank_fixed_point over the union edge set
with (conv, turn) composite node ids.

The equivalence claim being tested: the recurrence
``rank' = teleport + (85 * sum(rank div degree over in-edges)) div 100``
has no cross-component term (teleport is a per-node constant and the
symmetric edge set needs no dangling mass), so computing it per
conversation cannot change any value. Both sides rank the same turn
pairs (salience.similar_turn_pairs); only the PageRank differs.
"""

from pyspark.sql import functions as F

from lamapi_spark.pipeline.salience import conv_textrank, similar_turn_pairs


def _reference_textrank(spark, tr, top_k, min_jaccard_bp, n_iter, scale):
    """The pre-round-6 formulation: the production turn pairs, ranked
    by a global pagerank_fixed_point over conv#turn composite nodes."""
    from pyspark.sql import Window

    from lamapi_spark.ops.graph import pagerank_fixed_point

    pairs = similar_turn_pairs(tr, min_jaccard_bp)
    node = lambda t: F.concat("conv_id", F.lit("#"), F.col(t))  # noqa: E731
    edges = pairs.select(F.explode(F.array(
        F.struct(node("ta").alias("src"), node("tb").alias("dst")),
        F.struct(node("tb").alias("src"), node("ta").alias("dst")),
    )).alias("_e")).select("_e.src", "_e.dst")
    rank = pagerank_fixed_point(edges, n_iter=n_iter, scale=scale,
                                checkpoint_every=1)
    parts = F.split("node", "#")
    ranked = rank.select(
        F.element_at(parts, 1).alias("conv_id"),
        F.element_at(parts, 2).cast("long").alias("turn_idx"),
        F.col("rank").alias("rank_units"))
    w = Window.partitionBy("conv_id").orderBy(
        F.desc("rank_units"), F.asc("turn_idx"))
    return (ranked.withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") <= int(top_k)))


def test_inarray_pagerank_matches_global_loop(spark):
    """Varied component shapes: hub-and-spoke, clique, chain, two
    disjoint components inside ONE conversation, a pair-only conv,
    and an edgeless conv — the in-row ranks equal the global-loop
    ranks bit for bit (BIGINT fixed point, so equality is exact)."""
    rows = []
    # conv A: hub (turn 2) + chain tail; 5 turns
    rows += [("A", 1, "alpha beta gamma"),
             ("A", 2, "alpha beta delta epsilon"),
             ("A", 3, "delta epsilon zeta"),
             ("A", 4, "zeta eta theta delta epsilon"),
             ("A", 5, "totally unrelated words")]
    # conv B: 4-clique (same template)
    rows += [("B", i, "same text every turn") for i in range(1, 5)]
    # conv C: TWO disjoint 2-components in one conversation
    rows += [("C", 1, "red blue"), ("C", 2, "red blue"),
             ("C", 3, "green yellow"), ("C", 4, "green yellow")]
    # conv D: pairwise dissimilar -> no edges
    rows += [("D", 1, "one thing"), ("D", 2, "another matter")]
    # conv E: a single pair
    rows += [("E", 7, "only pair here"), ("E", 9, "only pair here")]
    tr = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, text string")

    kw = dict(top_k=3, min_jaccard_bp=2000, n_iter=3, scale=10**9)
    got = sorted(tuple(r) for r in conv_textrank(tr, **kw).collect())
    ref = sorted(tuple(r) for r in
                 _reference_textrank(spark, tr, **kw).collect())
    assert got == ref
    assert len(got) > 0 and "D" not in {r[0] for r in got}

    # n_iter=0 degrades to the init ranks (range(0) in the frame loop;
    # guards against sequence(1, 0) stepping backward in Spark SQL)
    kw0 = dict(kw, n_iter=0)
    got0 = sorted(tuple(r) for r in conv_textrank(tr, **kw0).collect())
    ref0 = sorted(tuple(r) for r in
                  _reference_textrank(spark, tr, **kw0).collect())
    assert got0 == ref0
    assert {r[2] for r in got0} == {10**9}
