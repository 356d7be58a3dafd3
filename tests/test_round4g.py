"""Round-4 tenth-part sweep: hand-pinned cases for the RAKE keyword
and n-gram novelty operators (oracle parity is the contract gate's
job; these pin the conventions on tiny inputs computed by hand)."""

from __future__ import annotations


def test_rake_keywords_pinned(spark):
    from lamapi_spark.ops.corpus import rake_keywords

    # doc: "deep learning of the deep net" ->
    # runs: ["deep learning"(x1), "deep net"(x1)]
    # freq: deep 2, learning 1, net 1; deg: deep 2+2=4, learning 2, net 2
    # wscore: deep 2.0, learning 2.0, net 2.0
    # phrase scores: both 4.0 -> tie broken phrase asc
    df = spark.createDataFrame([(1, "deep learning of the deep net")],
                               "doc_id int, text string")
    out = rake_keywords(df, k=3).orderBy("rk").collect()
    assert [(r["phrase"], r["n_words"], r["score"], r["rk"]) for r in out] \
        == [("deep learning", 2, 4.0, 1), ("deep net", 2, 4.0, 2)]


def test_ngram_novelty_pinned(spark):
    from lamapi_spark.ops.corpus import ngram_novelty

    train = spark.createDataFrame([(0, "a b c d")], "doc_id int, text string")
    # gen doc 1: grams "a b c"(seen) "b c d"(seen) "c d x"(novel) -> 1/3
    # gen doc 2: "x y z" x2 occurrences, both novel -> 2/2
    # gen doc 3: two tokens -> no grams -> emits nothing
    gen = spark.createDataFrame(
        [(1, "a b c d x"), (2, "x y z x y z"), (3, "a b")],
        "doc_id int, text string")
    out = {r["doc_id"]: r for r in ngram_novelty(gen, train, n=3).collect()}
    assert set(out) == {1, 2}
    assert (out[1]["n_grams"], out[1]["n_novel"]) == (3, 1)
    assert out[1]["novelty"] == 0.333333
    # doc 2 grams: "x y z","y z x","z x y","x y z" -> all 4 novel
    assert (out[2]["n_grams"], out[2]["n_novel"], out[2]["novelty"]) \
        == (4, 4, 1.0)


def test_plan_shapes_of_tenth_part_operators(spark):
    """Plan audit for this batch (the test_ops discipline): no
    cartesian products and no nested-loop joins; the data-sided joins
    (RAKE word scores, novelty gram probe) stay hash joins."""
    import pyspark.sql.functions as F

    from lamapi_spark.ops.corpus import ngram_novelty, rake_keywords

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")

    def plan(df):
        return df._jdf.queryExecution().executedPlan().toString()

    p1 = plan(rake_keywords(docs, k=3))
    assert "CartesianProduct" not in p1
    assert "BroadcastNestedLoopJoin" not in p1

    p2 = plan(ngram_novelty(docs.filter(F.col("doc_id") % 2 == 1),
                            docs.filter(F.col("doc_id") % 2 == 0)))
    assert "CartesianProduct" not in p2
    assert "BroadcastNestedLoopJoin" not in p2
    assert "Window" not in p2
