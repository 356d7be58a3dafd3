"""Training-data ops: dedup finds planted near-duplicates, ANN recall vs
brute force, simhash Hamming locality."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from lamapi_spark.ops.dedup import (
    exact_dedup, minhash_lsh_pairs, ngram_jaccard_pairs, simhash60,
    substring_dup_spans, substring_dup_stats,
)
from lamapi_spark.ops.similarity import brute_force_topk, lsh_ann_topk
from lamapi_spark.ops.textstats import lang_id

BASE = ("the quick brown fox jumps over the lazy dog while the band plays "
        "a very long tune about data pipelines and shuffle partitions")


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, BASE),
        (1, BASE),                                   # exact dup of 0
        (2, BASE.replace("lazy", "sleepy")),          # near dup of 0
        (3, "completely different text about cooking pasta with garlic"),
        (4, "completely different text about cooking pasta with butter"),  # near dup of 3
        (5, "unrelated short note"),
    ]
    return spark.createDataFrame(rows, "doc_id bigint, text string")


def test_exact_dedup_groups(spark, docs):
    out = {r.keep_id: r.group_size for r in exact_dedup(docs, "text", "doc_id").collect()}
    assert out[0] == 2          # docs 0,1 collapse
    assert sum(out.values()) == 6


def test_minhash_finds_planted_neardups(spark, docs):
    pairs = {(r.id_a, r.id_b): r.sig_agree
             for r in minhash_lsh_pairs(docs, "doc_id", "text").collect()}
    assert pairs.get((0, 1)) == 1.0          # exact dup: all hashes agree
    assert (0, 2) in pairs or (1, 2) in pairs  # near dup caught by some band
    assert (3, 4) in pairs
    assert not any({a, b} & {5} for a, b in pairs)  # unrelated doc never pairs


def test_ngram_jaccard_scores(spark, docs):
    pairs = {(r.id_a, r.id_b): r.jaccard
             for r in ngram_jaccard_pairs(docs, "doc_id", "text", threshold=0.3).collect()}
    assert pairs[(0, 1)] == 1.0
    assert 0.3 <= pairs[(0, 2)] < 1.0
    assert (3, 4) in pairs


def test_substring_dup_spans(spark):
    # k=3, min_count=2. Hand-computed corpus-wide duplicated 3-grams:
    #   "a b c" x4 (d0@1, d1@3, d3@1, d3@8), "b c d" x2 (d0@2, d1@4),
    #   "q q q" x2 (d3@4, d3@5) — everything else unique.
    rows = [
        (0, "a b c d e f g h"),
        (1, "x x a b c d y z"),
        (2, "p q r s t u"),                # no duplicated gram -> no rows
        (3, "a b c q q q q a b c"),        # dup pos 1,4,5,8: gaps <= k merge
    ]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    out = {(r.doc_id, r.start, r.ntoken_span)
           for r in substring_dup_spans(docs, "doc_id", "text",
                                        k=3, min_count=2).collect()}
    assert out == {(0, 1, 4), (1, 3, 4), (3, 1, 10)}


def test_substring_dup_spans_splits_islands(spark):
    # dup grams separated by MORE than k tokens stay separate spans
    rows = [
        (0, "a b c z1 z2 z3 z4 z5 a b c"),   # "a b c" at pos 1 and 9, gap 8 > 3
        (1, "a b c y1 y2 y3 y4 y5 a b c"),   # makes both occurrences corpus-dups
    ]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    out = {(r.doc_id, r.start, r.ntoken_span)
           for r in substring_dup_spans(docs, "doc_id", "text",
                                        k=3, min_count=2).collect()}
    assert out == {(0, 1, 3), (0, 9, 3), (1, 1, 3), (1, 9, 3)}


def test_substring_dup_stats(spark):
    rows = [
        (0, "a b c d e f g h"),       # dup span (1,4) -> 4/8
        (1, "x x a b c d y z"),       # dup span (3,4) -> 4/8
        (2, "p q r s t u"),           # clean -> 0/6
        (3, "a b"),                   # shorter than k -> 0/2
    ]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    out = {r.doc_id: (r.ntokens, r.dup_tokens, r.dup_fraction)
           for r in substring_dup_stats(docs, "doc_id", "text",
                                        k=3, min_count=2).collect()}
    assert out == {0: (8, 4, 0.5), 1: (8, 4, 0.5),
                   2: (6, 0, 0.0), 3: (2, 0, 0.0)}


def test_simhash_locality(spark, docs):
    sh = {r.doc_id: r.sh for r in docs.select(
        "doc_id", simhash60(F.array_distinct(F.split(F.lower("text"), " "))).alias("sh")
    ).collect()}
    def ham(a, b):
        return bin(a ^ b).count("1")
    assert sh[0] == sh[1]
    assert ham(sh[0], sh[2]) < ham(sh[0], sh[3])  # near dup closer than unrelated


def test_ann_recall_vs_brute_force(spark):
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 10)
    bf = {(r.q_id, r.n_id) for r in brute_force_topk(q, emb, k=3).collect()}
    # neighbors in this synthetic set are weak (cos ~0.3), so hyperplane
    # agreement is barely above chance — use few planes, many tables
    ann = {(r.q_id, r.n_id) for r in
           lsh_ann_topk(q, emb, k=3, n_planes=3, n_tables=8, dims=64).collect()}
    recall = len(bf & ann) / len(bf)
    assert recall >= 0.5, recall  # bucketed search trades recall for cost


def test_lang_id_markers(spark):
    rows = [
        (1, "the cat and the dog sat in the garden"),
        (2, "le chat et le chien est dans la maison pour une heure"),
        (3, "der hund und die katze ist nicht ein problem"),
        (4, "xyzzy plugh"),
    ]
    df = spark.createDataFrame(rows, "id int, text string")
    got = {r.id: r.lang for r in df.select("id", lang_id(F.col("text")).alias("lang")).collect()}
    assert got[1] == "en" and got[2] == "fr" and got[3] == "de" and got[4] == "und"


def test_embed_neardup_pairs_plants_and_precision(spark):
    """Planted near-identical vectors are found (every planted pair
    co-buckets in >= 1 table at this perturbation size), random pairs
    are not, and every emitted cosine clears the threshold (exact
    verify = exact precision)."""
    import random

    from lamapi_spark.ops.similarity import embed_neardup_pairs

    rng = random.Random(7)
    base = [[rng.uniform(-1, 1) for _ in range(16)] for _ in range(30)]
    rows = [(i, [float(x) for x in v]) for i, v in enumerate(base)]
    # plant: ids 1000+i are tiny perturbations of ids i (i % 3 == 0)
    for i in range(0, 30, 3):
        v = list(base[i])
        v[0] += 0.01
        rows.append((1000 + i, [float(x) for x in v]))
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    got = {(r.id_a, r.id_b): r.cosine
           for r in embed_neardup_pairs(df, dims=16, threshold=0.99).collect()}
    want_pairs = {(i, 1000 + i) for i in range(0, 30, 3)}
    assert want_pairs <= set(got), sorted(want_pairs - set(got))
    assert all(c >= 0.99 for c in got.values())
    # nothing random sneaks in: every found pair is planted-vs-original
    assert set(got) == want_pairs


def test_dedup_clusters_transitive_closure(spark):
    # chain 0-1, 1-2 must collapse into ONE cluster (near-dup is not
    # transitive; the closure is the point), 3-4 a second, 5 a singleton.
    docs = spark.createDataFrame(
        [(i, f"doc {i}") for i in range(6)], "doc_id bigint, text string")
    pairs = spark.createDataFrame(
        [(0, 1), (1, 2), (3, 4)], "id_a bigint, id_b bigint")
    from lamapi_spark.ops.dedup import dedup_clusters
    out = {r.doc_id: (r.canonical_id, r.cluster_size)
           for r in dedup_clusters(docs, pairs, "doc_id").collect()}
    assert out == {0: (0, 3), 1: (0, 3), 2: (0, 3),
                   3: (3, 2), 4: (3, 2), 5: (5, 1)}


def test_pii_detect_and_redact(spark):
    from lamapi_spark.ops.textstats import pii_counts, redact_pii
    df = spark.createDataFrame(
        [(0, "mail me at jo.doe+x@sub.example.org or 192.168.0.1 / +44 20 7946 0958"),
         (1, "no pii here at all")],
        "doc_id bigint, text string")
    c = pii_counts(F.col("text"))
    row = (df.select("doc_id", *(c[k].alias(k) for k in c),
                     redact_pii(F.col("text")).alias("red"))
             .orderBy("doc_id").collect())
    assert (row[0].n_email, row[0].n_ipv4, row[0].n_phone) == (1, 1, 1)
    assert row[0].red == "mail me at <EMAIL> or <IPV4> / <PHONE>"
    assert (row[1].n_email, row[1].n_ipv4, row[1].n_phone) == (0, 0, 0)
    assert row[1].red == "no pii here at all"


def test_repetition_features(spark):
    from lamapi_spark.ops.textstats import repetition_features
    df = spark.createDataFrame(
        [(0, "a b a b a b"),     # 6 toks, 2 distinct; grams: 'a b' x3, 'b a' x2
         (1, "x y z"),           # no repetition: dup 1-3/3=0, top gram 1/2
         (2, "solo")],           # single token: no grams -> 0.0
        "doc_id bigint, text string")
    rep = repetition_features(F.col("text"))
    rows = (df.select("doc_id", rep["dup_token_frac"].alias("d"),
                      rep["top_2gram_frac"].alias("t"))
              .orderBy("doc_id").collect())
    assert (rows[0].d, rows[0].t) == (pytest.approx(0.667), pytest.approx(0.6))
    assert (rows[1].d, rows[1].t) == (0.0, 0.5)
    assert (rows[2].d, rows[2].t) == (0.0, 0.0)


def test_common_neighbor_pairs_and_fanout_guard(spark):
    from lamapi_spark.ops.graph import common_neighbor_pairs
    # c1 links s1,s2,s3; c2 links s1,s2; c3 (hub) links all four
    edges = spark.createDataFrame(
        [("c1", "s1"), ("c1", "s2"), ("c1", "s3"),
         ("c2", "s1"), ("c2", "s2"),
         ("c3", "s1"), ("c3", "s2"), ("c3", "s3"), ("c3", "s4"),
         ("c3", "s4")],  # duplicate edge: must not double-count
        "src string, dst string")
    full = {(r.node_a, r.node_b): (r.common, r.degree_a, r.degree_b,
                                   r.jaccard)
            for r in common_neighbor_pairs(edges).collect()}
    # s1~s2 share c1,c2,c3; degrees 3,3 -> jaccard 3/(3+3-3)
    assert full[("s1", "s2")] == (3, 3, 3, 1.0)
    assert full[("s1", "s3")][0] == 2 and full[("s3", "s4")][0] == 1
    # fanout guard: c3 (fanout 4) excluded from pair generation -> the
    # s4 pairs (hub-mediated only) vanish, s1~s2 drops to common=2,
    # but degrees still count every distinct edge (s1 stays degree 3)
    guarded = {(r.node_a, r.node_b): (r.common, r.degree_a, r.degree_b)
               for r in common_neighbor_pairs(
                   edges, max_fanout=3).collect()}
    assert guarded[("s1", "s2")] == (2, 3, 3)
    assert not any("s4" in k for k in guarded)
    # min_common truncation
    strong = common_neighbor_pairs(edges, min_common=3).collect()
    assert {(r.node_a, r.node_b) for r in strong} == {("s1", "s2")}


def test_bm25_semantics(spark):
    from lamapi_spark.ops.ranking import bm25_topk

    rows = [
        (0, "apple banana cherry date"),            # rare term holder
        (1, "banana banana banana banana"),         # high tf, common term
        (2, "banana fig"),                          # short doc, common term
        (3, "fig grape kiwi lemon mango nectarine peach plum quince fig"),
    ]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    out = {(r.query_id, r.rank): (r.doc_id, r.score)
           for r in bm25_topk(docs, "doc_id", "text",
                              [("qa", "apple banana"), ("qb", "fig"),
                               ("qc", "zzz-oov")], k=3).collect()}
    # 'apple' is rarer (df=1) than 'banana' (df=3): doc 0 must top qa
    assert out[("qa", 1)][0] == 0
    # qb 'fig': doc 2 (dl=2, tf=1) beats doc 3 (dl=10, tf=2 but long) —
    # length normalization at b=0.75 outweighs the extra occurrence
    assert out[("qb", 1)][0] == 2 and out[("qb", 2)][0] == 3
    # an out-of-vocabulary query matches nothing at all
    assert not any(qid == "qc" for qid, _ in out)
    # scores are positive and non-increasing within a query
    assert out[("qa", 1)][1] >= out[("qa", 2)][1] > 0


def test_semantic_dedup_matches_numpy_reconstruction(spark):
    """semantic_dedup's whole verdict frame (cells, drops, dup_of)
    equals an independent numpy reconstruction of the same semantics:
    md5-ranked medoids, exact-cosine argmin assignment (tie -> lowest
    cell), drop iff a smaller-id cell-mate clears the threshold."""
    import hashlib
    import random

    import numpy as np

    from lamapi_spark.ops.similarity import semantic_dedup

    rng = random.Random(11)
    base = [[rng.uniform(-1, 1) for _ in range(16)] for _ in range(40)]
    rows = [(i, [float(x) for x in v]) for i, v in enumerate(base)]
    for i in range(0, 40, 4):  # plants: near-copies at id 1000+i
        v = list(base[i])
        v[0] += 0.01
        rows.append((1000 + i, [float(x) for x in v]))
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    got = {r.id: (r.cell, r.dropped, r.dup_of)
           for r in semantic_dedup(df, "vec_id", "embedding",
                                   threshold=0.99, n_cells=4).collect()}

    ids = [i for i, _ in rows]
    V = np.array([np.array(v, dtype=np.float32).astype(np.float64)
                  for _, v in rows])
    hk = {i: int(hashlib.md5(str(i).encode()).hexdigest()[:8], 16) for i in ids}
    medoid_ids = sorted(ids, key=lambda i: (hk[i], i))[:4]
    C = V[[ids.index(m) for m in medoid_ids]]

    def cos(a, b):
        return float(np.dot(a, b) / (np.linalg.norm(a) * np.linalg.norm(b)))

    cell = {}
    for ix, i in enumerate(ids):
        scores = [(-cos(V[ix], C[c]), c + 1) for c in range(4)]
        cell[i] = min(scores)[1]
    dup_of = {}
    for ix, i in enumerate(ids):
        mates = [j for jx, j in enumerate(ids)
                 if j < i and cell[j] == cell[i]
                 and cos(V[ix], V[jx]) >= 0.99]
        if mates:
            dup_of[i] = min(mates)
    assert set(got) == set(ids)
    for i in ids:
        assert got[i][0] == cell[i], (i, got[i], cell[i])
        assert got[i][1] == (i in dup_of), (i, got[i])
        assert got[i][2] == dup_of.get(i), (i, got[i], dup_of.get(i))
    # the plants are exactly the drops
    assert {i for i in ids if got[i][1]} == {1000 + i for i in range(0, 40, 4)}


def test_negative_samples_validity_and_degrade(spark):
    from lamapi_spark.ops.graph import negative_samples

    pool = spark.createDataFrame([(i,) for i in range(1, 51)], "entity bigint")
    triples = spark.createDataFrame(
        [(s, "rel", (s * 3) % 50 + 1) for s in range(200)],
        "subj bigint, pred string, obj bigint")
    out = negative_samples(triples, pool, n_buckets=8).collect()
    # every input triple comes back exactly once
    assert len(out) == 200
    assert {(r.subj, r.pred, r.obj) for r in out} == \
        {(s, "rel", (s * 3) % 50 + 1) for s in range(200)}
    # negatives are valid: never the true object, always from the pool
    assert all(r.neg_obj is not None for r in out)  # 50-entity pool: no degenerate buckets
    assert all(r.neg_obj != r.obj for r in out)
    assert all(1 <= r.neg_obj <= 50 for r in out)
    # deterministic: a different input partitioning draws the same negatives
    out2 = negative_samples(triples.repartition(7), pool.repartition(3),
                            n_buckets=8).collect()
    assert {(r.subj, r.obj, r.neg_obj) for r in out2} == \
        {(r.subj, r.obj, r.neg_obj) for r in out}
    # diversity: the draw spreads over the pool, not a constant
    assert len({r.neg_obj for r in out}) > 20

    # single-entity pool whose only entity IS the true object: the draw
    # must degrade to null, not vanish or emit a false negative
    one = spark.createDataFrame([(5,)], "entity bigint")
    t5 = spark.createDataFrame([(1, "rel", 5)], "subj bigint, pred string, obj bigint")
    deg = negative_samples(t5, one, n_buckets=8).collect()
    assert len(deg) == 1 and deg[0].neg_obj is None


def test_pmi_edges_association_weighting(spark):
    """Exclusive co-occurrence scores high positive PMI; ubiquitous
    nodes co-occurring at chance score ~0 or below. Hand-checkable
    graph: contexts 1..6; x,y appear ONLY together (ctx 1,2); u,v
    appear in every context (so their pairing is pure chance)."""
    import math

    edges = []
    for c in (1, 2):
        edges += [(c, "x"), (c, "y")]
    for c in range(1, 7):
        edges += [(c, "u"), (c, "v")]
    df = spark.createDataFrame(edges, "src int, dst string")
    got = {(r.node_a, r.node_b): (r.common, r.degree_a, r.degree_b, r.pmi)
           for r in __import__("lamapi_spark.ops.graph", fromlist=["pmi_edges"])
           .pmi_edges(df, min_common=2).collect()}
    # N=6 contexts. x,y: c=2, deg 2/2 -> pmi = ln(2*6/4) = ln 3
    assert got[("x", "y")][3] == round(math.log(3.0), 6)
    # u,v: c=6, deg 6/6 -> pmi = ln(6*6/36) = 0
    assert got[("u", "v")][3] == 0.0
    # x,u: c=2, deg 2*6 -> ln(12/12) = 0; and x-y beats every mixed pair
    assert got[("x", "y")][3] > got[("u", "x")][3] == 0.0


def test_new_ops_plan_shapes(spark):
    """Plan audit for the round-4 additions (the discipline
    test_round3 applies to the pipeline): no unbounded cartesian
    products anywhere; every BroadcastNestedLoopJoin has a BOUNDED
    build side by construction (the n_cells centroid frame or a 1-row
    stat frame); the explicitly-broadcast count frames ride
    BroadcastHashJoin."""
    from lamapi_spark.ops.corpus import dsir_importance
    from lamapi_spark.ops.graph import negative_samples
    from lamapi_spark.ops.similarity import semantic_dedup

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    p1 = (semantic_dedup(emb)._jdf.queryExecution()
          .executedPlan().toString())
    assert "CartesianProduct" not in p1
    assert "SortMergeJoin" in p1 or "ShuffledHashJoin" in p1  # cell self-join shuffles

    li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    t = li.select(F.col("l_orderkey").alias("subj"),
                  F.lit("p").alias("pred"),
                  F.col("l_partkey").alias("obj"))
    part = spark.read.parquet("/root/testdata/sf0.001/part.parquet")
    p2 = (negative_samples(t, part, ent_col="p_partkey")
          ._jdf.queryExecution().executedPlan().toString())
    assert "CartesianProduct" not in p2
    # exactly the 1-row k frame rides the nested-loop cross join
    assert p2.count("BroadcastNestedLoopJoin") == 1

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    p3 = (dsir_importance(docs.filter(F.col("doc_id") % 11 != 0),
                          docs.filter(F.col("doc_id") % 11 == 0))
          ._jdf.queryExecution().executedPlan().toString())
    assert "CartesianProduct" not in p3
    # the two bucket-count frames are explicit broadcasts
    assert p3.count("BroadcastHashJoin") >= 2


def test_triangle_counts_hand_graph(spark):
    """K4 gives every corner C(3,2)=3 triangles; a pendant path adds
    none; duplicate/reversed/self-loop edges don't double-count."""
    edges = [("a", "b"), ("a", "c"), ("a", "d"), ("b", "c"),
             ("b", "d"), ("c", "d"),            # K4
             ("d", "e"), ("e", "f"),            # pendant path
             ("b", "a"), ("c", "c"), ("a", "b")]  # reversed dup, loop, dup
    df = spark.createDataFrame(edges, "src string, dst string")
    from lamapi_spark.ops.graph import triangle_counts
    got = {r.node: r.triangles for r in triangle_counts(df).collect()}
    assert got == {"a": 3, "b": 3, "c": 3, "d": 3}


def test_substring_dup_spans_randomized_differential(spark):
    """Seeded random corpus from a 4-token vocabulary (forces heavy
    gram collisions) vs an independent Python brute force of the
    documented semantics: corpus-duplicated k-grams -> per-doc
    positions -> maximal merged spans (gap <= k merges, > k splits)."""
    import random
    from collections import Counter

    rng = random.Random(77)
    vocab = ["a", "b", "c", "d"]
    docs = [(i, " ".join(rng.choice(vocab) for _ in range(rng.randint(3, 12))))
            for i in range(30)]
    k, min_count = 3, 2

    def grams(text):
        t = text.split()
        return [" ".join(t[i:i + k]) for i in range(len(t) - k + 1)]

    counts = Counter(g for _, text in docs for g in grams(text))
    want = set()
    for doc_id, text in docs:
        pos = [i + 1 for i, g in enumerate(grams(text))
               if counts[g] >= min_count]
        runs = []
        for p in pos:
            if runs and p - runs[-1][-1] <= k:
                runs[-1].append(p)
            else:
                runs.append([p])
        for run in runs:
            want.add((doc_id, run[0], run[-1] - run[0] + k))

    df = spark.createDataFrame(docs, "doc_id bigint, text string")
    got = {(r.doc_id, r.start, r.ntoken_span)
           for r in substring_dup_spans(df, "doc_id", "text",
                                        k=k, min_count=min_count).collect()}
    assert got == want and len(want) > 20


def test_connected_components_randomized_vs_union_find(spark):
    """The iterative hash-min CC loop (the canonicalization engine) on
    seeded random graphs vs an independent union-find: same component
    partition AND the engine's min-id representative convention."""
    import random

    from lamapi_spark.pipeline.canonicalize import connected_components

    rng = random.Random(4242)
    nodes = [f"n{i:03d}" for i in range(120)]
    edges = [(rng.choice(nodes), rng.choice(nodes)) for _ in range(90)]

    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb
    comp = {}
    for a, b in edges:
        for n in (a, b):
            comp.setdefault(find(n), []).append(n)
    want = {}
    for members in comp.values():
        rep = min(members)
        for m in set(members):
            want[m] = rep

    df = spark.createDataFrame(edges, "a string, b string")
    got = {r.entity: r.component for r in connected_components(df).collect()}
    assert got == want and len({v for v in want.values()}) > 5


def test_connected_components_raises_when_not_converged(spark):
    """Hash-min moves the minimum id one edge per round: a 12-edge path
    converges within max_iter=15 rounds to one component, a 40-edge path
    does not and raises instead of returning the unconverged labels."""
    from lamapi_spark.pipeline.canonicalize import connected_components

    def path(n_edges):
        return spark.createDataFrame(
            [(f"v{i:02d}", f"v{i + 1:02d}") for i in range(n_edges)], "a string, b string")

    got = {r.entity: r.component for r in connected_components(path(12)).collect()}
    assert got == {f"v{i:02d}": "v00" for i in range(13)}
    with pytest.raises(ValueError, match="max_iter=15"):
        connected_components(path(40))


def test_bm25_randomized_differential(spark):
    """Seeded random corpus/queries vs an independent Python BM25 with
    the engine's exact parity discipline (per-term round-half-even at
    6 decimals, token-sorted summation, rank by score desc then
    doc_id): full top-k lists must match, scores to the last rounded
    digit."""
    import math
    import random

    from lamapi_spark.ops.ranking import bm25_topk

    rng = random.Random(5150)
    vocab = ["scan", "join", "sort", "agg", "key", "row", "col", "hash"]
    docs = [(i, " ".join(rng.choice(vocab)
                         for _ in range(rng.randint(2, 20))))
            for i in range(60)]
    queries = [("q0", "scan join"), ("q1", "hash key row"),
               ("q2", "sort nothere")]
    k1, b, k = 1.2, 0.75, 5

    toks = {i: t.lower().split(" ") for i, t in docs}
    n = float(len(docs))
    avgdl = sum(len(v) for v in toks.values()) / n
    qterms = {qid: sorted(set(qs.split())) for qid, qs in queries}
    df = {t: float(sum(1 for v in toks.values() if t in v))
          for qs in qterms.values() for t in qs}
    want = {}
    for qid, terms in qterms.items():
        rows = []
        for i, v in toks.items():
            parts = []
            for t in sorted(terms):  # token-sorted summation order
                tf = float(v.count(t))
                if tf == 0 or df[t] == 0:
                    continue
                idf = math.log(1.0 + (n - df[t] + 0.5) / (df[t] + 0.5))
                s = idf * tf * (k1 + 1.0) / (
                    tf + k1 * (1.0 - b + b * len(v) / avgdl))
                parts.append(round(s, 6))
            if parts:
                acc = 0.0
                for p in parts:
                    acc += p
                rows.append((i, round(acc, 6)))
        rows.sort(key=lambda x: (-x[1], x[0]))
        for r, (i, s) in enumerate(rows[:k], 1):
            want[(qid, r)] = (i, s)

    ddf = spark.createDataFrame(docs, "doc_id bigint, text string")
    got = {(r.query_id, r.rank): (r.doc_id, r.score)
           for r in bm25_topk(ddf, "doc_id", "text", queries, k=k).collect()}
    assert got == want and len(want) >= 10


def test_jl_project_preserves_distance_structure(spark):
    """JL projection to 16 dims: pairwise squared distances of the
    projections correlate strongly with the originals' (the JL
    property), and the projection is a pure function of the value
    (repartition-stable)."""
    import numpy as np

    from lamapi_spark.ops.similarity import jl_project

    # clustered corpus: 8 far-apart centers, 6 tight members each —
    # JL must keep every intra-cluster pair closer than every
    # inter-cluster pair (distance gaps this large survive any valid
    # projection; i.i.d.-ish distances would concentrate and tell us
    # nothing)
    rng = np.random.default_rng(3)
    centers = rng.normal(0, 10.0, (8, 64))
    rows, cluster = [], {}
    for c in range(8):
        for m in range(6):
            vid = c * 10 + m
            v = centers[c] + rng.normal(0, 0.1, 64)
            rows.append((vid, [float(x) for x in v]))
            cluster[vid] = c
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    out = jl_project(df, out_dims=16, dims=64).collect()
    P = {r.id: np.array(r.proj, dtype=np.float64) for r in out}
    assert set(P) == set(cluster) and all(len(p) == 16 for p in P.values())

    ids = sorted(P)
    intra = [np.sum((P[a] - P[b]) ** 2) for a in ids for b in ids
             if a < b and cluster[a] == cluster[b]]
    inter = [np.sum((P[a] - P[b]) ** 2) for a in ids for b in ids
             if a < b and cluster[a] != cluster[b]]
    assert max(intra) < min(inter)

    out2 = {r.id: list(r.proj) for r in
            jl_project(df.repartition(7), out_dims=16, dims=64).collect()}
    assert out2 == {i: list(P[i]) for i in P}


def test_fuzzy_contamination_flags_paraphrased_eval_docs(spark):
    from lamapi_spark.ops.dedup import fuzzy_contamination

    ev = spark.createDataFrame(
        [(0, "the quick brown fox jumps over the lazy dog near the river bank"),
         (1, "completely different benchmark question about solar panel energy storage")],
        "doc_id bigint, text string")
    tr = spark.createDataFrame(
        [(10, "the quick brown fox jumps over the lazy dog near the river"),  # near-dup of 0
         (11, "unrelated training text about medieval castle architecture and stone masonry"),
         (12, "completely different benchmark question about solar panel energy storage today")],  # near-dup of 1
        "doc_id bigint, text string")
    got = {r.doc_id: (r.eval_id, r.sig_agree) for r in
           fuzzy_contamination(tr, ev, threshold=0.4).collect()}
    assert set(got) == {10, 12}
    assert got[10][0] == 0 and got[12][0] == 1
    assert all(s >= 0.4 for _, s in got.values())


def test_embed_texts_plumbing(spark):
    """The mapInPandas embedding scaffold: deterministic per-text
    vectors (identical texts -> identical embeddings, any
    partitioning/batch size), null degrade, and schema."""
    from lamapi_spark.ops.similarity import embed_texts

    rows = [(0, "alpha beta"), (1, "gamma"), (2, "alpha beta"), (3, None)]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    got = {r.doc_id: r.embedding for r in embed_texts(df, dims=16).collect()}
    assert len(got) == 4 and got[3] is None
    assert got[0] == got[2] and got[0] != got[1]
    assert len(got[0]) == 16 and all(-1.0 <= x <= 1.0 for x in got[0])
    got2 = {r.doc_id: r.embedding
            for r in embed_texts(df.repartition(3), dims=16,
                                 batch_size=2).collect()}
    assert got2 == got


def test_induce_schema_and_type_violations(spark):
    from lamapi_spark.ops.graph import induce_schema, type_violations

    tr = spark.createDataFrame(
        [("a1", "works_at", "c1"), ("a2", "works_at", "c2"),
         ("a3", "works_at", "c3"), ("x9", "works_at", "c1"),
         ("a1", "born_in", "p1"), ("a2", "born_in", "p2")],
        "subj string, pred string, obj string")
    ty = spark.createDataFrame(
        [("a1", "person"), ("a2", "person"), ("a3", "person"),
         ("x9", "robot"), ("c1", "company"), ("c2", "company"),
         ("c3", "company"), ("p1", "place"), ("p2", "place")],
        "ent string, ent_type string")
    schema = {r.pred: r for r in induce_schema(tr, ty).collect()}
    assert schema["works_at"].dom_subj_type == "person"
    assert schema["works_at"].dom_obj_type == "company"
    assert schema["works_at"].subj_share_bp == 7500  # 3 of 4
    assert schema["works_at"].obj_share_bp == 10000
    assert schema["born_in"].dom_subj_type == "person"
    v = type_violations(tr, ty).collect()
    assert [(r.subj, r.pred, r.obj, r.bad_subj, r.bad_obj)
            for r in v] == [("x9", "works_at", "c1", True, False)]


def test_induce_schema_tie_breaks_lexically(spark):
    from lamapi_spark.ops.graph import induce_schema

    tr = spark.createDataFrame(
        [("a", "p", "x"), ("b", "p", "y")],
        "subj string, pred string, obj string")
    ty = spark.createDataFrame(
        [("a", "t_bbb"), ("b", "t_aaa"), ("x", "q"), ("y", "q")],
        "ent string, ent_type string")
    row = induce_schema(tr, ty).collect()[0]
    # 1-1 tie on subject types -> lexicographically smallest wins
    assert row.dom_subj_type == "t_aaa" and row.subj_share_bp == 5000


def test_hits_fixed_point_semantics(spark):
    from lamapi_spark.ops.graph import hits_fixed_point

    # star: h -> a1..a4, plus a stray b -> a1. h is the dominant hub,
    # a1 the dominant authority.
    edges = spark.createDataFrame(
        [("h", "a1"), ("h", "a2"), ("h", "a3"), ("h", "a4"),
         ("b", "a1")],
        "src string, dst string")
    out = {r.node: (r.hub, r.auth) for r in
           hits_fixed_point(edges, n_iter=3).collect()}
    scale = 10**9
    assert out["h"][0] == scale          # max-normalized top hub
    assert out["a1"][1] == scale         # top authority (two in-edges)
    assert out["b"][0] < out["h"][0]     # stray hub scores lower
    assert out["a2"][1] < out["a1"][1]
    assert out["a1"][0] == 0             # pure sinks have no hub score
    # bit-stable under repartitioning
    out2 = {r.node: (r.hub, r.auth) for r in
            hits_fixed_point(edges.repartition(7), n_iter=3).collect()}
    assert out == out2


def test_hits_no_int64_overflow_on_hot_hub(spark):
    from pyspark.sql import functions as F

    from lamapi_spark.ops.graph import hits_fixed_point

    # 50 hubs all pointing at one authority: the raw auth sum is
    # 50 * scale, whose naive * scale renormalization would overflow
    # int64 — the decimal widening must keep it exact.
    rows = [(f"h{i}", "star") for i in range(50)]
    edges = spark.createDataFrame(rows, "src string, dst string")
    out = hits_fixed_point(edges, n_iter=2)
    star = out.filter(F.col("node") == "star").collect()[0]
    assert star.auth == 10**9
    assert all(r.hub == 10**9 for r in
               out.filter(F.col("node") != "star").collect())


def test_random_walks_deterministic_and_valid(spark):
    from lamapi_spark.ops.graph import random_walks

    edges = spark.createDataFrame(
        [("a", "b"), ("a", "c"), ("b", "a"), ("b", "c"),
         ("c", "a"), ("d", "a")],  # d is a source; nothing points to d
        "src string, dst string")
    adj = {"a": {"b", "c"}, "b": {"a", "c"}, "c": {"a"}, "d": {"a"}}
    out = random_walks(edges, length=5, n_walks=3).collect()
    assert len(out) == 4 * 3  # every node with out-edges x n_walks
    for r in out:
        path = r.walk.split(" ")
        assert path[0] == r.start
        assert len(path) == 6  # no dead ends in this graph
        for u, v in zip(path, path[1:]):
            assert v in adj[u]  # every hop is a real edge
    # partition-independent, bit-identical
    out2 = random_walks(edges.repartition(5), length=5, n_walks=3).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, out2))


def test_random_walks_dead_end_stops(spark):
    from lamapi_spark.ops.graph import random_walks

    edges = spark.createDataFrame(
        [("a", "z")], "src string, dst string")  # z is a sink
    out = random_walks(edges, length=4, n_walks=1).collect()
    assert len(out) == 1
    assert out[0].walk == "a z"  # stopped at the sink, prefix kept


# ------------------------------------------------------------- BGP match

def test_bgp_match_semantics(spark):
    from lamapi_spark.ops.graph import bgp_match

    t = spark.createDataFrame(
        [("a", "knows", "b"), ("b", "knows", "c"), ("b", "knows", "d"),
         ("a", "name", "Alice"), ("c", "name", "Carol"),
         ("x", "knows", "x")],
        "subj string, pred string, obj string")

    # constant-anchored 2-hop + attribute attach
    out = bgp_match(t, [("a", "knows", "?m"), ("?m", "knows", "?f"),
                        ("?f", "name", "?n")]).collect()
    assert [(r.m, r.f, r.n) for r in out] == [("b", "c", "Carol")]

    # repeated variable inside one pattern = self-loop filter
    loops = bgp_match(t, [("?v", "knows", "?v")]).collect()
    assert [r.v for r in loops] == ["x"]

    # disjoint patterns are a cross product (SPARQL-legal)
    cross = bgp_match(t, [("a", "knows", "?m"), ("x", "knows", "?y")])
    assert cross.count() == 1 and cross.columns == ["m", "y"]

    # column order follows first-binding order across patterns
    assert bgp_match(t, [("?s", "knows", "?o")]).columns == ["s", "o"]

    with pytest.raises(ValueError):
        bgp_match(t, [])


def test_bgp_match_pushdown(spark, tmp_path):
    """Constants reach the parquet scan as pushed filters."""
    from lamapi_spark.ops.graph import bgp_match

    p = str(tmp_path / "t.parquet")
    spark.createDataFrame(
        [("a", "knows", "b"), ("b", "knows", "c")],
        "subj string, pred string, obj string").write.parquet(p)
    t = spark.read.parquet(p)
    plan = bgp_match(
        t, [("a", "knows", "?m"), ("?m", "knows", "?f")])._jdf \
        .queryExecution().executedPlan().toString()
    assert "PushedFilters: [" in plan
    assert "EqualTo(subj,a)" in plan and "EqualTo(pred,knows)" in plan


# ----------------------------------------------------- hybrid retrieval

def test_rrf_fuse_semantics(spark):
    from lamapi_spark.ops.ranking import rrf_fuse

    r0 = spark.createDataFrame(
        [("q", 1, 1), ("q", 2, 2), ("q", 3, 3)],
        "query_id string, doc_id long, rank int")
    r1 = spark.createDataFrame(
        [("q", 3, 1), ("q", 4, 2)],
        "query_id string, doc_id long, rank int")
    out = {r.doc_id: (r.score, r.rank)
           for r in rrf_fuse([r0, r1], k=10).collect()}
    c = lambda rk: round(1.0 / (60 + rk), 6)
    # doc 3 appears in both lists and tops the fusion
    assert out[3][0] == pytest.approx(c(3) + c(1)) and out[3][1] == 1
    assert out[1][0] == pytest.approx(c(1))   # single-list docs: one term
    assert out[4][0] == pytest.approx(c(2))
    # tie c(2) vs ... doc 1 (c(1)=0.016393) > doc 2/4 (c(2)=0.016129)
    assert out[1][1] == 2 and out[2][1] == 3 and out[4][1] == 4  # doc_id tiebreak

    with pytest.raises(ValueError):
        rrf_fuse([])


def test_cosine_rank_salt_independent(spark):
    """The salted two-phase top-k equals the global top-k at any salt
    count, including n_salts=1 (the unsalted reference)."""
    from lamapi_spark.ops.ranking import cosine_rank
    from lamapi_spark.ops.similarity import hash_encode

    corpus = spark.createDataFrame(
        [(i, hash_encode(f"doc {i}", 16)) for i in range(50)],
        "doc_id long, embedding array<float>")
    qv = spark.createDataFrame(
        [("qa", hash_encode("alpha", 16)), ("qb", hash_encode("beta", 16))],
        "query_id string, embedding array<float>")
    ref = sorted(cosine_rank(qv, corpus, k=7, n_salts=1).collect())
    for n in (4, 32):
        got = sorted(cosine_rank(qv, corpus, k=7, n_salts=n).collect())
        assert got == ref
    assert len(ref) == 14


# -------------------------------------------------- personalized PageRank

def test_ppr_locality_and_mass(spark):
    """On a path graph a-b-c-d-e with seed a, restart mass stays on the
    seed's side and nodes beyond n_iter hops hold exact 0."""
    from lamapi_spark.ops.graph import ppr_fixed_point

    base = [("a", "b"), ("b", "c"), ("c", "d"), ("d", "e")]
    edges = spark.createDataFrame(
        base + [(y, x) for x, y in base], "src string, dst string")
    seeds = spark.createDataFrame([("a",)], "node string")
    r = {x.node: x.rank for x in
         ppr_fixed_point(edges, seeds, n_iter=2, scale=10**9,
                         checkpoint_every=None).collect()}
    # beyond 2 hops the rank is exact 0 (mass is a synchronous wave)
    assert r["d"] == 0 and r["e"] == 0
    # hand-computed fixed point: iter1 a=0.15, b=0.85; iter2
    # a=0.15+0.85*(0.85/2), b=0.85*0.15, c=0.85*(0.85/2) — exact ints
    assert r["a"] == 511_250_000
    assert r["b"] == 127_500_000
    assert r["c"] == 361_250_000


# ------------------------------------------------------------ P/R/F1 eval

def test_prf_eval_counts(spark):
    from lamapi_spark.ops.metrics import prf_eval

    truth = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c"), (4, "d")], "k long, entity string")
    pred = spark.createDataFrame(
        [(1, "a"), (2, "WRONG"), (5, "e")], "k long, entity string")
    r = prf_eval(pred, truth, keys=["k"]).collect()[0]
    # tp=1 (k=1); fp=2 (wrong value k=2, spurious k=5); fn=3 (k=2,3,4)
    assert (r.n_pred, r.n_truth, r.tp, r.fp, r.fn) == (3, 4, 1, 2, 3)
    assert r.precision == pytest.approx(round(1 / 3, 6))
    assert r.recall == 0.25
    p6 = round(1 / 3, 6)
    assert r.f1 == pytest.approx(round(2 * p6 * 0.25 / (p6 + 0.25), 6))

    # perfect prediction and empty prediction degrade cleanly
    perfect = prf_eval(truth, truth, keys=["k"]).collect()[0]
    assert (perfect.precision, perfect.recall, perfect.f1) == (1.0, 1.0, 1.0)
    empty = prf_eval(pred.filter("k < 0"), truth, keys=["k"]).collect()[0]
    assert (empty.precision, empty.recall, empty.f1) == (0.0, 0.0, 0.0)
