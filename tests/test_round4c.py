"""Round-4 continuation batch: link prediction (Adamic-Adar /
resource-allocation), asymmetric containment dedup, conversation
prefix sharing, and ROUGE-N — each against an independent brute-force
twin computed in plain Python.
"""

from __future__ import annotations

import math
from collections import Counter

import pytest


# ------------------------------------------------------- link prediction

def test_link_prediction_brute_force(spark):
    from lamapi_spark.ops.graph import link_prediction_scores

    edges = [
        # mediator m1 fans out to a,b,c; m2 to a,b; m3 to b only (f=1,
        # contributes nothing); m4 is a hub to a,b,c,d
        ("m1", "a"), ("m1", "b"), ("m1", "c"),
        ("m2", "a"), ("m2", "b"),
        ("m3", "b"),
        ("m4", "a"), ("m4", "b"), ("m4", "c"), ("m4", "d"),
        ("m2", "a"),  # duplicate edge: must collapse
    ]
    df = spark.createDataFrame(edges, ["src", "dst"])
    got = {(r.node_a, r.node_b): (r.common, r.aa_units, r.ra_units)
           for r in link_prediction_scores(df, min_common=1).collect()}

    ded = sorted(set(edges))
    fan = Counter(s for s, _ in ded)
    want: dict[tuple, list] = {}
    for s, f in fan.items():
        if f < 2:
            continue
        ds = sorted(d for s2, d in ded if s2 == s)
        aa_t = round(10**6 / math.log(f))
        ra_t = round(10**6 / f)
        for i in range(len(ds)):
            for j in range(i + 1, len(ds)):
                ent = want.setdefault((ds[i], ds[j]), [0, 0, 0])
                ent[0] += 1
                ent[1] += aa_t
                ent[2] += ra_t
    assert got == {k: tuple(v) for k, v in want.items()}
    # spot-check one value end to end: (a, b) mediated by m1 (f=3),
    # m2 (f=2), m4 (f=4)
    aa = round(1e6 / math.log(3)) + round(1e6 / math.log(2)) + round(1e6 / math.log(4))
    ra = round(1e6 / 3) + round(1e6 / 2) + round(1e6 / 4)
    assert got[("a", "b")] == (3, aa, ra)


def test_link_prediction_max_fanout_gates_hubs(spark):
    from lamapi_spark.ops.graph import link_prediction_scores

    edges = [("hub", x) for x in "abcdefgh"] + [("m", "a"), ("m", "b")]
    df = spark.createDataFrame(edges, ["src", "dst"])
    got = {(r.node_a, r.node_b): r.common
           for r in link_prediction_scores(df, max_fanout=4).collect()}
    # only the small mediator survives pair generation
    assert got == {("a", "b"): 1}


# ------------------------------------------------------- containment

def _shingles(text: str, k: int = 3) -> set:
    toks = text.lower().split()
    if len(toks) < k:
        return set()
    return {" ".join(toks[i:i + k]) for i in range(len(toks) - k + 1)}


def test_containment_brute_force(spark):
    from lamapi_spark.ops.dedup import containment_pairs

    docs = [
        (1, "the quick brown fox jumps over the lazy dog"),
        # doc 1 fully contained in doc 2 (prefix quote + extra tail)
        (2, "the quick brown fox jumps over the lazy dog and then "
            "ran far away into the woods"),
        (3, "completely different words about spark catalyst plans"),
        (4, "the quick brown fox"),  # 2 shingles, both inside 1 and 2
        (5, "xx yy"),                # < k tokens: no shingles, no rows
    ]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    got = {(r.id_a, r.id_b): (r.inter, r.cont_a, r.cont_b)
           for r in containment_pairs(df, "doc_id", "text",
                                      threshold=0.8).collect()}

    sh = {i: _shingles(t) for i, t in docs}
    want = {}
    for a in sh:
        for b in sh:
            if a >= b or not sh[a] or not sh[b]:
                continue
            inter = len(sh[a] & sh[b])
            if inter == 0:
                continue
            ca = round(inter / len(sh[a]), 3)
            cb = round(inter / len(sh[b]), 3)
            if max(ca, cb) >= 0.8:
                want[(a, b)] = (inter, ca, cb)
    assert got == want
    assert (1, 2) in got and got[(1, 2)][1] == 1.0   # 1 contained in 2
    assert (1, 4) in got and got[(1, 4)][2] == 1.0   # 4 contained in 1
    assert all(3 not in k and 5 not in k for k in got)


# --------------------------------------------------- prefix sharing

def test_prefix_sharing_basic(spark):
    from lamapi_spark.pipeline.prefixes import prefix_sharing

    rows = []
    # convs A and B share turns 1-2, diverge at 3; C shares only turn 1;
    # D is unique from turn 1; E == F identical for all 3 turns
    for conv, texts in {
        "A": ["hi", "how can i help", "order pizza"],
        "B": ["hi", "how can i help", "cancel order"],
        "C": ["hi", "something else", "tail c"],
        "D": ["hello there", "unique", "tail d"],
        "E": ["sys", "ask", "answer"],
        "F": ["sys", "ask", "answer"],
    }.items():
        rows += [(conv, i + 1, t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, ["conv_id", "turn_idx", "text"])
    got = {r.conv_id: (r.n_turns, r.shared_depth, r.group_size,
                       r.reuse_frac)
           for r in prefix_sharing(df).collect()}
    assert got == {
        "A": (3, 2, 2, round(2 / 3, 6)),
        "B": (3, 2, 2, round(2 / 3, 6)),
        "C": (3, 1, 3, round(1 / 3, 6)),
        "D": (3, 0, 1, 0.0),
        "E": (3, 3, 2, 1.0),
        "F": (3, 3, 2, 1.0),
    }


def test_prefix_sharing_depth_cap_and_order(spark):
    from lamapi_spark.pipeline.prefixes import prefix_sharing

    # identical 5-turn convs, max_depth=3 caps shared_depth; turn rows
    # arrive shuffled to prove the in-row sort owns the order
    rows = []
    for conv in ("X", "Y"):
        for i in (4, 1, 3, 5, 2):
            rows.append((conv, i, f"t{i}"))
    df = spark.createDataFrame(rows, ["conv_id", "turn_idx", "text"])
    got = {r.conv_id: (r.n_turns, r.shared_depth, r.reuse_frac)
           for r in prefix_sharing(df, max_depth=3).collect()}
    assert got == {"X": (5, 3, 0.6), "Y": (5, 3, 0.6)}


# --------------------------------------------------------- ROUGE-N

def _rouge(cand: str, ref: str, n: int = 2):
    def grams(s):
        toks = s.lower().split()
        return Counter(" ".join(toks[i:i + n])
                       for i in range(len(toks) - n + 1))
    cg, rg = grams(cand), grams(ref)
    ov = sum(min(c, rg[g]) for g, c in cg.items())
    cn, rn = sum(cg.values()), sum(rg.values())
    return (cn, rn, ov, round(ov / max(cn, 1), 6), round(ov / max(rn, 1), 6),
            round(2 * ov / max(cn + rn, 1), 6))


def test_rouge_n_brute_force(spark):
    from lamapi_spark.ops.metrics import rouge_n_scores

    pairs = [
        (1, "the cat sat on the mat", "the cat sat on the mat"),
        (2, "the cat the cat the cat", "the cat sat"),   # clipping case
        (3, "alpha beta gamma delta", "epsilon zeta"),    # zero overlap
        (4, "one", "one"),                                # < n tokens
        (5, "a b a b a b", "a b a b"),                    # repeated grams
    ]
    df = spark.createDataFrame(pairs, ["pair_id", "cand", "ref"])
    got = {r.id: (r.cand_n, r.ref_n, r.overlap, r.p, r.r, r.f1)
           for r in rouge_n_scores(df).collect()}
    want = {i: (c, r_, o, p, r2, f)
            for i, cand, ref in pairs
            for c, r_, o, p, r2, f in [_rouge(cand, ref)]}
    assert got == want
    # the clipping case pinned by hand: cand grams are
    # [the cat, cat the] x2 + [the cat]; ref grams [the cat, cat sat];
    # clipped overlap = min(3, 1) = 1 on 'the cat' only
    assert got[2] == (5, 2, 1, round(1 / 5, 6), 0.5, round(2 / 7, 6))
    assert got[4] == (0, 0, 0, 0.0, 0.0, 0.0)


# --------------------------------------------------------- modularity

def test_modularity_two_triangles_and_pendant(spark):
    from lamapi_spark.ops.graph import modularity_terms

    und = [(1, 2), (2, 3), (1, 3), (4, 5), (5, 6), (4, 6), (3, 4), (3, 7)]
    sym = und + [(b, a) for a, b in und]   # |E| = 16
    edges = spark.createDataFrame(sym, ["src", "dst"])
    comm = spark.createDataFrame(
        [(1, "A"), (2, "A"), (3, "A"), (4, "B"), (5, "B"), (6, "B"),
         (7, "C")], ["node", "label"])
    got = {r.community: (r.n_nodes, r.in_edges, r.degree_sum, r.q_units)
           for r in modularity_terms(edges, comm).collect()}
    # hand-computed: deg = {1:2, 2:2, 3:4, 4:3, 5:2, 6:2, 7:1}
    assert got["A"] == (3, 6, 8, round(1e9 * (6 / 16 - (8 / 16) ** 2)))
    assert got["B"] == (3, 6, 7, round(1e9 * (6 / 16 - (7 / 16) ** 2)))
    assert got["C"] == (1, 0, 1, round(1e9 * (0 - (1 / 16) ** 2)))
    # global Q of this classic partition is strongly positive
    assert sum(v[3] for v in got.values()) > 250_000_000


def test_modularity_trivial_partition_is_zeroish(spark):
    from lamapi_spark.ops.graph import modularity_terms

    und = [(1, 2), (2, 3), (1, 3)]
    sym = und + [(b, a) for a, b in und]
    edges = spark.createDataFrame(sym, ["src", "dst"])
    one = spark.createDataFrame([(1, "X"), (2, "X"), (3, "X")],
                                ["node", "label"])
    [r] = modularity_terms(edges, one).collect()
    # everything in one community: Q = 1 - 1 = 0 exactly
    assert (r.in_edges, r.degree_sum, r.q_units) == (6, 6, 0)


# ------------------------------------------------------- refusal gate

def test_refusal_gate(spark):
    from lamapi_spark.pipeline.exports import refusal_gate

    rows = [
        ("c1", "user", "please do the thing"),
        ("c1", "assistant", "Sure, here is the answer"),
        ("c2", "user", "please do the thing"),
        ("c2", "assistant", "I cannot help with that"),
        ("c2", "assistant", "ok fine here you go"),
        ("c3", "user", "hmm"),
        ("c3", "assistant", "I can’t do that as an AI"),  # curly quote
        ("c4", "user", "no assistant ever replies"),
        ("c5", "tool", "I cannot parse"),  # non-assistant refusal text
        ("c5", "assistant", "all good"),
    ]
    df = spark.createDataFrame(rows, ["conv_id", "role", "text"])
    got = {r.conv_id: (r.n_turns, r.n_assistant, r.n_refusals,
                       r.refusal_rate, r.keep)
           for r in refusal_gate(df).collect()}
    assert got == {
        "c1": (2, 1, 0, 0.0, True),
        "c2": (3, 2, 1, 0.5, False),
        "c3": (2, 1, 1, 1.0, False),
        "c4": (1, 0, 0, 0.0, True),
        "c5": (2, 1, 0, 0.0, True),
    }


# ----------------------------------------------- delta index maintenance

def test_delta_probe_equals_full_rebuild(spark):
    import pyspark.sql.functions as F
    from lamapi_spark.functions.strings import clean_str
    from lamapi_spark.operators.indexes import LookupIndex
    from lamapi_spark.operators.lookup import (
        _prepare_mentions, token_match, token_match_with_delta,
    )

    def mk(rows):
        df = spark.createDataFrame(rows, ["entity", "name", "popularity"])
        return df.select(
            "entity", "name", clean_str("name").alias("name_norm"),
            F.col("popularity").cast("double").alias("popularity"),
            F.lit(False).alias("is_alias"))

    # every token's FULL-dictionary posting list stays <= K=3 (apple:
    # e1,e2,e5; sky: e3,e6) so pruning is a no-op on both plans and the
    # delta probe must equal a full rebuild exactly (the superset-only
    # case is pinned by the next test)
    main_rows = [("e1", "red apple pie", 9.0), ("e2", "green apple", 8.0),
                 ("e3", "blue sky", 7.0), ("e4", "pear tart", 6.0)]
    delta_rows = [("e5", "apple crumble", 10.0), ("e6", "night sky", 5.0)]
    main_d, delta_d = mk(main_rows), mk(delta_rows)

    prefix = "t_delta_eq"
    LookupIndex.drop_delta(spark, prefix)
    idx = LookupIndex.write(main_d, prefix=prefix, n_buckets=2,
                            fuzzy=False, limit_per_token=3)
    LookupIndex.write_delta(delta_d, prefix)
    delta = LookupIndex.load_delta(spark, prefix)
    assert delta is not None and delta.count() == 2

    mentions = spark.createDataFrame(
        [("apple pie",), ("sky",), ("apple",), ("nothing here",)],
        ["mention"])
    prepared = _prepare_mentions(mentions)
    got = sorted(
        (r.mention_norm, r.entity, r.matched_tokens, r.popularity)
        for r in token_match_with_delta(prepared, idx, delta).collect())

    # posting lists stay under K=3 per part here, so the delta probe
    # must equal a FULL rebuild exactly
    full_idx = LookupIndex.build(main_d.unionByName(delta_d),
                                 fuzzy=False, limit_per_token=3)
    want = sorted(
        (r.mention_norm, r.entity, r.matched_tokens, r.popularity)
        for r in token_match(prepared, None,
                             fuzzy=False, index=full_idx,
                             slim=True).collect())
    assert got == want and len(got) > 0
    ents = {e for _, e, _, _ in got}
    assert "e5" in ents and "e6" in ents   # delta rows visible


def test_delta_probe_superset_under_hot_token_pruning(spark):
    import pyspark.sql.functions as F
    from lamapi_spark.functions.strings import clean_str
    from lamapi_spark.operators.indexes import LookupIndex
    from lamapi_spark.operators.lookup import (
        _prepare_mentions, token_match, token_match_with_delta,
    )

    def mk(rows):
        df = spark.createDataFrame(rows, ["entity", "name", "popularity"])
        return df.select(
            "entity", "name", clean_str("name").alias("name_norm"),
            F.col("popularity").cast("double").alias("popularity"),
            F.lit(False).alias("is_alias"))

    # token 'widget' occurs in 6 names (4 main + 2 delta) with distinct
    # popularities: per-part top-3 keeps 5 of them, a full rebuild's
    # top-3 keeps 3 — the delta probe must retain a SUPERSET
    main_d = mk([(f"m{i}", f"widget kind{i}", float(10 - i)) for i in range(4)])
    delta_d = mk([("d0", "widget extra0", 3.5), ("d1", "widget extra1", 0.5)])

    prefix = "t_delta_sup"
    LookupIndex.drop_delta(spark, prefix)
    idx = LookupIndex.write(main_d, prefix=prefix, n_buckets=2,
                            fuzzy=False, limit_per_token=3)
    prepared = _prepare_mentions(
        spark.createDataFrame([("widget",)], ["mention"]))
    got = {r.entity for r in
           token_match_with_delta(prepared, idx, delta_d).collect()}
    full_idx = LookupIndex.build(main_d.unionByName(delta_d),
                                 fuzzy=False, limit_per_token=3)
    full = {r.entity for r in
            token_match(prepared, None, fuzzy=False,
                        index=full_idx, slim=True).collect()}
    assert full <= got
    assert got == {"m0", "m1", "m2", "d0", "d1"}   # per-part top-3 union


def test_delta_dedup_against_main(spark):
    import pyspark.sql.functions as F
    from lamapi_spark.functions.strings import clean_str
    from lamapi_spark.operators.indexes import LookupIndex
    from lamapi_spark.operators.lookup import (
        _prepare_mentions, token_match_with_delta,
    )

    def mk(rows):
        df = spark.createDataFrame(rows, ["entity", "name", "popularity"])
        return df.select(
            "entity", "name", clean_str("name").alias("name_norm"),
            F.col("popularity").cast("double").alias("popularity"),
            F.lit(False).alias("is_alias"))

    main_d = mk([("e1", "solar panel", 5.0)])
    # delta violates disjointness: e1 re-appears, e2 is genuinely new
    delta_d = mk([("e1", "solar panel", 5.0), ("e2", "solar farm", 4.0)])
    prefix = "t_delta_dup"
    LookupIndex.drop_delta(spark, prefix)
    idx = LookupIndex.write(main_d, prefix=prefix, n_buckets=2,
                            fuzzy=False, limit_per_token=3)
    prepared = _prepare_mentions(
        spark.createDataFrame([("solar",)], ["mention"]))
    raw = token_match_with_delta(prepared, idx, delta_d).collect()
    assert len([r for r in raw if r.entity == "e1"]) == 2   # duplicated
    ded = token_match_with_delta(prepared, idx, delta_d,
                                 dedup_against_main=True).collect()
    assert len([r for r in ded if r.entity == "e1"]) == 1
    assert len([r for r in ded if r.entity == "e2"]) == 1


# ------------------------------------------- streaming refusal twin

def test_stream_refusal_gate_matches_batch(spark, tmp_path):
    import shutil

    import pyspark.sql.functions as F
    from lamapi_spark.pipeline.exports import refusal_gate
    from lamapi_spark.streaming.exports import stream_refusal_gate
    from lamapi_spark.streaming.sessions import run_available_now

    rows = [
        ("A", 1, "user", None, "please help"),
        ("A", 2, "assistant", None, "i cannot help with that"),
        ("A", 3, "assistant", None, "fine, here"),
        ("B", 1, "user", None, "hi"),
        ("B", 2, "assistant", None, "sure thing"),
        ("C", 1, "tool", "search", "i cannot parse"),  # non-assistant
    ]
    tr = (spark.createDataFrame(
              rows, "conv_id string, turn_idx int, role string, "
                    "tool string, text string")
          .withColumn("ts", F.timestamp_seconds(
              F.lit(1700000000) + F.col("turn_idx") * 60)))
    d = str(tmp_path / "refusal_feed")
    tr.write.parquet(d)
    got = run_available_now(
        stream_refusal_gate(spark, d, gap="2 hours", watermark="4 hours"),
        "t_refusal_gate", mode="complete")
    stream_rows = sorted(map(tuple, got.collect()))
    batch_rows = sorted(map(tuple, refusal_gate(tr.drop("ts")).collect()))
    assert stream_rows == batch_rows
    assert ("A", 3, 2, 1, 0.5, False) in stream_rows
    assert ("B", 2, 1, 0, 0.0, True) in stream_rows
    assert ("C", 1, 0, 0, 0.0, True) in stream_rows
    shutil.rmtree(d, ignore_errors=True)


# ------------------------------------------------------------ MMR

def test_mmr_rerank_demotes_duplicate(spark):
    import math

    from lamapi_spark.ops.ranking import mmr_rerank

    # q overlaps d1/d2/d3 equally by cosine (three-way relevance tie,
    # id-asc tiebreak); d2 is an exact duplicate DIRECTION of d1, d3 is
    # orthogonal to d1 — MMR must pick d1, then d3, then d2, while pure
    # relevance order is d1, d2, d3. All components dyadic so float32
    # storage and the double fold are exact and the Python twin below
    # reproduces every score bit for bit.
    q = [1.0, 1.0, 0.0, 0.0]
    vecs = {1: [1.0, 0.0, 0.0, 0.0],
            2: [2.0, 0.0, 0.0, 0.0],
            3: [0.0, 1.0, 0.0, 0.0]}

    def cos(a, b):
        dot = 0.0
        for x, y in zip(a, b):
            dot = dot + x * y
        na = 0.0
        nb = 0.0
        for x in a:
            na = na + x * x
        for y in b:
            nb = nb + y * y
        return dot / (math.sqrt(na) * math.sqrt(nb))

    ranked = spark.createDataFrame(
        [("q", i, cos(q, v)) for i, v in vecs.items()],
        "query_id string, doc_id long, cosine double")
    corpus = spark.createDataFrame(
        [(i, v) for i, v in vecs.items()],
        "doc_id long, embedding array<float>")
    got = sorted(((r.query_id, r.doc_id, r.mmr, r.pick_rank)
                  for r in mmr_rerank(ranked, corpus, k=3).collect()),
                 key=lambda t: t[3])

    mmr1 = 0.7 * cos(q, vecs[1])
    mmr2 = 0.7 * cos(q, vecs[3]) - 0.3 * cos(vecs[3], vecs[1])
    mmr3 = 0.7 * cos(q, vecs[2]) - 0.3 * max(cos(vecs[2], vecs[1]),
                                             cos(vecs[2], vecs[3]))
    assert got == [("q", 1, mmr1, 1), ("q", 3, mmr2, 2), ("q", 2, mmr3, 3)]
    # and the flip really happened: relevance rank 2 is d2, MMR pick 2 is d3
    assert got[1][1] == 3


def test_mmr_rerank_short_list_and_isolation(spark):
    from lamapi_spark.ops.ranking import mmr_rerank

    # query A has ONE candidate (fewer than k); query B has two; groups
    # must not leak picks or similarities across query_ids
    ranked = spark.createDataFrame(
        [("A", 10, 0.9), ("B", 10, 0.8), ("B", 20, 0.7)],
        "query_id string, doc_id long, cosine double")
    corpus = spark.createDataFrame(
        [(10, [1.0, 0.0]), (20, [0.0, 1.0])],
        "doc_id long, embedding array<float>")
    got = {(r.query_id, r.pick_rank): r.doc_id
           for r in mmr_rerank(ranked, corpus, k=3).collect()}
    assert got == {("A", 1): 10, ("B", 1): 10, ("B", 2): 20}


# ---------------------------------------------------- plan assertions

def test_plan_shapes_of_new_operators(spark):
    """Plan audit for this batch (the test_ops discipline): no
    cartesian products; the modularity |E| stat frame is the ONLY
    nested-loop build side (1 row); prefix sharing plans with hash
    aggregations + one join-back, no window over the census."""
    import pyspark.sql.functions as F
    from lamapi_spark.ops.graph import link_prediction_scores, modularity_terms
    from lamapi_spark.ops.metrics import rouge_n_scores
    from lamapi_spark.pipeline.prefixes import prefix_sharing

    li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    edges = li.select(F.col("l_orderkey").cast("string").alias("src"),
                      F.col("l_suppkey").cast("string").alias("dst"))

    p1 = (link_prediction_scores(edges, min_common=2)
          ._jdf.queryExecution().executedPlan().toString())
    assert "CartesianProduct" not in p1
    assert "BroadcastNestedLoopJoin" not in p1

    comm = edges.select(F.col("src").alias("node"),
                        F.col("dst").alias("label"))
    p2 = (modularity_terms(edges, comm)
          ._jdf.queryExecution().executedPlan().toString())
    assert "CartesianProduct" not in p2
    # exactly the 1-row |E| frame rides the nested-loop cross join
    assert p2.count("BroadcastNestedLoopJoin") == 1

    tr = li.select(F.col("l_orderkey").cast("string").alias("conv_id"),
                   F.col("l_linenumber").alias("turn_idx"),
                   F.col("l_returnflag").alias("text"))
    p3 = (prefix_sharing(tr)._jdf.queryExecution()
          .executedPlan().toString())
    assert "CartesianProduct" not in p3
    assert "BroadcastNestedLoopJoin" not in p3
    assert "Window" not in p3   # census + join-back, never a window

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    pairs = docs.select(F.col("doc_id").alias("pair_id"),
                        F.col("text").alias("cand"),
                        F.col("text").alias("ref"))
    p4 = (rouge_n_scores(pairs)._jdf.queryExecution()
          .executedPlan().toString())
    assert "CartesianProduct" not in p4
    assert "Window" not in p4   # per-(pair, gram) aggs, no window


# -------------------------------------------------------- Kneser-Ney

def test_kn_lm_score_hand_computed(spark):
    from lamapi_spark.ops.corpus import kn_lm_score

    # bigram types: 'a b' (c=2), 'b a' (1), 'b c' (1); nbt=3
    # cctx: a=2, b=2; N1+(a .)=1, N1+(b .)=2; N1+(. b)=1, N1+(. a)=1,
    # N1+(. c)=1
    docs = spark.createDataFrame(
        [(1, "a b a b"), (2, "b c"), (3, "solo")],
        ["doc_id", "text"])
    got = {r.doc_id: (r.n_bigrams, r.avg_neg_logp)
           for r in kn_lm_score(docs).collect()}
    # P(b|a) = (2-.75 + .75*1*(1/3)) / 2 = 0.75
    # P(a|b) = P(c|b) = (1-.75 + .75*2*(1/3)) / 2 = 0.375
    import math
    nlp_ba = round(-math.log(0.75), 6)     # 0.287682
    nlp_ab = round(-math.log(0.375), 6)    # 0.980829
    assert got[1] == (3, round((2 * nlp_ba + nlp_ab) / 3, 4))
    assert got[2] == (1, round(nlp_ab, 4))
    assert 3 not in got   # < 2 tokens: unscorable, omitted
    # KN sanity: the twice-seen collocation is MORE probable than the
    # once-seen ones
    assert got[1][1] < got[2][1]
