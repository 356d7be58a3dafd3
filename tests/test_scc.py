"""Strongly connected components (ops/graph.strongly_connected_components):
planted directed structures + randomized differential vs an independent
Python Kosaraju."""

from __future__ import annotations

import random

import pytest

from lamapi_spark.ops.graph import strongly_connected_components


def kosaraju(edges):
    """Independent oracle: iterative Kosaraju, scc id = min member."""
    nodes = sorted({v for e in edges for v in e})
    adj, radj = {v: [] for v in nodes}, {v: [] for v in nodes}
    for s, d in edges:
        adj[s].append(d)
        radj[d].append(s)
    seen, order = set(), []
    for v in nodes:
        if v in seen:
            continue
        stack = [(v, iter(adj[v]))]
        seen.add(v)
        while stack:
            u, it = stack[-1]
            for w in it:
                if w not in seen:
                    seen.add(w)
                    stack.append((w, iter(adj[w])))
                    break
            else:
                order.append(u)
                stack.pop()
    comp = {}
    for v in reversed(order):
        if v in comp:
            continue
        members, stack = [], [v]
        while stack:
            u = stack.pop()
            if u in comp:
                continue
            comp[u] = v
            members.append(u)
            stack.extend(w for w in radj[u] if w not in comp)
        m = min(members)
        for u in members:
            comp[u] = m
    return comp


def run_op(spark, edges):
    df = spark.createDataFrame(edges, "src string, dst string")
    return {r.node: r.scc for r in strongly_connected_components(df).collect()}


def test_planted_structures(spark):
    edges = [
        # 3-cycle a->b->c->a
        ("a", "b"), ("b", "c"), ("c", "a"),
        # 2-cycle d<->e hanging off the cycle (a->d)
        ("a", "d"), ("d", "e"), ("e", "d"),
        # pure DAG tail: e->f->g
        ("e", "f"), ("f", "g"),
        # two nodes that share fwd/bwd reachers but are NOT mutual:
        # h->x, i->x, y->h, y->i  (the (minFwd,minBwd)-pair fallacy)
        ("h", "x"), ("i", "x"), ("y", "h"), ("y", "i"),
    ]
    got = run_op(spark, edges)
    assert got == kosaraju(edges)
    assert got["a"] == got["b"] == got["c"] == "a"
    assert got["d"] == got["e"] == "d"
    assert got["f"] == "f" and got["g"] == "g"
    assert got["h"] != got["i"]  # not mutually reachable


def test_randomized_differential(spark):
    rng = random.Random(7)
    n = 40
    nodes = [f"n{i:02d}" for i in range(n)]
    edges = sorted({(rng.choice(nodes), rng.choice(nodes)) for _ in range(90)})
    edges = [e for e in edges if e[0] != e[1]]
    got = run_op(spark, edges)
    assert got == kosaraju(edges)
    sizes = {}
    for scc in got.values():
        sizes[scc] = sizes.get(scc, 0) + 1
    assert max(sizes.values()) > 1  # the sweep must exercise a real cycle


def test_self_loop_and_singleton(spark):
    edges = [("a", "a"), ("a", "b")]
    got = run_op(spark, edges)
    assert got == {"a": "a", "b": "b"}


def test_round_caps_raise(spark):
    """A loop still changing at its cap raises instead of returning a
    partial or wrong answer. A 4-node path peels one node per outer
    round and its forward colouring needs 4 rounds; one round on a
    3-cycle leaves c coloured b, which would peel a alone."""
    path = spark.createDataFrame([("a", "b"), ("b", "c"), ("c", "d")],
                                 "src string, dst string")
    with pytest.raises(ValueError, match="max_outer=3"):
        strongly_connected_components(path, max_outer=3)
    with pytest.raises(ValueError, match="max_inner=2"):
        strongly_connected_components(path, max_inner=2)
    cycle = spark.createDataFrame([("a", "b"), ("b", "c"), ("c", "a")],
                                  "src string, dst string")
    with pytest.raises(ValueError, match="max_inner=1"):
        strongly_connected_components(cycle, max_inner=1)
    got = strongly_connected_components(path, max_outer=4, max_inner=4).collect()
    assert {r.node: r.scc for r in got} == {v: v for v in "abcd"}


# ---------------------------------------------------- type inference

def test_infer_types_votes_and_ties(spark):
    from lamapi_spark.ops.graph import infer_types

    # p1's subjects are 2/3 type A, 1/3 type B; p2's subjects are all B.
    triples = spark.createDataFrame(
        [("a1", "p1", "x"), ("a2", "p1", "x"), ("b1", "p1", "y"),
         ("b2", "p2", "y"), ("b3", "p2", "y"),
         # the untyped entity u: one p1 occurrence, one p2 occurrence
         ("u", "p1", "x"), ("u", "p2", "y")],
        "subj string, pred string, obj string")
    ty = spark.createDataFrame(
        [("a1", "A"), ("a2", "A"), ("b1", "B"), ("b2", "B"), ("b3", "B"),
         ("x", "X"), ("y", "X")],
        "ent string, ent_type string")
    out = {r.ent: (r.inferred_type, r.votes_bp, r.n_evidence)
           for r in infer_types(triples, ty).collect()}
    # u itself is untyped, so the p1 subject distribution is learned
    # from a1,a2,b1 only: A=6666, B=3333; p2/s from b2,b3: B=10000.
    # Totals: A=6666, B=13333 -> B wins.
    assert out["u"] == ("B", 13333, 2)


def test_infer_types_tiebreak_lexicographic(spark):
    from lamapi_spark.ops.graph import infer_types

    triples = spark.createDataFrame(
        [("a", "p", "x"), ("b", "p", "x"), ("u", "p", "x")],
        "subj string, pred string, obj string")
    ty = spark.createDataFrame(
        [("a", "T2"), ("b", "T1"), ("x", "X")], "ent string, ent_type string")
    out = {r.ent: r.inferred_type for r in infer_types(triples, ty).collect()}
    # T1 and T2 each get 5000 bp -> lexicographically smaller T1 wins
    assert out["u"] == "T1"


# ------------------------------------------------------ bounded SSSP

def test_sssp_bounded_vs_brute_force(spark):
    import random

    from lamapi_spark.ops.graph import sssp_bounded

    rng = random.Random(11)
    nodes = [f"v{i}" for i in range(12)]
    edges = sorted({(rng.choice(nodes), rng.choice(nodes),
                     rng.randint(1, 9)) for _ in range(30)})
    edges = [e for e in edges if e[0] != e[1]]
    seeds = ["v0", "v5"]
    K = 3

    # brute force: enumerate every path of <= K edges from each seed
    adj = {}
    for s, d, w in edges:
        adj.setdefault(s, []).append((d, w))
    best = {s: 0 for s in seeds}
    frontier = {s: 0 for s in seeds}
    for _ in range(K):
        nxt = {}
        for u, du in frontier.items():
            for v, w in adj.get(u, []):
                nd = du + w
                if nd < nxt.get(v, 1 << 60):
                    nxt[v] = nd
        for v, dv in nxt.items():
            if dv < best.get(v, 1 << 60):
                best[v] = dv
        frontier = nxt
    e = spark.createDataFrame(edges, "src string, dst string, w bigint")
    sd = spark.createDataFrame([(s,) for s in seeds], "node string")
    got = {r.node: r.dist for r in sssp_bounded(e, sd, k=K).collect()}
    assert got == best


def test_sssp_relaxation_prefers_cheap_long_path(spark):
    from lamapi_spark.ops.graph import sssp_bounded

    # direct edge costs 10; two-hop detour costs 2 -> detour wins at k>=2
    e = spark.createDataFrame(
        [("s", "t", 10), ("s", "m", 1), ("m", "t", 1)],
        "src string, dst string, w bigint")
    sd = spark.createDataFrame([("s",)], "node string")
    one = {r.node: r.dist for r in sssp_bounded(e, sd, k=1).collect()}
    two = {r.node: r.dist for r in sssp_bounded(e, sd, k=2).collect()}
    assert one["t"] == 10 and two["t"] == 2


# ----------------------------------------------------------- k-core

def test_kcore_peels_trees_keeps_cycles(spark):
    from lamapi_spark.ops.graph import k_core

    edges = [
        # 4-cycle: every node degree 2 -> survives k=2
        ("a", "b"), ("b", "c"), ("c", "d"), ("d", "a"),
        # tree tail hanging off the cycle -> peeled layer by layer
        ("a", "t1"), ("t1", "t2"), ("t2", "t3"),
        # isolated edge -> both endpoints peeled immediately
        ("x", "y"),
    ]
    df = spark.createDataFrame(edges, "a string, b string")
    got = {r.node: r.degree for r in k_core(df, k=2, rounds=10).collect()}
    assert got == {"a": 2, "b": 2, "c": 2, "d": 2}


def test_kcore_fixed_rounds_contract_and_k3(spark):
    from lamapi_spark.ops.graph import k_core

    # K4 minus one edge: two nodes of degree 3, two of degree 2 ->
    # the 3-core is empty (peeling the degree-2 nodes drops the rest);
    # the 2-core is everything
    edges = [("a", "b"), ("a", "c"), ("a", "d"), ("b", "c"), ("b", "d")]
    df = spark.createDataFrame(edges, "a string, b string")
    assert {r.node for r in k_core(df, k=2, rounds=10).collect()} == {
        "a", "b", "c", "d"}
    assert k_core(df, k=3, rounds=10).count() == 0


def test_kcore_contract_rounds_reach_fixed_point(spark, sf_dir="/root/testdata/sf0.001"):
    # the contract query's promise: 12 rounds == the true fixed point
    from lamapi_spark.queries import queries

    out = queries()["graph_kcore"](spark, sf_dir)
    rows = {(r.node, r.degree) for r in out.collect()}
    # one extra round changes nothing
    import lamapi_spark.queries_graph as qg
    from lamapi_spark.ops.graph import k_core
    from lamapi_spark.queries import load
    from pyspark.sql import functions as F
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    l = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    base = (o.join(l, o.o_orderkey == l.l_orderkey)
            .groupBy(F.concat(F.lit("c"), F.col("o_custkey")).alias("a"),
                     F.concat(F.lit("s"), F.col("l_suppkey")).alias("b"))
            .agg(F.count("*").alias("_w")).filter(F.col("_w") >= 2)
            .select("a", "b"))
    more = {(r.node, r.degree)
            for r in k_core(base, k=qg._KCORE_K,
                            rounds=qg._KCORE_ROUNDS + 3).collect()}
    assert rows == more
