"""Reusable graph-shape operators over edge DataFrames.

These complement the KG-construction pipeline's own graph machinery
(pipeline/canonicalize.connected_components) with the read-side
analytics a KG consumer runs: common-neighbor similarity is the
entity-resolution primitive ("two suppliers sharing many customers are
candidates for the same real-world entity"), the same computation shape
as the reference's BoW candidate scoring but over graph adjacency
instead of token sets (reference analogue: none — the reference serves
point lookups; builder's-brief analytics surface).

Scale notes: the common-neighbor self-join fans out quadratically per
hub node (a src with fanout f contributes f*(f-1)/2 pair rows), so
``max_fanout`` drops super-hub sources before the join — the identical
frequent-item trade ops/dedup.py makes with ``max_df`` for hot shingles
and hamming_pairs makes with ``max_bucket``. The join itself shuffles
once on the src key; the pair aggregation reuses the standard
map-side-combine groupBy.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from lamapi_spark.functions.hashing import h48 as _h48

# PageRank damping in percent: the fixed-point operators' default, and
# the value pipeline/salience.conv_textrank replays in-row
DAMPING_PCT = 85


def pagerank_fixed_point(
    edges: DataFrame, n_iter: int = 3, scale: int = 10**9,
    damping_pct: int = DAMPING_PCT, checkpoint_every: int | None = 1,
) -> DataFrame:
    """Fixed-iteration PageRank over (src, dst) edges in BIGINT FIXED
    POINT (units of 1/scale; sum-to-N convention): per-edge
    contributions are integer divisions, the combine an exact BIGINT
    sum — order-independent, so the result is bit-reproducible across
    partitionings and engines (float PageRank depends on the combine
    order; DECIMAL division scale rules differ between engines). The
    truncation error is < 1/scale per edge per iteration. Overflow
    bound: n_nodes * scale * damping_pct < 2^63, i.e. ~1e8 nodes at
    scale=1e9 — a larger graph drops scale or widens to DECIMAL(38,0).

    -> (node, rank) with rank in fixed-point units. Every node in the
    edge set gets a row (isolated nodes cannot exist in an edge-derived
    node set); dangling mass needs no term when edges are symmetric
    (out-degree >= 1 everywhere) — an asymmetric caller must add it.

    ``checkpoint_every`` localCheckpoints the rank frame every K
    iterations (the same lineage-truncation discipline as
    pipeline/canonicalize.py): each iteration is one join + one
    aggregation, and without truncation the plan deepens linearly with
    n_iter — at cluster scale that re-executes the whole prefix on any
    retry and bloats the optimizer's input. None disables (bounded
    n_iter on small graphs, e.g. inside a short-lived contract query).
    """
    teleport = (100 - damping_pct) * scale // 100
    if checkpoint_every is not None:
        edges = edges.localCheckpoint(eager=True)
    outdeg = (edges.groupBy(F.col("src").alias("node"))
              .agg(F.count("*").alias("degree")))
    if checkpoint_every is not None:
        outdeg = outdeg.localCheckpoint(eager=True)
    # degree is loop-invariant: attach it to the edge set ONCE instead
    # of re-joining outdeg inside every iteration (round-6; one join per
    # iteration removed, values unchanged — rank div degree reads the
    # same integers)
    edges_deg = edges.join(outdeg.withColumnRenamed("node", "src"), "src")
    if checkpoint_every is not None:
        edges_deg = edges_deg.localCheckpoint(eager=True)
    nodes = outdeg.select("node")
    rank = nodes.select("node", F.lit(scale).cast("bigint").alias("rank"))
    for i in range(n_iter):
        contrib = (
            edges_deg.join(rank.withColumnRenamed("node", "src"), "src")
            .groupBy(F.col("dst").alias("node"))
            .agg(F.sum(F.expr("rank div degree")).alias("_s"))
        )
        rank = nodes.join(contrib, "node", "left").select(
            "node",
            (F.lit(teleport)
             + F.expr(f"{damping_pct} * coalesce(_s, 0L) div 100")
             ).alias("rank"),
        )
        if checkpoint_every is not None and (i + 1) % checkpoint_every == 0:
            rank = rank.localCheckpoint(eager=True)
    return rank


def common_neighbor_pairs(
    edges: DataFrame, src: str = "src", dst: str = "dst",
    min_common: int = 1, max_fanout: int | None = None,
) -> DataFrame:
    """Bipartite-style common-neighbor pairing: for distinct edges
    (src, dst), emit every dst pair sharing at least ``min_common``
    src neighbors, with degrees and the neighbor-set Jaccard.

    -> (node_a, node_b, common, degree_a, degree_b, jaccard), with
    node_a < node_b (each unordered pair once, deterministic).

    ``max_fanout`` (None = unlimited) excludes src nodes whose fanout
    exceeds it from PAIR GENERATION only — degrees still count every
    edge, so the guard trades recall on pairs mediated exclusively by
    super-hubs (which carry the least similarity signal per the usual
    tf-idf argument) for a bounded shuffle.
    """
    # cache the narrow distinct edge frame: Catalyst does not dedupe
    # common subtrees, and this one feeds FOUR consumers (both pair-join
    # sides, the degree agg, the fanout gate) — without it the upstream
    # edge derivation executes once per consumer (plan-audited)
    e = (edges.select(F.col(src).alias("_s"), F.col(dst).alias("_d"))
         .distinct())
    from lamapi_spark.pipeline.cache_registry import scoped_cache
    e = scoped_cache(e)
    deg = e.groupBy(F.col("_d").alias("_n")).agg(F.count("*").alias("degree"))
    pe = e
    if max_fanout is not None:
        fan = (e.groupBy("_s").agg(F.count("*").alias("_f"))
               .filter(F.col("_f") <= max_fanout).select("_s"))
        pe = e.join(fan, "_s")
    x, y = pe.alias("x"), pe.alias("y")
    pairs = (
        x.join(y, (F.col("x._s") == F.col("y._s"))
               & (F.col("x._d") < F.col("y._d")))
        .groupBy(F.col("x._d").alias("node_a"), F.col("y._d").alias("node_b"))
        .agg(F.count("*").alias("common"))
        .filter(F.col("common") >= min_common)
    )
    return (
        pairs
        .join(deg.select(F.col("_n").alias("node_a"),
                         F.col("degree").alias("degree_a")), "node_a")
        .join(deg.select(F.col("_n").alias("node_b"),
                         F.col("degree").alias("degree_b")), "node_b")
        .select(
            "node_a", "node_b", "common", "degree_a", "degree_b",
            (F.col("common")
             / (F.col("degree_a") + F.col("degree_b") - F.col("common"))
             ).alias("jaccard"),
        )
    )


def negative_samples(
    triples: DataFrame, pool: DataFrame,
    subj: str = "subj", pred: str = "pred", obj: str = "obj",
    ent_col: str = "entity", n_buckets: int = 16, salt: str = "neg",
) -> DataFrame:
    """TransE-style negative sampling for KG-embedding training: every
    (subj, pred, obj) triple gets a deterministically drawn corrupted
    tail ``neg_obj`` from the entity ``pool`` (Bordes et al. 2013 —
    the corrupted-triple side of the margin loss every translational
    KG embedding trains on). The draw is a pure function of the triple
    and ``salt`` — partition-independent, reproducible across engines
    and reruns, re-derivable for any single triple (the same
    auditability argument as corpus.sample_hash).

    Scale shape (a driver-side `random.choice` over a collected entity
    list, or a global row_number over the pool, would both die at 10^8
    entities): the pool is md5-bucketed into ``n_buckets`` groups and
    ranked WITHIN each bucket (the only window is per-bucket — each
    holds ~|pool|/n_buckets rows, so n_buckets is the lever); the
    bucket-size frame is n_buckets rows and broadcasts; each triple
    hashes to a (bucket, rank) address and the draw is a shuffled
    equi-join on that fixed-width composite key — md5 addresses are
    uniform, so no skew. Draws are uniform within the chosen bucket
    and buckets are chosen uniformly, so the overall draw deviates
    from pool-uniform only by the (md5-balanced) bucket-size variance.

    Collision handling is bounded, not retried: if the drawn entity
    equals the true object, the NEXT entity in the bucket (rank
    wrap-around) is used; if that also equals it (only possible in a
    single-entity bucket), neg_obj degrades to null rather than
    emitting a false negative.

    -> the input triple columns plus ``neg_obj`` (null on the
    degenerate case above)."""
    # entity type is preserved (string QIDs or numeric ids alike);
    # hashing and ordering go through the string rendering
    ent = pool.select(F.col(ent_col).alias("ent")).distinct()
    ranked = ent.withColumn("bucket", _h48(F.col("ent").cast("string")) % n_buckets)
    ranked = ranked.withColumn(
        "rank", F.row_number().over(
            Window.partitionBy("bucket").orderBy("ent")))
    # triples address NONEMPTY buckets through a dense 0..K-1 index —
    # an address into a hash-empty bucket would otherwise silently drop
    # the triple in the inner join (only reachable when |pool| ~<
    # n_buckets, but the degrade must be null, not a lost row). sizes
    # is n_buckets rows; the window and count over it are trivial.
    sizes = (ranked.groupBy("bucket").agg(F.count("*").alias("bsize"))
             .withColumn("bidx", F.row_number().over(Window.orderBy("bucket")) - 1))
    k = sizes.agg(F.count("*").alias("_k"))

    t = triples.select(
        F.col(subj).alias("subj"), F.col(pred).alias("pred"),
        F.col(obj).alias("obj"))
    key = F.concat_ws("|", F.col("subj").cast("string"), F.col("pred"),
                      F.col("obj").cast("string"))
    addressed = (
        t.crossJoin(F.broadcast(k))
        .withColumn("bidx", _h48(F.concat(key, F.lit(f"|{salt}:b"))) % F.col("_k"))
        .join(F.broadcast(sizes), "bidx")
        .withColumn("idx1", _h48(F.concat(key, F.lit(f"|{salt}:i"))) % F.col("bsize") + 1)
        .withColumn("idx2", F.col("idx1") % F.col("bsize") + 1)
    )
    r1 = ranked.select("bucket", F.col("rank").alias("idx1"),
                       F.col("ent").alias("_e1"))
    r2 = ranked.select("bucket", F.col("rank").alias("idx2"),
                       F.col("ent").alias("_e2"))
    return (
        addressed.join(r1, ["bucket", "idx1"]).join(r2, ["bucket", "idx2"])
        .select(
            "subj", "pred", "obj",
            F.when(F.col("_e1") != F.col("obj"), F.col("_e1"))
            .when(F.col("_e2") != F.col("obj"), F.col("_e2"))
            .alias("neg_obj"),
        )
    )


def pmi_edges(
    edges: DataFrame, src: str = "src", dst: str = "dst",
    min_common: int = 2, max_fanout: int | None = None,
) -> DataFrame:
    """Pointwise-mutual-information association weights over
    co-occurrence pairs — the classic statistical edge weighting a KG
    consumer applies to raw co-occurrence edges before thresholding
    them into relations (two entities sharing many contexts relative
    to their individual frequencies are genuinely associated; two
    frequent entities sharing a few contexts are not):

        pmi(a, b) = ln( c(a,b) * N / (c(a) * c(b)) )

    with contexts = distinct ``src`` values, c(x) = contexts containing
    x, and N = total contexts. Positive = appears together more than
    chance.

    Built ON the common-neighbor machinery (common_neighbor_pairs
    supplies c(a,b) and both marginals in one pass, with the same
    ``max_fanout`` hub guard); N rides a 1-row broadcast. The ln is one
    float op on a rational of four corpus integers, bround'ed to 6 —
    the same cross-engine argument as the LM scorers.

    ``max_fanout`` caveat: the guard excludes super-hub contexts from
    PAIR GENERATION only, so c(a,b) undercounts hub-mediated
    co-occurrences while the marginals and N still count every context
    — gated PMI is therefore a LOWER BOUND on the true PMI (it only
    ever under-claims association, never fabricates it; the discounted
    contexts are the least informative ones by the usual tf-idf
    argument). Callers thresholding near the boundary should raise the
    threshold margin or leave max_fanout unset.

    -> (node_a, node_b, common, degree_a, degree_b, pmi)."""
    pairs = common_neighbor_pairs(edges, src, dst,
                                  min_common=min_common, max_fanout=max_fanout)
    n_ctx = (edges.select(F.col(src).alias("_s")).distinct()
             .agg(F.count("*").alias("_n")))
    return (
        pairs.crossJoin(F.broadcast(n_ctx))
        .withColumn("pmi", F.bround(
            F.log((F.col("common") * F.col("_n")).cast("double")
                  / (F.col("degree_a") * F.col("degree_b")).cast("double")), 6))
        .select("node_a", "node_b", "common", "degree_a", "degree_b", "pmi")
    )


def triangle_counts(
    edges: DataFrame, src: str = "src", dst: str = "dst",
) -> DataFrame:
    """Per-node triangle counts over an UNDIRECTED edge set (edges may
    arrive in either or both directions; self-loops are dropped) — the
    clustering-structure primitive behind community detection and
    entity-resolution confidence ("how interconnected is this entity's
    neighborhood").

    Scale shape — the degree-orientation trick (node-iterator would
    enumerate sum(deg^2) wedges; a hub with 10^6 neighbors dies): every
    undirected edge is oriented from its LOWER-degree endpoint to the
    higher (ties by node id), which makes the oriented out-degree
    O(sqrt(|E|)) for ANY degree distribution, so the wedge self-join on
    the oriented source enumerates at most |E|^1.5 candidates total —
    the optimal bound — and the hot hub never fans out. Three hash
    exchanges: degrees, the wedge join, the closing-edge semi-join.

    -> (node, triangles): one row per node that participates in >= 1
    triangle; each triangle increments all three corners."""
    und = (edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
           .filter(F.col("a") != F.col("b")))
    und = (und.select(F.least("a", "b").alias("a"),
                      F.greatest("a", "b").alias("b")).distinct())
    from lamapi_spark.pipeline.cache_registry import scoped_cache
    und = scoped_cache(und)
    deg = (und.select(F.col("a").alias("n")).unionAll(
               und.select(F.col("b").alias("n")))
           .groupBy("n").agg(F.count("*").alias("d")))
    withdeg = (und.join(deg.withColumnRenamed("n", "a")
                        .withColumnRenamed("d", "da"), "a")
               .join(deg.withColumnRenamed("n", "b")
                     .withColumnRenamed("d", "db"), "b"))
    # orient lower-(degree, id) -> higher
    oriented = withdeg.select(
        F.when((F.col("da") < F.col("db"))
               | ((F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))),
               F.struct(F.col("a").alias("u"), F.col("b").alias("v")))
        .otherwise(F.struct(F.col("b").alias("u"), F.col("a").alias("v")))
        .alias("e")).select("e.u", "e.v")
    w1 = oriented.select(F.col("u"), F.col("v").alias("x"))
    w2 = oriented.select(F.col("u"), F.col("v").alias("y"))
    wedges = (w1.join(w2, "u").filter(F.col("x") < F.col("y")))
    # close the wedge: (x, y) must be an (undirected) edge
    closing = und.select(F.col("a").alias("x"), F.col("b").alias("y"))
    tris = wedges.join(closing, ["x", "y"])  # (u, x, y) = one triangle
    corners = (tris.select(F.col("u").alias("node"))
               .unionAll(tris.select(F.col("x").alias("node")))
               .unionAll(tris.select(F.col("y").alias("node"))))
    return corners.groupBy("node").agg(F.count("*").alias("triangles"))


def induce_schema(triples: DataFrame, ent_types: DataFrame,
                  ent_col: str = "ent", type_col: str = "ent_type",
                  ) -> DataFrame:
    """Predicate domain/range induction over a constructed KG — the
    schema-learning QA step that follows triple materialization (the
    reference stores curated P31 types; a from-scratch KG must INDUCE
    which subject/object types each predicate connects before it can
    flag extraction errors): for every predicate, the majority subject
    type (domain) and object type (range) with their support shares.

    Deterministic: the majority pick tie-breaks (count desc, type lex)
    and shares are integer basis points (cnt*10000 div total) — exact
    in any engine. Scale shape: two shuffled joins land the types on
    the triples (entity-keyed, AQE handles hub skew); the per-(pred,
    type) counts collapse with map-side combine to at most
    |preds| x |types| rows, so the argmax windows run on a frame that
    is dimension-sized, never data-sized.

    -> (pred, n_triples, dom_subj_type, subj_share_bp,
        dom_obj_type, obj_share_bp)."""
    ty = ent_types.select(F.col(ent_col).alias("_e"),
                          F.col(type_col).alias("_t"))
    t = (triples
         .join(ty.select(F.col("_e").alias("subj"),
                         F.col("_t").alias("subj_type")), "subj")
         .join(ty.select(F.col("_e").alias("obj"),
                         F.col("_t").alias("obj_type")), "obj"))

    def _dominant(role: str) -> DataFrame:
        cnt = (t.groupBy("pred", F.col(f"{role}_type").alias("_ty"))
               .agg(F.count("*").alias("_c")))
        w = Window.partitionBy("pred").orderBy(
            F.desc("_c"), F.asc("_ty"))
        tot = Window.partitionBy("pred")
        return (cnt
                .withColumn("_r", F.row_number().over(w))
                .withColumn("_tot", F.sum("_c").over(tot))
                .filter(F.col("_r") == 1)
                .select(
                    "pred",
                    F.col("_tot").alias(f"_n_{role}"),
                    F.col("_ty").alias(f"dom_{role}_type"),
                    F.expr("_c * 10000 div _tot")
                    .alias(f"{role}_share_bp")))

    return (_dominant("subj").join(_dominant("obj"), "pred")
            .select("pred", F.col("_n_subj").alias("n_triples"),
                    "dom_subj_type", "subj_share_bp",
                    "dom_obj_type", "obj_share_bp"))


def type_violations(triples: DataFrame, ent_types: DataFrame,
                    schema: DataFrame | None = None,
                    ent_col: str = "ent", type_col: str = "ent_type",
                    ) -> DataFrame:
    """Triples whose subject or object type deviates from the induced
    (or supplied) predicate schema — the extraction-error surface a
    KG-construction pipeline reviews before publishing. The schema
    frame is |preds| rows and broadcasts; the type joins are the same
    entity-keyed shuffles as induce_schema.

    -> violating triples with (subj_type, obj_type, bad_subj,
    bad_obj)."""
    if schema is None:
        schema = induce_schema(triples, ent_types, ent_col, type_col)
    ty = ent_types.select(F.col(ent_col).alias("_e"),
                          F.col(type_col).alias("_t"))
    t = (triples
         .join(ty.select(F.col("_e").alias("subj"),
                         F.col("_t").alias("subj_type")), "subj")
         .join(ty.select(F.col("_e").alias("obj"),
                         F.col("_t").alias("obj_type")), "obj")
         .join(F.broadcast(schema.select(
             "pred", "dom_subj_type", "dom_obj_type")), "pred"))
    return (t
            .withColumn("bad_subj",
                        F.col("subj_type") != F.col("dom_subj_type"))
            .withColumn("bad_obj",
                        F.col("obj_type") != F.col("dom_obj_type"))
            .filter(F.col("bad_subj") | F.col("bad_obj"))
            .select("subj", "pred", "obj", "subj_type", "obj_type",
                    "bad_subj", "bad_obj"))


def hits_fixed_point(edges: DataFrame, n_iter: int = 3,
                     scale: int = 10**9,
                     checkpoint_every: int | None = 1) -> DataFrame:
    """Fixed-iteration HITS (Kleinberg hubs-and-authorities) over
    (src, dst) edges in BIGINT FIXED POINT — the link-analysis sibling
    of pagerank_fixed_point, and the score pair that separates
    catalog-like hub entities from referenced authorities in a
    constructed KG. Per iteration: auth(v) = sum of hub over in-edges,
    hub(u) = sum of the NEW auth over out-edges, each renormalized to
    max = ``scale`` by integer division — exact BIGINT sums and
    divisions only, so the result is bit-reproducible across
    partitionings and engines (the float L2 normalization of textbook
    HITS would be combine-order-dependent; max-normalization is the
    standard integer-exact alternative and preserves the ranking).

    Overflow bound: max in-degree * scale < 2^63, i.e. degree < 9.2e9
    at scale=1e9 — beyond any real graph's hub. Scale shape: each
    iteration is two edge joins + two aggregations with map-side
    combine (hot hubs are AQE skew-join work, contributions are
    fixed-width); the two-row max frames broadcast. Lineage
    localCheckpoints every ``checkpoint_every`` iterations exactly as
    pagerank_fixed_point does.

    -> (node, hub, auth) in fixed-point units; every node in the edge
    set gets a row."""
    if checkpoint_every is not None:
        edges = edges.localCheckpoint(eager=True)
    nodes = (edges.select(F.col("src").alias("node"))
             .unionByName(edges.select(F.col("dst").alias("node")))
             .distinct())
    if checkpoint_every is not None:
        nodes = nodes.localCheckpoint(eager=True)
    hub = nodes.select("node", F.lit(scale).cast("bigint").alias("hub"))
    auth = None
    for i in range(n_iter):
        a_raw = (edges.join(hub.withColumnRenamed("node", "src"), "src")
                 .groupBy(F.col("dst").alias("node"))
                 .agg(F.sum("hub").alias("_a")))
        a_max = a_raw.agg(F.max("_a").alias("_m"))
        auth = (nodes.join(a_raw, "node", "left")
                .crossJoin(F.broadcast(a_max))
                .select("node", F.expr(
                    f"cast(cast(coalesce(_a, 0L) as decimal(38,0)) "
                    f"* {scale} div greatest(_m, 1L) as bigint)")
                    .alias("auth")))
        h_raw = (edges.join(auth.withColumnRenamed("node", "dst"), "dst")
                 .groupBy(F.col("src").alias("node"))
                 .agg(F.sum("auth").alias("_h")))
        h_max = h_raw.agg(F.max("_h").alias("_m"))
        hub = (nodes.join(h_raw, "node", "left")
               .crossJoin(F.broadcast(h_max))
               .select("node", F.expr(
                   f"cast(cast(coalesce(_h, 0L) as decimal(38,0)) "
                   f"* {scale} div greatest(_m, 1L) as bigint)")
                   .alias("hub")))
        if checkpoint_every is not None and (i + 1) % checkpoint_every == 0:
            hub = hub.localCheckpoint(eager=True)
            auth = auth.localCheckpoint(eager=True)
    return hub.join(auth, "node").select("node", "hub", "auth")


def random_walks(edges: DataFrame, length: int = 4, n_walks: int = 2,
                 max_fanout: int = 1000,
                 salt: str = "walk") -> DataFrame:
    """DeepWalk-style random-walk corpus generation over (src, dst)
    edges (Perozzi et al. 2014) — the sentence-corpus step that feeds
    sequence embedding training over a constructed KG — with every
    step a DETERMINISTIC md5 draw: the neighbor chosen at step k of
    walk (start, walk_no) is a pure function of (start, walk_no, k,
    salt), so the whole corpus is partition-independent, reproducible
    across engines, and any single walk is re-derivable for audit
    (the negative_samples/sample_hash discipline, against the
    per-task RNG a naive implementation would reach for).

    Scale shape: the adjacency collapses to per-node sorted neighbor
    ARRAYS (a per-src rank window caps hot hubs at ``max_fanout``
    BEFORE the collect — the max_df/max_bucket trade); each of the
    ``length`` steps is then ONE equi-join on the current node (AQE
    splits hot-node skew) plus pure array expressions — no window, no
    aggregation, paths grow in-row bounded by ``length``. Dead-end
    nodes stop extending (the walk keeps its prefix).

    -> (start, walk_no, walk) with walk the space-joined node path."""
    ed = edges.select("src", "dst").distinct()
    rk = ed.withColumn(
        "_rn", F.row_number().over(
            Window.partitionBy("src").orderBy("dst")))
    nbrs = (rk.filter(F.col("_rn") <= max_fanout)
            .groupBy("src")
            .agg(F.array_sort(F.collect_list("dst")).alias("_nbrs")))
    state = (nbrs.select(F.col("src").alias("start"))
             .select("start",
                     F.explode(F.sequence(
                         F.lit(0), F.lit(n_walks - 1))).alias("walk_no"))
             .withColumn("cur", F.col("start"))
             .withColumn("path", F.array(F.col("start"))))
    for step in range(length):
        key = _h48(F.concat_ws(
            "|", F.col("start"), F.col("walk_no").cast("string"),
            F.lit(str(step)), F.lit(salt)))
        state = (state
                 .join(nbrs.withColumnRenamed("src", "cur"), "cur", "left")
                 .withColumn(
                     "_next",
                     F.when(F.size("_nbrs") > 0,
                            F.element_at(
                                "_nbrs",
                                (key % F.size("_nbrs") + 1).cast("int"))))
                 .select(
                     "start", "walk_no",
                     F.coalesce(F.col("_next"), F.col("cur")).alias("cur"),
                     F.when(F.col("_next").isNotNull(),
                            F.concat(F.col("path"),
                                     F.array(F.col("_next"))))
                     .otherwise(F.col("path")).alias("path")))
    return state.select("start", "walk_no",
                        F.array_join("path", " ").alias("walk"))


def label_propagation(edges: DataFrame, n_iter: int = 2,
                      checkpoint_every: int | None = 1) -> DataFrame:
    """Deterministic synchronous label propagation (Raghavan et al.
    2007) over (src, dst) edges — the community-detection sibling of
    connected_components: where CC answers "which alias cluster", LPA's
    plurality vote finds DENSE groups (a constructed KG's topical
    communities) in a fixed number of rounds.

    Textbook LPA is randomized (random update order, random tie-break)
    and therefore useless under this repo's bit-reproducibility
    discipline; this is the standard deterministic variant: SYNCHRONOUS
    rounds (every node updates from the previous round's labels) and a
    total-order tie-break (vote count desc, then label asc), so the
    result is a pure function of the edge set — partition-independent
    and engine-replayable round by round.

    Scale shape per round: one equi-join on src (labels are
    fixed-width, AQE splits hot-hub skew), one map-side-combined
    count aggregation on (dst, label), and one argmax collapse via
    min(struct(-cnt, label)) — no window over the full vote frame.
    Lineage localCheckpoints every ``checkpoint_every`` rounds like
    pagerank_fixed_point. Isolated nodes (no in-edges) keep their own
    label via the left join + coalesce.

    -> (node, label) after ``n_iter`` rounds; label is some node id of
    the community the node landed in.
    """
    ed = edges.select("src", "dst").distinct()
    if checkpoint_every is not None:
        ed = ed.localCheckpoint(eager=True)
    nodes = (ed.select(F.col("src").alias("node"))
             .unionByName(ed.select(F.col("dst").alias("node")))
             .distinct())
    if checkpoint_every is not None:
        nodes = nodes.localCheckpoint(eager=True)
    labels = nodes.select("node", F.col("node").alias("label"))
    for i in range(n_iter):
        votes = (ed.join(labels.withColumnRenamed("node", "src"), "src")
                 .groupBy(F.col("dst").alias("node"), "label")
                 .agg(F.count("*").alias("_c")))
        best = (votes.groupBy("node")
                .agg(F.min(F.struct((-F.col("_c")).alias("nc"),
                                    F.col("label").alias("l"))).alias("_m")))
        labels = (nodes.join(best, "node", "left")
                  .select("node", F.coalesce(F.col("_m.l"),
                                             F.col("node")).alias("label")))
        if checkpoint_every is not None and (i + 1) % checkpoint_every == 0:
            labels = labels.localCheckpoint(eager=True)
    return labels


def nt_escape(col: Column | str) -> Column:
    """N-Triples string-literal escaping (RDF 1.1 N-Triples §2.4 ECHAR):
    backslash FIRST (it is the escape introducer), then quote, LF, CR,
    TAB. Pure chained replaces — JVM codegen, engine-portable (the
    DuckDB oracle runs the same replace chain)."""
    c = F.col(col) if isinstance(col, str) else col
    c = F.replace(c, F.lit("\\"), F.lit("\\\\"))
    c = F.replace(c, F.lit('"'), F.lit('\\"'))
    c = F.replace(c, F.lit("\n"), F.lit("\\n"))
    c = F.replace(c, F.lit("\r"), F.lit("\\r"))
    return F.replace(c, F.lit("\t"), F.lit("\\t"))


def ntriples_lines(triples: DataFrame, base: str = "http://kg.local",
                   literal_pred: str | None = None) -> DataFrame:
    """Materialize (subj, pred, obj) triples as RDF N-Triples lines —
    the interchange format a constructed KG exports to (the reference
    serves JSON from its own store; a 100 TB KG hands its graph to
    consumers as N-Triples/parquet dumps). Resource triples render as
    three IRIs; when ``literal_pred`` names the predicate of
    attribute triples, those rows render obj as an ESCAPED quoted
    literal instead (xsd:string, the default literal type, stays
    untyped per the N-Triples grammar).

    Ids must be IRI-path-safe (the pipeline's Q/P/c/s ids are); the
    escaping work is all in the literal arm. Pure column expressions —
    format-string + replace chain, no shuffle, no Python; the export
    rides the triples frame's partitioning so a real deployment writes
    it straight out with partitioned text sinks.

    -> (subj, pred, line), one N-Triples line per input row.
    """
    s_iri = F.concat(F.lit(f"<{base}/e/"), F.col("subj"), F.lit(">"))
    p_iri = F.concat(F.lit(f"<{base}/p/"), F.col("pred"), F.lit(">"))
    is_lit = (F.col("pred") == F.lit(literal_pred)) if literal_pred \
        else F.lit(False)
    obj_term = F.when(
        is_lit, F.concat(F.lit('"'), nt_escape(F.col("obj")), F.lit('"'))
    ).otherwise(F.concat(F.lit(f"<{base}/e/"), F.col("obj"), F.lit(">")))
    line = F.concat_ws(" ", s_iri, p_iri, obj_term, F.lit("."))
    return triples.select("subj", "pred", line.alias("line"))


def bgp_match(triples: DataFrame,
              patterns: list[tuple[str, str, str]]) -> DataFrame:
    """SPARQL-style basic-graph-pattern matching over a
    (subj, pred, obj) triple table — the read-side query primitive a
    constructed KG exists to serve (the reference answers point
    lookups over its entity store; a materialized 100 TB graph is
    queried by conjunctive patterns; reference analogue: none —
    builder's-brief consumption surface).

    ``patterns`` is a conjunction of triple patterns; each term is a
    variable iff it starts with ``?`` (e.g. ``("?a", "linked_to",
    "?b")``), else a constant. Returns one row per binding of the
    variables, columns named without the ``?``, bag semantics (exactly
    the SQL self-join semantics, so a DuckDB oracle is the same joins).

    Scale shape: each pattern is a SELECT over the one triple scan
    with its constants pushed down as literal equality predicates —
    they reach the parquet scan as PushedFilters, and on a
    pred-partitioned store they prune partitions. The conjunction
    folds left-to-right as equi-joins on the shared variables (callers
    order selective patterns first, the classic BGP heuristic);
    Catalyst/AQE choose broadcast for small filtered sides at runtime,
    so a constant-anchored pattern (a point lookup) broadcasts against
    the big hop frames instead of shuffling them. A repeated variable
    inside one pattern becomes an equality filter on that scan. A
    pattern sharing no variable with the accumulated bindings is a
    genuine cross product — allowed (SPARQL permits it) but the
    caller's responsibility, as in any engine.
    """
    acc: DataFrame | None = None
    bound: list[str] = []
    for s, p, o in patterns:
        cols, filt = {}, None
        for pos, term in (("subj", s), ("pred", p), ("obj", o)):
            if term.startswith("?"):
                v = term[1:]
                if v in cols:  # repeated var within the pattern
                    c = F.col(pos) == F.col(cols[v])
                    filt = c if filt is None else (filt & c)
                else:
                    cols[v] = pos
            else:
                c = F.col(pos) == F.lit(term)
                filt = c if filt is None else (filt & c)
        pat = triples.filter(filt) if filt is not None else triples
        pat = pat.select(*[F.col(pos).alias(v) for v, pos in cols.items()])
        if acc is None:
            acc, bound = pat, list(cols)
            continue
        shared = [v for v in cols if v in bound]
        acc = acc.join(pat, on=shared) if shared else acc.crossJoin(pat)
        bound += [v for v in cols if v not in bound]
    if acc is None:
        raise ValueError("bgp_match needs at least one pattern")
    return acc.select(*bound)


def ppr_fixed_point(
    edges: DataFrame, seeds: DataFrame, n_iter: int = 3,
    scale: int = 10**9, damping_pct: int = DAMPING_PCT,
    checkpoint_every: int | None = 1,
) -> DataFrame:
    """Personalized PageRank (random walk with restart from a seed
    set) — the KG relatedness primitive ("which entities are close to
    THESE?") behind recommendation/disambiguation reads over the
    constructed graph. Same BIGINT fixed-point discipline as
    pagerank_fixed_point (integer divisions, exact sums — bit-
    reproducible across partitionings and engines), but restart mass
    returns only to ``seeds`` (a 1-column ``node`` frame, the query
    WORKLOAD — broadcast): sum-to-|S|*scale convention,

        rank'[v] = [v in S] * (100-d)% * scale
                   + d% * sum over u->v of rank[u] // deg[u],

    rank0 = scale on seeds, 0 elsewhere. Mass stays localized around
    the seeds, so ranks decay to exact 0 outside the n_iter-hop
    neighborhood — callers filter rank > 0 for the sparse result.
    Overflow bound: |S| * scale * damping_pct < 2^63.
    """
    teleport = (100 - damping_pct) * scale // 100
    outdeg = (edges.groupBy(F.col("src").alias("node"))
              .agg(F.count("*").alias("degree")))
    if checkpoint_every is not None:
        edges = edges.localCheckpoint(eager=True)
        outdeg = outdeg.localCheckpoint(eager=True)
    nodes = outdeg.select("node")
    is_seed = F.col("_seed").isNotNull()
    seeded = nodes.join(
        F.broadcast(seeds.select(F.col("node"), F.lit(1).alias("_seed"))
                    .distinct()),
        "node", "left")
    rank = seeded.select(
        "node",
        F.when(is_seed, F.lit(scale)).otherwise(F.lit(0))
        .cast("bigint").alias("rank"))
    for i in range(n_iter):
        contrib = (
            edges.join(rank.withColumnRenamed("node", "src"), "src")
            .join(outdeg.withColumnRenamed("node", "src"), "src")
            .groupBy(F.col("dst").alias("node"))
            .agg(F.sum(F.expr("rank div degree")).alias("_s"))
        )
        rank = seeded.join(contrib, "node", "left").select(
            "node",
            (F.when(is_seed, F.lit(teleport)).otherwise(F.lit(0))
             + F.expr(f"{damping_pct} * coalesce(_s, 0L) div 100")
             ).cast("bigint").alias("rank"),
        )
        if checkpoint_every is not None and (i + 1) % checkpoint_every == 0:
            rank = rank.localCheckpoint(eager=True)
    return rank


def bfs_distances(edges: DataFrame, seeds: DataFrame,
                  max_depth: int = 3) -> DataFrame:
    """Multi-source BFS over directed edges(src, dst): (node, dist)
    with dist = the MINIMUM hop count from any seed, exact for
    dist <= max_depth; nodes unreached within the horizon are absent.
    Completes the traversal corner of the graph family (khop counts
    reach, components ignore distance; this labels it).

    Scale shape: level-synchronous frontier expansion — each iteration
    is ONE join frontier⋈edges + a distinct + a left_anti against the
    settled set, so per-level work is O(frontier out-edges), never
    O(paths): a node discovered at level d is anti-joined out of every
    later level, which is what keeps hub-heavy graphs from exploding
    (the same DISTINCT-the-frontier argument as khop). The edge set
    and every level are localCheckpoint-materialized (the
    canonicalize.py loop discipline: truncate iterative lineage, pay
    one cheap limit(1) job per level to stop early on an exhausted
    frontier).

    Determinism: the level a node first appears in is a pure function
    of the edge SET (min over paths), independent of partitioning or
    arrival order.
    """
    ed = edges.select("src", "dst").localCheckpoint(eager=True)
    dist = (seeds.select(F.col("seed").alias("node")).distinct()
            .withColumn("dist", F.lit(0).cast("int"))
            .localCheckpoint(eager=True))
    frontier = dist
    for d in range(1, max_depth + 1):
        nxt = (
            frontier.join(ed, frontier.node == ed.src)
            .select(F.col("dst").alias("node")).distinct()
            .join(dist.select("node"), "node", "left_anti")
            .withColumn("dist", F.lit(d).cast("int"))
            .localCheckpoint(eager=True)
        )
        if nxt.limit(1).count() == 0:
            break
        dist = dist.unionByName(nxt).localCheckpoint(eager=True)
        frontier = nxt
    return dist


def path_pairs(triples: DataFrame,
               steps: list[tuple[str, bool]],
               max_depth: int = 3) -> DataFrame:
    """SPARQL property-path evaluation over a (subj, pred, obj) triple
    table: ``steps`` is a sequence of (predicate, closure) hops —
    closure=False is one hop on that predicate, closure=True is the
    transitive closure ``pred+`` bounded at ``max_depth`` hops (the
    bounded-path pragmatics every production SPARQL engine applies to
    ``+`` on large graphs). Returns the distinct (src, dst) pairs
    connected by the whole path — the read-side companion to
    :func:`bgp_match` for the path shapes conjunctive patterns cannot
    express.

    Scale shape: each plain step is one predicate-filtered scan
    (constant pushed to the parquet scan) composed by an equi-join on
    the shared node; a closure step runs the bfs_distances discipline
    pairwise — level-synchronous expansion where each level joins only
    the NEW pairs (left_anti vs the settled closure), so work per
    level is O(frontier x out-degree), never O(paths), and every level
    localCheckpoints (the canonicalize.py loop rule). Set semantics
    (distinct) at every composition, matching SPARQL path semantics.
    """
    if not steps:
        raise ValueError("path_pairs needs at least one step")

    def one(pred: str, closure: bool) -> DataFrame:
        e = (triples.filter(F.col("pred") == F.lit(pred))
             .select(F.col("subj").alias("a"), F.col("obj").alias("b"))
             .distinct())
        if not closure:
            return e
        e = e.localCheckpoint(eager=True)
        clo, frontier = e, e
        for _ in range(max_depth - 1):
            nxt = (
                frontier.join(e.select(F.col("a").alias("b"),
                                       F.col("b").alias("b2")), "b")
                .select("a", F.col("b2").alias("b")).distinct()
                .join(clo, ["a", "b"], "left_anti")
                .localCheckpoint(eager=True)
            )
            if nxt.limit(1).count() == 0:
                break
            clo = clo.unionByName(nxt).localCheckpoint(eager=True)
            frontier = nxt
        return clo

    acc: DataFrame | None = None
    for pred, closure in steps:
        sp = one(pred, closure)
        if acc is None:
            acc = sp
            continue
        acc = (acc.join(sp.select(F.col("a").alias("b"),
                                  F.col("b").alias("b2")), "b")
               .select("a", F.col("b2").alias("b")).distinct())
    return acc.select(F.col("a").alias("src"), F.col("b").alias("dst"))


def strongly_connected_components(
    edges: DataFrame, max_outer: int = 20, max_inner: int = 40,
) -> DataFrame:
    """Converged SCCs of a DIRECTED graph — (node, scc) with scc = the
    minimum node id in each strongly connected component.

    Distributed forward-backward coloring (Orzan's coloring algorithm —
    the standard MapReduce/Pregel SCC scheme; Tarjan is inherently
    sequential). Each outer round:

    1. FORWARD min-label propagation to a fixed point over the
       remaining graph: color(v) = min id that can reach v. Proof
       obligations the oracle checks end to end: on any path from a
       node v with color r to the root r, every intermediate node also
       has color exactly r (a smaller color c on the path would reach
       r through the path suffix, contradicting color(r) = r), so
    2. the BACKWARD reachability from the roots {r : color(r) = r} may
       be restricted to same-color edges without losing members;
       SCC(r) = {v : color(v) = r and v reaches r}. Whole components
       are peeled together (mutually reachable nodes share color and
       backward-reachability), hence scc = min member id is exact.
    3. Peel the reached set and repeat on the remainder.

    Every propagation step is one shuffle on the vertex id. Hash-min
    moves a label one edge per round, so the forward fixed point needs
    up to the remaining graph's diameter in rounds plus one that sees no
    change, and the backward frontier up to the diameter; each outer
    round peels at least one SCC (a directed path of n nodes peels one
    node per round, so it needs n). A loop that is still changing when
    it reaches ``max_inner`` (forward, backward) or ``max_outer`` (peel)
    raises ValueError instead of returning an unconverged or partial
    result. Peeled frames and the iterated edge frame are
    localCheckpointed — the same lineage discipline as
    pipeline/canonicalize.connected_components.
    """
    rem_edges = edges.select("src", "dst").distinct().localCheckpoint(eager=True)
    rem_nodes = (
        rem_edges.select(F.col("src").alias("node"))
        .unionByName(rem_edges.select(F.col("dst").alias("node")))
        .distinct().localCheckpoint(eager=True)
    )
    assigned: DataFrame | None = None
    for _o in range(max_outer + 1):
        if rem_nodes.limit(1).count() == 0:
            break
        if _o == max_outer:
            raise ValueError(
                f"strongly_connected_components: nodes remain after max_outer={max_outer} "
                "peel rounds (each round peels at least one SCC)")
        # 1) color(v) = min id reaching v, hash-min fixed point
        color = rem_nodes.withColumn("color", F.col("node")).localCheckpoint(eager=True)
        for _i in range(max_inner):
            prop = (
                rem_edges.join(color, rem_edges.src == color.node)
                .select(F.col("dst").alias("node"), "color")
            )
            new = (
                color.select("node", "color").unionByName(prop)
                .groupBy("node").agg(F.min("color").alias("color"))
                .localCheckpoint(eager=True)
            )
            changed = (
                new.alias("n").join(color.alias("o"), "node")
                .filter(F.col("n.color") != F.col("o.color"))
                .limit(1).count()
            )
            color = new
            if changed == 0:
                break
        else:
            raise ValueError(
                f"strongly_connected_components: forward colouring did not converge in "
                f"max_inner={max_inner} rounds (a path of max_inner or more edges)")
        # 2) backward frontier from roots within the color class
        csrc = color.select(F.col("node").alias("src"), F.col("color").alias("_cs"))
        cdst = color.select(F.col("node").alias("dst"), F.col("color").alias("_cd"))
        ec = (
            rem_edges.join(csrc, "src").join(cdst, "dst")
            .filter(F.col("_cs") == F.col("_cd"))
            .select("src", "dst").localCheckpoint(eager=True)
        )
        reach = color.filter(F.col("node") == F.col("color")).select("node") \
                     .localCheckpoint(eager=True)
        frontier = reach
        for _i in range(max_inner):
            nxt = (
                ec.join(frontier, ec.dst == frontier.node)
                .select(F.col("src").alias("node")).distinct()
                .join(reach, "node", "left_anti")
                .localCheckpoint(eager=True)
            )
            if nxt.limit(1).count() == 0:
                break
            reach = reach.unionByName(nxt).localCheckpoint(eager=True)
            frontier = nxt
        else:
            raise ValueError(
                f"strongly_connected_components: backward frontier still growing after "
                f"max_inner={max_inner} rounds")
        peeled = reach.join(color, "node").select(
            "node", F.col("color").alias("scc"))
        assigned = peeled if assigned is None else assigned.unionByName(peeled)
        assigned = assigned.localCheckpoint(eager=True)
        rem_nodes = rem_nodes.join(reach, "node", "left_anti") \
                             .localCheckpoint(eager=True)
        rem_edges = (
            rem_edges
            .join(reach.select(F.col("node").alias("src")), "src", "left_anti")
            .join(reach.select(F.col("node").alias("dst")), "dst", "left_anti")
            .localCheckpoint(eager=True)
        )
    return assigned


def infer_types(
    triples: DataFrame, ent_types: DataFrame, scale: int = 10000,
) -> DataFrame:
    """Type inference for UNTYPED entities by predicate voting — the KG
    completion step after schema induction: each (pred, position)
    learns a type distribution from the TYPED entities it touches, and
    every occurrence of an untyped entity casts that distribution as a
    vote; winner = argmax of summed votes (ties -> lexicographically
    smallest type).

    Votes are integer basis points (c * scale // tot), so the sum and
    the argmax are engine-exact — no float accumulation order can flip
    a winner between Spark and a SQL oracle. Entities whose every
    occurrence rides a predicate/position with NO typed evidence are
    absent from the output (nothing to vote with).

    -> (ent, inferred_type, votes_bp, n_evidence); n_evidence counts
    the (triple, position) occurrences that contributed to the winning
    type's tally.

    Scale shape: two hash aggs learn the distributions (map-side
    combinable); the vote join keys on (pred, pos) — low cardinality,
    broadcastable when the schema is small, which is the common case
    (distributions are one row per (pred, pos, type), independent of
    corpus size).
    """
    t = triples.select("subj", "pred", "obj")
    ty = ent_types.select("ent", "ent_type")

    def dist(col: str, pos: str) -> DataFrame:
        typed = t.join(ty.withColumnRenamed("ent", col), col)
        cnt = typed.groupBy("pred", "ent_type").agg(F.count("*").alias("c"))
        tot = cnt.groupBy("pred").agg(F.sum("c").alias("tot"))
        return (cnt.join(tot, "pred")
                .select("pred", F.lit(pos).alias("pos"), "ent_type",
                        F.floor(F.col("c") * scale / F.col("tot"))
                        .cast("long").alias("share_bp")))

    dists = dist("subj", "s").unionByName(dist("obj", "o"))
    occ = (
        t.select(F.col("subj").alias("ent"), "pred", F.lit("s").alias("pos"))
        .unionByName(
            t.select(F.col("obj").alias("ent"), "pred", F.lit("o").alias("pos")))
        .join(ty.select("ent"), "ent", "left_anti")
    )
    votes = (
        occ.join(F.broadcast(dists), ["pred", "pos"])
        .groupBy("ent", "ent_type")
        .agg(F.sum("share_bp").alias("votes_bp"),
             F.count("*").alias("n_evidence"))
    )
    # window-free argmax: min over struct(-votes, type) = highest tally,
    # then lexicographically smallest type
    best = (
        votes.groupBy("ent")
        .agg(F.min(F.struct((-F.col("votes_bp")).alias("_nv"),
                            F.col("ent_type").alias("_t"))).alias("_w"))
        .select("ent", F.col("_w._t").alias("ent_type"))
    )
    return (
        votes.join(best, ["ent", "ent_type"])
        .select("ent", F.col("ent_type").alias("inferred_type"),
                "votes_bp", "n_evidence")
    )


def sssp_bounded(
    edges: DataFrame, seeds: DataFrame, k: int = 4,
    checkpoint_every: int | None = 1,
) -> DataFrame:
    """Multi-source WEIGHTED shortest paths, bounded to <= k edges —
    k rounds of Bellman-Ford relaxation over (src, dst, w) with BIGINT
    weights. The weighted sibling of bfs_distances (hop counts) and the
    same fixed-iteration determinism contract as pagerank_fixed_point:
    dist_k(v) = min total weight over paths of at most k edges from any
    seed, a pure function of (edges, seeds, k) — so a SQL oracle unrolls
    the identical k rounds and every distance matches exactly, with no
    convergence coupling between engines.

    Each round is one shuffled join on the frontier's node ids plus a
    map-side-combinable min aggregation; the dist frame is bounded by
    the node count (never by path count — relaxation folds immediately).
    ``checkpoint_every`` truncates lineage per round (the canonicalize
    discipline); None for short-lived contract queries.

    -> (node, dist); nodes unreachable within k edges are absent.
    """
    e = edges.select("src", "dst", F.col("w").cast("long").alias("w"))
    if checkpoint_every is not None:
        e = e.localCheckpoint(eager=True)
    d = seeds.select("node").distinct().withColumn(
        "dist", F.lit(0).cast("long"))
    for i in range(k):
        relax = (
            e.join(d, e.src == d.node)
            .select(F.col("dst").alias("node"),
                    (F.col("dist") + F.col("w")).alias("dist"))
        )
        d = (d.unionByName(relax)
             .groupBy("node").agg(F.min("dist").alias("dist")))
        if checkpoint_every is not None and (i + 1) % checkpoint_every == 0:
            d = d.localCheckpoint(eager=True)
    return d


def k_core(edges: DataFrame, k: int = 2, rounds: int = 12) -> DataFrame:
    """Fixed-round k-core peel over an UNDIRECTED edge set (a, b): each
    round drops every node whose degree within the surviving subgraph
    is < k, exactly ``rounds`` times — the fixed-iteration determinism
    contract (pagerank_fixed_point / sssp_bounded): the result is a
    pure function of (edges, k, rounds), so a SQL oracle unrolls the
    identical rounds and every surviving node matches, with no
    convergence coupling between engines. ``rounds`` is chosen >= the
    peel depth of the data (the contract query's pytest twin runs the
    loop to an asserted fixed point; peel depth is bounded by the
    degeneracy ordering length, log-ish in practice).

    Each round is one map-side-combinable degree agg + two semi-joins
    that shrink the edge frame; localCheckpoint truncates the per-round
    lineage. Early exit when a limit(1) probe shows nothing was peeled.

    -> (node, degree) for the surviving k-core members, degree within
    the core.
    """
    sym = (edges.select(F.col("a").alias("x"), F.col("b").alias("y"))
           .unionByName(edges.select(F.col("b").alias("x"),
                                     F.col("a").alias("y")))
           .distinct()
           .localCheckpoint(eager=True))
    for _ in range(rounds):
        deg = sym.groupBy("x").agg(F.count("*").alias("deg"))
        keep = deg.filter(F.col("deg") >= k).select("x")
        nxt = (sym.join(keep, "x")
               .join(keep.withColumnRenamed("x", "y"), "y")
               .select("x", "y")
               .localCheckpoint(eager=True))
        # early exit: nothing peeled this round -> fixed point reached
        if nxt.count() == sym.count():
            sym = nxt
            break
        sym = nxt
    return (sym.groupBy(F.col("x").alias("node"))
            .agg(F.count("*").alias("degree")))


def link_prediction_scores(
    edges: DataFrame, src: str = "src", dst: str = "dst",
    min_common: int = 1, max_fanout: int | None = None,
    scale: int = 10**6,
) -> DataFrame:
    """Adamic-Adar and resource-allocation link-prediction scores over
    the common-neighbor pairing: for every dst pair (a, b) sharing at
    least ``min_common`` src mediators,

        aa(a, b) = sum_{s in N(a) and N(b)} 1 / ln(fanout(s))
        ra(a, b) = sum_{s in N(a) and N(b)} 1 / fanout(s)

    — the classic weighted upgrades of the raw common-neighbor count
    (a mediator shared with everyone carries little evidence; a rare
    one carries a lot). This is the KG-completion candidate generator:
    score non-edges, threshold, feed the top pairs to the linker.

    Determinism across partitionings: each mediator's term is rounded
    HALF-EVEN to integer units of 1/``scale`` and the per-pair combine
    is a BIGINT sum — associative, order-independent, engine-portable
    (the graph_pagerank fixed-point argument; the one float op per term
    is a division by ln of a corpus integer, the LM-scorer cross-engine
    argument). -> (node_a, node_b, common, aa_units, ra_units) with
    node_a < node_b; true scores are units / scale.

    A mediator with fanout 1 cannot form a pair, so rows are pre-pruned
    to fanout >= 2 — this also keeps ln(fanout) > 0 (no 1/0 terms).
    ``max_fanout`` is the usual super-hub guard (None = unlimited):
    hubs are excluded from pair generation only, trading recall on
    hub-mediated pairs (which AA/RA down-weight anyway) for a bounded
    self-join, exactly like common_neighbor_pairs.
    """
    e = (edges.select(F.col(src).alias("_s"), F.col(dst).alias("_d"))
         .distinct())
    fan = e.groupBy("_s").agg(F.count("*").alias("_f"))
    if max_fanout is not None:
        fan = fan.filter(F.col("_f") <= max_fanout)
    terms = (
        e.join(fan.filter(F.col("_f") >= 2), "_s")
        .select(
            "_s", "_d",
            F.bround(F.lit(scale) / F.log(F.col("_f").cast("double")), 0)
            .cast("long").alias("_aa_t"),
            F.bround(F.lit(scale) / F.col("_f"), 0).cast("long").alias("_ra_t"),
        )
    )
    x, y = terms.alias("x"), terms.alias("y")
    return (
        x.join(y, (F.col("x._s") == F.col("y._s"))
               & (F.col("x._d") < F.col("y._d")))
        .groupBy(F.col("x._d").alias("node_a"), F.col("y._d").alias("node_b"))
        .agg(F.count("*").alias("common"),
             F.sum("x._aa_t").alias("aa_units"),
             F.sum("x._ra_t").alias("ra_units"))
        .filter(F.col("common") >= min_common)
    )


def modularity_terms(edges: DataFrame, communities: DataFrame,
                     scale: int = 10**9) -> DataFrame:
    """Per-community Newman modularity terms of a partition over a
    SYMMETRIC directed edge list (each undirected edge present in both
    directions, the _edges/label_propagation convention):

        Q = sum_c [ in_c / |E|  -  (D_c / |E|)^2 ]

    with |E| = directed edge count (= 2m), in_c = directed edges with
    both ends in c (= 2 e_c), D_c = total degree of c's nodes — the
    standard e_c/m - (D_c/2m)^2 rewritten in directed counts. Q > 0
    means the partition beats the degree-preserving random graph; it is
    THE acceptance metric for the label_propagation communities (a
    partition can always be produced — modularity says whether it
    means anything).

    ``communities`` is (node, label). Every per-community term is one
    float expression over four corpus integers, rounded half-even to
    BIGINT units of 1/``scale`` (q_units) — the consumer's global Q is
    an order-independent integer sum, the graph_pagerank portability
    argument. -> (community, n_nodes, in_edges, degree_sum, q_units),
    one row per community including edge-free ones.

    Scale shape: degree and inner-edge aggregations shuffle on node /
    community keys (map-side combined); the community lookups are two
    equi-joins against the (node, label) frame; |E| rides a 1-row
    broadcast. No window, no collect.
    """
    ed = edges.select("src", "dst").distinct()
    comm = communities.select("node", "label")
    tot = ed.agg(F.count("*").alias("_e"))
    deg = ed.groupBy(F.col("src").alias("node")).agg(F.count("*").alias("_d"))
    inn = (
        ed.join(comm.select(F.col("node").alias("src"),
                            F.col("label").alias("_la")), "src")
        .join(comm.select(F.col("node").alias("dst"),
                          F.col("label").alias("_lb")), "dst")
        .filter(F.col("_la") == F.col("_lb"))
        .groupBy(F.col("_la").alias("label"))
        .agg(F.count("*").alias("in_edges"))
    )
    ds = (
        comm.join(deg, "node")
        .groupBy("label")
        .agg(F.count("*").alias("n_nodes"), F.sum("_d").alias("degree_sum"))
    )
    frac_in = F.col("in_edges").cast("double") / F.col("_e")
    frac_d = F.col("degree_sum").cast("double") / F.col("_e")
    return (
        ds.join(inn, "label", "left")
        .withColumn("in_edges", F.coalesce("in_edges", F.lit(0)).cast("long"))
        .crossJoin(F.broadcast(tot))
        .select(
            F.col("label").alias("community"), "n_nodes", "in_edges",
            F.col("degree_sum").cast("long").alias("degree_sum"),
            F.bround(F.lit(float(scale)) * (frac_in - frac_d * frac_d), 0)
            .cast("long").alias("q_units"),
        )
    )


def hyperball(edges: DataFrame, radius: int = 3,
              b: int = 6) -> DataFrame:
    """Per-node neighborhood function via HyperBall (Boldi & Vigna,
    2013): estimate |ball(v, r)| = #nodes within <= ``radius`` hops
    along OUT-edges, one mergeable HLL counter per node — the
    distance-distribution / centrality primitive exact BFS can't
    afford at 10^9 nodes, because exact per-node balls are O(n^2)
    state while counters are a fixed 2^b registers per node
    (reference analogue: none; builder's-brief graph surface, the
    approximate twin of bfs_distances' exact horizon).

    Update rule: ball_{t+1}(v) = ball_t(v) UNION over out-edges (v,w)
    of ball_t(w). Because the HLL merge is register max — associative,
    commutative, IDEMPOTENT — re-adding already-counted nodes is free,
    and the t-round fixpoint is REGISTER-IDENTICAL to the sketch of
    the exact ball set (the contract oracle rebuilds the exact ball in
    SQL and sketches it directly; green means the propagation loses
    nothing — the paper's systolic invariant).

    Scale shape, per round: ONE join of the counter frame onto the dst
    side of edges (counters are fixed 2^b-int arrays, so a hub's cost
    is one bounded array per in-edge, never its member set), then
    hll_merge's posexplode + (node, reg) max-agg — partial map-side
    combine collapses each partition to <= 2^b cells per node before
    the shuffle. Lineage localCheckpoints every round (the
    canonicalize.py iterative-loop rule). No window, no collect; state
    is O(nodes * 2^b) ints.

    -> (node, regs, n_zero, est_distinct) at the final radius; regs is
    the dense 2^b register array of sketches.hll_sketch.
    """
    from lamapi_spark.ops.sketches import hll_estimate

    return hll_estimate(_hyperball_rounds(edges, radius, b)[-1], b=b)


def _hyperball_rounds(edges: DataFrame, radius: int,
                      b: int) -> list[DataFrame]:
    """The HyperBall round loop: counter frames [(node, regs)] at
    radii 0..radius (shared by hyperball / hyperball_harmonic)."""
    from lamapi_spark.ops.sketches import hll_merge, hll_sketch

    ed = edges.select("src", "dst").distinct().localCheckpoint(eager=True)
    nodes = (ed.select(F.col("src").alias("node"))
             .unionByName(ed.select(F.col("dst").alias("node")))
             .distinct())
    cur = hll_sketch(nodes, ["node"], "node", b=b).localCheckpoint(eager=True)
    frames = [cur]
    for _ in range(radius):
        contrib = (ed.join(cur.withColumnRenamed("node", "dst"), "dst")
                   .select(F.col("src").alias("node"), "regs"))
        cur = hll_merge(cur.unionByName(contrib), ["node"],
                        b=b).localCheckpoint(eager=True)
        frames.append(cur)
    return frames


def hyperball_harmonic(edges: DataFrame, radius: int = 3,
                       b: int = 6) -> DataFrame:
    """Truncated harmonic centrality estimate via HyperBall — the
    paper's headline application (Boldi & Vigna 2013 compute exactly
    this from per-radius counter snapshots): H(v) = sum over r=1..R of
    (|ball(v,r)| - |ball(v,r-1)|) / r, the sum of 1/d(v,u) over nodes
    within the horizon (exact harmonic centrality when R >= diameter;
    OUT-distance convention — pass reversed edges for the in-distance
    centrality the paper ranks by).

    Float discipline: per-radius estimates are the 6-dp-rounded
    hll_estimate values; per-radius deltas clamp at 0 (registers only
    grow, but the linear-counting/raw estimate switch is not perfectly
    monotone at the regime boundary); the per-node sum folds IN RADIUS
    ORDER over a sorted in-row array — a fixed association order of
    deterministic IEEE ops over already-6dp-rounded inputs, so the RAW
    double is bit-identical in any engine and the harmonic is emitted
    UNROUNDED (a final 6-dp round would land on exact grid midpoints
    — deltas of 6-dp values halved — where BigDecimal-based and
    multiply-rint-based round-half-even implementations disagree).

    Scale shape: the hyperball loop (see hyperball) plus one
    (node, r, est) union — radius+1 rows per node — and one
    groupBy(node) whose collected array is bounded by radius+1.

    -> (node, arr of (r, est) ascending, harmonic).
    """
    from lamapi_spark.ops.sketches import hll_estimate

    frames = _hyperball_rounds(edges, radius, b)
    hist = None
    for r, f in enumerate(frames):
        h = hll_estimate(f, b=b).select(
            "node", F.lit(r).cast("int").alias("r"),
            F.col("est_distinct").alias("est"))
        hist = h if hist is None else hist.unionByName(h)
    per = (hist.groupBy("node")
           .agg(F.sort_array(F.collect_list(
               F.struct("r", "est"))).alias("arr")))
    term = lambda acc, p: acc + F.greatest(
        F.element_at("arr", p).est - F.element_at("arr", p - 1).est,
        F.lit(0.0)) / F.element_at("arr", p).r.cast("double")
    harmonic = F.aggregate(
        F.sequence(F.lit(2), F.size("arr")), F.lit(0.0), term)
    return per.select("node", "arr", harmonic.alias("harmonic"))


def hyperball_nf(edges: DataFrame, radius: int = 3,
                 b: int = 6) -> DataFrame:
    """Global neighborhood function / distance CDF from the HyperBall
    counters: NF(r) = sum over nodes of |ball(v, r)| — the number of
    reachable (source, target) pairs within r hops. frac = NF(r) /
    NF(radius) is the cumulative distance distribution the effective
    diameter reads off (the classic ANF/HyperANF statistic: the 90%
    effective diameter is the smallest r with frac >= 0.9, exact when
    ``radius`` reaches the true diameter).

    Determinism: per-node estimates are 6-dp-rounded doubles; the
    GLOBAL sum casts them to DECIMAL(18,6) first — exact, associative,
    order-independent (a double sum over 10^9 nodes would depend on
    the combine order). frac is ONE double division of the two exact
    sums (off the representable 6-dp grid, so no round-boundary
    coupling), rounded half-even to 6 dp.

    Scale shape: the hyperball loop plus one 1-row decimal-sum fold
    per radius (radius+1 tiny frames), unioned and crossed with the
    1-row NF(radius) frame. -> (r, nf, frac, ge90) ascending by r.
    """
    from lamapi_spark.ops.sketches import hll_estimate

    frames = _hyperball_rounds(edges, radius, b)
    nf = None
    for r, f in enumerate(frames):
        one = hll_estimate(f, b=b).agg(
            F.lit(r).cast("int").alias("r"),
            F.sum(F.col("est_distinct").cast("decimal(18,6)"))
            .cast("decimal(28,6)").alias("_nf"))
        nf = one if nf is None else nf.unionByName(one)
    top = nf.agg(F.max(F.struct("r", "_nf")).alias("_t")) \
            .select(F.col("_t._nf").alias("_nfmax"))
    frac = F.bround(F.col("_nf").cast("double")
                    / F.col("_nfmax").cast("double"), 6)
    return (nf.join(F.broadcast(top))
            .select("r", F.col("_nf").cast("double").alias("nf"),
                    frac.alias("frac"),
                    (frac >= 0.9).alias("ge90"))
            .orderBy("r"))


def predicate_functionality(triples: DataFrame) -> DataFrame:
    """Per-predicate functionality statistics (the PARIS ontology-
    alignment primitives, Suchanek et al. 2011): over the DISTINCT
    fact set, fun(p) = #subjects / #facts (1.0 = every subject has
    exactly one object — birthDate-like), inv_fun(p) = #objects /
    #facts (1.0 = objects identify their subject — an inverse key,
    the signal entity-resolution trusts most). The first schema audit
    a KG consumer runs before joining predicates across sources
    (reference analogue: the reference's summary endpoint counts
    predicate frequency — operators/summary.py; this adds the
    key-ness dimensions alignment needs).

    Scale shape: one distinct on (subj, pred, obj) — assertion
    multiplicity must not bias key-ness — then ONE hash agg per pred
    with two partial-distinct counts planned on the same key; ratios
    are single divisions rounded half-even to 6 dp.

    -> (pred, n_facts, n_subj, n_obj, functionality, inv_functionality).
    """
    t = triples.select("subj", "pred", "obj").distinct()
    agg = (t.groupBy("pred")
           .agg(F.count("*").alias("n_facts"),
                F.countDistinct("subj").alias("n_subj"),
                F.countDistinct("obj").alias("n_obj")))
    return agg.select(
        "pred", "n_facts", "n_subj", "n_obj",
        F.bround(F.col("n_subj") / F.col("n_facts"),
                 6).alias("functionality"),
        F.bround(F.col("n_obj") / F.col("n_facts"),
                 6).alias("inv_functionality"))


def mine_horn_rules(triples: DataFrame, min_support: int = 2,
                    min_conf_bp: int = 5000,
                    max_fanout: int = 10_000) -> DataFrame:
    """AMIE-style horn-rule mining over the materialized KG (Galárraga
    et al. 2013, reduced to the two closed-rule shapes that cover most
    of its mined output): length-1 rules  p(x,y) => r(x,y)  and chain
    rules  p(x,y) ∧ q(y,z) => r(x,z). The KB-completion step a
    KG-construction pipeline runs on its own output — high-confidence
    rules propose missing facts and flag contradicting ones
    (reference analogue: none; builder's-brief surface beside
    induce_schema, which learns type signatures where this learns
    implications).

    Standard CWA metrics on DISTINCT head-variable pairs: support =
    #distinct (x,z) satisfying body AND head; body_n = #distinct
    (x,z) satisfying the body; confidence gated by the EXACT integer
    product  support * 10000 >= min_conf_bp * body_n  (the
    mine_aliases discipline) and reported as the floor division.
    Reflexive bodies (p == q with x == z) stay in — AMIE's convention;
    trivial self-implications (head == a body atom's predicate in the
    length-1 case) are excluded by p != r.

    Scale shape: one distinct over the fact set; the chain join keys
    on the SHARED entity y and is the one quadratic risk — per-y cost
    is in-degree(y) * out-degree(y), so ``max_fanout`` drops
    super-hub join entities first (the common_neighbor_pairs /
    max_df trade, documented recall loss on hubs); projections are
    deduped BEFORE counting so hot paths collapse early. Everything
    downstream is (pred…)-keyed counting — at most |P|^3 rule rows.

    -> (rule, p, q, r, support, body_n, conf_bp); q is null for
    length-1 rules; ordered nowhere (caller sorts).
    """
    # cache the narrow distinct fact frame: EIGHT downstream references
    # (the length-1 self-join's two sides, body1, both degree aggs, the
    # chain join's two sides, the chain-head join) and Catalyst does not
    # dedupe common subtrees — unbuffered, the caller's fact derivation
    # executed once per reference (round-6 plan audit: 160 scans of the
    # base table in one contract-query plan). Same cache_narrow
    # discipline as common_neighbor_pairs.
    from lamapi_spark.pipeline.cache_registry import scoped_cache
    t = scoped_cache(triples.select("subj", "pred", "obj").distinct())

    # ---- length-1: p(x,y) => r(x,y)
    pairs1 = t  # body instantiations per p are the facts themselves
    body1 = pairs1.groupBy("pred").agg(F.count("*").alias("body_n"))
    sup1 = (pairs1.alias("b")
            .join(pairs1.alias("h"),
                  (F.col("b.subj") == F.col("h.subj"))
                  & (F.col("b.obj") == F.col("h.obj"))
                  & (F.col("b.pred") != F.col("h.pred")))
            .groupBy(F.col("b.pred").alias("p"),
                     F.col("h.pred").alias("r"))
            .agg(F.count("*").alias("support")))
    r1 = (sup1.join(body1.withColumnRenamed("pred", "p"), "p")
          .select(F.lit("p(x,y) => r(x,y)").alias("rule"),
                  "p", F.lit(None).cast("string").alias("q"), "r",
                  "support", "body_n"))

    # ---- chain: p(x,y) & q(y,z) => r(x,z)
    deg_in = t.groupBy(F.col("obj").alias("y")).agg(
        F.count("*").alias("_di"))
    deg_out = t.groupBy(F.col("subj").alias("y")).agg(
        F.count("*").alias("_do"))
    hot = (deg_in.join(deg_out, "y")
           .filter(F.col("_di") * F.col("_do") > int(max_fanout))
           .select("y"))
    lhs = (t.select(F.col("pred").alias("p"), F.col("subj").alias("x"),
                    F.col("obj").alias("y"))
           .join(hot, "y", "left_anti"))
    rhs = (t.select(F.col("pred").alias("q"), F.col("subj").alias("y"),
                    F.col("obj").alias("z"))
           .join(hot, "y", "left_anti"))
    # paths feeds body2 AND the support join — cache the deduped frame
    # so the quadratic chain join runs once, not twice
    paths = scoped_cache(lhs.join(rhs, "y")
                         .select("p", "q", "x", "z").distinct())
    body2 = paths.groupBy("p", "q").agg(F.count("*").alias("body_n"))
    sup2 = (paths.join(t.select(F.col("pred").alias("r"),
                                F.col("subj").alias("x"),
                                F.col("obj").alias("z")),
                       ["x", "z"])
            .groupBy("p", "q", "r").agg(F.count("*").alias("support")))
    r2 = (sup2.join(body2, ["p", "q"])
          .select(F.lit("p(x,y) & q(y,z) => r(x,z)").alias("rule"),
                  "p", "q", "r", "support", "body_n"))

    out = r1.unionByName(r2)
    return (out.filter((F.col("support") >= F.lit(int(min_support)))
                       & (F.col("support") * 10000
                          >= F.lit(int(min_conf_bp)) * F.col("body_n")))
            .withColumn("conf_bp",
                        F.expr("support * 10000L div body_n")))


def apply_horn_rules(triples: DataFrame, rules: DataFrame,
                     max_fanout: int = 10_000) -> DataFrame:
    """KB completion: instantiate mined horn rules (the
    mine_horn_rules output shape) against the fact set and emit the
    PREDICTED facts — body matches whose head is absent. The step
    that turns rule mining into new KG rows for review or
    high-confidence auto-merge (AMIE's own application mode).

    A prediction's ``conf_bp`` is the MAX confidence over the rules
    deriving it and ``n_rules`` counts those distinct rules —
    independent derivations are the reviewer's corroboration signal.
    The existing-fact exclusion is one left-anti join on the full
    (subj, pred, obj) key.

    Scale shape: the rules frame is at most |P|^3 rows — broadcast
    onto the path/fact stream (never shuffled); chain instantiation
    reuses the mining join's y-key shape with the same ``max_fanout``
    hub guard; the dedup/argmax is one (subj, pred, obj)-keyed agg.

    -> (subj, pred, obj, conf_bp, n_rules).
    """
    t = triples.select("subj", "pred", "obj").distinct()
    r1 = (rules.filter(F.col("q").isNull())
          .select(F.col("p"), F.col("r"), F.col("conf_bp")))
    c1 = (t.join(F.broadcast(r1), t.pred == r1.p)
          .select("subj", F.col("r").alias("_hp"), "obj",
                  "conf_bp", F.concat("p", F.lit("=>"), "r").alias("_rid")))
    r2 = (rules.filter(F.col("q").isNotNull())
          .select("p", "q", "r", "conf_bp"))
    deg_in = t.groupBy(F.col("obj").alias("y")).agg(
        F.count("*").alias("_di"))
    deg_out = t.groupBy(F.col("subj").alias("y")).agg(
        F.count("*").alias("_do"))
    hot = (deg_in.join(deg_out, "y")
           .filter(F.col("_di") * F.col("_do") > int(max_fanout))
           .select("y"))
    lhs = (t.select(F.col("pred").alias("_bp"), F.col("subj").alias("x"),
                    F.col("obj").alias("y"))
           .join(hot, "y", "left_anti"))
    rhs = (t.select(F.col("pred").alias("_bq"), F.col("subj").alias("y"),
                    F.col("obj").alias("z"))
           .join(hot, "y", "left_anti"))
    paths = (lhs.join(rhs, "y")
             .select("_bp", "_bq", "x", "z").distinct())
    c2 = (paths.join(F.broadcast(r2), (paths._bp == r2.p)
                     & (paths._bq == r2.q))
          .select(F.col("x").alias("subj"), F.col("r").alias("_hp"),
                  F.col("z").alias("obj"), "conf_bp",
                  F.concat("p", F.lit("&"), "q",
                           F.lit("=>"), "r").alias("_rid")))
    cand = (c1.select(F.col("subj"), F.col("_hp").alias("pred"),
                      F.col("obj"), "conf_bp", "_rid")
            .unionByName(c2.select(F.col("subj"),
                                   F.col("_hp").alias("pred"),
                                   F.col("obj"), "conf_bp", "_rid")))
    merged = (cand.groupBy("subj", "pred", "obj")
              .agg(F.max("conf_bp").alias("conf_bp"),
                   F.countDistinct("_rid").alias("n_rules")))
    return merged.join(t, ["subj", "pred", "obj"], "left_anti")


def cardinality_violations(triples: DataFrame,
                           min_functionality_bp: int = 9000,
                           min_facts: int = 10) -> DataFrame:
    """Functionality-based anomaly detection: for predicates the KG
    itself shows to be quasi-functional (predicate_functionality >=
    ``min_functionality_bp`` basis points over >= ``min_facts``
    distinct facts), flag the subjects asserting MORE than one object
    — a person with two birth dates is an extraction error or an
    unresolved duplicate, and quasi-functional predicates are where
    that error is detectable from the data alone (the PARIS/AMIE
    observation; reference analogue: none — builder's-brief QC beside
    type_violations, which needs a typed schema where this needs
    nothing).

    The functionality gate is the EXACT integer product
    ``n_subj * 10000 >= bp * n_facts`` — no float threshold. Output
    one row per violating (pred, subj) with its object count and the
    lexicographically smallest and largest objects as the bounded
    review sample (two conditional aggregates, no per-group sort).

    Scale shape: the predicate_functionality agg (predicate-keyed,
    tiny) broadcast back onto ONE (pred, subj)-keyed count agg; the
    sample objects come from the same agg via conditional min — no
    window, no collect_list of unbounded object sets.

    -> (pred, subj, n_objects, obj_a, obj_b).
    """
    t = triples.select("subj", "pred", "obj").distinct()
    fun = (t.groupBy("pred")
           .agg(F.count("*").alias("_nf"),
                F.countDistinct("subj").alias("_ns"))
           .filter((F.col("_nf") >= F.lit(int(min_facts)))
                   & (F.col("_ns") * 10000
                      >= F.lit(int(min_functionality_bp)) * F.col("_nf")))
           .select("pred"))
    per_subj = (t.join(F.broadcast(fun), "pred")
                .groupBy("pred", "subj")
                .agg(F.count("*").alias("n_objects"),
                     F.min("obj").alias("obj_a"),
                     F.max("obj").alias("_mx")))
    return (per_subj.filter(F.col("n_objects") >= 2)
            .select("pred", "subj", "n_objects", "obj_a",
                    F.col("_mx").alias("obj_b")))


def _edge_triangle_support(und: DataFrame) -> DataFrame:
    """Per-edge triangle support over a canonical undirected edge set
    (a < b, distinct): degree-oriented wedge enumeration (each
    triangle counted once — the triangle_counts bound), then each
    triangle (u, x, y) credits its three canonical edges.
    -> (a, b, support) for edges in >= 1 triangle."""
    deg = (und.select(F.col("a").alias("n")).unionAll(
               und.select(F.col("b").alias("n")))
           .groupBy("n").agg(F.count("*").alias("d")))
    withdeg = (und.join(deg.withColumnRenamed("n", "a")
                        .withColumnRenamed("d", "da"), "a")
               .join(deg.withColumnRenamed("n", "b")
                     .withColumnRenamed("d", "db"), "b"))
    oriented = withdeg.select(
        F.when((F.col("da") < F.col("db"))
               | ((F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))),
               F.struct(F.col("a").alias("u"), F.col("b").alias("v")))
        .otherwise(F.struct(F.col("b").alias("u"), F.col("a").alias("v")))
        .alias("e")).select("e.u", "e.v")
    w1 = oriented.select(F.col("u"), F.col("v").alias("x"))
    w2 = oriented.select(F.col("u"), F.col("v").alias("y"))
    wedges = w1.join(w2, "u").filter(F.col("x") < F.col("y"))
    closing = und.select(F.col("a").alias("x"), F.col("b").alias("y"))
    tris = wedges.join(closing, ["x", "y"])
    side = lambda p, q: tris.select(F.least(p, q).alias("a"),
                                    F.greatest(p, q).alias("b"))
    cred = (side("u", "x").unionAll(side("u", "y"))
            .unionAll(side("x", "y")))
    return cred.groupBy("a", "b").agg(F.count("*").alias("support"))


def k_truss(edges: DataFrame, k: int = 4,
            n_rounds: int = 16) -> DataFrame:
    """k-truss decomposition (Cohen 2008): the maximal subgraph whose
    EVERY edge closes >= k-2 triangles within the subgraph — the
    edge-level cohesion filter where k_core is the node-level one
    (a k-core can be a sparse hairball; a k-truss is triangle-dense by
    construction), the community-core extraction step ER pipelines run
    before trusting dense match neighborhoods.

    Peel loop: recompute per-edge triangle support over the SURVIVING
    edges, drop edges below k-2, repeat to the fixed point (early
    exit on an unchanged edge count; ``n_rounds`` bounds the cascade
    — the k_core fixed-iteration contract). Each round is the
    degree-oriented triangle enumeration (|E|^1.5 wedge bound, hub-
    safe) plus one (edge)-keyed count agg; the edge frame
    localCheckpoints every round (the canonicalize.py loop rule).

    Determinism: the surviving edge SET is a pure function of the
    input edge set (support counting has no ties to break), so any
    engine converges to the identical subgraph.

    -> (a, b, support) for the surviving canonical edges, with their
    final-round support. Requires k >= 3 (the 2-truss is trivially
    every edge; the support frame only carries triangle-closing edges,
    so k=2 would silently drop triangle-free edges).
    """
    if k < 3:
        raise ValueError("k_truss requires k >= 3 (2-truss = all edges)")
    und = (edges.select(F.col("src").alias("a"), F.col("dst").alias("b"))
           .filter(F.col("a") != F.col("b")))
    und = (und.select(F.least("a", "b").alias("a"),
                      F.greatest("a", "b").alias("b"))
           .distinct().localCheckpoint(eager=True))
    n_prev = und.count()
    kept = und.withColumn("support", F.lit(0).cast("long"))
    for _ in range(n_rounds):
        kept = (_edge_triangle_support(und)
                .filter(F.col("support") >= F.lit(int(k) - 2))
                .localCheckpoint(eager=True))
        n = kept.count()
        und = kept.select("a", "b")
        if n == n_prev:
            # fixed point: supports were computed over this same edge
            # set, so the reported support IS the in-truss support
            break
        n_prev = n
    return kept


def predicate_overlap(triples: DataFrame, min_common: int = 2,
                      min_jaccard_bp: int = 0) -> DataFrame:
    """Predicate synonym candidates by EXTENSION overlap: for every
    predicate pair, the Jaccard of their (subj, obj) fact-pair sets —
    two predicates asserting largely the same pairs are merge
    candidates (schema drift, source vocabulary mismatch), the
    extension half of PARIS alignment where predicate_functionality
    is the key-ness half (reference analogue: none; builder's-brief
    schema-repair surface beside induce_schema / mine_horn_rules).

    Jaccard gates on the EXACT integer product
    ``common * 10000 >= bp * (na + nb - common)`` and reports the
    floor division. Ordered pairs are emitted once (p < r
    lexicographically).

    Scale shape: one distinct, one self-join on the (subj, obj) pair
    key — co-partitioned, each fact pair fans out only by the
    predicates asserting it (bounded by |P|) — one pair-count agg and
    a broadcast per-predicate size join. -> (p, r, common, n_p, n_r,
    jaccard_bp).
    """
    t = triples.select("subj", "pred", "obj").distinct()
    sizes = t.groupBy("pred").agg(F.count("*").alias("n"))
    a = t.select("subj", "obj", F.col("pred").alias("p"))
    b = t.select("subj", "obj", F.col("pred").alias("r"))
    common = (a.join(b, ["subj", "obj"])
              .filter(F.col("p") < F.col("r"))
              .groupBy("p", "r").agg(F.count("*").alias("common")))
    out = (common
           .join(F.broadcast(sizes.select(F.col("pred").alias("p"),
                                          F.col("n").alias("n_p"))), "p")
           .join(F.broadcast(sizes.select(F.col("pred").alias("r"),
                                          F.col("n").alias("n_r"))), "r"))
    union = F.col("n_p") + F.col("n_r") - F.col("common")
    return (out.filter((F.col("common") >= F.lit(int(min_common)))
                       & (F.col("common") * 10000
                          >= F.lit(int(min_jaccard_bp)) * union))
            .select("p", "r", "common", "n_p", "n_r",
                    F.expr("common * 10000L div (n_p + n_r - common)")
                    .alias("jaccard_bp")))


def type_subsumption(ent_types: DataFrame, min_sub_bp: int = 9500,
                     min_count: int = 3) -> DataFrame:
    """Type-hierarchy induction from extension containment: type A is
    subsumed by type B when nearly every A-typed entity is also
    B-typed (containment |A∩B|/|A| >= ``min_sub_bp``) and B is
    strictly broader (|B| > |A|, which also breaks mutual-containment
    cycles of equal-extension aliases — those are synonym pairs, not
    hierarchy, and surface through predicate_overlap-style symmetric
    Jaccard instead). The ontology-structure step a from-scratch KG
    needs because nothing hands it a class tree (reference analogue:
    the reference SERVES wikidata's existing type system; this
    induces one — builder's-brief schema surface beside
    induce_schema).

    ``ent_types`` = (entity, type) rows, multiplicity-safe (distinct
    applied). Exact integer product gate; sub_bp reported as floor
    division.

    Scale shape: one distinct, one entity-keyed self-join (fanout =
    types per entity, naturally small), one (a, b) pair-count agg,
    broadcast size joins. -> (sub_type, super_type, n_sub, n_super,
    common, sub_bp).
    """
    t = ent_types.select("entity", "type").distinct()
    sizes = t.groupBy("type").agg(F.count("*").alias("n"))
    a = t.select("entity", F.col("type").alias("ta"))
    b = t.select("entity", F.col("type").alias("tb"))
    common = (a.join(b, "entity")
              .filter(F.col("ta") != F.col("tb"))
              .groupBy("ta", "tb").agg(F.count("*").alias("common")))
    out = (common
           .join(F.broadcast(sizes.select(F.col("type").alias("ta"),
                                          F.col("n").alias("n_sub"))), "ta")
           .join(F.broadcast(sizes.select(F.col("type").alias("tb"),
                                          F.col("n").alias("n_super"))),
                 "tb"))
    return (out.filter((F.col("n_super") > F.col("n_sub"))
                       & (F.col("common") >= F.lit(int(min_count)))
                       & (F.col("common") * 10000
                          >= F.lit(int(min_sub_bp)) * F.col("n_sub")))
            .select(F.col("ta").alias("sub_type"),
                    F.col("tb").alias("super_type"),
                    "n_sub", "n_super", "common",
                    F.expr("common * 10000L div n_sub").alias("sub_bp")))


def ego_net_sample(edges: DataFrame, seeds: DataFrame, hops: int = 2,
                   fanout: int = 3) -> DataFrame:
    """Deterministic GraphSAGE-style neighborhood sampling: per seed,
    expand ``hops`` BFS levels taking at most ``fanout`` out-neighbors
    per frontier node, chosen by the md5 hash of the edge — the
    subgraph-extraction step GNN training data needs, with the repo's
    determinism contract instead of an RNG (the sample is a pure
    function of the edge set: reproducible across engines,
    partitionings, and reruns; re-seeding = re-salting the hash
    input). Reference analogue: none; builder's-brief training-data
    surface beside random_walks.

    Per-seed frontier discipline is bfs_distances': a node expands
    once per seed (anti-join against the seed's visited set), so a
    cycle never re-samples. The fanout cut is a row_number window per
    (seed, frontier node) ordered by (hash48(src|dst), dst) — the
    window partition holds one node's adjacency for one seed; a hot
    hub sorts its adjacency once per visiting seed, which IS the
    sampling cost (fanout caps the OUTPUT, the candidate list is the
    degree — the same trade every GraphSAGE implementation makes).

    -> (seed, hop, src, dst): the sampled edges, hop = 1-based level.
    """
    from lamapi_spark.ops.sketches import hash48

    ed = edges.select("src", "dst").distinct().localCheckpoint(eager=True)
    frontier = (seeds.select(F.col("seed").alias("seed"))
                .distinct()
                .withColumn("node", F.col("seed")))
    visited = frontier.select("seed", "node").localCheckpoint(eager=True)
    out = None
    w = Window.partitionBy("seed", "src").orderBy("_h", "dst")
    for h in range(1, int(hops) + 1):
        cand = (frontier.join(ed, frontier.node == ed.src)
                .select("seed", "src", "dst",
                        F.concat("src", F.lit("|"), "dst").alias("_ck"))
                .select("seed", "src", "dst", hash48("_ck").alias("_h")))
        sampled = (cand.withColumn("_rk", F.row_number().over(w))
                   .filter(F.col("_rk") <= int(fanout))
                   .select("seed", F.lit(h).cast("int").alias("hop"),
                           "src", "dst")
                   .localCheckpoint(eager=True))
        out = sampled if out is None else out.unionByName(sampled)
        nxt = (sampled.select("seed", F.col("dst").alias("node")).distinct()
               .join(visited, ["seed", "node"], "left_anti")
               .localCheckpoint(eager=True))
        if nxt.limit(1).count() == 0:
            break
        visited = visited.unionByName(nxt).localCheckpoint(eager=True)
        frontier = nxt
    return out


def degree_assortativity(edges: DataFrame) -> DataFrame:
    """Newman's degree assortativity coefficient over an UNDIRECTED
    edge set (a, b) — does the KG's co-occurrence graph wire hubs to
    hubs (assortative, r > 0) or hubs to leaves (disassortative,
    r < 0, the shape entity-mention graphs usually have)? The one
    scalar every graph census reports next to degree/triangles
    (Newman 2002). Reference analogue: none; builder's-brief graph
    surface.

    Exact-integer identity: over the SYMMETRIZED distinct edge-end
    list (both orientations, m = 2|E| rows) with x = deg(u),
    y = deg(v) per row, symmetry gives sum x = sum y and
    sum x^2 = sum y^2, so Pearson's r collapses to

        r = (m * sxy - sx^2) / (m * sxx - sx^2)

    — no sqrt, every term an exact integer product (DECIMAL(38,0)
    Spark-side, HUGEINT in the oracle twin; exact while m*sxx <
    10^38). ONE double division, half-even 6 dp; a degree-regular
    graph (den = 0) reads 0.0 by convention.

    Scale shape: one distinct symmetrize, one degree agg, two
    broadcast-or-shuffle joins keyed by the edge ends (hot hubs cost
    their degree in join fanout — the same bound every edge-keyed
    pass here pays), one 1-row rollup. -> ONE row
    (m, sx, sxx, sxy, r).
    """
    sym = (edges.select(F.col("a").alias("x"), F.col("b").alias("y"))
           .unionByName(edges.select(F.col("b").alias("x"),
                                     F.col("a").alias("y")))
           .distinct())
    deg = sym.groupBy("x").agg(F.count("*").alias("_d"))
    ends = (sym.join(deg, "x")
            .withColumnRenamed("_d", "_dx")
            .join(deg.select(F.col("x").alias("y"),
                             F.col("_d").alias("_dy")), "y"))
    agg = ends.agg(
        F.count("*").alias("m"),
        F.coalesce(F.sum("_dx"), F.lit(0)).alias("sx"),
        F.coalesce(F.sum(F.col("_dx") * F.col("_dx")), F.lit(0))
        .alias("sxx"),
        F.coalesce(F.sum(F.col("_dx") * F.col("_dy")), F.lit(0))
        .alias("sxy"))
    dec = lambda c: F.col(c).cast("decimal(38,0)")
    num = dec("m") * dec("sxy") - dec("sx") * dec("sx")
    den = dec("m") * dec("sxx") - dec("sx") * dec("sx")
    r = F.when(den != 0, num.cast("double") / den.cast("double")) \
         .otherwise(F.lit(0.0))
    return agg.select("m", "sx", "sxx", "sxy",
                      F.bround(r, 6).alias("r"))


def clustering_coefficient(edges: DataFrame, src: str = "src",
                           dst: str = "dst") -> DataFrame:
    """Per-node local clustering coefficient over an UNDIRECTED edge
    set — cc(v) = 2*tri(v) / (d(v)*(d(v)-1)), the neighborhood-density
    scalar behind "is this entity's co-occurrence context a clique or
    a star" (Watts & Strogatz 1998); the per-node refinement of
    triangle_counts that community/QC passes threshold on. Reference
    analogue: none; builder's-brief graph surface.

    Composition: triangle_counts supplies tri(v) through the
    degree-oriented |E|^1.5 wedge join; degrees come from the SAME
    canonicalized distinct edge set (self-loops dropped, both-direction
    duplicates collapsed — the triangle_counts contract), LEFT-joined
    so triangle-free nodes report cc = 0. Only nodes with d >= 2 emit
    (cc undefined below two neighbors). tri and d are exact integers;
    cc is ONE float expression 2.0*t / (d*(d-1.0)), half-even 6 dp.

    Scale shape: triangle_counts' three exchanges + one degree agg +
    one node-keyed left join. Global transitivity, if wanted, is the
    caller's one-liner 3*sum(triangles)/sum(d*(d-1)/2) — kept out so
    the per-node frame stays the single output. -> (node, degree,
    triangles, cc) for every node of degree >= 2.
    """
    und = (edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
           .filter(F.col("a") != F.col("b")))
    und = (und.select(F.least("a", "b").alias("a"),
                      F.greatest("a", "b").alias("b")).distinct())
    deg = (und.select(F.col("a").alias("node")).unionAll(
               und.select(F.col("b").alias("node")))
           .groupBy("node").agg(F.count("*").alias("degree")))
    tri = triangle_counts(edges, src, dst)
    j = (deg.filter(F.col("degree") >= 2)
         .join(tri, "node", "left")
         .withColumn("triangles",
                     F.coalesce("triangles", F.lit(0)).cast("long")))
    cc = (F.lit(2.0) * F.col("triangles")
          / (F.col("degree") * (F.col("degree") - F.lit(1.0))))
    return j.select("node", F.col("degree").cast("long").alias("degree"),
                    "triangles", F.bround(cc, 6).alias("cc"))


def dyad_census(edges: DataFrame, src: str = "src",
                dst: str = "dst") -> DataFrame:
    """Holland-Leinhardt dyad census of a DIRECTED graph — mutual /
    asymmetric / null dyad counts plus edge reciprocity, the
    directed-structure QC scalar (a KG predicate like "spouse" should
    reciprocate; "capital_of" should not — a reciprocity shift after
    an extraction change is a regression signal). Reference analogue:
    none; builder's-brief graph census beside degree_assortativity.

    Conventions: self-loops dropped, duplicate directed edges
    collapsed first. With E distinct directed edges of which R have
    their reverse present (R = 2*mutual), mutual = R/2 (exact — R is
    even by construction), asym = E - R, null = C(n,2) - mutual -
    asym over the n participating nodes, and reciprocity = R / E
    (Garlaschelli-Loffredo r), ONE double division half-even 6 dp;
    E = 0 reads 0.0. C(n,2) runs in DECIMAL(38,0) (exact past the
    2^63 bound at n > 4e9).

    Scale shape: one distinct, one self-join keyed on the flipped
    pair (both sides shuffle once on the pair key — co-partitioned;
    a LEFT SEMI so only reciprocated edges survive), two 1-row
    rollups. -> ONE row (n_nodes, n_edges, mutual, asym, nulls,
    reciprocity).
    """
    e = (edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
         .filter(F.col("a") != F.col("b")).distinct())
    rev = e.select(F.col("b").alias("a"), F.col("a").alias("b"))
    recip = e.join(rev, ["a", "b"], "left_semi")
    nodes = (e.select(F.col("a").alias("n"))
             .unionAll(e.select(F.col("b").alias("n")))
             .agg(F.count_distinct("n").alias("n_nodes")))
    counts = (e.agg(F.count("*").alias("n_edges"))
              .join(F.broadcast(recip.agg(F.count("*").alias("_r"))))
              .join(F.broadcast(nodes)))
    dec = lambda c: c.cast("decimal(38,0)")
    mutual = (F.col("_r") / 2).cast("long")
    asym = F.col("n_edges") - F.col("_r")
    pairs = (dec(F.col("n_nodes")) * (dec(F.col("n_nodes")) - 1)
             / 2).cast("decimal(38,0)")
    rec = F.when(F.col("n_edges") > 0,
                 F.col("_r") / F.col("n_edges")).otherwise(F.lit(0.0))
    return counts.select(
        "n_nodes", "n_edges", mutual.alias("mutual"),
        asym.cast("long").alias("asym"),
        (pairs - dec(mutual) - dec(asym)).cast("long").alias("nulls"),
        F.bround(rec, 6).alias("reciprocity"))
