"""Per-conversation entity salience: which entities anchor a
conversation's triples.

A 10^12-turn KG-construction run does not treat every detected entity
equally — triple mining, coref antecedent choice, and downstream
ranking all want the conversation's *anchor* entities first. The
standard signal is TF-IDF shaped: an entity that dominates one
conversation but is rare across the corpus is salient; an entity that
appears everywhere ('the assistant') is not.

Scale shape (the whole point — see the repo's plan-lessons):

- ``tf`` is ONE partial-aggregating groupBy on (conv_id, entity) —
  map-side combine collapses the per-turn occurrence stream before the
  exchange, so shuffled rows are bounded by distinct (conv, entity),
  not by turn count.
- ``df`` / ``n_convs`` derive from the ALREADY-AGGREGATED tf frame
  (dimension-sized input), never from raw occurrences.
- the idf join is a plain equi-join on entity with NO strategy hint:
  at sandbox scale AQE broadcasts the dimension frame; at a 10^8-entity
  dictionary it is a shuffle join on fixed-width rows — exactly the
  gate discipline operators/lookup.py measured both ways.
- the per-conversation top-k is folded INTO the conv groupBy as an
  in-array sort+slice (plan lesson 5: a window feeding a group-by on a
  key prefix is an exchange in disguise; per-conv distinct entities
  are bounded by turns-per-conv, so the array is small by
  construction). No Window, no extra exchange.

Determinism: salience = bround(tf * ln(n_convs / df), 6) — one
multiply, one ln, round-even to 6 (the corpus BM25/LM ln discipline);
ties break ascending on entity. The in-array sort key negates the
rounded double, so cross-partition arrival order cannot reorder equal
scores.

Reference analogue: none (lamAPI has no per-document ranking) — this
is builder's-brief surface for the transcript KG pipeline.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from lamapi_spark.ops.graph import DAMPING_PCT


def entity_salience(occurrences: DataFrame, top_k: int = 3,
                    cache_tf: bool = True) -> DataFrame:
    """(conv_id, entity) occurrence rows -> the top_k most salient
    entities per conversation: (conv_id, rank, entity, tf, df,
    salience). rank is 1-based, ordered by salience desc then entity
    asc.

    ``cache_tf`` caches the NARROW tf aggregate (the lookup.py
    cache_narrow discipline): tf feeds three consumers (df, n_convs,
    the score join) and Catalyst does not dedupe common subtrees, so
    without it the occurrence stream is scanned and re-aggregated
    three times — the dominant cost at 10^12 turns. The cached frame
    is the post-combine (conv, entity, tf) triple, orders of magnitude
    smaller than the occurrences. Like lookup.py's cache_narrow, the
    cache is NOT unpersisted here (the result is lazy; consumers
    collect later) — a long-lived session calling this repeatedly
    should clear cache between calls or pass cache_tf=False."""
    tf = (occurrences.select("conv_id", "entity")
          .groupBy("conv_id", "entity")
          .agg(F.count("*").alias("tf")))
    if cache_tf:
        from lamapi_spark.pipeline.cache_registry import scoped_cache
        tf = scoped_cache(tf)
    # tf is unique on (conv_id, entity): df is a plain count per entity
    df = tf.groupBy("entity").agg(F.count("*").alias("df"))
    n = tf.select(F.countDistinct("conv_id").alias("n_convs"))
    scored = (
        tf.join(df, "entity")
        .crossJoin(F.broadcast(n))  # 1-row stat frame (popularity_norm precedent)
        .withColumn(
            "salience",
            F.bround(F.col("tf").cast("double")
                     * F.log(F.col("n_convs").cast("double")
                             / F.col("df").cast("double")), 6))
    )
    item = F.struct(
        (-F.col("salience")).alias("_neg"),      # asc sort == salience desc
        F.col("entity").alias("entity"),         # tie: entity asc
        F.col("tf").alias("tf"),
        F.col("df").alias("df"),
        F.col("salience").alias("salience"),
    )
    topk = (
        scored.groupBy("conv_id")
        .agg(F.slice(F.array_sort(F.collect_list(item)), 1, top_k)
             .alias("_top"))
        .select("conv_id", F.posexplode("_top").alias("pos", "it"))
    )
    return topk.select(
        "conv_id",
        (F.col("pos") + 1).cast("int").alias("rank"),
        F.col("it.entity").alias("entity"),
        F.col("it.tf").alias("tf"),
        F.col("it.df").alias("df"),
        F.col("it.salience").alias("salience"),
    )


def similar_turn_pairs(transcripts: DataFrame, min_jaccard_bp: int) -> DataFrame:
    """Turn pairs ``ta < tb`` of one conversation whose distinct
    lowercase word tokens reach ``min_jaccard_bp`` basis points of
    Jaccard, in exact integers: common * 10000 >= bp * (na + nb - common).
    Repartitioned by conv_id, so per-conversation work downstream needs
    no further exchange.

    -> (conv_id, ta, tb, _c, _na, _nb): common tokens and both sizes."""
    toks_arr = transcripts.select(
        "conv_id", "turn_idx",
        F.filter(
            F.array_distinct(F.split(
                F.trim(F.lower(F.col("text"))), r"[^a-z0-9]+")),
            lambda t: t != "").alias("_ts"))
    toks_arr = toks_arr.repartition(F.col("conv_id"))
    toks = toks_arr.select(
        "conv_id", "turn_idx", F.size("_ts").alias("_n"),
        F.explode("_ts").alias("tok"))
    # turn_idx is unique per (conv_id, tok) group (tokens are distinct
    # within a turn), so the sorted struct array gives deterministic
    # ta < tb pair generation
    grouped = toks.groupBy("conv_id", "tok").agg(
        F.sort_array(F.collect_list(F.struct("turn_idx", "_n"))).alias("_tl"))
    pair_structs = F.expr("""
      flatten(transform(_tl, (a, i) ->
        transform(slice(_tl, i + 2, size(_tl) - i - 1), b ->
          named_struct('ta', a.turn_idx, 'na', a._n,
                       'tb', b.turn_idx, 'nb', b._n))))
    """)
    common = (grouped.select("conv_id", F.explode(pair_structs).alias("p"))
              .groupBy("conv_id", F.col("p.ta").alias("ta"),
                       F.col("p.tb").alias("tb"))
              .agg(F.count("*").alias("_c"),
                   F.min("p.na").alias("_na"), F.min("p.nb").alias("_nb")))
    return common.filter(F.col("_c") * 10000
                         >= F.lit(int(min_jaccard_bp))
                         * (F.col("_na") + F.col("_nb") - F.col("_c")))


def conv_textrank(transcripts: DataFrame, top_k: int = 2,
                  min_jaccard_bp: int = 2000, n_iter: int = 3,
                  scale: int = 10**9) -> DataFrame:
    """Extractive conversation summarization via TextRank (Mihalcea &
    Tarau 2004) with TURNS as the sentence unit: within each
    conversation, turn pairs whose token-Jaccard reaches
    ``min_jaccard_bp`` basis points form a symmetric graph; integer
    fixed-point PageRank (ops/graph.pagerank_fixed_point — BIGINT
    units, engine-exact) ranks the turns; the ``top_k`` most central
    turns per conversation are the summary — the standard way an SFT
    pipeline distills a long transcript to its anchor turns without a
    model (reference analogue: none; builder's-brief export surface
    beside exports.sft_pairs).

    Jaccard is computed in EXACT integers over distinct lowercase
    word tokens: common * 10000 >= bp * (na + nb - common) — the
    mine_aliases product-gate discipline, no float threshold. The
    similarity join explodes turns to (conv, token) and pairs WITHIN
    the conversation key, so fanout is bounded by each conversation's
    own turn count (the transcript-length bound; a corpus-hot token
    never pairs across conversations). The fixed-point recurrence has
    no cross-component term (teleport is a per-node constant; the
    symmetric edge set needs no dangling mass), so the ranks are
    computed PER CONVERSATION in-row — bit-identical to running
    ops/graph.pagerank_fixed_point over the union edge set with
    (conv, turn) composite node ids, which is how this operator was
    implemented (and differentially verified) before round 6 made the
    loop conversation-local. Isolated turns (no edge) never enter the
    graph and rank below every ranked turn by convention — a
    conversation of pairwise-dissimilar turns emits its ranked turns
    only.

    -> (conv_id, turn_idx, rank_units, rk) — rk 1-based by
    (rank_units desc, turn_idx asc), rk <= top_k.
    """
    from pyspark.sql import Window

    # Round-6 restructure (guide §2.3/§2.4 — measured, bit-identical
    # edges): the old formulation self-joined the exploded token frame
    # on (conv_id, tok) and then joined per-turn sizes twice. Catalyst
    # does not dedupe common subtrees, so the transcript->token subtree
    # (incl. any upstream window) executed FIVE times (a side, b side,
    # sa, sb) and the pair subtree TWICE (the symmetric union), each
    # behind its own exchange. Now:
    # - the per-turn token-set size rides IN-ROW on every token
    #   (computed map-side from the same array), so no sizes frame and
    #   no sizes joins exist at all;
    # - same-token turn pairs generate INSIDE a (conv_id, tok) group
    #   array (bounded by the conversation's own turn count — the
    #   transcript-length bound, unchanged), replacing the self-join's
    #   two exchanges with one;
    # - the PageRank itself runs IN-ROW per conversation (below): the
    #   fixed-point recurrence has no cross-component term — teleport
    #   is a per-node constant and symmetric edges need no dangling
    #   mass — so each conversation's ranks depend only on its own
    #   edges, and a single aggregate() over sequence(1, n_iter)
    #   replays pagerank_fixed_point's exact BIGINT arithmetic
    #   (rank div degree contributions, (85 * sum) div 100 update)
    #   inside the conversation row. This removes the global frame
    #   loop entirely: no localCheckpoint materializations, no
    #   per-iteration join+agg exchanges, and edges never cross a
    #   partition boundary — at a 10^12-turn corpus the loop's three
    #   global shuffles were the dominant non-local cost.
    # One repartition(conv_id) up front (AQE-sized, corpus-cardinality
    # key) makes every aggregation and the final window partition-local:
    # ONE data exchange end to end (was: five subtree executions, six
    # exchanges, plus 5+ checkpoint jobs in the loop).
    pairs = similar_turn_pairs(transcripts, min_jaccard_bp)
    # per-conversation in-row PageRank, replaying pagerank_fixed_point's
    # integer recurrence exactly (BIGINT units; rank div degree
    # contributions; teleport + (85 * sum) div 100 update; no-in-edge
    # nodes get teleport + 0, the frame loop's coalesce(_s, 0L)).
    # The whole iteration lives in ONE aggregate() expression whose
    # accumulator carries (rank, deg, in-lists) as values, so nothing
    # is re-evaluated across iterations (the project-collapse trap a
    # withColumn-per-iteration formulation would hit). Work per conv is
    # O(V*E + n_iter*E) on arrays bounded by the conversation's own
    # turn count — the same transcript-length bound the pair generation
    # already relies on.
    damping_pct = DAMPING_PCT  # pagerank_fixed_point's, replayed exactly
    teleport = (100 - damping_pct) * int(scale) // 100
    conv = pairs.groupBy("conv_id").agg(
        F.collect_list(F.struct(F.col("ta"), F.col("tb"))).alias("_ps"))
    conv = conv.select("conv_id", F.expr("""
      flatten(transform(_ps, p -> array(
        named_struct('s', p.ta, 'd', p.tb),
        named_struct('s', p.tb, 'd', p.ta))))
    """).alias("_es"))
    conv = conv.select(
        "conv_id",
        F.expr("array_distinct(transform(_es, e -> e.s))").alias("_nodes"),
        "_es")
    # n_iter <= 0 degrades to the init ranks like the frame loop's
    # range(n_iter) (sequence(1, 0) would step BACKWARD in Spark SQL)
    if int(n_iter) <= 0:
        pr = F.expr(f"transform(_nodes, n -> CAST({int(scale)} AS BIGINT))")
    else:
        pr = F.expr(f"""
      aggregate(
        sequence(1, {int(n_iter)}),
        named_struct(
          'rank', transform(_nodes, n -> CAST({int(scale)} AS BIGINT)),
          'deg',  transform(_nodes, n ->
                    CAST(size(filter(_es, e -> e.s = n)) AS BIGINT)),
          'inl',  transform(_nodes, n ->
                    transform(filter(_es, e -> e.d = n),
                              e -> CAST(array_position(_nodes, e.s) AS INT)))),
        (st, k) -> named_struct(
          'rank', transform(sequence(1, size(st.inl)), i ->
            CAST({teleport} AS BIGINT)
            + ({damping_pct} * aggregate(element_at(st.inl, i),
                 CAST(0 AS BIGINT),
                 (acc, s) -> acc + element_at(st.rank, s)
                             div element_at(st.deg, s))) div 100),
          'deg', st.deg,
          'inl', st.inl),
        st -> st.rank)
    """)  # noqa: E128 — continuation of the else-branch expr
    ranked = (conv.select("conv_id", "_nodes", pr.alias("_pr"))
              .select("conv_id",
                      F.explode(F.arrays_zip("_nodes", "_pr")).alias("z"))
              .select("conv_id",
                      F.col("z._nodes").cast("long").alias("turn_idx"),
                      F.col("z._pr").alias("rank_units")))
    w = Window.partitionBy("conv_id").orderBy(
        F.desc("rank_units"), F.asc("turn_idx"))
    return (ranked.withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") <= int(top_k)))
