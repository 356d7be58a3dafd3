"""Triple extraction: linked mentions -> (subj, pred, obj) with
provenance, via per-turn co-occurrence + KG edge probing.

The reference's closest shape is the predicates endpoint (J5,
api/model/data_retrievers/predicates_retriever.py:52-73): given
(subj, obj) pairs, probe the adjacency for the predicate list. Here the
pairs come from co-occurring linked mentions inside a conversation turn
(ordered by token offset — the earlier mention is the subject, matching
the "«subj» <verb phrase> «obj»" dependency-light pattern shape), and
the probe is an equi-join against the flat edges table.

Literal triples: a linked mention co-occurring with a literal-classified
token sequence in the same turn can emit attribute triples — exposed as
``literal_candidates`` for downstream use.

Scale: mention pairs are generated turn-locally after an explicit
repartition by conv_id (no shuffle for the pairing itself — it rides the
detection partitioning); the edge probe shuffles on (subj, obj) unless
the edges table is broadcastable. Head-entity skew on the probe join is
handled by AQE skew splitting (the join key includes obj, which spreads
hot subjects).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def ordered_pairs(spans: Column) -> Column:
    """In-row ordered pairing over one turn's array of (start, entity)
    structs: the earlier-start span is the subject, subj != obj, pairs
    distinct. -> array<struct<subj, obj>>. Shared by the batch
    :func:`mention_pairs` and the streaming twin
    (streaming/kg.stream_extract_triples), so the two cannot diverge."""
    return F.array_distinct(F.flatten(F.transform(
        spans, lambda a: F.filter(
            F.transform(
                spans, lambda b: F.when(
                    (a["start"] < b["start"]) & (a["entity"] != b["entity"]),
                    F.struct(a["entity"].alias("subj"),
                             b["entity"].alias("obj")))),
            lambda p: p.isNotNull()))))


def mention_pairs(linked: DataFrame) -> DataFrame:
    """Ordered co-occurrence pairs of non-NIL linked mentions per turn:
    earlier-offset mention is subject. Distinct per (conv, turn, subj, obj).

    Single-exchange formulation (round-5; plan lesson 5 — a self-join
    plus a distinct on a key superset is two exchanges in disguise):
    ONE groupBy collects each turn's (start, entity) spans into a
    sorted array, the ordered pairing (strict start <, subj != obj)
    enumerates IN-ROW over that bounded array, and the distinct
    collapses in-array (pairs carry the turn key, so global distinct ==
    per-turn distinct). The old shape scanned the linked checkpoint
    twice and exchanged twice (join + distinct); per-turn mention count
    bounds the fold, the usual turn-length argument."""
    per_turn = (
        linked.filter(~F.col("nil"))
        .select("conv_id", "turn_idx", "start", "entity")
        .groupBy("conv_id", "turn_idx")
        .agg(F.array_sort(F.collect_list(
            F.struct("start", "entity"))).alias("_ms"))
    )
    pairs = ordered_pairs(F.col("_ms"))
    return (
        per_turn.select("conv_id", "turn_idx", F.explode(pairs).alias("_p"))
        .select("conv_id", "turn_idx", "_p.subj", "_p.obj")
    )


def probe_edges(pairs: DataFrame, edges: DataFrame,
                broadcast_edges: bool = False) -> DataFrame:
    """(conv, turn, subj, obj) pairs ⋈ edges -> provenance triples."""
    e = F.broadcast(edges) if broadcast_edges else edges
    return pairs.join(e, ["subj", "obj"], "inner").select(
        "subj", "pred", "obj", "conv_id", "turn_idx")


def extract_triples(linked: DataFrame, edges: DataFrame,
                    broadcast_edges: bool = False) -> DataFrame:
    return probe_edges(mention_pairs(linked), edges, broadcast_edges)


def tool_invocation_edges(transcripts: DataFrame,
                          entity_re: str = "^[cs][0-9]+$",
                          max_turns_back: int = 10) -> DataFrame:
    """Agent-transcript tool provenance: every ``role='tool'`` turn
    emits a (tool, invoked_after, entity) triple for the most recent
    entity token mentioned in a PRIOR turn of the same conversation
    (within ``max_turns_back`` turns) — the "which tool ran against
    which entity" edge a KG over agent transcripts needs. This is the
    consumer of the input contract's role/tool columns (BASELINE.json
    input_hint: conv_id, turn_idx, role, text, tool, ts).

    Same one-window antecedent-carry shape as pipeline/coref.py: first
    entity token per turn via regexp on the split text (pure column
    exprs), then ONE last_value(IGNORE NULLS) window per conv ordered
    by turn_idx — a single exchange on conv_id, O(1) window state.

    -> (conv_id, turn_idx, tool, entity) for resolvable tool turns.
    """
    first_ent = F.get(F.filter(
        F.split(F.trim(F.col("text")), r"\s+"),
        lambda t: t.rlike(entity_re)), 0)
    base = transcripts.select(
        "conv_id", "turn_idx", "role", "tool",
        first_ent.alias("_ent"))
    from pyspark.sql.window import Window
    w = (Window.partitionBy("conv_id").orderBy("turn_idx")
         .rowsBetween(Window.unboundedPreceding, -1))
    carry = F.last(
        F.when(F.col("_ent").isNotNull(),
               F.struct(F.col("turn_idx").alias("t"),
                        F.col("_ent").alias("e"))),
        ignorenulls=True).over(w)
    return (
        base.withColumn("_a", carry)
        .filter((F.col("role") == "tool") & F.col("_a").isNotNull()
                & (F.col("turn_idx") - F.col("_a.t") <= max_turns_back))
        .select("conv_id", "turn_idx", "tool",
                F.col("_a.e").alias("entity"))
    )


def window_cooccurrence(occurrences: DataFrame,
                        max_turns: int = 2) -> DataFrame:
    """Cross-turn co-occurrence pairs per conversation window — the
    north star's "co-occurrence triple mining per conversation window"
    as a direct miner (coref_triples covers the pronoun-mediated arm;
    this pairs EXPLICIT entity mentions across nearby turns): entity
    a in turn t1 pairs with entity b in turn t2 of the same
    conversation when 0 < t2 - t1 <= ``max_turns`` (the earlier turn
    is the subject, the pipeline's ordering convention; the
    within-turn arm stays with mention_pairs).

    Scale shape: NOT the naive conv-keyed self-join with an
    inequality filter (per-conv fan-out is mentions^2 and hot
    conversations skew it — the BNLJ trap range_join_binned exists to
    avoid). Turns bin at width ``max_turns``; a qualifying pair's bins
    differ by at most 1, so the EARLIER side replicates to bins
    (b, b+1), the later side keys by its own bin, and the join is a
    plain shuffled equi-join on (conv_id, bin) — each pair emits
    exactly once (the later row's bin is unique), the exact filter
    runs after. ``occurrences`` = (conv_id, turn_idx, entity).

    -> (conv_id, turn_a, turn_b, subj, obj), distinct.
    """
    occ = (occurrences.filter(F.col("entity").isNotNull())
           .select("conv_id", "turn_idx", "entity").distinct())
    b = F.floor(F.col("turn_idx") / max_turns)
    early = occ.select(
        "conv_id", F.col("turn_idx").alias("turn_a"),
        F.col("entity").alias("subj"),
        F.explode(F.array(b.cast("long"), b.cast("long") + 1)).alias("_bin"))
    late = occ.select(
        "conv_id", F.col("turn_idx").alias("turn_b"),
        F.col("entity").alias("obj"), b.cast("long").alias("_bin"))
    d = F.col("turn_b") - F.col("turn_a")
    return (
        early.join(late, ["conv_id", "_bin"])
        .filter((d > 0) & (d <= max_turns) & (F.col("subj") != F.col("obj")))
        .select("conv_id", "turn_a", "turn_b", "subj", "obj")
    )


def verb_pattern_triples(tokens: DataFrame, verbs: tuple[str, ...],
                         entity_col: str = "entity") -> DataFrame:
    """Within-turn verb-pattern triple mining — the north star's
    "dependency-light pattern ... triple mining" as a direct surface
    miner (window_cooccurrence covers the cross-turn co-occurrence
    arm; this extracts the PREDICATE too): for every ordered entity
    pair (a at pos_a, b at pos_b > pos_a) in one turn with a lexicon
    verb v strictly between them, emit (conv_id, turn_idx, subj=a,
    pred=v, obj=b), distinct.

    ``tokens`` = (conv_id, turn_idx, pos, tok) — EVERY token position
    (the raw explode, not the entity-filtered occurrences), so verb
    positions are available; ``entity_col`` marks entity tokens
    (NULL = not an entity), the token_occurrences convention.

    Scale shape: both self-joins key on (conv_id, turn_idx) — the
    per-turn token count is bounded (the repo's bounded-group
    argument), so per-key fan-out is entities-per-turn^2 x
    verbs-per-turn, a small constant; the shuffle is one exchange on
    the turn key that AQE skew-splits if a degenerate turn appears.
    Verb membership is a broadcast-free isin over a literal lexicon.
    """
    ent = (tokens.filter(F.col(entity_col).isNotNull())
           .select("conv_id", "turn_idx", "pos", F.col(entity_col).alias("e"))
           .distinct())
    vrb = (tokens.filter(F.lower(F.col("tok")).isin(*verbs))
           .select("conv_id", "turn_idx", F.col("pos").alias("vpos"),
                   F.lower(F.col("tok")).alias("pred"))
           .distinct())
    a = ent.select("conv_id", "turn_idx", F.col("pos").alias("pa"),
                   F.col("e").alias("subj"))
    b = ent.select("conv_id", "turn_idx", F.col("pos").alias("pb"),
                   F.col("e").alias("obj"))
    return (
        a.join(b, ["conv_id", "turn_idx"])
        .filter((F.col("pb") > F.col("pa")) & (F.col("subj") != F.col("obj")))
        .join(vrb, ["conv_id", "turn_idx"])
        .filter((F.col("vpos") > F.col("pa")) & (F.col("vpos") < F.col("pb")))
        .select("conv_id", "turn_idx", "subj", "pred", "obj")
        .distinct()
    )


def verb_pattern_triples_inrow(transcripts: DataFrame,
                               verbs: tuple[str, ...],
                               entity_re: str) -> DataFrame:
    """The zero-shuffle formulation of :func:`verb_pattern_triples`:
    the whole pattern — entity positions, verb positions, the
    between-ness test — lives inside ONE turn's token array, so it
    evaluates as in-row nested higher-order functions over the
    transcript scan directly; the only exchange is the final set-
    semantics distinct. The join formulation shuffles the exploded
    token stream on (conv, turn) three times (and recomputes the
    explode per consumer — Catalyst does not dedupe common subtrees);
    at 10^12 turns that is three full-corpus shuffles vs none here.
    Per-row cost is O(E^2 x V) with E/V = entities/verbs per turn —
    bounded small by turn length; the interpreted-lambda tax
    (plan lesson 7) buys out three exchanges, the profitable
    direction of that trade.

    Oracle-equivalent to the join formulation (the contract query's
    DuckDB oracle IS the independent join formulation; both tested).
    """
    toks = F.split(F.trim(F.col("text")), r"\s+")
    pos = F.transform(toks, lambda t, i: F.struct(
        (i + 1).alias("pos"), t.alias("tok")))
    ents = F.filter(pos, lambda x: x["tok"].rlike(entity_re))
    vlit = F.array(*[F.lit(v) for v in verbs])
    vrbs = F.filter(pos, lambda x: F.array_contains(vlit, F.lower(x["tok"])))
    emit = F.flatten(F.transform(
        ents, lambda a: F.flatten(F.transform(
            ents, lambda b: F.transform(
                F.filter(vrbs, lambda v: (v["pos"] > a["pos"])
                         & (v["pos"] < b["pos"])
                         & (a["tok"] != b["tok"])),
                lambda v: F.struct(a["tok"].alias("subj"),
                                   F.lower(v["tok"]).alias("pred"),
                                   b["tok"].alias("obj")))))))
    return (
        transcripts
        .select("conv_id", "turn_idx", F.explode(emit).alias("t"))
        .select("conv_id", "turn_idx", "t.subj", "t.pred", "t.obj")
        .distinct()
    )


def tool_sequence_ngrams(transcripts: DataFrame, k: int = 2) -> DataFrame:
    """Frequent tool-invocation sequences over agent transcripts: the
    ordered tool calls of each conversation (role='tool' turns, turn_idx
    order) are mined for contiguous k-grams — the workflow-pattern
    question an agent-transcript corpus answers ("which tool chains do
    agents actually run?").

    Zero-shuffle formulation past the one per-conversation aggregation:
    the ordered tool array is assembled with the standard
    (collect_list -> array_sort -> transform) fold — arrival-order
    independent — and k-gram extraction is an in-row slice loop, so no
    exploded token stream ever shuffles. The final pattern count is a
    map-side-combinable agg over at most |tools|^k distinct patterns.

    -> (pattern, k, n_convs, n_occ): distinct conversations containing
    the chain and total occurrences (overlapping counted), pattern as
    'a>b>...'.
    """
    seq = (
        transcripts.filter(F.col("role") == "tool")
        .filter(F.col("tool").isNotNull())
        .groupBy("conv_id")
        .agg(F.transform(
            F.array_sort(F.collect_list(F.struct("turn_idx", "tool"))),
            lambda s: s["tool"]).alias("_tools"))
    )
    n = F.size("_tools")
    # guard: F.sequence(1, stop) DESCENDS when stop < 1 (it would emit
    # [1, 0] — two bogus short grams), so conversations with fewer than
    # k tool calls must yield an explicitly empty gram array
    grams = F.when(
        n >= k,
        F.transform(F.sequence(F.lit(1), n - (k - 1)),
                    lambda i: F.concat_ws(">", F.slice("_tools", i, k)))
    ).otherwise(F.array().cast("array<string>"))
    return (
        seq.select("conv_id", F.explode(grams).alias("pattern"))
        .groupBy("pattern")
        .agg(F.lit(k).cast("int").alias("k"),
             F.countDistinct("conv_id").alias("n_convs"),
             F.count("*").alias("n_occ"))
    )


def fact_support(triples: DataFrame) -> DataFrame:
    """Evidence aggregation: per-(subj, pred, obj) fact with its support
    across the corpus — the distant-supervision denoising stage between
    raw extraction and the published KG (a fact asserted once in one
    conversation is noise; one asserted across many conversations is
    signal worth keeping or human review).

    Input: extraction output with provenance (subj, pred, obj, conv_id,
    turn_idx — one row per turn-level assertion). Output: one row per
    fact with ``support`` (assertion count), ``n_convs`` (distinct
    conversations — the independence signal: 50 assertions in ONE
    conversation are one source repeating itself), and the first/last
    evidence pointer (min/max over the (conv_id, turn_idx) struct —
    deterministic, audit-trail shape).

    Scale: ONE hash aggregation keyed by the fact triple — even keys
    (hot facts are exactly what support measures, and a count/min/max
    aggregate partial-combines map-side, so a 10^6-assertion fact costs
    one cell per input partition, not a shuffle of 10^6 rows to one
    reducer). count_distinct(conv_id) is the only expansion: Spark
    plans it as a two-level partial distinct on the SAME key — still no
    skewed reducer for repeated (fact, conv) assertions.
    """
    ev = F.struct(F.col("conv_id").alias("c"), F.col("turn_idx").alias("t"))
    return (
        triples.groupBy("subj", "pred", "obj")
        .agg(F.count("*").alias("support"),
             F.countDistinct("conv_id").alias("n_convs"),
             F.min(ev).alias("_f"), F.max(ev).alias("_l"))
        .select("subj", "pred", "obj", "support", "n_convs",
                F.col("_f.c").alias("first_conv"),
                F.col("_f.t").alias("first_turn"),
                F.col("_l.c").alias("last_conv"),
                F.col("_l.t").alias("last_turn"))
    )
