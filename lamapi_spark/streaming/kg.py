"""Streaming twin of the KG-construction core: transcript turns arriving
on a stream -> linked mentions -> (subj, pred, obj) triples, with ONE
watermark-bounded stateful operator.

The batch pipeline (pipeline/run.py) decides each link as a pure
function of the surface form alone (lookup.best_links is per
mention_norm — context never enters the decision; reference analogue:
the lookup endpoint scores each query string independently,
api/model/data_retrievers/lookup_retriever.py). That makes the whole
dictionary side PRECOMPUTABLE: :func:`build_link_index` materializes
(name_norm, entity, link_score) — the linking verdict for every
distinct dictionary name — once, offline, exactly as the reference
builds its ES index offline (scripts/elastic_indexing.py) and serves
lookups from it.

The stream then needs only
- stateless span explosion per turn (the batch ``_spans`` expression),
- a stream-static join against the link index (exact arm: a span
  matches iff its string IS a dictionary name),
- ONE watermarked per-turn aggregation whose array resolves max-match
  overlap AND generates ordered co-occurrence pairs in-place (both
  turn-local, so no second stateful operator), and
- a stream-static join against the edges table for the predicate probe.

Scope: the exact arm only (fuzzy 1-edit matching needs the span's OWN
deletion neighborhood — per-surface work the static index cannot hold;
batch covers it). Exact-arm output is equivalence-tested against the
batch pipeline per micro-batch-boundary-independent construction: every
operator between source and sink is turn-local or stream-static, so
arrival order and batch slicing cannot change the emitted set — UP TO
the watermark contract: a turn arriving later than ``watermark`` behind
the stream's max event time is late data and is dropped (the standard
streaming trade; the equivalence test sizes the watermark above its
input's full time span so nothing is late).

At cluster scale the link index is a saved bucketed artifact (like
operators/indexes.LookupIndex); the sandbox tests broadcast it.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from lamapi_spark.pipeline.mentions import _inside_longer_span, _spans
from lamapi_spark.pipeline.triples import ordered_pairs

TRANSCRIPT_SCHEMA = ("conv_id string, turn_idx int, role string, "
                     "text string, tool string, ts timestamp")


def build_link_index(label_dict: DataFrame, index=None,
                     limit_per_token: int | None = None) -> DataFrame:
    """(name_norm, entity, link_score): the batch linking decision for
    every distinct dictionary name, precomputed offline.

    For a surface that IS a dictionary name the batch argmax
    (best_links: ed+jaccard+jaccardNgram desc, popularity desc, id asc)
    depends only on the surface string, so this frame IS the batch
    ``best`` frame restricted to dictionary-name surfaces — streaming
    rows joined through it link identically to the batch pipeline.
    Fuzzy=False: the index keys exact surfaces; candidate SCORING inside
    best_links still ranks the full token-match candidate set.
    """
    from lamapi_spark.operators.indexes import LookupIndex
    from lamapi_spark.operators.lookup import (
        _prepare_mentions, best_links, token_match,
    )
    if index is None:
        index = LookupIndex.build(label_dict, fuzzy=False,
                                  limit_per_token=limit_per_token)
    names = label_dict.select(F.col("name_norm").alias("mention")).distinct()
    prepared = _prepare_mentions(names, "mention")
    slim = token_match(prepared, label_dict, fuzzy=False, index=index, slim=True)
    best = best_links(slim, prepared, label_dict, index=index)
    return best.select(
        F.col("mention_norm").alias("name_norm"),
        F.col("id").alias("entity"),
        "link_score",
    )


def _read_stream(spark: SparkSession, path: str, schema: str,
                 max_files_per_trigger: int | None) -> DataFrame:
    """A parquet file stream of ``schema`` under ``path``."""
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(path)


def _resolved_turns(stream: DataFrame, link_index: DataFrame,
                    watermark: str, max_ntoken: int) -> DataFrame:
    """-> one row per closed turn: (conv_id, turn_idx, ts, _ms) where
    ``_ms`` holds the turn's max-match-resolved linked mentions."""
    spans = _spans(stream.withWatermark("ts", watermark), max_ntoken,
                   carry=("ts",))
    # exact arm: a span matches at most ONE dictionary name (name_norm
    # is distinct in the index and equals the span string), so no
    # best-name-per-position resolution is needed — only max-match.
    matched = spans.join(
        F.broadcast(link_index),
        F.col("span") == F.col("name_norm"), "inner")
    per_turn = matched.groupBy("conv_id", "turn_idx", "ts").agg(
        F.collect_list(F.struct(
            "start", "ntoken_span", F.col("span").alias("surface"),
            "entity", "link_score")).alias("_all"))
    # max-match: drop spans strictly contained in a longer matched span
    # (the batch detect_mentions predicate)
    return per_turn.select(
        "conv_id", "turn_idx", "ts",
        F.filter("_all", lambda s: ~_inside_longer_span("_all", s)).alias("_ms"),
    )


def stream_link_mentions(
    spark: SparkSession,
    path: str,
    link_index: DataFrame,
    watermark: str = "10 minutes",
    max_ntoken: int = 4,
    nil_threshold: float = 1.0,
    schema: str = TRANSCRIPT_SCHEMA,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Streaming linked-mention feed (exact arm): one row per kept span,
    (conv_id, turn_idx, ts, start, ntoken_span, surface, entity,
    link_score, nil). Append-mode-safe: the only stateful operator is
    the watermarked per-turn aggregation."""
    stream = _read_stream(spark, path, schema, max_files_per_trigger)
    turns = _resolved_turns(stream, link_index, watermark, max_ntoken)
    return turns.select(
        "conv_id", "turn_idx", "ts", F.explode("_ms").alias("m"),
    ).select(
        "conv_id", "turn_idx", "ts", "m.start", "m.ntoken_span",
        "m.surface", "m.entity", "m.link_score",
        (F.col("m.link_score") < F.lit(nil_threshold)).alias("nil"),
    )


def stream_extract_triples(
    spark: SparkSession,
    path: str,
    link_index: DataFrame,
    edges: DataFrame,
    watermark: str = "10 minutes",
    max_ntoken: int = 4,
    nil_threshold: float = 1.0,
    schema: str = TRANSCRIPT_SCHEMA,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Streaming triples: (subj, pred, obj, conv_id, turn_idx, ts).

    Pair generation is TURN-LOCAL (pipeline/triples.ordered_pairs, the
    batch mention_pairs expression: earlier-offset non-NIL mention is
    subject, distinct per turn), so it folds into the SAME aggregation
    pass that resolves max-match — array-level pair building instead of
    a self-join, no second stateful operator. The edge probe is a
    stream-static equi-join on (subj, obj); at scale the static side is
    the flat edges table, AQE-skew-handled exactly as in batch.
    """
    stream = _read_stream(spark, path, schema, max_files_per_trigger)
    turns = _resolved_turns(stream, link_index, watermark, max_ntoken)
    linked = F.filter("_ms", lambda s: s["link_score"] >= F.lit(nil_threshold))
    pairs = ordered_pairs(linked)
    pair_rows = turns.select(
        "conv_id", "turn_idx", "ts", F.explode(pairs).alias("p"),
    ).select("conv_id", "turn_idx", "ts", "p.subj", "p.obj")
    return pair_rows.join(edges, ["subj", "obj"], "inner").select(
        "subj", "pred", "obj", "conv_id", "turn_idx", "ts")


def stream_triples_to_graph(
    spark: SparkSession,
    path: str,
    link_index: DataFrame,
    edges: DataFrame,
    output_dir: str,
    checkpoint_dir: str,
    **stream_kwargs,
) -> DataFrame:
    """EXACTLY-ONCE materialization of the streaming triples into a
    partitioned graph table: drains everything currently available
    (availableNow) through a ``foreachBatch`` sink that overwrites a
    batchId-scoped partition directory — the standard idempotent-replay
    contract (a batch re-delivered after a failure rewrites its own
    directory instead of appending twice; the source offsets and the
    watermark live in ``checkpoint_dir``, so a later invocation resumes
    where the last one stopped and processes only NEW input files).

    This is the streaming complement of
    pipeline/incremental.run_pipeline_incremental: that one is
    conversation-delta batch catch-up for the full pipeline; this one is
    micro-batch-delta materialization for the exact arm, with
    exactly-once coming from Spark's own batchId replay protocol rather
    than a conv-set sidecar. Watermark semantics apply across
    invocations — the watermark PERSISTS in the checkpoint, so a later
    wave must carry event times ahead of it (an old-event-time file
    appended after the watermark passed is late data, dropped by
    design).

    Returns the full materialized table (partition-discovered over the
    ``batch=N`` directories; the ``batch`` column records provenance).
    ``stream_kwargs`` pass through to :func:`stream_extract_triples`.
    """
    triples = stream_extract_triples(spark, path, link_index, edges,
                                     **stream_kwargs)

    def _write(df: DataFrame, batch_id: int) -> None:
        df.write.mode("overwrite").parquet(
            os.path.join(output_dir, f"batch={batch_id}"))

    q = (triples.writeStream.foreachBatch(_write)
         .option("checkpointLocation", checkpoint_dir)
         .trigger(availableNow=True).start())
    q.awaitTermination()
    return spark.read.parquet(output_dir)


TRIPLE_SCHEMA = "subj string, pred string, obj string"


def stream_transe_score(
    spark: SparkSession, path: str, vecs: DataFrame,
    schema: str = TRIPLE_SCHEMA,
) -> DataFrame:
    """Streaming serve twin of ops/kg_embed.transe_score: L1
    plausibility of each incoming (subj, pred, obj) triple under a
    trained embedding table in the PIVOTED vector layout
    (embedding_vectors) — the link-prediction scorer as a stream.

    ZERO streaming state: three stream-static equi-joins land the
    h/r/t vectors and the score is a pure in-array integer fold
    (transe_score_vec), so no watermark, no aggregation buffer, and
    stream == batch row for row (integer adds associate — there is no
    float anywhere; tested in tests/test_streaming.py). The static
    side is the offline artifact exactly like build_link_index's
    dictionary: train once with transe_train, pivot with
    embedding_vectors, serve forever."""
    from lamapi_spark.ops.kg_embed import transe_score_vec

    triples = spark.readStream.schema(schema).parquet(path)
    return transe_score_vec(triples, vecs)


def stream_type_violations(
    spark: SparkSession, path: str, ent_types: DataFrame,
    schema_df: DataFrame, triple_schema: str = TRIPLE_SCHEMA,
) -> DataFrame:
    """Streaming twin of ops/graph.type_violations — the ingest-time
    QA gate: incoming triples are flagged against an OFFLINE-induced
    predicate schema (induce_schema over the corpus so far) before
    they reach the graph tables.

    ZERO streaming state: two stream-static equi-joins land the
    subject/object types and the |preds|-row schema frame broadcasts —
    stateless selects end to end, so stream == batch row for row
    (tested). The schema is deliberately an artifact, not a streaming
    aggregate: domain/range induction needs corpus-wide majorities,
    the same offline/online split as build_link_index's dictionary."""
    from pyspark.sql import functions as F

    ty = ent_types.select(F.col("ent").alias("_e"),
                          F.col("ent_type").alias("_t"))
    t = spark.readStream.schema(triple_schema).parquet(path)
    return (t
            .join(ty.select(F.col("_e").alias("subj"),
                            F.col("_t").alias("subj_type")), "subj")
            .join(ty.select(F.col("_e").alias("obj"),
                            F.col("_t").alias("obj_type")), "obj")
            .join(F.broadcast(schema_df.select(
                "pred", "dom_subj_type", "dom_obj_type")), "pred")
            .withColumn("bad_subj",
                        F.col("subj_type") != F.col("dom_subj_type"))
            .withColumn("bad_obj",
                        F.col("obj_type") != F.col("dom_obj_type"))
            .filter(F.col("bad_subj") | F.col("bad_obj"))
            .select("subj", "pred", "obj", "subj_type", "obj_type",
                    "bad_subj", "bad_obj"))


def _with_prior_entity(*fields: str) -> Column:
    """Indexed in-array antecedent scan over a session's sorted
    ``_occ`` array: element i keeps ``fields`` and gains ``a``, the max
    ordered row strictly before it whose ``e`` is not NULL — the sorted
    prefix maximum, i.e. the batch window's IGNORE-NULLS running last
    (array_max of an empty filter result is NULL -> unresolved, the
    batch null-degrade)."""
    occ = F.col("_occ")
    return F.transform(occ, lambda x, i: F.struct(
        *[x[f].alias(f) for f in fields],
        F.array_max(F.filter(
            occ, lambda y, j: (j < i) & y["e"].isNotNull())).alias("a")))


def stream_coref_resolve(
    spark: SparkSession,
    path: str,
    entity_pattern: str = r"^E[0-9]+$",
    max_turns: int = 10,
    gap: str = "2 hours",
    watermark: str = "4 hours",
    schema: str = TRANSCRIPT_SCHEMA,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Streaming twin of pipeline/coref.coref_resolve: pronoun
    occurrences on a live transcript stream resolve to the nearest
    preceding entity mention of the same conversation.

    The batch operator's antecedent carry crosses TURNS, so the
    streaming state unit is the CONVERSATION, not the turn: one
    watermarked ``session_window`` aggregation per (conv_id, session)
    collects that conversation's entity/pronoun occurrences (the same
    stateful shape as stream_sessionize — state evicts once the
    event-time high-mark passes session end + watermark, which is
    exactly the bound a 10^12-turn stream needs), and the antecedent
    scan runs IN-ARRAY over the session's sorted occurrences: an
    indexed transform whose per-pronoun antecedent is
    array_max(filter(j < i, entity rows)) — the (turn, pos)-sorted
    prefix maximum, i.e. the batch window's IGNORE-NULLS running last.

    Semantics vs batch: identical per session; a conversation that
    stays quiet longer than ``gap`` starts a NEW session and the carry
    resets (deliberate: a revived conversation should not link "it" to
    an entity from hours ago — ``max_turns`` bounds staleness in-turns,
    the gap bounds it in time). The parity test sizes gap and watermark
    above its input's span so session == conversation and the output is
    row-for-row equal to batch coref_resolve.

    Occurrence extraction shares pipeline/coref.token_occurrences'
    column expressions verbatim (carry=ts), so classification cannot
    diverge between the paths. In-array cost is O(k^2) per session with
    k = entity+pronoun occurrences of ONE conversation — bounded by
    construction, the streaming/kg.py per-turn array trade at
    conversation granularity.

    -> (conv_id, turn_idx, pos, pronoun, antecedent, antecedent_turn)
    for every pronoun occurrence of every CLOSED session.
    """
    from lamapi_spark.pipeline.coref import token_occurrences

    stream = _read_stream(spark, path, schema, max_files_per_trigger)
    occ = token_occurrences(stream.withWatermark("ts", watermark),
                            entity_pattern, carry=("ts",))
    per_conv = (
        occ.groupBy(F.session_window("ts", gap).alias("_w"), F.col("conv_id"))
        .agg(F.array_sort(F.collect_list(F.struct(
            F.col("turn_idx").alias("t"), F.col("pos").alias("p"),
            F.col("entity").alias("e"), F.col("pronoun").alias("pr"),
        ))).alias("_occ"))
    )
    rows = per_conv.select(
        "conv_id", F.explode(_with_prior_entity("t", "p", "pr")).alias("r"),
    ).filter(F.col("r.pr").isNotNull())
    ok = (F.col("r.a").isNotNull()
          & (F.col("r.t") - F.col("r.a.t") <= F.lit(max_turns)))
    return rows.select(
        "conv_id", F.col("r.t").alias("turn_idx"), F.col("r.p").alias("pos"),
        F.col("r.pr").alias("pronoun"),
        F.when(ok, F.col("r.a.e")).alias("antecedent"),
        F.when(ok, F.col("r.a.t")).alias("antecedent_turn"),
    )


def stream_tool_edges(
    spark: SparkSession,
    path: str,
    entity_pattern: str = "^[cs][0-9]+$",
    max_turns_back: int = 10,
    gap: str = "2 hours",
    watermark: str = "4 hours",
    schema: str = TRANSCRIPT_SCHEMA,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Streaming twin of pipeline/triples.tool_invocation_edges: tool
    turns arriving on a live transcript stream resolve to the most
    recent PRIOR-turn entity of their conversation — the same
    session-window carry shape as stream_coref_resolve (state unit =
    conversation, evicted once event time passes session end +
    watermark), with the antecedent scan run IN-ARRAY over the
    session's turn rows: for tool turn i, the antecedent is
    array_max(filter(j < i, entity rows)) — the turn-sorted prefix
    maximum, i.e. the batch window's IGNORE-NULLS running last.

    Semantics vs batch: identical per session (the parity test sizes
    gap/watermark above its input's span); a conversation quiet longer
    than ``gap`` resets the carry — the same deliberate staleness
    bound as the coref twin, on top of the in-turns ``max_turns_back``
    horizon. In-array cost is O(k^2) per session with k = TURNS of one
    conversation — bounded by construction.

    -> (conv_id, turn_idx, tool, entity) for every resolvable tool
    turn of every closed session.
    """
    stream = _read_stream(spark, path, schema, max_files_per_trigger)
    first_ent = F.get(F.filter(
        F.split(F.trim(F.col("text")), r"\s+"),
        lambda t: t.rlike(entity_pattern)), 0)
    turns = stream.withWatermark("ts", watermark).select(
        "conv_id", "turn_idx", "role", "tool", "ts",
        first_ent.alias("_e"))
    per_conv = (
        turns.groupBy(F.session_window("ts", gap).alias("_w"),
                      F.col("conv_id"))
        .agg(F.array_sort(F.collect_list(F.struct(
            F.col("turn_idx").alias("t"), F.col("_e").alias("e"),
            F.col("role").alias("role"), F.col("tool").alias("tool"),
        ))).alias("_occ"))
    )
    rows = per_conv.select(
        "conv_id",
        F.explode(_with_prior_entity("t", "role", "tool")).alias("r"))
    return (
        rows.filter((F.col("r.role") == "tool")
                    & F.col("r.a").isNotNull()
                    & (F.col("r.t") - F.col("r.a.t")
                       <= F.lit(max_turns_back)))
        .select("conv_id", F.col("r.t").alias("turn_idx"),
                F.col("r.tool").alias("tool"), F.col("r.a.e").alias("entity"))
    )


LINKED_SCHEMA = ("conv_id string, turn_idx int, surface string, "
                 "entity string, nil boolean, ts timestamp")


def stream_mine_aliases(
    spark: SparkSession, path: str, label_dict: DataFrame,
    window: str = "1 day", watermark: str = "1 hour",
    min_support: int = 3, min_purity_bp: int = 8000,
    schema: str = LINKED_SCHEMA,
) -> DataFrame:
    """Streaming twin of pipeline/aliases.mine_aliases: a linked-mention
    feed (the linker's own output log) -> per-WINDOW alias rows, so
    dictionary growth runs continuously instead of as a batch job.

    Plan shape: TWO chained watermarked time-window aggregations (the
    Spark 3.5+ multiple-stateful-operator form — the second groups on
    ``window(window_time(w), ...)`` so its windows align 1:1 with the
    first's): (window, surface, entity, nil) support counts, then the
    per-(window, surface) total / non-NIL struct-min argmax — the same
    window-free argmax as batch, NIL occurrences counted against purity.
    Gates are the batch ones verbatim (support floor + EXACT product
    purity). Both dictionary joins are stream-static: a LEFT ANTI
    against the names frame (dictionary-known exclusion) and an INNER
    payload join — state is ONLY the two window aggregations, bounded by
    the watermark; the dictionary side holds no stream state at all.

    Append-mode semantics: a window's aliases emit once, when the
    watermark closes it — exactly the cadence a daily-delta
    LookupIndex.write_delta append wants. Late links beyond the
    watermark are dropped (the standard trade; they surface in the next
    batch compaction). Parity with the batch miner is per-construction
    (same expressions, same gates) and pinned in tests with a
    one-window drain equal to mine_aliases row for row.
    """
    from lamapi_spark.functions import clean_str

    linked = spark.readStream.schema(schema).parquet(path)
    occ = (
        linked.withColumn("_ts", F.col("ts").cast("timestamp"))
        .withWatermark("_ts", watermark)
        .groupBy(F.window("_ts", window).alias("w"),
                 "surface", "entity", "nil")
        .agg(F.count("*").alias("support"))
    )
    per_surface = (
        occ.groupBy(F.window(F.window_time("w"), window).alias("w"),
                    "surface")
        .agg(F.sum("support").alias("total"),
             F.min(F.when(~F.col("nil"), F.struct(
                 (-F.col("support")).alias("ns"),
                 F.col("entity").alias("e")))).alias("_b"),
             F.max(F.when(~F.col("nil"), F.col("support"))).alias("_smax"))
    )
    mined = (
        per_surface
        .filter(F.col("_b").isNotNull())
        .select(F.col("w"), "surface",
                F.col("_b.e").alias("entity"),
                F.col("_smax").alias("support"), "total")
        .filter(F.col("support") >= F.lit(int(min_support)))
        .filter(F.col("support") * F.lit(10000)
                >= F.lit(int(min_purity_bp)) * F.col("total"))
        .withColumn("purity_bp", F.expr("support * 10000L div total"))
    )
    names = label_dict.select("name_norm")
    mined = mined.join(names, mined.surface == names.name_norm, "left_anti")
    from pyspark.sql import Window as W
    payload = (
        label_dict.filter(~F.col("is_alias"))
        .withColumn("_rn", F.row_number().over(
            W.partitionBy("entity").orderBy(F.col("name").asc())))
        .filter(F.col("_rn") == 1)
        .select("entity", "description", "kind", "NERtype", "types",
                "popularity")
    )
    return (
        mined.join(payload, "entity")
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "entity",
            F.col("surface").alias("name"),
            clean_str(F.col("surface")).alias("name_norm"),
            F.array(F.lit("und")).alias("language"),
            F.lit(True).alias("is_alias"),
            "description", "kind", "NERtype", "types",
            F.length("surface").alias("length"),
            F.size(F.split("surface", " ")).alias("ntoken"),
            "popularity", "support", "purity_bp",
        )
    )


ASSERTION_SCHEMA = ("conv_id string, turn_idx long, subj string, "
                    "pred string, obj string, ts timestamp")


def stream_fact_support(
    spark: SparkSession, path: str,
    window: str = "1 day", watermark: str = "1 hour",
    schema: str = ASSERTION_SCHEMA,
) -> DataFrame:
    """Streaming twin of pipeline/triples.fact_support: the extraction
    feed -> per-WINDOW fact-support rows, so distant-supervision
    denoising evidence accumulates continuously instead of as a batch
    sweep over the whole corpus.

    Plan shape: TWO chained watermarked time-window aggregations (the
    stream_mine_aliases form): (window, fact, conv_id) count + per-conv
    min/max turn, then the per-(window, fact) rollup — support = sum,
    n_convs = count of conv rows, and the evidence pointers as
    struct-lexicographic min/max over (conv_id, per-conv turn extreme),
    which equals the min/max over raw (conv_id, turn_idx) pairs because
    the conv component dominates the comparison and the turn extreme is
    already resolved within the conv. State is the two bounded window
    aggregations; no stream-stream join, no arbitrary state op.

    Append-mode semantics: a window's facts emit once when the
    watermark closes it (the delta a downstream kg-merge upserts);
    late assertions beyond the watermark drop and surface in the next
    batch compaction — the standard trade, same as the alias miner.

    -> (window_start, subj, pred, obj, support, n_convs, first_conv,
    first_turn, last_conv, last_turn).
    """
    a = spark.readStream.schema(schema).parquet(path)
    per_conv = (
        a.withColumn("_ts", F.col("ts").cast("timestamp"))
        .withWatermark("_ts", watermark)
        .groupBy(F.window("_ts", window).alias("w"),
                 "subj", "pred", "obj", "conv_id")
        .agg(F.count("*").alias("_n"),
             F.min("turn_idx").alias("_tmin"),
             F.max("turn_idx").alias("_tmax"))
    )
    per_fact = (
        per_conv.groupBy(F.window(F.window_time("w"), window).alias("w"),
                         "subj", "pred", "obj")
        .agg(F.sum("_n").alias("support"),
             F.count("*").alias("n_convs"),
             F.min(F.struct(F.col("conv_id").alias("c"),
                            F.col("_tmin").alias("t"))).alias("_f"),
             F.max(F.struct(F.col("conv_id").alias("c"),
                            F.col("_tmax").alias("t"))).alias("_l"))
    )
    return per_fact.select(
        F.col("w.start").alias("window_start"),
        "subj", "pred", "obj", "support", "n_convs",
        F.col("_f.c").alias("first_conv"), F.col("_f.t").alias("first_turn"),
        F.col("_l.c").alias("last_conv"), F.col("_l.t").alias("last_turn"))
