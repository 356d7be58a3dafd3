"""Batch entity lookup — the reference's flagship
``GET /lookup/entity-retrieval`` re-expressed as one Spark dataflow.

Reference lifecycle (api/model/data_retrievers/lookup_retriever.py):
clean name -> token match in ES (OR-of-tokens, popularity-desc sort,
size=limit) -> per-hit features (pos_score, es_score — elastic.py:46-64)
-> mention-level ambiguity features (:118-135) -> string-similarity
features ed/jaccard/jaccardNgram (:146-150) -> type-name resolution
(:236-240) -> per-id argmax dedup on ed+jaccard (:177-182).

Batch shape: the request stream becomes a **mentions DataFrame**; every
per-request ES/Mongo round-trip becomes a join stage. Identical mentions
are deduplicated up front (the batch analogue of the reference's Mongo
result cache, lookup_retriever.py:78-102): candidates are computed once
per distinct normalized mention and re-joined to request rows by the
caller.

Scoring note: ``es_score`` in the reference is BM25-normalized; BM25
bit-parity is not meaningful outside ES, so we define a deterministic
token-overlap score (exact-token matches, doubled for a full-string
match — mirroring the ``boost: 2`` exact branch at :270) normalized by
the per-mention max, and rank (``pos_score``) by popularity desc exactly
as the reference's ES query sorts (:264). The parity target is candidate
sets + deterministic features (SURVEY §7 'hard parts').

Scale (the round-2 architecture):
- the dictionary side is an inverted token index; as OFFLINE ARTIFACTS
  (operators/indexes.py) the token/variant/name tables are bucketed +
  sorted + pruned saved tables that every join probes with no
  dictionary-side shuffle or broadcast — only the mention side shuffles,
  into exactly n_buckets partitions. An in-memory index (built per run
  from ``label_dict``) broadcasts every dictionary-side frame; the
  index decides each join (LookupIndex.probe_side / bounded_side /
  label_side), so no function here takes a broadcast flag.
- ranking + limit truncation run on the NARROW match (popularity rides
  the slim aggregate); the entity payload comes from the index's payload
  table only, through one guarded attach: after the per-entity dedup,
  or, when a request filter needs it, before ranking (ES filters before
  it ranks). Name similarity sets are in-row expressions.
- linking does not consume the response at all: ``best_links`` takes
  the argmax over the FULL un-truncated match with a sort-free two-pass
  aggregation.
Pure-stopword tokens are the classic skew key — kept for parity, but
the fuzzy index never expands tokens <3 chars and AQE handles residual
skew; posting lists are pruned top-K-per-token at artifact build
(rank-lossless for K >= limit, see indexes.prune_index).
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from lamapi_spark.functions import (
    clean_str, ed_score, jaccard_arrays, jaccard_ngram_score, jaccard_score, ngram_set,
)
from lamapi_spark.operators.indexes import LookupIndex
from lamapi_spark.operators.label_dict import deletion_variants

_DICT_COLS = [
    "entity", "name", "name_norm", "description", "kind", "NERtype",
    "types", "length", "ntoken", "popularity", "is_alias", "language",
]


def _prepare_mentions(mentions: DataFrame, mention_col: str = "mention") -> DataFrame:
    """Distinct normalized mentions with their token explosion.

    The explicit partition count matters: downstream the mention side
    explodes into token deletion-variant neighborhoods (a 50-100x row
    blowup); AQE would otherwise coalesce this small distinct-output to
    1-2 partitions and serialize the explosion."""
    n = mentions.sparkSession.sparkContext.defaultParallelism * 2
    m = (mentions.select(clean_str(mention_col).alias("mention_norm"))
         .distinct().repartition(n, "mention_norm"))
    return m.select(
        "mention_norm",
        F.length("mention_norm").alias("length_mention"),
        F.size(F.split("mention_norm", " ")).alias("ntoken_mention"),
        F.split("mention_norm", " ").alias("mention_tokens"),
        # similarity sets built once per distinct mention; candidate
        # scoring then pays only the array intersections per pair
        F.array_distinct(F.split("mention_norm", " ")).alias("_m_tok_set"),
        ngram_set("mention_norm", 3).alias("_m_gram_set"),
    )


def token_match(mentions_prepared: DataFrame, label_dict: DataFrame,
                fuzzy: bool = False,
                cache_narrow: bool = False,
                limit_per_token: int | None = None,
                fuzzy_edits: int = 2,
                index: LookupIndex | None = None,
                slim: bool = True) -> DataFrame:
    """OR-of-tokens match: the SLIM frame, one row per (mention,
    dictionary row) sharing >=1 token — (mention_norm, entity, name,
    is_alias, matched_tokens, matched_tokens_any, popularity, name_norm).
    ``matched_tokens`` counts the distinct mention tokens found exactly
    in the name, ``matched_tokens_any`` those found within the fuzzy
    band. The payload is not attached here: lookup() attaches the index
    payload to the ranked survivors. ``slim`` is kept for callers that
    pass it; only True is accepted.

    This is J1 — the core join. Exact arm joins tokens directly; the
    fuzzy arm joins deletion-neighborhood variants then post-filters by
    real edit distance within ES 'auto' bands.

    ``index``: a prebuilt :class:`LookupIndex`. With a BUCKETED index
    (the cluster plan) the dictionary side needs no per-run variant
    expansion, no pruning window, no shuffle and no broadcast — the
    bucketed scans already satisfy the joins' hash distribution, so only
    the mention side shuffles (into exactly n_buckets partitions).
    Without one, the in-memory index is built from ``label_dict``, and
    every dictionary-side frame broadcasts.
    """
    if not slim:
        raise ValueError("token_match() returns only the slim match; "
                         "lookup() attaches the payload")
    if index is not None:
        if fuzzy and index.fuzzy is None:
            raise ValueError("fuzzy lookup requires an index built with fuzzy=True")
        limit_per_token = index.limit_per_token
        fuzzy_edits = index.fuzzy_edits
    else:
        index = LookupIndex.build(label_dict, fuzzy=fuzzy,
                                  limit_per_token=limit_per_token,
                                  fuzzy_edits=fuzzy_edits)

    # m_ti is the token's ORDINAL in the mention's distinct-token array:
    # a per-mention bijection with the token string, so every downstream
    # group-by keys on the int instead of shuffling the token string
    # (shuffle-byte cut on the biggest exchange; the string itself is
    # only needed as the dictionary join key and for the fuzzy band).
    m_tok = mentions_prepared.select(
        "mention_norm",
        F.posexplode(F.array_distinct("mention_tokens")).alias("m_ti", "m_token"),
    )

    # Slim match: only (mention, token, dict-row-key, popularity, edits)
    # flows through the joins and aggregations. popularity rides along so
    # ranking + limit-truncation can run on the NARROW frame; the wide
    # payload columns attach only to the <=limit survivors.
    _KEY = ["entity", "name", "is_alias"]
    dict_tok = index.probe_side(index.token)

    exact = m_tok.join(dict_tok, m_tok.m_token == dict_tok.token, "inner").select(
        "mention_norm", "m_ti", *_KEY, "popularity", F.lit(0).alias("edits"),
    )

    if not fuzzy:
        matched = exact
    else:
        # ES fuzziness:auto bands (2 edits for tokens >= 6 chars); the
        # pipeline path caps at fuzzy_edits=1 — deletion-2 neighborhoods
        # are ~4x the variant volume for a tail of 2-edit typos
        band = (
            F.when(F.length("m_token") >= 6, F.least(F.lit(2), F.lit(fuzzy_edits)))
            .when(F.length("m_token") >= 3, F.lit(1))
            .otherwise(F.lit(0))
        )
        # band-0 tokens (len<=2) can only ever match exactly, and the
        # exact arm already covers that — generating their variants would
        # only produce edits=0 rows that the >=1 filter drops
        m_var = m_tok.withColumn("_band", band).filter(F.col("_band") >= 1).select(
            "mention_norm", "m_ti", "m_token", "_band",
            F.explode(
                F.when(F.col("_band") == 2, deletion_variants(F.col("m_token"), 2))
                .otherwise(deletion_variants(F.col("m_token"), 1))
            ).alias("variant"),
        )
        # measured: broadcasting an in-memory (pruned) variant index
        # beats a shuffle-hash join at sandbox scale even though the
        # build is a serial constant (165s vs 201s total at 8x4
        # executors on the 3M-turn workload). The bucketed-artifact
        # path removes both the per-run build AND the broadcast — that
        # is the cluster plan for dictionaries that cannot broadcast.
        f_idx = index.probe_side(index.fuzzy)
        fuzzy_hits = (
            m_var.join(f_idx, "variant", "inner")
            .withColumn("edits", F.levenshtein("m_token", "token"))
            # ES auto-fuzziness band is driven by the *query* token length
            .filter((F.col("edits") >= 1)
                    & (F.col("edits") <= F.least(F.col("_band"), F.lit(2))))
            .select("mention_norm", "m_ti", *_KEY, "popularity", "edits")
        )
        matched = exact.unionByName(fuzzy_hits)

    if limit_per_token is not None:
        # pruning guard: a low-popularity entity whose every token sits
        # below the per-token top-K would vanish even when its NAME
        # matches the mention exactly (or within 1 edit) — and that is
        # precisely the candidate the linker must not lose. Guarantee
        # inclusion via (a) full-string equality and (b) deletion-1
        # name-level match, both cheap equi-joins.
        names_b = index.probe_side(index.names)
        m_norms = mentions_prepared.select("mention_norm")
        # mention_norm == name_norm here, so positions in the name's
        # distinct-token array ARE the mention's m_ti ordinals
        exact_name = (
            m_norms.join(names_b, F.col("mention_norm") == F.col("name_norm"))
            .select("mention_norm",
                    F.posexplode(F.array_distinct(F.split("name_norm", " ")))
                    .alias("m_ti", "_tok"),
                    *_KEY, "popularity", F.lit(0).alias("edits"))
            .drop("_tok")
        )
        matched = matched.unionByName(exact_name)
        if fuzzy:
            fuzzy_name = (
                m_norms.select("mention_norm", F.explode(
                    deletion_variants(F.col("mention_norm"), 1)).alias("variant"))
                .join(index.probe_side(index.fuzzy_names), "variant")
                .filter(F.levenshtein("mention_norm", "name_norm") == 1)
                .select("mention_norm", "name_norm").distinct()
                .join(names_b, "name_norm")
                # the 1-edit name guard pins its hit to the mention's
                # FIRST token — ordinal 0 in the distinct-token array
                # (array_distinct preserves first-occurrence order)
                .select("mention_norm", F.lit(0).alias("m_ti"),
                        *_KEY, "popularity", F.lit(1).alias("edits"))
            )
            matched = matched.unionByName(fuzzy_name)

    # two-step aggregation instead of dual countDistinct (which would
    # force an Expand doubling the shuffle): per-token best edit first,
    # then per-candidate token counts. popularity is constant per KEY
    # (label_dict is unique on it), so min() just carries it through.
    # Keyed on the token ORDINAL m_ti, not the token string — same
    # groups (per-mention bijection), fewer shuffled bytes.
    #
    # ONE exchange for the whole match lifecycle (round-5 profile: the
    # match crossed the wire five times — two build groupBys, the
    # ranking window, and mention_features' two groupBys each forced
    # their own full exchange, ~4.7GB at 3.75M turns). Hash-partitioning
    # by mention_norm ALONE satisfies ClusteredDistribution for every
    # one of those keys (each is a superset of {mention_norm}), so a
    # single explicit repartition here lets Catalyst elide the exchange
    # in: per_token groupBy, agg groupBy, lookup()'s popularity-rank
    # window, its (mention, entity) dedup window, mention_features'
    # both groupBys, and best_links' per-mention argmax — the cached
    # slim match preserves the partitioning for every consumer.
    # Per-mention group size is bounded (ntoken x limit_per_token x
    # fuzzy band + name guards), so the key cannot run hot.
    matched = matched.repartition(F.col("mention_norm"))
    per_token = matched.groupBy("mention_norm", "m_ti", *_KEY).agg(
        F.min("edits").alias("_e"), F.min("popularity").alias("_pop"))
    agg = per_token.groupBy("mention_norm", *_KEY).agg(
        F.count(F.when(F.col("_e") == 0, True)).alias("matched_tokens"),
        F.count("*").alias("matched_tokens_any"),
        F.min("_pop").alias("popularity"),
    ).withColumn("name_norm", clean_str("name"))
    if cache_narrow:
        # downstream plans reference the match several times (Catalyst
        # does not dedupe common subtrees) — cache the narrow aggregate,
        # NOT the payload-joined frame: the wide version cached per
        # executor is what OOMs at large dictionary x surface products,
        # while the payload re-attaches via a cheap broadcast join
        from lamapi_spark.pipeline.cache_registry import scoped_cache
        agg = scoped_cache(agg)
    # narrow candidate frame: ranking, truncation, and the mention-level
    # features all run on this (label_dict invariant: name_norm ==
    # clean_str(name), so the slim frame recomputes it per row instead
    # of joining for it)
    return agg


def mention_features(candidates: DataFrame, mentions_prepared: DataFrame) -> DataFrame:
    """A7 — per-mention ``ambiguity_mention`` and ``corrects_tokens`` over
    the unfiltered token-match result set (lookup_retriever.py:118-135).

    ambiguity = (#distinct ids whose cleaned label equals the mention) /
    (#distinct ids); corrects = |mention tokens ∩ all result-name tokens| /
    |mention tokens|; both round(.., 3) half-even.

    Plan shape: two plain hash aggregations. The naive formulation —
    explode every candidate name into tokens, join mention tokens, plus
    a dual countDistinct (an Expand that doubles the shuffle) — moves
    ~3-5x the bytes for identical results: distinct-id counts fall out
    of a (mention, entity) pre-aggregation, and the token overlap is
    one array_intersect against the union of candidate-name tokens
    (array_distinct keeps per-group state small; candidate names share
    a tiny vocabulary).
    """
    per_entity = candidates.groupBy("mention_norm", "entity").agg(
        F.max(F.when(F.col("name_norm") == F.col("mention_norm"), 1)
              .otherwise(0)).alias("_ex"),
        F.array_distinct(F.flatten(
            F.collect_list(F.split("name_norm", " ")))).alias("_ntoks"),
    )
    per_mention = (
        per_entity.groupBy("mention_norm")
        .agg(
            F.count("*").alias("_n_ids"),
            F.sum("_ex").alias("_n_exact_ids"),
            F.array_distinct(F.flatten(F.collect_list("_ntoks"))).alias("_all_toks"),
        )
        .join(mentions_prepared.select("mention_norm", "mention_tokens"),
              "mention_norm")
        .select(
            "mention_norm",
            F.bround(F.col("_n_exact_ids") / F.greatest("_n_ids", F.lit(1)), 3)
            .alias("ambiguity_mention"),
            F.bround(
                F.size(F.array_intersect(
                    "_all_toks", F.array_distinct("mention_tokens")))
                / F.size(F.array_distinct("mention_tokens")), 3
            ).alias("corrects_tokens"),
        )
    )
    return per_mention


def resolve_type_names(candidates: DataFrame, items: DataFrame) -> DataFrame:
    """J3 — map each candidate's type QIDs to English type labels via the
    items table (kind='type'), keeping the id when unresolved
    (lookup_retriever.py:141-142,152-155,236-240).

    The type vocabulary is tiny relative to entities, so instead of an
    explode -> join -> re-nest round trip (an extra shuffle + 4-key join
    back), collapse it to ONE map literal broadcast via a 1-row cross
    join and resolve in-place with ``transform`` — no shuffle at all.
    """
    type_map = items.filter(F.col("kind") == "type").agg(
        F.map_from_entries(F.collect_list(F.struct(
            F.col("entity"), F.col("labels").getItem("en")))).alias("_type_names"))
    return (
        candidates.crossJoin(F.broadcast(type_map))
        .withColumn(
            "types_resolved",
            F.transform(
                "types",
                lambda t: F.struct(
                    t.alias("id"),
                    F.coalesce(F.element_at("_type_names", t), t).alias("name")),
            ))
        .drop("_type_names")
    )


def _emit(cand: DataFrame, feats: DataFrame) -> DataFrame:
    """Shared 19-field projection (lookup_retriever.py:157-176) for the
    token-match arm and the ids-backfill arm."""
    return _emit_cols(cand.join(feats, "mention_norm", "left"))


def _emit_cols(cand: DataFrame) -> DataFrame:
    """The projection half of :func:`_emit`, for callers that already
    joined the feats frame (lookup() joins it earlier so the entity-
    payload attach can be the plan's last exchange)."""
    return cand.select(
        "mention_norm",
        F.col("entity").alias("id"),
        "name",
        F.coalesce("description", F.lit("")).alias("description"),
        F.col("types_resolved").alias("types"),
        "kind",
        "NERtype",
        # a mention with no exact-token matches has an empty feature pass:
        # the reference then yields 0 / 0.0 (lookup_retriever.py:121,132-135)
        F.coalesce("ambiguity_mention", F.lit(0.0)).alias("ambiguity_mention"),
        F.coalesce("corrects_tokens", F.lit(0.0)).alias("corrects_tokens"),
        "ntoken_mention",
        F.col("ntoken").alias("ntoken_entity"),
        "length_mention",
        F.col("length").alias("length_entity"),
        "popularity",
        "pos_score",
        "es_score",
        "ed_score",
        "jaccard_score",
        "jaccardNgram_score",
    )


def ids_backfill(
    results: DataFrame,
    requested_ids: DataFrame,
    label_dict: DataFrame,
    items: DataFrame,
    prepared: DataFrame,
    feats: DataFrame,
    mention_col: str = "mention",
) -> DataFrame:
    """J7 — guarantee every requested (mention, id) appears in the
    response: ids already present are left alone; missing ones are
    fetched by the id-retrieval arm (create_ids_query:247-259 — ``id``
    match, ``language`` contains 'en', ``is_alias`` false) and appended
    with the same mention-level features.

    DELIBERATE DEVIATION from the reference: _check_ids
    (lookup_retriever.py:213-234) issues ONE ES ids-query for ALL
    missing ids with ``size=1`` — i.e. it appends at most ONE
    backfilled candidate per request (the top popularity hit of the
    missing-id set), so a request with several missing ids still gets
    only one of them back. We treat that as an artifact of the
    size-limit plumbing, not intent, and emit one deterministic row PER
    requested id — the guarantee the parameter name promises. The
    DuckDB oracle (queries.lookup_ids_backfill) mirrors this richer
    behavior. pos_score ranks the backfilled set by popularity;
    es_score is 1.0 (an id equality match has a constant score, so
    score/max_score degenerates to 1)."""
    req = requested_ids.select(
        clean_str(mention_col).alias("mention_norm"), "entity").distinct()
    missing = req.join(
        results.select("mention_norm", F.col("id").alias("entity")),
        ["mention_norm", "entity"], "left_anti")
    id_rows = label_dict.filter(
        (~F.col("is_alias")) & F.array_contains("language", "en")
    ).select(*_DICT_COLS)
    bf = missing.join(id_rows, "entity", "inner")
    w_id = Window.partitionBy("mention_norm", "entity").orderBy(F.col("name").asc())
    bf = (bf.withColumn("_r1", F.row_number().over(w_id))
          .filter(F.col("_r1") == 1).drop("_r1"))
    bf = bf.join(
        prepared.select("mention_norm", "ntoken_mention", "length_mention"),
        "mention_norm")
    w_bf = Window.partitionBy("mention_norm").orderBy(
        F.col("popularity").desc(), F.col("entity").asc())
    bf = (
        bf
        .withColumn("_rank", F.row_number().over(w_bf))
        .withColumn("pos_score", F.bround(
            F.col("_rank") / F.count("*").over(Window.partitionBy("mention_norm")), 3))
        .withColumn("es_score", F.lit(1.0))
        .withColumn("ed_score", ed_score("name_norm", "mention_norm"))
        .withColumn("jaccard_score", jaccard_score("name_norm", "mention_norm"))
        .withColumn("jaccardNgram_score", jaccard_ngram_score("name_norm", "mention_norm"))
    )
    bf = resolve_type_names(bf, items)
    return _emit(bf, feats)


def best_links(cand_slim: DataFrame, prepared: DataFrame,
               label_dict: DataFrame,
               index: LookupIndex | None = None,
               mentions_bounded: bool = True) -> DataFrame:
    """Per-mention argmax by the LINK score (ed + jaccard + jaccardNgram
    desc, then popularity desc, then id asc — linking.py's decision rule)
    over the narrow match, un-truncated at the MENTION level: the
    19-field response build (and its ``limit``) is off the linking
    critical path entirely. Scope caveat: when the index was built with
    ``limit_per_token`` pruning (pipeline default 100), the match itself
    is still top-K-per-token by POPULARITY — prune_index's losslessness
    argument covers popularity-ranked candidate lists, not this
    ed+jaccard link score, so a low-popularity high-string-similarity
    candidate that is neither an exact nor 1-edit name match can be
    absent from the argmax. The exact-name / 1-edit-name inclusion
    guards in token_match are the recall backstop for the link decision.
    Similarity sets come precomputed per distinct dictionary name and per
    distinct mention; per-pair work is two array intersections plus one
    levenshtein. Score values are identical to the response fields by
    construction (same functions, same inputs).

    ``index``: the index the match came from; without one the in-memory
    index is built from ``label_dict``.

    ``mentions_bounded``: True (the pipeline path) asserts the mention
    batch derives from dictionary matching (detect_mentions), so the
    per-mention argmax frame ``mx`` is bounded by the same
    O(n_names x fuzzy collisions) band as the name-set frame and may
    ride the n_names broadcast gate. Service-style callers with
    ARBITRARY mention batches (the reference's lookup-request shape)
    must pass False: their distinct-mention count is independent of the
    dictionary size, so mx stays under shuffle_hash regardless of how
    small the dictionary is.

    -> (mention_norm, id, link_score)."""
    if index is None:
        index = LookupIndex.build(label_dict, fuzzy=False)
    # On a bucketed names artifact the distinct is on the bucket key, so
    # shuffle-free, and the derived set columns are narrow projections.
    # name_sets has AT MOST index.n_names rows — n_names counts the
    # names TABLE rows (one per entity/name/is_alias; aliases and shared
    # names inflate it), so the distinct-name_norm count is bounded
    # above by it and the gate stays conservative. Small dictionary ->
    # broadcast (measured: the shuffle-pinned variant dropped the linked
    # stage's core-scaling from 3.5x to 2.1x on 4x cores — shuffling the
    # match by mention string is skew-bound); huge dictionary ->
    # shuffle_hash keeps the artifact side exchange-free with no driver
    # round-trip.
    name_sets = index.names.select("name_norm").distinct().select(
        "name_norm",
        F.array_distinct(F.split("name_norm", " ")).alias("_n_tok_set"),
        ngram_set("name_norm", 3).alias("_n_gram_set"))
    name_sets = index.bounded_side(name_sets, index.n_names)

    def score_col():
        return (ed_score("name_norm", "mention_norm")
                + jaccard_arrays("_n_tok_set", "_m_tok_set")
                + jaccard_arrays("_n_gram_set", "_m_gram_set"))

    def with_sets(df):
        return (df.join(prepared.select("mention_norm", "_m_tok_set", "_m_gram_set"),
                        "mention_norm")
                  .join(name_sets, "name_norm"))

    # argmax WITHOUT a window: a row_number over 10^7-10^8 match rows is
    # a full shuffle + sort; instead (1) partial-aggregate the per-mention
    # max (score, popularity) — map-side combine collapses to ~|mentions|
    # rows before any shuffle — then (2) broadcast that tiny frame back
    # and re-derive only the achieving rows: filter by popularity
    # equality FIRST (no scoring), score the handful of survivors, take
    # min(entity) for the id-asc tiebreak. One full scoring pass total,
    # no large shuffle or sort anywhere.
    mx = with_sets(cand_slim).withColumn("_score", score_col()).groupBy(
        "mention_norm").agg(
        F.max(F.struct(F.col("_score").alias("s"),
                       F.col("popularity").alias("p"))).alias("_m"))
    # mx is one row per distinct MATCHED mention. On the PIPELINE path
    # (mentions_bounded=True) that is bounded by the same O(names x
    # fuzzy collisions) band as detect_mentions' matched_strs, so it
    # rides the same n_names gate. For arbitrary mention batches the
    # bound does NOT hold — distinct matched mentions track the batch,
    # not the dictionary — so mentions_bounded=False pins shuffle_hash
    # even for a tiny dictionary. Never un-hinted: mx is join-derived
    # (see LookupIndex.bounded_side).
    mx_b = (index.bounded_side(mx, index.n_names) if mentions_bounded
            else mx.hint("shuffle_hash"))
    survivors = (
        cand_slim.join(mx_b, "mention_norm")
        .filter(F.col("popularity") == F.col("_m.p"))
    )
    return (
        with_sets(survivors).withColumn("_score", score_col())
        .filter(F.col("_score") == F.col("_m.s"))
        .groupBy("mention_norm")
        .agg(F.min("entity").alias("id"), F.max("_score").alias("link_score"))
    )


def lookup(
    mentions: DataFrame,
    label_dict: DataFrame,
    items: DataFrame,
    limit: int = 1000,
    fuzzy: bool = False,
    types: str | None = None,
    kind: str | None = None,
    ner_type: str | None = None,
    language: str | None = None,
    mention_col: str = "mention",
    limit_per_token: int | None = None,
    fuzzy_edits: int = 2,
    requested_ids: DataFrame | None = None,
    index: LookupIndex | None = None,
    prepared: DataFrame | None = None,
    match: DataFrame | None = None,
) -> DataFrame:
    """Full lookup: mentions DF -> 19-field candidates DF keyed by
    ``mention_norm`` (one row per (mention, entity), reference parity
    for the field set at lookup_retriever.py:157-176).

    ``requested_ids`` (optional, columns (mention, entity)): the
    reference's ``ids`` request parameter — every requested id is
    guaranteed to appear in the response for its mention, via the
    id-retrieval arm when the token match misses it (J7).

    ``prepared``/``match``: precomputed _prepare_mentions / slim
    token_match frames — lets a pipeline share ONE (cached) match pass
    between the response build and best_links linking.

    ``index``: the prebuilt :class:`LookupIndex` to probe; without one
    the in-memory index is built from ``label_dict``. Either way it must
    carry a payload table (a dictionary with the payload columns): every
    candidate's description/kind/NERtype/types, and the ``kind`` /
    ``ner_type`` / ``types`` filters, read it. ``label_dict`` itself is
    read only to build an in-memory index, for the ``language`` filter
    (the one per-label-row filter) and for ``requested_ids``; a call that
    needs it without one raises a ValueError at entry."""
    if label_dict is None and (index is None or language is not None
                               or requested_ids is not None):
        raise ValueError("lookup() reads label_dict to build an in-memory index, "
                         "for the language filter and for requested_ids: pass it")
    if index is None:
        index = LookupIndex.build(label_dict, fuzzy=fuzzy,
                                  limit_per_token=limit_per_token,
                                  fuzzy_edits=fuzzy_edits)
    if index.payload is None:
        raise ValueError(
            "lookup() needs an index with a payload table: build it from a "
            "dictionary with description/kind/NERtype/types columns")
    if prepared is None:
        prepared = _prepare_mentions(mentions, mention_col)

    # One token-match pass serves both consumers: the mention-level
    # feature pass (the reference's extra non-fuzzy ES round-trip at
    # :49-51) is exactly the subset with >=1 exact token hit, so the
    # fuzzy run never recomputes the exact arm. cache_narrow materializes
    # the slim match once for the three downstream references.
    if match is None:
        match = token_match(prepared, label_dict, fuzzy=fuzzy,
                            cache_narrow=True, index=index, slim=True)
    cand = match
    base_match = cand.filter(F.col("matched_tokens") > 0) if fuzzy else cand
    feats = mention_features(base_match, prepared)

    def attach_payload(df: DataFrame, keep: Column = F.lit(True)) -> DataFrame:
        # The entity payload (description/kind/NERtype/types) depends on
        # the entity alone and comes from the index's payload table (a
        # bucketed artifact: no dictionary-side shuffle), on the single
        # entity key. Broadcast decision from the PERSISTED entity count
        # (see LookupIndex.bounded_side): small dictionary -> broadcast;
        # huge dictionary -> shuffle_hash probes the bucketed payload.
        #
        # coverage guard: the payload covers every candidate by
        # construction ONLY when the match came from the same index. A
        # caller-supplied match= from a different source (e.g. main+delta
        # union against a main-only payload) must fail LOUDLY, not lose
        # rows — so the attach is a left join carrying a sentinel that a
        # filter requires non-null. A filter, not an assert_true column:
        # a check column that nothing reads is pruned by the optimizer
        # and never runs. Covered case: identical rows to an inner join
        # at one boolean column of extra cost. ``keep`` (the request
        # filters on payload columns) sits in the same CASE expression:
        # as a separate filter it would reject NULL payload columns, and
        # the optimizer would turn the left join into an inner one that
        # drops uncovered rows before the guard sees them.
        ent_payload = index.bounded_side(
            index.payload.withColumn("_p_ok", F.lit(True)), index.n_entities)
        return df.join(ent_payload, "entity", "left").filter(
            F.when(F.col("_p_ok").isNull(), F.raise_error(F.concat(
                F.lit("lookup(): candidate entity "), F.col("entity"),
                F.lit(" missing from the index payload — match frame not "
                      "covered by this index (stale or mismatched "
                      "index?)")))).otherwise(keep)).drop("_p_ok")

    # Request filters: the reference's ES query filters BEFORE ranking,
    # so with a filter the payload attaches to the whole match here and
    # the per-entity filters read its columns. Without one, ranking +
    # limit-truncation run on the narrow match and the payload joins
    # only the post-dedup survivors (below) — at 10^5 surfaces x 10^2
    # candidates that is the difference between sorting 33M wide rows
    # and 33M narrow ones.
    _KEY = ["entity", "name", "is_alias"]
    keep = []
    if kind is not None:
        keep.append(F.col("kind") == kind)
    if ner_type is not None:
        keep.append(F.col("NERtype") == ner_type)
    if types is not None:
        wanted = sorted(types.split(" "))
        keep.append(F.arrays_overlap("types", F.array(*[F.lit(t) for t in wanted])))
    if language is not None:
        # the one per-label-row filter: flag the match rows whose
        # dictionary row lists the language; the guarded attach keeps
        # them. A left join, like the attach: a semi-join would be
        # pushed below the guard and drop uncovered rows unseen.
        with_lang = (label_dict.filter(F.array_contains("language", language))
                     .select(*_KEY, F.lit(True).alias("_lang")))
        cand = cand.join(index.label_side(with_lang), _KEY, "left")
        keep.append(F.col("_lang").isNotNull())
    filtered = bool(keep)
    if filtered:
        cand = attach_payload(cand, reduce(Column.__and__, keep)).drop("_lang")

    # ES executes: sort popularity desc, truncate at `limit`, then
    # pos_score = rank/len and es_score = score/max_score over the
    # truncated set (elastic.py:46-64). Tiebreak (entity, name) for
    # determinism where ES ordering is internal.
    w_pop = Window.partitionBy("mention_norm").orderBy(
        F.col("popularity").desc(), F.col("entity").asc(), F.col("name").asc(),
        F.col("is_alias").asc())
    raw_score = (
        F.when(F.col("name_norm") == F.col("mention_norm"), F.lit(2.0)).otherwise(F.lit(1.0))
        * F.col("matched_tokens_any") / F.greatest("ntoken_mention", F.lit(1))
    )
    cand = (
        cand
        .join(prepared.select("mention_norm", "ntoken_mention", "length_mention",
                              "_m_tok_set", "_m_gram_set"), "mention_norm")
        .withColumn("_rank", F.row_number().over(w_pop))
        .filter(F.col("_rank") <= limit)
        .withColumn("_raw_score", raw_score)
    )
    w_m = Window.partitionBy("mention_norm")
    cand = (
        cand
        .withColumn("_n_hits", F.count("*").over(w_m))
        .withColumn("_max_score", F.max("_raw_score").over(w_m))
        .withColumn("pos_score", F.bround(F.col("_rank") / F.col("_n_hits"), 3))
        .withColumn("es_score", F.bround(F.col("_raw_score") / F.col("_max_score"), 3))
    )

    # length/ntoken and the name similarity sets are IN-ROW expressions
    # over name/name_norm — the identical expressions the label_dict
    # builder uses, so the values are bit-equal to its columns — so a
    # 10^8-entity dictionary never ships its wide rows (or precomputed
    # n-gram arrays) through an exchange, and the mention_norm
    # partitioning of the match survives the ranking window, the dedup
    # window, and the feats join unbroken. Token/3-gram sets come
    # precomputed per distinct mention; per-row work is the
    # intersections only. Same values as jaccard_score /
    # jaccard_ngram_score by construction.
    cand = (
        cand
        .withColumn("length", F.length("name"))
        .withColumn("ntoken", F.size(F.split("name", " ")))
        .withColumn("_n_tok_set", F.array_distinct(F.split("name_norm", " ")))
        .withColumn("_n_gram_set", ngram_set("name_norm", 3))
        .withColumn("ed_score", ed_score("name_norm", "mention_norm"))
        .withColumn("jaccard_score", jaccard_arrays("_n_tok_set", "_m_tok_set"))
        .withColumn("jaccardNgram_score", jaccard_arrays("_n_gram_set", "_m_gram_set"))
        .drop("_n_tok_set", "_n_gram_set", "_m_tok_set", "_m_gram_set")
    )

    # A6 — per (mention, id) argmax on ed+jaccard (ties: first by
    # popularity rank, matching 'first seen wins' in arrival order).
    # Runs BEFORE the entity-payload attach: the dedup depends only on
    # the similarity scores and rank, and hash(mention_norm) satisfies
    # its window partitioning, so no exchange and the payload joins the
    # fewest possible rows.
    w_dedup = Window.partitionBy("mention_norm", "entity").orderBy(
        (F.col("ed_score") + F.col("jaccard_score")).desc(), F.col("_rank").asc())
    cand = cand.withColumn("_dd", F.row_number().over(w_dedup)).filter(F.col("_dd") == 1)

    # feats join FIRST (exchange-free: both sides ride hash(mention_norm)),
    # so the entity-payload attach — the only join that can need an
    # exchange on the huge-dictionary path — is the LAST exchange in the
    # plan, over the final response rows, with nothing downstream needing
    # the mention partitioning back (type resolution is a broadcast map,
    # the rest is projection).
    cand = cand.join(feats, "mention_norm", "left")
    if not filtered:
        cand = attach_payload(cand)

    cand = resolve_type_names(cand, items)

    out = _emit_cols(cand)
    if requested_ids is not None:
        out = out.unionByName(ids_backfill(
            out, requested_ids, label_dict, items, prepared, feats, mention_col))
    return out


def token_match_with_delta(
    mentions_prepared: DataFrame,
    index: LookupIndex,
    delta_dict: DataFrame,
    fuzzy: bool = False,
    dedup_against_main: bool = False,
    cache_narrow: bool = False,
) -> DataFrame:
    """J1 against a MAIN bucketed artifact plus an append-only
    dictionary DELTA (LookupIndex.write_delta rows) — the probe shape
    of incremental dictionary maintenance: new labels become visible
    to lookups without rebuilding the 10^8-entity artifact.

    Exactness: every slim-match row derives from exactly ONE dictionary
    row plus mention-side columns, and each dictionary row lives in
    exactly one part — so match(main UNION delta) == match(main) UNION
    match(delta), including the per-(mention, dict-row) aggregations.
    Build-time pruning applies PER PART (the delta's posting lists are
    pruned with the main artifact's K): the union of per-part top-K
    posting lists is a SUPERSET of the single-index top-K, so the probe
    only ever retains MORE than a compacted rebuild would — recall is
    monotone in compaction, never the reverse; the exact-name /
    1-edit-name guards run per part and union to the full-dictionary
    guard.

    Plan shape: the main probe is the unchanged shuffle-free bucketed
    plan; the delta probe joins a broadcast in-memory index built from
    the (broadcast-sized by contract) delta rows — one extra pass over
    the prepared mention frame, which callers should cache.
    ``dedup_against_main`` guards a violated disjointness contract:
    one broadcast-delta semi-probe of the main names scan (no shuffle
    — every broadcast frame here is bounded by |delta|, the caller's
    own contract, never by a join estimate) drops delta rows whose
    (entity, name, is_alias) already exist in main.
    """
    key = ["entity", "name", "is_alias"]
    if dedup_against_main:
        keys = delta_dict.select(*key).distinct()
        matched = (index.names.join(F.broadcast(keys), key, "inner")
                   .select(*key).distinct())
        delta_dict = delta_dict.join(F.broadcast(matched), key, "left_anti")
    d_idx = LookupIndex.build(delta_dict, fuzzy=fuzzy,
                              limit_per_token=index.limit_per_token,
                              fuzzy_edits=index.fuzzy_edits)
    m_main = token_match(mentions_prepared, None, fuzzy=fuzzy, index=index,
                         slim=True, cache_narrow=cache_narrow)
    m_delta = token_match(mentions_prepared, None, fuzzy=fuzzy, index=d_idx,
                          slim=True)
    return m_main.unionByName(m_delta)
