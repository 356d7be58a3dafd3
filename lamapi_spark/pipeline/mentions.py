"""Mention detection over transcript turns.

The reference's mention detector is a spaCy NER round-trip
(api/model/data_retrievers/ner_recognizer.py:4-29). We do not ship a
model; mention detection is re-expressed as **dictionary max-matching**
against the label dictionary (the KG itself supplies NERtype), which is
the shape the north star prescribes. Two arms:

- exact arm: every 1..K-token window of the cleaned turn text is a span;
  spans equi-join the dictionary on ``name_norm``. Pure JVM dataflow.
- fuzzy arm (optional): spans and dictionary names both explode into
  SymSpell deletion-1 variants; sharing a variant bounds edit distance,
  then a real ``levenshtein`` post-filter keeps 1-edit matches. The
  dictionary-side variant table is an index artifact (precompute it once,
  write bucketed by variant) — mention-side cost is linear in span count.

Overlap resolution: a matched span contained in a longer matched span is
dropped (max-match). Implemented per-turn with a collect+filter over the
turn's matched spans (bounded by turn length — no driver loop).

NIL mentions (surface forms absent from the KG): runs of adjacent
out-of-vocabulary tokens (not in the dictionary token vocabulary, not
stopwords, not literal-shaped) become candidate mentions that downstream
linking maps to deterministic NIL ids. This replaces the reference's
model-based NER for unknown entities.

Scale notes: transcripts are explicitly repartitioned by ``conv_id``
before windowed work (north-rule requirement). Every dictionary-side
join asks the :class:`~lamapi_spark.operators.indexes.LookupIndex`: the
span->matched join's strategy is decided from the dictionary cardinality
PERSISTED at index build (never a Catalyst estimate, never an
unconditional hint — both measured pathological, see
``LookupIndex.bounded_side``): small dictionary -> broadcast the
matched-span list; huge dictionary -> shuffle on the span string with
AQE skew handling.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from lamapi_spark.functions import clean_str
from lamapi_spark.functions.literals import classify_literal
from lamapi_spark.functions.strings import STOPWORDS
from lamapi_spark.operators.indexes import LookupIndex
from lamapi_spark.operators.label_dict import deletion_variants


def _fan_out(df: DataFrame, *cols: str) -> DataFrame:
    """Repartition with an EXPLICIT partition count before a row-exploding
    operator. AQE sizes shuffle partitions from pre-explosion bytes, so a
    few-MB input coalesces to 1-2 partitions and the explosion (span
    windows x deletion variants = 100x-1000x rows) runs nearly serial.
    A fixed count pins the post-shuffle parallelism."""
    n = df.sparkSession.sparkContext.defaultParallelism * 2
    return df.repartition(n, *cols) if cols else df.repartition(n)


def _spans(transcripts: DataFrame, max_ntoken: int,
           carry: tuple[str, ...] = ()) -> DataFrame:
    """All 1..K-token windows of each turn: (conv_id, turn_idx[, carry],
    start, ntoken_span, span). ``start`` is the 1-based token offset.
    ``carry`` names extra columns to ride along unchanged (the streaming
    twin carries the event-time column through for its watermark)."""
    toks = transcripts.select(
        "conv_id", "turn_idx", *carry,
        F.split(clean_str("text"), " ").alias("toks"),
    )
    span_structs = F.flatten(F.transform(
        F.sequence(F.lit(1), F.size("toks")),
        lambda i: F.transform(
            F.sequence(F.lit(1), F.least(F.lit(max_ntoken), F.size("toks") - i + 1)),
            lambda n: F.struct(
                i.alias("start"),
                n.alias("ntoken_span"),
                F.concat_ws(" ", F.slice("toks", i, n)).alias("span"),
            ),
        ),
    ))
    return toks.select(
        "conv_id", "turn_idx", *carry, F.explode(span_structs).alias("s")
    ).select("conv_id", "turn_idx", *carry,
             "s.start", "s.ntoken_span", "s.span")


def _inside_longer_span(spans: str, s: Column) -> Column:
    """The max-match predicate: True when span ``s`` lies strictly inside
    a longer span of the array column ``spans`` (positions only: start,
    ntoken_span)."""
    return F.exists(
        spans,
        lambda o: (o["start"] <= s["start"])
        & (o["start"] + o["ntoken_span"] >= s["start"] + s["ntoken_span"])
        & (o["ntoken_span"] > s["ntoken_span"]),
    )


def detect_mentions(
    transcripts: DataFrame,
    label_dict: DataFrame,
    max_ntoken: int = 4,
    fuzzy: bool = True,
    index: LookupIndex | None = None,
) -> DataFrame:
    """-> (conv_id, turn_idx, start, ntoken_span, surface, name_norm,
    edits) — one row per detected span, max-matched (no span contained
    in a longer matched span), deduped to the best (min-edit) dictionary
    name per span.

    ``index``: a prebuilt :class:`~lamapi_spark.operators.indexes.
    LookupIndex`. With a bucketed index the span->name joins probe the
    saved name / deletion-variant tables with no dictionary-side shuffle
    or broadcast (distinct on the bucketed key is also shuffle-free).
    Without one, the in-memory index is built from ``label_dict``."""
    if index is None:
        index = LookupIndex.build(label_dict, fuzzy=fuzzy)
    spans = _spans(
        _fan_out(transcripts, "conv_id"),
        max_ntoken,
    )

    # Match DISTINCT span strings, then broadcast the (small) match list
    # back onto span positions. Transcript text is template-heavy, so
    # distinct spans are orders of magnitude fewer than span occurrences
    # — this keeps the deletion-variant explosion (the allocation-heavy
    # part) off the big table entirely. This is the same dedup-before-
    # expensive-work principle as the lookup mention cache.
    span_strs = _fan_out(spans.select("span").distinct(), "span")

    names_b = index.probe_side(index.names.select("name_norm").distinct())
    exact_strs = span_strs.join(
        names_b, span_strs.span == names_b.name_norm, "inner"
    ).select("span", "name_norm", F.lit(0).alias("edits"))

    if fuzzy:
        if index.fuzzy_names is None:
            raise ValueError("fuzzy detection requires an index built with fuzzy=True")
        fuzzy_strs = (
            span_strs.select("span", F.explode(
                deletion_variants(F.col("span"), 1)).alias("variant"))
            .join(index.probe_side(index.fuzzy_names), "variant", "inner")
            .withColumn("edits", F.levenshtein("span", "name_norm"))
            .filter(F.col("edits") == 1)
            .select("span", "name_norm", "edits")
            .distinct()
        )
        matched_strs = exact_strs.unionByName(fuzzy_strs)
    else:
        matched_strs = exact_strs

    # matched_strs derives from a join, so its strategy comes from the
    # persisted name count that bounds it, never a Catalyst estimate
    # (LookupIndex.bounded_side): small dictionary -> broadcast the
    # matched list (one bounded driver round-trip, no spans shuffle, no
    # skew); huge dictionary -> shuffle on span and let AQE's skew-join
    # split the hot strings. Pinning shuffle_hash for every dictionary
    # shuffles each span OCCURRENCE by its (very skewed, template-heavy)
    # string and was measured to scale NEGATIVELY on more executors.
    # Shuffle-byte cut: the span OCCURRENCE frame (the big side) ships a
    # 96-bit composite hash of the span instead of the raw multi-word
    # string — the string rides only on the (bounded) matched side and
    # comes back through the join, so the fallback arm's shuffle moves
    # fixed-width rows (4 ints + conv_id) on a measured memory-bandwidth-
    # bound box. Correctness: a wrong surface would need two DISTINCT
    # span strings colliding on BOTH xxhash64 and crc32 (~2^-96 per
    # pair): at 10^12 distinct spans x 10^8 matched names the expected
    # collision count is ~1e-9 — far below any hardware error rate.
    def _span_key(df: DataFrame) -> DataFrame:
        return df.withColumn("_h1", F.xxhash64("span")).withColumn(
            "_h2", F.crc32(F.encode("span", "utf-8")))

    spans_h = _span_key(spans).drop("span")
    matched_keyed = _span_key(matched_strs)
    matched = spans_h.join(
        index.bounded_side(matched_keyed, index.n_names), ["_h1", "_h2"]
    ).select("conv_id", "turn_idx", "start", "ntoken_span",
             F.col("span").alias("surface"), "name_norm", "edits")

    # Per-turn span resolution in ONE shuffle (was: a row_number window
    # over (conv_id, turn_idx, start, ntoken) THEN a group-by over
    # (conv_id, turn_idx) — two full exchanges of the matched rows).
    # Collect each turn's matched spans (bounded by turn length x
    # matches) and resolve inside the array:
    # - best dictionary name per span position: fewest edits, then
    #   lexicographic (strict (edits, name_norm) comparison — name_norm
    #   is distinct within a position, so the minimum is unique);
    # - max-match: drop spans strictly contained in a longer matched
    #   span (containment only inspects positions, so checking against
    #   the pre-dedup array is equivalent).
    per_turn = matched.groupBy("conv_id", "turn_idx").agg(
        F.collect_list(F.struct("start", "ntoken_span", "surface", "name_norm", "edits")).alias("_ms"))
    kept = per_turn.select(
        "conv_id", "turn_idx",
        F.explode(F.filter(
            "_ms",
            lambda s: ~F.exists(
                "_ms",
                lambda o: (o["start"] == s["start"])
                & (o["ntoken_span"] == s["ntoken_span"])
                & ((o["edits"] < s["edits"])
                   | ((o["edits"] == s["edits"])
                      & (o["name_norm"] < s["name_norm"]))),
            ) & ~_inside_longer_span("_ms", s),
        )).alias("m"),
    ).select("conv_id", "turn_idx", "m.start", "m.ntoken_span",
             "m.surface", "m.name_norm", "m.edits")
    return kept


def detect_oov_mentions(
    transcripts: DataFrame,
    label_dict: DataFrame,
    max_run: int = 4,
    min_run: int = 2,
    index: LookupIndex | None = None,
) -> DataFrame:
    """Candidate NIL mentions: maximal runs (min_run <= length <= max_run)
    of adjacent tokens that are out-of-vocabulary w.r.t. the dictionary
    token set, not stopwords, and not literal-shaped (numbers/dates/...).
    ``min_run`` defaults to 2: single OOV tokens are overwhelmingly
    ordinary verbs/nouns, not entity names.

    -> (conv_id, turn_idx, start, ntoken_span, surface)."""
    if index is None:
        index = LookupIndex.build(label_dict, fuzzy=False)
    # token vocabulary straight from the token index: on a bucketed
    # artifact the distinct on the bucket key is shuffle-free
    vocab = index.probe_side(index.token.select("token").distinct()
                             .withColumn("_in_vocab", F.lit(True)))

    toks = _fan_out(transcripts, "conv_id").select(
        "conv_id", "turn_idx",
        F.posexplode(F.split(clean_str("text"), " ")).alias("pos", "token"),
    )
    # classify/filter DISTINCT tokens once (the literal-classifier regex
    # cascade is the expensive bit), then broadcast-semi-join back
    oov_tokens = (
        toks.select("token").distinct()
        .join(vocab, "token", "left")
        .filter(F.col("_in_vocab").isNull())
        .filter(~F.col("token").isin(*STOPWORDS))
        .filter(classify_literal("token") == "STRING")
        .filter(F.length("token") > 2)
        .select("token")
    )
    # oov_tokens is join-derived (anti-join vs the vocabulary) and no
    # persisted count bounds it: it broadcasts in the in-memory path
    # only, never with a bucketed (cluster-scale) index
    oov = toks.join(index.probe_side(oov_tokens), "token")
    # Gaps-and-islands in ONE shuffle: collect each turn's OOV tokens
    # once, sort in-array by position (explicit determinism), then runs
    # are the distinct values of (pos - index) over the sorted array —
    # adjacent positions share the key — materialized with indexed
    # transform/filter lambdas (scalar comparisons only). This replaces
    # the round-4 F.aggregate fold, which rebuilt the runs array with
    # concat(slice(...)) per element: measured (BENCH.md; the A/B script,
    # tools/ab_oov.py, is in git history; 3.75M turns, 1x4 and 4x4
    # executors) the fold cost ~8-10% more wall than this formulation
    # at both levels for identical output hashes. The
    # pre-round-4 row_number-window + group-by is ~5% faster still on
    # this box but its collect_list surface order is ARRIVAL-dependent —
    # the A/B caught it emitting different hashes across identical runs
    # at 4x4 — which breaks the engine's bit-identical-across-parallelism
    # guarantee, so it is disqualified, not slow. Arrays are bounded by
    # turn length (10-20 tokens), so the O(runs x n) lambda work is
    # trivial per row.
    per_turn = oov.groupBy("conv_id", "turn_idx").agg(
        F.sort_array(F.collect_list(F.struct("pos", "token"))).alias("_tk"))
    runs = per_turn.select(
        "conv_id", "turn_idx",
        F.explode(F.expr("""
          transform(
            array_distinct(transform(_tk, (e, i) -> e.pos - i)),
            g -> named_struct(
              'start', filter(_tk, (e, i) -> e.pos - i = g)[0].pos + 1,
              'ntoken_span', size(filter(_tk, (e, i) -> e.pos - i = g)),
              'surface', array_join(transform(
                  filter(_tk, (e, i) -> e.pos - i = g), e -> e.token), ' ')))
        """)).alias("r"))
    return (
        runs
        .filter((F.col("r.ntoken_span") <= max_run)
                & (F.col("r.ntoken_span") >= min_run))
        .select("conv_id", "turn_idx",
                # 1-based like _spans
                F.col("r.start").cast("int").alias("start"),
                F.col("r.ntoken_span").alias("ntoken_span"),
                F.col("r.surface").alias("surface"))
    )


def detect_mentions_pandas(
    transcripts: DataFrame,
    dict_names: list[str],
    max_ntoken: int = 4,
) -> DataFrame:
    """Vectorized pandas/Arrow alternative of the exact arm: batched
    max-matching inside ``mapInPandas`` with the dictionary as a
    broadcast plain-Python set. Semantics must equal
    ``detect_mentions(fuzzy=False)`` (tested); exists to satisfy the
    batched-UDF stage shape and as the extension point for matchers the
    DataFrame algebra can't express (e.g. model-based NER).
    """
    import pandas as pd  # noqa: F401

    spark = transcripts.sparkSession
    name_set = spark.sparkContext.broadcast(set(dict_names))
    out_schema = ("conv_id string, turn_idx int, start int, "
                  "ntoken_span int, surface string, name_norm string, edits int")

    def matcher(batches):
        names = name_set.value
        for pdf in batches:
            rows = {"conv_id": [], "turn_idx": [], "start": [],
                    "ntoken_span": [], "surface": [], "name_norm": [], "edits": []}
            for conv, turn, text in zip(pdf["conv_id"], pdf["turn_idx"], pdf["text"]):
                toks = " ".join((text or "").lower().split()).split(" ")
                found = []
                for i in range(len(toks)):
                    for n in range(min(max_ntoken, len(toks) - i), 0, -1):
                        span = " ".join(toks[i:i + n])
                        if span in names:
                            found.append((i + 1, n, span))
                kept = [
                    (s, n, sp) for (s, n, sp) in found
                    if not any(
                        os <= s and os + on >= s + n and on > n
                        for (os, on, _) in found
                    )
                ]
                for s, n, sp in kept:
                    rows["conv_id"].append(conv)
                    rows["turn_idx"].append(int(turn))
                    rows["start"].append(s)
                    rows["ntoken_span"].append(n)
                    rows["surface"].append(sp)
                    rows["name_norm"].append(sp)
                    rows["edits"].append(0)
            yield pd.DataFrame(rows)

    return (
        _fan_out(transcripts, "conv_id")
        .select("conv_id", "turn_idx", "text")
        .mapInPandas(matcher, schema=out_schema)
    )
