"""Streaming twins of the transcript exporters: SFT pairs
(pipeline/exports.sft_pairs) and dialogue segmentation
(pipeline/segments.segment_turns) mined live from a transcript stream.

Same session-window carry shape as stream_tool_edges / the coref twin
(state unit = conversation session, evicted once event time passes
session end + watermark): one watermarked session-window aggregation
collects a conversation's turns sorted in-array, and the
most-recent-prior-user-turn resolution runs IN-ARRAY as a turn-sorted
prefix maximum over user rows — the batch window's IGNORE-NULLS
running last. Semantics vs batch are identical per session (the parity
test sizes gap/watermark above its input's span); a conversation quiet
longer than ``gap`` resets the carry — the twins' deliberate staleness
bound. In-array cost is O(k^2) per session with k = one conversation's
turns, bounded by construction.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lamapi_spark.streaming.kg import TRANSCRIPT_SCHEMA


def stream_sft_pairs(
    spark: SparkSession,
    path: str,
    gap: str = "2 hours",
    watermark: str = "4 hours",
    schema: str = TRANSCRIPT_SCHEMA,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """-> (conv_id, prompt_turn, response_turn, prompt, response) for
    every assistant turn of every closed session whose conversation
    has a preceding user turn in the same session."""
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.parquet(path)
    turns = stream.withWatermark("ts", watermark).select(
        "conv_id", "turn_idx", "role", "text", "ts")
    per_conv = (
        turns.groupBy(F.session_window("ts", gap).alias("_w"),
                      F.col("conv_id"))
        .agg(F.array_sort(F.collect_list(F.struct(
            F.col("turn_idx").alias("t"), F.col("role").alias("role"),
            F.col("text").alias("x"),
        ))).alias("_occ"))
    )
    resolved = F.transform(
        F.col("_occ"),
        lambda x, i: F.struct(
            x["t"].alias("t"), x["role"].alias("role"),
            x["x"].alias("x"),
            F.array_max(F.filter(
                F.col("_occ"),
                lambda y, j: (j < i) & (y["role"] == "user"),
            )).alias("u"),
        ),
    )
    rows = per_conv.select("conv_id", F.explode(resolved).alias("r"))
    return (
        rows.filter((F.col("r.role") == "assistant")
                    & F.col("r.u").isNotNull())
        .select("conv_id",
                F.col("r.u.t").alias("prompt_turn"),
                F.col("r.t").alias("response_turn"),
                F.col("r.u.x").alias("prompt"),
                F.col("r.x").alias("response"))
    )


def stream_segment_turns(
    spark: SparkSession,
    path: str,
    threshold: float = 0.2,
    gap: str = "2 hours",
    watermark: str = "4 hours",
    schema: str = TRANSCRIPT_SCHEMA,
) -> DataFrame:
    """Streaming twin of pipeline/segments.segment_turns: topic
    boundaries computed live per closed conversation session. Same
    session-window carry shape as the other twins; the lag-Jaccard and
    the running boundary count both run IN-ARRAY over the session's
    sorted turns (the similarity expression is the batch operator's
    exact function composition, so doubles agree bitwise). O(k^2)
    per session via the nested boundary recount, k = one
    conversation's turns — bounded by construction.

    -> (conv_id, turn_idx, sim_prev, seg_id) for every turn of every
    closed session."""
    stream = spark.readStream.schema(schema).parquet(path)
    turns = stream.withWatermark("ts", watermark).select(
        "conv_id", "turn_idx", "text", "ts")
    per_conv = (
        turns.groupBy(F.session_window("ts", gap).alias("_w"),
                      F.col("conv_id"))
        .agg(F.array_sort(F.collect_list(F.struct(
            F.col("turn_idx").alias("t"), F.col("text").alias("x"),
        ))).alias("_occ"))
        .withColumn("_s", F.transform("_occ", lambda x: F.array_distinct(
            F.split(F.lower(F.trim(x["x"])), r"\s+"))))
    )

    def sim_at(i):
        prev, cur = F.get(F.col("_s"), i - 1), F.get(F.col("_s"), i)
        return (F.size(F.array_intersect(cur, prev)).cast("double")
                / F.size(F.array_union(cur, prev)).cast("double"))

    def boundary(j):
        return (j == F.lit(0)) | (sim_at(j) < F.lit(threshold))

    rows = F.transform(
        F.col("_occ"),
        lambda x, i: F.struct(
            x["t"].alias("t"),
            F.when(i > 0, sim_at(i)).alias("sim"),
            F.size(F.filter(F.sequence(F.lit(0), i), boundary))
            .cast("int").alias("seg"),
        ),
    )
    return (
        per_conv.select("conv_id", F.explode(rows).alias("r"))
        .select("conv_id", F.col("r.t").alias("turn_idx"),
                F.col("r.sim").alias("sim_prev"),
                F.col("r.seg").alias("seg_id"))
    )


def stream_refusal_gate(
    spark: SparkSession,
    path: str,
    gap: str = "2 hours",
    watermark: str = "4 hours",
    schema: str = TRANSCRIPT_SCHEMA,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Streaming twin of pipeline/exports.refusal_gate: the SFT ingest
    verdict computed live per conversation session — flag assistant
    turns against the refusal lexicon (stateless column exprs), then
    ONE watermarked session-window aggregation per conv_id. State is a
    handful of counters per open session (no turn buffering — unlike
    the SFT/segment twins this needs no in-array carry); a conversation
    quiet longer than ``gap`` closes and emits its verdict, the twins'
    usual staleness bound. Semantics vs batch are identical per session
    (parity-tested with gap/watermark above the input span).

    -> (conv_id, n_turns, n_assistant, n_refusals, refusal_rate, keep)
    per closed session."""
    from lamapi_spark.pipeline.exports import REFUSAL_RE

    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.parquet(path)
    is_asst = (F.col("role") == "assistant").cast("long")
    is_ref = ((F.col("role") == "assistant")
              & F.lower(F.col("text")).rlike(REFUSAL_RE)).cast("long")
    flags = (stream.withWatermark("ts", watermark)
             .select("conv_id", "ts", is_asst.alias("_a"),
                     is_ref.alias("_r")))
    agg = (
        flags.groupBy(F.session_window("ts", gap).alias("_w"),
                      F.col("conv_id"))
        .agg(F.count("*").alias("n_turns"),
             F.sum("_a").alias("n_assistant"),
             F.sum("_r").alias("n_refusals"))
    )
    return agg.select(
        "conv_id", "n_turns", "n_assistant", "n_refusals",
        F.bround(F.col("n_refusals")
                 / F.greatest("n_assistant", F.lit(1)), 6)
        .alias("refusal_rate"),
        (F.col("n_refusals") == 0).alias("keep"),
    )
