"""Incremental KG maintenance: process only NEW conversations, append.

Every transcript-side stage of the batch pipeline is CONVERSATION-LOCAL
(mentions, OOV runs, linking, pair generation and the edge probe all
derive per conv_id; OOV NIL ids are content hashes of the surface), and
the dictionary side (label_dict, index artifacts, canonical_map) is
static per snapshot — so triples from one conversation are independent
of every other conversation, and

    incremental(batch1) ∪ incremental(batch2) == full(batch1 ∪ batch2)

holds structurally, not approximately (regression-tested in
tests/test_pipeline_e2e.py). This is the batch complement of the
streaming twin (streaming/kg.py): streaming gives per-turn latency for
the exact arm; this gives exactly-once batch catch-up for the FULL
pipeline (fuzzy + OOV included) over an append-only conversation log —
the reference's closest analogue is re-running its ingestion scripts
over a new dump, which recomputes everything.

Bookkeeping: a ``_convs`` sidecar records which conv_ids are already in
the output — recorded EXPLICITLY rather than derived from the triples,
because a conversation legitimately yielding zero triples must not be
reprocessed forever. A partially-failed append (triples written, sidecar
not) re-runs that delta and OVERWRITES its conv partition rather than
appending twice — per-conversation idempotence under re-delivery.

Assumes conversations are immutable once ingested (the append-only-log
contract); a corrected conversation needs a new conv_id or a full
rebuild. Single-writer: concurrent appends need the transactional table
format this layout maps onto (session.py documents the Iceberg mapping).

Scale notes: the processed-set anti-join is a broadcast of conv_ids
only (one narrow column, millions of conversations fit comfortably; at
billions, swap for a join against the bucketed sidecar); the delta
pipeline run shuffles only delta-sized frames. Output is partitioned by
a bounded hash bucket of conv_id (``n_output_buckets``), so re-delivery
overwrite replaces whole buckets via dynamic partition overwrite
without listing every conversation, and bucket count — not conversation
count — bounds the file count per append.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lamapi_spark.pipeline.cache_registry import scoped_cache
from lamapi_spark.pipeline.run import run_pipeline

_TRIPLE_COLS = ("subj", "pred", "obj", "conv_id", "turn_idx")


def run_pipeline_incremental(
    spark: SparkSession,
    transcripts: DataFrame,
    kg_items: DataFrame,
    kg_edges: DataFrame,
    output_dir: str,
    kg_sameas: DataFrame | None = None,
    n_output_buckets: int = 64,
    **pipeline_kwargs,
) -> dict:
    """Append triples for conversations not yet in ``output_dir``.

    Returns {"new_convs": int, "new_triples": int, "skipped_convs": int,
    "triples": DataFrame over the full output}. ``pipeline_kwargs`` pass
    through to :func:`run_pipeline` (fuzzy, thresholds, index, ...) and
    must match across increments: changed parameters mean a new
    output_dir. A ``checkpoint_dir`` may be shared across increments,
    since stage fingerprints cover the content of each delta.
    """
    triples_path = os.path.join(output_dir, "triples")
    convs_path = os.path.join(output_dir, "_convs")

    all_convs = transcripts.select("conv_id").distinct()
    try:
        seen = spark.read.parquet(convs_path).select("conv_id")
        seen_n = seen.count()
    except Exception:
        seen, seen_n = None, 0

    delta_convs = (all_convs if seen is None
                   else all_convs.join(F.broadcast(seen), "conv_id",
                                       "left_anti"))
    # materialize the delta conv set once: it gates the transcript scan,
    # sizes the early-exit, and is re-read for the sidecar append
    delta_convs = scoped_cache(delta_convs)
    n_new = delta_convs.count()
    if n_new == 0:
        return {"new_convs": 0, "new_triples": 0, "skipped_convs": seen_n,
                "triples": spark.read.parquet(triples_path)}

    delta = transcripts.join(F.broadcast(delta_convs), "conv_id")
    out = run_pipeline(spark, delta, kg_items, kg_edges,
                       kg_sameas=kg_sameas, **pipeline_kwargs)
    new_triples = out["triples"].select(*_TRIPLE_COLS).withColumn(
        "_bucket", F.pmod(F.xxhash64("conv_id"), F.lit(n_output_buckets)))

    # dynamic partition overwrite: ONLY the delta's buckets are replaced,
    # making a re-delivered delta (sidecar write lost) converge instead
    # of duplicating. Requires re-writing the prior content of those
    # buckets alongside the new rows — read it back and union.
    writer_mode_conf = spark.conf.get("spark.sql.sources.partitionOverwriteMode",
                                     None)
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        if seen is not None:
            # the delta's bucket list comes from the CACHED conv set,
            # not from new_triples — probing new_triples for it would
            # execute the whole delta pipeline once for the list and
            # again for the write (a conv yielding zero triples adds
            # its bucket harmlessly: overwrite rewrites it unchanged)
            delta_buckets = delta_convs.select(
                F.pmod(F.xxhash64("conv_id"),
                       F.lit(n_output_buckets)).alias("_bucket")).distinct()
            prior = (spark.read.parquet(triples_path)
                     .withColumn("_bucket",
                                 F.pmod(F.xxhash64("conv_id"),
                                        F.lit(n_output_buckets)))
                     .join(F.broadcast(delta_buckets), "_bucket")
                     # drop any half-appended rows of the delta itself
                     .join(F.broadcast(delta_convs), "conv_id", "left_anti")
                     .select(*_TRIPLE_COLS, "_bucket"))
            to_write = prior.unionByName(
                new_triples.select(*_TRIPLE_COLS, "_bucket"))
            # the write overwrites the very path `prior` reads — truncate
            # lineage so the plan no longer references it (Spark rejects
            # an overwrite into its own source otherwise)
            to_write = to_write.localCheckpoint(eager=True)
        else:
            to_write = new_triples.select(*_TRIPLE_COLS, "_bucket")
        (to_write.repartition("_bucket")
         .write.mode("overwrite").partitionBy("_bucket")
         .parquet(triples_path))
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode",
                       writer_mode_conf if writer_mode_conf is not None
                       else "static")
    # count from the WRITTEN files (a scan of the delta's buckets), not
    # from new_triples — whose plan would re-execute the delta pipeline
    n_triples = (spark.read.parquet(triples_path)
                 .join(F.broadcast(delta_convs), "conv_id").count())
    # sidecar LAST: its presence certifies the triples append landed
    delta_convs.write.mode("append").parquet(convs_path)
    return {"new_convs": n_new, "new_triples": n_triples,
            "skipped_convs": seen_n,
            "triples": spark.read.parquet(triples_path)
                            .select(*_TRIPLE_COLS)}
