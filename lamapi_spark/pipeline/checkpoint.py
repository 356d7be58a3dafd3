"""Stage checkpointing with per-stage lineage + metrics, enabling
resume-from-failure.

Each stage writes its output as parquet under ``<root>/<stage>/data``
plus a ``metrics.json`` sidecar recording rows, partitions, duration,
input lineage (each dep's fingerprint), the stage's fingerprint and the
reason it was computed. On rerun, a stage whose data and sidecar exist
is **read back instead of recomputed** when, and only when, the
recorded fingerprint equals the caller's. Nothing else is compared, so
the fingerprint must cover everything the stage's output depends on:
pipeline/run.py chains it from the parameters each stage reads and the
content fingerprints of its sources. The sidecar is removed before a
stage's data is overwritten and replaced atomically after, so a crash
leaves a stage that either matches or recomputes.

This is the batch analogue of the reference's Mongo result cache
(lookup_retriever.py:78-102,184-211): keyed memoization of expensive
results — but at stage granularity with explicit lineage. Iceberg's
snapshot/MERGE machinery would replace the parquet+sidecar here on a
real deployment; plain parquet keeps the sandbox dependency-free.
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import dataclass, field
from functools import reduce
from typing import Callable

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import MapType

# per-partition lineage detail is capped: at cluster scale a stage can
# write tens of thousands of files and the sidecar must stay a small
# metadata record, not a second copy of the file listing
_LINEAGE_DETAIL_CAP = 64


def _partition_lineage(data_path: str, parts: list[str]) -> dict:
    """PER-PARTITION lineage from the parquet FOOTERS (north-rule
    requirement: per-partition lineage + metrics). Footer reads are a
    few KB of I/O per file, driver-side, no data scan. Records each
    partition's rows + serialized bytes (detail capped at
    _LINEAGE_DETAIL_CAP files; the skew summary always covers ALL
    partitions), so a resumed/re-run stage can be audited file-by-file
    and skew is visible per stage without touching the data."""
    import pyarrow.parquet as pq

    rows, bytes_ = [], []
    for f in parts:
        md = pq.read_metadata(os.path.join(data_path, f))
        rows.append(md.num_rows)
        bytes_.append(md.serialized_size
                      + sum(md.row_group(i).total_byte_size
                            for i in range(md.num_row_groups)))
    detail = [
        {"file": f, "rows": r, "bytes": b}
        for f, r, b in list(zip(parts, rows, bytes_))[:_LINEAGE_DETAIL_CAP]
    ]
    nonzero = [r for r in rows if r] or [0]
    return {
        "files": detail,
        "detail_truncated": len(parts) > _LINEAGE_DETAIL_CAP,
        "max_rows": max(rows, default=0),
        "min_rows": min(rows, default=0),
        # rows in the largest partition / mean nonzero rows — the skew
        # signal that predicts a straggler task on rerun
        "skew": round(max(rows, default=0)
                      / (sum(nonzero) / len(nonzero)), 3) if any(rows) else 0.0,
    }


def content_fingerprints(frames: dict[str, DataFrame]) -> dict[str, str]:
    """``"<rows>:<bit_xor of xxhash64 over all columns>"`` per frame, an
    order-independent content hash, for all frames in ONE Spark action.
    MAP columns (which Spark cannot hash) enter as their sorted entries."""
    def hashed(name: str, df: DataFrame) -> DataFrame:
        cols = [F.col(f"`{f.name}`") for f in df.schema.fields]
        cols = [F.array_sort(F.map_entries(c)) if isinstance(f.dataType, MapType)
                else c for c, f in zip(cols, df.schema.fields)]
        return df.select(F.lit(name).alias("src"), F.xxhash64(*cols).alias("h"))

    rows = (reduce(DataFrame.unionByName, [hashed(*kv) for kv in frames.items()])
            .groupBy("src").agg(F.count("*").alias("n"), F.expr("bit_xor(h)").alias("h"))
            .collect())
    got = {r["src"]: f"{r['n']}:{r['h']}" for r in rows}
    return {n: got.get(n, "0:0") for n in frames}


@dataclass
class StageRunner:
    spark: SparkSession
    root: str
    enabled: bool = True
    metrics: list[dict] = field(default_factory=list)

    def _paths(self, stage: str) -> tuple[str, str]:
        base = os.path.join(self.root, stage)
        return os.path.join(base, "data"), os.path.join(base, "metrics.json")

    def run(
        self,
        stage: str,
        build: Callable[[], DataFrame],
        fingerprint: str = "",
        inputs: dict[str, str] | None = None,
    ) -> DataFrame:
        """Resume ``stage`` when its recorded fingerprint equals
        ``fingerprint``, else build and checkpoint it. ``inputs`` maps
        each dep to its fingerprint; on a recompute the sidecar's
        ``reason`` says why: ``no checkpoint``, ``unreadable sidecar``,
        the deps whose fingerprint changed, or ``params`` when none did."""
        if not self.enabled:
            return build()
        inputs = inputs or {}
        data_path, meta_path = self._paths(stage)
        reason = "no checkpoint"
        if os.path.exists(meta_path) and os.path.exists(os.path.join(data_path, "_SUCCESS")):
            try:
                with open(meta_path) as fh:
                    meta = json.load(fh)
            except ValueError:  # an unreadable sidecar commits nothing
                meta, reason = {}, "unreadable sidecar"
            if meta.get("fingerprint") == fingerprint:
                meta["resumed"] = True
                meta.pop("reason", None)  # why it was computed, not this run
                self.metrics.append(meta)
                return self.spark.read.parquet(data_path)
            if meta:
                prev = meta.get("inputs")
                prev = prev if isinstance(prev, dict) else {}
                reason = [d for d, fp in inputs.items() if prev.get(d) != fp] or "params"
        if os.path.exists(meta_path):  # it must not certify the data replacing it
            os.remove(meta_path)
        t0 = time.time()
        df = build()
        # rows_out is harvested from the write job itself via observe()
        # — a second full scan of every checkpoint (out.count()) would
        # double checkpoint read I/O at scale
        obs = Observation(f"stage_{stage}")
        # tag the write job so event-log profilers (tools/profile_pipeline)
        # can attribute Spark stages/shuffles to the pipeline stage;
        # RESTORE the caller's description afterwards (a hosting service
        # may have set its own on this thread — round-6 advisory)
        sc = self.spark.sparkContext
        prev = sc.getLocalProperty("spark.job.description")
        sc.setJobDescription(f"pipeline_stage:{stage}")
        try:
            df.observe(obs, F.count(F.lit(1)).alias("rows")).write.mode(
                "overwrite").parquet(data_path)
        finally:
            sc.setJobDescription(prev)
        n_rows = int(obs.get["rows"])
        out = self.spark.read.parquet(data_path)
        # partition count from the written files — df.rdd.getNumPartitions()
        # would build a whole RDD conversion per stage just for a metric
        parts = sorted(f for f in os.listdir(data_path) if f.startswith("part-"))
        meta = {
            "stage": stage,
            "rows_out": n_rows,
            "partitions": len(parts),
            "partition_lineage": _partition_lineage(data_path, parts),
            "duration_s": round(time.time() - t0, 3),
            "fingerprint": fingerprint,
            "inputs": inputs,
            "resumed": False,
            "reason": reason,
        }
        tmp = f"{meta_path}.tmp"
        with open(tmp, "w") as fh:
            json.dump(meta, fh)
        os.replace(tmp, meta_path)
        self.metrics.append(meta)
        return out
