"""spark-submit entry point for the KG-construction pipeline.

Cluster launch (north-rule packaging):

    cd /root/repo && zip -r /tmp/lamapi_spark.zip lamapi_spark
    spark-submit --master <cluster> --py-files /tmp/lamapi_spark.zip \\
        tools/submit_pipeline.py \\
        --transcripts <path/or/iceberg-table> --items <...> --edges <...> \\
        --sameas <...> --output <dir> --checkpoint <dir> [--fuzzy]

In the sandbox (no cluster) the same file runs under local[N] with the
deterministic fixture when --transcripts is omitted — used by the
packaging smoke test.
"""

from __future__ import annotations

import argparse
import json
import sys


def main(argv=None) -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--transcripts")
    ap.add_argument("--items")
    ap.add_argument("--edges")
    ap.add_argument("--sameas")
    ap.add_argument("--output", required=True)
    ap.add_argument("--checkpoint")
    ap.add_argument("--fuzzy", action="store_true")
    ap.add_argument("--master", default=None)
    ap.add_argument("--no-index-artifacts", action="store_true",
                    help="small-job opt-out: skip the bucketed offline "
                         "LookupIndex tables and broadcast an in-memory "
                         "index built from the dictionary instead (the "
                         "artifact plan — probe tables built once per "
                         "dictionary snapshot — is the DEFAULT, and the "
                         "only plan a dictionary that cannot broadcast "
                         "can run)")
    ap.add_argument("--candidate-limit", type=int, default=100)
    ap.add_argument("--incremental", action="store_true",
                    help="process only conversations not yet recorded in "
                         "<output>'s _convs sidecar and append their "
                         "triples (pipeline/incremental.py: idempotent "
                         "under re-delivery; parameters must match "
                         "across increments — same output dir == same "
                         "pipeline config)")
    args = ap.parse_args(argv)

    from pyspark.sql import SparkSession

    from lamapi_spark.pipeline.run import run_pipeline
    from lamapi_spark.session import get_spark

    # under spark-submit the session is preconfigured; standalone we build one
    spark = SparkSession.getActiveSession() or get_spark(
        app_name="lamapi_spark_pipeline", master=args.master)

    if args.transcripts:
        transcripts = spark.read.parquet(args.transcripts)
        items = spark.read.parquet(args.items)
        edges = spark.read.parquet(args.edges)
        sameas = spark.read.parquet(args.sameas) if args.sameas else None
    else:
        from lamapi_spark.pipeline.fixtures import (
            build_kg, build_transcripts, kg_dataframes, transcript_dataframes,
        )
        kg = build_kg(seed=42)
        dfs = kg_dataframes(spark, kg)
        dfs.update(transcript_dataframes(spark, *build_transcripts(kg, seed=43)))
        transcripts, items = dfs["transcripts"], dfs["kg_items"]
        edges, sameas = dfs["kg_edges"], dfs["kg_sameas"]

    kw = dict(checkpoint_dir=args.checkpoint, fuzzy=args.fuzzy,
              use_index_artifacts=not args.no_index_artifacts,
              candidate_limit=args.candidate_limit)
    if args.incremental:
        from lamapi_spark.pipeline.incremental import run_pipeline_incremental

        inc = run_pipeline_incremental(spark, transcripts, items, edges,
                                       args.output, kg_sameas=sameas, **kw)
        print(json.dumps({"new_convs": inc["new_convs"],
                          "new_triples": inc["new_triples"],
                          "skipped_convs": inc["skipped_convs"],
                          "triples_total": inc["triples"].count()}))
        spark.stop()
        return
    out = run_pipeline(spark, transcripts, items, edges, sameas, **kw)
    out["triples"].write.mode("overwrite").parquet(f"{args.output}/triples")
    out["canonical_map"].write.mode("overwrite").parquet(f"{args.output}/canonical_map")
    n = spark.read.parquet(f"{args.output}/triples").count()
    print(json.dumps({"triples_written": n, "metrics": out["metrics"]}))
    spark.stop()


if __name__ == "__main__":
    sys.path.insert(0, ".")
    main()
