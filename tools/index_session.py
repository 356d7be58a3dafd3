"""Offline-index lifecycle driver: build the bucketed lookup-index
artifacts in one session, probe them from a FRESH session over a
persistent Derby-backed Hive metastore — the Spark analogue of the
reference's index lifecycle (scripts/elastic_indexing.py builds the ES
index once; every later lookup request probes it,
api/model/elastic.py:31-39).

Usage:
  python tools/index_session.py build --metastore DIR --out DIR
  python tools/index_session.py probe --metastore DIR --out DIR

``build`` constructs the label dictionary from the deterministic fixture
KG, writes the bucketed artifacts (LookupIndex.write) into the
metastore-backed catalog, runs the in-memory broadcast-path match as the
expected answer and saves it to ``--out/expected`` (plain parquet).
``probe`` starts a fresh session, loads the artifacts WITHOUT rebuilding
anything (build params come from the _meta sidecar), runs the
artifact-path match, and prints one JSON line with match/bucketed flags.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

PREFIX = "xs_idx"
MENTIONS = ["the blue film", "jon smith", "acme", "warp nonsense",
            "blue ocean", "a film about the ocean"]
OUT_COLS = ["mention_norm", "entity", "name", "is_alias",
            "matched_tokens", "matched_tokens_any"]


def _session(metastore: str):
    from lamapi_spark.session import get_spark
    return get_spark(app_name="index_session", master="local[4]",
                     shuffle_partitions=4, metastore_dir=metastore,
                     extra_conf={"spark.driver.memory": "6g"})


def _match(spark, label_dict, index):
    from lamapi_spark.operators.lookup import _prepare_mentions, token_match
    mentions = spark.createDataFrame([(m,) for m in MENTIONS], "mention string")
    prepared = _prepare_mentions(mentions)
    return token_match(prepared, label_dict, fuzzy=True, index=index,
                       slim=True).select(*OUT_COLS)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("mode", choices=["build", "probe", "build-ivf",
                                     "probe-ivf"])
    ap.add_argument("--metastore", required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()

    spark = _session(args.metastore)
    if args.mode == "build-ivf":
        # the embedding-side artifact lifecycle: build the persisted
        # inverted file, record the in-memory path's answer as expected
        from lamapi_spark.ops.similarity import IvfIndex, ivf_ann_topk
        from pyspark.sql import functions as F

        emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        IvfIndex.write(emb, prefix="xs_ivf", n_cells=8, n_buckets=4)
        expected = ivf_ann_topk(emb.filter(F.col("vec_id") < 5), emb,
                                k=3, n_cells=8, n_probe=2)
        expected.write.mode("overwrite").parquet(f"{args.out}/expected_ivf")
        print(json.dumps({"built": True, "expected_rows": expected.count()}))
    elif args.mode == "probe-ivf":
        # fresh process: no corpus scan, no centroid recompute — probe
        # the persisted structure only
        from lamapi_spark.ops.similarity import IvfIndex
        from pyspark.sql import functions as F

        idx = IvfIndex.load(spark, "xs_ivf")
        emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        got = idx.probe(emb.filter(F.col("vec_id") < 5), k=3, n_probe=2)
        rows = sorted(tuple(r) for r in got.collect())
        plan = got._jdf.queryExecution().executedPlan().toString()
        expected = sorted(
            tuple(r) for r in
            spark.read.parquet(f"{args.out}/expected_ivf").collect())
        print(json.dumps({
            "match": rows == expected,
            "rows": len(rows),
            "bucketed_scan": "Bucketed: true" in plan,
            "n_cells": idx.n_cells,
            "n_buckets": idx.n_buckets,
            "n_vecs": idx.n_vecs,
        }))
    elif args.mode == "build":
        from lamapi_spark.operators.indexes import LookupIndex
        from lamapi_spark.operators.label_dict import build_label_dict
        from lamapi_spark.pipeline.fixtures import build_kg, kg_dataframes

        kg = build_kg(seed=7, n_people=40, n_orgs=15, n_locs=8, n_films=25)
        label_dict = build_label_dict(kg_dataframes(spark, kg)["kg_items"]).cache()
        LookupIndex.write(label_dict, prefix=PREFIX, n_buckets=4, fuzzy=True,
                          limit_per_token=50, fuzzy_edits=1)
        expected = _match(spark, label_dict, index=None)
        expected.write.mode("overwrite").parquet(f"{args.out}/expected")
        print(json.dumps({"built": True, "expected_rows": expected.count()}))
    else:
        from lamapi_spark.operators.indexes import LookupIndex
        # the probe session rebuilds NOTHING: no KG, no label dictionary —
        # params and data both come from the persisted artifact
        index = LookupIndex.load(spark, PREFIX)
        got = _match(spark, label_dict=None, index=index)
        rows = sorted(tuple(r) for r in got.collect())
        plan = got._jdf.queryExecution().executedPlan().toString()
        expected = sorted(
            tuple(r) for r in
            spark.read.parquet(f"{args.out}/expected").select(*OUT_COLS).collect())
        print(json.dumps({
            "match": rows == expected,
            "rows": len(rows),
            "bucketed_scan": "Bucketed: true" in plan,
            "limit_per_token": index.limit_per_token,
            "fuzzy_edits": index.fuzzy_edits,
            "n_buckets": index.n_buckets,
        }))
    spark.stop()


if __name__ == "__main__":
    main()
