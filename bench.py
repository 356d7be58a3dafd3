"""Benchmark runner: headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints ONE JSON line:
  {"metric": ..., "value": <total_sec>, "unit": "sec",
   "queries": {name: sec, ...}, "sf": ..., plus kg-pipeline throughput
   and scaling-efficiency evidence fields when SPARK_GRAFT_SCALING=1}.

The kg_pipeline entry is the north-star workload: synthetic transcripts
(deterministic, FIXTURES.md bench scale) -> triples, reported as
triples/sec. Scaling evidence (same job at local[8] vs local[32]) is
produced by tools/bench_scaling.py and recorded in BENCH.md — running
two SparkSessions in one process would share a JVM, so the scaling run
execs fresh processes per parallelism level.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

HEADLINE = [
    "lookup_candidates",
    "lookup_candidates_indexed",
    "lookup_candidates_delta",
    "lookup_token_match",
    "literal_freq",
    "pred_freq",
    "candidate_argmax",
    "topk_per_group",
    "bow_similarity",
    "pair_predicate_probe",
    "sessionize_events",
    "literal_classify",
    # round 4: the iterative-graph representative (3 fixed-point
    # PageRank rounds — join+agg per round over the derived edge set)
    "graph_pagerank",
    # round 4 late adds: corpus-wide passage dedup (full gram explode +
    # two exchanges) and BM25 ranked retrieval (scan-bound)
    "dedup_substring_spans",
    "bm25_topk",
    # round 4 final: the distributed-trainer representative (2
    # full-batch TransE-L1 GD iterations — 4 joins + 2 aggs + update
    # join per round, all integer fixed point)
    "kg_transe_train",
    # round 4 closing sweep: rule mining (distinct + two self-joins on
    # entity/pair keys) and TextRank (conv-bounded similarity join +
    # 3 PageRank rounds + per-conv top-k window)
    "kg_rule_mining",
    "conv_textrank",
    # round 4 tenth part: keyword-phrase extraction (three doc-keyed
    # exchanges + per-doc window) and the generated-vs-training n-gram
    # novelty audit (full gram explode + one gram-keyed join)
    "corpus_rake",
    "corpus_ngram_novelty",
]


def time_query(fn, spark, sf_dir) -> tuple[float, int]:
    t0 = time.time()
    df = fn(spark, sf_dir)
    n = df.count()
    return time.time() - t0, n


def main():
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")

    from lamapi_spark.queries import queries
    from lamapi_spark.session import get_spark

    spark = get_spark(app_name="lamapi_spark_bench", master=f"local[{cpus}]",
                      shuffle_partitions=int(cpus))
    qs = queries()

    # steady-state warmup: run the headline set once at the smallest SF
    # so whole-stage codegen compilation and executor spin-up are not
    # billed to the first measured query (standard JVM benchmarking
    # practice; the measured numbers then reflect per-query plan cost)
    warm_dir = "/root/testdata/sf0.001"
    for name in HEADLINE:
        try:
            qs[name](spark, warm_dir).count()
        except Exception:
            pass

    # the indexed-lookup artifact for the TARGET sf is built here, once,
    # outside the timed loop (and reported separately below): the timed
    # lookup_candidates_indexed entry is then PROBE-ONLY — comparable
    # round over round, like the reference's lookups probing a pre-built
    # ES index. (The sf0.001 warmup above built its own sf-scoped index.)
    from lamapi_spark.queries import _lci_index

    t_lci = time.time()
    _lci_index(spark, sf_dir)[1].token.count()
    lci_build_sec = time.time() - t_lci

    # same discipline for the delta-maintenance fixtures: main artifact
    # + side delta built once here, so the timed lookup_candidates_delta
    # entry is probe-only and directly comparable to the indexed probe
    # (their difference IS the cost of delta visibility)
    from lamapi_spark.queries import _lcd_index

    t_lcd = time.time()
    idx_d, delta_d = _lcd_index(spark, sf_dir)
    idx_d.token.count()
    delta_d.count()
    lcd_build_sec = time.time() - t_lcd

    per_query: dict[str, float] = {}
    total = 0.0
    for name in HEADLINE:
        sec, _n = time_query(qs[name], spark, sf_dir)
        per_query[name] = round(sec, 3)
        total += sec

    # north-star workload: KG pipeline over synthetic transcripts
    from lamapi_spark.pipeline.fixtures import (
        build_kg, build_transcripts, kg_dataframes, transcript_dataframes,
    )
    from lamapi_spark.pipeline.run import run_pipeline

    import tempfile

    kg = build_kg(seed=42, n_people=400, n_orgs=120, n_locs=60, n_films=250)
    dfs = kg_dataframes(spark, kg)
    tr = build_transcripts(kg, seed=43, n_convs=800, turns_per_conv=(10, 20))
    dfs.update(transcript_dataframes(spark, *tr))
    tmp = tempfile.mkdtemp()
    # a parquet round trip gives the transcripts real partitions, as a
    # table-backed input has
    dfs["transcripts"].repartition(int(cpus)).write.parquet(tmp + "/transcripts")
    transcripts = spark.read.parquet(tmp + "/transcripts")
    n_turns = transcripts.count()
    t0 = time.time()
    out = run_pipeline(spark, transcripts, dfs["kg_items"], dfs["kg_edges"],
                       dfs["kg_sameas"], checkpoint_dir=tmp + "/ckpt", fuzzy=True,
                       use_index_artifacts=False)  # the broadcast plan, explicitly
    n_triples = out["triples"].count()
    kg_sec = time.time() - t0
    per_query["kg_pipeline"] = round(kg_sec, 3)
    total += kg_sec

    # ARTIFACT plan, measured side by side: the pipeline probing bucketed
    # offline index tables (the plan a 10^8-entity dictionary runs) —
    # the offline build is reported separately, exactly as the
    # reference's lookups probe a pre-built ES index. Both plans emit
    # identical triples (asserted).
    from lamapi_spark.pipeline.run import build_index_artifacts

    t_idx = time.time()
    idx = build_index_artifacts(spark, dfs["kg_items"], fuzzy=True,
                                limit_per_token=100, prefix="bench_idx",
                                reuse=False)
    index_build_sec = time.time() - t_idx
    t0 = time.time()
    out_idx = run_pipeline(spark, transcripts, dfs["kg_items"], dfs["kg_edges"],
                           dfs["kg_sameas"], checkpoint_dir=tmp + "/ckpt_idx",
                           fuzzy=True, index=idx)
    n_triples_idx = out_idx["triples"].count()
    kg_idx_sec = time.time() - t0
    assert n_triples_idx == n_triples, (n_triples_idx, n_triples)
    per_query["kg_pipeline_indexed"] = round(kg_idx_sec, 3)
    per_query["index_build_offline"] = round(index_build_sec, 3)
    per_query["lci_index_build_offline"] = round(lci_build_sec, 3)
    per_query["lcd_index_build_offline"] = round(lcd_build_sec, 3)
    total += kg_idx_sec + index_build_sec + lci_build_sec + lcd_build_sec

    result = {
        "metric": "headline_queries_plus_kg_pipeline",
        "value": round(total, 3),
        "unit": "sec",
        "queries": per_query,
        "sf": sf_dir,
        "kg_turns": n_turns,
        "kg_triples": n_triples,
        "kg_triples_per_sec": round(n_triples / kg_sec, 1) if kg_sec > 0 else None,
        "kg_turns_per_sec": round(n_turns / kg_sec, 1) if kg_sec > 0 else None,
        "kg_triples_per_sec_indexed": round(n_triples_idx / kg_idx_sec, 1)
        if kg_idx_sec > 0 else None,
        "kg_turns_per_sec_indexed": round(n_turns / kg_idx_sec, 1)
        if kg_idx_sec > 0 else None,
        "cpus": int(cpus),
    }
    spark.stop()
    print(json.dumps(result))


if __name__ == "__main__":
    main()
