"""End-to-end KG-construction pipeline runner.

transcripts ──detect──> mention spans (exact + fuzzy + OOV)
            ──lookup──> candidates per distinct surface (19-field parity)
            ──link────> (span, entity) with NIL handling
            ──pairs/probe──> provenance triples
            ──canonicalize──> final triples + canonical map

The pipeline is one table (``_stages``): stage -> (deps, the parameters
it reads, build). One loop runs it, handing every stage whose deps are
done to a small thread pool, so independent stages overlap. Every
match-path stage reads one lookup index: the caller's, the bucketed
artifact, or, with neither, the in-memory one that the ``index`` stage
builds once from label_dict. The table also keys the resume check: a
stage's fingerprint hashes the params it reads and its deps'
fingerprints, down to the sources (the content of the input frames,
and the lookup index's ``_meta`` row, whose pruning parameters only the
match-path stages after detection read). A stage resumes only when its
recorded fingerprint equals the new one, so a changed input or
parameter recomputes exactly the stages below it.
"""

from __future__ import annotations

import hashlib
import json
import time
from concurrent.futures import FIRST_COMPLETED, ThreadPoolExecutor, wait
from contextlib import nullcontext
from functools import partial
from typing import Callable, NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

import lamapi_spark.operators.lookup as lookup_ops
from lamapi_spark.operators.indexes import LookupIndex
from lamapi_spark.operators.label_dict import build_label_dict
from lamapi_spark.pipeline.cache_registry import CacheScope, in_caller_scopes, scoped_cache
from lamapi_spark.pipeline.canonicalize import canonical_map, canonicalize_triples
from lamapi_spark.pipeline.checkpoint import StageRunner, content_fingerprints
from lamapi_spark.pipeline.linking import link_mentions
from lamapi_spark.pipeline.mentions import detect_mentions, detect_oov_mentions
from lamapi_spark.pipeline.triples import extract_triples


def build_index_artifacts(
    spark: SparkSession,
    kg_items: DataFrame,
    fuzzy: bool = True,
    limit_per_token: int | None = 100,
    fuzzy_edits: int = 1,
    n_buckets: int | None = None,
    prefix: str = "lamapi_idx",
    reuse: bool = True,
    validate_source: bool = True,
) -> LookupIndex:
    """The OFFLINE index build (the elastic_indexing.py analogue): label
    dictionary -> four bucketed, sorted, pre-pruned saved tables. Run it
    once per dictionary snapshot; every pipeline run then probes the
    artifacts with no dictionary-side shuffle/broadcast. ``reuse=True``
    loads existing tables instead of rebuilding; the returned index's
    ``reused`` flag records which happened."""
    # Reuse only an artifact whose _meta sidecar matches on two axes:
    # - build PARAMETERS (silently probing an artifact pruned with a
    #   different K would drop the exact-name/1-edit recall guards);
    # - the dictionary SNAPSHOT: the content fingerprint of kg_items, so
    #   a DIFFERENT kg_items frame under the same prefix rebuilds instead
    #   of linking against the stale dictionary. Snapshot-managed
    #   deployments (a fresh prefix per dictionary version) can skip the
    #   validation scan with ``validate_source=False``.
    source_fp = None
    if validate_source:
        source_fp = content_fingerprints({"kg_items": kg_items})["kg_items"]
    if reuse and LookupIndex.exists(spark, prefix, fuzzy=fuzzy,
                                    limit_per_token=limit_per_token,
                                    fuzzy_edits=fuzzy_edits,
                                    source_fp=source_fp):
        idx = LookupIndex.load(spark, prefix)
        idx.reused = True
        return idx
    if n_buckets is None:
        n_buckets = spark.sparkContext.defaultParallelism
    label_dict = build_label_dict(kg_items)
    return LookupIndex.write(
        label_dict, prefix=prefix, n_buckets=n_buckets, fuzzy=fuzzy,
        limit_per_token=limit_per_token, fuzzy_edits=fuzzy_edits,
        source_fp=source_fp)


_SPAN = ("conv_id", "turn_idx", "start", "ntoken_span", "surface")
# the in-memory index's fuzzy band, as build_index_artifacts builds it:
# 2-edit neighborhoods are ~4x the variant volume for a tail of 2-edit typos
_FUZZY_EDITS = 1


class Stage(NamedTuple):
    deps: tuple[str, ...]     # stages and sources the build reads
    params: tuple[str, ...]   # run_pipeline parameters the build reads
    build: Callable[[dict, dict], object]  # (deps, params) -> output
    checkpoint: bool = True   # False: rebuilt every run, never stored
    cache: bool = False       # several stages read the output


def _stages(broadcast_edges: bool, count_match: bool) -> dict[str, Stage]:
    """The pipeline table, in dependency order; a build sees only its
    declared deps and params. Every match-path stage reads ``index``:
    the caller's or the artifact's, or, when there is neither, the
    in-memory one that the ``index`` stage builds once from label_dict
    (run_pipeline drops label_dict, index and vocab when an index is
    given); mention detection reads it as ``vocab``."""
    def slim(d, p):
        # ONE narrow match pass feeds the candidates and the linking
        match = lookup_ops.token_match(d["prepared"], None, fuzzy=p["fuzzy"],
                                       cache_narrow=True, index=d["index"], slim=True)
        if count_match:  # materialized once, not raced for by its two readers
            match.count()
        return match

    return {
        "canonical_map": Stage(("kg_sameas",), (), lambda d, p: canonical_map(d["kg_sameas"])),
        "label_dict": Stage(("kg_items",), (),
                            lambda d, p: build_label_dict(d["kg_items"]), cache=True),
        "index": Stage(("label_dict",), ("fuzzy", "limit_per_token"), checkpoint=False,
                       build=lambda d, p: LookupIndex.build(
                           d["label_dict"], fuzzy=p["fuzzy"],
                           limit_per_token=p["limit_per_token"],
                           fuzzy_edits=_FUZZY_EDITS)),
        # the same index, as mention detection reads it: the names, fuzzy
        # names and token set, which pruning leaves unchanged (prune_index
        # keeps >= 1 row per token). Its fingerprint omits limit_per_token
        # and fuzzy_edits (_index_fps), so changing them resumes both
        # detection stages.
        "vocab": Stage(("index",), (), checkpoint=False, build=lambda d, p: d["index"]),
        "mentions": Stage(
            ("transcripts", "vocab"), ("max_ntoken", "fuzzy"),
            lambda d, p: detect_mentions(d["transcripts"], None, p["max_ntoken"],
                                         p["fuzzy"], index=d["vocab"])),
        "oov_mentions": Stage(
            ("transcripts", "vocab"), (),
            lambda d, p: detect_oov_mentions(d["transcripts"], None, index=d["vocab"])),
        "all_spans": Stage(
            ("mentions", "oov_mentions"), (), checkpoint=False, build=lambda d, p:
            d["mentions"].select(*_SPAN).unionByName(d["oov_mentions"].select(*_SPAN))),
        "surfaces": Stage(("all_spans",), (), checkpoint=False, cache=True, build=lambda d, p:
                          d["all_spans"].select("surface").distinct()),
        "prepared": Stage(("surfaces",), (), checkpoint=False, build=lambda d, p:
                          lookup_ops._prepare_mentions(d["surfaces"].select(
                              F.col("surface").alias("mention")), "mention")),
        "slim": Stage(("prepared", "index"), ("fuzzy",), slim, checkpoint=False),
        # the 19-field response per distinct surface; the LINK decision
        # does not read it (linked takes best_links over the full match)
        "candidates": Stage(
            ("surfaces", "prepared", "slim", "kg_items", "index"),
            ("fuzzy", "candidate_limit"),
            lambda d, p: lookup_ops.lookup(
                d["surfaces"].select(F.col("surface").alias("mention")), None,
                d["kg_items"], limit=p["candidate_limit"], fuzzy=p["fuzzy"],
                index=d["index"], prepared=d["prepared"], match=d["slim"])),
        "linked": Stage(
            ("all_spans", "prepared", "slim", "index"), ("nil_threshold",),
            lambda d, p: link_mentions(
                d["all_spans"], lookup_ops.best_links(d["slim"], d["prepared"], None,
                                                      index=d["index"]),
                nil_threshold=p["nil_threshold"])),
        "triples_raw": Stage(("linked", "kg_edges"), (), lambda d, p: extract_triples(
            d["linked"], d["kg_edges"], broadcast_edges)),
        "triples": Stage(("triples_raw", "canonical_map"), (), lambda d, p:
                         canonicalize_triples(d["triples_raw"], d["canonical_map"])),
    }


def _digest(*parts) -> str:
    return hashlib.sha256(json.dumps(parts, default=str).encode()).hexdigest()[:16]


def _index_fps(snapshot, fuzzy: bool, limit_per_token, fuzzy_edits) -> dict[str, str]:
    """A lookup index's two fingerprints, from what its _meta row
    records: ``vocab`` covers the dictionary snapshot and ``fuzzy`` (the
    names and tokens it knows), ``index`` also the pruning K and the
    fuzzy band."""
    vocab = _digest(snapshot, fuzzy)
    return {"vocab": vocab, "index": _digest(vocab, limit_per_token, fuzzy_edits)}


def _fingerprints(stages: dict[str, Stage], params: dict, sources: dict,
                  known: dict[str, str]) -> dict[str, str]:
    """The sources' fingerprints (``known`` ones are not scanned), then
    each stage's from the params it reads and its deps' fingerprints.
    The index, a source or the in-memory stage, gets both of
    :func:`_index_fps`' fingerprints from its build attributes."""
    frames = {k: v for k, v in sources.items() if isinstance(v, DataFrame) and k not in known}
    index = sources.get("index")  # absent when the index is a stage
    if index is not None and index.source_fp is None:
        # an in-memory index: hash its rows, the payload candidates read included
        frames["index"] = index.names
        if index.payload is not None:
            frames["index_payload"] = index.payload
    fps = {**content_fingerprints(frames), **known}
    if index is not None:  # a caller's index: its own attributes, not the run's
        snapshot = index.source_fp or [fps["index"], fps.get("index_payload")]
        fps.update(_index_fps(snapshot, index.fuzzy is not None,
                              index.limit_per_token, index.fuzzy_edits))
    for name, st in stages.items():  # table order: deps come first
        if name == "index":  # built here, from label_dict and the run's params
            fps.update(_index_fps(fps["label_dict"], params["fuzzy"],
                                  params["limit_per_token"], _FUZZY_EDITS))
        elif name != "vocab":  # set with index
            fps[name] = _digest({k: params[k] for k in st.params},
                                [fps[d] for d in st.deps])
    return fps


def _schedule(stages: dict[str, Stage], done: dict, run, pool) -> None:
    """Run each stage as soon as all its deps are in ``done``."""
    pending, running = dict(stages), {}
    while pending or running:
        for name in [n for n, st in pending.items() if all(d in done for d in st.deps)]:
            st = pending.pop(name)
            running[pool.submit(run, name, st, {d: done[d] for d in st.deps})] = name
        if not running:
            raise ValueError(f"stages with unmet deps: {sorted(pending)}")
        finished, _ = wait(running, return_when=FIRST_COMPLETED)
        for f in finished:
            done[running.pop(f)] = f.result()


def run_pipeline(
    spark: SparkSession,
    transcripts: DataFrame,
    kg_items: DataFrame,
    kg_edges: DataFrame,
    kg_sameas: DataFrame | None = None,
    checkpoint_dir: str | None = None,
    fuzzy: bool = True,
    nil_threshold: float = 1.0,
    max_ntoken: int = 4,
    broadcast_edges: bool = True,
    limit_per_token: int | None = 100,
    index: LookupIndex | None = None,
    use_index_artifacts: bool = True,
    index_prefix: str = "lamapi_idx",
    candidate_limit: int = 100,
) -> dict[str, DataFrame]:
    """``use_index_artifacts`` defaults to True: the bucketed-artifact
    plan is the plan users get (oracle-gated, bench-measured — the one a
    non-broadcastable dictionary must run); pass False for the explicit
    small-job broadcast opt-out. The artifact PREFIX names a dictionary
    snapshot — like the reference's named ES index — and reuse validates
    BOTH the build parameters and a fingerprint of the kg_items snapshot
    against the ``_meta`` sidecar (build_index_artifacts), so a changed
    dictionary under the same prefix rebuilds instead of silently
    linking against the stale index. ``broadcast_edges`` picks a join
    plan, not results, so no stage fingerprint includes it; the
    dictionary-side joins are decided by the index (LookupIndex)."""
    runner = StageRunner(spark, checkpoint_dir or "", enabled=checkpoint_dir is not None)
    known = {}  # source fingerprints known without a scan
    if index is None and use_index_artifacts:
        t0 = time.time()
        index = build_index_artifacts(
            spark, kg_items, fuzzy=fuzzy, limit_per_token=limit_per_token,
            prefix=index_prefix)
        known["kg_items"] = index.source_fp  # validated against kg_items just now
        runner.metrics.append({
            "stage": "index_artifacts", "rows_out": None, "partitions": None,
            "duration_s": round(time.time() - t0, 3), "fingerprint": index.source_fp,
            "inputs": {"kg_items": index.source_fp}, "resumed": index.reused})
    stages = _stages(broadcast_edges, runner.enabled)
    if kg_sameas is None:
        del stages["canonical_map"], stages["triples"]
    done = {"transcripts": transcripts, "kg_items": kg_items, "kg_edges": kg_edges,
            "kg_sameas": kg_sameas}
    if index is not None:  # a source: no stage builds it or reads label_dict
        del stages["index"], stages["vocab"], stages["label_dict"]
        done["index"] = done["vocab"] = index
    params = {"fuzzy": fuzzy, "nil_threshold": nil_threshold, "max_ntoken": max_ntoken,
              "limit_per_token": limit_per_token, "candidate_limit": candidate_limit}
    fps = _fingerprints(stages, params, done, known) if runner.enabled else {}

    def run_stage(name: str, st: Stage, deps: dict):
        build = partial(st.build, deps, {k: params[k] for k in st.params})
        inputs = {d: fps.get(d) for d in st.deps}
        out = runner.run(name, build, fps.get(name, ""), inputs) if st.checkpoint else build()
        return scoped_cache(out) if st.cache else out

    # With checkpoints every frame returned reads its checkpoint, so the
    # run's caches are released with it: left in the session, a cached
    # frame whose plan reads a checkpoint dir would stand in for the same
    # plan in a later run that rewrites that dir, and recompute from
    # deleted files.
    with CacheScope() if runner.enabled else nullcontext(), \
            ThreadPoolExecutor(max_workers=4) as pool:
        _schedule(stages, done, in_caller_scopes(run_stage), pool)
    if kg_sameas is None:
        done.update(triples=done["triples_raw"], canonical_map=spark.createDataFrame(
            [], "raw_entity string, canonical_entity string"))
    if "label_dict" not in done:  # no stage read it: returned unbuilt
        done["label_dict"] = build_label_dict(kg_items)
    return {**{k: done[k] for k in ("label_dict", "mentions", "oov_mentions",
                                    "candidates", "linked", "canonical_map")},
            "triples": done["triples"].select("subj", "pred", "obj", "conv_id", "turn_idx"),
            "metrics": runner.metrics}


def triple_prf(triples: DataFrame, truth: DataFrame) -> dict[str, float]:
    """Set-level precision/recall/F1 of (conv_id, turn_idx, subj, pred, obj)."""
    keys = ["conv_id", "turn_idx", "subj", "pred", "obj"]
    got = triples.select(*keys).distinct()
    want = truth.select(*keys).distinct()
    tp = got.join(want, keys, "inner").count()
    n_got, n_want = got.count(), want.count()
    p = tp / n_got if n_got else 0.0
    r = tp / n_want if n_want else 0.0
    f1 = 2 * p * r / (p + r) if (p + r) else 0.0
    return {"precision": p, "recall": r, "f1": f1,
            "tp": tp, "n_pred": n_got, "n_truth": n_want}
