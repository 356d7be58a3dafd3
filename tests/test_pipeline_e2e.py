"""End-to-end pipeline tests on the smoke fixture: triple P/R >= 0.95
vs generator ground truth, per-turn text equality under stable ordering,
pandas-UDF detector equivalence, and resume-from-checkpoint idempotence."""

from __future__ import annotations

import json

import pytest

from pyspark.sql import functions as F

from lamapi_spark.operators.label_dict import build_label_dict
from lamapi_spark.pipeline.fixtures import (
    build_kg, build_transcripts, kg_dataframes, transcript_dataframes,
)
from lamapi_spark.pipeline.mentions import detect_mentions, detect_mentions_pandas
from lamapi_spark.pipeline.run import run_pipeline, triple_prf


@pytest.fixture(scope="module")
def fix(spark):
    kg = build_kg(seed=42)
    dfs = kg_dataframes(spark, kg)
    tr = build_transcripts(kg, seed=43, n_convs=8)
    dfs.update(transcript_dataframes(spark, *tr))
    return kg, dfs


def test_per_turn_text_equality(spark, fix):
    """input_hint invariant: per-turn text equality under stable
    (conv_id, turn_idx) ordering — the pipeline never mutates input."""
    kg, dfs = fix
    raw = build_transcripts(kg, seed=43, n_convs=8)[0]
    got = [
        (r.conv_id, r.turn_idx, r.text)
        for r in dfs["transcripts"].orderBy("conv_id", "turn_idx").collect()
    ]
    want = sorted((c, t, x) for (c, t, _r, x, _tool, _ts) in raw)
    assert got == want


def test_fixture_frames_are_jvm_resident(spark, fix):
    """Every fixture frame is built from Arrow: no Python RDD in its
    lineage, so no scan of it starts a Python worker. Schema and content
    equal the row-path frame of the same rows (the reference)."""
    import dataclasses

    from lamapi_spark.pipeline.checkpoint import content_fingerprints
    from lamapi_spark.pipeline.fixtures import ITEMS_SCHEMA, TRANSCRIPTS_SCHEMA

    kg, dfs = fix
    transcripts, mention_truth, triple_truth = build_transcripts(kg, seed=43, n_convs=8)
    sources = {
        "kg_items": (kg.items, ITEMS_SCHEMA),
        "kg_edges": (kg.edges, "subj string, pred string, obj string"),
        "kg_literals": (kg.literals, "entity string, datatype string, pred string, value string"),
        "kg_types": (kg.types, "entity string, type_id string"),
        "kg_sameas": (kg.sameas, "a string, b string"),
        "transcripts": (transcripts, TRANSCRIPTS_SCHEMA),
        "mentions_truth": (mention_truth, "conv_id string, turn_idx int, surface string, "
                                          "entity string, variant string"),
        "triples_truth": (triple_truth, "conv_id string, turn_idx int, subj string, "
                                        "pred string, obj string"),
    }
    assert set(sources) == set(dfs)
    ref = {k: spark.createDataFrame(rows, schema) for k, (rows, schema) in sources.items()}
    for k, df in dfs.items():
        assert df.schema == ref[k].schema, k
        assert "PythonRDD" not in df._jdf.queryExecution().toRdd().toDebugString(), k
    got = content_fingerprints(dfs)
    assert got == content_fingerprints(ref)
    assert all(not v.startswith("0:") for v in got.values()), got
    empty = kg_dataframes(spark, dataclasses.replace(kg, sameas=[]))["kg_sameas"]
    assert empty.schema == ref["kg_sameas"].schema and empty.count() == 0


def test_triples_prf(spark, fix, tmp_path, monkeypatch):
    """Also runs the large-dictionary join path: with the broadcast cap
    at 0, every count-bounded join on the bucketed index takes its
    shuffle_hash arm, and the triples must not change."""
    from lamapi_spark.operators import indexes

    kg, dfs = fix
    args = (spark, dfs["transcripts"], dfs["kg_items"], dfs["kg_edges"],
            dfs["kg_sameas"])
    out = run_pipeline(*args, checkpoint_dir=str(tmp_path / "ckpt"))
    prf = triple_prf(out["triples"], dfs["triples_truth"])
    assert prf["precision"] >= 0.95, prf
    assert prf["recall"] >= 0.95, prf
    triples = sorted(tuple(r) for r in out["triples"].collect())

    monkeypatch.setattr(indexes, "_BROADCAST_NAME_CAP", 0)
    no_cap = run_pipeline(*args, checkpoint_dir=str(tmp_path / "ckpt_cap0"))
    assert sorted(tuple(r) for r in no_cap["triples"].collect()) == triples


def test_nil_mentions_get_nil_ids(spark, fix, tmp_path):
    kg, dfs = fix
    out = run_pipeline(
        spark, dfs["transcripts"], dfs["kg_items"], dfs["kg_edges"],
        dfs["kg_sameas"], checkpoint_dir=str(tmp_path / "ckpt2"))
    nils = out["linked"].filter(F.col("nil")).select("surface", "entity").collect()
    # fixture embeds unknown names ("zorblat xkcd" etc.) in some turns
    assert len(nils) > 0
    for r in nils:
        assert r.entity.startswith("NIL-"), r


def test_pandas_detector_equivalence(spark, fix):
    kg, dfs = fix
    label_dict = build_label_dict(dfs["kg_items"])
    jvm = detect_mentions(dfs["transcripts"], label_dict, fuzzy=False)
    names = [r.name_norm for r in label_dict.select("name_norm").distinct().collect()]
    pd_out = detect_mentions_pandas(dfs["transcripts"], names)
    key = ["conv_id", "turn_idx", "start", "ntoken_span", "surface"]
    a = {tuple(r) for r in jvm.select(*key).collect()}
    b = {tuple(r) for r in pd_out.select(*key).collect()}
    assert a == b


def test_resume_from_checkpoint(spark, fix, tmp_path):
    """Stage-level resume: a second run over an existing checkpoint dir
    reuses every stage (resumed=True) and yields identical triples; a
    changed parameter recomputes only the stages downstream of it."""
    kg, dfs = fix
    ckpt = str(tmp_path / "ckpt3")
    args = (spark, dfs["transcripts"], dfs["kg_items"], dfs["kg_edges"],
            dfs["kg_sameas"])
    out1 = run_pipeline(*args, checkpoint_dir=ckpt)
    assert {m.get("reason") for m in out1["metrics"]
            if m["stage"] != "index_artifacts"} == {"no checkpoint"}, out1["metrics"]
    t1 = sorted(tuple(r) for r in out1["triples"].collect())
    out2 = run_pipeline(*args, checkpoint_dir=ckpt)
    t2 = sorted(tuple(r) for r in out2["triples"].collect())
    assert t1 == t2
    assert all(m["resumed"] for m in out2["metrics"]), out2["metrics"]

    # per-partition lineage (north rule): every materialized stage
    # records per-file rows/bytes harvested from the parquet footers,
    # and the per-file rows sum to the stage's observed row count
    staged = [m for m in out1["metrics"] if m.get("partition_lineage")]
    assert staged, out1["metrics"]
    for m in staged:
        pl = m["partition_lineage"]
        assert pl["files"] and all(f["bytes"] >= 0 for f in pl["files"])
        if not pl["detail_truncated"]:
            assert sum(f["rows"] for f in pl["files"]) == m["rows_out"]

    # a changed parameter invalidates exactly the stages that read it
    # and their descendants; the rest resume
    out3 = run_pipeline(*args, checkpoint_dir=ckpt, nil_threshold=0.5)
    assert _recomputed(out3) == {"linked", "triples_raw", "triples"}, out3["metrics"]
    # the recorded reason: linked's own param, then the dep that changed
    assert _reasons(out3) == {"linked": "params", "triples_raw": ["linked"],
                              "triples": ["triples_raw"]}, out3["metrics"]
    fresh = run_pipeline(*args, nil_threshold=0.5)
    assert _triples(out3) == _triples(fresh)


def _recomputed(out) -> set[str]:
    return {m["stage"] for m in out["metrics"] if not m["resumed"]}


def _reasons(out) -> dict:
    return {m["stage"]: m["reason"] for m in out["metrics"] if not m["resumed"]}


def _triples(out) -> list[tuple]:
    return sorted(tuple(r) for r in out["triples"].collect())


@pytest.mark.parametrize("in_memory_index,use_index_artifacts",
                         [(False, True), (True, True), (False, False)],
                         ids=["False", "True", "no_index"])
def test_resume_after_input_change(spark, fix, tmp_path, in_memory_index,
                                   use_index_artifacts):
    """A rerun on half the transcripts into the same checkpoint dir
    returns the half's triples: every stage that reads transcripts
    recomputes, the dictionary-side stages resume. Covers the default
    index artifacts, a caller's in-memory index (no _meta row) and no
    index. label_dict is a stage only without an index: an index given
    to the run, in-memory or an artifact, carries its payload table."""
    from lamapi_spark.operators.indexes import LookupIndex

    kg, dfs = fix
    ckpt = str(tmp_path / "ckpt_half")
    kg_args = (dfs["kg_items"], dfs["kg_edges"], dfs["kg_sameas"])
    kw = ({"index": LookupIndex.build(build_label_dict(dfs["kg_items"]),
                                      limit_per_token=100)} if in_memory_index
          else {"use_index_artifacts": use_index_artifacts})
    convs = sorted(r.conv_id for r in
                   dfs["transcripts"].select("conv_id").distinct().collect())
    half = dfs["transcripts"].filter(F.col("conv_id").isin(convs[:len(convs) // 2]))
    run_pipeline(spark, dfs["transcripts"], *kg_args, checkpoint_dir=ckpt, **kw)
    out = run_pipeline(spark, half, *kg_args, checkpoint_dir=ckpt, **kw)
    fresh = run_pipeline(spark, half, *kg_args, **kw)
    assert _triples(out) == _triples(fresh) and _triples(fresh)
    assert _recomputed(out) == {"mentions", "oov_mentions", "candidates",
                                "linked", "triples_raw", "triples"}, out["metrics"]
    assert _reasons(out)["mentions"] == ["transcripts"], out["metrics"]
    stages = {m["stage"] for m in out["metrics"]}
    assert "canonical_map" in stages
    assert ("label_dict" in stages) == (not use_index_artifacts)
    assert out["label_dict"].count() == build_label_dict(dfs["kg_items"]).count()

    # a changed pruning K: mention detection reads the index's names and
    # token set, which pruning leaves unchanged, so both detection stages
    # resume and the match-path stages recompute for their index dep. A
    # caller's index keeps its own K, so there every stage resumes.
    out50 = run_pipeline(spark, half, *kg_args, checkpoint_dir=ckpt,
                         limit_per_token=50, **kw)
    fresh50 = run_pipeline(spark, half, *kg_args, limit_per_token=50, **kw)
    assert _triples(out50) == _triples(fresh50) and _triples(fresh50)
    if in_memory_index:
        assert _recomputed(out50) == set(), out50["metrics"]
    else:  # the artifact path rebuilds its artifact for the new K
        rebuilt = {"index_artifacts"} if use_index_artifacts else set()
        assert _recomputed(out50) == {"candidates", "linked", "triples_raw",
                                      "triples"} | rebuilt, out50["metrics"]
        reasons = {m["stage"]: m.get("reason") for m in out50["metrics"]}
        assert all("index" in reasons[s] for s in ("candidates", "linked")), reasons


def test_truncated_sidecar_recomputes(spark, fix, tmp_path):
    """A stage whose metrics.json is unreadable (a kill during the
    sidecar write) recomputes instead of failing every rerun."""
    kg, dfs = fix
    ckpt = tmp_path / "ckpt_trunc"
    args = (spark, dfs["transcripts"], dfs["kg_items"], dfs["kg_edges"],
            dfs["kg_sameas"])
    want = _triples(run_pipeline(*args, checkpoint_dir=str(ckpt)))
    sidecar = ckpt / "linked" / "metrics.json"
    sidecar.write_text(sidecar.read_text()[:20])
    out = run_pipeline(*args, checkpoint_dir=str(ckpt))
    assert _recomputed(out) == {"linked"}, out["metrics"]
    assert _reasons(out) == {"linked": "unreadable sidecar"}
    assert _triples(out) == want
    assert json.loads(sidecar.read_text())["stage"] == "linked"


def test_no_index_run_builds_one_index(spark, fix, monkeypatch):
    """Without an index, one in-memory LookupIndex serves every
    match-path stage of a pipeline run, and build_link_index builds one
    too: each calls LookupIndex.build exactly once."""
    from lamapi_spark.operators.indexes import LookupIndex
    from lamapi_spark.streaming.kg import build_link_index

    kg, dfs = fix
    calls = []
    build = LookupIndex.build

    def counted(*a, **kw):
        calls.append(kw)
        return build(*a, **kw)

    monkeypatch.setattr(LookupIndex, "build", staticmethod(counted))
    out = run_pipeline(spark, dfs["transcripts"], dfs["kg_items"], dfs["kg_edges"],
                       dfs["kg_sameas"], use_index_artifacts=False)
    assert calls == [{"fuzzy": True, "limit_per_token": 100, "fuzzy_edits": 1}]
    assert out["triples"].count() > 0
    calls.clear()
    build_link_index(build_label_dict(dfs["kg_items"]))
    assert len(calls) == 1


def test_in_memory_index_fingerprint_covers_payload(spark, fix):
    """A caller's in-memory index fingerprints its payload rows too: a
    dictionary that differs only in one entity's description changes the
    index fingerprint, so the candidates that carry it recompute."""
    from lamapi_spark.operators.indexes import LookupIndex
    from lamapi_spark.pipeline.run import _fingerprints, _stages

    kg, dfs = fix
    ld = build_label_dict(dfs["kg_items"])
    first = ld.select("entity").orderBy("entity").head()[0]
    edited = ld.withColumn("description", F.when(
        F.col("entity") == first, F.lit("edited")).otherwise(F.col("description")))
    stages = _stages(True, True)
    del stages["index"], stages["label_dict"]
    params = {"fuzzy": True, "nil_threshold": 1.0, "max_ntoken": 4,
              "limit_per_token": 100, "candidate_limit": 100}
    fps = [_fingerprints(stages, params, {"index": LookupIndex.build(d)},
                         {k: "" for k in ("transcripts", "kg_items", "kg_edges",
                                          "kg_sameas")})
           for d in (ld, edited)]
    assert fps[0]["index"] != fps[1]["index"]
    assert fps[0]["candidates"] != fps[1]["candidates"]


def test_filtered_read_changes_fingerprint(spark, fix, tmp_path):
    """Source fingerprints hash content: a filtered read of a parquet
    file lists the same input files as the full read but fingerprints
    differently, and a read-back fingerprints like the frame written
    (map columns included)."""
    from lamapi_spark.pipeline.checkpoint import content_fingerprints

    kg, dfs = fix
    path = str(tmp_path / "items")
    dfs["kg_items"].write.parquet(path)
    full = spark.read.parquet(path)
    part = full.filter(F.col("popularity") > 10)
    assert sorted(part.inputFiles()) == sorted(full.inputFiles())
    fps = content_fingerprints({"full": full, "part": part, "mem": dfs["kg_items"]})
    assert fps["full"] != fps["part"]
    assert fps["full"] == fps["mem"]


def test_incremental_equals_full(spark, fix, tmp_path):
    """Incremental maintenance invariant: two delta appends == one full
    run (set equality); a re-run with no new conversations is a no-op;
    a re-delivered delta (lost sidecar write) converges instead of
    duplicating."""
    from lamapi_spark.pipeline.incremental import run_pipeline_incremental

    kg, dfs = fix
    tr = dfs["transcripts"]
    convs = sorted(r.conv_id for r in tr.select("conv_id").distinct().collect())
    first, second = set(convs[:len(convs) // 2]), set(convs[len(convs) // 2:])
    out_dir = str(tmp_path / "inc")
    args = (dfs["kg_items"], dfs["kg_edges"])
    kw = dict(kg_sameas=dfs["kg_sameas"], use_index_artifacts=False,
              n_output_buckets=4,
              # a shared dir across increments must never resume another
              # delta's stage: stage fingerprints cover the delta's content
              checkpoint_dir=str(tmp_path / "inc_ckpt"))

    r1 = run_pipeline_incremental(
        spark, tr.filter(F.col("conv_id").isin(first)), *args, out_dir, **kw)
    assert r1["new_convs"] == len(first) and r1["skipped_convs"] == 0

    r2 = run_pipeline_incremental(spark, tr, *args, out_dir, **kw)
    assert r2["new_convs"] == len(second)
    assert r2["skipped_convs"] == len(first)

    full = run_pipeline(spark, tr, *args, kg_sameas=dfs["kg_sameas"],
                        use_index_artifacts=False)
    keys = ["conv_id", "turn_idx", "subj", "pred", "obj"]
    want = {tuple(r) for r in full["triples"].select(*keys).collect()}
    got = {tuple(r) for r in r2["triples"].select(*keys).collect()}
    assert got == want and len(got) == r1["new_triples"] + r2["new_triples"]

    # idempotence: nothing new -> no-op
    r3 = run_pipeline_incremental(spark, tr, *args, out_dir, **kw)
    assert r3["new_convs"] == 0 and r3["skipped_convs"] == len(convs)
    assert {tuple(r) for r in r3["triples"].select(*keys).collect()} == want

    # re-delivery: wipe the sidecar record of the SECOND delta -> those
    # convs re-run, bucket overwrite replaces (not duplicates) rows
    import shutil

    shutil.rmtree(out_dir + "/_convs")
    run_pipeline_incremental(
        spark, tr.filter(F.col("conv_id").isin(first)), *args, out_dir, **kw)
    r4 = run_pipeline_incremental(spark, tr, *args, out_dir, **kw)
    assert {tuple(r) for r in r4["triples"].select(*keys).collect()} == want


# ---------------------------------------------- tool provenance edges

def test_tool_invocation_edges(spark):
    from lamapi_spark.pipeline.triples import tool_invocation_edges

    rows = [
        # conv A: entity, tool (resolves back 1), tool (still resolves
        # to turn 1), entity, tool (resolves to the NEWER turn 4)
        ("A", 1, "user", None, "ask about c7 please"),
        ("A", 2, "tool", "search", "ran against it"),
        ("A", 3, "tool", "lookup", "no entity here"),
        ("A", 4, "user", None, "now s3 instead"),
        ("A", 5, "tool", "search", "go"),
        # conv B: tool BEFORE any entity -> unresolvable, no row
        ("B", 1, "tool", "search", "cold start"),
        ("B", 2, "user", None, "c9 appears too late"),
        # conv C: entity only in the tool turn ITSELF -> prior-turn
        # carry finds nothing, no row
        ("C", 1, "tool", "search", "c5 inline"),
    ]
    t = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, "
              "tool string, text string")
    got = {(r.conv_id, r.turn_idx): (r.tool, r.entity)
           for r in tool_invocation_edges(t).collect()}
    assert got == {("A", 2): ("search", "c7"),
                   ("A", 3): ("lookup", "c7"),
                   ("A", 5): ("search", "s3")}

    # horizon: an entity further back than max_turns_back is stale
    far = spark.createDataFrame(
        [("D", 1, "user", None, "c1 early"),
         ("D", 20, "tool", "search", "late")],
        "conv_id string, turn_idx int, role string, tool string, text string")
    assert tool_invocation_edges(far, max_turns_back=10).count() == 0


def test_window_cooccurrence_binning_exact(spark):
    """The bin-replicated join equals the naive inequality join for
    every window width, including pairs that straddle a bin boundary,
    and never emits a pair twice."""
    from itertools import combinations

    from lamapi_spark.pipeline.triples import window_cooccurrence

    rows = [("A", t, f"e{t}") for t in range(1, 11)] + \
           [("A", 3, "x3"), ("B", 1, "b1"), ("B", 9, "b9")]
    occ = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, entity string")
    pts = {}
    for c, t, e in rows:
        pts.setdefault(c, []).append((t, e))
    for w in (1, 2, 3, 5):
        want = set()
        for c, lst in pts.items():
            for (t1, e1), (t2, e2) in combinations(sorted(lst), 2):
                lo, hi = sorted((t1, t2))
                if 0 < hi - lo <= w and e1 != e2:
                    a, b = ((t1, e1), (t2, e2)) if t1 < t2 else ((t2, e2), (t1, e1))
                    want.add((c, a[0], b[0], a[1], b[1]))
        got = [(r.conv_id, r.turn_a, r.turn_b, r.subj, r.obj)
               for r in window_cooccurrence(occ, max_turns=w).collect()]
        assert len(got) == len(set(got)), f"duplicate pairs at w={w}"
        assert set(got) == want, f"mismatch at w={w}"
