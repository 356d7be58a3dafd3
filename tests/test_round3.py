"""Round-3 additions: index-artifact build-param persistence, the
artifact-path mention join without driver round-trips, and the
streaming dedup twin."""

from __future__ import annotations

import pytest

from lamapi_spark.operators.indexes import LookupIndex
from lamapi_spark.operators.label_dict import build_label_dict
from lamapi_spark.pipeline.fixtures import build_kg, kg_dataframes


@pytest.fixture(scope="module")
def small_kg(spark):
    kg = build_kg(seed=31, n_people=25, n_orgs=10, n_locs=6, n_films=15)
    dfs = kg_dataframes(spark, kg)
    dfs["label_dict"] = build_label_dict(dfs["kg_items"]).cache()
    return dfs


# ----------------------------------------------- index build-param sidecar


def test_index_meta_roundtrip_and_validation(spark, small_kg):
    """Build params persist in the <prefix>_meta sidecar: load() recovers
    them without arguments, validates explicit arguments against them,
    and exists() treats a parameter mismatch as 'no usable artifact'."""
    LookupIndex.write(small_kg["label_dict"], prefix="t_r3_meta",
                      n_buckets=2, fuzzy=True, limit_per_token=7,
                      fuzzy_edits=1)

    idx = LookupIndex.load(spark, "t_r3_meta")  # no args: meta drives
    assert idx.bucketed
    assert idx.limit_per_token == 7
    assert idx.fuzzy_edits == 1
    assert idx.n_buckets == 2
    assert idx.fuzzy is not None and idx.fuzzy_names is not None

    # matching explicit params load fine
    LookupIndex.load(spark, "t_r3_meta", fuzzy=True, limit_per_token=7,
                     fuzzy_edits=1)
    # mismatched params raise instead of silently dropping recall guards
    with pytest.raises(ValueError, match="different parameters"):
        LookupIndex.load(spark, "t_r3_meta", limit_per_token=50)
    with pytest.raises(ValueError, match="different parameters"):
        LookupIndex.load(spark, "t_r3_meta", fuzzy=False)
    with pytest.raises(ValueError, match="different parameters"):
        LookupIndex.load(spark, "t_r3_meta", fuzzy_edits=2)

    # exists() is parameter-aware, so reuse logic rebuilds on mismatch
    assert LookupIndex.exists(spark, "t_r3_meta")
    assert LookupIndex.exists(spark, "t_r3_meta", limit_per_token=7)
    assert not LookupIndex.exists(spark, "t_r3_meta", limit_per_token=100)
    assert not LookupIndex.exists(spark, "t_r3_meta", fuzzy=False)
    assert not LookupIndex.exists(spark, "t_r3_absent")


def test_index_load_without_meta_raises(spark, small_kg):
    """An artifact whose _meta sidecar is gone has unknown build
    parameters: load() raises and asks for a rebuild, with or without
    explicit parameters, and exists() reports no usable artifact."""
    LookupIndex.write(small_kg["label_dict"], prefix="t_r3_nometa",
                      n_buckets=2, fuzzy=False, limit_per_token=7)
    spark.sql("DROP TABLE t_r3_nometa_meta")
    with pytest.raises(ValueError, match="no _meta sidecar; rebuild"):
        LookupIndex.load(spark, "t_r3_nometa")
    with pytest.raises(ValueError, match="no _meta sidecar; rebuild"):
        LookupIndex.load(spark, "t_r3_nometa", fuzzy=False, limit_per_token=7,
                         fuzzy_edits=1)
    assert not LookupIndex.exists(spark, "t_r3_nometa")


def test_index_without_payload_table_is_rebuilt(spark, small_kg):
    """An artifact that lost its payload table (lookup() refuses an index
    without one) is not reusable: build_index_artifacts rebuilds it."""
    from lamapi_spark.pipeline.run import build_index_artifacts

    build_index_artifacts(spark, small_kg["kg_items"], prefix="t_r3_nopayload",
                          n_buckets=2, reuse=False)
    spark.sql("DROP TABLE t_r3_nopayload_payload")
    assert not LookupIndex.exists(spark, "t_r3_nopayload")
    idx = build_index_artifacts(spark, small_kg["kg_items"], prefix="t_r3_nopayload",
                                n_buckets=2)
    assert not idx.reused and idx.payload is not None


# -------------------------------------- cross-session artifact persistence


def test_index_artifacts_survive_session_restart(tmp_path):
    """The offline-index lifecycle: one process builds the bucketed
    artifacts into a Derby-backed Hive metastore; a FRESH process loads
    them (params from the _meta sidecar, no dictionary rebuild), probes
    with a bucketed scan, and matches the broadcast-path answer —
    elastic_indexing.py's build-once / probe-many, for real."""
    import json
    import os
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    script = os.path.join(repo, "tools", "index_session.py")
    ms, out = str(tmp_path / "ms"), str(tmp_path / "out")

    def run(mode):
        proc = subprocess.run(
            [sys.executable, script, mode, "--metastore", ms, "--out", out],
            capture_output=True, text=True, timeout=420, cwd=str(tmp_path))
        assert proc.returncode == 0, proc.stderr[-3000:]
        return json.loads(
            [l for l in proc.stdout.splitlines() if l.startswith("{")][-1])

    built = run("build")
    assert built["built"] and built["expected_rows"] > 0
    probed = run("probe")
    assert probed["match"], probed
    assert probed["bucketed_scan"], probed
    assert probed["limit_per_token"] == 50 and probed["n_buckets"] == 4


# -------------------------------------- artifact path: no forced broadcast


def test_artifact_mention_path_no_forced_broadcast(spark, small_kg):
    """The artifact path's broadcast decisions must come from ACTUAL
    sizes, never estimates or unconditional hints. Two cases:

    - huge-dictionary fallback (n_names unknown/over cap): the
      spans<->matched join must shuffle — zero BroadcastExchange in the
      executed plan with auto-broadcast disabled;
    - gated path (persisted n_names under cap): matched_strs IS
      broadcast (bounded driver round-trip, no spans shuffle/skew).

    Both must equal the in-memory index's output, which broadcasts by
    itself even with auto-broadcast disabled."""
    import dataclasses

    from lamapi_spark.pipeline.fixtures import (
        build_transcripts, transcript_dataframes,
    )
    from lamapi_spark.pipeline.mentions import detect_mentions, detect_oov_mentions

    kg = build_kg(seed=31, n_people=25, n_orgs=10, n_locs=6, n_films=15)
    tr = build_transcripts(kg, seed=32, n_convs=20, turns_per_conv=(3, 5))
    transcripts = transcript_dataframes(spark, *tr)["transcripts"]
    ld = small_kg["label_dict"]
    idx = LookupIndex.write(ld, prefix="t_r3_mnt_idx", n_buckets=2,
                            fuzzy=True, limit_per_token=50, fuzzy_edits=1)
    assert idx.n_names is not None and idx.n_names > 0
    # the same artifact as a 10^8-name dictionary would present itself:
    # cardinality unknown/over the broadcast cap -> shuffle fallback
    idx_big = dataclasses.replace(idx, n_names=None)

    saved = {
        "spark.sql.autoBroadcastJoinThreshold":
            spark.conf.get("spark.sql.autoBroadcastJoinThreshold"),
        "spark.sql.adaptive.autoBroadcastJoinThreshold":
            spark.conf.get("spark.sql.adaptive.autoBroadcastJoinThreshold", None),
    }
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
        base = detect_mentions(transcripts, ld, fuzzy=True)
        base_rows = sorted(tuple(r) for r in base.collect())
        assert "BroadcastHashJoin" in (
            base._jdf.queryExecution().executedPlan().toString())

        art = detect_mentions(transcripts, ld, fuzzy=True, index=idx_big)
        art_rows = sorted(tuple(r) for r in art.collect())
        plan = art._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastExchange" not in plan
        # round-4 shuffle-byte cut: the span-occurrence side of the
        # fallback join must exchange on the 96-bit composite hash key,
        # never on the raw span string
        assert "hashpartitioning(_h1" in plan, plan[:2000]
        assert art_rows == base_rows and len(art_rows) > 0

        gated = detect_mentions(transcripts, ld, fuzzy=True, index=idx)
        gated_rows = sorted(tuple(r) for r in gated.collect())
        assert gated_rows == base_rows

        oov = detect_oov_mentions(transcripts, ld, index=idx)
        oov.collect()
        oov_plan = oov._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastExchange" not in oov_plan
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_index_unpruned_meta_none_limit(spark, small_kg):
    """limit_per_token=None (unpruned) round-trips through the sidecar —
    the consumer must NOT re-apply the exact-name guards for it."""
    LookupIndex.write(small_kg["label_dict"], prefix="t_r3_meta_np",
                      n_buckets=2, fuzzy=False, limit_per_token=None)
    idx = LookupIndex.load(spark, "t_r3_meta_np")
    assert idx.limit_per_token is None
    assert idx.fuzzy is None
    assert LookupIndex.exists(spark, "t_r3_meta_np", limit_per_token=None)
    assert not LookupIndex.exists(spark, "t_r3_meta_np", limit_per_token=5)


def test_best_links_artifact_path_no_forced_broadcast(spark, small_kg):
    """best_links' artifact-path strategy must come from the PERSISTED
    dictionary cardinality, never an estimate: with n_names
    unknown/over-cap (a 10^8-name dictionary's presentation) the
    name-set and argmax joins must shuffle — no hash-join broadcast of
    any real relation in the executed plan with auto-broadcast disabled;
    with n_names under the cap the tiny frames ARE broadcast. Both
    variants must equal the in-memory index's argmax, which broadcasts
    by itself even with auto-broadcast disabled."""
    import dataclasses

    from pyspark.sql import functions as F

    from lamapi_spark.operators.lookup import (
        _prepare_mentions, best_links, token_match,
    )

    ld = small_kg["label_dict"]
    idx = LookupIndex.write(ld, prefix="t_r3_bl_idx", n_buckets=2,
                            fuzzy=True, limit_per_token=50, fuzzy_edits=1)
    idx_big = dataclasses.replace(idx, n_names=None)
    surfaces = ld.select(F.col("name_norm").alias("mention")).distinct().limit(40)
    prepared = _prepare_mentions(surfaces, "mention")

    saved = {
        "spark.sql.autoBroadcastJoinThreshold":
            spark.conf.get("spark.sql.autoBroadcastJoinThreshold"),
        "spark.sql.adaptive.autoBroadcastJoinThreshold":
            spark.conf.get("spark.sql.adaptive.autoBroadcastJoinThreshold", None),
    }
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
        base_slim = token_match(prepared, ld, fuzzy=True,
                                limit_per_token=50, fuzzy_edits=1, slim=True)
        base_links = best_links(base_slim, prepared, ld)
        base = sorted(tuple(r) for r in base_links.collect())
        assert "BroadcastHashJoin" in (
            base_links._jdf.queryExecution().executedPlan().toString())

        slim = token_match(prepared, ld, fuzzy=True,
                           limit_per_token=50, fuzzy_edits=1, index=idx_big,
                           slim=True)
        art = best_links(slim, prepared, ld, index=idx_big)
        art_rows = sorted(tuple(r) for r in art.collect())
        plan = art._jdf.queryExecution().executedPlan().toString()
        # 1-row stat frames (IdentityBroadcastMode cross joins inside
        # token_match) are legitimately broadcast; what must NOT appear
        # is a hash-join broadcast of a real relation
        assert "BroadcastHashJoin" not in plan
        assert "HashedRelationBroadcastMode" not in plan
        assert art_rows == base and len(art_rows) > 0

        gated_slim = token_match(prepared, ld, fuzzy=True,
                                 limit_per_token=50, fuzzy_edits=1,
                                 index=idx, slim=True)
        gated = best_links(gated_slim, prepared, ld, index=idx)
        gated_rows = sorted(tuple(r) for r in gated.collect())
        assert gated_rows == base
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_index_reuse_validates_dictionary_fingerprint(spark, small_kg):
    """build_index_artifacts only reuses an artifact whose persisted
    dictionary-snapshot fingerprint matches the kg_items it was handed:
    same frame -> reused; a changed dictionary under the SAME prefix ->
    rebuild (the round-4 review's stale-artifact footgun)."""
    from pyspark.sql import functions as F

    from lamapi_spark.pipeline.run import build_index_artifacts

    items = small_kg["kg_items"]
    idx1 = build_index_artifacts(spark, items, fuzzy=True, limit_per_token=9,
                                 n_buckets=2, prefix="t_r4_fp")
    assert not idx1.reused
    idx2 = build_index_artifacts(spark, items, fuzzy=True, limit_per_token=9,
                                 n_buckets=2, prefix="t_r4_fp")
    assert idx2.reused and idx2.n_names == idx1.n_names

    # a different dictionary snapshot (one popularity bumped) must NOT
    # silently reuse the stale artifact
    changed = items.withColumn(
        "popularity",
        F.when(F.col("entity") == items.select("entity").head()[0],
               F.col("popularity") + 1).otherwise(F.col("popularity")))
    idx3 = build_index_artifacts(spark, changed, fuzzy=True, limit_per_token=9,
                                 n_buckets=2, prefix="t_r4_fp")
    assert not idx3.reused
    # and the rebuilt artifact now reuses against the NEW snapshot
    idx4 = build_index_artifacts(spark, changed, fuzzy=True, limit_per_token=9,
                                 n_buckets=2, prefix="t_r4_fp")
    assert idx4.reused
    # explicit opt-out (snapshot-managed prefixes) skips the scan and
    # keeps parameter-only validation
    idx5 = build_index_artifacts(spark, items, fuzzy=True, limit_per_token=9,
                                 n_buckets=2, prefix="t_r4_fp",
                                 validate_source=False)
    assert idx5.reused
