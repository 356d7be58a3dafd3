"""Round-2 additions: SimHash pairing, ngram-Jaccard hot-shingle guard,
classify_value (cb cascade), xsd surface, crunchbase ingestion with
NERtype, NERtype derivation feeding the PERS alias arm, lookup ids
backfill, and the BoW operator's non-cross-join paths."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from lamapi_spark.functions.literals import (
    classify_value_cb, classify_value_cb_py, xsd_of_class,
)
from lamapi_spark.ops.dedup import ngram_jaccard_pairs, simhash_pairs

BASE = ("the quick brown fox jumps over the lazy dog while the band plays "
        "a very long tune about data pipelines and shuffle partitions")


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, BASE),
        (1, BASE),
        (2, BASE.replace("lazy", "sleepy")),
        (3, "completely different text about cooking pasta with garlic"),
        (4, "completely different text about cooking pasta with butter"),
        (5, "unrelated short note"),
    ]
    return spark.createDataFrame(rows, "doc_id bigint, text string")


# --------------------------------------------------------------- simhash


def test_simhash_pairs_lossless_vs_bruteforce(spark, docs):
    """Banded blocking must find EXACTLY the brute-force Hamming<=3 set."""
    from lamapi_spark.ops.dedup import simhash60
    sig = {r.doc_id: r.s for r in docs.select(
        "doc_id", simhash60(F.array_distinct(F.split(F.lower("text"), " "))).alias("s")
    ).collect()}
    want = {
        (a, b) for a in sig for b in sig
        if a < b and bin(sig[a] ^ sig[b]).count("1") <= 3
    }
    got = {(r.id_a, r.id_b): r.hamming
           for r in simhash_pairs(docs, "doc_id", "text", max_hamming=3).collect()}
    assert set(got) == want
    assert got[(0, 1)] == 0  # exact dup pair found at distance 0


def test_simhash_pairs_band_validation(spark, docs):
    with pytest.raises(ValueError):
        simhash_pairs(docs, "doc_id", "text", max_hamming=5, n_bands=4)


def test_simhash_hot_bucket_guard(spark):
    """100 identical docs put 100 rows in every band bucket — the guard
    drops them instead of emitting 4,950 pairs per band."""
    rows = [(i, "boiler plate text repeated everywhere") for i in range(100)]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    assert simhash_pairs(df, "doc_id", "text", max_bucket=10).count() == 0
    assert simhash_pairs(df, "doc_id", "text", max_bucket=1000).count() == 100 * 99 // 2


# ------------------------------------------------- ngram hot-shingle guard


def test_ngram_jaccard_hot_shingle_guard(spark, docs):
    base = {(r.id_a, r.id_b) for r in
            ngram_jaccard_pairs(docs, "doc_id", "text", threshold=0.3).collect()}
    # default guard (max_df=1000) changes nothing at small scale
    guarded = {(r.id_a, r.id_b) for r in
               ngram_jaccard_pairs(docs, "doc_id", "text", threshold=0.3,
                                   max_df=1000).collect()}
    assert base == guarded
    # degenerate corpus: every doc shares one boilerplate prefix shingle;
    # with the guard the candidate join no longer quadratically explodes
    rows = [(i, f"standard header boilerplate unique tail {i} {i * 7} {i * 13}")
            for i in range(200)]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    assert ngram_jaccard_pairs(df, "doc_id", "text", threshold=0.2,
                               max_df=50).count() == 0


# ------------------------------------------------------ classify_value cb


def test_classify_value_cb_cases(spark):
    cases = {
        "2016-01-01 00:00:00": "DATETIME",   # F5 regex cascade calls this STRING
        "2016-01-01T12:30:45.5Z": "DATETIME",
        "2016-01-01": "DATETIME",
        "2016-01": "DATETIME",
        "2016": "DATETIME",                  # isoparse accepts a bare year
        "2016-13-01": "STRING",              # invalid month: isoparse raises
        "3.14": "NUMBER",
        "-25": "NUMBER",
        "1e5": "NUMBER",
        "13:45": "STRING",                   # no date part -> not ISO, not float
        "hello": "STRING",
    }
    df = spark.createDataFrame([(v,) for v in cases], "v string")
    got = {r.v: r.c for r in df.select("v", classify_value_cb("v").alias("c")).collect()}
    assert got == cases
    for v, want in cases.items():
        assert classify_value_cb_py(v) == want, v


def test_xsd_mapping(spark):
    df = spark.createDataFrame(
        [("DATE",), ("INTEGER",), ("STRING",), ("WEIRD",)], "c string")
    got = {r.c: r.x for r in df.select("c", xsd_of_class("c").alias("x")).collect()}
    assert got == {"DATE": "xsd:date", "INTEGER": "xsd:integer",
                   "STRING": "xsd:string", "WEIRD": "xsd:string"}


# -------------------------------------------------------- cb csv ingestion


@pytest.fixture(scope="module")
def cb_csv(tmp_path_factory):
    p = tmp_path_factory.mktemp("cb") / "orgs.csv"
    p.write_text(
        "permalink,name,alias1,alias2,alias3,founded_on,funding_total,city\n"
        "acme-corp,Acme Corp,ACME,,,2001-04-15,1250000.50,Springfield\n"
        "globex,Globex,,,,1989,,Cypress Creek\n"
    )
    return str(p)


def test_cb_ingest_items_and_nertype(spark, cb_csv):
    from lamapi_spark.sources.crunchbase import ingest_cb_csv
    tables = ingest_cb_csv(spark, cb_csv)
    items = {r.entity: r for r in tables["kg_items"].collect()}
    assert set(items) == {"acme-corp", "globex"}
    a = items["acme-corp"]
    assert a.kind == "entity" and a.NERtype == "ORG"       # parsing_cb.py:67-68
    assert a.types == ["Organization"] and a.labels["en"] == "Acme Corp"
    assert a.aliases["en"] == []                           # aliases dropped by design
    assert isinstance(a.id_entity, int) and a.id_entity >= 0

    lits = {(r.entity, r.pred): (r.datatype, r.value)
            for r in tables["kg_literals"].collect()}
    assert lits[("acme-corp", "founded_on")] == ("DATETIME", "2001-04-15")
    # NB: the raw lexical CSV form is kept ("1250000.50"); the reference
    # round-trips through pandas floats and would store "1250000.5"
    assert lits[("acme-corp", "funding_total")] == ("NUMBER", "1250000.50")
    assert lits[("acme-corp", "city")] == ("STRING", "Springfield")
    assert lits[("globex", "founded_on")] == ("DATETIME", "1989")
    assert ("globex", "funding_total") not in lits         # null skipped

    types = {(r.entity, r.type_id) for r in tables["kg_types"].collect()}
    assert types == {("acme-corp", "Organization"), ("globex", "Organization")}


def test_nertype_derivation_feeds_pers_aliases(spark):
    """A dump-ingested store has NERtype null; derive_ner_type fills it
    from P31 types, which switches on the PERS dot-abbreviation arm of
    the label dictionary (elastic_indexing.py:147-152)."""
    from lamapi_spark.operators.label_dict import build_label_dict
    from lamapi_spark.sources.crunchbase import derive_ner_type
    items = spark.createDataFrame(
        [
            (1, "Q100", None, {"en": "John Fitzgerald Kennedy"}, {}, ["Q5"], 10, "entity", None),
            (2, "Q200", None, {"en": "Acme Inc"}, {}, ["Q4830453"], 5, "entity", None),
            (3, "Q300", None, {"en": "Mystery Thing"}, {}, ["Q999"], 2, "entity", None),
            (4, "Q400", None, {"en": "Untyped"}, {}, [], 1, "entity", None),
        ],
        "id_entity int, entity string, description string, "
        "labels map<string,string>, aliases map<string,array<string>>, "
        "types array<string>, popularity int, kind string, NERtype string",
    )
    typed = derive_ner_type(items)
    ner = {r.entity: r.NERtype for r in typed.collect()}
    assert ner == {"Q100": "PERS", "Q200": "ORG", "Q300": "OTHER", "Q400": None}

    ld = build_label_dict(typed)
    pers_aliases = {r.name for r in ld.filter(
        (F.col("entity") == "Q100") & F.col("is_alias")).collect()}
    assert "J. Fitzgerald Kennedy" in pers_aliases
    assert "J. F. Kennedy" in pers_aliases
    # the ORG entity gets no dot aliases
    assert ld.filter((F.col("entity") == "Q200") & F.col("is_alias")).count() == 0


# ----------------------------------------------------- lookup ids backfill


def test_lookup_ids_backfill(spark):
    from lamapi_spark.operators.lookup import lookup
    label_dict = spark.createDataFrame(
        [
            ("Q1", "Blue Car", "blue car", "a car", "entity", None, [], 8, 2, 0.9, False, ["en"]),
            ("Q2", "Red Bus", "red bus", "a bus", "entity", None, [], 7, 2, 0.5, False, ["en"]),
            ("Q3", "Bus Rouge", "bus rouge", "fr alias", "entity", None, [], 9, 2, 0.5, True, ["fr"]),
        ],
        "entity string, name string, name_norm string, description string, "
        "kind string, NERtype string, types array<string>, length int, "
        "ntoken int, popularity double, is_alias boolean, language array<string>",
    )
    items = spark.createDataFrame(
        [("Q9", "type", {"en": "SomeType"})],
        "entity string, kind string, labels map<string,string>")
    mentions = spark.createDataFrame(
        [("blue car",), ("warp drive",)], "mention string")
    req = spark.createDataFrame(
        [("blue car", "Q1"),    # already matched -> must NOT duplicate
         ("blue car", "Q2"),    # unmatched -> backfilled
         ("warp drive", "Q2"),  # mention with zero matches -> backfilled
         ("warp drive", "Q3"),  # alias row: ids arm requires is_alias=false -> absent
         ("warp drive", "Q777")],  # unknown id -> absent (no ES doc)
        "mention string, entity string")

    out = lookup(mentions, label_dict, items, fuzzy=False, requested_ids=req)
    rows = {(r.mention_norm, r.id): r for r in out.collect()}
    assert ("blue car", "Q1") in rows
    assert ("blue car", "Q2") in rows
    assert ("warp drive", "Q2") in rows
    assert ("warp drive", "Q3") not in rows
    assert ("warp drive", "Q777") not in rows
    assert out.count() == len(rows)  # no duplicate (mention, id) rows

    bf = rows[("warp drive", "Q2")]
    assert bf.es_score == 1.0 and bf.pos_score == 1.0
    assert bf.ambiguity_mention == 0.0 and bf.corrects_tokens == 0.0
    assert bf.name == "Red Bus" and bf.popularity == 0.5
    # backfill for a mention WITH matches reuses that mention's features
    bf2 = rows[("blue car", "Q2")]
    assert bf2.ambiguity_mention == rows[("blue car", "Q1")].ambiguity_mention


# ---------------------------------------------------- column analysis (U2)


def test_classify_columns_ne_vs_lit(spark):
    from lamapi_spark.operators.column_analysis import classify_columns
    cells = spark.createDataFrame(
        [("who", "John Smith"), ("who", "Jane Doe"), ("who", "Acme Corp"),
         ("where", "Paris"), ("where", "berlin"), ("where", "atlantis"),
         ("num", "42"), ("num", "3.14"), ("num", "x"),
         ("freeform", "no dictionary hits here"), ("freeform", "pure prose")],
        "col_name string, v string")
    label_dict = spark.createDataFrame(
        [("john smith", "PERS", 0.9), ("jane doe", "PERS", 0.8),
         ("acme corp", "ORG", 0.7), ("paris", "LOC", 0.9),
         ("berlin", "LOC", 0.5), ("paris", "PERS", 0.1)],  # losing tie row
        "name_norm string, NERtype string, popularity double")
    out = {r.col_name: r for r in classify_columns(cells, label_dict).collect()}
    who = out["who"]
    assert who.tag == "NE" and who.classification == "PERSON"
    assert who.probability == 0.667  # 2 of 3 cells vote PERSON
    assert who.probabilities == "ORGANIZATION:1 PERSON:2"
    where = out["where"]
    assert where.tag == "NE" and where.classification == "LOCATION"
    assert where.probability == 0.667  # 'atlantis' misses the dictionary
    num = out["num"]
    assert num.tag == "LIT" and num.classification == "NUMBER"
    assert num.probability == 0.667 and "NUMBER:2" in num.probabilities
    free = out["freeform"]
    assert free.tag == "LIT" and free.classification == "STRING"
    assert free.probability == 1.0


# ------------------------------------------------- bucketed index artifacts


def test_bucketed_index_artifacts_parity(spark):
    """The bucketed-artifact path (no broadcast, no dict-side shuffle)
    must produce byte-identical lookup output to the in-memory broadcast
    path, and the artifact scans must really be bucketed. The payload
    attach broadcasts only under a known n_entities, and fails loudly on
    a match frame the artifact's payload does not cover."""
    import dataclasses

    from lamapi_spark.operators.indexes import LookupIndex
    from lamapi_spark.operators.label_dict import build_label_dict
    from lamapi_spark.operators.lookup import _prepare_mentions, lookup, token_match
    from lamapi_spark.pipeline.fixtures import build_kg, kg_dataframes

    kg = build_kg(seed=7, n_people=40, n_orgs=15, n_locs=8, n_films=25)
    dfs = kg_dataframes(spark, kg)
    ld = build_label_dict(dfs["kg_items"]).cache()
    idx = LookupIndex.write(ld, prefix="t_r2_idx", n_buckets=4, fuzzy=True,
                            limit_per_token=50, fuzzy_edits=1)
    assert idx.bucketed and LookupIndex.exists(spark, "t_r2_idx")

    mentions = spark.createDataFrame(
        [("the blue film",), ("jon smith",), ("acme",), ("warp nonsense",)],
        "mention string")
    base = lookup(mentions, ld, dfs["kg_items"], fuzzy=True,
                  limit_per_token=50, fuzzy_edits=1)
    art = lookup(mentions, ld, dfs["kg_items"], fuzzy=True, index=idx)
    key = lambda r: (r["mention_norm"], r["id"], r["name"])
    a = sorted((tuple(r) for r in base.collect()), key=str)
    b = sorted((tuple(r) for r in art.collect()), key=str)
    assert a == b and len(a) > 0

    plan = art._jdf.queryExecution().executedPlan().toString()
    assert "Bucketed: true" in plan

    def plan_of(df):
        return df._jdf.queryExecution().executedPlan().toString()

    saved = {k: spark.conf.get(k, None) for k in (
        "spark.sql.autoBroadcastJoinThreshold",
        "spark.sql.adaptive.autoBroadcastJoinThreshold")}
    try:
        for k in saved:
            spark.conf.set(k, "-1")
        # persisted n_entities under the cap: the payload attach is the
        # plan's one hash-join broadcast; unknown n_entities shuffles it
        gated = lookup(mentions, ld, dfs["kg_items"], fuzzy=True, index=idx)
        assert sorted((tuple(r) for r in gated.collect()), key=str) == a
        assert "BroadcastHashJoin" in plan_of(gated)
        ungated = lookup(mentions, ld, dfs["kg_items"], fuzzy=True,
                         index=dataclasses.replace(idx, n_entities=None))
        assert sorted((tuple(r) for r in ungated.collect()), key=str) == a
        assert "BroadcastHashJoin" not in plan_of(ungated)
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)

    # coverage guard: a match from the full in-memory dictionary probed
    # against a smaller artifact's payload must raise, not drop rows
    small = LookupIndex.write(ld.filter(F.col("entity") != a[0][1]),
                              prefix="t_r2_idx_small", n_buckets=4, fuzzy=True,
                              limit_per_token=50, fuzzy_edits=1)
    prepared = _prepare_mentions(mentions)
    match = token_match(prepared, ld, fuzzy=True, limit_per_token=50,
                        fuzzy_edits=1, slim=True)
    with pytest.raises(Exception, match="missing from the index payload"):
        lookup(mentions, ld, dfs["kg_items"], fuzzy=True, index=small,
               prepared=prepared, match=match).collect()


@pytest.fixture(scope="module")
def payload_kg(spark):
    from lamapi_spark.operators.label_dict import build_label_dict
    from lamapi_spark.pipeline.fixtures import build_kg, kg_dataframes

    kg = build_kg(seed=7, n_people=40, n_orgs=15, n_locs=8, n_films=25)
    dfs = kg_dataframes(spark, kg)
    return build_label_dict(dfs["kg_items"]).cache(), dfs["kg_items"]


def test_in_memory_index_carries_payload(spark, payload_kg):
    """LookupIndex.build returns the frames an artifact holds, payload
    included: the same payload rows as the written artifact, and None
    for a match-only dictionary, which lookup() refuses at entry."""
    from lamapi_spark.operators.indexes import LookupIndex
    from lamapi_spark.operators.lookup import lookup

    ld, items = payload_kg
    mem = LookupIndex.build(ld, fuzzy=True, limit_per_token=50, fuzzy_edits=1)
    art = LookupIndex.write(ld, prefix="t_r2_idx_payload", n_buckets=4, fuzzy=True,
                            limit_per_token=50, fuzzy_edits=1)
    rows = sorted((tuple(r) for r in mem.payload.collect()), key=str)
    assert rows == sorted((tuple(r) for r in art.payload.collect()), key=str)
    assert len(rows) == art.n_entities == ld.select("entity").distinct().count()

    minimal = ld.select("entity", "name", "name_norm", "popularity", "is_alias")
    assert LookupIndex.build(minimal, fuzzy=False).payload is None
    mentions = spark.createDataFrame([("acme",)], "mention string")
    with pytest.raises(ValueError, match="payload table"):
        lookup(mentions, minimal, items)


def test_in_memory_lookup_uncovered_match_raises(spark, payload_kg):
    """A match= frame naming an entity that the in-memory index's
    dictionary lacks raises, as with an artifact, instead of dropping
    that entity's rows."""
    from lamapi_spark.operators.lookup import _prepare_mentions, lookup, token_match

    ld, items = payload_kg
    mentions = spark.createDataFrame(
        [("the blue film",), ("jon smith",), ("acme",)], "mention string")
    prepared = _prepare_mentions(mentions)
    match = token_match(prepared, ld, fuzzy=True, limit_per_token=50,
                        fuzzy_edits=1, slim=True)
    small = ld.filter(F.col("entity") != match.select("entity").head()[0])
    # a request filter attaches the payload before ranking: the same
    # guard raises there, whatever the filter keeps
    for kw in ({}, {"kind": "entity"}, {"ner_type": "PERS"}, {"types": "Q5"},
               {"language": "en"}):
        with pytest.raises(Exception, match="missing from the index payload"):
            lookup(mentions, small, items, fuzzy=True, limit_per_token=50,
                   fuzzy_edits=1, prepared=prepared, match=match, **kw).collect()


def test_pipeline_with_index_artifacts_matches_default(spark, tmp_path):
    """run_pipeline with index artifacts (now the DEFAULT plan) must emit
    byte-identical triples to the broadcast opt-out path."""
    from lamapi_spark.pipeline.fixtures import (
        build_kg, build_transcripts, kg_dataframes, transcript_dataframes,
    )
    from lamapi_spark.pipeline.run import run_pipeline
    kg = build_kg(seed=11, n_people=30, n_orgs=10, n_locs=6, n_films=20)
    dfs = kg_dataframes(spark, kg)
    tr = build_transcripts(kg, seed=12, n_convs=30, turns_per_conv=(3, 6))
    dfs.update(transcript_dataframes(spark, *tr))
    base = run_pipeline(spark, dfs["transcripts"], dfs["kg_items"],
                        dfs["kg_edges"], dfs["kg_sameas"], fuzzy=True,
                        use_index_artifacts=False)
    art = run_pipeline(spark, dfs["transcripts"], dfs["kg_items"],
                       dfs["kg_edges"], dfs["kg_sameas"], fuzzy=True,
                       use_index_artifacts=True, index_prefix="t_r2_pipe_idx")
    key = ["subj", "pred", "obj", "conv_id", "turn_idx"]
    a = sorted(tuple(r) for r in base["triples"].select(*key).collect())
    b = sorted(tuple(r) for r in art["triples"].select(*key).collect())
    assert a == b and len(a) > 0
    # the offline build is recorded in the stage metrics
    assert any(m["stage"] == "index_artifacts" for m in art["metrics"])


# ------------------------------------------------------------ bow operator


def test_bow_paths_agree(spark, docs):
    from lamapi_spark.operators.bow import bow_similarity
    bows = spark.createDataFrame(
        [("E1", ["quick", "fox", "pasta"]), ("E2", ["garlic", "pasta"]),
         ("E3", ["zzz"])],
        "entity string, bow array<string>")
    texts = docs.withColumnRenamed("doc_id", "request_id")
    default = {(r.request_id, r.entity): r.similarity_score
               for r in bow_similarity(texts, bows).collect()}
    crossed = {(r.request_id, r.entity): r.similarity_score
               for r in bow_similarity(texts, bows, cross_score_all=True).collect()}
    # default path = cross path restricted to overlapping pairs
    assert default == {k: v for k, v in crossed.items() if v > 0}
    assert all(v > 0 for v in default.values())

    cand = spark.createDataFrame(
        [(0, "E1"), (0, "E3"), (5, "E2")], "request_id bigint, entity string")
    with_cand = {(r.request_id, r.entity): r.similarity_score
                 for r in bow_similarity(texts, bows, candidates=cand).collect()}
    # candidates path scores exactly the requested pairs, zeros included
    assert set(with_cand) == {(0, "E1"), (0, "E3"), (5, "E2")}
    assert with_cand[(0, "E3")] == 0.0
    assert with_cand[(0, "E1")] == crossed[(0, "E1")]
