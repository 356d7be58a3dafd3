"""Flagship lookup parity: Spark dataflow vs the pure-Python oracle on
the smoke KG fixture — all 19 candidate fields, exact + fuzzy branches,
filters."""

from __future__ import annotations

import pytest

from lamapi_spark.operators.label_dict import build_label_dict
from lamapi_spark.operators.lookup import lookup
from lamapi_spark.pipeline.fixtures import build_kg, kg_dataframes

from tests.oracle import lookup_oracle

FIELDS = [
    "id", "name", "description", "kind", "NERtype", "ambiguity_mention",
    "corrects_tokens", "ntoken_mention", "ntoken_entity", "length_mention",
    "length_entity", "popularity", "pos_score", "es_score", "ed_score",
    "jaccard_score", "jaccardNgram_score",
]


@pytest.fixture(scope="module")
def kg_ctx(spark):
    kg = build_kg(seed=42)
    dfs = kg_dataframes(spark, kg)
    label_dict = build_label_dict(dfs["kg_items"]).cache()
    label_dict.count()
    dict_rows = [r.asDict() for r in label_dict.collect()]
    type_names = {
        row["entity"]: row["labels"].get("en")
        for row in kg.items if row["kind"] == "type"
    }
    return kg, dfs, label_dict, dict_rows, type_names


def _spark_candidates(spark, dfs, label_dict, mentions, **kw):
    mdf = spark.createDataFrame([(m,) for m in mentions], ["mention"])
    out = lookup(mdf, label_dict, dfs["kg_items"], **kw).collect()
    res = {}
    for r in out:
        d = r.asDict(recursive=True)
        res.setdefault(r.mention_norm, {})[(r.id, r.name)] = d
    return res


def _oracle_candidates(dict_rows, type_names, mentions, **kw):
    from tests.oracle import clean_str
    res = {}
    for m in mentions:
        got = lookup_oracle(m, dict_rows, type_names, **kw)
        res[clean_str(m)] = {(o["id"], o["name"]): o for o in got}
    return res


def _compare(spark_res, oracle_res):
    # mentions with zero candidates simply emit no rows in the dataflow
    oracle_res = {k: v for k, v in oracle_res.items() if v}
    assert spark_res.keys() == oracle_res.keys()
    for m in oracle_res:
        assert spark_res[m].keys() == oracle_res[m].keys(), (
            m, sorted(spark_res[m]), sorted(oracle_res[m]))
        for key, o in oracle_res[m].items():
            s = spark_res[m][key]
            for f in FIELDS:
                sv, ov = s[f], o[f]
                if isinstance(ov, float):
                    assert abs(float(sv) - ov) < 1e-9, (m, key, f, sv, ov)
                else:
                    assert sv == ov, (m, key, f, sv, ov)
            s_types = [(t["id"], t["name"]) for t in (s["types"] or [])]
            o_types = [(t["id"], t["name"]) for t in o["types"]]
            assert s_types == o_types, (m, key)


def test_lookup_exact_parity(spark, kg_ctx):
    kg, dfs, label_dict, dict_rows, type_names = kg_ctx
    some_labels = [kg.label_of[q] for q in list(kg.label_of)[:40]
                   if kg.label_of[q] is not None][:12]
    mentions = some_labels + ["Jurassic  World", "completely unknown thing",
                              "kennedy", "the"]
    spark_res = _spark_candidates(spark, dfs, label_dict, mentions)
    oracle_res = _oracle_candidates(dict_rows, type_names, mentions)
    _compare(spark_res, oracle_res)


def test_lookup_fuzzy_parity(spark, kg_ctx):
    kg, dfs, label_dict, dict_rows, type_names = kg_ctx
    # one-edit typos of real labels
    labels = [kg.label_of[q] for q in list(kg.label_of) if kg.ner_of.get(q)][:6]
    typos = [l[:-1] for l in labels if len(l) > 6] + ["jon kenedy"]
    spark_res = _spark_candidates(spark, dfs, label_dict, typos, fuzzy=True)
    oracle_res = _oracle_candidates(dict_rows, type_names, typos, fuzzy=True)
    _compare(spark_res, oracle_res)


def test_lookup_filters_parity(spark, kg_ctx):
    """Each filter set through the in-memory index and through a written
    artifact; the per-entity filters read the index payload, so they
    also run without label_dict, which only the language filter needs."""
    from lamapi_spark.operators.indexes import LookupIndex

    kg, dfs, label_dict, dict_rows, type_names = kg_ctx
    pers_label = next(kg.label_of[q] for q in kg.ner_of if kg.ner_of[q] == "PERS")
    mem = LookupIndex.build(label_dict, fuzzy=False)
    art = LookupIndex.write(label_dict, prefix="t_lookup_filters_idx", n_buckets=4,
                            fuzzy=False)
    for kw in (
        {"ner_type": "PERS"},
        {"kind": "entity"},
        {"language": "en"},
        {"types": "Q5"},
        {"limit": 3},
    ):
        oracle_res = _oracle_candidates(dict_rows, type_names, [pers_label], **kw)
        runs = [(label_dict, {}), (label_dict, {"index": art})]
        if "language" not in kw and "limit" not in kw:
            runs += [(None, {"index": mem}), (None, {"index": art})]
        for ld, idx in runs:
            spark_res = _spark_candidates(spark, dfs, ld, [pers_label], **kw, **idx)
            _compare(spark_res, oracle_res)
    mdf = spark.createDataFrame([(pers_label,)], ["mention"])
    with pytest.raises(ValueError, match="label_dict"):
        lookup(mdf, None, dfs["kg_items"], language="en", index=art)


def test_lookup_randomized_mentions_parity(spark, kg_ctx):
    """Seeded random mention mutations (typos at several edit
    distances, case noise, token reorder/injection, cross-entity
    concatenations) through BOTH arms, field-by-field vs the oracle —
    the randomized sweep between the hand-picked parity fixtures,
    hitting fuzzy band edges (len 3/6 thresholds) and multi-entity
    token overlaps by construction."""
    import random

    kg, dfs, label_dict, dict_rows, type_names = kg_ctx
    rng = random.Random(60)
    surfaces = sorted({r["name"] for r in dict_rows})

    def mutate(s):
        ops = rng.randint(0, 4)
        if ops == 0:   # char substitution (edit distance 1..2)
            out = list(s)
            for _ in range(rng.randint(1, 2)):
                i = rng.randrange(len(out))
                out[i] = rng.choice("abcdefgxyz")
            return "".join(out)
        if ops == 1:   # random case + punctuation noise
            return "".join(c.upper() if rng.random() < 0.5 else c
                           for c in s) + rng.choice(["!", " ,", ""])
        if ops == 2:   # token reorder
            t = s.split()
            rng.shuffle(t)
            return " ".join(t)
        if ops == 3:   # inject an off-dictionary token
            t = s.split()
            t.insert(rng.randint(0, len(t)), rng.choice(["zq", "holding", "the"]))
            return " ".join(t)
        # concatenate a second entity's tokens (multi-entity overlap)
        return s + " " + rng.choice(surfaces)

    mentions = sorted({mutate(rng.choice(surfaces)) for _ in range(40)})
    for kw in (dict(), dict(fuzzy=True)):
        spark_res = _spark_candidates(spark, dfs, label_dict, mentions, **kw)
        oracle_res = _oracle_candidates(dict_rows, type_names, mentions, **kw)
        _compare(spark_res, oracle_res)


def test_lookup_randomized_mentions_parity_indexed(spark, kg_ctx):
    """The same randomized mutation sweep through the ARTIFACT plan
    (prebuilt LookupIndex, unpruned so it is rank-lossless): the plan
    users actually get must match the oracle on arbitrary mentions,
    not just the fixed contract corpus."""
    import random

    from lamapi_spark.operators.indexes import LookupIndex

    kg, dfs, label_dict, dict_rows, type_names = kg_ctx
    rng = random.Random(61)
    surfaces = sorted({r["name"] for r in dict_rows})
    mentions = sorted({
        rng.choice(surfaces) if rng.random() < 0.3 else
        rng.choice(surfaces).replace(rng.choice("aeiou"), "x", 1)
        + rng.choice(["", " zq", "!"])
        for _ in range(30)})

    # fuzzy_edits=2 matches the oracle's ES-auto band (len>=6 -> 2
    # edits); the index DEFAULT deliberately caps at 1 (the documented
    # pipeline volume trade, operators/lookup.py:149) and would reject
    # 2-edit mutations of >=6-char tokens the oracle accepts
    idx = LookupIndex.build(label_dict, fuzzy=True, limit_per_token=None,
                            fuzzy_edits=2)
    for kw in (dict(), dict(fuzzy=True)):
        mdf = spark.createDataFrame([(m,) for m in mentions], ["mention"])
        out = lookup(mdf, label_dict, dfs["kg_items"], index=idx, **kw).collect()
        spark_res = {}
        for r in out:
            d = r.asDict(recursive=True)
            spark_res.setdefault(r.mention_norm, {})[(r.id, r.name)] = d
        oracle_res = _oracle_candidates(dict_rows, type_names, mentions, **kw)
        _compare(spark_res, oracle_res)
