"""Alias mining (pipeline/aliases.py): gate boundaries, deterministic
argmax, and the full growth loop — mine -> write_delta -> probe-visible
through token_match_with_delta with NO fuzzy band needed."""

from __future__ import annotations

import pyspark.sql.functions as F


def _label_dict(spark, rows):
    """rows: (entity, name, popularity) -> minimal full-schema dict."""
    df = spark.createDataFrame(rows, ["entity", "name", "popularity"])
    return df.select(
        "entity", "name", F.lower("name").alias("name_norm"),
        F.array(F.lit("en")).alias("language"),
        F.lit(False).alias("is_alias"),
        F.concat(F.lit("desc "), "entity").alias("description"),
        F.lit("entity").alias("kind"),
        F.lit("ORG").alias("NERtype"),
        F.array(F.lit("T1")).alias("types"),
        F.length("name").alias("length"),
        F.size(F.split("name", " ")).alias("ntoken"),
        F.col("popularity").cast("double").alias("popularity"))


def _linked(spark, rows):
    return spark.createDataFrame(rows, ["surface", "entity", "nil"])


def test_mine_aliases_gates(spark):
    from lamapi_spark.pipeline.aliases import mine_aliases

    d = _label_dict(spark, [("e1", "acme corp", 0.9), ("e2", "globex", 0.5)])
    lk = _linked(spark, (
        # 4x e1 + 1x e2: support 4, purity 4*10000 == 8000*5 — the
        # EXACT-boundary case the product comparison must keep
        [("akme corp", "e1", False)] * 4 + [("akme corp", "e2", False)]
        # support 2 < min_support
        + [("globx", "e2", False)] * 2
        # dictionary-known surface: excluded regardless of support
        + [("acme corp", "e1", False)] * 5
        # NIL occurrences count against purity: 2/5 < 80%
        + [("mystery inc", "e1", False)] * 2
        + [("mystery inc", "NIL-abc", True)] * 3))

    got = {(r.name, r.entity, r.support, r.purity_bp,
            r.is_alias, r.description, r.kind, r.NERtype,
            r.popularity, r.length, r.ntoken)
           for r in mine_aliases(lk, d, min_support=3,
                                 min_purity_bp=8000).collect()}
    assert got == {("akme corp", "e1", 4, 8000,
                    True, "desc e1", "entity", "ORG", 0.9, 9, 2)}


def test_mine_aliases_argmax_tiebreak(spark):
    from lamapi_spark.pipeline.aliases import mine_aliases

    d = _label_dict(spark, [("e1", "acme corp", 0.9), ("e2", "globex", 0.5)])
    # equal support 3/3: winner must be entity asc (e1), purity 5000
    lk = _linked(spark, [("tie corp", "e1", False)] * 3
                 + [("tie corp", "e2", False)] * 3)
    got = [(r.name, r.entity, r.support, r.purity_bp)
           for r in mine_aliases(lk, d, min_support=3,
                                 min_purity_bp=5000).collect()]
    assert got == [("tie corp", "e1", 3, 5000)]
    # one notch stricter purity: the tie falls out
    assert mine_aliases(lk, d, min_support=3,
                        min_purity_bp=5001).count() == 0


def test_mine_and_append_probe_visible(spark):
    """The loop end-to-end: a recurring misspelling is invisible to the
    exact main probe, gets mined + appended, and the delta probe then
    matches it with edits=0 — dictionary growth without a rebuild."""
    from lamapi_spark.operators.indexes import LookupIndex
    from lamapi_spark.operators.lookup import (
        _prepare_mentions, token_match, token_match_with_delta,
    )
    from lamapi_spark.pipeline.aliases import mine_and_append

    d = _label_dict(spark, [("e1", "red apple pie", 9.0),
                            ("e2", "blue sky", 7.0)])
    prefix = "t_alias_loop"
    LookupIndex.drop_delta(spark, prefix)
    idx = LookupIndex.write(d, prefix=prefix, n_buckets=2, fuzzy=False,
                            limit_per_token=3)

    mentions = spark.createDataFrame([("aple pie",)], ["mention"])
    prepared = _prepare_mentions(mentions)
    before = token_match(prepared, None,
                         fuzzy=False, index=idx, slim=True)
    # 'aple' is not a dictionary token -> only the shared 'pie' token
    # matches; the full name never becomes an exact match
    assert before.filter(F.col("name_norm") == "aple pie").count() == 0

    lk = _linked(spark, [("aple pie", "e1", False)] * 3)
    n = mine_and_append(lk, d, prefix=prefix, min_support=3,
                        min_purity_bp=8000, index=idx)
    assert n == 1
    delta = LookupIndex.load_delta(spark, prefix)
    assert delta is not None
    # the delta rows carry the full label_dict schema (write_delta
    # contract): the probe needs name_norm/popularity/is_alias, the
    # payload join needs the rest
    assert set(delta.columns) == {
        "entity", "name", "name_norm", "language", "is_alias",
        "description", "kind", "NERtype", "types", "length", "ntoken",
        "popularity"}

    after = token_match_with_delta(prepared, idx, delta, fuzzy=False)
    hit = after.filter((F.col("mention_norm") == "aple pie")
                       & (F.col("name_norm") == "aple pie")).collect()
    # both tokens exact-match (matched_tokens counts edits==0 tokens)
    assert [(r.entity, r.matched_tokens) for r in hit] == [("e1", 2)]
    LookupIndex.drop_delta(spark, prefix)


def test_stream_mine_aliases_parity(spark, tmp_path):
    """Per-window streaming mining == batch mine_aliases per window:
    day-1 aliases emit once the sentinel closes the window; a surface
    whose support is split across windows does NOT pool across them."""
    import datetime as dt

    from lamapi_spark.pipeline.aliases import mine_aliases
    from lamapi_spark.streaming.kg import LINKED_SCHEMA, stream_mine_aliases
    from lamapi_spark.streaming.sessions import run_available_now

    d1 = dt.datetime(2026, 1, 1, 9, 0)
    d2 = dt.datetime(2026, 1, 2, 9, 0)
    rows = (
        # pure recurring misspelling on day 1 -> mined (support 4)
        [("c1", 0, "akme corp", "e1", False, d1)] * 4
        # 2 more on day 2: below min_support WITHIN that window
        + [("c2", 0, "akme corp", "e1", False, d2)] * 2
        # 3:1 with a NIL on day 1 -> purity 7500 < 8000, dropped
        + [("c3", 0, "globx", "e2", False, d1)] * 3
        + [("c3", 1, "globx", "NIL-x", True, d1)]
        # dictionary-known surface: excluded
        + [("c4", 0, "acme corp", "e1", False, d1)] * 5)
    sch = LINKED_SCHEMA
    path = str(tmp_path / "linked")
    spark.createDataFrame(rows, sch).repartition(3).write.parquet(path)
    # future sentinel (unique surface, support 1): closes both real
    # windows under the watermark; its own window never closes
    flush = spark.createDataFrame(
        [("conv-flush", 0, "zzz-flush", "e1", False,
          dt.datetime(2027, 1, 1))], sch)
    flush.coalesce(1).write.mode("append").parquet(path)

    d = _label_dict(spark, [("e1", "acme corp", 0.9), ("e2", "globex", 0.5)])
    got = run_available_now(
        stream_mine_aliases(spark, path, d, window="1 day",
                            watermark="10 minutes", min_support=3,
                            min_purity_bp=8000),
        "t_stream_aliases", mode="append")
    got_set = {(r.window_start, r.name, r.entity, r.support, r.purity_bp,
                r.popularity, r.description)
               for r in got.collect()}

    # batch twin per window
    def batch_day(day):
        lk = spark.createDataFrame(
            [r for r in rows if r[5].date() == day.date()], sch)
        return {(day.replace(hour=0), r.name, r.entity, r.support,
                 r.purity_bp, r.popularity, r.description)
                for r in mine_aliases(lk.select("surface", "entity", "nil"),
                                      d, min_support=3,
                                      min_purity_bp=8000).collect()}

    want = batch_day(d1) | batch_day(d2)
    assert want == {(d1.replace(hour=0), "akme corp", "e1", 4, 10000,
                     0.9, "desc e1")}
    assert got_set == want
