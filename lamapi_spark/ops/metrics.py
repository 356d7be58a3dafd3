"""Evaluation metrics over linked/predicted frames — the measurement
side of the north rule's own acceptance criterion (P/R >= 0.95 vs
reference triples): precision/recall/F1 as a distributed operator, so
a 10^12-turn evaluation run is itself one Spark job instead of a
driver-side script (reference analogue: none — the reference has no
eval harness; builder's-brief surface, and the twin of what
tests/test_pipeline_e2e.py computes in Python on fixtures).
"""

from __future__ import annotations

import math
from typing import TYPE_CHECKING

if TYPE_CHECKING:  # pragma: no cover
    import pandas as pd

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def prf_eval(pred: DataFrame, truth: DataFrame, keys: list[str],
             value_col: str = "entity",
             slice_col: str | None = None) -> DataFrame:
    """Micro precision/recall/F1 of ``pred`` against ``truth``, both
    keyed by ``keys`` with the predicted/gold value in ``value_col``:
    a prediction is a true positive iff a truth row shares its keys
    AND its value. Optional ``slice_col`` (taken from the TRUTH side,
    falling back to pred for spurious rows) groups the report — the
    per-type / per-language slicing an eval dashboard wants.

    Counting follows the standard linking convention: tp = key+value
    matches, fp = predictions with no such match (wrong value OR
    spurious key), fn = truth rows not matched. P = tp/(tp+fp),
    R = tp/(tp+fn), F1 = 2PR/(P+R); ratios round half-even to 6
    decimals (engine-portable); empty denominators degrade to 0.0
    (the scorched-earth convention: no predictions => P = 0 unless
    there is also no truth).

    Scale shape: ONE full outer join on the key columns (both sides
    shuffle once on the same key — co-partitioned), then a count
    aggregation over booleans; no window, no driver collect. Assumes
    keys are unique per side (one prediction and one gold value per
    mention), the linking pipeline's own contract.

    -> one row per slice (or a single global row):
    (slice?, n_pred, n_truth, tp, fp, fn, precision, recall, f1).
    """
    p = pred.select(*keys, F.col(value_col).alias("_pv"))
    t = truth.select(
        *keys, F.col(value_col).alias("_tv"),
        *([F.col(slice_col).alias("_ts")] if slice_col else []))
    if slice_col:
        p = pred.select(*keys, F.col(value_col).alias("_pv"),
                        F.col(slice_col).alias("_ps"))
    j = p.join(t, on=keys, how="full_outer")
    has_p, has_t = F.col("_pv").isNotNull(), F.col("_tv").isNotNull()
    hit = has_p & has_t & (F.col("_pv") == F.col("_tv"))
    counted = j.select(
        *([F.coalesce("_ts", "_ps").alias("slice")] if slice_col else []),
        has_p.cast("long").alias("_np"), has_t.cast("long").alias("_nt"),
        hit.cast("long").alias("_tp"))
    gb = counted.groupBy("slice") if slice_col else counted.groupBy()
    agg = gb.agg(F.sum("_np").alias("n_pred"), F.sum("_nt").alias("n_truth"),
                 F.sum("_tp").alias("tp"))
    prec = F.when(F.col("n_pred") > 0,
                  F.col("tp") / F.col("n_pred")).otherwise(F.lit(0.0))
    rec = F.when(F.col("n_truth") > 0,
                 F.col("tp") / F.col("n_truth")).otherwise(F.lit(0.0))
    out = (agg
           .withColumn("fp", (F.col("n_pred") - F.col("tp")).cast("long"))
           .withColumn("fn", (F.col("n_truth") - F.col("tp")).cast("long"))
           .withColumn("precision", F.bround(prec, 6))
           .withColumn("recall", F.bround(rec, 6)))
    f1 = F.when((F.col("precision") + F.col("recall")) > 0,
                2.0 * F.col("precision") * F.col("recall")
                / (F.col("precision") + F.col("recall"))).otherwise(F.lit(0.0))
    return out.withColumn("f1", F.bround(f1, 6))


def rouge_n_scores(pairs: DataFrame, id_col: str = "pair_id",
                   cand_col: str = "cand", ref_col: str = "ref",
                   n: int = 2) -> DataFrame:
    """ROUGE-N per (candidate, reference) text pair — the n-gram
    overlap metric every summarization / SFT-response eval runs, as a
    distributed operator (reference analogue: none; builder's-brief
    eval surface beside prf_eval).

    Standard CLIPPED-multiset counting: for each n-gram g,
    min(count_cand(g), count_ref(g)) contributes to the overlap;
    P = overlap / max(#cand grams, 1), R = overlap / max(#ref grams, 1)
    and, because both share one numerator, F1 = 2*overlap /
    (#cand + #ref) — every ratio is ONE division of two corpus
    integers, rounded half-even to 6 dp (engine-portable; no float
    sums anywhere). Sides with < n tokens have zero grams and score 0.

    Scale shape: grams are built IN-ROW (transform over sequence — no
    per-token explode of the raw text), then one explode per side into
    a (pair, gram) count aggregation and one join on (pair, gram):
    everything shuffles on the pair/gram key, hot grams stay inside
    their pair. -> (id, cand_n, ref_n, overlap, p, r, f1)."""
    def grams(col: str):
        toks = F.split(F.trim(F.lower(F.col(col))), r"\s+")
        k = F.size(toks) - (n - 1)
        return F.when(k >= 1, F.transform(
            F.sequence(F.lit(1), k),
            lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
        )).otherwise(F.array().cast("array<string>"))

    base = pairs.select(F.col(id_col).alias("id"),
                        grams(cand_col).alias("_cg"),
                        grams(ref_col).alias("_rg"))

    def side_counts(col: str, out: str):
        return (base.select("id", F.explode(col).alias("g"))
                .groupBy("id", "g").agg(F.count("*").alias(out)))

    ov = (
        side_counts("_cg", "_cc")
        .join(side_counts("_rg", "_rc"), ["id", "g"])
        .groupBy("id")
        .agg(F.sum(F.least("_cc", "_rc")).alias("overlap"))
    )
    sizes = base.select("id", F.size("_cg").cast("long").alias("cand_n"),
                        F.size("_rg").cast("long").alias("ref_n"))
    j = (sizes.join(ov, "id", "left")
         .withColumn("overlap", F.coalesce("overlap", F.lit(0)).cast("long")))
    return j.select(
        "id", "cand_n", "ref_n", "overlap",
        F.bround(F.col("overlap") / F.greatest("cand_n", F.lit(1)), 6).alias("p"),
        F.bround(F.col("overlap") / F.greatest("ref_n", F.lit(1)), 6).alias("r"),
        F.bround(2 * F.col("overlap")
                 / F.greatest(F.col("cand_n") + F.col("ref_n"), F.lit(1)),
                 6).alias("f1"),
    )


def calibration_bins(scored: DataFrame, score_col: str = "score",
                     label_col: str = "label",
                     n_bins: int = 10) -> DataFrame:
    """Reliability table for link-confidence calibration — the check a
    production linker runs before its scores gate auto-accept
    thresholds (reference analogue: none — the reference emits raw
    popularity/similarity scores with no calibration audit;
    builder's-brief eval surface beside prf_eval).

    Equal-width binning of ``score_col`` (assumed in [0, 1]) into
    ``n_bins`` bins, ``least(floor(score*n_bins), n_bins-1)`` so the
    score=1.0 edge folds into the top bin. Per bin: mean confidence,
    empirical accuracy (mean of the 0/1 ``label_col``), their absolute
    gap, the bin's weight n/N, and the expected-calibration-error
    contribution weight*gap — ``sum(ece_contrib)`` IS the standard ECE
    (Naeini et al., AAAI 2015). Ratios round half-even to 6 dp
    (engine-portable float discipline).

    Scale shape: ONE hash aggregation keyed by the bin id (at most
    ``n_bins`` groups — partial map-side combine collapses each input
    partition to <= n_bins cells, so a 10^12-row score log shuffles
    O(partitions * n_bins) cells), then a 1-row broadcast total for
    the weights. No window, no driver collect.

    -> (bin, n, conf, acc, gap, weight, ece_contrib), one row per
    non-empty bin.
    """
    b = F.least(F.floor(F.col(score_col) * n_bins),
                F.lit(n_bins - 1)).cast("int")
    agg = (
        scored.select(b.alias("bin"), F.col(score_col).alias("_s"),
                      F.col(label_col).cast("double").alias("_y"))
        .groupBy("bin")
        .agg(F.count("*").alias("n"),
             F.avg("_s").alias("_conf"), F.avg("_y").alias("_acc"))
    )
    total = agg.agg(F.sum("n").alias("_N"))
    gap = F.abs(F.col("_acc") - F.col("_conf"))
    w = F.col("n") / F.col("_N")
    return (
        agg.join(F.broadcast(total))
        .select("bin", "n",
                F.bround("_conf", 6).alias("conf"),
                F.bround("_acc", 6).alias("acc"),
                F.bround(gap, 6).alias("gap"),
                F.bround(w, 6).alias("weight"),
                F.bround(w * gap, 6).alias("ece_contrib"))
    )


def _global_ranks(vals: DataFrame, n_buckets: int, out: str) -> DataFrame:
    """(k, v) -> (k, out = exact dense 1-based global rank by (v, k)).

    Two-level scan, not a global window (a no-partition row_number is
    ONE task at 10^9 rows): quantize v into ``n_buckets`` value bins
    (monotone float map — bin order == value order), exclusive prefix
    sum over the tiny bucket-counts frame (the only serial step,
    <= n_buckets rows), then a WITHIN-bucket row_number parallel
    across buckets. The bucketing is invisible to the result — ranks
    are a pure function of the (v, k) order. A value so hot it owns a
    bucket degrades that bucket to one sort task (the documented
    two-level-scan trade, same as pack_sequences)."""
    stats = vals.agg(F.min("v").alias("_lo"), F.max("v").alias("_hi"))
    span = (F.col("_hi") - F.col("_lo")).cast("double")
    b = F.when(span == 0, F.lit(0)).otherwise(F.least(
        F.floor((F.col("v") - F.col("_lo")).cast("double")
                / span * n_buckets),
        F.lit(n_buckets - 1))).cast("long")
    binned = vals.join(F.broadcast(stats)).select("k", "v", b.alias("_b"))
    w_pref = (Window.orderBy("_b")
              .rowsBetween(Window.unboundedPreceding, -1))
    pref = (binned.groupBy("_b").agg(F.count("*").alias("_bn"))
            .select("_b", F.coalesce(F.sum("_bn").over(w_pref),
                                     F.lit(0)).alias("_off")))
    w_loc = Window.partitionBy("_b").orderBy("v", "k")
    return (binned.join(F.broadcast(pref), "_b")
            .select("k", (F.col("_off")
                          + F.row_number().over(w_loc)).alias(out)))


def spearman_rho(df: DataFrame, key_col: str, x_col: str, y_col: str,
                 n_buckets: int = 1024) -> DataFrame:
    """Spearman rank correlation between two scores over the same
    items — the scorer-agreement audit (does the cheap popularity
    prior order candidates like the expensive similarity score?) that
    decides whether a ranking stage can be replaced by a cheaper one
    (reference analogue: none; builder's-brief eval surface beside
    calibration_bins).

    Ranks break ties deterministically by ``key_col`` (documented
    deviation from tie-averaged Spearman — exact when scores are
    distinct; reproducible ALWAYS), so
    rho = 1 - 6*sum(d^2) / (n*(n^2-1)) with d = rank_x - rank_y is a
    pure function of the data. sum(d^2) accumulates in DECIMAL(38,0)
    (exact integers, order-independent — a double sum would not
    associate); safe while n^3 < 10^38, i.e. n < ~4.6e12 rows. The
    emitted sum_d2 is cast to DOUBLE (exact below 2^53 — contract
    scales; the statistic itself is rho).

    Scale shape: two two-level-scan rank passes (see _global_ranks) +
    one join on the item key + one global count/sum fold. No global
    window anywhere. -> ONE row (n, sum_d2, rho); rho = 0.0 when
    n < 2 (undefined), rounded half-even to 6 dp.
    """
    base = df.select(F.col(key_col).alias("k"),
                     F.col(x_col).alias("_x"), F.col(y_col).alias("_y"))
    rx = _global_ranks(base.select("k", F.col("_x").alias("v")),
                       n_buckets, "rx")
    ry = _global_ranks(base.select("k", F.col("_y").alias("v")),
                       n_buckets, "ry")
    d = (rx.join(ry, "k")
         .select(((F.col("rx") - F.col("ry"))
                  .cast("decimal(19,0)")).alias("d")))
    agg = d.agg(F.count("*").alias("n"),
                F.coalesce(F.sum(F.col("d") * F.col("d")),
                           F.lit(0).cast("decimal(38,0)")).alias("_s"))
    n = F.col("n").cast("double")
    rho = F.when(F.col("n") >= 2,
                 F.lit(1.0) - F.lit(6.0) * F.col("_s").cast("double")
                 / (n * (n * n - F.lit(1.0)))).otherwise(F.lit(0.0))
    return agg.select("n", F.col("_s").cast("double").alias("sum_d2"),
                      F.bround(rho, 6).alias("rho"))


def retrieval_eval(ranked: DataFrame, qrels: DataFrame,
                   k: int = 10) -> DataFrame:
    """Per-query ranked-retrieval metrics — MRR, precision/recall@k,
    DCG/nDCG@k (Järvelin & Kekäläinen's graded-gain form,
    (2^g - 1)/log2(pos + 1)) — the eval every retrieval stage
    (bm25_topk, embed_cosine_topk, rag hybrid) reports against a
    judgment set (reference analogue: none; builder's-brief eval
    surface completing the metrics family).

    ``ranked`` = (query_id, doc_id, rk) with rk 1-based; ``qrels`` =
    (query_id, doc_id, grade > 0), assumed unique per (query, doc).
    Queries appear iff they have ranked rows; a duplicated doc_id in
    one ranked list counts each occurrence (garbage-in — run the
    dedup family first). idcg truncates the query's grades to the
    best k.

    Float discipline: both DCG folds run IN RANK/GRADE ORDER over
    sorted bounded in-row arrays (<= k and <= judged-per-query
    entries) — fixed association order, identical doubles in any
    engine/partitioning; outputs round half-even to 6 dp (every value
    is off the representable 6-dp grid: logs and reciprocals, not
    grid arithmetic).

    Scale shape: one (query, doc) equi-join, two query-keyed aggs
    with bounded collected arrays, one broadcast-sized idcg join.
    -> (query_id, n_ret, n_judged, hits, rr, p_at_k, r_at_k, dcg,
    idcg, ndcg).
    """
    r = ranked.filter(F.col("rk") <= int(k)).select(
        "query_id", "doc_id", "rk")
    j = (r.join(qrels.select("query_id", "doc_id", "grade"),
                ["query_id", "doc_id"], "left")
         .select("query_id", "rk",
                 F.coalesce("grade", F.lit(0)).cast("int").alias("g")))
    gain = lambda g: F.pow(F.lit(2.0), g.cast("double")) - F.lit(1.0)
    per = (j.groupBy("query_id")
           .agg(F.sort_array(F.collect_list(
               F.struct("rk", "g"))).alias("_a"),
               F.count("*").alias("n_ret"),
               F.sum((F.col("g") > 0).cast("long")).alias("hits"),
               F.min(F.when(F.col("g") > 0, F.col("rk"))).alias("_fr")))
    dcg = F.aggregate(
        "_a", F.lit(0.0),
        lambda acc, s: acc + gain(s.g) / F.log2(s.rk.cast("double") + 1.0))
    ideal = (qrels.groupBy("query_id")
             .agg(F.slice(F.sort_array(F.collect_list(
                 F.col("grade").cast("int")), asc=False),
                 1, int(k)).alias("_ig"),
                 F.count("*").alias("n_judged")))
    idcg = F.aggregate(
        F.zip_with("_ig",
                   F.sequence(F.lit(1), F.greatest(F.size("_ig"), F.lit(1))),
                   lambda g, p: F.struct(g.alias("g"), p.alias("p"))),
        F.lit(0.0),
        lambda acc, s: acc + gain(s.g) / F.log2(s.p.cast("double") + 1.0))
    out = (per.join(ideal.select("query_id", "_ig", "n_judged"),
                    "query_id", "left")
           .withColumn("n_judged",
                       F.coalesce("n_judged", F.lit(0)).cast("long"))
           .withColumn("_dcg", dcg)
           .withColumn("_idcg", F.when(F.col("_ig").isNotNull(),
                                       idcg).otherwise(F.lit(0.0))))
    rr = F.when(F.col("_fr").isNotNull(),
                F.lit(1.0) / F.col("_fr")).otherwise(F.lit(0.0))
    return out.select(
        "query_id", "n_ret", "n_judged", "hits",
        F.bround(rr, 6).alias("rr"),
        F.bround(F.col("hits") / F.lit(float(k)), 6).alias("p_at_k"),
        F.bround(F.when(F.col("n_judged") > 0,
                        F.col("hits") / F.col("n_judged"))
                 .otherwise(F.lit(0.0)), 6).alias("r_at_k"),
        F.bround("_dcg", 6).alias("dcg"),
        F.bround("_idcg", 6).alias("idcg"),
        F.bround(F.when(F.col("_idcg") > 0,
                        F.col("_dcg") / F.col("_idcg"))
                 .otherwise(F.lit(0.0)), 6).alias("ndcg"))


def gini_concentration(df: DataFrame, key_col: str, val_col: str,
                       n_buckets: int = 1024) -> DataFrame:
    """Gini coefficient of a nonnegative value column — the
    concentration audit for link mass / entity popularity / per-domain
    token share (a dictionary where 1% of entities absorb 95% of the
    link mass needs head-entity salting; the Gini is the one-number
    monitor for that skew). Reference analogue: none; builder's-brief
    eval surface beside calibration_bins.

    Computed from the sorted-values identity
    G = 2 * sum(i * v_i) / (n * sum(v)) - (n + 1) / n with i the
    1-based ascending rank. Ranks come from the spearman two-level
    scan (_global_ranks — NO global window); ties get arbitrary
    distinct ranks, which leaves the sum UNCHANGED (equal values times
    a permutation of the same rank block), so the statistic is exact
    under ties. Values quantize half-even to 6 dp and both sums
    accumulate in DECIMAL (exact, order-independent); the final G is
    two double divisions, rounded half-even to 6 dp.

    -> ONE row (n, total, gini); gini = 0.0 when n < 2 or total = 0.
    """
    vals = df.select(F.col(key_col).alias("k"),
                     F.bround(F.col(val_col).cast("double"), 6)
                     .cast("decimal(18,6)").alias("v"))
    ranked = _global_ranks(
        vals.select("k", F.col("v").cast("double").alias("v")),
        n_buckets, "r")
    j = ranked.join(vals, "k")
    agg = j.agg(
        F.count("*").alias("n"),
        F.coalesce(F.sum("v"), F.lit(0).cast("decimal(18,6)"))
        .cast("decimal(38,6)").alias("_s0"),
        F.coalesce(F.sum(F.col("r").cast("decimal(19,0)") * F.col("v")),
                   F.lit(0).cast("decimal(38,6)"))
        .cast("decimal(38,6)").alias("_s1"))
    n = F.col("n").cast("double")
    g = (F.lit(2.0) * F.col("_s1").cast("double")
         / (n * F.col("_s0").cast("double"))
         - (n + F.lit(1.0)) / n)
    ok = (F.col("n") >= 2) & (F.col("_s0") > 0)
    return agg.select(
        "n", F.col("_s0").cast("double").alias("total"),
        F.bround(F.when(ok, g).otherwise(F.lit(0.0)), 6).alias("gini"))


def pr_curve(scored: DataFrame, score_col: str = "score",
             label_col: str = "label", n_bins: int = 100) -> DataFrame:
    """Binned precision-recall sweep: P/R/F1 at every score-quantile
    threshold — the table a linker reads to SET its auto-accept
    threshold (the north rule's own P/R >= 0.95 criterion is one row
    of this sweep). Reference analogue: none; builder's-brief eval
    surface beside calibration_bins, which audits probability
    CALIBRATION where this sweeps the DECISION threshold.

    Scores bin exactly as calibration_bins (equal-width, top-edge
    clamp); thresholds are the bin lower edges in basis points. The
    cumulative fold runs over AT MOST ``n_bins`` rows — the
    descending-threshold window is bounded by construction, never by
    the data (a per-distinct-score sweep would sort 10^12 scores; the
    binned sweep aggregates them into <= n_bins exact integer cells
    first). Counts stay integers; the three ratios are single
    divisions rounded half-even to 6 dp.

    -> one row per non-empty bin, descending threshold:
    (threshold_bp, n_at_or_above, pos_at_or_above, precision, recall,
    f1); recall denominates over ALL positives, so the last row reads
    recall 1.0.
    """
    b = F.least(F.floor(F.col(score_col) * n_bins),
                F.lit(n_bins - 1)).cast("int")
    per = (scored.select(b.alias("bin"),
                         F.col(label_col).cast("long").alias("_y"))
           .groupBy("bin")
           .agg(F.count("*").alias("_n"), F.sum("_y").alias("_p")))
    w = (Window.orderBy(F.desc("bin"))
         .rowsBetween(Window.unboundedPreceding, 0))
    tot = per.agg(F.coalesce(F.sum("_p"), F.lit(0)).alias("_tp"))
    cum = (per.join(F.broadcast(tot))
           .select("bin", "_tp",
                   F.sum("_n").over(w).alias("n_at_or_above"),
                   F.sum("_p").over(w).alias("pos_at_or_above")))
    prec = F.col("pos_at_or_above") / F.col("n_at_or_above")
    rec = F.when(F.col("_tp") > 0,
                 F.col("pos_at_or_above") / F.col("_tp")).otherwise(0.0)
    f1 = F.when(F.col("pos_at_or_above") > 0,
                2.0 * F.col("pos_at_or_above")
                / (F.col("n_at_or_above") + F.col("_tp"))).otherwise(0.0)
    return (cum.select(
        F.expr(f"bin * 10000L div {int(n_bins)}").alias("threshold_bp"),
        "n_at_or_above", "pos_at_or_above",
        F.bround(prec, 6).alias("precision"),
        F.bround(rec, 6).alias("recall"),
        F.bround(f1, 6).alias("f1"))
        .orderBy(F.desc("threshold_bp")))


def classification_report(pred: DataFrame, truth: DataFrame,
                          keys: list[str],
                          class_col: str = "label") -> DataFrame:
    """Per-class precision/recall/F1 plus a macro-average row — the
    multi-class companion to prf_eval's micro counting (the eval a
    NERtype / column-kind classifier reports per class, because micro
    numbers hide minority-class collapse). Reference analogue: none;
    builder's-brief eval surface.

    Counting: one full-outer join on ``keys``; a matched row with
    equal classes is that class's tp; a mismatch (or half-missing
    row) is an fp of the predicted class and an fn of the true class.
    The per-class rollup is ONE union of two key-free projections
    into a class-keyed count agg. The '__macro__' row averages the
    ROUNDED per-class ratios over the classes present in truth-or-
    pred, summed in DECIMAL (order-independent) — the standard macro
    convention, absent classes contribute their zeros.

    -> (class, tp, fp, fn, precision, recall, f1) + the macro row
    (its tp/fp/fn are the integer totals, its ratios the macro
    averages).
    """
    p = pred.select(*keys, F.col(class_col).alias("_pc"))
    t = truth.select(*keys, F.col(class_col).alias("_tc"))
    j = p.join(t, keys, "full_outer").select("_pc", "_tc")
    hit = F.col("_pc") == F.col("_tc")
    from_pred = j.filter(F.col("_pc").isNotNull()).select(
        F.col("_pc").alias("class"),
        F.coalesce(hit, F.lit(False)).cast("long").alias("_tp"),
        (~F.coalesce(hit, F.lit(False))).cast("long").alias("_fp"),
        F.lit(0).cast("long").alias("_fn"))
    from_truth = (j.filter(F.col("_tc").isNotNull()
                           & ~F.coalesce(hit, F.lit(False)))
                  .select(F.col("_tc").alias("class"),
                          F.lit(0).cast("long").alias("_tp"),
                          F.lit(0).cast("long").alias("_fp"),
                          F.lit(1).cast("long").alias("_fn")))
    per = (from_pred.unionByName(from_truth)
           .groupBy("class")
           .agg(F.sum("_tp").alias("tp"), F.sum("_fp").alias("fp"),
                F.sum("_fn").alias("fn")))
    prec = F.when(F.col("tp") + F.col("fp") > 0,
                  F.col("tp") / (F.col("tp") + F.col("fp"))).otherwise(0.0)
    rec = F.when(F.col("tp") + F.col("fn") > 0,
                 F.col("tp") / (F.col("tp") + F.col("fn"))).otherwise(0.0)
    rows = (per.withColumn("precision", F.bround(prec, 6))
            .withColumn("recall", F.bround(rec, 6)))
    f1 = F.when(F.col("precision") + F.col("recall") > 0,
                2.0 * F.col("precision") * F.col("recall")
                / (F.col("precision") + F.col("recall"))).otherwise(0.0)
    rows = rows.withColumn("f1", F.bround(f1, 6))
    dec = lambda c: F.sum(F.col(c).cast("decimal(18,6)"))
    n = F.count("*")
    macro = rows.agg(
        F.lit("__macro__").alias("class"),
        F.sum("tp").alias("tp"), F.sum("fp").alias("fp"),
        F.sum("fn").alias("fn"),
        # cast the exact DECIMAL sums to double BEFORE the division:
        # decimal/bigint division scale+rounding rules differ between
        # engines, one double division does not
        F.bround(dec("precision").cast("double") / n, 6)
        .alias("precision"),
        F.bround(dec("recall").cast("double") / n, 6).alias("recall"),
        F.bround(dec("f1").cast("double") / n, 6).alias("f1"))
    return rows.unionByName(macro)


def cohen_kappa(a: DataFrame, b: DataFrame, keys: list[str],
                label_col: str = "label") -> DataFrame:
    """Cohen's kappa between two annotators over the same items — the
    agreement audit run before trusting a labeled eval set (raw
    agreement flatters skewed label sets; kappa discounts chance).
    Reference analogue: none; builder's-brief eval surface.

    Exact-integer formulation: with n joint items, ``agree`` equal
    pairs, and per-class marginals na_c / nb_c,
    kappa = (po - pe) / (1 - pe) = (agree*n - sum_c na_c*nb_c)
    / (n^2 - sum_c na_c*nb_c) — every term an exact BIGINT product
    (n^2 < 2^63 while n < ~3e9 items; larger sets widen to DECIMAL),
    ONE double division at the end, rounded half-even to 6 dp.
    Degenerate pe = 1 (both annotators constant and equal) reads
    kappa 0.0 by convention.

    Scale shape: one inner key join, one 1-row count agg, one
    class-keyed marginal agg per side joined on the class (bounded by
    the label vocabulary), all met in 1-row broadcast frames.
    -> ONE row (n, agree, pe_num, kappa).
    """
    pa = a.select(*keys, F.col(label_col).alias("_la"))
    pb = b.select(*keys, F.col(label_col).alias("_lb"))
    j = pa.join(pb, keys)
    base = j.agg(
        F.count("*").alias("n"),
        F.coalesce(F.sum((F.col("_la") == F.col("_lb")).cast("long")),
                   F.lit(0)).alias("agree"))
    ma = j.groupBy(F.col("_la").alias("c")).agg(F.count("*").alias("_na"))
    mb = j.groupBy(F.col("_lb").alias("c")).agg(F.count("*").alias("_nb"))
    pe = (ma.join(mb, "c")
          .agg(F.coalesce(F.sum(F.col("_na") * F.col("_nb")),
                          F.lit(0)).alias("pe_num")))
    row = base.join(F.broadcast(pe))
    num = F.col("agree") * F.col("n") - F.col("pe_num")
    den = F.col("n") * F.col("n") - F.col("pe_num")
    kappa = F.when(den > 0, num / den).otherwise(F.lit(0.0))
    return row.select("n", "agree", "pe_num",
                      F.bround(kappa, 6).alias("kappa"))


def auc_roc(scored: DataFrame, score_col: str = "score",
            label_col: str = "label", n_buckets: int = 1024) -> DataFrame:
    """ROC AUC of a binary scorer — the threshold-free twin of
    pr_curve/calibration_bins, the first number any link-scorer or
    quality-classifier comparison reports (reference analogue: none;
    builder's-brief eval surface).

    Exact tie-corrected Mann-Whitney formulation: ties contribute 1/2,
    so AUC = U / (n_pos * n_neg) with
    2U = sum over DISTINCT scores s of pos_s * (2 * neg_lt(s) + neg_s)
    — every term an exact BIGINT product (safe to ~3e9 rows per class;
    wider sets widen the sums to DECIMAL(38,0), the spearman_rho rule).
    The emitted u2 = 2U is integral by construction and equals the
    rank-sum identity sum_pos(2*midrank) - n_pos*(n_pos+1), which is
    what the contract oracle computes — green proves the pairwise-count
    and rank-sum formulations agree to the last integer. ONE double
    division at the end, half-even 6 dp; degenerate single-class
    inputs read auc 0.0.

    Scale shape: one group-by on the distinct score (ties collapse
    BEFORE any ordering work), then the two-level-scan prefix pattern
    (_global_ranks' shape): bucket the distinct-score frame by value
    range, an exclusive prefix sum over the tiny per-bucket totals
    (<= n_buckets rows, the only serial step), and a WITHIN-bucket
    running sum parallel across buckets — never a global window over
    the distinct scores. -> ONE row (n_pos, n_neg, u2, auc).
    """
    base = scored.select(
        F.col(score_col).cast("double").alias("v"),
        F.col(label_col).cast("long").alias("_y"))
    per = base.groupBy("v").agg(
        F.sum("_y").alias("_p"),
        F.sum(F.lit(1) - F.col("_y")).alias("_n"))
    stats = per.agg(F.min("v").alias("_lo"), F.max("v").alias("_hi"))
    span = (F.col("_hi") - F.col("_lo")).cast("double")
    b = F.when(span == 0, F.lit(0)).otherwise(F.least(
        F.floor((F.col("v") - F.col("_lo")).cast("double")
                / span * n_buckets),
        F.lit(n_buckets - 1))).cast("long")
    binned = per.join(F.broadcast(stats)).select(
        "v", "_p", "_n", b.alias("_b"))
    w_pref = (Window.orderBy("_b")
              .rowsBetween(Window.unboundedPreceding, -1))
    pref = (binned.groupBy("_b").agg(F.sum("_n").alias("_bn"))
            .select("_b", F.coalesce(F.sum("_bn").over(w_pref),
                                     F.lit(0)).alias("_off")))
    w_loc = (Window.partitionBy("_b").orderBy("v")
             .rowsBetween(Window.unboundedPreceding, -1))
    terms = (binned.join(F.broadcast(pref), "_b")
             .select("_p", "_n",
                     (F.col("_off") + F.coalesce(
                         F.sum("_n").over(w_loc), F.lit(0)))
                     .alias("_neg_lt")))
    agg = terms.agg(
        F.coalesce(F.sum("_p"), F.lit(0)).alias("n_pos"),
        F.coalesce(F.sum("_n"), F.lit(0)).alias("n_neg"),
        F.coalesce(F.sum(F.col("_p") * (F.lit(2) * F.col("_neg_lt")
                                        + F.col("_n"))),
                   F.lit(0)).alias("u2"))
    auc = F.when((F.col("n_pos") > 0) & (F.col("n_neg") > 0),
                 F.col("u2") / (F.lit(2.0) * F.col("n_pos")
                                * F.col("n_neg"))).otherwise(F.lit(0.0))
    return agg.select("n_pos", "n_neg", "u2",
                      F.bround(auc, 6).alias("auc"))


def bleu_corpus(pairs: DataFrame, id_col: str = "pair_id",
                cand_col: str = "cand", ref_col: str = "ref",
                max_n: int = 4) -> DataFrame:
    """Corpus-level BLEU-``max_n`` over (candidate, reference) text
    pairs — the MT/generation eval beside rouge_n_scores (Papineni et
    al. 2002, the corpus form: clipped n-gram matches and gram totals
    are summed over the WHOLE corpus before the precision ratios, and
    one brevity penalty applies to the corpus length ratio; no
    per-sentence smoothing). Reference analogue: none; builder's-brief
    eval surface.

    Float discipline (the LM-family parity rule): every count is an
    exact integer; bleu = BP * exp((ln p_1 + ... + ln p_n) / n) is one
    fixed-association-order expression over single-division ratios,
    rounded half-even to 6 dp. Any zero match/total level (or an empty
    candidate corpus) reads bleu 0.0 — the standard unsmoothed
    convention. BP = 1 when cand_len > ref_len else
    exp(1 - ref_len/cand_len).

    Scale shape: grams for ALL n levels are built IN-ROW into one
    flattened "n|gram" array per side (one tokenize, no per-level
    rescan of the raw text), then one explode per side into a
    (pair, gram) count agg and one join on (pair, gram) — hot grams
    stay inside their pair; the per-level rollup is <= max_n rows.
    Gram totals come straight off token counts (greatest(len-n+1, 0))
    in the same single base agg. -> ONE row
    (cand_len, ref_len, total_1.., match_1.., bleu).
    """
    def toks(col: str):
        t = F.trim(F.lower(F.col(col)))
        return (F.when(F.length(t) > 0, F.split(t, r"\s+"))
                .otherwise(F.array().cast("array<string>")))

    base = pairs.select(F.col(id_col).alias("id"),
                        toks(cand_col).alias("_ct"),
                        toks(ref_col).alias("_rt"))

    def grams(tcol):
        # closure factory, NOT a default-arg lambda: F.transform treats
        # a two-parameter lambda as (element, index) and would rebind n
        # to the index column
        def mk(n):
            return lambda i: F.concat_ws(
                "|", F.lit(str(n)), F.concat_ws(" ", F.slice(tcol, i, n)))

        parts = []
        for n in range(1, max_n + 1):
            k = F.size(tcol) - (n - 1)
            parts.append(F.when(k >= 1, F.transform(
                F.sequence(F.lit(1), k), mk(n),
            )).otherwise(F.array().cast("array<string>")))
        return F.flatten(F.array(*parts))

    g = base.select("id", grams(F.col("_ct")).alias("_cg"),
                    grams(F.col("_rt")).alias("_rg"))

    def counts(col: str, out: str):
        return (g.select("id", F.explode(col).alias("g"))
                .groupBy("id", "g").agg(F.count("*").alias(out)))

    per_n = (counts("_cg", "_cc").join(counts("_rg", "_rc"), ["id", "g"])
             .groupBy(F.substring("g", 1, 1).cast("int").alias("n"))
             .agg(F.sum(F.least("_cc", "_rc")).alias("m")))
    mw = per_n.agg(*[
        F.coalesce(F.sum(F.when(F.col("n") == n, F.col("m"))),
                   F.lit(0)).alias(f"match_{n}")
        for n in range(1, max_n + 1)])

    aggs = [F.coalesce(F.sum(F.size("_ct")), F.lit(0)).cast("long")
            .alias("cand_len"),
            F.coalesce(F.sum(F.size("_rt")), F.lit(0)).cast("long")
            .alias("ref_len")]
    for n in range(1, max_n + 1):
        aggs.append(
            F.coalesce(F.sum(F.greatest(F.size("_ct") - (n - 1),
                                        F.lit(0))), F.lit(0))
            .cast("long").alias(f"total_{n}"))
    row = base.agg(*aggs).join(F.broadcast(mw))

    ok = F.col("cand_len") > 0
    logsum = None
    for n in range(1, max_n + 1):
        ok = ok & (F.col(f"total_{n}") > 0) & (F.col(f"match_{n}") > 0)
        term = F.log(F.col(f"match_{n}") / F.col(f"total_{n}"))
        logsum = term if logsum is None else logsum + term
    bp = F.when(F.col("cand_len") > F.col("ref_len"), F.lit(1.0)).otherwise(
        F.exp(F.lit(1.0) - F.col("ref_len") / F.col("cand_len")))
    bleu = F.when(ok, bp * F.exp(logsum / max_n)).otherwise(F.lit(0.0))
    cols = (["cand_len", "ref_len"]
            + [f"total_{n}" for n in range(1, max_n + 1)]
            + [f"match_{n}" for n in range(1, max_n + 1)])
    return row.select(*cols, F.bround(bleu, 6).alias("bleu"))


def fleiss_kappa(ratings: DataFrame, item_col: str = "item_id",
                 label_col: str = "label", n_raters: int = 3) -> DataFrame:
    """Fleiss' kappa — chance-corrected agreement among ``n_raters``
    annotators per item, the multi-rater generalization of
    cohen_kappa that any crowd-labeled eval set reports (Fleiss 1971).
    Reference analogue: none; builder's-brief eval surface.

    Standard Fleiss assumes a CONSTANT number of ratings per item:
    items with any other count are dropped first (the emitted n_items
    counts survivors — callers compare it to their item total as the
    completeness check). With N kept items, per-(item, label) counts
    n_ij, S2 = sum n_ij^2, and per-label totals T_j (ST = sum T_j^2):

        P_o = (S2 - N*n) / (N*n*(n-1)),  P_e = ST / (N*n)^2,
        kappa = (P_o - P_e) / (1 - P_e)
              = (B*(S2 - N*n) - A*ST) / (A*(B - ST))

    with A = N*n*(n-1), B = (N*n)^2 — one integer identity, ONE
    double division, half-even 6 dp. Products run in DECIMAL(38,0)
    (exact while B*S2 < 10^38, i.e. N < ~10^9 items at n <= 10; the
    DuckDB oracle twin uses HUGEINT for the same range). Degenerate
    B == ST (every rating the same label) or N == 0 reads 0.0.

    Scale shape: one item-keyed count agg + filter, one semi join
    back, one (item, label) count agg, then 1-row / label-bounded
    rollups met in broadcast crossJoins. No window, no driver
    round-trip. -> ONE row (n_items, n_raters, s2, t2, kappa).
    """
    it = F.col(item_col)
    kept_items = (ratings.groupBy(it.alias("_i"))
                  .agg(F.count("*").alias("_c"))
                  .filter(F.col("_c") == n_raters)
                  .select("_i"))
    kept = ratings.select(it.alias("_i"),
                          F.col(label_col).alias("_l")) \
                  .join(kept_items, "_i", "left_semi")
    nij = kept.groupBy("_i", "_l").agg(F.count("*").alias("_n"))
    s2 = nij.agg(
        F.coalesce(F.sum(F.col("_n") * F.col("_n")), F.lit(0)).alias("s2"),
        F.count_distinct(F.col("_i")).alias("n_items"))
    st = (nij.groupBy("_l").agg(F.sum("_n").alias("_t"))
          .agg(F.coalesce(F.sum(F.col("_t") * F.col("_t")),
                          F.lit(0)).alias("t2")))
    row = s2.join(F.broadcast(st))
    dec = lambda c: c.cast("decimal(38,0)")
    nn = dec(F.col("n_items")) * F.lit(n_raters)
    a = nn * F.lit(n_raters - 1)
    b = nn * nn
    num = b * (dec(F.col("s2")) - nn) - a * dec(F.col("t2"))
    den = a * (b - dec(F.col("t2")))
    kappa = F.when(den != 0,
                   num.cast("double") / den.cast("double")) \
             .otherwise(F.lit(0.0))
    return row.select("n_items", F.lit(n_raters).alias("n_raters"),
                      "s2", "t2", F.bround(kappa, 6).alias("kappa"))


def _edit_distance_pandas():
    """Arrow-batched token edit distance over two array<string> columns
    — the vectorized arm of wer_scores. Inner DP vectorizes the
    substitution/deletion terms with numpy and resolves the sequential
    insert term with the prefix-min identity
    ``row[j] = min(cand[j], row[j-1]+1)  <=>
    row[j]-j = cummin(cand[j]-j, ...)`` — exact int64 throughout,
    bit-equal to the interpreted fold."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    # pandas is imported lazily (round-6 advisory: fold-engine-only
    # consumers must not need it); the PEP-563 string hints below
    # resolve against MODULE globals, so publish it there on first use
    globals()["pd"] = pd

    @pandas_udf("long")
    def _dist(h: pd.Series, r: pd.Series) -> pd.Series:
        out = np.empty(len(h), dtype=np.int64)
        for k in range(len(h)):
            hs = h.iloc[k]
            rs = r.iloc[k]
            n = len(rs)
            if n == 0:
                out[k] = len(hs)
                continue
            rarr = np.asarray(rs, dtype=object)
            row = np.arange(n + 1, dtype=np.int64)
            idx = np.arange(1, n + 1, dtype=np.int64)
            for i, tok in enumerate(hs, 1):
                prev = row
                sub = prev[:-1] + (rarr != tok)
                cand = np.minimum(prev[1:] + 1, sub)
                u = np.minimum.accumulate(
                    np.concatenate(([np.int64(i)], cand - idx)))
                row = np.empty(n + 1, dtype=np.int64)
                row[0] = i
                row[1:] = u[1:] + idx
            out[k] = row[-1]
        return pd.Series(out)

    return _dist


def _lcs_pandas():
    """Arrow-batched LCS length over two array<string> columns — the
    vectorized arm of rouge_l_scores. The max-recurrence's sequential
    term (new[j-1]) resolves with a cummax identity only on non-match
    positions, so the DP stays a per-hyp-token numpy pass: on a match
    new[j] = prev[j-1]+1, else new[j] = max(prev[j], new[j-1]) —
    computed as running maximum of candidates. Exact int64."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    globals()["pd"] = pd  # see _edit_distance_pandas

    @pandas_udf("long")
    def _lcs(c: pd.Series, r: pd.Series) -> pd.Series:
        out = np.empty(len(c), dtype=np.int64)
        for k in range(len(c)):
            cs = c.iloc[k]
            rs = r.iloc[k]
            n = len(rs)
            if n == 0 or len(cs) == 0:
                out[k] = 0
                continue
            rarr = np.asarray(rs, dtype=object)
            prev = np.zeros(n + 1, dtype=np.int64)
            for tok in cs:
                match = prev[:-1] + 1
                nomatch = prev[1:]
                cand = np.where(rarr == tok, match, nomatch)
                # new[j] = max(cand[j], new[j-1]) — LCS rows are
                # non-decreasing, so a running max resolves the
                # sequential dependency exactly
                new = np.empty(n + 1, dtype=np.int64)
                new[0] = 0
                new[1:] = np.maximum.accumulate(cand)
                prev = new
            out[k] = prev[-1]
        return pd.Series(out)

    return _lcs


def wer_scores(pairs: DataFrame, id_col: str = "pair_id",
               hyp_col: str = "hyp", ref_col: str = "ref",
               max_tokens: int = 256, engine: str = "fold") -> DataFrame:
    """Word error rate per (hypothesis, reference) pair — token-level
    Levenshtein distance / reference length, the ASR/transcription
    eval beside rouge/bleu (reference analogue: none; builder's-brief
    eval surface; the token-level twin of functions/strings.py's
    char-level editdistance).

    The DP runs IN-ROW as a nested fold — outer F.aggregate over
    hypothesis tokens carrying (i, previous DP row), inner F.aggregate
    over reference positions building the next row element by element
    (min of delete/insert/substitute) — no UDF, no explode. This is
    the documented interpreted-expression trade (BENCH.md plan lesson
    7): the inner concat rebuilds an array per cell, so cost is
    O(len_h * len_r) interpreted cells per pair. Both sides truncate
    to ``max_tokens`` first (the guard that keeps one pathological
    transcript from owning a task); distances are EXACT for pairs
    within the cap, and the emitted token counts are post-cap.

    Conventions: tokens = whitespace split of the trimmed lowercase
    text (empty text = zero tokens); wer = dist / ref_n half-even 6 dp;
    an empty reference reads 1.0 against a non-empty hypothesis and
    0.0 against an empty one. -> (id, hyp_n, ref_n, dist, wer), dist
    the exact token edit distance — embarrassingly parallel, one
    projection, no shuffle at all.

    ``engine``: ``"fold"`` (default) is the pure-Catalyst in-row DP —
    the oracle-parity arm with zero Python on the executor path;
    ``"pandas"`` swaps ONLY the distance cell for an Arrow-batched
    numpy DP (_edit_distance_pandas) producing bit-identical int64
    distances ~10x faster per pair — the arm to flip on when these
    evals sit on a hot path (A/B'd in BENCH.md round 5).
    """
    if engine not in ("fold", "pandas"):
        raise ValueError(f"engine must be 'fold' or 'pandas', got {engine!r}")
    def toks(col: str):
        t = F.trim(F.lower(F.col(col)))
        arr = (F.when(F.length(t) > 0, F.split(t, r"\s+"))
               .otherwise(F.array().cast("array<string>")))
        return F.slice(arr, 1, max_tokens)

    base = pairs.select(F.col(id_col).alias("id"),
                        toks(hyp_col).alias("_h"), toks(ref_col).alias("_r"))
    hyp, ref = F.col("_h"), F.col("_r")
    rn = F.size(ref)
    init = F.struct(F.lit(0).alias("i"),
                    F.sequence(F.lit(0), rn).alias("row"))

    def outer(acc, h):
        i = acc["i"] + 1
        prev = acc["row"]
        newrow = F.when(rn >= 1, F.aggregate(
            F.sequence(F.lit(1), rn), F.array(i),
            lambda row, j: F.concat(row, F.array(F.least(
                F.element_at(prev, j + 1) + 1,
                F.element_at(row, -1) + 1,
                F.element_at(prev, j)
                + F.when(F.element_at(ref, j) == h,
                         F.lit(0)).otherwise(F.lit(1)),
            ))))).otherwise(F.array(i))
        return F.struct(i.alias("i"), newrow.alias("row"))

    if engine == "pandas":
        dist = _edit_distance_pandas()(hyp, ref)
    else:
        dist = F.aggregate(hyp, init, outer,
                           lambda acc: F.element_at(acc["row"], -1))
    scored = base.select(
        "id", F.size(hyp).cast("long").alias("hyp_n"),
        rn.cast("long").alias("ref_n"), dist.cast("long").alias("dist"))
    wer = F.when(F.col("ref_n") > 0,
                 F.bround(F.col("dist") / F.col("ref_n"), 6)) \
           .otherwise(F.when(F.col("hyp_n") > 0, F.lit(1.0))
                      .otherwise(F.lit(0.0)))
    return scored.select("id", "hyp_n", "ref_n", "dist", wer.alias("wer"))


def isotonic_calibration(scored: DataFrame, score_col: str = "score",
                         label_col: str = "label",
                         n_bins: int = 10) -> DataFrame:
    """Isotonic (PAV) calibration map over binned scores — the FIX to
    what calibration_bins only measures: the monotone step function
    mapping raw confidence to empirical accuracy that a production
    linker applies before thresholding (Zadrozny & Elkan 2002).
    Reference analogue: none; builder's-brief eval surface.

    Exactness: the pool-adjacent-violators solution is computed
    through the minimax identity — fitted rate of bin i is
    max_{j<=i} min_{k>=i} pooled_rate(j..k) — with every pooled rate
    kept as an exact (pos, n) INTEGER rational and every comparison a
    BIGINT cross-multiplication; floats appear only in the final
    per-bin division (half-even 6 dp). Result is the exact PAV fit,
    independent of partitioning and engine.

    Scale shape: one hash aggregation keyed by the bin id (<= n_bins
    cells leave each partition — the calibration_bins shuffle shape),
    then the whole minimax runs IN-ROW over the collected <= n_bins
    cell array (O(n_bins^3) interpreted cells on ONE task — bounded
    by construction, keep n_bins modest) and explodes back to one row
    per non-empty bin. A 10^12-row score log still shuffles only
    O(partitions * n_bins) cells. -> (bin, n, pos, rate_raw,
    rate_iso) with rate_iso non-decreasing in bin.
    """
    b = F.least(F.floor(F.col(score_col) * n_bins),
                F.lit(n_bins - 1)).cast("int")
    cells = (scored.select(b.alias("bin"),
                           F.col(label_col).cast("long").alias("_y"))
             .groupBy("bin")
             .agg(F.count("*").alias("n"), F.sum("_y").alias("pos")))
    packed = cells.agg(F.sort_array(F.collect_list(
        F.struct("bin", "pos", "n"))).alias("_c"))
    c = F.col("_c")
    m = F.size(c)
    # prefix sums over the bounded cell array: P[k] = pos(1..k),
    # N[k] = n(1..k); index 0 = empty prefix
    pre = lambda fld: F.concat(
        F.array(F.lit(0).cast("long")),
        F.transform(F.sequence(F.lit(1), m),
                    lambda k: F.aggregate(
                        F.slice(c, F.lit(1), k), F.lit(0).cast("long"),
                        lambda a, x: a + x[fld])))
    with_pre = packed.select(
        "_c", pre("pos").alias("_P"), pre("n").alias("_N"))
    P, N = F.col("_P"), F.col("_N")
    # rate(j..k) as an exact rational struct(num, den)
    rate = lambda j, k: F.struct(
        (F.element_at(P, k + 1) - F.element_at(P, j)).alias("num"),
        (F.element_at(N, k + 1) - F.element_at(N, j)).alias("den"))
    less = lambda a, x: x["num"] * a["den"] < a["num"] * x["den"]
    greater = lambda a, x: x["num"] * a["den"] > a["num"] * x["den"]

    def iso_at(i):
        # min over k in i..m of rate(j..k), then max over j in 1..i
        inner = lambda j: F.aggregate(
            F.sequence(i, F.size(c)), rate(j, i),
            lambda a, k: F.when(less(a, rate(j, k)), rate(j, k))
                          .otherwise(a))
        return F.aggregate(
            F.sequence(F.lit(1), i), inner(i),
            lambda a, j: F.when(greater(a, inner(j)), inner(j))
                          .otherwise(a))

    rows = F.transform(
        F.sequence(F.lit(1), m),
        lambda i: F.struct(
            F.element_at(c, i)["bin"].alias("bin"),
            F.element_at(c, i)["n"].alias("n"),
            F.element_at(c, i)["pos"].alias("pos"),
            iso_at(i).alias("_iso")))
    out = with_pre.select(F.explode(rows).alias("r")).select(
        F.col("r.bin").alias("bin"), F.col("r.n").alias("n"),
        F.col("r.pos").alias("pos"),
        F.bround(F.col("r.pos") / F.col("r.n"), 6).alias("rate_raw"),
        F.bround(F.col("r._iso.num") / F.col("r._iso.den"), 6)
        .alias("rate_iso"))
    return out


def exact_quantiles(df: DataFrame, val_col: str = "v",
                    qs=(0.25, 0.5, 0.75, 0.9),
                    n_buckets: int = 1024) -> DataFrame:
    """EXACT global quantiles (percentile_disc semantics: the value at
    rank ceil(q*n) of the sorted column) — the audit-grade twin of the
    mergeable histogram sketch (sketch_hist_quantiles): a data card
    quotes "p99 document length" from the sketch, but the sketch's
    error bound itself gets validated against THIS. Reference
    analogue: none; builder's-brief corpus-stats surface.

    Scale shape: the two-level-scan rank pattern (_global_ranks'
    shape, value kept alongside): bucket by value range, exclusive
    prefix sum over the tiny per-bucket counts, within-bucket
    row_number parallel across buckets — never a global sort; the
    target ranks (one per q, from a 1-row count frame — no driver
    round-trip) broadcast-join against the ranked rows, so only
    len(qs) rows survive. Ties: rank order among equal values is
    arbitrary, but the value AT any rank is unique — the output is
    deterministic. rank = max(1, ceil(q*n)) evaluated in doubles
    (both engines share the same IEEE product, pinning the 0.1*n
    = n/10 + ulp edge). -> (q, rk, value), one row per quantile.
    """
    vals = df.select(F.col(val_col).cast("double").alias("v"))
    stats = vals.agg(F.min("v").alias("_lo"), F.max("v").alias("_hi"))
    span = (F.col("_hi") - F.col("_lo")).cast("double")
    b = F.when(span == 0, F.lit(0)).otherwise(F.least(
        F.floor((F.col("v") - F.col("_lo")).cast("double")
                / span * n_buckets),
        F.lit(n_buckets - 1))).cast("long")
    binned = vals.join(F.broadcast(stats)).select("v", b.alias("_b"))
    w_pref = (Window.orderBy("_b")
              .rowsBetween(Window.unboundedPreceding, -1))
    pref = (binned.groupBy("_b").agg(F.count("*").alias("_bn"))
            .select("_b", F.coalesce(F.sum("_bn").over(w_pref),
                                     F.lit(0)).alias("_off")))
    w_loc = Window.partitionBy("_b").orderBy("v")
    ranked = (binned.join(F.broadcast(pref), "_b")
              .select("v", (F.col("_off")
                            + F.row_number().over(w_loc)).alias("rk")))
    targets = (vals.agg(F.count("*").alias("_n"))
               .select(F.explode(F.array(
                   *[F.lit(float(q)) for q in qs])).alias("q"), "_n")
               .select("q", F.greatest(
                   F.lit(1).cast("long"),
                   F.ceil(F.col("q") * F.col("_n")).cast("long"))
                   .alias("rk")))
    return (ranked.join(F.broadcast(targets), "rk")
            .select("q", "rk", F.col("v").alias("value")))


def psi_drift(base: DataFrame, new: DataFrame,
              cat_col: str = "category") -> DataFrame:
    """Population stability index between two snapshots of a
    categorical column — the drift monitor every recurring
    corpus/crawl ingestion runs (did this month's language mix /
    predicate mix / source mix shift against the reference epoch?);
    PSI > 0.2 is the conventional "investigate" line. Reference
    analogue: none; builder's-brief monitoring surface beside
    corpus_report.

    Laplace-smoothed proportions (add-1 over the UNION vocabulary V,
    so categories absent on one side stay finite and the choice is
    deterministic, not an epsilon knob):

        p = (c_base + 1) / (n_base + V),  q = (c_new + 1) / (n_new + V)
        term = (p - q) * ln(p / q)   >= 0, per category

    Float discipline: each term is one fixed-order expression, rounded
    half-even to 6 dp and summed in DECIMAL(28,6) — the macro-average
    rule: the TOTAL is an order-independent exact sum of the rounded
    per-category terms, so partitioning cannot move it. -> one row per
    category (category, c_base, c_new, term) plus a '__total__' row
    whose term IS the PSI.

    Scale shape: one count agg per side (vocabulary-bounded), one
    full-outer join on the category, two 1-row broadcast total/vocab
    frames; the rollup row is a second vocabulary-bounded agg. A
    10^12-row snapshot pair shuffles O(partitions * V) cells.
    """
    cb = (base.select(F.col(cat_col).alias("category"))
          .groupBy("category").agg(F.count("*").alias("c_base")))
    cn = (new.select(F.col(cat_col).alias("category"))
          .groupBy("category").agg(F.count("*").alias("c_new")))
    j = (cb.join(cn, "category", "full_outer")
         .select("category",
                 F.coalesce("c_base", F.lit(0)).alias("c_base"),
                 F.coalesce("c_new", F.lit(0)).alias("c_new")))
    tot = j.agg(F.sum("c_base").alias("_nb"), F.sum("c_new").alias("_nn"),
                F.count("*").alias("_v"))
    w = j.join(F.broadcast(tot))
    p = (F.col("c_base") + 1) / (F.col("_nb") + F.col("_v"))
    q = (F.col("c_new") + 1) / (F.col("_nn") + F.col("_v"))
    term = F.bround((p - q) * F.log(p / q), 6)
    per = w.select("category", "c_base", "c_new", term.alias("term"))
    total = per.agg(
        F.sum("c_base").alias("c_base"), F.sum("c_new").alias("c_new"),
        F.sum(F.col("term").cast("decimal(28,6)")).cast("double")
        .alias("term")).select(F.lit("__total__").alias("category"),
                               "c_base", "c_new", "term")
    return per.unionByName(total)


def exact_quantiles_by(df: DataFrame, key_col: str, val_col: str,
                       qs=(0.5, 0.9, 0.99),
                       n_buckets: int = 64) -> DataFrame:
    """EXACT per-group quantiles (percentile_disc per key: value at
    rank ceil(q*n_k) within each key's sorted values) — the grouped
    twin of exact_quantiles: "p95 document length PER LANGUAGE", "p99
    turn latency PER ROLE". Reference analogue: none; builder's-brief
    corpus-stats surface.

    Scale shape — the two-level scan NESTED under the group key, so
    no key ever needs a single-task global sort of its values: per-key
    min/max (one agg) define per-key value bins; the exclusive prefix
    over (key, bin) counts is a window ORDERED BY BIN WITHIN THE KEY
    (<= n_buckets rows per key — bounded, unlike a per-value window);
    within-(key, bin) row_numbers run parallel across keys AND bins.
    Target ranks come from per-key counts (one agg) exploded per q —
    a key-keyed join, broadcast when the key vocabulary is small.
    A hot key degrades to n_buckets sorted slices, never one task.
    -> (key, q, rk, value).
    """
    vals = df.select(F.col(key_col).alias("key"),
                     F.col(val_col).cast("double").alias("v"))
    stats = vals.groupBy("key").agg(F.min("v").alias("_lo"),
                                    F.max("v").alias("_hi"),
                                    F.count("*").alias("_n"))
    span = (F.col("_hi") - F.col("_lo")).cast("double")
    b = F.when(span == 0, F.lit(0)).otherwise(F.least(
        F.floor((F.col("v") - F.col("_lo")).cast("double")
                / span * n_buckets),
        F.lit(n_buckets - 1))).cast("long")
    binned = (vals.join(stats.select("key", "_lo", "_hi"), "key")
              .select("key", "v", b.alias("_b")))
    w_pref = (Window.partitionBy("key").orderBy("_b")
              .rowsBetween(Window.unboundedPreceding, -1))
    pref = (binned.groupBy("key", "_b").agg(F.count("*").alias("_bn"))
            .select("key", "_b",
                    F.coalesce(F.sum("_bn").over(w_pref),
                               F.lit(0)).alias("_off")))
    w_loc = Window.partitionBy("key", "_b").orderBy("v")
    ranked = (binned.join(pref, ["key", "_b"])
              .select("key", "v", (F.col("_off")
                                   + F.row_number().over(w_loc))
                      .alias("rk")))
    targets = (stats.select(
        "key", "_n",
        F.explode(F.array(*[F.lit(float(q)) for q in qs])).alias("q"))
        .select("key", "q", F.greatest(
            F.lit(1).cast("long"),
            F.ceil(F.col("q") * F.col("_n")).cast("long")).alias("rk")))
    return (ranked.join(targets, ["key", "rk"])
            .select("key", "q", "rk", F.col("v").alias("value")))


# Poisson(1) CDF thresholds scaled to 2^48 (floor(cdf_k * 2^48) for
# k = 0..6; u >= t6 -> weight 7). Shared integer literals with the
# DuckDB oracle so both engines draw identical bootstrap weights.
POISSON1_T48 = (103548857136060, 207097714272121, 258872142840152,
                276130285696162, 280444821410164, 281307728552965,
                281451546410098)


def bootstrap_ci(scored: DataFrame, id_col: str = "item_id",
                 correct_col: str = "correct", n_boot: int = 200,
                 alpha: float = 0.05) -> DataFrame:
    """Poisson-bootstrap confidence interval on an accuracy-style
    metric — the error bar every eval table needs before "model A
    beats model B by 0.4%" means anything. The POISSON bootstrap
    (Chamandy et al. 2012, Google's streaming bootstrap): replica b
    draws each item independently with weight ~ Poisson(1) — at
    corpus scale indistinguishable from the multinomial bootstrap and,
    unlike it, embarrassingly parallel with no coordination. Weights
    are DETERMINISTIC: u = 48-bit md5(item|b) uniform, inverse-CDF
    through the shared integer thresholds POISSON1_T48 (tail clamped
    at 7, P < 1e-5) — identical draws in any engine or partitioning.
    Reference analogue: none; builder's-brief eval surface.

    Per replica: acc_b = sum(w * correct) / sum(w) — exact integer
    sums, ONE division, 6 dp. The interval is the percentile
    bootstrap: acc at ranks ceil(alpha/2 * B) and ceil((1-alpha/2)*B)
    of the B sorted replica accuracies (sorted IN-ROW — B is
    bounded). -> ONE row (n_items, point, n_boot, lo, hi).

    Scale shape: one explode x B (compute, not shuffle: the replica
    group-by map-side-combines each partition to <= B cells before
    the exchange), one B-group agg, one bounded in-row sort. Keep
    n_boot modest (hundreds) — the explode multiplies scan work.
    """
    base = scored.select(F.col(id_col).cast("string").alias("i"),
                         F.col(correct_col).cast("long").alias("y"))
    b = F.explode(F.sequence(F.lit(0), F.lit(int(n_boot) - 1))).alias("b")
    rep = base.select("i", "y", b)
    u = F.conv(F.substring(F.md5(F.concat_ws("|", "i", "b")), 1, 12),
               16, 10).cast("long")
    w = F.lit(7).cast("long")
    for k in range(len(POISSON1_T48) - 1, -1, -1):
        w = F.when(u < F.lit(POISSON1_T48[k]), F.lit(k).cast("long")) \
             .otherwise(w)
    per = (rep.select("b", w.alias("w"), F.col("y"))
           .groupBy("b")
           .agg(F.sum(F.col("w") * F.col("y")).alias("_num"),
                F.sum("w").alias("_den")))
    acc = F.when(F.col("_den") > 0,
                 F.bround(F.col("_num") / F.col("_den"), 6)) \
           .otherwise(F.lit(0.0))
    accs = per.select(acc.alias("a")).agg(
        F.sort_array(F.collect_list("a")).alias("_as"))
    point = base.agg(
        F.count("*").alias("n_items"),
        F.bround(F.coalesce(F.sum("y"), F.lit(0))
                 / F.greatest(F.count("*"), F.lit(1)), 6).alias("point"))
    lo_rk = max(1, math.ceil(alpha / 2 * n_boot))
    hi_rk = max(1, math.ceil((1 - alpha / 2) * n_boot))
    return (point.join(F.broadcast(accs))
            .select("n_items", "point",
                    F.lit(int(n_boot)).alias("n_boot"),
                    F.element_at("_as", lo_rk).alias("lo"),
                    F.element_at("_as", hi_rk).alias("hi")))


def mcnemar_test(pred_a: DataFrame, pred_b: DataFrame, truth: DataFrame,
                 keys: list[str], value_col: str = "label") -> DataFrame:
    """McNemar's paired-model comparison — the right significance
    check when two models are evaluated on the SAME items (a plain
    two-proportion test ignores the pairing and wastes power): only
    the discordant counts matter, b = A right & B wrong, c = A wrong
    & B right. Emits the continuity-corrected statistic
    chi2 = (|b - c| - 1)^2 / (b + c) (one float expression over exact
    integers; ~3.84 is the 5% line at 1 df) — the STATISTIC, not a
    p-value: no incomplete-gamma dependency, engine-portable.
    b + c = 0 (no discordant items) reads 0.0. Reference analogue:
    none; builder's-brief eval surface beside bootstrap_ci.

    Scale shape: two key-joins onto truth (co-partitioned on the same
    key), one 1-row count agg. -> ONE row (n, both_right, both_wrong,
    a_only, b_only, chi2).
    """
    t = truth.select(*keys, F.col(value_col).alias("_t"))
    a = pred_a.select(*keys, F.col(value_col).alias("_a"))
    bdf = pred_b.select(*keys, F.col(value_col).alias("_b"))
    j = t.join(a, keys).join(bdf, keys)
    ra = (F.col("_a") == F.col("_t")).cast("long")
    rb = (F.col("_b") == F.col("_t")).cast("long")
    agg = j.agg(
        F.count("*").alias("n"),
        F.coalesce(F.sum(ra * rb), F.lit(0)).alias("both_right"),
        F.coalesce(F.sum((1 - ra) * (1 - rb)), F.lit(0))
        .alias("both_wrong"),
        F.coalesce(F.sum(ra * (1 - rb)), F.lit(0)).alias("a_only"),
        F.coalesce(F.sum((1 - ra) * rb), F.lit(0)).alias("b_only"))
    bc = F.col("a_only") + F.col("b_only")
    # clamp the continuity correction at 0: b == c must read chi2 = 0,
    # not (-1)^2 / (b + c)
    d = F.greatest(F.abs(F.col("a_only") - F.col("b_only")) - 1,
                   F.lit(0).cast("long"))
    chi2 = F.when(bc > 0, (d * d) / bc).otherwise(F.lit(0.0))
    return agg.select("n", "both_right", "both_wrong", "a_only",
                      "b_only", F.bround(chi2, 6).alias("chi2"))


def js_divergence(base: DataFrame, new: DataFrame,
                  cat_col: str = "category") -> DataFrame:
    """Jensen-Shannon divergence (base-2, so JSD in [0, 1]) between
    two snapshots of a categorical column — the bounded, symmetric
    companion to :func:`psi_drift`: PSI blows up on vanishing
    categories (hence its smoothing knob); JSD is finite by
    construction (0*log 0 = 0 and the mixture m = (p+q)/2 is nonzero
    wherever either side is), so it needs NO smoothing and the two
    monitors cross-check each other. Reference analogue: none;
    builder's-brief monitoring surface beside psi_drift.

        p = c_base / n_base,  q = c_new / n_new,  m = (p + q) / 2
        term = (p/2)*log2(p/m) + (q/2)*log2(q/m)   per category

    Float discipline (the psi_drift rule): each per-category term is
    ONE fixed-order expression rounded half-even to 6 dp, summed in
    DECIMAL(28,6) — the total is an order-independent exact sum of
    the rounded terms, so partitioning cannot move it. -> one row per
    category (category, c_base, c_new, term) plus a '__total__' row
    whose term IS the JSD.

    Scale shape: one count agg per side (vocabulary-bounded), one
    full-outer join on the category, one 1-row broadcast totals
    frame; a 10^12-row snapshot pair shuffles O(partitions * V)
    cells — identical to psi_drift.
    """
    cb = (base.select(F.col(cat_col).alias("category"))
          .groupBy("category").agg(F.count("*").alias("c_base")))
    cn = (new.select(F.col(cat_col).alias("category"))
          .groupBy("category").agg(F.count("*").alias("c_new")))
    j = (cb.join(cn, "category", "full_outer")
         .select("category",
                 F.coalesce("c_base", F.lit(0)).alias("c_base"),
                 F.coalesce("c_new", F.lit(0)).alias("c_new")))
    tot = j.agg(F.sum("c_base").alias("_nb"), F.sum("c_new").alias("_nn"))
    w = j.join(F.broadcast(tot))
    p = F.col("c_base") / F.col("_nb")
    q = F.col("c_new") / F.col("_nn")
    m = (p + q) / 2
    ln2 = F.lit(math.log(2.0))
    half = (F.when(F.col("c_base") > 0, p / 2 * F.log(p / m) / ln2)
            .otherwise(F.lit(0.0))
            + F.when(F.col("c_new") > 0, q / 2 * F.log(q / m) / ln2)
            .otherwise(F.lit(0.0)))
    per = w.select("category", "c_base", "c_new",
                   F.bround(half, 6).alias("term"))
    total = per.agg(
        F.sum("c_base").alias("c_base"), F.sum("c_new").alias("c_new"),
        F.sum(F.col("term").cast("decimal(28,6)")).cast("double")
        .alias("term")).select(F.lit("__total__").alias("category"),
                               "c_base", "c_new", "term")
    return per.unionByName(total)


def chi2_independence(df: DataFrame, a_col: str, b_col: str) -> DataFrame:
    """Pearson chi-square test of independence between two categorical
    columns, plus Cramér's V (the [0, 1] effect size a 10^12-row
    dataset needs — at that n EVERYTHING is "significant", so the
    statistic alone is useless for "does role depend on tool?" /
    "does priority depend on segment?"). STATISTIC only, no p-value —
    the mcnemar_test rule: no incomplete-gamma dependency, engine-
    portable. Reference analogue: none; builder's-brief eval surface.

    Expected cell e = row_total * col_total / n over the FULL r x c
    label cross — absent observed cells still contribute (0-e)^2/e = e,
    so the cross join of the two marginal frames (vocabulary-bounded,
    r*c rows) left-joins the observed counts. Per-cell term
    (o - e)^2 / e is one fixed-order float expression rounded
    half-even to 6 dp and summed in DECIMAL(28,6) (order-independent);
    V = sqrt(chi2 / (n * min(r-1, c-1))), 0.0 when either dimension
    is degenerate (r == 1 or c == 1).

    Scale shape: ONE count agg over the pair (r*c cells survive, with
    map-side combine), marginals re-aggregated FROM the cell frame
    (never a second scan), a broadcast r x c cross — no shuffle
    beyond the first agg. -> ONE row (n, r, c, dof, chi2, cramers_v).
    """
    obs = (df.select(F.col(a_col).alias("a"), F.col(b_col).alias("b"))
           .groupBy("a", "b").agg(F.count("*").alias("o")))
    ra = obs.groupBy("a").agg(F.sum("o").alias("ra"))
    cb = obs.groupBy("b").agg(F.sum("o").alias("cb"))
    tot = obs.agg(F.sum("o").alias("_n"),
                  F.countDistinct("a").alias("_r"),
                  F.countDistinct("b").alias("_c"))
    cells = (ra.crossJoin(cb)
             .join(obs, ["a", "b"], "left")
             .join(F.broadcast(tot)))
    e = (F.col("ra") * F.col("cb") / F.col("_n")).cast("double")
    o = F.coalesce(F.col("o"), F.lit(0)).cast("double")
    term = F.bround((o - e) * (o - e) / e, 6)
    agg = (cells.select(term.alias("t"), "_n", "_r", "_c")
           .groupBy("_n", "_r", "_c")
           .agg(F.sum(F.col("t").cast("decimal(28,6)")).cast("double")
                .alias("chi2")))
    mind = F.least(F.col("_r") - 1, F.col("_c") - 1)
    v = F.when(mind > 0,
               F.sqrt(F.col("chi2") / (F.col("_n").cast("double") * mind))
               ).otherwise(F.lit(0.0))
    return agg.select(
        F.col("_n").alias("n"), F.col("_r").alias("r"),
        F.col("_c").alias("c"),
        ((F.col("_r") - 1) * (F.col("_c") - 1)).alias("dof"),
        "chi2", F.bround(v, 6).alias("cramers_v"))


def ks_two_sample(a: DataFrame, b: DataFrame, val_col: str = "v",
                  n_buckets: int = 1024) -> DataFrame:
    """EXACT two-sample Kolmogorov-Smirnov statistic
    D = max_v |F_a(v) - F_b(v)| — the distribution-shift test for
    CONTINUOUS columns (score drift, length drift) where the
    categorical monitors (psi_drift / js_divergence) would need an
    arbitrary binning. Reference analogue: none; builder's-brief
    monitoring surface.

    Exactness discipline: the supremum over a right-continuous step
    function is achieved AT a sample value, so D is the max over the
    distinct-value grid of |cum_a * n_b - cum_b * n_a| (an exact
    DECIMAL(38,0) integer — no float CDFs compared), divided ONCE at
    the end by n_a * n_b. The achieving value reports with a
    smallest-value tiebreak (max on (diff, -v) struct), so the row is
    a pure function of the two multisets.

    Scale shape: one tagged union + one distinct-value count agg
    (map-side combine), then the two-level scan (see _global_ranks:
    bucket prefix over <= n_buckets rows + within-bucket running sums
    parallel across buckets) for both cumulative counts in ONE pass —
    no global window, no sort of the raw rows. -> ONE row
    (n_a, n_b, d_stat, at_value).
    """
    va = a.select(F.col(val_col).cast("double").alias("v"),
                  F.lit(1).alias("_ca"), F.lit(0).alias("_cb"))
    vb = b.select(F.col(val_col).cast("double").alias("v"),
                  F.lit(0).alias("_ca"), F.lit(1).alias("_cb"))
    cnt = (va.unionByName(vb).groupBy("v")
           .agg(F.sum("_ca").alias("ca"), F.sum("_cb").alias("cb")))
    stats = cnt.agg(F.min("v").alias("_lo"), F.max("v").alias("_hi"),
                    F.sum("ca").alias("_na"), F.sum("cb").alias("_nb"))
    span = (F.col("_hi") - F.col("_lo")).cast("double")
    bkt = F.when(span == 0, F.lit(0)).otherwise(F.least(
        F.floor((F.col("v") - F.col("_lo")) / span * n_buckets),
        F.lit(n_buckets - 1))).cast("long")
    binned = cnt.join(F.broadcast(stats)).select(
        "v", "ca", "cb", "_na", "_nb", bkt.alias("_b"))
    w_pref = (Window.orderBy("_b")
              .rowsBetween(Window.unboundedPreceding, -1))
    pref = (binned.groupBy("_b")
            .agg(F.sum("ca").alias("_ba"), F.sum("cb").alias("_bb"))
            .select("_b",
                    F.coalesce(F.sum("_ba").over(w_pref), F.lit(0))
                    .alias("_offa"),
                    F.coalesce(F.sum("_bb").over(w_pref), F.lit(0))
                    .alias("_offb")))
    w_loc = (Window.partitionBy("_b").orderBy("v")
             .rowsBetween(Window.unboundedPreceding, 0))
    cum = (binned.join(F.broadcast(pref), "_b")
           .select("v", "_na", "_nb",
                   (F.col("_offa") + F.sum("ca").over(w_loc))
                   .cast("decimal(38,0)").alias("_cua"),
                   (F.col("_offb") + F.sum("cb").over(w_loc))
                   .cast("decimal(38,0)").alias("_cub")))
    diff = F.abs(F.col("_cua") * F.col("_nb")
                 - F.col("_cub") * F.col("_na"))
    best = (cum.select("_na", "_nb", diff.alias("_d"), "v")
            .groupBy("_na", "_nb")
            .agg(F.max(F.struct(F.col("_d").alias("d"),
                                (-F.col("v")).alias("nv"))).alias("_m")))
    d_stat = (F.col("_m.d").cast("double")
              / (F.col("_na").cast("double") * F.col("_nb").cast("double")))
    return best.select(F.col("_na").alias("n_a"), F.col("_nb").alias("n_b"),
                       F.bround(d_stat, 6).alias("d_stat"),
                       (-F.col("_m.nv")).alias("at_value"))


def bh_fdr(tests: DataFrame, id_col: str = "test_id",
           p_col: str = "p_value", q: float = 0.05,
           n_buckets: int = 1024) -> DataFrame:
    """Benjamini-Hochberg FDR control over a family of per-test
    p-values — the multiple-comparisons step every fleet-scale eval
    needs once it runs thousands of per-slice significance tests
    (per-language drift, per-predicate McNemar): reject the k*
    smallest p-values where k* = max{ k : p_(k) <= k*q/m }.
    Reference analogue: none; builder's-brief eval surface beside
    mcnemar_test.

    Determinism: ranks come from the two-level scan (_global_ranks)
    ordered by (p, test_id) — ties broken by id, reproducible always.
    The threshold comparison p * m <= rank * q is evaluated in ONE
    fixed-order float expression both engines share; k* is a 1-row
    agg broadcast back, so the reject flag is a pure function of the
    family. -> one row per test (test_id, p_value, rank, reject),
    plus rejecting nothing when no rank clears the bound.

    Scale shape: one two-level-scan rank pass, one 1-row k* agg, one
    broadcast join — no global window over the raw tests.
    """
    base = tests.select(F.col(id_col).alias("k"),
                        F.col(p_col).cast("double").alias("_p"))
    ranked = (_global_ranks(base.select("k", F.col("_p").alias("v")),
                            n_buckets, "rank")
              .join(base, "k"))
    m = ranked.agg(F.count("*").alias("_m"))
    flagged = ranked.join(F.broadcast(m)).withColumn(
        "_ok", F.col("_p") * F.col("_m").cast("double")
        <= F.col("rank").cast("double") * F.lit(q))
    kstar = flagged.agg(F.coalesce(
        F.max(F.when(F.col("_ok"), F.col("rank"))), F.lit(0))
        .alias("_kstar"))
    return (flagged.join(F.broadcast(kstar))
            .select(F.col("k").alias(id_col),
                    F.col("_p").alias(p_col), "rank",
                    (F.col("rank") <= F.col("_kstar")).alias("reject")))


def krippendorff_alpha(ratings: DataFrame, item_col: str = "item_id",
                       rater_col: str = "rater",
                       label_col: str = "label") -> DataFrame:
    """Krippendorff's alpha (nominal) — the agreement coefficient that
    handles MISSING ratings and a VARIABLE number of raters per item,
    which is every real annotation export (fleiss_kappa requires the
    constant-n panel and silently drops everything else; cohen_kappa
    handles exactly two raters). Reference analogue: none;
    builder's-brief eval surface completing the agreement family.

    Nominal-distance identity over per-(item, label) counts n_uc with
    n_u = sum_c n_uc (items with n_u < 2 are unpairable and drop):

        Do ~ sum_u [ (n_u^2 - sum_c n_uc^2) / (n_u - 1) ]
        De ~ sum_c n_c * (n - n_c)          (exact integers)
        alpha = 1 - (n - 1) * Do / De

    Float discipline: the per-unit Do term is the ONLY rational (its
    denominator varies per unit) — rounded half-even to 12 dp and
    summed in DECIMAL(38,12), so the total is order-independent; De
    and n are exact DECIMAL integers; ONE double division at the end,
    rounded to 6 dp. De = 0 (every pairable value identical) pins
    alpha = 1.0 — agreement is perfect by construction.

    Scale shape: one (item, label) count agg, one per-item rollup,
    one label rollup (all map-side combinable), two 1-row broadcast
    frames. A 10^12-value export shuffles O(partitions * labels) +
    O(items) cells. -> ONE row (n_units, n_values, do_sum, de_sum,
    alpha).
    """
    nuc = (ratings.select(F.col(item_col).alias("u"),
                          F.col(label_col).alias("c"))
           .groupBy("u", "c").agg(F.count("*").alias("n_uc")))
    per_u = (nuc.groupBy("u")
             .agg(F.sum("n_uc").alias("n_u"),
                  F.sum(F.col("n_uc") * F.col("n_uc")).alias("_s2"))
             .filter(F.col("n_u") >= 2))
    do_u = ((F.col("n_u") * F.col("n_u") - F.col("_s2")).cast("double")
            / (F.col("n_u") - 1).cast("double"))
    do_tot = per_u.agg(
        F.count("*").alias("n_units"),
        F.coalesce(F.sum("n_u"), F.lit(0)).alias("n_values"),
        F.coalesce(F.sum(F.bround(do_u, 12).cast("decimal(38,12)")),
                   F.lit(0).cast("decimal(38,12)")).alias("_do"))
    nc = (nuc.join(per_u.select("u"), "u")  # pairable units only
          .groupBy("c").agg(F.sum("n_uc").alias("n_c")))
    de_tot = (nc.join(F.broadcast(do_tot.select("n_values")))
              .agg(F.coalesce(
                  F.sum((F.col("n_c") * (F.col("n_values") - F.col("n_c")))
                        .cast("decimal(38,0)")),
                  F.lit(0).cast("decimal(38,0)")).alias("_de")))
    j = do_tot.join(F.broadcast(de_tot))
    alpha = F.when(
        F.col("_de") > 0,
        F.lit(1.0) - (F.col("n_values") - 1).cast("double")
        * F.col("_do").cast("double") / F.col("_de").cast("double")
    ).otherwise(F.lit(1.0))
    return j.select("n_units", "n_values",
                    F.col("_do").cast("double").alias("do_sum"),
                    F.col("_de").cast("double").alias("de_sum"),
                    F.bround(alpha, 6).alias("alpha"))


def kendall_tau_by(df: DataFrame, key_col: str, x_col: str, y_col: str,
                   max_n: int = 1000) -> DataFrame:
    """Per-group Kendall tau-b between two scores — the rank
    correlation that stays meaningful under heavy ties (tau-b's tie
    terms are exactly what spearman_rho's deterministic-tiebreak
    deviation gives up), computed per key so a per-language / per
    -slice scorer-agreement audit is one job. Reference analogue:
    none; builder's-brief eval surface beside spearman_rho.

    Exact integers end to end: per group, pairs i < j over the
    (x, y)-sorted value array classify into concordant C, discordant
    D, tie-x-only Tx, tie-y-only Ty (pairs tied on both count in
    neither tie term — the tau-b convention);
    tau = (C - D) / sqrt((C + D + Tx) * (C + D + Ty)), ONE float
    expression at the end (0.0 when either factor is 0). The in-row
    O(n^2) pair fold is the documented wer_scores trade — interpreted
    expression cells, no UDF, no shuffle — so groups are bounded:
    keys with n > max_n or n < 2 are EXCLUDED (emitting nothing) and
    the caller picks a grouping with bounded cardinality, same
    contract as the bounded in-array session ops.

    Scale shape: one collect_list group-by (the only exchange); the
    sort and the pair fold are in-row; groups run embarrassingly
    parallel. -> one row per kept key (key, n, nc, nd, tx, ty, tau).
    """
    base = df.select(F.col(key_col).alias("key"),
                     F.col(x_col).cast("double").alias("x"),
                     F.col(y_col).cast("double").alias("y"))
    g = (base.groupBy("key")
         .agg(F.sort_array(F.collect_list(F.struct("x", "y"))).alias("a"))
         .filter((F.size("a") >= 2) & (F.size("a") <= max_n)))
    n = F.size("a")
    # acc = (nc, nd, tx, ty) folded over all i < j pairs
    pair = F.aggregate(
        F.sequence(F.lit(0), n - 2),
        F.struct(F.lit(0).cast("long").alias("nc"),
                 F.lit(0).cast("long").alias("nd"),
                 F.lit(0).cast("long").alias("tx"),
                 F.lit(0).cast("long").alias("ty")),
        lambda acc, i: F.aggregate(
            F.sequence(i + 1, n - 1),
            acc,
            lambda a2, j: F.struct(
                (a2.nc + ((F.element_at(F.col("a"), i + 1).x
                           - F.element_at(F.col("a"), j + 1).x)
                          * (F.element_at(F.col("a"), i + 1).y
                             - F.element_at(F.col("a"), j + 1).y)
                          > 0).cast("long")).alias("nc"),
                (a2.nd + ((F.element_at(F.col("a"), i + 1).x
                           - F.element_at(F.col("a"), j + 1).x)
                          * (F.element_at(F.col("a"), i + 1).y
                             - F.element_at(F.col("a"), j + 1).y)
                          < 0).cast("long")).alias("nd"),
                (a2.tx + ((F.element_at(F.col("a"), i + 1).x
                           == F.element_at(F.col("a"), j + 1).x)
                          & (F.element_at(F.col("a"), i + 1).y
                             != F.element_at(F.col("a"), j + 1).y))
                 .cast("long")).alias("tx"),
                (a2.ty + ((F.element_at(F.col("a"), i + 1).y
                           == F.element_at(F.col("a"), j + 1).y)
                          & (F.element_at(F.col("a"), i + 1).x
                             != F.element_at(F.col("a"), j + 1).x))
                 .cast("long")).alias("ty"))))
    out = g.select("key", n.alias("n"), pair.alias("_p"))
    den = ((F.col("_p.nc") + F.col("_p.nd") + F.col("_p.tx"))
           * (F.col("_p.nc") + F.col("_p.nd") + F.col("_p.ty")))
    tau = F.when(den > 0,
                 (F.col("_p.nc") - F.col("_p.nd")).cast("double")
                 / F.sqrt(den.cast("double"))).otherwise(F.lit(0.0))
    return out.select("key", "n", F.col("_p.nc").alias("nc"),
                      F.col("_p.nd").alias("nd"),
                      F.col("_p.tx").alias("tx"),
                      F.col("_p.ty").alias("ty"),
                      F.bround(tau, 6).alias("tau"))


def rouge_l_scores(pairs: DataFrame, id_col: str = "pair_id",
                   cand_col: str = "cand", ref_col: str = "ref",
                   max_tokens: int = 128, engine: str = "fold") -> DataFrame:
    """ROUGE-L per (candidate, reference) pair — the longest-common-
    SUBSEQUENCE recall/precision that rewards in-order coverage
    without rouge_n's contiguity requirement (the summarization eval
    where "same facts, different phrasing" should still score).
    Reference analogue: none; builder's-brief eval surface completing
    the rouge family (rouge_n_scores handles the n-gram variants).

    The LCS DP runs IN-ROW as the wer_scores nested fold (outer
    F.aggregate over candidate tokens carrying the previous DP row,
    inner fold building the next row element by element:
    new[j] = prev[j-1]+1 on a match else max(prev[j], new[j-1])) — no
    UDF, no shuffle, the documented interpreted-cell O(C*R) trade,
    bounded by ``max_tokens`` per side. Tokenization is the shared
    eval convention (whitespace split of trimmed lowercase).

    With beta = 1, ROUGE-L F simplifies EXACTLY to
    2*lcs / (cand_n + ref_n) — like rouge_n's clipped-overlap F1,
    every emitted ratio is ONE division of two exact integers,
    rounded half-even to 6 dp; empty sides score 0. -> one row per
    pair (id, cand_n, ref_n, lcs, p, r, f1) — embarrassingly
    parallel, one projection, no shuffle at all.

    ``engine``: ``"fold"`` (default, oracle-parity pure-Catalyst DP) or
    ``"pandas"`` (Arrow-batched numpy LCS, bit-identical int64 —
    _lcs_pandas; the hot-path arm, A/B'd in BENCH.md round 5).
    """
    if engine not in ("fold", "pandas"):
        raise ValueError(f"engine must be 'fold' or 'pandas', got {engine!r}")
    def toks(col: str):
        t = F.trim(F.lower(F.col(col)))
        arr = (F.when(F.length(t) > 0, F.split(t, r"\s+"))
               .otherwise(F.array().cast("array<string>")))
        return F.slice(arr, 1, max_tokens)

    base = pairs.select(F.col(id_col).alias("id"),
                        toks(cand_col).alias("_c"), toks(ref_col).alias("_r"))
    cand, ref = F.col("_c"), F.col("_r")
    rn = F.size(ref)
    init = F.array_repeat(F.lit(0), rn + 1)

    def outer(prev, h):
        return F.when(rn >= 1, F.aggregate(
            F.sequence(F.lit(1), rn), F.array(F.lit(0)),
            lambda row, j: F.concat(row, F.array(
                F.when(F.element_at(ref, j) == h,
                       F.element_at(prev, j) + 1)
                .otherwise(F.greatest(F.element_at(prev, j + 1),
                                      F.element_at(row, -1)))))
        )).otherwise(init)

    if engine == "pandas":
        lcs = _lcs_pandas()(cand, ref)
    else:
        lcs = F.aggregate(cand, init, outer,
                          lambda row: F.element_at(row, -1))
    scored = base.select(
        "id", F.size(cand).cast("long").alias("cand_n"),
        rn.cast("long").alias("ref_n"), lcs.cast("long").alias("lcs"))
    return scored.select(
        "id", "cand_n", "ref_n", "lcs",
        F.bround(F.col("lcs") / F.greatest("cand_n", F.lit(1)), 6)
        .alias("p"),
        F.bround(F.col("lcs") / F.greatest("ref_n", F.lit(1)), 6)
        .alias("r"),
        F.bround(2 * F.col("lcs")
                 / F.greatest(F.col("cand_n") + F.col("ref_n"), F.lit(1)),
                 6).alias("f1"))


def mcc_multiclass(pred: DataFrame, truth: DataFrame, keys: list[str],
                   value_col: str = "label") -> DataFrame:
    """Multiclass Matthews correlation (Gorodkin's R_K) — the single
    [-1, 1] quality number that stays honest under class imbalance
    (accuracy and macro-F1 both saturate when one class dominates,
    the norm in entity-linking type distributions). Reference
    analogue: none; builder's-brief eval surface beside
    classification_report / cohen_kappa.

    Identity over the confusion counts (c = correct, s = scored,
    p_k / t_k = predicted / true class totals):

        R_K = (c*s - sum_k p_k*t_k)
              / sqrt((s^2 - sum p_k^2) * (s^2 - sum t_k^2))

    Every sum is an exact DECIMAL(38,0) integer (safe to s ~ 10^9
    within 38 digits of the squared terms); ONE sqrt + ONE division
    at the end, rounded half-even to 6 dp; a degenerate factor
    (constant predictions or constant truth) pins 0.0 — the sklearn
    convention. Scale shape: one key-join, one class-keyed agg of
    BOTH marginals plus the diagonal (single pass, map-side
    combinable), one 1-row fold. -> ONE row (n, correct, mcc).
    """
    t = truth.select(*keys, F.col(value_col).alias("_t"))
    p = pred.select(*keys, F.col(value_col).alias("_p"))
    j = t.join(p, keys)
    # one pass: per true-class and per predicted-class totals unioned
    # under a side tag, plus the diagonal
    per_t = j.groupBy(F.col("_t").alias("k")).agg(
        F.count("*").cast("decimal(38,0)").alias("tk"))
    per_p = j.groupBy(F.col("_p").alias("k")).agg(
        F.count("*").cast("decimal(38,0)").alias("pk"))
    m = (per_t.join(per_p, "k", "full_outer")
         .select(F.coalesce("tk", F.lit(0).cast("decimal(38,0)"))
                 .alias("tk"),
                 F.coalesce("pk", F.lit(0).cast("decimal(38,0)"))
                 .alias("pk"))
         .agg(F.sum(F.col("pk") * F.col("tk")).alias("_pt"),
              F.sum(F.col("pk") * F.col("pk")).alias("_pp"),
              F.sum(F.col("tk") * F.col("tk")).alias("_tt")))
    base = j.agg(F.count("*").cast("decimal(38,0)").alias("n"),
                 F.sum((F.col("_t") == F.col("_p")).cast("long"))
                 .cast("decimal(38,0)").alias("correct"))
    w = base.join(F.broadcast(m))
    s, c = F.col("n"), F.col("correct")
    num = (c * s - F.col("_pt")).cast("double")
    f1 = (s * s - F.col("_pp")).cast("double")
    f2 = (s * s - F.col("_tt")).cast("double")
    mcc = F.when((f1 > 0) & (f2 > 0),
                 F.bround(num / F.sqrt(f1 * f2), 6)).otherwise(F.lit(0.0))
    return w.select(F.col("n").cast("long").alias("n"),
                    F.col("correct").cast("long").alias("correct"),
                    mcc.alias("mcc"))


def wasserstein_1d(a: DataFrame, b: DataFrame, val_col: str = "v",
                   n_buckets: int = 1024) -> DataFrame:
    """EXACT 1-D Wasserstein-1 (earth mover's) distance between two
    samples — the INTEGRAL of |F_a - F_b| over the value line, the
    magnitude-aware companion of :func:`ks_two_sample`'s supremum (KS
    answers "is there a shift?", W1 answers "how much mass moved how
    far?" in the column's own units — the score/length drift number a
    retraining decision wants). Reference analogue: none;
    builder's-brief monitoring surface.

    On the distinct-value grid v_1 < ... < v_k the step CDFs are
    constant between grid points, so
        W1 = sum_i |F_a(v_i) - F_b(v_i)| * (v_{i+1} - v_i)
    exactly. Float discipline: the CDF gap is the exact DECIMAL
    cross-product |cum_a*n_b - cum_b*n_a| divided once by n_a*n_b
    (both doubles exact below 2^53), the per-interval term is ONE
    fixed-order float expression rounded half-even to 9 dp, and terms
    sum in DECIMAL(38,9) — order-independent under any partitioning.

    Scale shape: the ks_two_sample machinery (tagged union, one
    distinct-value count agg, two-level-scan cumulatives) plus the
    NEXT-grid-point lookup: a within-bucket lead window patched at
    bucket boundaries by a <= n_buckets-row broadcast of per-bucket
    first values — still no global window. -> ONE row
    (n_a, n_b, w1).
    """
    va = a.select(F.col(val_col).cast("double").alias("v"),
                  F.lit(1).alias("_ca"), F.lit(0).alias("_cb"))
    vb = b.select(F.col(val_col).cast("double").alias("v"),
                  F.lit(0).alias("_ca"), F.lit(1).alias("_cb"))
    cnt = (va.unionByName(vb).groupBy("v")
           .agg(F.sum("_ca").alias("ca"), F.sum("_cb").alias("cb")))
    stats = cnt.agg(F.min("v").alias("_lo"), F.max("v").alias("_hi"),
                    F.sum("ca").alias("_na"), F.sum("cb").alias("_nb"))
    span = (F.col("_hi") - F.col("_lo")).cast("double")
    bkt = F.when(span == 0, F.lit(0)).otherwise(F.least(
        F.floor((F.col("v") - F.col("_lo")) / span * n_buckets),
        F.lit(n_buckets - 1))).cast("long")
    binned = cnt.join(F.broadcast(stats)).select(
        "v", "ca", "cb", "_na", "_nb", bkt.alias("_b"))
    w_pref = (Window.orderBy("_b")
              .rowsBetween(Window.unboundedPreceding, -1))
    pref = (binned.groupBy("_b")
            .agg(F.sum("ca").alias("_ba"), F.sum("cb").alias("_bb"),
                 F.min("v").alias("_bfirst"))
            .select("_b", "_bfirst",
                    F.coalesce(F.sum("_ba").over(w_pref), F.lit(0))
                    .alias("_offa"),
                    F.coalesce(F.sum("_bb").over(w_pref), F.lit(0))
                    .alias("_offb")))
    # first grid value of the NEXT non-empty bucket, keyed by this _b
    nxt_first = pref.select(
        "_b", F.lead("_bfirst").over(Window.orderBy("_b"))
        .alias("_next_first"))
    w_loc = (Window.partitionBy("_b").orderBy("v")
             .rowsBetween(Window.unboundedPreceding, 0))
    w_lead = Window.partitionBy("_b").orderBy("v")
    cum = (binned.join(F.broadcast(
        pref.select("_b", "_offa", "_offb")), "_b")
        .join(F.broadcast(nxt_first), "_b")
        .select("_b", "v", "_na", "_nb", "_next_first",
                (F.col("_offa") + F.sum("ca").over(w_loc))
                .cast("decimal(38,0)").alias("_cua"),
                (F.col("_offb") + F.sum("cb").over(w_loc))
                .cast("decimal(38,0)").alias("_cub"),
                F.lead("v").over(w_lead).alias("_lead_v")))
    nxt_v = F.coalesce(F.col("_lead_v"), F.col("_next_first"))
    gap = (F.abs(F.col("_cua") * F.col("_nb")
                 - F.col("_cub") * F.col("_na")).cast("double")
           / (F.col("_na").cast("double") * F.col("_nb").cast("double")))
    term = F.when(nxt_v.isNotNull(),
                  F.bround(gap * (nxt_v - F.col("v")), 9)
                  ).otherwise(F.lit(0.0))
    return (cum.groupBy("_na", "_nb")
            .agg(F.sum(term.cast("decimal(38,9)")).alias("_w"))
            .select(F.col("_na").alias("n_a"), F.col("_nb").alias("n_b"),
                    F.col("_w").cast("double").alias("w1")))


def bio_span_f1(pred: DataFrame, gold: DataFrame, keys: list[str],
                pos_col: str = "pos", tag_col: str = "tag") -> DataFrame:
    """Span-level P/R/F1 over BIO tag sequences — the conlleval
    convention: a prediction scores ONLY if its whole span matches a
    gold span exactly (token-level tag accuracy flatters boundary
    errors; span F1 is what NER papers report). Consumes the
    bio_export shape (one row per token, dense 1-based ``pos`` within
    each key group), closing the detection loop: dictionary mentions
    -> BIO export -> learned model -> THIS eval. Reference analogue:
    none; builder's-brief eval surface beside prf_eval.

    Span segmentation (conlleval rules, typeless tags): a span starts
    at 'B', or at an 'I' whose predecessor is absent or 'O' (the
    orphan-I convention); it extends through consecutive 'I' tokens;
    'O' and 'B' both close the open span. Extraction is an in-row
    fold over the (pos, tag)-sorted token array — no window over raw
    tokens, groups bounded by the sequence length like the other
    in-array transcript ops.

    Micro-aggregated: tp = exact (keys, start, end) matches via one
    co-partitioned join; P = tp/pred_n, R = tp/gold_n, F1 =
    2*tp/(pred_n + gold_n) — each ONE division of exact integers,
    half-even 6 dp, empty denominators read 0. -> ONE row
    (pred_spans, gold_spans, tp, p, r, f1).
    """
    def spans(df, side):
        g = (df.select(*keys, F.col(pos_col).alias("_pos"),
                       F.col(tag_col).alias("_tag"))
             .groupBy(*keys)
             .agg(F.sort_array(F.collect_list(
                 F.struct(F.col("_pos").alias("p"),
                          F.col("_tag").alias("t")))).alias("a")))
        n = F.size("a")
        init = F.struct(
            F.array().cast("array<struct<s:long,e:long>>").alias("sp"),
            F.lit(0).cast("long").alias("cs"),
            F.lit(0).cast("long").alias("ce"))

        def step(acc, i):
            tok = F.element_at(F.col("a"), i)
            prev_t = F.when(i > 1, F.element_at(F.col("a"), i - 1).t) \
                      .otherwise(F.lit("O"))
            closed = F.when(
                acc.cs > 0,
                F.concat(acc.sp, F.array(F.struct(
                    acc.cs.alias("s"), acc.ce.alias("e"))))
            ).otherwise(acc.sp)
            is_start = (tok.t == "B") | ((tok.t == "I") & (prev_t == "O"))
            return (F.when(is_start,
                           F.struct(closed.alias("sp"),
                                    tok.p.cast("long").alias("cs"),
                                    tok.p.cast("long").alias("ce")))
                    .when(tok.t == "I",
                          F.struct(acc.sp.alias("sp"), acc.cs.alias("cs"),
                                   tok.p.cast("long").alias("ce")))
                    .otherwise(F.struct(closed.alias("sp"),
                                        F.lit(0).cast("long").alias("cs"),
                                        F.lit(0).cast("long").alias("ce"))))

        done = F.aggregate(
            F.sequence(F.lit(1), n), init, step,
            lambda acc: F.when(acc.cs > 0, F.concat(acc.sp, F.array(
                F.struct(acc.cs.alias("s"), acc.ce.alias("e"))))
            ).otherwise(acc.sp))
        return (g.select(*keys, F.explode(done).alias("_sp"))
                .select(*keys, F.col("_sp.s").alias("s"),
                        F.col("_sp.e").alias("e"))
                .withColumn("_side", F.lit(side)))

    ps, gs = spans(pred, "p"), spans(gold, "g")
    tp_df = (ps.drop("_side").join(gs.drop("_side"), [*keys, "s", "e"])
             .agg(F.count("*").alias("tp")))
    cnts = (ps.unionByName(gs)
            .groupBy()
            .agg(F.coalesce(F.sum((F.col("_side") == "p").cast("long")),
                            F.lit(0)).alias("pred_spans"),
                 F.coalesce(F.sum((F.col("_side") == "g").cast("long")),
                            F.lit(0)).alias("gold_spans")))
    out = cnts.join(F.broadcast(tp_df))
    p = F.when(F.col("pred_spans") > 0,
               F.bround(F.col("tp") / F.col("pred_spans"), 6)) \
         .otherwise(F.lit(0.0))
    r = F.when(F.col("gold_spans") > 0,
               F.bround(F.col("tp") / F.col("gold_spans"), 6)) \
         .otherwise(F.lit(0.0))
    f1 = F.when(F.col("pred_spans") + F.col("gold_spans") > 0,
                F.bround(2 * F.col("tp")
                         / (F.col("pred_spans") + F.col("gold_spans")),
                         6)).otherwise(F.lit(0.0))
    return out.select("pred_spans", "gold_spans", "tp",
                      p.alias("p"), r.alias("r"), f1.alias("f1"))
