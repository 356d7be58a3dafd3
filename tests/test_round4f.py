"""Round-4 statistical-closers sweep: hand-computed and degenerate
cases for JS divergence, chi-square/Cramér's V, exact two-sample KS,
and Benjamini-Hochberg FDR (contract-query twins live in
lamapi_spark/queries_stats.py with DuckDB oracles)."""

from __future__ import annotations

import math

from lamapi_spark.ops.metrics import (
    bh_fdr, chi2_independence, js_divergence, ks_two_sample,
)


def _cats(spark, counts):
    rows = [(c,) for c, n in counts.items() for _ in range(n)]
    return spark.createDataFrame(rows, "category string")


# ------------------------------------------------- JS divergence


def test_jsd_identical_is_zero(spark):
    d = _cats(spark, {"a": 10, "b": 30})
    out = {r.category: r.term
           for r in js_divergence(d, d).collect()}
    assert out["__total__"] == 0.0
    assert out["a"] == 0.0 and out["b"] == 0.0


def test_jsd_disjoint_is_one(spark):
    a = _cats(spark, {"x": 7})
    b = _cats(spark, {"y": 13})
    out = {r.category: r.term for r in js_divergence(a, b).collect()}
    # p log2(p/(p/2)) /2 = 1/2 per side: total JSD = 1 (the base-2 bound)
    assert out["__total__"] == 1.0


def test_jsd_hand_case(spark):
    # p = (3/4, 1/4), q = (1/4, 3/4); m = (1/2, 1/2)
    # term_a = 3/8 log2(3/2) + 1/8 log2(1/2); symmetric for b
    a = _cats(spark, {"a": 3, "b": 1})
    b = _cats(spark, {"a": 1, "b": 3})
    out = {r.category: r.term for r in js_divergence(a, b).collect()}
    expect = round(3 / 8 * math.log2(1.5) + 1 / 8 * math.log2(0.5), 6)
    assert out["a"] == expect and out["b"] == expect
    assert abs(out["__total__"] - 2 * expect) < 1e-9


# ------------------------------------------------- chi-square / Cramér's V


def _pairs(spark, rows):
    return spark.createDataFrame(rows, "a string, b string")


def test_chi2_independent_is_zero(spark):
    rows = [(a, b) for a in ("x", "y") for b in ("u", "v")
            for _ in range(5)]
    r = chi2_independence(_pairs(spark, rows), "a", "b").head()
    assert r.chi2 == 0.0 and r.cramers_v == 0.0
    assert r.n == 20 and r.dof == 1


def test_chi2_perfect_association(spark):
    rows = [("x", "u")] * 8 + [("y", "v")] * 8
    r = chi2_independence(_pairs(spark, rows), "a", "b").head()
    # 2x2 perfect association: chi2 = n, V = 1
    assert r.chi2 == 16.0 and r.cramers_v == 1.0


def test_chi2_hand_2x2(spark):
    # counts: (x,u)=10 (x,v)=20 (y,u)=30 (y,v)=40; classic formula
    rows = ([("x", "u")] * 10 + [("x", "v")] * 20
            + [("y", "u")] * 30 + [("y", "v")] * 40)
    r = chi2_independence(_pairs(spark, rows), "a", "b").head()
    n = 100
    exp = {("x", "u"): 30 * 40 / n, ("x", "v"): 30 * 60 / n,
           ("y", "u"): 70 * 40 / n, ("y", "v"): 70 * 60 / n}
    obs = {("x", "u"): 10, ("x", "v"): 20, ("y", "u"): 30, ("y", "v"): 40}
    chi2 = sum(round((obs[k] - e) ** 2 / e, 6) for k, e in exp.items())
    assert abs(r.chi2 - chi2) < 1e-9
    assert r.cramers_v == round(math.sqrt(chi2 / n), 6)


def test_chi2_degenerate_single_column(spark):
    rows = [("x", "u")] * 4 + [("y", "u")] * 4
    r = chi2_independence(_pairs(spark, rows), "a", "b").head()
    assert r.c == 1 and r.dof == 0 and r.cramers_v == 0.0


def test_chi2_absent_cell_contributes(spark):
    # (y,v) never observed -> its cell still adds e to chi2
    rows = [("x", "u")] * 2 + [("x", "v")] * 2 + [("y", "u")] * 2
    r = chi2_independence(_pairs(spark, rows), "a", "b").head()
    assert r.chi2 > 0.0


# ------------------------------------------------- exact two-sample KS


def _vals(spark, vs):
    return spark.createDataFrame([(float(v),) for v in vs], "v double")


def test_ks_identical_is_zero(spark):
    a = _vals(spark, [1, 2, 3, 4])
    r = ks_two_sample(a, a).head()
    assert r.d_stat == 0.0 and r.at_value == 1.0


def test_ks_disjoint_is_one(spark):
    r = ks_two_sample(_vals(spark, [1, 2, 3]),
                      _vals(spark, [10, 11])).head()
    assert r.d_stat == 1.0 and r.at_value == 3.0


def test_ks_hand_case(spark):
    # a = {1,2,3,4}, b = {3,4,5,6}: D at v=2 -> |2/4 - 0/4| = 0.5
    r = ks_two_sample(_vals(spark, [1, 2, 3, 4]),
                      _vals(spark, [3, 4, 5, 6])).head()
    assert r.d_stat == 0.5 and r.at_value == 2.0
    assert r.n_a == 4 and r.n_b == 4


def test_ks_tiebreak_smallest_value(spark):
    # a = {1,2}, b = {3,4}: D = 1 achieved at v=2,3 -> report 2
    r = ks_two_sample(_vals(spark, [1, 2]), _vals(spark, [3, 4])).head()
    assert r.d_stat == 1.0 and r.at_value == 2.0


def test_ks_duplicates_collapse(spark):
    # duplicate values must aggregate, not create extra grid points
    r = ks_two_sample(_vals(spark, [1, 1, 1, 2]),
                      _vals(spark, [1, 2, 2, 2])).head()
    # F_a(1) = 3/4, F_b(1) = 1/4 -> D = 0.5 at v=1
    assert r.d_stat == 0.5 and r.at_value == 1.0


# ------------------------------------------------- BH-FDR


def _tests(spark, ps):
    return spark.createDataFrame(
        [(f"t{i}", float(p)) for i, p in enumerate(ps)],
        "test_id string, p_value double")


def test_bh_classic_hand_case(spark):
    # m=5, q=0.25: sorted p = .01 .02 .03 .2 .9
    # bounds: .05 .10 .15 .20 .25 -> k* = 4 (p_(4)=.2 <= .2)
    out = bh_fdr(_tests(spark, [0.9, 0.02, 0.2, 0.01, 0.03]),
                 q=0.25).collect()
    rej = {r.test_id: r.reject for r in out}
    assert rej == {"t0": False, "t1": True, "t2": True,
                   "t3": True, "t4": True}


def test_bh_no_rejections(spark):
    out = bh_fdr(_tests(spark, [0.5, 0.6, 0.7]), q=0.05).collect()
    assert not any(r.reject for r in out)


def test_bh_all_reject_at_zero(spark):
    out = bh_fdr(_tests(spark, [0.0, 0.0, 0.0]), q=0.05).collect()
    assert all(r.reject for r in out)
    # rank ties broken by test_id: ranks are 1..3, a permutation
    assert sorted(r.rank for r in out) == [1, 2, 3]


def test_bh_step_up_not_step_down(spark):
    # p = .04 .06 with q=.1, m=2: bounds .05 .1 -> p_(2)=.06 <= .1
    # so BOTH reject (step-up rescues the .06 > .05 first bound? no:
    # k* = 2, so ranks 1 and 2 both reject even though p_(2) alone
    # fails nothing; the point: .04 <= .05 AND .06 <= .10)
    out = bh_fdr(_tests(spark, [0.06, 0.04]), q=0.10).collect()
    assert all(r.reject for r in out)


# ------------------------------------------------- Krippendorff's alpha


def _ratings(spark, rows):
    return spark.createDataFrame(
        rows, "item_id string, rater string, label string")


def test_krippendorff_hand_case(spark):
    from lamapi_spark.ops.metrics import krippendorff_alpha
    # u1: both 'a' (agree); u2: 'a' vs 'b' (disagree)
    # Do = 2, De = 3*1 + 1*3 = 6, alpha = 1 - 3*2/6 = 0
    r = krippendorff_alpha(_ratings(spark, [
        ("u1", "r1", "a"), ("u1", "r2", "a"),
        ("u2", "r1", "a"), ("u2", "r2", "b")])).head()
    assert r.n_units == 2 and r.n_values == 4
    assert r.do_sum == 2.0 and r.de_sum == 6.0 and r.alpha == 0.0


def test_krippendorff_perfect_and_degenerate(spark):
    from lamapi_spark.ops.metrics import krippendorff_alpha
    # perfect agreement on two labels -> Do = 0, alpha = 1
    r = krippendorff_alpha(_ratings(spark, [
        ("u1", "r1", "a"), ("u1", "r2", "a"),
        ("u2", "r1", "b"), ("u2", "r2", "b")])).head()
    assert r.alpha == 1.0 and r.do_sum == 0.0
    # ALL values one label -> De = 0 pins alpha = 1
    r2 = krippendorff_alpha(_ratings(spark, [
        ("u1", "r1", "a"), ("u1", "r2", "a")])).head()
    assert r2.de_sum == 0.0 and r2.alpha == 1.0


def test_krippendorff_unpairable_drop(spark):
    from lamapi_spark.ops.metrics import krippendorff_alpha
    # u3 has ONE rating -> excluded from units, values, and n_c
    r = krippendorff_alpha(_ratings(spark, [
        ("u1", "r1", "a"), ("u1", "r2", "a"),
        ("u2", "r1", "a"), ("u2", "r2", "b"),
        ("u3", "r1", "z")])).head()
    assert r.n_units == 2 and r.n_values == 4
    assert r.alpha == 0.0  # identical to the hand case above


def test_krippendorff_variable_raters(spark):
    from lamapi_spark.ops.metrics import krippendorff_alpha
    # u1: 3 raters all 'a' (do_u = 0); u2: 2 raters a/b (do_u = 2)
    # n = 5, n_a = 4, n_b = 1; De = 4*1 + 1*4 = 8
    # alpha = 1 - 4*2/8 = 0
    r = krippendorff_alpha(_ratings(spark, [
        ("u1", "r1", "a"), ("u1", "r2", "a"), ("u1", "r3", "a"),
        ("u2", "r1", "a"), ("u2", "r2", "b")])).head()
    assert r.n_values == 5 and r.do_sum == 2.0 and r.de_sum == 8.0
    assert r.alpha == 0.0


# ------------------------------------------------- grouped Kendall tau-b


def _xy(spark, rows):
    return spark.createDataFrame(rows, "key string, x double, y double")


def test_kendall_perfect_orders(spark):
    from lamapi_spark.ops.metrics import kendall_tau_by
    rows = ([("up", float(i), float(i * 2)) for i in range(5)]
            + [("dn", float(i), float(-i)) for i in range(5)])
    out = {r.key: r for r in kendall_tau_by(
        _xy(spark, rows), "key", "x", "y").collect()}
    assert out["up"].tau == 1.0 and out["up"].nc == 10
    assert out["dn"].tau == -1.0 and out["dn"].nd == 10


def test_kendall_tie_hand_case(spark):
    from lamapi_spark.ops.metrics import kendall_tau_by
    import math
    # x = 1,1,2; y = 1,2,3: C=2, D=0, Tx=1, Ty=0
    # tau = 2 / sqrt(3*2)
    r = kendall_tau_by(_xy(spark, [
        ("g", 1.0, 1.0), ("g", 1.0, 2.0), ("g", 2.0, 3.0)]),
        "key", "x", "y").head()
    assert (r.nc, r.nd, r.tx, r.ty) == (2, 0, 1, 0)
    assert r.tau == round(2 / math.sqrt(6), 6)


def test_kendall_both_tie_counts_neither(spark):
    from lamapi_spark.ops.metrics import kendall_tau_by
    # duplicate (x,y) pair: tied on both -> not in Tx, Ty, C, or D
    r = kendall_tau_by(_xy(spark, [
        ("g", 1.0, 1.0), ("g", 1.0, 1.0), ("g", 2.0, 2.0)]),
        "key", "x", "y").head()
    assert (r.nc, r.nd, r.tx, r.ty) == (2, 0, 0, 0)
    assert r.tau == 1.0


def test_kendall_bounds_exclude(spark):
    from lamapi_spark.ops.metrics import kendall_tau_by
    rows = ([("big", float(i), float(i)) for i in range(6)]
            + [("lone", 1.0, 1.0)]
            + [("ok", 1.0, 1.0), ("ok", 2.0, 2.0)])
    out = kendall_tau_by(_xy(spark, rows), "key", "x", "y",
                         max_n=5).collect()
    assert {r.key for r in out} == {"ok"}


# ------------------------------------------------- ROUGE-L


def _pairs_cr(spark, rows):
    return spark.createDataFrame(rows, "pair_id string, cand string, ref string")


def test_rouge_l_hand_case(spark):
    from lamapi_spark.ops.metrics import rouge_l_scores
    # LCS("a b c d", "a c b d") = 3
    r = rouge_l_scores(_pairs_cr(spark, [("p", "a b c d", "a c b d")])).head()
    assert r.lcs == 3 and r.p == 0.75 and r.r == 0.75 and r.f1 == 0.75


def test_rouge_l_empty_sides(spark):
    from lamapi_spark.ops.metrics import rouge_l_scores
    out = {r.id: r for r in rouge_l_scores(_pairs_cr(spark, [
        ("e1", "", "a b"), ("e2", "a b", ""), ("e3", "", "")])).collect()}
    assert out["e1"].lcs == 0 and out["e1"].f1 == 0.0
    assert out["e2"].lcs == 0 and out["e2"].r == 0.0
    assert out["e3"].lcs == 0 and out["e3"].f1 == 0.0


def test_rouge_l_random_differential(spark):
    import random
    from lamapi_spark.ops.metrics import rouge_l_scores

    def lcs_py(a, b):
        dp = [[0] * (len(b) + 1) for _ in range(len(a) + 1)]
        for i in range(1, len(a) + 1):
            for j in range(1, len(b) + 1):
                dp[i][j] = (dp[i - 1][j - 1] + 1 if a[i - 1] == b[j - 1]
                            else max(dp[i - 1][j], dp[i][j - 1]))
        return dp[len(a)][len(b)]

    random.seed(11)
    rows, want = [], {}
    for i in range(30):
        c = [random.choice("abcd") for _ in range(random.randint(0, 9))]
        r = [random.choice("abcd") for _ in range(random.randint(0, 9))]
        rows.append((f"p{i}", " ".join(c), " ".join(r)))
        want[f"p{i}"] = lcs_py(c, r)
    got = {r.id: r.lcs for r in
           rouge_l_scores(_pairs_cr(spark, rows)).collect()}
    assert got == want


def test_rouge_l_truncation_cap(spark):
    from lamapi_spark.ops.metrics import rouge_l_scores
    # identical 6-token texts under a 4-token cap: lcs = 4, sizes post-cap
    r = rouge_l_scores(_pairs_cr(spark, [("p", "a b c d e f",
                                          "a b c d e f")]),
                       max_tokens=4).head()
    assert r.cand_n == 4 and r.ref_n == 4 and r.lcs == 4 and r.f1 == 1.0


# ------------------------------------------------- multiclass MCC


def _labeled(spark, rows):
    return spark.createDataFrame(rows, "id long, label string")


def test_mcc_perfect_and_inverted(spark):
    from lamapi_spark.ops.metrics import mcc_multiclass
    t = _labeled(spark, [(i, "ab"[i % 2]) for i in range(10)])
    p_inv = _labeled(spark, [(i, "ba"[i % 2]) for i in range(10)])
    assert mcc_multiclass(t, t, ["id"]).head().mcc == 1.0
    assert mcc_multiclass(p_inv, t, ["id"]).head().mcc == -1.0


def test_mcc_binary_matches_phi(spark):
    import math
    from lamapi_spark.ops.metrics import mcc_multiclass
    # confusion: tp=4 fn=1 fp=2 tn=3 -> phi = (4*3-1*2)/sqrt(6*5*5*4)
    rows_t = ([(i, "p") for i in range(5)] + [(i, "n") for i in range(5, 10)])
    rows_p = ([(i, "p") for i in range(4)] + [(4, "n")]
              + [(5, "p"), (6, "p")] + [(i, "n") for i in range(7, 10)])
    r = mcc_multiclass(_labeled(spark, rows_p), _labeled(spark, rows_t),
                       ["id"]).head()
    want = (4 * 3 - 1 * 2) / math.sqrt(6 * 5 * 5 * 4)
    assert r.mcc == round(want, 6) and r.n == 10 and r.correct == 7


def test_mcc_constant_predictor_is_zero(spark):
    from lamapi_spark.ops.metrics import mcc_multiclass
    t = _labeled(spark, [(i, "ab"[i % 2]) for i in range(8)])
    p = _labeled(spark, [(i, "a") for i in range(8)])
    assert mcc_multiclass(p, t, ["id"]).head().mcc == 0.0


# ------------------------------------------------- 1-D Wasserstein


def test_wasserstein_identical_and_shift(spark):
    from lamapi_spark.ops.metrics import wasserstein_1d
    a = _vals(spark, [1, 2, 3, 4])
    assert wasserstein_1d(a, a).head().w1 == 0.0
    # pure +10 shift: W1 == 10 exactly
    b = _vals(spark, [11, 12, 13, 14])
    assert wasserstein_1d(a, b).head().w1 == 10.0


def test_wasserstein_hand_case(spark):
    from lamapi_spark.ops.metrics import wasserstein_1d
    # a = {0, 0}, b = {0, 4}: move half the mass distance 4 -> W1 = 2
    r = wasserstein_1d(_vals(spark, [0, 0]), _vals(spark, [0, 4])).head()
    assert r.w1 == 2.0 and r.n_a == 2 and r.n_b == 2


def test_wasserstein_scipy_style_differential(spark):
    import random
    from lamapi_spark.ops.metrics import wasserstein_1d

    def w1_py(xs, ys):
        # integral of |Fa - Fb| over the sorted union grid, with the
        # op's own per-term 9-dp rounding convention
        grid = sorted(set(xs) | set(ys))
        total = 0.0
        for v, nxt in zip(grid, grid[1:]):
            fa = sum(1 for x in xs if x <= v) / len(xs)
            fb = sum(1 for y in ys if y <= v) / len(ys)
            total += round(abs(sum(1 for x in xs if x <= v) * len(ys)
                               - sum(1 for y in ys if y <= v) * len(xs))
                           / (len(xs) * len(ys)) * (nxt - v), 9)
        return round(total, 9)

    random.seed(3)
    xs = [round(random.uniform(0, 50), 2) for _ in range(40)]
    ys = [round(random.uniform(10, 70), 2) for _ in range(25)]
    got = wasserstein_1d(_vals(spark, xs), _vals(spark, ys),
                         n_buckets=8).head()
    assert round(got.w1, 9) == w1_py(xs, ys)


def test_wasserstein_bucket_boundary_stitch(spark):
    from lamapi_spark.ops.metrics import wasserstein_1d
    # two buckets force the next-value lookup across the boundary
    r = wasserstein_1d(_vals(spark, [0.0, 100.0]),
                       _vals(spark, [0.0, 100.0]), n_buckets=2).head()
    assert r.w1 == 0.0
    r2 = wasserstein_1d(_vals(spark, [0.0, 100.0]),
                        _vals(spark, [100.0]), n_buckets=2).head()
    # Fa(0)=1/2, Fb(0)=0 over interval (0,100): W1 = 50
    assert r2.w1 == 50.0


# ------------------------------------------------- BIO span F1


def _bio(spark, rows):
    return spark.createDataFrame(rows, "seq string, pos long, tag string")


def test_bio_span_f1_exact_match_only(spark):
    from lamapi_spark.ops.metrics import bio_span_f1
    gold = _bio(spark, [("s", 1, "O"), ("s", 2, "B"), ("s", 3, "I"),
                        ("s", 4, "O"), ("s", 5, "B")])
    # boundary error on span 1 (starts one late), span 2 exact
    pred = _bio(spark, [("s", 1, "O"), ("s", 2, "O"), ("s", 3, "B"),
                        ("s", 4, "O"), ("s", 5, "B")])
    r = bio_span_f1(pred, gold, ["seq"]).head()
    assert r.pred_spans == 2 and r.gold_spans == 2 and r.tp == 1
    assert r.p == 0.5 and r.r == 0.5 and r.f1 == 0.5


def test_bio_span_f1_orphan_i_starts_span(spark):
    from lamapi_spark.ops.metrics import bio_span_f1
    # I after O opens a chunk (conlleval); I I merges into one span
    seqs = [("s", 1, "O"), ("s", 2, "I"), ("s", 3, "I"), ("s", 4, "O")]
    r = bio_span_f1(_bio(spark, seqs), _bio(spark, seqs), ["seq"]).head()
    assert r.pred_spans == 1 and r.tp == 1 and r.f1 == 1.0


def test_bio_span_f1_b_closes_previous(spark):
    from lamapi_spark.ops.metrics import bio_span_f1
    # B I B -> two spans (2-3) and (4)
    gold = _bio(spark, [("s", 1, "O"), ("s", 2, "B"), ("s", 3, "I"),
                        ("s", 4, "B")])
    pred = _bio(spark, [("s", 1, "O"), ("s", 2, "B"), ("s", 3, "I"),
                        ("s", 4, "I")])  # merged into one long span
    r = bio_span_f1(pred, gold, ["seq"]).head()
    assert r.gold_spans == 2 and r.pred_spans == 1 and r.tp == 0


def test_bio_span_f1_span_at_sequence_end(spark):
    from lamapi_spark.ops.metrics import bio_span_f1
    gold = _bio(spark, [("s", 1, "B"), ("s", 2, "I")])
    r = bio_span_f1(gold, gold, ["seq"]).head()
    assert r.tp == 1 and r.f1 == 1.0


def test_bio_span_f1_all_o_degenerate(spark):
    from lamapi_spark.ops.metrics import bio_span_f1
    g = _bio(spark, [("s", 1, "O"), ("s", 2, "O")])
    r = bio_span_f1(g, g, ["seq"]).head()
    assert r.pred_spans == 0 and r.f1 == 0.0
