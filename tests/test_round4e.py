"""Round-4 continuation (session E): eval-family closers — ROC AUC,
corpus BLEU, Fleiss' kappa, token-level WER."""

from __future__ import annotations

from pyspark.sql import functions as F


# --------------------------------------------------------- ROC AUC

def test_auc_hand_ties(spark):
    from lamapi_spark.ops.metrics import auc_roc
    # pos scores {3, 2}, neg scores {1, 2}: pairwise wins 3 (3>1, 3>2,
    # 2>1) plus one tie (2 vs 2) at 1/2 -> U = 3.5, AUC = 3.5/4.
    df = spark.createDataFrame(
        [(3.0, 1), (2.0, 1), (1.0, 0), (2.0, 0)], ["score", "label"])
    row = auc_roc(df).collect()[0]
    assert (row.n_pos, row.n_neg, row.u2) == (2, 2, 7)
    assert row.auc == 0.875


def test_auc_perfect_and_inverted(spark):
    from lamapi_spark.ops.metrics import auc_roc
    df = spark.createDataFrame(
        [(float(i), 1 if i >= 5 else 0) for i in range(10)],
        ["score", "label"])
    assert auc_roc(df).collect()[0].auc == 1.0
    inv = df.select((-F.col("score")).alias("score"), "label")
    assert auc_roc(inv).collect()[0].auc == 0.0


def test_auc_single_class_degenerate(spark):
    from lamapi_spark.ops.metrics import auc_roc
    df = spark.createDataFrame([(1.0, 1), (2.0, 1)], ["score", "label"])
    row = auc_roc(df).collect()[0]
    assert (row.n_pos, row.n_neg, row.auc) == (2, 0, 0.0)


def test_auc_matches_brute_force(spark):
    from lamapi_spark.ops.metrics import auc_roc
    rows = [((i * 7) % 13 / 3.0, (i * 5 + 3) % 3 % 2) for i in range(60)]
    df = spark.createDataFrame(rows, ["score", "label"])
    pos = [s for s, y in rows if y == 1]
    neg = [s for s, y in rows if y == 0]
    u2 = sum(2 if p > n else (1 if p == n else 0)
             for p in pos for n in neg)
    got = auc_roc(df, n_buckets=4).collect()[0]
    assert (got.n_pos, got.n_neg, got.u2) == (len(pos), len(neg), u2)
    assert abs(got.auc - u2 / (2.0 * len(pos) * len(neg))) < 1e-9


# --------------------------------------------------------- corpus BLEU

def test_bleu_perfect_prefix_bp(spark):
    from lamapi_spark.ops.metrics import bleu_corpus
    import math
    # cand is a 4-token prefix of the 6-token ref: every level's
    # precision is 1, so BLEU = BP = exp(1 - 6/4).
    df = spark.createDataFrame(
        [("p", "a b c d", "a b c d e f")], ["pair_id", "cand", "ref"])
    row = bleu_corpus(df).collect()[0]
    assert (row.cand_len, row.ref_len) == (4, 6)
    assert (row.total_1, row.total_2, row.total_3, row.total_4) == (4, 3, 2, 1)
    assert (row.match_1, row.match_2, row.match_3, row.match_4) == (4, 3, 2, 1)
    assert abs(row.bleu - math.exp(1 - 6 / 4)) < 5e-7


def test_bleu_clipping_and_zero_level(spark):
    from lamapi_spark.ops.metrics import bleu_corpus
    # "the the the" vs "the cat": unigram overlap clips to ref's single
    # "the"; no bigram matches -> unsmoothed BLEU reads 0.
    df = spark.createDataFrame(
        [("p", "the the the", "the cat")], ["pair_id", "cand", "ref"])
    row = bleu_corpus(df, max_n=2).collect()[0]
    assert (row.match_1, row.match_2) == (1, 0)
    assert row.bleu == 0.0


def test_bleu_corpus_sums_before_ratios(spark):
    from lamapi_spark.ops.metrics import bleu_corpus
    import math
    # two pairs: (perfect 2-token) + (half-matching 2-token). Corpus
    # BLEU-1 = (2 + 1) / (2 + 2) with BP = 1 (cand_len == ref_len ->
    # the else arm exp(0) = 1) — NOT the mean of sentence scores.
    df = spark.createDataFrame(
        [("a", "x y", "x y"), ("b", "x q", "x z")],
        ["pair_id", "cand", "ref"])
    row = bleu_corpus(df, max_n=1).collect()[0]
    assert (row.total_1, row.match_1) == (4, 3)
    assert abs(row.bleu - math.exp(math.log(3 / 4))) < 5e-7


def test_bleu_empty_cand_degenerate(spark):
    from lamapi_spark.ops.metrics import bleu_corpus
    df = spark.createDataFrame([("a", "", "x y")], ["pair_id", "cand", "ref"])
    row = bleu_corpus(df).collect()[0]
    assert (row.cand_len, row.bleu) == (0, 0.0)


# --------------------------------------------------------- Fleiss' kappa

def test_fleiss_hand_case(spark):
    from lamapi_spark.ops.metrics import fleiss_kappa
    # 3 items x 2 raters: AA, BB, AB. P_o = 2/3, P_e = 1/2 ->
    # kappa = 1/3 (S2 = 10, T_A = T_B = 3 -> t2 = 18).
    rows = [(1, "A"), (1, "A"), (2, "B"), (2, "B"), (3, "A"), (3, "B")]
    df = spark.createDataFrame(rows, ["item_id", "label"])
    r = fleiss_kappa(df, n_raters=2).collect()[0]
    assert (r.n_items, r.s2, r.t2) == (3, 10, 18)
    assert r.kappa == 0.333333


def test_fleiss_perfect_and_degenerate(spark):
    from lamapi_spark.ops.metrics import fleiss_kappa
    perfect = spark.createDataFrame(
        [(1, "A"), (1, "A"), (2, "B"), (2, "B")], ["item_id", "label"])
    assert fleiss_kappa(perfect, n_raters=2).collect()[0].kappa == 1.0
    # every rating identical -> P_e = 1 -> 0.0 by convention
    const = spark.createDataFrame(
        [(1, "A"), (1, "A"), (2, "A"), (2, "A")], ["item_id", "label"])
    assert fleiss_kappa(const, n_raters=2).collect()[0].kappa == 0.0


def test_fleiss_drops_wrong_count_items(spark):
    from lamapi_spark.ops.metrics import fleiss_kappa
    # item 9 has three ratings -> dropped by the constant-n filter;
    # survivors reproduce the hand case exactly.
    rows = [(1, "A"), (1, "A"), (2, "B"), (2, "B"), (3, "A"), (3, "B"),
            (9, "A"), (9, "A"), (9, "B")]
    df = spark.createDataFrame(rows, ["item_id", "label"])
    r = fleiss_kappa(df, n_raters=2).collect()[0]
    assert (r.n_items, r.kappa) == (3, 0.333333)


# --------------------------------------------------------- token WER

def _lev(a, b):
    prev = list(range(len(b) + 1))
    for i, x in enumerate(a, 1):
        cur = [i]
        for j, y in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[-1] + 1,
                           prev[j - 1] + (x != y)))
        prev = cur
    return prev[-1]


def test_wer_hand_cases(spark):
    from lamapi_spark.ops.metrics import wer_scores
    df = spark.createDataFrame([
        ("a", "the cat sat", "the cat sat"),
        ("b", "the cat", "the cat sat"),
        ("c", "a cat sat on mat", "the cat sat"),
        ("d", "", "x y"),
        ("e", "x y", ""),
        ("f", "", ""),
    ], ["pair_id", "hyp", "ref"])
    got = {r.id: r for r in wer_scores(df).collect()}
    assert (got["a"].dist, got["a"].wer) == (0, 0.0)
    assert (got["b"].dist, got["b"].wer) == (1, 0.333333)
    assert (got["c"].dist, got["c"].wer) == (3, 1.0)
    assert (got["d"].dist, got["d"].wer) == (2, 1.0)
    assert (got["e"].ref_n, got["e"].wer) == (0, 1.0)
    assert (got["f"].dist, got["f"].wer) == (0, 0.0)


def test_wer_matches_python_dp(spark):
    from lamapi_spark.ops.metrics import wer_scores
    import random
    rng = random.Random(7)
    vocab = ["aa", "bb", "cc", "dd"]
    rows = []
    for i in range(40):
        h = [rng.choice(vocab) for _ in range(rng.randrange(0, 9))]
        r = [rng.choice(vocab) for _ in range(rng.randrange(0, 9))]
        rows.append((str(i), " ".join(h), " ".join(r), _lev(h, r)))
    df = spark.createDataFrame(
        [(a, b, c) for a, b, c, _ in rows], ["pair_id", "hyp", "ref"])
    got = {r.id: r.dist for r in wer_scores(df).collect()}
    for rid, _h, _r, want in rows:
        assert got[rid] == want, rid


def test_wer_max_tokens_cap(spark):
    from lamapi_spark.ops.metrics import wer_scores
    df = spark.createDataFrame(
        [("a", "x " * 50, "x " * 50 + "y z")], ["pair_id", "hyp", "ref"])
    r = wer_scores(df, max_tokens=10).collect()[0]
    # both sides truncate to 10 identical tokens -> exact dist 0
    assert (r.hyp_n, r.ref_n, r.dist, r.wer) == (10, 10, 0, 0.0)


# --------------------------------------------------------- isotonic PAV

def _pav(cells):
    """Reference pool-adjacent-violators over [(pos, n)] -> fitted
    per-cell rates as exact Fractions."""
    from fractions import Fraction
    stack = []
    for pos, n in cells:
        stack.append([pos, n])
        while len(stack) >= 2 and (
                Fraction(stack[-1][0], stack[-1][1])
                < Fraction(stack[-2][0], stack[-2][1])):
            p2, n2 = stack.pop()
            stack[-1][0] += p2
            stack[-1][1] += n2
    res, pool_iter, remaining, cur = [], iter(stack), 0, None
    for _pos, n in cells:
        if remaining == 0:
            cur = next(pool_iter)
            remaining = cur[1]
        res.append(Fraction(cur[0], cur[1]))
        remaining -= n
    return res


def test_isotonic_hand_violation(spark):
    from lamapi_spark.ops.metrics import isotonic_calibration
    rows = [((b + 0.5) / 3.0, 1 if i < pos else 0)
            for b, pos in [(0, 2), (1, 6), (2, 4)] for i in range(10)]
    df = spark.createDataFrame(rows, ["score", "label"])
    got = {r.bin: r.rate_iso
           for r in isotonic_calibration(df, n_bins=3).collect()}
    assert got == {0: 0.2, 1: 0.5, 2: 0.5}


def test_isotonic_monotone_identity(spark):
    from lamapi_spark.ops.metrics import isotonic_calibration
    rows = [((b + 0.5) / 3.0, 1 if i < pos else 0)
            for b, pos in [(0, 1), (1, 5), (2, 9)] for i in range(10)]
    df = spark.createDataFrame(rows, ["score", "label"])
    for r in isotonic_calibration(df, n_bins=3).collect():
        assert r.rate_iso == r.rate_raw


def test_isotonic_matches_reference_pav(spark):
    from lamapi_spark.ops.metrics import isotonic_calibration
    import random
    rng = random.Random(3)
    n_bins = 8
    cells = [(rng.randrange(0, 12), 12) for _ in range(n_bins)]
    rows = []
    for b, (pos, n) in enumerate(cells):
        for i in range(n):
            rows.append(((b + 0.5) / n_bins, 1 if i < pos else 0))
    df = spark.createDataFrame(rows, ["score", "label"])
    want = _pav(cells)
    got = sorted(isotonic_calibration(df, n_bins=n_bins).collect(),
                 key=lambda r: r.bin)
    assert len(got) == n_bins
    prev = -1.0
    for r, w in zip(got, want):
        assert abs(r.rate_iso - float(w)) < 5e-7, (r.bin, r.rate_iso, w)
        assert r.rate_iso >= prev  # monotone by construction
        prev = r.rate_iso


# --------------------------------------------------------- CUSUM

def _cusum_twin(counts, B, k_bp, h_bp):
    """Python recurrence twin over a dense count list."""
    bn = min(B, len(counts))
    bs = sum(counts[:bn])
    d = 10000 * bn
    su = sd = 0
    out = []
    for t, c in enumerate(counts, 1):
        if t > B:
            su = max(0, su + c * d - bs * (10000 + k_bp))
            sd = max(0, sd + bs * (10000 - k_bp) - c * d)
        else:
            su = sd = 0
        out.append((c, su, sd, t > B and su > h_bp * bs,
                    t > B and sd > h_bp * bs))
    return out


def _cusum_df(spark, counts, key="k"):
    import datetime
    rows = []
    for day, n in enumerate(counts):
        for _ in range(n):
            rows.append((key, datetime.datetime(2024, 1, 1, 12)
                         + datetime.timedelta(days=day)))
    return spark.createDataFrame(rows, ["event_type", "ts"])


def test_cusum_hand_shift(spark):
    from lamapi_spark.ops.temporal import cusum_changepoints
    counts = [10, 10, 10, 10, 10, 25, 25, 25, 25, 25]
    df = _cusum_df(spark, counts)
    got = sorted(cusum_changepoints(df, baseline_bins=3, k_bp=5000,
                                    h_bp=20000).collect(),
                 key=lambda r: r.bin)
    want = _cusum_twin(counts, 3, 5000, 20000)
    assert [(r.cnt, r.su, r.sd, r.alarm_up, r.alarm_dn)
            for r in got] == want
    # the sustained shift alarms (day 8 on: su = 900000 > 600000)
    assert [r.alarm_up for r in got] == [False] * 7 + [True] * 3
    assert not any(r.alarm_dn for r in got)


def test_cusum_downward_and_gap_bins(spark):
    from lamapi_spark.ops.temporal import cusum_changepoints
    # rate collapses after the baseline (low-but-nonzero tail: the
    # span is data-driven, so fully-silent TRAILING days have no bins
    # — burst_detection's span rule)
    counts = [12, 12, 12, 12, 2, 2, 2, 2]
    df = _cusum_df(spark, counts)
    got = sorted(cusum_changepoints(df, baseline_bins=4, k_bp=2000,
                                    h_bp=15000).collect(),
                 key=lambda r: r.bin)
    want = _cusum_twin(counts, 4, 2000, 15000)
    assert [(r.cnt, r.su, r.sd, r.alarm_up, r.alarm_dn)
            for r in got] == want
    assert got[-1].alarm_dn


def test_cusum_quiet_baseline_convention(spark):
    from lamapi_spark.ops.temporal import cusum_changepoints
    # all-quiet baseline (bs = 0): first activity alarms up immediately
    counts = [0, 0, 5]
    # need at least one event to define the key/span: put events only
    # on day 2 but stretch the span with a single day-0 event... a
    # zero-count day cannot carry events, so use a 1-event day 0.
    counts = [1, 0, 0, 5]
    df = _cusum_df(spark, counts)
    got = sorted(cusum_changepoints(df, baseline_bins=3, k_bp=5000,
                                    h_bp=30000).collect(),
                 key=lambda r: r.bin)
    want = _cusum_twin(counts, 3, 5000, 30000)
    assert [(r.cnt, r.su, r.sd, r.alarm_up, r.alarm_dn)
            for r in got] == want


def test_cusum_short_span_never_alarms(spark):
    from lamapi_spark.ops.temporal import cusum_changepoints
    df = _cusum_df(spark, [3, 9, 27])
    got = cusum_changepoints(df, baseline_bins=7).collect()
    assert len(got) == 3
    assert all(r.su == 0 and r.sd == 0 and not r.alarm_up
               and not r.alarm_dn for r in got)


# --------------------------------------------------------- G2 collocations

def test_g2_hand_contingency(spark):
    from lamapi_spark.ops.corpus import collocations_g2
    import math
    # corpus of adjacent bigrams: "a b" x3, "a c" x1, "d b" x1,
    # "d d" x1 -> for (a, b): c12=3, c1=4, c2=4, N=6.
    docs = spark.createDataFrame(
        [("a b",), ("a b",), ("a b",), ("a c",), ("d b",), ("d d",)],
        ["text"])
    got = {(r.w1, r.w2): r
           for r in collocations_g2(docs, min_count=1).collect()}
    r = got[("a", "b")]
    assert (r.c12, r.c1, r.c2, r.n) == (3, 4, 4, 6)
    xlx = lambda x: x * math.log(x) if x > 0 else 0.0
    want = 2.0 * (xlx(3) + xlx(1) + xlx(1) + xlx(1)
                  - xlx(4) - xlx(2) - xlx(4) - xlx(2) + xlx(6))
    assert abs(r.g2 - want) < 5e-7


def test_g2_ranks_evidence_mass_over_pmi(spark):
    from lamapi_spark.ops.corpus import collocations_g2
    # "x y" co-occurs 50x out of 100; the hapax pair "p q" co-occurs
    # once out of 100. PMI would tie them (both always-together);
    # G2 must rank the 50x pair far higher.
    rows = [("x y",)] * 50 + [("p q",)] + [("m n",)] * 49
    docs = spark.createDataFrame(rows, ["text"])
    got = {(r.w1, r.w2): r.g2
           for r in collocations_g2(docs, min_count=1).collect()}
    assert got[("x", "y")] > 10 * got[("p", "q")]


def test_g2_min_count_prunes_before_output_not_marginals(spark):
    from lamapi_spark.ops.corpus import collocations_g2
    docs = spark.createDataFrame(
        [("a b",), ("a b",), ("a c",)], ["text"])
    got = collocations_g2(docs, min_count=2).collect()
    assert len(got) == 1
    r = got[0]
    # c1 counts the pruned "a c" bigram too
    assert (r.w1, r.w2, r.c12, r.c1) == ("a", "b", 2, 3)


# --------------------------------------------------------- assortativity

def test_assortativity_star_is_maximally_disassortative(spark):
    from lamapi_spark.ops.graph import degree_assortativity
    # star K_{1,4}: every edge joins the deg-4 hub to a deg-1 leaf ->
    # r = -1 exactly.
    edges = spark.createDataFrame(
        [("h", f"l{i}") for i in range(4)], ["a", "b"])
    row = degree_assortativity(edges).collect()[0]
    assert row.m == 8
    assert row.r == -1.0


def test_assortativity_regular_graph_degenerate(spark):
    from lamapi_spark.ops.graph import degree_assortativity
    # 4-cycle: every node degree 2 -> den = 0 -> 0.0 convention
    edges = spark.createDataFrame(
        [("1", "2"), ("2", "3"), ("3", "4"), ("4", "1")], ["a", "b"])
    assert degree_assortativity(edges).collect()[0].r == 0.0


def test_assortativity_matches_numpy_pearson(spark):
    from lamapi_spark.ops.graph import degree_assortativity
    # two triangles joined by a bridge — compute Pearson over the
    # symmetrized end-degree pairs independently
    e = [("a", "b"), ("b", "c"), ("a", "c"),
         ("c", "d"), ("d", "e"), ("e", "f"), ("d", "f")]
    edges = spark.createDataFrame(e, ["a", "b"])
    deg = {}
    sym = set()
    for u, v in e:
        sym.add((u, v))
        sym.add((v, u))
    for u, v in sym:
        deg[u] = deg.get(u, 0) + 1
    xs = [deg[u] for u, v in sym]
    ys = [deg[v] for u, v in sym]
    m = len(sym)
    sx, sxx = sum(xs), sum(x * x for x in xs)
    sxy = sum(x * y for x, y in zip(xs, ys))
    want = (m * sxy - sx * sx) / (m * sxx - sx * sx)
    row = degree_assortativity(edges).collect()[0]
    assert (row.m, row.sx, row.sxx, row.sxy) == (m, sx, sxx, sxy)
    assert abs(row.r - want) < 5e-7


# --------------------------------------------------------- clustering coeff

def test_clustering_hand_graph(spark):
    from lamapi_spark.ops.graph import clustering_coefficient
    # triangle a-b-c plus pendant d on c: cc(a)=cc(b)=1,
    # cc(c)=2*1/(3*2)=1/3; d has degree 1 -> excluded.
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("a", "c"), ("c", "d")], ["src", "dst"])
    got = {r.node: r for r in clustering_coefficient(edges).collect()}
    assert set(got) == {"a", "b", "c"}
    assert got["a"].cc == 1.0 and got["b"].cc == 1.0
    assert (got["c"].degree, got["c"].triangles) == (3, 1)
    assert got["c"].cc == 0.333333


def test_clustering_triangle_free_zero(spark):
    from lamapi_spark.ops.graph import clustering_coefficient
    # path graph: middle node has degree 2, no triangles -> cc 0
    edges = spark.createDataFrame([("a", "b"), ("b", "c")], ["src", "dst"])
    got = clustering_coefficient(edges).collect()
    assert len(got) == 1
    assert (got[0].node, got[0].triangles, got[0].cc) == ("b", 0, 0.0)


def test_clustering_complete_graph_all_one(spark):
    from lamapi_spark.ops.graph import clustering_coefficient
    import itertools
    edges = spark.createDataFrame(
        [(u, v) for u, v in itertools.combinations("abcde", 2)],
        ["src", "dst"])
    for r in clustering_coefficient(edges).collect():
        assert (r.degree, r.triangles, r.cc) == (4, 6, 1.0)


# --------------------------------------------------------- exact quantiles

def test_exact_quantiles_hand(spark):
    from lamapi_spark.ops.metrics import exact_quantiles
    df = spark.createDataFrame([(float(i),) for i in range(1, 11)], ["v"])
    got = {r.q: (r.rk, r.value)
           for r in exact_quantiles(df, "v", qs=(0.1, 0.5, 1.0),
                                    n_buckets=4).collect()}
    # ceil(.1*10)=1 -> 1.0; ceil(.5*10)=5 -> 5.0; ceil(1*10)=10 -> 10.0
    assert got == {0.1: (1, 1.0), 0.5: (5, 5.0), 1.0: (10, 10.0)}


def test_exact_quantiles_matches_sorted(spark):
    from lamapi_spark.ops.metrics import exact_quantiles
    import math
    vals = [((i * 37) % 101) / 7.0 for i in range(200)]
    df = spark.createDataFrame([(v,) for v in vals], ["v"])
    qs = (0.25, 0.5, 0.75, 0.9, 0.99)
    got = {r.q: r.value
           for r in exact_quantiles(df, "v", qs=qs, n_buckets=8).collect()}
    s = sorted(vals)
    for q in qs:
        assert got[q] == s[max(1, math.ceil(q * len(s))) - 1], q


def test_exact_quantiles_constant_column(spark):
    from lamapi_spark.ops.metrics import exact_quantiles
    df = spark.createDataFrame([(3.5,)] * 7, ["v"])
    for r in exact_quantiles(df, "v", qs=(0.5, 1.0)).collect():
        assert r.value == 3.5


# --------------------------------------------------------- decayed counts

def test_decayed_counts_hand(spark):
    from lamapi_spark.ops.temporal import decayed_counts
    import datetime
    base = datetime.datetime(2024, 1, 1, 12)
    rows = []
    # key a: 4 events today (age 0), 2 events 7 days ago (age 7)
    for _ in range(4):
        rows.append(("a", base + datetime.timedelta(days=7)))
    for _ in range(2):
        rows.append(("a", base))
    # key b: 8 events 14 days before as_of -> 8 * 2^-2 = 2
    for _ in range(8):
        rows.append(("b", base - datetime.timedelta(days=7)))
    df = spark.createDataFrame(rows, ["key", "ts"])
    got = {r.key: r for r in decayed_counts(
        df, key_col="key", half_life_bins=7).collect()}
    # as_of = key a's latest day
    assert got["a"].n_events == 6
    assert abs(got["a"].score - (4 * 1.0 + 2 * 0.5)) < 5e-7
    assert abs(got["b"].score - 8 * 0.25) < 5e-7


def test_decayed_counts_single_bin_identity(spark):
    from lamapi_spark.ops.temporal import decayed_counts
    import datetime
    ts = datetime.datetime(2024, 3, 1)
    df = spark.createDataFrame([("k", ts)] * 5, ["key", "ts"])
    r = decayed_counts(df, key_col="key").collect()[0]
    assert (r.n_events, r.score) == (5, 5.0)


# --------------------------------------------------------- PSI drift

def test_psi_identical_distributions_near_zero(spark):
    from lamapi_spark.ops.metrics import psi_drift
    rows = [("a",)] * 50 + [("b",)] * 30 + [("c",)] * 20
    base = spark.createDataFrame(rows, ["category"])
    got = {r.category: r.term for r in psi_drift(base, base).collect()}
    assert got["__total__"] == 0.0


def test_psi_hand_shift(spark):
    from lamapi_spark.ops.metrics import psi_drift
    import math
    base = spark.createDataFrame([("a",)] * 8 + [("b",)] * 2, ["category"])
    new = spark.createDataFrame([("a",)] * 2 + [("b",)] * 8, ["category"])
    got = {r.category: r for r in psi_drift(base, new).collect()}
    # V = 2, denominators 12 each: p_a = 9/12, q_a = 3/12
    pa, qa = 9 / 12, 3 / 12
    want_a = round((pa - qa) * math.log(pa / qa), 6)
    assert abs(got["a"].term - want_a) < 1e-9
    # symmetric shift -> b's term equals a's
    assert got["b"].term == got["a"].term
    assert abs(got["__total__"].term - 2 * want_a) < 1e-9


def test_psi_absent_category_stays_finite(spark):
    from lamapi_spark.ops.metrics import psi_drift
    base = spark.createDataFrame([("a",)] * 5 + [("x",)], ["category"])
    new = spark.createDataFrame([("a",)] * 6, ["category"])
    got = {r.category: r for r in psi_drift(base, new).collect()}
    assert got["x"].c_new == 0
    import math
    assert math.isfinite(got["x"].term) and got["x"].term > 0


# --------------------------------------------------------- dyad census

def test_dyads_hand_graph(spark):
    from lamapi_spark.ops.graph import dyad_census
    # a<->b mutual, a->c asym, d isolated-by-self-loop (dropped),
    # duplicate a->b collapses
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "a"), ("a", "c"), ("a", "b"), ("d", "d")],
        ["src", "dst"])
    r = dyad_census(edges).collect()[0]
    # nodes {a,b,c}: C(3,2)=3 dyads = 1 mutual + 1 asym + 1 null
    assert (r.n_nodes, r.n_edges, r.mutual, r.asym, r.nulls) \
        == (3, 3, 1, 1, 1)
    assert r.reciprocity == 0.666667


def test_dyads_pure_cycle_no_mutual(spark):
    from lamapi_spark.ops.graph import dyad_census
    edges = spark.createDataFrame(
        [("1", "2"), ("2", "3"), ("3", "1")], ["src", "dst"])
    r = dyad_census(edges).collect()[0]
    assert (r.mutual, r.asym, r.nulls, r.reciprocity) == (0, 3, 0, 0.0)


def test_dyads_fully_reciprocal(spark):
    from lamapi_spark.ops.graph import dyad_census
    edges = spark.createDataFrame(
        [("x", "y"), ("y", "x")], ["src", "dst"])
    r = dyad_census(edges).collect()[0]
    assert (r.mutual, r.asym, r.reciprocity) == (1, 0, 1.0)


# --------------------------------------------------------- hard negatives

def test_hard_negatives_band_and_rank(spark):
    from lamapi_spark.ops.similarity import hard_negative_topk
    # anchor q = [1, 0]; candidates at known cosines: dup 1.0,
    # hard 0.8, medium 0.5, easy 0.1
    import math
    rows = [(0, [1.0, 0.0])]
    for i, cos in [(1, 1.0), (2, 0.8), (3, 0.5), (4, 0.1)]:
        rows.append((i, [cos, math.sqrt(1 - cos * cos)]))
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    got = hard_negative_topk(
        df.filter(F.col("vec_id") == 0), df, k=2, lo=0.3, hi=0.95
    ).collect()
    # dup (1.0) excluded above hi, easy (0.1) below lo; hard ranks first
    assert [(r.n_id, r.rnk) for r in sorted(got, key=lambda r: r.rnk)] \
        == [(2, 1), (3, 2)]
    assert abs(sorted(got, key=lambda r: r.rnk)[0].cosine - 0.8) < 1e-6


def test_hard_negatives_k_truncation(spark):
    from lamapi_spark.ops.similarity import hard_negative_topk
    rows = [(i, [1.0, float(i) / 10]) for i in range(6)]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    got = hard_negative_topk(df.filter(F.col("vec_id") == 0), df,
                             k=3, lo=0.0, hi=1.0).collect()
    assert len(got) == 3 and {r.rnk for r in got} == {1, 2, 3}


# --------------------------------------------------------- turn latency

def test_turn_latency_hand(spark):
    from lamapi_spark.ops.temporal import turn_latency_stats
    import datetime
    b = datetime.datetime(2024, 1, 1)
    us = lambda s: b + datetime.timedelta(microseconds=s)
    rows = [
        ("c1", 1, "user", us(0)),
        ("c1", 2, "assistant", us(3_000_000)),   # 3s
        ("c1", 3, "user", us(10_000_000)),       # 7s
        ("c1", 4, "assistant", us(11_000_000)),  # 1s
        ("c2", 1, "user", us(0)),                # lone turn -> excluded
    ]
    df = spark.createDataFrame(rows, ["conv_id", "turn_idx", "role", "ts"])
    got = {r.role: r for r in turn_latency_stats(df).collect()}
    assert set(got) == {"user", "assistant"}
    a = got["assistant"]
    assert (a.n, a.sum_us, a.mean_us, a.min_us, a.max_us) \
        == (2, 4_000_000, 2_000_000, 1_000_000, 3_000_000)
    u = got["user"]
    assert (u.n, u.sum_us) == (1, 7_000_000)


def test_turn_latency_arrival_order_invariant(spark):
    from lamapi_spark.ops.temporal import turn_latency_stats
    import datetime
    b = datetime.datetime(2024, 1, 1)
    rows = [("c", i, "r", b + datetime.timedelta(seconds=i * i))
            for i in (4, 1, 3, 2)]  # shuffled arrival
    df = spark.createDataFrame(rows, ["conv_id", "turn_idx", "role", "ts"])
    r = turn_latency_stats(df).collect()[0]
    # latencies 3, 5, 7 seconds regardless of row order
    assert (r.n, r.sum_us, r.min_us, r.max_us) \
        == (3, 15_000_000, 3_000_000, 7_000_000)


# --------------------------------------------------------- grouped quantiles

def test_grouped_quantiles_match_per_key_sort(spark):
    from lamapi_spark.ops.metrics import exact_quantiles_by
    import math
    data = {}
    rows = []
    for k in ("a", "b", "c"):
        vals = [((i * (7 + ord(k))) % 53) / 3.0 for i in range(40 + ord(k) % 5)]
        data[k] = sorted(vals)
        rows += [(k, v) for v in vals]
    df = spark.createDataFrame(rows, ["key", "v"])
    qs = (0.5, 0.9, 0.99)
    got = {(r.key, r.q): r.value
           for r in exact_quantiles_by(df, "key", "v", qs=qs,
                                       n_buckets=4).collect()}
    for k, s in data.items():
        for q in qs:
            assert got[(k, q)] == s[max(1, math.ceil(q * len(s))) - 1], (k, q)


def test_grouped_quantiles_singleton_and_constant_keys(spark):
    from lamapi_spark.ops.metrics import exact_quantiles_by
    rows = [("lone", 7.0)] + [("const", 2.5)] * 9
    df = spark.createDataFrame(rows, ["key", "v"])
    got = exact_quantiles_by(df, "key", "v", qs=(0.5, 1.0)).collect()
    assert {(r.key, r.q, r.value) for r in got} \
        == {("lone", 0.5, 7.0), ("lone", 1.0, 7.0),
            ("const", 0.5, 2.5), ("const", 1.0, 2.5)}


# --------------------------------------------------------- bootstrap CI

def test_bootstrap_ci_brackets_point(spark):
    from lamapi_spark.ops.metrics import bootstrap_ci
    rows = [(i, 1 if (i * 13) % 10 < 7 else 0) for i in range(400)]
    df = spark.createDataFrame(rows, ["item_id", "correct"])
    r = bootstrap_ci(df, n_boot=100).collect()[0]
    assert r.n_items == 400
    assert abs(r.point - 0.7) < 0.001
    assert r.lo <= r.point <= r.hi
    # 95% CI on n=400 at p=0.7: half-width ~ 1.96*sqrt(.21/400) ~ .045
    assert 0.01 < (r.hi - r.lo) < 0.12


def test_bootstrap_ci_deterministic(spark):
    from lamapi_spark.ops.metrics import bootstrap_ci
    rows = [(i, i % 2) for i in range(50)]
    df = spark.createDataFrame(rows, ["item_id", "correct"])
    a = bootstrap_ci(df, n_boot=50).collect()[0]
    b = bootstrap_ci(df.repartition(7), n_boot=50).collect()[0]
    assert (a.lo, a.hi, a.point) == (b.lo, b.hi, b.point)


def test_bootstrap_weights_marginal_distribution(spark):
    # the md5-uniform inverse-CDF should produce ~Poisson(1) weights:
    # mean weight ~ 1 within a loose band over many draws
    from lamapi_spark.ops.metrics import POISSON1_T48
    import hashlib
    tot = 0
    n = 5000
    for i in range(n):
        u = int(hashlib.md5(f"{i}|0".encode()).hexdigest()[:12], 16)
        w = 7
        for k, t in enumerate(POISSON1_T48):
            if u < t:
                w = k
                break
        tot += w
    assert 0.93 < tot / n < 1.07


# --------------------------------------------------------- McNemar

def test_mcnemar_hand_cells(spark):
    from lamapi_spark.ops.metrics import mcnemar_test
    t = spark.createDataFrame([(i, "g") for i in range(10)],
                              ["k", "label"])
    # A right on 0..7, B right on 0..5 -> both_right 6, a_only 2,
    # b_only 0, both_wrong 2; chi2 = (|2-0|-1)^2 / 2 = 0.5
    a = spark.createDataFrame(
        [(i, "g" if i < 8 else "x") for i in range(10)], ["k", "label"])
    b = spark.createDataFrame(
        [(i, "g" if i < 6 else "x") for i in range(10)], ["k", "label"])
    r = mcnemar_test(a, b, t, ["k"]).collect()[0]
    assert (r.n, r.both_right, r.both_wrong, r.a_only, r.b_only) \
        == (10, 6, 2, 2, 0)
    assert r.chi2 == 0.5


def test_mcnemar_tied_discordants_zero(spark):
    from lamapi_spark.ops.metrics import mcnemar_test
    t = spark.createDataFrame([(i, "g") for i in range(4)], ["k", "label"])
    a = spark.createDataFrame(
        [(0, "g"), (1, "x"), (2, "g"), (3, "x")], ["k", "label"])
    b = spark.createDataFrame(
        [(0, "x"), (1, "g"), (2, "g"), (3, "x")], ["k", "label"])
    r = mcnemar_test(a, b, t, ["k"]).collect()[0]
    # b == c == 1: clamped correction -> exactly 0, not 1/2
    assert (r.a_only, r.b_only, r.chi2) == (1, 1, 0.0)


# --------------------------------------------------------- Bradley-Terry

def test_bradley_terry_recovers_ordering(spark):
    from lamapi_spark.ops.ranking import bradley_terry
    rows = ([("A", "B")] * 8 + [("B", "A")] * 2
            + [("B", "C")] * 8 + [("C", "B")] * 2
            + [("A", "C")] * 9 + [("C", "A")] * 1)
    df = spark.createDataFrame(rows, ["winner", "loser"])
    got = {r.player: r for r in bradley_terry(df, iters=8).collect()}
    assert got["A"].strength > got["B"].strength > got["C"].strength
    assert (got["A"].wins, got["A"].games) == (17, 20)
    # normalization keeps total strength ~ n_players * scale
    tot = sum(r.strength for r in got.values())
    assert abs(tot - 3_000_000) <= 3


def test_bradley_terry_matches_python_mm(spark):
    from lamapi_spark.ops.ranking import bradley_terry
    rows = ([("x", "y")] * 5 + [("y", "x")] * 3
            + [("y", "z")] * 4 + [("z", "y")] * 6
            + [("x", "z")] * 2 + [("z", "x")] * 2)
    df = spark.createDataFrame(rows, ["winner", "loser"])
    K, S = 10**12, 10**6
    wins = {"x": 7, "y": 7, "z": 8}
    n = {("x", "y"): 8, ("y", "z"): 10, ("x", "z"): 4}
    nn = {}
    for (a, b), v in n.items():
        nn[(a, b)] = v
        nn[(b, a)] = v
    w = {p: S for p in wins}
    for _ in range(5):
        d = {i: sum(nn[(i, j)] * K // max(w[i] + w[j], 1)
                    for j in w if (i, j) in nn) for i in w}
        u = {i: wins[i] * K // max(d[i], 1) for i in w}
        tot = sum(u.values())
        w = {i: u[i] * (3 * S) // max(tot, 1) for i in w}
    got = {r.player: r.strength
           for r in bradley_terry(df, iters=5).collect()}
    assert got == w


def test_bradley_terry_zero_win_degenerate(spark):
    from lamapi_spark.ops.ranking import bradley_terry
    df = spark.createDataFrame(
        [("a", "b"), ("a", "b"), ("a", "c")], ["winner", "loser"])
    got = {r.player: r.strength
           for r in bradley_terry(df, iters=4).collect()}
    assert got["b"] == 0 and got["c"] == 0
    assert got["a"] > 0


# --------------------------------------------------------- vocab richness

def test_vocab_richness_hand(spark):
    from lamapi_spark.ops.textstats import vocab_richness
    # tokens: a x4, b x2, c x1, d x1 -> N=8, D=4, f1=2, f2=1
    docs = spark.createDataFrame(
        [("a a b c",), ("a a b d",)], ["text"])
    r = vocab_richness(docs).collect()[0]
    assert (r.n_tokens, r.distinct_tokens, r.f1, r.f2) == (8, 4, 2, 1)
    # chao1 = 4 + 2*1/(2*2) = 4.5; coverage = 1 - 2/8 = 0.75
    assert r.chao1 == 4.5
    assert r.coverage == 0.75


def test_vocab_richness_no_hapaxes_saturated(spark):
    from lamapi_spark.ops.textstats import vocab_richness
    docs = spark.createDataFrame([("a b a b",)], ["text"])
    r = vocab_richness(docs).collect()[0]
    # no singletons: chao1 collapses to D, coverage = 1
    assert (r.f1, r.chao1, r.coverage) == (0, 2.0, 1.0)
