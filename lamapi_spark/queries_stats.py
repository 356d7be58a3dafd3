"""Round-4 statistical-closers sweep: distribution-shift tests
(Jensen-Shannon, exact two-sample KS), association (chi-square +
Cramér's V), multiple-comparison control (Benjamini-Hochberg FDR),
agreement with missingness (Krippendorff's alpha), and grouped rank
correlation (Kendall tau-b) — the remaining measurement surface a
fleet-scale eval harness runs beside the round-4 McNemar/bootstrap/
Bradley-Terry family. Every query has a DuckDB oracle that rebuilds
the dataflow independently (counts, folds, thresholds, tiebreaks).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from lamapi_spark.queries import load, register

# ------------------------------------------------- JS divergence


@register("corpus_js_divergence", """
WITH b AS (
  SELECT o_orderpriority AS category, count(*)::BIGINT AS c_base
  FROM orders WHERE o_orderkey % 2 = 0 GROUP BY 1),
n AS (
  SELECT o_orderpriority AS category, count(*)::BIGINT AS c_new
  FROM orders WHERE o_orderkey % 2 = 1
    AND NOT (o_orderpriority = '1-URGENT' AND o_orderkey % 5 < 2)
  GROUP BY 1),
j AS (SELECT coalesce(b.category, n.category) AS category,
             coalesce(c_base, 0)::BIGINT AS c_base,
             coalesce(c_new, 0)::BIGINT AS c_new
      FROM b FULL OUTER JOIN n ON b.category = n.category),
t AS (SELECT sum(c_base)::BIGINT AS nb, sum(c_new)::BIGINT AS nn FROM j),
per AS (
  SELECT category, c_base, c_new,
         round_even(
           (CASE WHEN c_base > 0 THEN
              (c_base / CAST(nb AS DOUBLE)) / 2
              * ln((c_base / CAST(nb AS DOUBLE))
                   / ((c_base / CAST(nb AS DOUBLE)
                       + c_new / CAST(nn AS DOUBLE)) / 2)) / ln(2.0)
            ELSE 0.0 END)
           + (CASE WHEN c_new > 0 THEN
                (c_new / CAST(nn AS DOUBLE)) / 2
                * ln((c_new / CAST(nn AS DOUBLE))
                     / ((c_base / CAST(nb AS DOUBLE)
                         + c_new / CAST(nn AS DOUBLE)) / 2)) / ln(2.0)
              ELSE 0.0 END), 6) AS term
  FROM j CROSS JOIN t)
SELECT category, c_base, c_new, term FROM per
UNION ALL
SELECT '__total__', sum(c_base)::BIGINT, sum(c_new)::BIGINT,
       CAST(sum(term::DECIMAL(28,6)) AS DOUBLE)
FROM per ORDER BY category
""")
def corpus_js_divergence(spark, sf):
    """Base-2 Jensen-Shannon divergence (ops/metrics.js_divergence)
    between the even- and odd-orderkey halves of orders under the
    SAME planted 1-URGENT drop as corpus_psi_drift — the two drift
    monitors measure one shift, so their green rows cross-check each
    other (JSD bounded in [0,1], no smoothing; PSI smoothed,
    unbounded). The oracle replays counts, the union vocabulary, the
    per-category two-arm term (ln/ln2 in Spark's exact expression
    order), and the DECIMAL rollup."""
    from lamapi_spark.ops.metrics import js_divergence

    o = load(spark, sf, "orders")
    ok = F.col("o_orderkey")
    base = (o.filter(ok % 2 == 0)
            .select(F.col("o_orderpriority").alias("category")))
    new = (o.filter((ok % 2 == 1)
                    & ~((F.col("o_orderpriority") == "1-URGENT")
                        & (ok % 5 < 2)))
           .select(F.col("o_orderpriority").alias("category")))
    return js_divergence(base, new).orderBy("category")


# ------------------------------------------------- chi-square / Cramér's V


@register("eval_chi2_independence", """
WITH d AS (
  SELECT o_orderpriority AS a,
         CASE WHEN o_orderpriority = '1-URGENT' AND o_orderkey % 3 = 0
              THEN 'expedited' ELSE 'standard' END AS b
  FROM orders),
obs AS (SELECT a, b, count(*)::BIGINT AS o FROM d GROUP BY a, b),
ra AS (SELECT a, sum(o)::BIGINT AS ra FROM obs GROUP BY a),
cb AS (SELECT b, sum(o)::BIGINT AS cb FROM obs GROUP BY b),
t AS (SELECT sum(o)::BIGINT AS n, count(DISTINCT a)::BIGINT AS r,
             count(DISTINCT b)::BIGINT AS c FROM obs),
cells AS (
  SELECT coalesce(obs.o, 0)::DOUBLE AS o,
         CAST(ra.ra * cb.cb / t.n AS DOUBLE) AS e
  FROM ra CROSS JOIN cb
  LEFT JOIN obs ON obs.a = ra.a AND obs.b = cb.b
  CROSS JOIN t),
chi AS (SELECT CAST(sum(round_even((o - e) * (o - e) / e, 6)
                        ::DECIMAL(28,6)) AS DOUBLE) AS chi2
        FROM cells)
SELECT t.n AS n, t.r AS r, t.c AS c,
       ((t.r - 1) * (t.c - 1))::BIGINT AS dof, chi.chi2 AS chi2,
       round_even(CASE WHEN least(t.r - 1, t.c - 1) > 0
         THEN sqrt(chi.chi2 / (CAST(t.n AS DOUBLE)
                               * least(t.r - 1, t.c - 1)))
         ELSE 0.0 END, 6) AS cramers_v
FROM t CROSS JOIN chi
""")
def eval_chi2_independence(spark, sf):
    """Chi-square independence + Cramér's V
    (ops/metrics.chi2_independence) between order priority and a
    PLANTED dependent shipping class (every third 1-URGENT order is
    'expedited' — a direct function of the priority, so the
    association is real and V is well off 0). The oracle replays the
    cell counts, both marginals, the full r x c cross including the
    absent observed cells, every rounded term, the DECIMAL rollup,
    and the effect-size formula."""
    from lamapi_spark.ops.metrics import chi2_independence

    o = load(spark, sf, "orders")
    d = o.select(
        F.col("o_orderpriority").alias("a"),
        F.when((F.col("o_orderpriority") == "1-URGENT")
               & (F.col("o_orderkey") % 3 == 0), F.lit("expedited"))
        .otherwise(F.lit("standard")).alias("b"))
    return chi2_independence(d, "a", "b")


# ------------------------------------------------- exact two-sample KS


@register("eval_ks_two_sample", """
WITH a AS (SELECT CAST(o_totalprice AS DOUBLE) AS v FROM orders
           WHERE o_orderkey % 2 = 0),
b AS (SELECT CAST(o_totalprice AS DOUBLE) * 1.1 + 5000.0 AS v
      FROM orders WHERE o_orderkey % 2 = 1),
cnt AS (
  SELECT v, sum(ca)::BIGINT AS ca, sum(cb)::BIGINT AS cb FROM (
    SELECT v, 1 AS ca, 0 AS cb FROM a
    UNION ALL SELECT v, 0, 1 FROM b) GROUP BY v),
t AS (SELECT sum(ca)::BIGINT AS na, sum(cb)::BIGINT AS nb FROM cnt),
cum AS (
  SELECT v,
         sum(ca) OVER (ORDER BY v)::DECIMAL(38,0) AS cua,
         sum(cb) OVER (ORDER BY v)::DECIMAL(38,0) AS cub
  FROM cnt),
d AS (SELECT v, abs(cua * t.nb - cub * t.na) AS d
      FROM cum CROSS JOIN t)
SELECT t.na AS n_a, t.nb AS n_b,
       round_even(CAST((SELECT d FROM d ORDER BY d DESC, v ASC LIMIT 1)
                       AS DOUBLE)
                  / (CAST(t.na AS DOUBLE) * CAST(t.nb AS DOUBLE)), 6)
         AS d_stat,
       (SELECT v FROM d ORDER BY d DESC, v ASC LIMIT 1) AS at_value
FROM t
""")
def eval_ks_two_sample(spark, sf):
    """Exact two-sample Kolmogorov-Smirnov (ops/metrics.ks_two_sample)
    between the even-orderkey price distribution and the odd half
    SHIFTED AND SCALED (v*1.1 + 5000 — a planted location+scale
    drift, so D is large and the achieving value is meaningful). The
    oracle computes the step-function supremum INDEPENDENTLY with a
    plain global window over the distinct-value grid — green proves
    the two-level scan's cumulative counts equal the global window's,
    and that the exact-integer cross-multiplied diff + smallest-value
    tiebreak pick the same row."""
    from lamapi_spark.ops.metrics import ks_two_sample

    o = load(spark, sf, "orders")
    ok = F.col("o_orderkey")
    a = (o.filter(ok % 2 == 0)
         .select(F.col("o_totalprice").cast("double").alias("v")))
    b = (o.filter(ok % 2 == 1)
         .select((F.col("o_totalprice").cast("double") * 1.1 + 5000.0)
                 .alias("v")))
    return ks_two_sample(a, b)


# ------------------------------------------------- Benjamini-Hochberg FDR


@register("eval_bh_fdr", """
WITH ids AS (SELECT DISTINCT (o_orderkey % 400)::BIGINT AS i FROM orders),
tests AS (
  SELECT 't' || i AS test_id,
         CASE WHEN i % 10 = 0
              THEN CAST(i + 1 AS DOUBLE) / 1000000.0
              ELSE 0.05 + CAST(i AS DOUBLE) / 500.0 END AS p_value
  FROM ids),
m AS (SELECT count(*)::BIGINT AS m FROM tests),
ranked AS (
  SELECT test_id, p_value,
         row_number() OVER (ORDER BY p_value, test_id)::BIGINT AS rank
  FROM tests),
k AS (SELECT coalesce(max(CASE WHEN p_value * CAST(m.m AS DOUBLE)
                                    <= CAST(rank AS DOUBLE) * 0.05
                               THEN rank END), 0) AS kstar
      FROM ranked CROSS JOIN m)
SELECT test_id, p_value, rank, (rank <= k.kstar) AS reject
FROM ranked CROSS JOIN k ORDER BY rank
""")
def eval_bh_fdr(spark, sf):
    """Benjamini-Hochberg FDR control (ops/metrics.bh_fdr) over a
    planted 400-test family: every tenth test is a true effect with
    p ~ 1e-6..4e-4, the rest spread over [0.05, 0.85] — so the BH
    step-up bound rejects exactly the planted slice and the boundary
    rank is load-bearing. The oracle ranks with a global window
    (independent of the two-level scan), replays the p*m <= rank*q
    comparison in the same float order, and the max-rank threshold."""
    from lamapi_spark.ops.metrics import bh_fdr

    o = load(spark, sf, "orders")
    ids = o.select((F.col("o_orderkey") % 400).alias("i")).distinct()
    tests = ids.select(
        F.concat(F.lit("t"), F.col("i")).alias("test_id"),
        F.when(F.col("i") % 10 == 0,
               (F.col("i") + 1).cast("double") / 1000000.0)
        .otherwise(0.05 + F.col("i").cast("double") / 500.0)
        .alias("p_value"))
    return bh_fdr(tests, "test_id", "p_value", q=0.05).orderBy("rank")


# ------------------------------------------------- Krippendorff's alpha


@register("eval_krippendorff", """
WITH ids AS (SELECT DISTINCT (o_orderkey % 300)::BIGINT AS i FROM orders),
panel AS (
  SELECT i, r,
         CASE WHEN (i * 5 + r * 3) % 10 < 7 THEN i % 3
              ELSE (i % 3 + 1 + r % 2) % 3 END AS label
  FROM ids CROSS JOIN (SELECT unnest(range(5)) AS r)
  WHERE (i + 2 * r) % 5 <> 0
    AND NOT (i % 97 = 0 AND r > 0)),
nuc AS (SELECT i AS u, label AS c, count(*)::BIGINT AS n_uc
        FROM panel GROUP BY 1, 2),
per_u AS (
  SELECT u, sum(n_uc)::BIGINT AS n_u,
         sum(n_uc * n_uc)::BIGINT AS s2
  FROM nuc GROUP BY u HAVING sum(n_uc) >= 2),
do_t AS (
  SELECT count(*)::BIGINT AS n_units, sum(n_u)::BIGINT AS n_values,
         sum(round_even(CAST(n_u * n_u - s2 AS DOUBLE)
                        / CAST(n_u - 1 AS DOUBLE), 12)
             ::DECIMAL(38,12)) AS do_raw
  FROM per_u),
nc AS (SELECT c, sum(n_uc)::BIGINT AS n_c
       FROM nuc JOIN per_u ON nuc.u = per_u.u GROUP BY c),
de_t AS (SELECT sum((n_c * ((SELECT n_values FROM do_t) - n_c))
                    ::DECIMAL(38,0)) AS de_raw FROM nc)
SELECT n_units, n_values,
       CAST(do_raw AS DOUBLE) AS do_sum, CAST(de_raw AS DOUBLE) AS de_sum,
       round_even(CASE WHEN de_raw > 0
         THEN 1.0 - CAST(n_values - 1 AS DOUBLE)
              * CAST(do_raw AS DOUBLE) / CAST(de_raw AS DOUBLE)
         ELSE 1.0 END, 6) AS alpha
FROM do_t CROSS JOIN de_t
""")
def eval_krippendorff(spark, sf):
    """Krippendorff's alpha (ops/metrics.krippendorff_alpha) over a
    planted 300-item, up-to-5-rater panel with REAL missingness: a
    fifth of the slots are empty on a (item, rater) lattice (so n_u
    varies 2..5 — the shape fleiss_kappa's constant-n filter cannot
    rate), every-97th item keeps only rater 0 (n_u = 1, exercising
    the unpairable drop), and raters agree with the true label 70% of
    the time. The oracle replays the panel synth, both rollups, the
    12-dp DECIMAL Do sum, and the exact-integer De."""
    from lamapi_spark.ops.metrics import krippendorff_alpha

    o = load(spark, sf, "orders")
    ids = o.select((F.col("o_orderkey") % 300).alias("i")).distinct()
    raters = spark.range(5).select(F.col("id").alias("r"))
    li = F.col("i") % 3
    panel = (ids.crossJoin(raters)
             .filter(((F.col("i") + 2 * F.col("r")) % 5 != 0)
                     & ~((F.col("i") % 97 == 0) & (F.col("r") > 0)))
             .select(F.col("i").alias("item_id"),
                     F.col("r").alias("rater"),
                     F.when((F.col("i") * 5 + F.col("r") * 3) % 10 < 7, li)
                     .otherwise((li + 1 + F.col("r") % 2) % 3)
                     .alias("label")))
    return krippendorff_alpha(panel)


# ------------------------------------------------- grouped Kendall tau-b


@register("eval_kendall_tau", """
WITH v AS (
  SELECT 'g' || (o_orderkey % 400) AS key, o_orderkey,
         floor(CAST(o_totalprice AS DOUBLE) / 1000.0) AS x,
         CAST(o_totalprice AS DOUBLE)
           * (CASE WHEN o_custkey % 4 = 0 THEN -1 ELSE 1 END) AS y
  FROM orders),
p AS (
  SELECT a.key,
         sum(((a.x - b.x) * (a.y - b.y) > 0)::INT)::BIGINT AS nc,
         sum(((a.x - b.x) * (a.y - b.y) < 0)::INT)::BIGINT AS nd,
         sum((a.x = b.x AND a.y <> b.y)::INT)::BIGINT AS tx,
         sum((a.y = b.y AND a.x <> b.x)::INT)::BIGINT AS ty
  FROM v a JOIN v b ON a.key = b.key AND a.o_orderkey < b.o_orderkey
  GROUP BY a.key),
n AS (SELECT key, count(*)::BIGINT AS n FROM v GROUP BY key)
SELECT n.key AS key, n.n AS n, coalesce(p.nc, 0) AS nc,
       coalesce(p.nd, 0) AS nd, coalesce(p.tx, 0) AS tx,
       coalesce(p.ty, 0) AS ty,
       round_even(CASE WHEN (coalesce(p.nc,0) + coalesce(p.nd,0)
                             + coalesce(p.tx,0))
                       * (coalesce(p.nc,0) + coalesce(p.nd,0)
                          + coalesce(p.ty,0)) > 0
         THEN CAST(coalesce(p.nc,0) - coalesce(p.nd,0) AS DOUBLE)
              / sqrt(CAST((coalesce(p.nc,0) + coalesce(p.nd,0)
                           + coalesce(p.tx,0))
                          * (coalesce(p.nc,0) + coalesce(p.nd,0)
                             + coalesce(p.ty,0)) AS DOUBLE))
         ELSE 0.0 END, 6) AS tau
FROM n LEFT JOIN p ON n.key = p.key
WHERE n.n BETWEEN 2 AND 1000
ORDER BY key
""")
def eval_kendall_tau(spark, sf):
    """Per-group Kendall tau-b (ops/metrics.kendall_tau_by) between
    thousand-bucketed price (heavy x ties -> Tx is load-bearing) and
    a sign-flipped price copy (every 4th customer inverts -> tau sits
    mid-range, not +-1), grouped into 400 bounded keys. The oracle is
    the INDEPENDENT formulation: a pair self-join on (key, orderkey <
    orderkey) — no sorted array, no fold — green proves the in-row
    O(n^2) pair fold counts exactly the unordered-pair census."""
    from lamapi_spark.ops.metrics import kendall_tau_by

    o = load(spark, sf, "orders")
    v = o.select(
        F.concat(F.lit("g"), F.col("o_orderkey") % 400).alias("key"),
        F.floor(F.col("o_totalprice").cast("double") / 1000.0)
        .cast("double").alias("x"),
        (F.col("o_totalprice").cast("double")
         * F.when(F.col("o_custkey") % 4 == 0, -1).otherwise(1))
        .alias("y"))
    return kendall_tau_by(v, "key", "x", "y").orderBy("key")


# ------------------------------------------------- ROUGE-L


@register("eval_rouge_l", r"""
WITH RECURSIVE base AS (
  SELECT doc_id AS id,
    list_reverse(list_slice(CASE WHEN length(trim(lower(text))) > 0
      THEN string_split_regex(trim(lower(text)), '\s+') ELSE [] END,
      1, 15)) AS c,
    list_slice(CASE WHEN length(trim(lower(text))) > 0
      THEN string_split_regex(trim(lower(text)), '\s+') ELSE [] END,
      1, 15) AS r
  FROM documents),
dp AS (
  SELECT id, c, r, 0 AS i,
         list_transform(range(0, len(r) + 1), x -> 0) AS row
  FROM base
  UNION ALL
  SELECT id, c, r, i + 1,
    list_prepend(0, list_transform(range(1, len(r) + 1), j ->
      greatest(row[j + 1],
               list_max(list_transform(range(1, j + 1), k ->
                 row[k] + (r[k] = c[i + 1])::INT)))))
  FROM dp WHERE i < len(c))
SELECT id, len(c)::BIGINT AS cand_n, len(r)::BIGINT AS ref_n,
       row[len(r) + 1]::BIGINT AS lcs,
       round_even(row[len(r) + 1] / CAST(greatest(len(c), 1) AS DOUBLE), 6)
         AS p,
       round_even(row[len(r) + 1] / CAST(greatest(len(r), 1) AS DOUBLE), 6)
         AS r,
       round_even(2 * row[len(r) + 1]
                  / CAST(greatest(len(c) + len(r), 1) AS DOUBLE), 6) AS f1
FROM dp WHERE i = len(c) ORDER BY id
""")
def eval_rouge_l(spark, sf):
    """ROUGE-L (ops/metrics.rouge_l_scores) where each document's
    candidate is the REVERSE of its first 15 tokens and the reference
    is those tokens in order — LCS of a sequence against its reversal
    is the longest palindromic subsequence, so the DP's max-branch is
    load-bearing on every pair (a prefix candidate would make lcs ==
    cand_n trivially). The oracle is an INDEPENDENT formulation: a
    recursive CTE over candidate positions whose row update uses the
    prefix-max identity new[j] = max(prev[j], max_{k<=j}(prev[k-1] +
    eq_k)) — no sequential in-row dependency, so green proves the
    Spark nested fold against a structurally different DP."""
    from lamapi_spark.ops.metrics import rouge_l_scores

    d = load(spark, sf, "documents")
    t = F.trim(F.lower(F.col("text")))
    toks = F.slice(
        F.when(F.length(t) > 0, F.split(t, r"\s+"))
        .otherwise(F.array().cast("array<string>")), 1, 15)
    pairs = d.select(
        F.col("doc_id").alias("pair_id"),
        F.concat_ws(" ", F.reverse(toks)).alias("cand"),
        F.concat_ws(" ", toks).alias("ref"))
    return (rouge_l_scores(pairs, max_tokens=15)
            .withColumnRenamed("id", "id").orderBy("id"))


@register("eval_rouge_l_vec", r"""
WITH RECURSIVE base AS (
  SELECT doc_id AS id,
    list_reverse(list_slice(CASE WHEN length(trim(lower(text))) > 0
      THEN string_split_regex(trim(lower(text)), '\s+') ELSE [] END,
      1, 15)) AS c,
    list_slice(CASE WHEN length(trim(lower(text))) > 0
      THEN string_split_regex(trim(lower(text)), '\s+') ELSE [] END,
      1, 15) AS r
  FROM documents),
dp AS (
  SELECT id, c, r, 0 AS i,
         list_transform(range(0, len(r) + 1), x -> 0) AS row
  FROM base
  UNION ALL
  SELECT id, c, r, i + 1,
    list_prepend(0, list_transform(range(1, len(r) + 1), j ->
      greatest(row[j + 1],
               list_max(list_transform(range(1, j + 1), k ->
                 row[k] + (r[k] = c[i + 1])::INT)))))
  FROM dp WHERE i < len(c))
SELECT id, len(c)::BIGINT AS cand_n, len(r)::BIGINT AS ref_n,
       row[len(r) + 1]::BIGINT AS lcs,
       round_even(row[len(r) + 1] / CAST(greatest(len(c), 1) AS DOUBLE), 6)
         AS p,
       round_even(row[len(r) + 1] / CAST(greatest(len(r), 1) AS DOUBLE), 6)
         AS r,
       round_even(2 * row[len(r) + 1]
                  / CAST(greatest(len(c) + len(r), 1) AS DOUBLE), 6) AS f1
FROM dp WHERE i = len(c) ORDER BY id
""")
def eval_rouge_l_vec(spark, sf):
    """The Arrow-batched numpy arm of rouge_l_scores (engine='pandas',
    round-5 BENCH crossover: ~8x the interpreted fold) against the
    IDENTICAL independent recursive-CTE oracle as eval_rouge_l —
    green proves the vectorized LCS (running-max identity) on the
    palindromic-subsequence stress input."""
    from lamapi_spark.ops.metrics import rouge_l_scores

    d = load(spark, sf, "documents")
    t = F.trim(F.lower(F.col("text")))
    toks = F.slice(
        F.when(F.length(t) > 0, F.split(t, r"\s+"))
        .otherwise(F.array().cast("array<string>")), 1, 15)
    pairs = d.select(
        F.col("doc_id").alias("pair_id"),
        F.concat_ws(" ", F.reverse(toks)).alias("cand"),
        F.concat_ws(" ", toks).alias("ref"))
    return (rouge_l_scores(pairs, max_tokens=15, engine="pandas")
            .orderBy("id"))


# ------------------------------------------------- multiclass MCC


@register("eval_mcc", """
WITH t AS (
  SELECT o_orderkey AS id, 'c' || (o_orderkey % 4) AS label
  FROM orders WHERE o_orderkey % 13 <> 0),
p AS (
  SELECT o_orderkey AS id,
         CASE WHEN o_orderkey % 5 = 0 THEN 'c' || ((o_orderkey + 1) % 4)
              ELSE 'c' || (o_orderkey % 4) END AS label
  FROM orders WHERE o_orderkey % 11 <> 0),
j AS (SELECT t.label AS tl, p.label AS pl
      FROM t JOIN p ON t.id = p.id),
per_t AS (SELECT tl AS k, count(*)::HUGEINT AS tk FROM j GROUP BY tl),
per_p AS (SELECT pl AS k, count(*)::HUGEINT AS pk FROM j GROUP BY pl),
m AS (SELECT sum(coalesce(pk, 0) * coalesce(tk, 0)) AS pt,
             sum(coalesce(pk, 0) * coalesce(pk, 0)) AS pp,
             sum(coalesce(tk, 0) * coalesce(tk, 0)) AS tt
      FROM per_t FULL OUTER JOIN per_p USING (k)),
base AS (SELECT count(*)::HUGEINT AS n,
                sum((tl = pl)::INT)::HUGEINT AS c FROM j)
SELECT CAST(n AS BIGINT) AS n, CAST(c AS BIGINT) AS correct,
       CASE WHEN (n * n - pp) > 0 AND (n * n - tt) > 0
            THEN round_even(CAST(c * n - pt AS DOUBLE)
                 / sqrt(CAST(n * n - pp AS DOUBLE)
                        * CAST(n * n - tt AS DOUBLE)), 6)
            ELSE 0.0 END AS mcc
FROM base CROSS JOIN m
""")
def eval_mcc(spark, sf):
    """Multiclass Matthews correlation (ops/metrics.mcc_multiclass)
    for the 4-class rotating-error predictor (every 5th item shifts
    one class over) with DISJOINT missing slices on each side (every
    11th prediction and 13th truth absent — the inner join must
    shrink n before any marginal is counted). The oracle replays the
    join, the diagonal, both marginals, and the R_K identity in
    HUGEINT."""
    from lamapi_spark.ops.metrics import mcc_multiclass

    o = load(spark, sf, "orders")
    ok = F.col("o_orderkey")
    truth = (o.filter(ok % 13 != 0)
             .select(ok.alias("id"),
                     F.concat(F.lit("c"), ok % 4).alias("label")))
    pred = (o.filter(ok % 11 != 0)
            .select(ok.alias("id"),
                    F.when(ok % 5 == 0,
                           F.concat(F.lit("c"), (ok + 1) % 4))
                    .otherwise(F.concat(F.lit("c"), ok % 4))
                    .alias("label")))
    return mcc_multiclass(pred, truth, ["id"])


# ------------------------------------------------- 1-D Wasserstein


@register("eval_wasserstein", """
WITH a AS (SELECT CAST(o_totalprice AS DOUBLE) AS v FROM orders
           WHERE o_orderkey % 2 = 0),
b AS (SELECT CAST(o_totalprice AS DOUBLE) * 1.1 + 5000.0 AS v
      FROM orders WHERE o_orderkey % 2 = 1),
cnt AS (
  SELECT v, sum(ca)::BIGINT AS ca, sum(cb)::BIGINT AS cb FROM (
    SELECT v, 1 AS ca, 0 AS cb FROM a
    UNION ALL SELECT v, 0, 1 FROM b) GROUP BY v),
t AS (SELECT sum(ca)::BIGINT AS na, sum(cb)::BIGINT AS nb FROM cnt),
cum AS (
  SELECT v,
         sum(ca) OVER (ORDER BY v)::DECIMAL(38,0) AS cua,
         sum(cb) OVER (ORDER BY v)::DECIMAL(38,0) AS cub,
         lead(v) OVER (ORDER BY v) AS nxt
  FROM cnt),
terms AS (
  SELECT CASE WHEN nxt IS NOT NULL THEN
           round_even(CAST(abs(cua * t.nb - cub * t.na) AS DOUBLE)
                      / (CAST(t.na AS DOUBLE) * CAST(t.nb AS DOUBLE))
                      * (nxt - v), 9)
         ELSE 0.0 END AS term, t.na, t.nb
  FROM cum CROSS JOIN t)
SELECT na AS n_a, nb AS n_b,
       CAST(sum(term::DECIMAL(38,9)) AS DOUBLE) AS w1
FROM terms GROUP BY na, nb
""")
def eval_wasserstein(spark, sf):
    """Exact 1-D Wasserstein-1 (ops/metrics.wasserstein_1d) between
    the same planted location+scale price drift as eval_ks_two_sample
    — the two shift tests share one synth, so KS's supremum and W1's
    integral cross-check each other on the same grid. The oracle is
    the INDEPENDENT global-window formulation (cumulative sums and
    lead over the whole distinct-value grid — no buckets, no
    boundary patch), so green proves the two-level scan plus the
    bucket-boundary next-value stitching against plain SQL."""
    from lamapi_spark.ops.metrics import wasserstein_1d

    o = load(spark, sf, "orders")
    ok = F.col("o_orderkey")
    a = (o.filter(ok % 2 == 0)
         .select(F.col("o_totalprice").cast("double").alias("v")))
    b = (o.filter(ok % 2 == 1)
         .select((F.col("o_totalprice").cast("double") * 1.1 + 5000.0)
                 .alias("v")))
    return wasserstein_1d(a, b)


# ------------------------------------------------- BIO span F1


_BIO_SYNTH = """
tok AS (
  SELECT (i // 12)::BIGINT AS seq, (i % 12 + 1)::BIGINT AS pos,
         CASE
           WHEN (i // 12) % 5 = 0 AND (i % 12 + 1) IN (4) THEN 'B'
           WHEN (i // 12) % 5 = 0 AND (i % 12 + 1) IN (5, 6) THEN 'I'
           WHEN (i // 12) % 5 = 0 AND (i % 12 + 1) = 3 THEN 'O'
           WHEN (i % 12 + 1) = 3 THEN 'B'
           WHEN (i % 12 + 1) IN (4, 5) THEN 'I'
           WHEN (i % 12 + 1) = 9 AND (i // 12) % 7 <> 0 THEN 'B'
           WHEN (i % 12 + 1) = 11 THEN 'I'
           ELSE 'O' END AS tag
  FROM (SELECT DISTINCT (o_orderkey % 6000)::BIGINT AS i FROM orders)),
gold AS (
  SELECT (i // 12)::BIGINT AS seq, (i % 12 + 1)::BIGINT AS pos,
         CASE WHEN (i % 12 + 1) = 3 THEN 'B'
              WHEN (i % 12 + 1) IN (4, 5) THEN 'I'
              WHEN (i % 12 + 1) = 9 THEN 'B'
              WHEN (i % 12 + 1) = 11 THEN 'I'
              ELSE 'O' END AS tag
  FROM (SELECT DISTINCT (o_orderkey % 6000)::BIGINT AS i FROM orders))
"""


@register("eval_bio_span_f1", f"""
WITH {_BIO_SYNTH},
pspan AS (
  SELECT seq, grp, min(pos) AS s, max(pos) AS e FROM (
    SELECT seq, pos, tag,
           sum(st::INT) OVER (PARTITION BY seq ORDER BY pos
                              ROWS UNBOUNDED PRECEDING) AS grp
    FROM (
      SELECT seq, pos, tag,
             (tag = 'B' OR (tag = 'I'
              AND coalesce(lag(tag) OVER (PARTITION BY seq
                                          ORDER BY pos), 'O') = 'O'))
               AS st
      FROM tok))
  WHERE tag <> 'O' GROUP BY seq, grp),
gspan AS (
  SELECT seq, grp, min(pos) AS s, max(pos) AS e FROM (
    SELECT seq, pos, tag,
           sum(st::INT) OVER (PARTITION BY seq ORDER BY pos
                              ROWS UNBOUNDED PRECEDING) AS grp
    FROM (
      SELECT seq, pos, tag,
             (tag = 'B' OR (tag = 'I'
              AND coalesce(lag(tag) OVER (PARTITION BY seq
                                          ORDER BY pos), 'O') = 'O'))
               AS st
      FROM gold))
  WHERE tag <> 'O' GROUP BY seq, grp),
c AS (SELECT (SELECT count(*) FROM pspan)::BIGINT AS pn,
             (SELECT count(*) FROM gspan)::BIGINT AS gn,
             (SELECT count(*) FROM pspan JOIN gspan
              USING (seq, s, e))::BIGINT AS tp)
SELECT pn AS pred_spans, gn AS gold_spans, tp,
       round_even(CASE WHEN pn > 0 THEN tp / CAST(pn AS DOUBLE)
                       ELSE 0.0 END, 6) AS p,
       round_even(CASE WHEN gn > 0 THEN tp / CAST(gn AS DOUBLE)
                       ELSE 0.0 END, 6) AS r,
       round_even(CASE WHEN pn + gn > 0
                       THEN 2 * tp / CAST(pn + gn AS DOUBLE)
                       ELSE 0.0 END, 6) AS f1
FROM c
""")
def eval_bio_span_f1(spark, sf):
    """Span-level conlleval F1 (ops/metrics.bio_span_f1) over 500
    planted 12-token BIO sequences: gold has spans (3-5), (9,9) and
    an orphan-I (11,11) per sequence; the predictor SHIFTS the first
    span right by one in every 5th sequence (boundary error — zero
    credit under exact span match, the conlleval point) and DROPS the
    (9,9) span in every 7th. The oracle extracts spans with an
    INDEPENDENT formulation — a lag-window start flag and a running
    start count as the span group key, no in-row fold — so green
    proves the fold's segmentation (incl. the orphan-I rule) against
    plain SQL windows."""
    from lamapi_spark.ops.metrics import bio_span_f1

    o = load(spark, sf, "orders")
    d = o.select((F.col("o_orderkey") % 6000).alias("i")).distinct()
    seq = (F.col("i") / 12).cast("long")
    pos = (F.col("i") % 12 + 1).cast("long")
    gold_tag = (F.when(pos == 3, "B").when(pos.isin(4, 5), "I")
                .when(pos == 9, "B").when(pos == 11, "I")
                .otherwise("O"))
    pred_tag = (
        F.when((seq % 5 == 0) & (pos == 4), "B")
        .when((seq % 5 == 0) & pos.isin(5, 6), "I")
        .when((seq % 5 == 0) & (pos == 3), "O")
        .when(pos == 3, "B").when(pos.isin(4, 5), "I")
        .when((pos == 9) & (seq % 7 != 0), "B")
        .when(pos == 11, "I").otherwise("O"))
    gold = d.select(seq.alias("seq"), pos.alias("pos"),
                    gold_tag.alias("tag"))
    pred = d.select(seq.alias("seq"), pos.alias("pos"),
                    pred_tag.alias("tag"))
    return bio_span_f1(pred, gold, ["seq"])
