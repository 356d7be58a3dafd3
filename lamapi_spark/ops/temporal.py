"""Temporal join operators Spark's built-ins don't provide directly:
as-of join and interval/range join — the builder's-brief "custom
operator" axis (reference analogue: none; the reference has no temporal
queries). Both are compositions of existing DataFrame ops chosen for
their SCALE shape, not mapInPandas fallbacks:

- as-of join: the union + partitioned-sort + last-non-null carry —
  ONE shuffle on the key, one in-partition sort, state O(1) per row
  (the classic merge-join formulation; a point-in-time join per left
  row would be a per-row subquery, and Spark's own inequality join
  would fall back to a broadcast-nested-loop).
- range join: coarse time-bin replication + equi-join + exact filter —
  turns an inequality join (BroadcastNestedLoopJoin: O(|L|*|R|) work,
  single-node build side) into a shuffled hash join on (key, bin).
  ``bin_s`` trades replication of the interval side (ceil(len/bin)
  copies) against join selectivity; points are never replicated.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def asof_join(
    left: DataFrame, right: DataFrame, key: str,
    left_ts: str = "ts_us", right_ts: str = "ts_us",
    payload: tuple[str, ...] = ("value",),
    tolerance_us: int | None = None,
) -> DataFrame:
    """For every left row, attach the LATEST right row with
    ``right_ts <= left_ts`` on the same key (backward as-of, inclusive
    — DuckDB ``ASOF JOIN ... ON l.ts >= r.ts`` semantics), as columns
    ``asof_<payload>...`` plus ``asof_ts`` (null when no prior right
    row, or when it is older than ``tolerance_us``).

    CONTRACT: right must be unique per (key, right_ts) — pre-aggregate
    ties away (a duplicate would make the carried payload depend on
    sort-tie order). Timestamps are integer micros (engine-portable).

    Implementation: tag and union both sides, sort each key partition
    by (ts, right-first-on-ties), carry the right payload forward with
    last(ignorenulls) over an unbounded-preceding window, keep left
    rows. One exchange, one sort; the window state is a single row.
    """
    lcols = [c for c in left.columns]
    l = (left.withColumn("_ts", F.col(left_ts).cast("long"))
         .withColumn("_is_r", F.lit(0)))
    for p in payload:
        l = l.withColumn(f"_p_{p}", F.lit(None).cast(
            dict(right.dtypes)[p]))
    r = (right.withColumn("_ts", F.col(right_ts).cast("long"))
         .withColumn("_is_r", F.lit(1)))
    for p in payload:
        r = r.withColumn(f"_p_{p}", F.col(p))
    for c in lcols:
        if c not in r.columns:
            r = r.withColumn(c, F.lit(None).cast(dict(left.dtypes)[c]))
    cols = [key, "_ts", "_is_r", *[f"_p_{p}" for p in payload],
            *[c for c in lcols if c != key]]
    u = l.select(*cols).unionByName(r.select(*cols))

    # right rows sort before left rows at the same timestamp, so an
    # equal-ts right row IS visible to the left row (inclusive >=)
    w = (Window.partitionBy(key).orderBy(F.col("_ts"), F.desc("_is_r"))
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    carried = [F.last(f"_p_{p}", ignorenulls=True).over(w).alias(f"asof_{p}")
               for p in payload]
    m_ts = F.last(F.when(F.col("_is_r") == 1, F.col("_ts")),
                  ignorenulls=True).over(w).alias("asof_ts")
    out = (u.select(*cols, *carried, m_ts)
           .filter(F.col("_is_r") == 0))
    if tolerance_us is not None:
        stale = (F.col("asof_ts").isNull()
                 | (F.col("_ts") - F.col("asof_ts") > tolerance_us))
        out = out.select(
            *cols, "asof_ts",
            *[F.when(stale, F.lit(None)).otherwise(F.col(f"asof_{p}"))
              .alias(f"asof_{p}") for p in payload]
        ).withColumn("asof_ts",
                     F.when(stale, F.lit(None)).otherwise(F.col("asof_ts")))
    return out.select(*lcols, "asof_ts",
                      *[f"asof_{p}" for p in payload])


def range_join_binned(
    intervals: DataFrame, points: DataFrame, key: str,
    lo: str = "lo_us", hi: str = "hi_us", pt_ts: str = "ts_us",
    bin_s: int = 1800,
) -> DataFrame:
    """All (interval, point) pairs on the same key with
    ``lo <= pt_ts <= hi`` — via coarse-bin replication: each interval
    explodes to its covered bins, each point maps to its ONE bin, the
    pair space shrinks to an equi-join on (key, bin) plus the exact
    containment filter. No pair duplicates by construction (a point
    lives in exactly one bin). Returns intervals' columns + points'.

    Bins are floor(ts / bin) in integer micros; intervals must satisfy
    lo <= hi. Skewed bins (a hot key x time window) are ordinary
    equi-join skew — AQE splits them like any other.
    """
    bw = F.lit(int(bin_s) * 1_000_000)
    iv = intervals.withColumn(
        "_bin",
        F.explode(F.sequence(F.floor(F.col(lo) / bw),
                             F.floor(F.col(hi) / bw))))
    pt = points.withColumn("_bin", F.floor(F.col(pt_ts) / bw))
    return (
        iv.join(pt, [key, "_bin"])
        .filter(F.col(pt_ts).between(F.col(lo), F.col(hi)))
        .drop("_bin")
    )


def resample_ffill(
    events: DataFrame, key: str, ts: str = "ts_us",
    payload: tuple[str, ...] = ("value",), step_us: int = 3_600_000_000,
) -> DataFrame:
    """Hypertable-style gap-fill/resample: per key, a regular grid of
    timestamps at ``step_us`` spacing (aligned to epoch multiples,
    spanning floor(min/step)*step .. floor(max/step)*step of the key's
    own event range) with the latest at-or-before payload carried onto
    every grid point (forward fill; a leading grid point with no prior
    event carries nulls). CONTRACT: events unique per (key, ts), same
    as asof_join.

    Composition, not new machinery: the grid is a bounded sequence()
    explode off the per-key min/max aggregate (grid size = span/step
    BY CONSTRUCTION — the resample contract), and the fill is exactly
    the proven asof_join (one shuffle + one in-partition sort, O(1)
    window state). Returns (key, grid_ts, asof_ts, asof_<payload>...).
    """
    step = F.lit(int(step_us))
    bounds = events.groupBy(key).agg(
        (F.floor(F.min(F.col(ts).cast("long")) / step) * step).alias("_lo"),
        (F.floor(F.max(F.col(ts).cast("long")) / step) * step).alias("_hi"))
    grid = bounds.select(
        key, F.explode(F.sequence("_lo", "_hi", step)).alias("grid_ts"))
    return asof_join(grid, events, key=key, left_ts="grid_ts",
                     right_ts=ts, payload=payload)


def interval_overlap_join(
    left: DataFrame, right: DataFrame, key: str,
    l_lo: str = "l_lo_us", l_hi: str = "l_hi_us",
    r_lo: str = "r_lo_us", r_hi: str = "r_hi_us",
    bin_s: int = 1800,
) -> DataFrame:
    """All (left, right) interval pairs on the same key that OVERLAP
    (inclusive: ``l_lo <= r_hi AND r_lo <= l_hi``) — the
    interval x interval generalization of range_join_binned, and the
    other join Catalyst would plan as a BroadcastNestedLoopJoin.

    Both sides explode to their covered coarse bins and the pair space
    becomes an equi-join on (key, bin). An overlapping pair shares
    EVERY bin between max(lo) and min(hi), so emitting the pair only
    from the bin that contains max(l_lo, r_lo) — a bin both sides
    provably cover — yields each pair EXACTLY once with no distinct
    pass (the dedup-free trick range_join_binned gets for free from
    points living in one bin). Returns left's columns + right's.

    Bounds are integer micros with lo <= hi on both sides; bin_s
    trades replication factor (interval_span/bin) against per-bin
    join fan-in, exactly as in range_join_binned; hot (key, bin)
    cells are ordinary equi-join skew for AQE."""
    bw = F.lit(int(bin_s) * 1_000_000)
    lv = left.withColumn(
        "_bin",
        F.explode(F.sequence(F.floor(F.col(l_lo) / bw),
                             F.floor(F.col(l_hi) / bw))))
    rv = right.withColumn(
        "_bin",
        F.explode(F.sequence(F.floor(F.col(r_lo) / bw),
                             F.floor(F.col(r_hi) / bw))))
    return (
        lv.join(rv, [key, "_bin"])
        .filter((F.col(l_lo) <= F.col(r_hi)) & (F.col(r_lo) <= F.col(l_hi)))
        .filter(F.col("_bin")
                == F.floor(F.greatest(F.col(l_lo), F.col(r_lo)) / bw))
        .drop("_bin")
    )


def burst_detection(events: DataFrame, key_col: str = "event_type",
                    ts_col: str = "ts", bin_s: int = 86400,
                    trail_bins: int = 7, factor_bp: int = 20000,
                    min_prev_bins: int = 3) -> DataFrame:
    """Per-key rate-spike detection over fixed time bins — the ingest
    anomaly monitor a transcript/event feed runs continuously (a
    tool's call rate tripling overnight is either an incident or a
    data bug; both need flagging before the corpus absorbs them).
    Reference analogue: none; builder's-brief temporal QC beside
    gap_fill.

    A bin bursts when its count exceeds ``factor_bp``/10000 times the
    trailing-``trail_bins`` mean, decided by the EXACT integer product
    ``cnt * 10000 * n_prev >= factor_bp * prev_sum`` (no float mean),
    requiring >= ``min_prev_bins`` of history and a non-empty bin; a
    first-activity bin after a fully quiet trailing window bursts by
    convention (0-baseline = infinite ratio).

    Scale shape: one (key, bin) count agg; the dense per-key grid
    comes from ONE sequence explode bounded by each key's own active
    span / bin_s (the gap_fill bound — a key active for a year at
    daily bins adds 365 rows); trailing stats are a ROWS window
    per key over that bounded grid. -> (key, bin, cnt, prev_sum,
    n_prev, burst) for every dense bin.
    """
    b = F.floor(F.unix_micros(F.col(ts_col).cast("timestamp"))
                / F.lit(int(bin_s) * 1_000_000)).cast("long")
    cnt = (events.select(F.col(key_col).alias("key"), b.alias("bin"))
           .groupBy("key", "bin").agg(F.count("*").alias("cnt")))
    span = cnt.groupBy("key").agg(F.min("bin").alias("_lo"),
                                  F.max("bin").alias("_hi"))
    grid = span.select(
        "key", F.explode(F.sequence("_lo", "_hi")).alias("bin"))
    dense = (grid.join(cnt, ["key", "bin"], "left")
             .withColumn("cnt", F.coalesce("cnt", F.lit(0)).cast("long")))
    w = (Window.partitionBy("key").orderBy("bin")
         .rowsBetween(-int(trail_bins), -1))
    out = dense.select(
        "key", "bin", "cnt",
        F.coalesce(F.sum("cnt").over(w), F.lit(0)).cast("long")
        .alias("prev_sum"),
        F.count("cnt").over(w).cast("long").alias("n_prev"))
    burst = ((F.col("cnt") > 0)
             & (F.col("n_prev") >= F.lit(int(min_prev_bins)))
             & (F.col("cnt") * 10000 * F.col("n_prev")
                >= F.lit(int(factor_bp)) * F.col("prev_sum")))
    return out.withColumn("burst", burst)


def cohort_retention(events: DataFrame, user_col: str = "user_id",
                     ts_col: str = "ts",
                     bin_s: int = 86400 * 7) -> DataFrame:
    """Cohort retention matrix over an activity stream: users cohort
    by their FIRST-activity period; each later period counts how many
    of that cohort came back — the standard retention triangle every
    usage dashboard draws, as one distributed job (reference
    analogue: none; builder's-brief temporal analytics beside
    burst_detection).

    Periods are fixed ``bin_s`` buckets of the epoch (default weekly)
    — calendar-free integer arithmetic both engines share (month
    arithmetic differs between engines; epoch division does not).
    retained_bp = retained * 10000 div cohort_size, exact integer.
    offset 0 rows are the cohort sizes themselves (retained_bp =
    10000 by construction — a cheap self-check the oracle hashes too).

    Scale shape: one distinct on (user, period) — the activity grain
    — one min-agg per user for the cohort (map-side combinable), one
    broadcast-sized cohort-size frame, one (cohort, offset) count
    agg. No window. -> (cohort, week_offset, retained, cohort_size,
    retained_bp) for observed (cohort, offset) pairs; the offset
    column is named week_offset at the default weekly bin (OFFSET is
    a reserved word in several engines).
    """
    per = F.floor(F.unix_micros(F.col(ts_col).cast("timestamp"))
                  / F.lit(int(bin_s) * 1_000_000)).cast("long")
    act = (events.select(F.col(user_col).alias("u"), per.alias("p"))
           .distinct())
    first = act.groupBy("u").agg(F.min("p").alias("cohort"))
    sizes = first.groupBy("cohort").agg(F.count("*").alias("cohort_size"))
    ret = (act.join(first, "u")
           .groupBy("cohort",
                    (F.col("p") - F.col("cohort")).alias("week_offset"))
           .agg(F.count("*").alias("retained")))
    return (ret.join(F.broadcast(sizes), "cohort")
            .select("cohort", "week_offset", "retained", "cohort_size",
                    F.expr("retained * 10000L div cohort_size")
                    .alias("retained_bp")))


def funnel_analysis(events: DataFrame, steps: list[str],
                    user_col: str = "user_id", type_col: str = "event_type",
                    ts_col: str = "ts") -> DataFrame:
    """Ordered-funnel conversion: how many users performed step 1,
    then step 2 STRICTLY AFTER it, then step 3 after that — the
    sequential-pattern query sessionization feeds (reference
    analogue: none; builder's-brief temporal analytics beside
    cohort_retention).

    Sequential-min semantics: t_1 = the user's earliest step-1 event;
    t_k = the earliest step-k event with ts STRICTLY greater than
    t_{k-1} (a simultaneous-timestamp pair does not chain — the
    deterministic reading of 'then'; ties inside one step resolve by
    the (ts, type) struct sort). A user reaches step k iff t_k
    exists.

    Scale shape: events filtered to the step types FIRST (column
    prune + pushed filter), then ONE per-user aggregation collecting
    the sorted (ts, type) array — bounded by the user's own
    step-event count — and the chain evaluated as in-row filter/
    element_at expressions (the in-array fold idiom; no k-way
    non-equi self-join, which is the classic funnel-query trap at
    10^12 events). Final rollup is one tiny per-step aggregate.

    -> (step_idx, step, n_users, conv_bp) with conv_bp the exact
    integer share of step-1 reachers (step 1 row reads 10000).
    """
    tps = [str(s) for s in steps]
    ev = (events.filter(F.col(type_col).isin(tps))
          .select(F.col(user_col).alias("u"),
                  F.unix_micros(F.col(ts_col).cast("timestamp")).alias("t"),
                  F.col(type_col).alias("tp")))
    per = ev.groupBy("u").agg(
        F.sort_array(F.collect_list(F.struct("t", "tp"))).alias("_a"))
    cur = per
    prev_t = None
    flags = []
    def _first(step):
        return lambda x: x.tp == step

    def _next(step, prev):
        return lambda x: (x.tp == step) & (x.t > F.col(prev))

    for i, s in enumerate(tps):
        col = f"_t{i}"
        pred = _first(s) if prev_t is None else _next(s, prev_t)
        # F.get is 0-based and NULL on out-of-bounds (element_at
        # throws under ANSI mode when the filtered array is empty)
        expr = F.get(F.filter("_a", pred), 0).t
        cur = cur.withColumn(col, expr)
        flags.append(F.sum(F.col(col).isNotNull().cast("long"))
                     .alias(f"_n{i}"))
        prev_t = col
    agg = cur.agg(*flags)
    rows = None
    for i, s in enumerate(tps):
        one = agg.select(
            F.lit(i + 1).cast("int").alias("step_idx"),
            F.lit(s).alias("step"),
            F.col(f"_n{i}").cast("long").alias("n_users"),
            F.expr(f"_n{i} * 10000L div greatest(_n0, 1L)")
            .alias("conv_bp"))
        rows = one if rows is None else rows.unionByName(one)
    return rows


def cusum_changepoints(events: DataFrame, key_col: str = "event_type",
                       ts_col: str = "ts", bin_s: int = 86400,
                       baseline_bins: int = 7, k_bp: int = 5000,
                       h_bp: int = 30000) -> DataFrame:
    """Per-key CUSUM level-shift detection over fixed time bins — the
    changepoint twin of burst_detection (a spike is one hot bin; a
    changepoint is a SUSTAINED rate shift that per-bin factor gates
    never flag because no single bin is extreme). Page's two-sided
    CUSUM (Page 1954) against a baseline learned from each key's
    first ``baseline_bins`` bins. Reference analogue: none;
    builder's-brief temporal QC.

    Exact-integer formulation: with baseline sum bs over bn =
    min(baseline_bins, span) bins and D = 10000 * bn, the scaled
    recurrences over monitored bins (t > baseline_bins)

        su_t = max(0, su_{t-1} + cnt_t*D - bs*(10000 + k_bp))
        sd_t = max(0, sd_{t-1} + bs*(10000 - k_bp) - cnt_t*D)

    are the textbook mu0*(1 +- k) slack forms multiplied through by
    D — every term BIGINT (exact to ~1e9 events/bin over ~1e4-bin
    spans), alarm when s > h_bp * bs (= h_bp/10000 * mu0 * D). Bins
    inside the baseline window emit s = 0 / no alarm (burn-in); an
    all-quiet baseline (bs = 0) alarms on the first activity by
    convention (burst_detection's 0-baseline rule). The contract
    oracle computes the SAME su/sd through the independent closed
    form S_t = C_t - min(0, running-min C) over prefix sums — green
    proves recurrence and closed form agree integer for integer.

    Scale shape: one (key, bin) count agg, the gap_fill-bounded dense
    grid, then ONE key-keyed collect into a span-bounded sorted array
    where the sequential recurrence runs in-row (a recurrence is one
    exchange as a fold; as a window chain it is the same exchange
    plus two window passes). -> (key, bin, cnt, su, sd, alarm_up,
    alarm_dn) for every dense bin.
    """
    b = F.floor(F.unix_micros(F.col(ts_col).cast("timestamp"))
                / F.lit(int(bin_s) * 1_000_000)).cast("long")
    cnt = (events.select(F.col(key_col).alias("key"), b.alias("bin"))
           .groupBy("key", "bin").agg(F.count("*").alias("cnt")))
    span = cnt.groupBy("key").agg(F.min("bin").alias("_lo"),
                                  F.max("bin").alias("_hi"))
    grid = span.select(
        "key", F.explode(F.sequence("_lo", "_hi")).alias("bin"))
    dense = (grid.join(cnt, ["key", "bin"], "left")
             .withColumn("cnt", F.coalesce("cnt", F.lit(0)).cast("long")))
    g = dense.groupBy("key").agg(
        F.sort_array(F.collect_list(F.struct("bin", "cnt"))).alias("_a"))
    arr = F.col("_a")
    bn = F.least(F.lit(int(baseline_bins)), F.size(arr)).cast("long")
    bs = F.aggregate(F.slice(arr, F.lit(1), bn), F.lit(0).cast("long"),
                     lambda a, x: a + x["cnt"])
    d = F.lit(10000).cast("long") * bn
    up_off = bs * F.lit(10000 + int(k_bp))
    dn_off = bs * F.lit(10000 - int(k_bp))
    thr = F.lit(int(h_bp)) * bs
    zero = F.lit(0).cast("long")
    init = F.struct(zero.alias("su"), zero.alias("sd"),
                    F.array().cast(
                        "array<struct<bin:bigint,cnt:bigint,su:bigint,"
                        "sd:bigint,alarm_up:boolean,alarm_dn:boolean>>")
                    .alias("out"))

    def fold(acc, e):
        t = F.size(acc["out"]) + 1
        mon = t > F.lit(int(baseline_bins))
        su = F.when(mon, F.greatest(
            zero, acc["su"] + e["cnt"] * d - up_off)).otherwise(zero)
        sd = F.when(mon, F.greatest(
            zero, acc["sd"] + dn_off - e["cnt"] * d)).otherwise(zero)
        row = F.struct(e["bin"].alias("bin"), e["cnt"].alias("cnt"),
                       su.alias("su"), sd.alias("sd"),
                       (mon & (su > thr)).alias("alarm_up"),
                       (mon & (sd > thr)).alias("alarm_dn"))
        return F.struct(su.alias("su"), sd.alias("sd"),
                        F.concat(acc["out"], F.array(row)).alias("out"))

    folded = g.select("key", F.aggregate(
        arr, init, fold, lambda acc: acc["out"]).alias("_o"))
    return (folded.select("key", F.explode("_o").alias("r"))
            .select("key", F.col("r.bin").alias("bin"),
                    F.col("r.cnt").alias("cnt"),
                    F.col("r.su").alias("su"), F.col("r.sd").alias("sd"),
                    F.col("r.alarm_up").alias("alarm_up"),
                    F.col("r.alarm_dn").alias("alarm_dn")))


def decayed_counts(events: DataFrame, key_col: str = "event_type",
                   ts_col: str = "ts", bin_s: int = 86400,
                   half_life_bins: int = 7) -> DataFrame:
    """Exponentially-decayed activity score per key — the
    recency-weighted popularity a linker's prior actually wants
    (lamAPI ranks candidates by STATIC popularity, reference
    lookup.py's popularity sort; a transcript-fed KG can weight the
    same signal by freshness so last quarter's hot entity outranks a
    long-dead one at equal lifetime counts):

        score(key) = sum over active bins b of
                     cnt_b * 2^(-(as_of - b) / half_life_bins)

    with as_of = the corpus's max bin (a 1-row broadcast — no driver
    round-trip). Float discipline: each term is one pow(2, -age/hl)
    double, summed IN BIN ORDER by an in-row left fold from 0.0
    (x + 0.0 is exact, so the oracle's first-element-seeded
    list_reduce associates identically), half-even 6 dp.

    Scale shape: one (key, bin) count agg (map-side combinable — a
    hot key costs one cell per partition per active bin), one
    key-keyed collect of the SPARSE active-bin cells (zero bins
    contribute zero — no dense-grid explode needed, unlike
    burst/cusum which must see silence), one crossJoin broadcast of
    the 1-row as_of frame. -> (key, n_events, last_bin, score).
    """
    b = F.floor(F.unix_micros(F.col(ts_col).cast("timestamp"))
                / F.lit(int(bin_s) * 1_000_000)).cast("long")
    cnt = (events.select(F.col(key_col).alias("key"), b.alias("bin"))
           .groupBy("key", "bin").agg(F.count("*").alias("cnt")))
    as_of = cnt.agg(F.max("bin").alias("_ao"))
    g = (cnt.groupBy("key")
         .agg(F.sort_array(F.collect_list(
             F.struct("bin", "cnt"))).alias("_a"),
             F.sum("cnt").alias("n_events"),
             F.max("bin").alias("last_bin"))
         .join(F.broadcast(as_of)))
    term = lambda e: (e["cnt"].cast("double") * F.pow(
        F.lit(2.0), -(F.col("_ao") - e["bin"]).cast("double")
        / F.lit(float(half_life_bins))))
    score = F.aggregate(F.col("_a"), F.lit(0.0),
                        lambda acc, e: acc + term(e))
    return g.select("key", "n_events", "last_bin",
                    F.bround(score, 6).alias("score"))


def turn_latency_stats(transcripts: DataFrame, conv_col: str = "conv_id",
                       idx_col: str = "turn_idx", role_col: str = "role",
                       ts_col: str = "ts") -> DataFrame:
    """Per-role response-latency rollup over conversation transcripts
    — how long each speaker class (assistant, tool, user) takes to
    produce its turn, measured as ts(turn) - ts(previous turn) within
    the conversation under the north rule's stable turn ordering. The
    first turn of a conversation has no predecessor and is excluded.
    The operational dashboard number for an agent-transcript corpus
    (reference analogue: none; builder's-brief transcript analytics
    beside sessionize/transcript_stats).

    Exactness: latencies are integer MICROSECONDS (unix_micros — the
    queries_temporal parity rule); mean_us is the exact integer
    division sum DIV n (floor), min/max/sum exact BIGINTs — no floats
    anywhere.

    Scale shape: ONE conversation-keyed collect into a turn-bounded
    sorted array, consecutive pairing as an in-row transform (a lag
    window is the same exchange plus a window pass), explode of the
    n-1 latency rows, one role-keyed hash agg (bounded by the role
    vocabulary). -> (role, n, sum_us, mean_us, min_us, max_us).
    """
    us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    g = (transcripts.select(F.col(conv_col).alias("_c"),
                            F.col(idx_col).alias("_i"),
                            F.col(role_col).alias("_r"), us.alias("_t"))
         .groupBy("_c")
         .agg(F.sort_array(F.collect_list(
             F.struct("_i", "_r", "_t"))).alias("_a")))
    arr = F.col("_a")
    lats = F.transform(
        F.sequence(F.lit(2), F.greatest(F.size(arr), F.lit(1))),
        lambda i: F.struct(
            F.element_at(arr, i)["_r"].alias("role"),
            (F.element_at(arr, i)["_t"]
             - F.element_at(arr, i - 1)["_t"]).alias("lat")))
    rows = (g.filter(F.size(arr) >= 2)
            .select(F.explode(lats).alias("e"))
            .select(F.col("e.role").alias("role"),
                    F.col("e.lat").alias("lat")))
    agg = rows.groupBy("role").agg(
        F.count("*").alias("n"), F.sum("lat").alias("sum_us"),
        F.min("lat").alias("min_us"), F.max("lat").alias("max_us"))
    return agg.select(
        "role", "n", "sum_us",
        F.expr("sum_us DIV n").alias("mean_us"), "min_us", "max_us")
