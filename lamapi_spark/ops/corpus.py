"""Corpus-preparation operators for LLM training-data pipelines:
Unicode normalization, benchmark-contamination detection, deterministic
stratified/mixture sampling, and unigram-LM quality scoring.

Reference analogue: none (the reference is a lookup service) — this is
builder's-brief training-data surface, same tier as ops/dedup.py and
ops/textstats.py. Every operator here is engine-portable by
construction (the DuckDB oracles in queries_corpus.py re-run the same
logic), and scale-shaped: no driver round-trips, no per-row Python
except the one genuinely non-SQL step (NFC normalization, which Spark
SQL lacks — Arrow-batched pandas UDF, never row-at-a-time).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import StringType

from lamapi_spark.functions.hashing import h48

# Control characters stripped by normalize_text: C0 minus \t\n\r, plus
# DEL. Spelled as an explicit class so the Java (Spark) and RE2 (DuckDB
# oracle) regex engines agree byte-for-byte.
CONTROL_CLASS = r"[\x00-\x08\x0B\x0C\x0E-\x1F\x7F]"


# returnType as a DataType INSTANCE, not the DDL string "string": the
# string form parses through the active SparkContext, which would make
# importing this module require a running session
@pandas_udf(StringType())
def _nfc(s):
    import unicodedata

    return s.map(lambda v: unicodedata.normalize("NFC", v)
                 if v is not None else None)


def normalize_text(text: Column) -> Column:
    """Canonical text cleanup: NFC Unicode normalization (combining
    sequences -> precomposed), control-character strip, whitespace-run
    collapse, trim.

    NFC is the ONE step Spark SQL cannot express (no normalize
    function), so it runs as an Arrow-batched pandas UDF; the regex
    steps stay JVM-side column expressions on its output. DuckDB's
    nfc_normalize implements the same Unicode algorithm, which is what
    makes the cross-engine oracle meaningful: two independent NFC
    implementations must agree on every document."""
    cleaned = F.regexp_replace(_nfc(text), CONTROL_CLASS, "")
    return F.trim(F.regexp_replace(cleaned, r"\s+", " "))


def token_ngrams(text: Column, n: int) -> Column:
    """Token n-grams as space-joined strings over the whitespace
    tokenization (lower-cased) — the contamination unit."""
    toks = F.split(F.lower(F.trim(text)), r"\s+")
    return F.when(
        F.size(toks) >= n,
        F.transform(F.sequence(F.lit(1), F.size(toks) - (n - 1)),
                    lambda i: F.concat_ws(" ", F.slice(toks, i, n))),
    ).otherwise(F.array().cast("array<string>"))


def contamination(
    train: DataFrame, eval_df: DataFrame, n: int = 8,
    id_col: str = "doc_id", text_col: str = "text",
    broadcast_eval: bool = True,
) -> DataFrame:
    """Benchmark-contamination check (the n-gram-overlap decontamination
    every serious pretraining pipeline runs before training): for each
    train document, how many of its distinct token ``n``-grams appear
    anywhere in the evaluation set.

    -> (doc_id, n_grams, n_overlap, contaminated) where ``n_grams`` is
    the doc's distinct-n-gram count, ``n_overlap`` how many of those
    occur in eval, and ``contaminated`` flags any overlap at all (the
    conservative decontamination rule; callers wanting a fraction
    threshold have both counts).

    Scale shape: the eval side collapses to DISTINCT n-grams first
    (benchmarks are small — thousands of documents — so the distinct
    gram set broadcasts; ``broadcast_eval=False`` leaves the join to a
    shuffle hash on the gram string for a pathologically large eval
    suite). The train side never shuffles its text: grams explode,
    semi-join against eval grams, and re-aggregate on the doc id. A
    left join + count-distinct-match instead of a semi-join would drag
    every non-matching gram through the aggregation; the semi-join
    prunes first."""
    grams = F.explode(F.array_distinct(token_ngrams(F.col(text_col), n)))
    train_grams = train.select(F.col(id_col).alias("doc_id"),
                               grams.alias("gram"))
    eval_grams = eval_df.select(grams.alias("gram")).distinct()
    if broadcast_eval:
        eval_grams = F.broadcast(eval_grams)
    totals = train_grams.groupBy("doc_id").agg(
        F.count("*").alias("n_grams"))
    hits = (train_grams.join(eval_grams, "gram", "left_semi")
            .groupBy("doc_id").agg(F.count("*").alias("n_overlap")))
    return (
        totals.join(hits, "doc_id", "left")
        .select("doc_id", "n_grams",
                F.coalesce("n_overlap", F.lit(0)).alias("n_overlap"))
        .withColumn("contaminated", F.col("n_overlap") > 0)
    )


def sample_hash(key: Column, salt: str = "s0") -> Column:
    """Deterministic per-row sampling coordinate in [0, 10000): the
    first 8 hex digits of md5(key|salt) mod 10000. md5 (not xxhash64)
    because the oracle must recompute it — DuckDB has md5 but not
    Spark's xxhash64; both engines parse the same hex substring."""
    h = F.conv(F.substring(F.md5(F.concat(key.cast("string"),
                                          F.lit("|" + salt))), 1, 8),
               16, 10).cast("long")
    return h % 10000


def stratified_sample(
    df: DataFrame, strata_col: str, rates: dict[str, float],
    key_col: str = "doc_id", default_rate: float = 0.0, salt: str = "s0",
) -> DataFrame:
    """Deterministic stratified / mixture-weighted sampling — the
    training-mixture step (e.g. upweight books, downsample web) done the
    only way that survives a 100x scale-up: a pure per-row hash
    predicate. No sort, no shuffle, no RNG state; the sample is a
    FUNCTION of (key, salt), so re-runs, resumes, and different
    partitionings all select the identical row set, and a row's
    verdict can be recomputed by anyone (the DuckDB oracle does).

    ``rates`` maps stratum value -> keep fraction in [0, 1]; rows whose
    stratum is absent keep with ``default_rate``. Keep iff
    sample_hash(key) < round(rate * 10000)."""
    rate_bp = F.lit(int(round(default_rate * 10000)))
    for value, rate in sorted(rates.items()):
        rate_bp = F.when(F.col(strata_col) == value,
                         F.lit(int(round(rate * 10000)))).otherwise(rate_bp)
    return (
        df.withColumn("_sample_bp", sample_hash(F.col(key_col), salt))
        .filter(F.col("_sample_bp") < rate_bp)
        .drop("_sample_bp")
    )


def unigram_lm_score(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text",
) -> DataFrame:
    """Unigram language-model quality score (the CCNet/Gopher-style
    perplexity proxy, with the corpus itself as the LM): add-one
    smoothed unigram probabilities from corpus-wide token counts, then
    per-document mean negative log-probability (nats). High = unusual
    token distribution = low-quality or off-domain candidate.

    -> (doc_id, n_tokens, avg_neg_logp).

    Engine parity: -ln p(w) is rounded to 6 decimals PER TOKEN, the
    per-doc sum runs in DECIMAL (exact, order-free), and the final
    average is bround'ed — so the one float op either engine performs
    is ln() of a rational, where a 1-ulp libm difference would need to
    land within ~1e-10 of a rounding boundary to split the engines
    (one boundary check per DISTINCT count value, not per token).

    Scale shape: two aggregations (token counts; per-doc score) plus
    one join from tokens to their counts — count frames are
    vocabulary-sized, so the stats (total tokens, vocab size) ride a
    1-row cross-join broadcast and the count join shuffles on the
    token string with map-side combine already applied. No Python."""
    toks = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.split(F.lower(F.trim(F.col(text_col))), r"\s+")).alias("tok"))
    counts = toks.groupBy("tok").agg(F.count("*").alias("c"))
    stats = counts.agg(F.sum("c").alias("total"),
                       F.count("*").alias("vocab"))
    scored = (
        toks.join(counts, "tok")
        .crossJoin(F.broadcast(stats))
        .withColumn("_nlp", F.bround(
            -F.log((F.col("c") + 1).cast("double")
                   / (F.col("total") + F.col("vocab")).cast("double")), 6))
    )
    return (
        scored.groupBy("doc_id").agg(
            F.count("*").alias("n_tokens"),
            F.bround(F.sum(F.col("_nlp").cast("decimal(28,6)")).cast("double")
                     / F.count("*"), 4).alias("avg_neg_logp"))
    )


def bigram_lm_score(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text",
) -> DataFrame:
    """Bigram language-model quality score — the context-aware member
    of the LM-scoring family next to unigram_lm_score (a KenLM-style
    fluency proxy with the corpus itself as the LM): add-one smoothed
    P(w_i | w_{i-1}) = (c(w_{i-1} w_i) + 1) / (c_ctx(w_{i-1}) + V)
    from corpus-wide counts, then per-document mean negative
    log-probability over bigram positions. Repetitive template text
    scores LOW (its bigrams are corpus-frequent); shuffled or
    off-domain text scores HIGH even when its unigrams are common —
    exactly what the unigram score cannot see.

    c_ctx(w) counts occurrences of w AS A BIGRAM CONTEXT (i.e.
    excluding document-final positions), so probabilities per context
    sum to 1 over the observed successor set plus smoothing mass; V is
    the full unigram vocabulary. Documents with fewer than two tokens
    have no bigram positions and are omitted: they get no row, and the
    composing filter treats a document with no score as unscorable.

    Engine parity: identical discipline to unigram_lm_score — one ln()
    per distinct (bigram count, context count) pair rounded to 6
    decimals per position, DECIMAL order-free sums, bround'ed final
    average.

    Scale shape: three aggregations (bigram counts, context counts,
    per-doc score) and two count joins, each shuffling on its key with
    map-side combine; the vocabulary size rides a 1-row broadcast.
    Bigram keys are strictly more selective than tokens, so the count
    join's skew is bounded by the unigram hot-key skew the unigram
    scorer already tolerates. No Python.

    -> (doc_id, n_bigrams, avg_neg_logp)."""
    # the same tokenization/bigram unit as contamination and
    # dsir_importance (token_ngrams) — one construction to keep in sync.
    # cache: the narrow (doc_id, bg) frame feeds THREE consumers
    # (bigram counts, context counts, the scoring join); Catalyst does
    # not dedupe common subtrees (the common_neighbor_pairs lesson), so
    # without it the scan+explode runs once per consumer.
    bigrams = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(token_ngrams(F.col(text_col), 2)).alias("bg"))
    from lamapi_spark.pipeline.cache_registry import scoped_cache
    bigrams = scoped_cache(bigrams)
    bc = bigrams.groupBy("bg").agg(F.count("*").alias("cbg"))
    ctx = (bigrams
           .select(F.substring_index(F.col("bg"), " ", 1).alias("w1"))
           .groupBy("w1").agg(F.count("*").alias("cctx")))
    vocab = (docs.select(F.explode(
                 F.split(F.lower(F.trim(F.col(text_col))), r"\s+")).alias("tok"))
             .select("tok").distinct()
             .agg(F.count("*").alias("vocab")))
    scored = (
        bigrams.join(bc, "bg")
        .withColumn("w1", F.substring_index(F.col("bg"), " ", 1))
        .join(ctx, "w1")
        .crossJoin(F.broadcast(vocab))
        .withColumn("_nlp", F.bround(
            -F.log((F.col("cbg") + 1).cast("double")
                   / (F.col("cctx") + F.col("vocab")).cast("double")), 6))
    )
    return (
        scored.groupBy("doc_id").agg(
            F.count("*").alias("n_bigrams"),
            F.bround(F.sum(F.col("_nlp").cast("decimal(28,6)")).cast("double")
                     / F.count("*"), 4).alias("avg_neg_logp"))
    )


def _bucket48(gram: Column, n_buckets: int) -> Column:
    """md5-derived feature bucket in [0, n_buckets) — the hashed
    n-gram feature map over the shared h48 primitive."""
    return h48(gram) % n_buckets


def feature_grams(text: Column) -> Column:
    """The DSIR feature unit: unigram tokens + token bigrams as ONE
    array (a bag — occurrences, not distinct). Shared by the batch
    scorer (_hashed_features) and the streaming scorer
    (streaming/corpus.stream_dsir_score) so the two can never drift
    onto different feature spaces."""
    toks = F.split(F.lower(F.trim(text)), r"\s+")
    return F.concat(toks, token_ngrams(text, 2))


def _hashed_features(docs: DataFrame, id_col: str, text_col: str,
                     n_buckets: int) -> DataFrame:
    """(doc_id, bucket) per unigram+bigram OCCURRENCE (not distinct —
    the feature model is a bag)."""
    return (
        docs.select(F.col(id_col).alias("doc_id"),
                    F.explode(feature_grams(F.col(text_col))).alias("_g"))
        .select("doc_id", _bucket48(F.col("_g"), n_buckets).alias("bucket"))
    )


def dsir_importance(
    raw: DataFrame, target: DataFrame,
    id_col: str = "doc_id", text_col: str = "text",
    n_buckets: int = 1024,
) -> DataFrame:
    """DSIR-style importance weights for domain-targeted data selection
    (Xie et al. 2023, arXiv:2302.03169 — Data Selection via Importance
    Resampling): score every RAW document by how much more likely its
    hashed unigram+bigram bag is under the TARGET domain's feature
    distribution than under the raw corpus's own,
    log w(doc) = sum over feature occurrences of
    ln p_target(bucket) - ln p_raw(bucket), with add-one smoothing
    over the ``n_buckets`` hashed feature space. Resampling raw data
    with these weights (e.g. keep the top mass, or sample_hash against
    a sigmoid of the weight) tilts a web-scale corpus toward the
    target domain — the published recipe behind domain-matched
    pretraining subsets.

    Scale shape: both feature distributions collapse to <= n_buckets
    rows (one bounded-width aggregation each over the exploded grams),
    so BOTH ride broadcast joins and the scoring pass never shuffles
    document text — the only doc-keyed exchange is the final per-doc
    sum. This is why the feature space is hashed: the paper's 10^4
    buckets stay broadcastable no matter how large the corpora grow
    (raw token-level distributions would not). Dropping to n_buckets
    also caps the smoothing denominator, keeping every probability a
    rational of two corpus-wide integers.

    Engine parity: one ln-difference per occurrence rounded to 6
    decimals (a pure function of the four integers c_t, T_t, c_r,
    T_r), DECIMAL order-free sums — and NO final re-rounding: the sum
    is exact on the 1e-6 grid, so unlike the LM scorers (whose /count
    moves values off-grid) a coarser final round would sit on a
    half-way tie for ~1% of documents, and Spark's bround (shortest
    double repr -> HALF_EVEN) and DuckDB's round_even break such ties
    differently (found by the sf0.001 contract gate: -4.172850 ->
    -4.1728 vs -4.1729). The exact DECIMAL -> double cast is the same
    IEEE value in both engines.

    -> (doc_id, n_feats, log_ratio) per raw document; log_ratio > 0
    means target-like."""
    # raw_f feeds both the raw-count agg and the scoring join — cache
    # the narrow (doc_id, bucket) frame rather than re-exploding the
    # corpus (same two-consumer lesson as bigram_lm_score)
    from lamapi_spark.pipeline.cache_registry import scoped_cache
    raw_f = scoped_cache(_hashed_features(raw, id_col, text_col, n_buckets))
    tgt_f = _hashed_features(target, id_col, text_col, n_buckets)
    rc = raw_f.groupBy("bucket").agg(F.count("*").alias("cr"))
    tc = tgt_f.groupBy("bucket").agg(F.count("*").alias("ct"))
    rs = rc.agg(F.sum("cr").alias("tr"))
    ts = tc.agg(F.sum("ct").alias("tt"))
    scored = (
        raw_f.join(F.broadcast(rc), "bucket", "left")
        .join(F.broadcast(tc), "bucket", "left")
        .crossJoin(F.broadcast(rs)).crossJoin(F.broadcast(ts))
        .withColumn("_lr", F.bround(
            F.log((F.coalesce(F.col("ct"), F.lit(0)) + 1).cast("double")
                  / (F.col("tt") + n_buckets).cast("double"))
            - F.log((F.coalesce(F.col("cr"), F.lit(0)) + 1).cast("double")
                    / (F.col("tr") + n_buckets).cast("double")), 6))
    )
    return (
        scored.groupBy("doc_id").agg(
            F.count("*").alias("n_feats"),
            F.sum(F.col("_lr").cast("decimal(28,6)")).cast("double")
            .alias("log_ratio"))
    )


def dsir_model(
    raw: DataFrame, target: DataFrame,
    id_col: str = "doc_id", text_col: str = "text",
    n_buckets: int = 1024,
) -> DataFrame:
    """The OFFLINE half of DSIR serving: collapse both corpora into one
    per-bucket log-ratio table covering ALL ``n_buckets`` buckets
    (lr(b) = ln p_target(b) - ln p_raw(b), add-one smoothed, rounded to
    6 decimals — the exact per-occurrence value dsir_importance uses).
    A document's importance weight is then just the sum of lr over its
    feature occurrences, so any scorer — batch or a stateless stream —
    needs only this <= n_buckets-row frame, the same
    offline-state/online-probe split as streaming/kg.build_link_index
    and streaming/temporal.asof_state_table.

    Buckets absent from BOTH corpora still get a row (cr = ct = 0):
    a serving-time document may hash a novel feature anywhere, and a
    missing entry would silently drop its contribution.

    -> (bucket, lr)."""
    raw_f = _hashed_features(raw, id_col, text_col, n_buckets)
    tgt_f = _hashed_features(target, id_col, text_col, n_buckets)
    rc = raw_f.groupBy("bucket").agg(F.count("*").alias("cr"))
    tc = tgt_f.groupBy("bucket").agg(F.count("*").alias("ct"))
    rs = rc.agg(F.sum("cr").alias("tr"))
    ts = tc.agg(F.sum("ct").alias("tt"))
    spark = raw.sparkSession
    all_b = spark.range(n_buckets).select(F.col("id").cast("long").alias("bucket"))
    return (
        all_b.join(F.broadcast(rc), "bucket", "left")
        .join(F.broadcast(tc), "bucket", "left")
        .crossJoin(F.broadcast(rs)).crossJoin(F.broadcast(ts))
        .select(
            "bucket",
            F.bround(
                F.log((F.coalesce(F.col("ct"), F.lit(0)) + 1).cast("double")
                      / (F.col("tt") + n_buckets).cast("double"))
                - F.log((F.coalesce(F.col("cr"), F.lit(0)) + 1).cast("double")
                        / (F.col("tr") + n_buckets).cast("double")), 6)
            .alias("lr"))
    )


def split_by_group(
    df: DataFrame, group_col: str, val_bp: int = 1000,
    test_bp: int = 0, salt: str = "split0",
) -> DataFrame:
    """Leak-proof train/val(/test) assignment: the split is decided by
    a hash of the GROUP key (conversation, document source, user), so
    every row of a group lands in the same split — the guard against
    the classic leakage bug where rows of one conversation straddle
    train and eval. Basis points: val gets [0, val_bp), test
    [val_bp, val_bp+test_bp), train the rest.

    Pure per-row function of (group, salt) — the same auditability
    contract as stratified_sample: no shuffle, no RNG state,
    partition-independent, any row's verdict recomputable by anyone
    (including the DuckDB oracle). -> input columns + ``split``."""
    bp = sample_hash(F.col(group_col), salt)
    return df.withColumn(
        "split",
        F.when(bp < val_bp, F.lit("val"))
        .when(bp < val_bp + test_bp, F.lit("test"))
        .otherwise(F.lit("train")))


# ------------------------------------------------- sequence packing

def pack_sequences(docs: DataFrame, seq_len: int,
                   id_col: str = "doc_id", text_col: str = "text",
                   bucket_width: int = 4096) -> DataFrame:
    """GPT-style sequence packing: concatenate every document's tokens
    into ONE deterministic global stream (doc_id order) and cut it
    into fixed ``seq_len`` training chunks — the standard pretraining
    batch layout (docs cross chunk boundaries; no padding waste).
    Token unit: the repo's BPE-ish regex count (\\w+ runs or single
    non-space punctuation, ops/textstats.py:token_counts). Returns one
    row per (chunk, doc) slice:

      chunk_id, doc_id, doc_off (first token of the slice within the
      doc), chunk_off (its position within the chunk), len (tokens).

    Every chunk except the last covers exactly seq_len tokens; every
    doc's slices cover exactly its tokens (pytest-pinned invariants).
    Zero-token docs carry nothing into the stream and emit no rows.

    Scale shape — the classic two-level scan (Blelloch), NOT a global
    window (a single-task sort at 10^10 docs): (1) per-bucket token
    totals (bucket = doc_id // bucket_width; tiny aggregate), (2) an
    exclusive prefix sum over the bucket-totals frame — the only
    serial step, #docs/bucket_width fixed-width rows, (3) broadcast
    the bucket offsets back and take a WITHIN-bucket cumulative window
    (parallel across buckets; the shuffle moves only (doc_id,
    n_tokens) ints, never text), (4) per-doc chunk-range explode via
    sequence() — a doc longer than seq_len spans multiple chunks with
    no special case. Everything downstream is exact integer
    arithmetic, so the DuckDB oracle reproduces every row."""
    n_tok = F.size(F.regexp_extract_all(
        F.col(text_col), F.lit(r"(\w+|[^\w\s])"), 0)).cast("long")
    d = (docs.select(F.col(id_col).alias("doc_id"), n_tok.alias("n_tokens"))
         .filter(F.col("n_tokens") > 0)
         .withColumn("bucket", F.floor(F.col("doc_id") / F.lit(bucket_width))))

    per_bucket = d.groupBy("bucket").agg(F.sum("n_tokens").alias("_bn"))
    w_pref = (Window.orderBy("bucket")
              .rowsBetween(Window.unboundedPreceding, -1))
    pref = per_bucket.select(
        "bucket",
        F.coalesce(F.sum("_bn").over(w_pref), F.lit(0)).alias("_boff"))

    w_loc = (Window.partitionBy("bucket").orderBy("doc_id")
             .rowsBetween(Window.unboundedPreceding, -1))
    d2 = (d.join(F.broadcast(pref), "bucket")
          .withColumn("off", F.col("_boff") + F.coalesce(
              F.sum("n_tokens").over(w_loc), F.lit(0))))

    first_c = F.floor(F.col("off") / seq_len)
    last_c = F.floor((F.col("off") + F.col("n_tokens") - 1) / seq_len)
    ex = d2.withColumn("chunk_id", F.explode(F.sequence(first_c, last_c)))
    start = F.greatest(F.col("off"), F.col("chunk_id") * seq_len)
    end = F.least(F.col("off") + F.col("n_tokens"),
                  (F.col("chunk_id") + 1) * seq_len)
    return ex.select(
        F.col("chunk_id").cast("long").alias("chunk_id"),
        "doc_id",
        (start - F.col("off")).cast("long").alias("doc_off"),
        (start - F.col("chunk_id") * seq_len).cast("long").alias("chunk_off"),
        (end - start).cast("long").alias("len"),
    )


def pack_chunks(docs: DataFrame, seq_len: int,
                id_col: str = "doc_id", text_col: str = "text",
                bucket_width: int = 4096) -> DataFrame:
    """Materialize the packed training sequences themselves:
    (chunk_id, n_docs, tokens array<string>) — each chunk's seq_len
    tokens assembled from the pack_sequences slice map. The join back
    to text is by doc_id (no text ever rides the prefix-sum shuffle);
    each doc is tokenized ONCE and sliced per overlapping chunk, and
    the per-chunk assembly is a sort_array(collect_list) over at most
    seq_len tokens' worth of slices — bounded state per group by
    construction (a chunk holds exactly seq_len tokens, however many
    docs contribute)."""
    slices = pack_sequences(docs, seq_len, id_col=id_col,
                            text_col=text_col, bucket_width=bucket_width)
    toks = docs.select(
        F.col(id_col).alias("doc_id"),
        F.regexp_extract_all(F.col(text_col),
                             F.lit(r"(\w+|[^\w\s])"), 0).alias("_toks"))
    j = (slices.join(toks, "doc_id")
         .select("chunk_id", "chunk_off", "len",
                 F.slice("_toks", F.col("doc_off").cast("int") + 1,
                         F.col("len").cast("int")).alias("_part")))
    return (j.groupBy("chunk_id")
            .agg(F.count("*").cast("long").alias("n_docs"),
                 F.flatten(F.sort_array(F.collect_list(
                     F.struct("chunk_off", "_part"))).getField("_part"))
                 .alias("tokens")))


# --------------------------------------- temperature mixture sampling

def temperature_rates(docs: DataFrame, group_col: str = "lang",
                      target_frac: float = 0.25) -> DataFrame:
    """Temperature-flattened mixture rates — the multilingual sampling
    step of XLM-R / mT5 (alpha-sampling, p_g proportional to n_g^alpha):
    small groups are upweighted relative to their share so the head
    language does not drown the tail. Alpha is FIXED at 0.5 (sqrt):
    the one exponent whose float op is correctly-rounded IEEE in every
    engine (pow's libm rounding is not), keeping the rates — and
    therefore the sample — bit-reproducible in the DuckDB oracle.

    Returns (group, n, rate_bp): basis-point keep-rates such that the
    expected kept total is target_frac * N, distributed by sqrt share,
    capped at 10000 (a filter cannot upsample past 1.0; the cap mass
    is NOT redistributed — documented deviation, keeps every rate a
    closed-form function of the counts). The float chain is fixed
    order: denom folds sqrt(n_g) in group-lex order over a 1-row
    collected frame (groups are few BY DEFINITION of a mixture;
    the fold is the same 0.0-seeded left fold DuckDB's list_reduce
    computes), then one bround per group."""
    counts = docs.groupBy(F.col(group_col).alias("grp")).agg(
        F.count("*").cast("long").alias("n"))
    stats = counts.agg(
        F.aggregate(
            F.sort_array(F.collect_list(F.struct(
                "grp", F.sqrt(F.col("n").cast("double")).alias("s")))),
            F.lit(0.0), lambda acc, e: acc + e["s"]).alias("denom"),
        F.sum("n").alias("total"))
    rate = F.bround(
        ((F.lit(10000.0) * F.lit(float(target_frac))
          * F.col("total").cast("double"))
         * (F.sqrt(F.col("n").cast("double")) / F.col("denom")))
        / F.col("n").cast("double"), 0).cast("long")
    return (counts.crossJoin(F.broadcast(stats))
            .select(F.col("grp").alias(group_col), "n",
                    F.least(F.lit(10000).cast("long"), rate).alias("rate_bp")))


def temperature_sample(docs: DataFrame, group_col: str = "lang",
                       key_col: str = "doc_id",
                       target_frac: float = 0.25) -> DataFrame:
    """Apply temperature_rates: keep a row iff its md5 sampling
    coordinate falls under its group's rate — deterministic, partition-
    independent, pure function of (key, salt) like stratified_sample."""
    rates = temperature_rates(docs, group_col, target_frac)
    return (docs.join(F.broadcast(rates), group_col)
            .filter(sample_hash(F.col(key_col)) < F.col("rate_bp")))


def ccnet_buckets(docs: DataFrame, group_col: str = "lang",
                  id_col: str = "doc_id",
                  text_col: str = "text") -> DataFrame:
    """CCNet-style per-language perplexity bucketing (Wenzek et al.
    2020, "CCNet: Extracting High Quality Monolingual Datasets from
    Web Crawl Data"): score every document with the corpus-LM
    perplexity proxy (unigram_lm_score), then split EACH language into
    head / middle / tail thirds by score rank — head is the
    best-scoring third, the slice the published pipelines keep for
    pretraining, tail the candidate discard.

    Buckets are RANK-based (rank*3 vs n integer comparisons on a
    (score, doc_id)-ordered row_number), not threshold-based — exact
    tertiles, deterministic under ties, and engine-reproducible, where
    CCNet's float thresholds would put boundary documents at the mercy
    of quantile interpolation differences. Scale shape: scoring is
    unigram_lm_score's two aggregations; bucketing is ONE per-language
    window (CCNet itself sorts per language). A corpus too large to
    sort per language takes thresholds from a stratified_sample of
    scores instead — same comparisons, documented approximation.

    -> (doc_id, <group_col>, n_tokens, avg_neg_logp, ppl_bucket)."""
    scored = unigram_lm_score(docs, id_col=id_col, text_col=text_col)
    meta = docs.select(F.col(id_col).alias("doc_id"),
                       F.col(group_col))
    s = scored.join(meta, "doc_id")
    w = Window.partitionBy(group_col).orderBy("avg_neg_logp", "doc_id")
    n = Window.partitionBy(group_col)
    return (s
            .withColumn("_rk", F.row_number().over(w))
            .withColumn("_n", F.count("*").over(n))
            .select(
                "doc_id", group_col, "n_tokens", "avg_neg_logp",
                F.when(F.col("_rk") * 3 <= F.col("_n"), F.lit("head"))
                .when(F.col("_rk") * 3 <= F.col("_n") * 2, F.lit("middle"))
                .otherwise(F.lit("tail")).alias("ppl_bucket")))


def to_lines(docs: DataFrame, words_per_line: int = 6,
             id_col: str = "doc_id",
             text_col: str = "text") -> DataFrame:
    """(doc_id, line_idx, line): the corpus as fixed-width token lines
    — the line synthesis the contract corpus needs because its
    documents carry no newlines (real web text passes '\\n'-split
    lines straight in; this shim exists so the line operators stay
    testable on the sandbox tables). Pure array expressions."""
    toks = F.split(F.trim(F.col(text_col)), r"\s+")
    w = words_per_line
    # ceil(n/w) lines; split() never returns an empty array, so the
    # sequence upper bound is always >= 0
    n_lines = F.floor((F.size(toks) + F.lit(w - 1)) / F.lit(w)).cast("int")
    lines = F.transform(
        F.sequence(F.lit(0), n_lines - 1),
        lambda i: F.array_join(F.slice(toks, i * w + 1, w), " "))
    return (docs.select(F.col(id_col).alias("doc_id"),
                        F.posexplode(lines).alias("line_idx", "line")))


def c4_line_clean(lines: DataFrame, min_words: int = 3,
                  blocklist: tuple[str, ...] = ()) -> DataFrame:
    """C4-style line-level cleaning (Raffel et al. 2020, the T5
    corpus recipe) + corpus-global exact line dedup: drop lines with
    fewer than ``min_words`` words or containing a blocklisted word,
    then keep only the FIRST corpus occurrence of every surviving
    line (C4 dedups any repeated three-sentence span; the unit here
    is the line row), and reassemble documents from their surviving
    lines. First = min (doc_id, line_idx) — an argmin, deterministic
    under any partitioning, not an arrival-order survivor.

    Scale shape: the filter is a stateless scan; the dedup is ONE
    min_by aggregation keyed on the line's md5 (fixed-width key, no
    line text on the shuffle) joined back to the kept rows; the
    reassembly is one per-doc aggregation that sorts each doc's
    bounded (line_idx, line) array in place. Documents whose every
    line is dropped still emit a row (empty text) — the caller's
    drop-or-keep policy stays visible.

    -> (doc_id, text_clean, n_kept, n_dropped_filter, n_dropped_dup)."""
    words = F.split(F.col("line"), r"\s+")
    block = F.lit(False)
    for w in blocklist:
        block = block | F.array_contains(words, w)
    tagged = lines.withColumn(
        "_filt_ok", (F.size(words) >= min_words) & ~block)
    ok = tagged.filter(F.col("_filt_ok"))
    first = (ok.groupBy(F.md5(F.col("line")).alias("_h"))
             .agg(F.min(F.struct("doc_id", "line_idx")).alias("_first")))
    kept = (ok.join(first,
                    F.md5(F.col("line")) == F.col("_h"))
            .withColumn("_is_first",
                        (F.col("doc_id") == F.col("_first.doc_id"))
                        & (F.col("line_idx") == F.col("_first.line_idx"))))
    per_doc_kept = (kept.filter(F.col("_is_first"))
                    .groupBy("doc_id")
                    .agg(F.array_join(
                        F.transform(
                            F.array_sort(F.collect_list(
                                F.struct("line_idx", "line"))),
                            lambda s: s["line"]), " ").alias("text_clean"),
                        F.count("*").alias("n_kept")))
    stats = (kept.groupBy("doc_id")
             .agg(F.sum(F.when(~F.col("_is_first"), 1).otherwise(0))
                  .cast("long").alias("n_dropped_dup")))
    filt = (tagged.groupBy("doc_id")
            .agg(F.sum(F.when(~F.col("_filt_ok"), 1).otherwise(0))
                 .cast("long").alias("n_dropped_filter")))
    return (filt
            .join(stats, "doc_id", "left")
            .join(per_doc_kept, "doc_id", "left")
            .select(
                "doc_id",
                F.coalesce("text_clean", F.lit("")).alias("text_clean"),
                F.coalesce("n_kept", F.lit(0)).cast("long").alias("n_kept"),
                "n_dropped_filter",
                F.coalesce("n_dropped_dup", F.lit(0)).cast("long")
                .alias("n_dropped_dup")))


def domain_cap(docs: DataFrame, cap: int,
               domain_col: str = "source", id_col: str = "doc_id",
               salt: str = "domcap") -> DataFrame:
    """Per-domain document cap (the RefinedWeb/C4 anti-monoculture
    rule: no single site may dominate the corpus): keep at most
    ``cap`` documents per domain, chosen by md5 draw — an unbiased
    per-domain sample, deterministic, partition-independent, every
    verdict recomputable from (id, salt) like stratified_sample.

    ONE per-domain window ordered by the 48-bit draw (doc_id breaks
    the ~never-occurring hash ties); a domain too hot to sort ranks
    within md5 sub-buckets first (the negative_samples trick).

    -> input columns + kept_rank for the survivors only."""
    w = Window.partitionBy(domain_col).orderBy(
        h48(F.concat(F.col(id_col).cast("string"), F.lit("|" + salt))),
        F.col(id_col))
    return (docs.withColumn("kept_rank", F.row_number().over(w))
            .filter(F.col("kept_rank") <= cap))


def chunk_documents(docs: DataFrame, size: int = 256, stride: int = 192,
                    id_col: str = "doc_id",
                    text_col: str = "text") -> DataFrame:
    """RAG-style sliding-window chunking: split each document into
    token windows of ``size`` starting every ``stride`` tokens
    (stride < size gives the standard overlap that keeps answers from
    straddling a boundary). Distinct from pack_chunks — packing fills
    fixed training sequences ACROSS documents; retrieval chunking
    windows WITHIN one document and never mixes documents.

    Tokens are the pack regex ``(\\w+|[^\\w\\s])``; chunk_text rejoins
    with single spaces (a documented normalization — retrieval chunks
    feed an embedder, not a detokenizer). Window starts are 0, stride,
    2*stride, ... while start < n_tokens, so every token is covered
    and a trailing window may be short; empty/null text yields no
    rows. -> (doc_id, chunk_idx, tok_start, n_tokens, chunk_text).

    Scale shape: pure column expressions (regexp_extract_all,
    sequence, posexplode, slice, array_join) — a narrow map over the
    one corpus scan, no shuffle, no Python; fan-out is bounded at
    ceil(n/stride) rows per doc.
    """
    toks = docs.select(
        F.col(id_col).alias("doc_id"),
        F.regexp_extract_all(F.col(text_col),
                             F.lit(r"(\w+|[^\w\s])"), 0).alias("_toks"))
    n = F.size("_toks")
    starts = F.sequence(F.lit(0), n - 1, F.lit(stride))
    return (
        toks.filter(n > 0)
        .select("doc_id", "_toks",
                F.posexplode(starts).alias("chunk_idx", "tok_start"))
        .select(
            "doc_id", F.col("chunk_idx").cast("int").alias("chunk_idx"),
            F.col("tok_start").cast("int").alias("tok_start"),
            F.least(F.lit(size),
                    F.size("_toks") - F.col("tok_start"))
            .cast("int").alias("n_tokens"),
            F.array_join(F.slice("_toks", F.col("tok_start") + 1,
                                 F.lit(size)), " ").alias("chunk_text"))
    )


def weighted_sample(docs: DataFrame, weight_col: str, k: int,
                    key_col: str = "doc_id", salt: str = "ws0",
                    n_salts: int = 32) -> DataFrame:
    """Weighted sampling WITHOUT replacement (Efraimidis-Spirakis
    exponential keys): keep the k rows with smallest
    draw = -ln(u)/w, u a deterministic md5 uniform in (0, 1] of
    (key, salt) — each row's inclusion probability tracks its weight
    (quality score, DSIR importance, ...), and the whole sample is a
    pure function of (key set, weights, salt): partition- and
    arrival-order-independent, reproducible across engines.

    stratified_sample keeps an INDEPENDENT coin per row (expected
    rates, no size guarantee); this draws an EXACT-size sample biased
    by weight — the "take the best-ish 1M docs" selection step.

    Engine parity: u is exact ((h48+1)/2^48), the division and ln ride
    the usual round_even(. , 9) before ranking so libm ulp differences
    cannot flip the cut (BM25's ln discipline); ties break by key
    ascending. Non-positive/null weights are excluded (zero weight
    must mean zero probability; -ln(u)/0 is undefined).

    Scale shape: the global top-k runs the salted two-phase pattern
    (per-salt-group top-k first — balanced md5 salt, n_salts
    partitions — then one window over <= n_salts*k survivors), so no
    single reducer ever sees the corpus. -> input row + (draw) for the
    k sampled rows.
    """
    from lamapi_spark.functions.hashing import h48

    u = (h48(F.concat(F.col(key_col).cast("string"), F.lit("|" + salt)))
         + F.lit(1).cast("double")) / F.lit(float(2 ** 48))
    base = (docs.filter(F.col(weight_col).isNotNull()
                        & (F.col(weight_col) > 0))
            .withColumn("draw", F.bround(
                -F.log(u) / F.col(weight_col).cast("double"), 9)))
    order = [F.asc("draw"), F.asc(key_col)]
    w1 = Window.partitionBy(
        F.pmod(F.xxhash64(F.col(key_col)), F.lit(n_salts))).orderBy(*order)
    w2 = Window.partitionBy().orderBy(*order)
    return (base.withColumn("_r1", F.row_number().over(w1))
            .filter(F.col("_r1") <= k)
            .withColumn("_r2", F.row_number().over(w2))
            .filter(F.col("_r2") <= k)
            .drop("_r1", "_r2"))


def kn_lm_score(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text",
    discount: float = 0.75,
) -> DataFrame:
    """Interpolated Kneser-Ney bigram score (Chen & Goodman 1999) — the
    production smoothing next to the add-one bigram scorer:

        P(w2 | w1) = (max(c(w1 w2) - d, 0)
                      + d * N1+(w1 .) * Pcont(w2)) / c_ctx(w1)
        Pcont(w2)  = N1+(. w2) / n_bigram_types

    The continuation probability is the KN insight add-one smoothing
    cannot express: a word seen after MANY distinct contexts ("york"
    after only "new" vs "the" after everything) gets continuation mass
    by context DIVERSITY, not raw frequency — the difference between
    template boilerplate and fluent prose at corpus scale. d = 0.75
    (the standard discount) is dyadic, so every term is an exact
    binary float of corpus integers.

    Engine parity: identical discipline to bigram_lm_score — each
    position's probability is a fixed-order arithmetic expression over
    six corpus integers, one ln rounded half-even to 6 dp, DECIMAL
    order-free per-document sum, bround'ed average. Scoring the
    training corpus itself means every bigram has c >= 1, so the
    discounted term stays positive and p in (0, 1].

    Scale shape: FIVE aggregations (bigram counts, context counts, two
    distinct-neighbor counts off the already-distinct bigram frame,
    the per-doc score) and three count joins keyed on w1/w2/bigram —
    map-side combined, skew bounded by the unigram hot keys the LM
    family already tolerates; n_bigram_types rides a 1-row broadcast.

    -> (doc_id, n_bigrams, avg_neg_logp); sub-2-token docs omitted."""
    d = discount
    bigrams = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(token_ngrams(F.col(text_col), 2)).alias("bg"))
    from lamapi_spark.pipeline.cache_registry import scoped_cache
    bigrams = scoped_cache(bigrams)
    bc = bigrams.groupBy("bg").agg(F.count("*").alias("cbg"))
    ctx = (bigrams
           .select(F.substring_index(F.col("bg"), " ", 1).alias("w1"))
           .groupBy("w1").agg(F.count("*").alias("cctx")))
    # distinct-successor / distinct-predecessor counts come off the
    # DISTINCT bigram frame bc (one row per type), not the occurrences
    n1f = (bc.select(F.substring_index(F.col("bg"), " ", 1).alias("w1"))
           .groupBy("w1").agg(F.count("*").alias("n1f")))
    n1b = (bc.select(F.substring_index(F.col("bg"), " ", -1).alias("w2"))
           .groupBy("w2").agg(F.count("*").alias("n1b")))
    nbt = bc.agg(F.count("*").alias("nbt"))
    p = (
        (F.greatest(F.col("cbg") - F.lit(d), F.lit(0.0))
         + F.lit(d) * F.col("n1f") * (F.col("n1b") / F.col("nbt")))
        / F.col("cctx")
    )
    scored = (
        bigrams.join(bc, "bg")
        .withColumn("w1", F.substring_index(F.col("bg"), " ", 1))
        .withColumn("w2", F.substring_index(F.col("bg"), " ", -1))
        .join(ctx, "w1").join(n1f, "w1").join(n1b, "w2")
        .crossJoin(F.broadcast(nbt))
        .withColumn("_nlp", F.bround(-F.log(p), 6))
    )
    return (
        scored.groupBy("doc_id").agg(
            F.count("*").alias("n_bigrams"),
            F.bround(F.sum(F.col("_nlp").cast("decimal(28,6)")).cast("double")
                     / F.count("*"), 4).alias("avg_neg_logp"))
    )


def collocations_g2(docs: DataFrame, text_col: str = "text",
                    min_count: int = 5) -> DataFrame:
    """Bigram collocation mining by Dunning's log-likelihood ratio
    (Dunning 1993) — the significance-aware twin of graph_edge_pmi's
    pointwise score: PMI over-ranks rare pairs (two hapaxes that
    co-occur once get maximal PMI); G2 weighs the evidence MASS, which
    is what a phrase-vocabulary/tokenizer-merge pipeline actually
    wants. Reference analogue: none; builder's-brief corpus surface
    beside the LM-score family.

    For each adjacent bigram (w1, w2) with count c12, first-position
    count c1 = sum over w of c(w1, w), second-position count c2, and
    N total bigram tokens, the 2x2 contingency G2 in the xlogx form:

        g2 = 2*( xlx(k11)+xlx(k12)+xlx(k21)+xlx(k22)
                 - xlx(c1) - xlx(N-c1) - xlx(c2) - xlx(N-c2)
                 + xlx(N) ),   xlx(x) = x*ln(x), xlx(0) = 0

    with k11 = c12, k12 = c1-c12, k21 = c2-c12, k22 = N-c1-c2+c12.
    Every count is an exact BIGINT; g2 is ONE fixed-association-order
    float expression (the LM-family parity discipline), half-even
    6 dp.

    Scale shape: bigrams built IN-ROW (token_ngrams — no token
    explode), one (w1, w2) count agg; both marginals are second aggs
    OVER THE BIGRAM COUNTS (hot words cost one cell per partition,
    never a re-scan of the text), joined back on their word key; N is
    a 1-row broadcast. ``min_count`` prunes the tail BEFORE the
    marginal joins. -> (w1, w2, c12, c1, c2, n, g2).
    """
    grams = docs.select(F.explode(
        token_ngrams(F.col(text_col), 2)).alias("g"))
    split = F.split(F.col("g"), " ", 2)
    pairs = (grams.select(split.getItem(0).alias("w1"),
                          split.getItem(1).alias("w2"))
             .groupBy("w1", "w2").agg(F.count("*").alias("c12")))
    left = pairs.groupBy("w1").agg(F.sum("c12").alias("c1"))
    right = pairs.groupBy("w2").agg(F.sum("c12").alias("c2"))
    total = pairs.agg(F.sum("c12").alias("n"))
    base = (pairs.filter(F.col("c12") >= int(min_count))
            .join(left, "w1").join(right, "w2")
            .join(F.broadcast(total)))
    xlx = lambda x: F.when(x > 0, x.cast("double")
                           * F.log(x.cast("double"))).otherwise(F.lit(0.0))
    k11 = F.col("c12")
    k12 = F.col("c1") - F.col("c12")
    k21 = F.col("c2") - F.col("c12")
    k22 = F.col("n") - F.col("c1") - F.col("c2") + F.col("c12")
    g2 = 2.0 * (xlx(k11) + xlx(k12) + xlx(k21) + xlx(k22)
                - xlx(F.col("c1")) - xlx(F.col("n") - F.col("c1"))
                - xlx(F.col("c2")) - xlx(F.col("n") - F.col("c2"))
                + xlx(F.col("n")))
    return base.select("w1", "w2", "c12", "c1", "c2", "n",
                       F.bround(g2, 6).alias("g2"))


def rake_keywords(docs: DataFrame, id_col: str = "doc_id",
                  text_col: str = "text", k: int = 3) -> DataFrame:
    """Per-document RAKE keyword phrases (Rose et al. 2010). TextRank
    needs a token graph; RAKE needs only the document's own stopword
    structure, and it returns PHRASES (candidate = maximal
    stopword-free token run), which is what a KG-construction
    pipeline wants as surface forms. Reference analogue: none.

    Conventions pinned: the shared eval tokenization (whitespace
    tokens of the trimmed lowercase text); candidates are maximal
    runs between functions/strings.STOPWORDS hits; word stats count
    every CANDIDATE OCCURRENCE (freq = occurrences, deg = sum of the
    containing run's length — co-occurrence including self); word
    score = bround(deg/freq, 9); a DISTINCT phrase's score is the
    DECIMAL(28,9) sum of its word scores (duplicate words in a phrase
    count per occurrence); top-k per document, ties (score desc,
    phrase asc).

    Scale shape: the run split is IN-ROW (mark stopwords, rejoin,
    split — no fold); one (doc, word) agg, one (doc, word)-keyed join
    back to the distinct-phrase words, one (doc, phrase) agg, and the
    top-k window partitioned BY DOCUMENT — every exchange is
    doc-keyed, nothing global. -> one row per kept phrase
    (doc_id, phrase, n_words, score, rk).
    """
    from lamapi_spark.functions.strings import STOPWORDS

    t = F.trim(F.lower(F.col(text_col)))
    toks = (F.when(F.length(t) > 0, F.split(t, r"\s+"))
            .otherwise(F.array().cast("array<string>")))
    stop_arr = F.array(*[F.lit(s) for s in sorted(STOPWORDS)])
    # Out-of-band run separator: \x01 cannot be produced by the
    # whitespace tokenization of any printable text, so a token that
    # contains a literal '|' no longer fragments its phrase (the
    # oracle uses the same marker).
    marked = F.transform(
        toks, lambda w: F.when(F.array_contains(stop_arr, w),
                               F.lit("\x01")).otherwise(w))
    runs = F.filter(F.split(F.concat_ws(" ", marked), "\\s*\x01\\s*"),
                    lambda p: F.length(p) > 0)
    occ = (docs.select(F.col(id_col).alias("doc_id"),
                       F.explode(runs).alias("phrase")))
    occ_w = occ.select(
        "doc_id", F.size(F.split("phrase", " ")).alias("plen"),
        F.explode(F.split("phrase", " ")).alias("w"))
    ws = (occ_w.groupBy("doc_id", "w")
          .agg(F.count("*").alias("freq"), F.sum("plen").alias("deg"))
          .select("doc_id", "w",
                  F.bround(F.col("deg").cast("double") / F.col("freq"),
                           9).alias("wscore")))
    cand = occ.distinct()
    cw = cand.select("doc_id", "phrase",
                     F.explode(F.split("phrase", " ")).alias("w"))
    scored = (cw.join(ws, ["doc_id", "w"])
              .groupBy("doc_id", "phrase")
              .agg(F.count("*").alias("n_words"),
                   F.sum(F.col("wscore").cast("decimal(28,9)"))
                   .cast("double").alias("score")))
    w = Window.partitionBy("doc_id").orderBy(
        F.col("score").desc(), F.col("phrase").asc())
    return (scored.withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") <= k))


def ngram_novelty(gen: DataFrame, train: DataFrame,
                  id_col: str = "doc_id", text_col: str = "text",
                  n: int = 3) -> DataFrame:
    """Per-document n-gram novelty of a GENERATED corpus against a
    TRAINING corpus: the fraction of each generated document's token
    n-gram occurrences never seen in training — the
    memorization/novelty audit run on synthetic or model-generated
    data before it re-enters a training mix (novelty ~ 0 means the
    generator is replaying its corpus; the inverse view of
    contamination(), which asks whether EVAL data leaked INTO
    training). Reference analogue: none; builder's-brief corpus
    surface beside contamination / dedup_substring_spans.

    Conventions: the shared eval tokenization; occurrences counted
    (a repeated novel gram counts every time); documents with fewer
    than ``n`` tokens have no grams and emit nothing; novelty =
    bround(n_novel / n_grams, 6), the ONE float division.

    Scale shape: grams are an in-row slice loop per side (no
    per-level rescan); the generated side pre-aggregates to
    (doc, gram, cnt) so a hot gram appears once per doc; the training
    side is a DISTINCT gram set; ONE gram-keyed left join decides
    novelty, then a doc-keyed agg — no driver state, no broadcast of
    an unbounded side. -> one row per generated doc with >= 1 gram
    (doc_id, n_grams, n_novel, novelty).
    """
    def grams(d: DataFrame, keep_id: bool):
        t = F.trim(F.lower(F.col(text_col)))
        toks = (F.when(F.length(t) > 0, F.split(t, r"\s+"))
                .otherwise(F.array().cast("array<string>")))
        k = F.size(toks) - (n - 1)
        arr = F.when(k >= 1, F.transform(
            F.sequence(F.lit(1), k),
            lambda i: F.concat_ws(" ", F.slice(toks, i, n)))
        ).otherwise(F.array().cast("array<string>"))
        cols = ([F.col(id_col).alias("doc_id")] if keep_id else [])
        return d.select(*cols, F.explode(arr).alias("gram"))

    gg = (grams(gen, True).groupBy("doc_id", "gram")
          .agg(F.count("*").alias("cnt")))
    tg = grams(train, False).distinct().withColumn("_seen", F.lit(1))
    j = gg.join(tg, "gram", "left")
    return (j.groupBy("doc_id")
            .agg(F.sum("cnt").alias("n_grams"),
                 F.sum(F.when(F.col("_seen").isNull(), F.col("cnt"))
                       .otherwise(F.lit(0))).alias("n_novel"))
            .select("doc_id", "n_grams", "n_novel",
                    F.bround(F.col("n_novel").cast("double")
                             / F.col("n_grams"), 6).alias("novelty")))
