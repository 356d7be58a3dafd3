"""Deduplication operators for large-scale training-data pipelines.

All hashing is md5-based so results are engine-portable (the DuckDB
oracles use the identical construction) and cluster-deterministic — no
JVM hashCode, no Python hash randomization.

- exact: md5(content) group-by, keep min id (one shuffle on the hash —
  uniformly distributed, no skew).
- MinHash + LSH: word-k-shingles -> n minhashes (min over md5(seed|s))
  -> bands of r -> band-bucket self-join for candidate pairs. At scale
  the band join is the only shuffle and buckets are the classic skew
  point: near-identical boilerplate docs collapse into one bucket —
  cap bucket size (drop buckets above a threshold) exactly like
  production dedup pipelines do.
- SimHash: 60-bit signature from per-token md5-derived integers;
  near-dup = small Hamming distance (bit_count(xor)).
- n-gram Jaccard: shared-shingle prefilter join -> exact Jaccard on
  shingle sets.
- embedding near-dup: decimal-exact cosine (see ops/similarity.py).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def exact_dedup(df: DataFrame, content_col: str, id_col: str) -> DataFrame:
    """-> (content_hash, keep_id, group_size): canonical row per distinct
    content + how many rows collapsed into it."""
    return (
        df.select(F.md5(F.col(content_col)).alias("content_hash"), F.col(id_col))
        .groupBy("content_hash")
        .agg(F.min(id_col).alias("keep_id"), F.count("*").alias("group_size"))
    )


def word_shingles(text: Column | str, k: int = 3) -> Column:
    """Distinct word k-shingles of a lowercased text column."""
    text = F.col(text) if isinstance(text, str) else text
    toks = F.split(F.lower(text), " ")
    n = F.size(toks)
    return F.array_distinct(
        F.filter(
            F.transform(
                F.sequence(F.lit(1), F.greatest(n - (k - 1), F.lit(1))),
                lambda i: F.concat_ws(" ", F.slice(toks, i, k)),
            ),
            lambda s: F.size(F.split(s, " ")) == k,
        )
    )


def minhash_signature(shingles: Column, n_hashes: int = 16) -> Column:
    """Array of n minhashes: element j = min(md5('<j>|' || shingle)).
    md5-on-string keeps Spark and any SQL oracle bit-identical.

    NB: the seed must be bound via a closure factory — a two-parameter
    lambda (``lambda s, j=j``) would be interpreted by F.transform as
    (element, index) and silently receive the array index as ``j``.
    """
    def hasher(j: int):
        return lambda s: F.md5(F.concat(F.lit(f"{j}|"), s))

    return F.array(*[
        F.array_min(F.transform(shingles, hasher(j))) for j in range(n_hashes)
    ])


def lsh_band_keys(signature: Column, n_bands: int, rows_per_band: int) -> Column:
    """Array of band keys: md5 of the concatenated minhashes per band."""
    return F.array(*[
        F.md5(F.concat_ws("|", *[
            F.element_at(signature, b * rows_per_band + r + 1)
            for r in range(rows_per_band)
        ]))
        for b in range(n_bands)
    ])


def minhash_lsh_pairs(
    df: DataFrame, id_col: str, text_col: str,
    k_shingle: int = 3, n_hashes: int = 16,
    n_bands: int = 4, max_bucket: int = 1000,
) -> DataFrame:
    """Candidate near-dup pairs (id_a < id_b) sharing >= 1 LSH band,
    with ``sig_agree`` = fraction of agreeing minhashes (Jaccard
    estimate). ``max_bucket`` drops degenerate hot buckets (skew guard)."""
    rows_per_band = n_hashes // n_bands
    sig = (
        df.select(F.col(id_col).alias("id"), F.col(text_col).alias("text"))
        .withColumn("shingles", word_shingles("text", k_shingle))
        .filter(F.size("shingles") > 0)
        .withColumn("sig", minhash_signature(F.col("shingles"), n_hashes))
        .select("id", "sig",
                F.posexplode(lsh_band_keys(F.col("sig"), n_bands, rows_per_band))
                .alias("band", "band_key"))
    )
    # skew guard: drop buckets larger than max_bucket
    sized = sig.withColumn(
        "_bucket_n", F.count("*").over(Window.partitionBy("band", "band_key")))
    sized = sized.filter(F.col("_bucket_n") <= max_bucket).drop("_bucket_n")

    a = sized.select("band", "band_key", F.col("id").alias("id_a"), F.col("sig").alias("sig_a"))
    b = sized.select("band", "band_key", F.col("id").alias("id_b"), F.col("sig").alias("sig_b"))
    pairs = (
        a.join(b, ["band", "band_key"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "sig_a", "sig_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    agree = F.size(F.filter(
        F.zip_with("sig_a", "sig_b", lambda x, y: x == y), lambda m: m))
    return pairs.select(
        "id_a", "id_b",
        F.bround(agree / F.size("sig_a"), 3).alias("sig_agree"),
    )


def ngram_jaccard_pairs(
    df: DataFrame, id_col: str, text_col: str,
    k_shingle: int = 3, threshold: float = 0.5,
    max_df: int = 1000,
) -> DataFrame:
    """Exact shingle-Jaccard near-dup pairs above ``threshold``, with a
    shared-shingle equi-join prefilter (only pairs sharing >= 1 shingle
    are ever scored — the standard candidate-generation trick).

    ``max_df`` is the hot-shingle guard: a shingle occurring in more than
    ``max_df`` documents is dropped from CANDIDATE GENERATION (scoring
    still uses the full shingle sets). Without it one boilerplate shingle
    shared by 10^6 docs yields 10^12 candidate pairs — the same skew
    blowup the MinHash path guards with ``max_bucket``. Recall caveat: a
    pair sharing ONLY hot shingles is missed; for threshold >= 0.5 such a
    pair needs most of its shingles hot, i.e. it is boilerplate — exactly
    what production dedup DF-pruning (e.g. suffix-array filters) drops.
    """
    sh = (
        df.select(F.col(id_col).alias("id"), word_shingles(text_col, k_shingle).alias("sh"))
        .filter(F.size("sh") > 0)
    )
    ex = sh.select("id", F.explode("sh").alias("s"))
    ex = (
        ex.withColumn("_df", F.count("*").over(Window.partitionBy("s")))
        .filter(F.col("_df") <= max_df).drop("_df")
    )
    cand = (
        ex.alias("x").join(ex.alias("y"), "s")
        .filter(F.col("x.id") < F.col("y.id"))
        .select(F.col("x.id").alias("id_a"), F.col("y.id").alias("id_b"))
        .distinct()
    )
    scored = (
        cand
        .join(sh.select(F.col("id").alias("id_a"), F.col("sh").alias("sh_a")), "id_a")
        .join(sh.select(F.col("id").alias("id_b"), F.col("sh").alias("sh_b")), "id_b")
        .withColumn(
            "jaccard",
            F.bround(
                F.size(F.array_intersect("sh_a", "sh_b"))
                / F.size(F.array_union("sh_a", "sh_b")), 3),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )
    return scored


def substring_dup_spans(
    df: DataFrame, id_col: str, text_col: str,
    k: int = 5, min_count: int = 2,
) -> DataFrame:
    """Exact substring dedup: maximal duplicated token spans per
    document — the suffix-array-style training-data operator ("dedup
    the repeated PASSAGES, not the documents"; reference analogue:
    none — builder's-brief surface). A token position is *duplicated*
    when the k-token gram starting there occurs >= ``min_count`` times
    CORPUS-WIDE (including repeats within the same document). The
    duplicated region of a doc is the union of those k-token windows;
    this returns its maximal contiguous spans:

    -> (doc_id, start, ntoken_span) — ``start`` 1-based token offset;
    every token in the span lies in >= 1 corpus-duplicated k-gram, and
    spans are maximal (the next dup window starts > k tokens after the
    previous, else they'd merge).

    Scale shape: one explode to (doc, pos, md5(gram)) rows; the gram
    count is a partial-agg groupBy on the uniform md5 key; duplicated
    positions come back via a left-semi join on that key (build side is
    one row per DISTINCT dup gram — no hot-key blowup however often a
    boilerplate gram repeats); then ONE exchange collects each doc's
    dup positions and the spans resolve in-array in O(n): boundary
    indices via an indexed filter (each element looks back one), then
    one transform over the (few) boundaries with O(1) element lookups
    — no per-element prefix sums, no second window exchange (BENCH.md
    plan lessons #5/#7). Arrays are bounded by per-doc DUP-position
    count <= token count.
    """
    toks = F.split(F.lower(F.col(text_col)), " ")
    base = (
        df.select(F.col(id_col).alias("doc_id"), toks.alias("_t"))
        .filter(F.size("_t") >= k)
    )
    grams = base.select(
        "doc_id",
        F.explode(F.transform(
            F.sequence(F.lit(1), F.size("_t") - (k - 1)),
            lambda i: F.struct(
                i.alias("pos"),
                F.md5(F.concat_ws(" ", F.slice("_t", i, k))).alias("gram")),
        )).alias("g"),
    ).select("doc_id", "g.pos", "g.gram")
    dup = (
        grams.groupBy("gram").agg(F.count("*").alias("_n"))
        .filter(F.col("_n") >= min_count).select("gram")
    )
    dpos = grams.join(dup, "gram", "left_semi")
    per_doc = dpos.groupBy("doc_id").agg(
        F.sort_array(F.collect_list("pos")).alias("_ps"))
    # windows [p, p+k-1] of successive dup positions overlap or touch
    # iff the position gap is <= k, so islands split where gap > k
    with_b = per_doc.withColumn("_b", F.expr(
        f"filter(sequence(0, size(_ps)-1), i -> i = 0 OR _ps[i] - _ps[i-1] > {k})"))
    return (
        with_b.select("doc_id", F.explode(F.expr(f"""
          transform(_b, (s, j) -> named_struct(
            'start', _ps[s],
            'ntoken_span',
            _ps[CASE WHEN j = size(_b)-1 THEN size(_ps)-1 ELSE _b[j+1]-1 END]
              - _ps[s] + {k}))
        """)).alias("r"))
        .select("doc_id", F.col("r.start").cast("int").alias("start"),
                F.col("r.ntoken_span").cast("int").alias("ntoken_span"))
    )


def substring_dup_stats(
    df: DataFrame, id_col: str, text_col: str,
    k: int = 5, min_count: int = 2,
) -> DataFrame:
    """Per-document duplicated-token budget from the maximal spans of
    ``substring_dup_spans``: the standard "drop documents whose
    duplicated fraction exceeds X" training-data filter.

    -> (doc_id, ntokens, dup_tokens, dup_fraction) for EVERY input doc
    (docs with no corpus-duplicated k-gram emit 0 / 0.0, including docs
    shorter than k tokens). Spans within a doc are disjoint and maximal
    by construction, so their length sum IS the dup-token count.

    Scale shape: the span plan plus one per-doc partial-agg sum and a
    left join back to the (doc_id, ntokens) projection — both sides
    keyed on doc_id, no new wide columns shuffle.
    """
    spans = substring_dup_spans(df, id_col, text_col, k=k, min_count=min_count)
    dup = spans.groupBy("doc_id").agg(
        F.sum("ntoken_span").cast("int").alias("dup_tokens"))
    ntok = df.select(
        F.col(id_col).alias("doc_id"),
        F.size(F.split(F.lower(F.col(text_col)), " ")).alias("ntokens"))
    return (
        ntok.join(dup, "doc_id", "left")
        .withColumn("dup_tokens", F.coalesce("dup_tokens", F.lit(0)))
        .withColumn("dup_fraction",
                    F.bround(F.col("dup_tokens") / F.col("ntokens"), 3))
    )


def token_hash60(token: Column) -> Column:
    """Deterministic 60-bit integer from a token: first 15 hex chars of
    md5 parsed base-16 (engine-portable)."""
    return F.conv(F.substring(F.md5(token), 1, 15), 16, 10).cast("long")


def hamming_pairs(
    sig: DataFrame, bits: int,
    max_hamming: int = 3, n_bands: int = 4, max_bucket: int = 1000,
) -> DataFrame:
    """Near-dup pairs (id_a < id_b) by Hamming distance <= ``max_hamming``
    over any fixed-width bit signature, such as the 60-bit text SimHash.

    ``sig``: (id, sim:bigint). Banded-prefix blocking: the signature
    splits into ``n_bands`` contiguous bit bands; by pigeonhole, two
    signatures within Hamming distance d < n_bands agree EXACTLY on at
    least one band, so an equi-join per band finds every qualifying pair
    (lossless for max_hamming <= n_bands - 1). Candidates verify with
    bit_count(a XOR b). ``max_bucket`` drops degenerate hot buckets
    (all-identical boilerplate) exactly like the MinHash guard. Sign-safe
    for 64-bit signatures: the arithmetic shiftright's sign-extension is
    masked off per band, and bit_count(xor) is sign-agnostic.
    """
    if max_hamming > n_bands - 1:
        raise ValueError("banding is lossless only for max_hamming <= n_bands - 1")
    if bits % n_bands != 0:
        raise ValueError("bits must divide evenly into n_bands")
    bits_per_band = bits // n_bands
    mask = (1 << bits_per_band) - 1
    banded = sig.select(
        "id", "sim",
        F.posexplode(F.array(*[
            F.shiftright("sim", b * bits_per_band).bitwiseAND(F.lit(mask))
            for b in range(n_bands)
        ])).alias("band", "band_key"),
    )
    banded = (
        banded.withColumn(
            "_n", F.count("*").over(Window.partitionBy("band", "band_key")))
        .filter(F.col("_n") <= max_bucket).drop("_n")
    )
    a = banded.select("band", "band_key", F.col("id").alias("id_a"), F.col("sim").alias("sim_a"))
    b = banded.select("band", "band_key", F.col("id").alias("id_b"), F.col("sim").alias("sim_b"))
    return (
        a.join(b, ["band", "band_key"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b"))).alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
        .dropDuplicates(["id_a", "id_b"])
    )


def simhash_pairs(
    df: DataFrame, id_col: str, text_col: str,
    max_hamming: int = 3, n_bands: int = 4, max_bucket: int = 1000,
) -> DataFrame:
    """Near-dup pairs by text-SimHash Hamming distance — the pairing
    stage that makes SimHash usable as a dedup path (signature
    computation alone finds nothing). See :func:`hamming_pairs` for the
    banding/losslessness argument."""
    toks = F.array_distinct(F.split(F.lower(F.col(text_col)), " "))
    sig = df.select(F.col(id_col).alias("id"), simhash60(toks).alias("sim"))
    return hamming_pairs(sig, bits=60, max_hamming=max_hamming,
                         n_bands=n_bands, max_bucket=max_bucket)


def dedup_clusters(
    df: DataFrame, pairs: DataFrame, id_col: str = "doc_id",
    max_iter: int = 15,
) -> DataFrame:
    """Near-dup pairs -> duplicate CLUSTERS: (doc_id, canonical_id,
    cluster_size), the decision stage that turns any pairing operator's
    output into an actual keep/drop verdict (keep = doc_id ==
    canonical_id, the component minimum; reference analogue: none — the
    reference is a lookup service; this is builder's-brief training-data
    surface).

    ``pairs`` is (id_a, id_b) from any of the pairing stages (SimHash /
    MinHash-LSH / n-gram Jaccard / embedding cosine) —
    transitive closure matters because near-dup is not transitive: A~B
    and B~C must collapse into ONE cluster or the survivor set still
    contains a near-dup pair. Components come from the same iterative
    hash-min propagation the entity canonicalizer uses
    (pipeline/canonicalize.py — one shuffle per iteration, O(diameter)
    iterations). Near-dup clusters are template groups, i.e. dense
    quasi-cliques with tiny diameter, so the loop converges in 2-3
    iterations; a pathological long-chain graph would need the
    alternating star variant, which nothing in this corpus shape ever
    produces. Singletons (docs in no pair) canonicalize to themselves
    via the left join + coalesce, NOT by feeding the CC loop — the
    propagation frame stays proportional to the PAIRED docs only.

    cluster_size counts every member (singletons = 1) with one window
    over the canonical key — same single shuffle a groupBy+join would
    take, without the second scan.
    """
    from lamapi_spark.pipeline.canonicalize import connected_components

    edges = pairs.select(F.col("id_a").alias("a"), F.col("id_b").alias("b"))
    comp = connected_components(edges, max_iter=max_iter).withColumnRenamed(
        "entity", "doc_id")
    labeled = (
        df.select(F.col(id_col).alias("doc_id"))
        .join(comp, "doc_id", "left")
        .select("doc_id", F.coalesce("component", "doc_id").alias("canonical_id"))
    )
    return labeled.select(
        "doc_id", "canonical_id",
        F.count("*").over(Window.partitionBy("canonical_id")).alias("cluster_size"),
    )


def simhash60(tokens: Column) -> Column:
    """60-bit SimHash over a token array: bit b is set when the sum of
    (+1/-1) votes of each token's hash bit b is positive."""
    hashes = F.transform(tokens, token_hash60)
    def bit_vote(b: int) -> Column:
        return F.aggregate(
            hashes, F.lit(0),
            lambda acc, h: acc + (F.shiftright(h, b).bitwiseAND(F.lit(1)) * 2 - 1).cast("int"),
        )
    return F.aggregate(
        F.array(*[
            F.when(bit_vote(b) > 0, F.lit(1).cast("long") * (2 ** b)).otherwise(F.lit(0).cast("long"))
            for b in range(60)
        ]),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )


def fuzzy_contamination(
    train: DataFrame, eval_df: DataFrame,
    id_col: str = "doc_id", text_col: str = "text",
    k_shingle: int = 3, n_hashes: int = 16, n_bands: int = 4,
    threshold: float = 0.5, max_bucket: int = 1000,
) -> DataFrame:
    """Fuzzy cross-corpus decontamination — the near-duplicate
    companion to corpus.contamination's exact n-gram check (paraphrased
    or lightly edited benchmark items slip past exact grams; this is
    the MinHash sweep the published pipelines run alongside it): flag
    every TRAIN document whose estimated Jaccard similarity to ANY eval
    document reaches ``threshold``.

    Same machinery as minhash_lsh_pairs, but a CROSS-corpus band join
    (train side x eval side — never train x train), so cost scales with
    band-bucket co-occupancy, not |train| x |eval|. The verdict keeps
    the best-matching eval doc for auditability.

    -> one row per train doc with >= 1 banded eval candidate at or
    above threshold: (doc_id, eval_id, sig_agree) — argmax by
    (sig_agree, lowest eval_id). Clean docs emit nothing (compose with
    a left anti-join to keep them)."""
    rows_per_band = n_hashes // n_bands

    def sigs(df, tag):
        return (
            df.select(F.col(id_col).alias(f"{tag}_id"),
                      F.col(text_col).alias("text"))
            .withColumn("sh", word_shingles("text", k_shingle))
            .filter(F.size("sh") > 0)
            .withColumn(f"{tag}_sig", minhash_signature(F.col("sh"), n_hashes))
            .select(f"{tag}_id", f"{tag}_sig",
                    F.posexplode(lsh_band_keys(F.col(f"{tag}_sig"), n_bands,
                                               rows_per_band))
                    .alias("band", "band_key"))
        )

    t = sigs(train, "t")
    e = sigs(eval_df, "e")
    if max_bucket is not None:
        e = (e.withColumn("_bn", F.count("*").over(
                 Window.partitionBy("band", "band_key")))
             .filter(F.col("_bn") <= max_bucket).drop("_bn"))
    cand = (
        t.join(e, ["band", "band_key"])
        .select("t_id", "t_sig", "e_id", "e_sig")
        .dropDuplicates(["t_id", "e_id"])
    )
    agree = F.size(F.filter(
        F.zip_with("t_sig", "e_sig", lambda x, y: x == y), lambda m: m))
    scored = (cand
              .withColumn("sig_agree", F.bround(agree / F.size("t_sig"), 3))
              .filter(F.col("sig_agree") >= threshold))
    # argmax per train doc: best sig_agree, lowest eval id on ties
    return (
        scored.groupBy(F.col("t_id").alias("doc_id"))
        .agg(F.max(F.struct(F.col("sig_agree"),
                            (-F.col("e_id")).alias("ne"))).alias("_m"))
        .select("doc_id", (-F.col("_m.ne")).alias("eval_id"),
                F.col("_m.sig_agree").alias("sig_agree"))
    )


def containment_pairs(
    df: DataFrame, id_col: str, text_col: str,
    k_shingle: int = 3, threshold: float = 0.8,
    max_df: int = 1000,
) -> DataFrame:
    """ASYMMETRIC shingle containment — doc-in-doc detection:

        cont(A in B) = |S(A) & S(B)| / |S(A)|

    A quote, excerpt, or boilerplate-wrapped copy of A inside a much
    larger B scores near 1.0 on containment while its symmetric Jaccard
    (inter/union) stays low — the case every training-data dedup pass
    misses if it only runs the symmetric family. Emits each unordered
    pair once (id_a < id_b) with BOTH directions' containment when
    either direction reaches ``threshold``; the consumer keeps the
    longer side and drops the contained one.

    Candidate generation, hot-shingle guard (``max_df``) and the recall
    caveat are shared verbatim with ngram_jaccard_pairs: only pairs
    sharing >= 1 non-hot shingle are scored, scoring uses full sets.
    The threshold compares the half-even-ROUNDED value (3 dp) so the
    survivor set is engine-portable. -> (id_a, id_b, inter, cont_a,
    cont_b)."""
    sh = (
        df.select(F.col(id_col).alias("id"),
                  word_shingles(text_col, k_shingle).alias("sh"))
        .filter(F.size("sh") > 0)
    )
    ex = sh.select("id", F.explode("sh").alias("s"))
    ex = (
        ex.withColumn("_df", F.count("*").over(Window.partitionBy("s")))
        .filter(F.col("_df") <= max_df).drop("_df")
    )
    cand = (
        ex.alias("x").join(ex.alias("y"), "s")
        .filter(F.col("x.id") < F.col("y.id"))
        .select(F.col("x.id").alias("id_a"), F.col("y.id").alias("id_b"))
        .distinct()
    )
    return (
        cand
        .join(sh.select(F.col("id").alias("id_a"), F.col("sh").alias("sh_a")),
              "id_a")
        .join(sh.select(F.col("id").alias("id_b"), F.col("sh").alias("sh_b")),
              "id_b")
        .withColumn("inter", F.size(F.array_intersect("sh_a", "sh_b")))
        .withColumn("cont_a", F.bround(F.col("inter") / F.size("sh_a"), 3))
        .withColumn("cont_b", F.bround(F.col("inter") / F.size("sh_b"), 3))
        .filter(F.greatest("cont_a", "cont_b") >= threshold)
        .select("id_a", "id_b", "inter", "cont_a", "cont_b")
    )
