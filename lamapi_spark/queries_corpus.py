"""Round-4 corpus-preparation contract queries: Unicode normalization,
benchmark contamination, deterministic mixture sampling, unigram-LM
scoring, IVF ANN, RAKE keywords and n-gram novelty — each paired with a
DuckDB oracle that rebuilds the full dataflow independently (registered
into the queries.py registry like queries_ops)."""

from __future__ import annotations

from pyspark.sql import functions as F

from lamapi_spark.ops.corpus import (
    contamination, normalize_text, sample_hash, stratified_sample,
    unigram_lm_score,
)
from lamapi_spark.ops.similarity import ivf_ann_topk
from lamapi_spark.queries import load, register
from lamapi_spark.queries_ops import (
    _DOT_SQL, _EMBED_PLANT_SQL, planted_embeddings,
)

# --------------------------------------------------------- normalization

# Planted-normalization corpus: the synthetic documents are ASCII-clean,
# so the contract query augments them deterministically from doc_id with
# exactly the dirt normalize_text exists to remove — a decomposed
# combining acute (NFC recomposes), a BEL control char (stripped), a tab
# (whitespace-collapsed), and padding/double spaces (collapsed+trimmed).
# The identical CASE runs in both engines; the oracle still re-runs NFC
# (DuckDB's own implementation) and both regex stages itself.
_NORM_AUG_SQL = (
    "CASE WHEN doc_id % 4 = 0 THEN text || ' cafe' || chr(769) "
    "WHEN doc_id % 4 = 1 THEN text || chr(9) || 'x' || chr(7) || 'y' "
    "WHEN doc_id % 4 = 2 THEN '  ' || text || '  tail   end ' "
    "ELSE text END"
)


def _norm_aug_col():
    did = F.col("doc_id")
    return (
        F.when(did % 4 == 0, F.concat(F.col("text"), F.lit(" cafe\u0301")))
        .when(did % 4 == 1, F.concat(F.col("text"), F.lit("\tx\x07y")))
        .when(did % 4 == 2, F.concat(F.lit("  "), F.col("text"),
                                     F.lit("  tail   end ")))
        .otherwise(F.col("text"))
    )


@register("text_normalize", f"""
WITH aug AS (SELECT doc_id, {_NORM_AUG_SQL} AS t FROM documents),
norm AS (SELECT doc_id,
       trim(regexp_replace(regexp_replace(nfc_normalize(t),
            '[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F]', '', 'g'),
            '\\s+', ' ', 'g')) AS n
FROM aug)
SELECT doc_id, md5(n) AS norm_hash, length(n)::INT AS n_chars_norm
FROM norm ORDER BY doc_id
""")
def text_normalize(spark, sf):
    """NFC normalization + control strip + whitespace collapse over the
    planted-dirt corpus. Two INDEPENDENT NFC implementations must agree
    on every document (Python unicodedata in the Arrow stage vs
    DuckDB's nfc_normalize); the regex stages are written for Java/RE2
    parity (explicit control-char class; DuckDB needs the 'g' flag for
    Spark's replace-all semantics)."""
    norm = normalize_text(_norm_aug_col())
    return (
        load(spark, sf, "documents")
        .select("doc_id", F.md5(norm).alias("norm_hash"),
                F.length(norm).alias("n_chars_norm"))
        .orderBy("doc_id")
    )


# ---------------------------------------------------------- contamination

_CONTAM_N = 4
_TOKS_SQL = r"string_split_regex(lower(trim(text)), '\s+')"
_GRAMS_SQL = (
    f"CASE WHEN len(toks) >= {_CONTAM_N} THEN "
    f"list_distinct(list_transform(range(1, len(toks) - {_CONTAM_N} + 2), "
    f"i -> array_to_string(toks[i:i+{_CONTAM_N}-1], ' '))) "
    "ELSE []::VARCHAR[] END"
)


@register("contamination_check", f"""
WITH t AS (SELECT doc_id, {_TOKS_SQL} AS toks FROM documents),
g AS (SELECT doc_id, unnest({_GRAMS_SQL}) AS gram FROM t),
e AS (SELECT DISTINCT gram FROM g WHERE doc_id % 11 = 0),
tr AS (SELECT g.doc_id, count(*) AS n_grams,
              count(e.gram) AS n_overlap
       FROM g LEFT JOIN e ON e.gram = g.gram
       WHERE g.doc_id % 11 <> 0 GROUP BY g.doc_id)
SELECT doc_id, n_grams, n_overlap, n_overlap > 0 AS contaminated
FROM tr ORDER BY doc_id
""")
def contamination_check(spark, sf):
    """Benchmark-decontamination sweep: token 4-gram overlap of every
    train document (doc_id % 11 != 0) against the eval slice
    (doc_id % 11 = 0). The oracle rebuilds gram explosion, the distinct
    eval-gram set, and both counts."""
    docs = load(spark, sf, "documents")
    return (
        contamination(docs.filter(F.col("doc_id") % 11 != 0),
                      docs.filter(F.col("doc_id") % 11 == 0), n=_CONTAM_N)
        .orderBy("doc_id")
    )


# -------------------------------------------------------------- sampling

_MIX_RATES = {"en": 0.7, "fr": 0.5, "de": 0.25, "zh": 0.1}
_MIX_DEFAULT = 0.05  # es and anything unexpected

_RATE_CASE = "CASE lang " + " ".join(
    f"WHEN '{v}' THEN {int(round(r * 10000))}"
    for v, r in sorted(_MIX_RATES.items())
) + f" ELSE {int(round(_MIX_DEFAULT * 10000))} END"


@register("sample_mixture", f"""
SELECT doc_id, lang,
       (('0x' || substr(md5(doc_id::VARCHAR || '|s0'), 1, 8))::BIGINT
        % 10000)::INT AS sample_bp
FROM documents
WHERE ('0x' || substr(md5(doc_id::VARCHAR || '|s0'), 1, 8))::BIGINT
      % 10000 < {_RATE_CASE}
ORDER BY doc_id
""")
def sample_mixture(spark, sf):
    """Deterministic mixture-weighted sampling by language (the
    training-mixture step): keep iff md5(doc_id|salt)-derived basis
    points fall under the stratum's rate. The oracle recomputes every
    row's hash coordinate and verdict; the sample is a pure function of
    (doc_id, salt), independent of partitioning."""
    docs = load(spark, sf, "documents")
    kept = stratified_sample(docs, "lang", _MIX_RATES,
                             key_col="doc_id", default_rate=_MIX_DEFAULT)
    return (
        kept.select("doc_id", "lang",
                    sample_hash(F.col("doc_id")).cast("int").alias("sample_bp"))
        .orderBy("doc_id")
    )


# ----------------------------------------------------------- LM scoring


@register("unigram_lm_score", r"""
WITH toks AS (
  SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\s+')) AS tok
  FROM documents),
counts AS (SELECT tok, count(*) AS c FROM toks GROUP BY tok),
stats AS (SELECT sum(c)::BIGINT AS total, count(*)::BIGINT AS vocab
          FROM counts),
scored AS (
  SELECT t.doc_id,
         round_even(-ln((c.c + 1)::DOUBLE / (s.total + s.vocab)::DOUBLE),
                    6)::DECIMAL(28,6) AS nlp
  FROM toks t JOIN counts c ON t.tok = c.tok CROSS JOIN stats s)
SELECT doc_id, count(*) AS n_tokens,
       round_even(sum(nlp)::DOUBLE / count(*), 4) AS avg_neg_logp
FROM scored GROUP BY doc_id ORDER BY doc_id
""")
def unigram_lm_q(spark, sf):
    """Corpus-as-LM quality score: add-one-smoothed unigram
    probabilities from corpus-wide counts, per-document mean negative
    log-probability. Engine parity: per-token round-even at 6 decimals,
    DECIMAL (exact, order-free) sums, final divide in double — see
    ops/corpus.unigram_lm_score."""
    return unigram_lm_score(load(spark, sf, "documents")).orderBy("doc_id")


# --------------------------------------------------------------- IVF ANN

_IVF_CELLS, _IVF_PROBE, _IVF_K = 8, 2, 3

_COS = ("{d} / (sqrt({da}) * sqrt({db}))".format(
    d=_DOT_SQL.format(a="{a}", b="{b}"),
    da=_DOT_SQL.format(a="{a}", b="{a}"),
    db=_DOT_SQL.format(a="{b}", b="{b}")))

_IVF_SQL = f"""
WITH picked AS (
  SELECT vec_id, embedding,
         ('0x' || substr(md5(vec_id::VARCHAR), 1, 8))::BIGINT AS hk
  FROM embeddings ORDER BY hk, vec_id LIMIT {_IVF_CELLS}),
cent AS (
  SELECT row_number() OVER (ORDER BY hk, vec_id) AS cell,
         embedding AS c_vec
  FROM picked),
assign AS (
  SELECT id, cell FROM (
    SELECT e.vec_id AS id, ct.cell,
           row_number() OVER (PARTITION BY e.vec_id
               ORDER BY {_COS.format(a='e.embedding', b='ct.c_vec')} DESC,
                        ct.cell) AS r
    FROM embeddings e CROSS JOIN cent ct) WHERE r = 1),
probes AS (
  SELECT id AS q_id, cell FROM (
    SELECT e.vec_id AS id, ct.cell,
           row_number() OVER (PARTITION BY e.vec_id
               ORDER BY {_COS.format(a='e.embedding', b='ct.c_vec')} DESC,
                        ct.cell) AS r
    FROM embeddings e CROSS JOIN cent ct WHERE e.vec_id < 5)
  WHERE r <= {_IVF_PROBE}),
scored AS (
  SELECT p.q_id, a.id AS n_id,
         {_COS.format(a='eq.embedding', b='ec.embedding')} AS cosine
  FROM probes p JOIN assign a ON a.cell = p.cell AND a.id <> p.q_id
  JOIN embeddings eq ON eq.vec_id = p.q_id
  JOIN embeddings ec ON ec.vec_id = a.id)
SELECT q_id, n_id, cosine,
       row_number() OVER (PARTITION BY q_id
                          ORDER BY cosine DESC, n_id) AS rnk
FROM scored QUALIFY rnk <= {_IVF_K} ORDER BY q_id, rnk
"""


@register("embed_ann_ivf", _IVF_SQL)
def embed_ann_ivf(spark, sf):
    """IVF ANN (the data-adaptive scale path next to embed_ann_lsh):
    md5-ranked medoid centroids, nearest-cell inverted file, 2-cell
    probes, exact ranked cosine within probed cells. The oracle
    rebuilds the complete structure — medoid pick, every assignment
    argmin, the probe set, and the ranked scan — so the whole index is
    hash-checked, not just the final distances."""
    emb = load(spark, sf, "embeddings")
    return (
        ivf_ann_topk(emb.filter(F.col("vec_id") < 5), emb,
                     k=_IVF_K, n_cells=_IVF_CELLS, n_probe=_IVF_PROBE)
        .orderBy("q_id", "rnk")
    )


# ----------------------------------------------------- semantic dedup

_SEMDD_CELLS, _SEMDD_THRESH = 8, 0.98

_SEMDD_SQL = f"""
WITH corpus AS (
{{plant}}
), picked AS (
  SELECT id, embedding,
         ('0x' || substr(md5(id::VARCHAR), 1, 8))::BIGINT AS hk
  FROM corpus ORDER BY hk, id LIMIT {_SEMDD_CELLS}),
cent AS (
  SELECT row_number() OVER (ORDER BY hk, id) AS cell, embedding AS c_vec
  FROM picked),
assign AS (
  SELECT id, cell::INT AS cell FROM (
    SELECT e.id, ct.cell,
           row_number() OVER (PARTITION BY e.id
               ORDER BY {{cos_ec}} DESC, ct.cell) AS r
    FROM corpus e CROSS JOIN cent ct) WHERE r = 1),
pairs AS (
  SELECT * FROM (
    SELECT a.id AS id_a, b.id AS id_b,
           {{cos_ab}} AS cosine
    FROM (SELECT c.id, c.embedding, s.cell FROM corpus c JOIN assign s ON s.id = c.id) a
    JOIN (SELECT c.id, c.embedding, s.cell FROM corpus c JOIN assign s ON s.id = c.id) b
      ON a.cell = b.cell AND a.id < b.id)
  WHERE cosine >= {_SEMDD_THRESH}),
dups AS (SELECT id_b, min(id_a) AS dup_of FROM pairs GROUP BY id_b),
dupc AS (
  SELECT d.id_b, d.dup_of, p.cosine
  FROM dups d JOIN pairs p ON p.id_b = d.id_b AND p.id_a = d.dup_of)
SELECT a.id AS id, a.cell,
       dupc.id_b IS NOT NULL AS dropped,
       dupc.dup_of AS dup_of,
       round_even(dupc.cosine, 6) AS dup_cos
FROM assign a LEFT JOIN dupc ON a.id = dupc.id_b
ORDER BY id
""".format(
    plant=_EMBED_PLANT_SQL,
    cos_ec=_COS.format(a="e.embedding", b="ct.c_vec"),
    cos_ab=_COS.format(a="a.embedding", b="b.embedding"),
)


@register("dedup_semantic", _SEMDD_SQL)
def dedup_semantic(spark, sf):
    """SemDeDup over the planted near-dup corpus (ops/similarity.py:
    semantic_dedup): md5-medoid IVF cells, within-cell exact-cosine
    pairs >= 0.98, keep-lowest-id verdict per vector. The oracle
    rebuilds the ENTIRE structure — medoid pick, every cell assignment,
    the within-cell pair join, the argmin dup choice — so cluster
    membership and every keep/drop verdict are value-hash-checked.
    Every planted copy (id + 1000000) must be dropped with dup_of = its
    original (cosine ~0.999 vs a 0.51 max between distinct vectors)."""
    from lamapi_spark.ops.similarity import semantic_dedup

    corpus = planted_embeddings(spark, sf)
    return (
        semantic_dedup(corpus, "vec_id", "embedding",
                       threshold=_SEMDD_THRESH, n_cells=_SEMDD_CELLS)
        .orderBy("id")
    )


# ------------------------------------------------------- bigram LM

@register("bigram_lm_score", r"""
WITH ts AS (
  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS ts
  FROM documents),
bg AS (
  SELECT doc_id,
         unnest(list_transform(range(1, len(ts)), i -> ts[i] || ' ' || ts[i+1])) AS bg
  FROM ts),
bc AS (SELECT bg, count(*) AS cbg FROM bg GROUP BY bg),
ctx AS (SELECT split_part(bg, ' ', 1) AS w1, count(*) AS cctx
        FROM bg GROUP BY split_part(bg, ' ', 1)),
vocab AS (SELECT count(DISTINCT tok)::BIGINT AS vocab
          FROM (SELECT unnest(ts) AS tok FROM ts)),
scored AS (
  SELECT b.doc_id,
         round_even(-ln((bc.cbg + 1)::DOUBLE / (ctx.cctx + v.vocab)::DOUBLE),
                    6)::DECIMAL(28,6) AS nlp
  FROM bg b
  JOIN bc ON bc.bg = b.bg
  JOIN ctx ON ctx.w1 = split_part(b.bg, ' ', 1)
  CROSS JOIN vocab v)
SELECT doc_id, count(*)::BIGINT AS n_bigrams,
       round_even(sum(nlp)::DOUBLE / count(*), 4) AS avg_neg_logp
FROM scored GROUP BY doc_id ORDER BY doc_id
""")
def bigram_lm_q(spark, sf):
    """Corpus-as-LM bigram fluency score (ops/corpus.py:
    bigram_lm_score): add-one-smoothed P(w_i | w_{i-1}) from
    corpus-wide bigram and context counts, per-document mean negative
    log-probability over bigram positions — the context-aware
    companion to unigram_lm_score with the same per-position
    rounding + DECIMAL-sum parity discipline."""
    from lamapi_spark.ops.corpus import bigram_lm_score

    return bigram_lm_score(load(spark, sf, "documents")).orderBy("doc_id")


# ----------------------------------------------------- DSIR importance

_DSIR_BUCKETS = 1024

@register("dsir_importance", rf"""
WITH toks AS (
  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS ts
  FROM documents),
feats AS (
  SELECT doc_id, ('0x' || substr(md5(g), 1, 12))::BIGINT % {_DSIR_BUCKETS} AS bucket
  FROM (
    SELECT doc_id, unnest(list_concat(ts,
      list_transform(range(1, len(ts)), i -> ts[i] || ' ' || ts[i+1]))) AS g
    FROM toks)),
rawf AS (SELECT * FROM feats WHERE doc_id % 11 <> 0),
tgtf AS (SELECT * FROM feats WHERE doc_id % 11 = 0),
rc AS (SELECT bucket, count(*) AS cr FROM rawf GROUP BY bucket),
tc AS (SELECT bucket, count(*) AS ct FROM tgtf GROUP BY bucket),
rs AS (SELECT sum(cr)::BIGINT AS tr FROM rc),
tsx AS (SELECT sum(ct)::BIGINT AS tt FROM tc),
scored AS (
  SELECT f.doc_id,
         round_even(ln((coalesce(tc.ct, 0) + 1)::DOUBLE / (tt + {_DSIR_BUCKETS})::DOUBLE)
                  - ln((coalesce(rc.cr, 0) + 1)::DOUBLE / (tr + {_DSIR_BUCKETS})::DOUBLE),
                  6)::DECIMAL(28,6) AS lr
  FROM rawf f LEFT JOIN rc USING (bucket) LEFT JOIN tc USING (bucket)
  CROSS JOIN rs CROSS JOIN tsx)
SELECT doc_id, count(*)::BIGINT AS n_feats,
       sum(lr)::DOUBLE AS log_ratio
FROM scored GROUP BY doc_id ORDER BY doc_id
""")
def dsir_importance_q(spark, sf):
    """DSIR importance weights (ops/corpus.py:dsir_importance): hashed
    unigram+bigram feature log-ratio of every raw document
    (doc_id % 11 != 0) against the target slice (doc_id % 11 = 0, the
    same split as contamination_check). The oracle re-derives the
    hashed feature map, both smoothed distributions, and every
    per-occurrence ln difference."""
    from lamapi_spark.ops.corpus import dsir_importance

    docs = load(spark, sf, "documents")
    return (
        dsir_importance(docs.filter(F.col("doc_id") % 11 != 0),
                        docs.filter(F.col("doc_id") % 11 == 0),
                        n_buckets=_DSIR_BUCKETS)
        .orderBy("doc_id")
    )


@register("dsir_model", rf"""
WITH toks AS (
  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS ts
  FROM documents),
feats AS (
  SELECT doc_id, ('0x' || substr(md5(g), 1, 12))::BIGINT % {_DSIR_BUCKETS} AS bucket
  FROM (
    SELECT doc_id, unnest(list_concat(ts,
      list_transform(range(1, len(ts)), i -> ts[i] || ' ' || ts[i+1]))) AS g
    FROM toks)),
rc AS (SELECT bucket, count(*) AS cr FROM feats WHERE doc_id % 11 <> 0 GROUP BY bucket),
tc AS (SELECT bucket, count(*) AS ct FROM feats WHERE doc_id % 11 = 0 GROUP BY bucket),
rs AS (SELECT sum(cr)::BIGINT AS tr FROM rc),
tsx AS (SELECT sum(ct)::BIGINT AS tt FROM tc)
SELECT b.bucket,
       round_even(ln((coalesce(tc.ct, 0) + 1)::DOUBLE / (tt + {_DSIR_BUCKETS})::DOUBLE)
                - ln((coalesce(rc.cr, 0) + 1)::DOUBLE / (tr + {_DSIR_BUCKETS})::DOUBLE),
                6) AS lr
FROM (SELECT unnest(range({_DSIR_BUCKETS}))::BIGINT AS bucket) b
LEFT JOIN rc ON rc.bucket = b.bucket
LEFT JOIN tc ON tc.bucket = b.bucket
CROSS JOIN rs CROSS JOIN tsx
ORDER BY b.bucket
""")
def dsir_model_q(spark, sf):
    """The DSIR serve model (ops/corpus.py:dsir_model): the all-bucket
    per-feature log-ratio table the stateless streaming scorer probes —
    offline state under the same hash gate as the scorer itself. The
    oracle rebuilds every bucket's smoothed ratio including the
    zero-count buckets the raw corpus never touched."""
    from lamapi_spark.ops.corpus import dsir_model

    docs = load(spark, sf, "documents")
    return (
        dsir_model(docs.filter(F.col("doc_id") % 11 != 0),
                   docs.filter(F.col("doc_id") % 11 == 0),
                   n_buckets=_DSIR_BUCKETS)
        .orderBy("bucket")
    )


# ------------------------------------------------- JL random projection

_JL_SCALE = 0.35355339059327373  # 1/sqrt(out_dims), identical literal in both engines

@register("embed_jl_project", f"""
WITH wts AS (
  SELECT p,
         list(((('0x' || substr(md5('0|' || p || '|' || d), 1, 12))::UBIGINT
                % 2001)::BIGINT - 1000) / 1000.0 ORDER BY d) AS wvec
  FROM range(8) pp(p), range(64) dd(d) GROUP BY p)
SELECT e.vec_id AS id, w.p::INT AS dim,
       round_even(list_reduce(list_prepend(0.0::DOUBLE,
           list_transform(range(1, 65), d -> e.embedding[d]::DOUBLE * w.wvec[d])),
           (x, y) -> x + y) * {_JL_SCALE!r}, 6) AS comp
FROM embeddings e CROSS JOIN wts w
ORDER BY id, dim
""")
def embed_jl_project(spark, sf):
    """Johnson-Lindenstrauss projection to 8 dims (ops/similarity.py:
    jl_project): the md5-derived projection matrix, ordered-sum dots,
    and 6-decimal components are all rebuilt by the oracle — every
    projected coordinate of every vector is value-hash-checked."""
    from lamapi_spark.ops.similarity import jl_project

    return (
        jl_project(load(spark, sf, "embeddings"), out_dims=8, dims=64)
        .select("id", F.posexplode("proj").alias("dim", "comp"))
        .orderBy("id", "dim")
    )


# ------------------------------------------------ embedding generation

@register("embed_generate", """
SELECT doc_id, d::INT AS dim,
       (((('0x' || substr(md5(d::VARCHAR || '|' || md5(text)), 1, 12))::UBIGINT
          % 2001)::BIGINT - 1000) / 1000.0)::FLOAT AS comp
FROM documents, range(64) dd(d)
ORDER BY doc_id, dim
""")
def embed_generate(spark, sf):
    """Batched embedding generation (ops/similarity.py:embed_texts —
    mapInPandas, per-partition model lifecycle, explicit re-batching)
    with the deterministic hash encoder: the oracle rebuilds every
    component including the float32 rounding, so the Arrow plumbing's
    output is value-hash-checked end to end."""
    from lamapi_spark.ops.similarity import embed_texts

    return (
        embed_texts(load(spark, sf, "documents"), dims=64)
        .select("doc_id", F.posexplode("embedding").alias("dim", "comp"))
        .orderBy("doc_id", "dim")
    )


# ------------------------------------------------- group-aware split

@register("split_by_group", """
SELECT event_id, user_id,
       CASE WHEN ('0x' || substr(md5(user_id::VARCHAR || '|split0'), 1, 8))::BIGINT
                 % 10000 < 1500 THEN 'val'
            WHEN ('0x' || substr(md5(user_id::VARCHAR || '|split0'), 1, 8))::BIGINT
                 % 10000 < 2500 THEN 'test'
            ELSE 'train' END AS split
FROM events ORDER BY event_id
""")
def split_by_group_q(spark, sf):
    """Leak-proof train/val/test split keyed on the GROUP hash
    (ops/corpus.py:split_by_group) — every event of a user lands in
    one split; the oracle recomputes every verdict from the same hash
    coordinate."""
    from lamapi_spark.ops.corpus import split_by_group

    return (
        split_by_group(load(spark, sf, "events"), "user_id",
                       val_bp=1500, test_bp=1000)
        .select("event_id", "user_id", "split")
        .orderBy("event_id")
    )


# ----------------------------------------------------- sequence packing

# The sequential-semantics reconstruction of pack_sequences: global
# window prefix sum in doc_id order, chunk-range unnest, integer slice
# arithmetic. Shared by the slice-map and materialized-chunk gates.
_PACK_SQL = r"""
d AS (
  SELECT doc_id,
         len(regexp_extract_all(text, '(\w+|[^\w\s])'))::BIGINT AS n
  FROM documents),
p AS (
  SELECT doc_id, n,
         coalesce(sum(n) OVER (ORDER BY doc_id
                               ROWS BETWEEN UNBOUNDED PRECEDING
                               AND 1 PRECEDING), 0)::BIGINT AS off
  FROM d WHERE n > 0),
c AS (
  SELECT doc_id, n, off,
         unnest(generate_series(off // 256, (off + n - 1) // 256)) AS chunk_id
  FROM p)
"""


@register("pack_sequences", f"""
WITH {_PACK_SQL}
SELECT chunk_id::BIGINT AS chunk_id, doc_id,
       (greatest(off, chunk_id * 256) - off)::BIGINT AS doc_off,
       (greatest(off, chunk_id * 256) - chunk_id * 256)::BIGINT AS chunk_off,
       (least(off + n, (chunk_id + 1) * 256)
        - greatest(off, chunk_id * 256))::BIGINT AS len
FROM c ORDER BY chunk_id, doc_id
""")
def pack_sequences_q(spark, sf):
    """GPT-style sequence packing (ops/corpus.py:pack_sequences):
    concatenate all documents' tokens in doc_id order, cut into
    256-token training chunks, one row per (chunk, doc) slice. The
    Spark side runs the two-level distributed prefix sum (per-bucket
    totals -> tiny exclusive scan -> broadcast back -> within-bucket
    window); the oracle runs the single global window DuckDB can
    afford at test scale — green means the distributed scan computes
    EXACTLY the sequential semantics, offset for offset."""
    from lamapi_spark.ops.corpus import pack_sequences

    docs = load(spark, sf, "documents")
    return (pack_sequences(docs, seq_len=256)
            .orderBy("chunk_id", "doc_id"))


# --------------------------------------------- linear classifier (GD)

_CLF_BUCKETS = 64

# The full two-iteration training run as CTEs: exact micro-unit BIGINT
# gradients, the rational-sigmoid float chain in the operator's fixed
# order, round_even everywhere Spark brounds (ops/classifier.py
# docstring spells out the protocol). Shared by the train and score
# gates.
_CLF_TRAIN_SQL = rf"""
toks AS (
  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS ts
  FROM documents),
f0 AS (
  SELECT doc_id, ('0x' || substr(md5(g), 1, 12))::BIGINT % {_CLF_BUCKETS} AS bucket
  FROM (
    SELECT doc_id, unnest(list_concat(ts,
      list_transform(range(1, len(ts)), i -> ts[i] || ' ' || ts[i+1]))) AS g
    FROM toks)),
tf AS (
  SELECT doc_id, bucket, count(*)::BIGINT AS x FROM f0 GROUP BY doc_id, bucket
  UNION ALL
  SELECT doc_id, {_CLF_BUCKETS}::BIGINT AS bucket, 1::BIGINT AS x FROM documents),
y AS (
  SELECT doc_id, (CASE WHEN lang = 'en' THEN 1 ELSE 0 END)::BIGINT AS y
  FROM documents),
nn AS (SELECT count(*)::BIGINT AS n FROM documents),
r1 AS (
  SELECT doc_id, round_even((0.5 - y) * 1000000.0, 0)::BIGINT AS r_u FROM y),
g1 AS (
  SELECT bucket, sum(tf.x * r1.r_u)::BIGINT AS g_u
  FROM tf JOIN r1 USING (doc_id) GROUP BY bucket),
w1 AS (
  SELECT b.bucket,
         -coalesce(round_even((0.5 * g1.g_u::DOUBLE) / nn.n, 0)::BIGINT, 0) AS w_u
  FROM (SELECT unnest(generate_series(0, {_CLF_BUCKETS}))::BIGINT AS bucket) b
  LEFT JOIN g1 USING (bucket) CROSS JOIN nn),
z2 AS (
  SELECT tf.doc_id, sum(tf.x * w1.w_u)::BIGINT AS z_u
  FROM tf JOIN w1 USING (bucket) GROUP BY tf.doc_id),
p2 AS (
  SELECT y.doc_id, y.y,
         0.5 + (z2.z_u::DOUBLE / 1000000.0)
             / (2.0 * (1.0 + abs(z2.z_u::DOUBLE / 1000000.0))) AS p
  FROM y JOIN z2 USING (doc_id)),
r2 AS (
  SELECT doc_id, round_even((p - y) * 1000000.0, 0)::BIGINT AS r_u FROM p2),
g2 AS (
  SELECT bucket, sum(tf.x * r2.r_u)::BIGINT AS g_u
  FROM tf JOIN r2 USING (doc_id) GROUP BY bucket),
w2 AS (
  SELECT w1.bucket,
         w1.w_u - coalesce(round_even((0.5 * g2.g_u::DOUBLE) / nn.n, 0)::BIGINT, 0)
           AS w_micro
  FROM w1 LEFT JOIN g2 USING (bucket) CROSS JOIN nn)
"""


@register("classifier_train", f"""
WITH {_CLF_TRAIN_SQL}
SELECT bucket, w_micro FROM w2 ORDER BY bucket
""")
def classifier_train_q(spark, sf):
    """Two full-batch GD iterations of the hashed linear classifier
    (ops/classifier.py:train_linear) on the is-English label — the
    oracle replays BOTH iterations CTE by CTE: exact integer
    gradients, the rational-sigmoid chain, every half-even round.
    Green means the distributed training run is bit-reproducible in a
    second engine — the strongest determinism claim in the repo's
    discipline, now covering an ITERATIVE learner."""
    from lamapi_spark.ops.classifier import train_linear

    docs = load(spark, sf, "documents").withColumn(
        "y", F.when(F.col("lang") == "en", F.lit(1)).otherwise(F.lit(0)))
    return (train_linear(docs, "y", n_buckets=_CLF_BUCKETS, iters=2)
            .orderBy("bucket"))


@register("classifier_score", f"""
WITH {_CLF_TRAIN_SQL},
zs AS (
  SELECT tf.doc_id, sum(tf.x * w2.w_micro)::BIGINT AS z_micro
  FROM tf JOIN w2 USING (bucket) GROUP BY tf.doc_id)
SELECT doc_id, z_micro,
       0.5 + (z_micro::DOUBLE / 1000000.0)
           / (2.0 * (1.0 + abs(z_micro::DOUBLE / 1000000.0))) AS p
FROM zs ORDER BY doc_id
""")
def classifier_score_q(spark, sf):
    """Serve side of the trained classifier (ops/classifier.py:
    score_linear): every document's micro-unit margin and
    rational-sigmoid probability under the two-iteration weights,
    hash-checked INCLUDING the final doubles (the float chain is the
    training one, fixed order)."""
    from lamapi_spark.ops.classifier import score_linear, train_linear

    docs = load(spark, sf, "documents").withColumn(
        "y", F.when(F.col("lang") == "en", F.lit(1)).otherwise(F.lit(0)))
    w = train_linear(docs, "y", n_buckets=_CLF_BUCKETS, iters=2)
    return (score_linear(docs, w, n_buckets=_CLF_BUCKETS)
            .orderBy("doc_id"))


@register("pack_chunks", rf"""
WITH {_PACK_SQL},
tok AS (
  SELECT doc_id, regexp_extract_all(text, '(\w+|[^\w\s])') AS toks
  FROM documents),
parts AS (
  SELECT c.chunk_id,
         greatest(c.off, c.chunk_id * 256) - c.chunk_id * 256 AS chunk_off,
         list_slice(t.toks,
                    (greatest(c.off, c.chunk_id * 256) - c.off + 1)::INT,
                    (least(c.off + c.n, (c.chunk_id + 1) * 256) - c.off)::INT)
           AS part
  FROM c JOIN tok t USING (doc_id))
SELECT chunk_id::BIGINT AS chunk_id, count(*)::BIGINT AS n_docs,
       array_to_string(flatten(list(part ORDER BY chunk_off)), ' ')
         AS chunk_text
FROM parts GROUP BY chunk_id ORDER BY chunk_id
""")
def pack_chunks_q(spark, sf):
    """The materialized packed sequences (ops/corpus.py:pack_chunks):
    every 256-token training chunk's actual token stream, assembled
    from the slice map — text joins back by doc_id only (never rides
    the prefix-sum shuffle), per-chunk state is bounded at seq_len
    tokens by construction. Rendered as a space-joined string (regex
    tokens contain no whitespace) so the gate hashes every token in
    order."""
    from lamapi_spark.ops.corpus import pack_chunks

    docs = load(spark, sf, "documents")
    return (pack_chunks(docs, seq_len=256)
            .select("chunk_id", "n_docs",
                    F.array_join("tokens", " ").alias("chunk_text"))
            .orderBy("chunk_id"))


@register("embed_ann_ivf_indexed", _IVF_SQL)
def embed_ann_ivf_indexed(spark, sf):
    """The ARTIFACT IVF plan under the same oracle as embed_ann_ivf:
    build the persisted inverted file (bucketed on the cell key, _meta
    sidecar) via ops/similarity.IvfIndex.write, then probe the LOADED
    tables. Green means the persisted structure — centroid floats
    through parquet, every assignment, the bucketed probe join — is
    bit-identical to the in-memory path, the same build-once/
    probe-many certification the lookup index carries
    (lookup_candidates_indexed)."""
    from lamapi_spark.ops.similarity import IvfIndex

    emb = load(spark, sf, "embeddings")
    idx = IvfIndex.write(emb, prefix="lamapi_ivf_gate",
                         n_cells=_IVF_CELLS, n_buckets=4)
    return (idx.probe(emb.filter(F.col("vec_id") < 5),
                      k=_IVF_K, n_probe=_IVF_PROBE)
            .orderBy("q_id", "rnk"))


# ------------------------------------- temperature mixture sampling

@register("sample_temperature", """
WITH c AS (
  SELECT lang AS grp, count(*)::BIGINT AS n FROM documents GROUP BY lang),
st AS (
  SELECT list_reduce(list(sqrt(n::DOUBLE) ORDER BY grp),
                     (a, b) -> a + b) AS denom,
         sum(n)::BIGINT AS total
  FROM c),
r AS (
  SELECT grp, n,
         least(10000,
               round_even(((10000.0 * 0.25 * total::DOUBLE)
                           * (sqrt(n::DOUBLE) / denom)) / n::DOUBLE,
                          0)::BIGINT) AS rate_bp
  FROM c CROSS JOIN st)
SELECT d.doc_id, d.lang, r.rate_bp,
       (('0x' || substr(md5(d.doc_id::VARCHAR || '|s0'), 1, 8))::BIGINT
        % 10000) AS sample_bp
FROM documents d JOIN r ON r.grp = d.lang
WHERE (('0x' || substr(md5(d.doc_id::VARCHAR || '|s0'), 1, 8))::BIGINT
       % 10000) < r.rate_bp
ORDER BY d.doc_id
""")
def sample_temperature_q(spark, sf):
    """Temperature-flattened (alpha=0.5) mixture sampling
    (ops/corpus.py:temperature_sample): sqrt-share keep-rates per
    language targeting 25% of the corpus, applied through the md5
    sampling coordinate. The oracle rebuilds the counts, the
    group-lex-ordered sqrt fold, every bround'ed rate, and every
    per-row verdict — the sample is a pure function of the corpus."""
    from lamapi_spark.ops.corpus import sample_hash, temperature_sample

    docs = load(spark, sf, "documents")
    kept = temperature_sample(docs, "lang", "doc_id", target_frac=0.25)
    return (kept.select("doc_id", "lang", "rate_bp",
                        sample_hash(F.col("doc_id")).alias("sample_bp"))
            .orderBy("doc_id"))


# ------------------------------------------------ CCNet ppl bucketing

@register("ccnet_buckets", r"""
WITH toks AS (
  SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\s+')) AS tok
  FROM documents),
counts AS (SELECT tok, count(*) AS c FROM toks GROUP BY tok),
stats AS (SELECT sum(c)::BIGINT AS total, count(*)::BIGINT AS vocab
          FROM counts),
scored AS (
  SELECT t.doc_id,
         round_even(-ln((c.c + 1)::DOUBLE / (s.total + s.vocab)::DOUBLE),
                    6)::DECIMAL(28,6) AS nlp
  FROM toks t JOIN counts c ON t.tok = c.tok CROSS JOIN stats s),
lm AS (
  SELECT doc_id, count(*) AS n_tokens,
         round_even(sum(nlp)::DOUBLE / count(*), 4) AS avg_neg_logp
  FROM scored GROUP BY doc_id),
r AS (
  SELECT l.doc_id, d.lang, l.n_tokens, l.avg_neg_logp,
         row_number() OVER (PARTITION BY d.lang
                            ORDER BY l.avg_neg_logp, l.doc_id) AS rk,
         count(*) OVER (PARTITION BY d.lang) AS n
  FROM lm l JOIN documents d ON d.doc_id = l.doc_id)
SELECT doc_id, lang, n_tokens, avg_neg_logp,
       CASE WHEN rk * 3 <= n THEN 'head'
            WHEN rk * 3 <= n * 2 THEN 'middle'
            ELSE 'tail' END AS ppl_bucket
FROM r ORDER BY doc_id
""")
def ccnet_buckets_q(spark, sf):
    """CCNet-style per-language head/middle/tail perplexity tertiles
    (ops/corpus.py:ccnet_buckets): the corpus-LM score ranked within
    each language, rank*3 vs n integer bucket boundaries — exact,
    tie-stable, engine-reproducible. The oracle rebuilds the LM, every
    score, and both window counters."""
    from lamapi_spark.ops.corpus import ccnet_buckets

    return ccnet_buckets(load(spark, sf, "documents")).orderBy("doc_id")


# ---------------------------------------- C4 line cleaning + line dedup

_LINE_W, _LINE_MIN_WORDS, _LINE_BLOCK = 6, 4, "dup"

@register("corpus_line_clean", rf"""
WITH toks AS (
  SELECT doc_id, string_split_regex(trim(text), '\s+') AS tk
  FROM documents),
lines AS (
  SELECT doc_id, unnest(range((len(tk) + {_LINE_W - 1}) // {_LINE_W})) AS line_idx,
         tk FROM toks),
lined AS (
  SELECT doc_id, line_idx,
         array_to_string(list_slice(tk, line_idx * {_LINE_W} + 1,
                                    line_idx * {_LINE_W} + {_LINE_W}),
                         ' ') AS line
  FROM lines),
tagged AS (
  SELECT doc_id, line_idx, line,
         (len(string_split_regex(line, '\s+')) >= {_LINE_MIN_WORDS}
          AND NOT list_contains(string_split_regex(line, '\s+'),
                                '{_LINE_BLOCK}')) AS ok
  FROM lined),
okr AS (
  SELECT doc_id, line_idx, line,
         row_number() OVER (PARTITION BY line
                            ORDER BY doc_id, line_idx) AS rn
  FROM tagged WHERE ok),
perdoc AS (
  SELECT doc_id, string_agg(line, ' ' ORDER BY line_idx) AS text_clean,
         count(*)::BIGINT AS n_kept
  FROM okr WHERE rn = 1 GROUP BY doc_id),
dups AS (
  SELECT doc_id, count(*)::BIGINT AS n_dropped_dup
  FROM okr WHERE rn > 1 GROUP BY doc_id),
filt AS (
  SELECT doc_id,
         sum(CASE WHEN NOT ok THEN 1 ELSE 0 END)::BIGINT AS n_dropped_filter
  FROM tagged GROUP BY doc_id)
SELECT f.doc_id,
       coalesce(p.text_clean, '') AS text_clean,
       coalesce(p.n_kept, 0)::BIGINT AS n_kept,
       f.n_dropped_filter,
       coalesce(d.n_dropped_dup, 0)::BIGINT AS n_dropped_dup
FROM filt f
LEFT JOIN perdoc p ON p.doc_id = f.doc_id
LEFT JOIN dups d ON d.doc_id = f.doc_id
ORDER BY f.doc_id
""")
def corpus_line_clean_q(spark, sf):
    """C4-style line filtering + corpus-global exact line dedup
    (ops/corpus.py:c4_line_clean over to_lines' fixed-width line
    shim): lines under {min_words} words or containing the blocklist
    word drop, every repeated surviving line keeps only its first
    (doc_id, line_idx) occurrence corpus-wide, and documents
    reassemble from what survives. The oracle rebuilds the lines, both
    filters, the first-occurrence window, and every reassembled
    string."""
    from lamapi_spark.ops.corpus import c4_line_clean, to_lines

    lines = to_lines(load(spark, sf, "documents"),
                     words_per_line=_LINE_W)
    return (c4_line_clean(lines, min_words=_LINE_MIN_WORDS,
                          blocklist=(_LINE_BLOCK,))
            .orderBy("doc_id"))


# ---------------------------------------------------- per-domain cap

_DOMCAP = 20

@register("corpus_domain_cap", f"""
SELECT doc_id, source, kept_rank FROM (
  SELECT doc_id, source,
         row_number() OVER (
           PARTITION BY source
           ORDER BY ('0x' || substr(md5(doc_id::VARCHAR || '|domcap'),
                                    1, 12))::BIGINT,
                    doc_id) AS kept_rank
  FROM documents)
WHERE kept_rank <= {_DOMCAP} ORDER BY doc_id
""")
def corpus_domain_cap_q(spark, sf):
    """RefinedWeb-style per-domain cap (ops/corpus.py:domain_cap):
    at most {cap} documents survive per source, picked by md5 draw —
    deterministic, partition-independent, every keep/drop verdict
    recomputable from (doc_id, salt). The oracle re-derives every
    draw and rank."""
    from lamapi_spark.ops.corpus import domain_cap

    return (domain_cap(load(spark, sf, "documents"), cap=_DOMCAP)
            .select("doc_id", "source", "kept_rank")
            .orderBy("doc_id"))


# ------------------------------------------------- SQ8 quantization

_SQ8_CODES_SQL = """
ex AS (
  SELECT vec_id,
         unnest(range(len(embedding)))::INT AS dim,
         unnest(list_transform(range(len(embedding)),
                               i -> embedding[i + 1])) AS x
  FROM embeddings),
params AS MATERIALIZED (
  SELECT dim, min(x::DOUBLE) AS mn, max(x::DOUBLE) AS mx,
         max(x::DOUBLE) - min(x::DOUBLE) AS span
  FROM ex GROUP BY dim),
coded AS MATERIALIZED (
  SELECT e.vec_id, e.dim,
         CASE WHEN p.span > 0
              THEN round_even((e.x::DOUBLE - p.mn) * 255.0 / p.span, 0)
              ELSE 0.0 END::INT AS code
  FROM ex e JOIN params p ON p.dim = e.dim),
codes AS MATERIALIZED (
  SELECT vec_id, list(code ORDER BY dim) AS codes
  FROM coded GROUP BY vec_id)"""


@register("embed_sq8_codes", f"""
WITH {_SQ8_CODES_SQL}
SELECT vec_id, array_to_string(codes, ' ') AS codes_str
FROM codes ORDER BY vec_id
""")
def embed_sq8_codes_q(spark, sf):
    """SQ8 scalar quantization (ops/similarity.py:sq8_quantize): every
    coordinate mapped to its 8-bit grid code under per-dimension
    corpus min/max — the FAISS ScalarQuantizer memory cut. The oracle
    rebuilds the grid and every code (round_even on the identical
    IEEE double chain)."""
    from lamapi_spark.ops.similarity import sq8_quantize

    codes = sq8_quantize(load(spark, sf, "embeddings"))
    return (codes.select("vec_id",
                         F.array_join(F.col("codes").cast("array<string>"),
                                      " ").alias("codes_str"))
            .orderBy("vec_id"))


@register("embed_sq8_topk", f"""
WITH {_SQ8_CODES_SQL},
q AS (SELECT vec_id AS q_id, codes AS q_codes FROM codes WHERE vec_id < 5),
scored AS (
  SELECT q.q_id, c.vec_id AS n_id,
         list_reduce(list_prepend(0::BIGINT,
             list_transform(list_zip(q.q_codes, c.codes),
                 p -> ((p[1] - p[2])::BIGINT * (p[1] - p[2])::BIGINT))),
             (x, y) -> x + y) AS dist_sq
  FROM q JOIN codes c ON c.vec_id <> q.q_id)
SELECT q_id, n_id, dist_sq,
       row_number() OVER (PARTITION BY q_id
                          ORDER BY dist_sq, n_id) AS rnk
FROM scored QUALIFY rnk <= 3 ORDER BY q_id, rnk
""")
def embed_sq8_topk_q(spark, sf):
    """Symmetric SQ8 top-3 (ops/similarity.py:sq8_topk): exact integer
    squared L2 over the 8-bit codes — rankings are engine-exact by
    construction, every distance and rank oracle-checked."""
    from lamapi_spark.ops.similarity import sq8_quantize, sq8_topk

    codes = sq8_quantize(load(spark, sf, "embeddings"))
    q = (codes.filter(F.col("vec_id") < 5)
         .select(F.col("vec_id").alias("q_id"), "codes"))
    return sq8_topk(q, codes, k=3).orderBy("q_id", "rnk")


# ------------------------------------------------ product quantization

_PQ_M, _PQ_DSUB, _PQ_KSUB, _PQ_K = 8, 8, 8, 3

_SQL2_SQL = ("list_reduce(list_prepend(0.0::DOUBLE, "
             "list_transform(list_zip({a}, {b}), "
             "p -> (p[1]::DOUBLE - p[2]::DOUBLE) "
             "* (p[1]::DOUBLE - p[2]::DOUBLE))), (x, y) -> x + y)")

# shared CTE chain: md5-medoid codebook -> per-(vec, subspace) argmin codes
_PQ_CODES_SQL = f"""picked AS (
  SELECT vec_id, embedding,
         ('0x' || substr(md5(vec_id::VARCHAR), 1, 8))::BIGINT AS hk
  FROM embeddings ORDER BY hk, vec_id LIMIT {_PQ_KSUB}),
cent AS (
  SELECT row_number() OVER (ORDER BY hk, vec_id) - 1 AS code,
         embedding AS c_vec FROM picked),
subs AS (SELECT s::INT AS s FROM range(0, {_PQ_M}) t(s)),
cb AS (
  SELECT sb.s, ct.code,
         ct.c_vec[sb.s * {_PQ_DSUB} + 1 : (sb.s + 1) * {_PQ_DSUB}] AS cb_vec
  FROM cent ct CROSS JOIN subs sb),
esub AS (
  SELECT e.vec_id, sb.s,
         e.embedding[sb.s * {_PQ_DSUB} + 1 : (sb.s + 1) * {_PQ_DSUB}] AS sub
  FROM embeddings e CROSS JOIN subs sb),
eenc AS (
  SELECT vec_id, s, code FROM (
    SELECT es.vec_id, es.s, cb.code,
           row_number() OVER (PARTITION BY es.vec_id, es.s
               ORDER BY {_SQL2_SQL.format(a='es.sub', b='cb.cb_vec')} ASC,
                        cb.code) AS r
    FROM esub es JOIN cb ON cb.s = es.s) WHERE r = 1),
pq_codes AS (
  SELECT vec_id, list(code ORDER BY s) AS codes FROM eenc GROUP BY vec_id)"""


@register("embed_pq_codes", f"""
WITH {_PQ_CODES_SQL}
SELECT vec_id, array_to_string(codes, ' ') AS codes_str
FROM pq_codes ORDER BY vec_id
""")
def embed_pq_codes_q(spark, sf):
    """Product quantization encoding (ops/similarity.py:pq_encode):
    d=64 splits into 8 subspaces of 8 dims, each coded against an
    8-entry md5-medoid codebook slice by exact subspace squared L2
    (the FAISS IndexPQ memory cut — n_sub bytes per vector at
    ksub<=256). The oracle rebuilds the medoid pick, all 64 codebook
    slices, and every per-subspace argmin."""
    from lamapi_spark.ops.similarity import pq_codebook, pq_encode

    emb = load(spark, sf, "embeddings")
    cb = pq_codebook(emb, n_sub=_PQ_M, ksub=_PQ_KSUB)
    codes = pq_encode(emb, cb, n_sub=_PQ_M)
    return (codes.select("vec_id",
                         F.array_join(F.col("codes").cast("array<string>"),
                                      " ").alias("codes_str"))
            .orderBy("vec_id"))


_PQ_SEQ = "[" + ", ".join(str(s) for s in range(_PQ_M)) + "]"

@register("embed_pq_topk", f"""
WITH {_PQ_CODES_SQL},
qtab AS (
  SELECT vec_id AS q_id, list(d ORDER BY s, code) AS tab FROM (
    SELECT es.vec_id, es.s, cb.code,
           {_SQL2_SQL.format(a='es.sub', b='cb.cb_vec')} AS d
    FROM esub es JOIN cb ON cb.s = es.s
    WHERE es.vec_id < 5) GROUP BY vec_id),
scored AS (
  SELECT qt.q_id, pc.vec_id AS n_id,
         list_reduce(list_prepend(0.0::DOUBLE,
             list_transform(list_zip(pc.codes, {_PQ_SEQ}),
                 p -> qt.tab[p[2] * {_PQ_KSUB} + p[1] + 1])),
             (x, y) -> x + y) AS dist
  FROM qtab qt JOIN pq_codes pc ON pc.vec_id <> qt.q_id)
SELECT q_id, n_id, dist,
       row_number() OVER (PARTITION BY q_id ORDER BY dist, n_id) AS rnk
FROM scored QUALIFY rnk <= {_PQ_K} ORDER BY q_id, rnk
""")
def embed_pq_topk_q(spark, sf):
    """Asymmetric PQ top-3 (ops/similarity.py:pq_topk — the FAISS ADC
    scan): full-precision queries build an n_sub x ksub distance table
    against the codebook; corpus distances are fixed-order sums of the
    table entries their codes select. The oracle reproduces every
    table cell, every selected-entry fold, and every rank bit-for-bit
    — codebook, codes, tables, distances all hash-gated."""
    from lamapi_spark.ops.similarity import pq_codebook, pq_encode, pq_topk

    emb = load(spark, sf, "embeddings")
    cb = pq_codebook(emb, n_sub=_PQ_M, ksub=_PQ_KSUB)
    codes = pq_encode(emb, cb, n_sub=_PQ_M)
    q = emb.filter(F.col("vec_id") < 5)
    return (pq_topk(q, codes, cb, k=_PQ_K, n_sub=_PQ_M, ksub=_PQ_KSUB)
            .orderBy("q_id", "rnk"))


# ------------------------------------------------- retrieval chunking

# 32-token windows every 24 tokens; ends at chunks
# (doc_id, chunk_idx, tok_start, n_tokens, chunk_text) — shared by the
# corpus_chunk gate and rag_retrieve's ingest stage.
_CHUNK_CTES = r"""t AS (
  SELECT doc_id, regexp_extract_all(text, '(\w+|[^\w\s])') AS toks
  FROM documents),
s AS (
  SELECT doc_id, toks, unnest(range(0, len(toks), 24)) AS tok_start
  FROM t WHERE len(toks) > 0),
chunks AS (
  SELECT doc_id,
         (tok_start // 24)::INT AS chunk_idx,
         tok_start::INT AS tok_start,
         least(32, len(toks) - tok_start)::INT AS n_tokens,
         array_to_string(toks[tok_start + 1 : tok_start + 32], ' ')
           AS chunk_text
  FROM s)"""

@register("corpus_chunk", f"""
WITH {_CHUNK_CTES}
SELECT doc_id, chunk_idx, tok_start, n_tokens, chunk_text
FROM chunks ORDER BY doc_id, chunk_idx
""")
def corpus_chunk(spark, sf):
    """Sliding-window retrieval chunking (ops/corpus.chunk_documents):
    32-token windows every 24 tokens (8-token overlap) over the
    documents corpus — the oracle re-derives every window start, the
    short trailing window's length, and the rejoined chunk text."""
    from lamapi_spark.ops.corpus import chunk_documents

    return (chunk_documents(load(spark, sf, "documents"),
                            size=32, stride=24)
            .orderBy("doc_id", "chunk_idx"))


# -------------------------------------------- RAG retrieval end-to-end

from lamapi_spark.queries_ops import (  # noqa: E402
    _BM25_QUERIES, _DOT_SQL, _EMB_COMP, _RRF_QS_VALUES,
)

@register("rag_retrieve", f"""
WITH {_CHUNK_CTES},
cemb AS (
  SELECT doc_id * 1000 + chunk_idx AS cid,
         list({_EMB_COMP.format(t='chunk_text')} ORDER BY d) AS vec
  FROM chunks, range(64) dd(d) GROUP BY doc_id, chunk_idx),
qv AS (
  SELECT query_id, list({_EMB_COMP.format(t='qs')} ORDER BY d) AS vec
  FROM (VALUES {_RRF_QS_VALUES}) qq(query_id, qs), range(64) dd(d)
  GROUP BY query_id),
cos AS (
  SELECT query_id, cid,
         {_DOT_SQL.format(a='qv.vec', b='cemb.vec')}
         / (sqrt({_DOT_SQL.format(a='qv.vec', b='qv.vec')})
            * sqrt({_DOT_SQL.format(a='cemb.vec', b='cemb.vec')})) AS cosine
  FROM qv, cemb),
rk AS (
  SELECT query_id, cid, cosine,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, cid) AS rank
  FROM cos QUALIFY rank <= 10)
SELECT query_id, (cid // 1000)::BIGINT AS doc_id,
       (cid % 1000)::INT AS chunk_idx, cosine, rank::INT AS rank
FROM rk ORDER BY query_id, rank
""")
def rag_retrieve(spark, sf):
    """The RAG ingest + retrieval dataflow end to end, composed from
    the oracled pieces: chunk_documents (32/24 sliding windows) ->
    embed_texts over the CHUNK text (per-partition encoder lifecycle)
    -> cosine_rank's salted top-10 per query, with provenance mapped
    back to (doc_id, chunk_idx). Chunk ids pack as doc_id*1000 +
    chunk_idx (chunk counts are bounded far below 1000 by the corpus
    line lengths; the oracle would collide loudly if not). The oracle
    rebuilds chunks, every chunk/query embedding component, every
    cosine, and every rank."""
    from lamapi_spark.ops.corpus import chunk_documents
    from lamapi_spark.ops.ranking import cosine_rank
    from lamapi_spark.ops.similarity import embed_texts, hash_encode

    chunks = chunk_documents(load(spark, sf, "documents"),
                             size=32, stride=24)
    cemb = embed_texts(
        chunks.select(
            (F.col("doc_id") * 1000 + F.col("chunk_idx")).alias("cid"),
            "chunk_text"),
        id_col="cid", text_col="chunk_text", dims=64)
    qv = spark.createDataFrame(
        [(qid, hash_encode(qs, 64)) for qid, qs in _BM25_QUERIES],
        "query_id string, embedding array<float>")
    return (
        cosine_rank(qv, cemb, k=10)
        .select("query_id",
                (F.col("doc_id") / 1000).cast("long").alias("doc_id"),
                F.pmod("doc_id", F.lit(1000)).cast("int").alias("chunk_idx"),
                "cosine", "rank")
        .orderBy("query_id", "rank")
    )


# ------------------------------------------- weighted sampling (E-S keys)

@register("corpus_weighted_sample", """
WITH b AS (
  SELECT doc_id, (doc_id % 7 + 1)::DOUBLE AS wgt,
         (((('0x' || substr(md5(doc_id::VARCHAR || '|ws0'), 1, 12))
            ::UBIGINT)::BIGINT + 1)::DOUBLE / 281474976710656.0) AS u
  FROM documents),
d AS (SELECT doc_id, wgt, round_even(-ln(u) / wgt, 9) AS draw FROM b),
r AS (SELECT doc_id, wgt, draw,
             row_number() OVER (ORDER BY draw, doc_id) AS rn
      FROM d)
SELECT doc_id, wgt, draw FROM r WHERE rn <= 50 ORDER BY draw, doc_id
""")
def corpus_weighted_sample(spark, sf):
    """Exact-size weighted sampling without replacement
    (ops/corpus.weighted_sample, Efraimidis-Spirakis keys): the 50
    smallest round-even -ln(u)/w draws over md5 uniforms, weight =
    doc_id%7+1 — the deterministic stand-in for a quality score. The
    oracle recomputes every uniform, draw, and the global cut."""
    from lamapi_spark.ops.corpus import weighted_sample

    docs = load(spark, sf, "documents").select(
        "doc_id", (F.col("doc_id") % 7 + 1).cast("double").alias("wgt"))
    return (weighted_sample(docs, "wgt", k=50)
            .select("doc_id", "wgt", "draw")
            .orderBy("draw", "doc_id"))


# --------------------------------------------------------- ROUGE-N eval

# Planted summarization pairs: candidate = the full document text,
# reference = its first 3/5 tokens (so precision < 1 while recall = 1
# for most rows) — and documents shorter than 2 tokens after the cut
# exercise the zero-gram degenerate branch. Bigram multisets are NOT
# deduplicated (clipped-count semantics is the point of ROUGE).
_RG_TOKS = "string_split_regex(trim(lower(text)), '\\s+')"
_RG_GRAMS = ("list_transform(range(1, greatest(len({t}) - 1, 0) + 1), "
             "i -> {t}[i] || ' ' || {t}[i + 1])")


@register("eval_rouge_n", f"""
WITH t AS (
  SELECT doc_id AS id, {_RG_TOKS} AS ct,
         {_RG_TOKS}[1:(3 * len({_RG_TOKS})) // 5] AS rt
  FROM documents),
g AS (
  SELECT id, {_RG_GRAMS.format(t='ct')} AS cg,
         {_RG_GRAMS.format(t='rt')} AS rg
  FROM t),
cc AS (SELECT id, g AS gram, count(*)::BIGINT AS cnt
       FROM (SELECT id, unnest(cg) AS g FROM g) GROUP BY id, g),
rc AS (SELECT id, g AS gram, count(*)::BIGINT AS cnt
       FROM (SELECT id, unnest(rg) AS g FROM g) GROUP BY id, g),
ov AS (SELECT cc.id, sum(least(cc.cnt, rc.cnt))::BIGINT AS overlap
       FROM cc JOIN rc ON cc.id = rc.id AND cc.gram = rc.gram
       GROUP BY cc.id)
SELECT g.id, len(g.cg)::BIGINT AS cand_n, len(g.rg)::BIGINT AS ref_n,
       coalesce(ov.overlap, 0)::BIGINT AS overlap,
       round_even(coalesce(ov.overlap, 0)::DOUBLE
                  / greatest(len(g.cg), 1), 6) AS p,
       round_even(coalesce(ov.overlap, 0)::DOUBLE
                  / greatest(len(g.rg), 1), 6) AS r,
       round_even(2 * coalesce(ov.overlap, 0)::DOUBLE
                  / greatest(len(g.cg) + len(g.rg), 1), 6) AS f1
FROM g LEFT JOIN ov ON ov.id = g.id
ORDER BY g.id
""")
def eval_rouge_n(spark, sf):
    """ROUGE-2 (ops/metrics.rouge_n_scores) over planted
    candidate/reference pairs: clipped bigram-multiset overlap with
    P/R/F1 as single integer-ratio divisions (half-even, 6 dp — no
    float sums). The oracle rebuilds tokenization, in-row bigram
    multisets, the clipped-count join, and every ratio independently."""
    from lamapi_spark.ops.metrics import rouge_n_scores

    docs = load(spark, sf, "documents")
    toks = F.split(F.trim(F.col("text")), r"\s+")
    rlen = F.floor(F.size(toks) * 3 / 5).cast("int")
    pairs = docs.select(
        F.col("doc_id").alias("pair_id"),
        F.col("text").alias("cand"),
        F.concat_ws(" ", F.slice(toks, F.lit(1), rlen)).alias("ref"),
    )
    return rouge_n_scores(pairs, "pair_id", "cand", "ref", n=2).orderBy("id")


# ----------------------------------------------------- MMR rerank

def _mmr_step_sql(i: int) -> str:
    prev = " UNION ALL ".join(
        f"SELECT query_id, cid FROM s{j}" for j in range(1, i))
    return f"""
sel{i - 1} AS ({prev}),
rem{i} AS (
  SELECT c.* FROM cand c LEFT JOIN sel{i - 1} s
    ON s.query_id = c.query_id AND s.cid = c.cid
  WHERE s.cid IS NULL),
ms{i} AS (
  SELECT sm.query_id, sm.id_a AS cid, max(sm.sim) AS ms
  FROM sims sm JOIN sel{i - 1} s
    ON s.query_id = sm.query_id AND s.cid = sm.id_b
  GROUP BY sm.query_id, sm.id_a),
s{i} AS (
  SELECT query_id, cid, mmr, {i} AS pick_rank FROM (
    SELECT r.query_id, r.cid, 0.7 * r.cosine - 0.3 * m.ms AS mmr
    FROM rem{i} r JOIN ms{i} m
      ON m.query_id = r.query_id AND m.cid = r.cid)
  QUALIFY row_number() OVER (PARTITION BY query_id
                             ORDER BY mmr DESC, cid) = 1)"""


@register("rag_mmr_rerank", f"""
WITH {_CHUNK_CTES},
cemb AS MATERIALIZED (
  SELECT doc_id * 1000 + chunk_idx AS cid,
         list({_EMB_COMP.format(t='chunk_text')} ORDER BY d) AS vec
  FROM chunks, range(64) dd(d) GROUP BY doc_id, chunk_idx),
qv AS (
  SELECT query_id, list({_EMB_COMP.format(t='qs')} ORDER BY d) AS vec
  FROM (VALUES {_RRF_QS_VALUES}) qq(query_id, qs), range(64) dd(d)
  GROUP BY query_id),
cos AS (
  SELECT query_id, cid,
         {_DOT_SQL.format(a='qv.vec', b='cemb.vec')}
         / (sqrt({_DOT_SQL.format(a='qv.vec', b='qv.vec')})
            * sqrt({_DOT_SQL.format(a='cemb.vec', b='cemb.vec')})) AS cosine
  FROM qv, cemb),
cand AS MATERIALIZED (
  SELECT query_id, cid, cosine FROM cos
  QUALIFY row_number() OVER (PARTITION BY query_id
                             ORDER BY cosine DESC, cid) <= 10),
sims AS MATERIALIZED (
  SELECT a.query_id, a.cid AS id_a, b.cid AS id_b,
         {_DOT_SQL.format(a='va.vec', b='vb.vec')}
         / (sqrt({_DOT_SQL.format(a='va.vec', b='va.vec')})
            * sqrt({_DOT_SQL.format(a='vb.vec', b='vb.vec')})) AS sim
  FROM cand a
  JOIN cand b ON a.query_id = b.query_id AND a.cid != b.cid
  JOIN cemb va ON va.cid = a.cid
  JOIN cemb vb ON vb.cid = b.cid),
s1 AS (
  SELECT query_id, cid, 0.7 * cosine AS mmr, 1 AS pick_rank FROM cand
  QUALIFY row_number() OVER (PARTITION BY query_id
                             ORDER BY 0.7 * cosine DESC, cid) = 1),
{_mmr_step_sql(2)},
{_mmr_step_sql(3)}
SELECT query_id, (cid // 1000)::BIGINT AS doc_id,
       (cid % 1000)::INT AS chunk_idx, mmr, pick_rank::INT AS pick_rank
FROM (SELECT * FROM s1 UNION ALL SELECT * FROM s2
      UNION ALL SELECT * FROM s3)
ORDER BY query_id, pick_rank
""")
def rag_mmr_rerank(spark, sf):
    """MMR diversification (ops/ranking.mmr_rerank) of the rag_retrieve
    top-10: three unrolled greedy picks per query at w_rel/w_div =
    0.7/0.3 over candidate-candidate cosines — near-duplicate chunks
    (the 32/24 sliding windows overlap by construction) stop stacking
    in the context window. The oracle rebuilds chunks, embeddings,
    relevance and pairwise cosines, and replays every greedy step CTE
    by CTE; scores are single IEEE ops on bit-identical cosines, so
    the gate checks them exactly (no rounding)."""
    from lamapi_spark.ops.corpus import chunk_documents
    from lamapi_spark.ops.ranking import cosine_rank, mmr_rerank
    from lamapi_spark.ops.similarity import embed_texts, hash_encode

    chunks = chunk_documents(load(spark, sf, "documents"),
                             size=32, stride=24)
    cemb = embed_texts(
        chunks.select(
            (F.col("doc_id") * 1000 + F.col("chunk_idx")).alias("cid"),
            "chunk_text"),
        id_col="cid", text_col="chunk_text", dims=64)
    qv = spark.createDataFrame(
        [(qid, hash_encode(qs, 64)) for qid, qs in _BM25_QUERIES],
        "query_id string, embedding array<float>")
    ranked = cosine_rank(qv, cemb, k=10)
    return (
        mmr_rerank(ranked, cemb, k=3, w_rel=0.7, w_div=0.3)
        .select("query_id",
                (F.col("doc_id") / 1000).cast("long").alias("doc_id"),
                F.pmod("doc_id", F.lit(1000)).cast("int").alias("chunk_idx"),
                "mmr", "pick_rank")
        .orderBy("query_id", "pick_rank")
    )


@register("kn_lm_score", r"""
WITH ts AS (
  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS ts
  FROM documents),
bg AS (
  SELECT doc_id,
         unnest(list_transform(range(1, len(ts)), i -> ts[i] || ' ' || ts[i+1])) AS bg
  FROM ts),
bc AS (SELECT bg, count(*)::BIGINT AS cbg FROM bg GROUP BY bg),
ctx AS (SELECT split_part(bg, ' ', 1) AS w1, count(*)::BIGINT AS cctx
        FROM bg GROUP BY split_part(bg, ' ', 1)),
n1f AS (SELECT split_part(bg, ' ', 1) AS w1, count(*)::BIGINT AS n1f
        FROM bc GROUP BY split_part(bg, ' ', 1)),
n1b AS (SELECT split_part(bg, ' ', 2) AS w2, count(*)::BIGINT AS n1b
        FROM bc GROUP BY split_part(bg, ' ', 2)),
nbt AS (SELECT count(*)::BIGINT AS nbt FROM bc),
scored AS (
  SELECT b.doc_id,
         round_even(-ln((greatest(bc.cbg - 0.75, 0.0)
                         + 0.75 * n1f.n1f * (n1b.n1b / t.nbt))
                        / ctx.cctx), 6)::DECIMAL(28,6) AS nlp
  FROM bg b
  JOIN bc ON bc.bg = b.bg
  JOIN ctx ON ctx.w1 = split_part(b.bg, ' ', 1)
  JOIN n1f ON n1f.w1 = split_part(b.bg, ' ', 1)
  JOIN n1b ON n1b.w2 = split_part(b.bg, ' ', 2)
  CROSS JOIN nbt t)
SELECT doc_id, count(*)::BIGINT AS n_bigrams,
       round_even(sum(nlp)::DOUBLE / count(*), 4) AS avg_neg_logp
FROM scored GROUP BY doc_id ORDER BY doc_id
""")
def kn_lm_q(spark, sf):
    """Interpolated Kneser-Ney bigram fluency score
    (ops/corpus.py:kn_lm_score): absolute discount d = 0.75 plus
    continuation-probability interpolation from context-DIVERSITY
    counts — the production LM smoothing beside the add-one scorer,
    same per-position round + DECIMAL-sum parity discipline. The
    oracle rebuilds all five count frames and every position's
    fixed-order probability expression."""
    from lamapi_spark.ops.corpus import kn_lm_score

    return kn_lm_score(load(spark, sf, "documents")).orderBy("doc_id")


# ------------------------------------------------- RAKE keywords


def _stoplist_sql() -> str:
    from lamapi_spark.functions.strings import STOPWORDS
    return ", ".join(f"'{s}'" for s in sorted(STOPWORDS))


@register("corpus_rake", f"""
WITH d AS (
  SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS toks
  FROM documents),
m AS (SELECT doc_id,
             list_transform(toks, w -> CASE WHEN w IN ({_stoplist_sql()})
                                       THEN chr(1) ELSE w END) AS mk
      FROM d),
occ AS (
  SELECT doc_id, p AS phrase FROM (
    SELECT doc_id,
           unnest(list_filter(
             string_split_regex(array_to_string(mk, ' '),
                                '\\s*' || chr(1) || '\\s*'),
             p -> len(p) > 0)) AS p
    FROM m)),
ow AS (SELECT doc_id, len(string_split(phrase, ' '))::BIGINT AS plen,
              unnest(string_split(phrase, ' ')) AS w
       FROM occ),
ws AS (SELECT doc_id, w,
              round_even(CAST(sum(plen) AS DOUBLE) / count(*), 9)
                AS wscore
       FROM ow GROUP BY doc_id, w),
cand AS (SELECT DISTINCT doc_id, phrase FROM occ),
cw AS (SELECT doc_id, phrase, unnest(string_split(phrase, ' ')) AS w
       FROM cand),
sc AS (SELECT cw.doc_id, cw.phrase, count(*)::BIGINT AS n_words,
              CAST(sum(ws.wscore::DECIMAL(28,9)) AS DOUBLE) AS score
       FROM cw JOIN ws ON cw.doc_id = ws.doc_id AND cw.w = ws.w
       GROUP BY cw.doc_id, cw.phrase),
rk AS (SELECT *, row_number() OVER (PARTITION BY doc_id
                                    ORDER BY score DESC, phrase ASC)
                   ::BIGINT AS rk
       FROM sc)
SELECT doc_id, phrase, n_words, score, rk
FROM rk WHERE rk <= 3 ORDER BY doc_id, rk
""")
def corpus_rake(spark, sf):
    """Per-document RAKE keyword phrases (ops/corpus.rake_keywords,
    k=3) over the documents corpus — candidates are maximal
    stopword-free token runs ('the'/'a' in the template vocabulary
    make the split real), word score deg/freq over candidate
    occurrences, phrase score a DECIMAL sum of 9-dp word scores. The
    oracle replays the mark-rejoin-split run extraction, both aggs,
    the join, and the tie-broken per-document window."""
    from lamapi_spark.ops.corpus import rake_keywords

    docs = load(spark, sf, "documents")
    return (rake_keywords(docs, "doc_id", "text", k=3)
            .orderBy("doc_id", "rk"))


# ------------------------------------------------- n-gram novelty


@register("corpus_ngram_novelty", """
WITH tr AS (SELECT text FROM documents WHERE doc_id % 2 = 0),
ge AS (SELECT doc_id, text FROM documents WHERE doc_id % 2 = 1),
tg AS (SELECT DISTINCT g AS gram FROM (
  SELECT unnest(CASE WHEN len(t) >= 3 THEN
           list_transform(range(1, len(t) - 1),
             i -> t[i] || ' ' || t[i + 1] || ' ' || t[i + 2])
         ELSE [] END) AS g
  FROM (SELECT string_split_regex(trim(lower(text)), '\\s+') AS t
        FROM tr))),
gg AS (SELECT doc_id, g AS gram, count(*)::BIGINT AS cnt FROM (
  SELECT doc_id, unnest(CASE WHEN len(t) >= 3 THEN
           list_transform(range(1, len(t) - 1),
             i -> t[i] || ' ' || t[i + 1] || ' ' || t[i + 2])
         ELSE [] END) AS g
  FROM (SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS t
        FROM ge)) GROUP BY doc_id, g)
SELECT gg.doc_id AS doc_id, sum(cnt)::BIGINT AS n_grams,
       sum(CASE WHEN tg.gram IS NULL THEN cnt ELSE 0 END)::BIGINT
         AS n_novel,
       round_even(sum(CASE WHEN tg.gram IS NULL THEN cnt ELSE 0 END)
                  / CAST(sum(cnt) AS DOUBLE), 6) AS novelty
FROM gg LEFT JOIN tg ON gg.gram = tg.gram
GROUP BY gg.doc_id ORDER BY doc_id
""")
def corpus_ngram_novelty(spark, sf):
    """Token-3-gram novelty (ops/corpus.ngram_novelty) of the
    odd-doc_id half of documents against the even half as training —
    the template generator repeats grams across docs, so novelty sits
    strictly between 0 and 1 and every branch (seen, novel, repeated
    novel) is exercised. The oracle replays tokenization, the in-row
    gram slice, the distinct training set, and the occurrence-weighted
    left join."""
    from lamapi_spark.ops.corpus import ngram_novelty

    docs = load(spark, sf, "documents")
    train = docs.filter(F.col("doc_id") % 2 == 0)
    gen = docs.filter(F.col("doc_id") % 2 == 1)
    return (ngram_novelty(gen, train, "doc_id", "text", n=3)
            .orderBy("doc_id"))
