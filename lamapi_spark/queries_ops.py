"""Driver-contract queries for the training-data ops (dedup, similarity,
text analysis, column analysis) over the testdata tables. Registered
into the same registry as lamapi_spark.queries.

Engine-parity notes: all hashing is md5-on-strings; dot products are
double-precision summed in a fixed left-to-right order (deterministic —
Spark F.aggregate mirrors DuckDB list_reduce exactly), so summation
order can never flip a rank between Spark and DuckDB.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from lamapi_spark.ops.dedup import (
    dedup_clusters, exact_dedup, minhash_lsh_pairs, ngram_jaccard_pairs,
    simhash60, simhash_pairs, substring_dup_spans, substring_dup_stats,
)
from lamapi_spark.ops.similarity import brute_force_topk, lsh_ann_topk
from lamapi_spark.ops.textstats import (
    LANG_MARKERS, PII_PATTERNS, fingerprint, lang_id, lang_scores, pii_counts,
    quality_features, redact_pii, repetition_features, token_counts,
)
from lamapi_spark.queries import load, register

# ---------------------------------------------------------------- helpers

_N_HASHES, _N_BANDS, _ROWS_PER_BAND = 16, 4, 4

_SHINGLES_SQL = (
    "list_distinct(list_transform(range(1, greatest(len(string_split(lower(text), ' ')) - 1, 1)), "
    "i -> array_to_string(string_split(lower(text), ' ')[i:i+2], ' ')))"
)

_SIG_SQL = "[" + ", ".join(
    f"list_min(list_transform(sh, s -> md5('{j}|' || s)))" for j in range(_N_HASHES)
) + "]"

_BANDS_SQL = "[" + ", ".join(
    "md5(" + " || '|' || ".join(
        f"sig[{b * _ROWS_PER_BAND + r + 1}]" for r in range(_ROWS_PER_BAND)
    ) + ")"
    for b in range(_N_BANDS)
) + "]"


# ---------------------------------------------------------------- dedup

@register("dedup_exact", """
SELECT md5(text) AS content_hash, min(doc_id) AS keep_id, count(*)::BIGINT AS group_size
FROM documents GROUP BY md5(text) ORDER BY content_hash
""")
def dedup_exact(spark, sf):
    """Exact dedup: hash-groupBy, keep min id."""
    return (
        exact_dedup(load(spark, sf, "documents"), "text", "doc_id")
        .orderBy("content_hash")
    )


@register("dedup_minhash_lsh", f"""
WITH sh AS (
  SELECT doc_id, {_SHINGLES_SQL} AS sh FROM documents
), sig AS (
  SELECT doc_id, {_SIG_SQL} AS sig FROM sh WHERE len(sh) > 0
), bands AS (
  SELECT doc_id, sig, unnest({_BANDS_SQL}) AS band_key,
         unnest(range({_N_BANDS})) AS band
  FROM sig
), pairs AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
         a.sig AS sig_a, b.sig AS sig_b
  FROM bands a JOIN bands b ON a.band = b.band AND a.band_key = b.band_key
  WHERE a.doc_id < b.doc_id
)
SELECT id_a, id_b,
       round_even(len(list_filter(range(1, {_N_HASHES + 1}), i -> sig_a[i] = sig_b[i]))
             / {_N_HASHES}.0, 3) AS sig_agree
FROM pairs ORDER BY id_a, id_b
""")
def dedup_minhash_lsh(spark, sf):
    """MinHash+LSH near-dup candidate pairs: shingle -> 16 md5-minhashes
    -> 4 bands -> band-bucket join; sig_agree estimates Jaccard.
    max_bucket lifted above any sf's template-group size — the oracle
    does not model the hot-bucket drop, so the guard must stay a no-op
    for oracle equivalence (same reasoning as image_neardup_pairs)."""
    return (
        minhash_lsh_pairs(load(spark, sf, "documents"), "doc_id", "text",
                          k_shingle=3, n_hashes=_N_HASHES, n_bands=_N_BANDS,
                          max_bucket=1_000_000)
        .orderBy("id_a", "id_b")
    )


@register("dedup_ngram_jaccard", f"""
WITH sh AS (
  SELECT doc_id, {_SHINGLES_SQL} AS sh FROM documents
), ex AS (
  SELECT doc_id, unnest(sh) AS s FROM sh
), cand AS (
  SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
  FROM ex x JOIN ex y USING (s) WHERE x.doc_id < y.doc_id
)
SELECT id_a, id_b,
       round_even(len(list_intersect(a.sh, b.sh))::DOUBLE
             / len(list_distinct(list_concat(a.sh, b.sh))), 3) AS jaccard
FROM cand JOIN sh a ON a.doc_id = id_a JOIN sh b ON b.doc_id = id_b
WHERE len(list_intersect(a.sh, b.sh))::DOUBLE
      / len(list_distinct(list_concat(a.sh, b.sh))) >= 0.2
ORDER BY id_a, id_b
""")
def dedup_ngram_jaccard(spark, sf):
    """Exact shingle-Jaccard pairs >= 0.2 with shared-shingle prefilter.
    max_df lifted above any sf's document count — the oracle's
    candidate join has no document-frequency prune, so the hot-shingle
    guard must stay a no-op for oracle equivalence (same reasoning as
    the max_bucket no-ops on the LSH queries)."""
    return (
        ngram_jaccard_pairs(load(spark, sf, "documents"), "doc_id", "text",
                            k_shingle=3, threshold=0.2, max_df=1_000_000)
        .orderBy("id_a", "id_b")
    )


@register("dedup_substring_spans", """
WITH t AS (
  SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents
), p AS (
  SELECT doc_id, toks, unnest(range(1, len(toks) - 3)) AS pos
  FROM t WHERE len(toks) >= 5
), g AS (
  SELECT doc_id, pos, md5(array_to_string(toks[pos:pos+4], ' ')) AS gram FROM p
), dup AS (
  SELECT gram FROM g GROUP BY gram HAVING count(*) >= 2
), dpos AS (
  SELECT g.doc_id, g.pos FROM g JOIN dup USING (gram)
), brk AS (
  SELECT doc_id, pos,
         CASE WHEN lag(pos) OVER w IS NULL
              OR pos - lag(pos) OVER w > 5 THEN 1 ELSE 0 END AS b
  FROM dpos WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
), grp AS (
  SELECT doc_id, pos, sum(b) OVER (PARTITION BY doc_id ORDER BY pos) AS gid
  FROM brk
)
SELECT doc_id, min(pos)::INT AS start, (max(pos) - min(pos) + 5)::INT AS ntoken_span
FROM grp GROUP BY doc_id, gid ORDER BY doc_id, start
""")
def dedup_substring_spans(spark, sf):
    """Exact substring dedup: maximal corpus-duplicated >=5-token spans
    per document (suffix-array-style passage dedup — dedup the repeated
    PASSAGES, not the documents). A position is duplicated when its
    5-gram occurs >= 2 times corpus-wide; overlapping/touching windows
    merge into maximal spans. The oracle resolves islands with lag/sum
    windows; the operator does the same split in-array after ONE
    per-doc exchange."""
    return (
        substring_dup_spans(load(spark, sf, "documents"), "doc_id", "text",
                            k=5, min_count=2)
        .orderBy("doc_id", "start")
    )


# BM25 workload: 4 fixed queries over the documents vocabulary (q4
# carries an out-of-vocabulary term that must contribute nothing).
# Per-term scores round_even to 6 decimals in BOTH engines before the
# token-ordered list_reduce/F.aggregate sum, so ln() ulp differences
# cannot flip a rank boundary.
_BM25_QUERIES = [("q1", "table scan fast"), ("q2", "query join order"),
                 ("q3", "stream window"), ("q4", "zzz-oov spark")]
_BM25_TERMS = sorted({t for _, qs in _BM25_QUERIES for t in qs.split()})
_BM25_Q_VALUES = ", ".join(
    f"('{qid}', '{t}')" for qid, qs in _BM25_QUERIES for t in sorted(set(qs.split())))
_BM25_TERM_LIST = ", ".join(f"'{t}'" for t in _BM25_TERMS)

# The BM25 CTE chain ends at rk (query_id, doc_id, score, rank) —
# shared by the bm25_topk gate and the hybrid_rrf fusion's lexical arm.
_BM25_CTES = """docs_t AS (
  SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents
), dl AS (
  SELECT doc_id, len(t) AS dl FROM docs_t
), stats AS (
  SELECT count(*)::DOUBLE AS n, avg(dl) AS avgdl FROM dl
), q(query_id, tok) AS (
  VALUES {values}
), tf AS (
  SELECT doc_id, tok, count(*)::DOUBLE AS tf
  FROM (SELECT doc_id, unnest(t) AS tok FROM docs_t)
  WHERE tok IN ({terms}) GROUP BY doc_id, tok
), df AS (
  SELECT tok, count(*)::DOUBLE AS df FROM tf GROUP BY tok
), term AS (
  SELECT q.query_id, tf.doc_id, tf.tok,
         round_even(ln(1 + (s.n - df.df + 0.5) / (df.df + 0.5))
           * tf.tf * 2.2
           / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / s.avgdl)), 6) AS ts
  FROM tf JOIN df USING (tok) JOIN dl USING (doc_id)
       JOIN q ON q.tok = tf.tok, stats s
), agg AS (
  SELECT query_id, doc_id,
         round_even(list_reduce(list_prepend(0.0::DOUBLE,
           list_transform(list_sort(list({'tok': tok, 'ts': ts})),
                          x -> x.ts)), (acc, v) -> acc + v), 6) AS score
  FROM term GROUP BY query_id, doc_id
), rk AS (
  SELECT query_id, doc_id, score,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY score DESC, doc_id) AS rank
  FROM agg
)""".replace("{values}", _BM25_Q_VALUES).replace("{terms}", _BM25_TERM_LIST)

@register("bm25_topk", f"""
WITH {_BM25_CTES}
SELECT query_id, doc_id, score, rank::INT AS rank
FROM rk WHERE rank <= 5 ORDER BY query_id, rank
""")
def bm25_topk_q(spark, sf):
    """Lucene-flavored BM25 top-5 per query over the documents corpus
    (the reference's ES scoring model as an explicit batch operator).
    Oracle recomputes idf/tf/length-norm closed-form with the same
    6-decimal per-term rounding and token-ordered summation."""
    from lamapi_spark.ops.ranking import bm25_topk

    return (
        bm25_topk(load(spark, sf, "documents"), "doc_id", "text",
                  _BM25_QUERIES, k=5, k1=1.2, b=0.75)
        .orderBy("query_id", "rank")
    )


@register("dedup_substring_stats", """
WITH t AS (
  SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents
), p AS (
  SELECT doc_id, toks, unnest(range(1, len(toks) - 3)) AS pos
  FROM t WHERE len(toks) >= 5
), g AS (
  SELECT doc_id, pos, md5(array_to_string(toks[pos:pos+4], ' ')) AS gram FROM p
), dup AS (
  SELECT gram FROM g GROUP BY gram HAVING count(*) >= 2
), dpos AS (
  SELECT g.doc_id, g.pos FROM g JOIN dup USING (gram)
), brk AS (
  SELECT doc_id, pos,
         CASE WHEN lag(pos) OVER w IS NULL
              OR pos - lag(pos) OVER w > 5 THEN 1 ELSE 0 END AS b
  FROM dpos WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
), grp AS (
  SELECT doc_id, pos, sum(b) OVER (PARTITION BY doc_id ORDER BY pos) AS gid
  FROM brk
), spans AS (
  SELECT doc_id, max(pos) - min(pos) + 5 AS span_len
  FROM grp GROUP BY doc_id, gid
), agg AS (
  SELECT doc_id, sum(span_len) AS dup_tokens FROM spans GROUP BY doc_id
)
SELECT t.doc_id, len(t.toks)::INT AS ntokens,
       coalesce(agg.dup_tokens, 0)::INT AS dup_tokens,
       round_even(coalesce(agg.dup_tokens, 0)::DOUBLE / len(t.toks), 3)
         AS dup_fraction
FROM t LEFT JOIN agg USING (doc_id) ORDER BY doc_id
""")
def dedup_substring_stats(spark, sf):
    """Per-document duplicated-token fraction from the maximal
    corpus-duplicated >=5-token spans — the 'drop docs above X% dup'
    training-data filter. Every doc emits a row (0.0 when clean)."""
    return (
        substring_dup_stats(load(spark, sf, "documents"), "doc_id", "text",
                            k=5, min_count=2)
        .orderBy("doc_id")
    )


_SIMHASH_SQL_HASHES = (
    "list_transform(list_distinct(string_split(lower(text), ' ')), "
    "t -> (('0x' || substr(md5(t), 1, 15))::UBIGINT)::BIGINT)"
)
_SIMHASH_SQL = " + ".join(
    f"(CASE WHEN list_sum(list_transform(h, x -> ((x >> {b}) & 1) * 2 - 1)) > 0 "
    f"THEN {2 ** b}::BIGINT ELSE 0 END)"
    for b in range(60)
)

@register("dedup_simhash", f"""
WITH h AS (SELECT doc_id, {_SIMHASH_SQL_HASHES} AS h FROM documents)
SELECT doc_id, ({_SIMHASH_SQL})::BIGINT AS simhash FROM h ORDER BY doc_id
""")
def dedup_simhash(spark, sf):
    """60-bit SimHash per document (near-dup = small Hamming distance)."""
    toks = F.array_distinct(F.split(F.lower("text"), " "))
    return (
        load(spark, sf, "documents")
        .select("doc_id", simhash60(toks).alias("simhash"))
        .orderBy("doc_id")
    )


@register("dedup_simhash_pairs", f"""
WITH h AS (SELECT doc_id, {_SIMHASH_SQL_HASHES} AS h FROM documents),
sig AS (SELECT doc_id, ({_SIMHASH_SQL})::BIGINT AS sim FROM h)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       bit_count(xor(a.sim, b.sim))::INT AS hamming
FROM sig a JOIN sig b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.sim, b.sim)) <= 3
ORDER BY id_a, id_b
""")
def dedup_simhash_pairs(spark, sf):
    """SimHash pairing stage: banded-prefix blocking + bit_count(xor)
    Hamming verify. The oracle is the BRUTE-FORCE all-pairs Hamming join
    — equality proves the banding (4 bands of 15 bits) is lossless for
    Hamming distance <= 3. max_bucket is lifted above any sf's
    template-group size so the hot-bucket guard stays a no-op and the
    operator remains oracle-equivalent at larger sf (same guard as
    image_neardup_pairs)."""
    return (
        simhash_pairs(load(spark, sf, "documents"), "doc_id", "text",
                      max_hamming=3, n_bands=4, max_bucket=1_000_000)
        .withColumn("hamming", F.col("hamming").cast("int"))
        .orderBy("id_a", "id_b")
    )


@register("dedup_cluster", f"""
WITH RECURSIVE
h AS (SELECT doc_id, {_SIMHASH_SQL_HASHES} AS h FROM documents),
sig AS (SELECT doc_id, ({_SIMHASH_SQL})::BIGINT AS sim FROM h),
p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
      FROM sig a JOIN sig b ON a.doc_id < b.doc_id
      WHERE bit_count(xor(a.sim, b.sim)) <= 3),
e AS (SELECT id_a AS a, id_b AS b FROM p UNION SELECT id_b, id_a FROM p),
walk(node, lab) AS (
    SELECT a, a FROM e
    UNION
    SELECT e.b, w.lab FROM walk w JOIN e ON e.a = w.node
),
comp AS (SELECT node, min(lab) AS canonical FROM walk GROUP BY node),
lab AS (SELECT d.doc_id, coalesce(c.canonical, d.doc_id) AS canonical_id
        FROM documents d LEFT JOIN comp c ON c.node = d.doc_id)
SELECT doc_id, canonical_id,
       count(*) OVER (PARTITION BY canonical_id)::BIGINT AS cluster_size
FROM lab ORDER BY doc_id
""")
def dedup_cluster(spark, sf):
    """Pairs -> transitive-closure clusters -> keep/drop verdict. The
    oracle recomputes the SimHash pairs BRUTE-FORCE (as in
    dedup_simhash_pairs) and the components as the min reachable id via
    a recursive CTE — an independent closure construction, so Spark's
    iterative hash-min propagation is checked against a fixpoint
    computed a completely different way."""
    docs = load(spark, sf, "documents")
    # max_bucket sized above any sf's template-group population (the
    # same oracle-equivalence guard image_neardup_pairs documents):
    # same-group docs share most bands, so the default 1000 would drop
    # pairs the brute-force oracle keeps once a group exceeds it.
    pairs = simhash_pairs(docs, "doc_id", "text", max_hamming=3, n_bands=4,
                          max_bucket=1_000_000)
    return dedup_clusters(docs, pairs, "doc_id").orderBy("doc_id")


# ------------------------------------------------------------- similarity

_DOT_SQL = ("list_reduce(list_prepend(0.0::DOUBLE, list_transform(list_zip({a}, {b}), "
            "p -> p[1]::DOUBLE * p[2]::DOUBLE)), (x, y) -> x + y)")

@register("embed_cosine_topk", f"""
WITH q AS (SELECT vec_id AS q_id, embedding AS q_vec FROM embeddings WHERE vec_id < 5),
c AS (SELECT vec_id AS n_id, embedding AS n_vec FROM embeddings),
scored AS (
  SELECT q_id, n_id,
         {_DOT_SQL.format(a='q_vec', b='n_vec')}
         / (sqrt({_DOT_SQL.format(a='q_vec', b='q_vec')})
            * sqrt({_DOT_SQL.format(a='n_vec', b='n_vec')})) AS cosine
  FROM q JOIN c ON q_id <> n_id
)
SELECT q_id, n_id, cosine,
       row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, n_id) AS rnk
FROM scored QUALIFY rnk <= 3 ORDER BY q_id, rnk
""")
def embed_cosine_topk(spark, sf):
    """Brute-force cosine top-3 per query vector, DECIMAL-exact dot
    products (order-independent => identical ranks across engines)."""
    emb = load(spark, sf, "embeddings")
    return (
        brute_force_topk(emb.filter(F.col("vec_id") < 5), emb, k=3)
        .orderBy("q_id", "rnk")
    )


# The hyperplane weights are deterministic md5 arithmetic
# (ops/similarity.py hyperplane_bits): weight(t,p,d) =
# ((int(md5('t|p|d')[:12], 16) % 2001) - 1000) / 1000.0 — the same
# construction the dedup_simhash oracle expresses with token_hash60.
# Plane dots and cosines sum left-to-right (list_reduce mirrors Spark's
# F.aggregate), so bucket keys and ranks are bit-identical.
_ANN_PLANES, _ANN_TABLES, _ANN_DIMS = 6, 2, 64

_ANN_SQL = f"""
WITH wts AS (
  SELECT t, p,
         list(((('0x' || substr(md5(t::VARCHAR || '|' || p::VARCHAR || '|' || d::VARCHAR),
                 1, 12))::UBIGINT % 2001)::BIGINT - 1000) / 1000.0 ORDER BY d) AS wvec
  FROM range({_ANN_TABLES}) tt(t), range({_ANN_PLANES}) pp(p), range({_ANN_DIMS}) dd(d)
  GROUP BY t, p
), keys AS (
  SELECT e.vec_id AS id, w.t AS tbl,
         sum(CASE WHEN list_reduce(list_prepend(0.0::DOUBLE,
               list_transform(range(1, {_ANN_DIMS + 1}),
                              d -> e.embedding[d]::DOUBLE * w.wvec[d])),
               (x, y) -> x + y) > 0
             THEN (1::BIGINT << p) ELSE 0::BIGINT END)::BIGINT AS key
  FROM embeddings e CROSS JOIN wts w
  GROUP BY e.vec_id, w.t
), cand AS (
  SELECT DISTINCT q.id AS q_id, c.id AS n_id
  FROM keys q JOIN keys c ON q.tbl = c.tbl AND q.key = c.key
  WHERE q.id < 5 AND q.id <> c.id
), scored AS (
  SELECT cand.q_id, cand.n_id,
         {_DOT_SQL.format(a='eq.embedding', b='ec.embedding')}
         / (sqrt({_DOT_SQL.format(a='eq.embedding', b='eq.embedding')})
            * sqrt({_DOT_SQL.format(a='ec.embedding', b='ec.embedding')})) AS cosine
  FROM cand
  JOIN embeddings eq ON eq.vec_id = cand.q_id
  JOIN embeddings ec ON ec.vec_id = cand.n_id
)
SELECT q_id, n_id, cosine,
       row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, n_id) AS rnk
FROM scored QUALIFY rnk <= 3 ORDER BY q_id, rnk
"""


@register("embed_ann_lsh", _ANN_SQL)
def embed_ann_lsh(spark, sf):
    """LSH-bucketed ANN (scale path): exact cosine within md5-derived
    hyperplane buckets across 2 independent tables. The oracle rebuilds
    the hyperplane weights, bucket keys, candidate join and ranked
    cosine in SQL (md5 arithmetic + ordered list_reduce sums), so the
    full ANN dataflow is hash-checked; recall vs brute force is
    additionally asserted in tests. max_bucket (100k) is a no-op at
    sandbox scale and omitted from the oracle."""
    emb = load(spark, sf, "embeddings")
    return (
        lsh_ann_topk(emb.filter(F.col("vec_id") < 5), emb, k=3,
                     n_planes=_ANN_PLANES, n_tables=_ANN_TABLES, dims=_ANN_DIMS)
        .orderBy("q_id", "rnk")
    )


# ------------------------------------------------------------- text stats

_MARK_SQL = {
    lang: "[" + ", ".join(f"'{w}'" for w in words) + "]"
    for lang, words in LANG_MARKERS.items()
}
# tokenization parity: the Spark side splits on \s+ (textstats._tokens),
# so the oracles must too — a single-space split only matches while the
# fixture text happens to contain no tabs or double spaces
_RATIO_SQL = {
    lang: (f"len(list_filter(string_split_regex(lower(text), '\\s+'), "
           f"t -> list_contains({arr}, t)))::DOUBLE "
           f"/ greatest(len(string_split_regex(lower(text), '\\s+')), 1)")
    for lang, arr in _MARK_SQL.items()
}
_BEST_SQL = "greatest(" + ", ".join(_RATIO_SQL[lang] for lang in sorted(LANG_MARKERS)) + ")"
_LANG_CASE = "CASE WHEN " + _BEST_SQL + " = 0 THEN 'und' " + " ".join(
    f"WHEN {_RATIO_SQL[lang]} = {_BEST_SQL} THEN '{lang}'"
    for lang in sorted(LANG_MARKERS)
) + " END"

@register("text_lang_id", f"""
SELECT doc_id, {_LANG_CASE} AS lang_pred,
       round_even({_RATIO_SQL['en']}, 3) AS en_ratio
FROM documents ORDER BY doc_id
""")
def text_lang_id(spark, sf):
    """Language ID via function-word-ratio argmax (deterministic
    tiebreak by language name)."""
    docs = load(spark, sf, "documents")
    scores = lang_scores(F.col("text"))
    return docs.select(
        "doc_id",
        lang_id(F.col("text")).alias("lang_pred"),
        F.bround(scores["en"], 3).alias("en_ratio"),
    ).orderBy("doc_id")


@register("text_quality", r"""
SELECT doc_id,
       length(text)::INT AS n_chars,
       len(string_split_regex(lower(text), '\s+'))::INT AS n_tokens,
       round_even(list_sum(list_transform(string_split_regex(lower(text), '\s+'), t -> length(t)))::DOUBLE
             / greatest(len(string_split_regex(lower(text), '\s+')), 1), 2) AS mean_token_len,
       round_even(length(regexp_replace(text, '[^A-Za-z]', '', 'g'))::DOUBLE
             / greatest(length(text), 1), 3) AS alpha_ratio
FROM documents ORDER BY doc_id
""")
def text_quality(spark, sf):
    """Quality-scoring features (subset with SQL oracle; the full
    feature map incl. stopword/punct ratios is in ops/textstats.py)."""
    q = quality_features(F.col("text"))
    return (
        load(spark, sf, "documents")
        .select("doc_id", q["n_chars"].alias("n_chars"),
                q["n_tokens"].alias("n_tokens"),
                q["mean_token_len"].alias("mean_token_len"),
                q["alpha_ratio"].alias("alpha_ratio"))
        .orderBy("doc_id")
    )


@register("text_token_count", r"""
SELECT doc_id,
       len(string_split_regex(trim(text), '\s+'))::INT AS ws_tokens,
       len(regexp_extract_all(text, '(\w+|[^\w\s])'))::INT AS regex_tokens
FROM documents ORDER BY doc_id
""")
def text_token_count(spark, sf):
    """Whitespace + BPE-ish regex token counting."""
    tc = token_counts(F.col("text"))
    return (
        load(spark, sf, "documents")
        .select("doc_id", tc["ws_tokens"].alias("ws_tokens"),
                tc["regex_tokens"].alias("regex_tokens"))
        .orderBy("doc_id")
    )


@register("text_fingerprint", r"""
SELECT doc_id,
       md5(array_to_string(list_sort(list_distinct(string_split_regex(lower(text), '\s+'))), ' ')) AS fp
FROM documents ORDER BY doc_id
""")
def text_fingerprint(spark, sf):
    """Order-insensitive token-set fingerprint."""
    return (
        load(spark, sf, "documents")
        .select("doc_id", fingerprint(F.col("text")).alias("fp"))
        .orderBy("doc_id")
    )


# Planted-PII corpus: the synthetic documents carry no PII, so the
# contract query augments them DETERMINISTICALLY from doc_id; the identical
# CASE runs in both engines, so matches are known-by-construction
# without being circular (the oracle still re-runs detection itself).
_PII_AUG_SQL = (
    "CASE WHEN doc_id % 3 = 0 THEN text || ' contact user' || "
    "CAST(doc_id AS VARCHAR) || '@example.com now' "
    "WHEN doc_id % 5 = 0 THEN text || ' from 10.0.' || "
    "CAST(doc_id % 250 AS VARCHAR) || '.7 at +1 555 01' || "
    "CAST(doc_id AS VARCHAR) ELSE text END"
)


def _pii_aug_col():
    did = F.col("doc_id")
    return (
        F.when(did % 3 == 0, F.concat(
            F.col("text"), F.lit(" contact user"), did.cast("string"),
            F.lit("@example.com now")))
        .when(did % 5 == 0, F.concat(
            F.col("text"), F.lit(" from 10.0."), (did % 250).cast("string"),
            F.lit(".7 at +1 555 01"), did.cast("string")))
        .otherwise(F.col("text"))
    )


@register("text_pii", f"""
WITH aug AS (SELECT doc_id, {_PII_AUG_SQL} AS t FROM documents)
SELECT doc_id,
       len(regexp_extract_all(t, '{PII_PATTERNS["email"]}'))::INT AS n_email,
       len(regexp_extract_all(t, '{PII_PATTERNS["ipv4"]}'))::INT AS n_ipv4,
       len(regexp_extract_all(t, '{PII_PATTERNS["phone"]}'))::INT AS n_phone,
       md5(regexp_replace(regexp_replace(regexp_replace(t,
           '{PII_PATTERNS["email"]}', '<EMAIL>', 'g'),
           '{PII_PATTERNS["ipv4"]}', '<IPV4>', 'g'),
           '{PII_PATTERNS["phone"]}', '<PHONE>', 'g')) AS redacted_hash
FROM aug ORDER BY doc_id
""")
def text_pii(spark, sf):
    """PII detection + redaction over the planted corpus. The oracle
    re-runs both regex stages in DuckDB (RE2) against Spark's Java
    regex — the patterns are written for cross-engine parity
    (PII_PATTERNS); note DuckDB regexp_replace needs the 'g' flag to
    match Spark's replace-all semantics."""
    aug = _pii_aug_col()
    counts = pii_counts(aug)
    return (
        load(spark, sf, "documents")
        .select("doc_id",
                counts["n_email"].alias("n_email"),
                counts["n_ipv4"].alias("n_ipv4"),
                counts["n_phone"].alias("n_phone"),
                F.md5(redact_pii(aug)).alias("redacted_hash"))
        .orderBy("doc_id")
    )


_TOKS_SQL = r"string_split_regex(lower(text), '\s+')"
_GRAMS_SQL = (
    "CASE WHEN len(toks) >= 2 THEN "
    "list_transform(range(1, len(toks)), "
    "i -> array_to_string(toks[i:i+1], ' ')) "
    "ELSE []::VARCHAR[] END"
)


@register("text_repetition", f"""
WITH t AS (SELECT doc_id, {_TOKS_SQL} AS toks FROM documents),
g AS (SELECT doc_id, toks, {_GRAMS_SQL} AS grams FROM t)
SELECT doc_id,
       round_even(1.0 - len(list_distinct(toks))::DOUBLE
                  / greatest(len(toks), 1), 3) AS dup_token_frac,
       CASE WHEN len(grams) > 0 THEN
           round_even(list_max(list_transform(list_distinct(grams),
               x -> len(list_filter(grams, y -> y = x))))::DOUBLE
               / len(grams), 3)
       ELSE 0.0 END AS top_2gram_frac
FROM g ORDER BY doc_id
""")
def text_repetition(spark, sf):
    """Gopher-style repetition signals (duplicate-token fraction,
    most-frequent-2-gram fraction) — per-document array expressions,
    no shuffle beyond the scan."""
    rep = repetition_features(F.col("text"))
    return (
        load(spark, sf, "documents")
        .select("doc_id",
                rep["dup_token_frac"].alias("dup_token_frac"),
                rep["top_2gram_frac"].alias("top_2gram_frac"))
        .orderBy("doc_id")
    )


@register("quality_filter", f"""
WITH t AS (SELECT doc_id, {_TOKS_SQL} AS toks, text FROM documents),
q AS (SELECT doc_id,
       len(toks) AS n_tokens,
       round_even(list_sum(list_transform(toks, s -> length(s)))::DOUBLE
             / greatest(len(toks), 1), 2) AS mean_token_len,
       round_even(length(regexp_replace(text, '[^A-Za-z]', '', 'g'))::DOUBLE
             / greatest(length(text), 1), 3) AS alpha_ratio,
       round_even(1.0 - len(list_distinct(toks))::DOUBLE
             / greatest(len(toks), 1), 3) AS dup_token_frac
FROM t)
SELECT doc_id,
       (n_tokens BETWEEN 10 AND 1000) AS r_len,
       (mean_token_len BETWEEN 2 AND 12) AS r_mean,
       (alpha_ratio >= 0.6) AS r_alpha,
       (dup_token_frac <= 0.8) AS r_dup,
       ((n_tokens BETWEEN 10 AND 1000) AND (mean_token_len BETWEEN 2 AND 12)
        AND alpha_ratio >= 0.6 AND dup_token_frac <= 0.8) AS keep
FROM q ORDER BY doc_id
""")
def quality_filter(spark, sf):
    """Gopher-rule composition: per-rule verdicts + the final keep flag.
    Thresholds compare the ROUNDED features (bround/round_even computed
    identically in both engines), so a boundary value can never split
    the engines on float dust."""
    q = quality_features(F.col("text"))
    rep = repetition_features(F.col("text"))
    r_len = q["n_tokens"].between(10, 1000)
    r_mean = q["mean_token_len"].between(2, 12)
    r_alpha = q["alpha_ratio"] >= 0.6
    r_dup = rep["dup_token_frac"] <= 0.8
    return (
        load(spark, sf, "documents")
        .select("doc_id",
                r_len.alias("r_len"), r_mean.alias("r_mean"),
                r_alpha.alias("r_alpha"), r_dup.alias("r_dup"),
                (r_len & r_mean & r_alpha & r_dup).alias("keep"))
        .orderBy("doc_id")
    )


# ---------------------------------------------------- column analysis (U2)

_COL_CLASSIFY_SRC = """
  SELECT 'p_size' AS col_name, CAST(p_size AS VARCHAR) AS v FROM part
  UNION ALL SELECT 'p_retailprice', CAST(p_retailprice AS VARCHAR) FROM part
  UNION ALL SELECT 'o_orderdate', strftime(o_orderdate, '%Y-%m-%d') FROM orders
  UNION ALL SELECT 'p_name', p_name FROM part
  UNION ALL SELECT 'c_name', c_name FROM customer
"""

from lamapi_spark.queries import _LIT_SQL_CASCADE  # noqa: E402

@register("column_analysis", f"""
WITH vals AS ({_COL_CLASSIFY_SRC}),
cls AS (
  SELECT col_name, {_LIT_SQL_CASCADE} AS lit_class FROM vals
),
counted AS (
  SELECT col_name, lit_class, count(*)::BIGINT AS cnt FROM cls
  GROUP BY col_name, lit_class
)
SELECT col_name, lit_class AS majority_class,
       round_even(cnt / sum(cnt) OVER (PARTITION BY col_name), 3) AS class_ratio
FROM counted
QUALIFY row_number() OVER (PARTITION BY col_name ORDER BY cnt DESC, lit_class) = 1
ORDER BY col_name
""")
def column_analysis(spark, sf):
    """U2 — the reference's column-classifier service
    (api/model/data_retrievers/column_analysis.py 'fast' mode spirit):
    per column, majority vote over per-cell literal classes -> the
    column is LIT of that datatype (or NE when STRING dominates)."""
    from pyspark.sql import Window as W

    from lamapi_spark.functions.literals import classify_literal
    part = load(spark, sf, "part")
    orders = load(spark, sf, "orders")
    cust = load(spark, sf, "customer")
    vals = (
        part.select(F.lit("p_size").alias("col_name"), F.col("p_size").cast("string").alias("v"))
        .unionAll(part.select(F.lit("p_retailprice"), F.col("p_retailprice").cast("string")))
        .unionAll(orders.select(F.lit("o_orderdate"), F.date_format("o_orderdate", "yyyy-MM-dd")))
        .unionAll(part.select(F.lit("p_name"), F.col("p_name")))
        .unionAll(cust.select(F.lit("c_name"), F.col("c_name")))
    )
    counted = (
        vals.select("col_name", classify_literal("v").alias("lit_class"))
        .groupBy("col_name", "lit_class").agg(F.count("*").alias("cnt"))
    )
    w_col = W.partitionBy("col_name")
    w_rank = w_col.orderBy(F.desc("cnt"), "lit_class")
    return (
        counted
        .withColumn("class_ratio", F.bround(F.col("cnt") / F.sum("cnt").over(w_col), 3))
        .withColumn("_rn", F.row_number().over(w_rank))
        .filter(F.col("_rn") == 1)
        .select("col_name", F.col("lit_class").alias("majority_class"), "class_ratio")
        .orderBy("col_name")
    )


from lamapi_spark.functions.literals import (  # noqa: E402
    ISO_DATETIME_PATTERN, classify_value_cb, xsd_of_class, XSD_BY_CLASS,
)

_CB_CASE = (
    "CASE WHEN regexp_matches(v, '" + ISO_DATETIME_PATTERN + "') THEN 'DATETIME' "
    "WHEN TRY_CAST(v AS DOUBLE) IS NOT NULL THEN 'NUMBER' ELSE 'STRING' END"
)

@register("classify_value", f"""
WITH vals AS (
  SELECT CAST(p_size AS VARCHAR) AS v FROM part
  UNION ALL SELECT CAST(p_retailprice AS VARCHAR) FROM part
  UNION ALL SELECT strftime(o_orderdate, '%Y-%m-%d') FROM orders
  UNION ALL SELECT lang FROM documents
  UNION ALL SELECT strftime(ts, '%H:%M') FROM events
)
SELECT {_CB_CASE} AS cb_class, count(*)::BIGINT AS cnt
FROM vals GROUP BY cb_class ORDER BY cb_class
""")
def classify_value(spark, sf):
    """F6 — the cb-ingest classify_value cascade (parsing_cb.py:26-37):
    ISO-parse -> DATETIME, float-cast -> NUMBER, else STRING. A different
    function from the F5 regex cascade: '1996-01-02' is DATE under F5
    but DATETIME here, '13:45' is TIME under F5 but STRING here."""
    part = load(spark, sf, "part")
    orders = load(spark, sf, "orders")
    docs = load(spark, sf, "documents")
    events = load(spark, sf, "events")
    vals = (
        part.select(F.col("p_size").cast("string").alias("v"))
        .unionAll(part.select(F.col("p_retailprice").cast("string").alias("v")))
        .unionAll(orders.select(F.date_format("o_orderdate", "yyyy-MM-dd").alias("v")))
        .unionAll(docs.select(F.col("lang").alias("v")))
        .unionAll(events.select(F.date_format("ts", "HH:mm").alias("v")))
    )
    return (
        vals.select(classify_value_cb(F.col("v")).alias("cb_class"))
        .groupBy("cb_class").agg(F.count("*").alias("cnt"))
        .orderBy("cb_class")
    )


_XSD_CASE = "CASE " + " ".join(
    f"WHEN lit_class = '{cls}' THEN '{xsd}'" for cls, xsd in XSD_BY_CLASS.items()
) + " ELSE 'xsd:string' END"

@register("literal_xsd", f"""
WITH vals AS (
  SELECT CAST(p_size AS VARCHAR) AS v FROM part
  UNION ALL SELECT strftime(o_orderdate, '%Y-%m-%d') FROM orders
  UNION ALL SELECT lang FROM documents
  UNION ALL SELECT strftime(ts, '%H:%M') FROM events
), cls AS (
  SELECT {_LIT_SQL_CASCADE} AS lit_class FROM vals
)
SELECT lit_class, {_XSD_CASE} AS xsd, count(*)::BIGINT AS cnt
FROM cls GROUP BY lit_class, xsd ORDER BY lit_class
""")
def literal_xsd(spark, sf):
    """The /literal-recognizer response surface: class -> xsd datatype
    (data_retrievers/literal_classifier.py:8-30) attached to the F5
    cascade output."""
    part = load(spark, sf, "part")
    orders = load(spark, sf, "orders")
    docs = load(spark, sf, "documents")
    events = load(spark, sf, "events")
    from lamapi_spark.functions.literals import classify_literal
    vals = (
        part.select(F.col("p_size").cast("string").alias("v"))
        .unionAll(orders.select(F.date_format("o_orderdate", "yyyy-MM-dd").alias("v")))
        .unionAll(docs.select(F.col("lang").alias("v")))
        .unionAll(events.select(F.date_format("ts", "HH:mm").alias("v")))
    )
    return (
        vals.select(classify_literal("v").alias("lit_class"))
        .withColumn("xsd", xsd_of_class("lit_class"))
        .groupBy("lit_class", "xsd").agg(F.count("*").alias("cnt"))
        .orderBy("lit_class")
    )


@register("summary_labeled", """
WITH s AS (
  SELECT o_custkey AS pred, count(*)::BIGINT AS cnt FROM orders GROUP BY o_custkey
)
SELECT s.pred, s.cnt, coalesce(c.c_name, 'Unknown Label') AS label
FROM s LEFT JOIN customer c ON s.pred = c.c_custkey
ORDER BY s.pred
""")
def summary_labeled(spark, sf):
    """Summary label resolution (scripts/summary.py:19-22,64-79): the
    predicate-frequency summary joined to its human-readable labels,
    'Unknown Label' when unresolved. Label side broadcast."""
    from lamapi_spark.operators.summary import with_labels
    orders = load(spark, sf, "orders")
    cust = load(spark, sf, "customer")
    summary = (
        orders.groupBy(F.col("o_custkey").alias("pred"))
        .agg(F.count("*").alias("cnt"))
    )
    labeled = with_labels(
        summary,
        cust.select(F.col("c_custkey").alias("entity"), "c_name"),
        key="pred", label_expr=F.col("c_name"))
    return labeled.select("pred", "cnt", "label").orderBy("pred")


_COLNE_CELLS = """
  SELECT 'cust' AS col_name, c_name AS v FROM customer
  UNION ALL SELECT 'supp', s_name FROM supplier
  UNION ALL SELECT 'nat', n_name FROM nation
  UNION ALL SELECT 'price', CAST(p_retailprice AS VARCHAR) FROM part
  UNION ALL SELECT 'odate', strftime(o_orderdate, '%Y-%m-%d') FROM orders
"""

_COLNE_SQL = f"""
WITH cells AS ({_COLNE_CELLS}),
dict AS (
  SELECT DISTINCT lower(c_name) AS name_norm, 'PERS' AS ner, 1.0 AS pop FROM customer
  UNION ALL SELECT DISTINCT lower(s_name), 'ORG', 1.0 FROM supplier
  UNION ALL SELECT DISTINCT lower(n_name), 'LOC', 1.0 FROM nation
), totals AS (
  SELECT col_name, count(*)::BIGINT AS n_total FROM cells GROUP BY col_name
), lit AS (
  SELECT col_name,
         CASE WHEN cls IN ('INTEGER','FLOAT') THEN 'NUMBER'
              WHEN cls IN ('DATE','DATETIME','TIME') THEN 'DATE'
              ELSE 'STRING' END AS cls
  FROM (SELECT col_name, {_LIT_SQL_CASCADE} AS cls FROM cells)
), lit_counts AS (
  SELECT col_name, cls, count(*)::BIGINT AS cnt FROM lit GROUP BY col_name, cls
), lit_probs AS (
  SELECT col_name,
         array_to_string(list_sort(list(cls || ':' || CAST(cnt AS VARCHAR))), ' ') AS lp
  FROM lit_counts GROUP BY col_name
), lit_major AS (
  SELECT col_name, cls AS lit_class, cnt AS lit_cnt FROM lit_counts
  QUALIFY row_number() OVER (PARTITION BY col_name ORDER BY cnt DESC, cls) = 1
), name_ner AS (
  SELECT name_norm, ner FROM dict
  QUALIFY row_number() OVER (PARTITION BY name_norm ORDER BY pop DESC, ner) = 1
), ne_counts AS (
  SELECT c.col_name,
         CASE WHEN d.ner = 'PERS' THEN 'PERSON'
              WHEN d.ner = 'ORG' THEN 'ORGANIZATION'
              WHEN d.ner = 'LOC' THEN 'LOCATION' ELSE 'OTHER' END AS ne_class,
         count(*)::BIGINT AS ne_cnt
  FROM (SELECT col_name, trim(regexp_replace(lower(v), '\\s+', ' ', 'g')) AS name_norm
        FROM cells) c
  JOIN name_ner d USING (name_norm)
  GROUP BY 1, 2
), ne_probs AS (
  SELECT col_name,
         array_to_string(list_sort(list(ne_class || ':' || CAST(ne_cnt AS VARCHAR))), ' ') AS np
  FROM ne_counts GROUP BY col_name
), ne_major AS (
  SELECT col_name, ne_class, ne_cnt FROM ne_counts
  QUALIFY row_number() OVER (PARTITION BY col_name ORDER BY ne_cnt DESC, ne_class) = 1
)
SELECT t.col_name,
       CASE WHEN l.lit_class = 'STRING' AND nm.ne_class IS NOT NULL
            THEN 'NE' ELSE 'LIT' END AS tag,
       CASE WHEN l.lit_class = 'STRING' AND nm.ne_class IS NOT NULL
            THEN nm.ne_class ELSE l.lit_class END AS classification,
       CASE WHEN l.lit_class = 'STRING' AND nm.ne_class IS NOT NULL
            THEN nm.ne_class ELSE l.lit_class END AS datatype,
       round_even(CASE WHEN l.lit_class = 'STRING' AND nm.ne_class IS NOT NULL
                       THEN nm.ne_cnt ELSE l.lit_cnt END / t.n_total, 3) AS probability,
       CASE WHEN l.lit_class = 'STRING' AND nm.ne_class IS NOT NULL
            THEN np.np ELSE lp.lp END AS probabilities
FROM totals t
JOIN lit_major l USING (col_name)
JOIN lit_probs lp USING (col_name)
LEFT JOIN ne_major nm USING (col_name)
LEFT JOIN ne_probs np USING (col_name)
ORDER BY t.col_name
"""


@register("column_analysis_ne", _COLNE_SQL)
def column_analysis_ne(spark, sf):
    """U2 complete — the reference's adapted output shape
    (column_analysis.py:24-85): NE vs LIT tag, NE type vote
    (PERSON/ORGANIZATION/LOCATION/OTHER via dictionary NERtype), winning
    datatype, probability, and the per-class probability map. Customer
    names play PERS entities, suppliers ORG, nations LOC."""
    from lamapi_spark.operators.column_analysis import classify_columns
    cust = load(spark, sf, "customer")
    supp = load(spark, sf, "supplier")
    nat = load(spark, sf, "nation")
    part = load(spark, sf, "part")
    orders = load(spark, sf, "orders")
    cells = (
        cust.select(F.lit("cust").alias("col_name"), F.col("c_name").alias("v"))
        .unionAll(supp.select(F.lit("supp"), F.col("s_name")))
        .unionAll(nat.select(F.lit("nat"), F.col("n_name")))
        .unionAll(part.select(F.lit("price"), F.col("p_retailprice").cast("string")))
        .unionAll(orders.select(F.lit("odate"), F.date_format("o_orderdate", "yyyy-MM-dd")))
    )
    label_dict = (
        cust.select(F.lower("c_name").alias("name_norm"),
                    F.lit("PERS").alias("NERtype"), F.lit(1.0).alias("popularity"))
        .unionAll(supp.select(F.lower("s_name"), F.lit("ORG"), F.lit(1.0)))
        .unionAll(nat.select(F.lower("n_name"), F.lit("LOC"), F.lit(1.0)))
        .distinct()
    )
    return classify_columns(cells, label_dict).orderBy("col_name")


@register("objects_nest", """
SELECT o_custkey AS entity,
       array_to_string(list_sort(list(o_orderkey)), ' ') AS object_ids,
       count(*)::BIGINT AS n_objects
FROM orders GROUP BY o_custkey ORDER BY entity
""")
def objects_nest(spark, sf):
    """S6/J4 re-nest shape — the /entity/objects endpoint's cursor->nest
    reshape (objects_retriever.py:14-26): group the flat edge table back
    into per-entity adjacency (sorted-joined for engine-stable output)."""
    o = load(spark, sf, "orders")
    return (
        o.groupBy(F.col("o_custkey").alias("entity"))
        .agg(
            F.concat_ws(" ", F.sort_array(F.collect_list("o_orderkey"))).alias("object_ids"),
            F.count("*").alias("n_objects"),
        )
        .orderBy("entity")
    )


# ------------------------------------------------- embedding near-dup pairs

# Corpus with PLANTED near-duplicates: every 5th vector gets a copy
# (id + 1000000) whose FIRST component is nudged by +0.05, cast back to
# float32 in both engines so the perturbed values are bit-identical.
# cosine(v, v') stays ~0.999 for the planted pairs while random 64-dim
# pairs sit near 0 — threshold 0.98 selects exactly the plants that LSH
# buckets together. The oracle REPRODUCES the bucket-candidate step
# (like embed_ann_lsh's), so Spark == oracle independent of LSH recall;
# max_bucket (100k) is a no-op at sandbox scale and omitted from it.
# Planted near-dup corpus, shared by dedup_embed_cosine and
# queries_corpus.dedup_semantic (SQL CTE body + Spark twin below).
_EMBED_PLANT_SQL = """
  SELECT vec_id AS id, embedding FROM embeddings
  UNION ALL
  SELECT vec_id + 1000000 AS id,
         -- float -> DOUBLE add -> float, exactly Spark's cast chain
         -- (a bare 0.05 literal is DECIMAL in DuckDB and rounds
         -- differently in the last ulp)
         list_concat([CAST(CAST(embedding[1] AS DOUBLE) + 0.05::DOUBLE AS FLOAT)],
                     embedding[2:]) AS embedding
  FROM embeddings WHERE vec_id % 5 = 0
"""


def planted_embeddings(spark, sf):
    """The Spark twin of _EMBED_PLANT_SQL: embeddings plus a perturbed
    copy (+0.05 on component 1, refloated) of every 5th vector at
    id + 1000000 — cosine(v, v') ~ 0.999 while random 64-dim pairs sit
    near 0, so a 0.98 threshold selects exactly the plants."""
    emb = load(spark, sf, "embeddings")
    planted = emb.filter(F.col("vec_id") % 5 == 0).select(
        (F.col("vec_id") + 1000000).alias("vec_id"),
        F.concat(
            F.array((F.element_at("embedding", 1).cast("double")
                     + F.lit(0.05)).cast("float")),
            F.slice("embedding", 2, _ANN_DIMS - 1),
        ).alias("embedding"))
    return emb.select("vec_id", "embedding").unionByName(planted)


_EMBED_PAIRS_SQL = f"""
WITH corpus AS (
{_EMBED_PLANT_SQL}
), wts AS (
  SELECT t, p,
         list(((('0x' || substr(md5(t::VARCHAR || '|' || p::VARCHAR || '|' || d::VARCHAR),
                 1, 12))::UBIGINT % 2001)::BIGINT - 1000) / 1000.0 ORDER BY d) AS wvec
  FROM range({_ANN_TABLES}) tt(t), range({_ANN_PLANES}) pp(p), range({_ANN_DIMS}) dd(d)
  GROUP BY t, p
), keys AS (
  SELECT e.id, w.t AS tbl,
         sum(CASE WHEN list_reduce(list_prepend(0.0::DOUBLE,
               list_transform(range(1, {_ANN_DIMS + 1}),
                              d -> e.embedding[d]::DOUBLE * w.wvec[d])),
               (x, y) -> x + y) > 0
             THEN (1::BIGINT << p) ELSE 0::BIGINT END)::BIGINT AS key
  FROM corpus e CROSS JOIN wts w
  GROUP BY e.id, w.t
), cand AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b
  FROM keys a JOIN keys b ON a.tbl = b.tbl AND a.key = b.key
  WHERE a.id < b.id
), scored AS (
  SELECT cand.id_a, cand.id_b,
         {_DOT_SQL.format(a='ea.embedding', b='eb.embedding')}
         / (sqrt({_DOT_SQL.format(a='ea.embedding', b='ea.embedding')})
            * sqrt({_DOT_SQL.format(a='eb.embedding', b='eb.embedding')})) AS cosine
  FROM cand
  JOIN corpus ea ON ea.id = cand.id_a
  JOIN corpus eb ON eb.id = cand.id_b
)
SELECT id_a, id_b, cosine FROM scored WHERE cosine >= 0.98
ORDER BY id_a, id_b
"""


@register("dedup_embed_cosine", _EMBED_PAIRS_SQL)
def dedup_embed_cosine(spark, sf):
    """Embedding-cosine near-dup pairs (the embedding member of the
    dedup family): LSH-bucketed candidate self-join + exact-cosine
    verify >= 0.98 over a corpus with planted perturbed copies. The
    oracle rebuilds the md5 hyperplanes, bucket keys, candidate pair
    join, and ordered-sum cosines in SQL, so the whole approximate
    dataflow is value-hash-checked (not just its exact subset)."""
    from lamapi_spark.ops.similarity import embed_neardup_pairs

    corpus = planted_embeddings(spark, sf)
    return (
        embed_neardup_pairs(corpus, "vec_id", "embedding", threshold=0.98,
                            n_planes=_ANN_PLANES, n_tables=_ANN_TABLES,
                            dims=_ANN_DIMS)
        .orderBy("id_a", "id_b")
    )


# ------------------------------------------- fuzzy decontamination

_FUZ_THRESH = 0.5

@register("contamination_fuzzy", f"""
WITH train AS (
  SELECT doc_id, text FROM documents WHERE doc_id % 11 <> 0
  UNION ALL
  SELECT doc_id + 500000 AS doc_id, 'zzq ' || text AS text
  FROM documents WHERE doc_id % 11 = 0),
ev AS (SELECT doc_id AS e_id, text FROM documents WHERE doc_id % 11 = 0),
tsh AS (SELECT doc_id, {_SHINGLES_SQL} AS sh FROM train),
esh AS (SELECT e_id, {_SHINGLES_SQL} AS sh FROM ev),
tsig AS (SELECT doc_id, {_SIG_SQL} AS sig FROM tsh WHERE len(sh) > 0),
esig AS (SELECT e_id, {_SIG_SQL} AS sig FROM esh WHERE len(sh) > 0),
tb AS (SELECT doc_id, sig, unnest({_BANDS_SQL}) AS band_key,
              unnest(range({_N_BANDS})) AS band FROM tsig),
eb AS (SELECT e_id, sig, unnest({_BANDS_SQL}) AS band_key,
              unnest(range({_N_BANDS})) AS band FROM esig),
cand AS (
  SELECT DISTINCT t.doc_id, t.sig AS t_sig, e.e_id, e.sig AS e_sig
  FROM tb t JOIN eb e ON t.band = e.band AND t.band_key = e.band_key),
scored AS (
  SELECT doc_id, e_id,
         round_even(len(list_filter(range(1, {_N_HASHES + 1}),
                    i -> t_sig[i] = e_sig[i])) / {_N_HASHES}.0, 3) AS sig_agree
  FROM cand),
best AS (
  SELECT doc_id, e_id AS eval_id, sig_agree,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY sig_agree DESC, e_id) AS rn
  FROM scored WHERE sig_agree >= {_FUZ_THRESH})
SELECT doc_id, eval_id, sig_agree FROM best WHERE rn = 1 ORDER BY doc_id
""")
def contamination_fuzzy(spark, sf):
    """Fuzzy (MinHash) decontamination (ops/dedup.py:
    fuzzy_contamination): train docs — including PLANTED one-token
    perturbations of every eval doc at id + 500000, which exact n-gram
    overlap alone would under-flag — banded against the eval corpus;
    a train doc is flagged when its best eval match reaches estimated
    Jaccard 0.5. The oracle rebuilds both corpora's signatures, the
    cross-corpus band join, and the per-doc argmax."""
    from lamapi_spark.ops.dedup import fuzzy_contamination

    docs = load(spark, sf, "documents")
    ev = docs.filter(F.col("doc_id") % 11 == 0).select("doc_id", "text")
    tr = (docs.filter(F.col("doc_id") % 11 != 0).select("doc_id", "text")
          .unionByName(ev.select(
              (F.col("doc_id") + 500000).alias("doc_id"),
              F.concat(F.lit("zzq "), F.col("text")).alias("text"))))
    return (
        fuzzy_contamination(tr, ev, k_shingle=3, n_hashes=_N_HASHES,
                            n_bands=_N_BANDS, threshold=_FUZ_THRESH,
                            max_bucket=1_000_000)
        .orderBy("doc_id")
    )


# ------------------------------------------------ hybrid retrieval (RRF)

_RRF_QS_VALUES = ", ".join(f"('{qid}', '{qs}')" for qid, qs in _BM25_QUERIES)
_EMB_COMP = ("(((('0x' || substr(md5(d::VARCHAR || '|' || md5({t})), 1, 12))"
             "::UBIGINT % 2001)::BIGINT - 1000) / 1000.0)::FLOAT")

@register("hybrid_rrf", f"""
WITH {_BM25_CTES},
emb AS (
  SELECT doc_id, list({_EMB_COMP.format(t='text')} ORDER BY d) AS vec
  FROM documents, range(64) dd(d) GROUP BY doc_id),
qv AS (
  SELECT query_id, list({_EMB_COMP.format(t='qs')} ORDER BY d) AS vec
  FROM (VALUES {_RRF_QS_VALUES}) qq(query_id, qs), range(64) dd(d)
  GROUP BY query_id),
cos AS (
  SELECT query_id, doc_id,
         {_DOT_SQL.format(a='qv.vec', b='emb.vec')}
         / (sqrt({_DOT_SQL.format(a='qv.vec', b='qv.vec')})
            * sqrt({_DOT_SQL.format(a='emb.vec', b='emb.vec')})) AS cosine
  FROM qv, emb),
cosrk AS (
  SELECT query_id, doc_id,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, doc_id) AS rank
  FROM cos QUALIFY rank <= 20),
tagged AS (
  SELECT query_id, doc_id, 0 AS rkr,
         round_even(1.0 / (60 + rank), 6) AS contrib
  FROM rk WHERE rank <= 20
  UNION ALL
  SELECT query_id, doc_id, 1, round_even(1.0 / (60 + rank), 6) FROM cosrk),
fused AS (
  SELECT query_id, doc_id,
         round_even(list_reduce(list_prepend(0.0::DOUBLE,
           list_transform(list_sort(list({{'r': rkr, 'c': contrib}})),
                          x -> x.c)), (a, b) -> a + b), 6) AS score
  FROM tagged GROUP BY query_id, doc_id)
SELECT query_id, doc_id, score,
       row_number() OVER (PARTITION BY query_id
                          ORDER BY score DESC, doc_id)::INT AS rank
FROM fused QUALIFY rank <= 10 ORDER BY query_id, rank
""")
def hybrid_rrf_q(spark, sf):
    """Hybrid retrieval: reciprocal-rank fusion (ops/ranking.rrf_fuse)
    of the lexical BM25 top-20 and the semantic cosine top-20 (query
    strings embedded DRIVER-side with similarity.hash_encode — the
    same encoder that embeds the corpus via embed_texts, so the oracle
    rebuilds both arms' embeddings component-for-component), fused to
    a top-10 per query. The cosine arm runs through cosine_rank's
    salted two-phase top-k; contributions and the fused sum follow the
    6-decimal round-even + fixed-fold-order discipline, so every score
    and rank is value-hash-checked."""
    from lamapi_spark.ops.ranking import bm25_topk, cosine_rank, rrf_fuse
    from lamapi_spark.ops.similarity import embed_texts, hash_encode

    docs = load(spark, sf, "documents")
    bm = bm25_topk(docs, "doc_id", "text", _BM25_QUERIES, k=20)
    qv = spark.createDataFrame(
        [(qid, hash_encode(qs, 64)) for qid, qs in _BM25_QUERIES],
        "query_id string, embedding array<float>")
    cos = cosine_rank(qv, embed_texts(docs, dims=64), k=20)
    return rrf_fuse([bm, cos], k=10).orderBy("query_id", "rank")


# ------------------------------------------------------- exact set join

@register("dedup_setjoin_exact", """
WITH sub AS (SELECT doc_id, text FROM documents WHERE doc_id % 5 = 0),
toks AS (
  SELECT doc_id, unnest(list_distinct(string_split(lower(text), ' '))) AS tok
  FROM sub
),
dfreq AS (SELECT tok, count(*) AS df FROM toks GROUP BY tok),
arr AS (
  SELECT t.doc_id, list(t.tok ORDER BY d.df, t.tok) AS toks,
         count(*)::BIGINT AS n
  FROM toks t JOIN dfreq d ON d.tok = t.tok GROUP BY t.doc_id
),
pref AS (
  SELECT doc_id, unnest(toks[1 : (n - ((3*n + 4) // 5) + 1)::INT]) AS tok
  FROM arr WHERE n > 0
),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM pref a JOIN pref b ON a.tok = b.tok AND a.doc_id < b.doc_id
),
verif AS (
  SELECT c.id_a, c.id_b,
         len(list_intersect(x.toks, y.toks))::BIGINT AS inter_n,
         (x.n + y.n - len(list_intersect(x.toks, y.toks)))::BIGINT AS union_n
  FROM cand c JOIN arr x ON x.doc_id = c.id_a JOIN arr y ON y.doc_id = c.id_b
)
SELECT id_a, id_b, inter_n, union_n,
       round_even(inter_n / union_n, 9) AS jacc
FROM verif WHERE 5*inter_n >= 3*union_n
ORDER BY id_a, id_b
""")
def dedup_setjoin_exact(spark, sf):
    """EXACT set-similarity self-join (prefix filtering, AllPairs/PPJoin
    family — ops/setjoin.py): every doc pair with token-set Jaccard
    >= 3/5, zero false negatives, next to the APPROXIMATE MinHash/SimHash
    rows. The oracle independently rebuilds the same published algorithm
    in DuckDB (the candidate filter is lossless, so reconstruction ==
    brute force; tests/test_ops.py additionally proves the operator
    equals a literal brute-force all-pairs scan on planted + randomized
    corpora). doc_id % 5 subsample keeps the verified-pair output
    bounded for the sf0.1 sweep; the threshold and prefix length are
    integer arithmetic end to end so no float comparison can disagree
    between engines."""
    from lamapi_spark.ops.setjoin import setjoin_jaccard_pairs

    docs = load(spark, sf, "documents").filter(F.col("doc_id") % 5 == 0)
    return (
        setjoin_jaccard_pairs(docs, "doc_id", "text", taun=3, taud=5)
        .orderBy("id_a", "id_b")
    )


@register("dedup_containment", f"""
WITH sh AS (
  SELECT doc_id, {_SHINGLES_SQL} AS sh FROM documents
), ex AS (
  SELECT doc_id, unnest(sh) AS s FROM sh
), cand AS (
  SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
  FROM ex x JOIN ex y USING (s) WHERE x.doc_id < y.doc_id
), sc AS (
  SELECT id_a, id_b,
         len(list_intersect(a.sh, b.sh))::INT AS inter,
         round_even(len(list_intersect(a.sh, b.sh))::DOUBLE / len(a.sh), 3)
           AS cont_a,
         round_even(len(list_intersect(a.sh, b.sh))::DOUBLE / len(b.sh), 3)
           AS cont_b
  FROM cand JOIN sh a ON a.doc_id = id_a JOIN sh b ON b.doc_id = id_b
)
SELECT id_a, id_b, inter, cont_a, cont_b
FROM sc WHERE greatest(cont_a, cont_b) >= 0.5
ORDER BY id_a, id_b
""")
def dedup_containment(spark, sf):
    """ASYMMETRIC shingle containment (ops/dedup.containment_pairs):
    doc-in-doc pairs where either direction's |A&B|/|A| reaches 0.5 —
    the quote/excerpt/boilerplate-wrap case the symmetric Jaccard
    family under-scores (containment >= jaccard always, so this
    strictly widens the ngram_jaccard survivor set). max_df lifted
    above any sf's document count so operator and brute-force oracle
    stay equivalent (the dedup_ngram_jaccard no-op rule)."""
    from lamapi_spark.ops.dedup import containment_pairs

    return (
        containment_pairs(load(spark, sf, "documents"), "doc_id", "text",
                          k_shingle=3, threshold=0.5, max_df=1_000_000)
        .orderBy("id_a", "id_b")
    )


# ----------------------------------------------------- hard negatives

@register("embed_hard_negatives", f"""
WITH q AS (SELECT vec_id AS q_id, embedding AS q_vec FROM embeddings
           WHERE vec_id < 8),
c AS (SELECT vec_id AS n_id, embedding AS n_vec FROM embeddings),
scored AS (
  SELECT q_id, n_id,
         {_DOT_SQL.format(a='q_vec', b='n_vec')}
         / (sqrt({_DOT_SQL.format(a='q_vec', b='q_vec')})
            * sqrt({_DOT_SQL.format(a='n_vec', b='n_vec')})) AS cos
  FROM q JOIN c ON q_id <> n_id
),
banded AS (
  SELECT q_id, n_id, cos, round_even(cos, 6) AS cos6 FROM scored
  WHERE round_even(cos, 6) >= 0.15 AND round_even(cos, 6) < 0.30
)
SELECT q_id, n_id, cos6 AS cosine,
       row_number() OVER (PARTITION BY q_id
                          ORDER BY cos DESC, n_id) AS rnk
FROM banded QUALIFY rnk <= 5 ORDER BY q_id, rnk
""")
def embed_hard_negatives(spark, sf):
    """Contrastive hard negatives (ops/similarity.hard_negative_topk,
    band [0.15, 0.30), k=5) over the embeddings table: this corpus's
    per-anchor max cosines sit at 0.32-0.40, so the UPPER edge
    actually excludes the most-similar items (the false-negative
    trap arm is load-bearing) while the lower edge drops the easy
    bulk. The oracle replays the fixed-order dot products, the
    rounded-cosine band, and the unrounded-cosine ranking."""
    from lamapi_spark.ops.similarity import hard_negative_topk

    emb = load(spark, sf, "embeddings")
    return (hard_negative_topk(emb.filter(F.col("vec_id") < 8), emb,
                               k=5, lo=0.15, hi=0.30)
            .orderBy("q_id", "rnk"))
