"""Text analysis operators: language ID, quality scoring, token
counting, document fingerprinting. All JVM-side column expressions.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from lamapi_spark.functions.strings import STOPWORDS

# Tiny per-language function-word sets for the n-gram/stopword-ratio
# language heuristic. Deterministic, no model.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "in", "is", "that", "it", "for", "with"),
    "fr": ("le", "la", "les", "de", "des", "et", "est", "que", "une", "pour"),
    "de": ("der", "die", "das", "und", "ist", "nicht", "ein", "eine", "mit", "für"),
    "es": ("el", "los", "las", "de", "que", "es", "una", "por", "con", "para"),
}


def _tokens(text: Column) -> Column:
    return F.split(F.lower(text), r"\s+")


def lang_scores(text: Column) -> dict[str, Column]:
    """Per-language marker-hit ratio over the token multiset."""
    toks = _tokens(text)
    n = F.greatest(F.size(toks), F.lit(1))

    # closure factory: a two-param lambda would become (element, index)
    def is_marker(markers):
        return lambda t: t.isin(*markers)

    return {
        lang: F.size(F.filter(toks, is_marker(markers))) / n
        for lang, markers in LANG_MARKERS.items()
    }


def lang_id(text: Column) -> Column:
    """argmax language with deterministic tiebreak (language name asc);
    'und' (undetermined) when no marker hits at all."""
    scores = lang_scores(text)
    pairs = F.array(*[
        F.struct(scores[lang].alias("score"), F.lit(lang).alias("lang"))
        for lang in sorted(LANG_MARKERS)
    ])
    # ties resolve to the first language name (array order is sorted)
    mx = F.array_max(F.transform(pairs, lambda p: p["score"]))
    first_best = F.element_at(F.filter(pairs, lambda p: p["score"] == mx), 1)["lang"]
    return F.when(mx > 0, first_best).otherwise(F.lit("und"))


def quality_features(text: Column) -> dict[str, Column]:
    """Reference-free quality heuristics used by training-data filters:
    char length, token count, mean token length, stopword ratio,
    punctuation ratio, alpha ratio."""
    toks = _tokens(text)
    n_tok = F.greatest(F.size(toks), F.lit(1))
    n_chars = F.length(text)
    stop_ratio = F.size(F.filter(toks, lambda t: t.isin(*STOPWORDS))) / n_tok
    punct = F.length(F.regexp_replace(text, r"[^\.\,\;\:\!\?]", ""))
    alpha = F.length(F.regexp_replace(text, r"[^A-Za-z]", ""))
    return {
        "n_chars": n_chars.cast("int"),
        "n_tokens": F.size(toks),
        "mean_token_len": F.bround(
            F.aggregate(toks, F.lit(0), lambda a, t: a + F.length(t)) / n_tok, 2),
        "stopword_ratio": F.bround(stop_ratio, 3),
        "punct_ratio": F.bround(punct / F.greatest(n_chars, F.lit(1)), 3),
        "alpha_ratio": F.bround(alpha / F.greatest(n_chars, F.lit(1)), 3),
    }


def token_counts(text: Column) -> dict[str, Column]:
    """Whitespace tokens and a BPE-ish regex token count
    (\\w+ runs or single non-space punctuation — a cheap proxy for
    subword tokenizer counts)."""
    ws = F.size(F.split(F.trim(text), r"\s+"))
    bpe_ish = F.size(F.regexp_extract_all(text, F.lit(r"(\w+|[^\w\s])"), 0))
    return {"ws_tokens": ws, "regex_tokens": bpe_ish}


# PII patterns chosen for cross-engine regex parity (Java regex on the
# Spark side, RE2 in DuckDB oracles): ASCII classes, non-capturing
# groups, \b, and bounded quantifiers behave identically in both.
# Insertion order IS the redaction order (email first so the phone
# pattern never eats an address's digit run).
PII_PATTERNS: dict[str, str] = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "ipv4": r"\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b",
    "phone": r"\+[0-9][0-9 -]{6,}[0-9]",
}


def pii_counts(text: Column) -> dict[str, Column]:
    """Per-kind PII match counts (email / IPv4 / +intl phone) — the
    detection half of the standard training-data scrubbing stage. Pure
    regexp_extract_all column expressions; no UDF."""
    return {
        f"n_{kind}": F.size(F.regexp_extract_all(text, F.lit(pat), 0))
        for kind, pat in PII_PATTERNS.items()
    }


def redact_pii(text: Column) -> Column:
    """Replace every PII match with a typed placeholder (``<EMAIL>``,
    ``<IPV4>``, ``<PHONE>``), applied in PII_PATTERNS order."""
    out = text
    for kind, pat in PII_PATTERNS.items():
        out = F.regexp_replace(out, pat, f"<{kind.upper()}>")
    return out


def repetition_features(text: Column) -> dict[str, Column]:
    """Gopher-style repetition signals: duplicate-token fraction and the
    most-frequent-2-gram fraction. Both are array expressions over the
    token list — the 2-gram mode is O(distinct x total) per document,
    bounded by document length, never a shuffle."""
    toks = _tokens(text)
    n = F.greatest(F.size(toks), F.lit(1))
    dup_frac = F.bround(F.lit(1.0) - F.size(F.array_distinct(toks)) / n, 3)
    grams = F.when(
        F.size(toks) >= 2,
        F.transform(F.sequence(F.lit(1), F.size(toks) - 1),
                    lambda i: F.concat_ws(" ", F.slice(toks, i, 2))),
    ).otherwise(F.array().cast("array<string>"))
    top = F.array_max(F.transform(
        F.array_distinct(grams),
        lambda g: F.size(F.filter(grams, lambda x: x == g)),
    ))
    top_frac = F.when(F.size(grams) > 0,
                      F.bround(top / F.size(grams), 3)).otherwise(F.lit(0.0))
    return {"dup_token_frac": dup_frac, "top_2gram_frac": top_frac}


def fingerprint(text: Column) -> Column:
    """Order-insensitive document fingerprint: md5 of the sorted distinct
    token set (the classic 'fingerprint clustering' normalization)."""
    toks = F.array_sort(F.array_distinct(_tokens(text)))
    return F.md5(F.concat_ws(" ", toks))


def pii_pseudonyms(df: DataFrame, key_col: str = "conv_id",
                   order_col: str = "turn_idx",
                   text_col: str = "text") -> DataFrame:
    """Consistent pseudonymization mapping: every distinct PII value
    in a conversation gets a stable numbered placeholder (EMAIL_1,
    EMAIL_2, ...) assigned in FIRST-OCCURRENCE order — the
    anonymization shape that preserves referential structure
    (redact_pii's flat <EMAIL> placeholder erases whether two turns
    mention the SAME address; training on coreference-bearing dialogue
    needs the distinction). Emits the mapping table; applying it is a
    per-conversation string rewrite the caller drives with the map
    (reference analogue: none; builder's-brief scrubbing surface
    beside redact_pii).

    Ordering contract: first occurrence = struct-lexicographic min of
    (order_col, in-text match position); the numbering window
    partitions on (key, kind) and is bounded by the conversation's
    own distinct PII values — never a global window. Value ties
    cannot arise (the min is per distinct value; equal first
    positions for two values would mean overlapping matches, which a
    single regex scan never emits).

    -> (key, kind, value, first_order, pseudo) with pseudo =
    KIND_<n>, n 1-based per (key, kind).
    """
    occ = None
    for kind, pat in PII_PATTERNS.items():
        k = (df.select(
            F.col(key_col).alias("key"), F.col(order_col).alias("o"),
            F.posexplode(F.regexp_extract_all(
                F.col(text_col), F.lit(pat), 0)).alias("p", "value"))
            .withColumn("kind", F.lit(kind)))
        occ = k if occ is None else occ.unionByName(k)
    first = (occ.groupBy("key", "kind", "value")
             .agg(F.min(F.struct(F.col("o").alias("o"),
                                 F.col("p").alias("p"))).alias("_f")))
    w = Window.partitionBy("key", "kind").orderBy(
        F.col("_f.o"), F.col("_f.p"), "value")
    return (first.withColumn("_n", F.row_number().over(w))
            .select("key", "kind", "value",
                    F.col("_f.o").alias("first_order"),
                    F.concat(F.upper("kind"), F.lit("_"),
                             F.col("_n")).alias("pseudo")))


def corpus_report(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """One-scan corpus data card: the governance rollup every released
    training corpus ships (docs, token mass, duplication, PII
    incidence, empty-document rate) as a single job over the raw text
    (reference analogue: none; builder's-brief reporting surface —
    the aggregate face of the per-doc quality/PII/dedup operators).

    ALL metrics compute in ONE aggregation pass over one scan (a
    metric-per-query report would rescan a 100 TB corpus once per
    number); the long (metric, value) shape comes from an in-row
    explode of the single result row. Ratios are exact integer basis
    points; values emit as DOUBLE (exact below 2^53).

    Metrics: n_docs; regex_tokens (the BPE-ish count summed);
    avg_tokens_bp (mean tokens per doc, in 1e-4 units — integer
    division); exact_dup_bp (1 - distinct md5 / docs); pii_email_docs
    (docs with >= 1 email match); empty_docs (null or blank).
    """
    text = F.col(text_col)
    n_tok = F.size(F.regexp_extract_all(
        text, F.lit(r"(\w+|[^\w\s])"), 0)).cast("long")
    empty = (text.isNull() | (F.trim(text) == "")).cast("long")
    has_email = (F.size(F.regexp_extract_all(
        text, F.lit(PII_PATTERNS["email"]), 0)) > 0).cast("long")
    one = docs.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.coalesce(F.sum(n_tok), F.lit(0)).alias("toks"),
        F.countDistinct(F.md5(F.coalesce(text, F.lit("")))).alias("ndist"),
        F.coalesce(F.sum(has_email), F.lit(0)).alias("pii"),
        F.coalesce(F.sum(empty), F.lit(0)).alias("empty"))
    metric = lambda name, col: F.struct(
        F.lit(name).alias("metric"), col.cast("double").alias("value"))
    n = F.col("n_docs")
    return one.select(F.explode(F.array(
        metric("n_docs", n),
        metric("regex_tokens", F.col("toks")),
        metric("avg_tokens_bp",
               F.expr("toks * 10000L div greatest(n_docs, 1L)")),
        metric("exact_dup_bp",
               F.expr("(n_docs - ndist) * 10000L div greatest(n_docs, 1L)")),
        metric("pii_email_docs", F.col("pii")),
        metric("empty_docs", F.col("empty")),
    )).alias("m")).select("m.metric", "m.value")


def vocab_richness(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Vocabulary-richness estimators over a corpus — how much MORE
    vocabulary a bigger crawl would surface, the coverage question
    behind "is this corpus big enough to train a tokenizer on":

    - Chao1 richness (Chao 1984): D + f1*(f1-1)/(2*(f2+1)) — the
      bias-corrected lower bound on total (seen + unseen) vocabulary
      from the singleton/doubleton counts; this form is defined even
      at f2 = 0.
    - Good-Turing coverage: 1 - f1/N — the probability mass of
      already-seen tokens (unseen-mass estimate = f1/N).

    All inputs are three integers off ONE frequency-of-frequencies
    pass (f1 = hapax count, f2 = doubleton count, D = distinct
    tokens, N = total tokens); each statistic is a single fixed-order
    float expression, half-even 6 dp; an empty corpus reads 0.0.
    Reference analogue: none; builder's-brief corpus surface beside
    corpus_report.

    Scale shape: one token-count agg (hot tokens combine map-side),
    one tiny frequency-of-frequencies rollup — the whole second agg
    is bounded by the number of DISTINCT frequencies (<= O(sqrt N)).
    -> ONE row (n_tokens, distinct_tokens, f1, f2, chao1, coverage).
    """
    tf = (docs.select(F.explode(_tokens(F.col(text_col))).alias("t"))
          .groupBy("t").agg(F.count("*").alias("c")))
    agg = tf.agg(
        F.coalesce(F.sum("c"), F.lit(0)).alias("n_tokens"),
        F.count("*").alias("distinct_tokens"),
        F.coalesce(F.sum((F.col("c") == 1).cast("long")),
                   F.lit(0)).alias("f1"),
        F.coalesce(F.sum((F.col("c") == 2).cast("long")),
                   F.lit(0)).alias("f2"))
    chao1 = (F.col("distinct_tokens")
             + (F.col("f1") * (F.col("f1") - 1))
             / (2.0 * (F.col("f2") + 1)))
    cov = F.when(F.col("n_tokens") > 0,
                 F.lit(1.0) - F.col("f1") / F.col("n_tokens")) \
           .otherwise(F.lit(0.0))
    return agg.select("n_tokens", "distinct_tokens", "f1", "f2",
                      F.bround(chao1, 6).alias("chao1"),
                      F.bround(cov, 6).alias("coverage"))
