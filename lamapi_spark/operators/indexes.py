"""Offline lookup-index artifacts — the cluster plan for the J1 join.

The reference's Elasticsearch index is built ONCE by an offline job
(scripts/elastic_indexing.py) and every lookup request probes it. The
round-1 engine instead rebuilt + broadcast the token / deletion-variant
indexes inside every pipeline run — a serial per-executor constant that
is physically impossible at a 10^8-entity dictionary (VERDICT r01: the
#1 scaling bottleneck).

This module materializes the four index tables as **bucketed, sorted
saved tables**:

- ``<prefix>_token``   (token,  entity, name, is_alias)   bucketed by token
- ``<prefix>_fuzzy``   (variant, token, entity, name, is_alias) bucketed by variant
- ``<prefix>_names``   (name_norm, entity, name, is_alias) bucketed by name_norm
- ``<prefix>_fuzzy_names`` (variant, name_norm)            bucketed by variant

so the lookup / mention-detection joins need NO dictionary-side shuffle
and NO broadcast: the bucketed scan already satisfies the join's
required hash distribution; only the (streaming) mention side shuffles,
into exactly ``n_buckets`` partitions. Posting-list pruning
(top-K-per-key by popularity, prune_index) is applied at BUILD
time, so the per-query-batch window shuffle disappears too.

Catalog note: bucketing metadata lives in the session catalog. The
sandbox uses Spark's in-memory catalog (artifacts are per-session); on a
real deployment the same writes go through a Hive metastore or an
Iceberg catalog (bucket transform) and become true cross-job artifacts.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from lamapi_spark.operators.label_dict import (
    fuzzy_name_index, fuzzy_token_index, token_inverted_index,
)
from lamapi_spark.operators.warehouse import clean_stale_location

_KEY = ["entity", "name", "is_alias"]
# the response-build columns that depend on the entity alone
_PAYLOAD_COLS = ["description", "kind", "NERtype", "types"]

# sentinel: limit_per_token=None is a meaningful value (unpruned), so
# "not passed" needs its own marker
_UNSET = object()


def _mismatches(meta: dict, fuzzy, limit_per_token, fuzzy_edits) -> dict:
    """The requested build parameters (``_UNSET``: not requested) that
    differ from the persisted ones, as name -> (requested, persisted)."""
    asked = {"fuzzy": fuzzy, "limit_per_token": limit_per_token,
             "fuzzy_edits": fuzzy_edits}
    return {k: (v, meta[k]) for k, v in asked.items()
            if v is not _UNSET and v != meta[k]}


# Broadcast a join-derived frame of a bucketed index only when the
# dictionary's PERSISTED count (index meta, counted once at build)
# bounds it safely: matched rows ~= names x (1 + fuzzy collisions),
# ~100B serialized each, so 2M names keeps the worst-case broadcast in
# the few-hundred-MB range — far under Spark's 8GiB hard cap, comparable
# to the session's 256MB auto-broadcast policy. Above the cap the join
# falls back to a shuffle with AQE skew splitting. Env-overridable
# (LAMAPI_BROADCAST_NAME_CAP) so the huge-dictionary fallback arm can be
# FORCED and benchmarked at sandbox dictionary sizes (set 0 to always
# shuffle).
_BROADCAST_NAME_CAP = int(os.environ.get("LAMAPI_BROADCAST_NAME_CAP",
                                         2_000_000))


def prune_index(idx: DataFrame, key_col: str, limit_per_token: int) -> DataFrame:
    """Keep the top-``limit_per_token`` dictionary rows per posting key,
    by popularity (the ES static-index analogue of WAND pruning).

    Exactness argument: the final per-mention candidate list is the
    popularity-desc top-``limit`` of the union of per-token posting
    lists. If a row ranks below position K within one of its tokens'
    posting lists, at least K higher-popularity rows of that SAME
    mention's candidate set outrank it — so with K >= limit it can never
    appear in the final list. Pruning to top-K per key is therefore
    lossless for candidate ranking; only the mention-level ambiguity /
    corrects_tokens features (computed over the match union) see a
    truncated tail, mirroring how the reference's ES token query is
    itself truncated at `size=limit` (elastic.py:31-39). With
    K < limit it is a recall-trading heuristic backstopped by the
    exact-name / 1-edit-name guards in token_match.
    """
    w = Window.partitionBy(key_col).orderBy(
        F.col("popularity").desc(), F.col("entity").asc(),
        F.col("name").asc(), F.col("is_alias").asc())
    return (idx.withColumn("_pk", F.row_number().over(w))
            .filter(F.col("_pk") <= limit_per_token).drop("_pk"))


@dataclass
class LookupIndex:
    """The four lookup-join index frames plus the build parameters that
    determine which guards the consumer must apply."""
    token: DataFrame                 # (token, popularity, entity, name, is_alias)
    fuzzy: DataFrame | None          # (variant, token, popularity, entity, name, is_alias)
    names: DataFrame                 # (name_norm, popularity, entity, name, is_alias)
    fuzzy_names: DataFrame | None    # (variant, name_norm)
    limit_per_token: int | None      # pruning K applied at build (None = unpruned)
    fuzzy_edits: int = 1
    bucketed: bool = False           # True -> joins need no dict-side shuffle
    n_buckets: int | None = None     # bucket count of the saved tables
    n_names: int | None = None       # REAL row count of the names table,
                                     # counted once at build — lets consumers
                                     # size-gate broadcasts on an actual
                                     # cardinality instead of a Catalyst
                                     # estimate (None = unknown, e.g. in-memory)
    n_entities: int | None = None    # REAL row count of the payload table
                                     # (distinct entities), counted once at
                                     # build — the broadcast gate for the
                                     # response build's payload attach
    reused: bool = False             # set by build_index_artifacts when an
                                     # existing artifact was loaded instead
                                     # of rebuilt (metrics/bench attribution)
    source_fp: str | None = None     # the _meta row's dictionary-snapshot
                                     # fingerprint (None: in-memory index, or
                                     # built without source validation)
    payload: DataFrame | None = None  # (entity, description, kind, NERtype,
                                      # types) — ONE row per entity (bucketed
                                      # by entity in an artifact): the
                                      # response-build columns that depend on
                                      # the entity alone (the ES _source
                                      # analogue). lookup() joins it to the
                                      # <=limit post-dedup survivors on the
                                      # single entity key, so the full
                                      # dictionary-row payload never
                                      # shuffles. None only for a minimal
                                      # (match-only) dictionary.

    @staticmethod
    def build(label_dict: DataFrame, fuzzy: bool = True,
              limit_per_token: int | None = None,
              fuzzy_edits: int = 1) -> "LookupIndex":
        """In-memory (per-run) index frames — the non-artifact path. The
        same frames an artifact holds, payload included."""
        # popularity stays IN the index rows: the consumer ranks/truncates
        # on the narrow match (popularity, entity, name, is_alias) and
        # attaches the wide payload only to the <=limit survivors
        tok = token_inverted_index(label_dict).select("token", "popularity", *_KEY)
        if limit_per_token is not None:
            tok = prune_index(tok, "token", limit_per_token)
        fz = None
        fn = None
        if fuzzy:
            fz = fuzzy_token_index(label_dict, max_edits=fuzzy_edits).select(
                "variant", "token", "popularity", *_KEY)
            if limit_per_token is not None:
                fz = prune_index(fz, "variant", limit_per_token)
            fn = fuzzy_name_index(label_dict)
        # description/kind/NERtype/types are constant across an entity's
        # label rows, so any row per entity is exact. A MINIMAL (match-
        # only: entity/name/name_norm/popularity/is_alias, e.g. the
        # lookup_candidates_indexed contract query) dictionary has none.
        payload = None
        if set(label_dict.columns) & set(_PAYLOAD_COLS):
            payload = (label_dict.select("entity", *_PAYLOAD_COLS)
                       .dropDuplicates(["entity"]))
        return LookupIndex(
            token=tok, fuzzy=fz,
            names=label_dict.select("name_norm", "popularity", *_KEY),
            fuzzy_names=fn,
            limit_per_token=limit_per_token, fuzzy_edits=fuzzy_edits,
            bucketed=False, payload=payload)

    @staticmethod
    def write(label_dict: DataFrame, prefix: str = "lamapi_idx",
              n_buckets: int = 32, fuzzy: bool = True,
              limit_per_token: int | None = None, fuzzy_edits: int = 1,
              overwrite: bool = True,
              source_fp: str | None = None) -> "LookupIndex":
        """Materialize the bucketed artifacts (offline index build — the
        elastic_indexing.py analogue) and return the loaded index.

        ``n_buckets`` fixes join parallelism for every consumer; size it
        to >= the cluster's total cores (a bucket is one task). Pruning
        and the deletion-variant expansion run HERE, once, instead of
        inside every pipeline run.

        Round-6 build-cost cuts (guide §1.2/§2.6 — artifact contents
        and every consumer's results unchanged):
        - the dictionary frame is persisted for the duration of the
          build: each saved table re-executed the FULL label_dict
          subtree (three window passes) before — 5-7 executions per
          build, now one;
        - ``n_names``/``n_entities`` are harvested from the write jobs
          via ``observe()`` instead of re-scanning the written tables
          (two jobs removed);
        - the independent table writes overlap from a small thread pool
          (Spark schedules concurrent jobs FIFO; catalog calls are
          synchronized inside Spark) so one write's task tail
          back-fills with the next write's tasks;
        - a MINIMAL (match-only) dictionary skips the payload table
          entirely instead of writing one row of typed NULLs per
          entity: consumers see ``payload=None`` and lookup() refuses
          the index — so a full response build can never silently
          coalesce an all-NULL artifact payload."""
        spark = label_dict.sparkSession
        label_dict = label_dict.persist()
        mem = LookupIndex.build(label_dict, fuzzy=fuzzy,
                                limit_per_token=limit_per_token,
                                fuzzy_edits=fuzzy_edits)

        from pyspark.sql import Observation

        observations: dict[str, Observation] = {}

        def save(df: DataFrame, name: str, key: str,
                 count_key: str | None = None) -> None:
            # a stale warehouse dir without a catalog entry (previous
            # process, different metastore) makes saveAsTable fail with
            # LOCATION_ALREADY_EXISTS — drop the orphan first
            clean_stale_location(spark, f"{prefix}_{name}")
            # the overwrite replaces the table's files, and saveAsTable
            # refreshes only the catalog entry: a frame cached on the old
            # files (scoped_cache with no scope active) would stand in for
            # the same plan over the new table and read deleted files.
            # uncacheTable cascades to every cached frame built on it.
            if spark.catalog.tableExists(f"{prefix}_{name}"):
                spark.catalog.uncacheTable(f"{prefix}_{name}")
            if count_key is not None:
                obs = Observation(f"idx_write_{prefix}_{name}")
                observations[count_key] = obs
                df = df.observe(obs, F.count(F.lit(1)).alias("rows"))
            spark.sparkContext.setJobDescription(f"index_write:{prefix}_{name}")
            try:
                (df.write.mode("overwrite" if overwrite else "errorifexists")
                 .format("parquet")
                 .bucketBy(n_buckets, key).sortBy(key)
                 .saveAsTable(f"{prefix}_{name}"))
            finally:
                spark.sparkContext.setJobDescription(None)

        # the entity-level payload is bucketed by the single entity key so
        # the response build's payload attach probes it with no
        # dictionary-side exchange. A minimal dictionary has none: no
        # payload table is written and any stale one is dropped.
        have_payload = mem.payload is not None
        jobs: list[tuple] = [(mem.token, "token", "token", None),
                             (mem.names, "names", "name_norm", "n_names")]
        if have_payload:
            jobs.append((mem.payload, "payload", "entity", "n_entities"))
        if fuzzy:
            jobs.append((mem.fuzzy, "fuzzy", "variant", None))
            jobs.append((mem.fuzzy_names, "fuzzy_names", "variant", None))

        from concurrent.futures import ThreadPoolExecutor

        try:
            # materialize the persisted dictionary BEFORE fanning out so
            # the concurrent writes share one cached copy instead of
            # racing to build it
            label_dict.count()
            with ThreadPoolExecutor(max_workers=3) as pool:
                list(pool.map(lambda j: save(*j), jobs))
            if not have_payload:
                spark.sql(f"DROP TABLE IF EXISTS {prefix}_payload")
                clean_stale_location(spark, f"{prefix}_payload")
        finally:
            label_dict.unpersist()
        # the build parameters ARE part of the artifact: a consumer that
        # loads a PRUNED index with the wrong limit_per_token silently
        # skips the exact-name/1-edit recall guards in token_match, and a
        # mismatched fuzzy_edits silently changes the fuzzy bands — so
        # they persist in a 1-row sidecar table next to the data
        # the names-table cardinality is counted ONCE here (offline) and
        # persisted: it is the bound on every matched-span frame a
        # consumer might want to broadcast, and an actual count beats any
        # runtime size estimate (see bounded_side)
        n_names = int(observations["n_names"].get["rows"])
        n_entities = (int(observations["n_entities"].get["rows"])
                      if have_payload else None)
        # source_fp fingerprints the DICTIONARY SNAPSHOT the artifact was
        # built from (build_index_artifacts computes it over kg_items):
        # reuse logic validates it so a pipeline handed a DIFFERENT
        # kg_items frame can never silently link against a stale index
        meta = spark.createDataFrame(
            [(bool(fuzzy),
              None if limit_per_token is None else int(limit_per_token),
              int(fuzzy_edits), int(n_buckets), int(n_names),
              None if n_entities is None else int(n_entities), source_fp)],
            "fuzzy boolean, limit_per_token int, fuzzy_edits int, "
            "n_buckets int, n_names bigint, n_entities bigint, "
            "source_fp string")
        clean_stale_location(spark, f"{prefix}_meta")
        (meta.write.mode("overwrite").format("parquet")
         .saveAsTable(f"{prefix}_meta"))
        return LookupIndex.load(spark, prefix)

    @staticmethod
    def read_meta(spark: SparkSession, prefix: str = "lamapi_idx") -> dict | None:
        """The persisted ``_meta`` row as a dict, or None when there is none."""
        if not spark.catalog.tableExists(f"{prefix}_meta"):
            return None
        # a crash between the data saveAsTable and the meta write (or an
        # interrupted overwrite) can leave an EMPTY meta table: treat it
        # as meta-absent, so load() raises and exists() says rebuild
        r = spark.table(f"{prefix}_meta").head()
        return None if r is None else r.asDict()

    @staticmethod
    def load(spark: SparkSession, prefix: str = "lamapi_idx",
             fuzzy=_UNSET, limit_per_token=_UNSET,
             fuzzy_edits=_UNSET) -> "LookupIndex":
        """Load saved artifacts. Build parameters come from the persisted
        ``<prefix>_meta`` sidecar; explicitly passed values are VALIDATED
        against it (a silent mismatch would drop recall guards), raising
        ValueError on conflict. An artifact without a sidecar raises: its
        build parameters are unknown, so it must be rebuilt."""
        meta = LookupIndex.read_meta(spark, prefix)
        if meta is None:
            raise ValueError(
                f"index artifact '{prefix}' has no _meta sidecar; rebuild it "
                "with LookupIndex.write")
        mismatches = _mismatches(meta, fuzzy, limit_per_token, fuzzy_edits)
        if mismatches:
            raise ValueError(
                f"index artifact '{prefix}' was built with different "
                f"parameters: requested vs persisted {mismatches}; "
                "rebuild with LookupIndex.write or drop the argument")
        return LookupIndex(
            token=spark.table(f"{prefix}_token"),
            fuzzy=spark.table(f"{prefix}_fuzzy") if meta["fuzzy"] else None,
            names=spark.table(f"{prefix}_names"),
            fuzzy_names=(spark.table(f"{prefix}_fuzzy_names")
                         if meta["fuzzy"] else None),
            limit_per_token=meta["limit_per_token"],
            fuzzy_edits=meta["fuzzy_edits"],
            bucketed=True, n_buckets=meta["n_buckets"],
            n_names=meta.get("n_names"),
            n_entities=meta.get("n_entities"),
            source_fp=meta.get("source_fp"),
            payload=(spark.table(f"{prefix}_payload")
                     if spark.catalog.tableExists(f"{prefix}_payload")
                     else None))

    @staticmethod
    def exists(spark: SparkSession, prefix: str = "lamapi_idx",
               fuzzy=_UNSET, limit_per_token=_UNSET,
               fuzzy_edits=_UNSET,
               source_fp: str | None = None) -> bool:
        """True when a loadable artifact with COMPATIBLE build parameters
        exists: tables present, meta sidecar present, and any explicitly
        passed parameter equal to the persisted one — so reuse logic
        rebuilds instead of silently probing a mismatched artifact, or
        one that lost the payload table lookup() needs.

        ``source_fp`` (when provided) must ALSO match the persisted
        dictionary-snapshot fingerprint; an artifact without one (built
        by an older writer, or with validation off) is treated as
        incompatible, forcing one rebuild that upgrades the sidecar —
        conservative on purpose: silently reusing an unverifiable
        artifact is exactly the stale-dictionary footgun this guards."""
        meta = LookupIndex.read_meta(spark, prefix)
        if meta is None or _mismatches(meta, fuzzy, limit_per_token, fuzzy_edits):
            return False
        if source_fp is not None and meta.get("source_fp") != source_fp:
            return False
        needed = [f"{prefix}_token", f"{prefix}_names"]
        if meta["fuzzy"]:
            needed += [f"{prefix}_fuzzy", f"{prefix}_fuzzy_names"]
        if meta.get("n_entities") is not None:  # a payload table was written
            needed.append(f"{prefix}_payload")
        return all(spark.catalog.tableExists(t) for t in needed)

    # ------------------------------------------------------ join policy
    # Every dictionary-side join of the match path asks the index how to
    # join; no consumer carries its own broadcast flag. An in-memory
    # index is built per run from a dictionary that fits a broadcast, so
    # all of its frames broadcast. A bucketed artifact stands for a
    # dictionary that may not fit, so only frames bounded by a persisted
    # count under _BROADCAST_NAME_CAP broadcast.

    def probe_side(self, df: DataFrame) -> DataFrame:
        """How consumers join an index frame: bucketed artifacts get a
        SHUFFLE_HASH hint — the bucketed scan already satisfies the
        join's hash distribution (no dict-side exchange, no sort), and
        hinting defeats a pointless auto-broadcast of the index;
        in-memory frames broadcast."""
        return df.hint("shuffle_hash") if self.bucketed else F.broadcast(df)

    def bounded_side(self, df: DataFrame, n: int | None) -> DataFrame:
        """How consumers join a JOIN-DERIVED frame whose row count is
        bounded by the persisted count ``n`` (``n_names`` or
        ``n_entities``). Catalyst's size estimate for such a frame is
        garbage in both directions — measured: the static planner once
        picked an 11.1GiB "broadcast" from a <256MB estimate, and an
        unconditional shuffle_hash shuffles the big side by a skewed
        key and scales negatively — so the decision uses the actual
        count: broadcast when it is known and under the cap (or the
        index is in-memory), else shuffle_hash."""
        if not self.bucketed or (n is not None and n <= _BROADCAST_NAME_CAP):
            return F.broadcast(df)
        return df.hint("shuffle_hash")

    def label_side(self, df: DataFrame) -> DataFrame:
        """How consumers join a frame read from ``label_dict`` itself.
        Its one caller is lookup()'s ``language`` filter, the only
        per-label-row filter (the per-entity filters read ``payload``):
        broadcast for an in-memory index; with a bucketed one the
        dictionary is presumed too big to broadcast, so the join is left
        to the planner (it shuffles on the join key, AQE picks the
        strategy)."""
        return df if self.bucketed else F.broadcast(df)

    # ----------------------------------------------------------- delta
    # Incremental dictionary maintenance: the transcript side already
    # appends per-conversation (pipeline/incremental.py); these give the
    # DICTIONARY side the same append-only lifecycle. New label rows
    # land in a small unbucketed side table (broadcast-sized by
    # contract: a daily label delta is ~10^3-10^5 rows against a 10^8
    # main artifact); consumers probe main + delta via
    # lookup.token_match_with_delta, and compaction is simply
    # LookupIndex.write over the full dictionary followed by drop_delta.

    @staticmethod
    def write_delta(delta_label_dict: DataFrame,
                    prefix: str = "lamapi_idx") -> None:
        """Append new dictionary rows to ``<prefix>_delta``. Rows must
        be NEW (not already in the main artifact) — the append-only
        disjointness contract incremental.py keeps for conversations;
        token_match_with_delta(dedup_against_main=True) is the guard
        for callers that cannot promise it. Schema: the caller's full
        label_dict columns (the delta serves both match and payload
        joins), stable across appends."""
        clean_stale_location(delta_label_dict.sparkSession, f"{prefix}_delta")
        (delta_label_dict.write.mode("append").format("parquet")
         .saveAsTable(f"{prefix}_delta"))

    @staticmethod
    def load_delta(spark: SparkSession,
                   prefix: str = "lamapi_idx") -> DataFrame | None:
        """The accumulated delta rows, or None when no delta exists."""
        if not spark.catalog.tableExists(f"{prefix}_delta"):
            return None
        return spark.table(f"{prefix}_delta")

    @staticmethod
    def drop_delta(spark: SparkSession, prefix: str = "lamapi_idx") -> None:
        """Clear the delta after compacting it into the main artifact
        (LookupIndex.write over the full dictionary)."""
        spark.sql(f"DROP TABLE IF EXISTS {prefix}_delta")
