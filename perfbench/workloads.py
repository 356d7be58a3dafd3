"""The benchmark's workloads. Each drives the package's public API with
generated inputs and checks every op's output.

A workload has ``setup()`` (fixtures, the offline index build, the
op's inputs), ``op(i)`` (the timed call; returns the number of items it
processed and a handle for ``check``), ``check(i, handle)`` (output
verification, outside timing) and ``finish()`` (end-of-run checks).
Every op runs inside a ``CacheScope`` so nothing it caches outlives it.
"""

from __future__ import annotations

import os
import shutil
import sys
import time

from pyspark.sql import Observation
from pyspark.sql import functions as F

import inputs
from procstats import cpu_seconds


# the 19 response fields of lookup(), in emitted order
LOOKUP_FIELDS = (
    "mention_norm", "id", "name", "description", "types", "kind", "NERtype",
    "ambiguity_mention", "corrects_tokens", "ntoken_mention", "ntoken_entity",
    "length_mention", "length_entity", "popularity", "pos_score", "es_score",
    "ed_score", "jaccard_score", "jaccardNgram_score")
TRIPLE_FIELDS = ("subj", "pred", "obj", "conv_id", "turn_idx")


def digest_cols(cols) -> list:
    """Order-independent digest aggregates: row count and the xor of a
    64-bit hash of every row."""
    return [F.count(F.lit(1)).alias("rows"),
            F.expr(f"bit_xor(xxhash64({', '.join(cols)}))").alias("h")]


class Tally:
    """Ops attempted and failed; an op whose output fails its check fails."""

    def __init__(self) -> None:
        self.attempted = self.failed = 0

    def __call__(self, ok: bool) -> None:
        self.attempted += 1
        self.failed += not ok


def run_ops(wl, first: int, seconds: float, tally: Tally) -> list[tuple]:
    """Closed loop, one client: ops back to back until ``seconds`` have
    passed (at least one op). Returns (wall_s, cpu_s, items) per op that
    completed; CPU is that of the whole process tree, JVM included.

    There is no warm-up op: a run's budget holds set-up and about one op
    (README.md, "Run budget"), so every run measures the same op, the
    first one after set-up."""
    out, i, t0 = [], first, time.perf_counter()
    while True:
        ok = False
        c0, s = cpu_seconds(), time.perf_counter()
        try:
            items, handle = wl.op(i)
            out.append((time.perf_counter() - s, cpu_seconds() - c0, items))
            ok = wl.check(i, handle)
        except Exception as e:  # a failing op is counted, not fatal
            print(f"op {i} raised {type(e).__name__}: {e}"[:500], file=sys.stderr)
        tally(ok)
        i += 1
        if time.perf_counter() - t0 >= seconds:
            return out


class Workload:
    name = ""
    index_prefix = "lamapi_idx"

    def __init__(self, spark, seed: int, run_dir: str) -> None:
        self.spark, self.seed, self.run_dir = spark, seed, run_dir
        self.index_build_s = 0.0
        self.index = None

    def build_kg(self) -> None:
        from lamapi_spark.pipeline.fixtures import kg_dataframes

        self.kg = inputs.build_kg_fixture()
        dfs = kg_dataframes(self.spark, self.kg)
        self.items, self.edges = dfs["kg_items"], dfs["kg_edges"]
        self.sameas = dfs["kg_sameas"]

    def build_index(self) -> None:
        """The offline index build, timed alone. It is the first Spark
        work of the process, as in an offline build job, so it pays the
        JVM's first-use costs (class loading, JIT)."""
        from lamapi_spark.pipeline.run import build_index_artifacts

        t = time.perf_counter()
        self.index = build_index_artifacts(
            self.spark, self.items, prefix=self.index_prefix, reuse=False)
        self.index_build_s = time.perf_counter() - t

    def finish(self) -> bool:
        return True


class LookupBatch(Workload):
    """One lookup() call (fuzzy, bucketed index) over a batch of distinct
    mentions; the 19 fields are materialised through the noop sink. Every
    op asks for the same batch."""
    name = "lookup_batch"
    batch_size = 1000

    def setup(self) -> None:
        from lamapi_spark.operators.label_dict import build_label_dict

        self.build_kg()
        self.build_index()
        self.label_dict = build_label_dict(self.items)
        rows = inputs.mention_batch(self.kg, self.seed, self.batch_size)
        self.mentions = self.spark.createDataFrame(
            [(m,) for m, _, _ in rows], "mention string")
        # exact labels, with or without case noise, must keep their entity
        self.truth = sorted(
            f"{inputs.norm(m)}\t{q}" for m, _, q in rows
            if q and inputs.norm(m) == inputs.norm(self.kg.label_of[q]))
        self.expected = None

    def run_lookup(self, prepared=None, match=None):
        from lamapi_spark.operators.lookup import lookup

        return lookup(self.mentions, self.label_dict, self.items, fuzzy=True,
                      index=self.index, prepared=prepared, match=match)

    def sink(self, out) -> dict:
        """Materialise all 19 fields once, observing the digest and how
        many exact-label mentions kept their true entity."""
        obs = Observation("perfbench_lookup")
        key = F.concat_ws("\t", "mention_norm", "id")
        (out.observe(obs, *digest_cols(LOOKUP_FIELDS),
                     F.sum(key.isin(self.truth).cast("int")).alias("truth_hits"))
         .write.format("noop").mode("overwrite").save())
        return dict(obs.get)

    def op(self, i: int):
        from lamapi_spark.pipeline.cache_registry import CacheScope

        with CacheScope():
            res = self.sink(self.run_lookup())
        return self.batch_size, res

    def op_traced(self, i: int, tracer):
        """The op split at the lookup layer's public functions; the
        shared match is counted in its own span. best_links (the linking
        decision over the same match) runs after the op, outside it."""
        from lamapi_spark.operators import lookup as lookup_mod
        from lamapi_spark.pipeline.cache_registry import CacheScope

        with CacheScope():
            with tracer.context(f"op{i}", "op"):
                prepared = lookup_mod._prepare_mentions(self.mentions)
                match = lookup_mod.token_match(
                    prepared, self.label_dict, fuzzy=True, cache_narrow=True,
                    index=self.index, slim=True)
                with tracer.span("lookup.lookup") as sp:
                    res = self.sink(self.run_lookup(prepared, match))
                sp.counts["lookup.rows_out"] = res["rows"]
            with tracer.span("lookup.best_links"):
                (lookup_mod.best_links(match, prepared, self.label_dict,
                                       index=self.index, mentions_bounded=False)
                 .write.format("noop").mode("overwrite").save())
        return res

    def check(self, i: int, res: dict) -> bool:
        """Same rows and digest as the run's first op, and every
        exact-label mention keeps its true entity."""
        got = (res["rows"], res["h"])
        if self.expected is None:
            self.expected = got
        return (got == self.expected and res["rows"] > 0
                and res["truth_hits"] == len(self.truth))


class KgBatch(Workload):
    """One run_pipeline over a fixed transcript table, fresh checkpoint_dir
    per op; the index artifacts are prebuilt under the default prefix, so
    every op takes the default path: reuse validation, then probe."""
    name = "kg_batch"
    n_convs = 40

    def setup(self) -> None:
        from lamapi_spark.pipeline.fixtures import transcript_dataframes

        self.build_kg()
        self.build_index()
        rows, _, truth = inputs.transcripts(self.kg, self.seed, self.n_convs)
        dfs = transcript_dataframes(self.spark, rows, [], truth)
        self.transcripts, self.truth = dfs["transcripts"], dfs["triples_truth"]
        self.n_turns = len(rows)
        self.expected = None
        self.last = None

    def op(self, i: int):
        from lamapi_spark.pipeline.cache_registry import CacheScope
        from lamapi_spark.pipeline.run import run_pipeline

        ckpt = os.path.join(self.run_dir, f"ckpt_{i}")
        with CacheScope():
            out = run_pipeline(self.spark, self.transcripts, self.items,
                               self.edges, self.sameas, checkpoint_dir=ckpt)
        return self.n_turns, (ckpt, out["triples"])

    def check(self, i: int, handle) -> bool:
        """The triples' row count and digest are the same on every op."""
        ckpt, triples = handle
        r = triples.agg(*digest_cols(TRIPLE_FIELDS)).head()
        got = (r["rows"], r["h"])
        if self.expected is None:
            self.expected = got
        if self.last is not None:
            shutil.rmtree(self.last[0], ignore_errors=True)
        self.last = handle
        return got == self.expected and r["rows"] > 0

    def finish(self) -> bool:
        """The last op's triples against the fixture truth. The floors
        catch a broken pipeline: at this KG scale, ambiguous twins and
        1-edit typos cost some recall (0.93-0.95 on seeds 1 and 7), while
        precision stays near 1."""
        from lamapi_spark.pipeline.run import triple_prf

        if self.last is None:
            return False
        prf = triple_prf(self.last[1], self.truth)
        print(f"# triple_prf {prf}")
        return prf["precision"] >= 0.95 and prf["recall"] >= 0.8


WORKLOADS = {w.name: w for w in (LookupBatch, KgBatch)}
