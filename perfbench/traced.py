"""The traced run: per-layer metrics recorded from outside the package.

Order: a traced set-up, then traced ops for ``--seconds``. The first
traced op starts right after set-up, at the same point of the JVM's
warm-up as the first op of an untraced run, so ``trace.op_p50_s``
compares with the untraced ``op_p50_s``. During the ops the harness
wraps the package's public entry points:

- ``StageRunner.run``: one span per pipeline stage. Inside it, the
  stage's build and a noop-sink run of the frame it returns make up the
  stage's layer span (``mentions.detect``, ``linking.link``, ...); then
  StageRunner writes the frame as usual. ``checkpoint.write_s`` is the
  StageRunner time minus the layer span and minus the noop time once
  more, because the write job computes the frame again.
- ``pipeline.run.build_index_artifacts``: the reuse validation and
  load (``indexes.load``).
- ``operators.lookup.token_match``: the shared slim match, counted in
  its span (``lookup.token_match``, ``lookup.match_rows``).

The per-layer value of a metric is its sum within one context (the
set-up or one op): the median over the traced ops where it occurs, else
its set-up value, else 0 (a layer the workload never enters). Spark counters come
from the event log and are attributed to layers by job description.

``trace.overhead_cpu_s`` is the executor CPU of the jobs the tracer
adds to an op: the noop copies of stage frames. Their wall time cannot
be summed, because stages overlap; the wall-time overhead is
``trace.op_p50_s`` minus the ``op_p50_s`` of untraced runs (README.md).
"""

from __future__ import annotations

import json
import os
import time
from contextlib import ExitStack, contextmanager

from pyspark.sql import functions as F

from spans import Tracer, median, read_jobs
from workloads import Tally

STAGE_SPANS = {
    "label_dict": "label_dict.build",
    "mentions": "mentions.detect",
    "oov_mentions": "mentions.oov",
    "candidates": "linking.candidates",
    "linked": "linking.link",
    "triples_raw": "triples.extract",
    "canonical_map": "canonicalize.map",
    "triples": "canonicalize.apply",
}
# counts read from a stage's StageRunner metrics record
STAGE_ROWS = {
    "label_dict": "label_dict.rows",
    "mentions": "mentions.spans",
    "oov_mentions": "mentions.spans",
    "candidates": "lookup.rows_out",
    "triples_raw": "triples.rows",
}
INDEX_TABLES = ("token", "fuzzy", "names", "payload")
COUNTER_LAYERS = ("label_dict", "indexes", "lookup", "mentions", "linking",
                  "triples", "canonicalize", "checkpoint")
COUNTERS = (("executor_cpu_s", "cpu_s", "s"),
            ("shuffle_write_mb", "shuffle_write_mb", "MB"),
            ("spill_mb", "spill_mb", "MB"))
# spans whose duration is not a per-layer metric of its own
UNTIMED = ("setup", "op", "post.counts", "checkpoint.stage_run")

# (name, unit, better) of every per-layer metric a traced run prints
PER_LAYER = (
    [("session.start_s", "s", "lower"),
     ("label_dict.build_s", "s", "lower"), ("label_dict.rows", "count", "lower")]
    + [(f"indexes.write_s.{t}", "s", "lower") for t in INDEX_TABLES]
    + [(f"indexes.bytes.{t}", "bytes", "lower") for t in INDEX_TABLES]
    + [("indexes.load_s", "s", "lower"),
       ("lookup.token_match_s", "s", "lower"), ("lookup.match_rows", "count", "lower"),
       ("lookup.lookup_s", "s", "lower"), ("lookup.rows_out", "count", "lower"),
       ("lookup.kept_frac", "ratio", "higher"), ("lookup.best_links_s", "s", "lower"),
       ("mentions.detect_s", "s", "lower"), ("mentions.spans", "count", "lower"),
       ("mentions.oov_s", "s", "lower"), ("mentions.surfaces", "count", "lower"),
       ("linking.candidates_s", "s", "lower"), ("linking.link_s", "s", "lower"),
       ("linking.nil_frac", "ratio", "lower"),
       ("triples.extract_s", "s", "lower"), ("triples.pairs", "count", "lower"),
       ("triples.rows", "count", "higher"), ("triples.hit_frac", "ratio", "higher"),
       ("canonicalize.map_s", "s", "lower"), ("canonicalize.apply_s", "s", "lower"),
       ("checkpoint.write_s", "s", "lower"), ("checkpoint.bytes", "bytes", "lower"),
       ("checkpoint.files", "count", "lower")]
    + [(f"{layer}.{name}", unit, "lower") for layer in COUNTER_LAYERS
       for name, _, unit in COUNTERS]
    + [(f"{layer}.jobs", "count", "lower") for layer in COUNTER_LAYERS]
    + [("op.self_s", "s", "lower"), ("trace.op_p50_s", "s", "lower"),
       ("trace.overhead_cpu_s", "s", "lower")]
)


def dir_bytes(path: str) -> tuple[int, int]:
    """(bytes, files) of the regular files under ``path``."""
    n = files = 0
    for root, _, fs in os.walk(path):
        for f in fs:
            n += os.path.getsize(os.path.join(root, f))
            files += 1
    return n, files


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


@contextmanager
def patched(obj, name, wrapper):
    orig = getattr(obj, name)
    setattr(obj, name, wrapper(orig))
    try:
        yield
    finally:
        setattr(obj, name, orig)


def install(tracer) -> ExitStack:
    """Wrap the package's entry points for the traced ops."""
    import lamapi_spark.operators.lookup as lookup_mod
    import lamapi_spark.pipeline.run as run_mod
    from lamapi_spark.pipeline.checkpoint import StageRunner

    def wrap_stage_run(orig):
        def run(self, stage, build, fingerprint="", inputs=()):
            if not self.enabled:
                return orig(self, stage, build, fingerprint, inputs)
            took = {}

            def timed_build():
                # the layer's own time: build() (which may run eager jobs,
                # as canonical_map's iterations do) plus the noop run of
                # the lazy frame it returns
                with tracer.span(STAGE_SPANS.get(stage, f"stage.{stage}")) as sp:
                    df = build()
                    with tracer.span(f"{sp.name}.noop", sp.layer) as nsp:
                        nsp.counts["_stage_compute"] = 1
                        noop(df)
                took["layer"], took["noop"] = sp.duration, nsp.duration
                return df

            with tracer.span("checkpoint.stage_run") as outer:
                out = orig(self, stage, timed_build, fingerprint, inputs)
            # what StageRunner adds besides the layer's work is its write
            # job, which computes the frame again (about the noop time)
            # and writes it, plus its metadata and lineage reads
            nbytes, files = dir_bytes(os.path.join(self.root, stage, "data"))
            outer.counts.update({
                "checkpoint.write_s": max(
                    outer.duration - took["layer"] - took["noop"], 0.0),
                "checkpoint.bytes": nbytes, "checkpoint.files": files})
            if stage in STAGE_ROWS:
                # stages run concurrently and append to the same list, so
                # the record is found by stage name, not by position
                rec = next(m for m in reversed(self.metrics) if m["stage"] == stage)
                outer.counts[STAGE_ROWS[stage]] = rec["rows_out"] or 0
            return out
        return run

    def wrap_index(orig):
        def build_index_artifacts(*a, **kw):
            with tracer.span("indexes.load"):
                return orig(*a, **kw)
        return build_index_artifacts

    def wrap_token_match(orig):
        def token_match(*a, **kw):
            df = orig(*a, **kw)
            with tracer.span("lookup.token_match") as sp:
                sp.counts["lookup.match_rows"] = df.count()
            return df
        return token_match

    stack = ExitStack()
    stack.enter_context(patched(StageRunner, "run", wrap_stage_run))
    stack.enter_context(patched(run_mod, "build_index_artifacts", wrap_index))
    stack.enter_context(patched(lookup_mod, "token_match", wrap_token_match))
    return stack


def traced_setup(tracer, wl, session_s: float) -> None:
    """The workload's set-up. The index build's dictionary is persisted
    and counted in its own span (``label_dict.build``) before the build
    goes on from the cached copy, so the work done is the untraced
    set-up's plus one reuse-validated load (``indexes.load``)."""
    import lamapi_spark.pipeline.run as run_mod

    def wrap_label_dict(orig):
        def build_label_dict(*a, **kw):
            df = orig(*a, **kw).persist()
            with tracer.span("label_dict.build") as sp:
                sp.counts["label_dict.rows"] = df.count()
            return df
        return build_label_dict

    def build_index():
        with tracer.span("indexes.build"):
            with patched(run_mod, "build_label_dict", wrap_label_dict):
                type(wl).build_index(wl)
        with tracer.span("indexes.load"):
            run_mod.build_index_artifacts(wl.spark, wl.items, prefix=wl.index_prefix)

    now = time.time()
    with tracer.context("setup", "setup") as root:
        tracer.record("session.start", now - session_s, now)
        root.start = now - session_s
        wl.build_index = build_index
        try:
            wl.setup()
        finally:
            del wl.build_index
    warehouse = wl.spark.conf.get("spark.sql.warehouse.dir").replace("file:", "")
    for t in INDEX_TABLES:
        root.counts[f"indexes.bytes.{t}"] = dir_bytes(
            os.path.join(warehouse, f"{wl.index_prefix}_{t}"))[0]


def kg_counts(tracer, wl, handle) -> None:
    """Counts read back from one kg op's checkpoints, outside the op."""
    from lamapi_spark.pipeline.triples import mention_pairs

    def stage(name):
        return wl.spark.read.parquet(os.path.join(handle[0], name, "data"))

    with tracer.span("post.counts") as sp:
        linked = stage("linked")
        surfaces = stage("mentions").select("surface").unionByName(
            stage("oov_mentions").select("surface"))
        sp.counts.update({
            "mentions.surfaces": surfaces.distinct().count(),
            "linking.nil_frac": linked.agg(
                F.avg(F.col("nil").cast("double"))).head()[0] or 0.0,
            "triples.pairs": mention_pairs(linked).count()})


def layer_metrics(tracer, jobs, self_times, prefix: str) -> dict:
    by_id = {sp.id: sp for sp in tracer.spans}
    contexts = [sp for sp in tracer.spans if sp.name in ("setup", "op")]
    per_ctx: dict[str, dict[str, float]] = {}

    def add(ctx, key, v):
        d = per_ctx.setdefault(ctx, {})
        d[key] = d.get(key, 0.0) + v

    for sp in tracer.spans:
        if sp.name not in UNTIMED:
            add(sp.ctx, f"{sp.name}_s", sp.duration)
        if sp.name == "op":
            add(sp.ctx, "op.self_s", self_times[sp.id])
            add(sp.ctx, "trace.overhead_cpu_s", 0.0)
        for k, v in sp.counts.items():
            if not k.startswith("_"):
                add(sp.ctx, k, float(v))

    def ctx_at(t):
        return next((c.ctx for c in contexts if c.start <= t <= c.end), None)

    index_jobs: dict[tuple, list] = {}
    for j in jobs:
        desc = j["desc"]
        if desc.startswith("perfbench:"):
            sp = by_id[int(desc.rsplit(":", 1)[1])]
            layer, ctx = sp.layer, sp.ctx
            if sp.counts.get("_stage_compute"):
                # the noop copy of a stage's frame: the checkpoint write
                # job recomputes the same frame, so take it off there
                for name, key, _ in COUNTERS:
                    add(ctx, f"checkpoint.{name}", -j[key])
                add(ctx, "trace.overhead_cpu_s", j["cpu_s"])
        elif desc.startswith("pipeline_stage:"):
            layer, ctx = "checkpoint", ctx_at(j["submit"])
        elif desc.startswith(f"index_write:{prefix}_"):
            layer, ctx = "indexes", ctx_at(j["submit"])
            index_jobs.setdefault((ctx, desc.rsplit("_", 1)[1]), []).append(j)
        else:
            continue
        if ctx is None or layer not in COUNTER_LAYERS:
            continue
        for name, key, _ in COUNTERS:
            add(ctx, f"{layer}.{name}", j[key])
        add(ctx, f"{layer}.jobs", 1)
    for (ctx, table), js in index_jobs.items():
        if table in INDEX_TABLES:
            add(ctx, f"indexes.write_s.{table}",
                max(j["end"] or j["submit"] for j in js) - min(j["submit"] for j in js))

    for d in per_ctx.values():
        if d.get("lookup.match_rows"):
            d["lookup.kept_frac"] = d.get("lookup.rows_out", 0.0) / d["lookup.match_rows"]
        if d.get("triples.pairs"):
            d["triples.hit_frac"] = d.get("triples.rows", 0.0) / d["triples.pairs"]
        for name, _, _ in COUNTERS:
            if f"checkpoint.{name}" in d:
                d[f"checkpoint.{name}"] = max(d[f"checkpoint.{name}"], 0.0)
    setup = per_ctx.pop("setup", {})
    out = {}
    for name, _, _ in PER_LAYER:
        per_op = [d[name] for d in per_ctx.values() if name in d]
        out[name] = median(per_op) if per_op else setup.get(name, 0.0)
    return out


def run(spark, wl, args, session_s: float, root: str) -> dict:
    """The whole traced run; stops the session to flush the event log."""
    tracer = Tracer(spark)
    tally = Tally()
    traced_setup(tracer, wl, session_s)

    walls = []
    i, t0 = 0, time.perf_counter()
    with install(tracer):
        while True:
            ok = False
            try:
                if hasattr(wl, "op_traced"):
                    handle = wl.op_traced(i, tracer)
                else:
                    with tracer.context(f"op{i}", "op"):
                        _, handle = wl.op(i)
                    kg_counts(tracer, wl, handle)
                walls.append(next(sp.duration for sp in reversed(tracer.spans)
                                  if sp.name == "op"))
                ok = wl.check(i, handle)
            except Exception as e:  # a failing op is counted, not fatal
                print(f"traced op {i} raised {type(e).__name__}: {e}"[:500])
            tally(ok)
            i += 1
            if time.perf_counter() - t0 >= args.seconds:
                break
    ok = tally.failed == 0 and bool(walls) and wl.finish()
    spark.stop()
    jobs = read_jobs(os.path.join(wl.run_dir, "events"))
    self_times = tracer.self_times()
    metrics = layer_metrics(tracer, jobs, self_times, wl.index_prefix)
    metrics["trace.op_p50_s"] = median(walls)

    out_dir = os.path.join(root, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, f"trace-{wl.name}-seed{args.seed}.json")
    with open(path, "w") as fh:
        json.dump({"workload": wl.name, "seed": args.seed, "traced_op_s": walls,
                   "spans": [dict(vars(sp), self_s=self_times[sp.id])
                             for sp in tracer.spans],
                   "jobs": jobs, "metrics": metrics}, fh, indent=1)
    print(f"# trace: {os.path.relpath(path, root)} ({len(tracer.spans)} spans, "
          f"{len(jobs)} jobs); traced op_s={[round(w, 3) for w in walls]}")
    units = {name: unit for name, unit, _ in PER_LAYER}
    return {"correct": ok, "attempted": tally.attempted, "failed": tally.failed,
            "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()}}
