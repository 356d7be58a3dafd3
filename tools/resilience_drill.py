"""Failure-injection evidence for the north rule's resumability claims.

Two drills over the SAME deterministic workload (fixtures seeds 42/43),
both asserting bit-identical final output vs an undisturbed control run:

1. **Executor loss** (``--drill executor``): the pipeline runs in
   local-cluster mode (real separate executor JVMs); a watcher thread
   SIGKILLs one CoarseGrainedExecutorBackend JVM mid-pipeline. Spark's
   standalone worker relaunches the executor and the stage retries its
   lost tasks — the run must COMPLETE and match the control hash.

2. **Driver loss + resume** (``--drill driver``): the pipeline runs in a
   child process with a StageRunner checkpoint dir; the parent SIGKILLs
   the child as soon as the ``candidates`` stage checkpoint lands
   (_SUCCESS + sidecar). A rerun against the same checkpoint dir must
   RESUME (stages 1..k read back, sidecars say resumed=true) and emit
   the identical triples hash.

Usage:
  python tools/resilience_drill.py --drill executor
  python tools/resilience_drill.py --drill driver
  python tools/resilience_drill.py --drill all      # both, prints summary
  python tools/resilience_drill.py --child <ckpt_dir>   # internal

Workload is sized by RESILIENCE_CONVS (default 20000 — big enough that
stages take several seconds, so the kill window is easy to hit).
"""

from __future__ import annotations

import json
import os
import signal
import subprocess
import sys
import tempfile
import threading
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

CONVS = int(os.environ.get("RESILIENCE_CONVS", "20000"))
KG_SCALE = int(os.environ.get("RESILIENCE_KG_SCALE", "2"))


def _build_inputs(spark):
    from lamapi_spark.pipeline.fixtures import (
        build_kg, build_transcripts, kg_dataframes, transcript_dataframes,
    )
    kg = build_kg(seed=42, n_people=400 * KG_SCALE, n_orgs=120 * KG_SCALE,
                  n_locs=60 * KG_SCALE, n_films=250 * KG_SCALE)
    dfs = kg_dataframes(spark, kg)
    tr = build_transcripts(kg, seed=43, n_convs=CONVS, turns_per_conv=(10, 20))
    dfs.update(transcript_dataframes(spark, *tr))
    return dfs


def _run_pipeline(spark, dfs, ckpt_dir):
    from lamapi_spark.pipeline.run import build_index_artifacts, run_pipeline
    idx = build_index_artifacts(spark, dfs["kg_items"], fuzzy=True,
                                limit_per_token=100, n_buckets=8, reuse=False)
    out = run_pipeline(spark, dfs["transcripts"], dfs["kg_items"],
                       dfs["kg_edges"], dfs["kg_sameas"],
                       checkpoint_dir=ckpt_dir, fuzzy=True, index=idx)
    return out


def _triples_hash(triples):
    from pyspark.sql import functions as F
    row = triples.select(
        F.md5(F.concat_ws("|", "subj", "pred", "obj", "conv_id", "turn_idx"))
        .alias("h")).agg(
        F.count("*").alias("n"),
        F.expr("bit_xor(xxhash64(h))").alias("x")).head()
    return int(row["n"]), int(row["x"])


def control_hash() -> tuple[int, int]:
    """Undisturbed local[8] run — the reference output."""
    from lamapi_spark.session import get_spark
    spark = get_spark(app_name="resilience_control", master="local[8]",
                      shuffle_partitions=16,
                      extra_conf={"spark.driver.memory": "8g"})
    dfs = _build_inputs(spark)
    out = _run_pipeline(spark, dfs, tempfile.mkdtemp(prefix="ckpt-ctl-"))
    h = _triples_hash(out["triples"])
    spark.stop()
    return h


def _find_executor_pids(driver_pid: int) -> list[int]:
    """PIDs of CoarseGrainedExecutorBackend JVMs (standalone executors)."""
    pids = []
    out = subprocess.run(["ps", "-eo", "pid,args"], capture_output=True,
                         text=True).stdout
    for line in out.splitlines():
        if "CoarseGrainedExecutorBackend" in line:
            try:
                pids.append(int(line.split(None, 1)[0]))
            except ValueError:
                pass
    return [p for p in pids if p != driver_pid]


def drill_executor(expect: tuple[int, int]) -> dict:
    from lamapi_spark.session import get_spark
    spark = get_spark(
        app_name="resilience_exec_kill",
        master="local-cluster[2,4,4096]",
        shuffle_partitions=16,
        extra_conf={"spark.executor.memory": "4096m",
                    # survive one executor loss without failing the app
                    "spark.task.maxFailures": "8"})
    dfs = _build_inputs(spark)

    killed = {}

    def killer():
        # wait until the pipeline is mid-flight, then kill one executor
        deadline = time.time() + 120
        while time.time() < deadline:
            pids = _find_executor_pids(os.getpid())
            if len(pids) >= 2:
                time.sleep(8)          # let real stages start
                victim = pids[0]
                os.kill(victim, signal.SIGKILL)
                killed["pid"] = victim
                killed["t"] = time.time()
                return
            time.sleep(1)

    th = threading.Thread(target=killer, daemon=True)
    th.start()
    out = _run_pipeline(spark, dfs, tempfile.mkdtemp(prefix="ckpt-exec-"))
    h = _triples_hash(out["triples"])
    spark.stop()
    th.join(timeout=5)
    ok = bool(killed) and h == expect
    return {"drill": "executor_loss", "killed_pid": killed.get("pid"),
            "hash": h, "expect": expect, "completed": True,
            "bit_identical": h == expect, "pass": ok}


def child_main(ckpt_dir: str) -> None:
    """Internal: run the pipeline to completion with checkpoints (the
    process the driver-loss drill kills)."""
    from lamapi_spark.session import get_spark
    spark = get_spark(app_name="resilience_child", master="local[8]",
                      shuffle_partitions=16,
                      extra_conf={"spark.driver.memory": "8g"})
    dfs = _build_inputs(spark)
    out = _run_pipeline(spark, dfs, ckpt_dir)
    n, x = _triples_hash(out["triples"])
    resumed = [m["stage"] for m in out["metrics"] if m.get("resumed")]
    print(json.dumps({"n": n, "hash": x, "resumed_stages": resumed}),
          flush=True)
    spark.stop()


def drill_driver(expect: tuple[int, int]) -> dict:
    ckpt = tempfile.mkdtemp(prefix="ckpt-driver-")
    env = dict(os.environ)
    # first run: kill -9 the DRIVER once the candidates checkpoint lands
    p = subprocess.Popen([sys.executable, os.path.abspath(__file__),
                          "--child", ckpt], env=env,
                         stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                         text=True)
    marker = os.path.join(ckpt, "candidates", "data", "_SUCCESS")
    deadline = time.time() + 600
    killed_at_stage = None
    while time.time() < deadline and p.poll() is None:
        if os.path.exists(marker):
            time.sleep(0.5)    # let the sidecar write finish
            p.kill()
            killed_at_stage = "candidates"
            break
        time.sleep(0.5)
    p.wait(timeout=60)
    if killed_at_stage is None:
        return {"drill": "driver_loss_resume", "pass": False,
                "error": "first run finished before the kill window"}

    # second run: must resume stages 1..candidates from checkpoint
    p2 = subprocess.run([sys.executable, os.path.abspath(__file__),
                         "--child", ckpt], env=env,
                        capture_output=True, text=True, timeout=1200)
    lines = [l for l in p2.stdout.splitlines() if l.startswith("{")]
    if not lines:
        return {"drill": "driver_loss_resume", "pass": False,
                "error": p2.stdout[-500:] + p2.stderr[-500:]}
    res = json.loads(lines[-1])
    h = (res["n"], res["hash"])
    resumed = res["resumed_stages"]
    ok = (h == expect and "canonical_map" in resumed and "mentions" in resumed
          and "candidates" in resumed)
    return {"drill": "driver_loss_resume", "killed_after": killed_at_stage,
            "resumed_stages": resumed, "hash": h, "expect": expect,
            "bit_identical": h == expect, "pass": ok}


def main() -> None:
    if len(sys.argv) > 2 and sys.argv[1] == "--child":
        child_main(sys.argv[2])
        return
    which = "all"
    if len(sys.argv) > 2 and sys.argv[1] == "--drill":
        which = sys.argv[2]
    print(json.dumps({"control": "running", "convs": CONVS}), flush=True)
    expect = control_hash()
    print(json.dumps({"control_hash": expect}), flush=True)
    results = []
    if which in ("executor", "all"):
        results.append(drill_executor(expect))
        print(json.dumps(results[-1]), flush=True)
    if which in ("driver", "all"):
        results.append(drill_driver(expect))
        print(json.dumps(results[-1]), flush=True)
    print(json.dumps({"all_pass": all(r.get("pass") for r in results)}))


if __name__ == "__main__":
    main()
