#!/usr/bin/env python3
"""lamapi_spark benchmark: one closed-loop client in one process.

    python3 perfbench/run.py --workload lookup_batch --seed 1 --seconds 10 --trace 0

Run it from the root of a checkout. The run starts a pinned local
SparkSession, builds seeded inputs and the offline index, then issues
ops back to back for ``--seconds`` seconds (an op that starts in time
runs to its end, and at least one op runs) and verifies each op's
output. The last line of standard output is one JSON
object: ``correct``, ``attempted``, ``failed`` and ``metrics``. With
``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1``
every op is traced and the metrics are the per-layer ones (see
README.md). All scratch state lives in
``.perfbench_tmp/`` under the checkout and is deleted on exit; a traced
run leaves its spans in ``.perfbench_out/``.

The first run in a checkout builds the JVM class archive in
``.perfbench_build/`` (``build_class_archive``) before it starts timing.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# the session config every run uses, on both sides of any comparison
DRIVER_MEMORY = "4g"
BUILD_DIR = os.path.join(ROOT, ".perfbench_build")
# Spark puts its conf dir on the JVM class path. An empty one keeps site
# config out of the pinned session, and keeps the class path the same in
# every run, which the class archive needs.
CONF_DIR = os.path.join(BUILD_DIR, "conf")
CLASS_ARCHIVE = os.path.join(BUILD_DIR, "spark-classes.jsa")


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    # internal: the class-archive build run (see build_class_archive)
    p.add_argument("--dump-classes", help=argparse.SUPPRESS)
    return p.parse_args(argv)


def build_class_archive() -> str:
    """The benchmark's build step, once per checkout: a JVM class-data
    archive (AppCDS) of the classes a session start loads, dumped by a
    throwaway child run when its JVM exits. Later JVMs map the archive
    instead of loading those classes from jars, which takes about 4 s
    off each run's session start. Returns the JVM option that uses the
    archive, or "" if the JVM could not make one (remembered, so it is
    tried once per checkout)."""
    failed = CLASS_ARCHIVE + ".failed"
    if not os.path.exists(CLASS_ARCHIVE) and not os.path.exists(failed):
        os.makedirs(CONF_DIR, exist_ok=True)
        tmp = f"{CLASS_ARCHIVE}.{os.getpid()}.tmp"
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", "all",
               "--seed", "0", "--seconds", "0", "--dump-classes", tmp]
        # own process group: on timeout or SIGTERM the child and its JVM
        # are stopped together (SIGTERM first, so the child removes its
        # run dir), then waited for
        proc = subprocess.Popen(cmd, stdout=subprocess.DEVNULL,
                                stderr=subprocess.DEVNULL, start_new_session=True)
        try:
            ok = proc.wait(timeout=600) == 0 and os.path.exists(tmp)
        except subprocess.TimeoutExpired:
            ok = False
        finally:
            if proc.poll() is None:
                stop_group(proc)
                if os.path.exists(tmp):
                    os.remove(tmp)
        if ok:
            os.replace(tmp, CLASS_ARCHIVE)
        else:
            open(failed, "w").close()
            if os.path.exists(tmp):
                os.remove(tmp)
    return f"-XX:SharedArchiveFile={CLASS_ARCHIVE}" if os.path.exists(CLASS_ARCHIVE) else ""


def stop_group(proc) -> None:
    """SIGTERM the process group of ``proc`` (the child and the JVM it
    started), then wait until every member has ended: the JVM is not our
    child, so its end is seen as the group emptying. SIGKILL after 30 s."""
    os.killpg(proc.pid, signal.SIGTERM)
    deadline, killed = time.monotonic() + 30, False
    while time.monotonic() < deadline + 10 * killed:
        proc.poll()  # reap the child, so only live members keep the group
        try:
            os.killpg(proc.pid, 0)
        except ProcessLookupError:
            break
        if not killed and time.monotonic() >= deadline:
            os.killpg(proc.pid, signal.SIGKILL)
            killed = True
        time.sleep(0.2)
    proc.wait()


def dump_classes(path: str, run_dir: str) -> int:
    """The child run of build_class_archive: a session start, one small
    aggregation and a stop, in a JVM that writes the class archive to
    ``path`` when it exits. Session start is most of the class loading a
    run does; classes first used later load from jars as usual."""
    spark = start_session("dump_classes", run_dir, False,
                          f"-XX:ArchiveClassesAtExit={path}")
    try:
        spark.range(1000).selectExpr("id % 7 AS k").groupBy("k").count().collect()
    finally:
        stop_session(spark)
    return 0


def start_session(workload: str, run_dir: str, trace: bool, java_opts: str = ""):
    from lamapi_spark.session import get_spark

    n = len(os.sched_getaffinity(0))
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    tempfile.tempdir = tmp
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    os.environ["SPARK_CONF_DIR"] = CONF_DIR
    for var in ("SPARK_GRAFT_METASTORE_DIR", "SPARK_WAREHOUSE_DIR"):
        os.environ.pop(var, None)
    conf = {
        "spark.driver.memory": DRIVER_MEMORY,
        # initial heap = maximum heap: no heap resizing during the run
        "spark.driver.extraJavaOptions":
            f"-Xms{DRIVER_MEMORY} -Djava.io.tmpdir={tmp} {java_opts}".strip(),
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.eventLog.enabled": "false",
    }
    if trace:
        events = os.path.join(run_dir, "events")
        os.makedirs(events)
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": events,
                     "spark.eventLog.compress": "false",
                     "spark.eventLog.rolling.enabled": "false"})
    spark = get_spark(app_name=f"perfbench_{workload}", master=f"local[{n}]",
                      shuffle_partitions=n, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, HERE)
    sys.path.insert(0, ROOT)
    try:
        import pyspark  # noqa: F401

        import lamapi_spark
        if not os.path.abspath(lamapi_spark.__file__).startswith(ROOT + os.sep):
            raise ImportError(f"lamapi_spark found outside the checkout: "
                              f"{lamapi_spark.__file__}")
    except ImportError as e:
        print(f"perfbench: cannot import the package from {ROOT}: {e}",
              file=sys.stderr)
        return 2
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS and not args.dump_classes:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    base = os.path.join(ROOT, ".perfbench_tmp")
    os.makedirs(base, exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=base)
    # a SIGTERM unwinds through the finally below: JVM stopped, scratch gone
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    if args.dump_classes:
        try:
            return dump_classes(args.dump_classes, run_dir)
        finally:
            shutil.rmtree(run_dir, ignore_errors=True)
    spark = None
    try:
        t = time.perf_counter()
        java_opts = build_class_archive()
        # a build in this run is not part of its set-up time
        build_s = time.perf_counter() - t
        spark = start_session(args.workload, run_dir, bool(args.trace), java_opts)
        session_s = time.perf_counter() - T_START - build_s
        wl = WORKLOADS[args.workload](spark, args.seed, run_dir)
        if args.trace:
            import traced

            result = traced.run(spark, wl, args, session_s, ROOT)
        else:
            result = run_untraced(wl, args, session_s)
    finally:
        try:
            if spark is not None:
                stop_session(spark)
        finally:
            shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(result))
    return 0


def stop_session(spark) -> None:
    """Stop Spark, then end the JVM and wait for it: the gateway JVM exits
    when its stdin closes."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if proc is None:
        return
    try:
        gateway.shutdown()
    except Exception:
        pass
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except Exception:
        proc.kill()
        proc.wait()


def run_untraced(wl, args, session_s: float) -> dict:
    from procstats import peak_rss_mb
    from workloads import Tally, run_ops

    t = time.perf_counter()
    wl.setup()
    setup_s = session_s + (time.perf_counter() - t)
    tally = Tally()
    ops = run_ops(wl, 0, args.seconds, tally)
    ok = tally.failed == 0 and bool(ops) and wl.finish()
    walls = [w for w, _, _ in ops] or [0.0]
    items = sum(n for _, _, n in ops) or 1
    metrics = {
        "setup_s": (setup_s, "s"),
        "index_build_s": (wl.index_build_s, "s"),
        "op_p50_s": (statistics.median(walls), "s"),
        "items_per_s": (items / sum(walls), "items/s"),
        "cpu_s_per_kitem": (sum(c for _, c, _ in ops) / (items / 1000.0), "s"),
        "peak_rss_mb": (peak_rss_mb(), "MB"),
    }
    print(f"# {wl.name} seed={args.seed} measured_op_s="
          f"{[round(w, 3) for w in walls]} samples={len(ops)} "
          f"items_per_op={[n for _, _, n in ops]} attempted={tally.attempted} "
          f"failed={tally.failed}")
    for k, (v, u) in metrics.items():
        print(f"# {k} = {v:.6g} {u} (n={len(ops) if k.startswith(('op', 'items', 'cpu')) else 1})")
    return {"correct": ok, "attempted": tally.attempted, "failed": tally.failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}


if __name__ == "__main__":
    sys.exit(main())
