"""Local twin of the driver's correctness gate: run every queries()
entry on Spark and its oracle_sql() on DuckDB over the same parquet,
compare row count, column names, and order-insensitive values.

Usage: python tools/check_contract.py [sf_dir] [query ...]

Naming a query that is not registered is an error (exit 1, the unknown
names listed) rather than a silent skip. Every run ends with
``N passed / M run``.
"""

from __future__ import annotations

import hashlib
import itertools
import math
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb
import numpy as np

from lamapi_spark.queries import TABLES, oracle_sql, queries
from lamapi_spark.session import get_spark


def norm_cell(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return f"{v:.10g}"
    if hasattr(v, "isoformat"):
        return v.isoformat()
    try:
        import decimal
        if isinstance(v, decimal.Decimal):
            return f"{float(v):.10g}"
    except Exception:
        pass
    return str(v)


def normalized(cols, rows):
    """(64-bit hash, normalized row) per row, columns taken in name order."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    for r in rows:
        row = tuple(norm_cell(r[i]) for i in order)
        digest = hashlib.blake2b(repr(row).encode(), digest_size=8).digest()
        yield int.from_bytes(digest, "little"), row


def fingerprint(cols, rows):
    """The sorted row hashes: an order-insensitive fingerprint of the
    result, equal on both engines iff their normalized row multisets are
    (up to a 64-bit hash collision). Rows stream through one at a time:
    a 9.9M-row result (bow_similarity, lookup_token_match at sf0.1)
    costs 80 MB here, where holding its normalized rows took gigabytes
    per engine and got the sweep OOM-killed on a 15 GB host."""
    return np.sort(np.fromiter((h for h, _ in normalized(cols, rows)),
                               dtype=np.uint64))


def examples(cols, rows, strays, k=3):
    """Up to ``k`` normalized rows whose hash is in ``strays``."""
    return list(itertools.islice(
        (row for h, row in normalized(cols, rows) if h in strays), k))


def fetch_rows(res, batch=100_000):
    while rows := res.fetchmany(batch):
        yield from rows


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    only = set(sys.argv[2:])
    qs, oracles = queries(), oracle_sql()
    unknown = sorted(only - qs.keys())
    if unknown:
        print(f"unknown query names ({len(unknown)}): {' '.join(unknown)}")
        sys.exit(1)
    # 150+ queries share ONE local-mode JVM: bound the listener/UI state
    # (an appStatus-thread OOM once killed the context mid-sweep) and
    # clear per-query cache/checkpoint residue below.
    spark = get_spark(master="local[8]", shuffle_partitions=8, extra_conf={
        "spark.driver.memory": os.environ.get("CONTRACT_DRIVER_MEM", "12g"),
        "spark.ui.enabled": "false",
        "spark.sql.ui.retainedExecutions": "5",
        "spark.ui.retainedJobs": "50",
        "spark.ui.retainedStages": "50",
    })
    # ONE DuckDB connection per ORACLE (built lazily below): after an
    # out-of-memory failure a shared connection can stay wedged (its
    # allocator keeps the reservation), cascading bogus OOMs over every
    # later oracle — observed in the round-5 sf0.1 sweep. A fresh
    # connection per query costs ~10 view DDLs, nothing at this scale.
    def fresh_con():
        c = duckdb.connect()
        # bound the spill: a CTE-inlining blowup (re-executed heavy
        # subtrees, see the rag_mmr_rerank fix) must ERROR, not fill the
        # disk — and spill outside the repo, not cwd-relative .tmp
        c.execute("SET temp_directory='/tmp/ddb_contract_spill'")
        c.execute("SET max_temp_directory_size='24GB'")
        for t in TABLES:
            c.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
        return c

    failures = []
    n_run = n_pass = n_rows_only = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        n_run += 1
        try:
            sdf = fn(spark, sf_dir)
            s_cols = sdf.columns
            a = fingerprint(s_cols, sdf.toLocalIterator())
        except Exception as e:
            failures.append((name, f"SPARK ERROR: {e}"))
            print(f"FAIL {name}: spark error {str(e)[:2000]}")
            continue
        finally:
            # drop this query's cached frames and let the ContextCleaner
            # reclaim localCheckpoint RDD blocks (their Python refs die
            # with this iteration) — residue across 150+ queries is what
            # eventually OOMs the shared JVM
            spark.catalog.clearCache()
            import gc
            gc.collect()
        if name not in oracles:
            print(f"ok?  {name}: rows={len(a)} (no oracle — rows-only check)")
            n_rows_only += 1
            continue
        try:
            con = fresh_con()
            res = con.execute(oracles[name])
            d_cols = [d[0] for d in res.description]
            b = fingerprint(d_cols, fetch_rows(res))
            con.close()
        except Exception as e:
            failures.append((name, f"DUCKDB ERROR: {e}"))
            print(f"FAIL {name}: duckdb error {str(e)[:2000]}")
            try:
                con.close()
            except Exception:
                pass
            continue
        if sorted(s_cols) != sorted(d_cols):
            failures.append((name, f"SCHEMA: spark={s_cols} duck={d_cols}"))
            print(f"FAIL {name}: schema mismatch spark={s_cols} duck={d_cols}")
            continue
        if len(a) != len(b):
            failures.append((name, f"COUNT: spark={len(a)} duck={len(b)}"))
            print(f"FAIL {name}: count spark={len(a)} duck={len(b)}")
            continue
        if not np.array_equal(a, b):
            # only the hashes were kept: run both sides again to show
            # rows found on one side only (both lists empty = the same
            # distinct rows with different multiplicities)
            try:
                only_s = examples(s_cols, fn(spark, sf_dir).toLocalIterator(),
                                  set(np.setdiff1d(a, b).tolist()))
                con = fresh_con()
                only_d = examples(d_cols, fetch_rows(con.execute(oracles[name])),
                                  set(np.setdiff1d(b, a).tolist()))
                con.close()
                diff = f"spark-only {only_s}, duckdb-only {only_d}"
            except Exception as e:
                diff = f"(re-run for example rows failed: {str(e)[:500]})"
            failures.append((name, f"VALUES: {diff}"))
            print(f"FAIL {name}: value mismatch, e.g. {diff}")
            continue
        print(f"PASS {name}: rows={len(a)}")
        n_pass += 1
    spark.stop()
    rows_only = f" ({n_rows_only} rows-only, no oracle)" if n_rows_only else ""
    print(f"\n{n_pass} passed / {n_run} run{rows_only}")
    if failures:
        print(f"{len(failures)} FAILURES")
        sys.exit(1)
    print("ALL PASS")


if __name__ == "__main__":
    main()
