"""Local replica of the driver's correctness gate — STRICT mode.

Runs every queries() entry on Spark and its oracle_sql() on DuckDB over the
same sf dir and compares row count, column names, and an order-insensitive
value hash.  The hash is computed under TWO representations and BOTH must
match, so local green implies driver green regardless of which fetch path
the driver uses:

  * row objects  — Spark .collect()  vs DuckDB .fetchall()
  * pandas       — Spark .toPandas() vs DuckDB .fetchdf()
    (this is where DuckDB HUGEINT -> float64 coercion and -0.0 surface)

Float cells use full-precision repr — no rounding, no integerizing — so a
1-ulp difference or a -0.0 fails here exactly as it would on the driver.

Usage:  python tools/check_correctness.py [sf_dir] [query ...]

The DuckDB oracle runs under fixed caps (ORACLE_MEMORY_LIMIT in memory,
ORACLE_TEMP_BYTES of spill in a temporary directory removed on exit), so
an oracle that outgrows them ends as ORACLE_ERROR instead of taking the
host's memory or disk.
"""

from __future__ import annotations

import hashlib
import json
import os
import sys
import tempfile
import threading
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import numpy as np

#: DuckDB's default memory_limit is 80% of the host's RAM and its spill
#: goes to ./.tmp, bounded only by the free disk
ORACLE_MEMORY_LIMIT = "2GB"
ORACLE_TEMP_BYTES = 4 << 30


def norm_cell(v):
    """Exact, representation-revealing normalization (NO leniency)."""
    if v is None:
        return "NULL"
    if isinstance(v, (float, np.floating)):
        f = float(v)
        if f != f:
            return "NaN"
        return repr(f)  # full precision; distinguishes -0.0 from 0.0
    if isinstance(v, (bool, np.bool_)):
        return str(bool(v)).lower()
    if isinstance(v, (int, np.integer)):
        return str(int(v))
    return str(v)


def table_hash(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted(
        "\x01".join(norm_cell(r[i]) for i in order) for r in rows
    )
    h = hashlib.sha256()
    for ln in lines:
        h.update(ln.encode())
        h.update(b"\n")
    return h.hexdigest()[:16]


def _first_diff(cols_a, rows_a, cols_b, rows_b, label):
    oa = sorted(range(len(cols_a)), key=lambda i: cols_a[i])
    ob = sorted(range(len(cols_b)), key=lambda i: cols_b[i])
    sa = sorted("|".join(norm_cell(r[i]) for i in oa) for r in rows_a)
    sb = sorted("|".join(norm_cell(r[i]) for i in ob) for r in rows_b)
    for a, b in zip(sa, sb):
        if a != b:
            print(f"   [{label}] spark : {a}\n   [{label}] oracle: {b}")
            return


def _spill_bytes(spill: str) -> int:
    total = 0
    for entry in os.scandir(spill):
        try:
            total += entry.stat().st_size
        except FileNotFoundError:   # freed while we looked
            pass
    return total


def _guard_spill(con, spill: str, stop: threading.Event) -> None:
    """Interrupt the running oracle once its spill passes
    ORACLE_TEMP_BYTES.  duckdb 1.0.0 enforces max_temp_directory_size on
    only part of its spill: semdedup's oracle at sf0.1 wrote 14 GB under
    a 4 GB setting."""
    while not stop.wait(0.5):
        if _spill_bytes(spill) > ORACLE_TEMP_BYTES:
            print(f"oracle spill passed {ORACLE_TEMP_BYTES >> 30} GiB: "
                  "interrupting the query")
            con.interrupt()
            stop.wait(5.0)          # let the interrupted query free it


def main():
    import duckdb

    with tempfile.TemporaryDirectory(prefix="oracle-spill-") as spill:
        con = duckdb.connect(config={
            "memory_limit": ORACLE_MEMORY_LIMIT,
            "max_temp_directory_size": f"{ORACLE_TEMP_BYTES >> 30}GiB",
            "temp_directory": spill})
        stop = threading.Event()
        guard = threading.Thread(target=_guard_spill,
                                 args=(con, spill, stop), daemon=True)
        guard.start()
        try:
            return check(con)
        finally:
            stop.set()
            guard.join()
            con.close()  # before its spill directory goes


def check(con) -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as entrymod
    from spatial_spark.session import get_spark

    spark = get_spark("correctness_check")
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()

    for t in ("region nation customer supplier part orders lineitem events "
              "documents embeddings").split():
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    results = {}
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            spdf = sdf.toPandas()
            scols = list(spdf.columns)
            srows = [list(t) for t in spdf.itertuples(index=False, name=None)]
            srows_obj = [[r[c] for c in scols] for r in sdf.collect()]
            spark_secs = round(time.time() - t0, 2)
        except Exception as e:
            results[name] = {"status": "SPARK_ERROR", "error": str(e)[:300]}
            print(f"{name:24s} SPARK_ERROR {str(e)[:160]}")
            continue
        if name not in oracles:
            results[name] = {"status": "ROWS_ONLY", "rows": len(srows),
                             "secs": spark_secs}
            print(f"{name:24s} ROWS_ONLY rows={len(srows)} ({spark_secs}s)")
            continue
        try:
            res = con.execute(oracles[name])
            ocols = [d[0] for d in res.description]
            opdf = res.fetchdf()
            orows = [list(t) for t in opdf.itertuples(index=False, name=None)]
            orows_obj = con.execute(oracles[name]).fetchall()
        except Exception as e:
            results[name] = {"status": "ORACLE_ERROR", "error": str(e)[:300]}
            print(f"{name:24s} ORACLE_ERROR {str(e)[:160]}")
            continue
        ok_count = len(srows) == len(orows)
        ok_cols = sorted(scols) == sorted(ocols)
        ok_pd = table_hash(scols, srows) == table_hash(ocols, orows)
        ok_obj = (table_hash(scols, srows_obj)
                  == table_hash(ocols, orows_obj))
        ok_hash = ok_pd and ok_obj
        status = "OK" if (ok_count and ok_cols and ok_hash) else "MISMATCH"
        if status == "OK" and len(srows) == 0:
            status = "OK_EMPTY"  # vacuous: both sides 0 rows — check the query
        results[name] = {
            "status": status, "rows": len(srows), "oracle_rows": len(orows),
            "cols_ok": ok_cols, "hash_pandas_ok": ok_pd,
            "hash_obj_ok": ok_obj, "secs": spark_secs,
        }
        print(f"{name:24s} {status} rows={len(srows)}/{len(orows)} "
              f"cols={'Y' if ok_cols else 'N'} "
              f"hash_pd={'Y' if ok_pd else 'N'} "
              f"hash_obj={'Y' if ok_obj else 'N'} ({spark_secs}s)")
        if status == "MISMATCH" and ok_count and ok_cols:
            if not ok_pd:
                _first_diff(scols, srows, ocols, orows, "pandas")
            if not ok_obj:
                _first_diff(scols, srows_obj, ocols, orows_obj, "obj")

    n_ok = sum(1 for r in results.values() if r["status"] == "OK")
    n_total = len(results)
    print(f"\n{n_ok}/{n_total} OK "
          f"({sum(1 for r in results.values() if r['status'] == 'ROWS_ONLY')} rows-only)")
    with open("/tmp/correctness_local.json", "w") as f:
        json.dump(results, f, indent=1)
    return 0 if all(r["status"] in ("OK", "ROWS_ONLY") for r in results.values()) else 1


if __name__ == "__main__":
    sys.exit(main())
