"""Local replica of the driver's correctness loop.

Runs each __spark_entry__.queries()[name] on Spark and oracle_sql()[name]
on DuckDB over the same sf0.01 parquet, compares row count, column names
(sorted) and an order-insensitive value hash. Usage:

    python3 scripts/check_oracle.py [query ...]
"""

from __future__ import annotations

import hashlib
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb  # noqa: E402

SF_DIR = os.environ.get("TGS_ORACLE_SF_DIR", "/root/testdata/sf0.01")

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings".split()
)


def norm_value(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if v != v:
            return "NaN"
        if v == int(v) and abs(v) < 1e15:
            return repr(float(v))
        return repr(v)
    if isinstance(v, bool):
        return str(int(v))
    return str(v)


def value_hash(rows, colnames) -> str:
    order = sorted(range(len(colnames)), key=lambda i: colnames[i])
    lines = sorted(
        "\x1f".join(norm_value(r[i]) for i in order) for r in rows
    )
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()[:16]


def open_oracle(sf_dir: str = SF_DIR):
    """DuckDB connection with one view per parquet table under sf_dir."""
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    return con


def check_query(spark, con, name: str, qs: dict, oracles: dict,
                sf_dir: str = SF_DIR) -> tuple[bool, str]:
    """Run queries()[name] on Spark and oracle_sql()[name] on DuckDB;
    compare row count, sorted column names and the order-insensitive
    value hash. Returns (ok, report); a query without oracle SQL is
    rows-only and ok."""
    if name not in qs:
        return False, f"{name}: NOT FOUND"
    t0 = time.time()
    sdf = qs[name](spark, sf_dir)
    scols = sdf.columns
    srows = [tuple(r) for r in sdf.collect()]
    t1 = time.time()
    if name not in oracles:
        return True, f"{name}: rows={len(srows)} (no oracle — rows-only) spark={t1-t0:.1f}s"
    try:
        res = con.execute(oracles[name])
        ocols = [d[0] for d in res.description]
        orows = res.fetchall()
    except Exception as e:
        return False, f"{name}: ORACLE SQL ERROR: {e}"
    t2 = time.time()
    ok_count = len(srows) == len(orows)
    ok_schema = sorted(c.lower() for c in scols) == sorted(c.lower() for c in ocols)
    sh = value_hash(srows, [c.lower() for c in scols])
    oh = value_hash(orows, [c.lower() for c in ocols])
    ok_hash = sh == oh
    ok = ok_count and ok_schema and ok_hash
    report = (
        f"{name}: {'OK' if ok else 'MISMATCH'} rows={len(srows)}/{len(orows)} "
        f"schema={'ok' if ok_schema else f'{sorted(scols)} vs {sorted(ocols)}'} "
        f"hash={'ok' if ok_hash else f'{sh} vs {oh}'} "
        f"spark={t1-t0:.1f}s duck={t2-t1:.1f}s"
    )
    if not ok_hash and ok_count and len(srows) <= 200000:
        # show first differing rows for debugging
        order = sorted(range(len(scols)), key=lambda i: scols[i].lower())
        oorder = sorted(range(len(ocols)), key=lambda i: ocols[i].lower())
        sset = sorted("|".join(norm_value(r[i]) for i in order) for r in srows)
        oset = sorted("|".join(norm_value(r[i]) for i in oorder) for r in orows)
        for a, b in zip(sset, oset):
            if a != b:
                report += f"\n  spark: {a}\n  duck : {b}"
                break
    return ok, report


def main(selected: list[str]) -> int:
    import __spark_entry__ as entrymod
    from tile_grid_spark.plans.session import build_session

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    names = selected or list(qs)
    con = open_oracle()
    spark = build_session("oracle-check", master="local[8]", shuffle_partitions=8,
                          extra_conf={"spark.ui.enabled": "false"})

    failures = 0
    for name in names:
        ok, report = check_query(spark, con, name, qs, oracles)
        failures += not ok
        print(report)
    spark.stop()
    print("FAILURES:", failures)
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
