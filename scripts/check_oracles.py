"""Local mimic of the driver's correctness gate: run each __spark_entry__
query on Spark and its oracle on DuckDB at sf0.01; compare row count, column
names, and order-insensitive values. Every OK and rows-only line, and the
``entry()`` smoke, carries a short sha256 of the sorted canonical rows per
engine, so two checkouts' outputs can be compared line by line.

Usage: python scripts/check_oracles.py [sf_dir] [query ...]
"""

from __future__ import annotations

import hashlib
import math
import sys

sys.path.insert(0, ".")

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


def canon(v):
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return str(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return f"{v:.9g}"
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    return str(v)


def canon_rows(columns, rows) -> list[tuple]:
    """Rows as sorted tuples of canonical values, columns in name order."""
    idx = [columns.index(c) for c in sorted(columns)]
    return sorted(tuple(canon(r[i]) for i in idx) for r in rows)


def digest(rows: list[tuple]) -> str:
    return hashlib.sha256(repr(rows).encode()).hexdigest()[:12]


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import duckdb

    import __spark_entry__ as entrymod
    from pii_detector_spark.session import build_session

    spark = build_session(app_name="oracle-check", master="local[8]",
                          shuffle_partitions=16)
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = []
    import time as _time

    t_suite = _time.monotonic()
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = _time.monotonic()
        try:
            sdf = fn(spark, sf_dir)
            srows = sdf.collect()
        except Exception as exc:  # keep going; report at the end
            print(f"  {name:28s} SPARK ERROR {type(exc).__name__}: {str(exc)[:200]}")
            failures.append(name)
            continue
        scols = sorted(sdf.columns)
        sset = canon_rows(sdf.columns, srows)
        if name not in oracles:
            print(f"  {name:28s} rows-only: {len(srows)} rows "
                  f"spark={digest(sset)} [{_time.monotonic() - t0:.2f}s]")
            continue
        ddf = con.sql(oracles[name])
        dcols = sorted(ddf.columns)
        drows = ddf.fetchall()
        ok = True
        if scols != dcols:
            print(f"  {name:28s} COLUMN MISMATCH spark={scols} duck={dcols}")
            ok = False
        if len(srows) != len(drows):
            print(f"  {name:28s} ROWCOUNT spark={len(srows)} duck={len(drows)}")
            ok = False
        if ok:
            dset = canon_rows(ddf.columns, drows)
            if sset != dset:
                ndiff = sum(1 for a, b in zip(sset, dset) if a != b)
                print(f"  {name:28s} VALUE MISMATCH ({ndiff} differing rows)")
                for a, b in list(zip(sset, dset))[:200]:
                    if a != b:
                        print(f"    spark: {a}\n    duck : {b}")
                        break
                ok = False
        if ok:
            print(f"  {name:28s} OK ({len(srows)} rows) "
                  f"spark={digest(sset)} duck={digest(dset)} "
                  f"[{_time.monotonic() - t0:.2f}s]")
        else:
            failures.append(name)

    # entry smoke
    if not only:
        edf = entrymod.entry(spark)
        erows = edf.collect()
        print(f"  {'<entry>':28s} {len(erows)} rows, {len(edf.columns)} cols "
              f"spark={digest(canon_rows(edf.columns, erows))}")

    print(f"  suite wall time: {_time.monotonic() - t_suite:.1f}s")
    spark.stop()
    if failures:
        print("FAILED:", ", ".join(failures))
        return 1
    print("ALL OK")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
