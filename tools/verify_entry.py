"""Local mimic of the driver's correctness gate: run every queries() entry
on Spark and its oracle_sql() on DuckDB at sf0.01, compare row-count,
schema (column names), and an order-insensitive value hash.

Usage: python tools/verify_entry.py [names...]
"""

from __future__ import annotations

import hashlib
import sys
import time
from pathlib import Path

import duckdb

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

SF_DIR = "/root/testdata/sf0.01"
TABLES = ["documents"]


def driver_canon_check(pdf) -> str | None:
    """Reproduce the DRIVER's canonicalization step, which the stringified
    hash below masks: the driver sorts the raw frame with pandas
    sort_values over all columns, and that raises `TypeError: unhashable
    type: 'list'` on any array-typed column, however correct its values.
    Returns an error string if the frame would crash the driver's harness,
    else None."""
    try:
        pdf.sort_values(by=sorted(pdf.columns))
    except Exception as ex:  # noqa: BLE001
        return f"driver-canon crash: {type(ex).__name__}: {ex}"
    return None


def value_hash(pdf) -> str:
    """Order-insensitive: sort columns by name, sort rows, hash repr."""
    pdf = pdf[sorted(pdf.columns)]
    rows = sorted(
        tuple(str(v) for v in row) for row in pdf.itertuples(index=False)
    )
    h = hashlib.md5()
    for r in rows:
        h.update("\x1f".join(r).encode())
        h.update(b"\x1e")
    return h.hexdigest()


def main() -> int:
    import __spark_entry__ as E
    from search_engine_spark.session import get_spark

    spark = get_spark(master="local[8]", shuffle_partitions=8)
    con = duckdb.connect()
    for t in TABLES:
        p = f"{SF_DIR}/{t}.parquet"
        if Path(p).exists():
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")

    qs = E.queries()
    oracles = E.oracle_sql()
    only = set(sys.argv[1:])
    failed = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, SF_DIR).toPandas()
        except Exception as ex:  # noqa: BLE001
            print(f"FAIL  {name}: spark error: {ex}")
            failed.append(name)
            continue
        try:
            odf = con.execute(oracles[name]).df()
        except Exception as ex:  # noqa: BLE001
            print(f"FAIL  {name}: duckdb error: {ex}")
            failed.append(name)
            continue
        problems = []
        for side, frame in (("spark", sdf), ("oracle", odf)):
            err = driver_canon_check(frame)
            if err:
                problems.append(f"{side} {err}")
        if len(sdf) != len(odf):
            problems.append(f"rows {len(sdf)} vs {len(odf)}")
        if sorted(sdf.columns) != sorted(odf.columns):
            problems.append(f"cols {sorted(sdf.columns)} vs {sorted(odf.columns)}")
        if not problems:
            hs, ho = value_hash(sdf), value_hash(odf)
            if hs != ho:
                problems.append("value-hash mismatch")
                merged = sdf[sorted(sdf.columns)].copy()
                o2 = odf[sorted(odf.columns)].copy()
                a = set(map(tuple, merged.astype(str).values.tolist()))
                b = set(map(tuple, o2.astype(str).values.tolist()))
                diff = list(a ^ b)[:4]
                for d in diff:
                    side = "spark" if tuple(d) in a else "duck"
                    print(f"      {side}: {d}")
        if problems:
            print(f"FAIL  {name}: {'; '.join(problems)} [{time.time() - t0:.1f}s]")
            failed.append(name)
        else:
            print(f"ok    {name}: {len(sdf)} rows [{time.time() - t0:.1f}s]")
    spark.stop()
    if failed:
        print("FAILED:", ", ".join(failed))
        return 1
    print("all entries verified")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
