"""Local mirror of the driver's correctness gate.

Runs every __spark_entry__.queries() entry at sf0.01 and, where an
oracle_sql() twin exists, compares against DuckDB: row count, sorted
column names, and order-insensitive values (exact on non-floats,
bit-exact on floats unless --approx). Prints a header line with each C
kernel's path (C, or python and why), then one PASS/FAIL line per
query with the Spark and the DuckDB oracle seconds apart (an oracle can
take minutes where Spark takes a second); exits nonzero on any FAIL.

Usage: python tools/check_entry.py [--sf /root/testdata/sf0.01] [names...]
"""

from __future__ import annotations

import argparse
import math
import sys
import time
import traceback

sys.path.insert(0, ".")

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def norm_cell(v):
    if v is None:
        return None
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return v
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(norm_cell(x) for x in v)
    if isinstance(v, (bytes, bytearray)):
        return bytes(v)
    try:
        import decimal

        if isinstance(v, decimal.Decimal):
            return float(v)
    except Exception:
        pass
    return v


def canon(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(norm_cell(r[i]) for i in order) for r in rows]
    out.sort(key=lambda t: tuple((x is None, str(type(x)), str(x)) for x in t))
    return out, sorted(cols)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument("names", nargs="*")
    args = ap.parse_args()

    import duckdb

    import __spark_entry__ as entrymod
    from hgt2osm2_spark.kernels import cext
    from hgt2osm2_spark.session import get_spark

    # which side of the native-kernel boundary this gate run exercises
    print("c kernels: " + "  ".join(
        f"{name}=C" if why is None else f"{name}=python ({why})"
        for name, why in cext.status().items()
    ))
    spark = get_spark("check-entry")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{args.sf}/{t}.parquet'")

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    names = args.names or list(qs)
    failed = []
    for name in names:
        t0 = time.time()
        try:
            sdf = qs[name](spark, args.sf)
            srows = sdf.collect()
            scols = sdf.columns
        except Exception:
            print(f"FAIL {name}: spark error\n{traceback.format_exc()}")
            failed.append(name)
            continue
        dt = time.time() - t0
        if name not in oracles:
            print(f"ok   {name}: rows-only, {len(srows)} rows (spark {dt:.1f}s)")
            continue
        t0 = time.time()
        try:
            res = con.execute(oracles[name])
            ocols = [d[0] for d in res.description]
            orows = res.fetchall()
        except Exception:
            print(f"FAIL {name}: oracle error (spark {dt:.1f}s, oracle "
                  f"{time.time() - t0:.1f}s)\n{traceback.format_exc()}")
            failed.append(name)
            continue
        secs = f"(spark {dt:.1f}s, oracle {time.time() - t0:.1f}s)"
        sc, scn = canon([tuple(r) for r in srows], scols)
        oc, ocn = canon(orows, ocols)
        if scn != ocn:
            print(f"FAIL {name}: columns spark={scn} oracle={ocn} {secs}")
            failed.append(name)
        elif len(sc) != len(oc):
            print(f"FAIL {name}: rows spark={len(sc)} oracle={len(oc)} {secs}")
            failed.append(name)
        elif sc != oc:
            bad = [(a, b) for a, b in zip(sc, oc) if a != b][:3]
            print(f"FAIL {name}: values differ {secs}; first diffs: {bad}")
            failed.append(name)
        else:
            print(f"PASS {name}: {len(sc)} rows {secs}")

    print(f"\n{len(names) - len(failed)}/{len(names)} ok; failures: {failed}")
    from hgt2osm2_spark.cache import release_all

    release_all()  # drop the final operator-family caches before stop
    spark.stop()
    sys.exit(1 if failed else 0)


if __name__ == "__main__":
    main()
