"""Local stand-in for the driver's correctness gate: run every
queries() entry on Spark and its oracle_sql() on DuckDB at sf0.01,
compare row count, column names, and order-insensitive values. An
oracle_sql() key with no queries() entry is dead oracle SQL and also
FAILs. Spark runs at local[<CPUs this process may use>].

Usage: python tools/check_oracle.py [--dump PATH] [query ...]

--dump PATH also writes every entry's raw Spark rows to PATH, one JSON
line per entry, with floats as float.hex() and rows sorted, so exact
score identity between two commits is a file diff. The oracle
comparison itself still rounds floats to 6 digits.
"""

from __future__ import annotations

import json
import math
import os
import sys

sys.path.insert(0, ".")

TABLES = ("region nation customer supplier part orders lineitem events"
          " documents embeddings").split()
SF_DIR = "/root/testdata/sf0.01"


def canon(rows, cols):
    out = []
    for row in rows:
        vals = []
        for c in sorted(cols):
            v = row[c]
            if isinstance(v, float):
                if math.isnan(v):
                    v = "nan"
                else:
                    v = round(v, 6)
            vals.append((c, v))
        out.append(tuple(vals))
    out.sort(key=repr)
    return out


def exact(v):
    """A value with every float as float.hex(), JSON-ready."""
    if isinstance(v, float):
        return v.hex()
    if hasattr(v, "asDict"):
        return exact(v.asDict(recursive=True))
    if isinstance(v, dict):
        return {str(k): exact(x) for k, x in sorted(v.items(), key=repr)}
    if isinstance(v, (list, tuple)):
        return [exact(x) for x in v]
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    if v is None or isinstance(v, (bool, int, str)):
        return v
    return str(v)


def dump_line(name, cols, rows) -> str:
    body = sorted(json.dumps([exact(r[c]) for c in cols]) for r in rows)
    return json.dumps({"name": name, "columns": cols,
                       "rows": [json.loads(b) for b in body]})


def main():
    import duckdb
    from pyspark.sql import SparkSession

    import __spark_entry__ as e

    args = sys.argv[1:]
    dump = None
    if "--dump" in args:
        i = args.index("--dump")
        dump = open(args[i + 1], "w")
        del args[i:i + 2]
    only = set(args)
    spark = (
        SparkSession.builder
        .master(f"local[{len(os.sched_getaffinity(0))}]")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.driver.memory", "6g")
        .config("spark.ui.enabled", "false")
        .appName("check_oracle").getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM"
                f" '{SF_DIR}/{t}.parquet'")

    qs = e.queries()
    oracles = e.oracle_sql()
    n_pass = n_fail = n_weak = 0
    for name in sorted(set(oracles) - set(qs)):
        if only and name not in only:
            continue
        print(f"FAIL {name}: oracle_sql() entry with no queries() entry")
        n_fail += 1
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, SF_DIR)
            srows = sdf.collect()
            scols = sdf.columns
        except Exception as ex:
            print(f"FAIL {name}: spark error: {ex}")
            n_fail += 1
            continue
        if dump:
            print(dump_line(name, scols, srows), file=dump, flush=True)
        if name not in oracles:
            print(f"WEAK {name}: rows-only ({len(srows)} rows)")
            n_weak += 1
            continue
        try:
            ddf = con.sql(oracles[name]).df()
        except Exception as ex:
            print(f"FAIL {name}: duckdb error: {str(ex)[:200]}")
            n_fail += 1
            continue
        dcols = list(ddf.columns)
        if sorted(scols) != sorted(dcols):
            print(f"FAIL {name}: columns {sorted(scols)} vs {sorted(dcols)}")
            n_fail += 1
            continue
        drows = ddf.to_dict("records")
        if len(srows) != len(drows):
            print(f"FAIL {name}: rowcount {len(srows)} vs {len(drows)}")
            n_fail += 1
            continue
        a = canon([r.asDict() for r in srows], scols)
        b = canon(drows, dcols)
        if a != b:
            diff = [i for i, (x, y) in enumerate(zip(a, b)) if x != y]
            print(f"FAIL {name}: {len(diff)} value mismatches; first:")
            for i in diff[:3]:
                print("   spark:", a[i])
                print("   duck :", b[i])
            n_fail += 1
            continue
        print(f"PASS {name} ({len(srows)} rows)")
        n_pass += 1
    print(f"\n{n_pass} pass, {n_fail} fail, {n_weak} rows-only")
    if dump:
        dump.close()
    spark.stop()
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
