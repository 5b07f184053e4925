"""Exact-value differ: run a __spark_entry__ query and its oracle,
compare with FULL float repr (no 9-sig-fig rounding) to reproduce the
driver's stricter value-hash. Usage:
  python tools/diff_exact.py <query> [sf_dir]
"""

from __future__ import annotations

import os
import sys

# the checkout this tool sits in
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools.check_oracle import TABLES, duck_run  # noqa: E402


def canon(v):
    import math
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return "∅"
    if isinstance(v, float):
        return repr(v)
    if isinstance(v, bool):
        return str(bool(v)).lower()
    return str(v)


def diff_one(entry, spark, name, sf_dir, verbose=True):
    fn = entry.queries()[name]
    sql = entry.oracle_sql()[name]
    sdf = fn(spark, sf_dir)
    scols = sdf.columns
    srows = [tuple(r) for r in sdf.collect()]
    ddf = duck_run(sf_dir, sql)
    dcols = list(ddf.columns)
    drows = [tuple(r) for r in ddf.itertuples(index=False)]
    if sorted(scols) != sorted(dcols):
        print(f"{name}: SCHEMA spark={sorted(scols)} duck={sorted(dcols)}")
        return False
    order_s = sorted(range(len(scols)), key=lambda i: scols[i])
    order_d = sorted(range(len(dcols)), key=lambda i: dcols[i])
    a = sorted(tuple(canon(r[i]) for i in order_s) for r in srows)
    b = sorted(tuple(canon(r[i]) for i in order_d) for r in drows)
    if len(a) != len(b):
        print(f"{name}: ROWS spark={len(a)} duck={len(b)}")
        return False
    ndiff = 0
    for x, y in zip(a, b):
        if x != y:
            ndiff += 1
            if verbose and ndiff <= 10:
                for i, (xa, ya) in enumerate(zip(x, y)):
                    if xa != ya:
                        col = sorted(scols)[i]
                        print(f"  col={col}: spark={xa!r} duck={ya!r}")
                print(f"  spark row: {x}")
                print(f"  duck  row: {y}")
                print("  ---")
    status = "OK" if ndiff == 0 else f"DIFF {ndiff} rows"
    print(f"{name}: {status} ({len(a)} rows)")
    return ndiff == 0


def main():
    import __spark_entry__ as entry
    from zef_spark import get_spark
    args = [a for a in sys.argv[1:]]
    sf_dir = "/root/testdata/sf0.01"
    names = []
    for a in args:
        if a.startswith("/"):
            sf_dir = a
        else:
            names.append(a)
    spark = get_spark()
    spark.sparkContext.setLogLevel("ERROR")
    oracles = entry.oracle_sql()
    if not names or names == ["all"]:
        names = [n for n in entry.queries() if n in oracles]
    fails = [n for n in names if not diff_one(entry, spark, n, sf_dir)]
    print(f"\n{len(names) - len(fails)}/{len(names)} exact-match"
          + (f"; FAILING: {fails}" if fails else ""))


if __name__ == "__main__":
    main()
