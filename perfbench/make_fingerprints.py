"""Regenerate perfbench/fingerprints.json: the result fingerprint of
every read query at each fixture scale, computed on the current tree,
and cross-checked once against the query's DuckDB oracle SQL where it
has one (tools/check_oracle.py does the comparison).

    python3 perfbench/make_fingerprints.py
"""

import json
import os
import shutil
import sys
import tempfile

import run as bench_run
from check import fingerprint


def main() -> int:
    os.makedirs(bench_run.WORK, exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix="fingerprints-", dir=bench_run.WORK)
    conf = bench_run._prepare(run_dir)
    os.environ["CHECK_DUCK_TMP"] = os.path.join(run_dir, "duck")
    sys.path.insert(0, os.path.join(bench_run.ROOT, "tools"))
    import __spark_entry__ as entry
    import check_oracle
    from workloads import read_queries
    from zef_spark import get_spark
    spark = get_spark("perfbench-fingerprints", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    qs, oracle = entry.queries(), entry.oracle_sql()
    out = {}
    try:
        for scale in (bench_run.SCALE, bench_run.SMOKE_SCALE):
            sf_dir = os.path.join(bench_run.BENCH, "data", scale)
            out[scale] = {}
            for _, name in read_queries():
                df = qs[name](spark, sf_dir)
                fp = fingerprint(df.columns, df.collect())
                if name in oracle:
                    ok, msg = check_oracle.check(name, qs[name],
                                                 oracle[name], spark, sf_dir)
                    fp["oracle"] = "match" if ok else f"MISMATCH: {msg}"
                else:
                    fp["oracle"] = "none"
                out[scale][name] = fp
                print(scale, name, fp, flush=True)
    finally:
        bench_run._stop_spark(spark)
        os.chdir(bench_run.BENCH)
        shutil.rmtree(run_dir, ignore_errors=True)
    with open(os.path.join(bench_run.BENCH, "fingerprints.json"), "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
        f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
