"""Isolated re-timing of w_kruskal_price_priority (r09 verdict
order #8): the committed 1.67 s claim vs the judge's 2.3-2.5 s.

Methodology (printed with the numbers so they are reproducible):
- Fresh Spark session (local[$SPARK_GRAFT_CPUS], 32 shuffle
  partitions), sf dir from $SPARK_GRAFT_SF_DIR (default sf0.1).
- Warmup: one parquet footer read + ONE untimed execution of the
  query (whole-stage codegen compile + AQE plan settle — session
  costs, paid once on a long-lived cluster).
- Timed: N=7 executions to the noop sink, System.gc() between
  (bench.py discipline), load1 recorded AT each execution start.
- Report: cold (the untimed-warmup wall too, for honesty), every
  per-rep time, min / median, and the host-state label.

Usage: python tools/kruskal_isolate.py [reps]
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

# the checkout this tool sits in
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main():
    reps = int(sys.argv[1]) if len(sys.argv) > 1 else 7
    from zef_spark import get_spark
    import __spark_entry__ as entry
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR",
                            "/root/testdata/sf0.1")
    spark = get_spark("zef_kruskal_isolate")
    spark.sparkContext.setLogLevel("ERROR")
    fn = entry.QUERIES["w_kruskal_price_priority"]

    def load1():
        try:
            return round(os.getloadavg()[0], 2)
        except OSError:
            return -1.0

    spark.read.parquet(f"{sf_dir}/region.parquet").count()
    t0 = time.perf_counter()
    fn(spark, sf_dir).write.mode("overwrite").format("noop").save()
    cold = time.perf_counter() - t0

    times, loads = [], []
    for _ in range(reps):
        spark.catalog.clearCache()
        spark._jvm.System.gc()
        loads.append(load1())
        t0 = time.perf_counter()
        fn(spark, sf_dir).write.mode("overwrite").format("noop") \
            .save()
        times.append(round(time.perf_counter() - t0, 3))

    ncpu = os.cpu_count() or 1
    frac = max(loads) / ncpu if loads else -1
    state = ("idle" if frac < 0.25 else
             "loaded" if frac < 0.75 else "saturated")
    print(json.dumps({
        "query": "w_kruskal_price_priority",
        "sf_dir": sf_dir,
        "cold_first_exec_s": round(cold, 3),
        "reps": times,
        "min_s": min(times),
        "median_s": round(statistics.median(times), 3),
        "load1_per_rep": loads,
        "host_state": state,
        "method": "fresh session; 1 untimed warmup exec; "
                  f"{reps} timed noop-sink execs with System.gc() "
                  "between; min = settled engine time, median = "
                  "typical; load1 sampled at each exec start"}))


if __name__ == "__main__":
    main()
