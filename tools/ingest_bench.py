"""Streaming-ingest throughput A/B (BASELINE.md r05): the wish path
(StreamTransactor — every payload row crosses the driver) vs the
distributed mapped path (MappedStreamTransactor — payload rows become
node/edge/attr rows as DataFrame selects, ledger-only driver work).

Usage: python tools/ingest_bench.py [N_ROWS]   (default 50_000)
Prints one JSON line {"n", "wish_s", "mapped_s", "speedup"}.
"""

from __future__ import annotations

import json
import os
import sys
import time

# the checkout this tool sits in
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main():
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 50_000
    from pyspark.sql import functions as F
    from zef_spark import ET, get_spark
    from zef_spark.graph.delta import E, empty_graph
    from zef_spark.streaming.ingest import (BatchEntityMap,
                                            MappedStreamTransactor,
                                            StreamTransactor)
    spark = get_spark("zef_ingest_bench")
    spark.sparkContext.setLogLevel("ERROR")
    batch = spark.range(1, n + 1).select(
        F.col("id").alias("k"),
        (F.col("id") * 1.5).alias("amount")).localCheckpoint()

    def wish_fn(rows):
        return [E(ET.Purchase, f"p{r.k}", fields={"amount": r.amount})
                for r in rows]

    t0 = time.time()
    st = StreamTransactor(empty_graph(spark), wish_fn, "w")
    st.apply_batch(batch, 0)
    n_w = st.graph.now().all(ET.Purchase).df.count()
    wish_s = time.time() - t0

    t0 = time.time()
    m = BatchEntityMap(ET.Purchase, key_col="k", type_code=90,
                       fields={"amount": 700})
    mt = MappedStreamTransactor(empty_graph(spark), m, "m")
    mt.apply_batch(batch, 0)
    n_m = mt.graph.now().all(ET.Purchase).df.count()
    mapped_s = time.time() - t0

    assert n_w == n_m == n, (n_w, n_m, n)
    print(json.dumps({"n": n, "wish_s": round(wish_s, 2),
                      "mapped_s": round(mapped_s, 2),
                      "speedup": round(wish_s / mapped_s, 1)}))


if __name__ == "__main__":
    main()
