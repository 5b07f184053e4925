"""Streaming-ingest throughput A/B (BASELINE.md r05): the wish path
(StreamTransactor — every payload row crosses the driver) vs the
distributed mapped path (MappedStreamTransactor — payload rows become
node/edge/attr rows as DataFrame selects, ledger-only driver work).

Both paths apply the rows as BATCHES micro-batches, then count them
back. Usage: python tools/ingest_bench.py [N_ROWS]   (default 50_000)
Prints one JSON line {"n", "batches", "wish_s", "mapped_s",
"mapped_batch_s", "speedup"}; ``mapped_batch_s`` is the mean seconds of
one mapped ``apply_batch``, without the readback that builds the graph.
"""

from __future__ import annotations

import json
import os
import sys
import time

# the checkout this tool sits in
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

BATCHES = 8


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

    parts = [batch.where(F.col("k") % BATCHES == i)
             for i in range(BATCHES)]

    t0 = time.time()
    st = StreamTransactor(empty_graph(spark), wish_fn, "w")
    for i, part in enumerate(parts):
        st.apply_batch(part, i)
    n_w = st.graph.now().all(ET.Purchase).df.count()
    wish_s = time.time() - t0

    t0 = time.time()
    m = BatchEntityMap(ET.Purchase, key_col="k", type_code=90,
                       fields={"amount": 700})
    mt = MappedStreamTransactor(empty_graph(spark), m, "m")
    tb = time.time()
    for i, part in enumerate(parts):
        mt.apply_batch(part, i)
    batch_s = (time.time() - tb) / BATCHES
    n_m = mt.graph.now().all(ET.Purchase).df.count()
    mapped_s = time.time() - t0

    assert n_w == n_m == n, (n_w, n_m, n)
    print(json.dumps({"n": n, "batches": BATCHES,
                      "wish_s": round(wish_s, 2),
                      "mapped_s": round(mapped_s, 2),
                      "mapped_batch_s": round(batch_s, 3),
                      "speedup": round(wish_s / mapped_s, 1)}))


if __name__ == "__main__":
    main()
