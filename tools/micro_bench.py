"""Reference-derived micro-benchmarks (BASELINE.md): the two timings
zef's own benchmark script measures but never published —
`/root/reference/python/tests/benchmarking/benchmark_filter.py:36-55`:

1. make:  create N (ET.Machine)-[RT.UsedBy]->(AET.String) triples
2. find:  N point lookups `all[ET.Machine] | select_by_field` + 1 miss

Two write modes are timed: `loop` replays the reference shape exactly
(N single-wish transactions — worst case for any batch engine: each
commit is a full micro-batch), and `bulk` is the idiomatic zef_spark
form (ONE transaction carrying all N wishes — what the reference's
own docs push users toward with nested wish lists). The find phase is
identical in both.

Usage: python tools/micro_bench.py [N] [mode]   (default 100 bulk)
Prints one JSON line {"n", "mode", "make_s", "find_s"}.
"""

from __future__ import annotations

import json
import os
import sys
import time

# the checkout this tool sits in
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main():
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 100
    mode = sys.argv[2] if len(sys.argv) > 2 else "bulk"
    from zef_spark import ET, ops as z
    from zef_spark.graph.delta import E, empty_graph, transact
    from zef_spark.session import get_spark

    spark = get_spark("zef_spark_micro_bench")
    spark.sparkContext.setLogLevel("ERROR")
    g = empty_graph(spark)
    items = [str(x) for x in range(n)]

    start = time.time()
    if mode == "bulk":
        g, _ = transact(g, [E(ET.Machine, fields={"UsedBy": x})
                            for x in items])
    else:
        for x in items:
            g, _ = transact(g, [E(ET.Machine, fields={"UsedBy": x})])
    making = time.time()

    # find, reference shape: one Spark query PER lookup. This is the
    # reference's interactive loop replayed verbatim — it measures
    # Spark's fixed per-query latency (~1 s/probe on local[32]), not
    # data volume; it is flat in N up to millions of rows.
    for x in items:
        hit = (g | z.now | z.all[ET.Machine]
               | z.select_by_field["UsedBy", x] | z.to_df)
        assert hit.count() == 1, x
    miss = (g | z.now | z.all[ET.Machine]
            | z.select_by_field["UsedBy", "not in there"] | z.to_df)
    assert miss.count() == 0
    finding = time.time()

    # find, engine-idiomatic shape: ALL probes in one set-oriented
    # join — the way this engine (and any batch engine) answers a
    # probe list; total time is one query regardless of N.
    probes = spark.createDataFrame(
        [(x,) for x in items + ["not in there"]], "v string")
    fields = (g | z.now | z.all[ET.Machine]).field("UsedBy")
    hits = fields.join(probes, fields["UsedBy"] == probes["v"]).count()
    assert hits == n
    batch = time.time()

    print(json.dumps({"n": n, "mode": mode,
                      "make_s": round(making - start, 3),
                      "find_loop_s": round(finding - making, 3),
                      "find_batch_s": round(batch - finding, 3)}))


if __name__ == "__main__":
    main()
