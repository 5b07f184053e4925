"""Write-path scale certification (r09 verdict order #7): every
sf1/sf5 number so far is read-side; this tool measures the WRITE
path at growing volumes and prints one JSON line per section plus a
final summary with per-op scaling exponents.

Sections:
- ingest: mapper.build_graph(sf).materialize(tmp) — the bulk TPC-H
  ingestion (token-partitioned parquet) at sf0.01 / sf0.1 / sf1.
- mapped_commit: GraphStore.commit_mapped of an n-row generated
  batch (the DATA-plane write: distributed mapped parts -> segment
  parquet -> atomic claim) at n = 1e5 / 1e6.
- wish_commit: GraphStore.commit of 100 wishes (the CONTROL plane —
  driver-built by design; latency, not throughput).
- remote_commit: the same mapped commit through RemoteGraphStore
  (HTTP conditional-put head service) — names the transport funnel.

Usage: python tools/write_bench.py [--quick]
α convention matches tools/scale_curve.py: α = log(t2/t1)/log(v2/v1)
between consecutive volumes; ᶠ marks fixed-cost-dominated pairs
(t < 2 s) where α is not meaningful.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import sys
import tempfile
import time

# the checkout this tool sits in
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _host():
    try:
        return round(os.getloadavg()[0], 2)
    except OSError:
        return -1.0


def _alpha(t1, t2, v1, v2):
    if t1 <= 0 or t2 <= 0:
        return None
    a = math.log(t2 / t1) / math.log(v2 / v1)
    mark = "ᶠ" if max(t1, t2) < 2.0 else ""
    return f"{a:.2f}{mark}"


def bench_ingest(spark, sfs):
    from zef_spark.graph.mapper import build_graph
    out = []
    for sf_dir, label, rows in sfs:
        tmp = tempfile.mkdtemp(prefix="zef_wb_ingest_")
        load1 = _host()
        t0 = time.perf_counter()
        g = build_graph(spark, sf_dir)
        g.materialize(tmp)
        dt = time.perf_counter() - t0
        shutil.rmtree(tmp, ignore_errors=True)
        out.append({"sf": label, "rows": rows,
                    "sec": round(dt, 2), "load1": load1})
        print(f"[ingest] {label}: {dt:.2f}s (load1 {load1})",
              file=sys.stderr)
    return out


def _batch(spark, n):
    from pyspark.sql import functions as F
    return spark.range(1, n + 1).select(
        F.col("id").alias("k"),
        (F.col("id") * 1.5).alias("amount")).localCheckpoint()


def bench_mapped_commit(spark, ns):
    from zef_spark import ET
    from zef_spark.graph.delta import E, empty_graph, transact
    from zef_spark.graph.sync import GraphStore
    from zef_spark.streaming.ingest import BatchEntityMap
    out = []
    for n in ns:
        root = tempfile.mkdtemp(prefix="zef_wb_store_")
        g0 = empty_graph(spark)
        g1, _ = transact(g0, [E(ET.Person, "seed",
                                fields={"age": 1})])
        store = GraphStore.init(g1, os.path.join(root, "s"))
        m = BatchEntityMap(ET.Purchase, key_col="k", type_code=90,
                           fields={"amount": 700})
        batch = _batch(spark, n)
        load1 = _host()
        t0 = time.perf_counter()
        g2 = store.commit_mapped(batch, m)
        dt = time.perf_counter() - t0
        cnt = g2.now().all(ET.Purchase).df.count()
        assert cnt == n, (cnt, n)
        shutil.rmtree(root, ignore_errors=True)
        out.append({"n": n, "sec": round(dt, 2),
                    "rows_per_s": int(n / dt), "load1": load1})
        print(f"[mapped_commit] n={n}: {dt:.2f}s "
              f"({int(n / dt)} rows/s, load1 {load1})",
              file=sys.stderr)
    return out


def bench_wish_commit(spark, k=100):
    from zef_spark import ET
    from zef_spark.graph.delta import E, empty_graph, transact
    from zef_spark.graph.sync import GraphStore
    root = tempfile.mkdtemp(prefix="zef_wb_wish_")
    g0 = empty_graph(spark)
    g1, _ = transact(g0, [E(ET.Person, "seed", fields={"age": 1})])
    store = GraphStore.init(g1, os.path.join(root, "s"))
    wishes = [E(ET.Person, f"p{i}", fields={"age": i})
              for i in range(k)]
    load1 = _host()
    t0 = time.perf_counter()
    store.commit(wishes)
    dt = time.perf_counter() - t0
    shutil.rmtree(root, ignore_errors=True)
    print(f"[wish_commit] k={k}: {dt:.2f}s (load1 {load1})",
          file=sys.stderr)
    return {"k": k, "sec": round(dt, 2), "load1": load1}


def bench_remote_commit(spark, ns):
    import threading

    from zef_spark import ET
    from zef_spark.graph.delta import E, empty_graph, transact
    from zef_spark.graph.headsvc import RemoteGraphStore, serve
    from zef_spark.streaming.ingest import BatchEntityMap
    out = []
    for n in ns:
        srv, url, _st = serve()
        threading.Thread(target=srv.serve_forever,
                         daemon=True).start()
        root = tempfile.mkdtemp(prefix="zef_wb_remote_")
        g0 = empty_graph(spark)
        g1, _ = transact(g0, [E(ET.Person, "seed",
                                fields={"age": 1})])
        store = RemoteGraphStore.publish(
            g1, url, os.path.join(root, "cache"))
        m = BatchEntityMap(ET.Purchase, key_col="k", type_code=90,
                           fields={"amount": 700})
        batch = _batch(spark, n)
        load1 = _host()
        t0 = time.perf_counter()
        store.commit_mapped(batch, m)
        dt = time.perf_counter() - t0
        srv.shutdown()
        shutil.rmtree(root, ignore_errors=True)
        out.append({"n": n, "sec": round(dt, 2),
                    "rows_per_s": int(n / dt), "load1": load1})
        print(f"[remote_commit] n={n}: {dt:.2f}s "
              f"({int(n / dt)} rows/s, load1 {load1})",
              file=sys.stderr)
    return out


def main():
    quick = "--quick" in sys.argv
    from zef_spark import get_spark
    spark = get_spark("zef_write_bench")
    spark.sparkContext.setLogLevel("ERROR")

    # row counts: lineitem+orders+customer+... dominate; report the
    # lineitem count as the volume proxy (gen_scale keeps ratios)
    import glob

    def _rows(sf_dir):
        return spark.read.parquet(
            f"{sf_dir}/lineitem.parquet").count()

    sfs = [("/root/testdata/sf0.01", "sf0.01", None),
           ("/root/testdata/sf0.1", "sf0.1", None)]
    if not quick and os.path.isdir("/root/repo/.scale/sf1"):
        sfs.append(("/root/repo/.scale/sf1", "sf1", None))
    sfs = [(d, label, _rows(d)) for d, label, _ in sfs]

    # warm the JVM/session once
    spark.range(10).count()

    ingest = bench_ingest(spark, sfs)
    ns = [100_000, 1_000_000] if not quick else [50_000]
    mapped = bench_mapped_commit(spark, ns)
    wish = bench_wish_commit(spark)
    remote = bench_remote_commit(spark, ns)

    alphas = {}
    for i in range(1, len(ingest)):
        a = _alpha(ingest[i - 1]["sec"], ingest[i]["sec"],
                   ingest[i - 1]["rows"], ingest[i]["rows"])
        alphas[f"ingest_{ingest[i-1]['sf']}->{ingest[i]['sf']}"] = a
    for series, name in ((mapped, "mapped_commit"),
                         (remote, "remote_commit")):
        for i in range(1, len(series)):
            a = _alpha(series[i - 1]["sec"], series[i]["sec"],
                       series[i - 1]["n"], series[i]["n"])
            alphas[f"{name}_{series[i-1]['n']}->{series[i]['n']}"] = a

    print(json.dumps({
        "metric": "write_path_scale",
        "ingest": ingest, "mapped_commit": mapped,
        "wish_commit": wish, "remote_commit": remote,
        "alphas": alphas}))


if __name__ == "__main__":
    main()
