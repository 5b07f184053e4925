"""Benchmark harness: runs headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints
ONE JSON line {"metric", "value", "unit", "queries", "sf"}.

Methodology (stated so numbers are comparable across rounds):
- Each query is materialized with the noop sink (full execution, no
  driver transfer) — timings measure the engine, not collect().
- Per-query time is the MIN of 2 consecutive executions (steady
  state). Identical plans on identical data in one JVM still swing
  2x run-to-run on this shared host (GC + host contention); min-of-2
  reports the engine's achievable time, not the host's mood.
- One-time session costs (python worker fork, whole-stage codegen
  compile, graph ingestion) are excluded via explicit warmup — on a
  long-lived cluster they are paid once, not per query.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

HEADLINE = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_region_revenue",
    "q9_product_profit",
    "q18_large_orders",
    "gql_nested_filter_order",
    "scan_cumulative_revenue",
    "e_sessionize_30min",
    "g_hop_customer_nation",
    "g_hop2_revenue_by_customer",
    "p_minhash_lsh_pairs",
    "p_ann_cosine_topk",
    "p_text_quality",
    # r05 additions: search scoring + sliding-window rate limiting
    "p_bm25_search",
    "e_rate_limit_events",
    # r06 addition: sessionized journey paths (window + row-local
    # assemble + bounded agg — the event-analytics family)
    "e_session_paths",
    # r07 additions: the feature-engineering family (signed hashing
    # trick, Arrow kernel + explode agg) and the time-series scorecard
    # (lag window + conditional agg)
    "p_feature_hash_profile",
    "e_forecast_naive7",
    # r08 addition: the k-group rank-statistics family (distinct-value
    # collapse + range-partitioned two-phase prefix rank — the
    # mann-whitney/kruskal/auc machinery under one timed face)
    "w_kruskal_price_priority",
    # r09 addition: the quantized-vector-search family (1-bit sign
    # packing, XOR+popcount candidate ranking, exact-integer
    # deterministic — the bit-vector prefilter of production ANN)
    "p_hamming_topk",
]


def main():
    import __spark_entry__ as entry
    from zef_spark import get_spark

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("zef_spark_bench")
    spark.sparkContext.setLogLevel("ERROR")

    # warm the JVM + parquet footers so per-query timings are engine time
    spark.read.parquet(f"{sf_dir}/region.parquet").count()
    # graph ingestion (materialize-once, token-partitioned parquet) is
    # load time, not query time — warm it before the timed loop
    from zef_spark.graph.mapper import graph_for
    graph_for(spark, sf_dir)
    # spin up the Arrow python workers and compile the LSH plan's
    # codegen units (one-time session costs — python worker fork +
    # whole-stage codegen compile, which otherwise serializes 32 task
    # threads behind the compile lock — not per-query costs on a
    # long-lived cluster). A 200-doc slice of the real table produces
    # the same AQE plan shapes as the timed run; a toy 2-row frame
    # does not (different final plans → different generated classes).
    from zef_spark.pipeline.dedup import minhash_lsh_pairs
    warm = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(200)
    (minhash_lsh_pairs(warm, "text", "doc_id", num_perm=64, bands=16,
                       jaccard_threshold=0.4)
     .write.mode("overwrite").format("noop").save())
    spark.catalog.clearCache()

    qs = entry.queries()

    # r07 verdict order #7: the warm-vs-idle host spread (17.3 vs
    # 15.1 s in r07) dwarfs real plan movement, so every timed pass
    # records the host state it ran under — loadavg is the honest,
    # measurable proxy for "was something else running" — and the
    # bench runs >=2 full passes so a reader can see the spread
    # instead of mistaking host noise for a regression.
    def host_state() -> tuple[str, float]:
        ncpu = os.cpu_count() or 1
        try:
            load1 = os.getloadavg()[0]
        except OSError:
            return "unknown", -1.0
        frac = load1 / ncpu
        label = ("idle" if frac < 0.25
                 else "loaded" if frac < 0.75 else "saturated")
        return label, round(load1, 2)

    # r10 verdict order #8: pin an idle-host protocol so cross-round
    # totals stop needing host-mood footnotes. Before the timed
    # passes, WAIT (up to SPARK_GRAFT_BENCH_IDLE_WAIT s, default 120)
    # for load1/ncpu < 0.25; if the host never goes idle, either
    # refuse (SPARK_GRAFT_BENCH_REQUIRE_IDLE=1 → exit 3, no record
    # written) or proceed with "host_contended": true stamped into
    # BOTH the compact record and the detail file, so a reader can
    # discard the total without forensic load1 archaeology.
    idle_wait = float(os.environ.get("SPARK_GRAFT_BENCH_IDLE_WAIT",
                                     "120"))
    require_idle = os.environ.get(
        "SPARK_GRAFT_BENCH_REQUIRE_IDLE", "") == "1"
    deadline = time.time() + idle_wait
    host_contended = True
    while time.time() < deadline:
        state, load1 = host_state()
        if state in ("idle", "unknown"):
            host_contended = False
            break
        print(f"[bench] waiting for idle host (load1={load1})",
              file=sys.stderr)
        time.sleep(10)
    else:
        state, load1 = host_state()
        host_contended = state not in ("idle", "unknown")
    if host_contended and require_idle:
        print(f"[bench] REFUSING: host not idle (load1={load1}) and "
              "SPARK_GRAFT_BENCH_REQUIRE_IDLE=1", file=sys.stderr)
        sys.exit(3)

    def time_queries(names, data_dir) -> tuple[dict, dict]:
        """Min-of-2 noop-sink time of each query on ``data_dir``, and
        load1 at each query's start."""
        timings: dict[str, float] = {}
        # r08 verdict order #7: record load1 at QUERY start, not pass
        # start — a pass takes minutes, and "what was the host doing
        # when THIS query ran" is the number that explains a same-day
        # 13% spread on an identical plan.
        loads: dict[str, float] = {}
        for name in names:
            best = None
            loads[name] = host_state()[1]
            for _rep in range(2):
                # collect garbage from the PREVIOUS execution outside
                # the timing: broadcast/cache debris otherwise
                # triggers GC pauses inside later queries (measured:
                # the LSH query swings 5-12s in-bench vs a stable
                # ~4s in isolation)
                spark.catalog.clearCache()
                spark._jvm.System.gc()
                t0 = time.perf_counter()
                df = qs[name](spark, data_dir)
                df.write.mode("overwrite").format("noop").save()
                dt = time.perf_counter() - t0
                best = dt if best is None else min(best, dt)
            timings[name] = round(best, 3)
        return timings, loads

    # 3 full passes by default (r08 verdict order #7): per-query MIN
    # across 3×2 executions tightens the host-noise band the per-run
    # telemetry made legible in r08.
    n_passes = int(os.environ.get("SPARK_GRAFT_BENCH_PASSES", "3"))
    runs = []
    for p in range(max(1, n_passes)):
        state, load1 = host_state()
        t_pass, q_loads = time_queries(HEADLINE, sf_dir)
        runs.append({"pass": p + 1, "host_state": state,
                     "load1_start": load1,
                     "query_load1": q_loads,
                     "total": round(sum(t_pass.values()), 3),
                     "queries": t_pass})
    # headline timings: per-query MIN across passes (the engine's
    # achievable time; the per-run table preserves the spread)
    timings = {name: min(r["queries"][name] for r in runs)
               for name in HEADLINE}

    # r06 verdict order #3: put a tracked number on the bucketed /
    # dual-projection graph layout (the cluster posture — hybrid
    # token-partition + bucketBy, 3 fewer exchanges on the 2-hop
    # plan). Re-run the graph headline queries with
    # ZEF_SPARK_GRAPH_LAYOUT=bucketed; the one-time bucketed-table
    # build is ingest time and runs before the timed loop. Opt out
    # with SPARK_GRAFT_LAYOUT=plain.
    bucketed: dict[str, float] = {}
    if os.environ.get("SPARK_GRAFT_LAYOUT", "both") != "plain":
        g_queries = [n for n in HEADLINE if n.startswith("g_")]
        os.environ["ZEF_SPARK_GRAPH_LAYOUT"] = "bucketed"
        try:
            graph_for(spark, sf_dir)          # build/serve, untimed
            bucketed, _ = time_queries(g_queries, sf_dir)
        finally:
            os.environ.pop("ZEF_SPARK_GRAPH_LAYOUT", None)

    # r13 (verdict item 8): OPTIONAL sf1 tier. At sf0.1 every headline
    # query is fixed-overhead-bound (the r12 scaling block: 8 cores
    # beat 32 on 17/20), so the headline bench cannot see data-path
    # regressions. When SPARK_GRAFT_BENCH_SF1_DIR points at generated
    # 10x fixtures (tools/gen_scale.py 10 .scale/sf1), run ONE extra
    # min-of-2 pass there and record it to the DETAIL file only — the
    # printed JSON line, the timed query set, and the main-scale
    # methodology are unchanged (the driver does not set the env var,
    # so its runs are byte-for-byte the same measurement as r12).
    sf1_tier: dict = {}
    sf1_dir = os.environ.get("SPARK_GRAFT_BENCH_SF1_DIR", "")
    if sf1_dir and os.path.isdir(sf1_dir):
        graph_for(spark, sf1_dir)             # ingest = load, untimed
        t_sf1, l_sf1 = time_queries(HEADLINE, sf1_dir)
        sf1_tier = {"dir": sf1_dir,
                    "cpus": os.environ.get("SPARK_GRAFT_CPUS", ""),
                    "total": round(sum(t_sf1.values()), 3),
                    "queries": t_sf1, "query_load1": l_sf1}

    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    # r09 verdict order #1: the driver captures only a bounded tail of
    # stdout, so the official record was an unparseable fragment for
    # two rounds once `runs`/`scale` grew past the capture. The final
    # printed line is now the COMPACT r04-era shape (metric/value/
    # unit/queries/sf only, ~1 KB); everything else — per-pass
    # telemetry, bucketed-layout timings, the scaling-curve artifact —
    # goes to a committed side file BENCH_DETAIL_r{N}.json.
    out = {
        "metric": "headline_queries_total_runtime",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "sf": float(sf),
        "host_contended": host_contended,
    }
    detail = {
        "runs": runs,
        "host_state": runs[-1]["host_state"],
    }
    if bucketed:
        detail["layout_bucketed"] = bucketed
    if sf1_tier:
        detail["sf1_tier"] = sf1_tier
    # the committed sf1/sf5 scaling-curve artifact (tools/gen_scale.py
    # fixtures + tools/scale_curve.py exponents) — measured data from
    # this host, not recomputed per bench invocation.
    repo = os.path.dirname(os.path.abspath(__file__))
    curves = os.path.join(repo, "SCALE_CURVES.json")
    if os.path.exists(curves):
        with open(curves) as f:
            detail["scale"] = json.load(f)
    # side-file name: one past the newest committed BENCH_r{N} record
    # (the driver writes BENCH_r{N}.json AFTER this run completes).
    import re
    rounds = [int(m.group(1)) for f in os.listdir(repo)
              if (m := re.match(r"BENCH_r(\d+)\.json$", f))]
    n = (max(rounds) + 1) if rounds else 0
    detail_path = os.path.join(repo, f"BENCH_DETAIL_r{n:02d}.json")
    try:
        with open(detail_path, "w") as f:
            json.dump({**out, **detail}, f, indent=1)
        print(f"[bench] detail -> {detail_path}", file=sys.stderr)
    except OSError as e:
        print(f"[bench] detail write failed: {e}", file=sys.stderr)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
