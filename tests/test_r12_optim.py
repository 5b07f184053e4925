"""r12 optimization-round focused tests: the in-plan prefix engine
(distkit.range_offsets replacing the eager localCheckpoint +
per-range collect), the single-pass bm25, and spread_scan — each
optimization must be value-identical to the straightforward
(single-partition-window / multi-scan) spelling."""

from pyspark.sql import Window, functions as F


def test_range_offsets_matches_keyless_cumsum(spark):
    """global_cumsums (in-plan offsets) == a plain keyless running
    sum, including negative values, ties, and >1 range."""
    from zef_spark.pipeline.distkit import global_cumsum
    rows = [(i, (-1) ** i * (i % 7)) for i in range(500)]
    df = spark.createDataFrame(rows, "k long, v long")
    got = {r["k"]: r["c"]
           for r in global_cumsum(df, ["k"], "v", "c",
                                  n_ranges=8).collect()}
    want = {r["k"]: r["c"] for r in df.withColumn(
        "c", F.sum("v").over(Window.orderBy("k").rowsBetween(
            Window.unboundedPreceding, 0))).collect()}
    assert got == want


def test_range_offsets_single_action_no_collect(spark):
    """The engine must not run driver-synchronized jobs at plan-build
    time: constructing the cumsum plan triggers ZERO jobs (the former
    localCheckpoint+collect shape ran 2-3)."""
    from zef_spark.pipeline.distkit import global_cumsum
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    df = spark.createDataFrame([(i, i) for i in range(100)],
                               "k long, v long")
    before = set(tracker.getJobIdsForGroup(None) or [])
    plan = global_cumsum(df, ["k"], "v", "c", n_ranges=4)
    after = set(tracker.getJobIdsForGroup(None) or [])
    assert before == after, "plan construction ran Spark jobs"
    assert plan.count() == 100  # materializes fine afterwards


def test_cum_desc_totals_columns(spark):
    """_cum_desc's in-plan grand totals equal the driver-collected
    totals of the old engine (sum of each column)."""
    from zef_spark.pipeline.evaluation import _cum_desc
    df = spark.createDataFrame(
        [(float(i % 13), i % 3, 1) for i in range(200)],
        "s double, p long, t long")
    cum, tot = _cum_desc(df, "s", ["p", "t"], n_ranges=4)
    row = cum.select(tot["p"].alias("tp"),
                     tot["t"].alias("tt")).first()
    assert row["tp"] == sum(i % 3 for i in range(200))
    assert row["tt"] == 200


def test_bm25_single_pass_values(spark):
    """Single-pass bm25 == hand-computed Okapi scores (tf, df, dl,
    avgdl over ALL docs including non-matching ones)."""
    import math
    from zef_spark.pipeline.corpus import bm25
    docs = [(0, "spark window merge spark"),
            (1, "merge conflict resolution notes"),
            (2, "nothing relevant here at all"),
            (3, "window window spark")]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = {r["doc_id"]: (r["n_matched"], r["score"])
           for r in bm25(df, "doc_id", "text",
                         ["spark", "merge", "window"]).collect()}
    # manual: N=4, avgdl=(4+4+5+3)/4
    n, avgdl = 4.0, 4.0
    dfreq = {"spark": 2, "merge": 2, "window": 2}
    tfs = {0: {"spark": 2, "window": 1, "merge": 1},
           1: {"merge": 1}, 3: {"window": 2, "spark": 1}}
    dls = {0: 4, 1: 4, 3: 3}
    k1, b = 1.2, 0.75
    for d, tf in tfs.items():
        score = 0.0
        for t, f_ in tf.items():
            idf = math.log(1 + (n - dfreq[t] + 0.5) / (dfreq[t] + 0.5))
            score += idf * f_ * (k1 + 1) / (
                f_ + k1 * (1 - b + b * dls[d] / avgdl))
        assert out[d][0] == len(tf)
        assert abs(out[d][1] - round(score, 6)) < 1e-9, (d, out[d])
    assert 2 not in out  # non-matching doc absent


def test_field_join_skip_matches_joined_path(spark):
    """field() on an UNFILTERED all[ET.X] (r12: owner-restriction
    join skipped) must return exactly the rows of the joined path —
    here forced by filtering with an always-true predicate, which
    clears the _all_et marker."""
    from zef_spark import ET, ops as z
    from zef_spark.graph.mapper import graph_for
    gs = graph_for(spark, "/root/testdata/sf0.001") | z.now
    ns = gs | z.all[ET.Order]
    assert getattr(ns, "_all_et", None) == "Order"
    fast = {(r["id"], r["o_totalprice"])
            for r in ns.field("o_totalprice").collect()}
    # joined path: same frame, marker cleared via NodeSet re-wrap
    from zef_spark.graph.graph import NodeSet
    ns2 = NodeSet(ns.frame, ns.df)
    assert getattr(ns2, "_all_et", None) is None
    slow = {(r["id"], r["o_totalprice"])
            for r in ns2.field("o_totalprice").collect()}
    assert fast == slow and len(fast) > 0


def test_spread_scan_parallelizes_and_preserves_rows(spark):
    from zef_spark.pipeline.distkit import spread_scan
    df = spark.createDataFrame([(i,) for i in range(100)],
                               "x long").coalesce(1)
    out = spread_scan(df, min_parts=8)
    assert out.rdd.getNumPartitions() >= 8
    assert sorted(r["x"] for r in out.collect()) == list(range(100))
    # no-op when already parallel enough
    df8 = spark.createDataFrame([(i,) for i in range(100)],
                                "x long").repartition(16)
    assert spread_scan(df8, min_parts=8) is df8
