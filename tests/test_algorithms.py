"""PageRank (graph/algorithms.py): ranking correctness on a known
topology and determinism across partitioning."""

import pyspark.sql.functions as F

from zef_spark.graph.algorithms import pagerank


def _star(spark):
    # hub 1 receives from 2..5; 1 links back to 2 only
    edges = [(i, 1) for i in range(2, 6)] + [(1, 2)]
    return spark.createDataFrame(edges, "src long, dst long")


def test_hub_ranks_highest(spark):
    r = {row.id: row.rank
         for row in pagerank(_star(spark), n_iter=5).collect()}
    assert r[1] == max(r.values())
    # 2 gets the hub's full rank; 3..5 get teleport only
    assert r[2] > r[3] == r[4] == r[5]


def test_ranks_partition_invariant(spark):
    e = _star(spark)
    a = sorted(map(tuple, pagerank(e.repartition(1), n_iter=4).collect()))
    b = sorted(map(tuple, pagerank(e.repartition(13), n_iter=4).collect()))
    assert a == b


def test_duplicate_edges_count_once(spark):
    e1 = _star(spark)
    e2 = e1.unionByName(e1)  # duplicated edge list
    a = sorted(map(tuple, pagerank(e1, n_iter=3).collect()))
    b = sorted(map(tuple, pagerank(e2, n_iter=3).collect()))
    assert a == b


def test_connected_components(spark):
    from zef_spark.graph.algorithms import connected_components
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 20)], "src long, dst long")
    got = {r.id: r.component
           for r in connected_components(edges).collect()}
    assert got[1] == got[2] == got[3] == 1
    assert got[10] == got[11] == 10
    assert 20 not in got  # self-loop only: no real edge


def test_degrees(spark):
    from zef_spark.graph.algorithms import degrees
    edges = spark.createDataFrame(
        [(1, 2), (1, 3), (3, 1), (1, 2)], "src long, dst long")
    got = {r.id: (r.out_deg, r.in_deg, r.deg)
           for r in degrees(edges).collect()}
    assert got[1] == (2, 1, 3)   # duplicate edge counts once
    assert got[2] == (0, 1, 1)
    assert got[3] == (1, 1, 2)
