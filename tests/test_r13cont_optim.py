"""Focused tests for the r13 continuation optimizations: write-time
VRT registry, 1-partition driver-graph frames, one-job-per-round
dup_clusters/gather convergence, HOF expression materialization."""

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def spark():
    from zef_spark.session import get_spark
    s = get_spark("test_r13cont_optim")
    s.sparkContext.setLogLevel("ERROR")
    return s


def test_empty_graph_frames_are_single_partition(spark):
    from zef_spark.graph.delta import empty_graph
    g = empty_graph(spark)
    for df in (g.nodes, g.edges, g.attr_values, g.txs):
        assert df.rdd.getNumPartitions() == 1
    # high-water marks seeded: no scan jobs on first use
    assert g._max_tx == 0 and g._max_rae_id == 0 and g.catalog.rt_vrt == {}


def test_transact_records_write_time_vrts(spark):
    from zef_spark import ET, ops as z
    from zef_spark.graph.delta import E, Assign, empty_graph, transact
    g, r = transact(empty_graph(spark), [
        E(ET.Person, name="a", fields={"Age": 30, "Name": "Ann"})])
    assert g.catalog.rt_vrt == {"Age": "Int", "Name": "String"}
    # mixed vrts for one name -> None (field() falls back to the probe)
    g2, _ = transact(g, [Assign(r["a"], "Age", 1.5)])
    assert g2.catalog.rt_vrt["Age"] is None
    assert g2.catalog.rt_vrt["Name"] == "String"
    # both read paths return the same values
    ns = g2.now() | z.all[ET.Person]
    assert ns.field("Name").collect()[0]["Name"] == "Ann"


def test_dup_clusters_multi_round_chain(spark):
    """A 6-node path graph forces several propagation rounds; labels
    must still converge to the component minimum under the lazy
    one-job-per-round loop."""
    from zef_spark.pipeline.corpus import dup_clusters
    edges = [(i, i + 1) for i in range(1, 6)] + [(10, 11)]
    pairs = spark.createDataFrame(edges, "id_a long, id_b long")
    got = {r["id"]: r["cluster"]
           for r in dup_clusters(pairs, "id_a", "id_b").collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1, 6: 1, 10: 10, 11: 10}


def test_gather_closure_chain(spark):
    from zef_spark import ET, RT, ops as z
    from zef_spark.graph.delta import E, R, empty_graph, transact
    wishes = [E(ET.Node, name=f"n{i}") for i in range(5)]
    wishes += [R(f"n{i}", RT.Next, f"n{i+1}") for i in range(4)]
    g, r = transact(empty_graph(spark), wishes)
    start = (g.now() | z.all[ET.Node]).df.where(
        F.col("uid") == "n0").select("id")
    from zef_spark.graph.graph import NodeSet
    ns = NodeSet(g.now(), start)
    closed = ns.gather(RT.Next)
    uids = sorted(row["uid"] for row in closed.df.select("uid").collect())
    assert uids == ["n0", "n1", "n2", "n3", "n4"]
    # bounded variant stops early
    two = ns.gather(RT.Next, max_steps=2)
    assert sorted(r2["uid"] for r2 in two.df.select("uid").collect()) \
        == ["n0", "n1", "n2"]


def test_fingerprint_matches_naive(spark):
    """The materialized-norm fingerprint equals the per-row Python
    reference (min 8-char shingle of the normalized text, md5)."""
    import hashlib
    import re
    from zef_spark.pipeline.text import fingerprint
    texts = ["Hello  World example", "aaa", "", "x y  z " * 10,
             "The quick brown fox jumps over the lazy dog"]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string")
    got = {r["doc_id"]: r["fingerprint"]
           for r in fingerprint(df, "text", hash_fn="md5").collect()}
    for i, t in enumerate(texts):
        norm = re.sub(r"\s+", " ", t.lower())
        n = max(len(norm) - 7, 1)
        ref = hashlib.md5(
            min(norm[j:j + 8] for j in range(n)).encode()).hexdigest()
        assert got[i] == ref, (i, t)


def test_fingerprint_keeps_input_columns(spark):
    """Every input column comes out unchanged, even one named like a
    temp column, and the normalized text is its own projection: the
    regexp runs once per row, not inside the per-shingle lambda."""
    from zef_spark.pipeline.text import fingerprint
    df = spark.createDataFrame([(1, "Hello  World example", "keep")],
                               "doc_id long, text string, __fp_norm string")
    out = fingerprint(df, "text")
    assert out.columns == ["doc_id", "text", "__fp_norm", "fingerprint"]
    row = out.collect()[0]
    assert (row["doc_id"], row["text"], row["__fp_norm"]) == \
        (1, "Hello  World example", "keep")
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("regexp_replace") == 1
    assert not [ln for ln in plan.splitlines()
                if "lambdafunction" in ln and "regexp_replace" in ln]


def test_ngram_pairs_identical_plan_values(spark):
    from zef_spark.pipeline.dedup import ngram_jaccard_pairs
    df = spark.createDataFrame(
        [(1, "the quick brown fox jumps"),
         (2, "the quick brown fox leaps"),
         (3, "entirely different words here now")],
        "doc_id long, text string")
    rows = (ngram_jaccard_pairs(df, "text", "doc_id", n=3, threshold=0.2)
            .collect())
    assert len(rows) == 1
    r = rows[0]
    # grams: 3 each, 2 shared -> jaccard 2/4
    assert (r["id_a"], r["id_b"]) == (1, 2) and abs(r["jaccard"] - 0.5) < 1e-12
