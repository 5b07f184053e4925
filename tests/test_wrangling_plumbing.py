"""§2.P wrangling, §2.M func/plumbing, §2.K preceding_events tests."""

from pyspark.sql import functions as F

from zef_spark import ops as z
from zef_spark.ops import absorbed, func, peel, to_pipeline, \
    without_absorbed


def test_infer_types(spark):
    from zef_spark.pipeline.wrangling import infer_types
    df = spark.createDataFrame(
        [("1", "1.5", "true", "x"), ("2", "2.5", "false", "y"),
         ("3", None, "true", "3")],
        "a string, b string, c string, d string")
    out = infer_types(df)
    types = dict(out.dtypes)
    assert types["a"] == "bigint" and types["b"] == "double"
    assert types["c"] == "boolean" and types["d"] == "string"
    assert out.agg(F.sum("a")).collect()[0][0] == 6


def test_identify_entities_transitive(spark):
    from zef_spark.pipeline.wrangling import identify_entities
    # r1~r2 share email; r2~r3 share phone → one entity {1,2,3}; r4
    # holds each of its keys alone; r5 has only null keys; r6 reaches
    # r1 through its non-null phone; 20~12 (email) ~15 (phone) ~11
    # (email) is a chain across both keys whose minimum is at one end
    df = spark.createDataFrame(
        [(1, "a@x.com", "111"), (2, "a@x.com", "222"),
         (3, "b@y.com", "222"), (4, "c@z.com", "333"),
         (5, None, None), (6, None, "111"),
         (20, "d@w.com", "444"), (12, "D@w.com ", "555"),
         (15, "e@v.com", "555"), (11, "e@v.com", "666")],
        "rid int, email string, phone string")
    out = identify_entities(df, "rid", ["email", "phone"])
    comp = {r.rid: r.entity_id for r in out.collect()}
    assert comp[1] == comp[2] == comp[3] == comp[6] == 1
    assert comp[4] == 4
    assert comp[5] == 5
    assert comp[20] == comp[12] == comp[15] == comp[11] == 11
    assert len(comp) == 10


def test_merge_duplicates(spark):
    from zef_spark.pipeline.wrangling import merge_duplicates
    df = spark.createDataFrame(
        [(1, "a@x.com", None), (2, "a@x.com", "Ada"), (3, "b@y.com", "Bob")],
        "rid int, email string, name string")
    out = merge_duplicates(df, "rid", ["email"]).orderBy("rid").collect()
    assert len(out) == 2
    assert out[0].rid == 1 and out[0].name == "Ada"  # first ignorenulls


def test_func_decorator_and_currying():
    @func
    def double_plus(x, extra=0):
        return 2 * x + extra

    assert (21 | double_plus) == 42
    assert (20 | double_plus[2]) == 42
    # composes into chains with built-in ops
    assert ([1, 2, 3] | z.map[lambda x: x + 1] | z.sum | double_plus) == 18


def test_plumbing_ops():
    assert (5 | z.inject[lambda a, b: a - b][3]) == 2
    assert ([2, 3] | z.inject_list[pow]) == 8
    assert (2 | z.reverse_args[pow][10]) == 100
    assert ("oops" | z.bypass[lambda v: int(v)]) == "oops"
    assert ("7" | z.bypass[lambda v: int(v)]) == 7

    pipe = to_pipeline([z.map[lambda x: x * 2], z.sum])
    assert ([1, 2] | pipe) == 6
    assert peel(z.take[3] | z.sum) == [("take", [3]), ("sum", [])]
    assert absorbed(z.take[3]) == [3]
    assert without_absorbed(z.take[3]).ops == (("take", ()),)


def test_preceding_events(spark):
    from zef_spark.graph.delta import (Assign, E, Terminate, empty_graph,
                                       transact)
    from zef_spark.streaming.events import preceding_events
    from zef_spark import ET
    g, rc = transact(empty_graph(spark), [E(ET.Doc, name="d",
                                            fields={"v": 1})])
    g, _ = transact(g, [Assign(rc["d"], "v", 2)])
    g, _ = transact(g, [Terminate(rc["d"])])
    evs = [(r.event, r.kind) for r in
           preceding_events(g, rc["d"]).collect()]
    assert evs[0] == ("instantiated", "node")
    assert ("terminated", "node") in evs
    # bounded frame: before the terminate tx
    evs2 = [(r.event, r.kind) for r in
            preceding_events(g, rc["d"], up_to_tx=g.max_tx() - 1)
            .collect()]
    assert ("terminated", "node") not in evs2
