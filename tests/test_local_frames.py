"""Driver-built graph rows (``graph.delta._local_df``) plan as JVM local
relations, keep ``createDataFrame``'s schema and values, and check their
cells when they are built."""

import datetime

import pytest
from pyspark.sql import functions as F

from zef_spark import ET, RT
from zef_spark.graph.delta import (Assign, E, R, _local_df, empty_graph,
                                   transact)
from zef_spark.graph.schema import (ATTR_VALUES_SCHEMA, EDGES_SCHEMA,
                                    NODES_SCHEMA, TAGS_SCHEMA, TXS_SCHEMA)
from zef_spark.streaming.ingest import BatchEntityMap, MappedStreamTransactor

BIG = (1 << 62) + 7
NTZ = datetime.datetime(2021, 3, 4, 5, 6, 7, 890123)
AWARE = datetime.datetime(
    2021, 3, 4, 5, 6, 7, 123,
    tzinfo=datetime.timezone(datetime.timedelta(hours=-5)))


def _av(ae_id, vrt, slot, value, superseded=None):
    cells = [None] * 7     # value_str .. value_enum
    cells[slot] = value
    return (ae_id, "f", vrt, *cells, 1, superseded)


CASES = {
    "nodes": (NODES_SCHEMA, [(BIG, "ET.Person", "u1", 1, None),
                             (BIG + 1, "AET.Int", None, 2, 3)]),
    "edges": (EDGES_SCHEMA, [(BIG + 2, "Knows", None, BIG, BIG + 1, 1, None),
                             (5, "Name", "e", 6, 7, 2, 4)]),
    "attr_values": (ATTR_VALUES_SCHEMA, [
        _av(BIG, "String", 0, "x"),
        _av(BIG + 1, "Int", 1, -BIG, superseded=2),
        _av(3, "Float", 2, 2.5),
        _av(4, "Bool", 3, True),
        _av(5, "Bool", 3, False),
        _av(6, "Time", 4, NTZ),
        _av(7, "Time", 4, AWARE),
        _av(8, "QuantityFloat", 5, (1.5, "kg")),
        _av(9, "Enum", 6, "Color.red"),
        (10, None, "String", None, None, None, None, None, None, None, 1,
         None),
    ]),
    "txs": (TXS_SCHEMA, [(0, datetime.datetime(1970, 1, 1)), (1, NTZ),
                         (BIG, AWARE)]),
    "tags": (TAGS_SCHEMA, [("t", BIG, 1, None), ("u", 5, 2, 3)]),
}


@pytest.mark.parametrize("empty", [False, True], ids=["rows", "empty"])
@pytest.mark.parametrize("name", list(CASES))
def test_local_df_matches_create_dataframe(spark, monkeypatch, name, empty):
    # pyarrow shifts aware datetimes to UTC unless this is set
    monkeypatch.delenv("PYARROW_IGNORE_TIMEZONE", raising=False)
    schema, rows = CASES[name]
    rows = [] if empty else rows
    got = _local_df(spark, rows, schema)
    assert got.schema == schema
    assert got.collect() == spark.createDataFrame(rows, schema).collect()


def test_local_df_keeps_wall_clock_of_aware_time(spark, monkeypatch):
    monkeypatch.delenv("PYARROW_IGNORE_TIMEZONE", raising=False)
    got = _local_df(spark, [(1, AWARE)], TXS_SCHEMA).collect()
    assert got[0]["time"] == AWARE.replace(tzinfo=None)


@pytest.mark.parametrize("row", [
    (None, "ET.Person", None, 1, None),    # null in a non-nullable column
    ("7", "ET.Person", None, 1, None),     # str in a long column
], ids=["null", "str_in_long"])
def test_local_df_rejects_bad_cells_when_built(spark, row):
    with pytest.raises((TypeError, ValueError)):
        _local_df(spark, [row], NODES_SCHEMA)


def test_graph_read_runs_no_python_rdd_scan(spark):
    g, r = transact(empty_graph(spark), [
        E(ET.Person, name="a", fields={"Name": "Ann", "Age": 30}),
        E(ET.Person, name="b", fields={"Name": "Bo"})])
    g, _ = transact(g, [Assign(r["a"], "Age", 31),
                        R(r["a"], RT.Knows, r["b"])])
    mapping = BatchEntityMap(ET.Person, key_col="user", type_code=90,
                             fields={"Name": 700})
    batch = spark.range(3).select(
        F.col("id").alias("user"),
        F.concat(F.lit("p"), F.col("id").cast("string")).alias("Name"))
    st = MappedStreamTransactor(g, mapping, "s1")
    assert st.apply_batch(batch, 0)
    df = st.graph.now().all(ET.Person).fields("Name", "Age")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" in plan
    assert "ExistingRDD" not in plan
    assert sorted((row["Name"], row["Age"]) for row in df.collect()) == [
        ("Ann", 31), ("Bo", None), ("p0", None), ("p1", None),
        ("p2", None)]
