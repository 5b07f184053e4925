"""A GraphStore commit writes the delta ``transact`` built: the segment
holds exactly the rows the after-graph has with ``valid_from_tx == tx``
and the closures of rows stored before tx, one parquet file per table,
and another store opened on the same path reads the committing head,
also across a mapped segment and a compaction checkpoint."""

import datetime
import functools
import os

import pytest
from pyspark.sql import DataFrame, functions as F

from zef_spark import ET, RT, units
from zef_spark.graph.delta import (Assign, E, Merge, R, SetField, Tag,
                                   Terminate, Untag, empty_graph, transact)
from zef_spark.graph.graph import Graph, GraphSlice
from zef_spark.graph.sync import _SEG_FMT, _SEG_SCHEMAS, GraphStore
from zef_spark.streaming.ingest import BatchEntityMap, mapped_parts
from zef_spark.tokens import EN
from zef_spark.user_value_type import UserValueType

AWARE = datetime.datetime(
    2021, 3, 4, 5, 6, 7, 123,
    tzinfo=datetime.timezone(datetime.timedelta(hours=-5)))
NAIVE = datetime.datetime(2021, 3, 4, 5, 6, 7, 890123)


def _rows(df):
    # column order differs between in-memory, loaded and rebuilt tables
    return sorted(df.select(*sorted(df.columns)).collect(), key=repr)


def _extracts(after, tx):
    """The segment tables as filters over the after-graph."""
    def closed(df, key, frm, to):
        return (df.where((F.col(to) == tx) & (F.col(frm) < tx))
                .select(key, frm, F.lit(tx).cast("long")
                        .alias("__closed_at")))
    return {
        "nodes": after.nodes.where(F.col("valid_from_tx") == tx),
        "edges": after.edges.where(F.col("valid_from_tx") == tx),
        "attr_values": after.attr_values.where(
            F.col("assigned_at_tx") == tx),
        "txs": after.txs.where(F.col("tx_id") == tx),
        "tags": after.tags.where(F.col("valid_from_tx") == tx),
        "node_closures": closed(after.nodes, "id", "valid_from_tx",
                                "valid_to_tx"),
        "edge_closures": closed(after.edges, "id", "valid_from_tx",
                                "valid_to_tx"),
        "av_closures": closed(after.attr_values, "ae_id",
                              "assigned_at_tx", "superseded_at_tx"),
        "tag_closures": closed(after.tags, "name", "valid_from_tx",
                               "valid_to_tx"),
    }


def _slice(g, tx):
    """Every row of ``g`` alive at ``tx``."""
    def alive(df, frm, to):
        return df.where((F.col(frm) <= tx) &
                        (F.col(to).isNull() | (F.col(to) > tx)))
    gs = GraphSlice(g, tx)
    return {"nodes": _rows(gs.nodes()), "edges": _rows(gs.edges()),
            "attr_values": _rows(alive(g.attr_values, "assigned_at_tx",
                                       "superseded_at_tx")),
            "tags": _rows(alive(g.tags, "valid_from_tx", "valid_to_tx")),
            "txs": _rows(g.txs.where(F.col("tx_id") <= tx))}


@pytest.fixture(scope="module")
def committed(spark, tmp_path_factory):
    g0, r0 = transact(empty_graph(spark), [
        E(ET.Person, "a", fields={"age": 30}),
        E(ET.Person, "b"),
        E(ET.Person, "c"),
        E(ET.Person, "k", fields={"age": 40}),
        E(ET.Person, "gone", fields={"age": 1}),
        R("a", RT.Knows, "b", name="ab"),
        R("ab", RT.About, "c", name="meta"),
        Tag("t1", "a"), Tag("t2", "b")])
    path = str(tmp_path_factory.mktemp("parity") / "store")
    store = GraphStore.init(g0, path)
    # one commit first, so the big tx runs against a head rebuilt from
    # base + segment
    _, r1 = store.commit([E(ET.Person, "d", fields={"age": 50}),
                          Tag("t3", r0["c"])])
    ids = {**r0, **r1}
    Email = UserValueType("SegmentParityEmail", str, lambda s: "@" in s)
    wishes = [
        E(ET.Person, "x", fields={
            "age": 7, "score": 2.5, "ok": True, "nick": "ex",
            "seen": AWARE, "born": NAIVE, "weight": 2.5 * units.kilograms,
            "color": EN.Color.red, "mail": Email("x@y.z")}),
        R("x", RT.Knows, ids["a"], name="xa"),
        R("xa", RT.About, ids["b"]),                # relation on relation
        R("x", RT.Cites, ids["ab"]),                # closed by cascade
        Assign(ids["a"], "age", 31),                # stored AE superseded
        SetField(ids["b"], "nick", "bee"),          # stored owner, new AE
        SetField(ids["d"], "age", 51),              # AE stored in a segment
        Assign("x", "age", 8),                      # same-tx overwrite
        SetField("x", "rank", 3),                   # same-tx new field
        Merge(uid="k", fields={"age": 41}),         # known uid
        Merge(uid="fresh", et=ET.Person),           # unknown uid
        Terminate(ids["ab"]),                       # cascades to "meta"
        Terminate(ids["gone"]),
        E(ET.Person, "tmp", fields={"age": 2}),
        Terminate("tmp"),                           # [tx, tx) interval
        Tag("t1", "x"),                             # re-tag
        Tag("t4", ids["b"]),
        Untag("t2"),
    ]
    head, receipt = store.commit(wishes, time=AWARE)
    return spark, store, head, head.max_tx()


def test_segment_rows_equal_after_graph_extracts(committed):
    spark, store, head, tx = committed
    seg = os.path.join(store.path, "txlog", _SEG_FMT.format(tx))
    for name, df in _extracts(head, tx).items():
        want = _rows(df)
        assert want, f"{name}: the tx must exercise every table"
        d = os.path.join(seg, name)
        assert os.listdir(d) == ["part-00000.parquet"], name
        got = _rows(spark.read.schema(_SEG_SCHEMAS[name]).parquet(d))
        assert got == want, name


def test_second_store_reads_committed_head(committed):
    spark, store, head, tx = committed
    other = GraphStore(spark, store.path).refresh()
    assert other.max_tx() == tx
    for t in (tx, tx - 1):
        assert _slice(other, t) == _slice(head, t), t


def _assert_same_history(got, want, first_tx):
    assert got.max_tx() == want.max_tx()
    for t in range(first_tx, want.max_tx() + 1):
        assert _slice(got, t) == _slice(want, t), t


def test_second_store_reads_mapped_segment_and_checkpoint(spark, tmp_path):
    g0, r0 = transact(empty_graph(spark), [
        E(ET.Person, "a", fields={"age": 30}),
        E(ET.Person, "b", fields={"age": 20}),
        E(ET.Person, "c"),
        E(ET.Person, "d", fields={"age": 40}),
        R("a", RT.Knows, "b", name="ab"),
        R("ab", RT.About, "c"),
        R("d", RT.Knows, "c"),
        Tag("t1", "a"), Tag("t2", "b"), Tag("t3", "d")])
    path = str(tmp_path / "store")
    store = GraphStore.init(g0, path)
    # 1. re-assign, terminate with a cascade (ab, then the meta edge on
    #    it), re-tag and untag: every table and every closure table
    h1, _ = store.commit([Assign(r0["a"], "age", 31), Terminate(r0["b"]),
                          Tag("t1", r0["c"]), Untag("t2")])
    tx1 = h1.max_tx()
    seg = os.path.join(path, "txlog", _SEG_FMT.format(tx1))
    assert set(os.listdir(seg)) >= set(_SEG_SCHEMAS) - {"nodes", "edges",
                                                        "attr_values"}
    _assert_same_history(GraphStore(spark, path).refresh(), h1, tx1)
    # 2. a mapped segment: the rebuilt head is the wish head plus the
    #    mapping's rows and one tx row
    m = BatchEntityMap(ET.Ev, key_col="k", type_code=91,
                       fields={"kind": 700, "amount": 702})
    batch = spark.createDataFrame(
        [(i, f"t{i % 2}", float(i)) for i in range(6)],
        "k long, kind string, amount double")
    h2 = store.commit_mapped(batch, m)
    tx2 = h2.max_tx()
    parts = mapped_parts(batch, m, tx2)
    tx_row = spark.createDataFrame(
        [(tx2, datetime.datetime(2000, 1, 1)
          + datetime.timedelta(days=tx2))], h1.txs.schema)
    want = Graph(*[functools.reduce(DataFrame.unionByName, [t, *p])
                   for t, p in zip((h1.nodes, h1.edges, h1.attr_values),
                                   parts)],
                 h1.txs.unionByName(tx_row), h1.tags)
    _assert_same_history(GraphStore(spark, path).refresh(), want, tx1)
    # 3. a checkpoint, then 4. one more wish commit on the folded head
    store.compact()
    h4, _ = store.commit([Assign(r0["d"], "age", 41), Terminate(r0["d"]),
                          Tag("t4", r0["a"]), Untag("t3"),
                          E(ET.Person, "e", fields={"age": 1})])
    other = GraphStore(spark, path).refresh()
    _assert_same_history(other, h4, tx1)
    # the checkpoint's own tx row is read too: the txs stay gapless
    assert sorted(r[0] for r in other.txs.collect()) == \
        list(range(h4.max_tx() + 1))
    assert other.catalog == h4.catalog
    assert other.catalog.rt_vrt == {"age": "Int", "kind": "String",
                                    "amount": "Float",
                                    "batch_key": "String"}
    assert other._max_rae_id == h4._max_rae_id
    assert other._max_rae_id > m.max_payload_id
