"""A mapped stream sink records each batch and builds its graph on read.

``MappedStreamTransactor.apply_batch`` probes the keys, mints the tx
and the ledger ids and records the batch; ``graph`` maps every batch
it has not seen yet in one pass. The graph it builds must equal a
reference that applies each batch on its own with ``mapped_parts``
plus the ledger rows, after every batch and across a
``_CHECKPOINT_EVERY`` cut, both as rows and through ``fields()``.
``apply_batch`` builds no plan, and a reader sees whole batches only.
"""

import functools
import threading

from pyspark.sql import DataFrame
from pyspark.sql.types import _parse_datatype_string

from zef_spark import ET
from zef_spark.graph.delta import (E, _local_df, _tx_time, empty_graph,
                                   transact)
from zef_spark.graph.graph import Graph
from zef_spark.graph.schema import (ATTR_VALUES_SCHEMA, EDGES_SCHEMA,
                                    NODES_SCHEMA, TXS_SCHEMA)
from zef_spark.streaming.ingest import (_CHECKPOINT_EVERY, BatchEntityMap,
                                        MappedStreamTransactor,
                                        mapped_parts)

_MAP = BatchEntityMap(ET.Ev, key_col="k", type_code=91,
                      fields={"kind": 700, "amount": 702})
_TABLES = ("nodes", "edges", "attr_values", "txs")
_LEDGER = MappedStreamTransactor.LEDGER_ET


def _batch(spark, i):
    # each batch re-keys the second key of the batch before it, and
    # batch 9 writes ``amount`` as a long: its rows map with their own
    # VRT
    amount = "long" if i == 9 else "double"
    return _local_df(spark, [
        (2 * i, f"t{i % 3}", 1.0 * i if i != 9 else i),
        (2 * i - 1 if i else 1, None, -1.0 * i if i != 9 else -i)],
        _parse_datatype_string(f"k long, kind string, amount {amount}"))


def _rows(df):
    return sorted((tuple(r) for r in df.collect()), key=repr)


def _reference(g, batch, key):
    """``g`` with ``batch`` applied on its own: its ``mapped_parts`` at
    the next tx, plus the ledger rows minted above every id so far."""
    spark, tx = g.spark, g.max_tx() + 1
    base = max(g.max_rae_id(), 1 << 60, _MAP.max_payload_id)
    ent, ae, edge = base + 1, base + 2, base + 3
    ledger = ([(ent, _LEDGER.name, f"__ledger_{key}", tx, None),
               (ae, "AET.String", None, tx, None)],
              [(edge, "batch_key", None, ent, ae, tx, None)],
              [(ae, "batch_key", "String", key, None, None, None, None,
                None, None, tx, None)])
    tables = [functools.reduce(DataFrame.unionByName,
                               [t, *parts, _local_df(spark, rows, schema)])
              for t, parts, rows, schema in zip(
                  (g.nodes, g.edges, g.attr_values),
                  mapped_parts(batch, _MAP, tx), ledger,
                  (NODES_SCHEMA, EDGES_SCHEMA, ATTR_VALUES_SCHEMA))]
    out = Graph(*tables, g.txs.unionByName(
        _local_df(spark, [(tx, _tx_time(tx))], TXS_SCHEMA)), g.tags)
    out._max_tx, out._max_rae_id = tx, edge
    return out


def _assert_same(got, want, step):
    assert got.max_tx() == want.max_tx(), step
    assert got._max_rae_id == want._max_rae_id, step
    for t in _TABLES:
        assert _rows(getattr(got, t)) == _rows(getattr(want, t)), (step, t)
    # the sink's catalog declares arithmetic owners; the reference
    # declares nothing and reads through the edges
    names = list(_MAP.fields)
    assert _rows(got.now().all(ET.Ev).fields(*names)) == \
        _rows(want.now().all(ET.Ev).fields(*names)), step


def test_built_graph_equals_per_batch_reference(spark):
    g0, _ = transact(empty_graph(spark), [
        E(ET.Ev, "a", fields={"kind": "seed", "amount": 0.5}),
        E(ET.Person, "p", fields={"amount": 2.0})])
    n = _CHECKPOINT_EVERY + 1
    every = MappedStreamTransactor(g0, _MAP, "s")   # read after each batch
    some = MappedStreamTransactor(g0, _MAP, "s")    # read at 6 and at n
    ref = g0
    for i in range(n):
        batch = _batch(spark, i)
        assert every.apply_batch(batch, i) and some.apply_batch(batch, i)
        ref = _reference(ref, batch, f"s:{i}")
        _assert_same(every.graph, ref, i)
        if i + 1 in (6, n):
            _assert_same(some.graph, ref, ("some", i))
    assert every.graph.catalog == some.graph.catalog
    assert every.graph.catalog.rt_vrt["amount"] is None     # batch 9


def test_apply_batch_builds_no_plan(spark, monkeypatch):
    """Like the payload collect in test_stream_ingest, select and
    unionByName are poisoned on every DataFrame while batches apply: a
    batch records itself and runs only the key probe."""
    sink = MappedStreamTransactor(empty_graph(spark), _MAP, "s")
    batches = [_batch(spark, i) for i in range(3)]

    def poisoned(*a, **kw):
        raise AssertionError("apply_batch built a plan")
    with monkeypatch.context() as mp:
        # the session's DataFrame class overrides the base class's
        mp.setattr(type(batches[0]), "select", poisoned)
        mp.setattr(type(batches[0]), "unionByName", poisoned)
        for i, b in enumerate(batches):
            assert sink.apply_batch(b, i)
    g = sink.graph
    assert g.max_tx() == 3
    assert g.nodes.where("et = 'Ev'").count() == 6
    assert g.now().all(_LEDGER).df.count() == 3


def test_reader_sees_whole_batches(spark):
    """A reader on another thread, as with ``once=False``: every graph
    it reads has one ledger entity and one tx row per batch up to its
    ``max_tx``, and two payload rows per batch."""
    sink = MappedStreamTransactor(empty_graph(spark), _MAP, "s")
    batches = [_batch(spark, i) for i in range(8)]
    seen, errors = [], []

    def write():
        try:
            for i, b in enumerate(batches):
                sink.apply_batch(b, i)
        except Exception as e:                 # surfaced below
            errors.append(e)

    writer = threading.Thread(target=write)
    writer.start()
    while True:
        done = not writer.is_alive()
        g = sink.graph
        n = g.max_tx()
        ledger = g.now().all(_LEDGER).df.count()
        txs = g.txs.count()
        payload = g.nodes.where("et = 'Ev'").count()
        assert (ledger, txs, payload) == (n, n + 1, 2 * n), seen
        seen.append(n)
        if done:
            break
    writer.join()
    assert not errors and seen[-1] == len(batches), (errors, seen)
