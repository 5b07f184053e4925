"""Streaming graph ingestion: a Structured Streaming sink that applies
each micro-batch as ONE atomic graph transaction (the reference's
stream -> graph write path, zef §1.5, re-expressed as foreachBatch).

Semantics:
- `wish_fn(rows)` maps a micro-batch's rows to a wish list (E / R /
  Assign / SetField / ... from graph.delta) — the same driver-level
  write API every other transact uses; wish volume is bounded by the
  micro-batch, exactly like a manual transact call.
- one micro-batch == one tx: the batch is atomic and the tx id in the
  receipt marks which batch produced which graph slice (time travel
  to "before batch N" is `g | time_travel[...]` as usual).
- exactly-once on top of foreachBatch's at-least-once: the applied
  batch-id ledger skips replayed batches. The ledger rides ON THE
  GRAPH (a ZefSparkStream entity per batch) so it survives a restart
  WITH the graph state it guards — checkpoint recovery replays the
  batch, the ledger says it's applied, the tx is skipped.

At scale: transact's cost model is unchanged (O(1) Spark jobs per
batch, broadcast uid resolution); the stream source does the heavy
lifting distributed, only the wish construction is driver-side.
"""

from __future__ import annotations

import functools
import itertools
import re
import threading
from typing import Callable, NamedTuple

from pyspark.sql import DataFrame, functions as F

from ..graph.delta import E, SetField, _local_df, _tx_time, transact
from ..graph.graph import Graph, GraphCatalog
from ..graph.schema import (ATTR_VALUES_SCHEMA, EDGES_SCHEMA,
                            ID_KEY_BITS, NODES_SCHEMA, TXS_SCHEMA)
from ..tokens import ET

# A mapped stream cuts the lineage of its four tables with a
# localCheckpoint every this many batches. Each batch adds one branch
# to the union of rows its next read maps (and each read one union
# level per table), so without a cut planning a read grows with the
# stream's length; each cut builds the graph and costs one job per
# table. At 16 the cut adds a quarter job per batch, and a short stream
# (the benchmark's 8 batches) never pays it.
_CHECKPOINT_EVERY = 16


class _LedgerSink:
    """A foreachBatch sink that applies each micro-batch as one tx of
    ``graph`` (always the latest committed graph) and skips replays.
    The applied-batch ledger rides on the graph as one
    ZefSparkStreamBatch entity per batch, whose ``batch_key`` is
    written in the same tx as the batch's payload."""

    LEDGER_ET = ET.ZefSparkStreamBatch

    def __init__(self, g: Graph, stream_id: str):
        self.graph = g
        self.stream_id = stream_id
        if g.nodes.isEmpty():
            self._applied = set()
        else:
            # public field reader: (id, value) rows for the ledger
            # type's batch_key attribute in the current frame
            vals = g.now().all(self.LEDGER_ET).field("batch_key")
            self._applied = {r[1] for r in vals.collect()}

    def _new_key(self, batch_id: int) -> str | None:
        """The ledger key of ``batch_id``; None if it was applied."""
        key = f"{self.stream_id}:{batch_id}"
        return None if key in self._applied else key


class StreamTransactor(_LedgerSink):
    """Sink that maps each micro-batch's rows to wishes on the driver."""

    def __init__(self, g: Graph, wish_fn: Callable, stream_id: str):
        super().__init__(g, stream_id)
        self.wish_fn = wish_fn

    def apply_batch(self, batch_df: DataFrame, batch_id: int) -> bool:
        """foreachBatch hook. Returns True if the batch was applied,
        False if the ledger says it already was (replay)."""
        key = self._new_key(batch_id)
        if key is None:
            return False
        rows = batch_df.collect()
        wishes = list(self.wish_fn(rows))
        # ledger entry commits IN THE SAME TX as the payload: apply
        # and mark are atomic, so a crash between them is impossible
        ledger_name = f"__ledger_{key}"
        wishes.append(E(self.LEDGER_ET, ledger_name))
        wishes.append(SetField(ledger_name, "batch_key", key))
        self.graph, _receipt = transact(self.graph, wishes)
        self._applied.add(key)
        return True


class BatchEntityMap:
    """Declarative batch→graph mapping for the DISTRIBUTED ingest
    path: each batch row becomes one entity of ``et`` whose id derives
    arithmetically from ``key_col`` (id = type_code·2^K + key — the
    same deterministic scheme as graph/mapper.py:_mkid, so replays and
    regenerations mint identical ids), and each listed field column
    becomes an AE + attr edge + value row. Codes must not collide with
    an existing mapper layout on the same graph (mapper tables use
    1-99, attrs 100+, relations 600+)."""

    def __init__(self, et, key_col: str, type_code: int,
                 fields: dict[str, int], uid_prefix: str | None = None):
        # the int64 overflow bound (same as mapper._mkid): every code
        # incl. the +1 attr-edge code must fit above the key bits
        cap = 1 << (63 - ID_KEY_BITS)
        if "__tx" in (key_col, *fields):
            raise ValueError("__tx names the tx column of mapped rows")
        codes = {key_col: type_code}
        for col, code in fields.items():
            if code % 2:
                raise ValueError(
                    f"field code for {col!r} must be even (odd code "
                    "is reserved for the attr edge)")
            codes[col] = code + 1            # the edge code is minted too
        for col, code in codes.items():
            if not (0 < code < cap):
                raise ValueError(
                    f"code for {col!r} must be in (0, {cap}) "
                    f"(int64 id arithmetic; got {code})")
        #: exclusive upper bound of this mapping's arithmetic id band —
        #: ledger/wish ids must mint ABOVE it (codes ≥ 256 reach past
        #: 2^60, so the fixed wish floor alone is not enough)
        self.max_payload_id = (max(codes.values()) + 1) << ID_KEY_BITS
        self.et = et if isinstance(et, str) else et.name
        self.key_col = key_col
        self.type_code = type_code
        self.fields = dict(fields)
        self.uid_prefix = uid_prefix or f"{self.et.lower()}-"


def _check_keys(batch_df: DataFrame, m: BatchEntityMap, label: str) -> None:
    """Fail the batch NOW if a key is NULL or out of [0, 2^K): such a
    key would alias into a neighboring id code band. The graph tables
    are lazy, so the in-plan guard of ``map_rows`` would only fire at
    the first read; this probe runs before any ledger mark. It is one
    Spark job on any partition count: every row meets the guard in a
    filter that keeps none, written to the ``noop`` sink (a LIMIT 1
    takes a second job when the first partition is clean, a global
    aggregate an AQE map stage). No row reaches the driver."""
    k = F.col(m.key_col)
    kl = k.cast("long")
    bad = kl.isNull() | (kl < 0) | (kl >= F.lit(1 << ID_KEY_BITS))
    head = f"{label}: key {m.key_col}="
    tail = (f" out of [0, 2^{ID_KEY_BITS}) — would alias into a "
            "neighboring id code band")
    guard = F.when(bad, F.raise_error(F.concat(
        F.lit(head), F.coalesce(k.cast("string"), F.lit("None")),
        F.lit(tail)))).otherwise(F.lit(False))
    try:
        batch_df.where(guard).write.format("noop").mode("overwrite").save()
    except Exception as e:
        # the Spark error wraps the guard's message
        found = re.search(re.escape(head) + ".*?" + re.escape(tail), str(e))
        if found is None:
            raise
        raise ValueError(found.group(0)) from None


def _tx_rows(batch_df: DataFrame, m: BatchEntityMap, tx: int) -> DataFrame:
    """The batch's mapped columns and its tx: what ``map_rows`` reads."""
    return batch_df.select(*dict.fromkeys([m.key_col, *m.fields]),
                           F.lit(tx).cast("long").alias("__tx"))


def map_rows(rows: DataFrame, m: BatchEntityMap):
    """Map rows of ``(key, fields…, __tx)`` to (node_parts, edge_parts,
    av_parts) DataFrame lists, each row valid from its ``__tx`` — the
    distributed ingest kernel. ``rows`` may hold many batches, one
    ``__tx`` each, so a mapped stream maps all the batches a read has
    not seen with 1 + 3F selects. Entirely DataFrame selects with
    deterministic arithmetic ids; no driver work."""
    from ..graph.mapper import _SPARK_TO_VRT

    def mkid(code: int, c):
        assert 0 < code < (1 << (63 - ID_KEY_BITS))
        k = c.cast("long")
        # out-of-range keys alias into a NEIGHBORING code band
        # (key -1 under code c == code c-1's top id) — fail loudly
        # instead; the guard is a row-local codegen branch
        ok = (k >= 0) & (k < F.lit(1 << ID_KEY_BITS))
        return F.when(ok, F.lit(code).cast("long")
                      * (1 << ID_KEY_BITS) + k) \
            .otherwise(F.raise_error(F.concat(
                F.lit(f"BatchEntityMap key out of "
                      f"[0, 2^{ID_KEY_BITS}): "),
                c.cast("string"))))

    vfrom = F.col("__tx")
    vto = F.lit(None).cast("long")
    k = F.col(m.key_col)
    ent_id = mkid(m.type_code, k)
    node_parts = [rows.select(
        ent_id.alias("id"), F.lit(m.et).alias("et"),
        F.concat(F.lit(m.uid_prefix), k.cast("string")).alias("uid"),
        vfrom.alias("valid_from_tx"), vto.alias("valid_to_tx"))]
    edge_parts, av_parts = [], []
    dtypes = dict(rows.dtypes)
    for colname, ae_code in m.fields.items():
        vrt = _SPARK_TO_VRT[dtypes[colname]]
        ae_id = mkid(ae_code, k)
        node_parts.append(rows.select(
            ae_id.alias("id"), F.lit(f"AET.{vrt}").alias("et"),
            F.lit(None).cast("string").alias("uid"),
            vfrom.alias("valid_from_tx"), vto.alias("valid_to_tx")))
        edge_parts.append(rows.select(
            mkid(ae_code + 1, k).alias("id"),
            F.lit(colname).alias("rt"),
            F.lit(None).cast("string").alias("uid"),
            ent_id.alias("src_id"), ae_id.alias("dst_id"),
            vfrom.alias("valid_from_tx"), vto.alias("valid_to_tx")))
        c = F.col(colname)
        av_parts.append(rows.select(
            ae_id.alias("ae_id"),
            F.lit(colname).alias("attr_rt"),
            F.lit(vrt).alias("vrt"),
            (c.cast("string") if vrt == "String"
             else F.lit(None).cast("string")).alias("value_str"),
            (c.cast("long") if vrt == "Int"
             else F.lit(None).cast("long")).alias("value_int"),
            (c.cast("double") if vrt == "Float"
             else F.lit(None).cast("double")).alias("value_float"),
            (c.cast("boolean") if vrt == "Bool"
             else F.lit(None).cast("boolean")).alias("value_bool"),
            (c.cast("timestamp_ntz") if vrt == "Time"
             else F.lit(None).cast("timestamp_ntz"))
            .alias("value_time"),
            F.lit(None).cast("struct<value:double,unit:string>")
            .alias("value_quantity"),
            F.lit(None).cast("string").alias("value_enum"),
            vfrom.alias("assigned_at_tx"),
            vto.alias("superseded_at_tx")))
    return node_parts, edge_parts, av_parts


def mapped_parts(batch_df: DataFrame, m: BatchEntityMap, tx: int):
    """``map_rows`` over one batch at ``tx``: the parts
    ``GraphStore.commit_mapped`` writes. The caller probes the keys
    first (``_check_keys``)."""
    return map_rows(_tx_rows(batch_df, m, tx), m)


class _Batch(NamedTuple):
    """An applied batch: its rows, its tx, and its ledger key. Its
    ledger rows take ids ``base`` + 1, + 2 and + 3."""
    df: DataFrame
    tx: int
    key: str
    base: int


class _State(NamedTuple):
    """What a mapped sink has applied: the graph it last built, the
    batches applied since, and the catalog after them. A sink replaces
    it as one value, so a reader never sees half a batch."""
    graph: Graph
    pending: tuple
    catalog: GraphCatalog


def _extend(st: _State, m: BatchEntityMap) -> Graph:
    """``st.graph`` with ``st.pending`` applied. The pending batches map
    together (``map_rows`` over one union of their rows; a run of
    batches with other column types maps apart), and their ledger and
    tx rows are one local relation per table."""
    g = st.graph
    spark = g.spark
    tables = ([g.nodes], [g.edges], [g.attr_values])
    cols = list(dict.fromkeys([m.key_col, *m.fields]))
    for _, run in itertools.groupby(
            st.pending, lambda b: [dict(b.df.dtypes)[c] for c in cols]):
        rows = functools.reduce(DataFrame.unionByName,
                                [_tx_rows(b.df, m, b.tx) for b in run])
        for parts, new in zip(tables, map_rows(rows, m)):
            parts.extend(new)
    # ledger rows: entity + batch_key AE + attr edge + value row, all
    # at the batch's tx
    led_nodes, led_edges, led_avs = [], [], []
    for b in st.pending:
        ent, ae, edge = b.base + 1, b.base + 2, b.base + 3
        led_nodes += [(ent, _LedgerSink.LEDGER_ET.name, f"__ledger_{b.key}",
                       b.tx, None), (ae, "AET.String", None, b.tx, None)]
        led_edges.append((edge, "batch_key", None, ent, ae, b.tx, None))
        led_avs.append((ae, "batch_key", "String", b.key, None, None, None,
                        None, None, None, b.tx, None))
    for parts, rows, schema in zip(
            tables, (led_nodes, led_edges, led_avs),
            (NODES_SCHEMA, EDGES_SCHEMA, ATTR_VALUES_SCHEMA)):
        parts.append(_local_df(spark, rows, schema))
    txs = g.txs.unionByName(_local_df(
        spark, [(b.tx, _tx_time(b.tx)) for b in st.pending], TXS_SCHEMA))
    out = Graph(*(functools.reduce(DataFrame.unionByName, parts)
                  for parts in tables), txs, g.tags)
    out._max_tx = st.pending[-1].tx
    out._max_rae_id = st.pending[-1].base + 3
    out.schema_validator = g.schema_validator
    out.catalog = st.catalog
    return out


class MappedStreamTransactor(_LedgerSink):
    """Distributed foreachBatch sink: one micro-batch == one atomic tx,
    with the PAYLOAD mapped to nodes/edges/attr_values rows entirely
    as DataFrame selects — no driver-side row materialization (the
    wish-based StreamTransactor funnels every row through
    ``batch_df.collect()``; at a high-volume stream that driver hop is
    the bottleneck, so it is reserved for control-plane volumes).

    A batch builds no plan. ``apply_batch`` probes the keys (the
    batch's one Spark job, ``_check_keys``), mints the tx and the ledger
    ids, updates the catalog, and records the batch in the sink's
    ``_State``. ``graph`` builds on the first read after a change: it
    extends the last built graph with the batches recorded since, all
    mapped by one ``map_rows`` over the union of their rows, with
    their ledger and tx rows as local relations
    (``graph.delta._local_df``), so reading the graph back runs no
    Python worker. The state is replaced as one value per batch, so a
    reader on another thread (``once=False``) sees whole batches only.

    Exactly-once like StreamTransactor: the applied-batch ledger rides
    on the graph as a ZefSparkStreamBatch entity whose node/AE/edge/
    value rows carry the SAME tx id as the payload rows — apply and
    mark are one atomic graph value, a replayed batch is skipped.
    Append-oriented: batch keys are expected to be new entities (the
    firehose case); re-keying an existing id appends a second open
    node, edge and assignment row. Field reads stay exact: they take
    the latest alive assignment per owner (``NodeSet.fields``). Dedupe
    upstream (e.g. pipeline/dedup.py incremental_dedup) or via merge
    semantics in a wish tx when one node row per key matters.

    Each batch records what it minted in the graph's catalog
    (``_mapped_catalog``): the mapped fields' VRTs and, for fields only
    this mapping ever wrote, the owner type code. Readbacks then derive
    each value's owner arithmetically from its AE id, with no edge scan
    and no edge join.

    Every ``_CHECKPOINT_EVERY``-th batch builds the graph and
    localCheckpoints its four tables, which become the new base, so a
    long-running stream does not accrete an unbounded union lineage."""

    def __init__(self, g: Graph, mapping: BatchEntityMap, stream_id: str):
        self._lock = threading.Lock()
        super().__init__(g, stream_id)
        self.mapping = mapping
        self._n_applied = 0

    @property
    def graph(self) -> Graph:
        """The graph with every applied batch: built once per change."""
        st = self._state
        if not st.pending:
            return st.graph
        g = _extend(st, self.mapping)
        with self._lock:
            if self._state is st:
                self._state = _State(g, (), st.catalog)
        return g

    @graph.setter
    def graph(self, g: Graph) -> None:
        self._state = _State(g, (), g.catalog)

    def apply_batch(self, batch_df: DataFrame, batch_id: int) -> bool:
        key = self._new_key(batch_id)
        if key is None:
            return False
        m, st = self.mapping, self._state
        _check_keys(batch_df, m, str(batch_id))
        if st.pending:
            tx, floor = st.pending[-1].tx + 1, st.pending[-1].base + 3
        else:
            tx, floor = st.graph.max_tx() + 1, st.graph.max_rae_id()
        # ledger ids mint above the wish floor AND above the whole
        # payload id band, so no payload key can ever collide with a
        # ledger row (codes ≥ 2^(60-K) reach past the 2^60 floor)
        b = _Batch(batch_df, tx, key, max(floor, 1 << 60, m.max_payload_id))
        cat = _mapped_catalog(st.catalog, m, batch_df)
        cut = None
        if (self._n_applied + 1) % _CHECKPOINT_EVERY == 0:
            cut = _extend(_State(st.graph, st.pending + (b,), cat), m)
            for t in ("nodes", "edges", "attr_values", "txs"):
                setattr(cut, t, getattr(cut, t).localCheckpoint())
        with self._lock:
            # a reader may have built the pending batches meanwhile
            cur = self._state
            self._state = (_State(cut, (), cat) if cut is not None else
                           _State(cur.graph, cur.pending + (b,), cat))
        self._n_applied += 1
        self._applied.add(key)
        return True


def _mapped_catalog(cat: GraphCatalog, m: BatchEntityMap,
                    batch_df: DataFrame) -> GraphCatalog:
    """The catalog after one mapped batch over a graph with ``cat``.

    - ``rt_vrt``: the mapped fields' and the ledger's write-time VRTs
      merge in (as in ``delta.transact``), so readbacks skip the
      distinct-vrt probe job.
    - ``field_owner_code``: a mapped field is declared with the
      mapping's type code when the graph has never stored it, or
      already declares it with that code. Then every row of it was
      minted by this mapping (owner = ``mkid(type_code, key)``, AE =
      ``mkid(field_code, key)``): a ``transact`` in between would have
      cleared the declaration. Any other mapped field loses its
      declaration and reads through its edges, and so does
      ``batch_key``: the ledger's rows carry minted ids.
    - ``single_assignment`` is False: a batch that re-keys an existing
      key appends a second open row. The type-code facts go with it.
    """
    from ..graph.mapper import _SPARK_TO_VRT
    dt = dict(batch_df.dtypes)
    written = [(c, _SPARK_TO_VRT[dt[c]]) for c in m.fields]
    owners = dict(cat.field_owner_code)
    for c in m.fields:
        fresh = cat.rt_vrt is not None and c not in cat.rt_vrt
        if fresh or owners.get(c) == m.type_code:
            owners[c] = m.type_code
        else:
            owners.pop(c, None)
    owners.pop("batch_key", None)
    return GraphCatalog(
        rt_vrt=cat.merged_vrts(written + [("batch_key", "String")]),
        field_owner_code=owners)


def _run(sink: _LedgerSink, stream_df: DataFrame, once: bool,
         checkpoint: str | None):
    writer = stream_df.writeStream.foreachBatch(sink.apply_batch)
    if checkpoint:
        writer = writer.option("checkpointLocation", checkpoint)
    if once:
        writer.trigger(availableNow=True).start().awaitTermination()
        return sink
    return sink, writer.start()


def stream_transact_mapped(g: Graph, stream_df: DataFrame,
                           mapping: BatchEntityMap,
                           stream_id: str = "s1", once: bool = True,
                           checkpoint: str | None = None):
    """Distributed counterpart of stream_transact: payload rows map to
    graph rows as DataFrame selects (MappedStreamTransactor), never
    through the driver. A batch costs one key probe job and builds no
    plan; the sink's ``graph`` maps every batch it has not seen yet in
    one pass when it is read, and every 16th batch builds it and cuts
    the tables' lineage (``_CHECKPOINT_EVERY``). Same return
    convention."""
    return _run(MappedStreamTransactor(g, mapping, stream_id),
                stream_df, once, checkpoint)


def stream_transact(g: Graph, stream_df: DataFrame,
                    wish_fn: Callable, stream_id: str = "s1",
                    once: bool = True,
                    checkpoint: str | None = None):
    """Run `stream_df` into graph `g`, one tx per micro-batch.
    once=True drains everything available then stops (test mode) and
    returns the StreamTransactor (read `.graph` for the result);
    otherwise returns (StreamTransactor, StreamingQuery)."""
    return _run(StreamTransactor(g, wish_fn, stream_id), stream_df, once,
                checkpoint)
