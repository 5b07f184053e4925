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

from typing import Callable

from pyspark.sql import DataFrame, functions as F

from ..graph.delta import E, SetField, _local_df, _tx_time, transact
from ..graph.graph import Graph, GraphCatalog
from ..graph.schema import (ATTR_VALUES_SCHEMA, EDGES_SCHEMA,
                            ID_KEY_BITS, NODES_SCHEMA, TXS_SCHEMA)
from ..tokens import ET

# A mapped stream cuts the lineage of its four tables with a
# localCheckpoint every this many batches. Each batch adds one union
# branch per table, so without a cut planning a read grows with the
# stream's length; each cut costs one job per table. At 16 the cut
# adds a quarter job per batch, and a short stream (the benchmark's 8
# batches) never pays it.
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


def mapped_parts(batch_df: DataFrame, m: BatchEntityMap, tx: int,
                 batch_label: str = "batch"):
    """Map a batch of rows to (node_parts, edge_parts, av_parts)
    DataFrame lists at tx — the distributed ingest kernel shared by
    MappedStreamTransactor (streaming) and GraphStore.commit_mapped
    (multi-process bulk commits). Entirely DataFrame selects with
    deterministic arithmetic ids; the only driver work is a 1-row
    key-range probe."""
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

    vfrom = F.lit(tx).cast("long")
    vto = F.lit(None).cast("long")
    k = F.col(m.key_col)
    # eager bounded probe (LIMIT 1): the graph tables are lazy, so
    # the in-plan raise_error would only fire at first READ — a bad
    # key must instead fail the batch NOW, before any ledger mark.
    # One row crosses the driver, never payload.
    kl = k.cast("long")
    bad = batch_df.where(kl.isNull() | (kl < 0)
                         | (kl >= F.lit(1 << ID_KEY_BITS))) \
        .select(k).limit(1).take(1)
    if bad:
        raise ValueError(
            f"{batch_label}: key {m.key_col}={bad[0][0]!r} out of "
            f"[0, 2^{ID_KEY_BITS}) — would alias into a neighboring "
            "id code band")
    ent_id = mkid(m.type_code, k)
    node_parts = [batch_df.select(
        ent_id.alias("id"), F.lit(m.et).alias("et"),
        F.concat(F.lit(m.uid_prefix), k.cast("string")).alias("uid"),
        vfrom.alias("valid_from_tx"), vto.alias("valid_to_tx"))]
    edge_parts, av_parts = [], []
    dtypes = dict(batch_df.dtypes)
    for colname, ae_code in m.fields.items():
        vrt = _SPARK_TO_VRT[dtypes[colname]]
        ae_id = mkid(ae_code, k)
        node_parts.append(batch_df.select(
            ae_id.alias("id"), F.lit(f"AET.{vrt}").alias("et"),
            F.lit(None).cast("string").alias("uid"),
            vfrom.alias("valid_from_tx"), vto.alias("valid_to_tx")))
        edge_parts.append(batch_df.select(
            mkid(ae_code + 1, k).alias("id"),
            F.lit(colname).alias("rt"),
            F.lit(None).cast("string").alias("uid"),
            ent_id.alias("src_id"), ae_id.alias("dst_id"),
            vfrom.alias("valid_from_tx"), vto.alias("valid_to_tx")))
        c = F.col(colname)
        av_parts.append(batch_df.select(
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


class MappedStreamTransactor(_LedgerSink):
    """Distributed foreachBatch sink: one micro-batch == one atomic tx,
    with the PAYLOAD mapped to nodes/edges/attr_values rows entirely
    as DataFrame selects — no driver-side row materialization (the
    wish-based StreamTransactor funnels every row through
    ``batch_df.collect()``; at a high-volume stream that driver hop is
    the bottleneck, so it is reserved for control-plane volumes). Only
    the ledger and tx rows are built on the driver, as local relations
    (``graph.delta._local_df``), so reading the graph back runs no
    Python worker for any batch.

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

    Every ``_CHECKPOINT_EVERY``-th batch localCheckpoints the four
    tables, so a long-running stream does not accrete an unbounded
    union lineage."""

    def __init__(self, g: Graph, mapping: BatchEntityMap, stream_id: str):
        super().__init__(g, stream_id)
        self.mapping = mapping
        self._n_applied = 0

    def apply_batch(self, batch_df: DataFrame, batch_id: int) -> bool:
        key = self._new_key(batch_id)
        if key is None:
            return False
        g, m = self.graph, self.mapping
        spark = g.spark
        tx = g.max_tx() + 1
        node_parts, edge_parts, av_parts = mapped_parts(
            batch_df, m, tx, batch_label=str(batch_id))

        # ledger rows, built on the driver as local relations: entity
        # + batch_key AE + attr edge + value row, all at tx. Their ids
        # mint above the wish floor AND above the whole payload id
        # band, so no payload key can ever collide with a ledger row
        # (codes ≥ 2^(60-K) reach past the 2^60 floor)
        base = max(g.max_rae_id(), 1 << 60, m.max_payload_id)
        led_ent, led_ae, led_edge = base + 1, base + 2, base + 3
        node_parts.append(_local_df(spark, [
            (led_ent, self.LEDGER_ET.name, f"__ledger_{key}", tx, None),
            (led_ae, "AET.String", None, tx, None)], NODES_SCHEMA))
        edge_parts.append(_local_df(spark, [
            (led_edge, "batch_key", None, led_ent, led_ae, tx, None)],
            EDGES_SCHEMA))
        av_parts.append(_local_df(spark, [
            (led_ae, "batch_key", "String", key, None, None, None,
             None, None, None, tx, None)], ATTR_VALUES_SCHEMA))

        nodes = g.nodes
        for p in node_parts:
            nodes = nodes.unionByName(p)
        edges = g.edges
        for p in edge_parts:
            edges = edges.unionByName(p)
        avs = g.attr_values
        for p in av_parts:
            avs = avs.unionByName(p)
        txs = g.txs.unionByName(_local_df(spark, [(tx, _tx_time(tx))],
                                          TXS_SCHEMA))
        out = Graph(nodes, edges, avs, txs, g.tags)
        out._max_tx = tx
        out._max_rae_id = led_edge
        out.schema_validator = g.schema_validator
        out.catalog = _mapped_catalog(g.catalog, m, batch_df)
        self._n_applied += 1
        if self._n_applied % _CHECKPOINT_EVERY == 0:
            out.nodes = out.nodes.localCheckpoint()
            out.edges = out.edges.localCheckpoint()
            out.attr_values = out.attr_values.localCheckpoint()
            out.txs = out.txs.localCheckpoint()
        self.graph = out
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
    through the driver; every 16th batch cuts the tables' lineage
    (``_CHECKPOINT_EVERY``). Same return convention."""
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
