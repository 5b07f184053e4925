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

from pyspark.sql import DataFrame

from ..graph.delta import E, SetField, transact
from ..graph.graph import Graph
from ..tokens import ET


class StreamTransactor:
    """Holds the evolving graph across micro-batches. `graph` is
    always the latest committed slice."""

    LEDGER_ET = ET.ZefSparkStreamBatch

    def __init__(self, g: Graph, wish_fn: Callable, stream_id: str):
        self.graph = g
        self.wish_fn = wish_fn
        self.stream_id = stream_id
        self._applied = self._load_ledger(g)

    def _load_ledger(self, g: Graph) -> set:
        if g.nodes.isEmpty():
            return set()
        # public field reader: (id, value) rows for the ledger type's
        # batch_key attribute in the current frame
        vals = g.now().all(self.LEDGER_ET).field("batch_key")
        return {r[1] for r in vals.collect()}

    def _batch_key(self, batch_id: int) -> str:
        return f"{self.stream_id}:{batch_id}"

    def apply_batch(self, batch_df: DataFrame, batch_id: int) -> bool:
        """foreachBatch hook. Returns True if the batch was applied,
        False if the ledger says it already was (replay)."""
        key = self._batch_key(batch_id)
        if key in self._applied:
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
        from ..graph.schema import ID_KEY_BITS
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
    from pyspark.sql import functions as F
    from ..graph.mapper import _SPARK_TO_VRT
    from ..graph.schema import ID_KEY_BITS

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


class MappedStreamTransactor:
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
    assignment row — dedupe upstream (e.g. pipeline/dedup.py
    incremental_dedup) or via merge semantics in a wish tx.

    ``checkpoint_every``: localCheckpoint the four tables every N
    batches so a long-running stream doesn't accrete an unbounded
    union lineage."""

    LEDGER_ET = StreamTransactor.LEDGER_ET

    def __init__(self, g: Graph, mapping: BatchEntityMap,
                 stream_id: str, checkpoint_every: int = 16):
        self.graph = g
        self.mapping = mapping
        self.stream_id = stream_id
        self.checkpoint_every = checkpoint_every
        self._applied = StreamTransactor._load_ledger(self, g)
        self._n_applied = 0

    def _batch_key(self, batch_id: int) -> str:
        return f"{self.stream_id}:{batch_id}"

    def apply_batch(self, batch_df: DataFrame, batch_id: int) -> bool:
        import datetime
        from pyspark.sql import functions as F
        from ..graph.delta import _local_df
        from ..graph.schema import (ATTR_VALUES_SCHEMA, EDGES_SCHEMA,
                                    NODES_SCHEMA, TXS_SCHEMA)
        key = self._batch_key(batch_id)
        if key in self._applied:
            return False
        g, m = self.graph, self.mapping
        spark = g.spark
        tx = g.max_tx() + 1
        time = (datetime.datetime(2000, 1, 1)
                + datetime.timedelta(days=tx))
        node_parts, edge_parts, av_parts = mapped_parts(
            batch_df, m, tx, batch_label=str(batch_id))

        # ledger rows, built on the driver as local relations: entity
        # + batch_key AE + attr edge + value row, all at tx
        cached = getattr(g, "_max_rae_id", None)
        if cached is None:
            cached = max(
                g.nodes.select(F.max("id")).collect()[0][0] or 0,
                g.edges.select(F.max("id")).collect()[0][0] or 0)
        # ledger ids mint above the wish floor AND above the whole
        # payload id band, so no payload key can ever collide with a
        # ledger row (codes ≥ 2^(60-K) reach past the 2^60 floor)
        base = max(cached, 1 << 60, m.max_payload_id)
        led_ent, led_ae, led_edge = base + 1, base + 2, base + 3
        et_name = (self.LEDGER_ET if isinstance(self.LEDGER_ET, str)
                   else self.LEDGER_ET.name)
        node_parts.append(_local_df(spark, [
            (led_ent, et_name, f"__ledger_{key}", tx, None),
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
        txs = g.txs.unionByName(_local_df(spark, [(tx, time)],
                                          TXS_SCHEMA))
        out = Graph(nodes, edges, avs, txs, g.tags)
        out._max_tx = tx
        out._max_rae_id = led_edge
        out.schema_validator = getattr(g, "schema_validator", None)
        # register the mapped fields' write-time VRTs (mirrors
        # delta.transact) so readbacks skip the distinct-vrt probe job;
        # a name remapped to a different type goes ambiguous (None =
        # field() probes, exactly the pre-registry behavior)
        if g.rt_vrt is not None:
            from ..graph.mapper import _SPARK_TO_VRT
            rv = dict(g.rt_vrt)
            dt = dict(batch_df.dtypes)
            for colname in m.fields:
                vrt = _SPARK_TO_VRT[dt[colname]]
                rv[colname] = (None if rv.get(colname, vrt) != vrt
                               else vrt)
            rv["batch_key"] = ("String"
                               if rv.get("batch_key", "String") == "String"
                               else None)
            out.rt_vrt = rv
        else:
            out.rt_vrt = g.rt_vrt
        self._n_applied += 1
        if self._n_applied % self.checkpoint_every == 0:
            out.nodes = out.nodes.localCheckpoint()
            out.edges = out.edges.localCheckpoint()
            out.attr_values = out.attr_values.localCheckpoint()
            out.txs = out.txs.localCheckpoint()
        self.graph = out
        self._applied.add(key)
        return True


def stream_transact_mapped(g: Graph, stream_df: DataFrame,
                           mapping: BatchEntityMap,
                           stream_id: str = "s1", once: bool = True,
                           checkpoint: str | None = None):
    """Distributed counterpart of stream_transact: payload rows map to
    graph rows as DataFrame selects (MappedStreamTransactor), never
    through the driver. Same return convention."""
    st = MappedStreamTransactor(g, mapping, stream_id)
    writer = stream_df.writeStream.foreachBatch(st.apply_batch)
    if checkpoint:
        writer = writer.option("checkpointLocation", checkpoint)
    if once:
        q = writer.trigger(availableNow=True).start()
        q.awaitTermination()
        return st
    return st, writer.start()


def stream_transact(g: Graph, stream_df: DataFrame,
                    wish_fn: Callable, stream_id: str = "s1",
                    once: bool = True,
                    checkpoint: str | None = None):
    """Run `stream_df` into graph `g`, one tx per micro-batch.
    once=True drains everything available then stops (test mode) and
    returns the StreamTransactor (read `.graph` for the result);
    otherwise returns (StreamTransactor, StreamingQuery)."""
    st = StreamTransactor(g, wish_fn, stream_id)
    writer = stream_df.writeStream.foreachBatch(st.apply_batch)
    if checkpoint:
        writer = writer.option("checkpointLocation", checkpoint)
    if once:
        q = writer.trigger(availableNow=True).start()
        q.awaitTermination()
        return st
    return st, writer.start()
