"""Write path: declarative "wishes" applied in one transaction.

Reference parity: GraphDelta — ``construct_commands``
(python/zef/core/graph_delta.py:205), per-form dispatch
(graph_delta.py:541-856), execution
(``perform_transaction_commands``:1393), receipts (:1376). Forms
supported here: entity wish ``E(ET.X, name=..., fields={...})``,
relation wish ``R(src, RT.Y, dst)``, ``Assign(target, field, value)``,
``SetField`` (upsert, graph_delta.py:745), ``Terminate``
(graph_delta.py:730 — cascades to incident edges, writes interval end,
never deletes).

Scale note: this driver-side path is for interactive/small writes and
tests. Bulk ingestion at 100 TB goes through the set-oriented mapper
(mapper.py) — whole DataFrames appended per tx with deterministic ids;
in production the three tables live in Delta and a transact is one
multi-table commit (MERGE for supersede/terminate).
"""

from __future__ import annotations

import datetime
import itertools
from dataclasses import dataclass, field as dc_field
from typing import Any

import pyarrow as pa
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import _make_type_verifier

from ..tokens import Token
from .graph import Graph, GraphCatalog
from .schema import (ATTR_VALUES_SCHEMA, EDGES_SCHEMA, NODES_SCHEMA,
                     TXS_SCHEMA, VALUE_COLS, VALUE_COL_LIST)

_PY_VRT = [(bool, "Bool"), (int, "Int"), (float, "Float"), (str, "String")]


def _vrt_of(value) -> str:
    from ..tokens import EnumValue
    from ..units import QuantityFloat, QuantityInt
    from ..user_value_type import UserValueInstance
    if isinstance(value, UserValueInstance):
        return "Serialized"
    if isinstance(value, datetime.datetime):
        return "Time"
    if isinstance(value, QuantityInt):
        return "QuantityInt"
    if isinstance(value, QuantityFloat):
        return "QuantityFloat"
    if isinstance(value, EnumValue):
        return "Enum"
    for ty, name in _PY_VRT:
        if isinstance(value, ty):
            return name
    raise TypeError(f"unsupported attribute value type: {type(value)}")


def _storage_value(vrt: str, value):
    """Python wish value → the physical cell for its VALUE_COLS slot."""
    if vrt in ("QuantityInt", "QuantityFloat"):
        return (float(value.value), value.unit)
    if vrt == "Enum":
        return str(value)
    if vrt == "Serialized":
        return value.serialize()
    return value


@dataclass
class E:  # instantiate entity
    et: Token
    name: str | None = None          # receipt key
    fields: dict = dc_field(default_factory=dict)


@dataclass
class R:  # instantiate relation (endpoints: receipt names or ids —
    # including EDGE ids/names: relation-of-relation, blobs.h:221-222)
    src: Any
    rt: Token
    dst: Any
    name: str | None = None
    fields: dict = dc_field(default_factory=dict)


@dataclass
class Assign:  # value assignment (closes previous, appends new)
    target: Any       # entity name/id
    field: str | Token
    value: Any


@dataclass
class SetField:  # upsert field (creates AE on first use)
    target: Any
    field: str | Token
    value: Any


@dataclass
class Terminate:
    target: Any


@dataclass
class Merge:
    """Merge a FOREIGN RAE by origin uid (reference
    graph_delta.py:643 `merge`; FOREIGN_ENTITY_NODE blobs.h:336-390):
    if a RAE with this uid is alive here, the receipt resolves to it
    (idempotent); otherwise a new node is instantiated CARRYING the
    foreign uid, so identity is preserved across graphs. Build one
    from a live ref with ``merge_ref(other_graph_slice, id)``."""
    uid: str
    et: Token | None = None     # required when instantiating
    name: str | None = None     # receipt key (defaults to uid)
    fields: dict = dc_field(default_factory=dict)


def merge_ref(gs, rae_id: int) -> Merge:
    """Capture (uid, type) of a RAE in another graph's slice as a
    Merge wish for THIS graph."""
    from ..tokens import ET as _ET
    row = (gs.nodes().where(F.col("id") == rae_id)
           .select("uid", "et").limit(1).collect())
    if not row:
        raise KeyError(f"no alive node {rae_id} in foreign slice")
    uid, et = row[0][0], row[0][1]
    if uid is None:
        raise ValueError(f"foreign node {rae_id} has no uid")
    return Merge(uid=uid, et=_ET(et))


@dataclass
class Tag:  # (re)assign a temporal name to a RAE (ITF:7361)
    name: str
    target: Any


@dataclass
class Untag:  # close the tag's validity interval (ITF:7406)
    name: str


@dataclass
class TxDelta:
    """What one tx adds to the log: the rows it appends (tuples in each
    table's schema order) and the ids of the rows it closes at ``tx``:
    superseded AE ids, node/edge ids terminated after the cascade, and
    closed tag names. Ids minted in the same tx may be among them; their
    rows already carry the close."""
    tx: int
    nodes: list
    edges: list
    attr_values: list
    txs: list
    tags: list
    closed_aes: set
    terminated: set
    closed_tags: set


def _arrow_table(rows, schema) -> pa.Table:
    """Driver-built rows (tuples in ``schema`` order) as one Arrow
    table typed by ``to_arrow_schema(schema)``. Rows are checked against
    the schema first, so a null in a non-nullable column or a cell of
    the wrong type raises here. Cells go through the schema's own
    ``toInternal``, as ``createDataFrame`` does, so an aware datetime in
    an NTZ column keeps its wall-clock time (pyarrow would shift it to
    UTC)."""
    verify = _make_type_verifier(schema)
    for row in rows:
        verify(row)
    arrow = to_arrow_schema(schema)
    cols = (list(zip(*map(schema.toInternal, rows))) if rows
            else [()] * len(arrow))
    return pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(cols, arrow)],
        schema=arrow)


def _local_df(spark, rows, schema):
    """Driver-built rows as a DataFrame, via ``_arrow_table``.

    Below ``spark.sql.execution.arrow.localRelationThreshold`` the
    Arrow table plans as a ``LocalRelation``: no Python worker runs
    when it is read, Catalyst folds filters over it at plan time, and
    an empty one drops out of every union built on it. One partition
    per 50k rows, capped at the session parallelism: a few hundred
    wish rows must not shard into one near-empty partition per core,
    each a task launch for every later point lookup."""
    n = max(1, min(spark.sparkContext.defaultParallelism,
                   len(rows) // 50_000 + 1))
    return spark.createDataFrame(_arrow_table(rows, schema),
                                 schema).coalesce(n)


def empty_graph(spark) -> Graph:
    # local relations: the three empty tables drop out of every union a
    # transact chain builds on them, and the one-row tx table is a
    # single partition
    g = Graph(
        _local_df(spark, [], NODES_SCHEMA),
        _local_df(spark, [], EDGES_SCHEMA),
        _local_df(spark, [], ATTR_VALUES_SCHEMA),
        _local_df(spark, [(0, datetime.datetime(1970, 1, 1))], TXS_SCHEMA))
    g.interactive = True
    # the graph is empty by construction: seed the tx / id high-water
    # marks so the first transact and now() run ZERO scan jobs
    g._max_tx = 0
    g._max_rae_id = 0
    g.catalog = GraphCatalog(rt_vrt={})
    return g


def _tx_time(tx: int) -> datetime.datetime:
    """The time of tx ``tx`` when its writer gives none: day ``tx``
    after 2000-01-01, so tx times increase with tx numbers."""
    return datetime.datetime(2000, 1, 1) + datetime.timedelta(days=tx)


def transact(g: Graph, wishes: list, time=None,
             check_schema: bool = False) -> tuple[Graph, dict]:
    """Apply wishes atomically as tx = max_tx + 1; returns (new graph,
    receipt {name: id}). With ``check_schema=True`` the graph's
    attached validator (``g.schema_validator`` — a GraphConstraints or
    any callable(wishes, g)) runs first and a violation aborts the
    whole tx (reference FinishTransaction check_schema,
    core/src/transaction.cpp:158-183)."""
    out, receipt, _ = _transact(g, wishes, time, check_schema)
    return out, receipt


def _transact(g: Graph, wishes: list, time,
              check_schema: bool) -> tuple[Graph, dict, TxDelta]:
    """``transact`` that also returns the tx's ``TxDelta``."""
    spark = g.spark
    if check_schema:
        if g.schema_validator is None:
            raise ValueError(
                "check_schema=True but graph has no schema_validator")
        g.schema_validator(wishes, g)
    tx = g.max_tx() + 1
    time = time or _tx_time(tx)

    # the id floor is chained from the previous transact, so a write
    # chain costs ZERO id-scan jobs after the first
    cached = g.max_rae_id()
    ids = itertools.count(max(cached, 1 << 60) + 1)
    last_minted = cached

    def next_id() -> int:
        nonlocal last_minted
        last_minted = next(ids)
        return last_minted

    receipt: dict[str, int] = {}
    new_nodes, new_edges, new_avs = [], [], []
    new_tags: list[tuple] = []
    close_tags: list[str] = []
    supersede_aes: list[int] = []     # AE ids whose alive row closes at tx
    terminate_ids: list[int] = []     # node ids to close (+ incident edges)
    # tx-local state so wishes in one tx see each other (reference:
    # commands in one GraphDelta resolve against the in-progress tx,
    # graph_delta.py:1242 DAG ordering): (owner, field) -> AE id minted
    # or first touched this tx, and AE id -> index of its pending value
    # row (a second Assign in the same tx overwrites — both happen at
    # the same time slice, last wins).
    local_ae: dict[tuple[int, str], int] = {}
    av_index: dict[int, int] = {}

    def resolve(ref) -> int:
        if isinstance(ref, int):
            return ref
        if isinstance(ref, str) and ref in receipt:
            return receipt[ref]
        raise KeyError(f"unresolved reference {ref!r}")

    # Merge wishes resolve uid → existing id in ONE batched lookup
    merge_uids = {w.uid for w in wishes if isinstance(w, Merge)}
    uid_hits: dict[str, int] = {}
    if merge_uids:
        rows = (g.nodes.where(F.col("uid").isin(merge_uids) &
                              F.col("valid_to_tx").isNull())
                .select("uid", "id").collect())
        uid_hits = {r[0]: r[1] for r in rows}

    # Batch-resolve every (owner, field) → AE pair this tx could touch
    # in ONE filtered scan of the alive edges (VERDICT r1: O(wishes)
    # limit(1).collect() jobs); a join against the pairs would add a
    # broadcast job. The scan keeps every owner × field combination;
    # the exact pairs are picked here. Only int targets and
    # merged-existing nodes can have pre-existing AEs — receipt names
    # are minted this tx.
    pre_pairs = {(w.target, _name(w.field)) for w in wishes
                 if isinstance(w, (Assign, SetField))
                 and isinstance(w.target, int)}
    pre_pairs |= {(uid_hits[w.uid], _name(f)) for w in wishes
                  if isinstance(w, Merge) and w.uid in uid_hits
                  for f in w.fields}
    ae_cache: dict[tuple[int, str], int] = {}
    if pre_pairs:
        hits = (g.edges.where(
            F.col("valid_to_tx").isNull()
            & F.col("src_id").isin({o for o, _ in pre_pairs})
            & F.col("rt").isin({f for _, f in pre_pairs}))
            .select("src_id", "rt", "dst_id").collect())
        ae_cache = {(r[0], r[1]): r[2] for r in hits
                    if (r[0], r[1]) in pre_pairs}

    def field_ae(owner_id: int, fname: str) -> int | None:
        return ae_cache.get((owner_id, fname))

    # field → VRT registry maintained at write time: transact knows the
    # VRT of every value it stores, so reads (NodeSet.field) need no
    # distinct-vrt probe job. A name written with MIXED vrts maps to
    # None, which field() treats as "probe" (preserving the probe's
    # behavior exactly for the ambiguous case).
    tx_vrts: dict[str, str | None] = {}

    def av_row(ae_id: int, fname: str, value) -> tuple:
        vrt = _vrt_of(value)
        if tx_vrts.get(fname, vrt) != vrt:
            tx_vrts[fname] = None
        else:
            tx_vrts[fname] = vrt
        vals = {c: None for c in VALUE_COL_LIST}
        vals[VALUE_COLS[vrt]] = _storage_value(vrt, value)
        return (ae_id, fname, vrt,
                *[vals[c] for c in VALUE_COL_LIST], tx, None)

    def add_field(owner_id: int, fname: str, value):
        vrt = _vrt_of(value)
        ae_id = next_id()
        new_nodes.append((ae_id, f"AET.{vrt}", None, tx, None))
        new_edges.append((next_id(), fname, None, owner_id, ae_id, tx, None))
        local_ae[(owner_id, fname)] = ae_id
        av_index[ae_id] = len(new_avs)
        new_avs.append(av_row(ae_id, fname, value))

    for w in wishes:
        if isinstance(w, E):
            nid = next_id()
            uid = w.name or f"uid-{nid}"
            new_nodes.append((nid, w.et.name, uid, tx, None))
            if w.name:
                receipt[w.name] = nid
            for fname, val in w.fields.items():
                add_field(nid, _name(fname), val)
        elif isinstance(w, R):
            eid = next_id()
            new_edges.append((eid, w.rt.name, w.name,
                              resolve(w.src), resolve(w.dst), tx, None))
            if w.name:
                receipt[w.name] = eid
            for fname, val in w.fields.items():
                add_field(eid, _name(fname), val)
        elif isinstance(w, (Assign, SetField)):
            owner = resolve(w.target)
            fname = _name(w.field)
            ae = local_ae.get((owner, fname))
            if ae is not None:               # field touched earlier this tx
                new_avs[av_index[ae]] = av_row(ae, fname, w.value)
                continue
            ae = field_ae(owner, fname)
            if ae is None:
                add_field(owner, fname, w.value)
            else:
                supersede_aes.append(ae)
                local_ae[(owner, fname)] = ae
                av_index[ae] = len(new_avs)
                new_avs.append(av_row(ae, fname, w.value))
        elif isinstance(w, Merge):
            key = w.name or w.uid
            nid = uid_hits.get(w.uid)
            if nid is None:
                if w.et is None:
                    raise ValueError(
                        f"merge of unknown uid {w.uid!r} needs et")
                nid = next_id()
                new_nodes.append((nid, w.et.name, w.uid, tx, None))
                uid_hits[w.uid] = nid     # second Merge same tx: same id
            receipt[key] = nid
            # fields upsert with SetField semantics (merge of an
            # existing RAE must not mint duplicate AEs)
            for fname, val in w.fields.items():
                fn = _name(fname)
                ae = local_ae.get((nid, fn))
                if ae is not None:
                    new_avs[av_index[ae]] = av_row(ae, fn, val)
                    continue
                ae = field_ae(nid, fn)
                if ae is None:
                    add_field(nid, fn, val)
                else:
                    supersede_aes.append(ae)
                    local_ae[(nid, fn)] = ae
                    av_index[ae] = len(new_avs)
                    new_avs.append(av_row(ae, fn, val))
        elif isinstance(w, Terminate):
            terminate_ids.append(resolve(w.target))
        elif isinstance(w, Tag):
            close_tags.append(w.name)          # re-assign closes old row
            new_tags.append((w.name, resolve(w.target), tx, None))
        elif isinstance(w, Untag):
            close_tags.append(w.name)
        else:
            raise TypeError(f"unknown wish {w!r}")

    nodes, edges, avs = g.nodes, g.edges, g.attr_values
    tset = set(terminate_ids)
    if tset:
        # transitive cascade: closing an edge also closes meta-edges
        # whose endpoint is that edge (relation-of-relation). Depth is
        # the meta-nesting level (almost always ≤2), so a short
        # frontier loop; each round is one pruned scan of edges.
        pend = [(i, s, d, vt) for (i, _, _, s, d, _, vt) in new_edges]
        frontier = tset
        while frontier:
            nxt = set()
            for (i, s, d, vt) in pend:
                if i not in tset and vt is None and (s in frontier
                                                    or d in frontier):
                    nxt.add(i)
            fdf = F.col("src_id").isin(frontier) | \
                F.col("dst_id").isin(frontier)
            stored = (edges.where(fdf & F.col("valid_to_tx").isNull())
                      .select("id").collect())
            nxt.update(r[0] for r in stored)
            frontier = nxt - tset
            tset |= frontier
        # instantiated-and-terminated in the SAME tx ⇒ empty validity
        # interval [tx, tx) — never visible in any slice (reference:
        # instantiation_time_slice == termination_time_slice,
        # blobs.h:160). Close the pending rows too, not just stored ones.
        new_nodes = [(i, et, uid, vf, tx if (i in tset and vt is None)
                      else vt) for (i, et, uid, vf, vt) in new_nodes]
        new_edges = [(i, rt, uid, s, d, vf,
                      tx if ((i in tset or s in tset or d in tset)
                             and vt is None)
                      else vt) for (i, rt, uid, s, d, vf, vt) in new_edges]
        nodes = nodes.withColumn(
            "valid_to_tx",
            F.when(F.col("id").isin(tset) & F.col("valid_to_tx").isNull(),
                   F.lit(tx)).otherwise(F.col("valid_to_tx")))
        edges = edges.withColumn(
            "valid_to_tx",
            F.when((F.col("id").isin(tset) | F.col("src_id").isin(tset)
                    | F.col("dst_id").isin(tset))
                   & F.col("valid_to_tx").isNull(),
                   F.lit(tx)).otherwise(F.col("valid_to_tx")))
    if supersede_aes:
        avs = avs.withColumn(
            "superseded_at_tx",
            F.when(F.col("ae_id").isin(set(supersede_aes)) &
                   F.col("superseded_at_tx").isNull(),
                   F.lit(tx)).otherwise(F.col("superseded_at_tx")))

    if new_nodes:
        nodes = nodes.unionByName(_local_df(spark, new_nodes, NODES_SCHEMA))
    if new_edges:
        edges = edges.unionByName(_local_df(spark, new_edges, EDGES_SCHEMA))
    if new_avs:
        avs = avs.unionByName(
            _local_df(spark, new_avs, ATTR_VALUES_SCHEMA))
    new_txs = [(tx, time)]
    txs = g.txs.unionByName(_local_df(spark, new_txs, TXS_SCHEMA))

    tags = g.tags
    if close_tags or new_tags:
        from .schema import TAGS_SCHEMA
        if tags is None:
            tags = _local_df(spark, [], TAGS_SCHEMA)
        if close_tags:
            tags = tags.withColumn(
                "valid_to_tx",
                F.when(F.col("name").isin(set(close_tags)) &
                       F.col("valid_to_tx").isNull(),
                       F.lit(tx)).otherwise(F.col("valid_to_tx")))
        if new_tags:
            tags = tags.unionByName(
                _local_df(spark, new_tags, TAGS_SCHEMA))

    out = Graph(nodes, edges, avs, txs, tags)
    out._max_tx = tx
    # chain the id high-water mark: the next transact mints ids with
    # no Spark job at all
    out._max_rae_id = max(last_minted, 1 << 60)
    out.schema_validator = g.schema_validator
    # merge this tx's write-time VRTs into the registry; every other
    # fact goes: ids minted here carry no type code, a re-assign
    # supersedes, a terminate closes nodes but not their attr rows
    out.catalog = GraphCatalog(
        rt_vrt=g.catalog.merged_vrts(tx_vrts.items()))
    out.interactive = g.interactive
    delta = TxDelta(tx, new_nodes, new_edges, new_avs, new_txs, new_tags,
                    set(supersede_aes), tset, set(close_tags))
    return out, receipt, delta


class Transaction:
    """Transaction scope (reference RAII Transaction,
    core/include/transaction.h:52-90): wishes appended inside the
    ``with`` block apply atomically at exit; an exception aborts with
    nothing applied (and schema violations abort likewise).

    >>> with Transaction(g, check_schema=True) as txn:
    ...     txn += E(ET.Person, name="p")
    ...     txn += R("p", RT.Knows, some_id)
    >>> g2, receipt = txn.graph, txn.receipt
    """

    def __init__(self, g: Graph, time=None, check_schema: bool = False):
        self._g = g
        self._time = time
        self._check = check_schema
        self.wishes: list = []
        self.graph: Graph | None = None
        self.receipt: dict | None = None

    def append(self, *wishes) -> "Transaction":
        self.wishes.extend(wishes)
        return self

    def __iadd__(self, wish):
        if isinstance(wish, (list, tuple)):
            self.wishes.extend(wish)
        else:
            self.wishes.append(wish)
        return self

    def __enter__(self) -> "Transaction":
        return self

    def __exit__(self, exc_type, exc, tb):
        if exc_type is not None:
            return False                      # abort: nothing applied
        self.graph, self.receipt = transact(
            self._g, self.wishes, time=self._time,
            check_schema=self._check)
        return False


def _name(x) -> str:
    return x.name if isinstance(x, Token) else str(x)
