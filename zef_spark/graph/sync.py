"""Multi-process shared-graph sync: a storage-coordinated transaction
log with optimistic commits.

The reference syncs a graph between processes through ZefHub (its
robot suite drives 10 processes sharing one graph,
python/tests/robot/tests/test.robot; ``g | sync`` subscribes to
durable replication, ITF:7436). A Spark engine has no broker daemon —
the idiomatic replacement is a *table-format commit protocol* on
shared storage (the shape Delta Lake's transaction log made standard):

- ``GraphStore.init(g, path)`` materializes a base snapshot
  (token-partitioned parquet — Graph.materialize) plus an empty
  ``txlog/`` directory.
- ``store.commit(wishes)`` runs the normal wish ``transact`` against
  the current head, which also returns the tx's DELTA: the interval
  rows it built on the driver and the ids of the stored rows it
  closed. The closed rows' keys come from one query over the head
  (none when the tx closes nothing stored); each non-empty table is
  written on the driver as one parquet file in a temp segment dir,
  and the tx number is claimed with ONE atomic ``os.rename`` to
  ``txlog/<tx>``. If another process claimed that tx first the rename
  fails, the local tx is discarded and the commit retries against the
  refreshed head — optimistic concurrency, last-committer-retries.
- ``store.head()`` / ``store.refresh()`` reconstruct the graph as
  base ∪ segment appends, with closures applied as ONE broadcast
  join per table (segments are wish-sized — control-plane volume;
  bulk data enters through graph/mapper.py or the distributed
  streaming ingest, not through wishes). A segment holds one
  directory per non-empty table (rows, or closures of stored rows),
  plus the head's catalog facts as of its tx (``catalog.json``: the
  rt→VRT registry and ``single_assignment``) and the id floor later
  writes mint above (``idmax.json``); a compaction checkpoint also
  names its folded base (``checkpoint.json``). The rebuilt head takes
  the newest catalog, so it knows every field name a segment stored.

Any number of processes (or Spark drivers) pointing at the same path
observe the same serializable tx chain; a reader is never blocked by
a writer and vice versa. Crash safety: a temp segment that never got
claimed is invisible garbage; the claim is the commit point.

STORAGE POSTURE — the claim must be ATOMIC and EXCLUSIVE (r07 verdict
order #6). Two interchangeable protocols:

- ``RenameCommitProtocol`` (default): claim = ``os.rename(tmp,
  txlog/<tx>)``. Correct ONLY on filesystems where rename is atomic
  and fails when the destination exists — POSIX local disks, NFSv4,
  HDFS. On S3/GCS-style object stores (including FUSE mounts) rename
  is copy+delete and silently OVERWRITES: two writers can both
  believe they claimed tx N and one commit is lost. The failure mode
  is proven by test (tests/test_graph_sync.py, rename-less shim).
- ``MarkerCommitProtocol``: the object-store posture. The segment is
  written once to a uuid-named dir (never moved — no cross-dir
  object copies), and the claim is a tiny JSON marker
  ``txlog/_commits/<tx>.json`` naming that dir, written with a
  CONDITIONAL PUT (create-if-absent). Locally that is ``open(path,
  'x')`` (O_CREAT|O_EXCL); on S3 pass a ``put_if_absent`` hook using
  ``If-None-Match: *``, on GCS ``x-goog-if-generation-match: 0``, on
  ABFS/HDFS the O_EXCL create already holds. Exactly the commit
  shape Delta Lake's LogStore contract standardized.

Both protocols produce one serializable tx chain; a store's readers
resolve segments claimed under EITHER protocol, so a store can
migrate postures mid-history.
"""

from __future__ import annotations

import functools
import json
import os
import uuid

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, functions as F, types as T

from .delta import TxDelta, _arrow_table, _local_df, _transact, _tx_time
from .graph import Graph, GraphCatalog
from .schema import (ATTR_VALUES_SCHEMA, EDGES_SCHEMA, NODES_SCHEMA,
                     TAGS_SCHEMA, TXS_SCHEMA)

_SEG_FMT = "{:012d}"


# data table -> (its closure table, key columns, close column). A
# closure row is (key columns, closing tx) of a row stored before the
# tx; txs rows are never closed.
_CLOSES = {
    "nodes": ("node_closures", ["id", "valid_from_tx"], "valid_to_tx"),
    "edges": ("edge_closures", ["id", "valid_from_tx"], "valid_to_tx"),
    "attr_values": ("av_closures", ["ae_id", "assigned_at_tx"],
                    "superseded_at_tx"),
    "tags": ("tag_closures", ["name", "valid_from_tx"], "valid_to_tx"),
}

# segment table -> schema of its rows
_SEG_SCHEMAS = {
    "nodes": NODES_SCHEMA, "edges": EDGES_SCHEMA,
    "attr_values": ATTR_VALUES_SCHEMA, "txs": TXS_SCHEMA,
    "tags": TAGS_SCHEMA,
}
_SEG_SCHEMAS.update({
    cl: T.StructType([T.StructField(c, _SEG_SCHEMAS[t][c].dataType)
                      for c in keys]
                     + [T.StructField("__closed_at", T.LongType())])
    for t, (cl, keys, _) in _CLOSES.items()})


def _write_table(seg: str, name: str, rows: list) -> None:
    """Rows of segment table ``name`` as ONE parquet file written on
    the driver; an empty table writes nothing. Readers pass the schema,
    so the file carries no Arrow schema of its own."""
    if not rows:
        return
    os.makedirs(os.path.join(seg, name), exist_ok=True)
    pq.write_table(_arrow_table(rows, _SEG_SCHEMAS[name]),
                   os.path.join(seg, name, "part-00000.parquet"),
                   store_schema=False)


def _dump(seg: str, name: str, obj) -> None:
    with open(os.path.join(seg, name), "w") as f:
        json.dump(obj, f)


def _load(seg: str, name: str):
    """JSON file ``name`` of ``seg``, or None when it has none."""
    p = os.path.join(seg, name)
    if not os.path.exists(p):
        return None
    with open(p) as f:
        return json.load(f)


def _closures(before: Graph, d: TxDelta) -> dict[str, list]:
    """Closure rows of the stored rows tx ``d.tx`` closes, per closure
    table. Their keys come from ONE query over ``before``, restricted to
    the closed ids; a tx that closes no stored row runs none."""
    minted = {r[0] for r in d.nodes} | {r[0] for r in d.edges}
    ended = d.terminated - minted
    closed = {"nodes": ended, "edges": ended,
              "attr_values": d.closed_aes, "tags": d.closed_tags}
    parts: list[DataFrame] = []
    for t, (cl, (key, from_col), close_col) in _CLOSES.items():
        df = getattr(before, t)
        if not closed[t] or df is None:
            continue
        # ids and tag names share one string column, so every part
        # unions into the single query
        k = F.col(key)
        parts.append(df.where(k.isin(closed[t]) & F.col(close_col).isNull())
                     .select(F.lit(cl).alias("t"),
                             k.cast("string").alias("k"), from_col))
    out: dict[str, list] = {}
    if parts:
        for t, k, frm in functools.reduce(DataFrame.union,
                                          parts).collect():
            out.setdefault(t, []).append(
                (k if t == "tag_closures" else int(k), frm, d.tx))
    return out


def _write_delta(seg: str, before: Graph, d: TxDelta) -> None:
    """Segment of tx ``d.tx``: its new rows and the closures it stamps
    on rows stored in ``before``."""
    os.makedirs(seg, exist_ok=True)
    tables = {"nodes": d.nodes, "edges": d.edges,
              "attr_values": d.attr_values, "txs": d.txs, "tags": d.tags,
              **_closures(before, d)}
    for name, rows in tables.items():
        _write_table(seg, name, rows)


class RenameCommitProtocol:
    """Claim tx by atomically renaming the segment dir to its tx
    number. POSIX/HDFS posture — see module docstring for where this
    is UNSAFE."""

    def temp_segment(self, path: str) -> str:
        # dot-prefixed: invisible garbage unless the rename lands
        return os.path.join(path, "txlog", f".tmp-{uuid.uuid4().hex}")

    def claim(self, path: str, tx: int, seg_tmp: str) -> bool:
        final = os.path.join(path, "txlog", _SEG_FMT.format(tx))
        try:
            os.rename(seg_tmp, final)
            return True
        except OSError:
            return False

    def discard(self, path: str, tx: int, seg_tmp: str) -> None:
        import shutil
        shutil.rmtree(seg_tmp, ignore_errors=True)


def _posix_put_if_absent(marker_path: str, data: str) -> bool:
    """Atomic create-if-absent WITH content — the local-FS stand-in
    for an object store's conditional PUT. A real conditional PUT is
    atomic with its body, so the stand-in must be too: the marker is
    fully written+fsynced to a tmp file first and only then linked
    into place (link fails with EEXIST if claimed). ``open(path,'x')``
    would expose a created-but-empty marker to concurrent readers and
    a writer crash would wedge the store on a permanently-empty
    claim."""
    tmp = marker_path + f".put-{uuid.uuid4().hex}"
    try:
        with open(tmp, "w") as f:
            f.write(data)
            f.flush()
            os.fsync(f.fileno())
        try:
            os.link(tmp, marker_path)
            return True
        except FileExistsError:
            return False
    finally:
        try:
            os.unlink(tmp)
        except OSError:
            pass


class MarkerCommitProtocol:
    """Claim tx by conditional-putting ``txlog/_commits/<tx>.json``
    naming the (immovable) uuid segment dir. Object-store posture:
    no rename ever happens after the segment is written. Pass
    ``put_if_absent(path, data) -> bool`` to bind a real store's
    conditional-write primitive; the default is the POSIX O_EXCL
    create."""

    def __init__(self, put_if_absent=None):
        self._put = put_if_absent or _posix_put_if_absent

    def temp_segment(self, path: str) -> str:
        # the segment's PERMANENT home once its marker lands — data
        # never moves, only the marker commits it
        return os.path.join(path, "txlog", f"seg-{uuid.uuid4().hex}")

    def claim(self, path: str, tx: int, seg_tmp: str) -> bool:
        cdir = os.path.join(path, "txlog", "_commits")
        os.makedirs(cdir, exist_ok=True)
        marker = os.path.join(cdir, _SEG_FMT.format(tx) + ".json")
        data = json.dumps({"segment": os.path.basename(seg_tmp)})
        return self._put(marker, data)

    def discard(self, path: str, tx: int, seg_tmp: str) -> None:
        import shutil
        shutil.rmtree(seg_tmp, ignore_errors=True)


def _read_marker(mpath: str, retries: int = 3, delay: float = 0.05):
    """Parse a commit marker, tolerating a non-atomic foreign writer:
    on a parse failure re-read a few times (the body may still be in
    flight) and only after it is STABLY unparsable return None so the
    caller can skip it instead of wedging the store."""
    import time
    for attempt in range(retries):
        try:
            with open(mpath) as f:
                return json.load(f)["segment"]
        except (ValueError, KeyError):
            if attempt < retries - 1:
                time.sleep(delay)
    return None


def _seg_dirs(path: str) -> list[tuple[int, str]]:
    """Resolve the committed segment chain under BOTH claim styles:
    rename-claimed digit dirs and marker-claimed uuid dirs. A tx
    claimed both ways cannot happen (each tx number is claimed by
    exactly one protocol instance); if a corrupted store presents
    both, the marker — the stronger claim — wins deterministically."""
    log = os.path.join(path, "txlog")
    out = {}
    for name in os.listdir(log):
        if name.isdigit():
            out[int(name)] = os.path.join(log, name)
    cdir = os.path.join(log, "_commits")
    if os.path.isdir(cdir):
        for name in os.listdir(cdir):
            if not name.endswith(".json"):
                continue
            tx = int(name[:-5])
            mpath = os.path.join(cdir, name)
            seg = _read_marker(mpath)
            if seg is None:
                # stably-empty marker from a foreign/crashed writer
                # (our own put is atomic-with-content): skip rather
                # than wedge every refresh on a JSONDecodeError
                continue
            out[tx] = os.path.join(log, seg)
    return sorted(out.items())


class GraphStore:
    """A shared, durable graph: base snapshot + committed tx segments.
    One instance per process; all instances on the same ``path`` see
    one serializable history."""

    def __init__(self, spark, path: str, protocol=None):
        self.spark = spark
        self.path = path
        self.protocol = protocol or RenameCommitProtocol()
        self._head: Graph | None = None
        self._head_seg = -1          # highest applied segment tx

    # -- lifecycle ----------------------------------------------------

    @classmethod
    def init(cls, g: Graph, path: str, protocol=None) -> "GraphStore":
        """Materialize ``g`` as the base snapshot and open the store.
        The base graph's max_tx seeds the tx chain."""
        os.makedirs(os.path.join(path, "txlog"), exist_ok=True)
        g.materialize(os.path.join(path, "base"))
        _dump(path, "meta.json", {
            "base_max_tx": g.max_tx(),
            "rt_vrt": g.catalog.rt_vrt,
            "single_assignment": g.catalog.single_assignment,
            # id floor of the base: every later commit (wish OR
            # mapped) must mint RAE ids above this. A mapper-built
            # base carries its arithmetic-band bound here; without
            # it a wish id could equal the id a later mapped batch
            # deterministically mints for its next key.
            "base_id_floor": g._max_rae_id or 0})
        return cls(g.spark, path, protocol=protocol)

    # -- read side ----------------------------------------------------

    def refresh(self) -> Graph:
        """Re-list the tx log and rebuild the head if new segments
        landed (what another process committed becomes visible here).
        Cheap when nothing changed (one listdir)."""
        segs = _seg_dirs(self.path)
        top = segs[-1][0] if segs else -1
        if self._head is not None and top == self._head_seg:
            return self._head
        self._head = self._build(segs)
        self._head_seg = top
        return self._head

    head = refresh

    def _build(self, segs: list[tuple[int, str]]) -> Graph:
        spark = self.spark
        meta = _load(self.path, "meta.json")
        # start from the newest checkpoint at or below the head: a
        # checkpoint segment folds all earlier history into a fresh
        # base snapshot (Delta-checkpoint shape), so rebuild cost is
        # O(segments since last compact), not O(all history). Its own
        # (empty) tx row is not in its folded base; it is read below
        # with the later segments' rows, so the txs stay gapless.
        base, start = os.path.join(self.path, "base"), -1
        for tx, sp in segs:
            if (ck := _load(sp, "checkpoint.json")) is not None:
                base, start = os.path.join(self.path, ck["base"]), tx
        # id floor = max over the base's floor and every segment's
        # recorded high-water mark (wish segments record their last
        # minted id; mapped segments record the mapping's band bound
        # max_payload_id). The rebuilt head inherits it so transact in
        # ANY process mints above every band ever committed here.
        id_floor = meta.get("base_id_floor", 0) or 0
        # the catalog is the newest recorded one: the checkpoint's or a
        # later segment's. A segment that records none (written before
        # segments recorded theirs) leaves the names it stored unknown,
        # so the head keeps no registry and reads take the general path.
        cat = GraphCatalog(
            rt_vrt=meta.get("rt_vrt"),
            single_assignment=bool(meta.get("single_assignment")))
        parts: dict[str, list] = {name: [] for name in _SEG_SCHEMAS}
        for tx, sp in segs:
            if (im := _load(sp, "idmax.json")) is not None:
                id_floor = max(id_floor, im["idmax"])
            if tx < start:
                continue
            c = _load(sp, "catalog.json")
            cat = GraphCatalog(**c) if c is not None else GraphCatalog()
            for name, schema in _SEG_SCHEMAS.items():
                if os.path.exists(p := os.path.join(sp, name)):
                    parts[name].append(spark.read.schema(schema).parquet(p))
        g = Graph.load(spark, base)
        tables = {"nodes": g.nodes, "edges": g.edges,
                  "attr_values": g.attr_values, "txs": g.txs,
                  "tags": g.tags}
        for t, table in tables.items():
            cl, keys, close_col = _CLOSES.get(t, (None, None, None))
            closes = parts.get(cl, [])
            if not parts[t] and not closes:
                continue
            if table is None:
                table = _local_df(spark, [], TAGS_SCHEMA)
            for n in parts[t]:
                table = table.unionByName(n)
            if closes:
                # ONE broadcast join applies every segment's closures
                cl_df = functools.reduce(DataFrame.unionByName, closes) \
                    .groupBy(*keys).agg(
                        F.min("__closed_at").alias("__closed_at"))
                table = (table.join(F.broadcast(cl_df), keys, "left")
                         .withColumn(close_col,
                                     F.coalesce(close_col, "__closed_at"))
                         .drop("__closed_at"))
            tables[t] = table
        out = Graph(**tables)
        out.catalog = cat
        out._max_tx = segs[-1][0] if segs else meta["base_max_tx"]
        out._max_rae_id = id_floor or None
        return out

    # -- write side ---------------------------------------------------

    def _claim(self, seg: str, tx: int, cat: GraphCatalog,
               idmax: int) -> bool:
        """Seal segment ``seg`` and claim ``tx`` with it. Every segment
        records the head's catalog facts as of its tx (the rt→VRT
        registry with every name and VRT it wrote merged in, and
        whether the head is still single_assignment) and the id floor
        later writes must mint above. A lost claim discards ``seg``
        and drops the head, so the caller retries on a re-listed one."""
        _dump(seg, "catalog.json",
              {"rt_vrt": cat.rt_vrt,
               "single_assignment": cat.single_assignment})
        _dump(seg, "idmax.json", {"idmax": idmax})
        if self.protocol.claim(self.path, tx, seg):
            return True
        self.protocol.discard(self.path, tx, seg)
        self._head = None
        return False

    def commit(self, wishes: list, time=None,
               max_retries: int = 10) -> tuple[Graph, dict]:
        """Apply wishes as the next tx on the SHARED chain. Retries
        against a refreshed head when another process claims the tx
        number first (the atomic-rename race). Returns (head graph
        after commit, receipt)."""
        for _ in range(max_retries):
            g = self.refresh()
            g2, receipt, delta = _transact(g, wishes, time, False)
            tmp = self.protocol.temp_segment(self.path)
            _write_delta(tmp, g, delta)
            if self._claim(tmp, delta.tx, g2.catalog, g2._max_rae_id or 0):
                self._head, self._head_seg = g2, delta.tx
                return g2, receipt
        raise RuntimeError(
            f"commit lost the tx-claim race {max_retries} times; the "
            "store is under heavy write contention — batch wishes or "
            "add retries")

    def compact(self, max_retries: int = 5) -> Graph:
        """Fold the current head (base + all segments) into a fresh
        base snapshot and claim the next tx number as a CHECKPOINT
        segment — subsequent rebuilds start there instead of replaying
        the whole segment chain (the unbounded-small-files fix for a
        long-lived store). Concurrency-safe via the same atomic-rename
        claim as commit: a writer that lands a segment mid-compaction
        wins the slot and compaction retries on the refreshed head.
        Old segments/bases are left for in-flight readers; delete them
        out-of-band once no reader can be older than the checkpoint."""
        import shutil
        for _ in range(max_retries):
            g = self.refresh()
            tx = g.max_tx() + 1
            base_name = f"base-{tx:012d}"
            g.materialize(os.path.join(self.path, base_name))
            tmp = self.protocol.temp_segment(self.path)
            os.makedirs(tmp, exist_ok=True)
            _dump(tmp, "checkpoint.json", {"base": base_name})
            # the checkpoint claims tx; it carries no delta rows, but
            # max_tx must stay monotonic — record an empty tx row
            _write_table(tmp, "txs", [(tx, _tx_time(tx))])
            # carry the folded history's id floor: clean() may delete
            # the pre-checkpoint segments whose idmax records it
            if self._claim(tmp, tx, g.catalog, g._max_rae_id or 0):
                self._head = None        # rebuild from the checkpoint
                return self.refresh()
            shutil.rmtree(os.path.join(self.path, base_name),
                          ignore_errors=True)
        raise RuntimeError("compact lost the tx-claim race repeatedly")

    def commit_mapped(self, batch_df, mapping,
                      max_retries: int = 10) -> Graph:
        """DISTRIBUTED bulk commit into the shared graph: map the
        batch to node/edge/attr rows as DataFrame selects
        (streaming.ingest.mapped_parts — deterministic arithmetic
        ids, payload never driver-materialized), write them straight
        into a tx segment with distributed parquet writes, and claim
        the tx with the same atomic rename as commit(). This is how
        DATA-plane volume enters a multi-process graph; wish commits
        stay the control plane. On a lost claim race the segment is
        rewritten against the refreshed head's tx (the mapping's ids
        are tx-independent, so retry is cheap and safe)."""
        from ..streaming.ingest import _mapped_catalog, mapped_parts
        for _ in range(max_retries):
            g = self.refresh()
            tx = g.max_tx() + 1
            parts = mapped_parts(batch_df, mapping, tx,
                                 batch_label=f"tx {tx}")
            tmp = self.protocol.temp_segment(self.path)
            os.makedirs(tmp, exist_ok=True)
            for name, dfs in zip(("nodes", "edges", "attr_values"), parts):
                if dfs:
                    functools.reduce(DataFrame.unionByName, dfs).write \
                        .mode("overwrite").parquet(os.path.join(tmp, name))
            _write_table(tmp, "txs", [(tx, _tx_time(tx))])
            # record the mapping's band bound: wish commits in ANY
            # process (now or after restart) must mint above it, or a
            # wish id equals the arithmetic id this mapping mints for
            # its next sequential key (ADVICE r05)
            if self._claim(tmp, tx,
                           _mapped_catalog(g.catalog, mapping, batch_df),
                           max(mapping.max_payload_id,
                               g._max_rae_id or 0)):
                self._head = None      # rebuild picks up the segment
                return self.refresh()
        raise RuntimeError(
            f"commit_mapped lost the tx-claim race {max_retries} "
            "times; the store is under heavy write contention")

    def clean(self) -> list[str]:
        """Delete history made redundant by the newest checkpoint:
        segments at or below it (except the checkpoint itself) and
        superseded base snapshots. Run this only once no reader can be
        holding a head older than the checkpoint (same contract as
        Delta's VACUUM retention). Returns the removed paths."""
        import shutil
        segs = _seg_dirs(self.path)
        ck_tx, ck_base = None, None
        for tx, sp in segs:
            if (ck := _load(sp, "checkpoint.json")) is not None:
                ck_tx, ck_base = tx, ck["base"]
        if ck_tx is None:
            return []
        removed = []
        cdir = os.path.join(self.path, "txlog", "_commits")
        for tx, sp in segs:
            if tx < ck_tx:
                # marker first: a marker pointing at a deleted
                # segment would crash readers that list mid-clean
                marker = os.path.join(cdir,
                                      _SEG_FMT.format(tx) + ".json")
                if os.path.exists(marker):
                    os.remove(marker)
                shutil.rmtree(sp)
                removed.append(sp)
        for name in os.listdir(self.path):
            if name == ck_base or not (name == "base"
                                       or name.startswith("base-")):
                continue
            p = os.path.join(self.path, name)
            shutil.rmtree(p)
            removed.append(p)
        self._head = None
        return removed
