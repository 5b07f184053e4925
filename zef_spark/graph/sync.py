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
  the current head, extracts the tx's DELTA (new interval rows + the
  closures it stamped on existing rows), writes it to a temp segment
  dir, and claims the tx number with ONE atomic ``os.rename`` to
  ``txlog/<tx>``. If another process claimed that tx first the rename
  fails, the local tx is discarded and the commit retries against the
  refreshed head — optimistic concurrency, last-committer-retries.
- ``store.head()`` / ``store.refresh()`` reconstruct the graph as
  base ∪ segment appends, with closures applied as ONE broadcast
  join per table (segments are wish-sized — control-plane volume;
  bulk data enters through graph/mapper.py or the distributed
  streaming ingest, not through wishes).

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

import json
import os
import uuid

from pyspark.sql import functions as F

from .delta import _local_df, transact
from .graph import Graph
from .schema import (ATTR_VALUES_SCHEMA, EDGES_SCHEMA, NODES_SCHEMA,
                     TAGS_SCHEMA, TXS_SCHEMA)

_SEG_FMT = "{:012d}"


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
        meta = {"base_max_tx": g.max_tx(),
                "rt_vrt": getattr(g, "rt_vrt", None),
                "single_assignment": getattr(g, "single_assignment",
                                             False),
                # id floor of the base: every later commit (wish OR
                # mapped) must mint RAE ids above this. A mapper-built
                # base carries its arithmetic-band bound here; without
                # it a wish id could equal the id a later mapped batch
                # deterministically mints for its next key.
                "base_id_floor": getattr(g, "_max_rae_id", None) or 0}
        with open(os.path.join(path, "meta.json"), "w") as f:
            json.dump(meta, f)
        store = cls(g.spark, path, protocol=protocol)
        return store

    def _meta(self) -> dict:
        with open(os.path.join(self.path, "meta.json")) as f:
            return json.load(f)

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
        meta = self._meta()
        # id floor = max over the base's floor and every segment's
        # recorded high-water mark (wish segments record their last
        # minted id; mapped segments record the mapping's band bound
        # max_payload_id). The rebuilt head inherits it so transact in
        # ANY process mints above every band ever committed here.
        id_floor = meta.get("base_id_floor", 0) or 0
        for _, sp in segs:
            im = os.path.join(sp, "idmax.json")
            if os.path.exists(im):
                with open(im) as f:
                    id_floor = max(id_floor, json.load(f)["idmax"])
        # start from the newest checkpoint at or below the head: a
        # checkpoint segment folds all earlier history into a fresh
        # base snapshot (Delta-checkpoint shape), so rebuild cost is
        # O(segments since last compact), not O(all history)
        base = os.path.join(self.path, "base")
        start, ck_seg = 0, None
        top_tx = segs[-1][0] if segs else meta["base_max_tx"]
        for tx, sp in segs:
            ck = os.path.join(sp, "checkpoint.json")
            if os.path.exists(ck):
                with open(ck) as f:
                    base = os.path.join(self.path, json.load(f)["base"])
                start, ck_seg = tx, sp
        segs = [(t, p) for t, p in segs if t > start]
        g = Graph.load(spark, base)

        def rd(seg_path, name, schema):
            p = os.path.join(seg_path, name)
            if os.path.exists(p):
                return spark.read.schema(schema).parquet(p)
            return None

        def apply(table, key_cols, close_col, news, closes):
            for n in news:
                table = table.unionByName(n)
            if closes:
                cl = closes[0]
                for c in closes[1:]:
                    cl = cl.unionByName(c)
                cl = cl.groupBy(*key_cols).agg(
                    F.min("__closed_at").alias("__closed_at"))
                table = (table.join(F.broadcast(cl), key_cols, "left")
                         .withColumn(close_col,
                                     F.coalesce(close_col,
                                                "__closed_at"))
                         .drop("__closed_at"))
            return table

        n_new, n_cl, e_new, e_cl, a_new, a_cl, t_new = \
            [], [], [], [], [], [], []
        tg_new, tg_cl = [], []
        if ck_seg is not None:
            # the checkpoint's own (empty) tx row isn't in its folded
            # base — carry it so the txs dimension stays gapless
            if (x := rd(ck_seg, "txs", TXS_SCHEMA)) is not None:
                t_new.append(x)
        close_schema = "id long, valid_from_tx long, __closed_at long"
        av_close_schema = ("ae_id long, assigned_at_tx long, "
                          "__closed_at long")
        for _, sp in segs:
            if (x := rd(sp, "nodes", NODES_SCHEMA)) is not None:
                n_new.append(x)
            if (x := rd(sp, "edges", EDGES_SCHEMA)) is not None:
                e_new.append(x)
            if (x := rd(sp, "attr_values",
                        ATTR_VALUES_SCHEMA)) is not None:
                a_new.append(x)
            if (x := rd(sp, "txs", TXS_SCHEMA)) is not None:
                t_new.append(x)
            p = os.path.join(sp, "node_closures")
            if os.path.exists(p):
                n_cl.append(spark.read.schema(close_schema).parquet(p))
            p = os.path.join(sp, "edge_closures")
            if os.path.exists(p):
                e_cl.append(spark.read.schema(close_schema).parquet(p))
            p = os.path.join(sp, "av_closures")
            if os.path.exists(p):
                a_cl.append(spark.read.schema(av_close_schema)
                            .parquet(p))
            if (x := rd(sp, "tags", TAGS_SCHEMA)) is not None:
                tg_new.append(x)
            p = os.path.join(sp, "tag_closures")
            if os.path.exists(p):
                tg_cl.append(spark.read.schema(
                    "name string, valid_from_tx long, __closed_at long"
                ).parquet(p))
        nodes = apply(g.nodes, ["id", "valid_from_tx"], "valid_to_tx",
                      n_new, n_cl)
        edges = apply(g.edges, ["id", "valid_from_tx"], "valid_to_tx",
                      e_new, e_cl)
        avs = apply(g.attr_values, ["ae_id", "assigned_at_tx"],
                    "superseded_at_tx", a_new, a_cl)
        txs = g.txs
        for t in t_new:
            txs = txs.unionByName(t)
        tags = g.tags
        if tg_new or tg_cl:
            if tags is None:
                tags = _local_df(spark, [], TAGS_SCHEMA)
            tags = apply(tags, ["name", "valid_from_tx"],
                         "valid_to_tx", tg_new, tg_cl)
        out = Graph(nodes, edges, avs, txs, tags)
        out.rt_vrt = meta.get("rt_vrt")
        out.single_assignment = bool(meta.get("single_assignment"))
        out._max_tx = top_tx
        out._max_rae_id = id_floor or None
        return out

    # -- write side ---------------------------------------------------

    def commit(self, wishes: list, time=None,
               max_retries: int = 10) -> tuple[Graph, dict]:
        """Apply wishes as the next tx on the SHARED chain. Retries
        against a refreshed head when another process claims the tx
        number first (the atomic-rename race). Returns (head graph
        after commit, receipt)."""
        last_err = None
        for _ in range(max_retries):
            g = self.refresh()
            tx = g.max_tx() + 1
            g2, receipt = transact(g, wishes, time)
            tmp = self.protocol.temp_segment(self.path)
            self._write_segment(g, g2, tx, tmp)
            with open(os.path.join(tmp, "idmax.json"), "w") as f:
                json.dump({"idmax": g2._max_rae_id or 0}, f)
            if not self.protocol.claim(self.path, tx, tmp):
                self.protocol.discard(self.path, tx, tmp)
                last_err = f"tx {tx} already claimed"
                self._head = None             # force re-list
                continue
            self._head, self._head_seg = g2, tx
            return g2, receipt
        raise RuntimeError(
            f"commit lost the tx-claim race {max_retries} times "
            f"(last: {last_err}); the store is under heavy write "
            "contention — batch wishes or add retries")

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
        for _ in range(max_retries):
            g = self.refresh()
            tx = g.max_tx() + 1
            base_name = f"base-{tx:012d}"
            g.materialize(os.path.join(self.path, base_name))
            tmp = self.protocol.temp_segment(self.path)
            os.makedirs(tmp, exist_ok=True)
            with open(os.path.join(tmp, "checkpoint.json"), "w") as f:
                json.dump({"base": base_name}, f)
            # carry the folded history's id floor: clean() may delete
            # the pre-checkpoint segments whose idmax records it
            with open(os.path.join(tmp, "idmax.json"), "w") as f:
                json.dump({"idmax": g._max_rae_id or 0}, f)
            # the checkpoint claims tx; it carries no delta rows, but
            # max_tx must stay monotonic — record an empty tx row
            import datetime
            _local_df(self.spark, [(tx, datetime.datetime(2000, 1, 1)
                                    + datetime.timedelta(days=tx))],
                      TXS_SCHEMA) \
                .write.mode("overwrite").parquet(os.path.join(tmp, "txs"))
            if not self.protocol.claim(self.path, tx, tmp):
                import shutil
                self.protocol.discard(self.path, tx, tmp)
                shutil.rmtree(os.path.join(self.path, base_name),
                              ignore_errors=True)
                self._head = None
                continue
            self._head = None            # rebuild from the checkpoint
            return self.refresh()
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
        import datetime
        import shutil
        from ..streaming.ingest import mapped_parts
        for _ in range(max_retries):
            g = self.refresh()
            tx = g.max_tx() + 1
            time = (datetime.datetime(2000, 1, 1)
                    + datetime.timedelta(days=tx))
            node_parts, edge_parts, av_parts = mapped_parts(
                batch_df, mapping, tx, batch_label=f"tx {tx}")
            tmp = self.protocol.temp_segment(self.path)
            os.makedirs(tmp, exist_ok=True)

            def wr(parts, name):
                df = parts[0]
                for p in parts[1:]:
                    df = df.unionByName(p)
                df.write.mode("overwrite") \
                    .parquet(os.path.join(tmp, name))

            wr(node_parts, "nodes")
            if edge_parts:
                wr(edge_parts, "edges")
            if av_parts:
                wr(av_parts, "attr_values")
            _local_df(self.spark, [(tx, time)], TXS_SCHEMA) \
                .write.mode("overwrite").parquet(os.path.join(tmp, "txs"))
            # record the mapping's band bound: wish commits in ANY
            # process (now or after restart) must mint above it, or a
            # wish id equals the arithmetic id this mapping mints for
            # its next sequential key (ADVICE r05)
            with open(os.path.join(tmp, "idmax.json"), "w") as f:
                json.dump({"idmax": max(mapping.max_payload_id,
                                        g._max_rae_id or 0)}, f)
            if not self.protocol.claim(self.path, tx, tmp):
                self.protocol.discard(self.path, tx, tmp)
                self._head = None
                continue
            self._head = None          # rebuild picks up the segment
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
            ck = os.path.join(sp, "checkpoint.json")
            if os.path.exists(ck):
                with open(ck) as f:
                    ck_tx, ck_base = tx, json.load(f)["base"]
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

    def _write_segment(self, before: Graph, after: Graph, tx: int,
                       seg: str) -> None:
        """Extract tx's delta from the before/after pair. All four
        extracts filter on the tx literal, so they only materialize
        wish-sized row sets; writes are single-file parquet."""
        os.makedirs(seg, exist_ok=True)

        def w(df, name):
            rows = df.limit(1).collect()
            if not rows:
                return
            df.coalesce(1).write.mode("overwrite") \
                .parquet(os.path.join(seg, name))

        w(after.nodes.where(F.col("valid_from_tx") == tx), "nodes")
        w(after.edges.where(F.col("valid_from_tx") == tx), "edges")
        w(after.attr_values.where(F.col("assigned_at_tx") == tx),
          "attr_values")
        w(after.txs.where(F.col("tx_id") == tx), "txs")
        # closures: rows that existed BEFORE tx and were closed AT tx
        w(after.nodes.where((F.col("valid_to_tx") == tx)
                            & (F.col("valid_from_tx") < tx))
          .select("id", "valid_from_tx",
                  F.lit(tx).cast("long").alias("__closed_at")),
          "node_closures")
        w(after.edges.where((F.col("valid_to_tx") == tx)
                            & (F.col("valid_from_tx") < tx))
          .select("id", "valid_from_tx",
                  F.lit(tx).cast("long").alias("__closed_at")),
          "edge_closures")
        w(after.attr_values.where((F.col("superseded_at_tx") == tx)
                                  & (F.col("assigned_at_tx") < tx))
          .select("ae_id", "assigned_at_tx",
                  F.lit(tx).cast("long").alias("__closed_at")),
          "av_closures")
        # tag deltas: temporal names follow the same interval model
        # as RAEs (Tag opens, Untag/re-Tag closes at tx)
        if after.tags is not None:
            w(after.tags.where(F.col("valid_from_tx") == tx), "tags")
            w(after.tags.where((F.col("valid_to_tx") == tx)
                               & (F.col("valid_from_tx") < tx))
              .select("name", "valid_from_tx",
                      F.lit(tx).cast("long").alias("__closed_at")),
              "tag_closures")
