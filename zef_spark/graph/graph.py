"""Graph, GraphSlice, NodeSet/EdgeSet — the query-time handles.

Reference parity:
- GraphSlice (python/zef/core/graph_slice.py:24-74) = the state of the
  graph at one tx ("reference frame"); here a (Graph, tx_id) pair whose
  reads compile to pushed-down interval predicates
  ``valid_from_tx <= t AND (valid_to_tx IS NULL OR valid_to_tx > t)``.
- ZefRef/EZefRef (core/include/zefref.h) generalize to *sets*:
  NodeSet/EdgeSet wrap a lazy DataFrame of rows plus the frame tx, so a
  chain ``all[ET.X] | Outs[RT.R] | fields[...]`` builds ONE join plan
  (the traversal-chain compilation called out in SURVEY §4).
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .algorithms import _bfs_frontiers
from .schema import ID_KEY_BITS, VALUE_COLS, VALUE_COL_LIST


def _alive(df: DataFrame, tx: int) -> DataFrame:
    return df.where((F.col("valid_from_tx") <= F.lit(tx)) &
                    (F.col("valid_to_tx").isNull() |
                     (F.col("valid_to_tx") > F.lit(tx))))


def _rae_view(g, tx: int) -> DataFrame:
    """All alive RAEs — nodes AND relations — as one id-addressable
    set (id, et, uid, intervals). Relations surface with
    ``et = "RT.<rt>"`` so traversal endpoints can be edges
    (relation-of-relation, reference blobs.h:221-222: edges are
    first-class sources/targets). The union is lazy; a hop that only
    ever lands on nodes keeps the edge branch pruned by Catalyst only
    when ids can't match — so prefer node-only joins where the schema
    guarantees node endpoints (field reads do)."""
    nodes = _alive(g.nodes, tx)
    edges = _alive(g.edges, tx).select(
        "id", F.concat(F.lit("RT."), F.col("rt")).alias("et"),
        "uid", "valid_from_tx", "valid_to_tx")
    return nodes.unionByName(edges)


class Graph:
    """The eternal graph: four lazy DataFrames."""

    _zef_graph_kind = True

    def __init__(self, nodes: DataFrame, edges: DataFrame,
                 attr_values: DataFrame, txs: DataFrame,
                 tags: DataFrame | None = None):
        self.nodes = nodes
        self.edges = edges
        self.attr_values = attr_values
        self.txs = txs
        self.tags = tags
        self._max_tx = None
        self._max_tx_df = None  # optional cheap plan for max(tx_id)
        self._max_rae_id = None  # id high-water mark (set by transact)
        # optional constraint validator callable(wishes, graph);
        # carried across transacts (graphs are immutable values)
        self.schema_validator = None
        self.rt_vrt: dict[str, str] | None = None  # optional rt→VRT registry
        # True when every AE has exactly one assignment row ever
        # (bulk-ingested graphs): enables no-shuffle field reads
        self.single_assignment = False
        # optional dst-major edge PROJECTION (same rows as edges,
        # bucketed/sorted by dst_id): In-traversals probe it so the
        # join co-locates without a shuffle. Maintained by
        # materialize_bucketed(dual_projection=True); a transact
        # result drops it (the union isn't bucketed anymore).
        self.edges_dst = None
        # True for driver-built in-memory graphs (empty_graph +
        # transact chains): point-lookup joins hint broadcast —
        # their sides are wish-list-sized by construction, and the
        # cost of letting AQE discover that is two shuffle-stage
        # round trips PER lookup. Parquet/mapper graphs keep the
        # planner's choice (a non-selective value could be huge).
        self.interactive = False

    @property
    def spark(self):
        return self.nodes.sparkSession

    def max_tx(self) -> int:
        if self._max_tx is None:
            src = (self._max_tx_df if self._max_tx_df is not None
                   else self.txs.agg(F.max("tx_id")))
            self._max_tx = src.collect()[0][0]
        return self._max_tx

    def now(self) -> "GraphSlice":
        return GraphSlice(self, self.max_tx())

    def at(self, tx_or_time) -> "GraphSlice":
        if isinstance(tx_or_time, int):
            return GraphSlice(self, tx_or_time)
        # time-based: latest tx with time <= t (binary search in the
        # reference, graph_slice.py:60-68; an agg over the small txs
        # dimension here)
        t = self.txs.where(F.col("time") <= F.lit(tx_or_time)) \
            .agg(F.max("tx_id")).collect()[0][0]
        if t is None:
            raise ValueError(f"no transaction at or before {tx_or_time!r}")
        return GraphSlice(self, t)

    def materialize(self, path: str, files_per_token: int = 8):
        """Persist as parquet partitioned by type token (= the
        delegate index via partition pruning). The writer partitioning
        is (token, id-hash salt): bounded files per token directory
        (no small-file explosion) but MORE than one, so scans of a
        single token parallelize — one-file-per-token capped every
        downstream stage at 1 task per token, which a production-size
        table would never exhibit."""
        def _w(df, part_col, salt_col, out):
            salt = F.pmod(F.xxhash64(F.col(salt_col)),
                          F.lit(files_per_token))
            (df.repartition(F.col(part_col), salt)
             .write.mode("overwrite").partitionBy(part_col)
             .parquet(out))

        _w(self.nodes, "et", "id", f"{path}/nodes")
        _w(self.edges, "rt", "src_id", f"{path}/edges")
        _w(self.attr_values, "attr_rt", "ae_id", f"{path}/attr_values")
        self.txs.write.mode("overwrite").parquet(f"{path}/txs")
        if self.tags is not None:
            self.tags.write.mode("overwrite").parquet(f"{path}/tags")

    def materialize_bucketed(self, prefix: str, buckets: int = 64,
                             token_partitions: bool = True,
                             dual_projection: bool = False):
        """Persist as BUCKETED tables (nodes by id, edges by src_id,
        attr_values by ae_id, all sorted within buckets): hop joins
        (edges.src_id = nodes.id) and field reads co-locate with ZERO
        exchange on the bucketed sides — the 100 TB layout where the
        per-tx shuffle is paid once at ingest, not per query. With
        ``token_partitions`` (default) each table is ALSO partitioned
        by its type token, so selective token predicates still prune
        directories — co-location and pruning are not a trade-off.

        Measured at sf0.1 local[32] (r04): this hybrid removes 3 of 10
        exchanges from the 2-hop revenue query (plan-verified) at
        par wall-time; the pure token-partitioned layout stays the
        LOCAL default in graph_for because bucketed scans cap read
        parallelism at `buckets` files per token, which dominates at
        toy scale and vanishes on a cluster. Src-major bucketing
        optimizes Out-traversal; ``dual_projection=True`` ALSO writes
        the dst-major edge projection (same rows bucketed by dst_id —
        the schema.py scale note made real): In-traversals probe it
        and co-locate too, at the cost of storing edges twice — the
        standard trade for a graph with heavy reverse traversals.
        Uses the session catalog (saveAsTable — plain parquet + bucket
        metadata, no Hive needed)."""
        spark = self.spark
        warehouse = spark.conf.get("spark.sql.warehouse.dir", "")
        for tbl in (f"{prefix}_nodes", f"{prefix}_edges",
                    f"{prefix}_edges_dst",
                    f"{prefix}_attr_values", f"{prefix}_txs",
                    f"{prefix}_tags"):
            spark.sql(f"DROP TABLE IF EXISTS {tbl}")
            # a table location can survive a crashed session even when
            # the (in-memory) catalog has no entry for it; saveAsTable
            # then refuses with LOCATION_ALREADY_EXISTS
            loc = warehouse.removeprefix("file:")
            if loc:
                import shutil
                shutil.rmtree(f"{loc}/{tbl}", ignore_errors=True)

        def _write(df, part_col, bucket_col, tbl):
            w = df
            if token_partitions:
                # one writer per (token, bucket): repartition by the
                # partition column so a token directory isn't written
                # by every task
                w = w.repartition(F.col(part_col))
            wr = w.write
            if token_partitions:
                wr = wr.partitionBy(part_col)
            (wr.bucketBy(buckets, bucket_col).sortBy(bucket_col)
             .mode("overwrite").saveAsTable(tbl))

        _write(self.nodes, "et", "id", f"{prefix}_nodes")
        _write(self.edges, "rt", "src_id", f"{prefix}_edges")
        if dual_projection:
            _write(self.edges, "rt", "dst_id", f"{prefix}_edges_dst")
        _write(self.attr_values, "attr_rt", "ae_id",
               f"{prefix}_attr_values")
        self.txs.write.mode("overwrite").saveAsTable(f"{prefix}_txs")
        if self.tags is not None:
            self.tags.write.mode("overwrite") \
                .saveAsTable(f"{prefix}_tags")

    @staticmethod
    def load_bucketed(spark, prefix: str) -> "Graph":
        tags = None
        if spark.catalog.tableExists(f"{prefix}_tags"):
            tags = spark.table(f"{prefix}_tags")
        g = Graph(spark.table(f"{prefix}_nodes"),
                  spark.table(f"{prefix}_edges"),
                  spark.table(f"{prefix}_attr_values"),
                  spark.table(f"{prefix}_txs"), tags=tags)
        if spark.catalog.tableExists(f"{prefix}_edges_dst"):
            g.edges_dst = spark.table(f"{prefix}_edges_dst")
        return g

    @staticmethod
    def load(spark, path: str) -> "Graph":
        # explicit schemas: an EMPTY table (a fieldless graph has no
        # edges yet) materializes as a parquet dir with no data files,
        # which schema inference cannot read back — the schemas are
        # fixed by the interval model anyway (graph/schema.py)
        from .schema import (ATTR_VALUES_SCHEMA, EDGES_SCHEMA,
                             NODES_SCHEMA, TAGS_SCHEMA, TXS_SCHEMA)
        rd = lambda name, sch: spark.read.schema(sch) \
            .parquet(f"{path}/{name}")
        # tags are optional: only present when the graph ever tagged
        # (mirrors the in-memory Graph where tags=None until first
        # tag). Existence is probed through Spark's own reader, NOT
        # os.path.exists — the store may live behind any Hadoop-
        # compatible URI (hdfs://, s3a://) where a local stat would
        # silently report absent and drop the tags.
        try:
            tags = rd("tags", TAGS_SCHEMA)
            tags.schema  # force analysis so a missing dir surfaces here
        except Exception:
            tags = None
        return Graph(rd("nodes", NODES_SCHEMA),
                     rd("edges", EDGES_SCHEMA),
                     rd("attr_values", ATTR_VALUES_SCHEMA),
                     rd("txs", TXS_SCHEMA),
                     tags=tags)


class GraphSlice:
    """Reference frame: all reads as-of ``tx``."""

    _zef_graph_kind = True

    def __init__(self, graph: Graph, tx: int):
        horizon = getattr(graph, "vacuum_horizon", None)
        if horizon is not None and tx < horizon:
            raise ValueError(
                f"frame tx={tx} is below the vacuum horizon "
                f"{horizon}: history before the horizon was "
                f"compacted away (graph/vacuum.py)")
        self.graph = graph
        self.tx = tx

    def nodes(self) -> DataFrame:
        return _alive(self.graph.nodes, self.tx)

    def edges(self) -> DataFrame:
        return _alive(self.graph.edges, self.tx)

    def time(self):
        return (self.graph.txs.where(F.col("tx_id") == self.tx)
                .select("time").collect()[0][0])

    def all(self, vt=None) -> "NodeSet":
        df = self.nodes()
        all_et = None
        if vt is not None:
            from ..vt import RAEType, _coerce
            cvt = _coerce(vt)
            df = df.where(cvt.to_column())
            # r12: mark the UNFILTERED all-of-one-ET set — field()
            # can then skip its owner-restriction join (the attr
            # rows' as-of filter already implies an alive owner of
            # exactly this type; see _field_df)
            if isinstance(cvt, RAEType) and cvt.token.kind == "ET":
                all_et = cvt.token.name
        ns = NodeSet(self, df)
        ns._all_et = all_et
        return ns

    def by_tag(self, name: str) -> "NodeSet":
        """Resolve a temporal tag to its target *in this frame*
        (ITF:7361 `tag`; lookup is frame-relative like every read)."""
        g = self.graph
        if g.tags is None:
            raise KeyError(f"graph has no tags (looking up {name!r})")
        t = _alive(g.tags.where(F.col("name") == name), self.tx)
        ids = t.select(F.col("target_id").alias("id"))
        return NodeSet(self, _alive(g.nodes, self.tx)
                       .join(ids, "id", "left_semi"))

    def diff(self, other: "GraphSlice") -> DataFrame:
        """RAE-level changes between two frames of the SAME graph:
        (kind, id, token) rows where kind ∈ {instantiated, terminated,
        assigned} — the set-oriented form of the reference's
        per-frame `events` stream (streaming/events.py), answered
        directly from the bitemporal interval columns with five
        pushed-down range scans (node + edge instantiations and
        terminations, attribute assignments — relations are RAEs too,
        mirroring derive_event_log) and zero joins. `assigned` rows
        carry the attribute's rt as token and the AE id; edge rows
        carry their rt as token."""
        if other.graph is not self.graph:
            raise ValueError("diff requires frames of the same graph")
        t1, t2 = sorted((self.tx, other.tx))
        g = self.graph
        win = lambda c: (F.col(c) > F.lit(t1)) & (F.col(c) <= F.lit(t2))  # noqa: E731
        inst = g.nodes.where(win("valid_from_tx")).select(
            F.lit("instantiated").alias("kind"), "id",
            F.col("et").alias("token"))
        term = g.nodes.where(win("valid_to_tx")).select(
            F.lit("terminated").alias("kind"), "id",
            F.col("et").alias("token"))
        e_inst = g.edges.where(win("valid_from_tx")).select(
            F.lit("instantiated").alias("kind"), "id",
            F.col("rt").alias("token"))
        e_term = g.edges.where(win("valid_to_tx")).select(
            F.lit("terminated").alias("kind"), "id",
            F.col("rt").alias("token"))
        assigned = g.attr_values.where(win("assigned_at_tx")).select(
            F.lit("assigned").alias("kind"),
            F.col("ae_id").alias("id"),
            F.coalesce("attr_rt", F.col("vrt")).alias("token"))
        return (inst.unionByName(term).unionByName(e_inst)
                .unionByName(e_term).unionByName(assigned))

    def time_travel(self, delta) -> "GraphSlice":
        """Relative slice move (ITF:5493, full dispatch ITF:5518-5527):
        Int → move that many slices along the tx chain; Duration
        (Quantity in seconds, e.g. ``-3.5 * units.seconds``) → shift
        this frame's wall-clock time and re-resolve the latest tx at
        or before it; Time/datetime → absolute (same as Graph.at).
        All forms are index arithmetic over the (small, broadcastable)
        txs dimension."""
        import datetime as _dt
        from ..units import QuantityFloat, QuantityInt, is_duration
        if isinstance(delta, (QuantityInt, QuantityFloat)):
            if not is_duration(delta):
                raise ValueError(
                    f"time_travel needs a duration in seconds, got "
                    f"unit {delta.unit!r}")
            target = self.time() + _dt.timedelta(seconds=delta.value)
            return self.graph.at(target)
        if isinstance(delta, _dt.datetime):
            return self.graph.at(delta)
        txs = self.graph.txs
        target = (txs.where(F.col("tx_id") <= self.tx) if delta <= 0
                  else txs)
        w_sorted = (target.orderBy(F.col("tx_id").desc())
                    .limit(1 - delta) if delta <= 0 else None)
        if delta <= 0:
            rows = w_sorted.collect()
            if len(rows) < 1 - delta:
                raise ValueError("time_travel before graph start")
            return GraphSlice(self.graph, rows[-1][0])
        rows = (txs.where(F.col("tx_id") > self.tx)
                .orderBy("tx_id").limit(delta).collect())
        if len(rows) < delta:
            raise ValueError("time_travel past latest tx")
        return GraphSlice(self.graph, rows[-1][0])


class NodeSet:
    """A set of node rows in a frame; df columns: id, et, uid,
    valid_from_tx, valid_to_tx (+ any accumulated field columns)."""

    _zef_graph_kind = True

    def __init__(self, frame: GraphSlice, df: DataFrame):
        self.frame = frame
        self.df = df

    # -- traversal (SURVEY §2.J: hop = equi-join through edges) ------
    def _hop(self, rt, direction: str) -> "NodeSet":
        g, t = self.frame.graph, self.frame.tx
        # In-traversals probe on dst_id: prefer the dst-major edge
        # projection when the graph maintains one (schema.py scale
        # notes; materialize_bucketed dual_projection) — same rows,
        # bucketed/sorted by dst_id so the probe co-locates
        src = (g.edges_dst if direction == "in"
               and getattr(g, "edges_dst", None) is not None
               else g.edges)
        e = _alive(src, t)
        if rt is not None:
            e = e.where(F.col("rt") == _rt_name(rt))
        here, there = (("src_id", "dst_id") if direction == "out"
                       else ("dst_id", "src_id"))
        ids = self.df.select(F.col("id").alias("__from"))
        hopped = e.join(ids, e[here] == ids["__from"], "inner") \
                  .select(F.col(there).alias("id"))
        # endpoints may be nodes OR edges (relation-of-relation)
        return NodeSet(self.frame,
                       _rae_view(g, t).join(hopped.distinct(), "id",
                                            "inner"))

    def Outs(self, rt=None) -> "NodeSet":
        return self._hop(rt, "out")

    def Ins(self, rt=None) -> "NodeSet":
        return self._hop(rt, "in")

    def _endpoint_restriction(self, e: DataFrame, endpoint: str):
        """r12 (guide §2.4 "remove shuffles outright"): restricting an
        edge scan to the endpoints in THIS set is a row-local type
        filter — not a join — when the set is an UNFILTERED all[ET.X]
        of a mapper-built graph: (a) ids carry the type code in their
        high bits (`_mkid`), so `endpoint >> ID_KEY_BITS == code`
        selects exactly type-X endpoints; (b) the mapper's liveness
        invariant (every edge enters at-or-after both endpoints, and
        single-assignment graphs never terminate) makes edge-alive-at-t
        imply endpoint-alive-at-t, so the alive-nodes restriction adds
        nothing to the edge scan's own as-of filter. Returns the
        filtered frame, or None when the fast path does not apply
        (filtered/derived sets keep the join)."""
        g = self.frame.graph
        all_et = getattr(self, "_all_et", None)
        if all_et is None or not getattr(g, "single_assignment", False):
            return None
        code = (getattr(g, "et_code", None) or {}).get(all_et)
        if code is None:
            return None
        return e.where(
            F.shiftright(F.col(endpoint), ID_KEY_BITS) == F.lit(code))

    def out_rels(self, rt=None) -> "EdgeSet":
        g, t = self.frame.graph, self.frame.tx
        e = _alive(g.edges, t)
        if rt is not None:
            e = e.where(F.col("rt") == _rt_name(rt))
        fast = self._endpoint_restriction(e, "src_id")
        if fast is not None:
            return EdgeSet(self.frame, fast)
        ids = self.df.select(F.col("id").alias("__from"))
        return EdgeSet(self.frame,
                       e.join(ids, e["src_id"] == ids["__from"], "inner")
                       .drop("__from"))

    def in_rels(self, rt=None) -> "EdgeSet":
        g, t = self.frame.graph, self.frame.tx
        src = (g.edges_dst if getattr(g, "edges_dst", None) is not None
               else g.edges)
        e = _alive(src, t)
        if rt is not None:
            e = e.where(F.col("rt") == _rt_name(rt))
        fast = self._endpoint_restriction(e, "dst_id")
        if fast is not None:
            return EdgeSet(self.frame, fast)
        ids = self.df.select(F.col("id").alias("__from"))
        return EdgeSet(self.frame,
                       e.join(ids, e["dst_id"] == ids["__from"], "inner")
                       .drop("__from"))

    def field_via(self, rel_rt, field_rt, alias: str | None = None
                  ) -> DataFrame:
        """(id, value) where `id` is the TARGET of each node's
        outgoing `rel_rt` edge and `value` the node's own `field_rt`
        — the fused hop+field behind aggregate-along-edge reads
        (e.g. revenue per order from lineitem prices).

        Fast path (r12): when the mapper declares `rel_rt` in
        `g.rel_arith` (the relation's dst KEY is embedded in the src
        key by construction — `__li_key = l_orderkey·128 + …`, so
        PartOf's dst derives as `key div 128`), the hop is PURE
        ARITHMETIC on the field read's ids: zero edge scan, zero
        join. Equality with the join form holds because (a) the dst
        id is `_mkid(dst_code, src_key div d)` bit-for-bit, (b) the
        mapper emits exactly one `rel_rt` edge per src row, entering
        at the src row's own tx, so attr-alive-at-t ⟺ edge-alive-at-t
        (single-assignment graphs never terminate). Falls back to
        field() ⋈ out_rels() on any other set/graph/relation."""
        val = self.field(field_rt, alias)
        vcol = [c for c in val.columns if c != "id"][0]
        g = self.frame.graph
        arith = (getattr(g, "rel_arith", None) or {}) \
            .get(_rt_name(rel_rt))
        all_et = getattr(self, "_all_et", None)
        if arith is not None and all_et is not None \
                and getattr(g, "single_assignment", False):
            src_code, dst_code, div = arith
            if (getattr(g, "et_code", None) or {}) \
                    .get(all_et) == src_code:
                # integer div (exact for any divisor; keys are
                # nonnegative so div == floor division)
                dst = F.expr(
                    f"{dst_code * (1 << ID_KEY_BITS)}L "
                    f"+ pmod(id, {1 << ID_KEY_BITS}L) div {div}L")
                return val.select(dst.alias("id"), F.col(vcol))
        edges = self.out_rels(rel_rt).df.select(
            F.col("src_id").alias("id"), F.col("dst_id"))
        return (val.join(edges, "id")
                .select(F.col("dst_id").alias("id"), F.col(vcol)))

    def has_out(self, rt) -> "NodeSet":
        """Keep nodes having ≥1 outgoing rt edge — left-semi join
        (ITF:5728 has_out as a set filter)."""
        g, t = self.frame.graph, self.frame.tx
        e = _alive(g.edges, t).where(F.col("rt") == _rt_name(rt)) \
            .select(F.col("src_id").alias("id"))
        return NodeSet(self.frame, self.df.join(e, "id", "left_semi"))

    def has_in(self, rt) -> "NodeSet":
        g, t = self.frame.graph, self.frame.tx
        e = _alive(g.edges, t).where(F.col("rt") == _rt_name(rt)) \
            .select(F.col("dst_id").alias("id"))
        return NodeSet(self.frame, self.df.join(e, "id", "left_semi"))

    # -- attribute access --------------------------------------------
    def _field_df(self, rt_name: str) -> DataFrame:
        """owner id → field value at frame: entity -[rt]-> AE node
        -> latest alive assignment (ITF:9295 `field`, ITF:6701
        `value`). Returns (id, value).

        Fast path (mapper-built graphs): AE ids share their KEY bits
        with the owner id (mapper.py _mkid), so the owner derives
        ARITHMETICALLY from ae_id — the edge hop costs zero joins.
        Valid because mapper attr edges live exactly as long as their
        owner node (created/terminated together), so edge liveness
        adds nothing over the NodeSet's own frame filter."""
        g, t = self.frame.graph, self.frame.tx
        owner_code = (getattr(g, "field_owner_code", None)
                      or {}).get(rt_name)
        if owner_code is not None and getattr(g, "single_assignment",
                                              False):
            av = g.attr_values.where(
                (F.col("assigned_at_tx") <= F.lit(t)) &
                (F.col("superseded_at_tx").isNull() |
                 (F.col("superseded_at_tx") > F.lit(t))))
            if "attr_rt" in av.columns:
                av = av.where(F.col("attr_rt") == rt_name)
            owner = (F.lit(owner_code * (1 << ID_KEY_BITS))
                     + F.pmod(F.col("ae_id"),
                              F.lit(1 << ID_KEY_BITS))).alias("id")
            typed = av.select(owner, F.col("vrt"),
                              *[F.col(c) for c in VALUE_COL_LIST])
            # r12: an UNFILTERED all[ET.X] adds nothing to the attr
            # rows' own as-of filter — (a) delta.terminate supersedes
            # a dead node's attr rows at the same tx (delta.py), so
            # attr-alive-at-t ⟹ owner-alive-at-t; (b) attr_rt plus
            # the arithmetic owner id construct exactly type-X owner
            # ids; (c) the set IS every alive X node. Skipping the
            # join removes one broadcast + a full nodes-branch scan
            # from every field read on a whole-type set.
            all_et = getattr(self, "_all_et", None)
            if all_et is not None and \
                    (getattr(g, "et_code", None) or {}) \
                    .get(all_et) == owner_code:
                return typed
            return self.df.select("id").join(typed, "id")
        e = _alive(g.edges, t).where(F.col("rt") == rt_name) \
            .select(F.col("src_id").alias("id"),
                    F.col("dst_id").alias("__ae"))
        owners = self.df.select("id").join(e, "id", "inner")
        av = g.attr_values.where(
            (F.col("assigned_at_tx") <= F.lit(t)) &
            (F.col("superseded_at_tx").isNull() |
             (F.col("superseded_at_tx") > F.lit(t))))
        if "attr_rt" in av.columns:
            # per-branch literal in mapper-built graphs: constant-folds
            # every other attr union branch away (delegate-index read)
            av = av.where(F.col("attr_rt") == rt_name)
        value = F.coalesce(*[F.col(c).cast("string")
                             for c in VALUE_COL_LIST])
        typed = av.select(
            F.col("ae_id").alias("__ae"),
            F.col("assigned_at_tx"),
            F.col("vrt"),
            *[F.col(c) for c in VALUE_COL_LIST])
        joined = owners.join(typed, "__ae", "inner")
        if getattr(g, "single_assignment", False):
            # mapper-built graphs: exactly one assignment row per AE
            # ever — skip the defensive aggregation (saves a shuffle)
            return joined.drop("__ae", "assigned_at_tx")
        # general graphs: ≤1 *alive* row per AE at any frame, but be
        # robust to idempotent re-assigns via max_by on assigned_at_tx
        per_owner = joined.groupBy("id").agg(
            F.max_by(F.struct(*[F.col(c) for c in VALUE_COL_LIST],
                              F.col("vrt")),
                     F.col("assigned_at_tx")).alias("__v"))
        return per_owner.select("id", F.col("__v.*"))

    def field(self, rt, alias: str | None = None) -> DataFrame:
        """(id, <alias>) — value typed by the AE's VRT. The VRT comes
        from the graph's static rt→VRT registry when available (no
        probe); otherwise a bounded probe of the attr branch."""
        name = _rt_name(rt)
        fdf = self._field_df(name)
        vrt = (self.frame.graph.rt_vrt or {}).get(name) \
            if getattr(self.frame.graph, "rt_vrt", None) else None
        if vrt is None:
            vrts = [r[0] for r in
                    fdf.select("vrt").distinct().limit(2).collect()]
            vrt = vrts[0] if vrts else "String"
        col = VALUE_COLS.get(vrt, "value_str")
        return fdf.select("id", F.col(col).alias(alias or name))

    def field_history(self, rt, alias: str | None = None) -> DataFrame:
        """(id, <alias>, assigned_at_tx, superseded_at_tx) — the FULL
        assignment time-series of a field up to this frame, one row
        per value interval (the set-oriented form of walking the
        reference's ATTRIBUTE_VALUE_ASSIGNMENT_EDGE chain,
        blobs.h:284; per-frame reads use ``field``). Rows assigned
        after the frame are excluded; an interval still open at the
        frame keeps its NULL end. Same typed-column resolution and
        edge/arithmetic owner plumbing as ``field``, WITHOUT the
        latest-alive filter."""
        name = _rt_name(rt)
        g, t = self.frame.graph, self.frame.tx
        owner_code = (getattr(g, "field_owner_code", None)
                      or {}).get(name)
        av = g.attr_values.where(F.col("assigned_at_tx") <= F.lit(t))
        if "attr_rt" in av.columns:
            av = av.where(F.col("attr_rt") == name)
        if owner_code is not None:
            owner = (F.lit(owner_code * (1 << ID_KEY_BITS))
                     + F.pmod(F.col("ae_id"),
                              F.lit(1 << ID_KEY_BITS))).alias("id")
            hist = av.select(owner, "vrt", *VALUE_COL_LIST,
                             "assigned_at_tx", "superseded_at_tx")
            hist = self.df.select("id").join(hist, "id")
        else:
            e = _alive(g.edges, t).where(F.col("rt") == name) \
                .select(F.col("src_id").alias("id"),
                        F.col("dst_id").alias("__ae"))
            ids = self.df.select("id")
            hist = (ids.join(e, "id")
                    .join(av.withColumnRenamed("ae_id", "__ae"), "__ae")
                    .select("id", "vrt", *VALUE_COL_LIST,
                            "assigned_at_tx", "superseded_at_tx"))
        vrt = (g.rt_vrt or {}).get(name) if getattr(g, "rt_vrt",
                                                    None) else None
        if vrt is None:
            vrts = [r[0] for r in
                    hist.select("vrt").distinct().limit(2).collect()]
            vrt = vrts[0] if vrts else "String"
        col = VALUE_COLS.get(vrt, "value_str")
        # an end-tx AFTER the frame is future knowledge: from this
        # frame's point of view the interval is still open
        end = F.when(F.col("superseded_at_tx") <= F.lit(t),
                     F.col("superseded_at_tx"))
        return hist.select("id", F.col(col).alias(alias or name),
                           "assigned_at_tx",
                           end.alias("superseded_at_tx"))

    def fields(self, *rts, **aliased) -> DataFrame:
        """(id, f1, f2, ...) — one join per field; Catalyst prunes each
        attr branch by its rt literal."""
        spec = {(_rt_name(r)): _rt_name(r) for r in rts}
        spec.update({v: _rt_name(k) for k, v in ()})
        for alias, r in aliased.items():
            spec[alias] = _rt_name(r)
        out = self.df.select("id", "et", "uid")
        for alias, rt_name in spec.items():
            fdf = self.field(rt_name, alias)
            out = out.join(fdf, "id", "left")
        return out

    def select_by_field(self, rt, value) -> "NodeSet":
        """The canonical indexed point lookup (ITF:6143): filter by
        field value — pushes to a filter on attr_values then semi-join."""
        name = _rt_name(rt)
        g, t = self.frame.graph, self.frame.tx
        av = g.attr_values.where(
            (F.col("assigned_at_tx") <= F.lit(t)) &
            (F.col("superseded_at_tx").isNull() |
             (F.col("superseded_at_tx") > F.lit(t))))
        if "attr_rt" in av.columns:
            av = av.where(F.col("attr_rt") == name)
        preds = [_value_predicate(c, value) for c in VALUE_COL_LIST]
        preds = [p for p in preds if p is not None]
        if not preds:
            raise TypeError(f"no value column matches {type(value)}")
        cond = reduce(lambda a, b: a | b, preds)
        owner_code = (getattr(g, "field_owner_code", None)
                      or {}).get(name)
        if owner_code is not None and getattr(g, "single_assignment",
                                              False):
            # arithmetic owner ids (see _field_df fast path): the
            # lookup is ONE semi-join, no edge hop
            owners = av.where(cond).select(
                (F.lit(owner_code * (1 << ID_KEY_BITS))
                 + F.pmod(F.col("ae_id"),
                          F.lit(1 << ID_KEY_BITS))).alias("id"))
            return NodeSet(self.frame,
                           self.df.join(owners, "id", "left_semi"))
        ae_ids = av.where(cond).select(F.col("ae_id").alias("__ae"))
        bc = F.broadcast if getattr(g, "interactive", False) \
            else (lambda d: d)
        e = _alive(g.edges, t).where(F.col("rt") == name) \
            .select(F.col("src_id").alias("id"),
                    F.col("dst_id").alias("__ae"))
        owners = e.join(bc(ae_ids), "__ae", "left_semi").select("id")
        return NodeSet(self.frame,
                       self.df.join(bc(owners), "id", "left_semi"))

    def gather(self, rts=None, direction: str = "out",
               max_steps: int | None = None) -> "NodeSet":
        """Transitive closure along a rule set (ITF:9800 `gather`:
        BFS with optional max_step). The frontier loop is the one
        ``bfs_levels`` runs (graph/algorithms.py): one action per round,
        each round's frontier cut lazily so lineage stays flat (a
        20-hop closure is 20 plain joins, not a 2^20-node plan)."""
        g, t = self.frame.graph, self.frame.tx
        e = _alive(g.edges, t)
        if rts is not None:
            names = [_rt_name(r) for r in
                     (rts if isinstance(rts, (list, tuple, set)) else [rts])]
            e = e.where(F.col("rt").isin(names))
        hops = []
        if direction in ("out", "both"):
            hops.append(e.select(F.col("src_id").alias("s"),
                                 F.col("dst_id").alias("t")))
        if direction in ("in", "both"):
            hops.append(e.select(F.col("dst_id").alias("s"),
                                 F.col("src_id").alias("t")))
        step_df = reduce(lambda a, b: a.unionByName(b), hops)
        visited = reduce(lambda a, b: a.unionByName(b),
                         _bfs_frontiers(step_df, self.df, max_steps))
        nodes = _alive(g.nodes, t)
        return NodeSet(self.frame, nodes.join(visited, "id", "left_semi"))

    # -- frame / lifecycle -------------------------------------------
    def exists_at(self, other: "GraphSlice") -> DataFrame:
        t = other.tx
        return self.df.select(
            "id",
            ((F.col("valid_from_tx") <= F.lit(t)) &
             (F.col("valid_to_tx").isNull() |
              (F.col("valid_to_tx") > F.lit(t)))).alias("exists_at"))

    def to_frame(self, other: "GraphSlice") -> "NodeSet":
        ids = self.df.select("id")
        return NodeSet(other, _alive(other.graph.nodes, other.tx)
                       .join(ids, "id", "left_semi"))


def _value_predicate(col_name: str, value):
    """Equality predicate for one physical value column, or None when
    the Python value can't live in that column (keeps the OR short —
    Catalyst prunes nothing from an always-false branch)."""
    import datetime
    from ..tokens import EnumValue
    from ..units import QuantityFloat, QuantityInt
    if col_name == "value_quantity":
        if not isinstance(value, (QuantityInt, QuantityFloat)):
            return None
        return (F.col("value_quantity.value") == float(value.value)) & \
            (F.col("value_quantity.unit") == value.unit)
    if col_name == "value_enum":
        return (F.col(col_name) == str(value)) \
            if isinstance(value, EnumValue) else None
    ok = {"value_str": isinstance(value, str),
          "value_int": isinstance(value, int) and not isinstance(value, bool),
          "value_float": isinstance(value, float),
          "value_bool": isinstance(value, bool),
          "value_time": isinstance(value, datetime.datetime)}[col_name]
    return (F.col(col_name) == F.lit(value)) if ok else None


class EdgeSet:
    _zef_graph_kind = True

    def __init__(self, frame: GraphSlice, df: DataFrame):
        self.frame = frame
        self.df = df

    def source(self) -> NodeSet:
        ids = self.df.select(F.col("src_id").alias("id")).distinct()
        return NodeSet(self.frame,
                       _rae_view(self.frame.graph, self.frame.tx)
                       .join(ids, "id", "inner"))

    def target(self) -> NodeSet:
        ids = self.df.select(F.col("dst_id").alias("id")).distinct()
        return NodeSet(self.frame,
                       _rae_view(self.frame.graph, self.frame.tx)
                       .join(ids, "id", "inner"))

    # -- relation-of-relation traversal: edges are id-addressable RAEs
    # (blobs.h:221-222), so an EdgeSet hops exactly like a NodeSet —
    # meta-edges attached to these edges are reachable
    def _as_rae_set(self) -> NodeSet:
        return NodeSet(self.frame, self.df)

    def Outs(self, rt=None) -> NodeSet:
        return self._as_rae_set().Outs(rt)

    def Ins(self, rt=None) -> NodeSet:
        return self._as_rae_set().Ins(rt)

    def out_rels(self, rt=None) -> "EdgeSet":
        return self._as_rae_set().out_rels(rt)

    def in_rels(self, rt=None) -> "EdgeSet":
        return self._as_rae_set().in_rels(rt)

    def field(self, rt, alias: str | None = None) -> DataFrame:
        """Relations can own attribute fields too (the reference
        allows (rel, RT.x, value) triples): same AE resolution as
        NodeSet.field keyed by this edge set's ids."""
        return self._as_rae_set().field(rt, alias)


def _rt_name(rt) -> str:
    from ..tokens import Token
    if isinstance(rt, Token):
        return rt.name
    return str(rt)
