"""Table→graph mapper: the `pandas_to_gd` analogue (ITF:7836) for the
driver's TPC-H-ish parquet tables, per /root/repo/FIXTURES.md §5.

Entities: ET.Customer/Order/Lineitem/Part/Supplier/Nation/Region.
Relations: PlacedBy(Order→Customer), PartOf(Lineitem→Order),
OfPart(Lineitem→Part), SuppliedBy(Lineitem→Supplier),
MemberOf(Nation→Region), LocatedIn(Customer|Supplier→Nation).
Scalar columns become AET.* attributes (rt = raw column name) with
single-assignment history (assigned_at_tx = valid_from_tx).

Tx timeline: static dims at tx 1; each order's subtree enters at a tx
derived from o_orderdate (days since 1992-01-01 + 2); lineitems at
their l_shipdate tx — so time-travel queries see real temporal spread.

Everything here is a LAZY DataFrame definition (unions of selects over
the parquet scans); Catalyst prunes un-queried branches (a filter
``rt = 'x'`` folds the other union branches away), so building the
Graph costs nothing until a query runs. For repeated heavy use,
``Graph.materialize`` persists partitioned-by-token parquet.
"""

from __future__ import annotations

import datetime
from functools import reduce
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .delta import _local_df
from .graph import Graph, GraphCatalog
from .schema import ID_KEY_BITS, TXS_SCHEMA

_EPOCH = "1992-01-01"

# table -> (type_code, entity token, key expr builder)
_TABLES = {
    "region":   (1, "Region",   lambda: F.col("r_regionkey")),
    "nation":   (2, "Nation",   lambda: F.col("n_nationkey")),
    "customer": (3, "Customer", lambda: F.col("c_custkey")),
    "supplier": (4, "Supplier", lambda: F.col("s_suppkey")),
    "part":     (5, "Part",     lambda: F.col("p_partkey")),
    "orders":   (6, "Order",    lambda: F.col("o_orderkey")),
    "lineitem": (7, "Lineitem", lambda: F.col("__li_key")),
}

# (rt, src_table, src_key_col, dst_table, dst_key_col)
_RELATIONS = [
    ("MemberOf", "nation", "n_nationkey", "region", "n_regionkey"),
    ("LocatedIn", "customer", "c_custkey", "nation", "c_nationkey"),
    ("LocatedIn", "supplier", "s_suppkey", "nation", "s_nationkey"),
    ("PlacedBy", "orders", "o_orderkey", "customer", "o_custkey"),
    ("PartOf", "lineitem", None, "orders", "l_orderkey"),
    ("OfPart", "lineitem", None, "part", "l_partkey"),
    ("SuppliedBy", "lineitem", None, "supplier", "l_suppkey"),
]

_SPARK_TO_VRT = {"bigint": "Int", "int": "Int", "double": "Float",
                 "string": "String", "boolean": "Bool",
                 "timestamp_ntz": "Time", "timestamp": "Time",
                 "date": "Time"}


def _mkid(code: int, key):
    assert 0 < code < (1 << (63 - ID_KEY_BITS)), f"type code {code} overflows"
    return (F.lit(code).cast("long") * (1 << ID_KEY_BITS)
            + key.cast("long")).alias("id")


def _tx_of_date(col):
    return (F.datediff(col.cast("date"), F.lit(_EPOCH).cast("date"))
            .cast("long") + 2)


def _valid_from(table: str):
    if table == "orders":
        return _tx_of_date(F.col("o_orderdate"))
    if table == "lineitem":
        return _tx_of_date(F.col("l_shipdate"))
    return F.lit(1).cast("long")


def _union_all(dfs):
    return reduce(lambda a, b: a.unionByName(b), dfs)


def build_graph(spark: SparkSession, sf_dir: str) -> Graph:
    raw = {t: spark.read.parquet(f"{sf_dir}/{t}.parquet")
           for t in _TABLES}
    # lineitem has no unique natural key in this data (duplicate
    # (orderkey, linenumber) pairs exist): disambiguate with an
    # occurrence number — a window keyed by the composite key, so the
    # shuffle is by key and each partition group is tiny (scales).
    from pyspark.sql import Window
    li = raw["lineitem"]
    occ_w = Window.partitionBy("l_orderkey", "l_linenumber") \
        .orderBy(*li.columns)
    raw["lineitem"] = li.withColumn(
        "__li_key",
        ((F.col("l_orderkey") * 8 + F.col("l_linenumber")) * 16
         + F.row_number().over(occ_w) - 1).cast("long"))
    key_cols = {  # columns that are pure foreign/primary keys, not attrs
        "region": {"r_regionkey"}, "nation": {"n_nationkey", "n_regionkey"},
        "customer": {"c_custkey", "c_nationkey"},
        "supplier": {"s_suppkey", "s_nationkey"},
        "part": {"p_partkey"},
        "orders": {"o_orderkey", "o_custkey"},
        "lineitem": {"l_orderkey", "l_partkey", "l_suppkey",
                     "l_linenumber", "__li_key"},
    }

    node_parts, edge_parts, attr_parts, attr_code = [], [], [], {}
    rt_vrt: dict[str, str] = {}
    # colname -> owner entity's type code. AE ids share the KEY bits
    # with their owner's id (ae_id = ae_code*2^K + key, owner id =
    # ent_code*2^K + key), so field reads can derive the owner
    # ARITHMETICALLY from ae_id and skip the edge join entirely.
    field_owner_code: dict[str, int] = {}
    next_attr_code = 100

    for tname, (code, et, key_fn) in _TABLES.items():
        df = raw[tname]
        key = key_fn()
        vfrom = _valid_from(tname)
        ent_id = _mkid(code, key)
        node_parts.append(df.select(
            ent_id, F.lit(et).alias("et"),
            F.concat(F.lit(et.lower() + "-"), key.cast("string")).alias("uid"),
            vfrom.alias("valid_from_tx"),
            F.lit(None).cast("long").alias("valid_to_tx")))

        for colname, dtype in df.dtypes:
            if colname in key_cols[tname]:
                continue
            vrt = _SPARK_TO_VRT[dtype]
            rt_vrt[colname] = vrt
            # field_owner_code keys by column name ALONE (it backs the
            # arithmetic owner-id fast path in NodeSet._assignments /
            # select_by_field); a name shared by two tables would let
            # the later table's code silently mis-attribute the other
            # table's values, so a collision must be a hard error —
            # same global-uniqueness assumption rt_vrt makes, enforced.
            if colname in field_owner_code \
                    and field_owner_code[colname] != code:
                raise ValueError(
                    f"attribute column name {colname!r} appears in two "
                    f"source tables (owner codes "
                    f"{field_owner_code[colname]} and {code}); the "
                    "field fast path requires globally unique column "
                    "names — rename one of the columns")
            field_owner_code[colname] = code
            ae_code = next_attr_code
            attr_code[(tname, colname)] = ae_code
            next_attr_code += 2  # even: AE node code, odd: attr edge code
            ae_id = _mkid(ae_code, key)
            # AE node
            node_parts.append(df.select(
                ae_id, F.lit(f"AET.{vrt}").alias("et"),
                F.lit(None).cast("string").alias("uid"),
                vfrom.alias("valid_from_tx"),
                F.lit(None).cast("long").alias("valid_to_tx")))
            # entity -[colname]-> AE
            edge_parts.append(df.select(
                _mkid(ae_code + 1, key), F.lit(colname).alias("rt"),
                F.lit(None).cast("string").alias("uid"),
                ent_id.alias("src_id"), ae_id.alias("dst_id"),
                vfrom.alias("valid_from_tx"),
                F.lit(None).cast("long").alias("valid_to_tx")))
            # assignment history row
            c = F.col(colname)
            attr_parts.append(df.select(
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
                 else F.lit(None).cast("timestamp_ntz")).alias("value_time"),
                F.lit(None).cast("struct<value:double,unit:string>")
                .alias("value_quantity"),
                F.lit(None).cast("string").alias("value_enum"),
                vfrom.alias("assigned_at_tx"),
                F.lit(None).cast("long").alias("superseded_at_tx")))

    # Relation-edge type codes live above the attr codes but must stay
    # < 2^(63-ID_KEY_BITS) = 1024 or the id arithmetic overflows int64.
    rel_code = 600
    for rt, s_tab, s_key, d_tab, d_key in _RELATIONS:
        df = raw[s_tab]
        s_code = _TABLES[s_tab][0]
        d_code = _TABLES[d_tab][0]
        src_key = _TABLES[s_tab][2]() if s_key is None else F.col(s_key)
        edge_parts.append(df.select(
            _mkid(rel_code, src_key), F.lit(rt).alias("rt"),
            F.lit(None).cast("string").alias("uid"),
            _mkid(s_code, src_key).alias("src_id"),
            _mkid(d_code, F.col(d_key)).alias("dst_id"),
            _valid_from(s_tab).alias("valid_from_tx"),
            F.lit(None).cast("long").alias("valid_to_tx")))
        rel_code += 1

    # tx dimension: tx 1 (epoch) + every date-derived tx actually used
    tx_parts = [
        raw["orders"].select(_tx_of_date(F.col("o_orderdate")).alias("tx_id"),
                             F.col("o_orderdate").cast("timestamp_ntz")
                             .alias("time")),
        raw["lineitem"].select(_tx_of_date(F.col("l_shipdate")).alias("tx_id"),
                               F.col("l_shipdate").cast("timestamp_ntz")
                               .alias("time")),
    ]
    txs = _union_all(tx_parts).dropDuplicates(["tx_id"]).unionByName(
        _local_df(spark, [(1, datetime.datetime.fromisoformat(_EPOCH))],
                  TXS_SCHEMA))

    g = Graph(_union_all(node_parts), _union_all(edge_parts),
              _union_all(attr_parts), txs)
    # id floor = exclusive upper bound of every arithmetic code band
    # this mapper minted. transact() must mint ABOVE it: the max id
    # actually present in a band is NOT a safe floor, because the band
    # grows deterministically with new keys (code·2^K + key), so a
    # wish id at scan-max+1 would equal the id a later mapped batch
    # mints for the next sequential key (ADVICE r05, sync.py:271).
    max_code = max(next_attr_code, rel_code,
                   max(c for c, _, _ in _TABLES.values()) + 1)
    g._max_rae_id = max_code << ID_KEY_BITS
    g.catalog = _catalog(rt_vrt, field_owner_code)
    # max_tx without the txs dedup shuffle: datediff is monotonic, so
    # max(tx) = tx_of(max(date)) — two column maxes that parquet
    # aggregate pushdown answers from footer stats.
    g._max_tx_df = (
        raw["orders"].agg(F.max("o_orderdate").alias("m"))
        .unionByName(raw["lineitem"].agg(F.max("l_shipdate").alias("m")))
        .agg(F.max(_tx_of_date(F.col("m"))).alias("max_tx")))
    return g


def _catalog(rt_vrt: dict, field_owner_code: dict) -> GraphCatalog:
    """What every mapper-built graph declares: the static rt→VRT map
    (field() skips probing), arithmetic owner-id reads, one assignment
    per AE (no-shuffle reads), et name → type code (field() over an
    UNFILTERED all[ET.X] skips the owner-restriction join), and the
    relations whose dst KEY is embedded in the src key by id
    construction: __li_key = (l_orderkey·8 + l_linenumber)·16 + occ,
    so PartOf's dst order key = src key div 128 — field_via() hops
    them arithmetically, zero edge scan / join."""
    return GraphCatalog(
        rt_vrt=rt_vrt, field_owner_code=field_owner_code,
        et_code={et: code for code, et, _ in _TABLES.values()},
        rel_arith={"PartOf": (_TABLES["lineitem"][0],
                              _TABLES["orders"][0], 128)},
        single_assignment=True)


_GRAPH_CACHE: dict = {}

# materialized graphs live in the checkout this module sits in,
# unless ZEF_SPARK_GRAPH_CACHE points elsewhere
_DEFAULT_CACHE = str(Path(__file__).resolve().parents[2] / ".graph_cache")

# Bump when the mapper's output schema/ids change: invalidates the
# on-disk materialized graphs.
_CACHE_VERSION = 6  # v6: meta carries id_floor (band-safe wish minting)


def graph_for(spark: SparkSession, sf_dir: str) -> Graph:
    """Materialized-graph access path. The lazy mapper unions (~260
    branches) are correct but hostile to Catalyst planning time, so on
    first use per sf_dir the graph is persisted as token-partitioned
    parquet (nodes by et, edges by rt, attr_values by attr_rt — the
    Spark-native delegate index) and every query thereafter plans
    against plain partition-pruned scans. This mirrors the production
    posture: the mapper is INGESTION; the stored tables are the DB.

    Layout choice, re-measured r04: Graph.materialize_bucketed is now
    a HYBRID (partitionBy(token) + bucketBy(id/src_id/ae_id)) so it no
    longer loses token pruning; it removes 3 of 10 exchanges from the
    2-hop revenue query (plan-verified in
    tests/test_graph.py::test_bucketed_materialize_colocates_hop_join)
    at par wall-time at sf0.1 local[32] (2.36s vs 2.39s; hop1 0.78s
    plain vs 1.12s bucketed). Plain token-partitioned parquet stays
    the LOCAL default because bucketed scans cap read parallelism at
    `buckets` files per token — a toy-scale artifact that vanishes on
    a cluster, where the saved shuffles dominate; at 100 TB prefer
    the bucketed materialization."""
    import json
    import os

    layout = os.environ.get("ZEF_SPARK_GRAPH_LAYOUT", "partitioned")
    key = sf_dir.rstrip("/")
    ckey = (key, layout)
    if ckey in _GRAPH_CACHE:
        return _GRAPH_CACHE[ckey]
    root = os.environ.get("ZEF_SPARK_GRAPH_CACHE", _DEFAULT_CACHE)
    tag = key.strip("/").replace("/", "_")
    path = f"{root}/v{_CACHE_VERSION}/{tag}"
    meta_path = f"{path}/meta.json"
    if not os.path.exists(meta_path):
        # build into a temp dir + atomic rename so a concurrent
        # process never sees (or clobbers) a half-written graph
        tmp = f"{path}.tmp.{os.getpid()}"
        built = build_graph(spark, key)
        built.materialize(tmp)
        meta = {"rt_vrt": built.catalog.rt_vrt, "max_tx": built.max_tx(),
                "field_owner_code": built.catalog.field_owner_code,
                "id_floor": built._max_rae_id}
        with open(f"{tmp}/meta.json", "w") as f:
            json.dump(meta, f)
        try:
            os.rename(tmp, path)
        except OSError:  # another process won the race; use theirs
            import shutil
            shutil.rmtree(tmp, ignore_errors=True)
    with open(meta_path) as f:
        meta = json.load(f)
    g = Graph.load(spark, path)
    # ZEF_SPARK_GRAPH_LAYOUT=bucketed: serve the cluster-posture
    # layout (hybrid token-partition + bucketBy, dual edge
    # projection) so the bench can put a number on it — see
    # graph_for's layout note. Bucketed tables ride the session
    # catalog, so they're (re)built once per session from the plain
    # parquet cache; the build is ingest time, not query time.
    if os.environ.get("ZEF_SPARK_GRAPH_LAYOUT") == "bucketed":
        prefix = f"zsb_{tag.replace('.', '_').replace('-', '_')}"
        if not spark.catalog.tableExists(f"{prefix}_nodes"):
            g.materialize_bucketed(prefix, dual_projection=True)
        g = Graph.load_bucketed(spark, prefix)
    g.catalog = _catalog(meta["rt_vrt"],
                         meta.get("field_owner_code") or {})
    g._max_tx = meta["max_tx"]
    g._max_rae_id = meta.get("id_floor")
    _GRAPH_CACHE[ckey] = g
    return g
