"""GraphQL schema model for the SimpleGQL-style API layer.

Reference parity: the reference generates a full Query/Mutation API
from a ``.graphql`` SDL file with ``@zef`` directives
(python/zef/graphql/simplegql/generate_api2.py:80-292). Here a schema
is a set of ``GqlType``s, each bound to a table (parquet/DataFrame)
with scalar fields and relations; the compiler (compiler.py) turns
filter/order/pagination/aggregate requests into single DataFrame
plans instead of per-object resolvers (set-oriented, no N+1 —
SURVEY §3.3 "Spark translation").

SDL binding uses directives, mirroring the reference's style:

    type Customer @table(name: "customer", id: "c_custkey") {
      custkey: Int @col(name: "c_custkey")
      name: String @col(name: "c_name")
      nation: Nation @rel(local: "c_nationkey", remote: "n_nationkey")
      orders: [Order] @rel(local: "c_custkey", remote: "o_custkey")
    }
"""

from __future__ import annotations

from dataclasses import dataclass, field


@dataclass
class GqlRelation:
    target: str        # GraphQL type name
    is_list: bool      # [T] = one-to-many, T = many-to-one
    local_key: str     # column on this type's table
    remote_key: str    # column on the target type's table


@dataclass
class GqlType:
    name: str
    table: str                      # table name resolved by the loader
    id_col: str
    fields: dict = field(default_factory=dict)      # gql name -> column
    relations: dict = field(default_factory=dict)   # gql name -> GqlRelation
    #: gql name of the @upfetch (unique) field, if declared — enables
    #: the upfetch<T> mutation (merge-by-unique-field)
    upfetch_field: str | None = None
    #: mutation-hook NAMES from the type-level @hooks directive
    #: ({"create"|"update"|"remove": name}), resolved to callables by
    #: resolve_hooks() — the SDL analogue of the reference's
    #: _OnCreate/_OnUpdate/_OnRemove fields pointing at zef functions
    #: on the schema graph (schema_file_parser.py:317-322)
    hook_names: dict = field(default_factory=dict)
    #: gql names of @required fields — addT validates presence,
    #: updateT refuses to remove (reference schema_file_parser.py:142)
    required: set = field(default_factory=set)
    #: gql names of @unique fields — addT/updateT enforce no duplicate
    #: values (reference schema_file_parser.py:156; its checks carry a
    #: "should probably be done post change" TODO — here they run as
    #: one bounded scan per mutation)
    unique: set = field(default_factory=set)
    #: gql names of @search fields — Spark has no secondary index;
    #: the analogue is the search-clustered parquet layout:
    #: GraphQLEngine.materialize(tname, path) checkpoints the type's
    #: table through pipeline/layout.py write_search_clustered
    #: (Z-order for numeric searched fields, lexicographic range
    #: clustering otherwise) so footer min/max stats prune probes on
    #: every searched field
    search: set = field(default_factory=set)
    #: gql name -> hook NAME for @dynamic(hook: "...") computed fields
    #: (reference schema_file_parser.py:169-172: resolved zef function;
    #: here: a registered callable(df) -> Column, engine field_hooks)
    dynamic_fields: dict = field(default_factory=dict)

    def numeric_fields(self, df) -> dict:
        numeric = {"bigint", "int", "double", "float", "decimal"}
        types = dict(df.dtypes)
        return {f: c for f, c in self.fields.items()
                if types.get(c, "").split("(")[0] in numeric}


@dataclass
class GqlSchema:
    types: dict = field(default_factory=dict)       # name -> GqlType

    def __getitem__(self, name: str) -> GqlType:
        return self.types[name]

    def add(self, t: GqlType) -> "GqlSchema":
        self.types[t.name] = t
        return self


def schema_from_sdl(sdl: str) -> GqlSchema:
    """Parse an SDL document with @table/@col/@rel directives into a
    GqlSchema (the analogue of the reference's parse_schema,
    simplegql/parse_schema.py)."""
    from graphql import parse
    from graphql.language import ast as A

    doc = parse(sdl)
    schema = GqlSchema()
    typenames = {d.name.value for d in doc.definitions
                 if isinstance(d, A.ObjectTypeDefinitionNode)}

    def dir_args(node, name):
        for d in node.directives:
            if d.name.value == name:
                return {a.name.value: a.value.value for a in d.arguments}
        return None

    for d in doc.definitions:
        if not isinstance(d, A.ObjectTypeDefinitionNode):
            continue
        tbl = dir_args(d, "table") or {}
        t = GqlType(name=d.name.value,
                    table=tbl.get("name", d.name.value.lower()),
                    id_col=tbl.get("id", "id"))
        hooks = dir_args(d, "hooks") or {}
        t.hook_names = {kind[2:].lower(): fn_name
                        for kind, fn_name in hooks.items()
                        if kind in ("onCreate", "onUpdate", "onRemove")}
        for f in d.fields:
            ftype = f.type
            is_list = False
            while isinstance(ftype, (A.NonNullTypeNode, A.ListTypeNode)):
                if isinstance(ftype, A.ListTypeNode):
                    is_list = True
                ftype = ftype.type
            target = ftype.name.value
            rel = dir_args(f, "rel")
            if target in typenames:
                if rel is None:
                    raise ValueError(
                        f"{t.name}.{f.name.value}: relation needs @rel")
                t.relations[f.name.value] = GqlRelation(
                    target=target, is_list=is_list,
                    local_key=rel["local"], remote_key=rel["remote"])
            else:
                fname = f.name.value
                dyn = dir_args(f, "dynamic")
                if dyn is not None:
                    if rel is not None or dir_args(f, "col"):
                        raise ValueError(
                            f"{t.name}.{fname}: @dynamic can't combine "
                            "with @col/@rel (reference "
                            "schema_file_parser.py:345)")
                    t.dynamic_fields[fname] = dyn["hook"]
                    continue
                col = (dir_args(f, "col") or {}).get("name", fname)
                t.fields[fname] = col
                if dir_args(f, "upfetch") is not None:
                    if t.upfetch_field is not None:
                        raise ValueError(
                            f"{t.name}: only one @upfetch field allowed")
                    t.upfetch_field = fname
                if dir_args(f, "required") is not None:
                    t.required.add(fname)
                if dir_args(f, "unique") is not None:
                    t.unique.add(fname)
                if dir_args(f, "search") is not None:
                    t.search.add(fname)
        # the reference requires the upfetch field to be unique
        # (schema_file_parser.py:325) — imply it rather than assert,
        # so plain @upfetch SDL keeps working
        if t.upfetch_field is not None:
            t.unique.add(t.upfetch_field)
        schema.add(t)
    return schema


def resolve_hooks(schema: GqlSchema, registry: dict | None = None,
                  graph=None) -> dict:
    """Resolve every type's @hooks names to callables — the dict
    GraphQLEngine/MutationExecutor take as ``hooks``. Names resolve
    from ``registry`` first, then from versioned functions stored on
    ``graph`` (ops.store_func/load_func) — mirroring the reference,
    which looks hook names up among the zef functions on the schema
    graph (schema_file_parser.py:317-322) so mutation governance is
    itself versioned data."""
    out = {}
    for t in schema.types.values():
        if not t.hook_names:
            continue
        resolved = {}
        for kind, name in t.hook_names.items():
            fn = (registry or {}).get(name)
            if fn is None and graph is not None:
                from ..ops.zef_functions import load_func
                try:
                    fn = load_func(graph, name)
                except KeyError:
                    fn = None
            if fn is None:
                raise ValueError(
                    f"hook {name!r} for {t.name}.{kind} not found in "
                    f"registry or stored on the graph")
            resolved[kind] = fn
        out[t.name] = resolved
    return out


TPCH_SDL = """
type Region @table(name: "region", id: "r_regionkey") {
  regionkey: Int @col(name: "r_regionkey")
  name: String @col(name: "r_name")
  nations: [Nation] @rel(local: "r_regionkey", remote: "n_regionkey")
}

type Nation @table(name: "nation", id: "n_nationkey") {
  nationkey: Int @col(name: "n_nationkey")
  name: String @col(name: "n_name")
  region: Region @rel(local: "n_regionkey", remote: "r_regionkey")
  customers: [Customer] @rel(local: "n_nationkey", remote: "c_nationkey")
}

type Customer @table(name: "customer", id: "c_custkey") {
  custkey: Int @col(name: "c_custkey")
  name: String @col(name: "c_name") @upfetch
  acctbal: Float @col(name: "c_acctbal")
  mktsegment: String @col(name: "c_mktsegment")
  nation: Nation @rel(local: "c_nationkey", remote: "n_nationkey")
  orders: [Order] @rel(local: "c_custkey", remote: "o_custkey")
}

type Order @table(name: "orders", id: "o_orderkey") {
  orderkey: Int @col(name: "o_orderkey")
  totalprice: Float @col(name: "o_totalprice")
  orderstatus: String @col(name: "o_orderstatus")
  orderpriority: String @col(name: "o_orderpriority")
  customer: Customer @rel(local: "o_custkey", remote: "c_custkey")
  lineitems: [Lineitem] @rel(local: "o_orderkey", remote: "l_orderkey")
}

type Lineitem @table(name: "lineitem", id: "l_orderkey") {
  orderkey: Int @col(name: "l_orderkey")
  quantity: Float @col(name: "l_quantity")
  extendedprice: Float @col(name: "l_extendedprice")
  discount: Float @col(name: "l_discount")
  returnflag: String @col(name: "l_returnflag")
  order: Order @rel(local: "l_orderkey", remote: "o_orderkey")
}
"""


_TPCH_SCHEMA: GqlSchema | None = None


def tpch_schema() -> GqlSchema:
    """Parsed once and shared (r13): the SDL is a module constant and
    GqlSchema is construction-time-immutable (no consumer mutates it
    after schema_from_sdl returns), so mutation/query paths no longer
    re-parse the schema per call."""
    global _TPCH_SCHEMA
    if _TPCH_SCHEMA is None:
        _TPCH_SCHEMA = schema_from_sdl(TPCH_SDL)
    return _TPCH_SCHEMA


#: VRT -> GraphQL scalar (Time renders as String — SimpleGQL has no
#: built-in DateTime scalar; the reference serializes times as strings)
_VRT_GQL = {"String": "String", "Int": "Int", "Float": "Float",
            "Bool": "Boolean", "Time": "String", "Enum": "String",
            "QuantityFloat": "Float", "QuantityInt": "Int",
            "Serialized": "String"}


def sdl_of_graph(g) -> str:
    """Generate SimpleGQL SDL from a live graph's blueprint — the
    REVERSE of schema_from_sdl, mirroring the reference's
    schema-graph -> GraphQL API generation direction
    (simplegql/generate_api2.py): entity types come from ET tokens,
    scalar fields from attr edges typed by the rt->VRT registry,
    relations from entity-to-entity edge tokens (rendered as lists —
    cardinality is not stored at type level). The blueprint is a
    bounded DISTINCT over type triples, so this is metadata-sized
    regardless of graph volume."""
    from ..graph.graph import Graph
    from pyspark.sql import functions as F  # noqa: F811
    gs = g.now() if isinstance(g, Graph) else g
    graph = gs.graph
    n = gs.nodes().select("id", "et")
    e = gs.edges()
    triples = (e.join(n.withColumnRenamed("id", "src_id")
                      .withColumnRenamed("et", "src_et"), "src_id")
               .join(n.withColumnRenamed("id", "dst_id")
                     .withColumnRenamed("et", "dst_et"), "dst_id")
               .select("src_et", "rt", "dst_et").distinct().collect())
    rt_vrt = graph.catalog.rt_vrt or {}
    fields: dict[str, dict[str, str]] = {}
    for r in triples:
        src, rt, dst = r["src_et"], r["rt"], r["dst_et"]
        if src.startswith("AET."):
            continue
        if dst.startswith("AET."):
            vrt = rt_vrt.get(rt) or dst[4:]
            gql = _VRT_GQL.get(vrt, "String")
            fields.setdefault(src, {})[rt] = gql
        else:
            fields.setdefault(src, {})[rt] = f"[{dst}]"
            fields.setdefault(dst, {})
    lines = []
    for tname in sorted(fields):
        lines.append(f"type {tname} {{")
        lines.append("  id: ID!")
        for fname in sorted(fields[tname]):
            lines.append(f"  {fname}: {fields[tname][fname]}")
        lines.append("}")
        lines.append("")
    return "\n".join(lines).rstrip() + "\n"
