"""Registry completion: the remaining SURVEY §2 chain-ops wired onto
existing implementations (functions/, sources, graph, streaming) so
the full reference surface is reachable through ``x | op[...]``
chains. ITF line references in comments; heavyweight logic lives in
the modules these delegate to.
"""

from __future__ import annotations

import base64 as _b64
import hashlib

from pyspark.sql import functions as F

from .core import OP_REGISTRY, ZefOp, register_op, to_local_predicate

# -- 2.B predicates / dispatch ---------------------------------------

OP_REGISTRY["get_field"] = OP_REGISTRY["get"]          # ITF:1697 alias
OP_REGISTRY["expect"] = OP_REGISTRY["Assert"]          # _ops.py:108


@register_op("match_on", "local")
def _match_on(v, key_fn, *pairs):
    """ITF:446 — like match but dispatch on key_fn(v)."""
    k = key_fn(v)
    for pred, fn in pairs:
        if to_local_predicate(pred)(k):
            return fn(v)
    raise ValueError(f"match_on: no case matched {k!r}")


@register_op("pattern", "local")
def _pattern(v, spec):
    """ITF:4298 — structural dict/list match with Any wildcards."""
    from ..vt import Pattern
    return Pattern(spec).is_a(v)


@register_op("explain", "local")
def _explain(v, vt):
    """ITF:10337 — why does/doesn't a value match a VT (diagnostic)."""
    from ..vt import _coerce
    t = _coerce(vt)
    ok = t.is_a(v)
    return (f"{v!r} {'IS' if ok else 'is NOT'} a {t.name}"
            + ("" if ok else f" (python type: {type(v).__name__})"))


@register_op("skip_until", "local")
def _skip_until(v, pred):
    p = to_local_predicate(pred)
    out, started = [], False
    for x in v:
        started = started or p(x)
        if started:
            out.append(x)
    return out


@register_op("permute_to", "local")
def _permute_to(v, indices):
    """ITF:8450 — explicit permutation by index list."""
    return [v[i] for i in indices]


@register_op("insert_into", "local")
def _insert_into(v, k, val):
    """ITF:1561 — (key, value) inserted into the flowing dict."""
    out = dict(v)
    out[k] = val
    return out


@register_op("recursive_flatten", "local")
def _recursive_flatten(v):
    """ITF:10205 — fully flatten nested lists."""
    out = []
    stack = [iter(v)]
    while stack:
        try:
            x = next(stack[-1])
        except StopIteration:
            stack.pop()
            continue
        if isinstance(x, (list, tuple)):
            stack.append(iter(x))
        else:
            out.append(x)
    return out


# -- 2.H string / encoding (delegate to functions/ for Column forms) --

def _reg_str(name, fn):
    @register_op(name, "local")
    def _op(v, *args):
        return fn(v, *args)


import re as _re  # noqa: E402

_reg_str("to_upper_case", lambda v: v.upper())            # ITF:8550
_reg_str("to_lower_case", lambda v: v.lower())            # ITF:8579


def _words_local(v: str) -> list[str]:
    s = _re.sub(r"([a-z0-9])([A-Z])", r"\1 \2", v)
    return [w for w in _re.split(r"[_\-\s]+", s) if w]


_reg_str("to_snake_case", lambda v: "_".join(
    w.lower() for w in _words_local(v)))                  # ITF:8702
_reg_str("to_screaming_snake_case", lambda v: "_".join(
    w.upper() for w in _words_local(v)))                  # ITF:8733
_reg_str("to_kebab_case", lambda v: "-".join(
    w.lower() for w in _words_local(v)))                  # ITF:8671
_reg_str("to_pascal_case", lambda v: "".join(
    w.capitalize() for w in _words_local(v)))             # ITF:8608
_reg_str("to_camel_case", lambda v: (lambda p: p[:1].lower() + p[1:])(
    "".join(w.capitalize() for w in _words_local(v))))    # ITF:8640
_reg_str("trim", lambda v, chars=None: v.strip(chars))    # ITF:2322
_reg_str("trim_left", lambda v, chars=None: v.lstrip(chars))
_reg_str("trim_right", lambda v, chars=None: v.rstrip(chars))
_reg_str("pad_left", lambda v, n, c=" ": v.rjust(n, c))   # ITF:8318
_reg_str("pad_right", lambda v, n, c=" ": v.ljust(n, c))
_reg_str("pad_center", lambda v, n, c=" ": v.center(n, c))
_reg_str("split", lambda v, sep, maxsplit=-1: v.split(sep, maxsplit))
_reg_str("split_lines", lambda v: v.splitlines())         # ITF:10248
_reg_str("join", lambda v, sep="": sep.join(
    x if isinstance(x, str) else str(x) for x in v))      # ITF:2175
_reg_str("replace", lambda v, old, new, count=-1:
         v.replace(old, new, count))                      # ITF:4540
_reg_str("starts_with", lambda v, p: v.startswith(p))     # ITF:10319
_reg_str("ends_with", lambda v, s: v.endswith(s))         # ITF:10302
_reg_str("int_to_alpha", lambda v: chr(96 + v))           # ITF:8431
_reg_str("to_bytes", lambda v: v.encode()
         if isinstance(v, str) else bytes(v))             # ITF:9047
_reg_str("utf8bytes_to_string", lambda v: v.decode("utf-8"))
_reg_str("base64string_to_bytes", lambda v: _b64.b64decode(v))
_reg_str("bytes_to_base64string",
         lambda v: _b64.b64encode(v).decode("ascii"))
_reg_str("blake3", lambda v: hashlib.blake2b(              # ITF:8776 —
    v if isinstance(v, bytes) else str(v).encode()).hexdigest())
# blake3 unavailable in env; blake2b stands in (same role: content hash)
_reg_str("value_hash", lambda v: hashlib.sha256(
    repr(v).encode()).hexdigest())                        # ITF:8808


@register_op("to_json", "any")
def _to_json(v):
    from ..sources import to_json
    return to_json(v)


@register_op("from_json", "local")
def _from_json(v):
    from ..sources import from_json
    return from_json(v)


# -- 2.J / 2.K graph accessors ---------------------------------------

def _ns(v):
    from ..graph.graph import EdgeSet, NodeSet
    if not isinstance(v, (NodeSet, EdgeSet)):
        raise TypeError(f"graph op needs a Node/EdgeSet, got {type(v)}")
    return v


@register_op("out_rel", "graph")
def _out_rel(v, rt=None):
    """ITF:6454 — strict-single edge; chain `single` for the count
    assertion (as with Out)."""
    return _ns(v).out_rels(rt) if hasattr(v, "out_rels") else _ns(v)


@register_op("in_rel", "graph")
def _in_rel(v, rt=None):
    return _ns(v).in_rels(rt)


@register_op("L", "graph")
def _L(v, rt):
    """_ops.py:178 — traverse-to-list: all targets (Outs)."""
    return _ns(v).Outs(rt)


@register_op("O", "graph")
def _O(v, rt):
    """_ops.py:179 — optional traverse: 0-or-1 target, kept as a set
    (empty set = None analogue)."""
    return _ns(v).Outs(rt)


def _uid_delegate(v):
    # ITF:6792/5618/6811 — one uid column in this engine (origin
    # identity == uid by design §1.6); lazy lookup because graph/ops
    # registers "uid" after this module loads
    return OP_REGISTRY["uid"]["graph"](v)


for _alias in ("base_uid", "origin_uid", "zef_id"):
    register_op(_alias, "graph")(_uid_delegate)


@register_op("root", "graph")
def _root(g):
    """ITF:4134 — graph origin marker: this engine has no root blob;
    the earliest transaction row is the analogue."""
    from ..graph.graph import Graph, GraphSlice
    if isinstance(g, GraphSlice):
        g = g.graph
    if not isinstance(g, Graph):
        raise TypeError("root needs a Graph/GraphSlice")
    return g.txs.orderBy("tx_id").limit(1)


@register_op("frame", "graph")
def _frame(v):
    return _ns(v).frame                      # ITF:5257


@register_op("discard_frame", "graph")
def _discard_frame(v):
    """ITF:5363 — drop to the eternal view (EZefRef analogue = the
    raw row DataFrame, no as-of filter re-applied)."""
    return _ns(v).df


@register_op("to_graph_slice", "graph")
def _to_graph_slice(g, tx):
    from ..graph.graph import Graph
    if not isinstance(g, Graph):
        raise TypeError("to_graph_slice needs a Graph")
    return g.at(tx)                          # ITF:5432


@register_op("to_tx", "graph")
def _to_tx(v):
    from ..graph.graph import GraphSlice
    if isinstance(v, GraphSlice):
        return v.tx                          # ITF:5453
    raise TypeError("to_tx needs a GraphSlice")


@register_op("time_slice", "graph")
def _time_slice(v):
    return _to_tx(v)                         # ITF:4933 — same counter


@register_op("graph_slice_index", "graph")
def _graph_slice_index(v):
    return _to_tx(v)                         # ITF:4963


@register_op("next_tx", "graph")
def _next_tx(v, n=1):
    """ITF:4992 — walk the tx chain forward."""
    return v.time_travel(n)


@register_op("previous_tx", "graph")
def _previous_tx(v, n=1):
    return v.time_travel(-n)                 # ITF:5043


@register_op("events", "graph")
def _events_op(v):
    """ITF:5168 — events of a GraphSlice's tx."""
    from ..graph.graph import GraphSlice
    from ..streaming.events import events_of_tx
    if isinstance(v, GraphSlice):
        return events_of_tx(v.graph, v.tx)
    raise TypeError("events needs a GraphSlice")


@register_op("preceding_events", "graph")
def _preceding_events_op(v):
    """ITF:5090 — history of a node set up to its frame."""
    from ..streaming.events import preceding_events
    ns = _ns(v)
    return preceding_events(ns.frame.graph, ns.df, up_to_tx=ns.frame.tx)


@register_op("aware_of", "graph")
def _aware_of(v, frame):
    """ITF:6885 — known at frame (instantiated ≤ frame, termination
    irrelevant — unlike exists_at)."""
    ns = _ns(v)
    t = frame.tx if hasattr(frame, "tx") else int(frame)
    return ns.df.select(
        "id", (F.col("valid_from_tx") <= F.lit(t)).alias("aware_of"))


@register_op("instantiation_tx", "graph")
def _instantiation_tx(v):
    return _ns(v).df.select("id", F.col("valid_from_tx")
                            .alias("instantiation_tx"))   # ITF:6740


@register_op("termination_tx", "graph")
def _termination_tx(v):
    return _ns(v).df.select("id", F.col("valid_to_tx")
                            .alias("termination_tx"))     # ITF:6744


# -- 2.C relation existence between node sets (ITF:7005-7015) --------

def _rel_edges(v, rt, other):
    from ..graph.graph import EdgeSet
    ns = _ns(v)
    e = ns.out_rels(rt).df
    dst_ids = _ns(other).df.select(F.col("id").alias("dst_id"))
    return EdgeSet(ns.frame, e.join(dst_ids, "dst_id", "left_semi"))


@register_op("relations", "graph")
def _relations(v, rt, other):
    """ITF:7015 — the (src, rt, dst) edges between two node sets."""
    return _rel_edges(v, rt, other)


@register_op("relation", "graph")
def _relation(v, rt, other):
    """ITF:7012 — strict-single form; chain `single` to assert."""
    return _rel_edges(v, rt, other)


@register_op("has_relation", "graph")
def _has_relation(v, rt, other):
    """ITF:7005 — per-source existence flag of (src)-[rt]->(dst in
    other)."""
    ns = _ns(v)
    pairs = _rel_edges(v, rt, other).df.select(
        F.col("src_id").alias("id")).distinct() \
        .withColumn("has_relation", F.lit(True))
    return (ns.df.select("id").join(pairs, "id", "left")
            .select("id", F.coalesce("has_relation", F.lit(False))
                    .alias("has_relation")))


# -- 2.N write ops as chainable wish constructors / transact ----------

@register_op("assign", "local")
def _assign(target, fname, value):
    from ..graph.delta import Assign
    return Assign(target, fname, value)      # ITF:7275


@register_op("set_field", "local")
def _set_field(target, fname, value):
    from ..graph.delta import SetField
    return SetField(target, fname, value)    # ITF:5665


@register_op("terminate", "local")
def _terminate(target):
    from ..graph.delta import Terminate
    return Terminate(target)                 # ITF:7261


@register_op("tag", "any")
def _tag(target, name):
    from ..graph.delta import Tag
    return Tag(name, target)                 # ITF:7361


@register_op("untag", "any")
def _untag(_, name):
    from ..graph.delta import Untag
    return Untag(name)                       # ITF:7406


@register_op("transact", "local")
def _transact(wishes, g, time=None):
    """ITF:8880 — `[wishes] | transact[g]` → (new graph, receipt)."""
    from ..graph.delta import transact
    return transact(g, list(wishes), time)


@register_op("sync", "graph")
def _sync(g, *args):
    """ITF:7436 — persistence subscription. Reference semantics:
    subscribe the graph to durable replication. Here:
    ``g | sync`` — identity for graphs already backed by storage
    (parquet-loaded), the documented deviation for in-memory ones;
    ``g | sync[path]`` — materialize the graph (token-partitioned
    parquet, Graph.materialize) and return the DISK-BACKED graph, so
    subsequent queries read pruned scans instead of the transact
    lineage. Carries the graph's catalog over: the stored rows are
    the same rows, with the same ids.
    For MULTI-PROCESS shared-graph sync (the reference's ZefHub robot
    scenario) use ``graph.sync.GraphStore`` — a tx-segment log with
    optimistic atomic-rename commits; any number of processes on the
    same path share one serializable history."""
    if not args:
        return g
    path = args[0]
    from ..graph.graph import Graph
    g.materialize(path)
    g2 = Graph.load(g.spark, path)
    g2.catalog = g.catalog
    g2.schema_validator = g.schema_validator
    return g2


@register_op("to_zef_list", "local")
def _to_zef_list(v):
    """ITF:8840 — the engine's list value IS the list (arrays are
    first-class columns); returns wishes-free value unchanged."""
    return list(v)


# -- 2.L streaming verbs ----------------------------------------------

@register_op("on", "graph")
def _on(g, event, token=None):
    """ITF:238 — `g | on['instantiated', ET.X]`: filtered event
    stream source over the derived event log (batch DataFrame; feed
    EventLog.stream for the incremental form)."""
    from ..graph.graph import Graph, GraphSlice
    from ..streaming.events import (derive_event_log, on_assigned,
                                    on_instantiated, on_terminated)
    if isinstance(g, GraphSlice):
        g = g.graph
    if not isinstance(g, Graph):
        raise TypeError("on needs a Graph")
    log = derive_event_log(g)
    name = str(event)
    if name == "instantiated":
        return on_instantiated(log, token)
    if name == "terminated":
        return on_terminated(log, token)
    if name == "assigned":
        return on_assigned(log, token)
    raise ValueError(f"unknown event filter {event!r}")


@register_op("subscribe", "df")
def _subscribe(df, fn, once=True):
    from ..streaming.events import subscribe
    return subscribe(df, fn, once)


@register_op("push", "local")
def _push(row, log):
    """ITF:2401 — imperative push into a pushable stream: append the
    event row(s) to an EventLog; its streaming reader sees them on
    the next micro-batch trigger."""
    from ..streaming.events import EventLog
    if not isinstance(log, EventLog):
        raise TypeError("push target must be an EventLog (the "
                        "pushable-stream analogue)")
    return log.push(row)
