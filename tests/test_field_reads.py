"""Field reads on graphs that are not single_assignment.

``NodeSet.fields`` reads every requested field with one aggregation and
one left join. These tests check it against the per-field ``field()``
reads left-joined one by one, on every frame of four graphs:

- a ``transact`` chain (re-assigns, a same-tx double assign, a cascading
  terminate, a mixed-VRT name, a Quantity field, an entity missing a
  field);
- three mapped batches, one of which re-keys existing keys;
- a mapped stream over a ``transact`` graph that already stored one of
  the mapping's field names;
- a ``transact`` after a mapped stream;
- a mapped stream over a rebuilt ``GraphStore`` head whose segment
  already stored one of the mapping's field names.

Where the graph's catalog declares arithmetic field owners, the reads
must also equal the edge-path reads of the same graph with the
declarations masked.
"""

from dataclasses import replace

import pytest

from zef_spark import ET, RT
from zef_spark.graph.delta import (Assign, E, R, Terminate, empty_graph,
                                   transact)
from zef_spark.graph.graph import NodeSet, GraphCatalog
from zef_spark.graph.schema import ID_KEY_BITS
from zef_spark.graph.sync import GraphStore
from zef_spark.streaming.ingest import BatchEntityMap, \
    MappedStreamTransactor
from zef_spark.units import QuantityFloat

_MAP = BatchEntityMap(ET.Ev, key_col="k", type_code=91,
                      fields={"kind": 700, "amount": 702, "n": 704})
_EV = "k long, kind string, amount double, n long"


def _rows(df):
    return sorted((tuple(r) for r in df.collect()), key=repr)


def _per_field(ns, names):
    """Today's semantics: each field read on its own, left-joined."""
    out = ns.df.select("id", "et", "uid")
    for name in names:
        out = out.join(ns.field(name), "id", "left")
    return out


def _check_frames(g, vt, names):
    for tx in range(g.max_tx() + 1):
        ns = g.at(tx).all(vt)
        got = _rows(ns.fields(*names))
        assert got == _rows(_per_field(ns, names)), (vt, tx)
        if g.catalog.field_owner_code:
            saved = g.catalog
            try:
                g.catalog = replace(saved, field_owner_code={})
                via_edges = _rows(g.at(tx).all(vt).fields(*names))
            finally:
                g.catalog = saved
            assert got == via_edges, (vt, tx)


def _mapped(spark, g, batches, stream_id="m"):
    st = MappedStreamTransactor(g, _MAP, stream_id)
    for i, rows in enumerate(batches):
        assert st.apply_batch(spark.createDataFrame(rows, _EV), i)
    return st.graph


@pytest.fixture(scope="module")
def chain(spark):
    g, r = transact(empty_graph(spark), [
        E(ET.Person, "a", fields={"Name": "A", "Age": 30, "Tag": 1,
                                  "W": QuantityFloat(2.5, "kg")}),
        E(ET.Person, "b", fields={"Name": "B"}),
        E(ET.Person, "c", fields={"Name": "C", "Age": 5})])
    a, b, c = r["a"], r["b"], r["c"]
    g, _ = transact(g, [Assign(a, "Age", 31), Assign(b, "Age", 7),
                        Assign(b, "Age", 8), R(a, RT.Knows, c)])
    g, _ = transact(g, [Terminate(c), Assign(a, "W",
                                             QuantityFloat(3.0, "kg"))])
    g, _ = transact(g, [Assign(a, "Tag", "x"), Assign(a, "Age", 32)])
    return g


@pytest.fixture(scope="module")
def mapped(spark):
    return _mapped(spark, empty_graph(spark), [
        [(i, f"t{i % 2}", float(i), i) for i in range(5)],
        [(5, "t5", None, 5), (6, "t6", 6.0, None)],
        [(2, "re2", 20.0, 22), (6, "re6", 60.0, 66)]])


def test_transact_chain_fields_equal_per_field_reads(chain):
    assert chain.catalog.rt_vrt["Tag"] is None      # mixed VRTs
    assert not chain.catalog.single_assignment
    _check_frames(chain, ET.Person, ["Name", "Age", "Tag", "W"])


def test_mapped_batches_declare_owners_and_read_latest(mapped):
    assert mapped.catalog.field_owner_code == {
        "kind": 91, "amount": 91, "n": 91}
    assert not mapped.catalog.single_assignment
    _check_frames(mapped, ET.Ev, ["kind", "amount", "n"])
    # the re-keyed keys read their latest value on both node rows
    ns = mapped.now().all(ET.Ev)
    got = {(r["uid"], r["kind"]) for r in ns.fields("kind").collect()}
    assert ("ev-2", "re2") in got and ("ev-2", "t0") not in got


def test_mapped_over_transact_keeps_stored_name_on_edges(spark):
    g, _ = transact(empty_graph(spark),
                    [E(ET.Other, "o", fields={"kind": "other"})])
    g = _mapped(spark, g, [[(1, "t1", 1.0, 1)], [(1, "t1b", 2.0, 2)]])
    assert "kind" not in g.catalog.field_owner_code
    assert g.catalog.field_owner_code["amount"] == 91
    _check_frames(g, ET.Ev, ["kind", "amount", "n"])
    _check_frames(g, None, ["kind", "amount"])


def test_transact_after_mapped_clears_declarations(spark, mapped):
    ev1 = (91 << 52) + 1
    g, _ = transact(mapped, [Assign(ev1, "kind", "changed"),
                             E(ET.Ev, "new", fields={"amount": 9.0})])
    assert g.catalog == GraphCatalog(rt_vrt=g.catalog.rt_vrt)
    _check_frames(g, ET.Ev, ["kind", "amount", "n"])
    got = {r["id"]: r["kind"] for r in
           g.now().all(ET.Ev).fields("kind").collect()}
    assert got[ev1] == "changed"


def test_select_by_field_owner_path_on_rekeyed_graph(mapped):
    ns = mapped.now().all(ET.Ev)
    saved = mapped.catalog
    for value in ("re2", "t0", "t5"):
        fast = sorted(r[0] for r in
                      ns.select_by_field("kind", value).df
                      .select("id").collect())
        try:
            mapped.catalog = replace(saved, field_owner_code={})
            slow = sorted(r[0] for r in
                          mapped.now().all(ET.Ev)
                          .select_by_field("kind", value).df
                          .select("id").collect())
        finally:
            mapped.catalog = saved
        assert fast == slow and fast, value


def test_fields_reads_with_one_aggregation(mapped):
    plan = mapped.now().all(ET.Ev).fields("kind", "amount", "n") \
        ._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("Aggregate") == 1, plan
    assert plan.count("Join") == 1, plan


@pytest.mark.parametrize("rebuild", ["refresh", "compact"])
def test_mapped_over_rebuilt_store_head_keeps_segment_name_on_edges(
        spark, tmp_path, rebuild):
    g0, _ = transact(empty_graph(spark),
                     [E(ET.Person, "p", fields={"Name": "P"})])
    store = GraphStore.init(g0, str(tmp_path / "store"))
    _, r = store.commit([E(ET.Other, "o", fields={"kind": "other"})])
    head = (GraphStore(spark, store.path).refresh()
            if rebuild == "refresh" else store.compact())
    assert head.catalog.rt_vrt == {"Name": "String", "kind": "String"}
    # the mapped key shares the low bits of the Other's id: an
    # arithmetic owner of the Other's row would be this Ev
    key = r["o"] % (1 << ID_KEY_BITS)
    g = _mapped(spark, head, [[(key, "t", 1.0, 1)]])
    assert "kind" not in g.catalog.field_owner_code
    _check_frames(g, ET.Ev, ["kind", "amount"])
    _check_frames(g, ET.Other, ["kind"])
    got = {r_["et"]: r_["kind"] for r_ in
           g.now().all().fields("kind").collect() if r_["kind"]}
    assert got == {"Other": "other", "Ev": "t"}


def _subtree(plan: str, node: str) -> list[str]:
    """Lines of the first ``node`` in a plan tree string and its
    descendants."""
    lines = plan.splitlines()
    depth = [len(ln) - len(ln.lstrip(" :+-")) for ln in lines]
    i = next(k for k, ln in enumerate(lines) if node in ln)
    j = i + 1
    while j < len(lines) and depth[j] > depth[i]:
        j += 1
    return lines[i:j]


def test_fields_of_filtered_set_restrict_before_aggregating(mapped):
    ns = mapped.now().all(ET.Ev).select_by_field("n", 66)
    assert isinstance(ns, NodeSet)
    got = ns.fields("kind", "amount", "n")
    assert _rows(got) == _rows(_per_field(ns, ["kind", "amount", "n"]))
    assert [r["kind"] for r in got.collect()] == ["re6", "re6"]
    agg = _subtree(got._jdf.queryExecution().optimizedPlan().toString(),
                   "Aggregate")
    assert any("Join Inner" in ln for ln in agg), "\n".join(agg)
