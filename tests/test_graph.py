"""Graph model: mapper-built TPC-H graph + traversal + temporal ops,
plus the write path (wishes/transact) temporal semantics — mirrors the
reference's persons_pets fixture (FIXTURES.md §1,
python/tests/test_oldstyle.py)."""

import pytest
from pyspark.sql import functions as F

from zef_spark import ET, RT, Graph, ops as z
from zef_spark.graph.delta import E, R, Assign, SetField, Terminate, \
    empty_graph, transact
from zef_spark.graph.mapper import graph_for


@pytest.fixture(scope="module")
def g(spark, sf_dir):
    return graph_for(spark, sf_dir)


def test_all_scan_counts(g):
    gs = g | z.now
    assert (gs | z.all[ET.Customer] | z.count | z.collect) == 150
    assert (gs | z.all[ET.Region] | z.count | z.collect) == 5
    both = gs | z.all[ET.Region | ET.Nation] | z.count | z.collect
    assert both == 30


def test_hop_traversal(g):
    gs = g | z.now
    regions = gs | z.all[ET.Nation] | z.Outs[RT.MemberOf]
    assert (regions | z.count | z.collect) == 5  # distinct targets
    nations_back = gs | z.all[ET.Region] | z.Ins[RT.MemberOf]
    assert (nations_back | z.count | z.collect) == 25


def test_field_read(g):
    gs = g | z.now
    names = (gs | z.all[ET.Region]).field("r_name")
    vals = sorted(r[1] for r in names.collect())
    assert vals == ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]


def test_select_by_field(g):
    gs = g | z.now
    hit = gs | z.all[ET.Customer] | z.select_by_field[
        "c_name", "Customer#000000001"] | z.to_df
    assert hit.count() == 1


def test_edge_source_target(g):
    gs = g | z.now
    es = gs | z.all[ET.Nation] | z.out_rels[RT.MemberOf]
    assert (es | z.source | z.count | z.collect) == 25
    assert (es | z.target | z.count | z.collect) == 5


def test_asof_monotone(g):
    import datetime
    early = g.at(datetime.datetime(1996, 1, 1))
    late = g.at(datetime.datetime(2000, 1, 1))
    n_early = early | z.all[ET.Order] | z.count | z.collect
    n_late = late | z.all[ET.Order] | z.count | z.collect
    n_now = g | z.now | z.all[ET.Order] | z.count | z.collect
    assert n_early < n_late <= n_now == 1500


def test_time_travel_relative(g):
    gs = g | z.now
    past = gs | z.time_travel[-10]
    assert past.tx < gs.tx
    back = past | z.time_travel[10]
    assert back.tx == gs.tx


def test_blueprint(g):
    tri = (g | z.blueprint).collect()
    triples = {(r[0], r[1], r[2]) for r in tri}
    assert ("Nation", "MemberOf", "Region") in triples
    assert ("Order", "PlacedBy", "Customer") in triples


# -- write path: persons_pets temporal fixture ------------------------

@pytest.fixture(scope="module")
def persons(spark):
    g0 = empty_graph(spark)
    g1, r1 = transact(g0, [
        E(ET.Person, name="joe", fields={"Name": "Joe", "Age": 42}),
        E(ET.Pet, name="luna", fields={"Name": "Luna"}),
        R("joe", RT.HasPet, "luna"),
    ])
    g2, r2 = transact(g1, [E(ET.Person, name="flo", fields={"Name": "Flo"})])
    g3, _ = transact(g2, [Assign(r1["joe"], "Age", 43)])
    g4, _ = transact(g3, [Terminate(r2["flo"])])
    return g4, {**r1, **r2}


def test_persons_per_slice_counts(persons):
    g, ids = persons
    counts = [GraphAt(g, tx) | z.all[ET.Person] | z.count | z.collect
              for tx in [1, 2, 3, 4]]
    assert counts == [1, 2, 2, 1]  # flo terminated at tx4


def GraphAt(g, tx):
    from zef_spark.graph.graph import GraphSlice
    return GraphSlice(g, tx)


def test_value_history_asof(persons):
    g, ids = persons
    ns_now = GraphAt(g, 4) | z.all[ET.Person]
    age_now = ns_now.field("Age").collect()
    assert [r[1] for r in age_now] == [43]
    ns_then = GraphAt(g, 2) | z.all[ET.Person]
    age_then = ns_then.field("Age").collect()
    assert [r[1] for r in age_then] == [42]


def test_traversal_after_write(persons):
    g, ids = persons
    pets = GraphAt(g, 4) | z.all[ET.Person] | z.Outs[RT.HasPet]
    names = pets.field("Name").collect()
    assert [r[1] for r in names] == ["Luna"]


def test_terminate_cascades_edges(persons):
    g, ids = persons
    gs = GraphAt(g, 4)
    alive_edges = gs.edges().where(F.col("rt") == "Name").count()
    # flo's Name edge terminated with her: joe + luna remain
    assert alive_edges == 2


def test_set_field_upsert(spark, persons):
    g, ids = persons
    g5, _ = transact(g, [SetField(ids["joe"], "Name", "Joseph")])
    ns = GraphAt(g5, g5.max_tx()) | z.all[ET.Person]
    assert [r[1] for r in ns.field("Name").collect()] == ["Joseph"]
    # history preserved: at tx1 the old value is visible
    ns1 = GraphAt(g5, 1) | z.all[ET.Person]
    assert [r[1] for r in ns1.field("Name").collect()] == ["Joe"]


def test_exists_at(persons):
    g, ids = persons
    ns = GraphAt(g, 4) | z.all[ET.Person]  # joe only
    ex = (GraphAt(g, 2) | z.all[ET.Person]).exists_at(GraphAt(g, 4))
    m = {r[0]: r[1] for r in ex.collect()}
    assert m[ids["joe"]] is True
    assert m[ids["flo"]] is False


def test_materialize_load_tags_roundtrip(spark, persons, tmp_path):
    """Persist/reload must keep temporal tags (VERDICT r1: tags were
    silently dropped, by_tag raised KeyError after load)."""
    from zef_spark.graph.delta import Tag
    g, ids = persons
    g5, _ = transact(g, [Tag("the-joe", ids["joe"])])
    path = str(tmp_path / "gtags")
    g5.materialize(path)
    g6 = Graph.load(spark, path)
    assert g6.tags is not None
    hit = GraphAt(g6, g6.max_tx()).by_tag("the-joe")
    assert [r["id"] for r in hit.df.collect()] == [ids["joe"]]


def test_materialize_load_without_tags(spark, persons, tmp_path):
    g, _ = persons
    path = str(tmp_path / "gnotags")
    g.materialize(path)
    g2 = Graph.load(spark, path)
    assert g2.tags is None
    assert (GraphAt(g2, g2.max_tx()) | z.all[ET.Person]
            | z.count | z.collect) == 1


def test_relation_of_relation(spark):
    """Edges as endpoints of edges (reference blobs.h:221-222):
    create R(joe -HasPet-> luna), attach a meta-edge Since on the
    relation itself, traverse through it, and check terminate
    cascades transitively."""
    from zef_spark.graph.delta import E, R, Terminate, empty_graph, \
        transact
    g0 = empty_graph(spark)
    g1, r = transact(g0, [
        E(ET.Person, name="joe"),
        E(ET.Pet, name="luna"),
        E(ET.Event, name="adoption"),
        R("joe", RT.HasPet, "luna", name="hp",
          fields={"Strength": 0.9}),
        R("hp", RT.CausedBy, "adoption", name="meta"),
    ])
    gs = g1.now()
    # traverse: from the HasPet edge through CausedBy to the event
    hp = (gs | z.all[ET.Person] | z.out_rels[RT.HasPet])
    ev = hp.Outs(RT.CausedBy)
    assert [x["et"] for x in ev.df.collect()] == ["Event"]
    # and back: the CausedBy edge's source is the HasPet EDGE
    meta_src = (gs | z.all[ET.Event] | z.in_rels[RT.CausedBy]) \
        .source()
    assert [x["et"] for x in meta_src.df.collect()] == ["RT.HasPet"]
    # relations own fields
    sv = hp.field("Strength").collect()
    assert [x["Strength"] for x in sv] == [0.9]
    # terminating luna closes HasPet, which cascades to the meta-edge
    g2, _ = transact(g1, [Terminate(r["luna"])])
    gs2 = g2.now()
    assert (gs2 | z.all[ET.Event] | z.in_rels[RT.CausedBy]).df.count() == 0
    # the event entity itself survives
    assert (gs2 | z.all[ET.Event] | z.count | z.collect) == 1


def test_transact_batches_driver_round_trips(spark, monkeypatch):
    """A transact of N wishes must issue O(1) driver round-trips, not
    O(N): id high-water mark is chained between transacts and all
    (owner, field)->AE pairs resolve in ONE broadcast join (VERDICT
    r1 scale-killer fix). collect() calls are the proxy for jobs."""
    from pyspark.sql.classic.dataframe import DataFrame as CDF
    g0 = empty_graph(spark)
    g1, r1 = transact(g0, [
        E(ET.Person, name=f"p{i}", fields={"Age": i}) for i in range(8)])
    calls = {"n": 0}
    orig = CDF.collect

    def counting(self, *a, **kw):
        calls["n"] += 1
        return orig(self, *a, **kw)

    monkeypatch.setattr(CDF, "collect", counting)
    g2, _ = transact(g1, [Assign(r1[f"p{i}"], "Age", 100 + i)
                          for i in range(8)])
    assert calls["n"] <= 2, f"{calls['n']} collects for 8 assigns"
    monkeypatch.undo()
    ns = GraphAt(g2, g2.max_tx()) | z.all[ET.Person]
    ages = sorted(r[1] for r in ns.field("Age").collect())
    assert ages == [100 + i for i in range(8)]


def test_foreign_rae_merge_by_uid(spark):
    """Merge keeps origin uid across graphs (reference
    graph_delta.py:643 `merge`, FOREIGN_ENTITY_NODE blobs.h:336-390):
    merging twice is idempotent, identity joins across graphs on uid,
    and merge-with-fields upserts instead of duplicating AEs."""
    from zef_spark.graph.delta import Merge, merge_ref
    ga0 = empty_graph(spark)
    ga, ra = transact(ga0, [
        E(ET.Person, name="alice-uid", fields={"Name": "Alice"})])
    # capture alice from graph A, merge into B
    wish = merge_ref(ga.now(), ra["alice-uid"])
    assert wish.uid == "alice-uid"
    gb0 = empty_graph(spark)
    gb, rb = transact(gb0, [Merge(wish.uid, wish.et,
                                  fields={"Name": "Alice"})])
    # same origin uid on both graphs
    uid_a = ga.nodes.where(F.col("id") == ra["alice-uid"]) \
        .select("uid").collect()[0][0]
    uid_b = gb.nodes.where(F.col("id") == rb["alice-uid"]) \
        .select("uid").collect()[0][0]
    assert uid_a == uid_b == "alice-uid"
    # re-merge: resolves to the SAME local id, no new node
    gb2, rb2 = transact(gb, [Merge("alice-uid", fields={"Name": "Ali"})])
    assert rb2["alice-uid"] == rb["alice-uid"]
    assert gb2.nodes.where(F.col("uid") == "alice-uid").count() == 1
    # field upserted, not duplicated
    ns = GraphAt(gb2, gb2.max_tx()) | z.all[ET.Person]
    assert [r[1] for r in ns.field("Name").collect()] == ["Ali"]
    names_edges = gb2.edges.where(F.col("rt") == "Name").count()
    assert names_edges == 1


def test_schema_constraints_on_transact(spark):
    """check_schema aborts the whole tx on violation (reference
    FinishTransaction check_schema, core/src/transaction.cpp:158-183;
    validator shape: simplegql generated validators)."""
    from zef_spark.graph.constraints import GraphConstraints, \
        SchemaViolation
    from zef_spark.graph.delta import Transaction
    g0 = empty_graph(spark)
    g0.schema_validator = GraphConstraints(
        triples={("Person", "HasPet", "Pet")},
        fields={"Person": {"Name": "String", "Age": "Int"}},
        required={"Person": {"Name"}})
    # valid tx passes
    g1, r = transact(g0, [
        E(ET.Person, name="joe", fields={"Name": "Joe", "Age": 3}),
        E(ET.Pet, name="rex"),
        R("joe", RT.HasPet, "rex")], check_schema=True)
    assert (g1.now() | z.all[ET.Person] | z.count | z.collect) == 1
    # wrong field type
    with pytest.raises(SchemaViolation, match="must be Int"):
        transact(g1, [E(ET.Person, fields={"Name": "X", "Age": "old"})],
                 check_schema=True)
    # unknown field on a closed type
    with pytest.raises(SchemaViolation, match="no field"):
        transact(g1, [E(ET.Person, fields={"Name": "X", "Hat": 1})],
                 check_schema=True)
    # missing required field
    with pytest.raises(SchemaViolation, match="required"):
        transact(g1, [E(ET.Person, fields={"Age": 9})],
                 check_schema=True)
    # disallowed triple — including endpoints pre-existing on graph
    with pytest.raises(SchemaViolation, match="not an allowed"):
        transact(g1, [R(r["joe"], RT.HasPet, r["joe"])],
                 check_schema=True)
    # abort = nothing applied
    assert (g1.now() | z.all[ET.Person] | z.count | z.collect) == 1

    # Transaction scope applies at exit; exception aborts
    from zef_spark.graph.delta import Transaction
    with Transaction(g1, check_schema=True) as txn:
        txn += E(ET.Person, name="flo", fields={"Name": "Flo"})
    assert (txn.graph.now() | z.all[ET.Person] | z.count | z.collect) == 2
    try:
        with Transaction(g1) as t2:
            t2 += E(ET.Person, name="x", fields={"Name": "X"})
            raise RuntimeError("boom")
    except RuntimeError:
        pass
    assert t2.graph is None  # aborted, nothing applied


def test_delegates_and_type_reflection(g):
    """to_delegate / delegate_of / abstract_type /
    representation_type / is_represented_as (reference
    TO_DELEGATE_EDGE spine blobs.h:188-219 → type-token partitions)."""
    gs = g | z.now
    dels = (gs | z.all[ET.Region | ET.Nation] | z.to_delegate).collect()
    assert {r[0] for r in dels} == {"Region", "Nation"}
    inst = gs | z.delegate_of[ET.Region]
    assert (inst | z.count | z.collect) == 5
    rels = gs | z.delegate_of[RT.MemberOf]
    assert rels.df.count() == 25
    at = (gs | z.all[ET.Region] | z.abstract_type).collect()
    assert all(r[1] == "ET.Region" for r in at)
    # AEs: representation type mirrors the VRT
    ae_ns = gs.all()
    rep = (ae_ns | z.is_represented_as["Float"]
           | z.representation_type).collect()
    assert len(rep) > 0 and all(r[1] == "Float" for r in rep)


def test_bucketed_materialize_colocates_hop_join(spark, persons, tmp_path):
    """Bucketed tables (nodes by id, edges by src_id) make the hop
    join exchange-free on the bucketed sides — the pay-shuffle-once-
    at-ingest layout for 100 TB graphs."""
    g, ids = persons
    g.materialize_bucketed("tg", buckets=4)
    gb = Graph.load_bucketed(spark, "tg")
    # correctness: same traversal results
    pets = GraphAt(gb, gb.max_tx()) | z.all[ET.Person] | z.Outs[RT.HasPet]
    assert [r[1] for r in pets.field("Name").collect()] == ["Luna"]
    # plan: the owners-join (edges.src_id = nodes.id) over the two
    # bucketed tables needs no exchange; compare against the plain
    # parquet layout which must shuffle both sides
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        from pyspark.sql import functions as F
        def owners_join(graph):
            e = graph.edges.where(F.col("rt") == "HasPet") \
                .select(F.col("src_id").alias("id"), "dst_id")
            return graph.nodes.join(e, "id")
        nx_bucketed = owners_join(gb)._jdf.queryExecution() \
            .executedPlan().toString().count("Exchange")
        g.materialize(str(tmp_path / "plain"))
        gp = Graph.load(spark, str(tmp_path / "plain"))
        nx_plain = owners_join(gp)._jdf.queryExecution() \
            .executedPlan().toString().count("Exchange")
        assert nx_bucketed == 0, f"bucketed join has {nx_bucketed} exchanges"
        assert nx_plain >= 1
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_concurrent_transactions_fork_independently(spark):
    """Reference test_no_simul_transactions analogue. The reference
    serializes writers on one mutable graph; here transact is
    FUNCTIONAL (returns a new Graph), so two concurrent transacts
    from the same base must both succeed, producing independent
    lineages, with the base frame unchanged (git-branch semantics
    replace writer locking)."""
    import threading
    from zef_spark import ET, ops as z
    from zef_spark.graph.delta import E, empty_graph, transact
    base, _ = transact(empty_graph(spark), [E(ET.Base, "b0")])
    n_base = base.now().all().df.count()
    results, errors = {}, []

    def writer(tag):
        try:
            g2, rc = transact(base, [E(ET.Forked, tag)])
            results[tag] = g2
        except Exception as ex:  # pragma: no cover
            errors.append(ex)

    threads = [threading.Thread(target=writer, args=(f"w{i}",))
               for i in range(3)]
    [t.start() for t in threads]
    [t.join() for t in threads]
    assert not errors
    assert len(results) == 3
    for tag, g2 in results.items():
        ns = g2.now() | z.all[ET.Forked]
        assert ns.df.count() == 1  # each lineage sees only its write
    assert base.now().all().df.count() == n_base  # base untouched


def test_field_read_arithmetic_owner_fast_path(spark):
    """Mapper-built graphs derive the field owner ARITHMETICALLY from
    ae_id (shared key bits) — the field-read plan must contain ONE
    join (values x node set) and no edge-table access; results equal
    the general edge-join path."""
    from zef_spark import ET, ops as z
    from zef_spark.graph.mapper import graph_for
    g = graph_for(spark, "/root/testdata/sf0.001")
    ns = g | z.now | z.all[ET.Customer]
    fast = ns.field("c_acctbal")
    plan = fast._jdf.queryExecution().executedPlan().toString()
    # r12: on an UNFILTERED all[ET.X] even the owner-restriction join
    # is skipped (attr as-of filter already implies an alive owner of
    # this type) — zero joins, zero edge access.
    assert plan.count("Join") == 0, plan
    assert "edges" not in plan, "fast path still touches the edge table"
    # equality vs the general path (edge hop), forced by masking the
    # owner-code registry
    saved = g.field_owner_code
    try:
        g.field_owner_code = {}
        slow = ns.field("c_acctbal")
    finally:
        g.field_owner_code = saved
    assert sorted(map(tuple, fast.collect())) == \
        sorted(map(tuple, slow.collect()))


def test_slice_diff_includes_relation_events(spark):
    """Relations are RAEs: GraphSlice.diff reports edge
    instantiations/terminations with their rt as token, mirroring
    derive_event_log (streaming/events.py)."""
    g0 = empty_graph(spark)
    g1, r1 = transact(g0, [E(ET.Person, "a"), E(ET.Person, "b")])
    g2, r2 = transact(g1, [R(r1["a"], RT.Knows, r1["b"], name="k")])
    g3, _ = transact(g2, [Terminate(r2["k"])])
    from zef_spark.graph.graph import GraphSlice
    d12 = GraphSlice(g3, 1).diff(GraphSlice(g3, 2)).collect()
    assert ("instantiated", "Knows") in {(r["kind"], r["token"])
                                         for r in d12}
    d23 = GraphSlice(g3, 2).diff(GraphSlice(g3, 3)).collect()
    assert ("terminated", "Knows") in {(r["kind"], r["token"])
                                       for r in d23}
    # node events still present alongside edge events
    d01 = GraphSlice(g3, 0).diff(GraphSlice(g3, 1)).collect()
    assert {(r["kind"], r["token"]) for r in d01} == \
        {("instantiated", "Person")}


def test_dual_projection_colocates_in_traversal(spark, persons):
    """dual_projection writes the dst-major edge clone; In-traversals
    probe it, so a reverse hop join (edges.dst_id = nodes.id) runs
    exchange-free on the bucketed sides — the schema.py scale note
    made real."""
    g, ids = persons
    g.materialize_bucketed("tgd", buckets=4, dual_projection=True)
    gb = Graph.load_bucketed(spark, "tgd")
    assert gb.edges_dst is not None
    # correctness: reverse traversal equals the plain layout's
    owners = GraphAt(gb, gb.max_tx()) | z.all[ET.Pet] | z.Ins[RT.HasPet]
    assert [r[1] for r in owners.field("Name").collect()] == ["Joe"]
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        from pyspark.sql import functions as F

        def petjoin(edges, nodes):
            e = edges.where(F.col("rt") == "HasPet") \
                .select(F.col("dst_id").alias("id"), "src_id")
            return nodes.join(e, "id")
        nx_dst = petjoin(gb.edges_dst, gb.nodes)._jdf.queryExecution() \
            .executedPlan().toString().count("Exchange")
        nx_src = petjoin(gb.edges, gb.nodes)._jdf.queryExecution() \
            .executedPlan().toString().count("Exchange")
        assert nx_dst == 0, f"dst-major probe has {nx_dst} exchanges"
        assert nx_src >= 1      # src-major clone must shuffle for this
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_field_history(spark, persons):
    """Full assignment time-series per node: Joe's Age was 42 from
    tx1 (superseded at tx3), 43 from tx3 (open). A frame BEFORE the
    re-assign sees only the first interval."""
    g, ids = persons
    hist = (GraphAt(g, g.max_tx()) | z.all[ET.Person]) \
        .field_history("Age").orderBy("assigned_at_tx").collect()
    assert [(r.Age, r.assigned_at_tx, r.superseded_at_tx)
            for r in hist] == [(42, 1, 3), (43, 3, None)]
    # the frame at tx2 must NOT see the tx3 supersede (future
    # knowledge): the interval reads as still open
    early = (GraphAt(g, 2) | z.all[ET.Person]) \
        .field_history("Age").collect()
    assert [(r.Age, r.superseded_at_tx) for r in early] == [(42, None)]
