"""Job counts of the iterative graph loops on an 8-node chain, and of a
GraphStore commit and compaction.

Each loop cuts a round's state with a lazy localCheckpoint and probes
it with one count() (graph/algorithms.py module docstring), so a round
costs one action. The bounds are the counts measured with that rule
(the same at local[2], local[4] and local[8]); an eager cut or a second
probe per round exceeds them.

A commit writes the rows ``transact`` built on the driver, so its only
jobs are transact's field lookup and the one query for the keys of the
stored rows it closes.

A mapped stream declares the arithmetic owners of the fields it mints,
so reading them back scans no edges, and ``fields()`` reads all of
them with one aggregation and one left join.

A mapped batch over a graph whose id floor is known runs only the
key-range probe; ``commit_mapped`` adds one distributed write per
non-empty table.
"""

import pytest

from zef_spark import ET, RT
from zef_spark.graph.algorithms import bfs_levels, k_core, \
    label_propagation
from zef_spark.graph.delta import Assign, E, R, empty_graph, transact
from zef_spark.graph.sync import GraphStore
from zef_spark.pipeline.wrangling import identify_entities
from zef_spark.streaming.ingest import BatchEntityMap, \
    MappedStreamTransactor, stream_transact_mapped

_GROUP_PROPS = ("spark.jobGroup.id", "spark.job.description",
                "spark.job.interruptOnCancel")


def _jobs(spark, fn, group):
    """(number of Spark jobs ``fn`` launched, its result)."""
    sc = spark.sparkContext
    saved = {k: sc.getLocalProperty(k) for k in _GROUP_PROPS}
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        for k, v in saved.items():
            sc.setLocalProperty(k, v)
    return len(sc.statusTracker().getJobIdsForGroup(group)), out


@pytest.fixture(scope="module")
def chain(spark):
    return spark.createDataFrame([(i, i + 1) for i in range(7)],
                                 "src long, dst long")


@pytest.fixture(scope="module")
def records(spark):
    # email links 0-1, 2-3, 4-5, 6-7; phone links 1-2, 3-4, 5-6: one
    # entity chained across both keys
    return spark.createDataFrame(
        [(i, f"e{i // 2}", f"p{(i + 1) // 2}") for i in range(8)],
        "rid long, email string, phone string")


def test_bfs_levels_jobs(spark, chain):
    src = spark.createDataFrame([(0,)], "id long")
    n, rows = _jobs(spark, lambda: bfs_levels(chain, src).collect(),
                    "loop-jobs-bfs")
    assert {r.id: r.level for r in rows} == {i: i for i in range(8)}
    assert n <= 58


def test_identify_entities_jobs(spark, records):
    n, rows = _jobs(spark, lambda: identify_entities(
        records, "rid", ["email", "phone"]).collect(),
        "loop-jobs-identify")
    assert {r.entity_id for r in rows} == {0}
    assert n <= 69


def test_k_core_jobs(spark, chain):
    n, rows = _jobs(spark, lambda: k_core(chain, 2).collect(),
                    "loop-jobs-kcore")
    assert rows == []
    assert n <= 28


def test_label_propagation_jobs(spark, chain):
    n, rows = _jobs(spark, lambda: label_propagation(chain).collect(),
                    "loop-jobs-lp")
    assert len(rows) == 8
    assert n <= 22


@pytest.fixture
def store(spark, tmp_path):
    g, receipt = transact(empty_graph(spark), [
        E(ET.Person, f"s{i}", fields={"score": i}) for i in range(20)])
    return (GraphStore.init(g, str(tmp_path / "store")),
            [receipt[f"s{i}"] for i in range(20)])


def test_store_commit_jobs(spark, store):
    # the benchmark's commit: 20 new entities with a field, 10 field
    # assignments to stored entities, 5 relations
    st, ids = store
    wishes = [E(ET.Person, f"n{i}", fields={"score": i}) for i in range(20)]
    wishes += [Assign(t, "score", -1) for t in ids[:10]]
    wishes += [R(f"n{i}", RT.Knows, f"n{i + 1}") for i in range(5)]
    n, (head, _) = _jobs(spark, lambda: st.commit(wishes),
                         "store-jobs-commit")
    assert head.max_tx() == 2
    assert n <= 3


def test_store_compact_jobs(spark, store):
    st, ids = store
    st.commit([Assign(ids[0], "score", -1)])
    n, head = _jobs(spark, st.compact, "store-jobs-compact")
    assert head.max_tx() == 3
    assert n <= 7


def test_mapped_readback_jobs(spark, tmp_path):
    # the benchmark's ingest in small: 8 micro-batches, 2 mapped fields
    src = str(tmp_path / "events")
    for b in range(8):
        spark.createDataFrame(
            [(b * 10 + i, f"t{i % 3}", float(i)) for i in range(10)],
            "event_id long, event_type string, value double") \
            .coalesce(1).write.mode("append").parquet(src)
    stream = (spark.readStream
              .schema("event_id long, event_type string, value double")
              .option("maxFilesPerTrigger", 1).parquet(src))
    mapping = BatchEntityMap(ET.StreamEvent, key_col="event_id",
                             type_code=90,
                             fields={"event_type": 700, "value": 702})
    st = stream_transact_mapped(empty_graph(spark), stream, mapping,
                                checkpoint=str(tmp_path / "cp"))
    assert st.graph.max_tx() == 8
    n, rows = _jobs(spark, lambda: st.graph.now().all(ET.StreamEvent)
                    .fields(event_type="event_type", value="value")
                    .collect(), "mapped-readback-jobs")
    assert sorted((r.event_type, r.value) for r in rows) == sorted(
        (f"t{i % 3}", float(i)) for _ in range(8) for i in range(10))
    assert n <= 4


_EVENTS = "event_id long, event_type string, value double"
_EVENT_MAP = BatchEntityMap(ET.StreamEvent, key_col="event_id",
                            type_code=90,
                            fields={"event_type": 700, "value": 702})


def _one_file_batch(spark):
    # one partition, like a micro-batch read from one file: the probe's
    # LIMIT 1 then scans it in one job
    return spark.createDataFrame(
        [(i, f"t{i % 3}", float(i)) for i in range(10)], _EVENTS) \
        .coalesce(1)


def test_mapped_batch_jobs(spark, store):
    st, _ = store
    g = st.refresh()
    assert g._max_rae_id is not None      # the store records the floor
    sink = MappedStreamTransactor(g, _EVENT_MAP, "s1")
    batch = _one_file_batch(spark)
    n, applied = _jobs(spark, lambda: sink.apply_batch(batch, 0),
                       "mapped-batch-jobs")
    assert applied and sink.graph.max_tx() == 2
    assert n <= 1


def test_store_commit_mapped_jobs(spark, store):
    st, _ = store
    st.refresh()
    batch = _one_file_batch(spark)
    n, head = _jobs(spark, lambda: st.commit_mapped(batch, _EVENT_MAP),
                    "store-jobs-commit-mapped")
    assert head.max_tx() == 2
    assert n <= 4
