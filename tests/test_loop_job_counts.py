"""Job counts of the iterative graph loops on an 8-node chain.

Each loop cuts a round's state with a lazy localCheckpoint and probes
it with one count() (graph/algorithms.py module docstring), so a round
costs one action. The bounds are the counts measured with that rule
(the same at local[2], local[4] and local[8]); an eager cut or a second
probe per round exceeds them.
"""

import pytest

from zef_spark.graph.algorithms import bfs_levels, k_core, \
    label_propagation
from zef_spark.pipeline.wrangling import identify_entities

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
