"""The two workloads. Each has a set-up step (untimed as an operation,
counted in setup_s) and a pass: a fixed sequence of operations, each
timed on its own and checked outside its timer.

- ``reads``: the 20 ``bench.HEADLINE`` queries (single-plan
  analytics; phase ``olap_headline``) and 4 driver-synchronized
  iterative graph queries (phase ``graph_iterative``), each built,
  executed and collected once per pass, then checked against a
  committed fingerprint.
- ``writes``: wish transactions committed to a durable GraphStore,
  each followed by a head read and a time-travel read, a compaction
  (phase ``graph_txn``), then a Structured Streaming ingest of the
  events table through ``stream_transact_mapped`` and a readback
  (phase ``stream_ingest``).
"""

from __future__ import annotations

import math
import os
import random
import sys
import time
import traceback

from check import fingerprint

# Iterative graph queries: each is a driver-synchronized loop of jobs
# with localCheckpoint lineage cuts (the mechanism the reads'
# olap_headline phase never touches). One per loop kind: fixed-round
# and to-convergence loops in graph/algorithms.py, the graph.py gather
# closure and corpus.dup_clusters. The run-time budget of the whole
# benchmark leaves no room for more.
ITERATIVE = ["p_pagerank", "g_kcore_cosupply", "g_gather_closure",
             "p_dup_clusters"]

SEED_ENTITIES = 200      # entities in the store before the first commit
NEW_PER_COMMIT = 20      # new entities (with a field) per commit
ASSIGNS_PER_COMMIT = 10  # Assigns to seeded entities per commit
RELS_PER_COMMIT = 5      # relations between new entities per commit
COMMITS_PER_PASS = 1     # compaction runs after every pass's commits
STREAM_FILES = 8         # staged files = micro-batches per ingest
SCORE_RANGE = 1000


def read_queries():
    import bench
    return [("olap_headline", n) for n in bench.HEADLINE] + \
        [("graph_iterative", n) for n in ITERATIVE]


class Run:
    """State of one benchmark run: its session, tracer and inputs, and
    what its operations measured."""

    def __init__(self, spark, tracer, sf_dir: str, work: str, seed: int,
                 fingerprints: dict):
        self.spark = spark
        self.tracer = tracer
        self.sf_dir = sf_dir
        self.work = work
        self.seed = seed
        self.fingerprints = fingerprints
        self.rng = random.Random(seed)
        self.setup: dict[str, float] = {}     # set-up step -> seconds
        self.passes: list[float] = []         # wall seconds per pass
        self.pass_cpu: list[float] = []       # CPU seconds per pass
        # (phase, kind, seconds, query name or "")
        self.ops: list[tuple[str, str, float, str]] = []
        self.attempted = 0
        self.failed = 0
        self.state: dict = {}

    def time_op(self, phase: str, kind: str, fn, **attrs):
        """Run ``fn`` as one timed operation inside a span; returns
        (ok, result). An exception counts the operation as failed."""
        with self.tracer.span(kind, phase=phase, **attrs):
            t0 = time.perf_counter()
            try:
                out = fn()
                ok = True
            except Exception:
                traceback.print_exc(file=sys.stderr)
                out, ok = None, False
            dt = time.perf_counter() - t0
        self.ops.append((phase, kind, dt, attrs.get("query", "")))
        return ok, out

    def verdict(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            print(f"[perfbench] WRONG: {what}", file=sys.stderr)

    def plan(self, df) -> None:
        """Traced runs time Catalyst on its own: the executed plan is
        cached on the DataFrame, so the action that follows reuses it."""
        if self.tracer.enabled:
            with self.tracer.span("catalyst"):
                df._jdf.queryExecution().executedPlan()


# ---------------------------------------------------------------- reads

def reads_setup(run: Run) -> None:
    import __spark_entry__ as entry
    run.state["queries"] = entry.queries()
    # first job, parquet reader and footer cache, as bench.py does
    run.spark.read.parquet(f"{run.sf_dir}/region.parquet").count()


def reads_pass(run: Run) -> None:
    qs = run.state["queries"]
    results = {}
    for phase, name in read_queries():
        def one(name=name):
            with run.tracer.span("plan.build"):
                df = qs[name](run.spark, run.sf_dir)
            run.plan(df)
            with run.tracer.span("execute"):
                rows = df.collect()
            return df.columns, rows
        ok, out = run.time_op(phase, "query", one, query=name)
        results[name] = out if ok else None
    # checks, outside every timer
    for _, name in read_queries():
        want = run.fingerprints.get(name)
        got = results[name] and fingerprint(*results[name])
        run.verdict(bool(got) and want is not None
                    and got["rows"] == want["rows"]
                    and got["hash"] == want["hash"],
                    f"{name}: got {got}, want {want}")


# --------------------------------------------------------------- writes

def writes_setup(run: Run) -> None:
    from zef_spark import ET
    from zef_spark.graph.delta import E, empty_graph, transact
    from zef_spark.graph.sync import GraphStore
    rng = run.rng
    scores = [rng.randrange(SCORE_RANGE) for _ in range(SEED_ENTITIES)]
    g1, receipt = transact(empty_graph(run.spark), [
        E(ET.Person, f"s{i}", fields={"score": s})
        for i, s in enumerate(scores)])
    path = os.path.join(run.work, "store")
    store = GraphStore.init(g1, path)
    ids = [receipt[f"s{i}"] for i in range(SEED_ENTITIES)]
    run.state.update(
        store=store, store_path=path, seed_ids=ids,
        score=dict(zip(ids, scores)), count=SEED_ENTITIES,
        # (tx, entity count, score sum) after each tx that changed them
        history=[(g1.max_tx(), SEED_ENTITIES, sum(scores))],
        commits=0, segment_bytes=[])
    _stage_stream(run)


def _stage_stream(run: Run) -> None:
    """Split the events table into STREAM_FILES parquet files; the seed
    decides which rows land in which file. Expected per-event_type
    counts and sums are taken from the same rows."""
    import pyarrow.parquet as pq
    table = pq.read_table(f"{run.sf_dir}/events.parquet",
                          columns=["event_id", "event_type", "value"])
    order = list(range(table.num_rows))
    run.rng.shuffle(order)
    src = os.path.join(run.work, "stream_src")
    os.makedirs(src)
    for i in range(STREAM_FILES):
        part = table.take(sorted(order[i::STREAM_FILES]))
        pq.write_table(part, os.path.join(src, f"part-{i:03d}.parquet"))
    expect: dict[str, list] = {}
    for et, v in zip(table.column("event_type").to_pylist(),
                     table.column("value").to_pylist()):
        e = expect.setdefault(et, [0, 0.0])
        e[0] += 1
        e[1] += v
    run.state.update(stream_src=src, stream_rows=table.num_rows,
                     stream_expect=expect, ingests=0, progress=[])
    _listen_progress(run)


def _listen_progress(run: Run) -> None:
    from pyspark.sql.streaming import StreamingQueryListener

    class Progress(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            run.state["progress"].append(event.progress)

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    run.spark.streams.addListener(Progress())


def dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


def _expected_at(history, tx: int) -> tuple[int, int]:
    """(entity count, score sum) as of ``tx``; before the seed, none."""
    best = (0, 0)
    for t, n, s in history:
        if t <= tx:
            best = (n, s)
    return best


def _txn_step(run: Run) -> None:
    from pyspark.sql import functions as F
    from zef_spark import ET, RT
    from zef_spark.graph.delta import E, R, Assign
    st, rng = run.state, run.rng
    k = st["commits"]
    new = [rng.randrange(SCORE_RANGE) for _ in range(NEW_PER_COMMIT)]
    targets = rng.sample(st["seed_ids"], ASSIGNS_PER_COMMIT)
    values = [rng.randrange(SCORE_RANGE) for _ in targets]
    wishes = [E(ET.Person, f"n{k}_{i}", fields={"score": s})
              for i, s in enumerate(new)]
    wishes += [Assign(t, "score", v) for t, v in zip(targets, values)]
    wishes += [R(f"n{k}_{i}", RT.Knows, f"n{k}_{i + 1}")
               for i in range(RELS_PER_COMMIT)]
    ok, out = run.time_op("graph_txn", "commit",
                          lambda: st["store"].commit(wishes))
    st["commits"] += 1
    if not ok:
        run.verdict(False, f"commit {k} raised")
        return
    head = out[0]
    st["count"] += NEW_PER_COMMIT
    st["score"].update(zip(targets, values))
    st["new_sum"] = st.get("new_sum", 0) + sum(new)
    tx = head.max_tx()
    st["history"].append(
        (tx, st["count"], sum(st["score"].values()) + st["new_sum"]))
    segs = [d for d in os.listdir(os.path.join(st["store_path"], "txlog"))
            if d.isdigit()]
    if segs:
        st["segment_bytes"].append(dir_bytes(os.path.join(
            st["store_path"], "txlog", max(segs, key=int))))

    # the slice before this commit: a run makes one pass, so older
    # slices would predate the seed and read nothing
    at_tx = tx - 1

    def read():
        now_df = head.now().all(ET.Person).df.agg(
            F.count(F.lit(1)).alias("n"))
        at_df = (head.at(at_tx).all(ET.Person).field("score")
                 .agg(F.count(F.lit(1)).alias("n"),
                      F.sum("score").alias("s")))
        run.plan(now_df)
        run.plan(at_df)
        return now_df.collect()[0], at_df.collect()[0]

    ok, out = run.time_op("graph_txn", "read", read)
    want_n, want_s = _expected_at(st["history"], at_tx)
    run.verdict(ok and out[0]["n"] == st["count"]
                and out[1]["n"] == want_n and (out[1]["s"] or 0) == want_s,
                f"read after commit {k}: got {out}, want now={st['count']}"
                f" at({at_tx})=({want_n}, {want_s})")


def _stream_ingest(run: Run) -> None:
    from pyspark.sql import functions as F
    from zef_spark import ET
    from zef_spark.graph.delta import empty_graph
    from zef_spark.streaming.ingest import (BatchEntityMap,
                                            stream_transact_mapped)
    st = run.state
    n = st["ingests"]
    st["ingests"] += 1
    stream = (run.spark.readStream
              .schema("event_id long, event_type string, value double")
              .option("maxFilesPerTrigger", 1)
              .parquet(st["stream_src"]))
    mapping = BatchEntityMap(ET.StreamEvent, key_col="event_id",
                             type_code=90,
                             fields={"event_type": 700, "value": 702})
    st["progress"] = []
    ok, tr = run.time_op(
        "stream_ingest", "ingest",
        lambda: stream_transact_mapped(
            empty_graph(run.spark), stream, mapping,
            stream_id=f"perfbench-{n}",
            checkpoint=os.path.join(run.work, f"stream_cp_{n}")))
    run.spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    batches = [p for p in st["progress"] if p.numInputRows > 0]
    st.setdefault("batches", []).extend(batches)
    for p in batches:
        run.ops.append(("stream_ingest", "batch",
                        p.durationMs["triggerExecution"] / 1000.0, ""))
    if not ok:
        run.verdict(False, f"ingest {n} raised")
        return

    def readback():
        vals = tr.graph.now().all(ET.StreamEvent).fields(
            event_type="event_type", value="value")
        agg = vals.groupBy("event_type").agg(
            F.count(F.lit(1)).alias("n"), F.sum("value").alias("s"))
        run.plan(agg)
        return agg.collect()

    ok, rows = run.time_op("stream_ingest", "readback", readback)
    got = {r["event_type"]: (r["n"], r["s"]) for r in rows or []}
    want = st["stream_expect"]
    run.verdict(ok and len(batches) == STREAM_FILES
                and got.keys() == want.keys()
                and all(got[k][0] == want[k][0]
                        and math.isclose(got[k][1], want[k][1],
                                         rel_tol=1e-9, abs_tol=1e-6)
                        for k in want),
                f"ingest {n}: {len(batches)} batches, got {got}, "
                f"want {want}")


def writes_pass(run: Run) -> None:
    for _ in range(COMMITS_PER_PASS):
        _txn_step(run)
    ok, _ = run.time_op("graph_txn", "compact",
                        lambda: run.state["store"].compact())
    run.verdict(ok, "compaction raised")
    _stream_ingest(run)


WORKLOADS = {
    "reads": (reads_setup, reads_pass),
    "writes": (writes_setup, writes_pass),
}
