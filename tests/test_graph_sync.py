"""Multi-process shared-graph sync (graph/sync.py): tx-segment log
with optimistic atomic-rename commits — the engine's ZefHub analogue
(reference robot suite shares one graph across 10 processes)."""


import pytest

# r13 verify-gate split: multi-minute e2e/property lane, opt-in via `make test-slow`
pytestmark = pytest.mark.slow
import os

from zef_spark import ET, RT
from zef_spark.graph.delta import (Assign, E, R, Terminate,
                                   empty_graph, transact)
from zef_spark.graph.sync import GraphStore


def _store(spark, tmp_path):
    g0 = empty_graph(spark)
    g1, _ = transact(g0, [E(ET.Person, "alice",
                            fields={"age": 30})])
    return GraphStore.init(g1, str(tmp_path / "shared"))


def test_second_instance_sees_commits(spark, tmp_path):
    a = _store(spark, tmp_path)
    # a SECOND store over the same path = another process's view
    b = GraphStore(spark, a.path)
    assert b.head().now().all(ET.Person).df.count() == 1

    a.commit([E(ET.Person, "bob", fields={"age": 25})])
    # b has a stale head until refresh; refresh picks up a's segment
    gb = b.refresh()
    assert gb.now().all(ET.Person).df.count() == 2
    ages = sorted(r[1] for r in
                  gb.now().all(ET.Person).field("age").collect())
    assert ages == [25, 30]


def test_closures_cross_process(spark, tmp_path):
    a = _store(spark, tmp_path)
    b = GraphStore(spark, a.path)
    ga = a.head()
    alice = ga.now().all(ET.Person).df.collect()[0]["id"]
    # terminate + re-assign in separate commits
    a.commit([Assign(alice, "age", 31)])
    a.commit([Terminate(alice)])
    gb = b.refresh()
    assert gb.now().all(ET.Person).df.count() == 0        # terminated
    # time travel still works on the shared history: frame before the
    # terminate sees the updated value
    tx = gb.max_tx()
    from zef_spark.graph.graph import GraphSlice
    frame = GraphSlice(gb, tx - 1)
    vals = [r[1] for r in
            frame.all(ET.Person).field("age").collect()]
    assert vals == [31]


def test_commit_race_retries(spark, tmp_path):
    a = _store(spark, tmp_path)
    b = GraphStore(spark, a.path)
    # b commits first; then a (whose head is stale) commits — a's
    # first claim of tx collides with b's segment and must retry on
    # the refreshed head, not fail and not overwrite
    a.refresh()
    b.commit([E(ET.Person, "bob")])
    g2, receipt = a.commit([E(ET.Person, "carol")])
    assert "carol" in receipt
    assert g2.now().all(ET.Person).df.count() == 3
    # serializable chain: tx numbers are dense and unique
    segs = sorted(int(n) for n in
                  os.listdir(os.path.join(a.path, "txlog"))
                  if n.isdigit())
    assert segs == list(range(segs[0], segs[0] + len(segs)))


def test_relations_and_receipt_across_store(spark, tmp_path):
    a = _store(spark, tmp_path)
    alice = a.head().now().all(ET.Person).df.collect()[0]["id"]
    g, r = a.commit([E(ET.Pet, "rex"), R(alice, RT.Owns, "rex")])
    b = GraphStore(spark, a.path)
    gb = b.refresh()
    assert gb.now().all(ET.Pet).df.count() == 1
    # the relation traverses from the OTHER store's view
    import zef_spark.ops as z
    pets = gb.now().all(ET.Person) | z.Outs[RT.Owns]
    assert (pets | z.count | z.collect) == 1


def test_compact_checkpoint(spark, tmp_path):
    a = _store(spark, tmp_path)
    for name in ("bob", "carol", "dave"):
        a.commit([E(ET.Person, name)])
    g = a.compact()
    assert g.now().all(ET.Person).df.count() == 4
    # a fresh reader starts from the checkpoint, not the full chain,
    # and still sees everything (including commits AFTER compaction)
    a.commit([E(ET.Person, "erin")])
    b = GraphStore(spark, a.path)
    gb = b.refresh()
    assert gb.now().all(ET.Person).df.count() == 5
    # tx chain stayed gapless through the checkpoint's empty tx
    txs = sorted(r[0] for r in gb.txs.collect())
    assert txs == list(range(txs[0], txs[0] + len(txs)))
    # history before the checkpoint survives (fold, not truncation)
    from zef_spark.graph.graph import GraphSlice
    assert GraphSlice(gb, 2).all(ET.Person).df.count() == 2


def test_true_multiprocess_sync(spark, tmp_path, repo_root):
    """A REAL second process (own JVM/SparkSession) commits to the
    shared store; this process sees it after refresh — the reference's
    robot scenario (N processes, one graph) minus the broker."""
    import subprocess
    import sys
    a = _store(spark, tmp_path)
    script = f"""
import sys
sys.path.insert(0, {repo_root!r})
from zef_spark import ET, get_spark
from zef_spark.graph.delta import E
from zef_spark.graph.sync import GraphStore
spark = get_spark("zef_sync_proc_b")
spark.sparkContext.setLogLevel("ERROR")
store = GraphStore(spark, {a.path!r})
g, r = store.commit([E(ET.Person, "from_proc_b", fields={{"age": 99}})])
assert "from_proc_b" in r
print("COMMITTED", g.max_tx())
"""
    out = subprocess.run([sys.executable, "-c", script],
                         capture_output=True, text=True, timeout=300)
    assert "COMMITTED" in out.stdout, out.stderr[-2000:]
    gb = a.refresh()
    assert gb.now().all(ET.Person).df.count() == 2
    ages = sorted(r[1] for r in
                  gb.now().all(ET.Person).field("age").collect())
    assert ages == [30, 99]


def test_clean_after_compact(spark, tmp_path):
    import os
    a = _store(spark, tmp_path)
    a.commit([E(ET.Person, "bob")])
    a.compact()
    a.commit([E(ET.Person, "carol")])
    removed = a.clean()
    assert removed                              # pre-checkpoint history gone
    # post-clean reads still serve the full current state
    b = GraphStore(spark, a.path)
    assert b.refresh().now().all(ET.Person).df.count() == 3
    # original base dir removed, checkpoint base kept
    names = set(os.listdir(a.path))
    assert "base" not in names
    assert any(n.startswith("base-") for n in names)


def test_commit_mapped_distributed_bulk(spark, tmp_path):
    """Data-plane commits: a whole DataFrame enters the shared graph
    as one tx segment written DISTRIBUTED (no payload collect), and
    another process sees entities + fields + the tx on refresh."""
    from pyspark.sql import functions as F
    from zef_spark.streaming.ingest import BatchEntityMap
    a = _store(spark, tmp_path)
    batch = spark.range(1, 101).select(
        F.col("id").alias("k"), (F.col("id") * 2.0).alias("amount"))

    def poisoned(*args, **kw):
        raise AssertionError("payload collected on the driver")
    batch.collect = poisoned
    batch.toPandas = poisoned
    m = BatchEntityMap("Purchase", key_col="k", type_code=91,
                       fields={"amount": 710})
    g = a.commit_mapped(batch, m)
    from zef_spark import ET
    assert g.now().all(ET.Purchase).df.count() == 100
    b = GraphStore(spark, a.path)
    gb = b.refresh()
    vals = [r[1] for r in gb.now().all(ET.Purchase)
            .field("amount").collect()]
    assert sorted(vals)[:3] == [2.0, 4.0, 6.0] and len(vals) == 100
    # wish commits interleave with mapped commits on one tx chain
    b.commit([E(ET.Person, "bob")])
    ga = a.refresh()
    assert ga.now().all(ET.Person).df.count() == 2
    assert ga.max_tx() == gb.max_tx() + 1


def test_wish_ids_mint_above_mapped_band(spark, tmp_path):
    """ADVICE r05 (sync.py): interleaving wish commits with
    commit_mapped must NOT mint colliding RAE ids. Field code 710's
    edge band (711·2^52) reaches past the fixed 2^60 wish floor, so
    without a persisted floor a wish id would equal the arithmetic id
    the NEXT mapped batch deterministically mints for its next
    sequential key. Prove: wish after mapped mints above the band, a
    later mapped batch extends the band, and every id in the head is
    unique — including through a rebuilt (other-process) head."""
    from pyspark.sql import functions as F
    from zef_spark.streaming.ingest import BatchEntityMap
    a = _store(spark, tmp_path)
    m = BatchEntityMap("Purchase", key_col="k", type_code=91,
                       fields={"amount": 710})
    batch1 = spark.range(1, 101).select(
        F.col("id").alias("k"), (F.col("id") * 2.0).alias("amount"))
    a.commit_mapped(batch1, m)

    # a SECOND process's wish commit: its head is rebuilt from the
    # segment log, so the floor must come from the persisted idmax
    b = GraphStore(spark, a.path)
    gb, receipt = b.commit([E(ET.Person, "carol")])
    wish_id = receipt["carol"]
    assert wish_id > m.max_payload_id, (
        f"wish id {wish_id} minted inside/below the mapped band "
        f"(bound {m.max_payload_id})")

    # the next mapped batch mints key 101's ids — the exact ids a
    # floorless wish allocation would have collided with
    batch2 = spark.range(101, 111).select(
        F.col("id").alias("k"), (F.col("id") * 2.0).alias("amount"))
    ga = a.commit_mapped(batch2, m)
    for df, col in ((ga.nodes, "id"), (ga.edges, "id")):
        alive = df.where(F.col("valid_to_tx").isNull())
        n = alive.count()
        nd = alive.select(col).distinct().count()
        assert n == nd, f"duplicate alive {col}s: {n} rows, {nd} distinct"
    assert ga.now().all(ET.Purchase).df.count() == 110
    assert ga.now().all(ET.Person).df.count() == 2


def test_tag_deltas_cross_process(spark, tmp_path):
    """r05 verdict §3: tag/untag survive multi-process sync. Process
    A tags, process B resolves by_tag after refresh; a re-tag moves
    the name and the old interval stays time-travelable."""
    from zef_spark.graph.delta import Tag, Untag
    from zef_spark.graph.graph import GraphSlice
    a = _store(spark, tmp_path)
    alice = a.head().now().all(ET.Person).df.collect()[0]["id"]
    a.commit([Tag("boss", alice)])

    b = GraphStore(spark, a.path)
    gb = b.refresh()
    assert gb.now().by_tag("boss").df.collect()[0]["id"] == alice

    # B re-tags to a new person; A sees the move after refresh
    gb2, receipt = b.commit([E(ET.Person, "bob"), Tag("boss", "bob")])
    ga = a.refresh()
    assert ga.now().by_tag("boss").df.collect()[0]["id"] \
        == receipt["bob"]
    # the pre-move frame still resolves the OLD target (temporal tag)
    old = GraphSlice(ga, ga.max_tx() - 1)
    assert old.by_tag("boss").df.collect()[0]["id"] == alice

    # untag closes the interval everywhere
    b.commit([Untag("boss")])
    ga = a.refresh()
    assert ga.now().by_tag("boss").df.count() == 0


def test_tags_survive_compaction(spark, tmp_path):
    """compact() folds history (tags included, via materialize) into
    a fresh base; a rebuilt head in another process still resolves
    the tag, and clean() removing pre-checkpoint segments doesn't
    lose it."""
    from zef_spark.graph.delta import Tag
    a = _store(spark, tmp_path)
    alice = a.head().now().all(ET.Person).df.collect()[0]["id"]
    a.commit([Tag("boss", alice)])
    a.compact()
    a.clean()
    b = GraphStore(spark, a.path)
    gb = b.refresh()
    assert gb.now().by_tag("boss").df.collect()[0]["id"] == alice
    # and the floor survived the clean too: a post-compact wish in
    # the OTHER process mints a fresh id (no reuse of alice's)
    _, receipt = b.commit([E(ET.Person, "dan")])
    assert receipt["dan"] != alice


# --- r07 verdict order #6: object-store commit posture -------------

def test_marker_protocol_full_lifecycle(spark, tmp_path):
    """MarkerCommitProtocol (conditional-put commit markers, no
    renames): commits, cross-instance visibility, race retry,
    compact checkpoint and clean all behave exactly like the POSIX
    rename protocol."""
    from zef_spark.graph.sync import MarkerCommitProtocol
    g0 = empty_graph(spark)
    g1, _ = transact(g0, [E(ET.Person, "alice", fields={"age": 30})])
    a = GraphStore.init(g1, str(tmp_path / "shared"),
                        protocol=MarkerCommitProtocol())
    b = GraphStore(spark, a.path, protocol=MarkerCommitProtocol())
    # no digit-named dirs ever appear — nothing was renamed
    a.commit([E(ET.Person, "bob", fields={"age": 25})])
    assert not any(n.isdigit() for n in
                   os.listdir(os.path.join(a.path, "txlog")))
    assert b.refresh().now().all(ET.Person).df.count() == 2
    # race: b's head is now current, a goes stale, both commit
    b.commit([E(ET.Person, "carol")])
    g2, receipt = a.commit([E(ET.Person, "dave")])
    assert "dave" in receipt
    assert g2.now().all(ET.Person).df.count() == 4
    # serializable: markers are dense and unique
    cdir = os.path.join(a.path, "txlog", "_commits")
    txs = sorted(int(n[:-5]) for n in os.listdir(cdir))
    assert txs == list(range(txs[0], txs[0] + len(txs)))
    # compact + clean under the marker protocol
    a.compact()
    removed = a.clean()
    assert removed
    gb = b.refresh()
    assert gb.now().all(ET.Person).df.count() == 4


def test_mixed_protocols_share_one_chain(spark, tmp_path):
    """A rename-claimed store and a marker-claimed store on the same
    path observe ONE serializable history (migration posture)."""
    from zef_spark.graph.sync import (MarkerCommitProtocol,
                                      RenameCommitProtocol)
    g0 = empty_graph(spark)
    g1, _ = transact(g0, [E(ET.Person, "alice")])
    a = GraphStore.init(g1, str(tmp_path / "shared"),
                        protocol=RenameCommitProtocol())
    b = GraphStore(spark, a.path, protocol=MarkerCommitProtocol())
    a.commit([E(ET.Person, "bob")])
    b.commit([E(ET.Person, "carol")])
    a.commit([E(ET.Person, "dave")])
    assert a.refresh().now().all(ET.Person).df.count() == 4
    assert b.refresh().now().all(ET.Person).df.count() == 4


def test_rename_protocol_unsafe_without_atomic_rename(tmp_path,
                                                      monkeypatch):
    """PROOF of the documented failure mode at the claim primitive
    (r07 verdict order #6): under copy+delete-with-overwrite rename
    semantics (what S3/GCS-style stores actually do), TWO writers'
    claims of the SAME tx both report success under the rename
    protocol — the second silently replaces the first segment, a lost
    commit. The marker protocol's conditional put rejects the second
    claim under the very same rename semantics, because it never
    renames at all."""
    import shutil
    from zef_spark.graph.sync import (MarkerCommitProtocol,
                                      RenameCommitProtocol)

    def object_store_rename(src, dst):
        # S3-style: not atomic, no fail-if-exists — last writer wins
        if os.path.isdir(dst):
            shutil.rmtree(dst)
        shutil.copytree(src, dst)
        shutil.rmtree(src)

    def mk_seg(proto, path, payload):
        seg = proto.temp_segment(path)
        os.makedirs(seg)
        with open(os.path.join(seg, "payload.txt"), "w") as f:
            f.write(payload)
        return seg

    # --- rename protocol on the fake object store: DOUBLE CLAIM ---
    store = tmp_path / "ren"
    os.makedirs(store / "txlog")
    ren = RenameCommitProtocol()
    seg_a = mk_seg(ren, str(store), "writer A tx2")
    seg_b = mk_seg(ren, str(store), "writer B tx2")
    monkeypatch.setattr("os.rename", object_store_rename)
    assert ren.claim(str(store), 2, seg_a) is True
    assert ren.claim(str(store), 2, seg_b) is True, \
        "shim no longer models the object-store hazard"
    monkeypatch.undo()
    final = store / "txlog" / "000000000002"
    with open(final / "payload.txt") as f:
        assert f.read() == "writer B tx2"   # A's commit silently lost

    # --- marker protocol under the SAME rename semantics: SAFE ----
    store2 = tmp_path / "mark"
    os.makedirs(store2 / "txlog")
    mark = MarkerCommitProtocol()
    seg_a2 = mk_seg(mark, str(store2), "writer A tx2")
    seg_b2 = mk_seg(mark, str(store2), "writer B tx2")
    monkeypatch.setattr("os.rename", object_store_rename)
    assert mark.claim(str(store2), 2, seg_a2) is True
    assert mark.claim(str(store2), 2, seg_b2) is False  # race DETECTED
    monkeypatch.undo()
    # the committed chain still points at A's intact segment
    from zef_spark.graph.sync import _seg_dirs
    segs = dict(_seg_dirs(str(store2)))
    with open(os.path.join(segs[2], "payload.txt")) as f:
        assert f.read() == "writer A tx2"


def test_claim_protocol_interleaving_property(tmp_path):
    """Property: under ANY interleaving of claim attempts by multiple
    writers (each retrying with incremented tx on rejection), the
    committed chain is dense, each tx maps to exactly one writer's
    segment, and no claimed segment is ever overwritten — for both
    protocols on a POSIX store. Fixed-seed random schedules."""
    import random
    from zef_spark.graph.sync import (MarkerCommitProtocol,
                                      RenameCommitProtocol, _seg_dirs)

    for proto_name, mk in (("rename", RenameCommitProtocol),
                           ("marker", MarkerCommitProtocol)):
        rng = random.Random(808)
        for trial in range(6):
            store = tmp_path / f"{proto_name}-{trial}"
            os.makedirs(store / "txlog")
            writers = []
            for wid in range(3):
                proto = mk()
                writers.append({"id": wid, "proto": proto,
                                "next_tx": 1, "done": 0})
            committed = {}
            # each writer lands 4 commits under a random schedule
            while any(w["done"] < 4 for w in writers):
                w = rng.choice([x for x in writers if x["done"] < 4])
                tx = w["next_tx"]
                seg = w["proto"].temp_segment(str(store))
                os.makedirs(seg)
                with open(os.path.join(seg, "who.txt"), "wt") as f:
                    f.write(f"w{w['id']}:tx{tx}")
                if w["proto"].claim(str(store), tx, seg):
                    committed[tx] = f"w{w['id']}:tx{tx}"
                    w["done"] += 1
                    w["next_tx"] = tx + 1
                else:
                    w["proto"].discard(str(store), tx, seg)
                    # refresh: skip past every claimed tx
                    taken = dict(_seg_dirs(str(store)))
                    w["next_tx"] = (max(taken) if taken else 0) + 1
            # dense chain, one segment per tx, contents intact
            segs = dict(_seg_dirs(str(store)))
            assert sorted(segs) == list(range(1, 13)), proto_name
            for tx, path in segs.items():
                with open(os.path.join(path, "who.txt")) as f:
                    assert f.read() == committed[tx], \
                        f"{proto_name}: tx {tx} segment overwritten"
