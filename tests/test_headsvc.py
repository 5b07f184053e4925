"""Networked graph sync over the head service (graph/headsvc.py):
writers share NOTHING but a URL — the ZefHub analogue (reference:
`core/src/butler/butler_handlers_ws.cpp` WebSocket broker;
`python/tests/robot/tests/test.robot` syncs one graph across many
REPLs with no shared filesystem). Includes the r08 verdict order #6
scenario: the marker protocol's read-resolution chain proven against
NON-POSIX eventual visibility (marker listable before its blobs)."""


# r13 verify-gate split: multi-minute e2e/property lane, opt-in via `make test-slow`
import pytest
pytestmark = pytest.mark.slow
import threading

import pytest

from zef_spark import ET
from zef_spark.graph.delta import E, empty_graph, transact
from zef_spark.graph.headsvc import RemoteGraphStore, serve


@pytest.fixture()
def head():
    srv, url, store = serve()
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    yield url, store
    srv.shutdown()


def _publish(spark, url, tmp_path):
    g0 = empty_graph(spark)
    g1, _ = transact(g0, [E(ET.Person, "alice", fields={"age": 30})])
    return RemoteGraphStore.publish(g1, url, str(tmp_path / "cacheA"))


def test_attach_by_url_only(spark, tmp_path, head):
    url, _store = head
    _publish(spark, url, tmp_path)
    # B shares ONLY the URL: its cache dir is private and empty
    b = RemoteGraphStore(spark, url, str(tmp_path / "cacheB"))
    assert b.head().now().all(ET.Person).df.count() == 1


def test_commits_flow_both_ways(spark, tmp_path, head):
    url, _store = head
    a = _publish(spark, url, tmp_path)
    b = RemoteGraphStore(spark, url, str(tmp_path / "cacheB"))
    a.commit([E(ET.Person, "bob", fields={"age": 25})])
    assert b.refresh().now().all(ET.Person).df.count() == 2
    b.commit([E(ET.Person, "carol", fields={"age": 41})])
    ga = a.refresh()
    assert ga.now().all(ET.Person).df.count() == 3
    ages = sorted(r[1] for r in
                  ga.now().all(ET.Person).field("age").collect())
    assert ages == [25, 30, 41]


def test_claim_race_retries_remotely(spark, tmp_path, head):
    """A commits against a STALE head after B already claimed the tx
    number — the remote conditional put loses and the commit loop
    retries on the refreshed head (per-tx transactor handoff)."""
    url, _store = head
    a = _publish(spark, url, tmp_path)
    b = RemoteGraphStore(spark, url, str(tmp_path / "cacheB"))
    b.head()
    # a's head is current; b commits first, making a stale
    b.commit([E(ET.Person, "bob")])
    g, receipt = a.commit([E(ET.Person, "carol")])
    assert "carol" in receipt
    assert g.now().all(ET.Person).df.count() == 3
    # both commits landed on distinct tx numbers
    assert g.max_tx() == b.refresh().max_tx()


def test_eventual_visibility_marker_before_blobs(spark, tmp_path,
                                                 head):
    """Order #6 scenario: the store lists the MARKER before the
    segment blobs are GET-visible (object stores promise no
    cross-key ordering). refresh must stop the chain at the
    incomplete tx — no crash, no partial graph — and converge once
    the blobs settle."""
    url, store = head
    a = _publish(spark, url, tmp_path)
    b = RemoteGraphStore(spark, url, str(tmp_path / "cacheB"))
    assert b.head().now().all(ET.Person).df.count() == 1

    store.set_eventual(True)           # every PUT now lands staged
    a.commit([E(ET.Person, "bob")])
    # nothing visible at all yet
    assert b.refresh().now().all(ET.Person).df.count() == 1
    # worst case: ONLY the marker becomes visible
    assert store.settle("txlog/_commits/") == 1
    gb = b.refresh()                    # chain stops, head unchanged
    assert gb.now().all(ET.Person).df.count() == 1
    # blobs settle → next refresh applies the tx
    store.settle()
    assert b.refresh().now().all(ET.Person).df.count() == 2


def test_eventual_visibility_gapless_chain(spark, tmp_path, head):
    """tx N invisible, tx N+1 fully visible: refresh must NOT apply
    N+1 over a gap — the chain halts at the first incomplete marker
    and applies both once N settles."""
    url, store = head
    a = _publish(spark, url, tmp_path)
    b = RemoteGraphStore(spark, url, str(tmp_path / "cacheB"))
    b.head()
    store.set_eventual(True)
    a.commit([E(ET.Person, "bob")])       # tx N (staged)
    n_marker = "txlog/_commits/"
    # settle NOTHING of tx N; commit tx N+1 and settle it fully
    a.commit([E(ET.Person, "carol")])     # tx N+1 (staged)
    # make N+1 fully visible but keep N dark: settle just N+1's keys
    keys_n1 = [k for k in store._staged
               if "_commits" not in k] + [
        sorted(k for k in store._staged if "_commits" in k)[-1]]
    for k in keys_n1:
        data = store._staged.pop(k)
        store._settled[k] = data
    gb = b.refresh()
    # neither applied: N is dark and N+1 may not leapfrog it
    assert gb.now().all(ET.Person).df.count() == 1
    store.settle()
    assert b.refresh().now().all(ET.Person).df.count() == 3


def test_compact_ships_checkpoint_base(spark, tmp_path, head):
    """compact() over the remote store uploads the checkpoint base
    via the manifest's root-relative extras; a FRESH client attaching
    afterwards rebuilds from the checkpoint."""
    url, _store = head
    a = _publish(spark, url, tmp_path)
    a.commit([E(ET.Person, "bob")])
    a.compact()
    a.commit([E(ET.Person, "carol")])
    c = RemoteGraphStore(spark, url, str(tmp_path / "cacheC"))
    assert c.head().now().all(ET.Person).df.count() == 3


def test_true_second_process_shares_only_url(spark, tmp_path, head,
                                              repo_root):
    """The robot-scenario analogue: a REAL second process (own JVM,
    own private cache dir) attaches by URL, commits, and this process
    sees the commit — the filesystem is never shared."""
    import subprocess
    import sys
    url, _store = head
    a = _publish(spark, url, tmp_path)
    script = f"""
import sys
sys.path.insert(0, {repo_root!r})
from zef_spark import ET, get_spark
from zef_spark.graph.delta import E
from zef_spark.graph.headsvc import RemoteGraphStore
spark = get_spark("zef_headsvc_proc_b")
spark.sparkContext.setLogLevel("ERROR")
store = RemoteGraphStore(spark, {url!r}, {str(tmp_path / "cacheB")!r})
g, r = store.commit([E(ET.Person, "from_proc_b", fields={{"age": 99}})])
assert "from_proc_b" in r
print("COMMITTED", g.max_tx())
"""
    out = subprocess.run([sys.executable, "-c", script],
                         capture_output=True, text=True, timeout=300)
    assert "COMMITTED" in out.stdout, out.stderr[-2000:]
    ga = a.refresh()
    assert ga.now().all(ET.Person).df.count() == 2
    ages = sorted(r[1] for r in
                  ga.now().all(ET.Person).field("age").collect())
    assert ages == [30, 99]


def test_many_writers_converge_over_one_url(spark, tmp_path, head):
    """The multi-REPL robot scenario at N=5: five stores, each with a
    PRIVATE cache dir, share nothing but the URL. Each commits twice
    from its own thread under full contention (every commit races the
    other four for the tx number and retries on the refreshed head —
    the per-tx transactor handoff). Afterwards every store's refresh
    must converge to the SAME head: all 11 entities present, the tx
    chain gapless, and every receipt landed exactly once.
    Reference scenario: python/tests/robot/tests/test.robot (many
    REPLs, one graph, no shared filesystem)."""
    import threading

    url, _store = head
    a = _publish(spark, url, tmp_path)
    stores = [a] + [
        RemoteGraphStore(spark, url, str(tmp_path / f"cache{i}"))
        for i in range(1, 5)]
    errs: list = []

    def writer(i: int, store: RemoteGraphStore):
        try:
            for j in range(2):
                store.commit([E(ET.Person, f"w{i}_{j}",
                                fields={"age": 10 * i + j})],
                             max_retries=40)
        except Exception as ex:       # pragma: no cover
            errs.append((i, ex))

    threads = [threading.Thread(target=writer, args=(i, s))
               for i, s in enumerate(stores)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=600)
    assert not errs, errs
    heads = [s.refresh() for s in stores]
    # same head everywhere: same tx chain, same entity set
    assert len({g.max_tx() for g in heads}) == 1
    # 1 publish + 10 contended commits -> gapless chain to tx 11
    assert heads[0].max_tx() == 11
    names = sorted(r[1] for r in
                   heads[0].now().all(ET.Person).field("age")
                   .collect())
    want = sorted([30] + [10 * i + j for i in range(5)
                          for j in range(2)])
    assert names == want
    for g in heads[1:]:
        other = sorted(r[1] for r in
                       g.now().all(ET.Person).field("age").collect())
        assert other == names
