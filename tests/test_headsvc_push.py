"""Push notifications on the head service (r09 verdict order #5 /
"What's missing #1"): /watch?since=<tx> long-poll parks on the
store's condition variable and wakes on the marker put itself, so
`RemoteGraphStore.subscribe` fires `on[...]`-style callbacks WITHOUT
polling. Reference scenario: ZefHub's subscription push
(core/include/observable.h:70-116, butler_handlers_ws.cpp)."""


# r13 verify-gate split: multi-minute e2e/property lane, opt-in via `make test-slow`
import pytest
pytestmark = pytest.mark.slow
import threading
import time

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


def test_store_wait_wakes_on_put_not_on_poll():
    """Transport-layer latency bound: a waiter parked with a 30s
    timeout wakes within ~the put latency — any polling design
    would burn the interval."""
    from zef_spark.graph.headsvc import _Store
    store = _Store()
    woke = {}

    def waiter():
        t0 = time.monotonic()
        woke["txs"] = store.wait_for_tx(-1, timeout=30.0)
        woke["dt"] = time.monotonic() - t0

    t = threading.Thread(target=waiter)
    t.start()
    time.sleep(0.3)  # let the waiter park
    store.put("txlog/_commits/0000000001.json", b"{}",
              if_none_match=True)
    t.join(timeout=5)
    assert woke["txs"] == [1]
    assert woke["dt"] < 2.0  # woke on the put, not the 30s timeout


def test_watch_ignores_non_commit_puts():
    from zef_spark.graph.headsvc import _Store
    store = _Store()
    store.put("txlog/seg-abc/part-0.parquet", b"x",
              if_none_match=False)
    store.put("base/meta", b"x", if_none_match=False)
    assert store.wait_for_tx(-1, timeout=0.2) == []
    store.put("txlog/_commits/0000000007.json", b"{}",
              if_none_match=True)
    assert store.wait_for_tx(3, timeout=0.2) == [7]
    assert store.wait_for_tx(7, timeout=0.2) == []


def test_remote_commit_pushes_subscriber_callback(spark, tmp_path,
                                                  head):
    """In-process two-store push: B subscribes with a LONG poll
    timeout (120s) — the only way the callback can arrive fast is
    the push wake, not a poll cycle."""
    url, _store = head
    a = _publish(spark, url, tmp_path)
    b = RemoteGraphStore(spark, url, str(tmp_path / "cacheB"))
    fired = threading.Event()
    seen = {}

    def cb(g, txs):
        seen["txs"] = txs
        seen["count"] = g.now().all(ET.Person).df.count()
        fired.set()

    sub = b.subscribe(cb, poll_timeout=120.0)
    try:
        t0 = time.monotonic()
        a.commit([E(ET.Person, "bob", fields={"age": 25})])
        assert fired.wait(timeout=60), "push callback never fired"
        dt = time.monotonic() - t0
        # Spark head rebuild dominates; the transport added ~ms.
        # Any poll-interval design against a 120s timeout could not
        # meet this bound.
        assert dt < 60
        assert seen["count"] == 2
        assert seen["txs"], "no txs delivered"
    finally:
        sub.stop(timeout=1.0)


def test_subscribe_on_event_filtered(spark, tmp_path, head):
    """The `on['instantiated', ET.X]` form: the callback receives
    the derived event log filtered to the new txs and the token."""
    url, _store = head
    a = _publish(spark, url, tmp_path)
    b = RemoteGraphStore(spark, url, str(tmp_path / "cacheB"))
    fired = threading.Event()
    seen = {}

    def cb(events_df):
        rows = events_df.collect()
        seen["rows"] = rows
        fired.set()

    sub = b.subscribe(cb, event="instantiated", token=ET.Person,
                      poll_timeout=120.0)
    try:
        a.commit([E(ET.Person, "carol", fields={"age": 41})])
        assert fired.wait(timeout=60), "on[...] callback never fired"
        assert len(seen["rows"]) >= 1
        assert all(r["event"] == "instantiated"
                   and r["token"] == "Person"
                   for r in seen["rows"])
        # only the NEW tx's events — alice (tx from the base) absent
        names = {r["id"] for r in seen["rows"]}
        assert len(names) == 1
    finally:
        sub.stop(timeout=1.0)


def test_push_from_true_second_process(spark, tmp_path, head,
                                       repo_root):
    """The verdict's Done-bound: a remote commit from a REAL second
    process (own JVM, own cache, shares only the URL) triggers this
    process's subscriber callback within the poll-free latency
    bound — the subscriber's long-poll timeout is 300s, so a
    poll-cycle design could not pass."""
    import subprocess
    import sys
    url, _store = head
    _publish(spark, url, tmp_path)
    b = RemoteGraphStore(spark, url, str(tmp_path / "cacheB"))
    fired = threading.Event()
    seen = {}

    def cb(g, txs):
        seen["t_cb"] = time.monotonic()
        seen["ages"] = sorted(
            r[1] for r in g.now().all(ET.Person).field("age")
            .collect())
        fired.set()

    sub = b.subscribe(cb, poll_timeout=300.0)
    script = f"""
import sys
sys.path.insert(0, {repo_root!r})
from zef_spark import ET, get_spark
from zef_spark.graph.delta import E
from zef_spark.graph.headsvc import RemoteGraphStore
spark = get_spark("zef_push_proc_b")
spark.sparkContext.setLogLevel("ERROR")
store = RemoteGraphStore(spark, {url!r}, {str(tmp_path / "cacheC")!r})
import time
store.commit([E(ET.Person, "from_proc_b", fields={{"age": 99}})])
print("COMMITTED_AT", time.time())
"""
    try:
        out = subprocess.run([sys.executable, "-c", script],
                             capture_output=True, text=True,
                             timeout=300)
        assert "COMMITTED_AT" in out.stdout, out.stderr[-2000:]
        t_commit_wall = float(
            out.stdout.split("COMMITTED_AT", 1)[1].split()[0])
        assert fired.wait(timeout=60), \
            "push callback never fired after remote-process commit"
        # latency from the remote commit landing to the callback:
        # one watch round-trip + the Spark head rebuild. 60s is the
        # generous CI bound; a 300s-timeout poller cannot meet it.
        latency = time.time() - t_commit_wall
        assert latency < 60, f"latency {latency:.1f}s"
        assert seen["ages"] == [30, 99]
    finally:
        sub.stop(timeout=1.0)


def test_graphql_subscription_push_cross_process(spark, tmp_path,
                                                 head, repo_root):
    """r10 VERDICT order #6 e2e — the composed halves: a graph
    commit in a TRUE second process → head-service /watch wake →
    THIS process's remote-bridge publish → an SSE
    `subscription { onPerson }` frame over the wire, with JWT auth
    on the stream. The bridge's long-poll timeout is 300s and the
    SSE reader has no polling sleep — only the push path can deliver
    inside the latency bound."""
    import http.client
    import json as _json
    import subprocess
    import sys
    import threading
    import time as _time

    from zef_spark.graphql import (GraphQLEngine, SubscriptionManager,
                                   make_server, schema_from_sdl,
                                   serve_in_thread)
    from zef_spark.graphql.remote_bridge import bridge_remote_store
    from zef_spark.graphql.server import AuthConfig, encode_jwt

    url, _store = head
    _publish(spark, url, tmp_path)
    b = RemoteGraphStore(spark, url, str(tmp_path / "cacheB"))
    subs = SubscriptionManager()
    # subscription-only engine: the event payload rows ARE the table
    sdl = """
type Person @table(name: "events", id: "id") {
  id: String @col(name: "id")
  token: String @col(name: "token")
}
"""
    eng = GraphQLEngine(schema_from_sdl(sdl), load=lambda t: None,
                        subscriptions=subs)
    auth = AuthConfig(secret="push-secret", audience="zef-push")
    srv = make_server(eng, auth)
    serve_in_thread(srv)
    host, port = srv.server_address
    bridge = bridge_remote_store(b, subs, poll_timeout=300.0)
    frames, ready = [], threading.Event()
    jwt = encode_jwt({"aud": "zef-push"}, "push-secret")

    def listen():
        conn = http.client.HTTPConnection(host, port, timeout=300)
        q = ('subscription { onPerson(kinds: ["added"]) { id } }'
             .replace(" ", "%20").replace('"', "%22"))
        conn.request("GET", f"/graphql/stream?query={q}",
                     headers={"Authorization": f"Bearer {jwt}"})
        r = conn.getresponse()
        assert r.status == 200
        ready.set()
        while True:
            line = r.fp.readline().decode()
            if line.startswith("data: "):
                payload = _json.loads(line[len("data: "):])
                if payload == {}:          # heartbeat frame
                    continue
                frames.append(payload)
                break
        conn.close()

    t = threading.Thread(target=listen, daemon=True)
    t.start()
    assert ready.wait(timeout=60)
    # auth really gates the stream: no/bad token → 401
    bad = http.client.HTTPConnection(host, port, timeout=30)
    bad.request("GET", "/graphql/stream?query=subscription%20%7B%20"
                "onPerson%20%7D")
    assert bad.getresponse().status == 401

    script = f"""
import sys
sys.path.insert(0, {repo_root!r})
from zef_spark import ET, get_spark
from zef_spark.graph.delta import E
from zef_spark.graph.headsvc import RemoteGraphStore
spark = get_spark("zef_gql_push_proc_a")
spark.sparkContext.setLogLevel("ERROR")
store = RemoteGraphStore(spark, {url!r}, {str(tmp_path / "cacheC")!r})
import time
store.commit([E(ET.Person, "dora", fields={{"age": 7}})])
print("COMMITTED_AT", time.time())
"""
    try:
        out = subprocess.run([sys.executable, "-c", script],
                             capture_output=True, text=True,
                             timeout=300)
        assert "COMMITTED_AT" in out.stdout, out.stderr[-2000:]
        t_commit = float(
            out.stdout.split("COMMITTED_AT", 1)[1].split()[0])
        t.join(timeout=90)
        assert not t.is_alive(), \
            "SSE frame never arrived after remote-process mutation"
        latency = _time.time() - t_commit
        assert latency < 90, f"latency {latency:.1f}s"
        assert frames and frames[0]["kind"] == "added"
        assert frames[0]["type"] == "Person"
        assert frames[0]["count"] >= 1
        assert frames[0]["rows"] and "id" in frames[0]["rows"][0]
    finally:
        bridge.stop(timeout=1.0)
        srv.shutdown()
