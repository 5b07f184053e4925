"""Three-process pub/sub over the head service (r11 verdict order
#8): TWO subscriber processes (each its own JVM, own cache, sharing
only the head-service URL) plus ONE mutator process — the
process-scale shape of the reference's multi-REPL robot scenario
(python/tests/robot/tests/test.robot: ten REPLs subscribing to one
graph and observing each other's transactions). Each subscriber
parks in the head service's /watch long-poll with a 300 s timeout,
so only the push wake — not any poll cycle — can deliver the
mutator's commit inside the latency bound asserted here."""


import pytest

# r13 verify-gate split: multi-minute e2e/property lane, opt-in via `make test-slow`
pytestmark = pytest.mark.slow
import subprocess
import sys
import threading
import time

from zef_spark import ET
from zef_spark.graph.delta import E, empty_graph, transact
from zef_spark.graph.headsvc import RemoteGraphStore, serve

SUBSCRIBER = """
import sys, threading, time
sys.path.insert(0, {repo!r})
from zef_spark import ET, get_spark
from zef_spark.graph.headsvc import RemoteGraphStore
spark = get_spark({app!r})
spark.sparkContext.setLogLevel("ERROR")
store = RemoteGraphStore(spark, {url!r}, {cache!r})
fired = threading.Event()
def cb(g, txs):
    ages = sorted(r[1] for r in
                  g.now().all(ET.Person).field("age").collect())
    print("GOT", time.time(), ",".join(map(str, txs)),
          ",".join(map(str, ages)), flush=True)
    fired.set()
sub = store.subscribe(cb, poll_timeout=300.0)
print("READY", flush=True)
ok = fired.wait(timeout=240)
sub.stop(timeout=2.0)
sys.exit(0 if ok else 3)
"""

MUTATOR = """
import sys, time
sys.path.insert(0, {repo!r})
from zef_spark import ET, get_spark
from zef_spark.graph.delta import E
from zef_spark.graph.headsvc import RemoteGraphStore
spark = get_spark("zef_robot_mutator")
spark.sparkContext.setLogLevel("ERROR")
store = RemoteGraphStore(spark, {url!r}, {cache!r})
store.commit([E(ET.Person, "robot_new", fields={{"age": 77}})])
print("COMMITTED_AT", time.time(), flush=True)
"""


def _reader(proc, sink, tag):
    for line in proc.stdout:
        sink.append((tag, line.strip()))


def test_two_subscribers_one_mutator(spark, tmp_path, repo_root):
    srv, url, _store = serve()
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    try:
        g0 = empty_graph(spark)
        g1, _ = transact(g0, [E(ET.Person, "base",
                                fields={"age": 30})])
        RemoteGraphStore.publish(g1, url, str(tmp_path / "pub"))

        lines: list[tuple[str, str]] = []
        subs = []
        for i in (1, 2):
            p = subprocess.Popen(
                [sys.executable, "-c", SUBSCRIBER.format(
                    repo=repo_root, app=f"zef_robot_sub{i}",
                    url=url, cache=str(tmp_path / f"cache_s{i}"))],
                stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                text=True)
            threading.Thread(target=_reader, args=(p, lines, f"s{i}"),
                             daemon=True).start()
            subs.append(p)

        def wait_for(pred, timeout):
            t0 = time.monotonic()
            while time.monotonic() - t0 < timeout:
                if pred():
                    return True
                time.sleep(0.25)
            return False

        assert wait_for(
            lambda: {t for t, l in lines if l == "READY"} >= {"s1", "s2"},
            180), f"subscribers never parked: {lines}"

        mut = subprocess.run(
            [sys.executable, "-c", MUTATOR.format(
                repo=repo_root, url=url,
                cache=str(tmp_path / "cache_m"))],
            capture_output=True, text=True, timeout=300)
        assert "COMMITTED_AT" in mut.stdout, mut.stderr[-2000:]
        t_commit = float(
            mut.stdout.split("COMMITTED_AT", 1)[1].split()[0])

        # BOTH subscriber processes observe the mutator's tx via the
        # push wake; the generous CI bound still rules out any
        # poll-cycle design against the 300 s long-poll timeout.
        assert wait_for(
            lambda: sum(1 for t, l in lines
                        if l.startswith("GOT")) >= 2,
            120), f"push missed a subscriber: {lines}"
        for tag in ("s1", "s2"):
            got = next(l for t, l in lines
                       if t == tag and l.startswith("GOT"))
            _, t_cb, txs, ages = got.split()
            assert float(t_cb) - t_commit < 90
            assert txs, "no txs delivered"
            # full converged head state: base person + the new one
            assert ages == "30,77"
        for p in subs:
            assert p.wait(timeout=60) == 0
    finally:
        for p in subs:
            if p.poll() is None:
                p.kill()
        srv.shutdown()
