"""End-to-end benchmark of the zef_spark engine.

    python3 perfbench/run.py --workload reads|writes --seed N \\
        --seconds S --trace 0|1
    python3 perfbench/run.py --smoke

One closed-loop client with no think time drives the engine on
local[<cores>]. A run sets up (session, warm graph load, the
workload's warm-up), then runs whole passes of the workload until
``--seconds`` have passed (at least one), checks every result outside
the operation timers, and prints one JSON object as its last stdout
line. ``--trace 0`` reports the end-to-end metrics; ``--trace 1``
records spans and Spark's own counters and reports the per-layer
metrics. See perfbench/README.md.
"""

import time

LAUNCH = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WORK = os.path.join(BENCH, ".work")
SCALE = "sf0.01"
SMOKE_SCALE = "sf0.001"


def _args(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", choices=("reads", "writes"))
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=1.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", default=SCALE,
                   help="fixture directory under perfbench/data")
    p.add_argument("--smoke", action="store_true",
                   help=f"run every workload at {SMOKE_SCALE}, traced and "
                        "not, and assert the printed metrics")
    a = p.parse_args(argv)
    if not a.smoke and a.workload is None:
        p.error("--workload is required")
    return a


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _prepare(run_dir: str) -> dict:
    """Keep every file a run writes inside the benchmark's own scratch
    and let the Python workers import the engine. Returns the Spark
    settings that go with it."""
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "local")
    for d in (tmp, local):
        os.makedirs(d)
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "")
                      .split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    os.environ["ZEF_SPARK_GRAPH_CACHE"] = os.path.join(WORK, "graph_cache")
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    tempfile.tempdir = None
    os.chdir(run_dir)
    sys.path.insert(0, ROOT)
    return {"spark.ui.showConsoleProgress": "false",
            "spark.local.dir": local,
            "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
            # no hsperfdata file in the system temp dir
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.driver.memory": "2g"}


def _stop_spark(spark) -> None:
    """Stop the session, then the JVM, and wait for every process this
    run started to end."""
    from pyspark import SparkContext
    from spans import process_tree
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.time() + 30
    while len(process_tree(os.getpid())) > 1 and time.time() < deadline:
        time.sleep(0.2)


def _median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def _tail(xs):
    """Highest percentile with at least 10 samples beyond it, as
    {"p", "value", "n"}; None below 11 samples."""
    n = len(xs)
    if n < 11:
        return None
    return {"p": round(100.0 * (n - 10) / n, 1),
            "value": sorted(xs)[n - 11], "n": n}


def _series(ops, phase=None, kind=None, query=None) -> list[float]:
    return [s for p, k, s, q in ops
            if phase in (None, p) and kind in (None, k)
            and query in (None, q)]


def _detail(run, workload: str) -> dict:
    """Per-phase end-to-end figures under the names the README's layer
    table uses, with their sample counts."""
    from workloads import read_queries
    ops, out = run.ops, {}
    n_pass = max(1, len(run.passes))
    if workload == "reads":
        for phase in ("olap_headline", "graph_iterative"):
            out[f"{phase}.pass_s"] = {
                "value": sum(_series(ops, phase)) / n_pass, "n": n_pass}
        for _, name in read_queries():
            out[f"q.{name}.s"] = _median(_series(ops, query=name))
    else:
        for key, kind in (("commit_s", "commit"), ("read_s", "read"),
                          ("batch_s", "batch")):
            xs = _series(ops, kind=kind)
            out[f"{key}.p50"] = {"value": _median(xs), "n": len(xs)}
            out[f"{key}.tail"] = _tail(xs)
        xs = _series(ops, kind="compact")
        out["compact_s"] = {"value": _median(xs), "n": len(xs)}
        xs = _series(ops, kind="ingest")
        out["ingest_rows_per_s"] = {
            "value": run.state["stream_rows"] / _median(xs) if xs else 0.0,
            "n": len(xs)}
        xs = _series(ops, kind="readback")
        out["readback_s"] = {"value": _median(xs), "n": len(xs)}
    out["failed_frac"] = run.failed / max(1, run.attempted)
    return out


def _layers(run, tracer, extra: dict) -> tuple[dict, dict]:
    """Per-layer metrics, the names BENCHMARK.json lists, and the layer
    times that only one workload exercises (reported in the detail)."""
    from spans import layer_self_times
    from workloads import dir_bytes, read_queries
    n_pass = max(1, len(run.passes))

    def per_pass(name, key):
        return sum(s["total"][key] for s in tracer.find(name)) / n_pass

    def per_span(name, key):
        spans = tracer.find(name)
        return (sum(s["total"][key] for s in spans) / len(spans)
                if spans else 0)

    def seconds(spans):
        return sum(s["end"] - s["start"] for s in spans)

    batches = run.state.get("batches", [])
    seg = run.state.get("segment_bytes", [])
    store = run.state.get("store_path")
    layer = {
        "session.start_s": run.setup["session"],
        "mapper.load_s": run.setup["graph_load"],
        "warmup.pass_s": run.setup["warmup"],
        "plan.build_jobs": per_pass("plan.build", "jobs"),
        "catalyst.plan_s": seconds(tracer.find("catalyst")) / n_pass,
        "spark.jobs": per_pass("pass", "jobs"),
        "spark.stages": per_pass("pass", "stages"),
        "spark.tasks": per_pass("pass", "tasks"),
        "executor.run_s": per_pass("pass", "run_ms") / 1e3,
        "executor.cpu_s": per_pass("pass", "cpu_ns") / 1e9,
        "executor.gc_s": per_pass("pass", "gc_ms") / 1e3,
        "shuffle.read_bytes": per_pass("pass", "shuffle_read"),
        "shuffle.write_bytes": per_pass("pass", "shuffle_write"),
        "spill.bytes": per_pass("pass", "spill"),
        "sync.commit_jobs": per_span("commit", "jobs"),
        "sync.commit_tasks": per_span("commit", "tasks"),
        "sync.segment_bytes": sum(seg) / len(seg) if seg else 0,
        "sync.compact_jobs": per_span("compact", "jobs"),
        "sync.store_bytes": dir_bytes(store) if store else 0,
        "graph.read_jobs": per_span("read", "jobs"),
        "streaming.batch_jobs": (per_pass("ingest", "jobs") * n_pass
                                 / len(batches) if batches else 0),
        "ingest.readback_jobs": per_span("readback", "jobs"),
        "session.persisted_rdds_end": extra["persisted_rdds"],
        "jvm.heap_used_mb_end": extra["heap_used_mb"],
    }
    for _, name in read_queries():
        layer[f"q.{name}.jobs"] = sum(
            s["total"]["jobs"] for s in tracer.find("query")
            if s["query"] == name) / n_pass
    reads = tracer.find("read")
    only = {
        "mapper.build_s": extra["mapper_build_s"],
        "plan.build_s": seconds(tracer.find("plan.build")) / n_pass,
        "graph.read_plan_s": seconds(
            s for s in tracer.find("catalyst")
            if tracer.spans[s["parent"]]["name"] == "read")
        / max(1, len(reads)),
    }
    for key, field in (("streaming.add_batch_s", "addBatch"),
                       ("streaming.query_planning_s", "queryPlanning"),
                       ("streaming.wal_commit_s", "walCommit")):
        only[key] = _median([p.durationMs.get(field, 0) / 1e3
                             for p in batches])
    only["layer_self_s"] = {k: v / n_pass for k, v in
                            layer_self_times(tracer.spans).items()}
    return layer, only


def _measure(a, sf_dir: str, fingerprints: dict, run_dir: str) -> dict:
    conf = _prepare(run_dir)
    if a.trace:
        conf.update({"spark.ui.retainedJobs": "100000",
                     "spark.ui.retainedStages": "100000"})
    from spans import RssSampler, Tracer, tree_cpu_s
    from workloads import WORKLOADS, Run
    set_up, one_pass = WORKLOADS[a.workload]
    with RssSampler() as rss:
        t0 = time.perf_counter()
        from zef_spark import get_spark
        from zef_spark.graph.mapper import build_graph, graph_for
        spark = get_spark("perfbench", extra_conf=conf)
        spark.sparkContext.setLogLevel("ERROR")
        try:
            tracer = Tracer(spark, os.path.basename(run_dir), bool(a.trace))
            run = Run(spark, tracer, sf_dir, run_dir, a.seed, fingerprints)
            run.setup["session"] = time.perf_counter() - t0
            t0 = time.perf_counter()
            with tracer.span("mapper.load"):
                graph_for(spark, sf_dir)
            run.setup["graph_load"] = time.perf_counter() - t0
            t0 = time.perf_counter()
            with tracer.span("warmup"):
                set_up(run)
            run.setup["warmup"] = time.perf_counter() - t0
            setup_wall_s = time.perf_counter() - LAUNCH
            setup_cpu_s = tree_cpu_s(os.getpid())
            t_meas = time.perf_counter()
            while not run.passes or time.perf_counter() - t_meas < a.seconds:
                t0, c0 = time.perf_counter(), tree_cpu_s(os.getpid())
                with tracer.span("pass"):
                    one_pass(run)
                run.passes.append(time.perf_counter() - t0)
                run.pass_cpu.append(tree_cpu_s(os.getpid()) - c0)
            measured_s = time.perf_counter() - t_meas
            extra = {"mapper_build_s": 0.0}
            if a.trace and a.workload == "reads":
                # one cold ingest, after the passes so they run as in
                # the untraced run
                t0 = time.perf_counter()
                with tracer.span("mapper.build"):
                    build_graph(spark, sf_dir).materialize(
                        os.path.join(run_dir, "cold_graph"))
                extra["mapper_build_s"] = time.perf_counter() - t0
            rt = spark.sparkContext._jvm.java.lang.Runtime.getRuntime()
            extra["heap_used_mb"] = ((rt.totalMemory() - rt.freeMemory())
                                     / (1024 * 1024))
            extra["persisted_rdds"] = len(
                spark.sparkContext._jsc.getPersistentRDDs())
            tracer.attribute()
        finally:
            _stop_spark(spark)
    e2e = {"setup_s": setup_cpu_s,
           "pass_cpu_s": _median(run.pass_cpu),
           "peak_rss_mb": rss.peak_mb}
    # an ingest's operations are its micro-batches
    ops = [s for _, k, s, _ in run.ops if k != "ingest"]
    detail = {"workload": a.workload, "seed": a.seed, "scale": a.scale,
              "trace": a.trace, "measured_s": measured_s,
              "setup_wall_s": setup_wall_s, "setup_parts_s": run.setup,
              "pass_s": {"value": _median(run.passes),
                         "n": len(run.passes)},
              "op_s.p50": {"value": _median(ops), "n": len(ops)},
              "op_s.tail": _tail(ops), **_detail(run, a.workload)}
    if a.trace:
        metrics, detail["layer_only"] = _layers(run, tracer, extra)
        # compare with an untraced run's metrics for the overhead
        detail["end_to_end_traced"] = e2e
        spans_dir = os.path.join(WORK, "traces")
        os.makedirs(spans_dir, exist_ok=True)
        path = os.path.join(spans_dir, f"{a.workload}-seed{a.seed}-"
                            f"{os.path.basename(run_dir)}.json")
        tracer.write(path)
        detail["spans_file"] = os.path.relpath(path, ROOT)
    else:
        metrics = e2e
    spec = _spec()
    units = {m["name"]: m["unit"]
             for m in spec["end_to_end"] + spec["per_layer"]}
    return {"detail": detail,
            "result": {"correct": run.failed == 0 and run.attempted > 0,
                       "attempted": max(1, run.attempted),
                       "failed": run.failed,
                       "metrics": {k: {"value": v, "unit": units[k]}
                                   for k, v in metrics.items()}}}


def _run(a) -> int:
    if not (os.path.isfile(os.path.join(ROOT, "bench.py"))
            and os.path.isdir(os.path.join(ROOT, "zef_spark"))):
        print(f"[perfbench] no zef_spark engine beside {BENCH}; run it "
              "from a checkout of the repository", file=sys.stderr)
        return 2
    sf_dir = os.path.join(BENCH, "data", a.scale)
    with open(os.path.join(BENCH, "fingerprints.json")) as f:
        fingerprints = json.load(f)[a.scale]
    os.makedirs(WORK, exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix="run-", dir=WORK)
    try:
        out = _measure(a, sf_dir, fingerprints, run_dir)
    finally:
        os.chdir(BENCH)
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps({"detail": out["detail"]}))
    print(json.dumps(out["result"]))
    return 0


def _smoke() -> int:
    """The benchmark's own test: every workload at the smoke scale,
    untraced and traced; every named metric must print with its unit
    and no operation may fail."""
    spec = _spec()
    bad = []
    for w in [x["name"] for x in spec["workloads"]]:
        for trace in (0, 1):
            cmd = [sys.executable, os.path.abspath(__file__),
                   "--workload", w, "--seed", "1", "--seconds", "1",
                   "--trace", str(trace), "--scale", SMOKE_SCALE]
            p = subprocess.run(cmd, capture_output=True, text=True,
                               timeout=900)
            lines = p.stdout.strip().splitlines()
            if p.returncode != 0 or len(lines) < 2:
                bad.append(f"{w} trace={trace}: exit {p.returncode}\n"
                           f"{p.stderr[-3000:]}")
                continue
            res = json.loads(lines[-1])
            detail = json.loads(lines[-2])["detail"]
            want = spec["per_layer" if trace else "end_to_end"]
            for m in want:
                got = res["metrics"].get(m["name"])
                if got is None or got["unit"] != m["unit"] \
                        or not isinstance(got["value"], (int, float)):
                    bad.append(f"{w} trace={trace}: {m['name']} {got}")
            if res["failed"] or not res["correct"] \
                    or detail["failed_frac"] != 0:
                bad.append(f"{w} trace={trace}: failed {res['failed']} "
                           f"of {res['attempted']}")
            print(f"[smoke] {w} trace={trace}: "
                  f"{len(res['metrics'])} metrics, failed {res['failed']}"
                  f" of {res['attempted']}", flush=True)
    for b in bad:
        print(f"[smoke] FAIL {b}", file=sys.stderr)
    return 1 if bad else 0


def main(argv=None) -> int:
    a = _args(argv)
    return _smoke() if a.smoke else _run(a)


if __name__ == "__main__":
    sys.exit(main())
