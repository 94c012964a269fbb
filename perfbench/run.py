"""The repository's benchmark.

    python3 perfbench/run.py --workload crawl_trickle --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. One run is one fresh driver process on
``local[<cores>]`` with default engine settings. It builds the Spark
session, sets the workload up ``SETUPS`` times, runs the workload's
operations one at a time until ``--seconds`` have gone by (at least one
round of them), checks every output, and prints one JSON line as the last
line of standard output::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics of ``BENCHMARK.json``.
``--trace 1`` switches Spark's event log on and reports the per-layer
metrics instead: jobs and tasks are attributed to rounds, stage windows and
queries by time. A layer the workload never enters reads 0.

Every run leaves a record under ``perfbench/.cache/records``: load and CPU
steal at start and end, versions, commit and source digests, and every
number it measured. A traced run also leaves its spans there.
``perfbench/overhead.py`` compares traced and untraced records. All scratch
data lives in ``perfbench/.cache``; nothing is written outside the
checkout.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import shutil
import statistics
import sys
import time

import host
from attribution import ROUND_METRICS, Timeline, Tracer, read_events
from crawl import CrawlTrickle
from queries import Queries

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CACHE = os.path.join(HERE, ".cache")

# set-ups per run; setup_s reports the session build plus their median
SETUPS = 3
COMMON_LAYER_METRICS = ("session.build_s", "init_s") + ROUND_METRICS
WORKLOADS = {w.name: w for w in (CrawlTrickle, Queries)}


class Context:
    """What a workload needs from the run: its inputs, where to put
    scratch data, and the span recorder (a no-op when untraced)."""

    def __init__(self, args, run_id: str):
        self.seed = args.seed
        self.seconds = args.seconds
        self.cores = host.cores()
        self.cache = CACHE
        self.scratch = os.path.join(CACHE, "runs", run_id)
        self.tracer = Tracer(run_id) if args.trace else None
        self.root_span = None

    def span(self, name, start, end, parent=None, **attrs):
        if self.tracer is None:
            return None
        return self.tracer.add(name, start, end,
                               parent if parent is not None
                               else self.root_span, **attrs)

    def end_span(self, sid, end) -> None:
        if self.tracer is not None:
            self.tracer.spans[int(sid)].end = end

    @staticmethod
    def log(msg: str) -> None:
        print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def sandbox_env(scratch: str) -> None:
    """Keep every file the run writes inside the checkout, and run the
    engine at its defaults whatever the calling shell exported."""
    tmp = os.path.join(scratch, "tmp")
    local = os.path.join(scratch, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    for k in list(os.environ):
        if k.startswith(("X227F_", "SPARK_GRAFT_", "BENCH_")):
            del os.environ[k]
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["JAVA_TOOL_OPTIONS"] = \
        f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep)
                  if p])


def jvm_live_mb(spark, collections: int = 3) -> float:
    """Heap the driver JVM still holds after full collections, plus its
    non-heap use (code cache, metaspace). Unlike the JVM's resident size,
    this does not depend on when the collector last ran. A collection lets
    Spark's cleaner drop blocks whose handles died, which frees more only at
    the next one, so this takes the least of a few collections."""
    mem = spark.sparkContext._jvm.java.lang.management.ManagementFactory \
        .getMemoryMXBean()
    used = []
    for _ in range(collections):
        mem.gc()
        used.append(mem.getHeapMemoryUsage().getUsed()
                    + mem.getNonHeapMemoryUsage().getUsed())
        time.sleep(0.5)
    return min(used) / (1024.0 * 1024.0)


def stop_spark(spark) -> None:
    """Stop the session and the driver JVM, and wait for the JVM to exit
    (its Python workers exit with it)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the gateway server exits at EOF on stdin
        proc.wait(timeout=120)
    SparkContext._gateway = SparkContext._jvm = None


def benchmark_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def result_line(group: list[dict], values: dict, applies: set,
                attempted: int, failed: int) -> dict:
    """The result object: every metric of ``group`` with its unit. Metrics
    in ``applies`` must have been measured; the rest read 0."""
    names = {m["name"] for m in group}
    if set(values) - names:
        raise KeyError(f"not in BENCHMARK.json: {sorted(set(values) - names)}")
    if names & applies - set(values):
        raise KeyError(f"not measured: {sorted(names & applies - set(values))}")
    return {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": {m["name"]: {"value": float(values.get(m["name"], 0.0)),
                                    "unit": m["unit"]} for m in group}}


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    t_start = time.time()
    sys.path.insert(0, ROOT)
    for mod in ("x227f_spark", "__spark_entry__", "tools.check_oracles"):
        if importlib.util.find_spec(mod) is None:
            print(f"perfbench: {mod} not found under {ROOT}", file=sys.stderr)
            return 2
    spec = benchmark_spec()
    wl_cls = WORKLOADS.get(args.workload)
    if wl_cls is None:
        print(f"perfbench: unknown workload {args.workload}", file=sys.stderr)
        return 2
    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{int(t_start)}" \
             f"-{os.getpid()}"
    ctx = Context(args, run_id)
    sandbox_env(ctx.scratch)
    events_dir = os.path.join(ctx.scratch, "events")
    ctx.root_span = ctx.span("run", t_start, t_start, workload=args.workload,
                             seed=args.seed)
    cpu_start = host.cpu_sample()
    wl = wl_cls(ctx)
    try:
        wl.prepare()
        conf = {}
        if args.trace:
            os.makedirs(events_dir)
            conf = {"spark.eventLog.enabled": "true",
                    "spark.eventLog.dir": f"file://{events_dir}",
                    "spark.eventLog.compress": "false"}
        t0 = time.time()
        from x227f_spark.session import get_spark
        spark = get_spark(cores=ctx.cores, app_name=f"perfbench-{wl.name}",
                          extra_conf=conf)
        session_s = time.time() - t0
        ctx.span("session", t0, t0 + session_s)
        try:
            spark_version = spark.version
            inits = []
            for _ in range(SETUPS):
                t0 = time.time()
                wl.setup(spark)
                inits.append(time.time() - t0)
                ctx.span("setup", t0, t0 + inits[-1])
            wl.measure(spark)
            rss = host.tree_peak_rss_mb()
            jvm_mb = jvm_live_mb(spark)
            t0 = time.time()
            wl.check()
            ctx.span("check", t0, time.time())
        finally:
            stop_spark(spark)
        attempted, failed = wl.outcome()
        e2e = {"setup_s": session_s + statistics.median(inits),
               "jvm_live_mb": jvm_mb,
               "py_rss_mb": sum(v for k, v in rss.items()
                                if not k.startswith("java:")),
               **wl.end_to_end()}
        if args.trace:
            (log,) = os.listdir(events_dir)
            tl = Timeline.from_events(read_events(os.path.join(events_dir,
                                                               log)))
            layers = {"session.build_s": session_s,
                      "init_s": statistics.median(inits), **wl.layers(tl)}
            line = result_line(spec["per_layer"], layers,
                               set(COMMON_LAYER_METRICS)
                               | set(wl.layer_metrics), attempted, failed)
        else:
            layers = {}
            line = result_line(spec["end_to_end"], e2e,
                               {m["name"] for m in spec["end_to_end"]},
                               attempted, failed)
        cpu_end = host.cpu_sample()
        ctx.end_span(ctx.root_span, time.time())
        record = {
            "run_id": run_id, "workload": wl.name, "seed": args.seed,
            "seconds": args.seconds, "trace": args.trace,
            "nproc": ctx.cores, "commit": host.git_commit(ROOT),
            "source": host.digest(ROOT, ["__spark_entry__.py", "x227f_spark"]),
            "bench": host.digest(ROOT, ["BENCHMARK.json", "perfbench"]),
            "versions": {**host.versions(), "spark": spark_version},
            "cpu_start": cpu_start, "cpu_end": cpu_end,
            "steal_share": host.steal_share(cpu_start, cpu_end),
            "end_to_end": e2e, "per_layer": layers, "session_s": session_s,
            "inits_s": inits, "rss_mb": rss, "attempted": attempted,
            "failed": failed, "ops": wl.ops}
        records = os.path.join(CACHE, "records")
        os.makedirs(records, exist_ok=True)
        with open(os.path.join(records, f"{run_id}.json"), "w") as f:
            json.dump(record, f)
        if ctx.tracer is not None:
            ctx.tracer.write(os.path.join(records, f"{run_id}.trace.json"))
        print(json.dumps({k: record[k] for k in (
            "run_id", "nproc", "commit", "source", "bench", "versions",
            "cpu_start", "cpu_end", "steal_share", "end_to_end")}),
            file=sys.stderr)
    finally:
        shutil.rmtree(ctx.scratch, ignore_errors=True)
    print(json.dumps(line))
    return 0


if __name__ == "__main__":
    sys.exit(main())
