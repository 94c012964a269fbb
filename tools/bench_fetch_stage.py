"""Data-plane scaling microbench: the fetch/extract stage alone (corpus
join → extraction UDF → candidate pipeline → validation UDF → budget pass →
button re-assembly) on a fixed 40k-URL fetch set, at two parallelism levels.

This isolates the per-round *compute* from state I/O (snapshot writes, which
on a single box share one disk between both legs and dominate the end-to-end
variance; on a real cluster that I/O is distributed storage scaled with the
executors). Usage:

    python tools/bench_fetch_stage.py [--hosts 4000 --pph 50 --n 40000
                                       --levels 8,32 --reps 3]
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

RUNNER = r"""
import json, sys, tempfile, time
sys.path.insert(0, {repo!r})
from pyspark.sql import functions as F
from x227f_spark.operators.ranked import global_row_number
from x227f_spark.session import get_spark
from x227f_spark.constants import EngineConfig
from x227f_spark.plans.rounds import CrawlEngine

cores = int(sys.argv[1]); corpus_dir = sys.argv[2]; seed = sys.argv[3]
n = int(sys.argv[4]); reps = int(sys.argv[5])
spark = get_spark(cores=cores, app_name=f"fetchbench_{{cores}}",
                  driver_memory="48g")
eng = CrawlEngine(spark, corpus_dir, tempfile.mkdtemp(), config=EngineConfig(
    starting_point=seed, fetch_cap=n))
# fixed deterministic fetch set: first n docs by url (global_row_number —
# no single-partition window, same as the engine's own ordinals)
sel = (global_row_number(eng.corpus.select("url").orderBy("url").limit(n),
                         ["url"], "rn")
       .withColumn("page_id", F.col("url"))
       .withColumn("host", F.regexp_extract("url", r"://([^/]*)", 1))
       .withColumn("crawl_pos", (F.col("rn") - 1).cast("long"))
       .select("url", "page_id", "host", "crawl_pos")
       .withColumn("queue_pos", F.col("crawl_pos")))
sel = sel.localCheckpoint(eager=True)
cache = spark.createDataFrame([], "url string, hash string, file_ext string, last_visited timestamp")
from datetime import datetime
now = datetime.fromisoformat("2026-01-01T00:01:00+00:00")
times = []
for i in range(reps):
    t0 = time.monotonic()
    fetched, errors, btns, media_new, fetched_n = eng._fetch(sel, cache, now, n)
    n_pages = fetched_n; n_btns = btns.count()
    times.append(round(time.monotonic() - t0, 2))
    eng._drop_round_persists()
    # ContextCleaner is weak-ref driven: without a GC between reps, shuffle
    # files and freed block metadata pile up and later reps measure the
    # litter, not the operator (reps were degrading 160->225s at 4 cores)
    spark.sparkContext._jvm.System.gc()
    time.sleep(1)
    print(f"  [{{cores}}c] rep {{i}}: {{times[-1]}}s pages={{n_pages}} buttons={{n_btns}}", file=sys.stderr)
print(json.dumps(times))
"""


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--hosts", type=int, default=4000)
    ap.add_argument("--pph", type=int, default=50)
    ap.add_argument("--n", type=int, default=40000)
    ap.add_argument("--levels", type=str, default="8,32")
    ap.add_argument("--reps", type=int, default=3)
    args = ap.parse_args()

    import bench
    bench.CRAWL_HOSTS = args.hosts
    bench.CRAWL_PAGES_PER_HOST = args.pph
    corpus_dir, seed = bench._bench_corpus_dir()

    lo, hi = (int(x) for x in args.levels.split(","))
    out = {"n": args.n, "levels": {}}
    for cores in (lo, hi):
        script = RUNNER.format(repo=REPO)
        # pin to `cores` physical CPUs so local[8] really is an 8-core box
        # (JVM threads + Python UDF workers included), not 8 task slots
        # floating over 32 CPUs — see tools/bench_scaling.py _pin()
        pin = (["taskset", "-c", f"0-{cores - 1}"]
               if os.cpu_count() and cores < os.cpu_count() else [])
        r = subprocess.run(
            pin + [sys.executable, "-c", script, str(cores), corpus_dir,
                   seed, str(args.n), str(args.reps)],
            capture_output=True, text=True, cwd=REPO, timeout=3600)
        sys.stderr.write(r.stderr[-1500:])
        if r.returncode != 0:
            raise RuntimeError(r.stderr[-1500:])
        times = json.loads(r.stdout.strip().splitlines()[-1])
        best = min(times)  # reps are iid after the inter-rep GC
        med = sorted(times)[len(times) // 2]
        out["levels"][str(cores)] = {"times": times, "best": best,
                                     "median": med,
                                     "urls_per_sec": round(args.n / best, 1)}
        print(f"local[{cores}]: {times} best={best}s "
              f"({out['levels'][str(cores)]['urls_per_sec']} urls/s)")
    eff = (out["levels"][str(hi)]["urls_per_sec"]
           / out["levels"][str(lo)]["urls_per_sec"]) / (hi / lo)
    out["fetch_stage_scaling_efficiency"] = round(eff, 3)
    os.makedirs(os.path.join(REPO, "BENCH"), exist_ok=True)
    with open(os.path.join(REPO, "BENCH", "fetch_stage_scaling.json"), "w") as f:
        json.dump(out, f, indent=2)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
