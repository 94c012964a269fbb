"""Benchmark harness.

Runs the headline operator suite at ``$SPARK_GRAFT_SF_DIR`` (default
/root/testdata/sf0.1) on ``local[$SPARK_GRAFT_CPUS]`` plus a crawl-engine
throughput run on the synthetic corpus, and prints ONE JSON line::

    {"metric": ..., "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Extra keys: ``crawl`` (urls fetched+deduped/sec and round stats) and
``cpus``.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

HEADLINE = [
    "g2_pagerank",
    "t2_threshold_topk",
    "t3_per_host_budget",
    "j2_admission_antijoin",
    "j4_redirect_chain",
    "g4_group_collect",
    "dedup_exact",
    "dedup_ngram_jaccard",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "ann_cosine_topk",
    "ann_ivf_assign",
    "ann_ivf_bucket_stats",
    "text_quality",
    "text_lang_id",
    "text_fingerprint",
    "mm_decode_features",
]

# crawl bench shape (deterministic corpus; cached across runs)
CRAWL_HOSTS = 400
CRAWL_PAGES_PER_HOST = 8
CRAWL_ROUNDS = 4
CRAWL_FETCH_CAP = 3000
# seed-page fanout: how many host roots the seed links via buttons (the
# frontier ramp-up)
CRAWL_FANOUT = 100


def bench_queries(spark, sf_dir: str) -> tuple[dict[str, float],
                                               dict[str, float]]:
    import __spark_entry__ as entry_mod

    qs = entry_mod.queries()
    times: dict[str, float] = {}
    loads: dict[str, float] = {}
    for name in HEADLINE:
        t0 = time.monotonic()
        df = qs[name](spark, sf_dir)
        n = df.count()
        times[name] = round(time.monotonic() - t0, 3)
        # 1-min load at query end: the suite's own footprint is bounded by
        # the session's cores, so load1 far above that marks the queries
        # whose numbers include external contention (the r5 failure mode —
        # a contaminated window published as a regression)
        try:
            loads[name] = round(os.getloadavg()[0], 1)
        except OSError:
            pass
        print(f"  {name}: {times[name]}s ({n} rows)", file=sys.stderr)
    # intra-suite cache reuse is intended (jaccard/minhash share shingles);
    # release the scope once the suite is done so the session holds no blocks
    from x227f_spark.operators.qcache import release_caches
    release_caches()
    return times, loads


def _prune_scratch() -> None:
    """Remove scratch left under _data/ by crashed or killed runs (state
    tempdirs are rmtree'd on success, but an interrupted leg leaks its
    dir). Named ``bench_corpus_*`` dirs are the cached deterministic
    corpora and are kept — everything else under _data/ is disposable."""
    import shutil

    data = os.path.join(os.path.dirname(os.path.abspath(__file__)), "_data")
    if not os.path.isdir(data):
        return
    for entry in os.listdir(data):
        if not entry.startswith("bench_corpus_"):
            shutil.rmtree(os.path.join(data, entry), ignore_errors=True)


def _bench_corpus_dir() -> str:
    from x227f_spark.sources.corpus import generate, write_parquet

    fanout = min(CRAWL_HOSTS, CRAWL_FANOUT)
    key = f"h{CRAWL_HOSTS}_p{CRAWL_PAGES_PER_HOST}_f{fanout}_b612"
    out = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                       "_data", f"bench_corpus_{key}")
    marker = os.path.join(out, "_DONE")
    if not os.path.exists(marker):
        corpus = generate(n_hosts=CRAWL_HOSTS,
                          pages_per_host=CRAWL_PAGES_PER_HOST,
                          n_buttons=200, edge_cases=False,
                          seed_button_fanout=fanout,
                          buttons_per_page=(6, 12), filler_text_spans=6)
        write_parquet(corpus, out)
        with open(os.path.join(out, "_SEED"), "w") as f:
            f.write(corpus.seed_url)
        with open(marker, "w") as f:
            f.write("ok")
    with open(os.path.join(out, "_SEED")) as f:
        seed_url = f.read().strip()
    return out, seed_url


def bench_crawl(spark) -> dict:
    import shutil
    import tempfile

    from x227f_spark.constants import EngineConfig
    from x227f_spark.plans.rounds import CrawlEngine

    corpus_dir, seed_url = _bench_corpus_dir()
    state_dir = tempfile.mkdtemp(
        prefix="bench_state_",
        dir=os.path.join(os.path.dirname(os.path.abspath(__file__)), "_data"))
    cfg = EngineConfig(starting_point=seed_url, fetch_cap=CRAWL_FETCH_CAP)
    eng = CrawlEngine(spark, corpus_dir, state_dir, config=cfg)
    t0 = time.monotonic()
    fetched = admitted = 0
    per_round = []
    round_load = []
    for _ in range(CRAWL_ROUNDS):
        r0 = time.monotonic()
        m = eng.run_round()
        per_round.append(round(time.monotonic() - r0, 2))
        try:
            round_load.append(round(os.getloadavg()[0], 1))
        except OSError:
            pass
        fetched += m["fetched"] + m["failed"]
        admitted += m["admitted"]
        print(f"  crawl round {m['round']}: admitted={m['admitted']} "
              f"fetched={m['fetched']} ({per_round[-1]}s)", file=sys.stderr)
    wall = time.monotonic() - t0
    seen = len(eng.seen_set())
    shutil.rmtree(state_dir, ignore_errors=True)
    return {
        "urls_per_sec": round(fetched / wall, 2),
        "urls_fetched": fetched,
        "urls_deduped": seen,
        "rounds": CRAWL_ROUNDS,
        "wall_sec": round(wall, 2),
        "round_sec": per_round,
        "round_load1": round_load,
    }


def _wait_for_idle(max_wait_sec: int) -> float:
    """Benchmarks on a contended machine measure the contention, not the
    code (observed: the same suite reads 115 s idle vs 201-344 s sharing
    cores with a pytest run). Wait — bounded — for the 1-minute load
    average to drop below a threshold before starting the clock, and
    return the seconds waited; the final JSON records both the wait and
    the load at start so a still-contended run is at least labeled."""
    thresh = float(os.environ.get("BENCH_IDLE_LOAD", "4.0"))
    t0 = time.monotonic()
    while time.monotonic() - t0 < max_wait_sec:
        try:
            if os.getloadavg()[0] <= thresh:
                break
        except OSError:
            break
        time.sleep(5)
    return round(time.monotonic() - t0, 1)


def main():
    from x227f_spark.session import get_spark

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    waited = _wait_for_idle(int(os.environ.get("BENCH_IDLE_WAIT", "600")))
    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1]) \
        if "sf" in sf_dir else 0.1

    os.makedirs(os.path.join(os.path.dirname(os.path.abspath(__file__)),
                             "_data"), exist_ok=True)
    _prune_scratch()
    try:
        load_start = round(os.getloadavg()[0], 1)
    except OSError:
        load_start = None
    spark = get_spark(cores=cpus, app_name="x227f_bench")

    # one untimed warm-up action before the clock: pays the one-per-session
    # costs (JVM JIT of the scan/agg skeleton, Python worker pool spin-up,
    # first-parquet-footer reads) that would otherwise be billed entirely to
    # whichever query happens to run first. Recorded, not hidden.
    tw = time.monotonic()
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    spark.read.parquet(os.path.join(sf_dir, "orders.parquet")) \
        .limit(1000).selectExpr("count(*)").collect()
    session_warmup = round(time.monotonic() - tw, 3)

    t0 = time.monotonic()
    queries, query_loads = bench_queries(spark, sf_dir)
    crawl = bench_crawl(spark) if os.environ.get("BENCH_SKIP_CRAWL") != "1" \
        else {}
    total = round(time.monotonic() - t0, 3)

    try:
        load_now = round(os.getloadavg()[0], 1)
    except OSError:
        load_now = None
    out = {
        "metric": "headline suite wall time (operator queries + crawl rounds)",
        "value": total,
        "unit": "sec",
        "queries": queries,
        "sf": sf,
        "cpus": cpus,
        "crawl": crawl,
        # measurement hygiene: load at start/end, per-query load1, the
        # untimed session warm-up, and the seconds spent waiting for an
        # idle machine — a load far above the session's own footprint
        # means the numbers include contention (and now says WHICH queries)
        "load_avg_start": load_start,
        "load_avg_end": load_now,
        "queries_load1": query_loads,
        "session_warmup_sec": session_warmup,
        "idle_wait_sec": waited,
    }
    print(json.dumps(out))


if __name__ == "__main__":
    main()
