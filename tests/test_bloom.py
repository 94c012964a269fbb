"""J2 — Bloom-fronted admission: distributed build correctness at scale.

The engine activates the Bloom pre-prune once the seen set crosses 50k keys
(plans/rounds.py), which the small golden corpora never reach — so this
exercises the build/probe path directly at 1M keys: no false negatives
(correctness — a false negative would re-admit a seen URL), bounded false
positives (performance only), and exact anti-join equivalence with and
without the filter.
"""

from pyspark.sql import functions as F

from x227f_spark.operators.bloom import anti_join_new, build_bloom

N_SEEN = 1_000_000
N_PROBE = 200_000


def _seen(spark):
    return spark.range(N_SEEN).select(
        F.concat(F.lit("host"), (F.col("id") % 5000).cast("string"),
                 F.lit(".example/p"), F.col("id").cast("string"))
        .alias("page_id"))


def test_no_false_negatives_at_1m(spark):
    seen = _seen(spark)
    bloom = build_bloom(seen, F.col("page_id"), expected=N_SEEN, fpp=0.01)
    probe = seen.limit(N_PROBE)
    misses = (bloom.might_contain(probe, F.col("page_id"))
              .where(~F.col("_bloom_hit")).count())
    assert misses == 0


def test_false_positive_rate_bounded(spark):
    seen = _seen(spark)
    bloom = build_bloom(seen, F.col("page_id"), expected=N_SEEN, fpp=0.01)
    absent = spark.range(N_PROBE).select(
        F.concat(F.lit("absent.example/q"), F.col("id").cast("string"))
        .alias("page_id"))
    hits = (bloom.might_contain(absent, F.col("page_id"))
            .where(F.col("_bloom_hit")).count())
    assert hits / N_PROBE < 0.03  # ~3x headroom over the 1% target


def test_sharded_bloom_parity_at_1m(spark):
    """S=4 sharded build: no false negatives, bounded FPR, each broadcast
    ~1/S of the single-filter bitmap (the 10^10-scale memory bound)."""
    seen = _seen(spark)
    single = build_bloom(seen, F.col("page_id"), expected=N_SEEN, fpp=0.01)
    sharded = build_bloom(seen, F.col("page_id"), expected=N_SEEN, fpp=0.01,
                          n_shards=4)
    probe = seen.limit(N_PROBE)
    misses = (sharded.might_contain(probe, F.col("page_id"))
              .where(~F.col("_bloom_hit")).count())
    assert misses == 0
    absent = spark.range(N_PROBE).select(
        F.concat(F.lit("absent.example/q"), F.col("id").cast("string"))
        .alias("page_id"))
    hits = (sharded.might_contain(absent, F.col("page_id"))
            .where(F.col("_bloom_hit")).count())
    assert hits / N_PROBE < 0.03
    # per-broadcast bitmap is sized for expected/S keys
    shard_bytes = max(len(bc.value) for bc in sharded.shards.values())
    assert shard_bytes < len(single.shards[0].value) / 2
    assert len(sharded.shards) == 4
    # exact anti-join equivalence through the sharded filter
    targets = spark.range(50_000).select(
        F.when(F.col("id") % 3 == 0,
               F.concat(F.lit("host"), (F.col("id") % 5000).cast("string"),
                        F.lit(".example/p"), F.col("id").cast("string")))
        .otherwise(F.concat(F.lit("new.example/n"),
                            F.col("id").cast("string"))).alias("page_id"),
        F.col("id").alias("crawl_pos"))
    with_sharded = anti_join_new(targets, "page_id", seen, "page_id", sharded)
    without = anti_join_new(targets, "page_id", seen, "page_id", None)
    a = {(r["page_id"], r["crawl_pos"]) for r in with_sharded.collect()}
    b = {(r["page_id"], r["crawl_pos"]) for r in without.collect()}
    assert a == b and len(a) > 0


def test_anti_join_parity_with_and_without_bloom(spark):
    seen = _seen(spark)
    bloom = build_bloom(seen, F.col("page_id"), expected=N_SEEN, fpp=0.01)
    targets = spark.range(50_000).select(
        F.when(F.col("id") % 3 == 0,
               F.concat(F.lit("host"), (F.col("id") % 5000).cast("string"),
                        F.lit(".example/p"), F.col("id").cast("string")))
        .otherwise(F.concat(F.lit("new.example/n"),
                            F.col("id").cast("string"))).alias("page_id"),
        F.col("id").alias("crawl_pos"))
    with_bloom = anti_join_new(targets, "page_id", seen, "page_id", bloom)
    without = anti_join_new(targets, "page_id", seen, "page_id", None)
    a = {(r["page_id"], r["crawl_pos"]) for r in with_bloom.collect()}
    b = {(r["page_id"], r["crawl_pos"]) for r in without.collect()}
    assert a == b
    assert len(a) > 0


def test_shards_for_design_point():
    """The default crawl path must construct S>1 at the 10^10-key
    configuration point (a single 1%-FPR bitmap there is ~12 GB) while
    sandbox-scale seen sets stay single-shard."""
    from x227f_spark.operators.bloom import shards_for

    assert shards_for(10**10, 0.01) >= 40
    assert shards_for(1_000_000, 0.01) == 1


def test_sharded_bloom_engages_mid_crawl_with_parity(
        spark, corpus, corpus_dir, tmp_path, monkeypatch):
    """Crossing the shard threshold mid-crawl: with a tiny per-shard byte
    cap the engine starts single-shard and flips to S>1 as the seen set
    grows — and the final seen set still exactly matches the golden
    model."""
    from x227f_spark.constants import EngineConfig
    from x227f_spark.model import GoldenModel
    from x227f_spark.operators import bloom as B
    from x227f_spark.plans import rounds as R

    cfg = EngineConfig(starting_point=corpus.seed_url, fetch_cap=50)
    monkeypatch.setattr(R.CrawlEngine, "BLOOM_MIN_SEEN", 0)
    monkeypatch.setattr(B, "SHARD_BYTES_MAX", 50)

    eng = R.CrawlEngine(spark, corpus_dir, str(tmp_path / "st"), config=cfg)
    shard_counts = []
    for _ in range(5):
        eng.run_round()
        shard_counts.append(eng._ibloom._n_shards)
    golden = GoldenModel(corpus, cfg)
    golden.run(5)
    assert eng.seen_set() == golden.seen_set()
    assert shard_counts and max(shard_counts) > 1, shard_counts
    assert shard_counts[0] == 1, shard_counts  # started single-shard


def test_incremental_bloom_no_false_negatives_across_updates(spark):
    """IncrementalBloom's contract: after any sequence of delta updates /
    capacity rebuilds, EVERY committed key probes positive (false
    negatives would silently re-admit seen pages; false positives only
    cost an exact-join probe). Also pins the O(batch) fast paths: a
    no-growth update is job-free (same filter object), an under-capacity
    update scans only rows newer than the last fold."""
    from x227f_spark.operators.bloom import IncrementalBloom

    def seen_df(lo, hi, rnd):
        return spark.createDataFrame(
            [(f"page{i}", i, rnd) for i in range(lo, hi)],
            "page_id string, node_id long, first_seen_round int")

    inc = IncrementalBloom(fpp=0.01, min_seen=0)
    s1 = seen_df(0, 500, 1)
    f1 = inc.update(s1, "page_id", 500, 1)
    assert f1.might_contain(s1, F.col("page_id")) \
        .where(~F.col("_bloom_hit")).count() == 0

    # incremental delta (under capacity=1000): only round-2 rows scanned
    s2 = s1.union(seen_df(500, 600, 2))
    f2 = inc.update(s2, "page_id", 600, 2)
    assert f2.might_contain(s2, F.col("page_id")) \
        .where(~F.col("_bloom_hit")).count() == 0

    # no growth → the exact same filter object, no Spark job
    assert inc.update(s2, "page_id", 600, 3) is f2

    # capacity crossing → full rebuild, still no false negatives
    s3 = s2.union(seen_df(600, 3000, 4))
    f3 = inc.update(s3, "page_id", 3000, 4)
    assert inc._capacity >= 6000
    assert f3.might_contain(s3, F.col("page_id")) \
        .where(~F.col("_bloom_hit")).count() == 0
