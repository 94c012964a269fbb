"""SparkSession factory with the engine's canonical configuration.

Always build sessions through here: shuffle-partition sizing, AQE, Arrow
batches and UTC session time are load-bearing for determinism and for the
pandas-UDF hot path (SURVEY.md §4 item 5 — explicit shuffle control).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from .operators.qcache import unpersist


def get_spark(cores: int | None = None, app_name: str = "x227f_spark",
              extra_conf: dict | None = None,
              driver_memory: str | None = None) -> SparkSession:
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        # 2x cores: over-decompose so dynamic task scheduling absorbs
        # stragglers (at exactly 1 task/core every stage barrier waits on
        # the slowest partition) without paying per-task Python-UDF setup
        # on too many tiny tasks. AQE coalescing still merges genuinely
        # small shuffles. A real cluster sizes this the same way (2-4x
        # total executor cores).
        .config("spark.sql.shuffle.partitions", str(2 * cores))
        .config("spark.default.parallelism", str(cores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # let AQE re-size the final stage of plans that feed a cache
        # (InMemoryRelation): without this, a cached repartition(col) is
        # frozen at spark.sql.shuffle.partitions regardless of data size,
        # so small cached layouts (e.g. PageRank's iteration-invariant
        # sides on a tiny graph) pin every downstream stage to N tasks of
        # scheduler floor. CoalescedHashPartitioning still satisfies the
        # join distribution, and coalescePartitions.parallelismFirst floors
        # the result at default.parallelism, so full partitions at the
        # 1M-round design point stay uncoalesced and the exchange-free
        # iteration joins are preserved.
        .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
                "true")
        .config("spark.sql.session.timeZone", "UTC")
        # global_row_number's prefix-sum offsets (operators/ranked.py)
        # materialize a data-scale aggregation inside a broadcast
        # exchange; at 10^10-frontier round sizes the default 300 s
        # deadline would turn a slow counts job into a hard timeout
        # (r6 ADVICE) — give it the same headroom as a slow round
        .config("spark.sql.broadcastTimeout", "1800")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.driver.memory", driver_memory or "24g")
        .config("spark.ui.enabled", "false")
        # bound AQE/UI plan stringification — a runaway plan should degrade
        # to a truncated explain, not an OOM in StringBuilder
        .config("spark.sql.maxPlanStringLength", str(2 * 1024 * 1024))
        .config("spark.sql.parquet.compression.codec", "zstd")
        # fallback reclaim of any checkpoint/broadcast blocks the engine's
        # explicit round-end unpersist missed (ContextCleaner is weak-ref
        # driven; a long-running crawl driver may otherwise never GC)
        .config("spark.cleaner.periodicGC.interval", "10min")
    )
    local_dir = os.environ.get("SPARK_GRAFT_LOCAL_DIR")
    if local_dir:
        # e.g. a tmpfs for shuffle/spill when benchmarking compute scaling
        builder = builder.config("spark.local.dir", local_dir)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    _prewarm(spark, cores)
    return spark


_PREWARMED: set[str] = set()


def _prewarm(spark: SparkSession, cores: int) -> None:
    """Pay the one-per-session engine costs at session build, once per
    SparkContext: JIT/codegen of the scan→broadcast-join→window→agg
    skeleton, the higher-order-function interpreter, the localCheckpoint
    machinery, and the Python worker pool (daemon start + per-worker
    pandas import, forked across the session's cores). bench.py's untimed
    warm-up documents exactly this intent ("pays the one-per-session
    costs: JVM JIT …, Python worker pool spin-up"), but its two actions
    never touch a join/window/Python path — so the first query using them
    absorbed the cost instead (measured r7: mm_decode_features 3.18 s
    cold vs 0.32 s warm ≈ worker spin-up; g2_pagerank 6.4 s cold vs 1.7 s
    warm ≈ codegen/JIT). Touches no input data — everything derives from
    ``spark.range`` — so no result can be precomputed here."""
    app_id = spark.sparkContext.applicationId
    if app_id in _PREWARMED:
        return
    _PREWARMED.add(app_id)
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    spark.sparkContext.setJobDescription("session prewarm")
    try:
        df = spark.range(0, 50_000, 1, min(cores, 8)).select(
            "id", (F.col("id") % 97).alias("k"),
            F.sha2(F.col("id").cast("string"), 256).alias("h"),
            F.array(F.col("id"), F.col("id") + 1).alias("arr"))
        dim = spark.range(0, 97).select(F.col("id").alias("k"))
        w = W.partitionBy("k").orderBy(F.desc("h"))
        out = (df.join(F.broadcast(dim), "k")
               .withColumn("rn", F.row_number().over(w))
               .where(F.col("rn") <= 3)
               .withColumn("s", F.aggregate(
                   "arr", F.lit(0).cast("long"), lambda a, x: a + x))
               .groupBy("k").agg(F.count(F.lit(1)).alias("c"),
                                 F.min("h").alias("m")))
        out.write.format("noop").mode("overwrite").save()
        ck = (df.limit(1_000).repartition(2, "k").sortWithinPartitions("k")
              .localCheckpoint(eager=True))
        ck.write.format("noop").mode("overwrite").save()
        unpersist(ck)
    except Exception:
        pass  # prewarm is best-effort; a failure only costs warm-up
    try:
        def _ident(it):
            for b in it:
                yield b

        (spark.range(0, cores, 1, cores).mapInPandas(_ident, "id long")
         .write.format("noop").mode("overwrite").save())
    except Exception:
        pass
    try:
        # the engine runs a PageRank join-aggregate sweep every crawl round
        # and g2 runs it as a driver query: warm the iteration skeleton
        # (outdeg agg → contrib join → per-iteration join/agg/left-join
        # with coalesce → checkpoint) on range-derived data so its codegen
        # isn't compiled inside the first measured round/query
        nodes = spark.range(0, 200).select(F.col("id").alias("node_id"))
        edges = spark.range(0, 5_000).select(
            (F.col("id") % 200).alias("src"),
            ((F.col("id") * 7) % 200).alias("dst"),
            F.lit(1.0).alias("weight"))
        outdeg = edges.groupBy("src").agg(F.count("*").alias("outdeg"))
        contrib = (edges.where(F.col("src") != F.col("dst"))
                   .join(outdeg, "src")
                   .select("src", "dst",
                           (F.col("weight") / F.col("outdeg")).alias("frac"))
                   .persist())
        nodes = (nodes.union(nodes).distinct().persist())
        empty = spark.createDataFrame([], "node_id long, score double")
        scores = (nodes.join(empty, "node_id", "left")
                  .select("node_id",
                          F.coalesce("score", F.lit(1.0)).alias("score")))
        for _ in range(3):
            sums = (contrib.join(scores,
                                 contrib["src"] == scores["node_id"])
                    .groupBy("dst")
                    .agg(F.sum(F.col("frac") * F.col("score")).alias("s")))
            scores = (nodes.join(sums, nodes["node_id"] == sums["dst"],
                                 "left")
                      .select("node_id",
                              (F.lit(0.15) + F.lit(0.85)
                               * F.coalesce("s", F.lit(0.0))).alias("score")))
        ck = scores.select("node_id",
                           F.round("score", 6).alias("score")) \
                   .localCheckpoint(eager=True)
        ck.count()
        unpersist(ck)
        contrib.unpersist(blocking=False)
        nodes.unpersist(blocking=False)
    except Exception:
        pass
    spark.sparkContext.setJobDescription(None)


def stop_spark() -> None:
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
