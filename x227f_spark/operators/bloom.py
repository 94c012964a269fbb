"""J2 — broadcast Bloom filter fronting the exact seen-set anti-join.

The north_rule's admission design: a Bloom filter prunes the big anti-join,
the salted-hash-partitioned anti-join provides exactness (SURVEY.md §4).
Rows the Bloom rejects are *definitely new* and skip the join entirely; rows
it accepts go through the exact left-anti join. The filter is therefore an
optimization only — false positives cost a join probe, never correctness.

Implementation: k xxhash64 hash functions computed JVM-side
(``F.xxhash64`` with per-hash seed columns), per-partition numpy bitmaps
packed executor-side (Arrow batches) and OR-merged on the executors,
broadcast to executors, membership tested by a vectorized pandas UDF
(numpy fancy indexing — no per-row Python).

Sharding (10^10 keys): a single 1%-FPR bloom is ~12 GB — too big to
broadcast whole. Keys route to one of S shards by
``pmod(xxhash64(key), S)``; each shard is an independent bitmap sized for
``expected/S`` keys and broadcast as its OWN broadcast variable, and the
probe side is hash-partitioned on the shard id before probing — so a task
only ever touches (and, on a real cluster, only ever *fetches*: Spark
broadcasts are pulled lazily on first access) the one shard its partition
needs. Per-task broadcast memory is total/S instead of total. S = 1 is the
same filter with one shard: every key is shard 0, so neither the build nor
the probe exchanges on the shard id, and the build's partials OR-merge
with a tree reduction. The anti-join behind the filter is unchanged.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf


def _shard_col(key: Column, n_shards: int) -> Column:
    if n_shards == 1:
        return F.lit(0)
    return F.pmod(F.xxhash64(F.lit(-1), key), F.lit(n_shards))


def _position_cols(key: Column, m: int, k: int) -> list[Column]:
    return [F.pmod(F.xxhash64(F.lit(i), key), F.lit(m)) for i in range(k)]


class BloomFilter:
    """``shards`` maps shard id → broadcast bitmap; a shard absent from the
    map saw no keys at build, so its probes are definite misses."""

    def __init__(self, shards: dict, m: int, k: int, n_shards: int):
        self.shards = shards
        self.m = m
        self.k = k
        self.n_shards = n_shards

    def might_contain(self, df: DataFrame, key: Column) -> DataFrame:
        """Adds a boolean ``_bloom_hit`` column."""
        bcs = self.shards

        @pandas_udf("boolean")
        def _probe(shard: pd.Series, *pos_cols: pd.Series) -> pd.Series:
            sh = shard.to_numpy(dtype=np.int64)
            hit = np.zeros(len(sh), dtype=bool)
            pos = [p.to_numpy(dtype=np.int64) for p in pos_cols]
            # only the shards present in this batch have their broadcast
            # fetched/touched
            for s in np.unique(sh):
                bc = bcs.get(int(s))
                if bc is None:
                    continue
                bits = bc.value
                mask = sh == s
                h = np.ones(int(mask.sum()), dtype=bool)
                for p in pos:
                    idx = p[mask]
                    h &= (bits[idx >> 3] >> (idx & 7).astype(np.uint8)) & 1 == 1
                hit[mask] = h
            return pd.Series(hit)

        pos_names = [f"_bloom_pos{i}" for i in range(self.k)]
        df = df.withColumns({
            "_bloom_shard": _shard_col(key, self.n_shards),
            **dict(zip(pos_names, _position_cols(key, self.m, self.k)))})
        if self.n_shards > 1:
            df = df.repartition(max(self.n_shards, df.sparkSession
                                    .sparkContext.defaultParallelism),
                                "_bloom_shard")
        df = df.withColumn("_bloom_hit", _probe(
            F.col("_bloom_shard"), *[F.col(n) for n in pos_names]))
        return df.drop("_bloom_shard", *pos_names)


# Per-broadcast bitmap cap. One 1%-FPR bloom over 10^10 keys is ~12 GB —
# unbroadcastable whole; capping each shard at 256 MB yields S≈47 shards at
# the 10^10 design point while every realistic sandbox/bench seen set stays
# single-shard (a 256 MB bitmap covers ~2.2e8 keys at 1% FPR).
SHARD_BYTES_MAX = 256 << 20


def shards_for(expected: int, fpp: float = 0.01) -> int:
    """Shard count so each shard's bitmap fits under ``SHARD_BYTES_MAX`` —
    the engine wires this to its live seen-set count each round."""
    bits = max(64, int(-max(expected, 16) * math.log(fpp)
                       / (math.log(2) ** 2)))
    return max(1, -(-(bits >> 3) // SHARD_BYTES_MAX))


def _size_params(expected: int, fpp: float) -> tuple[int, int]:
    expected = max(expected, 16)
    m = max(64, int(-expected * math.log(fpp) / (math.log(2) ** 2)))
    k = min(8, max(1, round(m / expected * math.log(2))))
    return m, k


def _or(a, b):
    return b if a is None else a if b is None else np.bitwise_or(a, b)


def _bitmaps(df: DataFrame, key: Column, m: int, k: int,
             n_shards: int) -> dict[int, np.ndarray]:
    """Distributed per-shard bitmap build: hash positions JVM-side, each
    partition packs bitmaps (Arrow batches, numpy) only for the shards it
    holds, and the partials OR-combine on the executors — nothing
    key-proportional ever reaches the driver, only at most ``n_shards``
    bitmaps. With S > 1 the keys are first repartitioned on the shard id
    (~one shard per partition) and partials merge per shard; with S = 1
    every partial is shard 0 and they merge with a tree reduction."""
    nbytes = (m >> 3) + 1
    pos_df = df.select(_shard_col(key, n_shards).alias("_sh"),
                       *_position_cols(key, m, k))
    if n_shards > 1:
        pos_df = pos_df.repartition(n_shards, "_sh")

    def _partial(batches):
        import pyarrow as pa

        maps: dict[int, np.ndarray] = {}
        for batch in batches:
            sh = batch.column(0).to_numpy(zero_copy_only=False) \
                .astype(np.int64)
            for col in range(1, batch.num_columns):
                idx = batch.column(col).to_numpy(zero_copy_only=False) \
                    .astype(np.int64)
                for s in np.unique(sh):
                    bits_p = maps.setdefault(
                        int(s), np.zeros(nbytes, dtype=np.uint8))
                    part = idx[sh == s]
                    np.bitwise_or.at(bits_p, part >> 3,
                                     (1 << (part & 7)).astype(np.uint8))
        if maps:
            yield pa.RecordBatch.from_arrays(
                [pa.array(list(maps.keys()), type=pa.int32()),
                 pa.array([b.tobytes() for b in maps.values()],
                          type=pa.binary())],
                names=["shard", "bits"])

    partials = (pos_df.mapInArrow(_partial, "shard int, bits binary").rdd
                .map(lambda r: (r["shard"],
                                np.frombuffer(r["bits"], dtype=np.uint8))))
    if n_shards > 1:
        merged = partials.reduceByKey(np.bitwise_or).collect()
    else:
        # treeAggregate, not treeReduce: a build over no keys has no
        # partials and yields no shard (every probe a definite miss)
        bits = partials.values().treeAggregate(None, _or, _or)
        merged = [] if bits is None else [(0, bits)]
    # own the buffers: the driver ORs later deltas into them in place
    return {int(s): np.asarray(b, dtype=np.uint8).copy() for s, b in merged}


def build_bloom(df: DataFrame, key: Column, expected: int,
                fpp: float = 0.01, n_shards: int = 1) -> BloomFilter:
    """Build a broadcast Bloom filter over ``key`` of ``df`` with
    ``n_shards`` shards, each sized for ``expected / n_shards`` keys."""
    m, k = _size_params(expected // n_shards, fpp)
    sc = df.sparkSession.sparkContext
    return BloomFilter({s: sc.broadcast(b) for s, b in
                        _bitmaps(df, key, m, k, n_shards).items()},
                       m, k, n_shards)


class IncrementalBloom:
    """Round-to-round incremental Bloom maintenance — O(batch) per round.

    The round-4 engine rebuilt the filter from the FULL seen set every
    round: an O(state) scan plus Python bitmap packing in the round's
    control-plane path, pure waste in recrawl-heavy steady state where the
    seen set barely grows. Bloom bitmaps are OR-monotone, so the driver
    keeps the merged bitmaps between rounds (the same arrays the one-shot
    build collects anyway) and each round scans ONLY the keys first seen
    since the last update — with the seen table stored as per-round append
    deltas, the ``first_seen_round > upto`` predicate prunes whole delta
    files via parquet stats, so update I/O is O(batch). A round that adds
    no keys (the steady recrawl regime) costs zero jobs: the caller's
    driver-side seen counter short-circuits the update.

    Capacity doubling: bitmaps are sized for 2× the seen count at
    (re)build time; a full rebuild fires only when the count outgrows
    capacity (or on the first call, e.g. after a crash-resume — the state
    is driver-held and deliberately not checkpointed: losing it costs one
    O(state) rebuild, never correctness). Amortized over the doublings
    that is O(1) full scans per key, and under capacity the realized FPP
    is strictly better than the target. Shard count follows capacity
    (``shards_for``), so sharding engages at the same thresholds as the
    one-shot build; superseded broadcasts are unpersisted (not
    destroyed — an evicted-and-recomputed cache partition may still probe
    an old filter object, and unpersisted broadcasts re-ship from the
    driver on access).
    """

    def __init__(self, fpp: float = 0.01, min_seen: int = 0):
        self.fpp = fpp
        self.min_seen = min_seen
        self._filter = None
        self._capacity = 0
        self._count = -1       # seen_count the current bitmaps cover
        self._upto = -1        # max first_seen_round folded in
        self._bits: dict[int, np.ndarray] = {}

    def _broadcast(self, spark) -> None:
        old = self._filter
        sc = spark.sparkContext
        # snapshot (copy) at broadcast time: later rounds OR into the
        # driver-held arrays in place, and an executor re-fetching an
        # unpersisted broadcast must see the filter as of ITS round
        self._filter = BloomFilter(
            {s: sc.broadcast(b.copy()) for s, b in self._bits.items()},
            *self._mk, self._n_shards)
        if old is not None:
            try:
                for bc in old.shards.values():
                    bc.unpersist(False)
            except Exception:
                # best-effort release: a failed unpersist only leaves the
                # old blocks to the ContextCleaner
                pass

    def update(self, seen: DataFrame, key_col: str, seen_count: int,
               upto_round: int):
        """Return a filter covering every key of ``seen`` (committed as of
        ``upto_round``), or None below the ``min_seen`` engage threshold.
        ``seen_count`` is the caller's driver-side count — when unchanged
        since the last update the call is free."""
        if seen_count < self.min_seen:
            return None
        key = F.col(key_col)
        if self._filter is None or seen_count > self._capacity:
            # full (re)build, capacity-doubled so rebuilds amortize O(1)
            self._capacity = max(2 * seen_count, 2 * max(self.min_seen, 16))
            self._n_shards = shards_for(self._capacity, self.fpp)
            self._mk = _size_params(self._capacity // self._n_shards,
                                    self.fpp)
            self._bits = _bitmaps(seen, key, *self._mk, self._n_shards)
        elif seen_count != self._count:
            delta = seen.where(F.col("first_seen_round") > F.lit(self._upto))
            for s, b in _bitmaps(delta, key, *self._mk,
                                 self._n_shards).items():
                if s in self._bits:
                    np.bitwise_or(self._bits[s], b, out=self._bits[s])
                else:
                    self._bits[s] = b
        else:
            return self._filter  # no new keys since the last update
        self._count = seen_count
        self._upto = upto_round
        self._broadcast(seen.sparkSession)
        return self._filter


def anti_join_new(targets: DataFrame, key_col: str, seen: DataFrame,
                  seen_key: str, bloom: BloomFilter | None) -> DataFrame:
    """Rows of ``targets`` whose key is NOT in ``seen`` — Bloom-fronted
    exact anti-join (P2/J2, data.rs:195-208 membership semantics)."""
    if bloom is None:
        return targets.join(seen.select(F.col(seen_key).alias(key_col)),
                            key_col, "left_anti")
    probed = bloom.might_contain(targets, F.col(key_col))
    definitely_new = probed.where(~F.col("_bloom_hit")).drop("_bloom_hit")
    maybe_seen = probed.where(F.col("_bloom_hit")).drop("_bloom_hit")
    checked = maybe_seen.join(
        seen.select(F.col(seen_key).alias(key_col)), key_col, "left_anti")
    return definitely_new.unionByName(checked)
