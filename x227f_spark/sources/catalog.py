"""Snapshot table store: the engine's transactional state layer.

Plays the role Iceberg plays in production (and the role
write-`.bak`-then-rename plays in the reference, data.rs:93-102 /
processed.rs:225-230): every crawl round commits *all* changed tables in one
atomic step, and a killed job resumes from the last committed checkpoint
(P5, data.rs:104-114).

Three table modes; a table is committed in exactly one of them for its
whole life (checked on every checkpoint load and every commit):

- **cow** (copy-on-write): each commit writes a full new version directory —
  the stand-in for Iceberg ``overwritePartitions`` (used for ``scores``,
  which PageRank legitimately replaces wholesale every round).
- **append**: each commit writes only a delta directory; a read unions all
  committed deltas — the stand-in for Iceberg ``append`` (used for the
  monotone tables: seen set, trace, metrics — at 10^10 scale rewriting the
  seen set per round would dominate the job).
- **merge** (merge-on-read): each commit writes ONE O(batch) delta file of
  upsert rows plus tombstone key rows (``_ts`` flag); a read stacks the
  deltas over the base with *replace-key-group* semantics — for every key
  present in a delta (upsert or tombstone), all older rows of that key are
  dropped and the delta's non-tombstone rows become the key's new group.
  This is the stand-in for Iceberg MOR (``MERGE INTO`` + positional
  deletes) and is what makes the per-round commit O(batch) instead of
  O(state): the reference mutates `pages`/`edges`/`button_cache` in place
  under a mutex (data.rs:298-326), and a naive snapshot port rewrote those
  tables wholesale every round. Compaction is ADAPTIVE (LSM-style
  absorption): when the accumulated delta bytes (this round's included)
  reach half the base size — or the stack reaches ``COMPACT_AT`` — the
  commit writes the merged table as a new base instead of stacking another
  delta. A light-churn round (batch ≪ state, the 10^10 design point)
  writes O(batch) with ≤1.5x amortized write amplification; an
  extreme-churn round (batch ≈ state, e.g. a recrawl-everything bench)
  degrades gracefully to exactly one full write per round — the
  copy-on-write cost, never worse.

  Why merge-on-read and not bucketed partial rewrites: with
  ``hash(key) % B`` buckets a batch of k uniformly-hashed keys touches
  ~B·(1−e^(−k/B)) buckets — at any realistic batch:bucket ratio (150k keys
  vs a few thousand buckets, or 5M keys vs even 10^6 buckets at the 10^10
  design point) that is *all* of them, so "rewrite only touched buckets"
  degenerates to the full rewrite it was meant to avoid. MOR's write cost
  is genuinely independent of state size.

Layout::

    <root>/tables/<table>/v{N:06d}/   parquet data (full version or delta)
    <root>/checkpoints/r{R:06d}.json  committed table→version map of round R

The live checkpoint is the newest ``checkpoints/r*.json``. A round writes
new version directories (nothing references them yet), then publishes its
checkpoint: ``r{R}.json.tmp`` is written, fsynced and renamed to
``r{R}.json``. That rename is the commit point; a ``.tmp`` leftover of a
killed publish is never read and the round's next publish overwrites it.
After every publish and on every open, each version dir the live
checkpoint does not reference is deleted — the one retention rule, so a
round killed anywhere (mid-write, mid-fold, between publish and cleanup)
leaves no orphan behind. The killed round re-runs idempotently: the
deterministic round recomputes the identical result from the previous
checkpoint.
"""

from __future__ import annotations

import json
import logging
import os
import shutil
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass
from functools import partial
from itertools import combinations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_log = logging.getLogger(__name__)

MODES = ("cow", "append", "merge")


def _dir_bytes(path: str) -> int:
    """Total bytes under a version dir (driver-side fs metadata; a version
    dir holds at most ~defaultParallelism files)."""
    total = 0
    for root, _dirs, files in os.walk(path):
        for fn in files:
            try:
                total += os.path.getsize(os.path.join(root, fn))
            except OSError:
                pass
    return total


def _merge_entry(ent: dict, **changes) -> dict:
    """Copy of a merge table's checkpoint entry, with ``changes`` applied:
    ``{"base": int|None, "deltas": [int...], "keys": [col...],
    "base_bytes": int, "delta_bytes": [int...]}``."""
    out = {"base": ent.get("base"), "deltas": list(ent.get("deltas", [])),
           "keys": list(ent["keys"]),
           "base_bytes": int(ent.get("base_bytes", 0)),
           "delta_bytes": list(ent.get("delta_bytes", []))}
    out.update(changes)
    return out


def _mode(tables: dict, name: str) -> str | None:
    return next((m for m in MODES if name in tables[m]), None)


def _versions(tables: dict, name: str) -> list[int]:
    """Version dirs the table maps reference for ``name``."""
    if name in tables["cow"]:
        return [tables["cow"][name]]
    if name in tables["merge"]:
        ent = tables["merge"][name]
        return ([ent["base"]] if ent["base"] is not None else []) \
            + ent["deltas"]
    return list(tables["append"].get(name, []))


@dataclass
class MergeDelta:
    """One round's change set for a merge-on-read table.

    ``rows``: the upserted rows (full table schema). ``keys``: the key
    column(s) defining a group. ``dels``: optional key-only DataFrame of
    groups to delete outright (keys also present in ``rows`` are simply
    replaced — an explicit tombstone is unnecessary for them but harmless).
    """
    rows: DataFrame
    keys: list[str]
    dels: DataFrame | None = None

    def frame(self) -> DataFrame:
        """The delta as written: upserts (``_ts`` false) plus tombstone key
        rows (``_ts`` true, null payload). Key groups present in the delta
        replace the base group wholesale at read time."""
        delta = self.rows.withColumn("_ts", F.lit(False))
        if self.dels is None:
            return delta
        key_set = set(self.keys)
        tomb = self.dels.select(*self.keys).select(
            *[F.col(f.name).cast(f.dataType) if f.name in key_set
              else F.lit(None).cast(f.dataType).alias(f.name)
              for f in self.rows.schema.fields],
            F.lit(True).alias("_ts"))
        return delta.unionByName(tomb)


class StateStore:
    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        os.makedirs(os.path.join(root, "tables"), exist_ok=True)
        os.makedirs(os.path.join(root, "checkpoints"), exist_ok=True)
        self.last_timing: dict = {}  # per-phase seconds of the last commit
        self._load_checkpoint()
        self._collect()  # orphans of a round killed before its publish

    # -- checkpoint handling ----------------------------------------------
    def _ck_path(self, round_no: int) -> str:
        return os.path.join(self.root, "checkpoints", f"r{round_no:06d}.json")

    def _load_checkpoint(self) -> None:
        """Load the live checkpoint, the newest ``checkpoints/r*.json``."""
        done = [int(n[1:-len(".json")])
                for n in os.listdir(os.path.join(self.root, "checkpoints"))
                if n.startswith("r") and n.endswith(".json")]
        ck = {"round": 0, "cow": {}, "append": {}, "merge": {}}
        if done:
            with open(self._ck_path(max(done))) as f:
                ck = json.load(f)
        # mode -> table map, in checkpoint JSON order: cow {name: v},
        # append {name: [v...]}, merge {name: _merge_entry}
        self._tables = {
            "cow": dict(ck["cow"]),
            "append": {k: list(v) for k, v in ck["append"].items()},
            "merge": {k: _merge_entry(v)
                      for k, v in ck.get("merge", {}).items()}}
        self.round = int(ck["round"])
        self.stats = dict(ck.get("stats", {}))
        # a table listed under two modes means a corrupt/foreign checkpoint
        # — fail loudly rather than let read() pick one
        for a, b in combinations(MODES, 2):
            mixed = sorted(set(self._tables[a]) & set(self._tables[b]))
            if mixed:
                raise ValueError(
                    f"checkpoint lists tables in both {a} and {b} modes: "
                    f"{mixed} (corrupt or hand-edited checkpoint)")

    # append tables merge their accumulated delta dirs into one once this
    # many pile up — the snapshot-store analogue of Iceberg's rewrite_data_
    # files compaction. Keeps the per-read file-listing and union fan-in
    # bounded over thousands of rounds (amortized: one extra full write of
    # the table every COMPACT_AT rounds).
    COMPACT_AT = 8

    # merge tables absorb on the SIZE criterion (amortized write ≤ 3x batch
    # — delta + the 2x-batch amortized fold when deltas reach half the
    # base); this cap only bounds read-plan depth / file-listing fan-in in
    # ultra-light-churn regimes and is deliberately larger than COMPACT_AT
    # (an absorb every 8 rounds would re-introduce O(state/8) per round)
    MERGE_STACK_MAX = 24

    # stack cap for tables whose whole size is below the fold floor: their
    # folds are trivially cheap, and bounding the stack bounds how many
    # times the commit plans re-embed the delta union (plan-guard bar)
    MERGE_STACK_SMALL = 4

    # size floor on the merge absorb criterion: at sandbox/bench scale
    # every table's base is tiny, so "deltas reached half the base" fired
    # every round and each round paid a full-table rewrite of EVERY merge
    # table (r7 baseline: write.folds ~1.5 s of each ~19 s bench round —
    # pure write amplification for KB-sized state). Below the floor,
    # deltas simply stack (reads take a few more broadcast anti-joins,
    # bounded by MERGE_STACK_SMALL); at any real state size the 0.5x-base
    # criterion dominates and behavior is unchanged.
    MIN_FOLD_BYTES = 32 * 1024 * 1024

    def commit(self, round_no: int, overwrite: dict[str, DataFrame],
               append: dict[str, DataFrame] | None = None,
               stats: dict | None = None,
               late_append=None,
               merge: dict[str, MergeDelta] | None = None) -> None:
        """Commit one crawl round (P3): stage → write → fold → publish →
        collect. Staging allocates a new version per table; the staged
        tables are written as new version dirs (submitted concurrently —
        Spark schedules them side by side, the snapshot-store analogue of
        Iceberg's parallel manifest writes); tables past their fold
        condition are rewritten as one version; the round's checkpoint is
        published (``_publish``, the commit point); version dirs it does
        not reference are removed (``_collect``).

        ``late_append``: optional ``() -> dict[name, DataFrame]`` invoked
        after the main writes finish but before the publish — lets the
        caller derive tables (metrics) from Observations attached to the
        staged writes, so counting piggybacks on the write jobs instead of
        costing separate actions. ``stats`` may likewise be a callable,
        evaluated after ``late_append``."""
        self.last_timing = {}
        t_last = [time.monotonic()]

        def phase(key):
            now = time.monotonic()
            self.last_timing[key] = round(now - t_last[0], 3)
            t_last[0] = now

        new = {"cow": dict(self._tables["cow"]),
               "append": {k: list(v)
                          for k, v in self._tables["append"].items()},
               "merge": {k: _merge_entry(v)
                         for k, v in self._tables["merge"].items()}}

        def stage(mode, tables):
            jobs = []
            for name, item in tables.items():
                held = _mode(new, name) or mode
                if held != mode:
                    raise ValueError(
                        f"table '{name}' is in {held} mode and cannot be "
                        f"committed in {mode} mode (one mode per table)")
                v = max(_versions(new, name), default=0) + 1
                df = item
                if mode == "cow":
                    new["cow"][name] = v
                elif mode == "append":
                    new["append"].setdefault(name, []).append(v)
                else:
                    new["merge"].setdefault(
                        name, _merge_entry({"keys": item.keys})
                    )["deltas"].append(v)
                    df = item.frame()
                jobs.append((name, v, lambda df=df: df))
            return jobs

        def write(jobs, workers):
            for (name, _v, _df), b in zip(jobs,
                                          self._write_all(jobs, workers)):
                if name in new["merge"]:
                    new["merge"][name]["delta_bytes"].append(b)

        # -- stage + write ---------------------------------------------------
        jobs = (stage("cow", overwrite) + stage("append", append or {})
                + stage("merge", merge or {}))
        # Write concurrency: a BOUNDED pool, safe only because every input
        # the staged tables share is materialized before the pool starts.
        # The round-2 race — two concurrent writes materializing the same
        # lazily-cached subplan under AQE with different coalesced partition
        # counts, poisoning the cache for the whole session ("Can't zip RDDs
        # with unequal numbers of partitions", deterministic at 1M-row
        # commits) — cannot fire when shared subtrees are already
        # LogicalRDDs (localCheckpoint) or materialized InMemoryRelations.
        # The engine upholds that by construction: `fetched`/`selected`/
        # `seen_new` are localCheckpoints, the `links` persist is warmed by
        # the node-id count job before commit, and `seen_all` is
        # deliberately NOT cached (rounds.py) so no lazy shared cache
        # exists. That invariant is ENFORCED here, not assumed: any staged
        # plan still referencing an unmaterialized cache drops the commit
        # to serial writes (correct either way — the pool is purely a
        # throughput optimization). On a real deployment each table write
        # is its own job against the catalog (Iceberg commit) and the race
        # does not exist at all.
        # Pool size follows the session's parallelism, floored at 4: a
        # round stages one write job per table (9 in the crawl), most of
        # them a task or two, so several run at once to keep the cores busy.
        workers = max(4, self.spark.sparkContext.defaultParallelism // 2)
        if any(self._has_unloaded_cache(df()) for _n, _v, df in jobs):
            _log.warning(
                "staged commit plan references an unmaterialized cache — "
                "falling back to serial writes for this round (pool-unsafe "
                "under the AQE cached-subplan race)")
            workers = 1
        write(jobs, workers)
        phase("staged")
        if late_append:
            write(stage("append", late_append() or {}), 1)
        phase("late")

        # -- fold ------------------------------------------------------------
        # Each fold reads ONLY committed parquet files of its own table — no
        # two tables share any subplan — so the folds run through the same
        # pool (an extreme-churn round folds all five merge tables, each a
        # small job that nowhere near saturates the executor slots). Folds
        # never touch the round's live plans, so they compose with any
        # producer plan and cost pure I/O-bounded work.
        folds = []
        for mode in ("append", "merge"):
            for name, ent in new[mode].items():
                if self._fold_due(mode, ent):
                    folds.append((name, max(_versions(new, name)) + 1,
                                  partial(self._view, name, new)))
        for (name, v, _df), b in zip(folds, self._write_all(folds, workers)):
            if name in new["append"]:
                new["append"][name] = [v]
            else:
                new["merge"][name] = _merge_entry(
                    new["merge"][name], base=v, deltas=[], base_bytes=b,
                    delta_bytes=[])
        phase("folds")

        # -- publish ---------------------------------------------------------
        # stats may be a callable evaluated *after* late_append — lets the
        # caller fold Observation results from the staged writes (queue
        # length, seen count) into the same atomic checkpoint
        ck_stats = (stats() if callable(stats) else stats) \
            if stats is not None else self.stats
        self._publish({"round": round_no, **new, "stats": ck_stats})
        self._tables = new
        self.round = round_no
        self.stats = ck_stats

        # -- collect ---------------------------------------------------------
        self._collect()

    def _publish(self, ck: dict) -> None:
        """The commit point: write the round's checkpoint to a temp file,
        fsync it, rename it into place and fsync the directory, so a kill
        at any instant leaves either no record of the round or a whole
        one."""
        path = self._ck_path(ck["round"])
        with open(path + ".tmp", "w") as f:
            json.dump(ck, f)
            f.flush()
            os.fsync(f.fileno())
        os.replace(path + ".tmp", path)
        fd = os.open(os.path.dirname(path), os.O_RDONLY)
        try:
            os.fsync(fd)
        finally:
            os.close(fd)

    def _collect(self) -> None:
        """Delete every version dir the live checkpoint does not reference:
        versions superseded by a cow write or a fold, and the writes of a
        round killed before its publish. A dir that fails to delete stays
        unreferenced, so the next collect retries it."""
        tables = os.path.join(self.root, "tables")
        for name in os.listdir(tables):
            live = {self._table_path(name, v)
                    for v in _versions(self._tables, name)}
            for entry in os.listdir(os.path.join(tables, name)):
                path = os.path.join(tables, name, entry)
                if entry.startswith("v") and path not in live:
                    shutil.rmtree(path, ignore_errors=True)

    def _fold_due(self, mode: str, ent) -> bool:
        """Whether a table's committed versions are rewritten as one.
        ``ent`` is an append table's version list or a merge entry."""
        if mode == "append":
            return len(ent) >= self.COMPACT_AT
        # Absorption: once accumulated delta bytes reach half the base size
        # (or the stack hits MERGE_STACK_MAX, or there is no base yet),
        # fold base+deltas into a new base. Light-churn rounds (batch ≪
        # state, the 10^10 design point) fold rarely: amortized write is
        # ≤3x batch. Extreme-churn rounds (batch ≈ state) fold every
        # round: one delta + one full write, the LSM equivalent of the
        # old copy-on-write cost.
        n, dsum = len(ent["deltas"]), sum(ent["delta_bytes"])
        if n == 0:
            return False
        # sub-floor tables still cap their stack at MERGE_STACK_SMALL:
        # every committed-plan reference embeds the whole delta union,
        # so an unbounded small-state stack regrows the round-1 plan
        # blowup (tests/test_plan_guard.py) — and folding a table this
        # small is by definition cheap. Big tables never hit this arm.
        small_cap = (ent["base_bytes"] + dsum < self.MIN_FOLD_BYTES
                     and n >= self.MERGE_STACK_SMALL)
        return (ent["base"] is None or n >= self.MERGE_STACK_MAX or small_cap
                or dsum >= max(0.5 * ent["base_bytes"], self.MIN_FOLD_BYTES))

    def _write_version(self, name: str, v: int, df: DataFrame) -> int:
        """Write ``df`` as version ``v`` of ``name``; returns the bytes
        written. The file layout is the producer's (AQE coalesces its last
        shuffle to the data's size)."""
        path = self._table_path(name, v)
        df.write.mode("overwrite").parquet(path)
        return _dir_bytes(path)

    def _write_all(self, jobs: list, workers: int) -> list[int]:
        """Write ``(name, version, df_fn)`` jobs through a bounded pool of
        ``workers`` threads (serially when ``workers`` is 1 or there is a
        single job) and return the bytes each wrote. A failed write is
        retried once, serially."""
        def attempt(job):
            name, v, df = job
            try:
                return self._write_version(name, v, df()), None
            except Exception as e:
                return None, e

        if workers > 1 and len(jobs) > 1:
            with ThreadPoolExecutor(max_workers=workers) as ex:
                results = list(ex.map(attempt, jobs))
        else:
            results = [attempt(job) for job in jobs]
        out = []
        for job, (b, first_err) in zip(jobs, results):
            if first_err is not None:
                b, err = attempt(job)
                if err is not None:
                    raise RuntimeError(
                        f"commit write failed twice for table '{job[0]}' "
                        f"v{job[1]} (first error: {first_err})") from err
            out.append(b)
        return out

    @staticmethod
    def _has_unloaded_cache(df: DataFrame) -> bool:
        """True when ``df``'s plan (after cache substitution) references an
        InMemoryRelation whose column buffers are NOT yet materialized —
        the precondition of the AQE poisoned-cache race two concurrent
        writes can trip. Uses ``QueryExecution.withCachedData`` (analysis +
        cache substitution only, no optimizer pass — cheap driver metadata
        work; InMemoryRelation is a leaf node). Returns True on any
        introspection failure: "can't prove safe" degrades to the serial
        path, which is always correct."""
        try:
            leaves = df._jdf.queryExecution().withCachedData().collectLeaves()
            for i in range(leaves.size()):
                leaf = leaves.apply(i)
                if (leaf.getClass().getSimpleName() == "InMemoryRelation"
                        and not leaf.cacheBuilder()
                                    .isCachedColumnBuffersLoaded()):
                    return True
            return False
        except Exception:
            return True

    def _read_parquet(self, paths: list[str], schema: str | None,
                      with_ts: bool = False) -> DataFrame:
        """Parquet read with an optional known schema — a caller-supplied
        schema (the engine passes its SCHEMAS entry) skips the per-read
        footer-inference round trip, which is pure driver/control-plane
        latency repeated for every table view every round."""
        r = self.spark.read
        if schema is not None:
            from pyspark.sql.types import BooleanType, StructType
            st = StructType.fromDDL(schema)
            if with_ts:
                st = st.add("_ts", BooleanType())
            r = r.schema(st)
        return r.parquet(*paths)

    def _merge_view(self, name: str, ent: dict,
                    schema: str | None = None) -> DataFrame | None:
        """Merged (current) view of a merge-on-read table with
        replace-key-group semantics: for every key present in any delta,
        the NEWEST delta containing it decides the key's group (its
        non-tombstone rows, or nothing if it only tombstones the key);
        base rows survive only for keys in no delta.

        Shape (r7): deltas are read as one seq-tagged union, the winner
        picked with a per-key max-seq window over DELTA rows only, and the
        base filtered with a SINGLE anti-join on the union's key set —
        instead of the r6 per-delta chain of anti-join+union layers, whose
        committed-plan text grew ~250 KB per stacked delta (the round-1
        plan-blowup failure mode, re-exposed once the r7 fold-size floor
        let stacks deepen; caught by tests/test_plan_guard.py) and whose
        k chained broadcast filters each touched every base row. The
        window shuffles only delta rows (batch x stack, never the base);
        the key-set anti-join auto-broadcasts while small, and at 10^10
        scale with multi-GB key sets falls back to a shuffle join — the
        Bloom pre-filter in operators/bloom.py is the documented escape
        hatch."""
        from pyspark.sql import Window as W

        keys = ent["keys"]
        base = (self._read_parquet([self._table_path(name, ent["base"])],
                                   schema)
                if ent["base"] is not None else None)
        if not ent["deltas"]:
            return base
        parts = [
            self._read_parquet([self._table_path(name, v)], schema,
                               with_ts=True).withColumn("__mor_seq",
                                                        F.lit(i))
            for i, v in enumerate(ent["deltas"])
        ]
        alld = parts[0]
        for p in parts[1:]:
            alld = alld.unionByName(p)
        w = W.partitionBy(*keys)
        newest = (alld.withColumn("__mor_mx", F.max("__mor_seq").over(w))
                  .where(F.col("__mor_seq") == F.col("__mor_mx")))
        rows = newest.where(~F.col("_ts")).drop("_ts", "__mor_seq",
                                                "__mor_mx")
        if base is None:
            return rows
        dkeys = alld.select(*keys).distinct()
        return base.join(dkeys, keys, "left_anti").unionByName(rows)

    # -- reads --------------------------------------------------------------
    def _table_path(self, name: str, version: int) -> str:
        return os.path.join(self.root, "tables", name, f"v{version:06d}")

    def exists(self, name: str) -> bool:
        return _mode(self._tables, name) is not None

    def _view(self, name: str, tables: dict,
              schema: str | None = None) -> DataFrame | None:
        """View of ``name`` as the given table maps commit it; None when
        they reference no version of it."""
        if name in tables["merge"]:
            return self._merge_view(name, tables["merge"][name], schema)
        paths = [self._table_path(name, v) for v in _versions(tables, name)]
        return self._read_parquet(paths, schema) if paths else None

    def read(self, name: str, schema: str | None = None) -> DataFrame:
        """Committed view of a table; empty DF (with ``schema``) when the
        table has never been committed. A supplied ``schema`` also skips
        parquet footer inference on every read (see ``_read_parquet``)."""
        df = self._view(name, self._tables, schema)
        if df is not None:
            return df
        if schema is None:
            raise KeyError(f"table {name} not committed and no schema given")
        return self.spark.createDataFrame([], schema)
