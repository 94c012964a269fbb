"""P3/P4/P5 — the crawl round loop: plan → schedule → fetch → commit.

One ``run_round()`` call is the distributed equivalent of one 15-second
iteration of the reference's main loop (main.rs:151-189) plus the work its
100 crawl tasks do in that window (main.rs:192-298), expressed as pure
DataFrame algebra + the Arrow-UDF fetch stage (operators/fetch.py), committed
atomically through the snapshot StateStore (catalog.py) so a killed job
resumes mid-crawl (P5, data.rs:104-114).

Determinism contract (SURVEY.md §4): every order-sensitive step goes through
explicit ``orderBy``/window ordinals with pinned tie-breaks — (score desc,
node_id asc) for ranking, queue_pos for scheduling, (crawl_pos, link_class,
link_ord) for node-id assignment — so the same input produces byte-identical
state at any parallelism (the scaling-invariance test relies on this).

Known-unreachable reference path deliberately omitted: J3 redirect-dedup
(main.rs:209-217) can never fire because download_page's basic redirect
(P6, page.rs:128-137) only follows targets with an *equal* PageId and the
HTTP client never auto-follows (mod.rs:24), so the fetched URL's PageId
always equals the queued one. The golden model keeps the check; the engine
drops the dead join.
"""

from __future__ import annotations

import os
import time
from dataclasses import replace
from datetime import timedelta

from pyspark.sql import DataFrame, Observation, SparkSession, Window as W

from ..operators.ranked import global_row_number
from pyspark.sql import functions as F

from ..constants import EngineConfig
from ..model import VIRTUAL_EPOCH
from ..operators import fetch as fetch_ops
from ..operators.bloom import IncrementalBloom, anti_join_new
from ..operators.pagerank import pagerank_iterations
from ..operators.qcache import unpersist
from ..sources.catalog import MergeDelta, StateStore
from ..functions.urlnorm import (
    host_matches_col,
    hosts_list_contains_col,
    page_id_udf,
    url_host,
)
from ..urlutil import Url, page_id_of

SCHEMAS = {
    "pages": ("page_id string, url string, last_visited timestamp, failed int, "
              "redirects_to string, internal_links array<string>, "
              "buttons array<struct<ord:int,source:string,hash:string,"
              "file_ext:string,target:string,last_visited:timestamp,"
              "alt:string,title:string>>"),
    "seen": "page_id string, node_id long, first_seen_round int",
    "discovered": "node_id long, url string",
    "edges": "src long, dst long, weight double",
    "scores": "node_id long, score double",
    "queue": "queue_pos long, url string, page_id string, host string",
    "button_cache": ("url string, hash string, file_ext string, "
                     "last_visited timestamp"),
    "media": ("media_ref string, bytes binary, file_ext string, "
              "width int, height int"),
    "trace": "round int, seq long, page_id string, host string, action string",
    "metrics": ("round int, admitted long, fetched long, failed long, "
                "queue_size long, seen_size long, duration_ms long"),
}

import logging

_log = logging.getLogger(__name__)


def _obs_get(obs: Observation, defaults: dict) -> dict:
    """Observation.get, tolerant of Catalyst pruning the CollectMetrics
    node: when the observed subtree constant-folds to an empty relation
    (e.g. a filter provably false this round), PropagateEmptyRelation
    deletes the observe node and the finished query reports no metrics —
    which *proves* zero rows flowed, so the caller's zero-valued defaults
    are exact, not a guess. Still logged: if the fallback ever fires for a
    reason OTHER than empty-relation pruning (e.g. the observed write was
    retried and the metrics stuck to the first execution), the incremental
    queue stats would drift — the periodic reconciliation in
    ``CrawlEngine._reconcile_queue_stats`` re-derives them from the
    committed queue, and this warning is the breadcrumb."""
    from py4j.protocol import Py4JJavaError
    try:
        return obs.get
    except Py4JJavaError as e:
        _log.warning(
            "Observation metrics unavailable (%s) — using defaults %s; "
            "periodic queue-stats reconciliation will correct any drift",
            str(e).splitlines()[0][:120], defaults)
        return defaults


def _robots_col(robots, host_col, value, default):
    """``value(rule)`` of the first rule in ``robots`` whose host matches
    ``host_col``, else ``default``: ``EngineConfig._robots_rule`` as one
    first-match ``when`` chain (the rules are config constants)."""
    out = default
    for rule in reversed(robots):  # the tuple's first rule ends outermost
        out = F.when(host_matches_col(host_col, rule.host), value(rule)) \
            .otherwise(out)
    return out


class CrawlEngine:
    # seen-set size below which the Bloom pre-prune is skipped entirely
    # (the plain anti-join broadcasts and is cheaper); class attribute so
    # tests can lower it to exercise the bloom/sharded-bloom paths at
    # sandbox scale
    BLOOM_MIN_SEEN = 50_000
    BLOOM_FPP = 0.01
    # force a JVM GC every this-many committed rounds so the ContextCleaner
    # reclaims shuffle files / checkpoint blocks promptly, and every round
    # after one that admitted at least GC_BIG_ROUND_URLS (see
    # _finish_round)
    GC_EVERY_ROUNDS = 4
    GC_BIG_ROUND_URLS = 200_000

    def __init__(self, spark: SparkSession, corpus_dir: str, state_dir: str,
                 config: EngineConfig | None = None,
                 starting_point: str | None = None):
        self.spark = spark
        self.cfg = config or EngineConfig()
        if starting_point is not None:
            self.cfg = replace(self.cfg, starting_point=starting_point)
        self.store = StateStore(spark, state_dir)
        self._last_round_big = False
        self._tm = {}
        # incremental admission bloom (driver-held; rebuilt from the full
        # committed seen set only on first use / crash-resume / capacity
        # doubling — see bloom.IncrementalBloom)
        self._ibloom = IncrementalBloom(fpp=self.BLOOM_FPP,
                                        min_seen=self.BLOOM_MIN_SEEN)

        http = spark.read.parquet(f"{corpus_dir}/http.parquet")
        docs = spark.read.parquet(f"{corpus_dir}/documents.parquet")
        # static for the life of the engine and probed twice per round (S5 +
        # P6 retry) — persist once, HASH-PARTITIONED ON THE JOIN KEY so the
        # per-round page joins reuse the cached layout and only the small
        # (fetch-cap-sized) side is exchanged. Without this every round
        # re-shuffles the whole corpus — O(corpus) per round instead of
        # O(batch), the exact anti-pattern the 10^10 design forbids. On a
        # real deployment this is the bucketed source table / HTTP fetch.
        n_part = int(spark.conf.get("spark.sql.shuffle.partitions"))
        self.corpus = (
            http.join(docs, http["url"] == docs["doc_id"], "left")
            .select("url", "status", "content_type", "redirect_to",
                    "body_len", "spans")
            .repartition(n_part, "url")
            .persist()
        )
        self.corpus.count()
        images = spark.read.parquet(f"{corpus_dir}/images.parquet")
        self.resolved_images = (
            fetch_ops.resolve_image_redirects(images)
            .repartition(n_part, "url").localCheckpoint(eager=True)
        )
        self._extract_udf = fetch_ops.make_extract_udf(self.cfg)
        self._round_persists = []
        self._round_cuts = []
        # per-stage seconds of the last round (diagnostics; also returned by
        # run_round) and the largest committed-plan string length — the
        # plan-blowup regression guard (computed when X227F_PLAN_GUARD=1)
        self.last_timing: dict[str, float] = {}
        self.last_plan_len: int = 0
        # driver-side scalars maintained across rounds, persisted in the
        # stats of every checkpoint from the round-0 bootstrap commit on
        # (the per-round count/agg jobs they replace were pure control-plane
        # floor). Node ids are dense 0..N-1, so max_id = seen_count-1.
        st = self.store.stats if self._bootstrapped() else {
            "seen_count": 0, "edges_nonempty": False,
            "queue_len": 0, "max_pos": -1}
        self._seen_count = int(st["seen_count"])
        self._edges_maybe_nonempty = bool(st["edges_nonempty"])
        self._queue_len = int(st["queue_len"])
        self._max_pos = int(st["max_pos"])

    def _sub(self, key: str, t_start: float) -> None:
        """Sub-stage timing attribution (keys with a dot are diagnostics
        nested under the five coarse marks)."""
        self._tm[key] = round(time.monotonic() - t_start, 3)

    def _persist(self, df: DataFrame) -> DataFrame:
        """Round-scoped cache: reused intermediates are persisted lazily
        (no extra materialization job, unlike an eager localCheckpoint) and
        dropped when the round commits."""
        df = df.persist()
        self._round_persists.append(df)
        return df

    def _cut(self, df: DataFrame) -> DataFrame:
        """Round-scoped lineage cut (eager localCheckpoint).

        Unlike ``_persist``, this truncates the *logical plan* (the result
        scans a materialized RDD). Heavily re-referenced round intermediates
        (fetched, links, seen_new) MUST be cut, not just cached: every
        re-reference of a cached plan re-embeds its full subtree in the
        consumer's plan text, and the commit plan re-references them through
        unions and self-joins enough times that round 1 shipped 120 MB plan
        strings (BENCH_r01) — pure driver-side Catalyst/stringify overhead
        that a 1000-executor cluster cannot parallelize away. The checkpoint
        blocks are explicitly unpersisted when the round commits (see
        ``_drop_round_persists``), so a multi-thousand-round crawl does not
        accumulate block-manager state."""
        out = df.localCheckpoint(eager=True)
        self._round_cuts.append(out)
        return out

    def _cut_count(self, df: DataFrame) -> tuple[DataFrame, int]:
        """``_cut`` plus the cut's exact row count, read from an Observation
        on the same eager materialization (no separate count job). On an
        Observation fallback the count is recovered from the cut — a cheap
        scan of materialized blocks — and never defaulted to 0: a spurious
        0 would drop scheduled URLs, a seen delta, or the edges flag."""
        obs = Observation()
        out = self._cut(df.observe(obs, F.count(F.lit(1)).alias("n")))
        n = _obs_get(obs, {"n": None})["n"]
        return out, int(n) if n is not None else out.count()

    def _admit_ok_col(self, url_col, host_col):
        """Admission gate (data.rs:196-198 + robots Disallow), expanded to
        literal Column predicates (robots rules are config constants, so
        Catalyst constant-folds the whole gate)."""
        cfg = self.cfg
        path_col = F.regexp_extract(
            F.regexp_replace(url_col, r"^[a-z][a-z0-9+.-]*://[^/]*", ""),
            r"^([^?#]*)", 1)

        def rule_blocks(rule):
            cond = F.lit(rule.banned)
            for p in rule.disallow_prefixes:
                cond = cond | path_col.startswith(p)
            return cond
        return ~(hosts_list_contains_col(host_col, cfg.banned_hosts)
                 | _robots_col(cfg.robots, host_col, rule_blocks,
                               F.lit(False)))

    def _host_budget_col(self, host_col):
        """``cfg.host_budget`` expanded to a literal Column expression (the
        robots table and crawl-delay dict are run-scoped constants) — the
        r6 pandas UDF was the scheduler chain's only Python boundary
        (guide §4.1: prefer built-ins). Exact replication of
        ``EngineConfig.delay_for_host``:

        - robots rules are consulted in tuple order and the FIRST matching
          rule decides; a matched rule with ``crawl_delay_sec=None`` falls
          through to the dict exactly like no match (both fold to NULL in
          the when-chain, which is precisely the reference behavior);
        - the crawl-delay dict is matched under recursive host shortening,
          i.e. suffix match on label boundaries with the longest key
          winning; keys with fewer than 2 labels can only match exactly
          (the shortening loop never tests suffixes below 2 labels).
        """
        cfg = self.cfg
        # dict chain, shortest key folded innermost so the longest
        # matching suffix decides (the shortening loop's first hit)
        delay = F.lit(cfg.default_crawl_delay)
        for k in sorted(cfg.host_crawl_delays,
                        key=lambda s: len(s.split("."))):
            cond = host_matches_col(host_col, k) \
                if len(k.split(".")) >= 2 else host_col == k
            delay = F.when(cond, F.lit(cfg.host_crawl_delays[k])) \
                     .otherwise(delay)
        # robots rules outrank the dict. NULL (no rule matched, or matched
        # with no crawl_delay override) falls to the dict chain.
        rule_delay = _robots_col(
            cfg.robots, host_col,
            lambda rule: F.lit(rule.crawl_delay_sec).cast("int"),
            F.lit(None).cast("int"))
        delay = F.coalesce(rule_delay, delay)
        return F.when(delay <= 0, F.lit(cfg.fetch_cap)).otherwise(
            F.greatest(F.floor(F.lit(cfg.round_seconds) / delay)
                       .cast("int"), F.lit(1)))

    def _no_follow_col(self, host_col):
        """``EngineConfig.effective_no_follow`` as a Column."""
        return hosts_list_contains_col(host_col, self.cfg.no_follow_hosts) \
            | _robots_col(self.cfg.robots, host_col,
                          lambda rule: F.lit(rule.no_follow), F.lit(False))

    # -- state access -------------------------------------------------------
    def table(self, name: str) -> DataFrame:
        return self.store.read(name, SCHEMAS[name])

    def _now(self, round_no: int):
        return VIRTUAL_EPOCH + timedelta(
            seconds=round_no * self.cfg.round_seconds)

    # -- bootstrap (data.rs:117-178) -----------------------------------------
    def _bootstrapped(self) -> bool:
        return self.store.round > 0 or self.store.exists("queue")

    def _bootstrap(self) -> None:
        if self._bootstrapped():
            return
        sp = self.cfg.starting_point
        u = Url.parse(sp)
        host = u.host if u else ""
        path = u.path if u else ""
        if not (self.cfg.effective_banned(host)
                or self.cfg.disallowed(host, path)):
            pid = page_id_of(sp)
            queue0 = self.spark.createDataFrame(
                [(0, sp, pid, host)], SCHEMAS["queue"])
            seen_new = self.spark.createDataFrame(
                [(pid, 0, 0)], SCHEMAS["seen"])
            self._seen_count = 1
            self._queue_len, self._max_pos = 1, 0
        else:
            queue0 = self.spark.createDataFrame([], SCHEMAS["queue"])
            seen_new = self.spark.createDataFrame([], SCHEMAS["seen"])
            self._seen_count = 0
            self._queue_len, self._max_pos = 0, -1
        self._edges_maybe_nonempty = False
        self.store.commit(0, {}, {"seen": seen_new}, stats=self._stats(),
                          merge={"queue": MergeDelta(queue0, ["queue_pos"])})

    # -- one round ------------------------------------------------------------
    def run_round(self) -> dict:
        t0 = time.monotonic()
        tm: dict[str, float] = {}
        t_last = [t0]

        def _mark(key: str) -> None:
            now_t = time.monotonic()
            tm[key] = round(now_t - t_last[0], 3)
            t_last[0] = now_t

        self._tm = tm
        self._bootstrap()
        r = self.store.round + 1
        cfg = self.cfg
        now = self._now(r)
        now_epoch = int(now.timestamp())

        pages = self.table("pages")
        seen = self.table("seen")
        discovered = self.table("discovered")
        edges = self.table("edges")
        scores = self.table("scores")
        queue = self.table("queue")
        cache = self.table("button_cache")

        # ---- rank: G2 (data.rs:166-169, 216-218) -------------------------
        iters = cfg.bootstrap_pr_iters if r == 1 else cfg.round_pr_iters
        nodes = seen.select("node_id")
        if not self._edges_maybe_nonempty:
            # closed form: no inbound anywhere → every node is exactly 0.15
            # after >=1 iteration; skips 50 join-agg sweeps at bootstrap
            scores = nodes.select("node_id", F.lit(0.15).alias("score"))
        else:
            scores = pagerank_iterations(nodes, edges, scores, iters,
                                         cut=self._cut,
                                         persist=self._persist,
                                         on_timing=lambda k, s: self._sub(
                                             f"rank.{k}", s),
                                         # exact node count, maintained as a
                                         # driver scalar — small crawls skip
                                         # the big-graph layout setup
                                         approx_nodes=self._seen_count)
        _mark("rank")

        # ---- refresh_queue: T1/T2/F11/F12 (data.rs:210-292) ---------------
        # queue length / max position are driver-side scalars maintained via
        # Observations on the staged queue-delta write (no per-round agg job)
        queue_len = self._queue_len
        max_pos = self._max_pos
        pg = pages.select(
            "page_id", F.col("url").alias("pg_url"),
            F.col("last_visited").alias("pg_lv"), F.col("failed").alias("pg_failed"))
        cand = (
            scores.where(F.col("score") >= cfg.required_score)
            .join(seen.select("page_id", "node_id"), "node_id")
            .join(queue.select("page_id"), "page_id", "left_anti")
            .join(pg, "page_id", "left")
            .join(discovered.select("node_id", F.col("url").alias("disc_url")),
                  "node_id", "left")
        )
        backoff_due = (F.col("pg_lv").cast("long")
                       + 3600 * F.pow(F.lit(2.0), F.col("pg_failed") - 1)
                       < F.lit(now_epoch))
        interval_hours = F.when(F.col("score") > cfg.popular_score,
                                F.lit(cfg.recrawl_popular_hours)) \
                          .otherwise(F.lit(cfg.recrawl_hours))
        recrawl_due = (F.col("pg_lv").cast("long") + 3600 * interval_hours
                       < F.lit(now_epoch))
        due = F.when(F.col("pg_url").isNotNull(),
                     F.when(F.col("pg_failed") > 0, backoff_due)
                     .otherwise(recrawl_due)) \
               .otherwise(F.col("disc_url").isNotNull())
        cand = cand.where(due).withColumn(
            "cand_url", F.coalesce("pg_url", "disc_url"))
        # collection-loop cap semantics (data.rs:271-274): break *after* the
        # push that crosses the cap — a plain limit expresses it: when fewer
        # candidates exist the limit is a no-op
        limit_n = max(cfg.queue_cap - queue_len, 0) + 1
        adding = global_row_number(
            cand, [F.desc("score"), F.asc("node_id")], "add_pos",
            persist=self._persist).where(F.col("add_pos") <= limit_n)
        adding = self._persist(adding)
        add_host = url_host(F.col("cand_url"))
        new_entries = (
            adding.where(self._admit_ok_col(F.col("cand_url"), add_host))
            .select((F.lit(max_pos) + F.col("add_pos")).alias("queue_pos"),
                    F.col("cand_url").alias("url"), "page_id",
                    add_host.alias("host"))
        )
        queue2 = queue.unionByName(new_entries)
        # consume scheduled unvisited urls (data.rs:262-268), even when the
        # subsequent add was dropped as banned — a tombstone key set on the
        # discovered merge table (the committed `discovered` view stays the
        # pre-consumption one for this round's candidate join above)
        consumed = adding.where(F.col("pg_url").isNull()).select("node_id")

        # ---- schedule: T3 + P1 (data.rs:418-439, ratelimiter.rs) ----------
        w_host = W.partitionBy("host").orderBy("queue_pos")
        sel = (
            queue2.withColumn("budget", self._host_budget_col(F.col("host")))
            .withColumn("hr", F.row_number().over(w_host))
            .where(F.col("hr") <= F.col("budget"))
        )
        t_grn = time.monotonic()
        # queue positions live in [0, max_pos + limit_n] — known driver
        # scalars, so the global rank skips the RangePartitioner's
        # boundary-sampling job (ranked.global_row_number bounds path).
        # Both ranks express their prefix sums as broadcast-joined plans,
        # so the lineage cut below is the sched chain's ONLY action, and
        # n_selected rides on it as an Observation.
        sel = global_row_number(sel, ["queue_pos"], "gr",
                                persist=self._persist,
                                bounds=(0, max_pos + limit_n))
        sel = sel.where(F.col("gr") <= cfg.fetch_cap)
        self._sub("sched.rank", t_grn)
        # lineage cut, not persist: `selected` feeds every downstream stage
        # (fetch, commit, trace); an uncached plan would compound through
        # the round's self-joins. A spurious n_selected of 0 would take the
        # empty-round path while queue_delta still tombstones `selected`'s
        # queue_pos rows.
        t_cut = time.monotonic()
        selected, n_selected = self._cut_count(sel.select(
            "queue_pos", "url", "page_id", "host",
            (F.col("gr") - 1).cast("long").alias("crawl_pos")))
        self._sub("sched.cut", t_cut)
        self._last_round_big = n_selected >= self.GC_BIG_ROUND_URLS
        # queue merge delta (O(batch)): tombstones for the scheduled rows,
        # upserts for the new entries minus those scheduled this same round.
        # The Observation maintains the driver-side queue length / max
        # position — it sits on new_entries, upstream of the anti-join, so
        # it sees every admitted entry when the delta write executes.
        q_obs = Observation()
        new_entries_obs = new_entries.observe(
            q_obs, F.count(F.lit(1)).alias("n"),
            F.max("queue_pos").alias("mx"))
        queue_delta = MergeDelta(
            new_entries_obs.join(selected.select("queue_pos"),
                                 "queue_pos", "left_anti"),
            ["queue_pos"], dels=selected.select("queue_pos"))
        _mark("sched")

        def _apply_queue_obs():
            qn = _obs_get(q_obs, {"n": 0, "mx": None})
            self._queue_len += int(qn["n"]) - n_selected
            if qn["mx"] is not None:
                self._max_pos = max(self._max_pos, int(qn["mx"]))

        if n_selected == 0:
            # nothing to fetch: commit the scores, the queue delta and the
            # consumed discovered nodes only
            staged, appended, counts = {"scores": scores}, {}, (0, 0)
            merges = {"discovered": MergeDelta(
                self.spark.createDataFrame([], SCHEMAS["discovered"]),
                ["node_id"], dels=consumed)}
        else:
            # ---- fetch + extract (operators/fetch.py) ----------------------
            fetched, errors, btns, media_new, fetched_n = \
                self._fetch(selected, cache, now, n_selected)
            _mark("fetch")

            # ---- commit -----------------------------------------------------
            staged, appended, merges, counts = self._commit_plan(
                r, now, selected, n_selected, fetched, fetched_n, errors,
                btns, pages, seen, consumed, scores)
            media = self.table("media")
            appended["media"] = media_new.join(
                media.select("media_ref"), "media_ref", "left_anti")
            _mark("plan")
        merges["queue"] = queue_delta

        def _late():
            _apply_queue_obs()
            dur = int((time.monotonic() - t0) * 1000)
            return {"metrics": self.spark.createDataFrame(
                [(r, n_selected, counts[0], counts[1], self._queue_len,
                  self._seen_count, dur)], SCHEMAS["metrics"])}

        self.store.commit(r, staged, appended, stats=self._stats,
                          late_append=_late, merge=merges)
        _mark("write")
        for k, v in self.store.last_timing.items():
            tm[f"write.{k}"] = v
        self._finish_round({**staged,
                            **{k: m.rows for k, m in merges.items()}})
        self.last_timing = tm
        return {"round": r, "admitted": n_selected, "fetched": counts[0],
                "failed": counts[1], "timing": tm}

    # ------------------------------------------------------------------
    def _finish_round(self, staged: dict[str, DataFrame]) -> None:
        if os.environ.get("X227F_PLAN_GUARD") == "1":
            self.last_plan_len = max(
                (len(df._jdf.queryExecution().toString())
                 for df in staged.values()), default=0)
        self._drop_round_persists()
        # periodic JVM GC: the ContextCleaner only reclaims shuffle files /
        # freed block metadata after a collection, and a long-lived driver
        # under steady allocation may not GC for many rounds — scratch-dir
        # growth then bleeds into round latency (observed: reps degrading
        # 160→225 s before this). One forced GC every few rounds bounds it.
        # In big-round regimes the every-N cadence is too coarse: one GC
        # then releases N rounds of shuffle/broadcast litter in a single
        # batch, and the asynchronous ContextCleaner competes with the
        # *next* round's jobs for cores (observed as a 60-80 s spike
        # spread nonspecifically across that round's stages in the r4
        # scaling legs). A round that admitted >= GC_BIG_ROUND_URLS
        # therefore collects every round — litter stays small and the
        # cleanup cost is spread evenly — while small-round runs keep the
        # cheap periodic cadence.
        if (self.store.round % self.GC_EVERY_ROUNDS == 0
                or self._last_round_big):
            try:
                self.spark.sparkContext._jvm.System.gc()
            except Exception:
                pass
        if self.store.round % self.RECONCILE_EVERY == 0:
            self._reconcile_queue_stats()

    # every this-many rounds, re-derive queue_len from the committed queue
    # table — bounds any drift the incremental Observation-fed accounting
    # could accumulate (e.g. an observed write retried after a transient
    # failure keeps the first execution's metrics). One O(queue) agg job
    # per cadence, amortized noise.
    RECONCILE_EVERY = 16

    def _reconcile_queue_stats(self) -> None:
        """Reconcile ONLY the queue length. ``_max_pos``'s contract is
        "max position ever assigned" (consumed rows keep their positions
        retired forever, preserving uniqueness over crawl history), while
        max(queue_pos) of the *committed* queue is merely "max position
        still waiting" — whenever the highest-position row has been
        scheduled (host-budget selection is not a strict prefix; a fully
        drained queue gives no rows at all) the committed max is LOWER
        than the true high-water mark, and adopting it would reuse
        queue_pos values of already-consumed rows. max() keeps the
        monotone contract; the committed value can still repair an
        UNDER-counting _max_pos (e.g. a lost Observation on a crash)."""
        qrow = self.table("queue").agg(
            F.count("*").alias("n"), F.max("queue_pos").alias("mx")).first()
        n = int(qrow["n"])
        mx = int(qrow["mx"]) if qrow["mx"] is not None else -1
        if n != self._queue_len:
            _log.warning(
                "queue length drifted: incremental %d vs committed %d — "
                "correcting", self._queue_len, n)
            self._queue_len = n
        self._max_pos = max(self._max_pos, mx)

    def _drop_round_persists(self) -> None:
        # free localCheckpoint blocks now too — the state parquet is the
        # durable copy; waiting for the ContextCleaner's GC-triggered
        # cleanup grows block-manager memory unboundedly over a long crawl
        for df in self._round_persists + self._round_cuts:
            unpersist(df)
        self._round_persists = []
        self._round_cuts = []

    def _stats(self) -> dict:
        return {"seen_count": self._seen_count,
                "edges_nonempty": self._edges_maybe_nonempty,
                "queue_len": self._queue_len,
                "max_pos": self._max_pos}

    # ------------------------------------------------------------------
    def _fetch(self, selected: DataFrame, cache: DataFrame, now,
               n_selected: int):
        """Fetch+extract the selected URLs. Returns (fetched_pages DF,
        error rows DF, kept-buttons DF)."""
        cfg = self.cfg
        def _corp(i):
            # the corpus columns suffixed with the fetch hop (1 or 2)
            return self.corpus.select(*[F.col(c).alias(f"{a}{i}") for c, a in (
                ("url", "c_url"), ("status", "status"),
                ("content_type", "ct"), ("redirect_to", "rt"),
                ("body_len", "bl"), ("spans", "spans"))])

        def _hop(i):
            # one hop's columns under their unsuffixed names
            return [F.col(f"c_url{i}").isNotNull().alias("found"),
                    *[F.col(f"{a}{i}").alias(a)
                      for a in ("status", "ct", "rt", "bl", "spans")]]

        corp1, corp2 = _corp(1), _corp(2)

        f1 = self._persist(
            selected.join(corp1, selected["url"] == corp1["c_url1"], "left")
            .withColumn("p6", fetch_ops.p6_target_udf(
                F.col("url"), F.col("status1"), F.col("rt1"))))
        # P6 retry join, null-skew safe: `p6` is null for almost every row
        # (only same-PageId 3xx pages retry), and a plain left join would
        # hash-shuffle ALL null-key rows — with their full span payloads —
        # into one partition (a single-task straggler that caps scaling).
        # Rows without a retry target bypass the join entirely.
        base_cols = [
            "queue_pos", "url", "page_id", "host", "crawl_pos",
            F.coalesce("p6", "url").alias("res_url"),
        ]
        no_p6 = f1.where(F.col("p6").isNull()).select(*base_cols, *_hop(1))
        with_p6 = (f1.where(F.col("p6").isNotNull())
                   .join(corp2, F.col("p6") == corp2["c_url2"], "left")
                   .select(*base_cols, *_hop(2)))
        f2 = no_p6.unionByName(with_p6)
        f2 = f2.withColumn(
            "redirect_target",
            fetch_ops.redirect_target_udf(F.col("res_url"), F.col("status"),
                                          F.col("rt")))
        ct_eff = F.coalesce("ct", F.lit("text/html"))
        is_html_ct = (ct_eff.startswith("text/html")
                      | ct_eff.startswith("application/xhtml"))
        ok_status = (F.col("status") >= 200) & (F.col("status") < 300)
        subkind = (
            F.when(~F.col("found"), F.lit("error"))
            .when(F.col("redirect_target").isNotNull(), F.lit("redirect"))
            .when(~ok_status, F.lit("empty"))
            .when(~is_html_ct, F.lit("error"))
            .when(F.col("bl") > 10 * 1024 * 1024, F.lit("empty"))
            .otherwise(F.lit("html"))
        )
        f2 = self._persist(f2.withColumn("subkind", subkind))

        errors = f2.where(F.col("subkind") == "error")
        page_rows = f2.where(F.col("subkind") != "error")

        # extraction over salted host partitions (skew: SURVEY §4 item 2);
        # partition count follows the session so the stage stays
        # over-decomposed at any cluster size, but is CAPPED by the batch
        # size: a pandas-UDF task under ~200 rows pays more in Arrow/worker
        # round-trip than it computes (guide §4.2 batch sizing), and at the
        # 1M design point n_selected/200 >> n_part so the cap never binds.
        n_part = int(self.spark.conf.get("spark.sql.shuffle.partitions"))
        n_ext = max(1, min(n_part, -(-n_selected // 200)))
        html = page_rows.where(F.col("subkind") == "html")
        html = html.repartition(
            n_ext, F.col("host"), F.pmod(F.xxhash64("url"), F.lit(8)))
        ext = html.withColumn(
            "ext", self._extract_udf(F.col("spans"), F.col("res_url"))
        ).select("crawl_pos",
                 F.col("ext.candidates").alias("candidates"),
                 F.col("ext.internal_links").alias("internal_links"))
        ext = self._persist(ext)

        # ---- image pipeline ------------------------------------------------
        cand = ext.select(
            "crawl_pos", F.explode("candidates").alias("c")
        ).select("crawl_pos", F.col("c.ord").alias("ord"),
                 F.col("c.src").alias("src"),
                 F.col("c.image_url").alias("image_url"),
                 F.col("c.alt").alias("alt"), F.col("c.title").alias("title"),
                 F.col("c.href").alias("href"))
        cand = cand.join(
            F.broadcast(cache.select(F.col("url").alias("image_url"),
                                     F.col("hash").alias("c_hash"),
                                     F.col("file_ext").alias("c_ext"),
                                     F.col("last_visited").alias("c_last"))),
            "image_url", "left")
        ttl_sec = cfg.button_ttl_hours * 3600
        cand = cand.withColumn(
            "cache_fresh",
            F.col("c_last").isNotNull()
            & (F.col("c_last").cast("long") + ttl_sec
               > F.lit(int(now.timestamp()))))
        cand = cand.withColumn("requesting",
                               fetch_ops.bypass_url_udf(F.col("image_url")))
        cand = cand.withColumn("was_transformed",
                               F.col("requesting") != F.col("image_url"))
        res = self.resolved_images
        cand = cand.join(res, cand["requesting"] == res["url"], "left") \
                   .drop(res["url"])
        cand = cand.withColumn("img_joined", F.col("f_status").isNotNull()
                               | F.col("f_found").isNotNull())
        v = fetch_ops.validate_image_udf(
            F.col("image_url"), F.col("img_joined"), F.col("f_found"),
            F.col("f_status"), F.col("f_content_type"), F.col("f_bytes"),
            F.col("f_declared_len"), F.col("f_final_url"),
            F.col("was_transformed"))
        cand = cand.withColumn("v", v).select(
            "crawl_pos", "ord", "image_url", "requesting", "href", "alt",
            "title", "cache_fresh", "c_hash", "c_ext", "c_last",
            F.col("v.disposition").alias("disposition"),
            F.col("v.hash").alias("hash"),
            F.col("v.file_ext").alias("file_ext"),
            F.col("v.source").alias("source"),
            F.lit(now).alias("now"))
        # cut, not persist: cand's plan is the whole candidate/validation
        # case-when tree and btns feeds button_cache, media and the page
        # re-assembly — uncut they re-embed that tree at every reference
        t_cand = time.monotonic()
        cand = self._cut(cand)
        self._sub("fetch.cand", t_cand)
        t_btns = time.monotonic()
        btns = self._cut(fetch_ops.budget_pass(
            cand.drop("requesting"), n_ext))
        self._sub("fetch.btns", t_btns)
        # S8 — content-addressed media sink. Candidate rows carry no image
        # bytes (millions of rows repeat a few thousand distinct buttons, so
        # per-row bytes are near-pure duplicate Arrow/shuffle traffic);
        # bytes are re-read once per DISTINCT kept hash — URL-sourced from
        # the resolved-images table (a broadcast inner join of the tiny
        # kept set), data: URIs re-decoded inline. Write-iff-absent happens
        # at commit via the media anti-join.
        kept_fresh = (btns.select("crawl_pos", "ord", "hash", "file_ext")
                      .join(cand.where((F.col("disposition") == "valid")
                                       & ~F.col("cache_fresh"))
                            .select("crawl_pos", "ord", "image_url",
                                    "requesting"),
                            ["crawl_pos", "ord"])
                      .dropDuplicates(["hash"]))
        is_data = F.col("image_url").startswith("data:")
        res_bytes = self.resolved_images.select(
            F.col("url").alias("requesting"), F.col("f_bytes").alias("bytes"))
        from_url = (F.broadcast(kept_fresh.where(~is_data))
                    .join(res_bytes, "requesting"))
        from_data = kept_fresh.where(is_data).withColumn(
            "bytes", fetch_ops.data_uri_bytes_udf(F.col("image_url")))
        media_new = (from_url.unionByName(from_data)
                     .where(F.col("bytes").isNotNull())
                     .select(F.col("hash").alias("media_ref"), "bytes",
                             "file_ext", F.lit(88).alias("width"),
                             F.lit(31).alias("height")))

        buttons_by_page = btns.groupBy("crawl_pos").agg(
            F.sort_array(F.collect_list(F.struct(
                "ord", "source", "hash", "file_ext", "target",
                "last_visited", "alt", "title"))).alias("buttons"))

        fetched = (
            page_rows
            .join(ext.select("crawl_pos", "internal_links"), "crawl_pos", "left")
            .join(buttons_by_page, "crawl_pos", "left")
            .select(
                "crawl_pos", "page_id", "host", "res_url",
                F.when(F.col("subkind") == "redirect", F.col("redirect_target"))
                 .alias("redirects_to"),
                F.coalesce("internal_links",
                           F.array().cast("array<string>")).alias("internal_links"),
                F.coalesce("buttons", F.array().cast(
                    "array<struct<ord:int,source:string,hash:string,"
                    "file_ext:string,target:string,last_visited:timestamp,"
                    "alt:string,title:string>>")).alias("buttons"),
            )
        )
        # lineage cut: `fetched` is re-referenced by the pages delta arms,
        # the three link classes, fetched_src_ids and the trace — a cached
        # but uncut plan re-embeds the whole fetch/extract subtree at every
        # reference (the round-1 120 MB plan strings). _cut unpersists the
        # blocks at round end. A spurious fetched_n of 0 would leave
        # _edges_maybe_nonempty False and stall the next round's ranking.
        t_pages = time.monotonic()
        fetched, fetched_n = self._cut_count(fetched)
        self._sub("fetch.pages", t_pages)
        # errors is a cheap filter over the persisted f2 — no extra cache
        return fetched, errors, btns, media_new, fetched_n

    # ------------------------------------------------------------------
    def _commit_plan(self, r, now, selected, n_selected, fetched, fetched_n,
                     errors, btns, pages, seen, consumed, scores):
        """Stage the round's state changes as O(batch) merge deltas (plus
        the wholesale ``scores`` cow write and the monotone appends). The
        reference mutates these maps in place under a mutex
        (data.rs:298-326); the snapshot-store equivalent is one upsert/
        tombstone delta per table — NOT a full-table anti-join+union
        rebuild, which would make every round O(total state) written."""
        cfg = self.cfg
        merges: dict[str, MergeDelta] = {}

        # ---- button cache upsert (data.rs:302-315) -------------------------
        new_cache = (
            btns.where(F.col("source").isNotNull())
            .groupBy(F.col("source").alias("url"))
            .agg(F.max(F.struct("last_visited", "hash", "file_ext")).alias("s"))
            .select("url", F.col("s.hash").alias("hash"),
                    F.col("s.file_ext").alias("file_ext"),
                    F.col("s.last_visited").alias("last_visited"))
        )
        merges["button_cache"] = MergeDelta(new_cache, ["url"])

        # ---- pages merge (data.rs:298-326 + main.rs:271-287) ----------------
        # one union of the round's fetched and failed rows, left-joined once
        # to `pages`: a fetched page takes its new row; a failed page keeps
        # its old url/links/buttons and counts one more failure, or gets an
        # empty stub row when it is new. Untouched pages are never
        # rewritten.
        batch = fetched.select(
            "page_id", F.col("res_url").alias("url"), "redirects_to",
            "internal_links", "buttons", F.lit(True).alias("ok")
        ).unionByName(errors.select(
            "page_id", "url", F.lit(None).cast("string").alias("redirects_to"),
            F.array().cast("array<string>").alias("internal_links"),
            F.array().cast(
                "array<struct<ord:int,source:string,hash:string,"
                "file_ext:string,target:string,last_visited:timestamp,"
                "alt:string,title:string>>").alias("buttons"),
            F.lit(False).alias("ok")))
        old = pages.select("page_id", F.lit(True).alias("hit"), *[
            F.col(c).alias(f"old_{c}") for c in (
                "url", "failed", "redirects_to", "internal_links", "buttons")])
        hit = F.col("hit").isNotNull()

        def own_or_old(c):
            return F.when(F.col("ok") | ~hit, F.col(c)) \
                    .otherwise(F.col(f"old_{c}")).alias(c)

        touched = batch.select("page_id")
        merges["pages"] = MergeDelta(
            batch.join(old, "page_id", "left").select(
                "page_id", own_or_old("url"), F.lit(now).alias("last_visited"),
                F.when(F.col("ok"), 0).when(hit, F.col("old_failed") + 1)
                .otherwise(1).alias("failed"),
                # QUIRK: redirects_to not updated for existing pages
                # (data.rs:317-322)
                F.when(hit, F.col("old_redirects_to"))
                .otherwise(F.col("redirects_to")).alias("redirects_to"),
                own_or_old("internal_links"), own_or_old("buttons")),
            ["page_id"])

        # ---- E4: link derivation (data.rs:354-416) --------------------------
        src_host = url_host(F.col("res_url"))
        followable = fetched.where(~self._no_follow_col(src_host))
        pid_host = F.split(F.col("page_id"), "/", 2).getItem(0)
        pid_path = F.when(F.col("page_id").contains("/"),
                          F.split(F.col("page_id"), "/", 2).getItem(1)) \
                    .otherwise(F.lit(""))
        w_int = (F.when(pid_host == "capstasher.neocities.org", F.lit(1.0))
                 .when((pid_host == "hellnet.work") & (pid_path == "8831/"),
                       F.lit(1.0))  # unreachable reference arm, kept verbatim
                 .otherwise(F.lit(0.02)))
        internal_links = followable.select(
            "page_id", "crawl_pos", F.lit(0).alias("link_class"),
            F.posexplode("internal_links").alias("link_ord", "target"),
            w_int.alias("weight"))
        button_links = followable.select(
            "page_id", "crawl_pos", F.lit(1).alias("link_class"),
            F.explode("buttons").alias("b")
        ).where(F.col("b.target").isNotNull()).select(
            "page_id", "crawl_pos", "link_class",
            F.col("b.ord").cast("int").alias("link_ord"),
            F.col("b.target").alias("target"), F.lit(1.0).alias("weight"))
        redirect_links = followable.where(
            F.col("redirects_to").isNotNull()
            & (F.col("redirects_to").startswith("http://")
               | F.col("redirects_to").startswith("https://"))
        ).select("page_id", "crawl_pos", F.lit(2).alias("link_class"),
                 F.lit(0).alias("link_ord"),
                 F.col("redirects_to").alias("target"),
                 F.lit(0.1).alias("weight"))
        # persist, not cut: links feeds node-id assignment, the edge rebuild
        # and the discovered upsert, but its whole subtree hangs off the
        # already-cut `fetched` LogicalRDD, so re-references embed only the
        # small derivation plan — while an eager localCheckpoint here would
        # cost a dedicated materialization pass over the round's largest
        # intermediate (24M rows/round at the 1M-URL design point). The
        # node-id count job below materializes the cache as a side effect,
        # so the cache is warm before the commit pool references it.
        links = self._persist(
            internal_links.unionByName(button_links)
            .unionByName(redirect_links)
            .withColumn("target_pid", page_id_udf(F.col("target"))))

        # ---- node-id assignment: deterministic insertion order --------------
        # Bloom pre-prune only pays off once the seen set outgrows a
        # broadcast; below the threshold the plain anti-join is cheaper.
        # The filter is maintained INCREMENTALLY (bloom.IncrementalBloom):
        # each round folds in only the keys first seen since the last
        # update — O(batch), zero jobs when the seen set didn't grow —
        # instead of the O(state) full-scan rebuild the pre-r5 engine paid
        # every round. Shard count follows the capacity (S=1 under the
        # 256 MB broadcast cap, S≈47 at the 10^10-key design point); the
        # sharded path engages automatically when a capacity doubling
        # crosses the threshold mid-crawl.
        t_bloom = time.monotonic()
        bloom = self._ibloom.update(seen, "page_id", self._seen_count,
                                    self.store.round)
        self._sub("plan.bloom", t_bloom)
        targets = links.select(F.col("target_pid").alias("page_id"),
                               "crawl_pos", "link_class", "link_ord")
        new_pids = anti_join_new(targets, "page_id", seen, "page_id", bloom)
        w_first = W.partitionBy("page_id").orderBy(
            "crawl_pos", "link_class", "link_ord")
        # node ids are dense 0..N-1 (insertion order), so max = count-1
        max_id = self._seen_count - 1
        seen_first = (new_pids.withColumn("rn", F.row_number().over(w_first))
                      .where(F.col("rn") == 1))
        t_nodeid = time.monotonic()
        # the offsets plan + the counted cut: node-id assignment costs
        # exactly ONE action (the cut) instead of the r6 blocking
        # bucket-count job followed by a separate checkpoint job. The r6
        # n_new==0 fast path skipped the cut; the single action on an empty
        # relation costs about what the old count job did, and growth
        # rounds save a whole job submission.
        ranked_new = global_row_number(
            seen_first, ["crawl_pos", "link_class", "link_ord"],
            "assign_rn", persist=self._persist)
        seen_new, n_new = self._cut_count(
            ranked_new
            .withColumn("node_id", F.lit(max_id) + F.col("assign_rn"))
            .select("page_id", "node_id",
                    F.lit(r).alias("first_seen_round")))
        self._sub("plan.nodeid", t_nodeid)
        if n_new == 0:
            # recrawl-heavy steady state: no new pages most rounds — skip
            # the empty seen delta entirely
            seen_new = self.spark.createDataFrame([], SCHEMAS["seen"])
            seen_all = seen
        else:
            # deliberately NOT persisted: seen_all is referenced only by the
            # commit-pool write jobs (edges + discovered deltas), and a lazy
            # shared cache materialized by two concurrent writes is exactly
            # the AQE poisoned-cache race the pool must avoid. The re-read
            # is a parquet scan + union with an in-memory LogicalRDD —
            # cheaper than a cache write of the crawl's largest table.
            seen_all = seen.unionByName(seen_new)
        self._seen_count += n_new

        # ---- edges: replace-on-recrawl (canonical rebuild semantics) --------
        id_map = seen_all.select(F.col("page_id").alias("_pid"),
                                 F.col("node_id").alias("_nid"))
        links_ids = (
            links.join(id_map.withColumnRenamed("_pid", "page_id")
                       .withColumnRenamed("_nid", "src"), "page_id")
            .join(id_map.withColumnRenamed("_pid", "target_pid")
                  .withColumnRenamed("_nid", "dst"), "target_pid")
        )
        fetched_src_ids = fetched.join(id_map.withColumnRenamed("_pid", "page_id"),
                                       "page_id").select(
            F.col("_nid").alias("src"))
        # edges merge delta: replace-on-recrawl = tombstone every fetched
        # page's src group, upsert this round's derived links (links' srcs
        # are a subset of fetched_src_ids, so the tombstone set covers both
        # "page now has different links" and "page now has none")
        merges["edges"] = MergeDelta(
            links_ids.select("src", "dst", "weight"), ["src"],
            dels=fetched_src_ids)

        # ---- discovered upsert (end-of-round pages view) ---------------------
        # end-of-round page ids = previous pages ∪ every touched id (all
        # touched ids end up in pages: update/insert/stub), cheaper than
        # re-reading the merged pages view. Two chained anti-joins, NOT a
        # union+distinct: anti(A ∪ B) ≡ anti(A) then anti(B), an anti-join
        # needs no deduplicated right side, and the old distinct() was a
        # full O(pages) shuffle every round; `touched` is batch-sized so
        # its anti-join broadcasts.
        disc_cand = (links_ids
                     .join(pages.select(
                               F.col("page_id").alias("target_pid")),
                           "target_pid", "left_anti")
                     .join(F.broadcast(touched.select(
                               F.col("page_id").alias("target_pid"))),
                           "target_pid", "left_anti"))
        w_last = W.partitionBy("dst").orderBy(
            F.desc("crawl_pos"), F.desc("link_class"), F.desc("link_ord"))
        disc_new = (disc_cand.withColumn("rn", F.row_number().over(w_last))
                    .where(F.col("rn") == 1)
                    .select(F.col("dst").alias("node_id"),
                            F.col("target").alias("url")))
        # discovered merge delta: tombstone the consumed (scheduled) nodes,
        # upsert this round's last-writer-wins discoveries. A node both
        # consumed and re-discovered keeps the new row (upserts win over
        # tombstones in the same delta — replace-key-group semantics).
        merges["discovered"] = MergeDelta(disc_new, ["node_id"],
                                          dels=consumed)

        # ---- trace (golden-trace shape, FIXTURES.md §5) ----------------------
        admitted_tr = selected.select(
            F.lit(r).alias("round"), F.col("crawl_pos").alias("seq"),
            "page_id", "host", F.lit("admitted").alias("action"))
        fetched_tr = fetched.select(
            F.lit(r).alias("round"),
            (F.col("crawl_pos") + n_selected).alias("seq"),
            "page_id", "host", F.lit("fetched").alias("action"))
        failed_tr = errors.select(
            F.lit(r).alias("round"),
            (F.col("crawl_pos") + n_selected).alias("seq"),
            "page_id", "host", F.lit("failed").alias("action"))
        trace_new = admitted_tr.unionByName(fetched_tr).unionByName(failed_tr)

        failed_n = n_selected - fetched_n  # every selected row is page|error
        if fetched_n > 0:
            self._edges_maybe_nonempty = True

        staged = {"scores": scores}
        appended = {"trace": trace_new}
        if n_new > 0:
            appended["seen"] = seen_new  # no empty delta dirs
        return staged, appended, merges, (fetched_n, failed_n)

    # ------------------------------------------------------------------
    def run(self, rounds: int) -> list[dict]:
        return [self.run_round() for _ in range(rounds)]

    # -- parity exports -------------------------------------------------
    def seen_set(self) -> dict[str, int]:
        return {row["page_id"]: row["node_id"]
                for row in self.table("seen").collect()}

    def trace_events(self) -> list[tuple]:
        rows = self.table("trace").orderBy("round", "seq").collect()
        return [(x["round"], x["seq"], x["page_id"], x["host"], x["action"])
                for x in rows]

    def page_spans(self) -> dict[str, list[tuple]]:
        """Output span sequences per page — the per-row invariant."""
        out = {}
        for row in self.table("pages").collect():
            spans = []
            for i, b in enumerate(row["buttons"] or []):
                spans.append(("button", b["target"], b["hash"], i))
            off = len(spans)
            for j, l in enumerate(row["internal_links"] or []):
                spans.append(("anchor", l, None, off + j))
            if row["redirects_to"] is not None:
                spans.append(("redirect", row["redirects_to"], None, len(spans)))
            out[row["page_id"]] = spans
        return out
