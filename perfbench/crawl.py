"""``crawl_trickle``: a closed-loop crawl from a fresh engine whose rounds
are almost all fixed cost.

The corpus is bench.py's shape (400 hosts x 8 pages, 200 buttons, 100
host roots linked from the seed) generated from ``--seed``; the engine runs
with ``fetch_cap=100`` and every other setting at its default. Rounds run
one at a time from round 1, which admits only the seed page; every later
round admits exactly 100 URLs. At this size a round costs ~15-22 s on 4
cores, so a 10-second run times round 1 alone: the per-round floor at ~0
admitted URLs, paid with a cold engine.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import time

from attribution import (MB, assign_jobs, medians, round_metrics,
                         table_out_mb, window_stats)

SHAPE = dict(n_hosts=400, pages_per_host=8, n_buttons=200, edge_cases=False,
             seed_button_fanout=100, buttons_per_page=(6, 12),
             filler_text_spans=6)
FETCH_CAP = 100

STAGES = ("rank", "sched", "fetch", "plan", "write")
SUBSTAGES = ("rank.plan_invariants", "rank.iters", "sched.rank", "sched.cut",
             "fetch.cand", "fetch.btns", "fetch.pages", "plan.nodeid",
             "write.staged", "write.late", "write.folds")
WRITE_PHASES = ("write.staged", "write.late", "write.folds")
TABLES = ("pages", "seen", "edges", "scores", "discovered", "queue",
          "button_cache", "media", "trace", "metrics")
STAGE_SPARK = ("jobs", "tasks", "busy_s", "idle_s")

LAYER_METRICS = (
    [f"{s}_s" for s in STAGES] + [f"{s}_s" for s in SUBSTAGES]
    + [f"{s}.{k}" for s in STAGES for k in STAGE_SPARK]
    + ["fetch.shuffle_mb", "fetch.yield", "store.written_mb",
       "store.write_amp", "store.folds", "store.max_stack", "store.state_mb"]
    + [f"store.{t}.written_mb" for t in TABLES])


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _dirs, files in os.walk(path) for f in files)


def cached_corpus(cache: str, seed: int) -> tuple[str, str]:
    """The corpus parquet for ``seed``, generated once per checkout."""
    from x227f_spark.sources.corpus import generate, write_parquet

    out = os.path.join(cache, "corpus", f"trickle-h400-s{seed}")
    if not os.path.exists(os.path.join(out, "_SEED_URL")):
        tmp = out + f".tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        corpus = generate(seed=seed, **SHAPE)
        write_parquet(corpus, tmp)
        with open(os.path.join(tmp, "_SEED_URL"), "w") as f:
            f.write(corpus.seed_url)
        shutil.rmtree(out, ignore_errors=True)
        os.replace(tmp, out)
    with open(os.path.join(out, "_SEED_URL")) as f:
        return out, f.read().strip()


def _release(engine) -> None:
    """Drop the caches a discarded engine holds (its corpus persist and the
    localCheckpoint of resolved images)."""
    engine.corpus.unpersist(blocking=False)
    plan = engine.resolved_images._jdf.queryExecution().analyzed()
    if plan.getClass().getSimpleName() == "LogicalRDD":
        plan.rdd().unpersist(False)


def _windows(rec: dict) -> dict[str, tuple[float, float]]:
    """Coarse stage windows of one round, laid end to end from the round's
    start; ``other`` is what follows the last stage mark."""
    out, t = {}, rec["start"]
    for s in STAGES:
        d = rec["timing"].get(s, 0.0)
        out[s] = (t, t + d)
        t += d
    out["other"] = (t, max(t, rec["end"]))
    return out


def _checkpoint_stats(state_dir: str, rnd: int) -> dict:
    """Folds fired in round ``rnd`` and the deepest merge-delta stack after
    it, from the committed checkpoint files."""
    def load(r):
        try:
            with open(os.path.join(state_dir, "checkpoints",
                                   f"r{r:06d}.json")) as f:
                return json.load(f)
        except FileNotFoundError:
            return {"merge": {}, "append": {}}
    prev, cur = load(rnd - 1), load(rnd)
    folds = sum(1 for t, ent in cur["merge"].items()
                if ent.get("base") is not None
                and ent["base"] != prev["merge"].get(t, {}).get("base"))
    folds += sum(1 for t, vs in cur["append"].items()
                 if vs[:len(prev["append"].get(t, []))]
                 != prev["append"].get(t, []))
    stack = max((len(ent["deltas"]) for ent in cur["merge"].values()),
                default=0)
    return {"store.folds": folds, "store.max_stack": stack}


class CrawlTrickle:
    name = "crawl_trickle"
    layer_metrics = LAYER_METRICS

    def __init__(self, ctx):
        self.ctx = ctx
        self.engine = None
        self.state_dir = None
        self.setups = 0
        self.ops: list[dict] = []  # completed rounds
        self.attempted = 0
        self.failed_rounds: set[int] = set()

    def prepare(self) -> None:
        self.corpus_dir, self.seed_url = cached_corpus(self.ctx.cache,
                                                       self.ctx.seed)

    def _config(self):
        from x227f_spark.constants import EngineConfig
        return EngineConfig(starting_point=self.seed_url, fetch_cap=FETCH_CAP)

    def setup(self, spark) -> None:
        """Build an engine on fresh state, replacing the last one built."""
        from x227f_spark.plans.rounds import CrawlEngine

        if self.engine is not None:
            _release(self.engine)
        self.setups += 1
        self.state_dir = os.path.join(self.ctx.scratch, f"state{self.setups}")
        self.engine = CrawlEngine(spark, self.corpus_dir, self.state_dir,
                                  config=self._config())

    def _round(self) -> bool:
        self.attempted += 1
        t0 = time.time()
        try:
            m = self.engine.run_round()
        except Exception as e:  # a failed round ends the run, reported
            self.ctx.log(f"round {self.attempted} raised: {e!r}")
            self.failed_rounds.add(self.attempted)
            return False
        t1 = time.time()
        rec = {"round": m["round"], "admitted": m["admitted"],
               "fetched": m["fetched"], "failed": m["failed"],
               "start": t0, "end": t1, "wall_s": t1 - t0,
               "timing": dict(m["timing"])}
        self.ops.append(rec)
        rid = self.ctx.span(f"round {rec['round']}", t0, t1,
                            admitted=rec["admitted"])
        for s, (lo, hi) in _windows(rec).items():
            self.ctx.span(s, lo, hi, parent=rid)
        return True

    def measure(self, spark) -> None:
        """Rounds until ``--seconds`` have gone by, at least one."""
        t0 = time.monotonic()
        while self._round() and time.monotonic() - t0 < self.ctx.seconds:
            pass

    def check(self) -> None:
        """Compare the crawl with the golden model over the same rounds:
        per-round trace events, then the final seen set and page spans."""
        from x227f_spark.model import GoldenModel
        from x227f_spark.sources.corpus import generate

        n = len(self.ops)
        if n == 0:
            return
        golden = GoldenModel(generate(seed=self.ctx.seed, **SHAPE),
                             self._config())
        golden.run(n)
        want: dict[int, list] = {}
        for t in golden.trace:
            want.setdefault(t.round, []).append(
                (t.round, t.seq, t.page_id, t.host, t.action))
        got: dict[int, list] = {}
        for ev in self.engine.trace_events():
            got.setdefault(ev[0], []).append(ev)
        bad = {r for r in range(1, n + 1) if got.get(r) != want.get(r)}
        if not bad and (self.engine.seen_set() != golden.seen_set()
                        or self.engine.page_spans() != golden.page_spans()):
            bad.add(n)
        for r in sorted(bad):
            self.ctx.log(f"round {r} differs from the golden model")
        self.failed_rounds |= bad

    def outcome(self) -> tuple[int, int]:
        """(operations attempted, operations failed)."""
        return self.attempted, len(self.failed_rounds)

    def end_to_end(self) -> dict[str, float]:
        wall = sum(r["wall_s"] for r in self.ops)
        return {"round_p50_s": statistics.median(r["wall_s"] for r in self.ops),
                "work_per_s": sum(r["fetched"] + r["failed"]
                                  for r in self.ops) / wall}

    def layers(self, tl) -> dict[str, float]:
        rows = []
        for rec in self.ops:
            tm = rec["timing"]
            win = _windows(rec)
            per = assign_jobs(tl.jobs.values(), win)
            row = {f"{k}_s": tm.get(k, 0.0) for k in STAGES + SUBSTAGES}
            for s in STAGES:
                st = window_stats(tl, *win[s], per[s], self.ctx.cores)
                row.update({f"{s}.{k}": st[k] for k in STAGE_SPARK})
                if s == "fetch":
                    row["fetch.shuffle_mb"] = st["shuffle_mb"]
            row["fetch.yield"] = rec["fetched"] / rec["admitted"] \
                if rec["admitted"] else 0.0
            round_jobs = [j for ids in per.values() for j in ids]
            st = window_stats(tl, rec["start"], rec["end"], round_jobs,
                              self.ctx.cores)
            row.update(round_metrics(st, win["other"][1] - win["other"][0]))
            # staged + late writes are the round's deltas; folds rewrite
            # what was already stored
            t, phases = win["write"][0], {}
            for p in WRITE_PHASES:
                phases[p] = (t, t + tm.get(p, 0.0))
                t += tm.get(p, 0.0)
            wjobs = assign_jobs((tl.jobs[j] for j in per["write"]), phases)
            delta_mb = sum(sum(table_out_mb(tl, wjobs[p]).values())
                           for p in ("write.staged", "write.late"))
            row["store.written_mb"] = st["out_mb"]
            row["store.write_amp"] = st["out_mb"] / delta_mb if delta_mb \
                else 0.0
            by_table = table_out_mb(tl, round_jobs)
            row.update({f"store.{t}.written_mb": by_table.get(t, 0.0)
                        for t in TABLES})
            row.update(_checkpoint_stats(self.state_dir, rec["round"]))
            rows.append(row)
        return {**medians(rows),
                "store.state_mb": _dir_bytes(self.state_dir) / MB}
