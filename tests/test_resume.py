"""P5 — checkpoint/resume and partition-count invariance.

- resume: kill after round k (drop the engine object), build a fresh engine
  on the same state dir, finish the crawl → identical final state vs an
  uninterrupted run.
- kill matrix: kill round 1 mid-commit (after the staged writes, during the
  folds, at the publish, before the cleanup) → the reopened store holds
  exactly the version dirs its live checkpoint references, and the finished
  crawl equals the uninterrupted one.
- invariance: the same crawl at different shuffle-partition counts produces
  byte-identical ordering/state (SURVEY.md §4 determinism discipline).
"""

import glob
import json
import os
from functools import partial

import pytest

from x227f_spark.constants import EngineConfig
from x227f_spark.plans.rounds import CrawlEngine

ROUNDS = 4


@pytest.fixture(scope="module")
def cfg(corpus):
    return EngineConfig(starting_point=corpus.seed_url, fetch_cap=50)


@pytest.fixture(scope="module")
def baseline(spark, corpus_dir, cfg, tmp_path_factory):
    eng = CrawlEngine(spark, corpus_dir, str(tmp_path_factory.mktemp("base")),
                      config=cfg)
    eng.run(ROUNDS)
    return eng


def test_resume_mid_crawl(spark, corpus_dir, cfg, tmp_path_factory, baseline):
    state = str(tmp_path_factory.mktemp("resume"))
    eng1 = CrawlEngine(spark, corpus_dir, state, config=cfg)
    eng1.run(2)
    del eng1  # "crash": all in-memory state dropped
    eng2 = CrawlEngine(spark, corpus_dir, state, config=cfg)
    assert eng2.store.round == 2  # resumed from the committed checkpoint
    eng2.run(ROUNDS - 2)
    assert eng2.trace_events() == baseline.trace_events()
    assert eng2.seen_set() == baseline.seen_set()
    assert eng2.page_spans() == baseline.page_spans()


class Kill(Exception):
    """Stands in for the process dying at a commit boundary."""


def _kill_after_staged(store):
    real = store._write_all

    def write_all(jobs, workers):
        real(jobs, workers)  # the round's first write call: staged tables
        raise Kill
    return "_write_all", write_all


# the merge tables round 1 folds: their first delta lands on an empty base
ROUND1_FOLDS = {"pages", "edges", "discovered", "button_cache"}


def _kill_mid_fold(store):
    real = store._write_all

    def write_all(jobs, workers):
        if not any(isinstance(df, partial) and df.func == store._view
                   for _n, _v, df in jobs):
            return real(jobs, workers)  # staged / late writes
        # fold jobs write the view of the table's committed versions
        assert {name for name, *_ in jobs} >= ROUND1_FOLDS
        real(jobs[:1], workers)
        raise Kill
    return "_write_all", write_all


def _kill_at(method):
    def fault(store):
        def die(*_args):
            raise Kill
        return method, die
    return fault


def _version_dirs(root):
    """(version dirs on disk, version dirs the live checkpoint references)
    as sets of (table, version)."""
    with open(sorted(glob.glob(os.path.join(root, "checkpoints",
                                            "r*.json")))[-1]) as f:
        ck = json.load(f)
    live = {(t, v) for t, v in ck["cow"].items()}
    live |= {(t, v) for t, vs in ck["append"].items() for v in vs}
    live |= {(t, v) for t, ent in ck["merge"].items()
             for v in ([ent["base"]] if ent["base"] is not None else [])
             + ent["deltas"]}
    tables = os.path.join(root, "tables")
    disk = {(t, int(d[1:])) for t in os.listdir(tables)
            for d in os.listdir(os.path.join(tables, t)) if d.startswith("v")}
    return disk, live


@pytest.mark.parametrize("fault, resumed_at", [
    (_kill_after_staged, 0), (_kill_mid_fold, 0),
    (_kill_at("_publish"), 0), (_kill_at("_collect"), 1),
], ids=["staged", "fold", "publish", "collect"])
def test_kill_mid_commit_resumes(spark, corpus_dir, cfg, tmp_path_factory,
                                 baseline, monkeypatch, fault, resumed_at):
    state = str(tmp_path_factory.mktemp("kill"))
    eng1 = CrawlEngine(spark, corpus_dir, state, config=cfg)
    eng1._bootstrap()
    monkeypatch.setattr(eng1.store, *fault(eng1.store))
    with pytest.raises(Kill):
        eng1.run_round()
    eng1._drop_round_persists()
    del eng1
    disk, live = _version_dirs(state)
    assert disk > live  # the kill left unreferenced version dirs behind
    eng2 = CrawlEngine(spark, corpus_dir, state, config=cfg)
    assert eng2.store.round == resumed_at
    disk, live = _version_dirs(state)
    assert disk == live
    eng2.run(ROUNDS - resumed_at)
    assert eng2.trace_events() == baseline.trace_events()
    assert eng2.seen_set() == baseline.seen_set()
    assert eng2.page_spans() == baseline.page_spans()


def test_torn_publish_leftover_ignored(spark, corpus_dir, cfg,
                                       tmp_path_factory):
    """A garbage ``.tmp`` checkpoint (a publish killed before its rename)
    is never read, and the round's next publish replaces it."""
    state = str(tmp_path_factory.mktemp("torn"))
    CrawlEngine(spark, corpus_dir, state, config=cfg)._bootstrap()
    tmp = os.path.join(state, "checkpoints", "r000001.json.tmp")
    with open(tmp, "w") as f:
        f.write('{"round": 1, "cow": {')
    eng = CrawlEngine(spark, corpus_dir, state, config=cfg)
    assert eng.store.round == 0
    eng.run_round()
    assert eng.store.round == 1 and not os.path.exists(tmp)


def test_partition_invariance(spark, corpus_dir, cfg, tmp_path_factory,
                              baseline):
    old = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "3")
        eng = CrawlEngine(spark, corpus_dir, str(tmp_path_factory.mktemp("p3")),
                          config=cfg)
        eng.run(ROUNDS)
        assert eng.trace_events() == baseline.trace_events()
        assert eng.seen_set() == baseline.seen_set()
        assert eng.page_spans() == baseline.page_spans()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


def test_reconcile_keeps_max_pos_monotone(spark, corpus_dir, cfg,
                                          tmp_path_factory):
    """_max_pos's contract is "max position ever assigned" — when the
    highest-position queue row has been consumed, the committed queue's
    max(queue_pos) is LOWER than the true high-water mark, and
    reconciliation must NOT regress to it (reused positions would break
    uniqueness over crawl history). queue_len, by contrast, is re-derived
    from the committed table."""
    eng = CrawlEngine(spark, corpus_dir,
                      str(tmp_path_factory.mktemp("rq")), config=cfg)
    eng.run_round()
    eng.run_round()
    hwm = eng._max_pos
    assert hwm >= 0
    # simulate drift: an over-counted queue_len gets corrected; a committed
    # max below the high-water mark does not drag _max_pos down
    eng._queue_len += 7
    eng._reconcile_queue_stats()
    qn = eng.table("queue").count()
    assert eng._queue_len == qn
    assert eng._max_pos == hwm
    # an UNDER-counted _max_pos (lost Observation) is repaired upward to
    # at least the committed maximum
    from pyspark.sql import functions as F
    row = eng.table("queue").agg(F.max("queue_pos").alias("mx")).first()
    committed_mx = row["mx"] if row["mx"] is not None else -1
    eng._max_pos = -1
    eng._reconcile_queue_stats()
    assert eng._max_pos == committed_mx
