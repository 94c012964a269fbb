"""Golden end-to-end parity: Spark engine vs the executable model.

The BASELINE.json correctness gate: same seed list + politeness budget →
exact-match crawl ordering, final URL-seen set, and per-document span
sequences (kind, text, media_ref, order).
"""

import pytest

from x227f_spark.constants import EngineConfig
from x227f_spark.model import GoldenModel
from x227f_spark.plans.rounds import CrawlEngine

ROUNDS = 5


@pytest.fixture(scope="module")
def cfg(corpus):
    return EngineConfig(starting_point=corpus.seed_url, fetch_cap=50)


@pytest.fixture(scope="module")
def golden(corpus, cfg):
    m = GoldenModel(corpus, cfg)
    m.run(ROUNDS)
    return m


@pytest.fixture(scope="module")
def engine(spark, corpus_dir, cfg, tmp_path_factory):
    eng = CrawlEngine(spark, corpus_dir, str(tmp_path_factory.mktemp("state")),
                      config=cfg)
    eng.run(ROUNDS)
    return eng


def test_crawl_ordering(golden, engine):
    model_trace = [(t.round, t.seq, t.page_id, t.host, t.action)
                   for t in golden.trace]
    assert engine.trace_events() == model_trace


def test_seen_set(golden, engine):
    assert engine.seen_set() == golden.seen_set()


def test_span_sequences(golden, engine):
    assert engine.page_spans() == golden.page_spans()


def test_pages_state(golden, engine):
    rows = {r["page_id"]: r for r in engine.table("pages").collect()}
    assert set(rows) == set(golden.pages)
    for pid, page in golden.pages.items():
        row = rows[pid]
        assert row["url"] == page.url, pid
        assert row["failed"] == page.failed, pid
        assert row["last_visited"].replace(tzinfo=None) == \
            page.last_visited.replace(tzinfo=None), pid
        assert (row["redirects_to"] == page.redirects_to), pid
        assert list(row["internal_links"] or []) == page.internal_links, pid
        got_buttons = [(b["source"], b["hash"], b["file_ext"], b["target"],
                        b["alt"], b["title"]) for b in (row["buttons"] or [])]
        want_buttons = [(b.source, b.hash, b.file_ext, b.target, b.alt, b.title)
                        for b in page.buttons]
        assert got_buttons == want_buttons, pid


def test_scores_match(golden, engine):
    got = {r["node_id"]: r["score"]
           for r in engine.table("scores").collect()}
    for node_id, score in enumerate(golden.scores):
        if node_id in got:
            assert abs(got[node_id] - score) < 1e-9, node_id


def test_media_store(golden, engine):
    """S8 — content-addressed media sink parity."""
    from x227f_spark.imagebytes import hash_image

    got = {r["media_ref"]: (bytes(r["bytes"]), r["file_ext"])
           for r in engine.table("media").collect()}
    want = golden.media
    assert set(got) == set(want)
    for ref, (data, ext) in want.items():
        assert got[ref] == (data, ext), ref
        assert hash_image(data) == ref  # content-addressing invariant


def test_row_count_observation_fallback(spark, corpus, corpus_dir, cfg,
                                        tmp_path, monkeypatch):
    """Every counted lineage cut (selected, fetched, seen_new) must recover
    its exact row count when the Observation comes back empty — a count
    defaulted to 0 drops scheduled URLs, seen deltas or the edges flag and
    the crawl drifts from the golden model."""
    from x227f_spark.plans import rounds as R

    real = R._obs_get

    def _lost_counts(obs, defaults):
        if set(defaults) == {"n"}:
            return defaults
        return real(obs, defaults)

    monkeypatch.setattr(R, "_obs_get", _lost_counts)
    eng = CrawlEngine(spark, corpus_dir, str(tmp_path / "state"), config=cfg)
    eng.run(3)
    model = GoldenModel(corpus, cfg)
    model.run(3)
    assert eng.trace_events() == [(t.round, t.seq, t.page_id, t.host,
                                   t.action) for t in model.trace]
    assert eng.seen_set() == model.seen_set()
    assert eng.page_spans() == model.page_spans()
