"""Robots policy table (SURVEY.md §2 gap note): banned / no-follow /
disallow-prefix / crawl-delay rules, engine vs golden model parity."""

import pytest

from x227f_spark.constants import EngineConfig, RobotsRule
from x227f_spark.model import GoldenModel
from x227f_spark.plans.rounds import CrawlEngine

ROBOTS = (
    RobotsRule(host="site2.example", banned=True),
    RobotsRule(host="site3.example", no_follow=True),
    RobotsRule(host="site1.example", disallow_prefixes=("/page2",)),
    RobotsRule(host="site4.example", crawl_delay_sec=15),  # 1 slot/round
)


@pytest.fixture(scope="module")
def cfg(corpus):
    return EngineConfig(starting_point=corpus.seed_url, fetch_cap=50,
                        robots=ROBOTS)


def test_model_respects_robots(corpus, cfg):
    m = GoldenModel(corpus, cfg)
    m.run(6)
    pids = set(m.pages)
    assert not any(p.startswith("site2.example") for p in pids), \
        "banned host crawled"
    assert "site1.example/page2.html" not in pids, "disallowed path crawled"
    # no-follow host may be crawled but contributes no edges
    if "site3.example" in m.known:
        nf_idx = m.known["site3.example"]
        assert m.links_by_src.get(nf_idx, []) == []
    # crawl-delay 15s → at most 1 site4 fetch per round
    per_round = {}
    for ev in m.trace:
        if ev.action == "fetched" and ev.host == "site4.example":
            per_round[ev.round] = per_round.get(ev.round, 0) + 1
    assert all(v <= 1 for v in per_round.values())


def test_engine_matches_model_with_robots(spark, corpus, corpus_dir, cfg,
                                          tmp_path_factory):
    golden = GoldenModel(corpus, cfg)
    golden.run(4)
    eng = CrawlEngine(spark, corpus_dir,
                      str(tmp_path_factory.mktemp("rstate")), config=cfg)
    eng.run(4)
    assert eng.trace_events() == [
        (t.round, t.seq, t.page_id, t.host, t.action) for t in golden.trace]
    assert eng.seen_set() == golden.seen_set()
    assert eng.page_spans() == golden.page_spans()


def test_host_budget_column_matches_python(spark):
    """r7: the scheduler's politeness budget moved from a pandas UDF to a
    literal Column expression — pin exact equivalence with
    EngineConfig.host_budget across the tricky cases (robots rule order, a
    matched rule without a delay override, recursive host shortening with
    nested keys, 1-label keys matching only exactly, zero-delay =
    fetch_cap, empty host)."""
    from types import SimpleNamespace

    from pyspark.sql import functions as F

    cfg = EngineConfig(
        host_crawl_delays={"jcink.net": 10, "web.archive.org": 10,
                           "neocities.org": 1, "org": 7,
                           "slow.example.com": 0, "archive.org": 4},
        robots=(RobotsRule("robot.test", crawl_delay_sec=5),
                RobotsRule("nodelay.test"),
                RobotsRule("nodelay.test", crawl_delay_sec=3)),
    )
    hosts = ["a.jcink.net", "jcink.net", "x.web.archive.org",
             "web.archive.org", "archive.org", "sub.archive.org",
             "foo.neocities.org", "x.org", "org", "a.b.org",
             "robot.test", "sub.robot.test", "nodelay.test",
             "q.nodelay.test", "plain.com", "", "x.slow.example.com",
             "a.jcink.net.neocities.org"]
    df = spark.createDataFrame([(h,) for h in hosts], "host string")
    eng = SimpleNamespace(cfg=cfg)
    col = CrawlEngine._host_budget_col(eng, F.col("host"))
    got = {r["host"]: r["b"]
           for r in df.select("host", col.alias("b")).collect()}
    exp = {h: cfg.host_budget(h or "") for h in hosts}
    assert got == exp


def test_robots_columns_take_first_matching_rule(spark):
    """Admission and no-follow columns consult the robots rules the way
    EngineConfig does: the FIRST rule matching the host decides, so a
    permissive rule for a subdomain shadows a stricter rule for its
    parent domain (and a later duplicate rule for the same host)."""
    from types import SimpleNamespace

    from pyspark.sql import functions as F

    from x227f_spark.urlutil import Url

    cfg = EngineConfig(
        banned_hosts=("banned.test",),
        no_follow_hosts=("nf.test",),
        robots=(RobotsRule("x.a.test"),
                RobotsRule("a.test", banned=True, no_follow=True,
                           disallow_prefixes=("/p",)),
                RobotsRule("y.b.test", disallow_prefixes=("/q",)),
                RobotsRule("b.test", banned=True, no_follow=True),
                RobotsRule("c.test", no_follow=True,
                           disallow_prefixes=("/p", "/r")),
                RobotsRule("c.test", banned=True)),
    )
    urls = ["http://x.a.test/p1", "http://x.a.test/q", "http://a.test/p1",
            "http://a.test/z", "http://sub.x.a.test/p", "http://xa.test/p",
            "http://y.b.test/q1", "http://y.b.test/z", "http://z.y.b.test/q",
            "http://b.test/", "http://c.test/r/x", "http://c.test/z",
            "http://banned.test/p", "http://s.banned.test/",
            "http://nf.test/p", "http://plain.com/p"]
    rows = [(u, Url.parse(u).host) for u in urls]
    df = spark.createDataFrame(rows, "url string, host string")
    eng = SimpleNamespace(cfg=cfg)
    got = {r["url"]: (r["ok"], r["nf"]) for r in df.select(
        "url",
        CrawlEngine._admit_ok_col(eng, F.col("url"), F.col("host"))
        .alias("ok"),
        CrawlEngine._no_follow_col(eng, F.col("host")).alias("nf"),
    ).collect()}
    exp = {}
    for u, host in rows:
        path = Url.parse(u).path
        exp[u] = (not (cfg.effective_banned(host)
                       or cfg.disallowed(host, path)),
                  cfg.effective_no_follow(host))
    assert got == exp
