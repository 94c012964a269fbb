"""Operating constants of the engine.

Values mirror the reference's hardcoded configuration so that the golden
parity tests (same seed list + politeness budget) are meaningful:

- reference: /root/reference/src/main.rs:27-88 (crawler constants)
- reference: /root/reference/src/ratelimiter.rs:38-54 (politeness delays)

Everything is overridable through :class:`EngineConfig` — the hardcoded
values are just the defaults, exactly like the reference's `const` items.
"""

from __future__ import annotations

from dataclasses import dataclass, field

# main.rs:30 — max simultaneous page crawls (our per-round global fetch cap
# is derived from this: CONCURRENT_CRAWLER_COUNT slots re-filled over a
# ROUND_SECONDS window at >=1s politeness each).
CONCURRENT_CRAWLER_COUNT = 100

# main.rs:32,35 — recrawl intervals (hours)
RECRAWL_PAGES_INTERVAL_HOURS = 24 * 30
RECRAWL_POPULAR_PAGES_INTERVAL_HOURS = 24

# main.rs:41 — button cache TTL (hours)
RECRAWL_BUTTONS_INTERVAL_HOURS = 24 * 7

# main.rs:44 — query params stripped from page links
KNOWN_TRACKING_PARAMS = ("ref", "si")

# main.rs:47-51 — crawl but never follow links from (incl. subdomains)
DO_NOT_FOLLOW_LINKS_FROM_HOSTS = (
    "web.archive.org",
    "phoenix-search.jp",
    "ranking.prb.jp",
)

# main.rs:54-58 — never crawl; retroactively dropped from the db at load
BANNED_HOSTS = (
    "prlog.ru",
    "dvd-rank.com",
    "adult-plus.com",
)

# main.rs:61 — seed when the database is empty
STARTING_POINT = "https://matdoes.dev/retro"

# main.rs:74,81 — frontier admission / popularity thresholds
REQUIRED_PAGERANK_SCORE = 0.15 + 0.001
POPULAR_PAGERANK_SCORE = 0.2

# pagerank.rs:21
DAMPING_FACTOR = 0.85
# data.rs:166-169 / data.rs:216-218 — iterations at bootstrap / per round
BOOTSTRAP_PAGERANK_ITERATIONS = 50
ROUND_PAGERANK_ITERATIONS = 5

# data.rs:271-274 — frontier cap per refresh
QUEUE_CAP = 10_000

# main.rs:151-153 — the save/refresh cadence; one "round" of virtual time
ROUND_SECONDS = 15

# page.rs:292 — internal links kept per page
MAX_INTERNAL_LINKS = 8
# page.rs:241 — max href length
MAX_HREF_LEN = 256
# page.rs:72-74, image.rs:371-379 — body size caps
MAX_BODY_BYTES = 10 * 1024 * 1024
# image.rs:44-62 — stop fetching images for a page after this many
# candidates produced zero 88x31s
IMAGE_CANDIDATE_ABORT = 100
# image.rs:36-41 — candidate rotation heuristic
IMAGE_ROTATE_THRESHOLD = 100
IMAGE_ROTATE_BY = 50

# data.rs:370-376 — internal-link weight overrides (multi-page archives)
# NOTE the reference quirk: PageId paths never keep a trailing slash
# (data.rs:547-548) yet the match arm is ("hellnet.work", "8831/"), which can
# therefore never match; only the capstasher arm is reachable. We reproduce
# the *reachable* behavior.
INTERNAL_LINK_WEIGHT = 0.02
INTERNAL_LINK_WEIGHT_OVERRIDES = {
    ("hellnet.work", "8831/"): 1.0,  # unreachable in the reference, kept for parity
    ("capstasher.neocities.org", None): 1.0,  # any path
}
BUTTON_TARGET_WEIGHT = 1.0
REDIRECT_WEIGHT = 0.1

# ratelimiter.rs:38-54 — per-host crawl delays (seconds); lookup shortens the
# host one label at a time (ratelimiter.rs:56-62) until a match or <=2 labels.
HOST_CRAWL_DELAYS = {
    "jcink.net": 10,
    "web.archive.org": 10,
    "neocities.org": 1,
}
DEFAULT_CRAWL_DELAY = 1

# Virtual-clock epoch: round r maps to EPOCH + r*ROUND_SECONDS. A fixed epoch
# (not wall clock) makes every run bit-reproducible.
VIRTUAL_EPOCH_ISO = "2026-01-01T00:00:00+00:00"


def crawl_delay_for_host(host: str) -> int:
    """ratelimiter.rs:38-54 — delay with recursive host shortening."""
    while True:
        if host in HOST_CRAWL_DELAYS:
            return HOST_CRAWL_DELAYS[host]
        parts = host.split(".")
        if len(parts) > 2:
            host = ".".join(parts[1:])
        else:
            return DEFAULT_CRAWL_DELAY


def internal_link_weight(host: str, path: str) -> float:
    """data.rs:370-376 — per-source-page internal link weight."""
    if (host, path) in INTERNAL_LINK_WEIGHT_OVERRIDES:
        return INTERNAL_LINK_WEIGHT_OVERRIDES[(host, path)]
    if (host, None) in INTERNAL_LINK_WEIGHT_OVERRIDES:
        return INTERNAL_LINK_WEIGHT_OVERRIDES[(host, None)]
    return INTERNAL_LINK_WEIGHT


@dataclass(frozen=True)
class RobotsRule:
    """One row of the robots policy table (SURVEY.md §2 gap note).

    The reference has no robots.txt support — its stand-ins are the
    hardcoded per-host crawl delays (ratelimiter.rs:38-54), BANNED_HOSTS
    (main.rs:54-58) and DO_NOT_FOLLOW_LINKS_FROM_HOSTS (main.rs:47-51).
    A robots table generalizes all three plus disallow prefixes; with no
    rules the engine behaves exactly like the reference. Hosts match with
    F1 suffix semantics (subdomains included, main.rs:300-309)."""

    host: str
    crawl_delay_sec: int | None = None
    disallow_prefixes: tuple[str, ...] = ()
    banned: bool = False
    no_follow: bool = False


@dataclass(frozen=True)
class EngineConfig:
    """Run-scoped knobs. Defaults reproduce the reference's constants."""

    starting_point: str = STARTING_POINT
    round_seconds: int = ROUND_SECONDS
    queue_cap: int = QUEUE_CAP
    # per-round global fetch cap: 100 concurrent slots over a 15s round at
    # >=1s politeness each — the reference's sustained ceiling per round.
    fetch_cap: int = CONCURRENT_CRAWLER_COUNT * ROUND_SECONDS
    required_score: float = REQUIRED_PAGERANK_SCORE
    popular_score: float = POPULAR_PAGERANK_SCORE
    bootstrap_pr_iters: int = BOOTSTRAP_PAGERANK_ITERATIONS
    round_pr_iters: int = ROUND_PAGERANK_ITERATIONS
    max_internal_links: int = MAX_INTERNAL_LINKS
    banned_hosts: tuple[str, ...] = BANNED_HOSTS
    no_follow_hosts: tuple[str, ...] = DO_NOT_FOLLOW_LINKS_FROM_HOSTS
    tracking_params: tuple[str, ...] = KNOWN_TRACKING_PARAMS
    recrawl_hours: int = RECRAWL_PAGES_INTERVAL_HOURS
    recrawl_popular_hours: int = RECRAWL_POPULAR_PAGES_INTERVAL_HOURS
    button_ttl_hours: int = RECRAWL_BUTTONS_INTERVAL_HOURS
    host_crawl_delays: dict[str, int] = field(
        default_factory=lambda: dict(HOST_CRAWL_DELAYS)
    )
    default_crawl_delay: int = DEFAULT_CRAWL_DELAY
    robots: tuple["RobotsRule", ...] = ()

    def _robots_rule(self, host: str) -> "RobotsRule | None":
        for r in self.robots:
            if host == r.host or host.endswith("." + r.host):
                return r
        return None

    def effective_banned(self, host: str) -> bool:
        from .urlutil import hosts_list_contains

        if hosts_list_contains(self.banned_hosts, host):
            return True
        r = self._robots_rule(host)
        return r is not None and r.banned

    def effective_no_follow(self, host: str) -> bool:
        from .urlutil import hosts_list_contains

        if hosts_list_contains(self.no_follow_hosts, host):
            return True
        r = self._robots_rule(host)
        return r is not None and r.no_follow

    def disallowed(self, host: str, path: str) -> bool:
        """robots Disallow: path-prefix match; path includes leading '/'."""
        r = self._robots_rule(host)
        if r is None:
            return False
        return any(path.startswith(p) for p in r.disallow_prefixes)

    def delay_for_host(self, host: str) -> int:
        r = self._robots_rule(host)
        if r is not None and r.crawl_delay_sec is not None:
            return r.crawl_delay_sec
        while True:
            if host in self.host_crawl_delays:
                return self.host_crawl_delays[host]
            parts = host.split(".")
            if len(parts) > 2:
                host = ".".join(parts[1:])
            else:
                return self.default_crawl_delay

    def host_budget(self, host: str) -> int:
        """Politeness slots per round: floor(round_seconds / delay)."""
        d = self.delay_for_host(host)
        if d <= 0:
            return self.fetch_cap
        return max(self.round_seconds // d, 1)
