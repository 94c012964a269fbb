"""``queries``: bench.py's 17 headline operator queries over the sf0.01
TPC-H-style tables in ``perfbench/data/sf0.01`` (the four the queries
read), one query at a time, in a fixed order.

Each operation builds a query and collects its result; the result is then
checked against the DuckDB oracle (``oracle_sql()``) with
``tools/check_oracles.value_hash``. ``release_caches()`` runs after every
pass over the suite, so each pass pays full cost. The tables are fixed
data: ``--seed`` changes nothing here.
"""

from __future__ import annotations

import hashlib
import json
import os
import statistics
import time

from attribution import assign_jobs, medians, round_metrics, window_stats

HEADLINE = (
    "g2_pagerank", "t2_threshold_topk", "t3_per_host_budget",
    "j2_admission_antijoin", "j4_redirect_chain", "g4_group_collect",
    "dedup_exact", "dedup_ngram_jaccard", "dedup_minhash_lsh",
    "dedup_simhash", "ann_cosine_topk", "ann_ivf_assign",
    "ann_ivf_bucket_stats", "text_quality", "text_lang_id",
    "text_fingerprint", "mm_decode_features",
)
DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data",
                    "sf0.01")

LAYER_METRICS = [f"q.{n}{k}" for n in HEADLINE
                 for k in ("_s", ".jobs", ".shuffle_mb")]


def _expected(cols: list[str], rows: list) -> dict:
    from tools.check_oracles import value_hash
    return {"rows": len(rows), "cols": sorted(cols),
            "hash": value_hash(cols, rows)}


def oracle_results(cache: str) -> dict[str, dict]:
    """Row count, columns and value hash of every headline query's DuckDB
    oracle at sf0.01, computed once per oracle text and data set."""
    import duckdb

    import __spark_entry__ as entry

    sql = entry.oracle_sql()
    key = hashlib.sha256(json.dumps(
        [[n, sql[n]] for n in HEADLINE]
        + sorted([f, os.path.getsize(os.path.join(DATA, f))]
                 for f in os.listdir(DATA))).encode()).hexdigest()[:16]
    path = os.path.join(cache, "oracle", f"sf0.01-{key}.json")
    if os.path.exists(path):
        with open(path) as f:
            return json.load(f)
    con = duckdb.connect()
    try:
        con.execute("SET autoinstall_known_extensions = false")
        con.execute(f"SET temp_directory = '{os.path.join(cache, 'duckdb')}'")
        for f in sorted(os.listdir(DATA)):
            con.execute(f"CREATE VIEW {f.split('.')[0]} AS SELECT * FROM "
                        f"read_parquet('{os.path.join(DATA, f)}')")
        out = {}
        for name in HEADLINE:
            res = con.execute(sql[name])
            out[name] = _expected([d[0] for d in res.description],
                                  res.fetchall())
    finally:
        con.close()
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path + ".tmp", "w") as f:
        json.dump(out, f)
    os.replace(path + ".tmp", path)
    return out


class Queries:
    name = "queries"
    layer_metrics = LAYER_METRICS

    def __init__(self, ctx):
        self.ctx = ctx
        self.ops: list[dict] = []     # one per query run
        self.passes: list[dict] = []  # complete passes over the suite
        self.attempted = 0
        self.failed = 0

    def prepare(self) -> None:
        self.oracle = oracle_results(self.ctx.cache)

    def setup(self, spark) -> None:
        """bench.py's warm-up actions."""
        spark.range(1_000_000).selectExpr("sum(id)").collect()
        spark.read.parquet(os.path.join(DATA, "orders.parquet")) \
            .limit(1000).selectExpr("count(*)").collect()

    def _query(self, spark, qs, name: str, pass_id: str) -> None:
        self.attempted += 1
        spark.sparkContext.setJobDescription(f"query {name}")
        t0 = time.time()
        try:
            df = qs[name](spark, DATA)
            rows = [tuple(r) for r in df.collect()]
        except Exception as e:  # a failing query is counted, the run goes on
            self.ctx.log(f"{name} raised: {e!r}")
            self.failed += 1
            return
        finally:
            spark.sparkContext.setJobDescription(None)
        t1 = time.time()
        self.ctx.span(name, t0, t1, parent=pass_id)
        ok = _expected(df.columns, rows) == self.oracle[name]
        if not ok:
            self.ctx.log(f"{name} differs from its oracle")
            self.failed += 1
        self.ops.append({"name": name, "start": t0, "end": t1,
                         "wall_s": t1 - t0, "ok": ok})

    def measure(self, spark) -> None:
        """Passes over the suite until ``--seconds`` have gone by, checked
        after every query, with at least one whole pass."""
        import __spark_entry__ as entry
        from x227f_spark.operators.qcache import release_caches

        qs = entry.queries()
        t_run = time.monotonic()

        def done():
            return time.monotonic() - t_run >= self.ctx.seconds

        while True:
            t0 = time.time()
            pass_id = self.ctx.span("pass", t0, t0)
            first = len(self.ops)
            for name in HEADLINE:
                self._query(spark, qs, name, pass_id)
                if self.passes and done():
                    break
            whole = len(self.ops) - first == len(HEADLINE)
            release_caches()
            t1 = time.time()
            self.ctx.end_span(pass_id, t1)
            if whole:
                self.passes.append({"start": t0, "end": t1,
                                    "ops": self.ops[first:]})
            if done() and self.passes or not whole and not self.passes:
                return

    def check(self) -> None:
        """Outputs were checked as each query finished."""

    def outcome(self) -> tuple[int, int]:
        return self.attempted, self.failed

    def end_to_end(self) -> dict[str, float]:
        times: dict[str, list[float]] = {}
        for op in self.ops:
            times.setdefault(op["name"], []).append(op["wall_s"])
        return {"round_p50_s": sum(statistics.median(v)
                                   for v in times.values()),
                "work_per_s": len(self.ops) / sum(op["wall_s"]
                                                  for op in self.ops)}

    def layers(self, tl) -> dict[str, float]:
        per = assign_jobs(tl.jobs.values(), {
            str(i): (op["start"], op["end"]) for i, op in enumerate(self.ops)})
        rows = []
        for i, op in enumerate(self.ops):
            st = window_stats(tl, op["start"], op["end"], per[str(i)],
                              self.ctx.cores)
            q = f"q.{op['name']}"
            rows.append({f"{q}_s": op["wall_s"], f"{q}.jobs": st["jobs"],
                         f"{q}.shuffle_mb": st["shuffle_mb"]})
        rounds = []
        for p in self.passes:
            lo, hi = p["start"], p["end"]
            jobs = [j.id for j in tl.jobs.values() if lo <= j.submit < hi]
            st = window_stats(tl, lo, hi, jobs, self.ctx.cores)
            rounds.append(round_metrics(
                st, (hi - lo) - sum(op["wall_s"] for op in p["ops"])))
        return {**medians(rows), **medians(rounds)}
