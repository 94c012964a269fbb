"""Commit-path scaling evidence (VERDICT r02 item 2): the merge-on-read
store's per-round write cost must be O(batch), independent of total state.

Protocol: seed a `pages`-shaped merge table with S rows, then commit R
fixed-size (B-row) deltas and time each `StateStore.commit`. Repeat at 2S
with the SAME batch size. Done-criterion: the per-commit write time at 2S
is ~equal to the time at S (the old copy-on-write rebuild was O(S) — its
write time doubled with state). Compaction commits (every COMPACT_AT) are
reported separately: that is the amortized O(S/COMPACT_AT) cost the design
pays instead of O(S) every round.

Usage: python tools/bench_commit.py [--state 200000] [--batch 20000]
Writes BENCH/commit_obatch.json.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import functions as F  # noqa: E402


def _rows(spark, n: int, offset: int = 0, tag: str = "x"):
    """pages-shaped rows: key + a ~200-byte payload column."""
    return spark.range(offset, offset + n).select(
        F.concat(F.lit("host"), (F.col("id") % 5000).cast("string"),
                 F.lit(".example/p"), F.col("id").cast("string"))
        .alias("page_id"),
        F.concat(F.lit(tag), F.repeat(F.lit("payload-bytes-"), 14),
                 F.col("id").cast("string")).alias("body"))


def run_leg(spark, state_rows: int, batch: int, deltas: int) -> dict:
    from x227f_spark.sources.catalog import MergeDelta, StateStore

    root = tempfile.mkdtemp(prefix=f"commitbench_{state_rows}_",
                            dir=os.environ.get("SPARK_GRAFT_STATE_DIR",
                                               os.path.join(REPO, "_data")))
    store = StateStore(spark, root)
    store.commit(0, {}, merge={"pages": MergeDelta(
        _rows(spark, state_rows), ["page_id"])})
    plain, compact = [], []
    for r in range(1, deltas + 1):
        # batch keys overlap the existing state (an upsert-heavy round)
        d = _rows(spark, batch, offset=(r * batch) % state_rows, tag=f"r{r}")
        t0 = time.monotonic()
        store.commit(r, {}, merge={"pages": MergeDelta(d, ["page_id"])})
        dt = time.monotonic() - t0
        (compact if len(store._tables["merge"]["pages"]["deltas"]) == 0
         else plain).append(round(dt, 3))
    n_final = store.read("pages").count()
    shutil.rmtree(root, ignore_errors=True)
    return {"state_rows": state_rows, "batch": batch,
            "delta_commit_sec": plain,
            "median_delta_commit_sec": round(statistics.median(plain), 3),
            "compaction_commit_sec": compact,
            "rows_after": n_final}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--state", type=int, default=200_000)
    ap.add_argument("--batch", type=int, default=20_000)
    ap.add_argument("--deltas", type=int, default=9)
    ap.add_argument("--cores", type=int, default=8)
    args = ap.parse_args()

    from x227f_spark.session import get_spark

    spark = get_spark(cores=args.cores, app_name="commit_bench")
    run_leg(spark, args.state // 4, args.batch, 4)  # JIT/codegen warm-up
    legs = {}
    for mult in (1, 2):
        leg = run_leg(spark, args.state * mult, args.batch, args.deltas)
        legs[f"{mult}x"] = leg
        print(f"state={leg['state_rows']}: median delta-commit "
              f"{leg['median_delta_commit_sec']}s "
              f"(all: {leg['delta_commit_sec']}; "
              f"compaction: {leg['compaction_commit_sec']})")
    ratio = (legs["2x"]["median_delta_commit_sec"]
             / max(legs["1x"]["median_delta_commit_sec"], 1e-9))
    out = {"legs": legs, "write_time_ratio_2x_state": round(ratio, 3),
           "criterion": "ratio ~1.0 => commit cost independent of state"}
    os.makedirs(os.path.join(REPO, "BENCH"), exist_ok=True)
    with open(os.path.join(REPO, "BENCH", "commit_obatch.json"), "w") as f:
        json.dump(out, f, indent=2)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
