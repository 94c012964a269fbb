"""Tracing overhead: the end-to-end numbers of traced runs minus those of
untraced runs, per workload, from the records ``run.py`` leaves.

    python3 perfbench/overhead.py

Only records of the newest program source and benchmark are compared.
"""

from __future__ import annotations

import glob
import json
import os
import statistics

RECORDS = os.path.join(os.path.dirname(os.path.abspath(__file__)), ".cache",
                       "records")


def main() -> None:
    recs = []
    for path in sorted(glob.glob(os.path.join(RECORDS, "*.json")),
                       key=os.path.getmtime):
        if not path.endswith(".trace.json"):
            with open(path) as f:
                recs.append(json.load(f))
    if not recs:
        raise SystemExit(f"no records under {RECORDS}")
    code = (recs[-1]["source"], recs[-1]["bench"])
    groups: dict[tuple, dict[str, list[float]]] = {}
    for r in recs:
        if (r["source"], r["bench"]) == code:
            g = groups.setdefault((r["workload"], r["trace"]), {})
            for k, v in r["end_to_end"].items():
                g.setdefault(k, []).append(v)
    for wl in sorted({w for w, _t in groups}):
        off, on = groups.get((wl, 0)), groups.get((wl, 1))
        if not off or not on:
            print(f"{wl}: needs both traced and untraced runs")
            continue
        for k in off:
            a, b = statistics.median(off[k]), statistics.median(on[k])
            print(f"{wl:14s} {k:12s} untraced {a:10.3f} (n={len(off[k])})  "
                  f"traced {b:10.3f} (n={len(on[k])})  "
                  f"overhead {b - a:+9.3f} ({(b - a) / a:+.1%})")


if __name__ == "__main__":
    main()
