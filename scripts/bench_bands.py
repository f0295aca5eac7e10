"""Per-query jitter bands for bench.py (round-3 verdict item 5).

Runs bench.py N times (fresh Spark JVM each run, like the driver does) and
prints a single JSON line: per-query min/median/max across runs, the total
band, and each run's own box probe (bench.box_probe, taken just before that
run's JVM starts) — so a cross-round per-query comparison can be pinned to
(a) the query's own same-code band and (b) the box's per-core speed and
contention during those runs, instead of a single-point wall.

Usage: python scripts/bench_bands.py [--trials 5] [--sf-dir /root/testdata/sf0.1]
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(REPO, "scripts"))


def one_run(sf_dir: str) -> dict:
    from scaling_bench import parse_metrics_line  # noqa: E402

    env = dict(os.environ, SPARK_GRAFT_SF_DIR=sf_dir)
    proc = subprocess.run(
        [sys.executable, os.path.join(REPO, "bench.py")],
        capture_output=True, text=True, env=env, cwd=REPO, timeout=1800,
    )
    return parse_metrics_line(proc, '"queries"', "bench.py")


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--trials", type=int, default=5)
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    args = ap.parse_args()

    runs = [one_run(args.sf_dir) for _ in range(args.trials)]
    per_query: dict[str, list[float]] = {}
    totals: list[float] = []
    for r in runs:
        totals.append(float(r["value"]))
        for q, sec in r["queries"].items():
            per_query.setdefault(q, []).append(float(sec))
        # corpus_filter is reported under extra (kept out of the headline
        # total for round-1/2 comparability) but still needs its band —
        # it's the query the per-query instrument was built to track
        cf = r.get("extra", {}).get("corpus_filter_sec")
        if cf is not None:
            per_query.setdefault("corpus_filter", []).append(float(cf))
    bands = {
        q: {
            "min": round(min(v), 3),
            "median": round(statistics.median(v), 3),
            "max": round(max(v), 3),
            "spread_pct": round(100 * (max(v) - min(v)) / max(min(v), 1e-9), 1),
        }
        for q, v in per_query.items()
    }
    print(
        json.dumps(
            {
                "trials": args.trials,
                "sf_dir": args.sf_dir,
                "total": {
                    "min": round(min(totals), 3),
                    "median": round(statistics.median(totals), 3),
                    "max": round(max(totals), 3),
                },
                "queries": bands,
                "probes": [
                    {k: r["extra"][k] for k in ("spin_1p_sec", "spin_procs", "spin_eff")}
                    for r in runs
                ],
            }
        )
    )


if __name__ == "__main__":
    main()
