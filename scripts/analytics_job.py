"""spark-submit payload: the KG read-side analytics suite over a
materialized triples table; prints one JSON metrics line.

The analytics-side analogue of scripts/kg_job.py for the two-parallelism
scaling evidence: reads a Parquet triples table (the skewed graph from
scripts/verify_kg_scale.py's generator) and runs
kg_analytics.write_analytics — degree + PMI + 5-iteration PageRank +
3-hop BFS, all four written as Parquet — exactly the `kg_job
--analytics-dir` workload. Submitted by `scripts/scaling_bench.py
--workload analytics` at N and 4N single-core executor JVMs; the timed
pass follows one untimed warm-up pass over the same table.
"""

from __future__ import annotations

import argparse
import json
import shutil
import time


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--triples", required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()

    from bioner_spark.kg_analytics import write_analytics
    from bioner_spark.session import get_spark

    spark = get_spark(app_name="bioner_analytics_job")
    triples = spark.read.parquet(args.triples)
    n_triples = triples.count()  # materialize the scan metadata pre-timing

    # one untimed pass first, so the timed one runs on a warm JVM (JIT,
    # Python workers, first-job class loading); write_analytics leaves
    # nothing persisted
    warm = f"{args.out.rstrip('/')}_warmup"
    write_analytics(triples, warm)
    shutil.rmtree(warm, ignore_errors=True)
    shutil.rmtree(args.out, ignore_errors=True)
    spark.sparkContext.setJobGroup("timed", "write_analytics")
    t0 = time.time()
    write_analytics(triples, args.out)
    wall = time.time() - t0
    print(
        json.dumps(
            {
                "n_triples": n_triples,
                "analytics_sec": round(wall, 3),
                "triples_per_sec": round(n_triples / wall, 1),
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
