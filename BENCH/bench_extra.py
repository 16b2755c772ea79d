#!/usr/bin/env python
"""Extra round-7 benchmark legs that the FROZEN bench.py cannot carry
(guide §1.4 noop-sink isolation; round-6 verdict "Next round" #6):

  dedup_pipeline   the composed exact+minhash dedup pipeline
                   (plans/dedup_pipeline.run_dedup_pipeline) over the
                   driver's sf documents table — docs/sec end-to-end
                   through passes -> union -> CC closure -> keepers

Prints ONE JSON line.  Cited by OPTIMIZATION_r07.md; NOT a driver artifact.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", len(os.sched_getaffinity(0))))
LEGS = int(os.environ.get("SPARK_GRAFT_BENCH_LEGS", "3"))


def main() -> None:
    from lab02_citation_matching_and_entity_resolution_spark.plans.dedup_pipeline import (
        DedupConfig,
        run_dedup_pipeline,
    )
    from lab02_citation_matching_and_entity_resolution_spark.session import get_spark

    spark = get_spark(app_name="er-bench-extra", master=f"local[{CPUS}]",
                      shuffle_partitions=max(CPUS, 32))
    spark.sparkContext.setLogLevel("ERROR")

    def force(df):
        df.write.format("noop").mode("overwrite").save()

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").persist()
    n_docs = docs.count()

    times = []
    pair_counts = None
    for i in range(LEGS):
        spark.sparkContext.setJobDescription(f"bench_extra:dedup_pipeline#{i}")
        t0 = time.time()
        res = run_dedup_pipeline(docs, DedupConfig(passes=("exact", "minhash")))
        force(res.keepers)
        force(res.groups)
        times.append(round(time.time() - t0, 3))
        if pair_counts is None:
            pair_counts = {
                r["pass"]: r["cnt"]
                for r in res.pairs.groupBy(res.pairs["pass"].alias("pass"))
                .count()
                .withColumnRenamed("count", "cnt")
                .collect()
            }
    sec = min(times)
    print(
        json.dumps(
            {
                "metric": "dedup_pipeline_docs_per_sec",
                "value": round(n_docs / sec, 1) if sec else 0.0,
                "unit": "sec",
                "queries": {"dedup_pipeline": sec},
                "legs_sec": times,
                "n_docs": n_docs,
                "pass_pair_counts": pair_counts,
                "sf": SF_DIR.rstrip("/").split("sf")[-1],
                "cpus": CPUS,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
