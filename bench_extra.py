"""Per-query isolation bench (optimization-round instrumentation).

NOT the frozen driver bench (bench.py): this harness exists to produce
before/after evidence per guide section 1 — each query timed individually,
both under the frozen methodology (.count(), what bench.py measures) and
under a noop sink (df.write.format('noop'), which materializes every column
and cannot be pruned), with repeats and a median.

Usage:
    python bench_extra.py [q1,q2,...] [repeats]

Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
     SPARK_GRAFT_CPUS (default 32).
Prints one JSON line: {"queries_count": {...}, "queries_noop": {...}}.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from bench import BENCH_QUERIES  # noqa: E402


def main() -> None:
    names = sys.argv[1].split(",") if len(sys.argv) > 1 else BENCH_QUERIES
    repeats = int(sys.argv[2]) if len(sys.argv) > 2 else 3

    import __spark_entry__ as entry_mod
    from seq2rel_ds_spark.session import get_spark

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = get_spark(app_name="bench-extra", cores=cpus, shuffle_partitions=2 * cpus)
    qs = entry_mod.queries()
    # same untimed warmup as bench.run_queries
    spark.read.parquet(f"{sf_dir}/region.parquet").count()
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    out_count: dict = {}
    out_noop: dict = {}
    for name in names:
        spark.sparkContext.setJobDescription(f"bench_extra count: {name}")
        samples = []
        for _ in range(repeats):
            t0 = time.time()
            qs[name](spark, sf_dir).count()
            samples.append(round(time.time() - t0, 3))
        out_count[name] = sorted(samples)[len(samples) // 2]
        spark.sparkContext.setJobDescription(f"bench_extra noop: {name}")
        samples = []
        for _ in range(repeats):
            t0 = time.time()
            qs[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
            samples.append(round(time.time() - t0, 3))
        out_noop[name] = sorted(samples)[len(samples) // 2]
        spark.sparkContext.setJobDescription(None)
        print(f"# {name}: count={out_count[name]} noop={out_noop[name]}", file=sys.stderr)
    print(json.dumps({"sf_dir": sf_dir, "cpus": cpus, "repeats": repeats,
                      "queries_count": out_count, "queries_noop": out_noop}))
    spark.stop()


if __name__ == "__main__":
    main()
