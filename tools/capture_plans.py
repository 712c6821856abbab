"""Capture .explain('formatted') output for (a subset of) declared queries.

Usage:
    python tools/capture_plans.py <out_dir> [suffix] [q1,q2,...]

Writes <out_dir>/<query>_<suffix>.txt for each query (default: the 17
bench-timed queries; suffix defaults to 'before').  Uses the same session
shape as the bench queries leg (local[$SPARK_GRAFT_CPUS], 2*cpus shuffle
partitions) so plans match what the bench actually runs.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import BENCH_QUERIES  # noqa: E402


def main() -> None:
    out_dir = sys.argv[1] if len(sys.argv) > 1 else "plans/r07"
    suffix = sys.argv[2] if len(sys.argv) > 2 else "before"
    names = sys.argv[3].split(",") if len(sys.argv) > 3 else BENCH_QUERIES

    import __spark_entry__ as entry_mod
    from seq2rel_ds_spark.session import get_spark

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = get_spark(app_name="capture-plans", cores=cpus, shuffle_partitions=2 * cpus)
    qs = entry_mod.queries()
    os.makedirs(out_dir, exist_ok=True)
    for name in names:
        df = qs[name](spark, sf_dir)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(plan)
        n_exchange = plan.count("Exchange")
        print(f"{name}: {len(plan.splitlines())} lines, {n_exchange} Exchange -> {path}")
    spark.stop()


if __name__ == "__main__":
    main()
