"""Local replica of the driver's correctness gate: run each __spark_entry__
query on Spark and its oracle on DuckDB at the given scale, compare
row-count, schema width, and order-insensitive values (columns sorted by
name, rows sorted).

Each gate's line also carries the number of classes Spark compiled for
that gate's Spark side (the ``CodegenMetrics`` compile count delta) and the
number of Spark jobs it launched, and the last line the totals: on a
repeated sweep in one session, a gate that keeps compiling has generated
code that differs from call to call.

Jobs are counted from the scheduler's job id counter, not with a job group:
a streaming gate's micro-batches run their jobs in the stream's own group.

Run it from the root of the checkout to gate: this script imports the
engine from the checkout it sits in, and Spark's Python workers import it
from the working directory."""

from __future__ import annotations

import math
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

import duckdb  # noqa: E402

import __spark_entry__ as entry_mod  # noqa: E402
from seq2rel_ds_spark.session import get_spark  # noqa: E402

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
ONLY = sys.argv[2].split(",") if len(sys.argv) > 2 else None

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def norm_cell(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return f"{v:.6f}"
    return str(v)


def norm_rows(cols, rows):
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(norm_cell(r[i]) for i in idx) for r in rows)


def main():
    spark = get_spark(app_name="oracle-check", shuffle_partitions=16)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")

    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    codegen = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    compiles = codegen.METRIC_COMPILATION_TIME().getCount
    # next job id: jobs launched by any thread, stream micro-batches included
    next_job = spark.sparkContext._jsc.sc().dagScheduler().nextJobId
    c_start, j_start = compiles(), next_job()
    failures = 0
    for name, fn in qs.items():
        if ONLY and name not in ONLY:
            continue
        t0 = time.monotonic()
        c0, j0 = compiles(), next_job()
        try:
            df = fn(spark, SF_DIR)
            spark_cols = df.columns
            spark_rows = [tuple(r) for r in df.collect()]
        except Exception as e:
            cost = f"{compiles() - c0} compiled, {next_job() - j0} jobs"
            print(f"FAIL  {name}: spark error ({cost}): {e}")
            failures += 1
            continue
        cost = f"{compiles() - c0} compiled, {next_job() - j0} jobs"
        if name not in oracles:
            print(f"rows  {name}: {len(spark_rows)} rows (no oracle, {cost})")
            continue
        try:
            res = con.execute(oracles[name])
            duck_cols = [d[0] for d in res.description]
            duck_rows = res.fetchall()
        except Exception as e:
            print(f"FAIL  {name}: duckdb error ({cost}): {e}")
            failures += 1
            continue
        ok_cols = sorted(spark_cols) == sorted(duck_cols)
        a, b = norm_rows(spark_cols, spark_rows), norm_rows(duck_cols, duck_rows)
        ok_vals = a == b
        if ok_cols and ok_vals:
            # spark-side wall seconds beside each row count: a gate that
            # creeps toward the driver harness's time budget shows up here
            wall = time.monotonic() - t0
            print(f"OK    {name}: {len(spark_rows)} rows ({wall:.1f}s, {cost})")
        else:
            failures += 1
            print(
                f"FAIL  {name}: cols {sorted(spark_cols)} vs {sorted(duck_cols)}; "
                f"rows {len(a)} vs {len(b)} ({cost})"
            )
            for x, y in list(zip(a, b))[:3]:
                if x != y:
                    print(f"      spark={x}\n      duck ={y}")
            extra_s = [r for r in a if r not in set(b)][:2]
            extra_d = [r for r in b if r not in set(a)][:2]
            if extra_s:
                print(f"      only-spark: {extra_s}")
            if extra_d:
                print(f"      only-duck:  {extra_d}")
    print(
        f"\n{failures} failures, {compiles() - c_start} classes compiled, "
        f"{next_job() - j_start} jobs"
    )
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
