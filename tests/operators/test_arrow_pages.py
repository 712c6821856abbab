"""The Arrow-native page scan: one Python task per core slot over a
JVM-only range, each reading its balanced list of row groups."""

import uuid

import pyarrow as pa
import pyarrow.parquet as pq

from seq2rel_ds_spark.sources.arrow_pages import list_row_groups, scan_parquet_python

SCHEMA = "k long, v string"


def _identity(pdf):
    yield pdf[["k", "v"]]


def _stage_tasks(spark, fn):
    """(task count of each stage ``fn``'s Spark jobs ran, ``fn``'s result)."""
    sc = spark.sparkContext
    group = f"tasks-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    tracker = sc.statusTracker()
    tasks = [
        tracker.getStageInfo(s).numTasks
        for j in tracker.getJobIdsForGroup(group)
        for s in tracker.getJobInfo(j).stageIds
    ]
    return tasks, out


def test_one_task_per_core_slot_reads_every_row_once(spark, tmp_path):
    # 3 files of unequal row groups: 20/20/10, 4/4/1 and 30 rows
    for i, (rows, group) in enumerate([(50, 20), (9, 4), (30, 30)]):
        t = pa.table({"k": [i * 100 + r for r in range(rows)], "v": [f"f{i}"] * rows})
        pq.write_table(t, tmp_path / f"part-{i}.parquet", row_group_size=group)
    splits = list_row_groups(spark, str(tmp_path))
    slots = spark.sparkContext.defaultParallelism
    assert len(splits) == 7 > slots

    df = scan_parquet_python(spark, str(tmp_path), _identity, SCHEMA, batch_size=8)
    tasks, rows = _stage_tasks(spark, df.collect)
    assert tasks == [min(len(splits), slots)]
    want = pq.read_table(tmp_path).to_pylist()
    assert sorted(tuple(r) for r in rows) == sorted((r["k"], r["v"]) for r in want)
    assert "Exchange" not in df._jdf.queryExecution().executedPlan().toString()


def test_empty_directory_returns_empty_frame(spark, tmp_path):
    df = scan_parquet_python(spark, str(tmp_path), _identity, SCHEMA)
    assert df.columns == ["k", "v"] and df.collect() == []
