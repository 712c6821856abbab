"""Arrow-native parquet source for Python-dominated stages.

The standard path (``spark.read.parquet`` -> ``mapInPandas``) decodes
parquet in the JVM, re-serializes every row through the Arrow IPC socket,
and materializes it again in the Python worker — three passes over the
bytes before the first line of user Python runs.  When the *consumer* of
the scan is itself a Python stage (the fused triple-partial scan,
``fused_triple_partials_arrow``), that JVM round trip buys nothing: this
source instead hands each Python task a list of ``(file, row_group)``
splits and lets it read them directly with ``pyarrow.parquet`` — one
decode, zero inbound IPC.  The same pattern Petastorm / Ray Data / DL
data loaders use.  It is the flagship's default scan whenever the pages
are a parquet path (bench.py, perfbench); a DataFrame input takes the JVM
scan (``fused_triple_partials``).

Trade-offs:
  * Catalyst sees only a ``range`` of task ids — no automatic predicate
    pushdown or column pruning into the scan; callers pass ``columns=``
    (projection pushdown) explicitly.
  * No schema evolution / partition discovery beyond what the listing does.
  * Only worth it when the next stage is Python anyway; for relational
    consumers the JVM scan with full Catalyst integration wins.

One Python task per core slot.  A Python task has a fixed cost that does
not depend on its input: measured on Python 3.11 / pyspark 4.1 (4 cores),
pyspark's per-task ``importlib.invalidate_caches()`` (each of the worker's
zipimporters re-reads its archive directory, spark-core's jar among them)
took 0.12-0.25 s of CPU, and the daemon's ``gc.collect()`` after each task
0.03-0.05 s even in an otherwise idle worker.  So the scan runs
``n = min(splits, defaultParallelism)`` tasks over a JVM-only
``spark.range(n, numPartitions=n)``: no Python task to build a split
table and no shuffle to spread it.  Task ``i`` reads its list of row
groups from a broadcast, balanced largest-first by the footer row counts.
What this gives up: a task is a whole list of row groups, so a failed
task retries, and a straggler is speculated, at that coarser unit, and a
slow core keeps its share instead of the others stealing row groups from
it; and ``defaultParallelism`` is read when the scan is built, so on a
cluster executors that register later get no task of this scan.  Row
groups stay the unit of balance and of reading.

The split LISTING currently supports local paths only (rejected loudly
otherwise — see ``list_row_groups``); the worker-side reader already goes
through pyarrow, whose filesystem layer streams object-store ranges the
same way the JVM reader does, so the object-store gap is the driver-side
listing alone.
"""

from __future__ import annotations

import heapq
from typing import Callable, Iterator, List, Optional

import pandas as pd
from pyspark.sql import DataFrame, SparkSession


def list_row_groups(spark: SparkSession, path: str) -> List[tuple]:
    """(file, row_group_index, num_rows) split list for a parquet directory —
    driver-side metadata-only listing (footer reads, no data).

    Local filesystem paths only for now: the listing uses glob, so an
    object-store URI (s3://...) would silently produce zero splits — it is
    rejected loudly instead.  Extending to object stores means listing via
    ``pyarrow.dataset``/``pyarrow.fs`` here; the worker-side reader below
    already goes through ``pyarrow.parquet``, which speaks those
    filesystems natively."""
    import glob
    import os

    import pyarrow.parquet as pq

    if "://" in path and not path.startswith("file://"):
        raise NotImplementedError(
            f"arrow-native source lists splits via glob (local paths only); "
            f"got {path!r} — use pyarrow.dataset-based listing for object stores"
        )
    files = sorted(glob.glob(os.path.join(path.removeprefix("file://"), "*.parquet")))
    splits = []
    for f in files:
        meta = pq.ParquetFile(f).metadata
        splits.extend(
            (f, g, meta.row_group(g).num_rows) for g in range(meta.num_row_groups)
        )
    return splits


def _balance_splits(splits: List[tuple], n: int) -> List[List[tuple]]:
    """Deal ``(file, row_group, num_rows)`` splits into ``n`` task lists,
    largest first, each to the list with the fewest rows so far; each list
    holds ``(file, row_group)`` pairs in file order."""
    loads = [(0, i) for i in range(n)]
    tasks: List[List[tuple]] = [[] for _ in range(n)]
    for f, g, rows in sorted(splits, key=lambda s: -s[2]):
        load, i = heapq.heappop(loads)
        tasks[i].append((f, g))
        heapq.heappush(loads, (load + rows, i))
    return [sorted(t) for t in tasks]


def scan_parquet_python(
    spark: SparkSession,
    path: str,
    process: Callable[[pd.DataFrame], Iterator[pd.DataFrame]],
    schema: str,
    columns: Optional[List[str]] = None,
    batch_size: int = 20000,
) -> DataFrame:
    """Run ``process`` (a pandas-batch generator function) directly over the
    parquet data: one Python task per core slot, each reading its
    ``_balance_splits`` list of (file, row_group) splits with pyarrow.

    ``process`` receives pandas DataFrames of ``columns`` (projection pushed
    into the pyarrow reader) and yields output frames matching ``schema`` —
    the same contract as a ``mapInPandas`` body, so a stage can be moved
    between the JVM-scan and Arrow-native paths without rewriting logic.
    """
    splits = list_row_groups(spark, path)
    if not splits:
        return spark.createDataFrame([], schema)
    sc = spark.sparkContext
    n = min(len(splits), sc.defaultParallelism)
    bc = sc.broadcast(_balance_splits(splits, n))

    def read_and_process(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import pyarrow.parquet as pq

        for pdf in batches:
            for task in pdf["id"]:
                for f, g in bc.value[int(task)]:
                    pf = pq.ParquetFile(f)
                    # use_threads=False: each Python worker owns ~one core of
                    # the executor's budget already — pyarrow's default
                    # per-reader thread pool (os.cpu_count() threads PER
                    # worker) would oversubscribe the box N-fold at high
                    # parallelism, measured as 35% wall variance on
                    # steal-free 32-core legs
                    for rb in pf.iter_batches(
                        batch_size=batch_size, row_groups=[g], columns=columns,
                        use_threads=False,
                    ):
                        yield from process(rb.to_pandas())

    return spark.range(n, numPartitions=n).mapInPandas(read_and_process, schema=schema)
