"""Arrow-native parquet source for Python-dominated stages.

The standard path (``spark.read.parquet`` -> ``mapInPandas``) decodes
parquet in the JVM, re-serializes every row through the Arrow IPC socket,
and materializes it again in the Python worker — three passes over the
bytes before the first line of user Python runs.  When the *consumer* of
the scan is itself a Python stage (the fused triple-partial scan,
``fused_triple_partials_arrow``), that JVM round trip buys nothing: this
source instead distributes ``(file, row_group)`` splits as plain rows and
lets each Python worker read its split directly with ``pyarrow.parquet`` —
one decode, zero inbound IPC.  The same pattern Petastorm / Ray Data / DL
data loaders use.  It is the flagship's default scan whenever the pages
are a parquet path (bench.py, perfbench); a DataFrame input takes the JVM
scan (``fused_triple_partials``).

Trade-offs:
  * Catalyst sees only the split table — no automatic predicate pushdown or
    column pruning into the scan; callers pass ``columns=`` (projection
    pushdown) explicitly.
  * No schema evolution / partition discovery beyond what the listing does.
  * Only worth it when the next stage is Python anyway; for relational
    consumers the JVM scan with full Catalyst integration wins.

Scale notes: the split table is tiny (one row per row group), so Spark's
scheduling, task retry, speculative execution, and the downstream shuffle
machinery all still apply; split granularity = row groups, the same unit
the JVM scan parallelizes by.  The split LISTING currently supports local
paths only (rejected loudly otherwise — see ``list_row_groups``); the
worker-side reader already goes through pyarrow, whose filesystem layer
streams object-store ranges the same way the JVM reader does, so the
object-store gap is the driver-side listing alone.
"""

from __future__ import annotations

from typing import Callable, Iterator, List, Optional

import pandas as pd
from pyspark.sql import DataFrame, SparkSession


def list_row_groups(spark: SparkSession, path: str) -> List[tuple]:
    """(file, row_group_index) split list for a parquet directory —
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
        n = pq.ParquetFile(f).metadata.num_row_groups
        splits.extend((f, g) for g in range(n))
    return splits


def scan_parquet_python(
    spark: SparkSession,
    path: str,
    process: Callable[[pd.DataFrame], Iterator[pd.DataFrame]],
    schema: str,
    columns: Optional[List[str]] = None,
    batch_size: int = 20000,
) -> DataFrame:
    """Run ``process`` (a pandas-batch generator function) directly over the
    parquet data, reading each (file, row_group) split with pyarrow inside
    the Python worker.

    ``process`` receives pandas DataFrames of ``columns`` (projection pushed
    into the pyarrow reader) and yields output frames matching ``schema`` —
    the same contract as a ``mapInPandas`` body, so a stage can be moved
    between the JVM-scan and Arrow-native paths without rewriting logic.
    """
    splits = list_row_groups(spark, path)
    if not splits:
        return spark.createDataFrame([], schema)
    sdf = spark.createDataFrame(splits, "file string, row_group int")
    sdf = sdf.repartition(len(splits))

    def read_and_process(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import pyarrow.parquet as pq

        for pdf in batches:
            for f, g in zip(pdf["file"], pdf["row_group"]):
                pf = pq.ParquetFile(f)
                # use_threads=False: each Python worker owns ~one core of the
                # executor's budget already — pyarrow's default per-reader
                # thread pool (os.cpu_count() threads PER worker) would
                # oversubscribe the box N-fold at high parallelism, measured
                # as 35% wall variance on steal-free 32-core legs
                for rb in pf.iter_batches(
                    batch_size=batch_size, row_groups=[int(g)], columns=columns,
                    use_threads=False,
                ):
                    yield from process(rb.to_pandas())

    return sdf.mapInPandas(read_and_process, schema=schema)
