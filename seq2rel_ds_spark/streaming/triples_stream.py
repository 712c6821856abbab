"""Incremental triple maintenance: a page stream -> continuously-updated
canonical triple counts.

Scale shape (the LSM/delta pattern, NOT read-modify-write):
  * each micro-batch runs the fused doc-local scan with its map-side
    combine (``fused_triple_partials``), merges the per-task partials into
    batch-local canonical counts and APPENDS them to an increments table,
    stamped with the epoch id — appending partials is O(batch), while
    merging into a 100 TB base table per batch would rewrite the world
  * reads merge lazily: dedupe replayed epochs (a restarted
    ``foreachBatch`` may re-run an epoch; its rows are bit-identical, so
    (epoch_id, subj, pred, obj) dedup restores exactly-once), then sum
    partials per triple
  * ``compact_increments`` periodically folds the increment log into a
    compacted base (one aggregation job), bounding read amplification

The batch operators run unchanged inside ``foreachBatch`` — doc-local
stages are narrow and the canonical aggregation is batch-scoped.  Each
epoch's pages arrive as a DataFrame, not a path, so the epoch takes the
JVM-scan partials rather than the Arrow-native source.
"""

from __future__ import annotations

from typing import Dict, List

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TRIPLE_KEY = ["subj", "pred", "obj"]


def start_triples_stream(
    pages_stream: DataFrame,
    dictionary_rows: List[tuple],
    predicates: Dict[str, str],
    increments_path: str,
    checkpoint_path: str,
    available_now: bool = True,
    partial_scan=None,
):
    """Start the incremental maintenance query; returns the StreamingQuery.

    ``available_now=True`` drains everything currently in the source and
    stops (the batch-catchup trigger); pass False for a continuous run.

    ``partial_scan`` (batch DataFrame -> (subj_uid, pred, obj_uid, cnt)
    partials) overrides the default fused page scan — the epoch-append /
    replay-dedup / merge machinery is scan-agnostic, and the override lets
    the correctness gate drive it with a SQL-replicable derivation (the
    fused scan itself is parity- and gate-audited separately).
    """
    from seq2rel_ds_spark.operators.mention import fused_triple_partials
    from seq2rel_ds_spark.operators.triples import canonicalize_from_partials

    def upsert(batch_df: DataFrame, epoch_id: int) -> None:
        partials = (
            partial_scan(batch_df)
            if partial_scan is not None
            else fused_triple_partials(batch_df, dictionary_rows, predicates)
        )
        inc = canonicalize_from_partials(partials)
        (
            inc.withColumn("epoch_id", F.lit(int(epoch_id)))
            .write.mode("append")
            .parquet(increments_path)
        )

    writer = (
        pages_stream.writeStream.foreachBatch(upsert)
        .option("checkpointLocation", checkpoint_path)
        .outputMode("update")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def merged_triples(spark: SparkSession, increments_path: str) -> DataFrame:
    """Current canonical counts: replayed-epoch dedup + partial-sum merge."""
    inc = spark.read.parquet(increments_path)
    return (
        inc.dropDuplicates(["epoch_id", *TRIPLE_KEY])
        .groupBy(*TRIPLE_KEY)
        .agg(F.sum("n_support").alias("n_support"))
    )


def compact_increments(
    spark: SparkSession, increments_path: str, compacted_path: str
) -> int:
    """Fold the increment log into a compacted base (epoch_id = -1 rows so
    future merges treat the base as one more increment); returns row count.

    Production note: run between stream restarts (or against a snapshot) —
    the final move of base over log needs a metastore/Iceberg commit to be
    atomic with concurrent appends.
    """
    merged = merged_triples(spark, increments_path).withColumn(
        "epoch_id", F.lit(-1)
    )
    merged.write.mode("overwrite").parquet(compacted_path)
    out = spark.read.parquet(compacted_path)
    return out.count()
