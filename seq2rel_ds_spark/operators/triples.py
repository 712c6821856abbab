"""Relation extraction + canonical triple emission (web path).

Stages (north_star wording in parentheses):
  * ``extract_relations`` — pattern-based subject/predicate/object detection
    within sentence windows over linked mentions (the web-scale stand-in for
    the reference's gold relation lines).  Pure Catalyst: a broadcast
    predicate dictionary, window functions for nearest-mention selection.
  * ``canonicalize_triples`` — deterministic entity-ID assignment
    (md5 of the canonical key), salted two-phase dedup to control
    hub-entity skew, explicit repartition after the dedup stage.  The
    staged pipeline's merge over relation rows.
  * ``canonicalize_from_partials`` — the same output from the fused
    kernel's per-task (subj_uid, pred, obj_uid, cnt) partials, whose
    map-side combine replaces the salting.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def extract_relations(
    linked_mentions: DataFrame,
    cues: DataFrame,
) -> DataFrame:
    """(url, sent_idx, subj_uid, pred, obj_uid) from sentence windows.

    ``cues`` are the predicate cue rows emitted by the sentence scanner
    (url, sent_idx, cue_pos, pred) — produced in the same Arrow pass as the
    mentions, so no document text is ever re-joined here.  A sentence
    expresses a relation when it contains a cue; the subject is the mention
    ending closest before the cue, the object the mention starting closest
    after it (two windows over small typed rows).
    """
    located = cues.select("url", "sent_idx", "cue_pos", "pred")
    joined = located.join(linked_mentions, ["url", "sent_idx"])
    # One hash aggregate instead of (2 windows + 2 joins): subject = the
    # mention with the largest end before the cue (tie: largest uid), object
    # = the smallest start after it (tie: smallest uid).  max_by/min_by skip
    # rows whose ordering expression is NULL, i.e. the wrong side of the cue.
    agg = joined.groupBy("url", "sent_idx", "cue_pos", "pred").agg(
        F.max_by(
            "uid",
            F.when(
                F.col("end") <= F.col("cue_pos"), F.struct(F.col("end"), F.col("uid"))
            ),
        ).alias("subj_uid"),
        F.min_by(
            "uid",
            F.when(
                F.col("start") > F.col("cue_pos"), F.struct(F.col("start"), F.col("uid"))
            ),
        ).alias("obj_uid"),
    )
    return agg.filter(
        F.col("subj_uid").isNotNull() & F.col("obj_uid").isNotNull()
    ).select("url", "sent_idx", "subj_uid", "pred", "obj_uid")


def canonicalize_from_partials(
    partials: DataFrame,
    output_partitions: int = None,
) -> DataFrame:
    """Final canonicalization over pre-aggregated (subj_uid, pred, obj_uid,
    cnt) partial rows (``fused_triple_partials[_arrow]``) — same output
    contract as ``canonicalize_triples``.

    The producing scan task IS the partial phase here (map-side combine fused
    into the Python stage), so rows entering this one shuffle are bounded by
    distinct-triples-per-task — the identical skew bound the salted two-phase
    aggregate enforces, achieved one stage earlier: a hub entity arrives as
    at most one partial row per task, never as a hot groupBy key.  The md5
    entity-id assignment runs on the merged (small) aggregate only.
    Parity with ``canonicalize_triples`` over the modular relation rows is
    pinned by tests/operators/test_fused_scan.py.
    """
    final = (
        partials.groupBy("subj_uid", "pred", "obj_uid")
        .agg(F.sum("cnt").alias("n_support"))
        .select(
            F.md5(F.col("subj_uid")).alias("subj"),
            F.col("pred"),
            F.md5(F.col("obj_uid")).alias("obj"),
            F.col("subj_uid").alias("subj_key"),
            F.col("obj_uid").alias("obj_key"),
            F.col("n_support"),
        )
    )
    if output_partitions:
        final = final.repartition(output_partitions, "subj")
    return final


def canonicalize_triples(
    relations: DataFrame,
    salt_buckets: int = 64,
    output_partitions: int = None,
) -> DataFrame:
    """(subj, pred, obj, n_support) canonical triple table.

    * deterministic entity ids: md5 of the canonical key (stable across
      runs, partitionings and cluster sizes)
    * salted two-phase dedup/aggregation: hub entities (a subj appearing in
      billions of pages) are spread over ``salt_buckets`` partial groups
      before the final merge — the mandated groupBy-skew control
    * explicit repartition after dedup (north_star) sized by the caller
    """
    keyed = relations.select(
        F.md5(F.col("subj_uid")).alias("subj"),
        F.col("pred"),
        F.md5(F.col("obj_uid")).alias("obj"),
        F.col("subj_uid").alias("subj_key"),
        F.col("obj_uid").alias("obj_key"),
        "url",
    )
    # two-phase salted aggregation: partial count per (triple, salt) then final
    partial = keyed.groupBy(
        "subj", "pred", "obj", "subj_key", "obj_key",
        F.pmod(F.xxhash64("url"), F.lit(salt_buckets)).alias("_salt"),
    ).agg(F.count("*").alias("cnt"))
    final = partial.groupBy("subj", "pred", "obj", "subj_key", "obj_key").agg(
        F.sum("cnt").alias("n_support")
    )
    if output_partitions:
        final = final.repartition(output_partitions, "subj")
    return final
