"""Parse/align operator: PubTator annotation lines -> clusters + relations.

Catalyst decomposition of the reference's ``parse_pubtator``
(/root/reference/seq2rel_ds/common/util.py:114-229).  The unit of work is one
document row carrying its annotation lines as an array column; every step is
a JVM-side higher-order function over that array, so the whole operator is a
single narrow (shuffle-free) stage that scales linearly with input splits.

The only Python in the path is an Arrow-batched pandas UDF that re-anchors
compound-entity member offsets via bounded whole-word regex (util.py:205-209)
— inexpressible in Catalyst, rare in practice, and vectorized per batch.

Output schema (one row per document):
  doc_id   string
  text     string                      -- segment-selected working text
  title    string, abstract string     -- kept for lineage/debug
  clusters array<struct<uid, label, members array<struct<start, end, surface, seq>>>>
  relations array<struct<uids array<string>, label string>>
  n_malformed int                      -- malformed mention lines seen
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from seq2rel_ds_spark.functions.exprs import is_int_col, normalize_ws_col
from seq2rel_ds_spark.operators.textstats import _check_temp_cols

MEMBER_SCHEMA = ArrayType(
    StructType(
        [
            StructField("start", IntegerType()),
            StructField("end", IntegerType()),
            StructField("surface", StringType()),
            StructField("uid", StringType()),
            StructField("label", StringType()),
            StructField("seq", LongType()),
            StructField("compound", IntegerType()),
        ]
    )
)


def _segment_text(segment: str) -> Column:
    """util.py:151-162; abstract-mode docs without an abstract yield NULL and
    are counted + dropped by the caller (the reference raises)."""
    if segment == "both":
        return F.when(F.col("abstract") != "", F.concat_ws(" ", "title", "abstract")).otherwise(
            F.col("title")
        )
    if segment == "title":
        return F.col("title")
    return F.when(F.col("abstract") != "", F.col("abstract"))


def _reanchor_batches(batches):
    """Arrow-batched re-anchor of compound members (util.py:205-209).

    Rewrites (start, end) of members flagged compound using bounded
    whole-word search with first..last backoff.  Pure, deterministic,
    idempotent; batches without compound members pass through untouched.
    """
    from seq2rel_ds_spark.core.text import bounded_word_search

    for pdf in batches:
        fixed_col = []
        for text, members in zip(pdf["text"], pdf["members"]):
            if members is None or not any(m["compound"] for m in members):
                fixed_col.append(members)
                continue
            fixed = []
            for m in members:
                if m["compound"]:
                    span = bounded_word_search(
                        m["surface"], text, lo=int(m["start"]), hi=int(m["end"])
                    )
                    if span is not None:
                        m = {**m, "start": span[0], "end": span[1]}
                fixed.append(m)
            fixed_col.append(fixed)
        pdf = pdf.copy()
        pdf["members"] = fixed_col
        yield pdf


def parse_documents(
    docs: DataFrame,
    text_segment: str = "both",
    skip_malformed: bool = False,
    drop_missing_segment: bool = True,
    reanchor: bool = True,
) -> DataFrame:
    """Normalize (doc_id, title, abstract, ann_lines) into clusters+relations."""
    assert text_segment in ("title", "abstract", "both")
    _check_temp_cols(docs, "_cols", "_mcols", "_rcols")

    is_mention = lambda c: is_int_col(F.get(c, 1)) & is_int_col(F.get(c, 2))  # noqa: E731

    df = docs.withColumn("text", _segment_text(text_segment))
    if drop_missing_segment:
        df = df.filter(F.col("text").isNotNull())

    # split every annotation line ONCE (r07): the mention/relation filters
    # both consume the tokenized lines, and two inline references would
    # re-run the per-line split (no CSE across interpreted HOF exprs)
    df = df.withColumn(
        "_cols", F.transform(F.col("ann_lines"), lambda ln: F.split(F.trim(ln), "\t"))
    )
    df = df.withColumn("_mcols", F.filter(F.col("_cols"), is_mention)).withColumn(
        "_rcols", F.filter(F.col("_cols"), lambda c: ~is_mention(c))
    )

    # Malformed mention lines: wrong column count (util.py:173-184).
    df = df.withColumn(
        "n_malformed",
        F.size(F.filter(F.col("_mcols"), lambda c: (F.size(c) != 6) & (F.size(c) != 7))),
    ).withColumn(
        "_mcols",
        F.filter(F.col("_mcols"), lambda c: (F.size(c) == 6) | (F.size(c) == 7)),
    )
    # skip_malformed=False parity (util.py:183-184) is enforced driver-side
    # via raise_on_malformed(); rows keep flowing distributed either way so a
    # single bad line cannot kill a 100 TB job mid-stage.
    del skip_malformed

    # First-appearance line ordering: stable sort by end offset over input
    # order (sorting_utils.py:24-33) == natural struct sort on (end, idx).
    sorted_lines = F.array_sort(
        F.transform(
            F.col("_mcols"),
            lambda c, i: F.struct(
                F.get(c, 2).try_cast("int").alias("line_end"),
                i.alias("line_idx"),
                c.alias("c"),
            ),
        )
    )

    # Expand compound members in zip order (util.py:196-197): surfaces come
    # from column 3 (6-col) or trailing column 6 (7-col); uids from column 5.
    def line_members(line: Column) -> Column:
        c = line["c"]
        start = F.get(c, 1).try_cast("int")
        end = F.get(c, 2).try_cast("int")
        label = F.get(c, 4)
        surfaces = F.split(F.when(F.size(c) == 7, F.get(c, 6)).otherwise(F.get(c, 3)), r"\|")
        uids = F.split(F.get(c, 5), r"\|")
        pairs = F.arrays_zip(surfaces.alias("surface"), uids.alias("uid"))
        return F.transform(
            pairs,
            lambda p: F.struct(
                start.alias("start"),
                end.alias("end"),
                p["surface"].alias("surface"),
                p["uid"].alias("uid"),
                label.alias("label"),
                F.lit(0).cast("long").alias("seq"),
                (F.size(pairs) > 1).cast("int").alias("compound"),
            ),
        )

    members = F.flatten(F.transform(sorted_lines, line_members))
    # Drop ungrounded (util.py:198-201) and out-of-segment (util.py:188-190).
    members = F.filter(members, lambda m: m["uid"] != "-1")
    if text_segment != "both":
        section_is_title = lambda m: m["start"] < F.length("title")  # noqa: E731
        keep = section_is_title if text_segment == "title" else (
            lambda m: ~section_is_title(m)
        )
        members = F.filter(members, keep)
    # Final first-appearance sequence number.
    members = F.transform(
        members,
        lambda m, i: F.struct(
            m["start"].alias("start"),
            m["end"].alias("end"),
            m["surface"].alias("surface"),
            m["uid"].alias("uid"),
            m["label"].alias("label"),
            i.cast("long").alias("seq"),
            m["compound"].alias("compound"),
        ),
    )
    df = df.withColumn("members", members)

    # Relations are independent of the (offset-only) re-anchor below, so they
    # are built pre-UDF, entirely in Catalyst: (label at col 1, uids from col
    # 2 on) in input order, first-occurrence dedup, validity = every uid
    # grounded (util.py:218-227).
    cluster_uids = F.array_distinct(F.transform("members", lambda m: m["uid"]))
    rels = F.transform(
        F.col("_rcols"),
        lambda c: F.struct(
            F.slice(c, 3, F.greatest(F.size(c) - 2, F.lit(0))).alias("uids"),
            F.get(c, 1).alias("label"),
        ),
    )
    rels = F.array_distinct(rels)
    # bind cluster_uids ONCE (1-element transform, same trick as clusters
    # below): referenced inside the inner lambda it would re-evaluate the
    # full members expression per (relation x uid) with no barrier below
    rels = F.get(
        F.transform(
            F.array(cluster_uids),
            lambda cu: F.filter(
                rels,
                lambda r: F.forall(r["uids"], lambda u: F.array_contains(cu, u)),
            ),
        ),
        0,
    )
    df = df.withColumn("relations", rels)

    # Vectorized compound re-anchor — one Arrow pass, no shuffle.  Runs as a
    # mapInPandas stage: a hard plan boundary, so Catalyst cannot inline the
    # Python output into downstream lambda bodies (PythonUDF is unevaluable
    # inside higher-order functions).  Skipped wholesale when the source
    # cannot produce 7-column compound lines (reanchor=False): then the whole
    # operator is JVM-only.
    out_fields = [
        StructField("doc_id", StringType()),
        StructField("text", StringType()),
        StructField("title", StringType()),
        StructField("abstract", StringType()),
        StructField("n_malformed", IntegerType()),
        StructField("members", MEMBER_SCHEMA),
        StructField(
            "relations",
            ArrayType(
                StructType(
                    [
                        StructField("uids", ArrayType(StringType())),
                        StructField("label", StringType()),
                    ]
                )
            ),
        ),
    ]
    parsed = df.select(
        "doc_id", "text", "title", "abstract", "n_malformed", "members", "relations"
    )
    if reanchor:
        parsed = parsed.mapInPandas(_reanchor_batches, schema=StructType(out_fields))
    # NOTE on expression cost (measured, 2026-08-17): with reanchor=False
    # there is no plan barrier, and CollapseProject inlines the upstream
    # column trees into every downstream lambda reference — codegen
    # subexpression elimination does not reach inside higher-order-function
    # bodies, so an EXPENSIVE ann_lines/members expression re-evaluates per
    # reference.  Sort, Exchange and Generate barriers were all tried and do
    # NOT stop the re-collapse below them.  The fix is to keep upstream
    # column expressions cheap (see __spark_entry__._pubtator_corpus's O(n)
    # offset prefix-sum); real sources read ann_lines from storage, where
    # the reference is a plain column and re-evaluation is free.

    # Clusters: group members by uid, first-appearance order (util.py:211-217).
    # The per-uid filter result is bound ONCE via a 1-element transform
    # (Catalyst has no let-binding in lambdas): naming `members` twice in
    # the lambda body would inline — and re-evaluate — the full upstream
    # members expression per reference when no plan barrier sits below
    # (see the CollapseProject NOTE above; measured ~2x on gate corpora).
    member_uids = F.array_distinct(F.transform("members", lambda m: m["uid"]))
    clusters = F.transform(
        member_uids,
        lambda u: F.get(
            F.transform(
                F.array(F.filter("members", lambda m: m["uid"] == u)),
                lambda ms: F.struct(
                    u.alias("uid"),
                    F.get(ms, 0)["label"].alias("label"),
                    ms.alias("members"),
                ),
            ),
            0,
        ),
    )
    parsed = parsed.withColumn("clusters", clusters)

    return parsed.select(
        "doc_id", "text", "title", "abstract", "clusters", "relations", "n_malformed"
    )


def raise_on_malformed(parsed: DataFrame) -> None:
    """Strict-mode parity with util.py:183-184 (driver-side aggregate)."""
    n = parsed.agg(F.sum("n_malformed")).first()[0] or 0
    if n:
        raise ValueError(f"Found {n} annotation line(s) with an unexpected number of columns")


def mentions_table(parsed: DataFrame) -> DataFrame:
    """Normalized relational view: one row per mention member.

    This exploded form feeds relational analytics (joins/aggregations) and
    the external SQL oracle; the array form remains the execution fast path.
    """
    m = parsed.select(
        "doc_id", F.explode("clusters").alias("cluster")
    ).select(
        "doc_id",
        F.col("cluster.uid").alias("uid"),
        F.col("cluster.label").alias("label"),
        F.explode("cluster.members").alias("member"),
    )
    return m.select(
        "doc_id",
        "uid",
        "label",
        F.col("member.start").alias("start"),
        F.col("member.end").alias("end"),
        F.col("member.surface").alias("surface"),
        F.col("member.seq").alias("seq"),
    )


def relations_table(parsed: DataFrame) -> DataFrame:
    """Normalized relational view: one row per (doc, relation)."""
    return parsed.select(
        "doc_id", F.posexplode("relations").alias("rel_idx", "rel")
    ).select(
        "doc_id",
        "rel_idx",
        F.col("rel.uids").alias("uids"),
        F.col("rel.label").alias("label"),
    )
