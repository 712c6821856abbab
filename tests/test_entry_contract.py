"""Regression net for the driver contract (__spark_entry__):

* every queries() entry has an oracle_sql() entry and vice versa
* every Spark query ANALYZES against the sf0.001 tables (catches schema
  drift / broken column references without paying full execution)
* every oracle parses and binds in DuckDB against the same tables
  (EXPLAIN — catches SQL syntax/column breakage cheaply)

Value-level equivalence is the driver's job (replicated in
tools/check_oracles.py); this test keeps the registry from silently
rotting between those runs.
"""

from __future__ import annotations

import duckdb
import pytest

import __spark_entry__ as em

SF = "/root/testdata/sf0.001"
TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def test_registry_keys_match():
    assert set(em.queries()) == set(em.oracle_sql())


def test_kg_terms_guard_rejects_sql_quotes(monkeypatch):
    """KG_TERMS are spliced unescaped into selectExpr text; a term that is
    not a plain lowercase word fails before any SQL is built."""
    monkeypatch.setattr(em, "KG_TERMS", em.KG_TERMS + ["it's"])
    with pytest.raises(AssertionError, match="it's"):
        em.q_kg_cooccurrence(None, SF)


def test_every_query_analyzes(spark):
    for name, fn in em.queries().items():
        df = fn(spark, SF)
        assert df.columns, name


def test_parse_gate_hard_branches_fire(spark):
    """The gated parse corpus must exercise the hard branches, not just the
    happy path: every injection class occurs with non-zero count in the
    corpus, and the parse operator visibly handled each (malformed counter
    fired, compound members landed re-anchored onto first-hit spans,
    ungrounded/invalid uids dropped, duplicate relations deduped)."""
    from pyspark.sql import functions as F

    from seq2rel_ds_spark.operators.parse import (
        mentions_table,
        parse_documents,
        relations_table,
    )

    corpus = em._pubtator_corpus(spark, SF).cache()

    # injection-class counts computed DISTRIBUTED (Catalyst higher-order
    # functions over the ann_lines array) — the audit follows the repo's own
    # no-driver-side-collect rule instead of being its one exception
    def cols(ln):
        return F.split(F.trim(ln), "\t")

    def n_lines(pred):
        per_doc = F.size(F.filter(F.col("ann_lines"), pred))
        return corpus.agg(F.sum(per_doc)).first()[0] or 0

    rel_lines = F.filter(
        F.col("ann_lines"),
        lambda ln: (F.size(cols(ln)) == 4) & (F.get(cols(ln), 1) == F.lit("COOCC")),
    )
    kinds = {
        "compound7": n_lines(lambda ln: F.size(cols(ln)) == 7),
        "ungrounded": n_lines(
            lambda ln: (F.size(cols(ln)) == 6) & F.get(cols(ln), 5).endswith("|-1")
        ),
        "malformed": n_lines(
            lambda ln: (F.size(cols(ln)) == 4)
            & (F.get(cols(ln), 3) == F.lit("malformed"))
        ),
        "invalid_rel": n_lines(
            lambda ln: (F.size(cols(ln)) == 4)
            & (F.get(cols(ln), 1) == F.lit("COOCC"))
            & (F.get(cols(ln), 2) == F.lit("zzz"))
        ),
        "dup_rel": corpus.agg(
            F.sum(F.size(rel_lines) - F.size(F.array_distinct(rel_lines)))
        ).first()[0]
        or 0,
        "title": n_lines(
            lambda ln: (F.size(cols(ln)) == 6)
            & (F.get(cols(ln), 1) == F.lit("0"))
            & F.get(cols(ln), 3).startswith("d")
        ),
    }
    assert all(v > 0 for v in kinds.values()), kinds

    parsed = parse_documents(corpus).cache()
    assert (parsed.agg(F.sum("n_malformed")).first()[0] or 0) > 0
    m = mentions_table(parsed)
    # re-anchored compound members coincide with the first real hit -> the
    # mention multiset contains duplicated (uid, span) member rows
    assert (
        m.groupBy("doc_id", "uid", "start", "end").count().filter("count > 1").count() > 0
    )
    assert m.filter(F.col("uid") == "-1").count() == 0
    rels = relations_table(parsed)
    assert rels.filter(F.array_contains("uids", "zzz")).count() == 0
    assert (
        rels.groupBy("doc_id", "uids", "label").count().filter("count > 1").count() == 0
    )
    corpus.unpersist()
    parsed.unpersist()


def test_every_oracle_binds_in_duckdb():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF}/{t}.parquet'")
    for name, sql in em.oracle_sql().items():
        try:
            con.execute(f"EXPLAIN {sql}")
        except Exception as e:  # pragma: no cover - assertion formatting
            pytest.fail(f"oracle {name} failed to bind: {e}")
