"""DataFrame parse+linearize vs the pure core and the reference itself."""

import pytest

from seq2rel_ds_spark.core import pubtator as core_pubtator
from seq2rel_ds_spark.operators.linearize import linearize
from seq2rel_ds_spark.operators.parse import (
    mentions_table,
    parse_documents,
    raise_on_malformed,
    relations_table,
)
from seq2rel_ds_spark.sources.pubtator import docs_from_strings
from tests.fixtures import synth


def _spark_lines(spark, corpus, segment="both", hints=False):
    docs = docs_from_strings(spark, corpus)
    parsed = parse_documents(docs, text_segment=segment)
    out = linearize(parsed, hints=hints)
    rows = out.orderBy("doc_id").collect()
    return [r["line"] for r in rows]


def _core_lines(corpus, segment="both", hints=False, skip_malformed=False):
    docs = core_pubtator.parse_corpus(corpus, text_segment=segment, skip_malformed=skip_malformed)
    return [d.linearize(hints=hints) for d in sorted(docs, key=lambda d: d.doc_id)]


CASES = [
    ("cdr", "both"),
    ("cdr", "title"),
    ("nary", "abstract"),
    ("same_pair", "abstract"),
    ("hypernym", "both"),
]


class TestSparkParseLinearize:
    @pytest.mark.parametrize("name,segment", CASES)
    def test_matches_core(self, spark, name, segment):
        corpus = synth.all_fixture_corpora()[name]
        assert _spark_lines(spark, corpus, segment) == _core_lines(corpus, segment)

    @pytest.mark.parametrize("name,segment", CASES)
    def test_matches_reference(self, spark, reference, name, segment):
        corpus = synth.all_fixture_corpora()[name]
        anns = reference.util.parse_pubtator(
            pubtator_content=corpus,
            text_segment=reference.util.TextSegment(segment),
        )
        ref_lines = reference.util.pubtator_to_seq2rel(anns)
        ref_sorted = [
            line
            for _, line in sorted(
                zip([a.pmid for a in anns], ref_lines), key=lambda t: t[0]
            )
        ]
        assert _spark_lines(spark, corpus, segment) == ref_sorted

    def test_hints_match_reference(self, spark, reference):
        corpus = synth.CDR_CORPUS
        anns = reference.util.parse_pubtator(pubtator_content=corpus)
        ref_lines = reference.util.pubtator_to_seq2rel(anns, entity_hinting=None)
        for a in anns:
            a.insert_hints()
        ref_hinted = sorted(f"{a.text.strip()}\t{a.to_string().strip()}" for a in anns)
        mine = sorted(_spark_lines(spark, corpus, hints=True))
        assert mine == ref_hinted

    def test_malformed_counted_and_raises(self, spark):
        docs = docs_from_strings(spark, synth.MALFORMED_CORPUS)
        parsed = parse_documents(docs, skip_malformed=True)
        assert parsed.select("n_malformed").first()[0] == 1
        with pytest.raises(ValueError):
            raise_on_malformed(parsed)

    def test_temp_column_clash_raises(self, spark):
        from pyspark.sql import functions as F

        docs = docs_from_strings(spark, synth.CDR_CORPUS)
        for name in ("_cols", "_mcols", "_rcols"):
            with pytest.raises(ValueError, match=rf"\['{name}'\]"):
                parse_documents(docs.withColumn(name, F.lit(1)))
        # other extra columns are not checked, and the output schema is fixed
        out = parse_documents(docs.withColumn("cols", F.lit(1)))
        assert out.columns == parse_documents(docs).columns

    def test_normalized_views(self, spark):
        docs = docs_from_strings(spark, synth.CDR_CORPUS)
        parsed = parse_documents(docs)
        m = mentions_table(parsed)
        r = relations_table(parsed)
        assert m.filter("doc_id = '101' and uid = 'C001'").count() == 3
        # ungrounded mention dropped
        assert m.filter("uid = '-1'").count() == 0
        rels = {
            (row["doc_id"], tuple(row["uids"]), row["label"]) for row in r.collect()
        }
        assert ("101", ("C001", "D900"), "CID") in rels
        assert ("101", ("C999", "D900"), "CID") not in rels

    def test_sort_rels_false_seeded_shuffle(self, spark):
        """Ablation path (schemas.py:125 random.shuffle -> seeded
        deterministic shuffle): run-to-run identical, token-multiset equal
        to the sorted form, order differing for at least one fixture doc."""
        docs = docs_from_strings(spark, synth.CDR_CORPUS)
        parsed = parse_documents(docs)

        def lines(sort_rels):
            rows = linearize(parsed, sort_rels=sort_rels).orderBy("doc_id").collect()
            return [r["relation_string"] for r in rows]

        shuffled = lines(False)
        assert shuffled == lines(False)  # seeded => deterministic
        sorted_ = lines(True)
        assert [sorted(s.split(" ")) for s in shuffled] == [
            sorted(s.split(" ")) for s in sorted_
        ]

    def test_no_shuffle_in_plan(self, spark):
        """The parse+linearize path must stay a single narrow stage."""
        docs = docs_from_strings(spark, synth.CDR_CORPUS)
        plan = linearize(parse_documents(docs))._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan
