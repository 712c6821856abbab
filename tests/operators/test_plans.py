"""Physical-plan quality gates.

These tests pin the plans we designed for, so a regression that silently
adds a shuffle, loses a broadcast, or stops pushing filters into the scan
fails CI — the properties that decide 100 TB behavior, asserted at sf0.001.
"""

import pytest

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


class TestRelationalPlans:
    def test_q1_filter_pushdown_and_pruning(self, spark):
        import __spark_entry__ as em

        df = em.q1_pricing_summary(spark, SF)
        plan = _plan(df)
        # filter reaches the parquet scan
        assert "PushedFilters: [IsNotNull(l_shipdate)" in plan
        # column pruning: only needed columns read
        assert "l_partkey" not in plan.split("ReadSchema")[1].split("\n")[0]

    def test_q3_broadcasts_dimension(self, spark):
        import __spark_entry__ as em

        plan = _plan(em.q3_shipping_priority(spark, SF))
        assert "BroadcastHashJoin" in plan
        assert "PushedFilters: [IsNotNull(c_mktsegment), EqualTo(c_mktsegment,BUILDING)" in plan

    def test_q5_broadcasts_small_dims(self, spark):
        import __spark_entry__ as em

        plan = _plan(em.q5_nation_volume(spark, SF))
        assert plan.count("BroadcastHashJoin") >= 2

    def test_parse_linearize_no_shuffle(self, spark):
        from seq2rel_ds_spark.operators.linearize import linearize
        from seq2rel_ds_spark.operators.parse import parse_documents
        from seq2rel_ds_spark.sources.pubtator import docs_from_strings
        from tests.fixtures import synth

        docs = docs_from_strings(spark, synth.CDR_CORPUS)
        plan = _plan(linearize(parse_documents(docs)))
        assert "Exchange" not in plan

    def test_fused_kg_single_shuffle(self, spark):
        """The staged merge over relation rows: exactly one exchange pair
        (partial->final of the salted aggregation) between its input and
        the result."""
        from seq2rel_ds_spark.operators.triples import canonicalize_triples

        rows = [(f"u{i}", i % 3, f"S{i % 4}", "CAUSES", f"O{i % 5}") for i in range(40)]
        rel = spark.createDataFrame(
            rows, "url string, sent_idx int, subj_uid string, pred string, obj_uid string"
        )
        plan = _plan(canonicalize_triples(rel, salt_buckets=8))
        # two-phase salted agg = exactly 2 exchanges (salted partial -> final)
        assert plan.count("Exchange") == 2

    def test_embedding_neardup_no_cartesian(self, spark):
        """The LSH-bucketed near-dup and top-k plans must never fall back to
        an all-pairs join: candidate generation is an equi-join on
        (band, bucket) / bucket, so no BroadcastNestedLoopJoin or
        CartesianProduct may appear (the round-1 scale-killer)."""
        import __spark_entry__ as em

        for q in (em.q_embedding_neardup, em.q_lsh_topk):
            plan = _plan(q(spark, SF))
            assert "BroadcastNestedLoopJoin" not in plan, q.__name__
            assert "CartesianProduct" not in plan, q.__name__

    def test_bucketed_triples_join_no_exchange(self, spark, tmp_path):
        """bucketBy(subj) table: a subj-keyed self-join must read both sides
        from co-located buckets — zero Exchange in the plan."""
        from seq2rel_ds_spark.plans.catalog import TripleCatalog

        rows = [(f"s{i % 7}", "REL", f"o{i}", i) for i in range(50)]
        df = spark.createDataFrame(rows, "subj string, pred string, obj string, n_support long")
        cat = TripleCatalog(spark, str(tmp_path), subj_buckets=4)
        name = cat.write_triples_bucketed(df, name="t_bucketed_test")
        prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        try:
            # force the sort-merge path: on a real multi-TB triple table the
            # sides are far beyond broadcast size — that is the case
            # bucketing exists for
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
            t = spark.table(name)
            joined = t.alias("a").join(t.alias("b"), "subj").groupBy("subj").count()
            plan = _plan(joined)
            assert "Bucketed: true" in plan
            assert "Exchange" not in plan
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
            spark.sql(f"DROP TABLE IF EXISTS {name}")

    def test_hypernym_filter_broadcasts_mesh(self, spark):
        """The MeSH tree dimension must broadcast into BOTH θ-join sides
        (pos and neg trees) — a shuffled tree join at web scale would move
        the whole candidate table twice."""
        import __spark_entry__ as em

        plan = _plan(em.q_hypernym_filtered(spark, SF))
        assert plan.count("BroadcastHashJoin") >= 2
        assert "CartesianProduct" not in plan

    def test_token_postings_partial_aggregation(self, spark):
        """Inverted-index build: the token groupBy must run partial (map-side
        combine) before the exchange, so the shuffle carries one row per
        (partition, token), not one per posting."""
        import __spark_entry__ as em

        plan = _plan(em.q_token_postings(spark, SF))
        assert "partial_count" in plan or "HashAggregate" in plan.split("Exchange")[0]

    def test_fused_combine_single_exchange(self, spark):
        """The round-4 flagship topology (scan-fused partial triple counts ->
        Catalyst final merge): the physical plan must contain exactly ONE
        Exchange (the final aggregate over pre-combined partials) with a
        partial HashAggregate before it — any second shuffle or a plan that
        ships instance rows would regress the one-shuffle design."""
        from seq2rel_ds_spark.operators.mention import fused_triple_partials
        from seq2rel_ds_spark.operators.triples import canonicalize_from_partials
        from seq2rel_ds_spark.sources import pages as pages_src

        pages = pages_src.synthesize_pages(spark, 30, partitions=2)
        d = pages_src.dictionary_df(spark)
        dict_rows = [
            (r["surface"], r["uid"], r["label"], r["is_canonical"]) for r in d.collect()
        ]
        plan = _plan(
            canonicalize_from_partials(
                fused_triple_partials(pages, dict_rows, pages_src.PREDICATES)
            )
        )
        assert plan.count("Exchange") == 1, plan
        assert "HashAggregate" in plan.split("Exchange")[0], plan

    def test_no_scale_killers_in_any_gate_entry(self, spark):
        """Every gated entry's physical plan must be free of all-pairs join
        shapes.  Documented exceptions, each bounded by construction:
        ann_topk's query side is 10 vectors (the exact brute-force
        baseline — the general shape is lsh_topk, which this test does
        cover); kg_pagerank, host_rank, tfidf_top_terms,
        kg_negative_samples and kg_label_propagation attach a 1-ROW
        broadcast scalar aggregate
        (node/corpus/entity count or avg-weight threshold) via crossJoin —
        a BNLJ whose inner side is a single row is O(rows), shuffle-free
        at any scale (and a constant-key equi-join folds to the same
        shape)."""
        import __spark_entry__ as em

        allowed_bnlj = {
            "ann_topk",
            "kg_pagerank",
            "host_rank",
            "tfidf_top_terms",
            "kg_negative_samples",
            "kg_label_propagation",
        }
        for name, fn in em.queries().items():
            plan = _plan(fn(spark, SF))
            assert "CartesianProduct" not in plan, name
            if name not in allowed_bnlj:
                assert "BroadcastNestedLoopJoin" not in plan, name

    def test_dictionary_join_broadcast_in_link(self, spark):
        from seq2rel_ds_spark.operators.mention import detect_mentions, link_mentions
        from seq2rel_ds_spark.sources import pages as pages_src
        from seq2rel_ds_spark.operators.extract import extract_stage

        pages = pages_src.synthesize_pages(spark, 20, partitions=2)
        d = pages_src.dictionary_df(spark)
        m = detect_mentions(extract_stage(pages), [r["surface"] for r in d.collect()])
        plan = _plan(link_mentions(m, d))
        assert "BroadcastHashJoin" in plan
        # exactly one real data exchange (the url repartition); broadcast
        # exchanges don't move the fact table
        non_broadcast_exchanges = [
            ln for ln in plan.splitlines() if "Exchange hashpartitioning" in ln
        ]
        assert len(non_broadcast_exchanges) == 1
