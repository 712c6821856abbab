"""The fused kernel (extract+scan+link+relations+map-side combine in one
Arrow pass) must equal the modular Catalyst operators: row-identical
relations per document, and identical canonical triples over both partial
scan sources."""

from types import SimpleNamespace

import pytest


@pytest.fixture(scope="module")
def kg(spark, tmp_path_factory):
    """Pages written to parquet and the modular relation rows over them
    (extract_stage -> scan_sentences -> link_mentions -> extract_relations),
    collected once for every test here."""
    from seq2rel_ds_spark.operators.extract import extract_stage
    from seq2rel_ds_spark.operators.mention import (
        cue_rows,
        link_mentions,
        mention_rows,
        scan_sentences,
    )
    from seq2rel_ds_spark.operators.triples import extract_relations
    from seq2rel_ds_spark.sources import pages as pages_src

    path = str(tmp_path_factory.mktemp("fused") / "pages")
    pages_src.synthesize_pages(spark, 150, partitions=3).write.parquet(path)
    d = pages_src.dictionary_df(spark)
    dict_rows = [
        (r["surface"], r["uid"], r["label"], r["is_canonical"]) for r in d.collect()
    ]
    scans = scan_sentences(
        extract_stage(spark.read.parquet(path)),
        [r[0] for r in dict_rows],
        pages_src.PREDICATES,
    ).cache()
    relations = extract_relations(link_mentions(mention_rows(scans), d), cue_rows(scans))
    rows = [tuple(r) for r in relations.collect()]
    schema = relations.schema
    scans.unpersist()
    return SimpleNamespace(
        path=path, dict_rows=dict_rows, preds=pages_src.PREDICATES, rows=rows, schema=schema
    )


class TestFusedRelationScan:
    def test_equals_modular_path(self, kg):
        """The kernel's per-document relations, keyed by url, equal the
        modular relation rows."""
        import pyarrow.parquet as pq

        from seq2rel_ds_spark.operators.extract import extract_text_from_html
        from seq2rel_ds_spark.operators.mention import _make_doc_relations

        relations = _make_doc_relations(kg.dict_rows, kg.preds)
        pages = pq.read_table(kg.path, columns=["url", "html"]).to_pylist()
        fused = sorted(
            (p["url"], *rel)
            for p in pages
            for rel in relations(extract_text_from_html(p["html"]))
        )
        assert fused == sorted(kg.rows) and len(fused) > 0

    def test_fused_combine_partials_equal_instance_path(self, spark, kg):
        """The flagship path (map-side partial triple counts in the Python
        task, final merge in Catalyst) must produce the identical canonical
        triple table — keys AND n_support — as the modular relation rows
        through the salted two-phase aggregate, on BOTH scan sources."""
        from seq2rel_ds_spark.operators.mention import (
            fused_triple_partials,
            fused_triple_partials_arrow,
        )
        from seq2rel_ds_spark.operators.triples import (
            canonicalize_from_partials,
            canonicalize_triples,
        )

        def table(df):
            return sorted(tuple(r) for r in df.collect())

        reference = table(
            canonicalize_triples(spark.createDataFrame(kg.rows, kg.schema), salt_buckets=8)
        )
        combine_jvm = table(
            canonicalize_from_partials(
                fused_triple_partials(spark.read.parquet(kg.path), kg.dict_rows, kg.preds)
            )
        )
        combine_arrow = table(
            canonicalize_from_partials(
                fused_triple_partials_arrow(
                    spark, kg.path, kg.dict_rows, kg.preds, batch_size=64
                )
            )
        )
        assert reference == combine_jvm == combine_arrow and len(reference) > 0

    def test_core_link_semantics(self):
        from seq2rel_ds_spark.core.link import (
            build_dictionary,
            link_doc_mentions,
            select_relations,
        )

        d = build_dictionary(
            [
                ("vexal", "DRUG1", "DRUG", True),
                ("vexal", "GENE9", "GENE", True),  # ambiguous surface
                ("cardiosis", "DIS1", "DISEASE", True),
                ("vexanib", "DRUG1", "DRUG", False),
            ]
        )
        mentions = [
            (0, 0, 5, "vexal"),
            (0, 20, 29, "cardiosis"),
            (1, 40, 47, "vexanib"),  # second DRUG mention -> DRUG coherence wins
        ]
        linked = link_doc_mentions(mentions, d)
        by_span = {(m[1], m[2]): m[4] for m in linked}
        assert by_span[(0, 5)] == "DRUG1"  # DRUG label_hits=2 > GENE=1
        rels = select_relations(linked, [(0, 10, "CAUSES")])
        assert rels == [(0, "DRUG1", "CAUSES", "DIS1")]

    def test_unknown_surface_dropped(self):
        from seq2rel_ds_spark.core.link import build_dictionary, link_doc_mentions

        d = build_dictionary([("known", "U1", "X", True)])
        assert link_doc_mentions([(0, 0, 7, "unknown")], d) == []
