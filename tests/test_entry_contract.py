"""Regression net for the driver contract (__spark_entry__):

* every queries() entry has an oracle_sql() entry and vice versa
* every Spark query ANALYZES against the sf0.001 tables (catches schema
  drift / broken column references without paying full execution)
* every oracle parses and binds in DuckDB against the same tables
  (EXPLAIN — catches SQL syntax/column breakage cheaply)
* the queries() order and every oracle_sql() text are pinned: neither may
  change
* _t infers each table's schema once and notices a rewritten table

Value-level equivalence is the driver's job (replicated in
tools/check_oracles.py); this test keeps the registry from silently
rotting between those runs.
"""

from __future__ import annotations

import hashlib
import uuid

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

import __spark_entry__ as em

SF = "/root/testdata/sf0.001"
TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()

# queries() keys in registry order -> sha256 of the entry's oracle_sql() text
ORACLE_SHA256 = {
    "kg_label_propagation": "55d1a330757a16c35e526ff96281a05b7f9163e58cc667b06030a4310ea834ed",
    "events_interval_join": "6edb16d0bf08d3304b50fe3ddcbff21ac5cb889badb613dd9bfab1b0846255d7",
    "doc_sample_stratified": "ada1e67cf7e20a3c392bea5cda47cc283a13d538f541443e200660da4841449c",
    "cms_heavy_hitters": "cf73eb29e4c52bcca2e6792b739094936bcde40f6df31a07239b7761227e004a",
    "hinted_lines": "8b5a2bf8ba826910122cbf89dc2d4bf80e060588d48a7c6318b573f028a72c5c",
    "media_bmp_decode": "156b08c72549c5f14dd33f5b04afa4f72fb806606c7316660ae50ed8626e9fc4",
    "media_wav_decode": "37cb216517477e5b2951c933016182b97fa4fa68852b72dd790928b290ff7bce",
    "triples_stream_merge": "1734ec39fe70cf284737e5170bb756b148d119716ebe3f50586e7e61f3d4de0c",
    "sessions_stream_closed": "4709d58cd0f01ddd275b8d0c4e8192f959cb6ebdf8104bd9ebf5d75cf67f61e0",
    "crawl_stream_metrics": "0557e2bed6d850cadecce60946e72fa6b9ec51a74418e42ac72be1136bf849a1",
    "pipeline_resume": "4c2112efafee911f5ba58c9f1e0dfd651c409004231c6588c9acd7d2663f9f9c",
    "ngram_jaccard_capped": "cdb44c0094cbbdd3442e709ccd382dcd19f9dbe70fd1f7671827c275b9a211f8",
    "doc_decontaminate": "94c6140f70fbce87d2e17dd9279811835f6faa37cc5e4fd92d802dffe17b3754",
    "doc_repetition": "cfd0cc0831c18f077e7d5eb2b09a88365f5b67de8b92364d0151b4f010466b2e",
    "seq_pack": "95815f08f6031dd7e64f5dc8b26f38f1cca3e11a1dd314e144b8b0f8723cf4f5",
    "host_links": "51c10f1843f74dd622673d8c30cea824b8a44cbcd1500913033c31579a7ad942",
    "quality_filter": "549c62637b637c6cab345a4e56441d3487dbae4a9478d6f0ba2f03076cf584e1",
    "doc_boilerplate": "0d987d23a16dd8ff4141351dc83d9843a89623dc7c6c881b2c74d240e10a0436",
    "url_canonical": "6c5ce16396dde7a95f735024e85975f1569271eea8c6fdcb1add6dde7263f0fb",
    "crawl_dedup": "c1feb9abbc679b1167356c57fb5fc41f63222191d350df26f7657d675456af86",
    "source_token_cap": "cebe4ac4014ef7b613ef3244beeaaccbec565aa4866c562a1ed1f499d7fc9746",
    "line_dedup": "4f603dbd667d34eb0feaa0afbd84e871e4398352f937309fe293b6dca1e3a972",
    "host_rank": "72a1ececfdcf66d415ac81dad2bb8e00cb5c2e344f6c1401c5b1209ef3e8b35e",
    "anchor_texts": "ba1b264d2b1a97c5c201eb825d802c10fa892da05760681534cec161f80f3cee",
    "doc_rarity": "6f318cc0551154c881ce4966c6c7cfd5a9a8d5eb6b607d90994f215b2dba2d1e",
    "bloom_seen": "f3d460cc827cc0ae9cb4c602815cdbad5a2ff793b438026fa6cedf4097b1d259",
    "tfidf_top_terms": "4f6cd2fe74bff2b447a68ae2871870ceac604332472fbf1982c83dcff81e6b55",
    "token_postings": "d118eaf6b73901c9fd3602c361569d8a32f00410c8bf83812c205af53534ea5b",
    "split_assignment": "a224f8b6c113e2fd424791c394647a8c51704200371ebf0d4c186056561cbfcd",
    "skewed_dedup": "ba274bb6918be4be44caffb4cafc0d93922ba60a43fe0c4f1f85a47f1d763b6d",
    "events_asof_join": "127e8990137921e00557f6b6e07a7bdca5a88b6296ca69b1219f71cd00751ba6",
    "kmv_distinct_sketch": "54d197924d2fb55cf92b8f55ba81cad46d508739d19a135c63f963f497713706",
    "kg_bfs_reach": "ea615963a1e71fa737361c229c869de42b61c8252a2cfa5af212576142e6218b",
    "kg_negative_samples": "62672a76b2bcc01ab5bfab1888caf7e7e3f970c52097c1d0a7f6b22d45f62207",
    "kg_pagerank": "417f6689ffe42d5d9f1d4181f45c68ec1255223bad30832b81a8b09e13f07953",
    "hypernym_filtered": "cb92eecb2b74fef18b99221dec9a4b973217cb3f110d3113de6bc279551be17f",
    "pubtator_mentions_title": "f2beef5961c871b739665110d008487ef90dcf0ed0a7669346aa7ce61b2c8eea",
    "pubtator_mentions_abstract": "0b04abcefbdb8e9448fe113a99a40b473eac8c55eb14a9f66e4b3aa91fe6dab2",
    "docred_lines": "7c6537e9f2521dfc943975f3eefdd737bf487c24a30bb116b8823955e5b085fa",
    "gda_lines": "78335285037b0455ed89e6089cf3e41710691daaa03ecc3c4fc3c5876f6fb7f7",
    "dgm_lines": "1e84d13d09de04c2c4429952deb59c2feac7d5ae730df31850a8b7424c6cd818",
    "extract_text": "6b48ad0d1988692a1603eff2b97bd2acff5b0678aec7591f0e7f3b6d660724a4",
    "kg_triangles": "1db872be9dcbf954d77e79d32a81c1309a5a00beab1a0bc605af424b4e0d074b",
    "events_funnel": "5612eac8fc8edacb67859c01b5fbe405207174c78b1b770978ff47025359b3f2",
    "events_retention": "43965e9c05903b01cc298236cd44521dc062355d11ad79a297e24d162308dae9",
    "doc_redact": "56c9977340633350ad0a4b07ccfb29611db4380b6cd4a9e36d38c7310da60bb3",
    "doc_fp_roll": "99e2e1a3026f2662c8245eb2ef15769ea257ff464b8d2e9d74f599f981a60f25",
    "cc_components": "be28126e62ac6b9b1d84a331ee0930628b2bbc0bddf353e57ec63b33ec243fef",
    "media_image_features": "8ee1953c624b8e5b7b0e609e5ebd02c04ca2a054ee519d373ebd821eadec112b",
    "media_audio_features": "8321d13ba65be744c310791b9abbe61532effb7b39d10347284d41aee807eac5",
    "media_frame_sample": "9091b7cfdcc42b70fedb4197ac5d2fd3a804868ba79029c26e38fd15a3032f78",
    "neardup_clusters": "7719b1b9d901229753f1ad8b331797afc28e16959749511d183669137dd93b86",
    "lsh_topk": "f521e79bc8653f31be72ca8b7eef9e113e8671c817c4fb746372cce180b80e62",
    "pubtator_mentions": "16249e6f50b3edfcc219118073f6085f5b3d0407424b962af2b3c599b98f52d5",
    "pubtator_relations": "8597a88069b8fde796a72a003be6d29814182cb0698eba68211a0034b60828bc",
    "linearized_lines": "89d801c30c6e9ae5f197f8e83f954c91b9ac2680da84bbdecfb3ed80a32ab7ae",
    "linearized_hints": "97c9442268303b22e74667937910266e7cfdb4353b0dafe72f1e5767546ce329",
    "q1_pricing_summary": "774024bcdebe981733b272b6ea4ce3b9bfbc20c632e0d729ca371fd3e20b8532",
    "events_hourly": "5be0419a3b887675cb312148f47199874530ae8bc4cf388894a623ec41e65468",
    "exact_dedup": "95bafb872a4f3cd54308ff3d6c7319add589938568dd3a8dca7dea08d9bc5216",
    "kg_mentions": "59f9b43cd3698b5d45192e1d3aba6a32ad01b800920e7c892a3f404eb392fe2d",
    "kg_triples": "848d8fe207d648a7fba44c004adcde4714fc9a0012fb0d2ead20de61b963b6a9",
    "kg_degree": "b91bdcb485acb62c550e33ff03c1583e19684bfc83d36a11446d652671f73f2e",
    "kg_two_hop": "8dd94d2d021852ae9da6b730d8e9158f873cf75485efa7eccfb221dbb938a163",
    "q3_shipping_priority": "79839414513534a3db4e11bd8c20b1f9825274f698a47f8118e333183b0ff39b",
    "q5_nation_volume": "7ce77b708a65516aaed3691681e70b701db9c3753e79a233547a70997a562de4",
    "events_sessions": "2e873cc8c7e183070a6de1729c71152241278f9720f6247019b7fb9a8de0677d",
    "events_props_json": "7075d301451bf0c005ba7e34efaff47d97a10bc9ba3006deafa758439dce985f",
    "events_rollup": "d6f410605105bad9dcab0f76101c659ed26ed5472a769014f42d8a315e51606e",
    "doc_token_stats": "2a0f9e64dd82b0e712b2c6ec6242d22ad547199169f4ecc862bdf77973c56c7c",
    "doc_quality": "b315ad301ecd2a7aac0baccb9e091b90a394e08cae98de030298ff3dc74934e2",
    "doc_fingerprint": "5d97cf1db6b554923ca509a9fbfa7e94115337b692055d1d50264aad5edab461",
    "token_histogram": "b960e372114fbf03ed11850d040dd9a427bd29f7c377fc55cc3cac8e4527d628",
    "doc_lang_guess": "e847d2d21a4d40bdce63a6ffa78204c396e0cfbe38b7b7cc2ad25b0cb080ecfa",
    "ngram_jaccard": "7625e122b614439d33a9cb69224a6a3d44d3397b20e3af54d74ba58f5f82d274",
    "minhash_lsh": "96421222faebc5f7ad8c7f1b230d033f7f8948645238f947c054fb3c0d4e17e7",
    "simhash_pairs": "f8f6da4d205e9186270b124d296375e2164842f32092e1e984e06a70542045d6",
    "embedding_neardup": "8ebdac7cb8275a59784dad96525a940674367aa31cdde641b0c19b16d563c0ee",
    "ann_topk": "d334366f93525f5db8346b52641d5906d479f899ba6b9e165f9d31ef30a25985",
    "kg_cooccurrence": "a8dd5d8876a71fa8c746ac13d2e8436851212be32945dbdbf972a00aab41cddc",
}


def test_registry_keys_match():
    assert set(em.queries()) == set(em.oracle_sql())


def test_registry_order_and_oracle_text_pinned():
    assert list(em.queries()) == list(ORACLE_SHA256)
    got = {k: hashlib.sha256(v.encode()).hexdigest() for k, v in em.oracle_sql().items()}
    assert got == ORACLE_SHA256


def _jobs_run(spark, fn):
    """(Spark jobs ``fn`` launched, its result)."""
    sc = spark.sparkContext
    group = f"jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group)), out


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_table_schema_inferred_once(spark, tmp_path):
    pq.write_table(pa.table({"k": [1, 2, 3], "v": ["a", "b", None]}), tmp_path / "t.parquet")
    n1, first = _jobs_run(spark, lambda: em._t(spark, str(tmp_path), "t"))
    n2, again = _jobs_run(spark, lambda: em._t(spark, str(tmp_path), "t"))
    # the first read runs Spark's schema-inference job, the second none
    assert (n1, n2) == (1, 0)
    plain = spark.read.parquet(str(tmp_path / "t.parquet"))
    for df in (first, again):
        assert df.schema == plain.schema
        assert _rows(df) == _rows(plain)


@pytest.mark.parametrize("file", ["t.parquet", "t.parquet/part-0.parquet"])
def test_table_rewritten_in_place_is_reinferred(spark, tmp_path, file):
    # truncating and rewriting a directory table's part file leaves the
    # directory's own stat as it was; only the part file's stat shows it
    path = tmp_path / file
    path.parent.mkdir(exist_ok=True)
    pq.write_table(pa.table({"k": [1]}), path)
    assert _rows(em._t(spark, str(tmp_path), "t")) == [(1,)]
    pq.write_table(pa.table({"k": [2], "x": ["b"]}), path)
    df = em._t(spark, str(tmp_path), "t")
    assert df.columns == ["k", "x"]
    assert _rows(df) == [(2, "b")]


def test_rewritten_directory_table_is_reinferred(spark, tmp_path):
    path = str(tmp_path / "t.parquet")
    spark.range(2).write.parquet(path)
    assert _rows(em._t(spark, str(tmp_path), "t")) == [(0,), (1,)]
    spark.range(2).selectExpr("id", "id * 10 AS x").write.mode("overwrite").parquet(path)
    df = em._t(spark, str(tmp_path), "t")
    assert df.columns == ["id", "x"]
    assert _rows(df) == [(0, 0), (1, 10)]


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
