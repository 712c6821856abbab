"""Tests: dedup / similarity / textstats / split / connected components /
web-KG pipeline (incl. checkpoint-resume idempotency) / streaming."""

import shutil
import tempfile
import time

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def docs_df(spark):
    rows = [
        (0, "the quick brown fox jumps over the lazy dog"),
        (1, "the quick brown fox jumps over the lazy dog"),  # exact dup of 0
        (2, "the quick brown fox jumps over the lazy cat"),  # near dup
        (3, "completely different text about spark engines"),
        (4, "The  Quick   Brown Fox Jumps Over The Lazy Dog"),  # ws/case dup of 0
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


class TestDedup:
    def test_exact_dedup_groups(self, spark, docs_df):
        from seq2rel_ds_spark.operators.dedup import exact_dedup, exact_dedup_groups

        groups = exact_dedup_groups(docs_df).collect()
        assert len(groups) == 1
        assert groups[0]["keep_id"] == 0 and groups[0]["n_dups"] == 3
        # salted two-phase produces identical groups
        salted = exact_dedup_groups(docs_df, salt_buckets=8).collect()
        assert salted[0]["keep_id"] == 0 and salted[0]["n_dups"] == 3
        survivors = {r["doc_id"] for r in exact_dedup(docs_df).collect()}
        assert survivors == {0, 2, 3}

    def test_ngram_jaccard(self, spark, docs_df):
        from seq2rel_ds_spark.operators.dedup import ngram_jaccard_pairs

        pairs = {
            (r["id_a"], r["id_b"]): r["jaccard"]
            for r in ngram_jaccard_pairs(docs_df, threshold=0.5, n=2).collect()
        }
        assert (0, 1) in pairs and pairs[(0, 1)] == 1.0
        assert (0, 4) in pairs and pairs[(0, 4)] == 1.0
        assert (0, 2) in pairs and 0.5 <= pairs[(0, 2)] < 1.0
        assert not any(3 in p for p in pairs)

    @pytest.mark.parametrize("max_shingle_df", [2, 0])
    def test_ngram_jaccard_matches_brute_force(self, spark, max_shingle_df):
        """Every pair the stop-shingle cut keeps (all pairs sharing a shingle
        when the cut is off) with its exact Jaccard over the FULL bigram
        sets, footer and mid-frequency stop shingles included."""
        import re
        from itertools import combinations

        from seq2rel_ds_spark.operators.dedup import ngram_jaccard_pairs

        texts = [
            "the cat sat on the mat",
            "the cat sat on a rug",
            "a dog ran in the park",
            "the  Dog ran in the yard",
            "alpha beta gamma delta",
            "alpha beta epsilon zeta",
            "alpha beta eta theta",
            "completely unrelated words here",
            "solo",
        ]
        # every doc ends with the same footer: its bigrams have df = n_docs
        rows = [(i, t + " shared legal footer") for i, t in enumerate(texts)]
        docs = spark.createDataFrame(rows, "doc_id long, text string")

        toks = {i: " ".join(t.split()).lower().split(" ") for i, t in rows}
        sets = {i: {" ".join(w[k : k + 2]) for k in range(len(w) - 1)} for i, w in toks.items()}
        df = {s: sum(s in v for v in sets.values()) for v in sets.values() for s in v}
        expected = {}
        for a, b in combinations(sorted(sets), 2):
            shared = sets[a] & sets[b]
            if any(max_shingle_df == 0 or df[s] <= max_shingle_df for s in shared):
                expected[(a, b)] = len(shared) / len(sets[a] | sets[b])

        out = ngram_jaccard_pairs(docs, threshold=0.0, n=2, max_shingle_df=max_shingle_df)
        got = {(r["id_a"], r["id_b"]): r["jaccard"] for r in out.collect()}
        assert got.keys() == expected.keys()
        for pair, j in expected.items():
            assert got[pair] == pytest.approx(j, abs=5e-5), pair
        if max_shingle_df:
            # docs 4-6 share only stop shingles ("alpha beta", df 3, and the footer)
            assert (4, 5) not in got
            # one shingle pass: every branch reads one reused shingle exchange
            final = out._jdf.queryExecution().executedPlan().executedPlan().toString()
            assert len(re.findall(r"^[\s:|+-]*Generate ", final, re.M)) == 1, final
        else:
            assert (4, 5) in got

    def test_minhash_lsh_matches_exact_on_high_threshold(self, spark, docs_df):
        from seq2rel_ds_spark.operators.dedup import minhash_lsh_pairs, ngram_jaccard_pairs

        exact = {
            (r["id_a"], r["id_b"])
            for r in ngram_jaccard_pairs(docs_df, threshold=0.5, n=2).collect()
        }
        lsh = {
            (r["id_a"], r["id_b"])
            for r in minhash_lsh_pairs(docs_df, threshold=0.5, n=2).collect()
        }
        # LSH output is verified, so it is a subset; identical dups must survive
        assert lsh <= exact
        assert (0, 1) in lsh and (0, 4) in lsh

    def test_neardup_cluster_assignments(self, spark, docs_df):
        """Pairs A~B, B~C (A!~C) must still resolve into ONE cluster with a
        single survivor — the component-level dedup guarantee."""
        from seq2rel_ds_spark.operators.dedup import neardup_cluster_assignments

        got = {
            r["doc_id"]: r["keep_id"]
            for r in neardup_cluster_assignments(
                docs_df, threshold=0.5, n=2
            ).collect()
        }
        # docs 0/1/4 are dups, 2 a near-dup of them, 3 unrelated (absent)
        assert got == {0: 0, 1: 0, 2: 0, 4: 0}

    def test_simhash_pairs(self, spark, docs_df):
        from seq2rel_ds_spark.operators.dedup import simhash_pairs

        pairs = {
            (r["id_a"], r["id_b"]): r["hamming"]
            for r in simhash_pairs(docs_df, max_hamming=3, chunks=4).collect()
        }
        assert pairs[(0, 1)] == 0 and pairs[(0, 4)] == 0 and pairs[(1, 4)] == 0


class TestRedaction:
    def test_with_redaction(self, spark):
        from seq2rel_ds_spark.operators.textstats import with_redaction

        rows = [
            (0, "mail me at jo.doe+x@corp.example.org today"),
            (1, "call 555-123-4567 or ping 10.0.0.1 now"),
            (2, "nothing sensitive here"),
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        got = {r["doc_id"]: r for r in with_redaction(df).collect()}
        assert got[0]["redacted"] == "mail me at [EMAIL] today"
        assert got[0]["n_redactions"] == 1
        assert got[1]["redacted"] == "call [PHONE] or ping [IP] now"
        assert got[1]["n_redactions"] == 2
        assert got[2]["redacted"] == "nothing sensitive here"
        assert got[2]["n_redactions"] == 0


class TestSimilarity:
    def test_brute_force_topk(self, spark):
        from seq2rel_ds_spark.operators.similarity import brute_force_topk

        rows = [
            (0, [1.0, 0.0]),
            (1, [0.9, 0.1]),
            (2, [0.0, 1.0]),
            (3, [-1.0, 0.0]),
        ]
        df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        out = brute_force_topk(df, df.filter("vec_id = 0"), k=2).collect()
        assert [r["corpus_id"] for r in sorted(out, key=lambda r: r["rank"])] == [1, 2]

    def test_embedding_neardup_lsh_recall(self, spark):
        """Banded sign-LSH candidates verify to a subset of the exact
        all-pairs result, and every planted high-cosine near-dup is found
        (miss probability ~1e-8 at the 8x2 banding used here)."""
        import math

        from seq2rel_ds_spark.operators.dedup import embedding_neardup_pairs

        rows = []
        for i in range(24):
            base = [math.cos(i * 0.7 + d) for d in range(8)]
            rows.append((2 * i, base))
            # planted near-duplicate: tiny perturbation of one coordinate
            pert = list(base)
            pert[i % 8] += 0.01
            rows.append((2 * i + 1, pert))
        df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        exact = {
            (r["id_a"], r["id_b"]): r["cosine"]
            for r in embedding_neardup_pairs(
                df, dim=8, threshold=0.98, all_pairs=True
            ).collect()
        }
        lsh = {
            (r["id_a"], r["id_b"]): r["cosine"]
            for r in embedding_neardup_pairs(
                df, dim=8, threshold=0.98, bands=8, planes_per_band=2
            ).collect()
        }
        assert set(lsh) <= set(exact)
        for i in range(24):
            assert (2 * i, 2 * i + 1) in lsh
        for k, v in lsh.items():
            assert exact[k] == v

    def test_lsh_topk_subset_of_exact(self, spark):
        from seq2rel_ds_spark.operators.similarity import brute_force_topk, lsh_topk

        import math

        rows = [
            (i, [math.cos(i / 7.0), math.sin(i / 7.0), (i % 5) / 5.0, 1.0])
            for i in range(40)
        ]
        df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        q = df.filter("vec_id < 3")
        exact = brute_force_topk(df, q, k=5)
        approx = lsh_topk(df, q, dim=4, k=5, planes=4)
        # every approx hit must be a real vector with correct cosine; and the
        # top-1 in-bucket neighbor ordering must agree with exact where present
        e = {(r["query_id"], r["corpus_id"]): r["cosine"] for r in exact.collect()}
        for r in approx.collect():
            key = (r["query_id"], r["corpus_id"])
            if key in e:
                assert abs(e[key] - r["cosine"]) < 1e-9


class TestTextStats:
    def test_stats_and_fingerprint(self, spark, docs_df):
        from seq2rel_ds_spark.operators.textstats import (
            with_fingerprint,
            with_quality_score,
            with_token_stats,
        )

        row = with_token_stats(docs_df).filter("doc_id = 0").first()
        assert row["n_tokens"] == 9 and row["n_distinct_tokens"] == 8
        q = with_quality_score(docs_df).filter("doc_id = 0").first()
        assert 0.0 <= q["quality_score"] <= 1.0
        fp = {r["doc_id"]: r["fp_md5"] for r in with_fingerprint(docs_df).collect()}
        assert fp[0] == fp[1] == fp[4]
        assert fp[0] != fp[2]

    def test_lang_id(self, spark):
        from seq2rel_ds_spark.operators.textstats import with_lang_id

        rows = [
            (0, "the cat sat of the mat and went to sleep in peace"),
            (1, "der hund ist gut und die katze ist auch gut"),
            (2, "zzz qqq www"),
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        out = {r["doc_id"]: r["lang_guess"] for r in with_lang_id(df).collect()}
        assert out[0] == "en" and out[1] == "de" and out[2] == "und"

    def test_temp_column_clash_raises(self, spark, docs_df):
        from seq2rel_ds_spark.operators.textstats import with_quality_score

        clash = docs_df.withColumn("_x", F.lit(1))
        with pytest.raises(ValueError, match=r"\['_x'\]"):
            with_quality_score(clash)
        # other inputs keep their columns and gain only the score
        out = with_quality_score(docs_df.withColumn("x", F.lit(1)))
        assert out.columns == docs_df.columns + ["x", "quality_score"]


class TestSplit:
    def test_hash_split_deterministic_partition(self, spark):
        from seq2rel_ds_spark.operators.split import hash_split

        df = spark.range(1000).withColumn("key", F.col("id").cast("string"))
        parts = hash_split(df, "key")
        counts = {k: v.count() for k, v in parts.items()}
        assert sum(counts.values()) == 1000
        assert 600 < counts["train"] < 800
        # stability: same rows land in the same split on re-run
        again = hash_split(df, "key")
        assert parts["valid"].exceptAll(again["valid"]).count() == 0

    def test_hash_split_thirds_cover_everything(self, spark):
        """Rounded bucket widths that don't sum to `buckets` (thirds ->
        333+333+333) must not drop the trailing buckets: the final split
        takes the remainder and every row lands in exactly one split."""
        from seq2rel_ds_spark.operators.split import hash_split

        df = spark.range(3000).withColumn("key", F.col("id").cast("string"))
        parts = hash_split(df, "key", weights=(1 / 3, 1 / 3, 1 / 3))
        assert sum(v.count() for v in parts.values()) == 3000

    def test_split_rejects_more_weights_than_names(self, spark):
        """ADVICE r3: >3 weights used to silently drop tail buckets (rows
        assigned to NO split); both split functions now raise instead."""
        import pytest

        from seq2rel_ds_spark.operators.split import hash_split, md5_split

        df = spark.range(10).withColumnRenamed("id", "key")
        for fn in (hash_split, md5_split):
            with pytest.raises(ValueError, match="at most 3 splits"):
                fn(df, "key", weights=(0.25, 0.25, 0.25, 0.25))

    def test_md5_split_covers_and_is_stable(self, spark):
        """Engine-portable md5 split: every row in exactly one split,
        ~weight-proportional sizes, identical assignment on re-run, and the
        bucket math matches a driver-side md5 recomputation."""
        import hashlib

        from seq2rel_ds_spark.operators.split import md5_split

        df = spark.range(1000).withColumn("key", F.col("id").cast("string"))
        parts = md5_split(df, "key", salt="t")
        counts = {k: v.count() for k, v in parts.items()}
        assert sum(counts.values()) == 1000
        assert 600 < counts["train"] < 800
        again = md5_split(df, "key", salt="t")
        assert parts["valid"].exceptAll(again["valid"]).count() == 0
        valid_ids = {r["id"] for r in parts["valid"].collect()}
        expect = {
            i
            for i in range(1000)
            if 179 <= int(hashlib.md5(f"t:{i}".encode()).hexdigest()[:2], 16) < 205
        }
        assert valid_ids == expect

    def test_stratified_sample(self, spark):
        """Per-stratum Bernoulli keep: rate-proportional sizes, repeatable,
        a pure filter (no shuffle), md5 draw matches a driver-side
        recomputation, and out-of-range rates raise."""
        import hashlib

        from seq2rel_ds_spark.operators.split import stratified_sample

        df = spark.range(1000).select(
            F.col("id"),
            F.when(F.col("id") % 2 == 0, "en").otherwise("de").alias("lang"),
        )
        kept = stratified_sample(df, "lang", {"en": 0.2}, key="id", salt="t")
        rows = kept.collect()
        en = [r for r in rows if r["lang"] == "en"]
        assert len([r for r in rows if r["lang"] == "de"]) == 500  # default 1.0
        assert 50 < len(en) < 150  # ~100 of 500 at rate 0.2
        expect = {
            i
            for i in range(0, 1000, 2)
            if int(hashlib.md5(f"t:{i}".encode()).hexdigest()[:8], 16)
            < 0.2 * 2**32
        }
        assert {r["id"] for r in en} == expect
        again = stratified_sample(df, "lang", {"en": 0.2}, key="id", salt="t")
        assert kept.exceptAll(again).count() == 0
        assert "Exchange" not in kept._jdf.queryExecution().executedPlan().toString()
        with pytest.raises(ValueError, match=r"in \[0, 1\]"):
            stratified_sample(df, "lang", {"en": 1.5}, key="id")

    def test_random_split_seeded(self, spark):
        from seq2rel_ds_spark.operators.split import random_split

        df = spark.range(500)
        a = random_split(df)[0].count()
        b = random_split(df)[0].count()
        assert a == b
        with pytest.raises(ValueError):
            random_split(df, weights=(0.5, 0.1, 0.1))


class TestConnectedComponents:
    def test_matches_union_find(self, spark):
        import random

        from seq2rel_ds_spark.operators.cluster import connected_components

        rng = random.Random(7)
        edges = [(rng.randrange(200), rng.randrange(200)) for _ in range(180)]
        df = spark.createDataFrame(edges, "src long, dst long")
        got = {
            r["node"]: r["component"] for r in connected_components(df).collect()
        }

        # reference union-find
        parent = list(range(200))

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            if a != b:
                ra, rb = find(a), find(b)
                if ra != rb:
                    parent[max(ra, rb)] = min(ra, rb)
        want = {}
        touched = {x for e in edges for x in e if e[0] != e[1]}
        for x in touched:
            want[x] = find(x)
        assert got == want

    def test_chain_and_star(self, spark):
        from seq2rel_ds_spark.operators.cluster import connected_components

        edges = [(1, 2), (2, 3), (3, 4), (10, 11), (10, 12)]
        df = spark.createDataFrame(edges, "src long, dst long")
        got = {r["node"]: r["component"] for r in connected_components(df).collect()}
        assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 12: 10}

    def test_raises_when_max_iter_too_low(self, spark):
        """A capped run must fail loudly instead of silently picking an
        arbitrary parent per node (the round-1 dropDuplicates hazard)."""
        import pytest

        from seq2rel_ds_spark.operators.cluster import connected_components

        chain = [(i, i + 1) for i in range(64)]
        df = spark.createDataFrame(chain, "src long, dst long")
        with pytest.raises(RuntimeError, match="did not converge"):
            connected_components(df, max_iter=1)


class TestWebKG:
    def test_end_to_end_prf_and_resume(self, spark):
        from seq2rel_ds_spark.plans.web_kg import run_web_kg, triple_prf
        from seq2rel_ds_spark.sources.pages import gold_triples

        wd = tempfile.mkdtemp(prefix="webkg_test_")
        try:
            triples = run_web_kg(spark, 30, wd, partitions=4, use_cc=False)
            prf = triple_prf(triples, gold_triples(spark, 30, partitions=4))
            assert prf["precision"] == 1.0 and prf["recall"] == 1.0

            # resume: rerun must skip all stages and reproduce identical rows
            before = sorted(map(tuple, triples.collect()))
            from seq2rel_ds_spark.plans.pipeline import Pipeline

            triples2 = run_web_kg(spark, 30, wd, partitions=4, use_cc=False)
            after = sorted(map(tuple, triples2.collect()))
            assert before == after
        finally:
            shutil.rmtree(wd, ignore_errors=True)

    def test_extraction_byte_identical(self, spark):
        from seq2rel_ds_spark.operators.extract import verify_extraction
        from seq2rel_ds_spark.sources.pages import synthesize_pages

        pages = synthesize_pages(spark, 40, partitions=4)
        assert verify_extraction(pages).count() == 0

    def test_generation_partition_independent(self, spark):
        from seq2rel_ds_spark.sources.pages import synthesize_pages

        a = synthesize_pages(spark, 20, partitions=2).orderBy("url").collect()
        b = synthesize_pages(spark, 20, partitions=7).orderBy("url").collect()
        assert [tuple(r) for r in a] == [tuple(r) for r in b]


class TestStreaming:
    def test_streaming_mentions(self, spark, tmp_path):
        from seq2rel_ds_spark.sources.pages import dictionary_df, synthesize_pages
        from seq2rel_ds_spark.streaming.pages_stream import (
            read_pages_stream,
            streaming_mentions,
        )

        src = str(tmp_path / "pages_in")
        out = str(tmp_path / "mentions_out")
        chk = str(tmp_path / "chk")
        synthesize_pages(spark, 10, partitions=2).write.parquet(src)
        surfaces = [r["surface"] for r in dictionary_df(spark).collect()]
        stream = streaming_mentions(read_pages_stream(spark, src), surfaces)
        q = (
            stream.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", chk)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        got = spark.read.parquet(out)
        assert got.count() > 0
        assert got.filter(F.col("surface").isNull()).count() == 0


class TestStreamingTriples:
    def test_incremental_merge_equals_batch(self, spark, tmp_path):
        """Two page drops through the incremental maintenance stream must
        merge to exactly the generator's gold counts over the union (the
        batch reference: the number of pages stating each triple, under
        md5 entity ids); compaction preserves them."""
        import hashlib
        from collections import Counter

        from seq2rel_ds_spark.sources.pages import (
            PREDICATES,
            dictionary_df,
            gold_triples,
            synthesize_pages,
        )
        from seq2rel_ds_spark.streaming.pages_stream import read_pages_stream
        from seq2rel_ds_spark.streaming.triples_stream import (
            compact_increments,
            merged_triples,
            start_triples_stream,
        )

        src = str(tmp_path / "pages_in")
        inc = str(tmp_path / "increments")
        chk = str(tmp_path / "chk")
        all_pages = synthesize_pages(spark, 40, partitions=2)
        half = "CAST(split(url, '/')[3] AS INT) < 20"
        all_pages.filter(half).write.mode("append").parquet(src)
        all_pages.filter(f"NOT ({half})").write.mode("append").parquet(src)

        dict_rows = [
            (r["surface"], r["uid"], r["label"], r["is_canonical"])
            for r in dictionary_df(spark).collect()
        ]
        q = start_triples_stream(
            read_pages_stream(spark, src, max_files=1),
            dict_rows,
            PREDICATES,
            inc,
            chk,
        )
        q.awaitTermination(180)

        got = {
            (r["subj"], r["pred"], r["obj"]): r["n_support"]
            for r in merged_triples(spark, inc).collect()
        }
        md5 = lambda s: hashlib.md5(s.encode()).hexdigest()  # noqa: E731
        want = dict(
            Counter(
                (md5(r["subj"]), r["pred"], md5(r["obj"]))
                for r in gold_triples(spark, 40, partitions=2).collect()
            )
        )
        assert got == want and len(want) > 0

        comp = str(tmp_path / "compacted")
        n = compact_increments(spark, inc, comp)
        assert n == len(want)
        re_merged = {
            (r["subj"], r["pred"], r["obj"]): r["n_support"]
            for r in merged_triples(spark, comp).collect()
        }
        assert re_merged == want


class TestPipelineResumeRobustness:
    def test_partial_write_recomputes_stage(self, spark, tmp_path):
        """A stage dir without _SUCCESS (killed mid-write) must re-run."""
        import json as _json
        import os

        from seq2rel_ds_spark.plans.pipeline import Pipeline

        root = str(tmp_path / "pipe")
        df = spark.range(100).withColumnRenamed("id", "v")

        p1 = Pipeline(spark, root, run_fingerprint="fp1")
        p1.stage("a", lambda _: df)
        p1.stage("b", lambda o: o["a"].selectExpr("v * 2 as w"))
        assert [r.skipped for r in p1.results] == [False, False]

        # simulate a kill between stages: destroy stage b's success marker
        os.remove(f"{root}/stage=b/_SUCCESS")

        p2 = Pipeline(spark, root, run_fingerprint="fp1")
        p2.stage("a", lambda _: df)
        p2.stage("b", lambda o: o["a"].selectExpr("v * 2 as w"))
        assert [r.skipped for r in p2.results] == [True, False]
        got = {r["w"] for r in spark.read.parquet(f"{root}/stage=b").collect()}
        assert got == {2 * i for i in range(100)}

    def test_fingerprint_change_invalidates(self, spark, tmp_path):
        from seq2rel_ds_spark.plans.pipeline import Pipeline

        root = str(tmp_path / "pipe2")
        df = spark.range(10)
        p1 = Pipeline(spark, root, run_fingerprint="n=10")
        p1.stage("a", lambda _: df)
        p2 = Pipeline(spark, root, run_fingerprint="n=20")
        p2.stage("a", lambda _: spark.range(20))
        assert p2.results[0].skipped is False
        assert spark.read.parquet(f"{root}/stage=a").count() == 20

    def test_lineage_rows_written(self, spark, tmp_path):
        from seq2rel_ds_spark.plans.pipeline import Pipeline

        root = str(tmp_path / "pipe3")
        p = Pipeline(spark, root, run_fingerprint="x")
        p.stage("a", lambda _: spark.range(50))
        lin = p.lineage()
        assert lin is not None
        rows = lin.collect()
        assert sum(r["rows"] for r in rows) == 50
        assert all(r["stage"] == "a" for r in rows)


class TestStatefulStreaming:
    def test_sessionization_with_state(self, spark, tmp_path):
        """applyInPandasWithState sessionization over a file-source stream."""
        import datetime as dt

        from seq2rel_ds_spark.streaming.sessions import streaming_sessions

        base = dt.datetime(2024, 1, 1, 0, 0, 0)
        rows = []
        # user 1: two sessions separated by a 2h gap
        for m in (0, 5, 10):
            rows.append((1, base + dt.timedelta(minutes=m)))
        for m in (130, 135):
            rows.append((1, base + dt.timedelta(minutes=m)))
        # user 2: one session
        rows.append((2, base))
        src = str(tmp_path / "events_in")
        spark.createDataFrame(rows, "user_id long, ts timestamp").write.parquet(src)

        stream = (
            spark.readStream.schema("user_id long, ts timestamp")
            .parquet(src)
        )
        out = str(tmp_path / "sessions_out")
        chk = str(tmp_path / "chk")
        q = (
            streaming_sessions(stream)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", chk)
            .trigger(availableNow=True)
            .start()
        )
        # availableNow with the default processing-time timeout never ends
        # by itself, and processAllAvailable() never returns either: every
        # trigger runs another no-data batch to poll for timeouts.  Wait
        # until the reported batches have taken every input row (progress is
        # reported after the sink commits), then stop the query so it does
        # not keep running empty micro-batches in the shared session.
        deadline = time.monotonic() + 120
        try:
            while sum(p["numInputRows"] for p in q.recentProgress) < len(rows):
                assert time.monotonic() < deadline, q.recentProgress
                time.sleep(0.2)
        finally:
            q.stop()
        got = spark.read.parquet(out).collect()
        # only CLOSED sessions emit (user 1's first session closed by the
        # 2h-later event); open sessions remain in state
        assert len(got) == 1
        r = got[0]
        assert r["user_id"] == 1 and r["n_events"] == 3
        assert (r["session_end"] - r["session_start"]).total_seconds() == 600
