"""The benchmark's workloads.

Each workload is a closed loop with one client: an operation is a fixed
list of steps, each a call into the program's public API timed from
outside.  A workload builds its inputs from the seed (``setup``, repeated
so set-up time has a median), checks every operation's outputs against an independent expectation (``check``,
untimed), and in a traced run splits its time over the program's layers
(``layers``).
"""

from __future__ import annotations

import glob
import hashlib
import json
import math
import os
import random
import shutil
import statistics
import time
from collections import Counter
from typing import Callable, Dict, List, Tuple

Step = Tuple[str, Callable[[], object]]
Figures = Dict[str, Tuple[float, str]]


def dir_bytes(path: str) -> int:
    total = 0
    for base, _dirs, files in os.walk(path):
        for name in files:
            total += os.path.getsize(os.path.join(base, name))
    return total


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _timed(fn) -> float:
    t0 = time.perf_counter()
    fn()
    return time.perf_counter() - t0


def _md5(s: str) -> str:
    return hashlib.md5(s.encode()).hexdigest()


def _diff(name: str, got: dict, want: dict) -> List[str]:
    if got == want:
        return []
    missing = sum(1 for k in want if k not in got)
    extra = sum(1 for k in got if k not in want)
    wrong = sum(1 for k in want if k in got and got[k] != want[k])
    return [
        f"{name}: {len(got)} rows vs {len(want)} expected "
        f"({missing} missing, {extra} extra, {wrong} with other counts)"
    ]


class Workload:
    name = ""
    # timed operations a run makes even when they outlast --seconds
    min_ops = 2
    # untimed, checked operations before the timed ones
    warmup_ops = 4
    # warm-up steps run on nproc threads at once, else one after another
    warmup_concurrent = True

    def __init__(self, spark, seed: int, scale: float):
        self.spark = spark
        self.seed = seed
        self.scale = scale

    def setup(self, dest: str) -> None:
        """Generate this run's inputs under ``dest`` (timed, repeated)."""
        raise NotImplementedError

    def prepare_checks(self) -> None:
        """Untimed: build what ``check`` compares against."""

    def steps(self, op_dir: str) -> List[Step]:
        """One operation: its steps, in order."""
        raise NotImplementedError

    def check(self, outputs: Dict[str, object]) -> List[str]:
        """Mismatches of one operation's outputs; empty when correct."""
        return []

    def named(self, step_s: Dict[str, float]) -> Figures:
        """The workload's own end-to-end figures, by name, with units."""
        return {}

    def layers(self, stats: dict) -> Figures:
        """Traced only: figures of this workload's own layers.

        ``stats`` holds the traced operations' median ``op_s`` and per-step
        medians ``step_s`` and ``step_exchanges`` (Exchange nodes executed).
        Raises ``LayerCheckError`` when a probe's output is wrong."""
        return {}


# -- web KG -------------------------------------------------------------------


def _page_rows(doc_ids) -> dict:
    from datetime import datetime, timezone

    from seq2rel_ds_spark.sources import pages as src

    entities, _ = src.knowledge_base()
    rows = {"url": [], "warc_ts": [], "html": [], "text": [], "lang": []}
    for doc_id in doc_ids:
        doc_id = int(doc_id)
        title, sentences, _gold = src._compose_doc(doc_id, entities)
        rows["url"].append(f"https://synth.example/{doc_id}")
        rows["warc_ts"].append(datetime(2024, 1, 1, tzinfo=timezone.utc))
        rows["html"].append(src._render_html(title, sentences))
        rows["text"].append(src.page_text(title, " ".join(sentences)))
        rows["lang"].append("en")
    return rows


def _pages_batches(batches):
    import pandas as pd

    for pdf in batches:
        yield pd.DataFrame(_page_rows(pdf["id"]))


def write_pages(spark, dest: str, lo: int, n: int, files: int) -> None:
    """Pages for doc ids [lo, lo + n) in ``files`` parquet files, rendered by
    the program's per-doc deterministic generator."""
    from seq2rel_ds_spark.sources.pages import _PAGES_SCHEMA

    spark.range(lo, lo + n, numPartitions=files).mapInPandas(
        _pages_batches, schema=_PAGES_SCHEMA
    ).write.mode("overwrite").parquet(dest)


def _gold_batches(batches):
    import pandas as pd

    from seq2rel_ds_spark.sources import pages as src

    entities, _ = src.knowledge_base()
    for pdf in batches:
        rows = [t for d in pdf["id"] for t in src._compose_doc(int(d), entities)[2]]
        yield pd.DataFrame(rows, columns=["subj", "pred", "obj"])


def gold_counts(spark, lo: int, n: int, parts: int) -> Counter:
    """Gold n_support per (subj, pred, obj): the number of pages stating it,
    from the generator's own gold for doc ids [lo, lo + n)."""
    gold = spark.range(lo, lo + n, numPartitions=parts).mapInPandas(
        _gold_batches, schema="subj string, pred string, obj string"
    )
    rows = gold.groupBy("subj", "pred", "obj").count().collect()
    return Counter({(r["subj"], r["pred"], r["obj"]): r["count"] for r in rows})


def check_keyed(name: str, rows, gold: Counter) -> List[str]:
    """Rows with (subj, pred, obj, subj_key, obj_key, n_support) against gold."""
    got, bad_ids = {}, 0
    for r in rows:
        got[(r["subj_key"], r["pred"], r["obj_key"])] = r["n_support"]
        bad_ids += r["subj"] != _md5(r["subj_key"]) or r["obj"] != _md5(r["obj_key"])
    out = _diff(name, got, dict(gold))
    if bad_ids:
        out.append(f"{name}: {bad_ids} entity ids are not md5 of their keys")
    return out


def check_hashed(name: str, rows, gold: Counter) -> List[str]:
    """Rows with md5 entity ids only (subj, pred, obj, n_support) against gold."""
    want = {(_md5(s), p, _md5(o)): n for (s, p, o), n in gold.items()}
    got = {(r["subj"], r["pred"], r["obj"]): r["n_support"] for r in rows}
    return _diff(name, got, want)


class WebKGFused(Workload):
    name = "webkg_fused"
    # large enough that one operation is mostly per-doc work rather than
    # the engine's fixed cost per job (about 2 s on 4 cores), small enough
    # that a run with three timed operations stays near 55 s
    base_docs = 160_000
    files = 8
    min_ops = 3
    warmup_ops = 1

    def __init__(self, spark, seed, scale):
        super().__init__(spark, seed, scale)
        self.docs = max(200, int(self.base_docs * scale))
        # the seed picks the doc-id range
        self.lo = (seed % 100_000) * self.docs

    def setup(self, dest: str) -> None:
        from seq2rel_ds_spark.sources import pages as src

        self.root = dest
        self.pages = os.path.join(dest, "pages")
        write_pages(self.spark, self.pages, self.lo, self.docs, self.files)
        self.dict_rows = [tuple(r) for r in src.dictionary_df(self.spark).collect()]
        self.predicates = dict(src.PREDICATES)

    def prepare_checks(self) -> None:
        self.gold = gold_counts(self.spark, self.lo, self.docs, self.files)

    def steps(self, op_dir):
        from seq2rel_ds_spark.operators.mention import fused_triple_partials_arrow
        from seq2rel_ds_spark.operators.triples import canonicalize_from_partials

        def fused():
            partials = fused_triple_partials_arrow(
                self.spark, self.pages, self.dict_rows, self.predicates
            )
            return canonicalize_from_partials(partials).collect()

        return [("fused", fused)]

    def check(self, outputs):
        return check_keyed("fused", outputs["fused"], self.gold)

    def named(self, step_s):
        return {"kg_docs_per_s": (self.docs / step_s["fused"], "docs/s")}

    def _kernel_layers(self, op_s: float) -> Figures:
        import pyarrow.parquet as pq

        from seq2rel_ds_spark.operators.extract import extract_text_from_html
        from seq2rel_ds_spark.operators.mention import (
            fused_triple_partials_arrow,
            make_triple_partial_processor,
        )
        from seq2rel_ds_spark.sources.arrow_pages import list_row_groups

        from perfbench.probes import nproc

        splits = list_row_groups(self.spark, self.pages)
        # one split, decoded and scanned in this plain process
        t0 = time.perf_counter()
        pdf = (
            pq.ParquetFile(splits[0][0])
            .read_row_group(splits[0][1], columns=["html"], use_threads=False)
            .to_pandas()
        )
        decode = time.perf_counter() - t0
        n = len(pdf)
        extract = _timed(lambda: [extract_text_from_html(bytes(h)) for h in pdf["html"]])
        process = make_triple_partial_processor(self.dict_rows, self.predicates)
        t0 = time.perf_counter()
        partials = next(iter(process(pdf)))
        kernel = time.perf_counter() - t0
        instances = int(partials["cnt"].sum())
        scan = _timed(
            lambda: _noop(
                fused_triple_partials_arrow(self.spark, self.pages, self.dict_rows, self.predicates)
            )
        )
        kernel_core_s = (decode + kernel) / n * self.docs
        return {
            "arrow_pages.decode_us_per_doc": (decode / n * 1e6, "us"),
            "extract.us_per_doc": (extract / n * 1e6, "us"),
            "mention.scan_link_us_per_doc": ((kernel - extract) / n * 1e6, "us"),
            "mention.instances_per_doc": (instances / n, "count"),
            "mention.partials_per_instance": (len(partials) / max(1, instances), "ratio"),
            "fused.scan_s": (scan, "s"),
            "fused.merge_s": (op_s - scan, "s"),
            "fused.engine_share": (1.0 - kernel_core_s / (op_s * nproc()), "ratio"),
            "fused.splits": (float(len(splits)), "count"),
        }

    def layers(self, stats):
        out = self._kernel_layers(stats["op_s"])
        staged = StagedProbe(self.spark, os.path.join(self.root, "staged"), self.lo, self)
        figures, errors = staged.run()
        out.update(figures)
        if errors:
            raise LayerCheckError("; ".join(errors))
        return out


class _StageRecorder:
    """Wraps ``Pipeline.stage`` and ``TripleCatalog.write_triples`` for the
    length of one call, recording wall time, bytes and rows per stage."""

    def __init__(self, prefix: str, sink: dict):
        self.prefix, self.sink = prefix, sink

    def __enter__(self):
        from seq2rel_ds_spark.plans.catalog import TripleCatalog
        from seq2rel_ds_spark.plans.pipeline import Pipeline

        self._orig = (Pipeline.stage, TripleCatalog.write_triples)
        orig_stage, orig_write = self._orig
        prefix, sink = self.prefix, self.sink

        def stage(pipe, name, fn, force=False):
            t0 = time.perf_counter()
            out = orig_stage(pipe, name, fn, force)
            sink[f"{prefix}.{name}.s"] = (time.perf_counter() - t0, "s")
            res = pipe.results[-1]
            if not res.skipped:
                sink[f"{prefix}.{name}.rows"] = (float(res.rows), "count")
                sink[f"{prefix}.{name}.bytes"] = (float(dir_bytes(res.path)), "B")
            return out

        def write_triples(cat, triples, name="triples"):
            t0 = time.perf_counter()
            out = orig_write(cat, triples, name)
            sink["catalog.write_s"] = (time.perf_counter() - t0, "s")
            return out

        Pipeline.stage, TripleCatalog.write_triples = stage, write_triples
        return self

    def __exit__(self, *exc):
        from seq2rel_ds_spark.plans.catalog import TripleCatalog
        from seq2rel_ds_spark.plans.pipeline import Pipeline

        Pipeline.stage, TripleCatalog.write_triples = self._orig
        return False


class StagedProbe:
    """The write paths over the first pages of the fused workload's range,
    once, in the session the fused operations warmed: ``run_web_kg`` into a
    fresh workdir plus ``TripleCatalog.write_triples``; resume after deleting
    the ``relations`` and ``triples`` stages; then the page stream through
    ``start_triples_stream`` (one micro-batch per file), ``merged_triples``
    and ``compact_increments``.  Every output is checked against gold."""

    docs = 1_000
    files = 4

    def __init__(self, spark, root: str, lo: int, fused: WebKGFused):
        self.spark, self.root, self.lo = spark, root, lo
        self.dict_rows, self.predicates = fused.dict_rows, fused.predicates

    def run(self) -> Tuple[Figures, List[str]]:
        import pyarrow.parquet as pq

        from seq2rel_ds_spark.plans.catalog import TripleCatalog
        from seq2rel_ds_spark.plans.web_kg import run_web_kg
        from seq2rel_ds_spark.streaming.pages_stream import read_pages_stream
        from seq2rel_ds_spark.streaming.triples_stream import (
            compact_increments,
            merged_triples,
            start_triples_stream,
        )

        pages = os.path.join(self.root, "pages")
        write_pages(self.spark, pages, self.lo, self.docs, self.files)
        gold = gold_counts(self.spark, self.lo, self.docs, self.files)
        wd, wh = os.path.join(self.root, "kg"), os.path.join(self.root, "warehouse")
        inc = os.path.join(self.root, "stream", "increments")
        fig: Figures = {}

        t0 = time.perf_counter()
        with _StageRecorder("pipeline", fig):
            triples = run_web_kg(self.spark, self.docs, wd, pages_df=self.spark.read.parquet(pages))
            TripleCatalog(self.spark, wh).write_triples(triples)
        staged_s = time.perf_counter() - t0
        written = dir_bytes(wd) + dir_bytes(wh)

        for stage in ("relations", "triples"):
            shutil.rmtree(os.path.join(wd, f"stage={stage}"))
        t0 = time.perf_counter()
        with _StageRecorder("resume", fig):
            run_web_kg(self.spark, self.docs, wd, pages_df=self.spark.read.parquet(pages))
        resume_s = time.perf_counter() - t0

        t0 = time.perf_counter()
        q = start_triples_stream(
            read_pages_stream(self.spark, pages, max_files=1),
            self.dict_rows,
            self.predicates,
            inc,
            os.path.join(self.root, "stream", "checkpoint"),
        )
        try:
            q.awaitTermination()
        finally:
            q.stop()
        t1 = time.perf_counter()
        merged = [r.asDict() for r in merged_triples(self.spark, inc).collect()]
        t2 = time.perf_counter()
        compact_increments(self.spark, inc, os.path.join(self.root, "stream", "compacted"))
        t3 = time.perf_counter()
        progress = [json.loads(p.json) if hasattr(p, "json") else p for p in q.recentProgress]
        batch_ms = [p["durationMs"]["triggerExecution"] for p in progress if p["numInputRows"] > 0]

        fig.update(
            {
                "staged.docs_per_s": (self.docs / staged_s, "docs/s"),
                "staged.resume_s": (resume_s, "s"),
                "staged.write_amp": (written / dir_bytes(pages), "B/B"),
                "stream.docs_per_s": (self.docs / (t3 - t0), "docs/s"),
                "stream.batches": (float(len(batch_ms)), "count"),
                "stream.batch_s": (statistics.median(batch_ms) / 1e3 if batch_ms else 0.0, "s"),
                "stream.increment_bytes": (float(dir_bytes(inc)), "B"),
                "stream.merge_s": (t2 - t1, "s"),
                "stream.compact_s": (t3 - t2, "s"),
            }
        )

        full = pq.read_table(os.path.join(wh, "triples")).to_pylist()
        resumed = pq.read_table(os.path.join(wd, "stage=triples")).to_pylist()
        errors = check_keyed("staged", full, gold)
        if sum(r["n_support"] for r in full) != sum(gold.values()):
            errors.append("staged: total n_support differs from the gold row count")
        cols = ("subj", "pred", "obj", "subj_key", "obj_key", "n_support")
        rows = lambda t: sorted(tuple(r[c] for c in cols) for r in t)  # noqa: E731
        if rows(resumed) != rows(full):
            errors.append("resume: triples differ from the full run's")
        errors += check_hashed("stream", merged, gold)
        return fig, errors


# -- registry queries and the CDR corpus ----------------------------------------

# the 17 queries bench.py times, then the 7 entries the open items target
QUERIES = [
    "q1_pricing_summary", "q3_shipping_priority", "q5_nation_volume", "events_hourly",
    "events_sessions", "events_funnel", "events_retention", "doc_token_stats",
    "token_histogram", "exact_dedup", "doc_quality", "doc_redact", "ann_topk",
    "kg_triples", "kg_two_hop", "kg_pagerank", "tfidf_top_terms",
    "events_rollup", "events_props_json", "doc_sample_stratified",
    "ngram_jaccard_capped", "doc_repetition", "quality_filter", "host_rank",
]


def _norm_cell(v) -> str:
    if isinstance(v, float):
        return "nan" if math.isnan(v) else f"{v:.6f}"
    return str(v)


def norm_rows(cols, rows) -> list:
    """Order-insensitive form of a result, as tools/check_oracles.py compares."""
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(_norm_cell(r[i]) for i in idx) for r in rows)


class CorpusCDR:
    """The paper's CDR preprocessing over two corpora derived from the
    ``documents`` table: the train split from the registry's PubTator corpus
    function, the test split from its hypernym corpus function with the MeSH
    tree table.  Run as one timed call of ``preprocess_cdr`` + ``write_tsv``
    over the corpora written to parquet beforehand, checked against the DuckDB
    oracles of ``linearized_lines`` and ``hypernym_filtered``."""

    def __init__(self, spark, tables: str):
        self.spark = spark
        self.tables = tables

    def materialize(self) -> None:
        import __spark_entry__ as em

        for name, build in (("train", em._pubtator_corpus), ("test", em._hypernym_corpus)):
            build(self.spark, self.tables).write.mode("overwrite").parquet(
                os.path.join(self.tables, name)
            )
        self.docs = self.spark.read.parquet(os.path.join(self.tables, "test")).count()

    def inputs(self):
        import __spark_entry__ as em

        train = self.spark.read.parquet(os.path.join(self.tables, "train"))
        test = self.spark.read.parquet(os.path.join(self.tables, "test"))
        mesh = self.spark.createDataFrame(list(em._MESH_TREES), "uid string, tree string")
        return train, test, mesh

    def expect(self, con, oracle: dict) -> None:
        self.want_lines = Counter(r[1] for r in con.execute(oracle["linearized_lines"]).fetchall())
        self.want_filtered = Counter(
            tuple(map(str, r))
            for r in con.execute(
                f"SELECT doc_id, chem, diso, label FROM ({oracle['hypernym_filtered']})"
            ).fetchall()
        )

    def run(self, out: str) -> dict:
        from seq2rel_ds_spark.plans.corpora import preprocess_cdr, write_tsv

        train, test, mesh = self.inputs()
        return {"counts": write_tsv(preprocess_cdr(train, None, test, mesh), out), "dir": out}

    def _filtered_relations(self) -> Counter:
        from pyspark.sql import functions as F

        from seq2rel_ds_spark.operators.hypernym import filter_hypernyms
        from seq2rel_ds_spark.operators.parse import parse_documents

        _train, test, mesh = self.inputs()
        fr = filter_hypernyms(parse_documents(test), mesh).select(
            F.col("doc_id").cast("long").alias("doc_id"),
            F.explode("filtered_relations").alias("fr"),
        )
        rows = fr.select(
            "doc_id",
            F.get(F.col("fr.uids"), 0).alias("chem"),
            F.get(F.col("fr.uids"), 1).alias("diso"),
            F.col("fr.label").alias("label"),
        ).collect()
        return Counter(tuple(map(str, r)) for r in rows)

    def check(self, res: dict) -> List[str]:
        bad = []
        lines = []
        for path in sorted(glob.glob(os.path.join(res["dir"], "train.tsv", "part-*"))):
            with open(path, encoding="utf-8") as f:
                lines += f.read().splitlines()
        got = Counter(_md5(line) for line in lines)
        if got != self.want_lines:
            bad.append(
                f"corpus train: {sum((got - self.want_lines).values())} of {len(lines)} "
                "lines not in the linearized_lines oracle"
            )
        if res["counts"].get("test") != self.docs:
            bad.append(f"corpus test: {res['counts'].get('test')} lines for {self.docs} docs")
        if self._filtered_relations() != self.want_filtered:
            bad.append("corpus test: filtered relations differ from the hypernym_filtered oracle")
        return bad

    def layers(self, out_dir: str) -> Tuple[Figures, List[str]]:
        """Derive the corpora, time one checked call (its plans are new to the
        session), then each layer as the difference between separate actions."""
        from seq2rel_ds_spark.operators.hypernym import filter_hypernyms
        from seq2rel_ds_spark.operators.linearize import linearize
        from seq2rel_ds_spark.operators.parse import parse_documents
        from seq2rel_ds_spark.plans.corpora import preprocess_cdr

        t0 = time.perf_counter()
        self.materialize()
        derive = time.perf_counter() - t0
        t0 = time.perf_counter()
        res = self.run(os.path.join(out_dir, "timed"))
        total = time.perf_counter() - t0
        errors = self.check(res)
        train, test, mesh = self.inputs()
        parse_train = _timed(lambda: _noop(parse_documents(train)))
        parse_test = _timed(lambda: _noop(parse_documents(test)))
        hyper = _timed(lambda: _noop(filter_hypernyms(parse_documents(test), mesh)))
        lin = _timed(lambda: _noop(linearize(parse_documents(train))))
        splits = preprocess_cdr(train, None, test, mesh)
        both = _timed(lambda: [_noop(df) for df in splits.values()])
        return {
            "corpus.derive_s": (derive, "s"),
            "corpus.docs_per_s": (self.docs / total, "docs/s"),
            "parse.s": (parse_train + parse_test, "s"),
            "hypernym.s": (hyper - parse_test, "s"),
            "linearize.s": (lin - parse_train, "s"),
            "corpora.write_tsv_s": (total - both, "s"),
        }, errors


# the engine's sf0.01 reference tables (60k lineitem rows, 500 documents),
# the scale its DuckDB oracle gate runs at
TABLES_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.01")


class RegistryQueries(Workload):
    name = "registry_queries"
    # two timed sweeps of 24 queries outlast the measuring window; with one,
    # run-to-run spread of op_s was 18% against 7-12% with two
    min_ops = 2
    # one sweep, its queries one after another, brings the next sweeps to
    # their steady time; run nproc at a time, the first timed sweep was
    # still 15-25% slower than the second
    warmup_ops = 1
    warmup_concurrent = False

    def __init__(self, spark, seed, scale):
        super().__init__(spark, seed, scale)
        # fixed tables: the seed permutes query order only
        self.order = list(QUERIES)
        random.Random(seed).shuffle(self.order)

    def setup(self, dest):
        # a copy, so the corpus probe can write its corpora beside the tables
        self.tables = dest
        shutil.copytree(TABLES_DIR, dest, dirs_exist_ok=True)
        self.corpus = CorpusCDR(self.spark, dest)

    def prepare_checks(self):
        import duckdb

        import __spark_entry__ as em

        oracle = em.oracle_sql()
        con = duckdb.connect()
        try:
            for path in sorted(glob.glob(os.path.join(self.tables, "*.parquet"))):
                t = os.path.basename(path)[: -len(".parquet")]
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
            self.want = {}
            for q in QUERIES:
                r = con.execute(oracle[q])
                cols = [d[0] for d in r.description]
                self.want[q] = (sorted(cols), norm_rows(cols, r.fetchall()))
            self.corpus.expect(con, oracle)
        finally:
            con.close()

    def steps(self, op_dir):
        import __spark_entry__ as em

        qs = em.queries()

        # every sweep is collected and checked: no result exceeds a few
        # thousand rows, and warm-up and timed sweeps then run the same code
        def query(name):
            df = qs[name](self.spark, self.tables)
            return df.columns, [tuple(r) for r in df.collect()]

        return [(name, (lambda n=name: query(n))) for name in self.order]

    def check(self, outputs):
        bad = []
        for name, (cols, rows) in outputs.items():
            if (sorted(cols), norm_rows(cols, rows)) != self.want[name]:
                bad.append(f"{name}: result differs from its oracle")
        return bad

    def named(self, step_s):
        vals = [step_s[q] for q in QUERIES]
        return {
            "queries_total_s": (sum(vals), "s"),
            "queries_geomean_s": (math.exp(sum(map(math.log, vals)) / len(vals)), "s"),
        }

    def layers(self, stats):
        out: Figures = {}
        for q in QUERIES:
            out[f"q.{q}.s"] = (stats["step_s"][q], "s")
            out[f"q.{q}.exchanges"] = (stats["step_exchanges"][q], "count")
        corpus, errors = self.corpus.layers(os.path.join(self.tables, "corpus-out"))
        out.update(corpus)
        if errors:
            raise LayerCheckError("; ".join(errors))
        return out


class LayerCheckError(Exception):
    """A traced run's layer probe produced a wrong output."""


WORKLOADS = {w.name: w for w in (WebKGFused, RegistryQueries)}
