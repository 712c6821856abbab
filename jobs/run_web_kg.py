"""spark-submit entry point for the flagship web-KG pipeline.

Usage (local sandbox; on a cluster drop the --master and let spark-submit
supply it):

    spark-submit --py-files seq2rel_ds_spark.zip jobs/run_web_kg.py \
        --n-docs 100000 --workdir /tmp/webkg --partitions 64 [--fused]

Build the py-files archive with:

    cd /root/repo && zip -qr seq2rel_ds_spark.zip seq2rel_ds_spark

The job runs either the checkpointed staged pipeline (resumable, lineage —
the production shape) or the fused single-pass plan (--fused, the bench
shape: per-task triple partials, then one merge), writes the canonical
triple table through the catalog, and prints a one-line JSON summary.
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--n-docs", type=int, default=10000)
    ap.add_argument("--workdir", required=True)
    ap.add_argument("--partitions", type=int, default=32)
    ap.add_argument("--fused", action="store_true", help="single-pass plan, no stage checkpoints")
    ap.add_argument("--warehouse", default=None, help="catalog dir (default <workdir>/warehouse)")
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    spark = SparkSession.builder.appName("web-kg").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    from seq2rel_ds_spark.plans.catalog import TripleCatalog
    from seq2rel_ds_spark.plans.web_kg import run_web_kg, triple_prf
    from seq2rel_ds_spark.sources.pages import gold_triples, synthesize_pages

    t0 = time.time()
    if args.fused:
        from seq2rel_ds_spark.operators.mention import fused_triple_partials
        from seq2rel_ds_spark.operators.triples import canonicalize_from_partials
        from seq2rel_ds_spark.sources.pages import PREDICATES, dictionary_df

        d = dictionary_df(spark)
        dict_rows = [
            (r["surface"], r["uid"], r["label"], r["is_canonical"]) for r in d.collect()
        ]
        pages = synthesize_pages(spark, args.n_docs, partitions=args.partitions)
        triples = canonicalize_from_partials(
            fused_triple_partials(pages, dict_rows, PREDICATES),
            output_partitions=args.partitions,
        )
    else:
        triples = run_web_kg(spark, args.n_docs, args.workdir, partitions=args.partitions)

    catalog = TripleCatalog(spark, args.warehouse or f"{args.workdir}/warehouse")
    path = catalog.write_triples(triples)

    prf = triple_prf(
        catalog.read_triples(), gold_triples(spark, args.n_docs, partitions=args.partitions)
    )
    print(
        json.dumps(
            {
                "n_docs": args.n_docs,
                "triples_path": path,
                "seconds": round(time.time() - t0, 2),
                **{k: round(v, 4) if isinstance(v, float) else v for k, v in prf.items()},
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    sys.exit(main())
