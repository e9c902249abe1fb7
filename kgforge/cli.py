"""spark-submit entry point.

    spark-submit --py-files kgforge.zip -m kgforge.cli \
        --pages /data/pages_parquet \
        --alias /data/alias_dict.parquet \
        --out   /data/triples \
        --workdir /data/checkpoints \
        [--threshold 0.5] [--synthetic-pages N]

Reads the mandated pages table (url, warc_ts, html, text, lang), runs the
five-stage pipeline with per-stage lineage checkpoints (exact resume on
re-submit with the same config), materializes predicate-partitioned triples,
and prints a one-line JSON metrics summary.
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="kgforge")
    ap.add_argument("--pages", help="pages parquet path (url, warc_ts, html, text, lang)")
    ap.add_argument("--synthetic-pages", type=int, default=None,
                    help="generate N deterministic synthetic pages instead of --pages")
    ap.add_argument("--alias", help="alias_dict parquet path (default: built-in synthetic dict)")
    ap.add_argument("--out", required=True, help="output triples table path")
    ap.add_argument("--workdir", default=None, help="checkpoint/lineage dir (enables exact resume)")
    ap.add_argument("--threshold", type=float, default=0.5)
    ap.add_argument("--max-length", type=int, default=64)
    args = ap.parse_args(argv)

    from pyspark.sql import SparkSession

    from kgforge.config import PipelineConfig
    from kgforge.pipeline import materialize_triples, run_pipeline

    spark = (
        SparkSession.builder.appName("kgforge")
        # bound Arrow batch size: pages carry ~100KB html blobs at real
        # scale, so the 10k-row default would build ~1GB Arrow batches per
        # Python worker; 1024 rows keeps model-stage batches ~100MB while
        # the in-UDF micro-batcher (cfg.batch_size=64, the reference's
        # batch_size, token_classification.rs:291) controls compute shape
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "1024")
        .config("spark.sql.adaptive.enabled", "true")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("WARN")

    cfg = PipelineConfig(relation_threshold=args.threshold,
                         max_length=args.max_length)

    if args.synthetic_pages:
        from kgforge.queries import pages_synthetic
        pages = pages_synthetic(spark, args.synthetic_pages)
    elif args.pages:
        pages = spark.read.parquet(args.pages)
    else:
        ap.error("one of --pages or --synthetic-pages is required")

    if args.alias:
        alias_df = spark.read.parquet(args.alias)
    else:
        from kgforge.queries import _alias_df
        alias_df = _alias_df(spark)

    t0 = time.time()
    triples = run_pipeline(spark, pages, alias_df, cfg, workdir=args.workdir)
    materialize_triples(triples, args.out)
    n = spark.read.parquet(args.out).count()
    dt = time.time() - t0
    print(json.dumps({
        "triples": n,
        "seconds": round(dt, 2),
        "triples_per_sec": round(n / dt, 2) if dt else None,
        "out": args.out,
        "config_hash": cfg.config_hash(),
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
