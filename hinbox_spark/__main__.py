"""spark-submit entry point:

  spark-submit --py-files hinbox_spark.zip -m ...   # or:
  spark-submit scripts/run_pipeline.py --pages <parquet_dir> --output <dir>
  python -m hinbox_spark --generate 10000 --output out/

Reads a pages parquet directory (url, warc_ts, html, text, lang) — or
generates the deterministic synthetic corpus — and runs the full KG
pipeline with stage checkpoints; rerunning with the same --output resumes.
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="hinbox_spark")
    p.add_argument("--pages", help="input pages parquet path")
    p.add_argument("--generate", type=int, default=0,
                   help="generate a synthetic corpus of N pages instead")
    p.add_argument("--seed", type=int, default=42)
    p.add_argument("--output", required=True, help="output/checkpoint dir")
    p.add_argument("--master", default=None,
                   help="spark master of a new session (a session that is "
                        "already running is used as it is)")
    p.add_argument("--no-resume", action="store_true",
                   help="recompute every stage even if checkpointed")
    p.add_argument("--cache", default=None,
                   help="extraction-cache table path (S8): duplicate "
                        "content hashes are extracted once across runs")
    p.add_argument("--store", default=None,
                   help="snapshot entity-store path; a batch run "
                        "bootstraps/publishes it, --incremental merges "
                        "into it")
    p.add_argument("--incremental", action="store_true",
                   help="apply the pages as a DELTA against --store "
                        "(run_incremental: O(|delta|) work, content-hash "
                        "skip, one atomically published store version) "
                        "instead of a full batch run")
    p.add_argument("--configs-dir", default=None,
                   help="domain-config root (configs/{domain}/config.yaml "
                        "+ categories/*.yaml, the reference layout)")
    p.add_argument("--domain", default=None,
                   help="domain name under --configs-dir to load "
                        "(thresholds, equivalence groups, gazetteer, "
                        "relevance keywords all come from the YAML)")
    args = p.parse_args(argv)

    if not args.pages and not args.generate:
        p.error("one of --pages or --generate is required")
    if args.incremental and not args.store:
        p.error("--incremental requires --store")

    from pyspark.sql import SparkSession

    from hinbox_spark.pipeline import run_pipeline
    from hinbox_spark.session import get_spark

    # a session that is already running (the caller's) keeps its settings
    spark = SparkSession.getActiveSession()
    if spark is None:
        spark = get_spark("hinbox_spark_pipeline", master=args.master)
        spark.sparkContext.setLogLevel("WARN")

    if args.pages:
        pages = spark.read.parquet(args.pages)
    else:
        from hinbox_spark.sources.pages_gen import pages_dataframe_distributed

        pages = pages_dataframe_distributed(spark, args.generate, args.seed)

    cfg = None
    if args.domain:
        from dataclasses import replace

        from hinbox_spark.config_loader import load_domain_config

        if not args.configs_dir:
            p.error("--domain requires --configs-dir")
        cfg = load_domain_config(args.configs_dir, args.domain)
        if args.cache or args.store:
            cfg = replace(
                cfg,
                extraction_cache_path=args.cache or cfg.extraction_cache_path,
                snapshot_store_path=args.store,
            )
    elif args.cache or args.store:
        from hinbox_spark.config import DomainConfig

        cfg = DomainConfig(
            extraction_cache_path=args.cache,
            snapshot_store_path=args.store,
        )

    t0 = time.time()
    if args.incremental:
        from hinbox_spark.incremental import run_incremental

        tables = run_incremental(spark, pages, args.output, cfg=cfg)
    else:
        tables = run_pipeline(
            spark, pages, args.output, cfg=cfg, resume=not args.no_resume
        )
    counts = {k: df.count() for k, df in tables.items()}
    print(json.dumps({"sec": round(time.time() - t0, 2), "rows": counts}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
