#!/usr/bin/env python
"""spark-submit entry for the encode job (north rule: launches via
spark-submit --py-files on a multi-executor cluster).

Local smoke:
    python -m rle_spark.jobs.encode --input <token_parquet> --output <dir>

Cluster:
    zip -r rle_spark.zip rle_spark
    spark-submit --py-files rle_spark.zip rle_spark/jobs/encode.py \
        --input /shared/tokens --output /shared/encoded \
        --block-tokens 262144 --target-bucket-tokens 8388608

Input schema: (doc_id string, tokens array<int>, n_tok int, source
string) — BASELINE.json input_hint. Both layouts write blocks, lineage
and a manifest through the engine's one block sink, and both resume:
--layout clustered (encode_table) skips the (source,bucket) partitions
recorded in <output>/manifest; --layout mapside
(sources.encode_parquet_dir_direct: tasks read their own parquet row
groups with pyarrow) skips the task files already committed under the
same split plan.
The sink writes local or shared-filesystem paths (the mapside scan reads
them too) and refuses object-store URIs such as s3a://.
"""

from __future__ import annotations

import argparse
import json
import sys


def parse_args(argv):
    p = argparse.ArgumentParser(description="rle_spark encode job")
    p.add_argument("--input", required=True, help="token table parquet path")
    p.add_argument("--output", required=True, help="output dir (blocks+manifest)")
    p.add_argument("--block-tokens", type=int, default=1 << 18)
    p.add_argument("--target-bucket-tokens", type=int, default=8 << 20)
    p.add_argument("--effort", choices=["fast", "balanced", "max"],
                   default="balanced")
    p.add_argument("--layout", choices=["clustered", "mapside"],
                   default="clustered",
                   help="clustered: shuffle to (source,bucket) partitions"
                        " (encode_table); mapside: zero-shuffle encode of"
                        " the input's parquet splits, tasks reading their"
                        " own row groups (encode_parquet_dir_direct;"
                        " source-clustered input)")
    p.add_argument("--codecs", default="",
                   help="comma-separated allow-list (default: all)")
    p.add_argument("--no-resume", action="store_true")
    p.add_argument("--local-cpus", type=int, default=0,
                   help="run on local[N] instead of an existing session")
    return p.parse_args(argv)


def main(argv=None):
    args = parse_args(argv or sys.argv[1:])

    from rle_spark import memtune
    memtune.apply()
    from pyspark.sql import SparkSession
    from rle_spark.engine import EngineConfig, encode_table, get_spark
    from rle_spark.selector import SelectorConfig

    if args.local_cpus:
        spark = get_spark("rle-spark-encode", cpus=args.local_cpus)
    else:
        spark = SparkSession.builder.appName("rle-spark-encode").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    cfg = EngineConfig(
        block_tokens=args.block_tokens,
        target_bucket_tokens=args.target_bucket_tokens,
        layout=args.layout,
        selector=SelectorConfig(
            effort=args.effort,
            allow=[c for c in args.codecs.split(",") if c]),
    )
    if args.layout == "mapside":
        from rle_spark.sources import encode_parquet_dir_direct
        summary = encode_parquet_dir_direct(spark, args.input, args.output,
                                            cfg, resume=not args.no_resume)
    else:
        summary = encode_table(spark, spark.read.parquet(args.input),
                               args.output, cfg, resume=not args.no_resume)
    print(json.dumps(summary))
    return 0


if __name__ == "__main__":
    sys.exit(main())
