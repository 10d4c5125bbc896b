#!/usr/bin/env python
"""spark-submit entry point for the filter+scrub pipeline.

Cluster deployment (north rule: "run via spark-submit --py-files on a
multi-executor cluster"):

    python scripts/package.py                      # builds dist/dqa_spark.zip
    spark-submit --py-files dist/dqa_spark.zip \
        scripts/run_pipeline.py \
        --input  s3://bucket/images_table \
        --output s3://bucket/verdicts \
        --run-id prod-2026-08-16 --num-buckets 1024

Local smoke (this sandbox):

    python scripts/run_pipeline.py --input .fixtures/t1/images.parquet \
        --output /tmp/verdicts --run-id demo --num-buckets 8

The job is resumable: re-running with the same --output/--run-id recomputes
only phash buckets missing from the atomic manifest.

Each committed bucket also gets its per-rule pass/fail counts and langid
histogram, written in the same commit (``<output>/_rule_metrics`` and
``<output>/_langid_histogram``).  Read them back with
``plans.lineage.read_committed_metrics(spark, output, which)``; summing
over ``bucket`` gives the run-level tables.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--input", required=True, help="images table (input_hint schema)")
    ap.add_argument("--output", required=True, help="verdict table directory")
    ap.add_argument("--run-id", required=True)
    ap.add_argument("--num-buckets", type=int, default=64,
                    help="phash buckets (= resume granularity)")
    ap.add_argument("--chunk-size", type=int, default=None,
                    help="buckets committed per snapshot; default single-pass "
                         "(one input scan + one pipeline execution; use chunks "
                         "only when the input is bucket-partitioned)")
    ap.add_argument("--cpus", type=int, default=None,
                    help="local[N] override; omit under spark-submit")
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    if args.cpus:
        from data_quality_analyzer_spark.session import get_spark

        spark = get_spark(app_name="filter_scrub", cpus=args.cpus)
    else:  # spark-submit provides the master/executors
        spark = SparkSession.builder.appName("filter_scrub").getOrCreate()

    from data_quality_analyzer_spark.plans import lineage as LN

    images = spark.read.parquet(args.input)
    manifest = LN.run_with_checkpoints(
        spark, images, args.output, args.run_id,
        num_buckets=args.num_buckets, chunk_size=args.chunk_size,
    )
    verdicts = LN.read_committed(spark, args.output)
    total = verdicts.count()
    kept = verdicts.filter("keep").count()
    print(json.dumps({
        "run_id": args.run_id,
        "buckets_committed": len(manifest["committed"]),
        "rows": total,
        "kept": kept,
        "keep_rate": round(kept / total, 4) if total else 0.0,
    }))


if __name__ == "__main__":
    main()
