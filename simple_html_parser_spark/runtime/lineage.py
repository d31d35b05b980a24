"""Resumable extraction runs: per-bucket lineage checkpoints + metrics.

north_rule: "resumable from checkpoint with per-partition lineage +
metrics".  Design (SURVEY.md §4.3):

- The url space is split into ``n_buckets`` stable hash buckets
  (pmod(xxhash64(url), n)) — bucket identity is a pure function of the
  data, so it survives restarts and cluster-size changes (unlike Spark
  partition ids).
- Each completed bucket appends one lineage row
  (run_id, bucket, n_docs, n_bytes, n_errors, wall_s, finished_at)
  to an append-only parquet dir.  The WRITE of a bucket's output and
  its lineage row are ordered output-first, so a crash between them
  re-processes that bucket (idempotent: output is overwritten
  per-bucket directory).
- On resume, completed buckets are anti-joined away — already-finished
  work is never re-read beyond the bucket-id scan.

At 10^12 docs the same structure holds: buckets are the unit of retry,
sized by ``n_buckets`` (e.g. 2^14 buckets ≈ 60M docs each at 10^12).
"""

from __future__ import annotations

import time
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..kernel.extract import PARITY, ExtractionProfile
from ..operators.extraction import extract_documents


def bucket_col(n_buckets: int):
    return F.pmod(F.xxhash64("url"), F.lit(n_buckets)).cast("int")


def completed_buckets(spark: SparkSession, lineage_dir: str,
                      run_id: str) -> DataFrame:
    p = Path(lineage_dir)
    if not p.exists() or not any(p.glob("*.parquet")):
        return spark.createDataFrame([], "bucket int")
    return (
        spark.read.parquet(lineage_dir)
        .where(F.col("run_id") == run_id)
        .select("bucket").distinct()
    )


def run_resumable_extraction(
    spark: SparkSession,
    docs: DataFrame,
    output_dir: str,
    lineage_dir: str,
    run_id: str,
    n_buckets: int = 8,
    profile: ExtractionProfile = PARITY,
) -> dict:
    """Process remaining buckets one at a time; returns run stats.

    Bucket-at-a-time keeps the retry unit small; inside a bucket the
    extraction is the normal distributed pipeline."""
    docs_b = docs.withColumn("_bucket", bucket_col(n_buckets))
    done = {r.bucket for r in
            completed_buckets(spark, lineage_dir, run_id).collect()}
    stats = {"run_id": run_id, "buckets_done_before": len(done),
             "buckets_processed": 0, "docs": 0, "bytes": 0, "errors": 0}

    for bucket in range(n_buckets):
        if bucket in done:
            continue
        t0 = time.perf_counter()
        subset = docs_b.where(F.col("_bucket") == bucket).drop("_bucket")
        extracted = extract_documents(subset, profile=profile)
        # output first (idempotent per-bucket dir), lineage second —
        # a crash in between re-does the bucket, never skips it
        (extracted.write.mode("overwrite")
         .parquet(f"{output_dir}/bucket={bucket}"))
        agg = (spark.read.parquet(f"{output_dir}/bucket={bucket}")
               .agg(F.count("*").alias("n"),
                    F.sum("n_bytes").alias("b"),
                    F.sum(F.when(F.col("error").isNotNull(), 1)
                          .otherwise(0)).alias("e")).collect()[0])
        wall = time.perf_counter() - t0
        row = spark.createDataFrame(
            [(run_id, bucket, agg.n or 0, agg.b or 0, agg.e or 0,
              round(wall, 3))],
            "run_id string, bucket int, n_docs bigint, n_bytes bigint, "
            "n_errors bigint, wall_s double",
        ).withColumn("finished_at", F.current_timestamp())
        row.write.mode("append").parquet(lineage_dir)
        stats["buckets_processed"] += 1
        stats["docs"] += agg.n or 0
        stats["bytes"] += agg.b or 0
        stats["errors"] += agg.e or 0
    return stats


def run_metrics(spark: SparkSession, lineage_dir: str,
                run_id: str) -> DataFrame:
    """Aggregate per-run metrics table from lineage rows."""
    return (
        spark.read.parquet(lineage_dir)
        .where(F.col("run_id") == run_id)
        .agg(
            F.count("*").alias("n_buckets"),
            F.sum("n_docs").alias("total_docs"),
            F.sum("n_bytes").alias("total_bytes"),
            F.sum("n_errors").alias("total_errors"),
            F.sum("wall_s").alias("total_wall_s"),
            F.round(F.sum("n_docs") / F.sum("wall_s"), 2)
            .alias("docs_per_s"),
        )
        .withColumn("run_id", F.lit(run_id))
    )
