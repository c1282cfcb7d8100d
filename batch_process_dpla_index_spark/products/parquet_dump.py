"""Parquet dump product (ParquetDump.scala:115-126 semantics).

Catalog-discover the latest enrichment snapshot per provider hub,
multi-path Avro scan (the reference's S1, through io/avro_py.py),
flatten via the D2 macros, write parquet to the dated path.
``fmt="parquet"`` scans parquet snapshots instead (structurally
identical DataFrames; nested-schema pruning even works *better* on
parquet — SURVEY.md §4 notes Avro scans don't nested-prune, which is
partly why the reference converts formats first).

Single stage: scan → Project(flatten) → parquet write. No shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from batch_process_dpla_index_spark.io.paths import latest_dataset_paths, parquet_path
from batch_process_dpla_index_spark.io.sinks import read_avro
from batch_process_dpla_index_spark.model.flatten import modify_columns


def dump(
    spark: SparkSession,
    in_paths: list[str],
    out_path: str,
    fmt: str = "avro",
    output_partitions: int | None = None,
    partition_key: str = "id",
) -> DataFrame:
    """ParquetDump.dump (ParquetDump.scala:115-119): multi-path scan of
    ``fmt`` ("avro", the reference's input, or "parquet") →
    modify_columns → parquet write. Returns the flattened frame.

    ``output_partitions`` hash-repartitions on ``partition_key`` before
    the write (X1, the reference's Sitemap.scala:27 idiom) to bound
    output file count/size — without it the write inherits input-split
    parallelism (no shuffle).
    """
    if fmt == "avro":
        df = read_avro(spark, *in_paths)
    else:
        df = spark.read.parquet(*in_paths)
    flat = modify_columns(df)
    out = flat
    if output_partitions:
        out = flat.repartition(output_partitions, partition_key)
    out.write.mode("overwrite").parquet(out_path)
    return flat


def execute(
    spark: SparkSession, in_root: str, out_base: str, fmt: str = "avro", now=None
) -> str:
    """ParquetDump.execute (ParquetDump.scala:121-126): discover latest
    per-hub enrichment snapshots, dump to <out>/yyyy/MM/all.parquet/."""
    paths = list(latest_dataset_paths(in_root, "enrichment").values())
    out_path = parquet_path(out_base, now)
    dump(spark, paths, out_path, fmt)
    return out_path
