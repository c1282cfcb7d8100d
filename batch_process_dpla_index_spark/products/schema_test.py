"""Schema divergence dump (SchemaTest.scala:15-29 semantics).

For every provider hub's latest snapshot, write the DataFrame schema
as a SQL DDL string to ``<out_dir>/<provider>.schema`` for eyeball
diffing — the reference's manual divergence check, which SchemaRepair
then fixes.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from batch_process_dpla_index_spark.io.paths import latest_dataset_paths
from batch_process_dpla_index_spark.io.sinks import read_avro
from batch_process_dpla_index_spark.model.schema import schema_ddl


def execute(
    spark: SparkSession,
    in_root: str,
    out_dir: str,
    data_type: str = "enrichment",
    fmt: str = "avro",
) -> dict[str, str]:
    """Dump one ``<provider>.schema`` DDL file per hub. Returns
    {provider → ddl}. ``fmt`` is "avro" (the reference's snapshots) or
    "parquet". Schema inference reads only the Avro header or the
    parquet footers — no data scan."""
    os.makedirs(out_dir, exist_ok=True)
    out: dict[str, str] = {}
    for provider, path in latest_dataset_paths(in_root, data_type).items():
        df = read_avro(spark, path) if fmt == "avro" else spark.read.parquet(path)
        ddl = schema_ddl(df)
        with open(
            os.path.join(out_dir, provider.replace("/", "") + ".schema"),
            "w",
            encoding="utf-8",
        ) as f:
            f.write(ddl)
        out[provider] = ddl
    return out
