"""JSONL dump product (JsonlDump.scala:12-88 semantics).

Per-provider opaque-line text scan → DISK_ONLY persist → gzipped
per-provider export (counted on the way) → n-ary union-all export —
all DataFrame-native (the reference's RDD escape at
JsonlDump.scala:26-28 is unnecessary in PySpark: ``spark.read.text``
already is the one-string-column frame, SURVEY.md P10).

Each provider's record count is an ``Observation`` (``count(1)``) on
its own gzip write, so no count-only action runs. The per-provider
exports (delete, write, manifest) are independent Spark jobs and are
submitted concurrently from a thread pool as wide as the cluster's
default parallelism (capped at the provider count): a small hub's
one-task write no longer waits for the previous hub's, and at scale
small hubs fill the slots a large hub's long-tail stages leave idle.
The union export starts after every provider export has finished.

Scale notes: DISK_ONLY persist reads each provider's input once and
serves both exports (the reference's own trick, JsonlDump.scala:29);
the union is a no-shuffle plan concatenation; gzip text write is the
standard committer path.
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor, as_completed
from dataclasses import dataclass
from functools import reduce

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from batch_process_dpla_index_spark.io.manifest import write_manifest
from batch_process_dpla_index_spark.io.sinks import delete_existing, write_text_gzip


@dataclass
class ProviderRecords:
    """JsonlDump.scala:14 analog."""

    provider: str
    input: str
    records: DataFrame


def _export_provider(x: ProviderRecords, out_dir_base: str) -> int:
    """Gzip one provider's records with its manifest; returns the
    record count, observed during the write."""
    out_dir = f"{out_dir_base}/{x.provider.replace('/', '')}.jsonl"
    delete_existing(out_dir)
    obs = Observation()
    write_text_gzip(x.records.observe(obs, F.count(F.lit(1)).alias("n")), out_dir)
    count = obs.get["n"]
    write_manifest({"Record count": str(count), "Data source": x.input}, out_dir)
    return count


def execute(
    spark: SparkSession, provider_paths: dict[str, str], out_dir_base: str
) -> dict[str, int]:
    """Run the dump for {provider → input path}. Returns per-provider
    counts plus "__all__" (JsonlDump.scala:17-67 step-for-step). The
    first failing provider export is re-raised once every export has
    stopped."""
    out_dir_base = out_dir_base.rstrip("/")

    provider_records: list[ProviderRecords] = []
    try:
        for provider, input_path in provider_paths.items():
            records = spark.read.text(input_path).persist(StorageLevel.DISK_ONLY)
            provider_records.append(ProviderRecords(provider, input_path, records))

        width = min(len(provider_records), spark.sparkContext.defaultParallelism)
        export = inheritable_thread_target(spark)(_export_provider)
        pool = ThreadPoolExecutor(max_workers=width)
        try:
            futures = [pool.submit(export, x, out_dir_base) for x in provider_records]
            for fut in as_completed(futures):
                fut.result()  # re-raise the first failure
        finally:
            pool.shutdown(wait=True, cancel_futures=True)
        counts = {x.provider: fut.result() for x, fut in zip(provider_records, futures)}

        all_records = reduce(DataFrame.union, (x.records for x in provider_records))
        total = sum(counts.values())
        out_dir = f"{out_dir_base}/all.jsonl"
        delete_existing(out_dir)
        write_text_gzip(all_records, out_dir)

        opts = {"Total record count": str(total)}
        for x in provider_records:
            opts[f"{x.provider} date source"] = x.input
            opts[f"{x.provider} record count"] = str(counts[x.provider])
        write_manifest(opts, out_dir)
    finally:
        for x in provider_records:
            x.records.unpersist()

    counts["__all__"] = total
    return counts
