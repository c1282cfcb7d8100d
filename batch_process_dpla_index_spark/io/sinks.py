"""Sinks (SURVEY.md §2.2 K1-K9), local-filesystem carrier.

Everything the reference writes — parquet, avro, single-file header
CSV, gzipped text, raw puts, idempotent overwrite, batched purge — as
committer-safe DataFrame writers where possible. The reference's
executor-side raw S3 puts (K6) are replaced by the committer path;
only the sitemap product keeps a per-partition write (see
products/sitemap.py) because its unit of output is one XML document
per partition.

Avro goes through the bundled OCF codec (io/avro_py.py): `read_avro`
and `write_avro` are its `read_avro_py`/`write_avro_py`.
"""

from __future__ import annotations

import glob
import os

from pyspark.sql import DataFrame

from batch_process_dpla_index_spark.io.avro_py import (
    read_avro_py as read_avro,
    write_avro_py as write_avro,
)


def write_parquet(df: DataFrame, path: str, overwrite: bool = True) -> None:
    """K1 (ParquetDump.scala:118); idempotent via overwrite mode (K8)."""
    df.write.mode("overwrite" if overwrite else "error").parquet(path)


def write_csv_single(df: DataFrame, path: str, overwrite: bool = True) -> None:
    """K3: coalesce(1) single-file CSV with header
    (MqReports.scala:136-148). coalesce — not repartition — so the
    final agg output funnels through one task without an extra
    shuffle; only ever used on small aggregated results."""
    (
        df.coalesce(1)
        .write.mode("overwrite" if overwrite else "error")
        .option("header", "true")
        .format("csv")
        .save(path)
    )


def write_text_gzip(df: DataFrame, path: str, overwrite: bool = True) -> None:
    """K4: gzip-compressed text (JsonlDump.scala:76-77), DataFrame-native
    (no RDD saveAsTextFile detour — same product, committer-safe)."""
    (
        df.write.mode("overwrite" if overwrite else "error")
        .option("compression", "gzip")
        .text(path)
    )


def write_local(out_dir: str, filename: str, text: str) -> str:
    """K5/K7: raw put of a small driver-side artifact
    (LocalFileWriter.scala:9-14 / S3FileHelper.scala:63-74). Routed
    through the carrier seam (io/fs.py) — scheme-dispatched, so the
    same call targets an object store once one is registered."""
    from batch_process_dpla_index_spark.io.fs import get_fs, strip_scheme

    full = os.path.join(strip_scheme(out_dir), filename)
    return get_fs(out_dir).put(full, text)


def write_local_gzip(out_dir: str, filename: str, text: str) -> str:
    """K6: gzip put (S3FileHelper.scala:76-98) via the carrier seam."""
    from batch_process_dpla_index_spark.io.fs import get_fs, strip_scheme

    full = os.path.join(strip_scheme(out_dir), filename)
    return get_fs(out_dir).put_gzip(full, text)


def delete_existing(path: str) -> bool:
    """K8: idempotent-overwrite prefix delete (JsonlDump.scala:72-74).
    Returns True when something was removed."""
    from batch_process_dpla_index_spark.io.fs import get_fs, strip_scheme

    return get_fs(path).delete_prefix(strip_scheme(path))


def purge_keys(keys: list[str], batch: int = 1000) -> int:
    """K9: batched object purge (S3FileHelper.scala:46-55 semantics —
    1000-key delete batches; locally the batch is a unit of progress
    accounting, the API contract callers depend on). Returns the number
    of objects actually removed."""
    from batch_process_dpla_index_spark.io.fs import get_fs, strip_scheme

    if not keys:
        return 0
    # group by scheme: dispatching the whole list to keys[0]'s backend
    # would silently skip (and under-count) keys living on another
    # store — a purge that "succeeded" while the objects survive
    by_scheme: dict[str, list[str]] = {}
    for k in keys:
        scheme = k.split("://", 1)[0] if "://" in k else "file"
        by_scheme.setdefault(scheme, []).append(k)
    removed = 0
    for group in by_scheme.values():
        removed += get_fs(group[0]).purge(
            [strip_scheme(k) for k in group], batch=batch
        )
    return removed


def read_csv_single(path: str) -> list[dict[str, str]]:
    """Read back a K3 product (tests + downstream consumers)."""
    import csv

    # glob.escape: the directory is a literal path — [, ? or * in it
    # would otherwise act as wildcards and silently read nothing
    parts = sorted(glob.glob(os.path.join(glob.escape(path), "part-*.csv")))
    rows: list[dict[str, str]] = []
    for p in parts:
        with open(p, newline="", encoding="utf-8") as f:
            rows.extend(csv.DictReader(f))
    return rows


def write_parquet_partitioned(
    df: DataFrame, path: str, partition_cols: list[str], overwrite: bool = True
) -> None:
    """Hive-layout partitioned parquet (the scale-native form of the
    reference's dated paths, SURVEY.md §4: `<base>/yyyy/MM/` becomes
    real partitionBy("year","month") so partition PRUNING — not just
    naming convention — applies to every dated read)."""
    (
        df.write.mode("overwrite" if overwrite else "error")
        .partitionBy(*partition_cols)
        .parquet(path)
    )
