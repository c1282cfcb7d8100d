"""Generic format dispatch — the engine's full source/sink matrix.

The reference touches four wire formats (Avro in — ParquetDump.scala:116;
Parquet out — :118; gzipped text/JSONL — JsonlDump.scala:24,76; CSV —
MqReports.scala:136). A user switching from the reference should be able
to point the same engine at any of the common lake formats, so this
module exposes one read/write pair covering parquet, orc, csv, json
(JSONL), text, and avro (the bundled pure-Python OCF codec —
io/avro_py.py) with identical call shapes.

Format notes that matter at scale:
- parquet/orc are the columnar tiers: predicate pushdown + column
  pruning reach the scan (pin-tested in tests/test_plans.py), always
  splittable.
- csv/json are row formats: schema REQUIRED here (inference reads the
  whole input twice — never acceptable on 100 TB; passing an explicit
  schema keeps the scan single-pass), gzip members are not splittable
  (one task per .gz file — size the files upstream).
- text is the opaque-line tier (JSONL passthrough, S3 of the survey).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

FORMATS = ("parquet", "orc", "csv", "json", "text", "avro")


def read_any(
    spark: SparkSession,
    path: str | list[str],
    fmt: str,
    schema=None,
    **options: str,
) -> DataFrame:
    """One scan entry point for every supported format. ``schema`` is
    mandatory for csv/json (see module notes); csv defaults to
    header=true to match the K3 product's own output."""
    paths = [path] if isinstance(path, str) else list(path)
    if fmt == "avro":
        from batch_process_dpla_index_spark.io.sinks import read_avro

        return read_avro(spark, *paths)
    if fmt not in FORMATS:
        raise ValueError(f"unsupported format {fmt!r}; one of {FORMATS}")
    if fmt in ("csv", "json") and schema is None:
        raise ValueError(
            f"{fmt} requires an explicit schema: inference would scan the "
            "input an extra time, which does not survive 100 TB"
        )
    reader = spark.read.format(fmt)
    if fmt == "csv":
        reader = reader.option("header", options.pop("header", "true"))
    if schema is not None:
        reader = reader.schema(schema)
    for k, v in options.items():
        reader = reader.option(k, v)
    return reader.load(paths)


def read_with_quarantine(
    spark: SparkSession,
    path: str | list[str],
    fmt: str,
    schema,
    corrupt_col: str = "_corrupt_record",
    **options: str,
) -> tuple[DataFrame, DataFrame]:
    """Row-format scan that survives malformed input: returns
    ``(good, bad)`` frames instead of letting one broken line kill a
    100 TB job.

    Uses PERMISSIVE mode with ``columnNameOfCorruptRecord``: parseable
    rows land typed with the corrupt column null; unparseable rows keep
    their raw text there (csv/json only — columnar formats validate at
    write time). ``good`` drops the corrupt column; ``bad`` carries the
    raw line first for quarantine writes.

    Deliberately NO ``.cache()``: good and bad are two single-pass
    scans of the same files. Caching would dodge the second scan but
    pins the whole input in executor memory — the wrong trade at scale;
    callers that want one pass write ``bad`` out per-batch instead.
    (Spark disallows plans referencing only the corrupt column, so
    ``bad`` keeps the typed columns alongside it.)
    """
    if fmt not in ("csv", "json"):
        raise ValueError(
            f"quarantine scan is for row formats (csv/json), got {fmt!r}"
        )
    from pyspark.sql import functions as F
    from pyspark.sql.types import StringType

    if corrupt_col not in schema.fieldNames():
        schema = schema.add(corrupt_col, StringType())
    df = read_any(
        spark,
        path,
        fmt,
        schema=schema,
        mode="PERMISSIVE",
        columnNameOfCorruptRecord=corrupt_col,
        **options,
    )
    data_cols = [c for c in df.columns if c != corrupt_col]
    good = df.filter(F.col(corrupt_col).isNull()).select(*data_cols)
    bad = df.filter(F.col(corrupt_col).isNotNull()).select(corrupt_col, *data_cols)
    return good, bad


def write_any(
    df: DataFrame,
    path: str,
    fmt: str,
    overwrite: bool = True,
    partition_cols: list[str] | None = None,
    **options: str,
) -> None:
    """One sink entry point for every supported format (committer path;
    the raw-put K5-K9 surface lives in io.sinks/io.fs)."""
    if fmt == "avro":
        from batch_process_dpla_index_spark.io.sinks import write_avro

        if partition_cols:
            raise NotImplementedError("avro sink does not partition by columns")
        write_avro(df, path, overwrite=overwrite)
        return
    if fmt not in FORMATS:
        raise ValueError(f"unsupported format {fmt!r}; one of {FORMATS}")
    writer = df.write.mode("overwrite" if overwrite else "error").format(fmt)
    if fmt == "csv":
        writer = writer.option("header", options.pop("header", "true"))
    for k, v in options.items():
        writer = writer.option(k, v)
    if partition_cols:
        writer = writer.partitionBy(*partition_cols)
    writer.save(path)
