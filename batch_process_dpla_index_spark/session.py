"""SparkSession construction with scale-oriented defaults.

The reference delegates all resource policy to EMR's
``maximizeResourceAllocation`` (reference: cluster-config.json:2-6);
we instead declare engine-level SQL confs that hold from local[32]
up to a 1000-executor cluster: AQE (runtime re-plan, skew-join
splitting, partition coalescing), nested-schema pruning for the deeply
nested DPLA model, and Arrow for any pandas-UDF exchange.

Python workers also get a stat-guarded ``zipimporter.invalidate_caches``
(:func:`guard_zip_invalidation`). Before every task, pyspark's
``worker_util.setup_spark_files`` calls ``importlib.invalidate_caches()``;
on CPython 3.10-3.12 that makes every ``zipimport.zipimporter`` re-parse
its archive's central directory. A warm worker holds about 17 of them
(12 on ``pyspark.zip``, 1,328 entries; 2 on the spark-core jar, 5,359
entries; py4j; the shipped package zip), which cost 137 ms per task on
a 4-vCPU host and 150-350 ms with four tasks at once: a 4-task no-op
``mapInArrow`` job took ~450 ms where a JVM-only job takes ~45 ms. The
guard re-reads an archive only when its ``(st_mtime_ns, st_size,
st_ino)`` stamp changed, so a pyFile added or rewritten mid-session is
still picked up. It is installed when this module is imported inside
a task (``TaskContext.get()`` is set), which every package closure
does, so each worker pays the re-read once. CPython 3.13 made the
invalidation lazy, so there the guard is not installed.
"""

from __future__ import annotations

import os
import sys

from pyspark import TaskContext
from pyspark.sql import SparkSession

#: Confs applied at session build time. Keys that are runtime-settable are
#: also re-asserted by :func:`tune` so the engine behaves identically on a
#: session it did not create (e.g. the verification driver's).
ENGINE_CONFS: dict[str, str] = {
    # Adaptive execution: runtime shuffle-partition coalescing, skew-join
    # splitting, and plan re-optimization — essential at 100 TB where static
    # partition counts are always wrong for somebody.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Deterministic timestamp semantics across engines (oracle parity).
    "spark.sql.session.timeZone": "UTC",
    # The events fixture stores TIMESTAMP(NANOS) parquet which Spark's reader
    # rejects; read as long and convert (sources/tables.py).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Parquet µs timestamps with no tz annotation must arrive as TIMESTAMP,
    # not TIMESTAMP_NTZ: NTZ breaks unix_micros(), withWatermark(), and
    # oracle parity (DuckDB reads the same column as tz-naive-as-UTC, which
    # with our pinned UTC session is exactly Spark's TIMESTAMP).
    "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
    # Arrow for pandas_udf / toPandas boundaries.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Nested-schema pruning so the DPLA MAP model (structs of arrays of
    # structs) only reads touched leaves (SURVEY.md §4).
    "spark.sql.optimizer.nestedSchemaPruning.enabled": "true",
    "spark.sql.parquet.filterPushdown": "true",
}


def default_parallelism() -> int:
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    if cpus:
        return max(1, int(cpus))
    return os.cpu_count() or 8


_PYFILES_SHIPPED: set[int] = set()


def ship_package(spark: SparkSession) -> None:
    """Make this package importable on executor Python workers.

    Closures shipped to executors (mapInPandas decoders, foreachPartition
    writers) reference module globals, which pickle as *imports* on the
    worker side — and workers do not inherit the driver's ``sys.path``
    mutations. Zip the package once and ``addPyFile`` it: the standard
    deployment mechanism on a real cluster, and a no-op cost locally.
    """
    key = id(spark.sparkContext)
    if key in _PYFILES_SHIPPED:
        return
    import zipfile

    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    zip_path = os.path.join(
        "/tmp", f"batch_process_dpla_index_spark_{os.getpid()}.zip"
    )
    if not os.path.exists(zip_path):
        with zipfile.ZipFile(zip_path, "w") as zf:
            for root, _dirs, files in os.walk(pkg_dir):
                for fn in files:
                    if fn.endswith(".py"):
                        full = os.path.join(root, fn)
                        rel = os.path.relpath(full, os.path.dirname(pkg_dir))
                        zf.write(full, rel)
    try:
        spark.sparkContext.addPyFile(zip_path)
    except Exception:
        # Session type without addPyFile (e.g. Connect) — closures that
        # reach executors must then be self-contained.
        pass
    _PYFILES_SHIPPED.add(key)


def guard_zip_invalidation() -> None:
    """Make ``zipimporter.invalidate_caches`` re-read an archive's
    directory only when the archive changed (see the module docstring).

    Each importer keeps the ``(st_mtime_ns, st_size, st_ino)`` stamp of
    its last re-read; the first call on an importer always re-reads. If
    ``stat`` fails the original runs, so a vanished archive is dropped as
    before. Idempotent; a no-op on CPython 3.13+."""
    import zipimport

    if sys.version_info >= (3, 13):
        return
    original = zipimport.zipimporter.invalidate_caches
    if getattr(original, "_stat_guarded", False):
        return

    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
        except OSError:
            return original(self)
        stamp = (st.st_mtime_ns, st.st_size, st.st_ino)
        if getattr(self, "_dir_stamp", None) != stamp:
            original(self)
            self._dir_stamp = stamp

    invalidate_caches._stat_guarded = True
    zipimport.zipimporter.invalidate_caches = invalidate_caches


if TaskContext.get() is not None:
    guard_zip_invalidation()


def tune(spark: SparkSession) -> SparkSession:
    """Assert runtime-settable engine confs on an existing session.

    Called by the table loaders so correctness-critical confs (timezone,
    nanos handling) hold even when the caller owns the SparkSession.
    """
    for key in (
        "spark.sql.session.timeZone",
        "spark.sql.legacy.parquet.nanosAsLong",
        "spark.sql.parquet.inferTimestampNTZ.enabled",
        "spark.sql.adaptive.enabled",
        "spark.sql.optimizer.nestedSchemaPruning.enabled",
    ):
        try:
            spark.conf.set(key, ENGINE_CONFS[key])
        except Exception:
            # Non-runtime-settable on this build — session default stands.
            pass
    ship_package(spark)
    return spark


def get_spark(
    app_name: str = "batch_process_dpla_index_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_confs: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with the engine defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (or all cores) for
    the test/bench environment; on a real cluster pass ``None`` with a
    pre-set master, or a ``yarn``/``k8s`` master explicitly.
    """
    par = default_parallelism()
    builder = SparkSession.builder.appName(app_name)
    builder = builder.master(master or f"local[{par}]")
    confs = dict(ENGINE_CONFS)
    confs["spark.sql.shuffle.partitions"] = str(shuffle_partitions or par)
    # JVM-startup-only conf: meaningful only when this call actually
    # creates the session — on an existing JVM it would be silently
    # ignored, so don't pretend to set it.
    if SparkSession.getActiveSession() is None:
        confs.setdefault(
            "spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g")
        )
    confs["spark.ui.enabled"] = "false"
    confs["spark.ui.showConsoleProgress"] = "false"
    if extra_confs:
        confs.update(extra_confs)
    for k, v in confs.items():
        builder = builder.config(k, v)
    return tune(builder.getOrCreate())
