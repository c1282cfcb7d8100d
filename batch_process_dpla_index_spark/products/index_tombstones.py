"""Shared tombstone (delete) machinery for the persisted indexes
(`products.ann_index`, `products.embedding_index`, and — via the
``datasets`` spec — the signature/bucket pairs of
`products.dedup_index` and `products.phash_index`).

A 100 TB corpus under compliance (takedown / opt-out) must be able to
remove single documents without rebuilding the whole index. This is
the snapshot log's merge/vacuum split (`products.snapshots`) applied
to an index artifact:

- **delete** = APPEND the ids to a small ``tombstones`` parquet
  dataset under ``index_dir``, each id stamped with the index's max
  ``ingest_batch`` at delete time (the WATERMARK). The append is
  O(|ids|) — no cell rewrite; the default manifest recount +
  threshold check counts the live stored (id, ingest_batch) rows, on
  the driver under :data:`_SCAN_DRIVER_MAX_ROWS` (:func:`live_table`),
  else with ONE anti-join count (the total comes from the parquet
  footers), skippable entirely with ``recount=False`` for the
  pure-O(|ids|) hot path.
- **serve** = every stored-cells read anti-joins the tombstone set:
  ``stored.id == t_id AND stored.ingest_batch <= t_max_batch``
  (:func:`apply_tombstones`; :func:`live_table` is its driver twin).
  The watermark makes append-after-delete well defined: a delete
  removes every copy of the id PRESENT at delete time; a later
  re-ingest of the same id is new data and serves normally (the
  takedown-then-re-opt-in flow), with no append-path bookkeeping.
- **compact** = physically rewrite the cells minus tombstoned rows
  once the tombstone fraction crosses a threshold, then clear the
  set — the vacuum step, committed by :func:`commit_staged` (the one
  commit every index rewrite goes through; its docstring states the
  ordering and the crash windows).

Replay idempotence: re-running the same delete appends duplicate
tombstone rows; the serve-time anti-join has "exists" semantics (a
stored row is hidden when ANY tombstone row for its id covers its
batch — the same rows a max-watermark-per-id collapse would hide), so
duplicates and repeated deletes of one id are harmless, and
compaction clears them.

Scale: the tombstone set is delete-proportional, not
corpus-proportional. The serve-time anti-join equi-matches on the id,
so AQE broadcasts the raw tombstone side while it is small
and falls back to a shuffle join if a mass takedown ever grows it —
either way no plan rewrite is needed, and the compaction threshold
bounds how long a large set is carried.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from batch_process_dpla_index_spark.io.manifest import read_manifest, write_manifest


def keyed_repartition(df: DataFrame, n: "int | None", *cols: str) -> DataFrame:
    """Cluster ``df`` by ``cols`` for an artifact write. ``n=None``
    (the r17 default fleet-wide) keys the exchange WITHOUT pinning a
    partition count, so AQE's partition coalescing sizes the write by
    BYTES (``spark.sql.adaptive.advisoryPartitionSizeInBytes``) — one
    file at bench scale, advisory-sized files at 100 TB — instead of a
    constant 32 that is simultaneously too many files locally (32
    KB-sized files + a 32-task write stage per artifact) and too few
    at cluster scale (guide §2.2/§6: partition by size, not by a
    constant). An explicit int keeps the pinned legacy layout."""
    if n is None:
        return df.repartition(*[F.col(c) for c in cols])
    return df.repartition(n, *[F.col(c) for c in cols])


def _hidden(name: str) -> bool:
    """A path component Spark's file reader skips (``_temporary``,
    ``_SUCCESS``, ``.crc`` files)."""
    return name.startswith(("_", "."))


def parquet_rowcount(path: str) -> int:
    """Row count from the parquet FOOTERS, driver-side — no Spark job,
    no listing/scan stage (r18, guide §1.2: the count is metadata the
    writer already produced). Sums ``num_rows`` over every part file
    under ``path`` (Hive partition dirs included) that a Spark read
    would see: components starting with ``_`` or ``.`` are skipped, so
    a crashed write's ``_temporary/.../part-*.parquet`` is not counted.
    At any scale this reads one footer per file, the same metadata
    volume the old ``spark.read.parquet(path).count()`` job fetched
    through tasks."""
    import pyarrow.parquet as pq

    n = 0
    for root, dirs, files in os.walk(path):
        dirs[:] = [d for d in dirs if not _hidden(d)]
        n += sum(
            pq.ParquetFile(os.path.join(root, f)).metadata.num_rows
            for f in files
            if f.endswith(".parquet") and not _hidden(f)
        )
    return n


def max_ingest_batch(dataset_dir: str) -> int:
    """Highest ``ingest_batch`` among the Hive partition directories of
    ``dataset_dir`` that hold a part file, from a driver-side listing
    (no Spark job). A directory with no part file (an aborted write)
    holds no rows and does not count. 0 when there is none. Raises
    ``OSError``/``ValueError`` on a layout it cannot read; callers
    fall back to the Spark-side answer."""
    return max(
        (
            int(d.split("=", 1)[1])
            for d in os.listdir(dataset_dir)
            if d.startswith("ingest_batch=")
            and any(
                f.endswith(".parquet") and not _hidden(f)
                for f in os.listdir(os.path.join(dataset_dir, d))
            )
        ),
        default=0,
    )


def schema_key(subdir: str) -> str:
    """Manifest key under which an index records the DDL schema of its
    ``subdir`` dataset (``cells_schema`` for the ANN index's cells)."""
    return f"{subdir}_schema"


def dataset_ddl(df: DataFrame) -> str:
    """DDL of the dataset a ``partitionBy("ingest_batch")`` write of
    ``df`` lands: the data columns in order, the partition column last
    (where a parquet read puts it)."""
    fields = sorted(df.schema.fields, key=lambda f: f.name == "ingest_batch")
    return ", ".join(
        f"`{f.name.replace('`', '``')}` {f.dataType.simpleString()}"
        for f in fields
    )


def read_dataset(
    spark: SparkSession, index_dir: str, subdir: str, manifest: dict[str, str]
) -> DataFrame:
    """Read a stored index dataset with the schema its manifest records
    (:func:`schema_key`), so the read runs no schema-inference job (a
    footer-merge job of ~90 ms per read at bench scale). An index whose
    manifest lacks the key (one written before its writers recorded it,
    or whose writers never do) infers as before. The schema cannot be
    derived from the other manifest keys: the vector element type, the
    PQ code columns and the ``ingest_batch`` layout all vary."""
    reader = spark.read
    ddl = manifest.get(schema_key(subdir))
    if ddl:
        reader = reader.schema(ddl)
    return reader.parquet(os.path.join(index_dir, subdir))


def _tombstones_dir(index_dir: str) -> str:
    return os.path.join(index_dir, "tombstones")


def has_tombstones(index_dir: str) -> bool:
    return os.path.isdir(_tombstones_dir(index_dir))


def clear_tombstones(index_dir: str) -> None:
    """Remove the tombstone set (idempotent) — called by build/rebuild
    in both index products so a fresh or rewritten cells dataset never
    inherits a stale delete set. THE one place that knows the layout:
    the products must not hand-roll the path (a layout change would
    silently miss their copies)."""
    shutil.rmtree(_tombstones_dir(index_dir), ignore_errors=True)


def write_parquet_file(table, dataset_dir: str) -> None:
    """Add a small driver-side ``pa.Table`` (model files, a tombstone
    append) to the parquet dataset ``dataset_dir`` as one new, uniquely
    named part file, with no Spark job. The file is written under a
    hidden name, which Spark and pyarrow readers skip, then
    ``os.replace``d to its part name: no reader sees it half-written."""
    import uuid

    import pyarrow.parquet as pq

    os.makedirs(dataset_dir, exist_ok=True)
    name = f"part-{uuid.uuid4().hex}.parquet"
    tmp = os.path.join(dataset_dir, f".{name}.tmp")
    # plain encoding and no embedded Arrow schema: a dictionary of
    # distinct floats (centroids) outweighs the values it replaces,
    # and the Spark writer this replaced fell back to plain the same way
    pq.write_table(table, tmp, use_dictionary=False, store_schema=False)
    os.replace(tmp, os.path.join(dataset_dir, name))


def refuse_empty(n_rows: int, *staged: str) -> None:
    """The one empty-result refusal of every index rewrite, made before
    :func:`commit_staged` moves anything: an empty dataset has no part
    files and no schema, so every later serve would fail obscurely.
    Removes the ``staged`` dirs already written, then raises."""
    if n_rows:
        return
    for d in staged:
        shutil.rmtree(d, ignore_errors=True)
    raise ValueError(
        "the rewrite would leave an empty index (every stored source or "
        "row is tombstoned), and an empty dataset is unreadable — "
        "delete the index directory instead"
    )


def commit_staged(
    index_dir: str, manifest: dict[str, str], swaps: "list[tuple[str, str]]"
) -> None:
    """Commit an index rewrite whose new datasets are fully written to
    sibling ``staged`` dirs: ``swaps`` lists ``(staged_dir, live_dir)``
    pairs, ``manifest`` describes the new data. The one commit of
    compaction (`compact_index_tombstones`, `overlap_index`) and of
    both rebuilds (`ann_index`, `embedding_index`), in this order:

    1. move each existing live dir aside to ``<live>__old``;
    2. write ``manifest``;
    3. rename each staged dir to its live name;
    4. delete the ``__old`` copies;
    5. clear the tombstone set.

    Every crash window is loud or clean, never silent drift:

    - before step 2, the old manifest still describes the old data,
      which is whole under the live names or ``__old``; a missing live
      dir makes every read fail (recover by renaming ``__old`` back);
    - between steps 2 and 3, the new manifest is on disk while a live
      dir is missing: reads fail loudly, never a serve of old data
      under new geometry; the new data is whole in the staged dirs;
    - after step 3, reads serve the new data; a leftover ``__old`` is
      dead weight, and leftover tombstones are a redundant anti-join
      against ids the rewrite already dropped.

    There is no automatic recovery. Renames are not atomic on object
    stores, so this commit is POSIX-only."""
    olds = []
    for _staged, live in swaps:
        if os.path.isdir(live):
            old = live + "__old"
            shutil.rmtree(old, ignore_errors=True)
            os.rename(live, old)
            olds.append(old)
    write_manifest(manifest, index_dir)
    for staged, live in swaps:
        os.rename(staged, live)
    for old in olds:
        shutil.rmtree(old)
    clear_tombstones(index_dir)


def read_tombstones(spark: SparkSession, index_dir: str) -> DataFrame | None:
    """(t_id, t_max_batch) — one row per delete event, as written: an
    id deleted twice has two rows. Each event covers batches <= its
    own watermark, and the anti-join hides a row when any event covers
    it, so no max-per-id collapse (a shuffle stage) is needed. Read
    with the schema `delete_from_index` writes: no schema-inference
    job on any serve, append, delete or compact."""
    if not has_tombstones(index_dir):
        return None
    return spark.read.schema("t_id bigint, t_max_batch int").parquet(
        _tombstones_dir(index_dir)
    )


#: Most stored rows a driver read (:func:`live_table`) scans before it
#: declines and the caller runs its Spark pass instead: the row groups
#: holding the probed cells of a serve, the (id, ingest_batch) columns
#: of a delete recount (:func:`_scan_groups` counts them from the
#: footers, before any data page is read). Cells are written
#: hash-clustered, so a row group spans most cells and the rows scanned
#: are in effect every stored row. Set from
#: ``tools/serve_scan_crossover.py`` (local[4] on 4 cores at loadavg
#: 3-3.6, 16 cells, k 5, 4 probes, dim 64 float32, median of 3 warm
#: serves, in s; rows scanned = every stored row on each line; kept =
#: the probed live rows; driver = read, score and merge on the driver,
#: spark = the ``mapInArrow`` pass and its collect):
#:
#:   index      scanned files | 25 q: kept driver spark | 1,024 q: kept driver spark
#:   flat         8,000     1 |       8,000  0.099  0.284 |       8,000  0.209  0.402
#:   flat        16,000     3 |      16,000  0.080  0.211 |      16,000  0.193  0.261
#:   flat        24,000     4 |      24,000  0.066  0.175 |      24,000  0.242  0.300
#:   flat        50,000     4 |      50,000  0.090  0.166 |      50,000  0.402  0.420
#:   two-level    8,000     1 |       6,982  0.091  0.195 |       7,495  0.228  0.328
#:   two-level   16,000     3 |      12,087  0.069  0.209 |      16,000  0.349  0.358
#:   two-level   24,000     3 |      20,412  0.069  0.148 |      24,000  0.367  0.353
#:   two-level   50,000     3 |      41,664  0.098  0.176 |      47,365  0.953  0.927
#:
#: A 25-query batch is faster on the driver at every size. With the
#: vectorised block top-k (`similarity._block_topk`) a 1,024-query
#: batch is too, or level with the Spark pass, up to 50k rows scanned
#: on both layouts (before it, the same run on the per-query lexsort
#: loop was level at 16k rows and lost from 24k: 0.65 vs 0.53 s flat,
#: 0.92 vs 0.65 s two-level; 1.15 vs 0.73 s flat at 50k). So the cap
#: could rise; it stays at 16k until a re-measure on more sizes picks
#: the new value. Worst case under it
#: (16k rows, 1,024 queries): 0.2-0.35 s wall and 0.7-1.0 s of driver
#: CPU (numpy's BLAS threads), 4.5 MB of Arrow cells, plus one cell's
#: score block, probers × cell rows doubles held a few times over (8
#: MB each for a 1k-row cell, 134 MB if one cell held all 16k rows) —
#: what one task of the Arrow pass holds for the same cell.
_SCAN_DRIVER_MAX_ROWS = 16_384


def _scan_groups(dataset, cap: int, cells=None):
    """The row groups of ``dataset`` a driver read of ``cells`` (every
    cell when None) must scan, or None, before any data page is read,
    once they hold more than ``cap`` stored rows. Every row group is
    scanned but those whose ``cell`` footer statistics rule out all of
    ``cells``. Cells are written hash-clustered, not sorted, so a row
    group spans most cells and a few probed cells of an index over
    ``cap`` rows decline. Footers are read file by file until the
    count passes ``cap``, so a large dataset declines after its first
    few files."""
    import numpy as np

    probed = None if cells is None else np.unique(np.asarray(cells))
    groups, n = [], 0
    for frag in dataset.get_fragments():
        for group in frag.split_by_row_group():
            info = group.row_groups[0]
            stats = (info.statistics or {}).get("cell", {})
            if probed is not None and "min" in stats and "max" in stats:
                first = np.searchsorted(probed, stats["min"])
                if first == len(probed) or probed[first] > stats["max"]:
                    continue  # no probed cell in [min, max]
            n += info.num_rows
            if n > cap:
                return None
            groups.append(group)
    return groups


def _bounded_scan(dataset, columns, cap: int, cells=None):
    """``dataset``'s ``columns`` as one table read on the driver,
    keeping only the rows whose ``cell`` is in ``cells`` (every row
    when None); or None when the row groups it must scan hold more
    than ``cap`` stored rows (:func:`_scan_groups`) — the
    :func:`relational.bounded_collect` policy for a pyarrow dataset,
    bounded by the rows scanned, not the rows kept."""
    import pyarrow.dataset as ds

    groups = _scan_groups(dataset, cap, cells)
    if groups is None:
        return None
    scan = ds.FileSystemDataset(
        groups, dataset.schema, dataset.format, dataset.filesystem
    )
    return scan.to_table(
        columns=columns,
        filter=None if cells is None else ds.field("cell").isin(cells),
    )


def live_table(
    index_dir: str,
    subdir: str,
    id_field: str,
    columns: "list[str]",
    cells: "list[int] | None" = None,
):
    """The live rows of the index dataset ``subdir`` — what
    :func:`apply_tombstones` keeps of a Spark read — as a ``pa.Table``
    of ``columns``, read on the driver with no Spark job; or None, and
    the caller runs its Spark plan, when:

    - the row groups it must scan hold more than
      :data:`_SCAN_DRIVER_MAX_ROWS` stored rows or tombstone rows
      (:func:`_bounded_scan`; 0 disables the read);
    - a requested column other than ``ingest_batch`` holds a NULL
      (the Spark plan's NULL semantics stay authoritative);
    - the layout is not one pyarrow reads as Spark does.

    ``cells`` keeps only those ``cell`` values (row groups whose
    statistics rule them all out are not scanned).
    The scan reads the Hive ``ingest_batch`` partitions and skips
    ``_``/``.`` files and dirs, as Spark's reader does; a row without
    ``ingest_batch`` counts as batch 0. A row is hidden when some
    tombstone has ``t_id = id AND ingest_batch <= t_max_batch``, i.e.
    when its batch is at most its id's highest watermark, matched with
    ``index_in`` (an Acero join rejects the ``list`` payload)."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.dataset as ds

    cap = _SCAN_DRIVER_MAX_ROWS
    if cap <= 0:
        return None
    want = list(dict.fromkeys([*columns, id_field, "ingest_batch"]))
    try:
        table = _bounded_scan(
            ds.dataset(
                os.path.join(index_dir, subdir), format="parquet",
                partitioning=ds.partitioning(
                    pa.schema([("ingest_batch", pa.int32())]), flavor="hive"
                ),
                ignore_prefixes=["_", "."],
            ),
            want, cap, cells,
        )
        if table is None or any(
            table[c].null_count for c in want if c != "ingest_batch"
        ):
            return None
        if has_tombstones(index_dir):
            # read as read_tombstones does; a NULL t_id or t_max_batch
            # covers no row, as in the anti-join: stored ids are never
            # NULL here, and the max skips a NULL watermark
            tombs = _bounded_scan(
                ds.dataset(
                    _tombstones_dir(index_dir), format="parquet",
                    schema=pa.schema(
                        [("t_id", pa.int64()), ("t_max_batch", pa.int32())]
                    ),
                    ignore_prefixes=["_", "."],
                ),
                ["t_id", "t_max_batch"],
                cap,
            )
            if tombs is None:
                return None
            wm = tombs.group_by("t_id").aggregate([("t_max_batch", "max")])
            t_ids = wm["t_id"].combine_chunks()
            covering = pc.take(
                wm["t_max_batch_max"], pc.index_in(table[id_field], value_set=t_ids)
            )
            hidden = pc.less_equal(
                pc.fill_null(table["ingest_batch"], 0), covering
            )
            table = table.filter(pc.invert(pc.fill_null(hidden, False)))
    except (OSError, pa.ArrowException):
        return None
    return table.select(columns)


def apply_tombstones(
    spark: SparkSession, index_dir: str, stored: DataFrame, id_field: str
) -> DataFrame:
    """Anti-join the tombstone set out of a stored-cells frame.
    No tombstones dir → the frame passes through untouched (zero plan
    overhead for an index that never saw a delete). ``stored`` must
    still carry ``ingest_batch`` (pre-batch-layout indexes are treated
    as all batch 0)."""
    tombs = read_tombstones(spark, index_dir)
    if tombs is None:
        return stored
    batch = (
        F.col("ingest_batch")
        if "ingest_batch" in stored.columns
        else F.lit(0)
    )
    cond = (stored[id_field] == tombs["t_id"]) & (
        batch <= tombs["t_max_batch"]
    )
    return stored.join(tombs, cond, "left_anti")


def append_cells(
    spark: SparkSession,
    index_dir: str,
    manifest: dict[str, str],
    cells: DataFrame,
    id_field: str,
    ingest_batch: int,
    idempotent: bool,
) -> dict[str, str]:
    """Land ``cells`` (the stored rows, ``ingest_batch`` column
    included) as the ``ingest_batch`` partition of the index's
    ``cells`` dataset and commit ``manifest`` — the append tail of
    both vector indexes (`ann_index`, `embedding_index`).
    ``idempotent=True`` switches to dynamic partition overwrite so a
    replayed batch REPLACES its own partition instead of appending a
    second copy.

    ``Record count`` is the previous count plus the rows the write
    observed when the batch cannot be hidden or replace rows: it lands
    above every stored ``ingest_batch`` (so no tombstone's watermark
    covers it), the write is not an idempotent replay, and the
    manifest count is current (no ``recount=False`` delete since).
    Otherwise it is recounted over the live cells (``id_field`` names
    their id column): tombstoned rows don't serve, so they don't count
    — and an appended id that was deleted under an EARLIER watermark
    counts again (append-after-delete resurrects by design)."""
    from pyspark.sql import Observation

    cells_path = os.path.join(index_dir, "cells")
    try:
        above_all = int(ingest_batch) > max_ingest_batch(cells_path)
    except (OSError, ValueError):
        above_all = False
    observed = None
    current = "Record count" in manifest and "Record count stale" not in manifest
    if above_all and not idempotent and current:
        observed = Observation()
        cells = cells.observe(observed, F.count(F.lit(1)).alias("n"))
    writer = cells.write
    if idempotent:
        writer = writer.mode("overwrite").option(
            "partitionOverwriteMode", "dynamic"
        )
    else:
        writer = writer.mode("append")
    writer.partitionBy("ingest_batch").parquet(cells_path)
    manifest[schema_key("cells")] = dataset_ddl(cells)
    if observed is not None:
        n_live = int(manifest["Record count"]) + observed.get["n"]
    else:
        stored = read_dataset(spark, index_dir, "cells", manifest)
        n_live = apply_tombstones(spark, index_dir, stored, id_field).count()
        manifest.pop("Record count stale", None)
    manifest["Record count"] = str(n_live)
    write_manifest(manifest, index_dir)
    return manifest


#: dataset spec: (subdir, id_field, repartition_cols). ``None``
#: repartition_cols = auto (repartition on "cell" when the column is
#: present, else write as-is). The FIRST spec is authoritative: it is
#: one-row-per-id (cells for the vector indexes, signatures for the
#: dedup/phash indexes) and drives the watermark, the recount, and the
#: empty-survivors refusal; later specs (e.g. band buckets) are
#: compacted with the same anti-join but never counted.
_DatasetSpec = tuple[str, str, "list[str] | None"]


def _dataset_specs(
    id_field: str, datasets: "list[_DatasetSpec] | None"
) -> "list[_DatasetSpec]":
    return datasets if datasets is not None else [("cells", id_field, None)]


def delete_from_index(
    spark: SparkSession,
    index_dir: str,
    ids,
    id_field: str,
    id_col: str | None = None,
    compact_threshold: float = 0.2,
    cell_partitions: int | None = None,
    recount: bool = True,
    datasets: "list[_DatasetSpec] | None" = None,
) -> dict[str, str]:
    """Tombstone a set of ids out of a persisted index and update the
    manifest (live ``Record count`` + ``Tombstone count``). When the
    tombstoned fraction of stored rows reaches ``compact_threshold``,
    the cells are physically compacted in the same call (pass a
    threshold > 1 to defer compaction indefinitely; 0 forces it).

    ``ids``: a DataFrame (``id_col`` names the column; default its
    first) or an iterable of ints. ``id_field`` is the stored cells'
    id column ("id" for ann_index, "c_id" for embedding_index).

    Cost: the tombstone APPEND is O(|ids|) — no corpus pass. The
    manifest recount + threshold check counts the stored (id,
    ingest_batch) rows the delete-proportional tombstone set leaves
    live: a driver read (:func:`live_table`, no Spark job) up to
    :data:`_SCAN_DRIVER_MAX_ROWS` stored rows, else ONE column-pruned
    anti-join count; the total comes from the stored dataset's parquet
    footers on the driver (:func:`parquet_rowcount`). For the 100 TB hot path where
    even that scan per takedown is unwanted, ``recount=False`` skips
    the count AND the threshold check entirely (pure O(|ids|)); the
    manifest then records ``Tombstone count = stale`` and compaction
    is driven explicitly (the occupancy/report job, or a forced
    ``compact``).

    ``datasets`` generalizes the layout for indexes that store MORE
    than one per-id dataset (dedup_index/phash_index keep signatures +
    band buckets): the first spec's dataset drives the watermark and
    the recount; compaction rewrites all of them. Default: the single
    ``cells`` dataset of the vector indexes.

    Returns the updated manifest."""
    specs = _dataset_specs(id_field, datasets)
    primary_dir, primary_id, _ = specs[0]
    id_field = primary_id
    manifest = read_manifest(index_dir)
    stored = read_dataset(spark, index_dir, primary_dir, manifest)
    wm = 0
    if "ingest_batch" in stored.columns:
        # ingest_batch is a Hive PARTITION column on every write path,
        # so its max is the max over the partition directory names — a
        # driver-side listing, not an aggregate job (r18, guide §1.2).
        # A directory with no part file (an aborted write) holds no
        # rows, so it must not raise the watermark: a later append of
        # a deleted id into a batch below it would stay hidden.
        # Any surprise in the layout falls back to the old aggregate.
        try:
            wm = max_ingest_batch(os.path.join(index_dir, primary_dir))
        except (OSError, ValueError):
            wm_row = stored.agg(F.max("ingest_batch").alias("m")).first()
            wm = int(wm_row["m"] or 0)
    if isinstance(ids, DataFrame):
        # repartition(1), never coalesce(1): coalesce would collapse any
        # upstream computation of a derived ids frame onto one task
        (
            ids.select(
                F.col(id_col or ids.columns[0]).cast("bigint").alias("t_id"),
                F.lit(wm).cast("int").alias("t_max_batch"),
            )
            .repartition(1)
            .write.mode("append")
            .parquet(_tombstones_dir(index_dir))
        )
    else:
        # a plain id list is a few KB: one part file written on the
        # driver, no Spark job
        import pyarrow as pa

        t_ids = [int(i) for i in ids]
        if t_ids:
            write_parquet_file(
                pa.table({
                    "t_id": pa.array(t_ids, pa.int64()),
                    "t_max_batch": pa.array([wm] * len(t_ids), pa.int32()),
                }),
                _tombstones_dir(index_dir),
            )

    if not recount:
        manifest["Tombstone count"] = "stale"
        # 'Record count' keeps its pre-delete value (we skipped the
        # scan that would refresh it) — mark it explicitly so a
        # manifest consumer (occupancy/report tooling) can detect the
        # unrecounted state instead of acting on an outdated live count
        manifest["Record count stale"] = "true"
        write_manifest(manifest, index_dir)
        return manifest
    total = parquet_rowcount(os.path.join(index_dir, primary_dir))
    # the live count from a driver read of (id, ingest_batch) when the
    # stored rows fit the scan cap; over it, the anti-join count job
    live_ids = None
    if total <= _SCAN_DRIVER_MAX_ROWS:
        live_ids = live_table(
            index_dir, primary_dir, id_field, [id_field, "ingest_batch"]
        )
    if live_ids is not None:
        live = live_ids.num_rows
    else:
        live = apply_tombstones(spark, index_dir, stored, id_field).count()
    dead = total - live
    if total and dead and dead / total >= compact_threshold:
        return compact_index_tombstones(
            spark, index_dir, id_field,
            cell_partitions=cell_partitions, datasets=datasets,
        )
    manifest["Record count"] = str(live)
    manifest["Tombstone count"] = str(dead)
    manifest.pop("Record count stale", None)
    write_manifest(manifest, index_dir)
    return manifest


def compact_index_tombstones(
    spark: SparkSession,
    index_dir: str,
    id_field: str,
    cell_partitions: int | None = None,
    datasets: "list[_DatasetSpec] | None" = None,
) -> dict[str, str]:
    """Physically rewrite each stored dataset minus the tombstone set,
    then clear the set — the vacuum step. ``ingest_batch`` partitions
    are preserved row-for-row on the survivors, so replay pruning
    stays valid across the compaction. Every survivor dataset is
    written to a ``<subdir>__compact`` sibling first, then all of them
    go live in one :func:`commit_staged`.

    The record count comes from the FIRST dataset spec (one row per
    id); later datasets (band buckets) are rewritten with the same
    anti-join but never counted."""
    specs = _dataset_specs(id_field, datasets)
    manifest = read_manifest(index_dir)
    swaps: list[tuple[str, str]] = []
    for i, (subdir, ds_id, part_cols) in enumerate(specs):
        tmp_dir = os.path.join(index_dir, subdir + "__compact")
        stored = read_dataset(spark, index_dir, subdir, manifest)
        live = apply_tombstones(spark, index_dir, stored, ds_id)
        if schema_key(subdir) in manifest:
            # keep the recorded schema with the data it describes; an
            # index whose writers never record it stays unrecorded
            manifest[schema_key(subdir)] = dataset_ddl(live)
        shutil.rmtree(tmp_dir, ignore_errors=True)
        if part_cols is None:
            part_cols = ["cell"] if "cell" in stored.columns else []
        writer = (
            keyed_repartition(live, cell_partitions, *part_cols)
            if part_cols
            else live
        )
        # empty-safe: a LATER dataset can legitimately compact to zero
        # rows (every bucket posting belonged to tombstoned ids while
        # their signatures survive via other batches' keys being
        # capped) — the i==0 refusal below covers only the per-id
        # dataset, and a zero-row partitionBy write would install an
        # unreadable live dir at the commit
        overwrite_dataset_readable(
            writer,
            tmp_dir,
            "ingest_batch" if "ingest_batch" in stored.columns else None,
        )
        if i == 0:
            # survivor count from the freshly WRITTEN footers, on the
            # driver: the anti-join runs once, in the write
            n_live = parquet_rowcount(tmp_dir)
            refuse_empty(n_live, tmp_dir)
            manifest["Record count"] = str(n_live)
        swaps.append((tmp_dir, os.path.join(index_dir, subdir)))
    manifest["Tombstone count"] = "0"
    manifest.pop("Record count stale", None)
    commit_staged(index_dir, manifest, swaps)
    return manifest


def overwrite_dataset_readable(
    df: DataFrame, out_dir: str, partition_col: str | None = None
) -> None:
    """Overwrite-write a dataset that MAY be empty. A zero-row
    ``partitionBy`` write lands no part files (only ``_SUCCESS``) and
    the dataset is unreadable on the next scan ("Unable to infer
    schema") — the crash class the build/compact empty guards refuse.
    Some empty datasets are VALID states though (a bucket dataset
    whose every posting was max_bucket-dropped or tombstone-compacted
    away): for those, rewrite ONE empty schema-carrying part file
    INSIDE a ``<partition_col>=0/`` directory (the column moves to the
    dir name, as Hive layout requires) so the dataset stays uniformly
    partitioned — a later ``partitionBy`` append then lands sibling
    ``<col>=N/`` dirs instead of mixing root-level part files with
    partition dirs, a layout that only reads by unspecified
    partition-discovery behavior (r14 advice)."""
    import glob as _glob

    w = df.write.mode("overwrite")
    if partition_col is not None:
        w = w.partitionBy(partition_col)
    w.parquet(out_dir)
    if not _glob.glob(
        os.path.join(out_dir, "**", "*.parquet"), recursive=True
    ):
        if partition_col is None:
            df.repartition(1).write.mode("overwrite").parquet(out_dir)
        else:
            df.drop(partition_col).repartition(1).write.mode(
                "overwrite"
            ).parquet(os.path.join(out_dir, f"{partition_col}=0"))


def capped_append_buckets(
    spark: SparkSession,
    index_dir: str,
    new_buckets: DataFrame,
    key_cols: "list[str]",
    max_bucket: int,
    current_batch: int,
    id_field: str = "id",
) -> "tuple[DataFrame, int]":
    """Enforce the manifest ``max_bucket`` cap on an APPEND (the ONE
    implementation behind dedup_index and phash_index, differing only
    in the bucket key columns): returns (capped new bucket rows,
    dropped-key count). Combined size per key = new rows + stored
    LIVE rows, where stored live means

    - the current batch's own partition is EXCLUDED — a checkpoint
      replay otherwise counts its first attempt's rows, pushes keys
      over the cap, and the dynamic partition overwrite then REPLACES
      the partition without them (silent permanent loss of candidates
      the first attempt legitimately kept);
    - tombstoned ids are anti-joined out (the serve-path read) — a
      takedown awaiting compaction otherwise inflates old_sz and
      spuriously drops legitimate new rows for the key.

    Cost stays batch-proportional: the stored side is semi-pruned by a
    broadcast of the new batch's keys before counting."""
    # r17 (guide §1.2/§2.4): two SMALL jobs + a driver merge instead of
    # one deep query tree. The old shape (new-size agg ⟕ stored-size
    # agg → filter → count, then the SAME tree again as the anti-join's
    # broadcast build) paid ~7 sequential AQE stage materializations
    # per append and computed the size join twice. Both aggregates are
    # batch-key-bounded — the per-key count frame was ALREADY broadcast
    # to every executor in the old plan, so the driver copy is the same
    # memory it always cost; the combine (new + stored-live > cap) is
    # exact integer arithmetic either side of the boundary.
    from pyspark.sql.types import StructType

    key_schema = StructType(
        [new_buckets.schema[c] for c in key_cols]
    )
    new_sz_rows = (
        new_buckets.groupBy(*key_cols)
        .agg(F.count(F.lit(1)).alias("new_sz"))
        .collect()
    )
    from batch_process_dpla_index_spark.operators.relational import (
        _arrow_local_frame,
    )

    batch_keys = _arrow_local_frame(
        spark, [tuple(r[c] for c in key_cols) for r in new_sz_rows],
        key_schema,
    )
    stored = spark.read.parquet(os.path.join(index_dir, "buckets")).where(
        F.col("ingest_batch") != int(current_batch)
    )
    # ``id_field`` names the stored buckets' id column for the
    # tombstone anti-join (r14 advice: hardcoding "id" would make a
    # future layout with a different bucket id column silently skip
    # takedown exclusion and spuriously drop new rows)
    stored = apply_tombstones(spark, index_dir, stored, id_field)
    stored_sz = {
        tuple(r[c] for c in key_cols): r["old_sz"]
        for r in (
            stored.join(F.broadcast(batch_keys), list(key_cols))
            .groupBy(*key_cols)
            .agg(F.count(F.lit(1)).alias("old_sz"))
            .collect()
        )
    }
    dropped_keys = [
        tuple(r[c] for c in key_cols)
        for r in new_sz_rows
        if r["new_sz"] + stored_sz.get(tuple(r[c] for c in key_cols), 0)
        > int(max_bucket)
    ]
    n_dropped = len(dropped_keys)
    if not n_dropped:
        return new_buckets, 0
    dropped_df = _arrow_local_frame(spark, dropped_keys, key_schema)
    return (
        new_buckets.join(
            F.broadcast(dropped_df), list(key_cols), "left_anti"
        ),
        n_dropped,
    )
