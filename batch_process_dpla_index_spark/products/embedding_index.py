"""Persisted embedding-dedup index: the vector-space twin of
``products.dedup_index`` (which stores MinHash signatures/buckets for
text). An ingest pipeline at 100 TB does not re-assign the stored
corpus to IVF cells per batch — it keeps each accepted vector's cell
row on disk and checks each incoming batch against the stored cells:

- :func:`build_embedding_index` materializes one parquet dataset under
  ``index_dir``: ``cells`` (cell, c_id, c_vec — each corpus vector in
  its rank-1 coarse cell), Hive-partitioned by ``ingest_batch`` (0 at
  build) so streaming appends land per-micro-batch partitions a
  checkpoint replay can overwrite idempotently, plus a ``_MANIFEST``
  pinning (dim, n_cells, id_col, vec_col) — the structural parameters
  that define cell geometry (ManifestWriter.scala:7-14 convention).
  Cost: one corpus Arrow assign pass (N×dim @ dim×cells matmul).
- :func:`incremental_embedding_dedup_indexed` assigns ONLY the new
  batch (|batch|×cells matmul), probes each new vector's ``n_probe``
  nearest cells, and evaluates the strict-fold cosine only inside
  probed-cell ∩ stored-cell pairs — identical output contract to
  ``operators.similarity.incremental_semantic_dedup`` (they share
  ``match_assigned_against_stored``), without recomputing a single
  corpus assignment. Structural parameters come from the manifest, so
  an index built with one cell geometry cannot be silently mis-probed
  with another.
- :func:`append_to_embedding_index` lands an accepted batch's cell
  rows under its ``ingest_batch`` partition.

``n_cells`` is pinned at build time — the standard IVF index
tradeoff: cell geometry is frozen so stored assignments stay valid,
and a corpus that outgrows its cells (population ≫ the ~64-vector
design point) is REBUILT with more cells rather than resized in
place. The coarse centroids are data-independent (the deterministic
pseudo-random matrix of ``ivf_cells_pandas``), so a rebuild is one
corpus re-assign pass, embarrassingly parallel — exactly what
:func:`rebuild_embedding_index` runs (``jobs.py embedding-index
rebuild``), preserving every ``ingest_batch`` partition so replay
pruning stays valid across the rebuild.
:func:`embedding_index_occupancy` is the trigger's observable: rows
per cell vs the design point.

Above ``_TWO_LEVEL_THRESHOLD`` cells, assignment and probing route
through the dot-metric two-level grouping of the SAME pseudo-random
grid (``similarity._pseudo_random_two_level`` — global cell ids
unchanged, O(√cells·dim) per row instead of O(cells·dim)). The
routing is pinned in the manifest (``assign``), never re-derived
from the constant, so an index built under one convention can never
be silently probed under another.

Scale notes: per-batch cost is one Arrow matmul over the batch + one
shuffle join against the stored cells (AQE broadcasts the batch side
when small); replay safety comes from ``max_ingest_batch`` — a
replayed micro-batch probes only the partitions that existed before
its first attempt, so it can never match its own earlier output (see
``streaming_ingest.ingest_embedding_dedup_available``).
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from batch_process_dpla_index_spark.io.manifest import read_manifest, write_manifest
from batch_process_dpla_index_spark.products.index_tombstones import (
    append_cells,
    clear_tombstones,
    commit_staged,
    dataset_ddl,
    keyed_repartition,
    read_dataset,
    refuse_empty,
    schema_key,
)
from batch_process_dpla_index_spark.operators.similarity import (
    ivf_cells_pandas,
    match_assigned_against_stored,
)


def _live_stored(
    spark: SparkSession, index_dir: str, manifest: dict[str, str]
) -> DataFrame:
    """Stored cell rows minus the tombstone set — THE read every
    consumer (dedup probe, occupancy, rebuild, recounts) goes through,
    so a takedown (`delete_from_embedding_index`) is invisible to no
    consumer. No tombstones dir → plain scan, zero plan overhead. The
    cells are read with the manifest's ``cells_schema``: no
    schema-inference job."""
    from batch_process_dpla_index_spark.products.index_tombstones import (
        apply_tombstones,
    )

    stored = read_dataset(spark, index_dir, "cells", manifest)
    return apply_tombstones(spark, index_dir, stored, "c_id")


def delete_from_embedding_index(
    spark: SparkSession,
    index_dir: str,
    ids,
    id_col: str | None = None,
    compact_threshold: float = 0.2,
    recount: bool = True,
) -> dict[str, str]:
    """Tombstone ids out of the index (takedown/opt-out) — O(|ids|)
    work, no cell rewrite until the tombstoned fraction reaches
    ``compact_threshold``. A delete removes every copy of the id
    PRESENT at delete time (watermarked on the max ingest_batch); a
    later re-append of the same id is new data and probes normally.
    Shared mechanics in `products.index_tombstones`."""
    from batch_process_dpla_index_spark.products.index_tombstones import (
        delete_from_index,
    )

    return delete_from_index(
        spark, index_dir, ids, "c_id", id_col=id_col,
        compact_threshold=compact_threshold,
        recount=recount,
    )


def compact_embedding_index(
    spark: SparkSession, index_dir: str
) -> dict[str, str]:
    """Force the tombstone compaction regardless of fraction — the
    explicit vacuum step."""
    from batch_process_dpla_index_spark.products.index_tombstones import (
        compact_index_tombstones,
    )

    return compact_index_tombstones(spark, index_dir, "c_id")


def _assign_mode(n_cells: int) -> str:
    """Assignment convention for NEW geometry (build/rebuild): above
    the family-wide routing threshold, the dot-metric two-level
    grouping of the pseudo-random grid. The choice is PINNED in the
    manifest — the constant is never consulted when serving an
    existing index, so retuning it cannot mis-probe stored data."""
    from batch_process_dpla_index_spark.operators.clustering import (
        TWO_LEVEL_ROUTING_THRESHOLD,
    )

    return "two-level-dot" if n_cells >= TWO_LEVEL_ROUTING_THRESHOLD else "flat"


def _probe_frame(
    vecs: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    n_cells: int,
    n_probe: int,
    assign: str,
) -> DataFrame:
    """(id, vec, cells): probe list under the index's pinned
    assignment convention — flat O(cells·dim) dot ranking, or the
    dot-metric two-level grouping at O(√cells·dim) per row. Both
    sides of every join in this module go through here, so stored
    and probe geometry cannot diverge."""
    if assign == "two-level-dot":
        from batch_process_dpla_index_spark.operators.similarity import (
            _imi_probe_split,
            _pseudo_random_two_level,
            two_level_cells_pandas,
        )

        coarse, fine, k_f = _pseudo_random_two_level(dim, n_cells)
        p_c, p_f = _imi_probe_split(
            n_probe, n_cells, k_f, len(fine), None, None
        )
        return two_level_cells_pandas(
            vecs, coarse, fine, k_f, p_c, p_f, id_col, vec_col, metric="dot"
        )
    if assign != "flat":
        raise ValueError(f"unknown assign convention {assign!r}")
    return ivf_cells_pandas(vecs, id_col, vec_col, dim, n_cells, n_probe)


def _cell_rows(
    vecs: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    n_cells: int,
    assign: str = "flat",
) -> DataFrame:
    """(cell, c_id, c_vec): each vector in its rank-1 storage cell."""
    return _probe_frame(vecs, id_col, vec_col, dim, n_cells, 1, assign).select(
        F.element_at("cells", 1).alias("cell"),
        F.col("id").alias("c_id"),
        F.col("vec").alias("c_vec"),
    )


def build_embedding_index(
    vecs: DataFrame,
    id_col: str,
    vec_col: str,
    index_dir: str,
    dim: int,
    n_cells: int = 16,
) -> dict[str, str]:
    """One corpus assign pass → stored cell rows + manifest.

    Returns the manifest dict (also written to ``index_dir/_MANIFEST``).
    """
    assign = _assign_mode(n_cells)
    cells = _cell_rows(vecs, id_col, vec_col, dim, n_cells, assign).withColumn(
        "ingest_batch", F.lit(0)
    )
    (
        # cluster rows by cell (row-group min/max stats on `cell` then
        # serve any future cell-pruned read), file count AQE-sized by
        # bytes (r17, guide §6) instead of the old min(n_cells, 32)
        # pin. NOTE: this does NOT pre-co-locate the probe join —
        # parquet read-back carries no hash-partitioning metadata, so
        # the join plans its own shuffle/broadcast either way; the
        # repartition is file-layout hygiene only
        keyed_repartition(cells, None, "cell")
        .write.mode("overwrite")
        .partitionBy("ingest_batch")
        .parquet(os.path.join(index_dir, "cells"))
    )
    # a rebuild into a dir that carried tombstones must not inherit
    # them — build overwrites the corpus, so the delete set is spent
    clear_tombstones(index_dir)
    # count from the freshly written parquet footers — recounting the
    # caller's (possibly derived) frame would re-run its whole lineage;
    # r18: read the footers on the driver (no Spark job)
    from batch_process_dpla_index_spark.products.index_tombstones import (
        parquet_rowcount,
    )

    n_vecs = parquet_rowcount(os.path.join(index_dir, "cells"))
    manifest = {
        "dim": str(int(dim)),
        "n_cells": str(int(n_cells)),
        "assign": assign,
        "id_col": id_col,
        "vec_col": vec_col,
        "Record count": str(n_vecs),
        schema_key("cells"): dataset_ddl(cells),
    }
    write_manifest(manifest, index_dir)
    return manifest


def _read_pinned(
    manifest: dict[str, str], index_dir: str, id_col: str, vec_col: str
) -> tuple[int, int, str]:
    """Manifest structural params, with loud drift rejection.
    ``assign`` defaults to "flat" for indexes built before the
    convention was pinned (all of which used the flat quantizer)."""
    for key, got in (("id_col", id_col), ("vec_col", vec_col)):
        if manifest[key] != got:
            raise ValueError(
                f"embedding index at {index_dir!r} was built with "
                f"{key}={manifest[key]!r}; refusing to query it with "
                f"{key}={got!r}"
            )
    return (
        int(manifest["dim"]),
        int(manifest["n_cells"]),
        manifest.get("assign", "flat"),
    )


def incremental_embedding_dedup_indexed(
    spark: SparkSession,
    new_vecs: DataFrame,
    id_col: str,
    vec_col: str,
    index_dir: str,
    threshold: float = 0.3,
    n_probe: int = 2,
    max_ingest_batch: int | None = None,
) -> DataFrame:
    """Dedupe a batch of vectors against the stored index — no corpus
    re-assign. Output contract matches
    ``similarity.incremental_semantic_dedup``: one row per new vector,
    (id, cell, n_matches, is_new, best_match_id, best_score).

    ``max_ingest_batch`` bounds which stored partitions are probed
    (``ingest_batch <= max_ingest_batch``) — the replay-safety lever:
    a checkpoint-replayed micro-batch passes its own batch id so it
    never sees the partition its first attempt appended (partition
    pruning makes the bound free). ``None`` probes everything.

    The result carries a persisted dep (the batch's assign pass feeds
    both the probe explode and the rank-1 base); release it with
    ``operators.dedup.unpersist_deps`` after the consuming action.
    """
    from batch_process_dpla_index_spark.operators.dedup import _with_cached_deps

    manifest = read_manifest(index_dir)
    dim, n_cells, assign = _read_pinned(manifest, index_dir, id_col, vec_col)
    stored = _live_stored(spark, index_dir, manifest)
    if max_ingest_batch is not None:
        stored = stored.where(F.col("ingest_batch") <= int(max_ingest_batch))
    stored = stored.select("cell", "c_id", "c_vec")
    assigned = _probe_frame(
        new_vecs, id_col, vec_col, dim, n_cells, n_probe, assign
    ).persist()
    return _with_cached_deps(
        match_assigned_against_stored(assigned, stored, threshold), [assigned]
    )


def embedding_index_occupancy(
    spark: SparkSession, index_dir: str, design_point: int = 64
) -> dict[str, str]:
    """Rows-per-cell occupancy vs the design point — the observable
    behind the rebuild trigger the module docstring promises. One
    count aggregate over the stored cells (|cells| output rows →
    bounded driver reduce); ``needs_rebuild`` flags when the MEAN
    occupancy over the manifest's cell count exceeds twice the design
    point (the corpus has outgrown its geometry; per-batch probe work
    is now ≥2× the intended per-cell scan)."""
    manifest = read_manifest(index_dir)
    n_cells = int(manifest["n_cells"])
    per_cell = (
        _live_stored(spark, index_dir, manifest)
        .groupBy("cell")
        .count()
        .agg(
            F.sum("count").alias("n_vecs"),
            F.max("count").alias("max_cell"),
            F.count("*").alias("occupied"),
        )
        .first()
    )
    n_vecs = int(per_cell["n_vecs"] or 0)
    mean_occ = n_vecs / n_cells if n_cells else 0.0
    return {
        "n_vecs": str(n_vecs),
        "n_cells": str(n_cells),
        "occupied_cells": str(int(per_cell["occupied"] or 0)),
        "max_per_cell": str(int(per_cell["max_cell"] or 0)),
        "mean_per_cell": f"{mean_occ:.2f}",
        "design_point": str(design_point),
        "needs_rebuild": str(mean_occ > 2 * design_point),
    }


def rebuild_embedding_index(
    spark: SparkSession,
    index_dir: str,
    n_cells: int | None = None,
    design_point: int = 64,
) -> dict[str, str]:
    """Re-assign every stored vector under a new cell count (default:
    sized back to the design point, ``max(16, n_vecs // design_point)``)
    — the rebuild the build-time ``n_cells`` pin defers to. The
    ``ingest_batch`` partition values are PRESERVED row-for-row, so
    replay pruning (``ingest_batch <= batch_id``) stays valid across
    the rebuild; only the cell geometry changes, and the manifest is
    bumped (``n_cells``, ``assign``, ``rebuilt_from``) in the same
    step so a post-rebuild probe can never use the old geometry.

    Cost: one Arrow re-assign pass over the stored rows, one join on a
    ROW-UNIQUE surrogate key to re-attach each row's ingest_batch and
    original id (the Arrow pass carries only key+vec). The surrogate —
    not c_id — is the join key because append never enforces c_id
    uniqueness ACROSS batches (re-ingesting an id in a later batch is
    the natural update flow); a c_id join would fan out n copies →
    n² rows while the manifest count was stamped from the pre-join
    n_vecs, silently inflating AND miscounting the rebuilt dataset.
    One partitioned write — all distributed, no driver-side data.
    The new dataset lands in a ``cells__rebuild`` sibling, because
    Spark cannot overwrite a dataset it is reading, and goes live in
    one `index_tombstones.commit_staged`."""
    manifest = read_manifest(index_dir)
    dim = int(manifest["dim"])
    id_col, vec_col = manifest["id_col"], manifest["vec_col"]
    cells_dir = os.path.join(index_dir, "cells")
    # __rk is minted ONCE on a persisted frame: monotonically_increasing_id
    # is only stable for a fixed partition layout, and keyed is consumed
    # twice (through the Arrow re-assign and as the join-back side) — an
    # unpersisted frame could re-plan between the two and mis-key rows.
    # _live_stored: a rebuild physically drops tombstoned rows (the
    # takedown set is spent once the survivors are rewritten)
    keyed = (
        _live_stored(spark, index_dir, manifest)
        .select("c_id", "c_vec", "ingest_batch")
        .withColumn("__rk", F.monotonically_increasing_id())
        .persist()
    )
    n_vecs = keyed.count()
    if n_vecs == 0:
        keyed.unpersist()
    refuse_empty(n_vecs)
    new_cells = (
        int(n_cells) if n_cells is not None
        else max(16, n_vecs // design_point)
    )
    assign = _assign_mode(new_cells)
    reassigned = (
        _probe_frame(
            keyed.select(
                F.col("__rk").alias(id_col), F.col("c_vec").alias(vec_col)
            ),
            id_col, vec_col, dim, new_cells, 1, assign,
        )
        .select(
            F.element_at("cells", 1).alias("cell"),
            F.col("id").alias("__rk"),
        )
        .join(keyed, "__rk")
        .select("cell", "c_id", "c_vec", "ingest_batch")
    )
    tmp_dir = os.path.join(index_dir, "cells__rebuild")
    shutil.rmtree(tmp_dir, ignore_errors=True)
    (
        keyed_repartition(reassigned, None, "cell")
        .write.mode("overwrite")
        .partitionBy("ingest_batch")
        .parquet(tmp_dir)
    )
    keyed.unpersist()
    manifest["rebuilt_from"] = manifest["n_cells"]
    manifest["n_cells"] = str(new_cells)
    manifest["assign"] = assign
    manifest["Record count"] = str(n_vecs)
    manifest["Tombstone count"] = "0"
    manifest[schema_key("cells")] = dataset_ddl(reassigned)
    commit_staged(index_dir, manifest, [(tmp_dir, cells_dir)])
    return manifest


def append_to_embedding_index(
    batch_vecs: DataFrame,
    id_col: str,
    vec_col: str,
    index_dir: str,
    ingest_batch: int = 1,
    idempotent: bool = False,
    assigned_cells: DataFrame | None = None,
) -> dict[str, str]:
    """Append an accepted batch's cell rows under its ``ingest_batch``
    partition (cell geometry comes from the manifest so drift is
    impossible). ``idempotent=True`` switches to dynamic partition
    overwrite — a streaming checkpoint replay then REPLACES its own
    partition instead of appending a second copy; leave it off for
    ad-hoc batch appends. Returns the updated manifest, its ``Record
    count`` kept by :func:`index_tombstones.append_cells`.

    ``assigned_cells`` — optional (``id``, ``cell``) frame carrying
    each batch vector's rank-1 storage cell, e.g. the output of
    :func:`incremental_embedding_dedup_indexed` (whose ``cell`` column
    IS that assignment): passing it skips the re-assign matmul the
    probe pass already paid. Caller contract: the assignment must come
    from THIS index's geometry (reading it through this module's query
    path guarantees that via the manifest)."""
    manifest = read_manifest(index_dir)
    dim, n_cells, assign = _read_pinned(manifest, index_dir, id_col, vec_col)
    if assigned_cells is not None:
        cells = batch_vecs.join(
            assigned_cells.select(
                F.col("id").alias(id_col), F.col("cell").alias("cell")
            ),
            id_col,
        ).select(
            "cell",
            F.col(id_col).alias("c_id"),
            F.col(vec_col).alias("c_vec"),
        )
    else:
        cells = _cell_rows(batch_vecs, id_col, vec_col, dim, n_cells, assign)
    cells = cells.withColumn("ingest_batch", F.lit(int(ingest_batch)))
    return append_cells(
        batch_vecs.sparkSession, index_dir, manifest, cells, "c_id",
        ingest_batch, idempotent,
    )
