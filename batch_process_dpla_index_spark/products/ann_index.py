"""Persisted ANN (IVF) index: build the coarse quantizer and cell
assignments once, serve query batches against them.

The similarity operators (`operators/similarity.py`) assign corpus
cells in-line per run; a production vector-search pipeline builds the
index once per corpus version and amortizes it over every query batch:

- :func:`build_ann_index`: learn a k-means codebook
  (``operators.clustering.kmeans_fit``, maximin seeding) or use the
  deterministic pseudo-random quantizer, assign every corpus vector to
  its nearest cell (one Arrow matmul pass), and write
  ``centroids`` + ``cells`` parquet datasets under ``index_dir`` with a
  ``_MANIFEST`` pinning (dim, n_cells, quantizer, metric). The cells
  dataset is repartitioned on ``cell`` so query-time cell groups read
  co-located.
- :func:`ann_query_indexed` (cosine over the stored vectors) and
  :func:`pq_query_indexed` (ADC over the stored PQ codes) share one
  serve: read the manifest + the coarse model (k×dim floats — the
  whole model fits on the driver, read there with pyarrow), collect
  the query batch (up to 1,024 queries at dim 64), rank each query's
  probe cells on the driver (flat, or the IMI probe of a two-level
  index), score ONLY the probed stored cells with the serve's block
  scorer and merge the candidates on the driver
  (``operators.similarity._probe_serve``). Probed cells whose row
  groups hold up to ``index_tombstones._SCAN_DRIVER_MAX_ROWS`` stored
  rows (in practice: an index of up to that many rows, since a row
  group spans most cells) are read and scored on the driver (no Spark
  job); larger ones in one Arrow pass (one job). The corpus is never re-assigned and never shuffled.

Scale: index build is one corpus pass + k-means (bounded driver state:
k×dim). Query cost is a scan of the probed cells plus a driver merge
of at most |Q|·k candidates per scan task — the stored vectors stay in
place and nothing shuffles. A larger batch falls back to one shuffle
join into the cell layout. n_cells ~ √N keeps
cells bounded; growing the corpus = :func:`append_to_ann_index` (new
assignments under the same manifest-pinned codebook, one batch-sized
Arrow pass, per-batch ``ingest_batch`` partitions with idempotent
replay overwrite); re-learn on drift = :func:`rebuild_ann_index`
(re-fit the pinned quantizer on the live rows, surrogate-key
re-attach, one `index_tombstones.commit_staged` —
:func:`ann_index_occupancy` is the trigger's observable); takedown =
:func:`delete_from_ann_index` (manifest-logged tombstones anti-joined
at serve time, compacted past a threshold —
`products.index_tombstones`).
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
    live_table,
    read_dataset,
    refuse_empty,
    schema_key,
    write_parquet_file,
)
from batch_process_dpla_index_spark.operators.similarity import (
    _COSINE,
    _flat_query_topk,
    _imi_probe_split,
    _imi_query_topk,
    ivf_cells_pandas,
)


def _live_cells(
    spark: SparkSession, index_dir: str, manifest: dict[str, str]
) -> DataFrame:
    """Stored cell rows minus the tombstone set — THE read every serve
    path (query/recall/PQ/occupancy) and every recount goes through,
    so a takedown (`delete_from_ann_index`) is invisible to no
    consumer. An index that never saw a delete passes through with
    zero plan overhead (no tombstones dir → plain scan). The cells are
    read with the manifest's ``cells_schema``: no schema-inference job."""
    from batch_process_dpla_index_spark.products.index_tombstones import (
        apply_tombstones,
    )

    stored = read_dataset(spark, index_dir, "cells", manifest)
    return apply_tombstones(spark, index_dir, stored, "id")


def delete_from_ann_index(
    spark: SparkSession,
    index_dir: str,
    ids,
    id_col: str | None = None,
    compact_threshold: float = 0.2,
    cell_partitions: int | None = None,
    recount: bool = True,
) -> dict[str, str]:
    """Tombstone ids out of the index (takedown/opt-out) — O(|ids|)
    work, no cell rewrite until the tombstoned fraction reaches
    ``compact_threshold`` (then the cells compact in the same call:
    physical rewrite of survivors, ingest_batch partitions preserved,
    failure-safe swap). A delete removes every copy of the id PRESENT
    at delete time; a later re-append of the same id is new data and
    serves normally. See `products.index_tombstones` for the shared
    mechanics. Returns the updated manifest."""
    from batch_process_dpla_index_spark.products.index_tombstones import (
        delete_from_index,
    )

    return delete_from_index(
        spark, index_dir, ids, "id", id_col=id_col,
        compact_threshold=compact_threshold,
        cell_partitions=cell_partitions,
        recount=recount,
    )


def compact_ann_index(
    spark: SparkSession, index_dir: str, cell_partitions: int | None = None
) -> dict[str, str]:
    """Force the tombstone compaction regardless of fraction — the
    explicit vacuum step."""
    from batch_process_dpla_index_spark.products.index_tombstones import (
        compact_index_tombstones,
    )

    return compact_index_tombstones(
        spark, index_dir, "id", cell_partitions=cell_partitions
    )


def _assign_storage_cells(
    vecs: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    n_cells: int,
    two_level_model=None,
    centroids=None,
) -> DataFrame:
    """(cell, id, vec): rank-1 storage assignment under the index's
    quantizer — THE one code path both :func:`build_ann_index` and
    :func:`append_to_ann_index` run, so build-time and append-time
    assignment cannot drift (a drifted copy would assign appended
    vectors to different cells than a rebuild would, silently
    desynchronizing serve-time probes from storage)."""
    if two_level_model is not None:
        from batch_process_dpla_index_spark.operators.clustering import (
            kmeans_assign_two_level,
        )

        coarse, fine, k_f = two_level_model
        return kmeans_assign_two_level(
            vecs, coarse, fine, k_f, id_col, vec_col, keep_vec=True
        ).select(F.col("cell").cast("int").alias("cell"), "id", "vec")
    return ivf_cells_pandas(
        vecs, id_col, vec_col, dim, n_cells, 1, centroids
    ).select(
        F.element_at("cells", 1).cast("int").alias("cell"), "id", "vec"
    )


def build_ann_index(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    index_dir: str,
    dim: int = 64,
    n_cells: int = 16,
    learned: bool | str = True,
    kmeans_iters: int = 10,
    cell_partitions: int | None = None,
    pq_m: int | None = None,
    pq_k: int = 16,
    pq_iters: int = 3,
) -> dict[str, str]:
    """One corpus pass (+ k-means when ``learned``) → centroids, cell
    assignments, manifest. Returns the manifest dict.

    ``learned`` picks the coarse quantizer: ``True`` = flat
    maximin-seeded Lloyd's; ``"two-level"`` = the billion-scale path
    (√k coarse cells, then all fine codebooks at once — O(N·√k·dim)
    per training iteration). A two-level index PERSISTS the model —
    ``coarse_centroids`` + ``fine_centroids`` datasets and the
    fit-owned stride ``k_f`` in the manifest — and stores every
    vector under its global two-level cell id
    (``coarse_cell * k_f + fine_idx``), so serving routes through the
    IMI probe (`similarity._imi_query_topk`): a query ranks k_c
    coarse centroids then only the probed cells' fine codebooks —
    O(√k·dim) per query where the flat layout pays O(k·dim) just to
    rank cells. NOTE the trained cell count can differ from the
    request in both directions (grid rounds up, under-full coarse
    cells train fewer fine centroids); the manifest records the true
    count and all serving reads the manifest, never the request.
    ``False`` = the deterministic pseudo-random quantizer (no
    training pass at all). Any other string raises — a typo like
    ``"two_level"`` must not silently train the flat path.

    ``pq_m`` turns on the IVF-PQ layout: m sub-codebooks train on the
    corpus (``operators.quantization.pq_train``), every stored row
    additionally carries its m-code array, and the codebooks persist
    under ``pq_codebooks`` — :func:`pq_query_indexed` then serves
    queries from codes alone (32× less data motion at the defaults),
    with the float vectors still in place for exact re-ranking."""
    if isinstance(learned, str) and learned != "two-level":
        # a typo ("two_level", "kmeans", ...) must fail loudly, not
        # silently train the flat-maximin branch (ADVICE round-11)
        raise ValueError(
            f"unrecognized quantizer string learned={learned!r}; "
            "expected True, False, or 'two-level'"
        )
    two_level_model = None
    if learned == "two-level":
        # billion-scale training path: √k coarse cells, then all fine
        # codebooks trained simultaneously within them — each training
        # iteration assigns at O(N·√k·dim) instead of O(N·k·dim)
        # (clustering.kmeans_fit_two_level; probe receipt in SCALE.md
        # round-11). The model PERSISTS in the index artifact and the
        # storage assign runs through the same two-level inference the
        # IMI serve path probes (one O(N·√k·dim) pass — the flat
        # flattening this branch used to do paid O(N·k·dim) to store
        # and left serving stuck at O(k·dim) per query).
        from batch_process_dpla_index_spark.operators.clustering import (
            kmeans_fit_two_level,
        )

        coarse, fine, k_f = kmeans_fit_two_level(
            corpus, id_col, vec_col, k=n_cells, n_iter=kmeans_iters
        )
        two_level_model = (coarse, fine, k_f)
        centroids = None
        # the index's true cell count is the number of TRAINED fine
        # centroids (global ids are strided coarse_cell*k_f+fine_idx,
        # with gaps where a coarse cell trained under-full) — it can
        # differ from the request in BOTH directions: under-full
        # coarse cells train fewer fine centroids, and a k_c that
        # doesn't divide n_cells rounds the grid UP to
        # k_c · ceil(n_cells/k_c) (the IMI convention — FAISS's IMI is
        # likewise a k_c×k_f grid, not an arbitrary k)
        n_cells = sum(len(m) for m in fine.values())
    elif learned:
        from batch_process_dpla_index_spark.operators.clustering import kmeans_fit

        centroids = kmeans_fit(
            corpus, id_col, vec_col, k=n_cells, n_iter=kmeans_iters
        )
    else:
        centroids = None

    stored = _assign_storage_cells(
        corpus, id_col, vec_col, dim, n_cells, two_level_model, centroids
    )
    codebooks = None
    if pq_m is not None:
        from batch_process_dpla_index_spark.operators.quantization import (
            pq_encode,
            pq_train,
        )

        codebooks = pq_train(
            corpus, id_col, vec_col, dim=dim, m=pq_m, k=pq_k, n_iter=pq_iters
        )
        codes = pq_encode(corpus, codebooks, id_col, vec_col)
        stored = stored.join(codes, "id")
    # Hive-partitioned by ingest_batch (0 at build), mirroring the
    # dedup/embedding index products: appends land per-batch
    # partitions a checkpoint replay can overwrite idempotently, and
    # serving reads are unchanged (every read path selects its
    # columns explicitly)
    stored = stored.withColumn("ingest_batch", F.lit(0))
    (
        keyed_repartition(stored, cell_partitions, "cell")
        .write.mode("overwrite")
        .partitionBy("ingest_batch")
        .parquet(os.path.join(index_dir, "cells"))
    )
    # a rebuild into a dir that carried tombstones must not inherit
    # them — build overwrites the corpus, so the delete set is spent
    clear_tombstones(index_dir)
    # the model files are k·dim floats: written on the driver, no job
    if codebooks is not None:
        _write_model(os.path.join(index_dir, "pq_codebooks"), _centroid_table(
            {
                "j": [j for j, book in enumerate(codebooks) for _ in book],
                "code": [c for book in codebooks for c in range(len(book))],
            },
            [vec for book in codebooks for vec in book],
        ))
    for name, table in _quantizer_tables(
        dim, n_cells, two_level_model, centroids
    ).items():
        _write_model(os.path.join(index_dir, name), table)

    # count from the freshly written parquet footers — recounting the
    # unpersisted `stored` frame would re-run the whole encode DAG;
    # r18: read the footers on the driver (no Spark job)
    from batch_process_dpla_index_spark.products.index_tombstones import (
        parquet_rowcount,
    )

    n_vecs = parquet_rowcount(os.path.join(index_dir, "cells"))
    manifest = {
        "dim": str(dim),
        "n_cells": str(n_cells),
        "quantizer": (
            "kmeans-two-level"
            if learned == "two-level"
            else "kmeans-maximin" if learned else "pseudo-random"
        ),
        "metric": "cosine",
        "Record count": str(n_vecs),
        schema_key("cells"): dataset_ddl(stored),
    }
    if two_level_model is not None:
        # the stride is FIT-OWNED model state (not derivable from the
        # fine codebook widths when every cell trained under-full) —
        # pin it like the cell geometry so serving can never reconstruct
        # a different global-id convention than storage used
        manifest["k_f"] = str(two_level_model[2])
        manifest["coarse_k"] = str(len(two_level_model[0]))
    if pq_m is not None:
        manifest["pq_m"] = str(pq_m)
        manifest["pq_k"] = str(pq_k)
    write_manifest(manifest, index_dir)
    return manifest


def _centroid_table(keys: dict[str, list[int]], vecs):
    """A model dataset: int32 key columns ``keys`` plus one
    ``centroid`` array<double> column, one row per vector."""
    import pyarrow as pa

    cols = {name: pa.array(vals, pa.int32()) for name, vals in keys.items()}
    cols["centroid"] = pa.array(
        [[float(x) for x in v] for v in vecs], pa.list_(pa.float64())
    )
    return pa.table(cols)


def _quantizer_tables(
    dim: int, n_cells: int, two_level_model=None, centroids=None
) -> dict:
    """The quantizer's model datasets by name, as build and rebuild
    persist them: ``coarse_centroids`` + ``fine_centroids`` for a
    two-level model (the MODEL, not a flattened list: global cell ids
    are strided with gaps, so a positional flat list cannot represent
    them), else the flat ``centroids`` (the pseudo-random grid when no
    centroids were learned)."""
    if two_level_model is not None:
        coarse, fine, _k_f = two_level_model
        return {
            "coarse_centroids": _centroid_table(
                {"ccell": list(range(len(coarse)))}, coarse
            ),
            "fine_centroids": _centroid_table(
                {
                    "ccell": [c for c in sorted(fine) for _ in fine[c]],
                    "fine": [j for c in sorted(fine) for j in range(len(fine[c]))],
                },
                [v for c in sorted(fine) for v in fine[c]],
            ),
        }
    if centroids is None:
        from batch_process_dpla_index_spark.operators.similarity import (
            _centroid_matrix,
        )

        centroids = _centroid_matrix(dim, n_cells).tolist()
    return {
        "centroids": _centroid_table(
            {"cell": list(range(len(centroids)))}, centroids
        )
    }


def _write_model(path: str, table) -> None:
    """Replace the model dataset at ``path`` with ``table``, written on
    the driver (`index_tombstones.write_parquet_file`)."""
    shutil.rmtree(path, ignore_errors=True)
    write_parquet_file(table, path)


def _read_model(index_dir: str, name: str, sort_cols: list[str]):
    """Rows of a small model dataset (k·dim floats at most) as dicts,
    sorted on ``sort_cols``, read on the driver with pyarrow: no Spark
    job. pyarrow skips the ``_``/``.`` files a writer leaves."""
    import pyarrow.parquet as pq

    rows = pq.read_table(os.path.join(index_dir, name)).to_pylist()
    return sorted(rows, key=lambda r: tuple(r[c] for c in sort_cols))


def load_centroids(spark: SparkSession, index_dir: str) -> list[list[float]]:
    """The flat centroids in cell order. Like every model read here it
    reads the parquet on the driver (:func:`_read_model`): no Spark
    job."""
    return [r["centroid"] for r in _read_model(index_dir, "centroids", ["cell"])]


def load_two_level_model(
    spark: SparkSession, index_dir: str
) -> tuple[list[list[float]], dict[int, list[list[float]]], int]:
    """(coarse, fine, k_f) of a two-level-built index — the exact shape
    `clustering.kmeans_fit_two_level` returned at build time. k·dim
    floats total: the whole model fits on the driver, like the flat
    centroid list."""
    manifest = read_manifest(index_dir)
    k_f = int(manifest["k_f"])
    coarse = [
        r["centroid"] for r in _read_model(index_dir, "coarse_centroids", ["ccell"])
    ]
    fine: dict[int, list[list[float]]] = {}
    for r in _read_model(index_dir, "fine_centroids", ["ccell", "fine"]):
        fine.setdefault(int(r["ccell"]), []).append(r["centroid"])
    return coarse, fine, k_f


def _load_quantizer(
    spark: SparkSession, index_dir: str, manifest: dict[str, str]
) -> tuple[tuple | None, list[list[float]] | None]:
    """(two_level_model, centroids): the quantizer every serve and
    append of the index routes through — the (coarse, fine, k_f)
    model of a two-level index, else the flat centroid list (the
    pseudo-random grid is stored as one too). "k_f" gates the IMI
    route: indexes built by the pre-round-12 two-level format
    flattened the model to the FLAT layout (flat centroids dataset +
    flat cell assignments, no persisted stride), so they must keep
    serving and appending flat — branching on the quantizer name alone
    would send them into load_two_level_model and crash on artifacts
    they never wrote."""
    if manifest["quantizer"] == "kmeans-two-level" and "k_f" in manifest:
        return load_two_level_model(spark, index_dir), None
    return None, load_centroids(spark, index_dir)


def load_pq_codebooks(spark: SparkSession, index_dir: str) -> list[list[list[float]]]:
    rows = _read_model(index_dir, "pq_codebooks", ["j", "code"])
    m = max(r["j"] for r in rows) + 1
    k = max(r["code"] for r in rows) + 1
    books: list[list[list[float]]] = [[None] * k for _ in range(m)]  # type: ignore[list-item]
    for r in rows:
        books[r["j"]][r["code"]] = r["centroid"]
    return books


def pq_query_indexed(
    spark: SparkSession,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    index_dir: str,
    k: int = 5,
    n_probe: int = 4,
) -> DataFrame:
    """IVF-PQ serving: (query_id, neighbor_id, dist2, rnk), each
    query's exact top-k over its ``n_probe`` probed cells by ADC
    distance (dist2 ASC, then neighbor_id ASC), scored from the stored
    codes alone — the float vectors are never read.

    The serve is :func:`ann_query_indexed`'s, with the ADC block
    scorer (`quantization._adc_scorer`) in place of cosine: the same
    cell routing (flat, or the IMI probe of a two-level index), the
    same broadcast probe under the query-batch cap, which reads only
    (cell, id, codes) of the probed cells (on the driver under the scan
    cap, else in one Arrow pass), and the same cell-shuffle fallback
    over it. Query rows whose id or vector is
    NULL return no rows."""
    from batch_process_dpla_index_spark.operators.quantization import (
        _adc_scorer,
    )

    return _serve(spark, queries, id_col, vec_col, index_dir, k, n_probe,
                  scorer=_adc_scorer(load_pq_codebooks(spark, index_dir)))


def append_to_ann_index(
    spark: SparkSession,
    new_vecs: DataFrame,
    id_col: str,
    vec_col: str,
    index_dir: str,
    ingest_batch: int = 1,
    idempotent: bool = False,
    cell_partitions: int | None = None,
) -> dict[str, str]:
    """Grow the corpus under the SAME manifest-pinned quantizer — the
    append path the module docstring promises: one Arrow assign pass
    over the new batch (two-level inference when the manifest carries
    ``k_f``, the stored flat centroid list otherwise — never a
    re-train, never a corpus re-assign), PQ codes from the stored
    codebooks when the index is IVF-PQ, landed under the batch's
    ``ingest_batch`` partition. ``idempotent=True`` switches to
    dynamic partition overwrite so a replayed batch REPLACES its own
    partition instead of appending a second copy (the streaming-ingest
    replay convention shared with the dedup/embedding indexes).

    Refuses an index written before the batch-partitioned layout
    (mixed partitioned/unpartitioned parquet is unreadable) — rebuild
    those once to append. Re-learn on drift remains a rebuild.

    Returns the updated manifest, its ``Record count`` kept by
    :func:`index_tombstones.append_cells`."""
    if int(ingest_batch) == 0:
        # 0 is the BUILD partition: an idempotent "append" there would
        # dynamic-overwrite the original corpus with the batch — the
        # silent data loss the loud-refusal convention exists to stop
        raise ValueError(
            "ingest_batch=0 is the build partition; appends start at 1"
        )
    manifest = read_manifest(index_dir)
    stored_schema = read_dataset(spark, index_dir, "cells", manifest).schema
    if "ingest_batch" not in stored_schema.names:
        raise ValueError(
            f"ANN index at {index_dir!r} predates the batch-partitioned "
            "cells layout; rebuild it once before appending"
        )
    dim = int(manifest["dim"])
    n_cells = int(manifest["n_cells"])
    two_level_model, centroids = _load_quantizer(spark, index_dir, manifest)
    batch = _assign_storage_cells(
        new_vecs, id_col, vec_col, dim, n_cells, two_level_model, centroids
    )
    if "pq_m" in manifest:
        from batch_process_dpla_index_spark.operators.quantization import (
            pq_encode,
        )

        books = load_pq_codebooks(spark, index_dir)
        codes = pq_encode(new_vecs, books, id_col, vec_col)
        batch = batch.join(codes, "id")
    batch = batch.withColumn("ingest_batch", F.lit(int(ingest_batch)))
    return append_cells(
        spark, index_dir, manifest,
        keyed_repartition(
            batch,
            cell_partitions if cell_partitions is None else min(n_cells, cell_partitions),
            "cell",
        ),
        "id", ingest_batch, idempotent,
    )


def ann_index_occupancy(
    spark: SparkSession, index_dir: str, design_point: int = 64
) -> dict[str, str]:
    """Rows-per-cell occupancy vs the design point — the observable
    behind the "re-learn on drift = rebuild" trigger (module
    docstring), mirroring `embedding_index.embedding_index_occupancy`
    so the product MOST likely to drift (it also pins PQ codebooks) is
    not the one without the trigger. Counts LIVE rows (tombstones
    excluded). One count aggregate over the stored cells (|cells|
    output rows → bounded driver reduce); ``needs_rebuild`` flags when
    mean occupancy over the manifest's cell count exceeds twice the
    design point."""
    manifest = read_manifest(index_dir)
    n_cells = int(manifest["n_cells"])
    per_cell = (
        _live_cells(spark, index_dir, manifest)
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


def rebuild_ann_index(
    spark: SparkSession,
    index_dir: str,
    n_cells: int | None = None,
    design_point: int = 64,
    kmeans_iters: int = 10,
    cell_partitions: int | None = None,
) -> dict[str, str]:
    """Re-fit the manifest-pinned quantizer on the stored LIVE vectors
    and re-assign every row under the new geometry (default cell
    count: resized back to the design point, ``max(16, n_vecs //
    design_point)``) — the rebuild the build-time ``n_cells`` pin and
    "re-learn on drift" defer to. Mirrors
    `embedding_index.rebuild_embedding_index`:

    - ``ingest_batch`` partitions preserved row-for-row (replay
      pruning stays valid); a pre-batch-layout index gains
      ``ingest_batch=0``, which is the one-time rebuild
      `append_to_ann_index`'s refusal message points at.
    - the re-attach joins on a ROW-UNIQUE surrogate key, never the
      stored id (append doesn't enforce id uniqueness across batches).
    - tombstoned rows are physically dropped and the delete set
      cleared (the takedown is spent in the rewrite).
    - PQ codes/codebooks carry through untouched — they encode the
      VECTORS, not the cell geometry, so re-assignment can't
      invalidate them.
    - quantizer type is manifest-pinned: a two-level index re-fits the
      two-level model (and re-persists coarse/fine + the new fit's
      ``k_f``); a flat-kmeans index re-fits flat; pseudo-random just
      re-derives the deterministic grid at the new cell count. A
      PRE-round-12 two-level index (flat-flattened layout, no ``k_f``)
      re-fits the true two-level model — rebuilding upgrades it to the
      IMI-served layout.

    The new cells and model files land in ``<name>__rebuild``
    siblings and go live in one `index_tombstones.commit_staged`."""
    manifest = read_manifest(index_dir)
    dim = int(manifest["dim"])
    quantizer = manifest["quantizer"]
    cells_dir = os.path.join(index_dir, "cells")
    live = _live_cells(spark, index_dir, manifest)
    if "ingest_batch" not in live.columns:
        live = live.withColumn("ingest_batch", F.lit(0))
    # __rk minted once on a persisted frame (monotonically_increasing_id
    # is only stable for a fixed partition layout; keyed is consumed by
    # the re-assign AND the join-back)
    keyed = live.withColumn(
        "__rk", F.monotonically_increasing_id()
    ).persist()
    n_vecs = keyed.count()
    if n_vecs == 0:
        keyed.unpersist()
    refuse_empty(n_vecs)
    new_cells = (
        int(n_cells) if n_cells is not None
        else max(16, n_vecs // design_point)
    )

    two_level_model = None
    centroids = None
    fit_input = keyed.select("__rk", F.col("vec").alias("__v"))
    if quantizer == "kmeans-two-level":
        from batch_process_dpla_index_spark.operators.clustering import (
            kmeans_fit_two_level,
        )

        coarse, fine, k_f = kmeans_fit_two_level(
            fit_input, "__rk", "__v", k=new_cells, n_iter=kmeans_iters
        )
        two_level_model = (coarse, fine, k_f)
        new_cells = sum(len(m) for m in fine.values())
    elif quantizer == "kmeans-maximin":
        from batch_process_dpla_index_spark.operators.clustering import (
            kmeans_fit,
        )

        centroids = kmeans_fit(
            fit_input, "__rk", "__v", k=new_cells, n_iter=kmeans_iters
        )
    elif quantizer != "pseudo-random":
        raise ValueError(f"unknown quantizer {quantizer!r} in manifest")

    reassigned = (
        _assign_storage_cells(
            fit_input, "__rk", "__v", dim, new_cells, two_level_model,
            centroids,
        )
        .select(F.col("cell"), F.col("id").alias("__rk"))
        .join(keyed.drop("cell"), "__rk")
        .drop("__rk")
    )
    tmp_cells = os.path.join(index_dir, "cells__rebuild")
    shutil.rmtree(tmp_cells, ignore_errors=True)
    (
        keyed_repartition(
            reassigned,
            cell_partitions if cell_partitions is None else min(new_cells, cell_partitions),
            "cell",
        )
        .write.mode("overwrite")
        .partitionBy("ingest_batch")
        .parquet(tmp_cells)
    )
    keyed.unpersist()
    swaps = [(tmp_cells, cells_dir)]
    for name, table in _quantizer_tables(
        dim, new_cells, two_level_model, centroids
    ).items():
        staged = os.path.join(index_dir, name + "__rebuild")
        _write_model(staged, table)
        swaps.append((staged, os.path.join(index_dir, name)))
    manifest["rebuilt_from"] = manifest["n_cells"]
    manifest["n_cells"] = str(new_cells)
    manifest["Record count"] = str(n_vecs)
    manifest["Tombstone count"] = "0"
    manifest[schema_key("cells")] = dataset_ddl(reassigned)
    if two_level_model is not None:
        manifest["k_f"] = str(two_level_model[2])
        manifest["coarse_k"] = str(len(two_level_model[0]))
    else:
        # flat pins never carry the two-level stride
        manifest.pop("k_f", None)
        manifest.pop("coarse_k", None)
    commit_staged(index_dir, manifest, swaps)
    if two_level_model is not None:
        # a pre-r12 two-level index carried a FLAT centroids dataset
        # (the flattened layout); the rebuilt index serves through
        # coarse/fine via the k_f gate, so the stale flat artifact is
        # dead weight — drop it
        shutil.rmtree(os.path.join(index_dir, "centroids"), ignore_errors=True)
    return manifest


def ann_query_indexed(
    spark: SparkSession,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    index_dir: str,
    k: int = 5,
    n_probe: int = 4,
    probe_coarse: int | None = None,
    probe_fine: int | None = None,
) -> DataFrame:
    """(query_id, neighbor_id, score, rank) for each query vector
    against the stored index — quantizer parameters come from the
    manifest, never the caller.

    Both layouts serve by broadcast probe
    (`similarity._probe_serve`): a query batch whose vectors (8·dim
    bytes per query, so 1,024 queries at dim 64) and candidates
    (probes·k rows of 24 bytes per query) both fit
    `similarity._QUERY_BATCH_CAP_BYTES` is collected, each query's
    probe cells are ranked on the driver, only the probed stored cells
    are read and scored, and the candidates merge on the driver into a
    local frame. The probed live cells are read and scored on the
    driver (`index_tombstones.live_table`) when the row groups holding
    them store at most `index_tombstones._SCAN_DRIVER_MAX_ROWS` rows:
    no Spark job, for a client-built batch. Over that cap they are scored in one Arrow
    pass: one Spark job (two with tombstones). The stored vectors are
    never shuffled. A larger batch (e.g. the ``ann-index query`` CLI
    over a whole parquet file) takes the cell-grouped shuffle of
    `_ivf_score_and_rank` instead; the rows are the same on all three
    routes. Each drops query rows whose id or vector is NULL: such a
    query returns no rows.

    A two-level-built index ranks cells through the IMI probe
    (`similarity._two_level_probe_blocks`): rank k_c coarse centroids,
    keep ``probe_coarse``, rank only those cells' fine codebooks, keep
    ``probe_fine`` each — per-query probe cost (k_c + p_c·k_f)·dim ≈
    O(√k·dim), vs the flat layout's O(k·dim) cell ranking. When the
    caller passes only the flat ``n_probe`` budget,
    :func:`_imi_probe_split` factors it (full budget ⇒ exact search,
    same calibration contract as the flat path)."""
    return _serve(spark, queries, id_col, vec_col, index_dir, k, n_probe,
                  probe_coarse, probe_fine)


def _serve(
    spark: SparkSession,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    index_dir: str,
    k: int,
    n_probe: int,
    probe_coarse: int | None = None,
    probe_fine: int | None = None,
    scorer=_COSINE,
) -> DataFrame:
    """The one index serve of :func:`ann_query_indexed` (cosine) and
    :func:`pq_query_indexed` (ADC): route the batch through the
    manifest's layout to `similarity._probe_serve` over the live
    cells, read on the driver (`index_tombstones.live_table`) under its
    row cap. Only the Spark routes build the :func:`_live_cells`
    plan."""
    manifest = read_manifest(index_dir)

    def stored():
        return _live_cells(spark, index_dir, manifest)

    def read_cells(cells, columns):
        return live_table(index_dir, "cells", "id", columns, cells)

    dim = int(manifest["dim"])
    n_cells = int(manifest["n_cells"])
    two_level_model, centroids = _load_quantizer(spark, index_dir, manifest)
    if two_level_model is not None:
        coarse, fine, k_f = two_level_model
        p_c, p_f = _imi_probe_split(
            n_probe, n_cells, k_f, len(fine), probe_coarse, probe_fine
        )
        return _imi_query_topk(
            stored, queries, coarse, fine, k_f, p_c, p_f, id_col, vec_col,
            dim, k, scorer, read_cells,
        )
    if probe_coarse is not None or probe_fine is not None:
        # silently ignoring the IMI widths on a flat-served index would
        # hand back n_probe behavior under an IMI-budget label
        raise ValueError(
            "probe_coarse/probe_fine only apply to a two-level index "
            f"(this one serves flat: quantizer={manifest['quantizer']!r}"
            f"{', pre-round-12 flattened layout' if manifest['quantizer'] == 'kmeans-two-level' else ''})"
        )
    return _flat_query_topk(
        stored, queries, id_col, vec_col, dim, k, n_cells, n_probe,
        centroids, scorer, read_cells,
    )


def ann_recall_indexed(
    spark: SparkSession,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    index_dir: str,
    k: int = 5,
    n_probe: int = 4,
    probe_coarse: int | None = None,
    probe_fine: int | None = None,
) -> DataFrame:
    """Recall@k of the index's probe-limited serve path against
    brute-force truth over the STORED vectors — the probes-vs-recall
    tuning diagnostic (`operators.similarity.ann_recall_report`)
    surfaced at the product/CLI tier: build index → serve a query
    sample → compare to exact search, without the caller re-supplying
    the corpus (truth reads the index's own ``cells`` dataset, so the
    report can never silently grade against a different corpus than
    the index serves).

    Returns one row per query: (query_id, n_hits, recall_at_k).
    Probing every cell IS the exact search, so ``n_probe = n_cells``
    must report recall 1.0 — the calibration check the CLI prints.

    Scale contract: ``queries`` is a bounded sample (the brute-force
    truth side enforces that); both sides are ~|Q|·k rows into one
    broadcast equi-join."""
    from batch_process_dpla_index_spark.operators.similarity import (
        ann_recall_report,
        cosine_topk,
    )

    approx = ann_query_indexed(
        spark, queries, id_col, vec_col, index_dir, k=k, n_probe=n_probe,
        probe_coarse=probe_coarse, probe_fine=probe_fine,
    )
    stored = _live_cells(spark, index_dir, read_manifest(index_dir)).select(
        F.col("id").alias(id_col), F.col("vec").alias(vec_col)
    )
    truth = cosine_topk(stored, queries, id_col, vec_col, k=k)
    return ann_recall_report(truth, approx, k=k)
