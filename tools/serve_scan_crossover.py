"""Crossover of the two cell-scoring routes of the persisted ANN index
serve (`products.ann_index`, `operators.similarity._probe_serve`):

- DRIVER: the probed live cells are read on the driver
  (`index_tombstones.live_table`) and scored there;
- SPARK: the probed cells are scored in one ``mapInArrow`` pass and
  the candidates collected (what a serve takes when the driver read
  declines, forced here with ``_SCAN_DRIVER_MAX_ROWS = 0``).

For each index size (synthetic float32 vectors, dim 64, 16 cells), each
layout (flat k-means, two-level) and each query batch size, it times a
warm serve on both routes (k 5, 4 probes; median of ``--reps`` after
one warm-up) and records the stored rows the driver read scanned and
kept, the driver CPU time of the driver route (``time.process_time`` of this
process: the read, the scoring and the merge) and the Arrow bytes of
the cells it held. ``_SCAN_DRIVER_MAX_ROWS`` is set from this table.

Usage::

    python tools/serve_scan_crossover.py [--sizes 8000 50000]
        [--queries 25 1024] [--reps 3]

Writes the indexes under .scale/serve_crossover (gitignored), prints a
markdown table and deletes the indexes.
"""

from __future__ import annotations

import argparse
import os
import shutil
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

DIM = 64
N_CELLS = 16
K = 5
N_PROBE = 4
WORK = os.path.join(ROOT, ".scale", "serve_crossover")


def _vectors(n: int, seed: int, id_offset: int = 0):
    """n clustered float32 vectors as a pyarrow table (vec_id,
    embedding): 16 random centres plus noise, so k-means cells differ
    in size as real embeddings' do."""
    import numpy as np
    import pyarrow as pa

    rng = np.random.default_rng(seed)
    centres = rng.standard_normal((16, DIM))
    mat = centres[rng.integers(0, 16, n)] + 0.5 * rng.standard_normal((n, DIM))
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype="int64") + id_offset),
        "embedding": pa.FixedSizeListArray.from_arrays(
            pa.array(mat.astype("float32").reshape(-1)), DIM
        ).cast(pa.list_(pa.float32())),
    })


def _median_s(fn, reps: int) -> float:
    fn()  # warm-up
    times = []
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--sizes", type=int, nargs="+", default=[8000, 50000])
    ap.add_argument("--queries", type=int, nargs="+", default=[25, 1024])
    ap.add_argument("--reps", type=int, default=3)
    args = ap.parse_args()

    import pyarrow.parquet as pq

    from batch_process_dpla_index_spark.products import ann_index, index_tombstones
    from batch_process_dpla_index_spark.session import get_spark

    spark = get_spark("serve_scan_crossover")
    os.makedirs(WORK, exist_ok=True)
    read_stats: dict = {}
    live_table = index_tombstones.live_table

    def recording_live_table(*a, **kw):
        t = live_table(*a, **kw)
        if t is not None:
            read_stats["rows"] = t.num_rows
            read_stats["bytes"] = t.nbytes
        return t

    scan_groups = index_tombstones._scan_groups

    def recording_scan_groups(dataset, cap, cells=None):
        groups = scan_groups(dataset, cap, cells)
        if groups is not None and cells is not None:
            read_stats["scanned"] = sum(g.row_groups[0].num_rows for g in groups)
        return groups

    ann_index.live_table = recording_live_table
    index_tombstones._scan_groups = recording_scan_groups
    print(f"local[{spark.sparkContext.defaultParallelism}], k {K}, "
          f"{N_PROBE} probes, dim {DIM} float32, median of {args.reps}")
    print("| index | vectors | files | queries | rows scanned | rows kept "
          "| driver s | driver CPU s | cells MB | spark s |")
    print("|---|---|---|---|---|---|---|---|---|---|")
    try:
        for n in args.sizes:
            corpus_path = os.path.join(WORK, f"corpus{n}.parquet")
            pq.write_table(_vectors(n, seed=n), corpus_path)
            corpus = spark.read.parquet(corpus_path)
            for learned in (True, "two-level"):
                idx = os.path.join(WORK, f"idx{n}_{learned}")
                ann_index.build_ann_index(
                    corpus, "vec_id", "embedding", idx, dim=DIM,
                    n_cells=N_CELLS, learned=learned, kmeans_iters=3,
                )
                files = sum(
                    f.endswith(".parquet")
                    for _r, _d, fs in os.walk(os.path.join(idx, "cells"))
                    for f in fs
                )
                for n_q in args.queries:
                    queries = spark.createDataFrame(
                        _vectors(n_q, seed=n + n_q, id_offset=10**9).to_pandas()
                    )

                    def serve():
                        rows = ann_index.ann_query_indexed(
                            spark, queries, "vec_id", "embedding", idx,
                            k=K, n_probe=N_PROBE,
                        ).collect()
                        assert len(rows) == n_q * K, len(rows)

                    index_tombstones._SCAN_DRIVER_MAX_ROWS = 10**9
                    driver_s = _median_s(serve, args.reps)
                    cpu0 = time.process_time()
                    serve()
                    driver_cpu = time.process_time() - cpu0
                    index_tombstones._SCAN_DRIVER_MAX_ROWS = 0
                    spark_s = _median_s(serve, args.reps)
                    layout = "two-level" if learned == "two-level" else "flat"
                    print(
                        f"| {layout} | {n:,} | {files} | {n_q:,} "
                        f"| {read_stats['scanned']:,} "
                        f"| {read_stats['rows']:,} | {driver_s:.3f} "
                        f"| {driver_cpu:.3f} | {read_stats['bytes'] / 1e6:.1f} "
                        f"| {spark_s:.3f} |",
                        flush=True,
                    )
    finally:
        shutil.rmtree(WORK, ignore_errors=True)
        spark.stop()


if __name__ == "__main__":
    main()
