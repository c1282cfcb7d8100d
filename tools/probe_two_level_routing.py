"""Scale probe for the round-12 two-level ASSIGN routing in the
semantic-dedup family (VERDICT r11 #3).

Measures `operators.dedup.semantic_dedup` and
`operators.similarity.incremental_semantic_dedup` end-to-end at
N=20k and N=200k synthetic unit-normal vectors (dim 64, written to
parquet first so both arms read identical bytes), with cells sized
adaptively at N/64 the way the operators are used in production:

- FLAT arm: ``two_level_threshold`` forced above any k, i.e. the
  pre-round-12 behavior (O(N·k·dim) assign).
- AUTO arm: the shipped default (threshold 1024) — flat at 20k
  (k=312), routed through the two-level path at 200k (k=3125).

Actions are VALUE-FORCED (agg sums over output columns), not count()
— the count path under-reports by join-elimination (BASELINE.md
honesty note; incremental_semantic_dedup measured 0.4x count-path vs
4.3x value-forced at the r10 probe).

Usage::

    python tools/probe_two_level_routing.py [N ...]

Defaults to N in {20000, 200000}; pass explicit sizes to reproduce
other SCALE.md rows (the round-12 400k semantic_dedup row came from
``python tools/probe_two_level_routing.py 400000``, which runs the
arms in auto/flat/auto order — the receipt's clean rep is the final
auto arm). Prints the markdown rows recorded in SCALE.md round-12.
"""

from __future__ import annotations

import os
import shutil
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

DIM = 64
WORK = os.path.join(ROOT, ".scale", "two_level_probe")


def _gen_vectors(spark, n: int, path: str, id_offset: int = 0) -> None:
    """n unit-scale random vectors → parquet, generated distributed
    (no driver-side array materialization)."""
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rng = np.random.default_rng(int(pdf["id"].iloc[0]) + 7)
            mat = rng.standard_normal((len(pdf), DIM))
            yield pd.DataFrame(
                {
                    "vec_id": pdf["id"].to_numpy() + id_offset,
                    "embedding": list(mat),
                }
            )

    (
        spark.range(n)
        .repartition(32)
        .mapInPandas(gen, f"vec_id bigint, embedding array<double>")
        .write.mode("overwrite")
        .parquet(path)
    )


def _force_semantic(out) -> float:
    from pyspark.sql import functions as F

    t0 = time.time()
    out.agg(
        F.sum(F.col("kept").cast("long")),
        F.sum("group_size"),
        F.sum("d2_centroid"),
    ).collect()
    return time.time() - t0


def _force_incremental(out) -> float:
    from pyspark.sql import functions as F

    t0 = time.time()
    out.agg(
        F.sum("n_matches"),
        F.sum(F.col("is_new").cast("long")),
        F.sum("best_score"),
    ).collect()
    return time.time() - t0


def main() -> int:
    from pyspark.sql import functions as F  # noqa: F401

    from batch_process_dpla_index_spark.operators.dedup import (
        semantic_dedup,
        unpersist_deps,
    )
    from batch_process_dpla_index_spark.operators.similarity import (
        incremental_semantic_dedup,
    )
    from batch_process_dpla_index_spark.session import get_spark

    from batch_process_dpla_index_spark.operators.clustering import (
        TWO_LEVEL_ROUTING_THRESHOLD,
    )

    spark = get_spark()
    os.makedirs(WORK, exist_ok=True)
    sizes = [int(a) for a in sys.argv[1:]] or [20_000, 200_000]
    rows = []
    for n in sizes:
        k = max(32, n // 64)
        path = os.path.join(WORK, f"vecs_{n}")
        _gen_vectors(spark, n, path)
        vecs = spark.read.parquet(path)
        # warm the Arrow workers + file cache so arm order is fair
        vecs.count()

        times = {}
        for arm, threshold in (
            ("auto", None), ("flat", 10**9), ("auto", None),
        ):
            out = semantic_dedup(
                vecs, "vec_id", "embedding", k=k, n_iter=3, threshold=0.9,
                two_level_threshold=threshold,
            )
            times[arm] = _force_semantic(out)  # last auto rep wins
            unpersist_deps(out)
        routed = (
            "two-level" if k >= TWO_LEVEL_ROUTING_THRESHOLD else "flat"
        )
        rows.append(
            f"| semantic_dedup | {n:,} | {k} | {times['flat']:.2f} s "
            f"| {times['auto']:.2f} s ({routed}) |"
        )

        batch_path = os.path.join(WORK, f"batch_{n}")
        _gen_vectors(spark, n // 10, batch_path, id_offset=10_000_000)
        batch = spark.read.parquet(batch_path)
        batch.count()
        times = {}
        for arm, threshold in (
            ("auto", None), ("flat", 10**9), ("auto", None),
        ):
            out = incremental_semantic_dedup(
                batch, vecs, "vec_id", "embedding", dim=DIM,
                n_cells=k, n_probe=2, threshold=0.9,
                two_level_threshold=threshold,
            )
            times[arm] = _force_incremental(out)
            unpersist_deps(out)
        rows.append(
            f"| incremental_semantic_dedup | {n:,}+{n//10:,} | {k} "
            f"| {times['flat']:.2f} s | {times['auto']:.2f} s ({routed}) |"
        )

    print("| operator | N | cells | flat assign | auto (routing) |")
    print("|---|---|---|---|---|")
    for r in rows:
        print(r)
    shutil.rmtree(WORK, ignore_errors=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
