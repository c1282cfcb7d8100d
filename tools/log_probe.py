"""Snapshot-log resolution flatness probe.

The commit log's contract is O(entries-since-checkpoint) resolution
(`products/snapshots.py`: `CHECKPOINT_EVERY = 64`, checkpoint sidecar
carries the unioned file list / stats / stream ledger at its version).
If that holds, resolving the LATEST version of a 600-version table
costs the same as a 40-version table — the log never becomes the
bottleneck as a long-lived ingest table accretes versions.

This probe isolates log resolution from Spark entirely: it drives the
log with `_commit` on synthetic file entries (no data files are
written or read), builds tables of increasing version counts, and
times `snapshot_files` + `committed_stream_batch_ids` at the head.
Flat-in-versions is the pass condition; linear growth would mean the
checkpoint isn't being consulted.

Usage::

    python tools/log_probe.py

Prints a markdown table for SCALE.md.
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from batch_process_dpla_index_spark.products.snapshots import (  # noqa: E402
    _commit,
    committed_stream_batch_ids,
    snapshot_files,
)

VERSION_COUNTS = (40, 150, 600)
TIMING_REPS = 50


def build(root: str, n_versions: int) -> None:
    for v in range(n_versions):
        _commit(
            root,
            "append",
            [f"data/part-{v:05d}.parquet"],
            [],
            {"stream_batch_id": str(v)},
        )


def main() -> int:
    rows = []
    for n in VERSION_COUNTS:
        root = tempfile.mkdtemp(prefix=f"logprobe_{n}_")
        try:
            build(root, n)
            # warm the page cache so reps measure parse cost, not first I/O
            snapshot_files(root)
            t0 = time.time()
            for _ in range(TIMING_REPS):
                files = snapshot_files(root)
            t_files = (time.time() - t0) / TIMING_REPS * 1000
            t0 = time.time()
            for _ in range(TIMING_REPS):
                ids = committed_stream_batch_ids(root)
            t_ledger = (time.time() - t0) / TIMING_REPS * 1000
            assert len(files) == n and len(ids) == n
            rows.append((n, t_files, t_ledger))
            print(
                f"  {n} versions: snapshot_files {t_files:.2f} ms,"
                f" ledger {t_ledger:.2f} ms",
                file=sys.stderr,
            )
        finally:
            shutil.rmtree(root, ignore_errors=True)

    print("\n| versions | snapshot_files (ms) | stream ledger (ms) |")
    print("|---|---|---|")
    for n, tf, tl in rows:
        print(f"| {n} | {tf:.2f} | {tl:.2f} |")

    # flat = the 15x-version table resolves within ~3x of the smallest
    # (entries-since-checkpoint is bounded by CHECKPOINT_EVERY, but the
    # checkpoint sidecar itself grows with |files|, which is linear in
    # versions here because every synthetic commit adds one file — so
    # allow the sidecar-parse term, reject entry-replay-linear growth)
    base_f, base_l = rows[0][1], rows[0][2]
    worst = max(max(tf / base_f, tl / base_l) for _, tf, tl in rows)
    print(f"\nworst growth {worst:.1f}x over {VERSION_COUNTS[-1] // VERSION_COUNTS[0]}x versions", file=sys.stderr)
    return 0 if worst < 5 else 1


if __name__ == "__main__":
    sys.exit(main())
