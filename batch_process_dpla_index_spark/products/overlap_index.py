"""Persisted source-signature index: the cross-source mixing
diagnostic as a MAINTAINED artifact, not a per-run corpus scan.

`operators/dedup.py:source_minhash_overlap` answers "how much of
source B is already in source A?" from one corpus pass. At 100 TB the
corpus pass is the cost, and the union-MinHash identity
sig(A∪B)[p] = min(sig(A)[p], sig(B)[p]) makes the pass UNNECESSARY
after the first time: per-source signatures are ``num_perm`` ints per
source — snapshot-log-sized metadata — and an ingest delta folds into
them with one delta-proportional scan plus a |sources|-row merge.
This product owns that lifecycle (the dedup_index/ann_index pattern —
ManifestWriter.scala:7-14 manifest convention):

- :func:`build_overlap_index`   — one corpus pass → ``signatures``
  parquet + ``_MANIFEST`` pinning (shingle_n, num_perm, text_col,
  source_col). Parameters are never caller-passed on later paths:
  they come from the manifest (conflicting caller values are
  rejected), so an index built with different settings cannot be
  silently mis-merged (the dedup_index contract).
- :func:`refresh_overlap_index` — signatures over the DELTA only,
  min-per-perm merge onto the stored frame, idempotent-overwrite of
  the signature dataset. The merged frame is collected through the
  driver on purpose: it is |sources| × (num_perm + 1) ints — the
  bounded-metadata collect contract (same class as codebooks and
  sketch candidates) — and a driver hop makes the
  overwrite-while-reading-self hazard structurally impossible.
- :func:`overlap_report`        — the |sources|² pair report from the
  stored signatures alone; ZERO corpus access.

The streaming twin (`streaming/stateful.py:signature_stream`)
maintains the same per-source state online; its convergence test pins
stream == :func:`operators.dedup.source_signatures` on a drained
source.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from batch_process_dpla_index_spark.io.manifest import read_manifest, write_manifest
from batch_process_dpla_index_spark.operators.dedup import (
    overlap_from_signatures,
    source_signatures,
)


def _sig_path(index_dir: str) -> str:
    return os.path.join(index_dir, "signatures")


def _artifact_frame(sig: DataFrame) -> DataFrame:
    """The signature frame shaped for the single-part artifact write.

    |sources| rows × 65 ints: one part file keeps the artifact (and
    every later read of it) trivially cheap. ``repartition(1)``, NOT
    ``coalesce(1)``: coalesce folds the single-task constraint into
    the upstream Arrow/aggregate signature stage (measured 2× the
    build — BASELINE.md round-9 notes), repartition keeps that stage
    32-way and single-tasks only the write. This helper exists so the
    plan shape is PINNED (tests/test_plans.py and the PLANS.md product
    section assert RoundRobin exchange, zero Coalesce) — a regression
    back to coalesce flips the pin."""
    return sig.repartition(1)


def build_overlap_index(
    docs: DataFrame,
    index_dir: str,
    text_col: str = "text",
    source_col: str = "source",
    n: int = 3,
    num_perm: int = 64,
) -> dict[str, str]:
    """One corpus pass → per-source signature parquet + manifest.

    Returns the manifest dict (also written to ``index_dir/_MANIFEST``).
    """
    sig = source_signatures(docs, text_col, source_col, n, num_perm)
    _artifact_frame(sig).write.mode("overwrite").parquet(_sig_path(index_dir))
    # rebuild convention (clear-last, like the other index products):
    # a rebuild overwrites the corpus so the old delete set is spent —
    # but only once the new artifact is on disk; a crash before this
    # point leaves the old index intact WITH its tombstones
    from batch_process_dpla_index_spark.products.index_tombstones import (
        clear_tombstones,
    )

    clear_tombstones(index_dir)
    from batch_process_dpla_index_spark.products.index_tombstones import (
        parquet_rowcount,
    )

    n_sources = parquet_rowcount(_sig_path(index_dir))
    manifest = {
        "shingle_n": str(n),
        "num_perm": str(num_perm),
        # column pins: a refresh that shingles a different column (or
        # groups by a different source key) would silently mis-merge
        # signatures — the exact hazard the shingle_n pin prevents, so
        # the columns are pinned the same way
        "text_col": text_col,
        "source_col": source_col,
        "Record count": str(n_sources),
        "refresh_count": "0",
    }
    write_manifest(manifest, index_dir)
    return manifest


def refresh_overlap_index(
    spark: SparkSession,
    delta_docs: DataFrame,
    index_dir: str,
    text_col: str | None = None,
    source_col: str | None = None,
) -> dict[str, str]:
    """Fold an ingest delta into the stored signatures — the scan is
    DELTA-proportional; the corpus is never re-read.

    ``text_col``/``source_col`` default to the values pinned in the
    manifest at build time; passing a CONFLICTING value raises rather
    than silently shingling a different column into the stored
    signatures (the shingle_n contract, extended to columns). Old
    indexes built before the column pins fall back to the caller's
    value (or the build defaults).

    Idempotence note: refreshing with the SAME delta twice is a no-op
    by the min identity (min(x, x) == x), so a replayed micro-batch
    cannot corrupt the signatures — the same replay-safety the
    streaming-ingest product gets from its commit ledger, here free
    from the algebra. Returns the updated manifest.
    """
    manifest = read_manifest(index_dir)
    n = int(manifest["shingle_n"])
    num_perm = int(manifest["num_perm"])
    for arg, key, default in (
        (text_col, "text_col", "text"),
        (source_col, "source_col", "source"),
    ):
        pinned = manifest.get(key)
        if arg is not None and pinned is not None and arg != pinned:
            raise ValueError(
                f"{key}={arg!r} conflicts with the index manifest "
                f"({key}={pinned!r}); columns are pinned at build time"
            )
    text_col = text_col or manifest.get("text_col", "text")
    source_col = source_col or manifest.get("source_col", "source")
    # tombstoned sources are EXCLUDED from the merge: their stored
    # pre-delete rows must not fold into anything. A delta that
    # re-introduces a tombstoned source re-opts it in — its signature
    # rebuilds from the delta alone (new data serves normally, the
    # other index products' watermark flow) and its tombstone clears
    # below.
    # bounded-metadata driver hop (|sources| × 65 ints): makes the
    # self-overwrite safe and the new artifact a clean single write.
    # r18: the merge itself happens ON the driver — both sides were
    # already collected through it (the hop predates this round), and
    # the union-MinHash identity is an elementwise integer min, so the
    # old full-outer sort-merge join (two Exchanges + Sorts for two
    # |sources|-row frames, per refresh) bought nothing. Semantics
    # identical to merge_source_signatures: least() skips NULLs, a
    # one-sided source keeps its own mins verbatim.
    stored_rows = _live_signatures(spark, index_dir).collect()
    delta_rows = source_signatures(
        delta_docs, text_col, source_col, n, num_perm
    ).collect()
    acc: dict[str, list] = {
        r["source"]: [r[f"__p{i}"] for i in range(num_perm)]
        for r in stored_rows
    }
    for r in delta_rows:
        vals = [r[f"__p{i}"] for i in range(num_perm)]
        cur = acc.get(r["source"])
        acc[r["source"]] = (
            vals
            if cur is None
            else [
                y if x is None else (x if y is None else min(x, y))
                for x, y in zip(cur, vals)
            ]
        )
    merged_rows = [(s, *acc[s]) for s in sorted(acc)]
    from batch_process_dpla_index_spark.operators.relational import (
        _arrow_local_frame,
    )

    out = _arrow_local_frame(
        spark,
        merged_rows,
        "source string, "
        + ", ".join(f"__p{i} bigint" for i in range(num_perm)),
    )
    # coalesce(1) here, unlike build: `out` is driver-created — there
    # is no upstream stage whose parallelism a shuffle would protect
    out.coalesce(1).write.mode("overwrite").parquet(_sig_path(index_dir))
    # re-opt-in: sources the delta re-introduced now have a live
    # delta-built row — their tombstones must clear or the serve path
    # would keep hiding the new data. Clear-last (after the artifact
    # write): a crash before this point leaves them tombstoned —
    # over-hiding, never resurrection. The tombstone set is
    # delete-proportional metadata, so the rewrite is a driver hop.
    tombs = read_source_tombstones(spark, index_dir)
    if tombs is not None:
        # distinct on the raw delta, not delta_sig — the signature
        # frame would re-run the shingle aggregate just to list sources
        delta_sources = {
            str(r[source_col]) for r in
            delta_docs.select(source_col).distinct().collect()
        }
        remaining = [
            (str(r["t_source"]),) for r in tombs.collect()
            if str(r["t_source"]) not in delta_sources
        ]
        if remaining:
            # shrink-by-overwrite, never clear-then-rewrite: a crash
            # between a clear and the rewrite would resurrect EVERY
            # still-deleted source; the overwrite's own crash window
            # is the write commit, same as every artifact swap here
            from batch_process_dpla_index_spark.operators.relational import (
                _arrow_local_frame,
            )

            (
                _arrow_local_frame(spark, remaining, "t_source string")
                .repartition(1)
                .write.mode("overwrite")
                .parquet(_source_tombstones_dir(index_dir))
            )
        else:
            from batch_process_dpla_index_spark.products.index_tombstones import (
                clear_tombstones,
            )

            clear_tombstones(index_dir)
        manifest["Tombstone count"] = str(len(remaining))
    manifest["Record count"] = str(len(merged_rows))
    manifest["refresh_count"] = str(int(manifest.get("refresh_count", "0")) + 1)
    write_manifest(manifest, index_dir)
    return manifest


def overlap_report(spark: SparkSession, index_dir: str) -> DataFrame:
    """(source_a, source_b, n_equal, est_jaccard) from the stored
    signatures — no corpus access at all. Tombstoned (taken-down)
    sources are anti-joined out of the serve path immediately, before
    any compaction runs."""
    manifest = read_manifest(index_dir)
    num_perm = int(manifest["num_perm"])
    sig = _live_signatures(spark, index_dir)
    return overlap_from_signatures(sig, num_perm).orderBy(
        "source_a", "source_b"
    )


# ---- takedown lifecycle (r14 verdict #5) -------------------------------
#
# The other three index products tombstone DOCUMENT ids; here the unit
# of takedown is a whole SOURCE (one signature row — a source that
# opts out of the mixing diagnostic). The delete path mirrors
# `index_tombstones`: O(|sources|) tombstone append, serve-time
# anti-join, explicit compact as the vacuum. Re-opt-in mirrors the
# watermark flow: a REFRESH whose delta contains a tombstoned source
# rebuilds that source's signature from the delta alone (the stored
# pre-delete row is excluded from the merge) and clears its tombstone
# — a later re-ingest is new data and serves normally.


def _source_tombstones_dir(index_dir: str) -> str:
    from batch_process_dpla_index_spark.products.index_tombstones import (
        _tombstones_dir,
    )

    return _tombstones_dir(index_dir)


def read_source_tombstones(
    spark: SparkSession, index_dir: str
) -> "DataFrame | None":
    """One-column (t_source) distinct frame, or None when the index
    never saw a delete (zero serve-plan overhead in that case)."""
    path = _source_tombstones_dir(index_dir)
    if not os.path.isdir(path):
        return None
    return spark.read.parquet(path).select("t_source").distinct()


def _live_signatures(spark: SparkSession, index_dir: str) -> DataFrame:
    sig = spark.read.parquet(_sig_path(index_dir))
    tombs = read_source_tombstones(spark, index_dir)
    if tombs is None:
        return sig
    source_col = read_manifest(index_dir).get("source_col", "source")
    return sig.join(
        tombs, sig[source_col] == tombs["t_source"], "left_anti"
    )


def delete_from_overlap_index(
    spark: SparkSession,
    index_dir: str,
    sources,
    compact_threshold: float = 0.2,
) -> dict[str, str]:
    """Tombstone whole sources out of the stored overlap index.

    The append is O(|sources|); the recount is a scan of the
    |sources|-row artifact (bounded metadata — there is no recount=False
    hot path because the count IS the takedown set's scale). When the
    tombstoned fraction reaches ``compact_threshold`` the signatures
    are physically compacted in the same call (>1 defers; like the
    other index products, a delete matching nothing never compacts).
    Returns the updated manifest."""
    import pyarrow as pa

    from batch_process_dpla_index_spark.products.index_tombstones import (
        write_parquet_file,
    )

    if isinstance(sources, str):
        # a bare string would iterate CHARACTERS and tombstone each
        # one-char "source" — a silent mass-delete footgun
        sources = [sources]
    rows = [str(s) for s in sources]
    if rows:
        write_parquet_file(
            pa.table({"t_source": pa.array(rows, pa.string())}),
            _source_tombstones_dir(index_dir),
        )
    manifest = read_manifest(index_dir)
    sig = spark.read.parquet(_sig_path(index_dir))
    total = sig.count()
    live = _live_signatures(spark, index_dir).count()
    dead = total - live
    if total and dead and dead / total >= compact_threshold:
        return compact_overlap_index(spark, index_dir)
    manifest["Record count"] = str(live)
    manifest["Tombstone count"] = str(dead)
    write_manifest(manifest, index_dir)
    return manifest


def compact_overlap_index(
    spark: SparkSession, index_dir: str
) -> dict[str, str]:
    """Physically rewrite the signature artifact minus the tombstoned
    sources, then clear the tombstone set — the vacuum step. The
    survivors are written to a ``signatures__compact`` sibling and go
    live in one `index_tombstones.commit_staged`; ``Record count``
    comes from the staged parquet footers. Refuses to compact away
    every source (an empty index is unreadable — the rebuild/compact
    convention of the other index products)."""
    from batch_process_dpla_index_spark.products.index_tombstones import (
        commit_staged,
        parquet_rowcount,
        refuse_empty,
    )

    staged = _sig_path(index_dir) + "__compact"
    _artifact_frame(_live_signatures(spark, index_dir)).write.mode(
        "overwrite"
    ).parquet(staged)
    n_live = parquet_rowcount(staged)
    refuse_empty(n_live, staged)
    manifest = read_manifest(index_dir)
    manifest["Record count"] = str(n_live)
    manifest["Tombstone count"] = "0"
    commit_staged(index_dir, manifest, [(staged, _sig_path(index_dir))])
    return manifest
