"""Streaming ingestion product — the continuous twin of the monthly
batch (SURVEY.md §2.11 extension, operational tier).

The reference lands data monthly (monthly_batch_emr.sh); a training
pipeline usually wants the same products continuously. This product
tails a source directory with Structured Streaming and lands
exactly-once parquet through ``foreachBatch``:

- the checkpoint directory gives source-offset tracking and restart
  recovery (micro-batch replay is idempotent: each batch overwrites
  only its own ``batch=<id>`` partition — the Spark-native idempotent
  sink recipe, since a plain file-sink append would double rows on
  replay);
- per-batch row counts accumulate into the product ``_MANIFEST``
  (same provenance contract as the batch products, O3);
- downstream readers see a normal Hive-layout parquet directory and
  can partition-prune on ``batch``.

``Trigger.AvailableNow`` drains whatever is present and stops —
the batch-shaped run used by tests and backfills; omit it in
production for a continuously running query.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from batch_process_dpla_index_spark.io.fs import get_fs
from batch_process_dpla_index_spark.io.manifest import write_manifest
from batch_process_dpla_index_spark.io.paths import iso_timestamp


def _manifest_exists(out_path: str) -> bool:
    """True when a _MANIFEST is already on disk — the no-op-replay
    guard's tie-breaker between 'replay over landed data' (preserve)
    and 'nothing has ever landed' (record the zero-batch run)."""
    return os.path.exists(os.path.join(out_path, "_MANIFEST"))


def _dedup_ingest_available(
    spark: SparkSession,
    source_path: str,
    schema,
    out_path: str,
    checkpoint_path: str,
    id_col: str,
    check_fn,
    dup_ids_fn,
    append_fn,
    manifest_key: str,
    index_dir: str,
    max_files_per_trigger: int | None,
    now,
) -> dict[int, tuple[int, int]]:
    """THE dedup-on-ingest skeleton all three modality twins run
    (text/LSH, embedding/IVF-cell, image/phash — review r13: the
    persist → check → anti-join → dynamic-overwrite land → append →
    unpersist sequence, the reader setup, and the no-op-replay
    manifest guard existed in three hand-copies that could drift).

    - ``check_fn(batch_df, batch_id)`` probes the index with
      ``max_ingest_batch=batch_id`` (replay safety) and returns the
      match frame (its ``_cached_deps`` are released here after the
      append consumed it);
    - ``dup_ids_fn(matches)`` projects the matched batch ids as ONE
      column aliased ``id_col``;
    - ``append_fn(survivors, batch_id, matches)`` lands the survivors'
      index rows under ``ingest_batch = batch_id + 1`` with
      ``idempotent=True`` (and reuses the check step's computed
      signatures/cells — never a second Arrow pass over the batch).

    Returns {batch_id: (rows_seen, rows_kept)}."""
    from pyspark.sql import functions as F

    from batch_process_dpla_index_spark.operators.dedup import unpersist_deps

    stats: dict[int, tuple[int, int]] = {}

    def land(batch_df, batch_id: int) -> None:
        batch_df = batch_df.persist()
        n_seen = batch_df.count()
        matches = check_fn(batch_df, int(batch_id))
        dup_ids = dup_ids_fn(matches)
        # broadcast the dup-id set: it is bounded by the micro-batch
        # size (one row per matched batch id), and without the hint the
        # planner can only see an unknown-size aggregate and falls back
        # to a sort-merge anti join — an Exchange+Sort on BOTH sides of
        # a ≤|batch|-row join, two extra stage waves per micro-batch
        # (r18, guide §3.1)
        survivors = batch_df.join(
            F.broadcast(dup_ids), id_col, "left_anti"
        ).persist()
        # a dynamic overwrite that lands zero rows leaves the partition
        # in place, so a ``batch=<id>`` dir from an earlier run into the
        # same out_path (e.g. under a fresh checkpoint) would survive
        # and be counted as kept: clear it first
        batch_dir = os.path.join(out_path, f"batch={int(batch_id)}")
        get_fs(batch_dir).delete_prefix(batch_dir)
        (
            survivors.withColumn("batch", F.lit(int(batch_id)))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch")
            .parquet(out_path)
        )
        # kept-count from the partition this batch just wrote (footer
        # metadata, driver-side — r18): the write IS the survivor
        # materialization, so a count job over the persisted frame
        # only re-reads what the footers already record. Zero
        # survivors → no partition dir (cleared above) → 0, same as
        # the old count().
        from batch_process_dpla_index_spark.products.index_tombstones import (
            parquet_rowcount,
        )

        n_kept = parquet_rowcount(batch_dir)
        append_fn(survivors, int(batch_id), matches)
        unpersist_deps(matches)
        survivors.unpersist()
        batch_df.unpersist()
        stats[int(batch_id)] = (n_seen, n_kept)

    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.parquet(source_path)
    q = (
        stream.writeStream.foreachBatch(land)
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    if not stats and _manifest_exists(out_path):
        return stats  # no-op replay: keep the real manifest (see above)
    write_manifest(
        {
            "Source": source_path,
            manifest_key: index_dir,
            "Batches": str(len(stats)),
            "Total records seen": str(sum(s for s, _ in stats.values())),
            "Total records kept": str(sum(k for _, k in stats.values())),
            **{
                f"Batch {b} seen/kept": f"{s}/{k}"
                for b, (s, k) in sorted(stats.items())
            },
        },
        out_path,
        timestamp=iso_timestamp(now),
    )
    return stats


def ingest_available(
    spark: SparkSession,
    source_path: str,
    schema,
    out_path: str,
    checkpoint_path: str,
    transform=None,
    now=None,
) -> dict[str, int]:
    """Drain the source into ``<out>/batch=<id>/`` parquet partitions
    (one AvailableNow run), write the _MANIFEST, and return
    {batch_id: row_count}. ``transform`` is an optional
    DataFrame→DataFrame applied per micro-batch (flatten, redact,
    filter — any of the engine's narrow operators)."""
    from pyspark.sql import functions as F

    counts: dict[int, int] = {}

    def land(batch_df, batch_id: int) -> None:
        out = transform(batch_df) if transform is not None else batch_df
        # idempotent per-batch landing: replays overwrite their own
        # partition only, never append a second copy
        (
            out.withColumn("batch", F.lit(int(batch_id)))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch")
            .parquet(out_path)
        )
        counts[int(batch_id)] = out.count()

    stream = spark.readStream.schema(schema).parquet(source_path)
    q = (
        stream.writeStream.foreachBatch(land)
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    # a no-op re-run (checkpoint replay with no new source files) must
    # not clobber the real manifest with a zero-batch one — but a
    # FIRST run over an empty source still records its zero-batch
    # provenance (downstream read_manifest must not 404 on a
    # legitimately-empty ingest)
    if counts or not _manifest_exists(out_path):
        write_manifest(
            {
                "Source": source_path,
                "Batches": str(len(counts)),
                "Total record count": str(sum(counts.values())),
                **{f"Batch {b} record count": str(n) for b, n in sorted(counts.items())},
            },
            out_path,
            timestamp=iso_timestamp(now),
        )
    return counts


def ingest_to_snapshot_available(
    spark: SparkSession,
    source_path: str,
    schema,
    snapshot_root: str,
    checkpoint_path: str,
    transform=None,
) -> dict[int, int]:
    """Drain the source into a VERSIONED snapshot table
    (`products/snapshots.py`): one ``commit_append`` per micro-batch,
    so every batch is an atomic, time-travelable version and readers
    never see a torn table.

    Exactly-once across restarts: the commit records its
    ``stream_batch_id``; a replayed micro-batch (checkpoint recovery
    re-delivers the last in-flight batch) finds its id already in the
    log and SKIPS the commit — the snapshot log is the sink-side
    ledger the parquet-partition recipe above emulates with
    partition overwrites. The abandoned first attempt's data files
    are never referenced and age out via ``vacuum``'s orphan grace.

    Exactly-once across WRITERS too: the commit passes the batch id as
    ``commit_append``'s ``idempotency_key``, so even two drivers
    draining the same source into the same root cannot double-commit a
    batch — the loser's conflict retry re-verifies the ledger and
    no-ops (returns ``None``).
    """
    from batch_process_dpla_index_spark.products import snapshots

    counts: dict[int, int] = {}

    def land(batch_df, batch_id: int) -> None:
        out = transform(batch_df) if transform is not None else batch_df
        bid = str(int(batch_id))
        v = snapshots.commit_append(
            out,
            snapshot_root,
            params={"stream_batch_id": bid},
            idempotency_key=bid,
        )
        if v is None:
            return  # replayed or concurrently-landed batch: committed already
        # count from the COMMITTED files' parquet footers — re-counting
        # `out` would re-execute the whole transform lineage a second
        # time (and could disagree with what was written if the
        # transform is nondeterministic)
        # entry v is immutable and its path is derivable — one direct
        # read, no per-micro-batch directory scan
        entry = snapshots.read_entry(snapshot_root, v)
        committed = [os.path.join(snapshot_root, f) for f in entry["add"]]
        counts[int(batch_id)] = (
            batch_df.sparkSession.read.parquet(*committed).count()
            if committed
            else 0
        )

    stream = spark.readStream.schema(schema).parquet(source_path)
    q = (
        stream.writeStream.foreachBatch(land)
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return counts


def ingest_dedup_available(
    spark: SparkSession,
    source_path: str,
    schema,
    out_path: str,
    checkpoint_path: str,
    index_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
    max_files_per_trigger: int | None = None,
    now=None,
) -> dict[int, tuple[int, int]]:
    """Dedup-on-ingest: every micro-batch is checked against the
    persisted near-dup index (``products.dedup_index``) before landing;
    only novel documents (no corpus match at true Jaccard >=
    ``threshold``) are written, and THEIR signatures are appended to
    the index so later batches dedupe against them too.

    End-to-end idempotent under checkpoint replay: both the landed
    parquet and the index append overwrite their own per-batch
    partition (``batch=<id>`` / ``ingest_batch=<id+1>``) instead of
    appending. Contract: corpus-level dedup only — intra-batch
    near-dups both survive (run ``exact_dedup``/``minhash_lsh_pairs``
    upstream if a batch can self-duplicate).

    Returns {batch_id: (rows_seen, rows_kept)}.
    """
    from pyspark.sql import functions as F

    from batch_process_dpla_index_spark.products import dedup_index

    def check(batch_df, batch_id: int):
        # replay safety: a checkpoint-replayed batch must not match
        # the signatures its first attempt appended (ingest_batch =
        # id+1) — it would match itself at J=1.0 and land empty
        return dedup_index.incremental_dedup_indexed(
            spark, batch_df, text_col, id_col, index_dir,
            threshold=threshold, max_ingest_batch=batch_id,
        )

    def append(survivors, batch_id: int, matches) -> None:
        dedup_index.append_to_dedup_index(
            survivors, text_col, id_col, index_dir,
            ingest_batch=batch_id + 1, idempotent=True,
        )

    return _dedup_ingest_available(
        spark, source_path, schema, out_path, checkpoint_path, id_col,
        check, lambda m: m.select(F.col("new_id").alias(id_col)), append,
        "Dedup index", index_dir, max_files_per_trigger, now,
    )


def ingest_embedding_dedup_available(
    spark: SparkSession,
    source_path: str,
    schema,
    out_path: str,
    checkpoint_path: str,
    index_dir: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.3,
    n_probe: int = 2,
    max_files_per_trigger: int | None = None,
    now=None,
) -> dict[int, tuple[int, int]]:
    """EMBEDDING dedup-on-ingest — the vector-space twin of
    :func:`ingest_dedup_available` (SemDeDup's ingest-time curation
    step): every micro-batch of vectors is checked against the
    persisted IVF-cell index (``products.embedding_index``) before
    landing; only novel vectors (no stored match at cosine >=
    ``threshold``) are written, and THEIR cell rows are appended to
    the index so later batches dedupe against them too.

    End-to-end idempotent under checkpoint replay: the landed parquet
    and the index append both overwrite their own per-batch partition,
    and the probe passes ``max_ingest_batch=batch_id`` so a replayed
    batch never matches its first attempt's own appended rows. Contract
    mirrors the text path: corpus-level dedup only — intra-batch
    near-dup vectors all survive (run ``semantic_dedup`` upstream if a
    batch can self-duplicate).

    Per-batch cost at any corpus size: one |batch|×cells Arrow matmul
    + one join against stored cells pruned to ``ingest_batch <=
    batch_id`` — the corpus is never re-assigned (delta-proportional,
    the property the in-line operator's 10× probe measures at 4.3×).

    Returns {batch_id: (rows_seen, rows_kept)}.
    """
    from pyspark.sql import functions as F

    from batch_process_dpla_index_spark.products import embedding_index

    def check(batch_df, batch_id: int):
        return embedding_index.incremental_embedding_dedup_indexed(
            spark, batch_df, id_col, vec_col, index_dir,
            threshold=threshold, n_probe=n_probe,
            max_ingest_batch=batch_id,
        )

    def append(survivors, batch_id: int, res) -> None:
        embedding_index.append_to_embedding_index(
            survivors, id_col, vec_col, index_dir,
            ingest_batch=batch_id + 1, idempotent=True,
            # the probe pass already assigned every batch vector its
            # rank-1 cell — reuse it instead of a second Arrow matmul
            assigned_cells=res.select("id", "cell"),
        )

    return _dedup_ingest_available(
        spark, source_path, schema, out_path, checkpoint_path, id_col,
        check,
        lambda res: res.where(~F.col("is_new")).select(
            F.col("id").alias(id_col)
        ),
        append,
        "Embedding index", index_dir, max_files_per_trigger, now,
    )


def _assert_index_modality(index_dir: str, expected: str) -> None:
    """The named ingest wrappers promise a fingerprint family; a
    mismatch (audio ingest against an image-built index) would not
    error — it would silently dedupe with the wrong hasher, so
    polarity-inverted re-masters land as "novel" and the manifest-
    pinning guarantee is defeated (round-14 review). Fail loudly at
    wiring time instead."""
    from batch_process_dpla_index_spark.io.manifest import read_manifest

    actual = read_manifest(index_dir).get("modality", "image")
    if actual != expected:
        raise ValueError(
            f"ingest_{expected}_dedup_available wired to a "
            f"modality={actual!r} index at {index_dir}; build the index "
            f"with build_phash_index(..., modality={expected!r}) or use "
            f"the matching ingest wrapper"
        )


def _ingest_phash_dedup_available(
    spark: SparkSession,
    source_path: str,
    schema,
    out_path: str,
    checkpoint_path: str,
    index_dir: str,
    bin_col: str = "blob",
    id_col: str = "doc_id",
    max_files_per_trigger: int | None = None,
    now=None,
) -> dict[int, tuple[int, int]]:
    """Perceptual dedup-on-ingest CORE (image and audio go through the
    named modality-asserting wrappers below) — the blob twin of
    :func:`ingest_dedup_available` (the dedup step a multimodal crawl
    runs as data lands): every micro-batch of blobs is checked against
    the persisted phash index (``products.phash_index``) before
    landing; only novel blobs (no stored match within the index's
    manifest-pinned Hamming budget) are written, and THEIR signatures
    are appended so later batches dedupe against them too — a
    re-containered or re-encoded copy of an already-landed image never
    lands twice.

    End-to-end idempotent under checkpoint replay, exactly the
    ingest_dedup_available contract: the landed parquet and the index
    append both overwrite their own per-batch partition
    (``batch=<id>`` / ``ingest_batch=<id+1>``), and the dedup check
    passes ``max_ingest_batch=<id>`` so a replayed batch can never
    match the signatures its first attempt appended. Contract:
    corpus-level dedup only — intra-batch near-dups both survive (run
    ``multimodal.image_near_dup`` upstream if a batch can
    self-duplicate).

    Returns {batch_id: (rows_seen, rows_kept)}."""
    from pyspark.sql import functions as F

    from batch_process_dpla_index_spark.products import phash_index

    def check(batch_df, batch_id: int):
        return phash_index.incremental_phash_dedup_indexed(
            spark, batch_df, bin_col, id_col, index_dir,
            max_ingest_batch=batch_id,
        )

    def append(survivors, batch_id: int, matches) -> None:
        # reuse the check step's persisted batch signatures (its cached
        # dep) — survivors must not be perceptually hashed a second
        # time per micro-batch
        phash_index.append_to_phash_index(
            survivors, bin_col, id_col, index_dir,
            ingest_batch=batch_id + 1, idempotent=True,
            signatures=phash_index.survivor_signatures(matches),
        )

    return _dedup_ingest_available(
        spark, source_path, schema, out_path, checkpoint_path, id_col,
        check, lambda m: m.select(F.col("new_id").alias(id_col)), append,
        "Phash index", index_dir, max_files_per_trigger, now,
    )


def ingest_image_dedup_available(
    spark: SparkSession,
    source_path: str,
    schema,
    out_path: str,
    checkpoint_path: str,
    index_dir: str,
    bin_col: str = "blob",
    id_col: str = "doc_id",
    max_files_per_trigger: int | None = None,
    now=None,
) -> dict[int, tuple[int, int]]:
    """IMAGE dedup-on-ingest: the modality-asserting public name for
    the perceptual ingest core (see :func:`_ingest_phash_dedup_available`
    for the mechanics and the replay contract)."""
    _assert_index_modality(index_dir, "image")
    return _ingest_phash_dedup_available(
        spark, source_path, schema, out_path, checkpoint_path, index_dir,
        bin_col=bin_col, id_col=id_col,
        max_files_per_trigger=max_files_per_trigger, now=now,
    )


def ingest_audio_dedup_available(
    spark: SparkSession,
    source_path: str,
    schema,
    out_path: str,
    checkpoint_path: str,
    index_dir: str,
    bin_col: str = "blob",
    id_col: str = "doc_id",
    max_files_per_trigger: int | None = None,
    now=None,
) -> dict[int, tuple[int, int]]:
    """AUDIO dedup-on-ingest (r14, completes the ingest-twin quartet:
    text/LSH, embedding/IVF, image/phash, audio/envelope): identical
    machinery to :func:`ingest_image_dedup_available` against an index
    built with ``build_phash_index(..., modality="audio")`` — the
    index functions dispatch the fingerprint from the manifest, so the
    check/append closures are modality-blind. What the audio
    fingerprint buys at ingest: a polarity-inverted or pad-byte
    re-containered copy of an already-landed clip hashes identically
    (|PCM| envelope) and never lands twice — duplication byte-exact
    ingest dedup cannot see. Same checkpoint-replay idempotence and
    corpus-level-only contract as the image twin."""
    _assert_index_modality(index_dir, "audio")
    return _ingest_phash_dedup_available(
        spark, source_path, schema, out_path, checkpoint_path, index_dir,
        bin_col=bin_col, id_col=id_col,
        max_files_per_trigger=max_files_per_trigger, now=now,
    )
