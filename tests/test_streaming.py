"""Structured Streaming parity: the streaming forms of the window
operators must converge to the oracle-verified batch results once the
source drains (Trigger.AvailableNow), plus watermarked streaming dedup
and the applyInPandasWithState stateful operator."""

from __future__ import annotations

import glob
import uuid

import pytest
from pyspark.sql import functions as F

from batch_process_dpla_index_spark.sources.tables import load_table
from batch_process_dpla_index_spark.streaming.windows import (
    run_stream_to_batch,
    running_user_totals,
    streaming_dedup,
    streaming_tumbling_counts,
    tumbling_agg,
)
from tests.conftest import SF_DIR


@pytest.fixture(scope="module")
def events_dir(spark, tmp_path_factory):
    """Events re-staged as micro-batch-friendly parquet (µs timestamps,
    several files so AvailableNow sees multiple splits)."""
    path = str(tmp_path_factory.mktemp("stream") / "events")
    ev = load_table(spark, SF_DIR, "events")
    ev.repartition(4).write.parquet(path)
    return path


def test_streaming_tumbling_matches_batch(spark, events_dir):
    ev = spark.read.parquet(events_dir)
    stream = streaming_tumbling_counts(
        spark, events_dir, ev.schema, "ts", "1 hour", "2 hours", ["event_type"]
    )
    name = f"t_{uuid.uuid4().hex[:8]}"
    got = run_stream_to_batch(stream, name).select(
        F.col("win.start").alias("ws"), "event_type", "n_events"
    )
    want = tumbling_agg(ev, "ts", "1 hour", ["event_type"], [F.count("*").alias("n_events")]).select(
        F.col("win.start").alias("ws"), "event_type", "n_events"
    )
    assert got.exceptAll(want).count() == 0 and want.exceptAll(got).count() == 0


def test_streaming_dedup_drops_duplicates(spark, events_dir, tmp_path):
    ev = spark.read.parquet(events_dir)
    dup_dir = str(tmp_path / "dup")
    ev.union(ev).repartition(3).write.parquet(dup_dir)
    stream = spark.readStream.schema(ev.schema).parquet(dup_dir)
    deduped = streaming_dedup(stream, ["event_id"], "ts", "1 hour")
    name = f"d_{uuid.uuid4().hex[:8]}"
    got = run_stream_to_batch(deduped, name, output_mode="append")
    assert got.count() == ev.count()
    assert got.select("event_id").distinct().count() == ev.count()


def test_running_user_totals_state(spark, events_dir):
    ev = spark.read.parquet(events_dir)
    stream = spark.readStream.schema(ev.schema).parquet(events_dir)
    name = f"s_{uuid.uuid4().hex[:8]}"
    got = run_stream_to_batch(running_user_totals(stream), name, output_mode="update")
    # last emission per user equals the batch totals
    from pyspark.sql.window import Window

    want = ev.groupBy("user_id").agg(
        F.count("*").alias("n_events"),
        F.round(F.sum("value"), 6).alias("total_value"),
    )
    latest = got.groupBy("user_id").agg(
        F.max("n_events").alias("n_events"),
        F.round(F.max("total_value"), 6).alias("total_value"),
    )
    assert latest.exceptAll(want).count() == 0 and want.exceptAll(latest).count() == 0


def test_streaming_anomaly_matches_batch_twin(spark, tmp_path):
    """The Welford state machine (`streaming/stateful.py:anomaly_stream`)
    replays to EXACTLY the oracle-verified batch twin
    (`operators/analytics.py:running_anomaly`): same warmup nulls, same
    rounded z-scores, same flags. Single sorted file so the one
    micro-batch preserves the causal (ts, event_id) order the batch
    window defines; intra-batch ordering is the operator's own sort."""
    from batch_process_dpla_index_spark.operators.analytics import running_anomaly
    from batch_process_dpla_index_spark.streaming.stateful import anomaly_stream

    ev = load_table(spark, SF_DIR, "events").select(
        "event_id", "ts", "user_id", "value"
    )
    src = str(tmp_path / "anomaly_src")
    ev.orderBy("ts", "event_id").coalesce(1).write.parquet(src)
    batch = spark.read.parquet(src)
    stream = spark.readStream.schema(batch.schema).parquet(src)
    name = f"an_{uuid.uuid4().hex[:8]}"
    got = run_stream_to_batch(anomaly_stream(stream), name, output_mode="update")
    want = running_anomaly(batch)
    assert got.count() == want.count() > 0
    assert got.exceptAll(want).count() == 0 and want.exceptAll(got).count() == 0


def test_streaming_session_matches_batch(spark, events_dir):
    from batch_process_dpla_index_spark.streaming.windows import session_agg

    ev = spark.read.parquet(events_dir)
    stream = spark.readStream.schema(ev.schema).parquet(events_dir)
    sessions = (
        stream.withWatermark("ts", "2 hours")
        .groupBy(F.session_window("ts", "30 minutes").alias("win"), "user_id")
        .agg(F.count("*").alias("n_events"))
    )
    name = f"ss_{uuid.uuid4().hex[:8]}"
    got = run_stream_to_batch(sessions, name).select(
        F.col("win.start").alias("ws"), "user_id", "n_events"
    )
    want = session_agg(
        ev, "ts", "30 minutes", ["user_id"], [F.count("*").alias("n_events")]
    ).select(F.col("win.start").alias("ws"), "user_id", "n_events")
    assert got.exceptAll(want).count() == 0 and want.exceptAll(got).count() == 0


def test_streaming_watermark_drops_late_rows(spark, tmp_path):
    """Watermark semantics across restarts: a row arriving behind the
    checkpointed watermark is DROPPED — proven by the finalized
    window's count excluding it (not merely by its window not
    showing, which pending-emission would also explain)."""
    from datetime import datetime

    schema = "event_id BIGINT, ts TIMESTAMP, v DOUBLE"
    src = tmp_path / "late_src"
    out = str(tmp_path / "late_out")
    cp = str(tmp_path / "late_cp")
    src.mkdir()

    def run_once():
        stream = spark.readStream.schema(schema).parquet(str(src))
        agg = (
            stream.withWatermark("ts", "10 minutes")
            .groupBy(F.window("ts", "1 hour").alias("win"))
            .agg(F.count("*").alias("n"))
            .select(F.col("win.start").alias("ws"), "n")
        )
        q = (
            agg.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", cp)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    fresh = spark.createDataFrame(
        [(1, datetime(2024, 1, 10, 12, 0), 1.0),
         (2, datetime(2024, 1, 10, 12, 30), 1.0)],
        schema,
    )
    fresh.coalesce(1).write.parquet(str(src), mode="append")
    run_once()  # watermark checkpointed at 12:20

    late = spark.createDataFrame(
        [(3, datetime(2024, 1, 10, 12, 45), 1.0)], schema
    ).withColumn("ts", F.lit(datetime(2024, 1, 1, 0, 0)))  # 9 days behind
    late.coalesce(1).write.parquet(str(src), mode="append")
    run_once()  # late row is behind the restored watermark → dropped

    advance = spark.createDataFrame(
        [(4, datetime(2024, 1, 10, 15, 0), 1.0)], schema
    )
    advance.coalesce(1).write.parquet(str(src), mode="append")
    run_once()  # watermark → 14:50; the 12:00 window finalizes

    rows = {(str(r["ws"]), r["n"]) for r in spark.read.parquet(out).collect()}
    # the finalized 12:00 window counts ONLY the two fresh rows…
    assert ("2024-01-10 12:00:00", 2) in rows, rows
    # …and the dropped late row's window never materialized
    assert not any("2024-01-01" in w for w, _ in rows), rows


def test_interval_join_stream_matches_batch(spark, events_dir):
    """Stream-stream watermarked interval join converges to the batch
    range join on the same inputs: purchases pick up clicks by the
    same user within the preceding hour."""
    from batch_process_dpla_index_spark.streaming.windows import interval_join

    ev = spark.read.parquet(events_dir)
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "event_id"
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts", "event_id"
    )
    want = interval_join(purchases, clicks, "user_id", lookback="1 hour").select(
        "l_event_id", "r_event_id"
    )

    s_purch = (
        spark.readStream.schema(ev.schema).parquet(events_dir)
        .filter(F.col("event_type") == "purchase").select("user_id", "ts", "event_id")
    )
    s_click = (
        spark.readStream.schema(ev.schema).parquet(events_dir)
        .filter(F.col("event_type") == "click").select("user_id", "ts", "event_id")
    )
    import uuid as _uuid

    joined = interval_join(
        s_purch, s_click, "user_id", lookback="1 hour", watermark="2 hours"
    )
    name = f"ij_{_uuid.uuid4().hex[:8]}"
    got = run_stream_to_batch(joined, name, output_mode="append").select(
        "l_event_id", "r_event_id"
    )
    assert want.count() > 0
    assert got.exceptAll(want).count() == 0 and want.exceptAll(got).count() == 0


def test_transform_with_state_matches_batch(spark, events_dir):
    """The Spark 4 transformWithStateInPandas surface (StatefulProcessor
    + typed ValueState) converges to the same batch totals as the
    applyInPandasWithState form. The TWS state protocol speaks protobuf
    (pyspark/sql/streaming/proto): without google.protobuf in the
    environment the operator cannot execute, so this gate mirrors the
    applyInPandasWithState coverage that can."""
    pytest.importorskip(
        "google.protobuf.descriptor",
        reason="transformWithState requires protobuf (absent in this env)",
    )
    from batch_process_dpla_index_spark.streaming.windows import running_user_totals_tws

    ev = spark.read.parquet(events_dir)
    stream = spark.readStream.schema(ev.schema).parquet(events_dir)
    name = f"tw_{uuid.uuid4().hex[:8]}"
    got = run_stream_to_batch(running_user_totals_tws(stream), name, output_mode="update")
    want = ev.groupBy("user_id").agg(
        F.count("*").alias("n_events"),
        F.round(F.sum("value"), 6).alias("total_value"),
    )
    latest = got.groupBy("user_id").agg(
        F.max("n_events").alias("n_events"),
        F.round(F.max("total_value"), 6).alias("total_value"),
    )
    assert latest.exceptAll(want).count() == 0 and want.exceptAll(latest).count() == 0


def test_streaming_ingest_product(spark, events_dir, tmp_path):
    """foreachBatch landing: all rows land exactly once in
    batch-partitioned parquet, manifest counts agree, and a RERUN with
    the same checkpoint ingests nothing new (exactly-once restart)."""
    from batch_process_dpla_index_spark.io.manifest import read_manifest
    from batch_process_dpla_index_spark.products import streaming_ingest

    ev = spark.read.parquet(events_dir)
    out = str(tmp_path / "landed")
    ckpt = str(tmp_path / "ckpt")
    counts = streaming_ingest.ingest_available(
        spark, events_dir, ev.schema, out, ckpt,
        transform=lambda df: df.filter(F.col("value") >= 0),
    )
    want = ev.filter(F.col("value") >= 0).count()
    landed = spark.read.parquet(out)
    assert sum(counts.values()) == want == landed.count()
    man = read_manifest(out)
    assert man["Total record count"] == str(want)
    # partition pruning on the batch column works
    assert "batch" in landed.columns
    # restart with the same checkpoint: source offsets are committed,
    # nothing re-ingests, nothing duplicates
    counts2 = streaming_ingest.ingest_available(
        spark, events_dir, ev.schema, out, ckpt,
        transform=lambda df: df.filter(F.col("value") >= 0),
    )
    assert counts2 == {}
    assert spark.read.parquet(out).count() == want


def test_streaming_dedup_ingest(spark, tmp_path):
    """Dedup-on-ingest: batch 2's copies of batch-1 docs are dropped
    because batch 1's survivors were appended to the index; replay with
    the same checkpoint ingests nothing and duplicates nothing."""
    from batch_process_dpla_index_spark.products import dedup_index, streaming_ingest
    from batch_process_dpla_index_spark.sources.tables import load_table
    from tests.conftest import SF_DIR

    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    corpus = docs.filter(F.col("doc_id") < 300)
    slice_a = docs.filter((F.col("doc_id") >= 300) & (F.col("doc_id") < 400))
    # batch B = new docs + exact copies of batch A docs under new ids
    copies = slice_a.orderBy("doc_id").limit(20).select(
        (F.col("doc_id") + 100000).alias("doc_id"), "text"
    )
    slice_b = docs.filter(F.col("doc_id") >= 400).unionByName(copies)

    idx = str(tmp_path / "idx")
    src = str(tmp_path / "src")
    out = str(tmp_path / "landed")
    ckpt = str(tmp_path / "ckpt")
    dedup_index.build_dedup_index(corpus, "text", "doc_id", idx)
    slice_a.coalesce(1).write.parquet(src)
    slice_b.coalesce(1).write.mode("append").parquet(src)

    stats = streaming_ingest.ingest_dedup_available(
        spark, src, docs.schema, out, ckpt, idx, max_files_per_trigger=1
    )
    assert len(stats) == 2
    seen = sum(s for s, _ in stats.values())
    kept = sum(k for _, k in stats.values())
    assert seen == slice_a.count() + slice_b.count()
    landed = spark.read.parquet(out)
    assert landed.count() == kept
    # every cross-batch exact copy was caught (whichever slice came
    # first, its twin in the other batch is a J=1.0 corpus match)
    landed_ids = {r.doc_id for r in landed.select("doc_id").collect()}
    assert not {
        r.doc_id + 100000
        for r in slice_a.orderBy("doc_id").limit(20).collect()
    } <= landed_ids
    assert seen - kept >= 20

    # replay: nothing new, nothing duplicated, index unchanged
    stats2 = streaming_ingest.ingest_dedup_available(
        spark, src, docs.schema, out, ckpt, idx, max_files_per_trigger=1
    )
    assert stats2 == {}
    assert spark.read.parquet(out).count() == kept


def test_dedup_ingest_clears_stale_batch_partition(spark, tmp_path):
    """An all-duplicate micro-batch keeps zero rows. A ``batch=0``
    directory left in ``out`` by an earlier run (here: under another
    checkpoint) must not survive that batch's landing and be counted
    as kept."""
    from batch_process_dpla_index_spark.products import dedup_index, streaming_ingest

    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    corpus = docs.filter(F.col("doc_id") < 200)
    copies = corpus.orderBy("doc_id").limit(20).select(
        (F.col("doc_id") + 100000).alias("doc_id"), "text"
    )
    idx = str(tmp_path / "idx")
    src = str(tmp_path / "src")
    out = str(tmp_path / "landed")
    dedup_index.build_dedup_index(corpus, "text", "doc_id", idx)
    copies.coalesce(1).write.parquet(src)
    docs.filter(F.col("doc_id") >= 200).limit(7).coalesce(1).write.parquet(
        f"{out}/batch=0"
    )

    stats = streaming_ingest.ingest_dedup_available(
        spark, src, docs.schema, out, str(tmp_path / "ckpt"), idx
    )
    assert stats == {0: (20, 0)}
    assert not glob.glob(f"{out}/batch=0/*.parquet")


def test_streaming_embedding_dedup_ingest(spark, tmp_path):
    """Embedding dedup-on-ingest: batch 2's near-dup copies of batch-1
    vectors (scaled 1.5x — cosine 1.0 without being byte-equal) are
    dropped because batch 1's survivors' cell rows were appended to the
    index; replay with the same checkpoint ingests nothing and
    duplicates nothing."""
    from batch_process_dpla_index_spark.products import (
        embedding_index,
        streaming_ingest,
    )
    from batch_process_dpla_index_spark.sources.tables import load_table
    from tests.conftest import SF_DIR

    emb = load_table(spark, SF_DIR, "embeddings").select("vec_id", "embedding")
    corpus = emb.filter(F.col("vec_id") < 300)
    slice_a = emb.filter((F.col("vec_id") >= 300) & (F.col("vec_id") < 400))
    # batch B = new vectors + SCALED copies of batch-A vectors under
    # new ids: cosine is scale-invariant, so each copy is a perfect
    # near-dup of its batch-A twin without being byte-identical
    copies = slice_a.orderBy("vec_id").limit(20).select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.transform(
            "embedding", lambda x: (x * F.lit(1.5)).cast("float")
        ).alias("embedding"),
    )
    slice_b = emb.filter(F.col("vec_id") >= 400).unionByName(copies)

    idx = str(tmp_path / "embidx")
    src = str(tmp_path / "src")
    out = str(tmp_path / "landed")
    ckpt = str(tmp_path / "ckpt")
    embedding_index.build_embedding_index(
        corpus, "vec_id", "embedding", idx, dim=64, n_cells=16
    )
    slice_a.coalesce(1).write.parquet(src)
    slice_b.coalesce(1).write.mode("append").parquet(src)

    stats = streaming_ingest.ingest_embedding_dedup_available(
        spark, src, slice_a.schema, out, ckpt, idx,
        threshold=0.99, max_files_per_trigger=1,
    )
    assert len(stats) == 2
    seen = sum(s for s, _ in stats.values())
    kept = sum(k for _, k in stats.values())
    assert seen == slice_a.count() + slice_b.count()
    landed = spark.read.parquet(out)
    assert landed.count() == kept
    # every cross-batch near-dup copy was caught: whichever slice came
    # first, its scaled twin in the other batch is a cosine-1.0 corpus
    # match — exactly one of each (original, copy) pair lands
    landed_ids = {r.vec_id for r in landed.select("vec_id").collect()}
    orig_ids = {r.vec_id for r in slice_a.orderBy("vec_id").limit(20).collect()}
    for o in orig_ids:
        assert len({o, o + 100000} & landed_ids) == 1
    assert seen - kept >= 20
    from batch_process_dpla_index_spark.io.manifest import read_manifest

    # the appends (cells reused from the probe pass) keep the index's
    # recorded cells schema equal to what a read would infer
    cells = idx + "/cells"
    inferred = spark.read.parquet(cells).schema.simpleString()
    ddl = read_manifest(idx)["cells_schema"]
    assert spark.read.schema(ddl).parquet(cells).schema.simpleString() == inferred

    # replay: nothing new, nothing duplicated, index unchanged — and
    # the REAL manifest survives (a no-op re-run must not clobber it
    # with a zero-batch record over still-landed data)

    man_before = read_manifest(out)
    assert man_before["Total records kept"] == str(kept)
    stats2 = streaming_ingest.ingest_embedding_dedup_available(
        spark, src, slice_a.schema, out, ckpt, idx,
        threshold=0.99, max_files_per_trigger=1,
    )
    assert stats2 == {}
    assert spark.read.parquet(out).count() == kept
    assert read_manifest(out) == man_before

    # manifest pins the cell geometry: a mismatched column name is a
    # loud refusal, not a silent mis-probe
    import pytest as _pytest

    with _pytest.raises(ValueError, match="vec_col"):
        embedding_index.incremental_embedding_dedup_indexed(
            spark, slice_a.withColumnRenamed("embedding", "v"),
            "vec_id", "v", idx,
        )


def test_ingest_empty_first_run_still_writes_manifest(spark, tmp_path):
    """The no-op-replay manifest guard must not swallow a legitimate
    FIRST run over an empty source: downstream read_manifest gets a
    zero-batch provenance record, and a later real run replaces it."""
    from batch_process_dpla_index_spark.io.manifest import read_manifest
    from batch_process_dpla_index_spark.products import streaming_ingest

    schema = "event_id bigint, value double"
    src = str(tmp_path / "src")
    out = str(tmp_path / "landed")
    import os

    os.makedirs(src)
    counts = streaming_ingest.ingest_available(
        spark, src, schema, out, str(tmp_path / "ckpt")
    )
    assert counts == {}
    man = read_manifest(out)
    assert man["Batches"] == "0" and man["Total record count"] == "0"

    spark.createDataFrame([(1, 2.0)], schema).write.mode("append").parquet(src)
    counts2 = streaming_ingest.ingest_available(
        spark, src, schema, out, str(tmp_path / "ckpt")
    )
    assert sum(counts2.values()) == 1
    assert read_manifest(out)["Total record count"] == "1"


def test_incremental_dedup_indexed_replay_guard(spark, tmp_path):
    """max_ingest_batch replay safety (both index products): a batch
    whose own rows were already appended under ingest_batch=1 matches
    itself when probing everything, and matches NOTHING when the probe
    is bounded to the partitions that predate it."""
    from batch_process_dpla_index_spark.operators.dedup import unpersist_deps
    from batch_process_dpla_index_spark.products import dedup_index, embedding_index
    from batch_process_dpla_index_spark.sources.tables import load_table
    from tests.conftest import SF_DIR

    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    corpus = docs.filter(F.col("doc_id") < 100)
    batch = docs.filter((F.col("doc_id") >= 100) & (F.col("doc_id") < 140))
    idx = str(tmp_path / "txtidx")
    dedup_index.build_dedup_index(corpus, "text", "doc_id", idx)
    dedup_index.append_to_dedup_index(batch, "text", "doc_id", idx, ingest_batch=1)
    unbounded = dedup_index.incremental_dedup_indexed(
        spark, batch, "text", "doc_id", idx
    )
    n_self = unbounded.where(F.col("new_id") == F.col("dup_of")).count()
    unpersist_deps(unbounded)
    assert n_self == batch.count()  # J=1.0 self-matches: the data-loss mode
    bounded = dedup_index.incremental_dedup_indexed(
        spark, batch, "text", "doc_id", idx, max_ingest_batch=0
    )
    n_bounded = bounded.where(F.col("new_id") == F.col("dup_of")).count()
    unpersist_deps(bounded)
    assert n_bounded == 0

    # embedding path: same-id self-pairs are already excluded by the
    # matcher's q_id != c_id filter, so the replay hazard is CROSS-id —
    # an intra-batch near-dup pair (both kept on the first attempt, per
    # the corpus-level contract) would match each other's stored rows
    # on replay and one would be wrongly dropped
    emb = load_table(spark, SF_DIR, "embeddings").select("vec_id", "embedding")
    ecorpus = emb.filter(F.col("vec_id") < 100)
    base = emb.filter((F.col("vec_id") >= 100) & (F.col("vec_id") < 140))
    twin = base.limit(1).select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.transform(
            "embedding", lambda x: (x * F.lit(1.5)).cast("float")
        ).alias("embedding"),
    )
    ebatch = base.unionByName(twin)
    eidx = str(tmp_path / "embidx")
    embedding_index.build_embedding_index(
        ecorpus, "vec_id", "embedding", eidx, dim=64, n_cells=16
    )
    # the first attempt appended the whole batch (intra-batch contract)
    embedding_index.append_to_embedding_index(
        ebatch, "vec_id", "embedding", eidx, ingest_batch=1
    )
    eub = embedding_index.incremental_embedding_dedup_indexed(
        spark, ebatch, "vec_id", "embedding", eidx, threshold=0.999999
    )
    n_eub = eub.where(~F.col("is_new")).count()
    unpersist_deps(eub)
    assert n_eub >= 2  # the twin pair match each other's stored rows
    ebd = embedding_index.incremental_embedding_dedup_indexed(
        spark, ebatch, "vec_id", "embedding", eidx,
        threshold=0.999999, max_ingest_batch=0,
    )
    n_ebounded = ebd.where(~F.col("is_new")).count()
    unpersist_deps(ebd)
    assert n_ebounded == 0


def test_streaming_dedup_within_watermark_restamped_retries(spark, events_dir, tmp_path):
    """Retries with RE-STAMPED event times (ts shifted a few minutes)
    still dedup under dropDuplicatesWithinWatermark — the scenario
    where keying state on (id, ts) would wrongly keep both copies."""
    from batch_process_dpla_index_spark.streaming.windows import (
        streaming_dedup_within_watermark,
    )

    ev = spark.read.parquet(events_dir)
    retry = ev.withColumn("ts", F.col("ts") + F.expr("INTERVAL 5 MINUTES"))
    dup_dir = str(tmp_path / "restamped")
    ev.union(retry).repartition(3).write.parquet(dup_dir)
    stream = spark.readStream.schema(ev.schema).parquet(dup_dir)
    deduped = streaming_dedup_within_watermark(stream, ["event_id"], "ts", "1 hour")
    name = f"dw_{uuid.uuid4().hex[:8]}"
    got = run_stream_to_batch(deduped, name, output_mode="append")
    assert got.count() == ev.count()
    assert got.select("event_id").distinct().count() == ev.count()


def test_streaming_decayed_counts_matches_batch_twin(spark, tmp_path):
    """The O(1)-state decayed counter
    (`streaming/stateful.py:decayed_stream`) replays to the batch twin
    `decayed_counts(per_key_reference=True)`: incrementally decaying
    the running totals (product of exps) equals weighting every event
    against the key's latest timestamp (exp of sums) up to FP, and
    both sides round at 6."""
    from batch_process_dpla_index_spark.operators.analytics import decayed_counts
    from batch_process_dpla_index_spark.streaming.stateful import decayed_stream

    ev = load_table(spark, SF_DIR, "events").select(
        "event_id", "ts", "user_id", "value"
    )
    src = str(tmp_path / "decay_src")
    ev.orderBy("ts", "event_id").coalesce(1).write.parquet(src)
    batch = spark.read.parquet(src)
    stream = spark.readStream.schema(batch.schema).parquet(src)
    name = f"dc_{uuid.uuid4().hex[:8]}"
    got = run_stream_to_batch(decayed_stream(stream), name, output_mode="update")
    want = decayed_counts(batch, per_key_reference=True)
    assert got.count() == want.count() > 0
    assert got.exceptAll(want).count() == 0 and want.exceptAll(got).count() == 0


def test_streaming_decayed_state_carries_across_batches(spark, tmp_path):
    """Two time-ordered micro-batches must produce the same final
    totals as one: the state (t_last, dn, dv) is the whole history."""
    import datetime as dtm

    from batch_process_dpla_index_spark.operators.analytics import decayed_counts
    from batch_process_dpla_index_spark.streaming.stateful import decayed_stream

    t0 = dtm.datetime(2024, 1, 1)
    rows = [
        (i, t0 + dtm.timedelta(days=i), 7, float(i)) for i in range(10)
    ]
    df = spark.createDataFrame(
        rows, schema="event_id long, ts timestamp, user_id long, value double"
    )
    src = str(tmp_path / "two_batches")
    # two files in time order -> AvailableNow replays them as separate
    # micro-batches (maxFilesPerTrigger=1)
    df.where("event_id < 5").coalesce(1).write.parquet(src + "/p1")
    df.where("event_id >= 5").coalesce(1).write.parquet(src + "/p2")
    stream = (
        spark.readStream.schema(df.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/p*")
    )
    name = f"dc2_{uuid.uuid4().hex[:8]}"
    got = run_stream_to_batch(decayed_stream(stream), name, output_mode="update")
    # update mode: one emission per micro-batch that touched the key;
    # the final state is the row with the max n_events
    final = got.orderBy(F.col("n_events").desc()).limit(1)
    want = decayed_counts(df, per_key_reference=True)
    assert final.exceptAll(want).count() == 0
    assert final.collect()[0]["n_events"] == 10


def test_streaming_decayed_skips_undatable_only_keys(spark, tmp_path):
    """A key whose rows ALL have NULL ts must produce NO row (the
    batch twin filters them before grouping) — and a NULL user_id
    must not crash the Python worker."""
    import datetime as dtm

    from batch_process_dpla_index_spark.streaming.stateful import decayed_stream

    t0 = dtm.datetime(2024, 1, 1)
    df = spark.createDataFrame(
        [
            (1, t0, 7, 1.0),
            (2, None, 8, 5.0),  # undatable-only key: no output row
            (3, t0, None, 2.0),  # NULL key: grouped, not crashed
        ],
        schema="event_id long, ts timestamp, user_id long, value double",
    )
    src = str(tmp_path / "nulls_src")
    df.coalesce(1).write.parquet(src)
    stream = spark.readStream.schema(df.schema).parquet(src)
    name = f"dn_{uuid.uuid4().hex[:8]}"
    got = run_stream_to_batch(decayed_stream(stream), name, output_mode="update")
    rows = {r["user_id"]: r for r in got.collect()}
    assert 8 not in rows
    assert rows[7]["n_events"] == 1
    assert None in rows and rows[None]["n_events"] == 1


def test_streaming_topk_exact_when_capacity_suffices(spark, events_dir):
    """With capacity >= per-shard distinct items, the Space-Saving
    stream is EXACT: every tracked item's count_hi equals its true
    count with err 0, converging to the oracle-verified batch
    aggregate the MG heavy_hitters sweep also verifies against."""
    from pyspark.sql import functions as F

    from batch_process_dpla_index_spark.sources.tables import load_table
    from batch_process_dpla_index_spark.streaming.stateful import topk_stream
    from batch_process_dpla_index_spark.streaming.windows import (
        run_stream_to_batch,
    )

    batch = load_table(spark, SF_DIR, "events")
    stream = spark.readStream.schema(
        spark.read.parquet(events_dir).schema
    ).parquet(events_dir)
    # normalize ts exactly as load_table does not matter here: only
    # user_id is sketched
    name = f"ss_{uuid.uuid4().hex[:8]}"
    got = run_stream_to_batch(
        topk_stream(stream, "user_id", capacity=1000, n_shards=4),
        name,
        output_mode="update",
    )
    # final snapshot = rows at each shard's max n_shard
    from pyspark.sql.window import Window

    w = Window.partitionBy("shard")
    final = (
        got.withColumn("__mx", F.max("n_shard").over(w))
        .where(F.col("n_shard") == F.col("__mx"))
        .select("item", "count_hi", "err")
    )
    want = (
        batch.where(F.col("user_id").isNotNull())
        .groupBy(F.col("user_id").cast("string").alias("item"))
        .agg(F.count("*").alias("n_true"))
    )
    j = final.join(want, "item", "full").collect()
    assert len(j) > 0
    for r in j:
        assert r["count_hi"] == r["n_true"], r  # exact, no item missing
        assert r["err"] == 0, r


def test_streaming_topk_bounds_hold_under_eviction(spark, tmp_path):
    """Tiny capacity forces evictions across TWO micro-batches; the SS
    guarantee must still hold for every tracked item:
    count_hi >= true count >= count_hi - err, and state stays at
    most `capacity` items per shard."""
    from pyspark.sql import functions as F

    from batch_process_dpla_index_spark.streaming.stateful import topk_stream
    from batch_process_dpla_index_spark.streaming.windows import (
        run_stream_to_batch,
    )

    # skewed stream: item 'hot' dominates, a tail of 40 rare items;
    # split into two EXPLICIT batches (subtract/limit would set-dedupe
    # the duplicate rows and corrupt the true counts)
    batch1 = [("hot",)] * 140
    batch2 = [("hot",)] * 60 + [
        (f"rare{i:02d}",) for i in range(40) for _ in range(2)
    ]
    rows = batch1 + batch2
    df = spark.createDataFrame(rows, "k string")
    src = str(tmp_path / "ss_src")
    # two files -> two micro-batches with maxFilesPerTrigger=1
    spark.createDataFrame(batch1, "k string").coalesce(1).write.mode(
        "overwrite"
    ).parquet(src)
    spark.createDataFrame(batch2, "k string").coalesce(1).write.mode(
        "append"
    ).parquet(src)
    stream = (
        spark.readStream.schema("k string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    name = f"ssb_{uuid.uuid4().hex[:8]}"
    got = run_stream_to_batch(
        topk_stream(stream, "k", capacity=8, n_shards=2),
        name,
        output_mode="update",
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy("shard")
    final = (
        got.withColumn("__mx", F.max("n_shard").over(w))
        .where(F.col("n_shard") == F.col("__mx"))
        .select("shard", "item", "count_hi", "err")
    )
    true = {
        r["k"]: r["n"]
        for r in df.groupBy("k").agg(F.count("*").alias("n")).collect()
    }
    rows_f = final.collect()
    per_shard: dict[int, int] = {}
    hot_tracked = False
    for r in rows_f:
        per_shard[r["shard"]] = per_shard.get(r["shard"], 0) + 1
        t = true.get(r["item"], 0)
        assert r["count_hi"] >= t, r            # upper bound
        assert r["count_hi"] - r["err"] <= t, r  # lower bound
        if r["item"] == "hot":
            hot_tracked = True
    assert hot_tracked  # the dominant item always survives eviction
    assert all(n <= 8 for n in per_shard.values())


def test_streaming_cusum_matches_batch_twin(spark, tmp_path):
    """The O(1)-state CUSUM stream replays to EXACTLY the batch fold
    with the same provided target (historical per-user mean): same
    running maxima, same direction labels — the fold is the identical
    IEEE sequence, so equality is exact after the shared rounding."""
    from pyspark.sql import functions as F

    from batch_process_dpla_index_spark.operators.analytics import (
        cusum_changepoint,
    )
    from batch_process_dpla_index_spark.sources.tables import load_table
    from batch_process_dpla_index_spark.streaming.stateful import cusum_stream
    from batch_process_dpla_index_spark.streaming.windows import (
        run_stream_to_batch,
    )

    ev = load_table(spark, SF_DIR, "events")
    # per-user baseline from the batch (a 'historical' target)
    targets = ev.groupBy("user_id").agg(F.avg("value").alias("target"))
    with_t = ev.join(targets, "user_id").select(
        "event_id", "ts", "user_id", "value", "target"
    )
    src = str(tmp_path / "cusum_src")
    with_t.orderBy("ts", "event_id").coalesce(1).write.mode(
        "overwrite"
    ).parquet(src)
    batch = spark.read.parquet(src)
    stream = spark.readStream.schema(batch.schema).parquet(src)
    name = f"cs_{uuid.uuid4().hex[:8]}"
    got = run_stream_to_batch(cusum_stream(stream), name, output_mode="update")
    # last emission per key (single batch here -> the only emission)
    got_final = {
        r["user_id"]: (r["n_events"], r["cusum_up"], r["cusum_dn"], r["direction"])
        for r in got.collect()
    }
    want = {
        r["user_id"]: (r["n_events"], r["cusum_up"], r["cusum_dn"], r["direction"])
        for r in cusum_changepoint(batch, target_col="target").collect()
    }
    assert len(got_final) == len(want) > 0
    assert got_final == want


def test_streaming_cusum_all_null_key_emits_no_row(spark, tmp_path):
    """Batch-twin NULL parity: cusum_changepoint drops NULL values
    BEFORE grouping, so a key whose every value is NULL has no batch
    row — the stream must likewise neither emit nor create state for
    it (the decayed_stream empty-batch guard, applied to NaN-only)."""
    from batch_process_dpla_index_spark.operators.analytics import (
        cusum_changepoint,
    )
    from batch_process_dpla_index_spark.streaming.stateful import cusum_stream

    rows = [
        (1, 1_000_000, 7, 10.0, 10.0),
        (2, 2_000_000, 7, 25.0, 10.0),
        (3, 3_000_000, 7, None, 10.0),
        (4, 1_500_000, 9, None, 5.0),  # user 9: all-NULL values
        (5, 2_500_000, 9, None, 5.0),
    ]
    src_df = spark.createDataFrame(
        rows,
        "event_id bigint, ts bigint, user_id int, "
        "value double, target double",
    )
    src = str(tmp_path / "cusum_null_src")
    src_df.coalesce(1).write.parquet(src)
    batch = spark.read.parquet(src)
    stream = spark.readStream.schema(batch.schema).parquet(src)
    name = f"csn_{uuid.uuid4().hex[:8]}"
    got = run_stream_to_batch(cusum_stream(stream), name, output_mode="update")
    got_keys = {r["user_id"] for r in got.collect()}
    want_keys = {
        r["user_id"]
        for r in cusum_changepoint(batch, target_col="target").collect()
    }
    assert got_keys == want_keys == {7}


def test_signature_stream_converges_to_batch(spark, tmp_path):
    """Drained signature_stream state == source_signatures over the
    same corpus, bit-for-bit — the streaming twin contract that lets
    the overlap index stay current from a live ingest feed."""
    from batch_process_dpla_index_spark.operators.dedup import (
        source_signatures,
    )
    from batch_process_dpla_index_spark.streaming.stateful import (
        SIG_PERMS,
        signature_stream,
    )

    docs = load_table(spark, SF_DIR, "documents")
    src = str(tmp_path / "sigdocs")
    # several files so AvailableNow processes multiple splits and the
    # per-source state folds across micro-batch boundaries
    docs.repartition(5).write.parquet(src)

    stream = spark.readStream.schema(docs.schema).option(
        "maxFilesPerTrigger", 1
    ).parquet(src)
    name = f"sig_{uuid.uuid4().hex[:8]}"
    q = (
        signature_stream(stream)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    snap = spark.table(name)
    # update mode emits one row per source per batch that touched it:
    # the row with the max n_docs per source is the drained snapshot
    from pyspark.sql.window import Window

    w = Window.partitionBy("source").orderBy(F.col("n_docs").desc())
    latest = (
        snap.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .select("source", "sig")
    )
    got = {r["source"]: list(r["sig"]) for r in latest.collect()}

    want_rows = source_signatures(docs).collect()
    want = {
        r["source"]: [r[f"__p{i}"] for i in range(SIG_PERMS)]
        for r in want_rows
    }
    assert set(got) == set(want) and len(want) > 0
    for s in want:
        assert got[s] == want[s], s


def test_streaming_sessions_converge_to_batch_twin(spark, events_dir):
    """Session windows must merge across micro-batch boundaries: with
    one file per trigger the 4-way-repartitioned source splits every
    user's timeline across triggers, yet the drained complete-mode
    table must equal the batch `session_agg` (the `user_sessions`
    oracle-verified shape) row-for-row — counts exact, sums compared
    at the batch twin's 6dp rounding."""
    from batch_process_dpla_index_spark.streaming.windows import (
        session_agg,
        streaming_session_agg,
    )

    ev = spark.read.parquet(events_dir)
    aggs = [
        F.count("*").alias("n_events"),
        F.round(F.sum("value"), 6).alias("sum_value"),
    ]
    stream = streaming_session_agg(
        spark,
        events_dir,
        ev.schema,
        "ts",
        "30 minutes",
        watermark=None,
        group_cols=["user_id"],
        aggs=aggs,
        max_files_per_trigger=1,
    )
    name = f"sess_{uuid.uuid4().hex[:8]}"
    got = run_stream_to_batch(stream, name).select(
        F.col("win.start").alias("ws"),
        F.col("win.end").alias("we"),
        "user_id",
        "n_events",
        "sum_value",
    )
    want = session_agg(ev, "ts", "30 minutes", ["user_id"], aggs).select(
        F.col("win.start").alias("ws"),
        F.col("win.end").alias("we"),
        "user_id",
        "n_events",
        "sum_value",
    )
    assert got.count() == want.count()
    assert got.exceptAll(want).count() == 0 and want.exceptAll(got).count() == 0


def test_streaming_sessions_append_mode_emits_only_closed(spark, tmp_path):
    """The production append form (watermarked) over an IN-ORDER
    source: only sessions the watermark finalized emit, every emitted
    row equals its batch-twin session exactly, and the unfinalized
    tail stays in state (it never emits partial). In-order staging
    matters — on an out-of-order replay the watermark legitimately
    drops late events and finalized sessions diverge from the batch
    result by design (the convergence test above covers unordered
    input via complete mode instead)."""
    import time as _time

    from pyspark.sql.window import Window

    from batch_process_dpla_index_spark.streaming.windows import (
        session_agg,
        streaming_session_agg,
    )

    ev = load_table(spark, SF_DIR, "events").where(F.col("ts").isNotNull())
    path = str(tmp_path / "ordered_events")
    # four time-contiguous slices written sequentially → the file
    # source (mtime order) replays the timeline in order, so no event
    # is ever late relative to the 1h watermark
    sliced = ev.withColumn("bkt", F.ntile(4).over(Window.orderBy("ts", "event_id")))
    for i in range(1, 5):
        sliced.filter(F.col("bkt") == i).drop("bkt").coalesce(1).write.mode(
            "append"
        ).parquet(path)
        _time.sleep(0.3)

    aggs = [F.count("*").alias("n_events")]
    stream = streaming_session_agg(
        spark,
        path,
        ev.schema,
        "ts",
        "30 minutes",
        watermark="1 hour",
        group_cols=["user_id"],
        aggs=aggs,
        max_files_per_trigger=1,
    )
    name = f"sessa_{uuid.uuid4().hex[:8]}"
    got = run_stream_to_batch(stream, name, output_mode="append").select(
        F.col("win.start").alias("ws"),
        F.col("win.end").alias("we"),
        "user_id",
        "n_events",
    )
    want = session_agg(ev, "ts", "30 minutes", ["user_id"], aggs).select(
        F.col("win.start").alias("ws"),
        F.col("win.end").alias("we"),
        "user_id",
        "n_events",
    )
    # emitted ⊆ batch, value-exact; the watermark tail is retained
    assert got.exceptAll(want).count() == 0
    n_got, n_want = got.count(), want.count()
    assert 0 < n_got < n_want


def test_streaming_image_dedup_ingest(spark, tmp_path):
    """Image dedup-on-ingest: batch 2's RE-CONTAINERED copies of
    batch-1 blobs (same payload behind a different 4-byte magic →
    small Hamming, different md5) are dropped because batch 1's
    survivors' signatures were appended to the phash index;
    re-containered copies of the BUILD corpus are dropped too; replay
    with the same checkpoint ingests nothing and duplicates nothing."""
    from batch_process_dpla_index_spark.products import (
        phash_index,
        streaming_ingest,
    )
    from batch_process_dpla_index_spark.sources.tables import load_table
    from tests.conftest import SF_DIR

    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    png = F.lit(b"\x89PNG")
    jpg = F.lit(bytes.fromhex("FFD8FFE0"))
    body = F.encode(F.coalesce(F.col("text"), F.lit("")), "UTF-8")

    corpus = docs.filter(F.col("doc_id") < 300).select(
        "doc_id", F.concat(png, body).alias("blob")
    )
    slice_a = docs.filter(
        (F.col("doc_id") >= 300) & (F.col("doc_id") < 400)
    ).select("doc_id", F.concat(png, body).alias("blob"))
    # batch B = novel blobs + re-containered copies of 20 batch-A blobs
    # and 20 build-corpus blobs, under new ids
    a_copies = docs.filter(
        (F.col("doc_id") >= 300) & (F.col("doc_id") < 320)
    ).select((F.col("doc_id") + 100000).alias("doc_id"),
             F.concat(jpg, body).alias("blob"))
    c_copies = docs.filter(F.col("doc_id") < 20).select(
        (F.col("doc_id") + 200000).alias("doc_id"),
        F.concat(jpg, body).alias("blob"),
    )
    slice_b = (
        docs.filter(F.col("doc_id") >= 400)
        .select("doc_id", F.concat(png, body).alias("blob"))
        .unionByName(a_copies)
        .unionByName(c_copies)
    )

    idx = str(tmp_path / "idx")
    src = str(tmp_path / "src")
    out = str(tmp_path / "landed")
    ckpt = str(tmp_path / "ckpt")
    # wide budget so every magic-swap copy lands within it: the 4-byte
    # swap perturbs block sums slightly (docs here are ~100-250 bytes)
    phash_index.build_phash_index(
        corpus, "blob", "doc_id", idx, bits=60, max_hamming=12
    )
    slice_a.coalesce(1).write.parquet(src)
    slice_b.coalesce(1).write.mode("append").parquet(src)

    stats = streaming_ingest.ingest_image_dedup_available(
        spark, src, slice_a.schema, out, ckpt, idx, max_files_per_trigger=1
    )
    assert len(stats) == 2
    seen = sum(s for s, _ in stats.values())
    kept = sum(k for _, k in stats.values())
    assert seen == slice_a.count() + slice_b.count()
    landed = spark.read.parquet(out)
    assert landed.count() == kept
    landed_ids = {r.doc_id for r in landed.select("doc_id").collect()}
    # the mechanism, asserted exactly (review r13: a 4-byte magic swap
    # does NOT guarantee hamming <= 12 on short blobs — compute which
    # build-corpus twins genuinely fall within the budget and assert
    # THOSE were dropped; twins past the budget assert nothing)
    from batch_process_dpla_index_spark.operators.multimodal import _fake_phash

    texts = {
        r["doc_id"]: (r["text"] or "").encode()
        for r in docs.filter(F.col("doc_id") < 20).collect()
    }
    within = {
        did + 200000
        for did, body_b in texts.items()
        if bin(
            _fake_phash(b"\x89PNG" + body_b, 60)
            ^ _fake_phash(bytes.fromhex("FFD8FFE0") + body_b, 60)
        ).count("1")
        <= 12
    }
    assert within, "fixture regression: no build-corpus twin within budget"
    assert within.isdisjoint(landed_ids)
    assert seen - kept >= len(within)

    # replay: nothing new, nothing duplicated, index unchanged
    stats2 = streaming_ingest.ingest_image_dedup_available(
        spark, src, slice_a.schema, out, ckpt, idx, max_files_per_trigger=1
    )
    assert stats2 == {}
    assert spark.read.parquet(out).count() == kept


def test_phash_index_incremental_contract(spark, tmp_path):
    """The persisted phash index mirrors dedup_index's contract: best
    stored match per new blob (min hamming, ties to smallest stored
    id), manifest-pinned banding, max_ingest_batch pruning hides
    later-appended partitions, and an exact byte copy matches at
    hamming 0."""
    from batch_process_dpla_index_spark.operators.dedup import unpersist_deps
    from batch_process_dpla_index_spark.products import phash_index

    payload = bytes((i * 97 + 11) % 256 for i in range(400))
    other = bytes((i * 43 + 5) % 256 for i in range(350))
    corpus = spark.createDataFrame(
        [(1, b"\x89PNG" + payload), (2, b"GIF8" + other)],
        "id BIGINT, blob BINARY",
    )
    idx = str(tmp_path / "pidx")
    man = phash_index.build_phash_index(
        corpus, "blob", "id", idx, bits=60, max_hamming=8
    )
    assert man["Record count"] == "2"

    batch = spark.createDataFrame(
        [
            (10, b"\x89PNG" + payload),                     # exact copy of 1
            (11, b"\xff\xd8\xff\xe0" + payload),            # re-containered 1
            (12, bytes((i * 7 + 3) % 256 for i in range(500))),  # novel
        ],
        "id BIGINT, blob BINARY",
    )
    out = phash_index.incremental_phash_dedup_indexed(
        spark, batch, "blob", "id", idx
    )
    got = {r["new_id"]: (r["dup_of"], r["hamming"]) for r in out.collect()}
    unpersist_deps(out)
    assert got[10] == (1, 0)
    assert got[11][0] == 1 and got[11][1] <= 8
    assert 12 not in got

    # append the novel blob under batch 1; a copy of it now matches —
    # but NOT when the query prunes to max_ingest_batch=0
    phash_index.append_to_phash_index(
        batch.filter(F.col("id") == 12), "blob", "id", idx, ingest_batch=1
    )
    probe = spark.createDataFrame(
        [(20, bytes((i * 7 + 3) % 256 for i in range(500)))],
        "id BIGINT, blob BINARY",
    )
    hit = phash_index.incremental_phash_dedup_indexed(
        spark, probe, "blob", "id", idx
    )
    rows = hit.collect()
    unpersist_deps(hit)
    assert rows and rows[0]["dup_of"] == 12 and rows[0]["hamming"] == 0
    miss = phash_index.incremental_phash_dedup_indexed(
        spark, probe, "blob", "id", idx, max_ingest_batch=0
    )
    assert miss.count() == 0
    unpersist_deps(miss)


def test_streaming_audio_dedup_ingest(spark, tmp_path):
    """Audio dedup-on-ingest (r14, the ingest-twin quartet's fourth
    leg): batch 1's survivors append their envelope signatures, so
    batch 2's polarity-inverted and pad-byte re-masters of batch-1
    AND build-corpus clips are dropped (hamming 0 — exact copies in
    envelope space); checkpoint replay ingests nothing twice."""
    import struct

    from batch_process_dpla_index_spark.products import (
        phash_index,
        streaming_ingest,
    )

    def clip(seed: int, n: int = 300) -> bytes:
        # seed-masked block amplitudes: block k is LOUD iff bit
        # (k % 13) of the seed is set, so the energy envelope IS the
        # seed's bit pattern and clips with different low-13 bits sit
        # many Hamming bits apart (a flat LCG ramp hashes every clip
        # near 0 and everything collides within the budget — the
        # first cut of this test failed exactly that way)
        vals = [
            (1500 if (seed >> ((i * 60 // n) % 13)) & 1 else 10)
            * (-1 if i % 2 else 1)
            for i in range(n)
        ]
        return struct.pack(f"<{n}h", *vals)

    def invert(c: bytes) -> bytes:
        n = len(c) // 2
        vals = struct.unpack(f"<{n}h", c)
        return struct.pack(f"<{n}h", *[-v if v > -32768 else v for v in vals])

    corpus = spark.createDataFrame(
        [(i, clip(i)) for i in range(1, 11)], "doc_id BIGINT, blob BINARY"
    )
    idx = str(tmp_path / "aidx")
    phash_index.build_phash_index(corpus, "blob", "doc_id", idx,
                                  modality="audio")

    # batch A: novel clips 20-24; batch B: novel 30-31 + inverted copy
    # of batch-A clip 20 + padded copy of build-corpus clip 5
    slice_a = spark.createDataFrame(
        [(i, clip(i)) for i in range(20, 25)], "doc_id BIGINT, blob BINARY"
    )
    slice_b = spark.createDataFrame(
        [(30, clip(30)), (31, clip(31)),
         (120, invert(clip(20))), (105, clip(5) + b"\x00")],
        "doc_id BIGINT, blob BINARY",
    )
    src = str(tmp_path / "src")
    out = str(tmp_path / "landed")
    ckpt = str(tmp_path / "ckpt")
    slice_a.coalesce(1).write.parquet(src)
    slice_b.coalesce(1).write.mode("append").parquet(src)

    stats = streaming_ingest.ingest_audio_dedup_available(
        spark, src, slice_a.schema, out, ckpt, idx, max_files_per_trigger=1
    )
    assert len(stats) == 2
    landed_ids = {r.doc_id for r in spark.read.parquet(out).collect()}
    assert {20, 21, 22, 23, 24, 30, 31} <= landed_ids
    assert 120 not in landed_ids  # inverted batch-A re-master dropped
    assert 105 not in landed_ids  # padded build-corpus copy dropped

    # replay: nothing new, nothing duplicated
    stats2 = streaming_ingest.ingest_audio_dedup_available(
        spark, src, slice_a.schema, out, ckpt, idx, max_files_per_trigger=1
    )
    assert stats2 == {}
    assert {r.doc_id for r in spark.read.parquet(out).collect()} == landed_ids


def test_ingest_wrappers_assert_index_modality(spark, tmp_path):
    """Wiring an ingest twin to the wrong-modality index must fail
    LOUDLY at setup (round-14 review): silently deduping PCM clips
    with the image hasher would let polarity-inverted re-masters land
    as novel with no error anywhere."""
    import pytest

    from batch_process_dpla_index_spark.products import (
        phash_index,
        streaming_ingest,
    )

    blob = bytes((i * 31 + 3) % 256 for i in range(200))
    corpus = spark.createDataFrame(
        [(1, blob), (2, blob[::-1])], "doc_id BIGINT, blob BINARY"
    )
    img_idx = str(tmp_path / "img_idx")
    aud_idx = str(tmp_path / "aud_idx")
    phash_index.build_phash_index(corpus, "blob", "doc_id", img_idx)
    phash_index.build_phash_index(corpus, "blob", "doc_id", aud_idx,
                                  modality="audio")
    schema = corpus.schema
    with pytest.raises(ValueError, match="modality='image'"):
        streaming_ingest.ingest_audio_dedup_available(
            spark, str(tmp_path / "s1"), schema, str(tmp_path / "o1"),
            str(tmp_path / "c1"), img_idx,
        )
    with pytest.raises(ValueError, match="modality='audio'"):
        streaming_ingest.ingest_image_dedup_available(
            spark, str(tmp_path / "s2"), schema, str(tmp_path / "o2"),
            str(tmp_path / "c2"), aud_idx,
        )


def test_mix_drift_stream_converges_to_batch(spark, tmp_path):
    """Drained streaming_mix_counts fed through mix_drift_from_counts
    == event_mix_drift over the same events, bit-for-bit — the
    streaming twin contract of the categorical drift monitor (r15):
    the tumbling 1-day window start equals the batch date_trunc
    boundary, and both sides share the SAME TV arithmetic code path
    (mix_drift_from_counts), so the only thing this can catch is a
    window/boundary divergence — exactly what it pins."""
    import uuid as _uuid

    from batch_process_dpla_index_spark.operators.dedup import unpersist_deps
    from batch_process_dpla_index_spark.operators.profiling import (
        event_mix_drift,
        mix_drift_from_counts,
    )
    from batch_process_dpla_index_spark.streaming.windows import (
        streaming_mix_counts,
    )

    events = load_table(spark, SF_DIR, "events")
    src = str(tmp_path / "mixevents")
    # several files so AvailableNow crosses micro-batch boundaries and
    # per-window counts fold across batches
    events.repartition(5).write.parquet(src)

    stream = spark.readStream.schema(events.schema).option(
        "maxFilesPerTrigger", 1
    ).parquet(src)
    name = f"mix_{_uuid.uuid4().hex[:8]}"
    q = (
        streaming_mix_counts(stream)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    # memory-sink views cannot SELF-JOIN (Spark's DeduplicateRelations
    # does not cover MemoryPlan: "Failure when resolving conflicting
    # references in Join") — round-trip the drained counts through a
    # local frame, exactly what a real pipeline does when it lands the
    # window counts in a file/table sink. Bounded: |days|·|cats| rows.
    drained = spark.table(name)
    counts = spark.createDataFrame(drained.collect(), drained.schema)

    via_stream = mix_drift_from_counts(counts)
    got = sorted(map(tuple, via_stream.collect()))
    unpersist_deps(via_stream)
    want_df = event_mix_drift(events, "ts", "event_type")
    want = sorted(map(tuple, want_df.collect()))
    unpersist_deps(want_df)
    assert got == want and len(got) > 0


def test_ks_drift_stream_converges_to_batch(spark, tmp_path):
    """Drained streaming_value_counts fed through ks_drift_from_counts
    == temporal_drift_ks over the same events, bit-for-bit — the
    streaming twin contract of the KS drift monitor (r15), the
    mix-drift convergence pattern applied to the continuous metric."""
    import uuid as _uuid

    from batch_process_dpla_index_spark.operators.dedup import unpersist_deps
    from batch_process_dpla_index_spark.operators.profiling import (
        temporal_drift_ks,
        temporal_drift_ks_from_counts,
    )
    from batch_process_dpla_index_spark.streaming.windows import (
        streaming_value_counts,
    )

    events = load_table(spark, SF_DIR, "events")
    src = str(tmp_path / "ksevents")
    events.repartition(5).write.parquet(src)

    stream = spark.readStream.schema(events.schema).option(
        "maxFilesPerTrigger", 1
    ).parquet(src)
    name = f"ks_{_uuid.uuid4().hex[:8]}"
    q = (
        streaming_value_counts(stream)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    drained = spark.table(name)
    # memory-sink views cannot self-join (see the mix-drift twin test)
    counts = spark.createDataFrame(drained.collect(), drained.schema)

    # the drained RAW floor counts go through the SAME bucket-cap +
    # KS path as the batch operator (r16: ks_drift_from_counts alone
    # diverges once the floor span exceeds n_buckets)
    via_stream = temporal_drift_ks_from_counts(counts)
    got = sorted(map(tuple, via_stream.collect()))
    unpersist_deps(via_stream)
    want_df = temporal_drift_ks(events, "ts", "value")
    want = sorted(map(tuple, want_df.collect()))
    unpersist_deps(want_df)
    assert got == want and len(got) > 0


def test_streaming_count_helpers_support_append(spark, tmp_path):
    """Both drift-count helpers must be APPEND-mode legal — the proof
    that the watermark metadata survives onto the aggregation key
    (r16 ADVICE fix: grouping by window.start instead of the full
    window column silently stripped it, so state could never be
    evicted and append mode was rejected; complete-mode tests alone
    could not catch that). Spark rejects append at .start() when the
    aggregation key carries no watermark, so a clean awaitTermination
    IS the assertion."""
    import uuid as _uuid

    from batch_process_dpla_index_spark.streaming.windows import (
        streaming_mix_counts,
        streaming_value_counts,
    )

    events = load_table(spark, SF_DIR, "events")
    src = str(tmp_path / "appendevents")
    events.repartition(3).write.parquet(src)

    for helper in (streaming_mix_counts, streaming_value_counts):
        stream = spark.readStream.schema(events.schema).parquet(src)
        name = f"app_{_uuid.uuid4().hex[:8]}"
        q = (
            helper(stream)
            .writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        # append emits only watermark-finalized windows; the fixture
        # spans many days, so all but the horizon's tail must land
        assert spark.table(name).count() > 0


def test_psi_stream_converges_to_batch(spark, tmp_path):
    """Drained streaming_value_counts fed through
    temporal_psi_from_counts == temporal_psi over the same events,
    bit-for-bit — the PSI monitor joins the KS and mix monitors in
    having a streaming twin through one shared counts core (r16)."""
    import uuid as _uuid

    from batch_process_dpla_index_spark.operators.dedup import unpersist_deps
    from batch_process_dpla_index_spark.operators.profiling import (
        temporal_psi,
        temporal_psi_from_counts,
    )
    from batch_process_dpla_index_spark.streaming.windows import (
        streaming_value_counts,
    )

    events = load_table(spark, SF_DIR, "events")
    src = str(tmp_path / "psievents")
    events.repartition(5).write.parquet(src)

    stream = spark.readStream.schema(events.schema).option(
        "maxFilesPerTrigger", 1
    ).parquet(src)
    name = f"psi_{_uuid.uuid4().hex[:8]}"
    q = (
        streaming_value_counts(stream)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    drained = spark.table(name)
    # memory-sink views cannot self-join (see the mix-drift twin test)
    counts = spark.createDataFrame(drained.collect(), drained.schema)

    via_stream = temporal_psi_from_counts(counts)
    got = sorted(map(tuple, via_stream.collect()))
    unpersist_deps(via_stream)
    want_df = temporal_psi(events, "ts", "value")
    want = sorted(map(tuple, want_df.collect()))
    unpersist_deps(want_df)
    assert got == want and len(got) > 0


def test_w1_stream_converges_to_batch(spark, tmp_path):
    """Drained streaming_value_counts fed through
    temporal_wasserstein_from_counts == temporal_wasserstein over the
    same events, bit-for-bit — the W1 monitor joins KS/TV/PSI in
    having a streaming twin through the one shared counts core
    (r17)."""
    import uuid as _uuid

    from batch_process_dpla_index_spark.operators.dedup import unpersist_deps
    from batch_process_dpla_index_spark.operators.profiling import (
        temporal_wasserstein,
        temporal_wasserstein_from_counts,
    )
    from batch_process_dpla_index_spark.streaming.windows import (
        streaming_value_counts,
    )

    events = load_table(spark, SF_DIR, "events")
    src = str(tmp_path / "w1events")
    events.repartition(5).write.parquet(src)

    stream = spark.readStream.schema(events.schema).option(
        "maxFilesPerTrigger", 1
    ).parquet(src)
    name = f"w1_{_uuid.uuid4().hex[:8]}"
    q = (
        streaming_value_counts(stream)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    drained = spark.table(name)
    # memory-sink views cannot self-join (see the mix-drift twin test)
    counts = spark.createDataFrame(drained.collect(), drained.schema)

    via_stream = temporal_wasserstein_from_counts(counts)
    got = sorted(map(tuple, via_stream.collect()))
    unpersist_deps(via_stream)
    want_df = temporal_wasserstein(events, "ts", "value")
    want = sorted(map(tuple, want_df.collect()))
    unpersist_deps(want_df)
    assert got == want and len(got) > 0


def test_streaming_counts_evict_state_and_drop_late_data(spark, tmp_path):
    """End-to-end append-mode run across >=2 triggers with late data
    beyond the watermark (r16 VERDICT #6) — the load-bearing claim of
    the r16 watermark-key fix, asserted on the engine's own metrics,
    not just on append-mode acceptance:

    trigger 1 delivers days 1-3; trigger 2 delivers day 5, advancing
    the 1-day watermark past days 1-3 and EVICTING day 1's window at
    batch end; trigger 3 delivers a late day-1 row. (The three-batch
    shape matters: a late row landing in the same batch that advances
    the watermark still merges, because eviction runs at batch END —
    the row must arrive after its window's state is gone.) If state
    eviction really happens, (a) the late row is DROPPED
    (numRowsDroppedByWatermark > 0 and the emitted day-1 count
    excludes it), (b) closed windows are emitted exactly once with
    their on-time counts, (c) the final state holds only the open
    tail (numRowsTotal < distinct windows seen), and (d) the
    still-open day-5 window is absent from the append output."""
    import os as _os
    import time as _time
    import uuid as _uuid

    from pyspark.sql import functions as F

    from batch_process_dpla_index_spark.streaming.windows import (
        streaming_mix_counts,
        streaming_value_counts,
    )

    def _write_batches(root):
        on_time = [
            ("2026-01-01 12:00:00", 10.2, "view"),
            ("2026-01-01 13:00:00", 10.7, "view"),
            ("2026-01-02 12:00:00", 20.1, "click"),
            ("2026-01-03 12:00:00", 30.5, "view"),
        ]
        batch2 = [
            # advances the watermark to Jan 4; day 1-3 windows close
            # and day 1's state row is evicted at this batch's end
            ("2026-01-05 12:00:00", 50.9, "buy"),
        ]
        batch3 = [
            # late: day-1 event arriving AFTER its window's state was
            # evicted — must be dropped, not merged
            ("2026-01-01 14:00:00", 10.9, "view"),
        ]
        for i, rows in enumerate((on_time, batch2, batch3)):
            df = spark.createDataFrame(
                rows, "ts_s string, value double, event_type string"
            ).select(
                F.col("ts_s").cast("timestamp").alias("ts"),
                "value",
                "event_type",
            )
            path = _os.path.join(root, f"b{i}")
            df.coalesce(1).write.parquet(path)
            # FileStreamSource orders batches by file modification
            # time: pin a strictly increasing mtime per batch dir
            base = _time.time() + i * 10
            for dirpath, _dirs, files in _os.walk(path):
                for fn in files:
                    _os.utime(_os.path.join(dirpath, fn), (base, base))
        return spark.read.parquet(_os.path.join(root, "b0")).schema

    for helper, key_col, day1_key, day1_count in (
        (streaming_value_counts, "x", 10, 2),
        (streaming_mix_counts, "cat", "view", 2),
    ):
        root = str(tmp_path / f"late_{helper.__name__}")
        schema = _write_batches(root)
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(_os.path.join(root, "*"))
        )
        name = f"evict_{_uuid.uuid4().hex[:8]}"
        q = (
            helper(stream)
            .writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        progresses = [p for p in q.recentProgress if p["numInputRows"] > 0]
        assert len(progresses) >= 3, "need >=3 data triggers"
        dropped = sum(
            int(p["stateOperators"][0].get("numRowsDroppedByWatermark", 0))
            for p in progresses
        )
        assert dropped >= 1, "late row must be dropped by the watermark"
        # final state holds only the open day-5 window's rows: fewer
        # than the 4 distinct (day, key) groups delivered on time
        final_state = int(progresses[-1]["stateOperators"][0]["numRowsTotal"])
        assert 1 <= final_state < 4, final_state
        out = {
            (str(r["day"])[:10], r[key_col]): r["c"]
            for r in spark.table(name).collect()
        }
        # closed windows emitted once with on-time counts; late row
        # NOT merged into day 1; open day-5 window not emitted
        assert out[("2026-01-01", day1_key)] == day1_count
        assert all(d != "2026-01-05" for d, _ in out)
