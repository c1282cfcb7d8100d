"""Product invariants: MQ CSVs, JSONL dump, sitemap, parquet dump,
manifests, catalog discovery — the reference's operational
correctness contract (SURVEY.md §5 items 3-4)."""

from __future__ import annotations

import glob
import gzip
import os
import re

import pytest
from pyspark.sql import functions as F

from batch_process_dpla_index_spark.io.manifest import build_manifest, read_manifest
from batch_process_dpla_index_spark.io.paths import (
    date_path,
    latest_dataset_paths,
    parquet_path,
)
from batch_process_dpla_index_spark.io.sinks import (
    delete_existing,
    purge_keys,
    read_avro,
    read_csv_single,
    write_avro,
    write_csv_single,
    write_local,
)
from batch_process_dpla_index_spark.model.fixtures import synthesize_enriched
from batch_process_dpla_index_spark.model.flatten import modify_columns
from batch_process_dpla_index_spark.products import jsonl_dump, parquet_dump, sitemap
from batch_process_dpla_index_spark.quality.mq import write_mq_reports


def test_mq_csv_product(spark, docs_small, tmp_path):
    out = str(tmp_path / "mq")
    items = modify_columns(synthesize_enriched(docs_small))
    opts = write_mq_reports(spark, items, out)
    provider_rows = read_csv_single(f"{out}/provider.csv")
    contributor_rows = read_csv_single(f"{out}/contributor.csv")
    assert len(provider_rows) == int(opts["Provider count"]) > 0
    assert len(contributor_rows) == int(opts["Contributor count"]) > 0
    # header + score sanity
    assert {"provider", "title", "wikimediaReady", "count"} <= set(provider_rows[0])
    assert sum(int(r["count"]) for r in provider_rows) == docs_small.count()
    # manifest written and parseable
    man = read_manifest(out)
    assert man["Provider count"] == opts["Provider count"]
    # single part file each (coalesce(1))
    assert len(glob.glob(f"{out}/provider.csv/part-*.csv")) == 1


def _jsonl_inputs(spark, tmp_path) -> dict[str, str]:
    """Three fake providers' jsonl inputs: 40 lines, 25 lines, none."""
    in_a, in_b, in_c = (str(tmp_path / f"in/{x}") for x in "abc")
    spark.range(0, 40).select(F.concat(F.lit('{"id":'), "id", F.lit("}")).alias("value")).write.text(in_a)
    spark.range(100, 125).select(F.concat(F.lit('{"id":'), "id", F.lit("}")).alias("value")).write.text(in_b)
    spark.createDataFrame([], "value string").write.text(in_c)
    return {"hubA": in_a, "hubB": in_b, "hubC": in_c}


def test_jsonl_dump_invariants(spark, tmp_path):
    inputs = _jsonl_inputs(spark, tmp_path)
    out = str(tmp_path / "out")
    sc = spark.sparkContext
    sc.setJobGroup("test-jsonl-dump", "jsonl dump job count")
    try:
        counts = jsonl_dump.execute(spark, inputs, out)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert counts == {"hubA": 40, "hubB": 25, "hubC": 0, "__all__": 65}
    # counts come from the writes: no count-only job, at most one job
    # per provider export plus the union export (the export threads
    # inherit the caller's job group, so their jobs are all counted)
    n_jobs = len(sc.statusTracker().getJobIdsForGroup("test-jsonl-dump"))
    assert 3 <= n_jobs <= len(inputs) + 1, n_jobs
    # per-provider + union manifests agree with data
    man_a = read_manifest(f"{out}/hubA.jsonl")
    assert man_a["Record count"] == "40"
    assert read_manifest(f"{out}/hubC.jsonl")["Record count"] == "0"
    man_all = read_manifest(f"{out}/all.jsonl")
    assert man_all["Total record count"] == "65"
    assert man_all["hubB record count"] == "25"
    assert man_all["hubC record count"] == "0"
    # gzip parts decode back to exactly the inputs
    lines = []
    for part in glob.glob(f"{out}/all.jsonl/part-*.gz"):
        with gzip.open(part, "rt") as f:
            lines.extend(line.strip() for line in f)
    assert len(lines) == 65
    assert '{"id":0}' in lines and '{"id":124}' in lines
    # idempotent overwrite: run again, same result
    counts2 = jsonl_dump.execute(spark, inputs, out)
    assert counts2 == counts


def test_jsonl_dump_provider_failure_propagates(spark, tmp_path, monkeypatch):
    """A failing provider export is re-raised from execute, and every
    persisted input is released once the other exports have stopped."""
    inputs = _jsonl_inputs(spark, tmp_path)
    write = jsonl_dump.write_text_gzip

    def failing_write(df, path, *args, **kwargs):
        if path.endswith("/hubB.jsonl"):
            raise RuntimeError("hubB export failed")
        return write(df, path, *args, **kwargs)

    monkeypatch.setattr(jsonl_dump, "write_text_gzip", failing_write)
    persisted = spark.sparkContext._jsc.getPersistentRDDs().size()
    with pytest.raises(RuntimeError, match="hubB export failed"):
        jsonl_dump.execute(spark, inputs, str(tmp_path / "out"))
    assert spark.sparkContext._jsc.getPersistentRDDs().size() == persisted
    assert not os.path.exists(tmp_path / "out/all.jsonl")


@pytest.mark.parametrize("exact", [False, True])
def test_sitemap_invariants(spark, docs, tmp_path, exact):
    out = str(tmp_path / f"sitemap_{exact}")
    ids = docs.select(F.col("doc_id").cast("string").alias("id"))
    max_rows = 60
    sitemap.execute(
        spark, ids, out, "https://cdn.example.org/sitemaps",
        max_rows=max_rows, exact=exact,
    )
    man = read_manifest(out)
    n_ids = ids.count()
    assert man["Total URL count"] == str(n_ids)
    # index lists exactly the subfiles on disk
    with open(f"{out}/all_item_urls.xml") as f:
        index = f.read()
    listed = re.findall(r"<loc>https://cdn\.example\.org/sitemaps/([^<]+)</loc>", index)
    subfiles = [
        os.path.relpath(p, out)
        for p in glob.glob(f"{out}/*/all_item_urls_*.xml")
    ]
    assert sorted(listed) == sorted(subfiles) and subfiles
    # union of subfile ids == input ids; per-file cap in exact mode
    seen = []
    for p in glob.glob(f"{out}/*/all_item_urls_*.xml"):
        with open(p) as f:
            urls = re.findall(r"<loc>https://dp\.la/item/([^<]+)</loc>", f.read())
        if exact:
            assert len(urls) <= max_rows
        seen.extend(urls)
    expected = {r["id"] for r in ids.collect()}
    assert sorted(seen) == sorted(expected)


def test_parquet_dump_product(spark, docs_small, tmp_path):
    # catalog layout: <root>/<hub>/enrichment/<date>/ with two snapshots
    root = str(tmp_path / "master")
    half = docs_small.limit(30)
    for hub, frame in (("hubA", half), ("hubB", docs_small.subtract(half))):
        stale = f"{root}/{hub}/enrichment/2026-01"
        fresh = f"{root}/{hub}/enrichment/2026-05"
        synthesize_enriched(frame.limit(1)).write.parquet(stale)
        synthesize_enriched(frame).write.parquet(fresh)
    paths = latest_dataset_paths(root, "enrichment")
    assert set(paths) == {"hubA", "hubB"}
    assert all(p.endswith("2026-05") for p in paths.values())
    out_base = str(tmp_path / "dump")
    out_path = parquet_dump.execute(spark, root, out_base, fmt="parquet")
    assert out_path.startswith(out_base) and out_path.endswith("/all.parquet/")
    flat = spark.read.parquet(out_path)
    assert flat.count() == docs_small.count()
    assert "id" in flat.columns and "originalRecord" not in flat.columns


def test_manifest_format():
    text = build_manifest({"B key": "2", "A key": "1"}, timestamp="2026-08-13T00:00:00Z")
    lines = text.splitlines()
    assert lines[0] == "A key: 1" and lines[1] == "B key: 2"
    assert lines[2].startswith("Start date/time of file generation: ")


def test_paths_convention():
    from datetime import datetime, timezone

    dt = datetime(2026, 8, 13, tzinfo=timezone.utc)
    assert date_path(dt) == "/2026/08"
    assert parquet_path("s3://bucket/base/", dt) == "s3://bucket/base/2026/08/all.parquet/"


def test_delete_existing_and_purge(tmp_path):
    d = tmp_path / "x"
    d.mkdir()
    (d / "f.txt").write_text("hi")
    assert delete_existing(str(d)) is True
    assert delete_existing(str(d)) is False
    files = []
    for i in range(5):
        p = tmp_path / f"k{i}.jpg"
        p.write_text("img")
        files.append(str(p))
    assert purge_keys(files, batch=2) == 5
    assert purge_keys(files) == 0


def test_avro_missing_path(spark):
    """Reading a path with no containers fails loudly, not with an
    empty frame."""
    with pytest.raises(FileNotFoundError):
        read_avro(spark, "/tmp/nope")


def test_write_local_nested(tmp_path):
    full = write_local(str(tmp_path), "sub/dir/file.txt", "content")
    assert open(full).read() == "content"


def test_thumbnail_purge_streams_batches(spark, docs_small, tmp_path):
    from batch_process_dpla_index_spark.model.fixtures import synthesize_enriched
    from batch_process_dpla_index_spark.products import thumbnail_purge
    from pyspark.sql import functions as F

    items = synthesize_enriched(docs_small).select(
        F.col("dplaUri.value").alias("dplaUri")
    )
    batches = []
    n = thumbnail_purge.execute(spark, items, batches.append, batch=25)
    assert n == docs_small.count()
    assert all(len(b) <= 25 for b in batches)
    flat = [k for b in batches for k in b]
    assert len(flat) == n
    # key shape parity with the reference's thumbnailPrefix for 4+-char ids
    long_ids = [k for k in flat if len(k.split("/")[-1]) >= 8]
    for k in long_ids[:5]:
        tail = k.split("/")[-1].removesuffix(".jpg")
        assert k == thumbnail_purge.thumbnail_prefix(tail)


def test_thumbnail_purge_cli(spark, tmp_path):
    """The runnable form (ThumbnailPurge.scala:41-53 args: item path,
    bucket): jobs.py wires product + fs carrier; keys under the bucket
    root actually disappear."""
    import os

    from batch_process_dpla_index_spark import jobs
    from batch_process_dpla_index_spark.products import thumbnail_purge

    src = str(tmp_path / "items")
    ids = [f"{i:08x}" for i in range(10)]
    items = spark.createDataFrame(
        [(thumbnail_purge.ITEM_URI_PREFIX + i,) for i in ids], ["dplaUri"]
    )
    items.write.parquet(src)
    bucket = str(tmp_path / "bucket")
    keys = [f"{bucket}/{thumbnail_purge.thumbnail_prefix(i)}" for i in ids]
    survivor = f"{bucket}/unrelated.jpg"
    for k in keys + [survivor]:
        os.makedirs(os.path.dirname(k), exist_ok=True)
        open(k, "w").write("x")

    assert jobs.main(["thumbnail-purge", src, bucket, "--batch", "4"]) == 0
    assert all(not os.path.exists(k) for k in keys)
    assert os.path.exists(survivor)  # only derived keys purged


def test_schema_test_product(spark, docs_small, tmp_path):
    from batch_process_dpla_index_spark.model.fixtures import synthesize_enriched
    from batch_process_dpla_index_spark.products import schema_test

    root = str(tmp_path / "master")
    synthesize_enriched(docs_small.limit(5)).write.parquet(
        f"{root}/hubA/enrichment/2026-05"
    )
    docs_small.limit(5).write.parquet(f"{root}/hubB/enrichment/2026-04")
    out = str(tmp_path / "schemas")
    ddls = schema_test.execute(spark, root, out, fmt="parquet")
    assert set(ddls) == {"hubA", "hubB"}
    a = open(f"{out}/hubA.schema").read()
    b = open(f"{out}/hubB.schema").read()
    assert "sourceResource" in a and "doc_id" in b and a != b


def test_schema_repair_job_reads_and_writes_avro(spark, docs_small, tmp_path):
    """``jobs schema-repair`` takes raw provider Avro and writes Avro in
    the canonical shape (SchemaRepair.scala:31-33)."""
    from batch_process_dpla_index_spark import jobs
    from batch_process_dpla_index_spark.model.fixtures import synthesize_raw
    from batch_process_dpla_index_spark.model.schema import item_schema

    src, dst = str(tmp_path / "raw"), str(tmp_path / "repaired")
    write_avro(synthesize_raw(docs_small), src)
    assert jobs.main(["schema-repair", src, dst]) == 0
    assert glob.glob(f"{dst}/part-*.avro")
    back = read_avro(spark, dst)
    canonical = item_schema()["sourceResource"].dataType
    assert back.schema["sourceResource"].dataType.simpleString() == canonical.simpleString()
    assert back.count() == docs_small.count()


def test_approx_distinct_bound(spark):
    from batch_process_dpla_index_spark.sources.tables import load_table
    from pyspark.sql import functions as F
    from tests.conftest import SF_DIR

    ev = load_table(spark, SF_DIR, "events")
    got = {
        r["event_type"]: (r["approx"], r["exact"])
        for r in ev.groupBy("event_type")
        .agg(
            F.approx_count_distinct("user_id", 0.02).alias("approx"),
            F.countDistinct("user_id").alias("exact"),
        )
        .collect()
    }
    for et, (approx, exact) in got.items():
        assert abs(approx - exact) <= max(2, 0.1 * exact), (et, approx, exact)


def test_monthly_batch_sequencing(spark, docs_small, tmp_path):
    """O4: the four steps run in order against a master-dataset layout;
    mq + sitemap consume the parquet step's output."""
    from batch_process_dpla_index_spark.model.fixtures import synthesize_enriched
    from batch_process_dpla_index_spark.products import monthly_batch

    root = str(tmp_path / "master")
    write_avro(synthesize_enriched(docs_small), f"{root}/hubA/enrichment/2026-05")
    docs_small.select(
        F.concat(F.lit('{"id":'), "doc_id", F.lit("}")).alias("value")
    ).write.text(f"{root}/hubA/jsonl/2026-05")
    out = str(tmp_path / "out")
    result = monthly_batch.execute(spark, root, out, "https://cdn.x/s")
    assert result.failed_step is None, result
    assert result.steps_run == ["parquet", "jsonl", "mq", "sitemap"]
    # downstream consumption: mq CSV rows cover every doc
    rows = read_csv_single(glob.glob(f"{out}/mq/*/*/provider.csv")[0])
    assert sum(int(r["count"]) for r in rows) == docs_small.count()
    man = read_manifest(glob.glob(f"{out}/sitemap")[0])
    assert man["Total URL count"] == str(docs_small.count())


def test_monthly_batch_halts_on_failure(spark, tmp_path):
    """CANCEL_AND_WAIT: an empty master dataset fails the parquet step
    and nothing downstream runs."""
    from batch_process_dpla_index_spark.products import monthly_batch

    result = monthly_batch.execute(
        spark, str(tmp_path / "nothing"), str(tmp_path / "out")
    )
    assert result.failed_step == "parquet"
    assert result.steps_run == []


def test_fs_seam_scheme_dispatch(tmp_path):
    """K5-K9 route through the carrier interface: a backend registered
    for a custom scheme receives the puts/purges unchanged — the seam
    an object-store (fsspec/boto3) impl plugs into without touching
    product code."""
    from batch_process_dpla_index_spark.io import fs as fsmod
    from batch_process_dpla_index_spark.io.sinks import purge_keys, write_local

    calls = []

    class Recorder(fsmod.LocalFilesystem):
        def put(self, key, text):
            calls.append(("put", key))
            return key

        def purge(self, keys, batch=1000, on_batch=None):
            calls.append(("purge", len(keys), batch))
            return len(keys)

    fsmod.register_fs("mem", Recorder())
    try:
        write_local("mem://bucket/reports", "a.csv", "x,y")
        n = purge_keys(["mem://bucket/t/1", "mem://bucket/t/2"], batch=1)
        assert n == 2
        assert calls == [
            ("put", "mem://bucket/reports/a.csv"),
            ("purge", 2, 1),
        ]
    finally:
        fsmod._REGISTRY.pop("mem", None)
    # unknown schemes fail loudly, not silently local
    import pytest as _pytest

    with _pytest.raises(NotImplementedError):
        write_local("s3://bucket/x", "f", "t")


def test_fs_purge_batch_progress(tmp_path):
    """The 1000-key batch contract (S3FileHelper.scala:46-55): purge
    reports per-batch progress and deletes everything."""
    from batch_process_dpla_index_spark.io.fs import LocalFilesystem

    files = []
    for i in range(5):
        p = tmp_path / f"k{i}"
        p.write_text("x")
        files.append(str(p))
    seen = []
    n = LocalFilesystem().purge(files, batch=2, on_batch=lambda b, k: seen.append((b, k)))
    assert n == 5
    assert seen == [(0, 2), (1, 2), (2, 1)]
    assert not any(__import__("os").path.exists(f) for f in files)


def test_format_matrix_round_trips(spark, docs_small, tmp_path):
    """Every format in the source/sink matrix round-trips the documents
    slice losslessly (csv/json with explicit schema — inference is
    banned at scale)."""
    from batch_process_dpla_index_spark.sources.formats import FORMATS, read_any, write_any

    base = docs_small.select("doc_id", "source", "lang", "n_chars", "text")
    want = {tuple(map(str, r)) for r in base.collect()}
    for fmt in FORMATS:
        if fmt == "text":
            continue  # opaque single-column tier, covered by jsonl dump
        path = str(tmp_path / f"rt_{fmt}")
        write_any(base, path, fmt)
        schema = base.schema if fmt in ("csv", "json") else None
        back = read_any(spark, path, fmt, schema=schema)
        got = {tuple(map(str, r)) for r in back.select(*base.columns).collect()}
        assert got == want, fmt


def test_quarantine_scan_splits_corrupt_rows(spark, tmp_path):
    """Malformed lines land in the quarantine frame with their raw
    text; parseable rows come back typed — one bad record must never
    kill the scan."""
    from pyspark.sql.types import LongType, StringType, StructType

    from batch_process_dpla_index_spark.sources.formats import read_with_quarantine

    schema = StructType().add("doc_id", LongType()).add("text", StringType())
    jdir = tmp_path / "jsonl"
    jdir.mkdir()
    (jdir / "part-0.json").write_text(
        '{"doc_id": 1, "text": "ok"}\n'
        "{broken json line\n"
        '{"doc_id": 2, "text": "also ok"}\n'
        '{"doc_id": "not a number", "text": "bad type"}\n'
    )
    good, bad = read_with_quarantine(spark, str(jdir), "json", schema)
    assert {r.doc_id for r in good.collect()} == {1, 2}
    bad_rows = bad.collect()
    assert len(bad_rows) == 2
    assert all(r._corrupt_record for r in bad_rows)

    cdir = tmp_path / "csv"
    cdir.mkdir()
    (cdir / "part-0.csv").write_text(
        "doc_id,text\n1,ok\nnot_a_number,bad\n2,fine\n"
    )
    good_c, bad_c = read_with_quarantine(spark, str(cdir), "csv", schema)
    assert {r.doc_id for r in good_c.collect()} == {1, 2}
    assert [r._corrupt_record for r in bad_c.collect()] == ["not_a_number,bad"]

    with pytest.raises(ValueError, match="row formats"):
        read_with_quarantine(spark, str(jdir), "parquet", schema)


def test_csv_json_require_schema(spark, tmp_path):
    from batch_process_dpla_index_spark.sources.formats import read_any

    with pytest.raises(ValueError, match="schema"):
        read_any(spark, str(tmp_path), "csv")
    with pytest.raises(ValueError, match="schema"):
        read_any(spark, str(tmp_path), "json")


def test_dedup_index_round_trip(spark, tmp_path):
    """Indexed incremental dedup == in-line incremental dedup, exactly."""
    from batch_process_dpla_index_spark.operators.dedup import (
        incremental_dedup,
        unpersist_deps,
    )
    from batch_process_dpla_index_spark.products.dedup_index import (
        append_to_dedup_index,
        build_dedup_index,
        incremental_dedup_indexed,
    )
    from batch_process_dpla_index_spark.sources.tables import load_table
    from tests.conftest import SF_DIR

    docs = load_table(spark, SF_DIR, "documents")
    new = docs.filter(F.col("doc_id") % 10 == 7)
    corpus = docs.filter(F.col("doc_id") % 10 != 7)
    idx = str(tmp_path / "dedup_index")

    manifest = build_dedup_index(corpus, "text", "doc_id", idx)
    assert read_manifest(idx)["shingle_n"] == "3"
    assert int(manifest["Record count"]) == corpus.count()

    got = incremental_dedup_indexed(spark, new, "text", "doc_id", idx)
    want = incremental_dedup(new, corpus, "text", "doc_id")
    got_rows = sorted(map(tuple, got.collect()))
    want_rows = sorted(map(tuple, want.collect()))
    unpersist_deps(got)
    unpersist_deps(want)
    assert got_rows == want_rows and len(got_rows) > 0

    # Append the batch; a re-ingest of the same batch now self-matches
    # at jaccard 1.0 through the stored index.
    append_to_dedup_index(new, "text", "doc_id", idx)
    again = incremental_dedup_indexed(spark, new, "text", "doc_id", idx)
    rows = {r.new_id: r for r in again.collect()}
    unpersist_deps(again)
    sample = next(iter(rows))
    assert rows[sample].jaccard == 1.0


def test_ann_index_round_trip(spark, tmp_path):
    """Query-vs-index IVF == in-line ivf_topk under the same codebook."""
    from batch_process_dpla_index_spark.operators.similarity import ivf_topk
    from batch_process_dpla_index_spark.products.ann_index import (
        ann_query_indexed,
        build_ann_index,
        load_centroids,
    )
    from batch_process_dpla_index_spark.sources.tables import load_table
    from tests.conftest import SF_DIR

    emb = load_table(spark, SF_DIR, "embeddings")
    idx = str(tmp_path / "ann_index")
    manifest = build_ann_index(
        emb, "vec_id", "embedding", idx, dim=64, n_cells=8, kmeans_iters=3
    )
    assert manifest["quantizer"] == "kmeans-maximin"
    assert int(manifest["Record count"]) == emb.count()

    got = ann_query_indexed(
        spark, emb, "vec_id", "embedding", idx, k=5, n_probe=3
    )
    centroids = load_centroids(spark, idx)
    want = ivf_topk(
        emb, "vec_id", "embedding", dim=64, k=5, n_cells=8, n_probe=3,
        centroids=centroids,
    )
    got_rows = sorted(map(tuple, got.collect()))
    want_rows = sorted(map(tuple, want.collect()))
    assert got_rows == want_rows and len(got_rows) > 0


def test_ann_index_two_level_quantizer(spark, tmp_path):
    """learned='two-level' PERSISTS the two-level model (coarse +
    fine codebooks + the fit-owned stride k_f) and serves through the
    IMI probe: full probe must be the exact search (recall 1.0 on
    every query — the same calibration contract as the flat path),
    the manifest must pin the quantizer + k_f + the true trained-cell
    count, and at an equal probed-cell budget the IMI serve must not
    trail the flat index's recall on this fixture."""
    from batch_process_dpla_index_spark.io.manifest import read_manifest
    from batch_process_dpla_index_spark.products.ann_index import (
        ann_query_indexed,
        ann_recall_indexed,
        build_ann_index,
        load_two_level_model,
    )
    from batch_process_dpla_index_spark.sources.tables import load_table
    from tests.conftest import SF_DIR

    emb = load_table(spark, SF_DIR, "embeddings")
    idx = str(tmp_path / "ann2l")
    manifest = build_ann_index(
        emb, "vec_id", "embedding", idx,
        dim=64, n_cells=16, learned="two-level", kmeans_iters=3,
    )
    assert manifest["quantizer"] == "kmeans-two-level"
    n_cells = int(manifest["n_cells"])
    assert n_cells <= 16 and int(manifest["Record count"]) == emb.count()
    coarse, fine, k_f = load_two_level_model(spark, idx)
    assert int(manifest["k_f"]) == k_f
    assert int(manifest["coarse_k"]) == len(coarse)
    assert sum(len(m) for m in fine.values()) == n_cells
    # stored global cells follow the fit's strided convention
    stored = spark.read.parquet(idx + "/cells")
    valid = {c * k_f + j for c in fine for j in range(len(fine[c]))}
    got_cells = {r["cell"] for r in stored.select("cell").distinct().collect()}
    assert got_cells <= valid

    # full probe through the IMI path IS the exact search
    sample = emb.orderBy("vec_id").limit(25)
    rep = ann_recall_indexed(
        spark, sample, "vec_id", "embedding", idx, k=5, n_probe=n_cells
    ).collect()
    assert len(rep) == 25
    assert all(r.recall_at_k == 1.0 for r in rep)

    # equal probed-cell budget: IMI-served recall does not trail the
    # flat-built index on this fixture (deterministic: fixed seeds)
    flat_idx = str(tmp_path / "annflat")
    build_ann_index(emb, "vec_id", "embedding", flat_idx,
                    dim=64, n_cells=16, kmeans_iters=3)
    budget = 4
    imi_mean = _mean_recall(
        ann_recall_indexed(spark, sample, "vec_id", "embedding", idx,
                           k=5, n_probe=budget))
    flat_mean = _mean_recall(
        ann_recall_indexed(spark, sample, "vec_id", "embedding", flat_idx,
                           k=5, n_probe=budget))
    assert imi_mean >= flat_mean

    # full-probe IMI serve == full-probe flat serve (both exact):
    # identical (query, neighbor, rank) sets over the same corpus
    imi_rows = sorted(
        (r.query_id, r.neighbor_id, r.rank)
        for r in ann_query_indexed(spark, sample, "vec_id", "embedding",
                                   idx, k=5, n_probe=n_cells).collect()
    )
    flat_rows = sorted(
        (r.query_id, r.neighbor_id, r.rank)
        for r in ann_query_indexed(spark, sample, "vec_id", "embedding",
                                   flat_idx, k=5, n_probe=16).collect()
    )
    assert imi_rows == flat_rows and len(imi_rows) == 125

    # the sentinel is validated: a typo must not silently train flat
    import pytest as _pytest
    with _pytest.raises(ValueError, match="two-level"):
        build_ann_index(emb, "vec_id", "embedding", str(tmp_path / "x"),
                        dim=64, n_cells=16, learned="two_level")

    # IMI probe widths on a flat-served index are rejected loudly, not
    # silently ignored under an IMI-budget label
    with _pytest.raises(ValueError, match="two-level index"):
        ann_query_indexed(spark, sample, "vec_id", "embedding",
                          flat_idx, k=5, probe_coarse=2, probe_fine=2)


def _mean_recall(report) -> float:
    rows = report.collect()
    return sum(r.recall_at_k for r in rows) / len(rows)


def test_ann_index_append_lifecycle(spark, tmp_path, capsys):
    """The append path the module docstring promises: new vectors
    assign under the manifest-pinned quantizer (never a re-train),
    land in their ingest_batch partition, and are immediately served —
    a full-probe query from an appended vector must find its stored
    exact twin at rank 1. Idempotent replay replaces the partition
    instead of double-appending; a two-level index appends through the
    persisted (coarse, fine, k_f) model (exact copies co-assign with
    their stored twins by construction). Driven through the CLI for
    the flat path."""
    from batch_process_dpla_index_spark import jobs
    from batch_process_dpla_index_spark.io.manifest import read_manifest
    from batch_process_dpla_index_spark.products.ann_index import (
        ann_query_indexed,
        append_to_ann_index,
        build_ann_index,
    )
    from batch_process_dpla_index_spark.sources.tables import load_table
    from tests.conftest import SF_DIR

    emb = load_table(spark, SF_DIR, "embeddings")
    corpus = emb.filter(F.col("vec_id") % 10 != 7)
    batch = emb.filter(F.col("vec_id") % 10 == 7).limit(20).select(
        (F.col("vec_id") + 700000).alias("vec_id"), "embedding"
    ).unionByName(
        # exact copies of stored vectors under new ids: their stored
        # twin must come back at rank 1 with score 1.0
        corpus.orderBy("vec_id").limit(5).select(
            (F.col("vec_id") + 900000).alias("vec_id"), "embedding"
        )
    )

    idx = str(tmp_path / "annappend")
    build_ann_index(corpus, "vec_id", "embedding", idx, dim=64, n_cells=8,
                    kmeans_iters=2)
    n0 = int(read_manifest(idx)["Record count"])
    manifest = append_to_ann_index(
        spark, batch, "vec_id", "embedding", idx, ingest_batch=1,
        idempotent=True,
    )
    assert int(manifest["Record count"]) == n0 + 25
    stored = spark.read.parquet(idx + "/cells")
    assert {r["ingest_batch"] for r in
            stored.select("ingest_batch").distinct().collect()} == {0, 1}

    # appended copies find their stored twins at rank 1, score 1.0
    copies = batch.filter(F.col("vec_id") >= 900000)
    hits = {
        r.query_id: r for r in ann_query_indexed(
            spark, copies, "vec_id", "embedding", idx, k=1, n_probe=8
        ).collect()
    }
    assert len(hits) == 5
    for qid, r in hits.items():
        assert r.neighbor_id == qid - 900000 and r.score == 1.0

    # replay: same batch id with idempotent=True replaces, not doubles
    manifest2 = append_to_ann_index(
        spark, batch, "vec_id", "embedding", idx, ingest_batch=1,
        idempotent=True,
    )
    assert manifest2["Record count"] == manifest["Record count"]

    # batch 0 is the BUILD partition: an idempotent append there would
    # dynamic-overwrite the original corpus — refused loudly
    import pytest as _pytest
    with _pytest.raises(ValueError, match="build partition"):
        append_to_ann_index(spark, batch, "vec_id", "embedding", idx,
                            ingest_batch=0, idempotent=True)

    # CLI surface
    vecs_path = str(tmp_path / "batch2")
    batch.select((F.col("vec_id") + 50).alias("vec_id"), "embedding")\
        .write.parquet(vecs_path)
    assert jobs.main(["ann-index", "append", vecs_path, idx,
                      "--batch", "2", "--idempotent"]) == 0
    assert "Appended batch 2" in capsys.readouterr().out
    assert int(read_manifest(idx)["Record count"]) == n0 + 50
    # CLI replay with --idempotent: partition replaced, count unchanged
    assert jobs.main(["ann-index", "append", vecs_path, idx,
                      "--batch", "2", "--idempotent"]) == 0
    assert int(read_manifest(idx)["Record count"]) == n0 + 50

    # two-level index: append assigns through the persisted model
    idx2 = str(tmp_path / "ann2lappend")
    build_ann_index(corpus, "vec_id", "embedding", idx2, dim=64,
                    n_cells=16, learned="two-level", kmeans_iters=2)
    twins = corpus.orderBy("vec_id").limit(10)
    copies2 = twins.select(
        (F.col("vec_id") + 900000).alias("vec_id"), "embedding"
    )
    append_to_ann_index(spark, copies2, "vec_id", "embedding", idx2)
    cells2 = {
        r["id"]: r["cell"]
        for r in spark.read.parquet(idx2 + "/cells").collect()
    }
    for t in twins.collect():
        assert cells2[t["vec_id"] + 900000] == cells2[t["vec_id"]]


def test_ann_index_pre_stride_two_level_format_serves_flat(spark, tmp_path):
    """Backward compat: an index whose manifest says
    quantizer='kmeans-two-level' but carries NO k_f (the pre-round-12
    builder flattened the model to the flat layout — flat centroids
    dataset, flat cell assignments, no persisted stride) must keep
    serving through the FLAT path, not crash in load_two_level_model.
    Simulated by building a flat index and relabeling its quantizer —
    byte-for-byte the artifact set the old builder produced."""
    from batch_process_dpla_index_spark.io.manifest import (
        read_manifest,
        write_manifest,
    )
    from batch_process_dpla_index_spark.products.ann_index import (
        ann_query_indexed,
        build_ann_index,
    )
    from batch_process_dpla_index_spark.sources.tables import load_table
    from tests.conftest import SF_DIR

    emb = load_table(spark, SF_DIR, "embeddings")
    idx = str(tmp_path / "oldfmt")
    build_ann_index(emb, "vec_id", "embedding", idx, dim=64, n_cells=8,
                    kmeans_iters=2)
    manifest = read_manifest(idx)
    assert "k_f" not in manifest
    baseline_rows = sorted(
        map(tuple, ann_query_indexed(
            spark, emb.orderBy("vec_id").limit(10), "vec_id", "embedding",
            idx, k=3, n_probe=8,
        ).collect())
    )
    manifest["quantizer"] = "kmeans-two-level"
    write_manifest(manifest, idx)
    got_rows = sorted(
        map(tuple, ann_query_indexed(
            spark, emb.orderBy("vec_id").limit(10), "vec_id", "embedding",
            idx, k=3, n_probe=8,
        ).collect())
    )
    assert got_rows == baseline_rows and len(got_rows) == 30


def _recorded_cells_schema(spark, idx):
    """The index manifest's ``cells_schema``, checked equal to what a
    read of the cells dataset would infer."""
    ddl = read_manifest(idx)["cells_schema"]
    cells = os.path.join(idx, "cells")
    inferred = spark.read.parquet(cells).schema.simpleString()
    assert spark.read.schema(ddl).parquet(cells).schema.simpleString() == inferred
    return ddl


def _serve_rows(df):
    # (query_id, rank) is unique per served row; scores may be NULL
    return sorted(map(tuple, df.collect()), key=lambda r: (r[0], r[3]))


@pytest.mark.parametrize(
    "learned,pq_m",
    [(True, None), (False, None), ("two-level", None), (True, 8),
     ("two-level", 8)],
    ids=["kmeans", "pseudo-random", "two-level", "kmeans-pq", "two-level-pq"],
)
def test_ann_serve_broadcast_matches_fallback(spark, tmp_path, learned, pq_m):
    """Tier equivalence of the index serve: the driver read (probed
    live cells read and scored on the driver), the broadcast-probe
    plan it falls back to over its scan cap (query batch collected,
    probed cells scored in one Arrow pass) and the fallback an
    over-cap batch takes (the cell-grouped shuffle) return identical
    rows on every quantizer and both scorers (cosine through
    ``ann_query_indexed``, ADC over the PQ codes through
    ``pq_query_indexed``), through the lifecycle edge cases — an id
    stored in two ingest batches, a tombstoned id, an id deleted
    twice, an id re-appended above its delete watermark (it serves
    again), a query id that is also stored (self-masked), a zero-norm
    query (NULL cosine scores) and an empty query batch. A large k
    (short candidate lists from some probed cells) serves the same
    rows too, and a batch whose vectors fit the cap but whose
    candidates do not takes the fallback. Query rows with a NULL id or
    a NULL vector are served by no route, and a NULL stored payload
    sends the serve to the Spark pass."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.errors import PythonException

    from batch_process_dpla_index_spark.products import index_tombstones
    from batch_process_dpla_index_spark.products.ann_index import (
        ann_query_indexed,
        append_to_ann_index,
        build_ann_index,
        delete_from_ann_index,
        pq_query_indexed,
    )
    from batch_process_dpla_index_spark.operators import similarity
    from batch_process_dpla_index_spark.sources.tables import load_table
    from tests.conftest import SF_DIR

    emb = load_table(spark, SF_DIR, "embeddings").select("vec_id", "embedding")
    corpus = emb.filter(F.col("vec_id") % 7 != 3)
    idx = str(tmp_path / "ann")
    build_ann_index(corpus, "vec_id", "embedding", idx, dim=64, n_cells=16,
                    learned=learned, kmeans_iters=2, pq_m=pq_m)
    head = corpus.orderBy("vec_id").limit(5).collect()
    dup_ids = [r["vec_id"] for r in head[:3]]
    doomed = head[3]["vec_id"]
    revived = head[4]["vec_id"]
    # the same ids and vectors again, in ingest batch 1; doomed's copy
    # there sits exactly at its delete watermark (1), so it is hidden
    append_to_ann_index(
        spark, corpus.filter(F.col("vec_id").isin(dup_ids + [doomed])),
        "vec_id", "embedding", idx, ingest_batch=1,
    )
    delete_from_ann_index(spark, idx, [doomed, revived], compact_threshold=2.0)
    delete_from_ann_index(spark, idx, [doomed], compact_threshold=2.0)
    # re-ingested above its watermark (1): the batch-2 copy serves
    append_to_ann_index(
        spark, corpus.filter(F.col("vec_id") == revived),
        "vec_id", "embedding", idx, ingest_batch=2,
    )

    twins = corpus.filter(
        F.col("vec_id").isin(dup_ids + [doomed, revived])
    ).select((F.col("vec_id") + 900000).alias("vec_id"), "embedding")
    zero = spark.createDataFrame(
        [(999999, [0.0] * 64)], "vec_id bigint, embedding array<float>"
    )
    # a NULL id and a NULL vector: no route serves these rows
    nulls = spark.createDataFrame(
        [(None, [0.5] * 64), (999998, None)],
        "vec_id bigint, embedding array<float>",
    )
    queries = (
        emb.filter(F.col("vec_id") % 7 == 3).limit(10)
        .unionByName(corpus.filter(F.col("vec_id").isin(dup_ids)))
        .unionByName(twins)
        .unionByName(zero)
        .unionByName(nulls)
    )

    def serve(q, cap=similarity._QUERY_BATCH_CAP_BYTES, k=5,
              scan=index_tombstones._SCAN_DRIVER_MAX_ROWS):
        # scan 0 declines the driver read: the Arrow pass; cap 0 puts
        # every batch over the query cap: the cell shuffle
        with pytest.MonkeyPatch.context() as mp:
            mp.setattr(similarity, "_QUERY_BATCH_CAP_BYTES", cap)
            mp.setattr(index_tombstones, "_SCAN_DRIVER_MAX_ROWS", scan)
            return (pq_query_indexed if pq_m else ann_query_indexed)(
                spark, q, "vec_id", "embedding", idx, k=k, n_probe=4
            )

    def every_route(k):
        rows = _serve_rows(serve(queries, k=k))
        assert _serve_rows(serve(queries, k=k, scan=0)) == rows
        assert _serve_rows(serve(queries, k=k, cap=0)) == rows
        return rows

    got = every_route(5)
    assert len(got) == 5 * 19
    assert not {None, 999998, -(2**63)} & {r[0] for r in got}

    by_q: dict = {}
    for r in got:
        by_q.setdefault(r[0], []).append(r)
    for i in dup_ids:
        # self-masked: neither stored copy answers its own id
        assert all(r[1] != i for r in by_q[i])
        # both copies serve its exact twin first: at cosine 1.0, or at
        # the ADC distance of the twin's own codes (the least any
        # stored codes can score)
        first = [(r[1], r[2]) for r in by_q[i + 900000][:2]]
        assert first[0] == first[1] and first[0][0] == i
        assert pq_m or first[0][1] == 1.0
    assert all(r[1] != doomed for r in got)
    # only the re-ingested copy serves: its batch-0 copy stays hidden
    assert [r[1] for r in by_q[revived + 900000]].count(revived) == 1
    assert by_q[revived + 900000][0][1] == revived
    # a zero vector has no cosine (NULL), but an ADC distance
    assert all((r[2] is None) == (pq_m is None) for r in by_q[999999])

    every_route(40)
    # the 19 query vectors fit this cap exactly; their candidates
    # (4 probes · k rows of 24 bytes each) fit it at k=1, not at k=40
    vec_cap = 19 * 8 * 64

    def plan(df):
        return df._jdf.queryExecution().executedPlan().toString()

    assert "FlatMapGroupsInPandas" in plan(serve(queries, cap=vec_cap, k=40))
    assert "FlatMapGroupsInPandas" not in plan(serve(queries, cap=vec_cap, k=1))

    empty = serve(emb.limit(0))
    empty_off = serve(emb.limit(0), cap=0)
    schema = (
        "struct<query_id:bigint,neighbor_id:bigint,dist2:double,rnk:int>"
        if pq_m
        else "struct<query_id:bigint,neighbor_id:bigint,score:double,rank:int>"
    )
    for df in (empty, empty_off):
        assert df.schema.simpleString() == schema and df.count() == 0

    # a stored row with a NULL payload in every cell: the driver read
    # declines, and the serve fails in the Spark pass as at scan cap 0
    pay = "codes" if pq_m else "vec"
    cells = sorted(set(pq.read_table(
        os.path.join(idx, "cells"), columns=["cell"]
    ).column("cell").to_pylist()))
    stored_schema = pq.read_schema(glob.glob(
        os.path.join(idx, "cells", "ingest_batch=0", "*.parquet")
    )[0])
    null_rows = pa.table(
        {"cell": pa.array(cells, pa.int32()),
         "id": pa.array([10**9 + c for c in cells], pa.int64())}
        | {f.name: pa.nulls(len(cells), f.type)
           for f in stored_schema if f.name not in ("cell", "id")}
    )
    os.makedirs(os.path.join(idx, "cells", "ingest_batch=3"))
    pq.write_table(
        null_rows, os.path.join(idx, "cells", "ingest_batch=3", "part-n.parquet")
    )
    assert index_tombstones.live_table(
        idx, "cells", "id", ["cell", "id", pay], cells
    ) is None
    for scan in (index_tombstones._SCAN_DRIVER_MAX_ROWS, 0):
        with pytest.raises(PythonException, match="NULL row"):
            serve(queries, scan=scan)


def test_delete_watermark_skips_empty_batch_dir(spark, tmp_path):
    """An ``ingest_batch=N`` directory with no part file (an aborted
    write) holds no rows, so it must not raise the delete watermark:
    with watermark 99 the tombstone would also cover a later append of
    the deleted id in batch 5, and the re-ingested id would never
    serve again."""
    from batch_process_dpla_index_spark.products.ann_index import (
        ann_query_indexed,
        append_to_ann_index,
        build_ann_index,
        delete_from_ann_index,
    )
    from batch_process_dpla_index_spark.sources.tables import load_table
    from tests.conftest import SF_DIR

    emb = load_table(spark, SF_DIR, "embeddings").select("vec_id", "embedding")
    corpus = emb.orderBy("vec_id").limit(40)
    idx = str(tmp_path / "ann_wm")
    build_ann_index(corpus, "vec_id", "embedding", idx, dim=64, n_cells=4,
                    learned=False)
    os.makedirs(os.path.join(idx, "cells", "ingest_batch=99"))
    victim = corpus.orderBy("vec_id").limit(1)
    vid = victim.first()["vec_id"]
    delete_from_ann_index(spark, idx, [vid], compact_threshold=2.0)
    append_to_ann_index(spark, victim, "vec_id", "embedding", idx,
                        ingest_batch=5)
    twin = victim.select((F.col("vec_id") + 900000).alias("vec_id"), "embedding")
    hit = ann_query_indexed(
        spark, twin, "vec_id", "embedding", idx, k=1, n_probe=4
    ).collect()
    assert [r["neighbor_id"] for r in hit] == [vid]


def test_tombstones_twice_deleted_id_hides_collapsed_rows(spark, tmp_path):
    """The tombstone set is read raw: an id deleted twice, under two
    watermarks, has two rows. The anti-join must hide exactly the rows
    a set collapsed to one max-watermark row per id hides: here the id
    is stored in batches 0, 1 and 2, deleted at watermarks 0 and 1, so
    only its batch-2 copy serves. A replayed delete (the same id at the
    same watermark) changes nothing either."""
    from batch_process_dpla_index_spark.products.ann_index import (
        _live_cells,
        append_to_ann_index,
        build_ann_index,
        delete_from_ann_index,
    )
    from batch_process_dpla_index_spark.products.index_tombstones import (
        apply_tombstones,
    )
    from batch_process_dpla_index_spark.sources.tables import load_table
    from tests.conftest import SF_DIR

    emb = load_table(spark, SF_DIR, "embeddings").select("vec_id", "embedding")
    corpus = emb.orderBy("vec_id").limit(40)
    ids = [r["vec_id"] for r in corpus.select("vec_id").collect()]
    a, b, c = ids[:3]
    idx = str(tmp_path / "ann_twice")
    build_ann_index(corpus, "vec_id", "embedding", idx, dim=64, n_cells=4,
                    learned=False)

    def rows_of(*keep):
        return corpus.filter(F.col("vec_id").isin(list(keep)))

    delete_from_ann_index(spark, idx, [a, c], compact_threshold=2.0)
    delete_from_ann_index(spark, idx, [c], compact_threshold=2.0)  # replay
    append_to_ann_index(spark, rows_of(a, b), "vec_id", "embedding", idx,
                        ingest_batch=1)
    m = delete_from_ann_index(spark, idx, [a, b], compact_threshold=2.0)
    append_to_ann_index(spark, rows_of(a), "vec_id", "embedding", idx,
                        ingest_batch=2)

    stored = spark.read.parquet(os.path.join(idx, "cells"))
    collapsed = (
        spark.read.parquet(os.path.join(idx, "tombstones"))
        .groupBy("t_id").agg(F.max("t_max_batch").alias("t_max_batch"))
    )
    want = stored.join(
        collapsed,
        (stored["id"] == collapsed["t_id"])
        & (stored["ingest_batch"] <= collapsed["t_max_batch"]),
        "left_anti",
    )

    def keys(df):
        return sorted((r["id"], r["ingest_batch"]) for r in df.collect())

    got = keys(apply_tombstones(spark, idx, stored, "id"))
    assert got == keys(want)
    assert [k for k in got if k[0] in (a, b, c)] == [(a, 2)]
    assert int(m["Record count"]) == 40 - 3
    assert keys(_live_cells(spark, idx, read_manifest(idx))) == got


def test_append_record_count_equals_recount(spark, tmp_path):
    """An append that lands above every stored ingest_batch, is not an
    idempotent replay and follows a counted manifest adds the rows its
    write observed to ``Record count``; every other append recounts.
    Either way the count equals a full recount of the live cells:
    above-all batch (with a resurrected id), idempotent replay of it,
    an out-of-order batch holding an id deleted at a later watermark
    (hidden), and an above-all batch after a ``recount=False``
    delete. Both vector indexes append through the same rule."""
    from batch_process_dpla_index_spark.products import ann_index, embedding_index
    from batch_process_dpla_index_spark.sources.tables import load_table
    from tests.conftest import SF_DIR

    emb = load_table(spark, SF_DIR, "embeddings").select("vec_id", "embedding")
    ids = [r["vec_id"] for r in emb.orderBy("vec_id").limit(70).collect()]

    def rows_of(keep):
        return emb.filter(F.col("vec_id").isin(list(keep)))

    kinds = {
        "ann": (
            lambda rows, idx: ann_index.build_ann_index(
                rows, "vec_id", "embedding", idx, dim=64, n_cells=4,
                learned=False,
            ),
            lambda rows, idx, **kw: ann_index.append_to_ann_index(
                spark, rows, "vec_id", "embedding", idx, **kw
            ),
            ann_index.delete_from_ann_index,
            ann_index._live_cells,
        ),
        "embedding": (
            lambda rows, idx: embedding_index.build_embedding_index(
                rows, "vec_id", "embedding", idx, dim=64, n_cells=4
            ),
            lambda rows, idx, **kw: embedding_index.append_to_embedding_index(
                rows, "vec_id", "embedding", idx, **kw
            ),
            embedding_index.delete_from_embedding_index,
            embedding_index._live_stored,
        ),
    }
    for kind, (build, append, delete, live_rows) in kinds.items():
        idx = str(tmp_path / f"{kind}_count")

        def assert_recounted(m):
            assert read_manifest(idx)["Record count"] == m["Record count"]
            live = live_rows(spark, idx, m).count()
            assert int(m["Record count"]) == live, (kind, m["Record count"], live)
            return live

        build(rows_of(ids[:40]), idx)
        delete(spark, idx, ids[:3], compact_threshold=2.0)
        # above every batch; ids[0] was deleted at watermark 0 and serves again
        m = append(rows_of(ids[40:50] + ids[:1]), idx, ingest_batch=2)
        assert assert_recounted(m) == 37 + 11
        # idempotent replay of the same batch replaces it
        m = append(rows_of(ids[40:50] + ids[:1]), idx, ingest_batch=2,
                   idempotent=True)
        assert assert_recounted(m) == 37 + 11
        # ids[45] deleted at watermark 2, then re-appended in batch 1: hidden
        delete(spark, idx, ids[45:46], compact_threshold=2.0)
        m = append(rows_of(ids[50:60] + ids[45:46]), idx, ingest_batch=1)
        assert assert_recounted(m) == 47 + 10
        delete(spark, idx, ids[50:52], compact_threshold=2.0, recount=False)
        m = append(rows_of(ids[60:70]), idx, ingest_batch=3)
        assert assert_recounted(m) == 57 - 2 + 10
        assert "Record count stale" not in m


def test_parquet_rowcount_skips_hidden_paths(tmp_path):
    """A crashed write leaves ``_temporary/.../part-*.parquet`` under
    the dataset; Spark's reader never sees it, so the footer count must
    not count it either (nor ``.``-prefixed files)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from batch_process_dpla_index_spark.products.index_tombstones import (
        parquet_rowcount,
    )

    ds = tmp_path / "cells"
    part = ds / "ingest_batch=0"
    part.mkdir(parents=True)
    pq.write_table(pa.table({"id": [1, 2, 3]}), str(part / "part-0.parquet"))
    assert parquet_rowcount(str(ds)) == 3
    crashed = ds / "_temporary" / "0" / "_temporary" / "attempt_0"
    crashed.mkdir(parents=True)
    pq.write_table(pa.table({"id": [4, 5]}), str(crashed / "part-1.parquet"))
    pq.write_table(pa.table({"id": [6]}), str(part / ".part-2.parquet"))
    assert parquet_rowcount(str(ds)) == 3


def test_ann_serve_job_count(spark, tmp_path):
    """A warm serve of a client-built query batch runs NO job: the
    centroids and the probed live cells are read on the driver
    (`index_tombstones.live_table`), scored there and merged there, and
    the served local frame's collect runs nothing. A plain-list delete
    writes its tombstones and recounts on the driver too, and a
    tombstoned serve hides the deleted rows on the driver.

    At scan cap 0 the cells take the Spark pass: a serve runs ONE job,
    the candidate pass (the cells read takes the manifest's schema, so
    no schema-inference job); with tombstones the anti-join adds only
    the broadcast of the raw tombstone set, so at most two; and the
    delete's recount is the anti-join count, 3 jobs."""
    from batch_process_dpla_index_spark.products import index_tombstones
    from batch_process_dpla_index_spark.products.ann_index import (
        ann_query_indexed,
        build_ann_index,
        delete_from_ann_index,
    )
    from batch_process_dpla_index_spark.sources.tables import load_table
    from tests.conftest import SF_DIR

    emb = load_table(spark, SF_DIR, "embeddings").select("vec_id", "embedding")
    idx = str(tmp_path / "ann_jobs")
    build_ann_index(emb, "vec_id", "embedding", idx, dim=64, n_cells=16,
                    kmeans_iters=2)
    # a local (Arrow) frame, as a serving client builds its batch
    queries = spark.createDataFrame(emb.orderBy("vec_id").limit(25).toPandas())

    def serve():
        return ann_query_indexed(
            spark, queries, "vec_id", "embedding", idx, k=5, n_probe=4
        ).collect()

    def serve_jobs(group):
        assert len(serve()) == 25 * 5  # warm
        return _count_jobs(spark, group, serve)

    def delete_jobs(group, ids):
        return _count_jobs(spark, group, lambda: delete_from_ann_index(
            spark, idx, ids, compact_threshold=2.0
        ))

    def scan_off(jobs, *args):
        with pytest.MonkeyPatch.context() as mp:
            mp.setattr(index_tombstones, "_SCAN_DRIVER_MAX_ROWS", 0)
            return jobs(*args)

    assert serve_jobs("test-ann-serve") == 0
    assert scan_off(serve_jobs, "test-ann-serve-scan-off") == 1
    # takedowns of ids the batch does not hold, then one of them again:
    # a repeated id. A plain id list lands as one part file written on
    # the driver, so at scan cap 0 the delete runs only the recount
    assert delete_jobs("test-ann-delete", [10**9, 10**9 + 1]) == 0
    assert scan_off(delete_jobs, "test-ann-delete-scan-off", [10**9 + 2]) == 3
    delete_from_ann_index(spark, idx, [10**9], compact_threshold=2.0)
    assert serve_jobs("test-ann-serve-tombstoned") == 0
    assert scan_off(serve_jobs, "test-ann-serve-tombstoned-scan-off") <= 2


def test_driver_read_bounds_rows_scanned(spark, tmp_path, monkeypatch):
    """The driver read's cap bounds the stored rows it SCANS, not the
    rows the probed cells keep. Cells are written hash-clustered, so
    every row group spans most cells: with 64 cells and one probe per
    query, the probed rows fit the cap while the index does not, and
    the read declines from the footers, before any data page is read;
    the serve then takes the ``mapInArrow`` pass, with the same rows."""
    import numpy as np
    import pyarrow.dataset as pads

    from batch_process_dpla_index_spark.products import index_tombstones
    from batch_process_dpla_index_spark.products.ann_index import (
        ann_query_indexed,
        build_ann_index,
    )

    rng = np.random.default_rng(7)
    vecs = spark.createDataFrame(
        [(i, rng.standard_normal(8).tolist()) for i in range(640)],
        "vec_id bigint, embedding array<double>",
    )
    idx = str(tmp_path / "ann_many_cells")
    build_ann_index(vecs, "vec_id", "embedding", idx, dim=8, n_cells=64,
                    learned=False)
    cells_df = spark.read.parquet(os.path.join(idx, "cells"))
    probed = sorted(r[0] for r in cells_df.select("cell").distinct().limit(3).collect())
    n_probed = cells_df.where(F.col("cell").isin(probed)).count()
    assert n_probed < 320 < 640

    opened = []
    real_dataset = pads.FileSystemDataset

    def recording_dataset(*args, **kwargs):
        opened.append(args)
        return real_dataset(*args, **kwargs)

    monkeypatch.setattr(pads, "FileSystemDataset", recording_dataset)
    monkeypatch.setattr(index_tombstones, "_SCAN_DRIVER_MAX_ROWS", 320)
    assert index_tombstones.live_table(
        idx, "cells", "id", ["cell", "id", "vec"], probed
    ) is None
    assert opened == []  # declined on footer counts alone
    monkeypatch.setattr(index_tombstones, "_SCAN_DRIVER_MAX_ROWS", 640)
    table = index_tombstones.live_table(
        idx, "cells", "id", ["cell", "id", "vec"], probed
    )
    assert table.num_rows == n_probed and opened

    queries = spark.createDataFrame(vecs.limit(3).toPandas())

    def serve():
        return _serve_rows(ann_query_indexed(
            spark, queries, "vec_id", "embedding", idx, k=5, n_probe=1
        ))

    driver = serve()
    monkeypatch.setattr(index_tombstones, "_SCAN_DRIVER_MAX_ROWS", 320)
    assert serve() == driver
    assert _count_jobs(spark, "test-ann-serve-over-scan-cap", serve) == 1


def test_scan_groups_skips_row_groups_by_cell_statistics(tmp_path):
    """A row group whose ``cell`` min/max holds no probed cell is not
    scanned and not counted against the cap; one with no statistics
    is."""
    import pyarrow as pa
    import pyarrow.dataset as pads
    import pyarrow.parquet as pq

    from batch_process_dpla_index_spark.products.index_tombstones import (
        _bounded_scan,
        _scan_groups,
    )

    # cells 0..63, ten rows each, sorted: row groups of 100 rows hold
    # cells 10g..10g+9
    cell = pa.array([c for c in range(64) for _ in range(10)], pa.int32())
    table = pa.table({"cell": cell, "id": pa.array(range(640), pa.int64())})
    pq.write_table(table, str(tmp_path / "sorted.parquet"), row_group_size=100)
    pq.write_table(table.slice(0, 100), str(tmp_path / "nostats.parquet"),
                   write_statistics=False)
    sorted_only = pads.dataset(str(tmp_path / "sorted.parquet"))

    def scanned(dataset, cap, cells):
        groups = _scan_groups(dataset, cap, cells)
        return None if groups is None else sum(
            g.row_groups[0].num_rows for g in groups
        )

    assert scanned(sorted_only, 10**6, None) == 640
    assert scanned(sorted_only, 10**6, [5, 40]) == 200
    assert scanned(sorted_only, 10**6, [9, 10]) == 200
    assert scanned(sorted_only, 10**6, [63]) == 40
    assert scanned(sorted_only, 10**6, [64, 99]) == 0
    assert scanned(sorted_only, 199, [5, 40]) is None
    assert _bounded_scan(sorted_only, ["id"], 200, [5, 40]).num_rows == 20
    both = pads.dataset(str(tmp_path), format="parquet")
    assert scanned(both, 10**6, [63]) == 140


def test_plain_list_delete_empty_and_repeated_ids(spark, tmp_path):
    """A plain id list is appended as one driver-written part file:
    an empty list changes neither the counts nor the serve, and a
    repeated id tombstones once, as the Spark-written append did."""
    from batch_process_dpla_index_spark.products.ann_index import (
        ann_query_indexed,
        build_ann_index,
        delete_from_ann_index,
    )
    from batch_process_dpla_index_spark.sources.tables import load_table
    from tests.conftest import SF_DIR

    emb = spark.createDataFrame(
        load_table(spark, SF_DIR, "embeddings")
        .select("vec_id", "embedding").orderBy("vec_id").limit(40).toPandas()
    )
    ids = [r["vec_id"] for r in emb.collect()]
    idx = str(tmp_path / "plain_delete")
    build_ann_index(emb, "vec_id", "embedding", idx, dim=64, n_cells=4,
                    learned=False)

    def serve():
        return sorted(map(tuple, ann_query_indexed(
            spark, emb.limit(5), "vec_id", "embedding", idx, k=5, n_probe=4
        ).collect()))

    def counts(m):
        return m["Record count"], m["Tombstone count"]

    before = serve()
    assert counts(delete_from_ann_index(spark, idx, [], compact_threshold=2.0)) == ("40", "0")
    assert serve() == before
    victim = ids[-1]
    m = delete_from_ann_index(spark, idx, [victim, victim], compact_threshold=2.0)
    assert counts(m) == ("39", "1")
    assert not any(victim == r[1] for r in serve())
    assert counts(read_manifest(idx)) == ("39", "1")


def _count_jobs(spark, group, action):
    """Run ``action`` under job group ``group``; the jobs it started."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        action()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_ann_index_action_job_counts(spark, tmp_path):
    """Traced jobs per ANN index action on 500 vectors. The model files
    (centroids, the two-level model) are written on the driver, so a
    build runs no job for them, and a rebuild none for its staged
    copies; compaction is the staged write and its anti-join."""
    from batch_process_dpla_index_spark.products.ann_index import (
        build_ann_index,
        compact_ann_index,
        delete_from_ann_index,
        rebuild_ann_index,
    )
    from batch_process_dpla_index_spark.sources.tables import load_table
    from tests.conftest import SF_DIR

    emb = (
        load_table(spark, SF_DIR, "embeddings")
        .select("vec_id", "embedding")
        .orderBy("vec_id")
        .limit(500)
    )
    counts = {}
    for learned, name in ((True, "flat"), ("two-level", "two-level")):
        idx = str(tmp_path / name)
        counts[f"build {name}"] = _count_jobs(
            spark, f"test-build-{name}", lambda: build_ann_index(
                emb, "vec_id", "embedding", idx, dim=64, n_cells=16,
                learned=learned, kmeans_iters=2,
            )
        )
        counts[f"rebuild {name}"] = _count_jobs(
            spark, f"test-rebuild-{name}",
            lambda: rebuild_ann_index(spark, idx, n_cells=16, kmeans_iters=2),
        )
        delete_from_ann_index(spark, idx, list(range(1, 41)),
                              compact_threshold=2.0)
        counts[f"compact {name}"] = _count_jobs(
            spark, f"test-compact-{name}", lambda: compact_ann_index(spark, idx)
        )
    assert counts == {
        "build flat": 3, "rebuild flat": 7, "compact flat": 3,
        "build two-level": 3, "rebuild two-level": 7, "compact two-level": 3,
    }


def test_ann_cells_schema_tracks_every_write(spark, tmp_path):
    """Build, append, compaction and rebuild record the cells dataset's
    schema in the manifest (``cells_schema``), equal to what a read
    would infer; the vector type and the PQ codes make it differ
    between indexes with the same other keys. An index whose manifest
    lacks the key (written before it existed) still serves the same
    rows by inferring, and its next append records the key."""
    from batch_process_dpla_index_spark.io.manifest import write_manifest
    from batch_process_dpla_index_spark.products.ann_index import (
        ann_query_indexed,
        append_to_ann_index,
        build_ann_index,
        delete_from_ann_index,
        rebuild_ann_index,
    )
    from batch_process_dpla_index_spark.sources.tables import load_table
    from tests.conftest import SF_DIR

    emb = load_table(spark, SF_DIR, "embeddings").select("vec_id", "embedding")
    corpus = emb.filter(F.col("vec_id") % 5 != 0)

    def assert_recorded(idx):
        return _recorded_cells_schema(spark, idx)

    flat = str(tmp_path / "flat")
    build_ann_index(corpus, "vec_id", "embedding", flat, dim=64, n_cells=8,
                    learned=False)
    flat_ddl = assert_recorded(flat)
    pq = str(tmp_path / "pq")
    build_ann_index(
        corpus.select("vec_id", F.col("embedding").cast("array<double>").alias("embedding")),
        "vec_id", "embedding", pq, dim=64, n_cells=8, learned=False,
        pq_m=4, pq_k=4, pq_iters=1,
    )
    assert assert_recorded(pq) != flat_ddl

    append_to_ann_index(spark, emb.filter(F.col("vec_id") % 5 == 0),
                        "vec_id", "embedding", flat, ingest_batch=1)
    assert assert_recorded(flat) == flat_ddl
    delete_from_ann_index(spark, flat, [1, 2, 3], compact_threshold=0.0)
    assert read_manifest(flat)["Tombstone count"] == "0"  # compacted
    assert assert_recorded(flat) == flat_ddl
    rebuild_ann_index(spark, flat, n_cells=4, kmeans_iters=1)
    assert assert_recorded(flat) == flat_ddl

    queries = emb.orderBy("vec_id").limit(8)
    keyed = _serve_rows(ann_query_indexed(
        spark, queries, "vec_id", "embedding", flat, k=3, n_probe=2
    ))
    manifest = read_manifest(flat)
    del manifest["cells_schema"]
    write_manifest(manifest, flat)
    assert _serve_rows(ann_query_indexed(
        spark, queries, "vec_id", "embedding", flat, k=3, n_probe=2
    )) == keyed and len(keyed) == 8 * 3
    append_to_ann_index(spark, emb.filter(F.col("vec_id") == 5),
                        "vec_id", "embedding", flat, ingest_batch=2)
    assert assert_recorded(flat) == flat_ddl


def test_embedding_index_rebuild_lifecycle(spark, tmp_path, capsys):
    """The rebuild path the build-time n_cells pin defers to
    (embedding_index.py module docstring): build undersized → ingest
    past the design point → the occupancy report FLAGS it → rebuild
    resizes the geometry with every ingest_batch partition preserved →
    the full-probe dedup verdicts are IDENTICAL before and after
    (full probe is exact under any cell geometry). Driven through the
    CLI surface for report/rebuild."""
    from batch_process_dpla_index_spark import jobs
    from batch_process_dpla_index_spark.io.manifest import read_manifest
    from batch_process_dpla_index_spark.operators.dedup import unpersist_deps
    from batch_process_dpla_index_spark.products.embedding_index import (
        append_to_embedding_index,
        build_embedding_index,
        embedding_index_occupancy,
        incremental_embedding_dedup_indexed,
        rebuild_embedding_index,
    )
    from batch_process_dpla_index_spark.sources.tables import load_table
    from tests.conftest import SF_DIR

    emb = load_table(spark, SF_DIR, "embeddings").select("vec_id", "embedding")
    corpus = emb.filter(F.col("vec_id") % 10 < 6)
    batch1 = emb.filter(F.col("vec_id") % 10 == 7)
    probe = emb.filter(F.col("vec_id") % 10 == 9).unionByName(
        corpus.orderBy("vec_id").limit(10).select(
            (F.col("vec_id") + 500000).alias("vec_id"),
            F.transform(
                "embedding", lambda x: (x * F.lit(1.5)).cast("float")
            ).alias("embedding"),
        )
    )

    idx = str(tmp_path / "embidx")
    # deliberately undersized: 2 cells for a few hundred vectors
    build_embedding_index(corpus, "vec_id", "embedding", idx, dim=64, n_cells=2)
    # every writer records the cells schema, so reads infer nothing
    ddl = _recorded_cells_schema(spark, idx)
    append_to_embedding_index(batch1, "vec_id", "embedding", idx, ingest_batch=1)
    assert _recorded_cells_schema(spark, idx) == ddl
    rep = embedding_index_occupancy(spark, idx, design_point=64)
    assert rep["needs_rebuild"] == "True"
    assert int(rep["n_vecs"]) == corpus.count() + batch1.count()

    def full_probe_verdicts(n_cells: int):
        out = incremental_embedding_dedup_indexed(
            spark, probe, "vec_id", "embedding", idx,
            threshold=0.99, n_probe=n_cells,
        )
        rows = sorted(
            (r["id"], r["n_matches"], r["is_new"], r["best_match_id"],
             r["best_score"])
            for r in out.collect()
        )
        unpersist_deps(out)
        return rows

    before = full_probe_verdicts(2)
    assert any(not r[2] for r in before), "scaled copies must match"

    # CLI report then rebuild back to the design point
    assert jobs.main(["embedding-index", "report", idx]) == 0
    assert "needs_rebuild=True" in capsys.readouterr().out
    assert jobs.main(["embedding-index", "rebuild", idx]) == 0
    manifest = read_manifest(idx)
    assert manifest["rebuilt_from"] == "2"
    assert _recorded_cells_schema(spark, idx) == ddl
    n_cells_new = int(manifest["n_cells"])
    assert n_cells_new >= 4  # resized toward the design point
    rep2 = embedding_index_occupancy(spark, idx, design_point=64)
    assert rep2["needs_rebuild"] == "False"
    assert rep2["n_vecs"] == rep["n_vecs"]
    # ingest_batch partitions preserved row-for-row (replay pruning
    # stays valid)
    stored = spark.read.parquet(idx + "/cells")
    per_batch = {
        r["ingest_batch"]: r["n"]
        for r in stored.groupBy("ingest_batch").agg(
            F.count("*").alias("n")
        ).collect()
    }
    assert per_batch == {0: corpus.count(), 1: batch1.count()}

    after = full_probe_verdicts(n_cells_new)
    assert after == before


def test_embedding_index_rebuild_duplicate_ids_across_batches(spark, tmp_path):
    """Rebuild must not fan out when the same vector id exists in more
    than one ingest_batch partition (append never enforces id
    uniqueness across batches — re-ingesting an id in a later batch is
    the natural update flow). The ingest_batch re-attach joins on a
    row-unique surrogate key, NOT c_id; a c_id join would square the
    duplicated rows (n copies → n² rows) while the manifest count was
    stamped pre-join, silently inflating AND miscounting the dataset."""
    from batch_process_dpla_index_spark.products.embedding_index import (
        append_to_embedding_index,
        build_embedding_index,
        rebuild_embedding_index,
    )
    from batch_process_dpla_index_spark.sources.tables import load_table
    from tests.conftest import SF_DIR

    emb = load_table(spark, SF_DIR, "embeddings").select("vec_id", "embedding")
    corpus = emb.orderBy("vec_id").limit(40)
    idx = str(tmp_path / "dupidx")
    build_embedding_index(corpus, "vec_id", "embedding", idx, dim=64, n_cells=2)
    # re-ingest 10 of the SAME ids (the update flow) plus 10 fresh ones
    update = corpus.limit(10).unionByName(
        corpus.select((F.col("vec_id") + 777000).alias("vec_id"), "embedding")
        .limit(10)
    )
    append_to_embedding_index(update, "vec_id", "embedding", idx, ingest_batch=1)
    stored = spark.read.parquet(idx + "/cells")
    n_before = stored.count()
    assert n_before == 60  # 40 build + 20 appended (10 duplicate ids)

    manifest = rebuild_embedding_index(spark, idx, n_cells=4)
    rebuilt = spark.read.parquet(idx + "/cells")
    # row-for-row: no fan-out, per-batch counts preserved, manifest true
    assert rebuilt.count() == n_before
    assert int(manifest["Record count"]) == n_before
    per_batch = {
        r["ingest_batch"]: r["n"]
        for r in rebuilt.groupBy("ingest_batch").agg(
            F.count("*").alias("n")
        ).collect()
    }
    assert per_batch == {0: 40, 1: 20}
    # the duplicated ids kept BOTH copies, one per batch
    dup_rows = rebuilt.groupBy("c_id").count().filter("count > 1")
    assert dup_rows.count() == 10


def test_rebuild_refuses_fully_tombstoned_index(spark, tmp_path):
    """Rebuilding an index whose every row is tombstoned must refuse
    BEFORE the destructive swap (review r13): the swap would install an
    unreadable empty cells dataset and then delete the only remaining
    copy — permanent data loss on exactly the path compact's own
    refusal used to point at. Both index products share the guard."""
    import pytest

    from batch_process_dpla_index_spark.products.ann_index import (
        build_ann_index,
        delete_from_ann_index,
        rebuild_ann_index,
    )
    from batch_process_dpla_index_spark.products.embedding_index import (
        build_embedding_index,
        delete_from_embedding_index,
        rebuild_embedding_index,
    )
    from batch_process_dpla_index_spark.sources.tables import load_table
    from tests.conftest import SF_DIR

    emb = load_table(spark, SF_DIR, "embeddings").select("vec_id", "embedding")
    corpus = emb.orderBy("vec_id").limit(40)
    all_ids = [r["vec_id"] for r in corpus.select("vec_id").collect()]

    idx_a = str(tmp_path / "ann_all_dead")
    build_ann_index(corpus, "vec_id", "embedding", idx_a, dim=64,
                    n_cells=4, learned=False)
    delete_from_ann_index(spark, idx_a, all_ids, compact_threshold=2.0)
    with pytest.raises(ValueError, match="empty index"):
        rebuild_ann_index(spark, idx_a)
    # the cells dataset survived the refusal (nothing was swapped)
    assert spark.read.parquet(f"{idx_a}/cells").count() == 40

    idx_e = str(tmp_path / "emb_all_dead")
    build_embedding_index(corpus, "vec_id", "embedding", idx_e, dim=64,
                          n_cells=4)
    delete_from_embedding_index(spark, idx_e, all_ids, compact_threshold=2.0)
    with pytest.raises(ValueError, match="empty index"):
        rebuild_embedding_index(spark, idx_e)
    assert spark.read.parquet(f"{idx_e}/cells").count() == 40


def test_delete_recount_false_is_id_proportional(spark, tmp_path):
    """recount=False (review r13): the delete appends tombstones and
    returns without any corpus-proportional count job; the manifest
    marks the count stale, the serve path still excludes the ids, and
    a later counted delete or compaction restores exact counts."""
    from batch_process_dpla_index_spark.io.manifest import read_manifest
    from batch_process_dpla_index_spark.products.ann_index import (
        ann_query_indexed,
        build_ann_index,
        compact_ann_index,
    )
    from batch_process_dpla_index_spark.products.index_tombstones import (
        delete_from_index,
    )
    from batch_process_dpla_index_spark.sources.tables import load_table
    from tests.conftest import SF_DIR

    emb = load_table(spark, SF_DIR, "embeddings").select("vec_id", "embedding")
    corpus = emb.orderBy("vec_id").limit(60)
    queries = emb.orderBy("vec_id").limit(5)
    idx = str(tmp_path / "ann_nocount")
    build_ann_index(corpus, "vec_id", "embedding", idx, dim=64,
                    n_cells=4, learned=False)
    n0 = int(read_manifest(idx)["Record count"])

    served = ann_query_indexed(
        spark, queries, "vec_id", "embedding", idx, k=3, n_probe=4
    )
    doomed = sorted({r["neighbor_id"] for r in served.collect()})[:3]
    m = delete_from_index(spark, idx, doomed, "id", recount=False)
    assert m["Tombstone count"] == "stale"
    assert m["Record count"] == str(n0)  # untouched, documented stale
    after = {r["neighbor_id"] for r in ann_query_indexed(
        spark, queries, "vec_id", "embedding", idx, k=3, n_probe=4
    ).collect()}
    assert after.isdisjoint(doomed)
    # compaction restores exact bookkeeping
    m2 = compact_ann_index(spark, idx)
    assert int(m2["Record count"]) == n0 - len(doomed)
    assert m2["Tombstone count"] == "0"


def test_ann_index_delete_tombstone_lifecycle(spark, tmp_path, capsys):
    """Takedown path (VERDICT r12 #2): delete tombstones ids without a
    cell rewrite; every serve route (IVF query, PQ/ADC query, recall
    truth) excludes them; at FULL probe the served results equal a
    from-scratch index built without the deleted ids (full probe is
    exact search, so geometry differences don't matter); compaction
    physically removes the rows and clears the set with serve results
    unchanged; append-after-delete resurrects (the watermark makes a
    later re-ingest new data)."""
    from batch_process_dpla_index_spark import jobs
    from batch_process_dpla_index_spark.io.manifest import read_manifest
    from batch_process_dpla_index_spark.products.ann_index import (
        ann_query_indexed,
        append_to_ann_index,
        build_ann_index,
        delete_from_ann_index,
        pq_query_indexed,
    )
    from batch_process_dpla_index_spark.sources.tables import load_table
    from tests.conftest import SF_DIR

    emb = load_table(spark, SF_DIR, "embeddings").select("vec_id", "embedding")
    corpus = emb.orderBy("vec_id").limit(120)
    queries = emb.orderBy("vec_id").limit(10)

    idx = str(tmp_path / "annd")
    build_ann_index(corpus, "vec_id", "embedding", idx, dim=64, n_cells=8,
                    kmeans_iters=2, pq_m=8)
    n0 = int(read_manifest(idx)["Record count"])

    def serve(index_dir):
        return sorted(map(tuple, ann_query_indexed(
            spark, queries, "vec_id", "embedding", index_dir, k=3, n_probe=8
        ).collect()))

    before = serve(idx)
    # tombstone 5 ids the pre-delete serve actually RETURNED, so their
    # disappearance below is a real served-result change (the top-k
    # excludes self-matches, so small ids need not be neighbors)
    doomed = sorted({t[1] for t in before})[:5]
    assert len(doomed) == 5

    # delete via CLI, threshold deferred so this stays tombstone-only
    ids_path = str(tmp_path / "doomed")
    corpus.filter(F.col("vec_id").isin(doomed)).select("vec_id")\
        .write.parquet(ids_path)
    assert jobs.main(["ann-index", "delete", ids_path, idx,
                      "--compact-threshold", "2.0"]) == 0
    assert "Tombstoned 5 ids" in capsys.readouterr().out
    m = read_manifest(idx)
    assert int(m["Record count"]) == n0 - 5 and m["Tombstone count"] == "5"
    assert (tmp_path / "annd" / "tombstones").is_dir()

    # full-probe serve now equals a from-scratch index WITHOUT the ids
    idx_truth = str(tmp_path / "ann_truth")
    build_ann_index(corpus.filter(~F.col("vec_id").isin(doomed)),
                    "vec_id", "embedding", idx_truth, dim=64, n_cells=8,
                    kmeans_iters=2)
    after = serve(idx)
    assert after == serve(idx_truth)
    assert not any(t[1] in doomed for t in after)
    # the PQ/ADC route excludes them too
    pq_neighbors = {
        r["neighbor_id"] for r in pq_query_indexed(
            spark, queries, "vec_id", "embedding", idx, k=3, n_probe=8
        ).collect()
    }
    assert not pq_neighbors & set(doomed)
    # recall on SURVIVOR queries at full probe: truth reads live cells,
    # so the report grades against the post-delete corpus — exactly 1.0
    from batch_process_dpla_index_spark.products.ann_index import (
        ann_recall_indexed,
    )

    surv = queries.filter(~F.col("vec_id").isin(doomed))
    rep = ann_recall_indexed(
        spark, surv, "vec_id", "embedding", idx, k=3, n_probe=8
    ).collect()
    assert rep and all(r.recall_at_k == 1.0 for r in rep)

    # append-after-delete resurrects: a later batch re-ingests one id
    # (its ingest_batch is ABOVE the delete watermark, so the anti-join
    # passes it through) — an exact-twin probe (shifted id, the top-k
    # excludes only SELF-id matches) must now find it at rank 1
    resurrect = corpus.filter(F.col("vec_id") == doomed[0])
    append_to_ann_index(spark, resurrect, "vec_id", "embedding", idx,
                        ingest_batch=1)
    m = read_manifest(idx)
    assert int(m["Record count"]) == n0 - 4  # 5 deleted, 1 re-ingested
    twin = resurrect.select(
        (F.col("vec_id") + 900000).alias("vec_id"), "embedding"
    )
    self_hit = ann_query_indexed(
        spark, twin, "vec_id", "embedding", idx, k=1, n_probe=8
    ).collect()
    assert [r["neighbor_id"] for r in self_hit] == [doomed[0]]

    # forced compaction: physical removal, set cleared, serve unchanged
    pre_compact = serve(idx)
    assert jobs.main(["ann-index", "compact", idx]) == 0
    assert "Compacted tombstones" in capsys.readouterr().out
    assert not (tmp_path / "annd" / "tombstones").exists()
    m = read_manifest(idx)
    assert int(m["Record count"]) == n0 - 4 and m["Tombstone count"] == "0"
    stored_ids = [
        r["id"] for r in spark.read.parquet(idx + "/cells")
        .filter(F.col("id").isin(doomed)).collect()
    ]
    assert stored_ids == [doomed[0]]  # only the resurrected copy remains
    assert serve(idx) == pre_compact


def test_ann_index_delete_auto_compacts_past_threshold(spark, tmp_path):
    """delete_from_ann_index compacts in the same call once the
    tombstoned fraction reaches the threshold — no separate vacuum
    step needed for a mass takedown."""
    from batch_process_dpla_index_spark.io.manifest import read_manifest
    from batch_process_dpla_index_spark.products.ann_index import (
        build_ann_index,
        delete_from_ann_index,
    )
    from batch_process_dpla_index_spark.sources.tables import load_table
    from tests.conftest import SF_DIR

    emb = load_table(spark, SF_DIR, "embeddings").select("vec_id", "embedding")
    corpus = emb.orderBy("vec_id").limit(50)
    idx = str(tmp_path / "annac")
    build_ann_index(corpus, "vec_id", "embedding", idx, dim=64, n_cells=4,
                    kmeans_iters=1)
    doomed = [int(r["vec_id"]) for r in corpus.limit(20).collect()]
    m = delete_from_ann_index(spark, idx, doomed, compact_threshold=0.2)
    # 40% tombstoned >= 20% threshold: compacted in the same call
    assert m["Tombstone count"] == "0"
    assert int(m["Record count"]) == 30
    assert not (tmp_path / "annac" / "tombstones").exists()
    assert spark.read.parquet(idx + "/cells").count() == 30
    assert int(read_manifest(idx)["Record count"]) == 30


def test_embedding_index_delete_tombstone_lifecycle(spark, tmp_path, capsys):
    """The embedding (dedup) index's takedown path: deleted vectors
    stop matching incoming probes (an exact twin of a deleted vector
    reports is_new), occupancy counts live rows only, rebuild
    physically drops tombstoned rows and clears the set, and the
    verdicts equal a from-scratch index built without the deleted
    ids."""
    from batch_process_dpla_index_spark import jobs
    from batch_process_dpla_index_spark.io.manifest import read_manifest
    from batch_process_dpla_index_spark.operators.dedup import unpersist_deps
    from batch_process_dpla_index_spark.products.embedding_index import (
        append_to_embedding_index,
        build_embedding_index,
        embedding_index_occupancy,
        incremental_embedding_dedup_indexed,
    )
    from batch_process_dpla_index_spark.sources.tables import load_table
    from tests.conftest import SF_DIR

    emb = load_table(spark, SF_DIR, "embeddings").select("vec_id", "embedding")
    corpus = emb.orderBy("vec_id").limit(80)
    batch1 = emb.orderBy(F.col("vec_id").desc()).limit(20)
    idx = str(tmp_path / "embd")
    build_embedding_index(corpus, "vec_id", "embedding", idx, dim=64, n_cells=4)
    append_to_embedding_index(batch1, "vec_id", "embedding", idx, ingest_batch=1)

    # probes = exact twins (shifted ids) of 3 build rows + 2 appended rows
    doomed_build = [int(r["vec_id"]) for r in corpus.limit(3).collect()]
    doomed_app = [int(r["vec_id"]) for r in batch1.limit(2).collect()]
    doomed = doomed_build + doomed_app
    probes = emb.filter(F.col("vec_id").isin(doomed)).select(
        (F.col("vec_id") + 600000).alias("vec_id"), "embedding"
    )

    def verdicts(index_dir):
        out = incremental_embedding_dedup_indexed(
            spark, probes, "vec_id", "embedding", index_dir,
            threshold=0.99, n_probe=4,
        )
        rows = sorted((r["id"], r["is_new"]) for r in out.collect())
        unpersist_deps(out)
        return rows

    assert all(not isnew for _, isnew in verdicts(idx))  # twins match

    ids_path = str(tmp_path / "embdel")
    emb.filter(F.col("vec_id").isin(doomed)).select("vec_id")\
        .write.parquet(ids_path)
    assert jobs.main(["embedding-index", "delete", idx,
                      "--ids-parquet", ids_path,
                      "--compact-threshold", "2.0"]) == 0
    assert "Tombstoned 5 ids" in capsys.readouterr().out

    # deleted vectors no longer match; equal to a from-scratch index
    # built without them
    after = verdicts(idx)
    assert all(isnew for _, isnew in after)
    idx_truth = str(tmp_path / "embd_truth")
    build_embedding_index(
        corpus.unionByName(batch1).filter(~F.col("vec_id").isin(doomed)),
        "vec_id", "embedding", idx_truth, dim=64, n_cells=4,
    )
    assert after == verdicts(idx_truth)
    # occupancy counts live rows only
    rep = embedding_index_occupancy(spark, idx)
    assert int(rep["n_vecs"]) == 95

    # rebuild physically removes tombstoned rows and clears the set
    assert jobs.main(["embedding-index", "rebuild", idx, "--cells", "4"]) == 0
    assert not (tmp_path / "embd" / "tombstones").exists()
    m = read_manifest(idx)
    assert int(m["Record count"]) == 95 and m["Tombstone count"] == "0"
    _recorded_cells_schema(spark, idx)
    stored = spark.read.parquet(idx + "/cells")
    assert stored.filter(F.col("c_id").isin(doomed)).count() == 0
    per_batch = {
        r["ingest_batch"]: r["n"]
        for r in stored.groupBy("ingest_batch")
        .agg(F.count("*").alias("n")).collect()
    }
    assert per_batch == {0: 77, 1: 18}
    assert verdicts(idx) == after


def test_ann_index_rebuild_lifecycle(spark, tmp_path, capsys):
    """VERDICT r12 #3: the rebuild + occupancy lifecycle the embedding
    index got in r12, now on the ANN index — build a two-level index
    undersized, append past the design point, the occupancy report
    FLAGS it, rebuild re-fits the two-level model (new k_f persisted,
    coarse/fine re-written, ingest_batch partitions preserved), and
    the IMI serve at FULL probe is identical before and after (full
    probe is exact search under any geometry). PQ codes survive the
    rebuild untouched (they encode vectors, not cells)."""
    from batch_process_dpla_index_spark import jobs
    from batch_process_dpla_index_spark.io.manifest import read_manifest
    from batch_process_dpla_index_spark.products.ann_index import (
        ann_index_occupancy,
        ann_query_indexed,
        append_to_ann_index,
        build_ann_index,
        rebuild_ann_index,
    )
    from batch_process_dpla_index_spark.sources.tables import load_table
    from tests.conftest import SF_DIR

    emb = load_table(spark, SF_DIR, "embeddings").select("vec_id", "embedding")
    corpus = emb.filter(F.col("vec_id") % 10 < 6)
    batch1 = emb.filter(F.col("vec_id") % 10 == 7)
    queries = emb.orderBy("vec_id").limit(10)

    idx = str(tmp_path / "annrb")
    # deliberately undersized: 4 cells for a few hundred vectors
    build_ann_index(corpus, "vec_id", "embedding", idx, dim=64, n_cells=4,
                    learned="two-level", kmeans_iters=2)
    append_to_ann_index(spark, batch1, "vec_id", "embedding", idx,
                        ingest_batch=1)
    n_total = corpus.count() + batch1.count()

    assert jobs.main(["ann-index", "report", idx,
                      "--design-point", "32"]) == 0
    assert "needs_rebuild=True" in capsys.readouterr().out
    rep = ann_index_occupancy(spark, idx, design_point=32)
    assert int(rep["n_vecs"]) == n_total

    def serve(n_probe):
        return sorted(map(tuple, ann_query_indexed(
            spark, queries, "vec_id", "embedding", idx,
            k=3, n_probe=n_probe,
        ).collect()))

    n_cells_old = int(read_manifest(idx)["n_cells"])
    before = serve(n_cells_old)

    assert jobs.main(["ann-index", "rebuild", idx]) == 0
    assert "Rebuilt" in capsys.readouterr().out
    m = read_manifest(idx)
    assert m["rebuilt_from"] == str(n_cells_old)
    n_cells_new = int(m["n_cells"])
    assert n_cells_new > n_cells_old  # resized toward the design point
    assert m["quantizer"] == "kmeans-two-level" and "k_f" in m
    assert int(m["Record count"]) == n_total
    rep2 = ann_index_occupancy(spark, idx, design_point=32)
    assert rep2["needs_rebuild"] == "False"
    # ingest_batch partitions preserved row-for-row
    per_batch = {
        r["ingest_batch"]: r["n"]
        for r in spark.read.parquet(idx + "/cells")
        .groupBy("ingest_batch").agg(F.count("*").alias("n")).collect()
    }
    assert per_batch == {0: corpus.count(), 1: batch1.count()}
    # full-probe IMI serve identical across the geometry change
    assert serve(n_cells_new) == before

    # flat-kmeans rebuild re-fits flat (and the PQ codes carry through)
    idx2 = str(tmp_path / "annrb_flat")
    build_ann_index(corpus, "vec_id", "embedding", idx2, dim=64, n_cells=2,
                    kmeans_iters=2, pq_m=8)
    codes_before = {
        (r["id"], tuple(r["codes"]))
        for r in spark.read.parquet(idx2 + "/cells").collect()
    }
    before2 = sorted(map(tuple, ann_query_indexed(
        spark, queries, "vec_id", "embedding", idx2, k=3, n_probe=2
    ).collect()))
    m2 = rebuild_ann_index(spark, idx2, n_cells=6, kmeans_iters=2)
    assert m2["n_cells"] == "6" and "k_f" not in m2
    codes_after = {
        (r["id"], tuple(r["codes"]))
        for r in spark.read.parquet(idx2 + "/cells").collect()
    }
    assert codes_after == codes_before
    after2 = sorted(map(tuple, ann_query_indexed(
        spark, queries, "vec_id", "embedding", idx2, k=3, n_probe=6
    ).collect()))
    assert after2 == before2


def test_index_compact_refuses_emptying(spark, tmp_path):
    """Compacting away EVERY stored row would leave an unreadable
    empty dataset — refused loudly (rebuild is the escape hatch)."""
    import pytest as _pytest

    from batch_process_dpla_index_spark.products.embedding_index import (
        build_embedding_index,
        compact_embedding_index,
        delete_from_embedding_index,
    )
    from batch_process_dpla_index_spark.sources.tables import load_table
    from tests.conftest import SF_DIR

    emb = load_table(spark, SF_DIR, "embeddings").select("vec_id", "embedding")
    corpus = emb.orderBy("vec_id").limit(10)
    idx = str(tmp_path / "embe")
    build_embedding_index(corpus, "vec_id", "embedding", idx, dim=64, n_cells=2)
    all_ids = [int(r["vec_id"]) for r in corpus.collect()]
    delete_from_embedding_index(spark, idx, all_ids, compact_threshold=2.0)
    with _pytest.raises(ValueError, match="empty"):
        compact_embedding_index(spark, idx)


def test_ann_index_recall_cli(spark, tmp_path, capsys):
    """`jobs ann-index recall`: probing EVERY cell is the exact search,
    so recall@k must be exactly 1.0 for every query; a bounded probe
    reports <= 1.0. Drives the diagnostic through the CLI surface
    (VERDICT r10 #4 — the tuning loop reachable outside the registry)."""
    from batch_process_dpla_index_spark import jobs
    from batch_process_dpla_index_spark.products.ann_index import (
        ann_recall_indexed,
        build_ann_index,
    )
    from batch_process_dpla_index_spark.sources.tables import load_table
    from tests.conftest import SF_DIR

    emb = load_table(spark, SF_DIR, "embeddings")
    vecs_path = str(tmp_path / "vecs")
    emb.select("vec_id", "embedding").write.parquet(vecs_path)
    idx = str(tmp_path / "ann_index")
    build_ann_index(emb, "vec_id", "embedding", idx, dim=64, n_cells=8,
                    kmeans_iters=3)

    # full probe == exact search: every query at recall exactly 1.0
    sample = emb.orderBy("vec_id").limit(25)
    rep = ann_recall_indexed(
        spark, sample, "vec_id", "embedding", idx, k=5, n_probe=8
    ).collect()
    assert len(rep) == 25
    assert all(r.recall_at_k == 1.0 and r.n_hits == 5 for r in rep)

    assert jobs.main([
        "ann-index", "recall", vecs_path, idx,
        "--k", "5", "--probe", "8", "--sample", "25",
    ]) == 0
    line = capsys.readouterr().out.strip().splitlines()[-1]
    assert "mean=1.000000" in line and "min=1.000000" in line

    # bounded probe: a legal report, never above 1
    assert jobs.main([
        "ann-index", "recall", vecs_path, idx,
        "--k", "5", "--probe", "2", "--sample", "25",
    ]) == 0
    out2 = capsys.readouterr().out.strip().splitlines()[-1]
    mean2 = float(out2.split("mean=")[1].split()[0])
    assert 0.0 <= mean2 <= 1.0


def test_compaction_plan_and_rewrite(spark, tmp_path):
    """Small-file compaction: the plan bins path-ordered files by size
    cumsum (big files alone in their bin), and the rewrite produces one
    parquet file per bin with every row preserved."""
    from batch_process_dpla_index_spark.products.compaction import (
        compact,
        compaction_plan,
        file_stats,
        plan_summary,
    )

    src = str(tmp_path / "frag")
    # 40 tiny files + 1 comparatively big one
    spark.range(400).repartition(40).write.parquet(src)
    spark.range(400, 40000).coalesce(1).write.mode("append").parquet(src)

    stats = file_stats(spark, src)
    n_files = stats.count()
    assert n_files == 41
    sizes = {r.file: r.size_bytes for r in stats.collect()}
    big_size = max(sizes.values())
    target = big_size  # tiny files pack together; the big file crosses a bin alone

    plan = compaction_plan(stats, target)
    rows = {r.file: r for r in plan.collect()}
    # bins are contiguous in path order and every bin's bytes stay under
    # target + its largest member (greedy-cumsum invariant)
    summary = {r.bin: r for r in plan_summary(plan).collect()}
    assert len(summary) < n_files
    for b, s in summary.items():
        largest = max(r.size_bytes for r in rows.values() if r.bin == b)
        assert s.bytes < target + largest
    # the big file shares its bin with no other file's *start*: its own
    # bin has at most the neighbors the cumsum packed before the boundary
    big_file = max(sizes, key=sizes.get)
    assert rows[big_file].bin is not None

    out = str(tmp_path / "compacted")
    res = compact(spark, src, out, target_bytes=target)
    assert res["n_files_in"] == 41 and res["n_rows"] == 40000
    import glob

    out_parts = glob.glob(out + "/part-*.parquet")
    # range-sample boundary skew can merge adjacent bins -> <= planned
    assert len(out_parts) <= res["n_bins"] < 41
    got = spark.read.parquet(out)
    assert got.count() == 40000
    assert sorted(r.id for r in got.collect()) == list(range(40000))


def test_dataset_card_product(spark, tmp_path):
    """The datasheet renders from verified stats: volume totals match
    direct counts, every source/language appears, and the manifest
    lands beside the card."""
    from batch_process_dpla_index_spark.products.dataset_card import (
        build_dataset_card,
    )
    from batch_process_dpla_index_spark.sources.tables import load_table
    from tests.conftest import SF_DIR

    docs = load_table(spark, SF_DIR, "documents")
    out = str(tmp_path / "card")
    path = build_dataset_card(spark, docs, out, name="sf0.001-docs")
    text = open(path, encoding="utf-8").read()
    n_docs = docs.count()
    assert f"| {n_docs} |" in text  # volume row carries the doc count
    for src in [r.source for r in docs.select("source").distinct().collect()]:
        assert f"| {src} |" in text
    for lang in [r.lang for r in docs.select("lang").distinct().collect()]:
        assert f"| {lang} |" in text
    # column profile section: every docs column with its null count
    assert "## Column profile" in text
    for col in docs.columns:
        assert f"| {col} |" in text
    assert os.path.exists(os.path.join(out, "_MANIFEST"))
    # no embedding frame supplied → the semantic column reads n/a
    assert "semantic-dup rate" in text and "| n/a |" in text

    # with an embedding frame carrying EXACT duplicate vectors the
    # SemDeDup rate must be positive and equal dropped/total: pair
    # each even doc with its successor's vector copied verbatim
    emb = load_table(spark, SF_DIR, "embeddings")
    ids = docs.select("doc_id")
    paired = ids.join(
        emb.select(
            (F.col("vec_id")).alias("doc_id"),
            F.col("embedding"),
        ),
        "doc_id",
        "inner",
    )
    twin = paired.select(
        (F.col("doc_id") - 1).alias("doc_id"), "embedding"
    ).where(F.col("doc_id") % 2 == 0).join(ids, "doc_id", "left_semi")
    emb_frame = (
        paired.where(F.col("doc_id") % 2 == 1)
        .unionByName(twin)
        .dropDuplicates(["doc_id"])
    )
    out2 = str(tmp_path / "card2")
    path2 = build_dataset_card(
        spark, docs, out2, name="sem", embeddings=emb_frame,
        sem_threshold=0.05,
    )
    text2 = open(path2, encoding="utf-8").read()
    assert "| n/a |" not in text2
    vol_row = [
        ln for ln in text2.splitlines()
        if ln.startswith(f"| {n_docs} |")
    ][0]
    sem_rate = float(vol_row.split("|")[5].strip())
    assert sem_rate > 0.0
    # per-source duplication section appears iff embeddings supplied;
    # assert on the SECTION SLICE — the whole-card containment check
    # is vacuously satisfied by the Composition-by-source table
    assert "## Duplication by source" not in text
    dup_section = text2.split("## Duplication by source", 1)[1]
    for src in [r.source for r in docs.select("source").distinct().collect()]:
        row = [ln for ln in dup_section.splitlines()
               if ln.startswith(f"| {src} |")]
        assert len(row) == 1
        cells = [c.strip() for c in row[0].split("|")[1:-1]]
        # both rate cells parse as probabilities
        assert all(0.0 <= float(c) <= 1.0 for c in cells[1:3])


def test_overlap_index_lifecycle_and_idempotent_refresh(spark, tmp_path):
    """build → refresh(delta) must equal the full-corpus diagnostic
    bit-for-bit (the union-MinHash merge identity), and refreshing
    with the SAME delta twice must be a no-op (min idempotence) —
    the replay-safety contract of the persisted artifact."""
    from batch_process_dpla_index_spark import jobs
    from batch_process_dpla_index_spark.operators.dedup import (
        source_minhash_overlap,
    )
    from batch_process_dpla_index_spark.products.overlap_index import (
        build_overlap_index,
        overlap_report,
        refresh_overlap_index,
    )
    from batch_process_dpla_index_spark.sources.tables import load_table
    from tests.conftest import SF_DIR

    docs = load_table(spark, SF_DIR, "documents")
    corpus = docs.where(F.col("doc_id") % 10 != 7)
    delta = docs.where(F.col("doc_id") % 10 == 7)
    idx = str(tmp_path / "ovidx")

    manifest = build_overlap_index(corpus, idx)
    assert manifest["shingle_n"] == "3" and manifest["num_perm"] == "64"
    # column pins recorded at build time, enforced at refresh time:
    # a conflicting refresh must be rejected, not silently mis-merged
    assert manifest["text_col"] == "text"
    assert manifest["source_col"] == "source"
    with pytest.raises(ValueError, match="text_col.*pinned at build"):
        refresh_overlap_index(spark, delta, idx, text_col="title")
    with pytest.raises(ValueError, match="source_col.*pinned at build"):
        refresh_overlap_index(spark, delta, idx, source_col="lang")

    m1 = refresh_overlap_index(spark, delta, idx)
    assert m1["refresh_count"] == "1"
    got = sorted(map(tuple, overlap_report(spark, idx).collect()))
    want = sorted(
        map(
            tuple,
            source_minhash_overlap(docs)
            .orderBy("source_a", "source_b")
            .collect(),
        )
    )
    assert got == want and len(got) > 0

    # replayed delta: signatures unchanged by min idempotence
    m2 = refresh_overlap_index(spark, delta, idx)
    assert m2["refresh_count"] == "2"
    again = sorted(map(tuple, overlap_report(spark, idx).collect()))
    assert again == got

    # CLI surface: report action runs end-to-end
    assert jobs.main(["overlap-index", "report", idx]) == 0


def test_phash_index_cli_roundtrip(spark, tmp_path, capsys):
    """phash-index CLI parity with dedup-index: build over blobs,
    query a batch containing an exact copy (must match), append the
    batch, then a re-query of the same batch matches everything
    (its own rows are now stored)."""
    from batch_process_dpla_index_spark import jobs

    payload = bytes((i * 83 + 19) % 256 for i in range(350))
    other = bytes((i * 29 + 7) % 256 for i in range(420))
    corpus = spark.createDataFrame(
        [(1, b"\x89PNG" + payload), (2, b"GIF8" + other)],
        "doc_id BIGINT, blob BINARY",
    )
    batch = spark.createDataFrame(
        [(10, b"\x89PNG" + payload),  # exact copy → hamming 0
         (11, bytes((i * 151 + 31) % 256 for i in range(500)))],  # novel
        "doc_id BIGINT, blob BINARY",
    )
    corpus_path = str(tmp_path / "corpus")
    batch_path = str(tmp_path / "batch")
    idx = str(tmp_path / "pidx_cli")
    corpus.coalesce(1).write.parquet(corpus_path)
    batch.coalesce(1).write.parquet(batch_path)

    assert jobs.main(["phash-index", "build", corpus_path, idx]) == 0
    assert "Record count': '2'" in capsys.readouterr().out
    assert jobs.main(["phash-index", "query", batch_path, idx]) == 0
    assert "corpus match: 1" in capsys.readouterr().out
    assert jobs.main(["phash-index", "append", batch_path, idx]) == 0
    assert "Appended 2 blobs" in capsys.readouterr().out
    assert jobs.main(["phash-index", "query", batch_path, idx]) == 0
    assert "corpus match: 2" in capsys.readouterr().out


def test_dedup_index_delete_tombstone_lifecycle(spark, tmp_path, capsys):
    """Takedown path for the text-LSH index (VERDICT r13 #2): delete
    tombstones doc ids with no signature/bucket rewrite; the serve
    path (incremental query) stops reporting them as dup_of matches;
    delete replay is idempotent; compaction physically removes both
    the signature rows AND the bucket postings with serve results
    unchanged; append-after-delete resurrects (watermark semantics)."""
    from batch_process_dpla_index_spark import jobs
    from batch_process_dpla_index_spark.operators.dedup import unpersist_deps
    from batch_process_dpla_index_spark.products.dedup_index import (
        build_dedup_index,
        incremental_dedup_indexed,
    )
    from batch_process_dpla_index_spark.sources.tables import load_table
    from tests.conftest import SF_DIR

    docs = load_table(spark, SF_DIR, "documents")
    new = docs.filter(F.col("doc_id") % 10 == 7)
    corpus = docs.filter(F.col("doc_id") % 10 != 7)
    idx = str(tmp_path / "didx")
    build_dedup_index(corpus, "text", "doc_id", idx)
    n0 = int(read_manifest(idx)["Record count"])

    def serve():
        got = incremental_dedup_indexed(spark, new, "text", "doc_id", idx)
        rows = sorted(map(tuple, got.collect()))
        unpersist_deps(got)
        return rows

    before = serve()
    assert before, "fixture must produce at least one corpus match"
    doomed = sorted({r[1] for r in before})[:3]

    ids_path = str(tmp_path / "doomed_docs")
    corpus.filter(F.col("doc_id").isin(doomed)).select("doc_id")\
        .coalesce(1).write.parquet(ids_path)
    assert jobs.main(["dedup-index", "delete", ids_path, idx,
                      "--compact-threshold", "2.0"]) == 0
    out = capsys.readouterr().out
    assert f"Tombstoned {len(doomed)} ids" in out
    m = read_manifest(idx)
    assert int(m["Record count"]) == n0 - len(doomed)
    assert m["Tombstone count"] == str(len(doomed))
    assert (tmp_path / "didx" / "tombstones").is_dir()

    after = serve()
    assert not any(r[1] in doomed for r in after)
    # replay the same delete — serve-time set semantics keep it a no-op
    assert jobs.main(["dedup-index", "delete", ids_path, idx,
                      "--compact-threshold", "2.0"]) == 0
    capsys.readouterr()
    assert serve() == after
    assert int(read_manifest(idx)["Record count"]) == n0 - len(doomed)

    # compact: physical rewrite of BOTH datasets, set cleared, serve
    # unchanged
    assert jobs.main(["dedup-index", "compact", idx]) == 0
    assert "live records" in capsys.readouterr().out
    assert not (tmp_path / "didx" / "tombstones").is_dir()
    sig_ids = {
        r["id"] for r in
        spark.read.parquet(str(tmp_path / "didx" / "signatures"))
        .select("id").distinct().collect()
    }
    bucket_ids = {
        r["id"] for r in
        spark.read.parquet(str(tmp_path / "didx" / "buckets"))
        .select("id").distinct().collect()
    }
    assert not (set(doomed) & sig_ids)
    assert not (set(doomed) & bucket_ids)
    assert serve() == after
    m = read_manifest(idx)
    assert int(m["Record count"]) == n0 - len(doomed)
    assert m["Tombstone count"] == "0"

    # append-after-delete: a re-ingest of a taken-down doc is NEW data
    # (watermark covers only copies present at delete time)
    resurrect = corpus.filter(F.col("doc_id") == doomed[0])
    docs_path = str(tmp_path / "resurrect_docs")
    resurrect.coalesce(1).write.parquet(docs_path)
    assert jobs.main(["dedup-index", "append", docs_path, idx,
                      "--batch", "2"]) == 0
    capsys.readouterr()
    again = serve()
    assert any(r[1] == doomed[0] for r in again)


def test_phash_index_delete_tombstone_lifecycle(spark, tmp_path, capsys):
    """Takedown path for the IMAGE index — where takedown/opt-out
    pressure actually lands on a multimodal corpus. Exercises the
    --no-recount hot path (stale markers set, serve still excludes),
    the counted delete (markers cleared), compaction, and that the
    dedup-on-ingest twin can never match a taken-down stored image."""
    from batch_process_dpla_index_spark import jobs
    from batch_process_dpla_index_spark.operators.dedup import unpersist_deps
    from batch_process_dpla_index_spark.products.phash_index import (
        build_phash_index,
        incremental_phash_dedup_indexed,
    )

    blobs = [(i, bytes(((i * 97 + j * 13 + 5) % 256)
                       for j in range(300 + i % 7))) for i in range(20)]
    corpus = spark.createDataFrame(blobs, "doc_id BIGINT, blob BINARY")
    # the batch contains EXACT copies of stored blobs 3 and 8 → they
    # match at hamming 0 through the index
    batch = spark.createDataFrame(
        [(103, blobs[3][1]), (108, blobs[8][1])],
        "doc_id BIGINT, blob BINARY",
    )
    idx = str(tmp_path / "pidx")
    build_phash_index(corpus, "blob", "doc_id", idx)
    n0 = int(read_manifest(idx)["Record count"])
    assert n0 == 20

    def serve():
        got = incremental_phash_dedup_indexed(
            spark, batch, "blob", "doc_id", idx
        )
        rows = sorted(map(tuple, got.collect()))
        unpersist_deps(got)
        return rows

    before = serve()
    assert {r[1] for r in before} >= {3, 8}

    # --no-recount: pure O(|ids|) takedown; counts go stale LOUDLY
    ids_path = str(tmp_path / "doomed_blobs")
    corpus.filter(F.col("doc_id") == 3).select("doc_id")\
        .coalesce(1).write.parquet(ids_path)
    assert jobs.main(["phash-index", "delete", ids_path, idx,
                      "--no-recount"]) == 0
    out = capsys.readouterr().out
    assert "recount skipped" in out and "tombstones: stale" in out
    m = read_manifest(idx)
    assert m["Tombstone count"] == "stale"
    assert m["Record count stale"] == "true"
    assert m["Record count"] == str(n0)  # as-of-last-recount value
    after = serve()
    assert not any(r[1] == 3 for r in after)  # serve excludes anyway

    # counted delete refreshes the counts and clears the stale marker
    ids_path2 = str(tmp_path / "doomed_blobs2")
    corpus.filter(F.col("doc_id") == 8).select("doc_id")\
        .coalesce(1).write.parquet(ids_path2)
    assert jobs.main(["phash-index", "delete", ids_path2, idx,
                      "--compact-threshold", "2.0"]) == 0
    assert "live records" in capsys.readouterr().out
    m = read_manifest(idx)
    assert int(m["Record count"]) == n0 - 2
    assert m["Tombstone count"] == "2"
    assert "Record count stale" not in m
    served = serve()
    assert not any(r[1] in (3, 8) for r in served)

    # compact: both datasets physically exclude the ids, serve unchanged
    assert jobs.main(["phash-index", "compact", idx]) == 0
    capsys.readouterr()
    assert not (tmp_path / "pidx" / "tombstones").is_dir()
    for ds in ("signatures", "buckets"):
        ids = {
            r["id"] for r in
            spark.read.parquet(str(tmp_path / "pidx" / ds))
            .select("id").distinct().collect()
        }
        assert not ({3, 8} & ids)
    assert serve() == served
    m = read_manifest(idx)
    assert int(m["Record count"]) == n0 - 2 and m["Tombstone count"] == "0"

    # the ingest twin's check step goes through the same serve path, so
    # a new copy of a taken-down image finds NO stored match — takedown
    # can never cause the pipeline to silently drop fresh data
    assert not any(r[1] in (3, 8) for r in serve())


def test_phash_index_append_respects_max_bucket(spark, tmp_path):
    """The manifest's max_bucket cap binds on the APPEND path too
    (ADVICE r13): a hot bucket dropped (or near-full) at build cannot
    be reintroduced or grown past the cap by appends — combined
    stored+new size is enforced and drops are logged in the manifest."""
    from batch_process_dpla_index_spark.io.manifest import read_manifest
    from batch_process_dpla_index_spark.products.phash_index import (
        append_to_phash_index,
        build_phash_index,
    )

    blob = bytes((i * 7 + 3) % 256 for i in range(400))
    corpus = spark.createDataFrame(
        [(1, blob), (2, blob)], "doc_id BIGINT, blob BINARY"
    )
    idx = str(tmp_path / "pidx_cap")
    build_phash_index(corpus, "blob", "doc_id", idx, max_bucket=2)
    stored0 = spark.read.parquet(os.path.join(idx, "buckets")).count()
    assert stored0 > 0  # bucket size 2 == cap → kept at build

    # two MORE copies of the same blob: every band key would reach
    # combined size 4 > 2 → all appended bucket rows must be dropped
    batch = spark.createDataFrame(
        [(11, blob), (12, blob)], "doc_id BIGINT, blob BINARY"
    )
    append_to_phash_index(batch, "blob", "doc_id", idx, ingest_batch=1)
    buckets = spark.read.parquet(os.path.join(idx, "buckets"))
    assert buckets.count() == stored0  # nothing crept in
    assert buckets.filter(F.col("ingest_batch") == 1).count() == 0
    # signatures still landed (exact-verify side is uncapped)
    sigs = spark.read.parquet(os.path.join(idx, "signatures"))
    assert sigs.filter(F.col("ingest_batch") == 1).count() == 2
    m = read_manifest(idx)
    assert int(m["Oversized buckets dropped (append)"]) > 0


def test_index_builds_refuse_empty_input(spark, tmp_path):
    """An empty build would write zero-row parquet datasets that are
    unreadable on the next query — both signature indexes refuse
    loudly instead (ADVICE r13), matching the rebuild/compact guards
    in the vector indexes."""
    from batch_process_dpla_index_spark.products.dedup_index import (
        build_dedup_index,
    )
    from batch_process_dpla_index_spark.products.phash_index import (
        build_phash_index,
    )

    no_docs = spark.createDataFrame([], "doc_id BIGINT, text STRING")
    with pytest.raises(ValueError, match="empty"):
        build_dedup_index(no_docs, "text", "doc_id", str(tmp_path / "d"))
    no_blobs = spark.createDataFrame([], "doc_id BIGINT, blob BINARY")
    with pytest.raises(ValueError, match="empty"):
        build_phash_index(no_blobs, "blob", "doc_id", str(tmp_path / "p"))


def test_phash_index_cli_rejects_banding_flags_off_build(spark, tmp_path):
    """--bits/--max-hamming configure the build-time banding geometry;
    query/append read it from the manifest. Passing them elsewhere
    must ERROR, not be silently ignored (ADVICE r13) — an operator
    must not believe they re-parameterized a probe."""
    from batch_process_dpla_index_spark import jobs

    with pytest.raises(SystemExit, match="apply only to"):
        jobs.main(["phash-index", "query", str(tmp_path / "x"),
                   str(tmp_path / "idx"), "--bits", "40"])
    with pytest.raises(SystemExit, match="apply only to"):
        jobs.main(["phash-index", "append", str(tmp_path / "x"),
                   str(tmp_path / "idx"), "--max-hamming", "5"])


def test_dataset_card_multimodal_dup_section(spark, tmp_path):
    """The card's perceptual-dup rate must EQUAL 1 - survivors/blobs
    from the oracle-verified image_dedup_survivors operator chain run
    independently — the card is a presentation of the verified stat,
    not a second implementation (VERDICT r13 #4). Also pins the CLI
    threading (--blobs-parquet) and that the section is absent without
    a blob frame."""
    from batch_process_dpla_index_spark import jobs
    from batch_process_dpla_index_spark.operators.dedup import (
        dedup_survivors,
        unpersist_deps,
    )
    from batch_process_dpla_index_spark.operators.multimodal import (
        image_near_dup,
    )
    from batch_process_dpla_index_spark.products.dataset_card import (
        build_dataset_card,
    )
    from batch_process_dpla_index_spark.sources.tables import load_table
    from tests.conftest import SF_DIR

    docs = load_table(spark, SF_DIR, "documents")
    body = F.encode(F.coalesce(F.col("text"), F.lit("")), "UTF-8")
    base = docs.select("doc_id", F.concat(F.lit(b"\x89PNG"), body).alias("blob"))
    # re-containered copies → guaranteed perceptual dups
    twins = docs.where(F.col("doc_id") % 4 == 0).select(
        (F.col("doc_id") + 1_000_000_000).alias("doc_id"),
        F.concat(F.lit(bytes.fromhex("FFD8FFE0")), body).alias("blob"),
    )
    blobs = base.unionByName(twins)

    out = str(tmp_path / "mm_card")
    path = build_dataset_card(spark, docs, out, name="mm", blobs=blobs)
    text = open(path, encoding="utf-8").read()
    assert "## Multimodal duplication" in text
    section = text.split("## Multimodal duplication", 1)[1]
    row = [ln for ln in section.splitlines()
           if ln.startswith("|") and "blobs" not in ln and "---" not in ln][0]
    cells = [c.strip() for c in row.split("|")[1:-1]]
    n_blobs_card, rate_card = int(cells[0]), float(cells[1])

    # independent replay through the same verified operators
    pairs = image_near_dup(blobs, "blob", "doc_id", bits=60, max_hamming=3)
    kept = dedup_survivors(blobs.select("doc_id"), pairs, "doc_id")
    n_blobs, n_kept = blobs.count(), kept.count()
    unpersist_deps(pairs)
    unpersist_deps(kept)
    assert n_blobs_card == n_blobs
    assert rate_card == round(1.0 - n_kept / n_blobs, 4)
    assert rate_card > 0.0  # the twins make it strictly positive

    # no blob frame → no section
    out2 = str(tmp_path / "mm_card2")
    text2 = open(build_dataset_card(spark, docs, out2), encoding="utf-8").read()
    assert "## Multimodal duplication" not in text2

    # CLI threading
    blobs_path = str(tmp_path / "blobs_parquet")
    blobs.write.parquet(blobs_path)
    docs_path = str(tmp_path / "docs_parquet")
    docs.write.parquet(docs_path)
    out3 = str(tmp_path / "mm_card3")
    assert jobs.main(["dataset-card", docs_path, out3,
                      "--blobs-parquet", blobs_path]) == 0
    text3 = open(os.path.join(out3, "DATASET_CARD.md"),
                 encoding="utf-8").read()
    assert "## Multimodal duplication" in text3
    assert f"| {n_blobs} | {rate_card} |" in text3


def test_phash_append_cap_stable_under_replay_and_tombstones(spark, tmp_path):
    """Round-14 review regressions on the append-path bucket cap:
    (1) a checkpoint REPLAY must reach the same drop decisions as its
    first attempt — the naive stored-size count included the replay's
    own first-attempt partition, pushed keys over the cap, and the
    dynamic overwrite then silently deleted candidates the first
    attempt kept; (2) tombstoned (awaiting-compaction) rows must not
    inflate the stored size — a takedown would otherwise spuriously
    drop legitimate new rows."""
    from batch_process_dpla_index_spark.io.manifest import read_manifest
    from batch_process_dpla_index_spark.products.phash_index import (
        append_to_phash_index,
        build_phash_index,
        delete_from_phash_index,
    )

    blob = bytes((i * 11 + 7) % 256 for i in range(400))

    # (1) replay stability: build sz=2, cap=4; batch of 2 → 2+2=4 kept;
    # a naive replay would see old=4 (own partition) + new=2 > 4 → drop
    idx = str(tmp_path / "replay_idx")
    build_phash_index(
        spark.createDataFrame([(1, blob), (2, blob)],
                              "doc_id BIGINT, blob BINARY"),
        "blob", "doc_id", idx, max_bucket=4,
    )
    batch = spark.createDataFrame([(11, blob), (12, blob)],
                                  "doc_id BIGINT, blob BINARY")
    append_to_phash_index(batch, "blob", "doc_id", idx,
                          ingest_batch=1, idempotent=True)
    buckets = spark.read.parquet(os.path.join(idx, "buckets"))
    first = buckets.filter(F.col("ingest_batch") == 1).count()
    assert first > 0  # within cap → kept
    append_to_phash_index(batch, "blob", "doc_id", idx,
                          ingest_batch=1, idempotent=True)  # replay
    buckets = spark.read.parquet(os.path.join(idx, "buckets"))
    assert buckets.filter(F.col("ingest_batch") == 1).count() == first
    assert "Oversized buckets dropped (append)" not in read_manifest(idx)

    # (2) tombstones excluded: build sz=3 of which 2 tombstoned
    # (live=1), cap=3; batch of 2 → 2+1=3 kept (naive 2+3=5 → drop)
    idx2 = str(tmp_path / "tomb_idx")
    build_phash_index(
        spark.createDataFrame([(1, blob), (2, blob), (3, blob)],
                              "doc_id BIGINT, blob BINARY"),
        "blob", "doc_id", idx2, max_bucket=3,
    )
    delete_from_phash_index(spark, idx2, [1, 2], compact_threshold=2.0)
    append_to_phash_index(batch, "blob", "doc_id", idx2, ingest_batch=1)
    b2 = spark.read.parquet(os.path.join(idx2, "buckets"))
    assert b2.filter(F.col("ingest_batch") == 1).count() > 0


def test_phash_index_survives_fully_capped_buckets(spark, tmp_path):
    """A degenerate corpus can cap away EVERY bucket row (build) or
    compact the buckets dataset to zero rows (every posting belonged
    to tombstoned ids) — both must stay READABLE (one empty
    schema-carrying part file), not crash the next query with 'Unable
    to infer schema' (round-14 review)."""
    from batch_process_dpla_index_spark.operators.dedup import unpersist_deps
    from batch_process_dpla_index_spark.products.phash_index import (
        append_to_phash_index,
        build_phash_index,
        compact_phash_index,
        delete_from_phash_index,
        incremental_phash_dedup_indexed,
    )

    blob = bytes((i * 13 + 5) % 256 for i in range(300))
    batch = spark.createDataFrame([(50, blob)], "doc_id BIGINT, blob BINARY")

    # build-time: cap=1 < bucket size 2 → every key dropped → buckets
    # dataset is EMPTY at build; queries must run (and find nothing —
    # no candidate side)
    idx = str(tmp_path / "empty_buckets")
    build_phash_index(
        spark.createDataFrame([(1, blob), (2, blob)],
                              "doc_id BIGINT, blob BINARY"),
        "blob", "doc_id", idx, max_bucket=1,
    )
    got = incremental_phash_dedup_indexed(spark, batch, "blob", "doc_id", idx)
    assert got.count() == 0
    unpersist_deps(got)

    # compact-time: A,B hold every bucket row (cap=2); C,D append gets
    # capped (signatures land, buckets don't); tombstone A,B → compact
    # leaves signature survivors (C,D — the i==0 refusal passes) but
    # ZERO bucket survivors → the empty-safe swap must keep it readable
    idx2 = str(tmp_path / "empty_after_compact")
    build_phash_index(
        spark.createDataFrame([(1, blob), (2, blob)],
                              "doc_id BIGINT, blob BINARY"),
        "blob", "doc_id", idx2, max_bucket=2,
    )
    append_to_phash_index(
        spark.createDataFrame([(3, blob), (4, blob)],
                              "doc_id BIGINT, blob BINARY"),
        "blob", "doc_id", idx2, ingest_batch=1,
    )
    delete_from_phash_index(spark, idx2, [1, 2], compact_threshold=2.0)
    compact_phash_index(spark, idx2)
    sig_ids = {
        r["id"] for r in
        spark.read.parquet(os.path.join(idx2, "signatures")).collect()
    }
    assert sig_ids == {3, 4}
    assert spark.read.parquet(os.path.join(idx2, "buckets")).count() == 0
    got2 = incremental_phash_dedup_indexed(spark, batch, "blob", "doc_id", idx2)
    assert got2.count() == 0
    unpersist_deps(got2)


def test_phash_index_audio_modality_lifecycle(spark, tmp_path, capsys):
    """The perceptual index's modality slot (r14): an index built with
    modality='audio' fingerprints through the PCM energy envelope, so
    a polarity-inverted re-master and a pad-byte re-container of a
    stored clip BOTH match at hamming 0 (byte-exact dedup sees
    neither), a novel clip matches nothing, the takedown lifecycle
    works unchanged, and the CLI pins the modality at build while
    rejecting it elsewhere."""
    import struct

    from batch_process_dpla_index_spark import jobs
    from batch_process_dpla_index_spark.io.manifest import read_manifest
    from batch_process_dpla_index_spark.operators.dedup import unpersist_deps
    from batch_process_dpla_index_spark.products.phash_index import (
        _signature_fn,
        build_phash_index,
        delete_from_phash_index,
        incremental_phash_dedup_indexed,
    )

    def clip(seed: int, n: int = 400) -> bytes:
        vals = [((i * 131 + seed * 977 + 17) % 4001) - 2000 for i in range(n)]
        return struct.pack(f"<{n}h", *vals)

    def invert(c: bytes) -> bytes:
        n = len(c) // 2
        vals = struct.unpack(f"<{n}h", c)
        return struct.pack(f"<{n}h", *[-v if v > -32768 else v for v in vals])

    corpus = spark.createDataFrame(
        [(i, clip(i)) for i in range(1, 6)], "doc_id BIGINT, blob BINARY"
    )
    idx = str(tmp_path / "audio_idx")
    manifest = build_phash_index(
        corpus, "blob", "doc_id", idx, modality="audio"
    )
    assert manifest["modality"] == "audio"

    batch = spark.createDataFrame(
        [(102, invert(clip(2))),      # polarity-inverted re-master of 2
         (103, clip(3) + b"\x00"),    # pad-byte re-container of 3
         (104, clip(99))],            # novel
        "doc_id BIGINT, blob BINARY",
    )

    def serve():
        got = incremental_phash_dedup_indexed(
            spark, batch, "blob", "doc_id", idx
        )
        rows = {(r.new_id, r.dup_of): r.hamming for r in got.collect()}
        unpersist_deps(got)
        return rows

    got = serve()
    assert got[(102, 2)] == 0 and got[(103, 3)] == 0
    assert not any(nid == 104 for nid, _ in got)

    # takedown: the shared tombstone lifecycle is modality-blind
    delete_from_phash_index(spark, idx, [2], compact_threshold=2.0)
    got2 = serve()
    assert not any(d == 2 for _, d in got2)
    assert got2[(103, 3)] == 0

    # CLI: --modality pins at build, errors elsewhere
    clips_path = str(tmp_path / "clips")
    corpus.coalesce(1).write.parquet(clips_path)
    idx2 = str(tmp_path / "audio_idx_cli")
    assert jobs.main(["phash-index", "build", clips_path, idx2,
                      "--modality", "audio"]) == 0
    capsys.readouterr()
    assert read_manifest(idx2)["modality"] == "audio"
    with pytest.raises(SystemExit, match="apply only to"):
        jobs.main(["phash-index", "query", clips_path, idx2,
                   "--modality", "audio"])
    with pytest.raises(ValueError, match="modality"):
        _signature_fn("video")


def test_index_rebuild_clears_tombstones_after_writes(spark, tmp_path, monkeypatch):
    """Crash-ordering contract for rebuilds (r14 advice, medium): the
    dedup and phash builds must clear the previous delete set only
    AFTER the last dataset write — the ann/embedding ordering
    (ann_index.py:260). With clear-first, a crash between the clear
    and the overwrite leaves the OLD index fully intact but with its
    tombstones gone, so taken-down ids silently serve again
    (resurrection); with clear-last the worst crash window only
    over-deletes new batch-0 rows until the build is re-run, which is
    fail-safe for a compliance path. Pinned by spying on
    clear_tombstones: both datasets must already exist on disk when it
    fires."""
    from batch_process_dpla_index_spark.products import index_tombstones as it
    from batch_process_dpla_index_spark.products.dedup_index import build_dedup_index
    from batch_process_dpla_index_spark.products.phash_index import build_phash_index
    from batch_process_dpla_index_spark.sources.tables import load_table
    from tests.conftest import SF_DIR

    orig = it.clear_tombstones
    calls: list[tuple[str, bool, bool]] = []

    def spy(index_dir):
        calls.append(
            (
                index_dir,
                os.path.isdir(os.path.join(index_dir, "signatures")),
                os.path.isdir(os.path.join(index_dir, "buckets")),
            )
        )
        return orig(index_dir)

    monkeypatch.setattr(it, "clear_tombstones", spy)

    didx = str(tmp_path / "didx")
    docs = load_table(spark, SF_DIR, "documents").limit(30)
    build_dedup_index(docs, "text", "doc_id", didx)

    pidx = str(tmp_path / "pidx")
    blobs = spark.createDataFrame(
        [(i, bytes(((i * 97 + j * 13 + 5) % 256) for j in range(300)))
         for i in range(12)],
        "doc_id BIGINT, blob BINARY",
    )
    build_phash_index(blobs, "blob", "doc_id", pidx)

    assert calls == [(didx, True, True), (pidx, True, True)]


def test_empty_fallback_layout_stays_partitioned(spark, tmp_path):
    """The empty-dataset fallback write must keep the Hive layout
    UNIFORM (r14 advice): the schema-carrying empty marker lands
    inside an ``ingest_batch=0/`` partition dir, so a later append's
    partition dirs are siblings — never a root-level part file mixed
    with partition dirs, a layout that only reads by unspecified
    partition-discovery behavior and that a Spark upgrade could
    reject as conflicting directory structures."""
    from batch_process_dpla_index_spark.operators.dedup import unpersist_deps
    from batch_process_dpla_index_spark.products.phash_index import (
        append_to_phash_index,
        build_phash_index,
        incremental_phash_dedup_indexed,
    )

    blob = bytes((i * 13 + 5) % 256 for i in range(300))
    other = bytes((i * 29 + 11) % 256 for i in range(300))
    idx = str(tmp_path / "uniform_layout")
    # cap=1 < bucket size 2 -> EVERY bucket key dropped -> empty dataset
    build_phash_index(
        spark.createDataFrame([(1, blob), (2, blob)],
                              "doc_id BIGINT, blob BINARY"),
        "blob", "doc_id", idx, max_bucket=1,
    )
    buckets_dir = os.path.join(idx, "buckets")
    root_parts = glob.glob(os.path.join(buckets_dir, "*.parquet"))
    marker_parts = glob.glob(
        os.path.join(buckets_dir, "ingest_batch=0", "*.parquet")
    )
    assert root_parts == [] and len(marker_parts) >= 1

    # a singleton append passes the cap -> Hive sibling partition dirs
    append_to_phash_index(
        spark.createDataFrame([(3, other)], "doc_id BIGINT, blob BINARY"),
        "blob", "doc_id", idx, ingest_batch=1,
    )
    assert glob.glob(os.path.join(buckets_dir, "*.parquet")) == []
    assert glob.glob(os.path.join(buckets_dir, "ingest_batch=1", "*.parquet"))
    stored = spark.read.parquet(buckets_dir)
    assert stored.filter(F.col("ingest_batch") == 1).count() > 0
    assert stored.filter(F.col("ingest_batch") == 0).count() == 0
    # serve path still works over the mixed empty-marker + append state
    got = incremental_phash_dedup_indexed(
        spark,
        spark.createDataFrame([(50, other)], "doc_id BIGINT, blob BINARY"),
        "blob", "doc_id", idx,
    )
    assert got.count() == 1
    unpersist_deps(got)


def test_overlap_index_delete_tombstone_lifecycle(spark, tmp_path, capsys):
    """Takedown path for the overlap index (r15, VERDICT r14 #5): a
    source opting out of the mixing diagnostic is tombstoned with no
    corpus access; the report stops showing its pairs immediately;
    delete replay is idempotent; compaction physically removes the
    row; a refresh whose delta re-introduces the source re-opts it in
    (delta-built signature, tombstone cleared); compacting away every
    source refuses loudly; and the CLI drives delete/compact."""
    from batch_process_dpla_index_spark import jobs
    from batch_process_dpla_index_spark.products.overlap_index import (
        build_overlap_index,
        compact_overlap_index,
        delete_from_overlap_index,
        overlap_report,
        refresh_overlap_index,
    )
    from batch_process_dpla_index_spark.sources.tables import load_table
    from tests.conftest import SF_DIR

    docs = load_table(spark, SF_DIR, "documents")
    sources = sorted(
        r["source"] for r in docs.select("source").distinct().collect()
    )
    assert len(sources) >= 3
    victim = sources[0]
    idx = str(tmp_path / "ovidx_del")
    build_overlap_index(docs, idx)
    full = sorted(map(tuple, overlap_report(spark, idx).collect()))
    assert any(victim in (a, b) for (a, b, *_rest) in full)

    # delete below threshold: tombstoned, physically still stored,
    # served report excludes every pair touching the victim
    m = delete_from_overlap_index(spark, idx, [victim],
                                  compact_threshold=2.0)
    assert m["Tombstone count"] == "1"
    assert int(m["Record count"]) == len(sources) - 1
    served = sorted(map(tuple, overlap_report(spark, idx).collect()))
    assert served == [t for t in full if victim not in (t[0], t[1])]
    n_raw = spark.read.parquet(os.path.join(idx, "signatures")).count()
    assert n_raw == len(sources)  # no rewrite yet

    # replayed delete: idempotent (set semantics)
    m2 = delete_from_overlap_index(spark, idx, [victim],
                                   compact_threshold=2.0)
    assert m2["Tombstone count"] == "1"
    assert sorted(map(tuple, overlap_report(spark, idx).collect())) == served

    # compact: physical removal, serve unchanged, tombstones cleared
    m3 = compact_overlap_index(spark, idx)
    assert m3["Tombstone count"] == "0"
    assert spark.read.parquet(
        os.path.join(idx, "signatures")
    ).count() == len(sources) - 1
    assert sorted(map(tuple, overlap_report(spark, idx).collect())) == served

    # re-opt-in: tombstone again, then refresh with a delta containing
    # the victim — the report shows the victim again (delta-built row)
    # and the tombstone is gone
    delete_from_overlap_index(spark, idx, [victim], compact_threshold=2.0)
    delta = docs.where(F.col("source") == victim)
    m4 = refresh_overlap_index(spark, delta, idx)
    assert m4["Tombstone count"] == "0"
    back = sorted(map(tuple, overlap_report(spark, idx).collect()))
    assert any(victim in (a, b) for (a, b, *_rest) in back)

    # refusal: compacting away EVERY source is an unreadable index
    delete_from_overlap_index(spark, idx, sources, compact_threshold=2.0)
    with pytest.raises(ValueError, match="every stored source"):
        compact_overlap_index(spark, idx)

    # rebuild clears the spent delete set (clear-last)
    build_overlap_index(docs, idx)
    assert sorted(map(tuple, overlap_report(spark, idx).collect())) == full

    # CLI surface
    assert jobs.main([
        "overlap-index", "delete", idx, "--sources", victim,
        "--compact-threshold", "2.0",
    ]) == 0
    assert "1 tombstoned" in capsys.readouterr().out
    assert jobs.main(["overlap-index", "compact", idx]) == 0
    assert f"{len(sources) - 1} live sources" in capsys.readouterr().out
    with pytest.raises(SystemExit, match="needs --sources"):
        jobs.main(["overlap-index", "delete", idx])


def test_dataset_card_privacy_drift_section(spark, tmp_path):
    """The card's privacy/drift figures must EQUAL the oracle-verified
    audit operators run independently with the registry queries'
    quasi-identifier configuration (r16, VERDICT r15 #4): k-anonymity
    suppression count, l-diversity disclosure count, and per-source
    ks_vs_rest / lang_entropy / top_lang_share — a presentation of
    verified stats, never a second implementation."""
    from pyspark.sql import functions as F

    from batch_process_dpla_index_spark.operators.curation import (
        k_anonymity_audit,
        l_diversity_audit,
        source_lang_entropy,
    )
    from batch_process_dpla_index_spark.operators.dedup import unpersist_deps
    from batch_process_dpla_index_spark.operators.profiling import (
        source_drift_ks,
    )
    from batch_process_dpla_index_spark.products.dataset_card import (
        build_dataset_card,
    )
    from batch_process_dpla_index_spark.sources.tables import load_table
    from tests.conftest import SF_DIR

    docs = load_table(spark, SF_DIR, "documents")
    out = str(tmp_path / "card")
    text = open(
        build_dataset_card(spark, docs, out, name="audit"), encoding="utf-8"
    ).read()
    assert "## Privacy & drift audit" in text

    n_k = k_anonymity_audit(
        docs.select(
            "source",
            "lang",
            F.floor(F.col("n_chars") / 200).cast("bigint").alias("len_bucket"),
        ),
        ["source", "lang", "len_bucket"],
        k=5,
    ).count()
    n_l = l_diversity_audit(
        docs.select(
            "source",
            F.floor(F.col("n_chars") / 100).cast("bigint").alias("len_bucket"),
            "lang",
        ),
        ["source", "len_bucket"],
        "lang",
        l=3,
    ).count()
    assert f"**{n_k}** combos below k" in text
    assert f"**{n_l}** combos whose membership" in text

    drift = source_drift_ks(docs, "source", "n_chars")
    ks = {r["source"]: r["ks_stat"] for r in drift.collect()}
    unpersist_deps(drift)
    from batch_process_dpla_index_spark.operators.profiling import (
        source_psi,
        source_wasserstein,
    )

    psi_df = source_psi(docs, "source", "n_chars")
    psi = {r["source"]: r["psi"] for r in psi_df.collect()}
    unpersist_deps(psi_df)
    w1_df = source_wasserstein(docs, "source", "n_chars")
    w1 = {r["source"]: r["w1_dist"] for r in w1_df.collect()}
    unpersist_deps(w1_df)
    ent = {
        r["source"]: (r["n_docs"], r["lang_entropy"], r["top_lang_share"])
        for r in source_lang_entropy(docs, "source", "lang").collect()
    }
    for src, (n_docs, h, share) in ent.items():
        assert (
            f"| {src} | {n_docs} | {ks[src]} | {psi[src]} | {w1[src]} | "
            f"{h} | {share} |" in text
        ), (src, n_docs, ks[src], psi[src], w1[src], h, share)

    # temporal stability section: absent without events, and with an
    # events frame every per-day PSI row equals the verified
    # temporal_psi operator run independently (r17, VERDICT r16 #5)
    assert "## Temporal stability" not in text
    from batch_process_dpla_index_spark.operators.profiling import (
        temporal_psi,
        temporal_wasserstein,
    )
    from batch_process_dpla_index_spark.products.dataset_card import (
        build_dataset_card as _bdc,
    )

    events = load_table(spark, SF_DIR, "events")
    out_t = str(tmp_path / "card_t")
    text_t = open(
        _bdc(spark, docs, out_t, name="audit-t", events=events),
        encoding="utf-8",
    ).read()
    assert "## Temporal stability" in text_t
    tp = temporal_psi(events, "ts", "value")
    rows_t = tp.collect()
    unpersist_deps(tp)
    tw = temporal_wasserstein(events, "ts", "value")
    w1_day = {str(r["day"])[:10]: r["w1_dist"] for r in tw.collect()}
    unpersist_deps(tw)
    assert rows_t
    for r in rows_t:
        day = str(r["day"])[:10]
        psi_cell = "None" if r["psi"] is None else str(r["psi"])
        w1_cell = (
            "None" if w1_day[day] is None else str(w1_day[day])
        )
        assert (
            f"| {day} | {r['n_rows']} | {psi_cell} | {w1_cell} |" in text_t
        ), (day, r["n_rows"], psi_cell, w1_cell)


def test_dataset_card_benchmark_contamination_section(spark, tmp_path):
    """The card's contamination figures must EQUAL the verified
    decontaminate / fuzzy_decontaminate operators run independently,
    and the section must be absent without a benchmark frame; also
    pins the CLI threading (--benchmark-parquet)."""
    from pyspark.sql import functions as F

    from batch_process_dpla_index_spark import jobs
    from batch_process_dpla_index_spark.operators.curation import (
        decontaminate,
        fuzzy_decontaminate,
    )
    from batch_process_dpla_index_spark.operators.dedup import unpersist_deps
    from batch_process_dpla_index_spark.products.dataset_card import (
        build_dataset_card,
    )
    from batch_process_dpla_index_spark.sources.tables import load_table
    from tests.conftest import SF_DIR

    docs = load_table(spark, SF_DIR, "documents")
    bench = docs.where(F.col("doc_id") % 10 == 0).select("doc_id", "text")
    corpus = docs.where(F.col("doc_id") % 10 != 0)

    n_exact = decontaminate(corpus, bench).where("contaminated").count()
    fz = fuzzy_decontaminate(corpus, bench, threshold=0.5)
    n_pairs = fz.count()
    n_docs_fz = fz.select("doc_id").distinct().count()
    unpersist_deps(fz)

    out = str(tmp_path / "card")
    bench_path = str(tmp_path / "bench.parquet")
    bench.write.parquet(bench_path)
    corpus_path = str(tmp_path / "corpus.parquet")
    corpus.write.parquet(corpus_path)
    jobs.main(
        [
            "dataset-card",
            corpus_path,
            out,
            "--name",
            "contam",
            "--benchmark-parquet",
            bench_path,
        ]
    )
    text = open(out + "/DATASET_CARD.md", encoding="utf-8").read()
    assert "## Benchmark contamination" in text
    assert f"| {n_exact} | {n_docs_fz} | {n_pairs} |" in text

    # without a benchmark frame the section must be absent
    out2 = str(tmp_path / "card2")
    text2 = open(
        build_dataset_card(spark, corpus, out2), encoding="utf-8"
    ).read()
    assert "Benchmark contamination" not in text2


def test_decon_index_lifecycle(spark, tmp_path):
    """build -> screen == direct fuzzy_decontaminate (the stored-index
    screen runs the SAME _fuzzy_screen path, so equality is exact);
    append folds a new suite in at delta cost and refuses duplicate
    ids; empty build refuses; CLI threads build+screen end-to-end."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from batch_process_dpla_index_spark import jobs
    from batch_process_dpla_index_spark.io.manifest import read_manifest
    from batch_process_dpla_index_spark.operators.curation import (
        fuzzy_decontaminate,
    )
    from batch_process_dpla_index_spark.operators.dedup import unpersist_deps
    from batch_process_dpla_index_spark.products.decon_index import (
        append_to_decon_index,
        build_decon_index,
        screen_batch,
    )
    from batch_process_dpla_index_spark.sources.tables import load_table
    from tests.conftest import SF_DIR

    docs = load_table(spark, SF_DIR, "documents")
    bench = docs.where(F.col("doc_id") % 10 == 0).select("doc_id", "text")
    corpus = docs.where(F.col("doc_id") % 10 != 0)
    idx = str(tmp_path / "decon_idx")

    m = build_decon_index(bench, idx)
    assert int(m["Benchmark items"]) > 0
    assert read_manifest(idx)["Bands"] == "16"

    got_df = screen_batch(spark, corpus, idx, threshold=0.5)
    got = sorted(map(tuple, got_df.collect()))
    unpersist_deps(got_df)
    want_df = fuzzy_decontaminate(corpus, bench, threshold=0.5)
    want = sorted(map(tuple, want_df.collect()))
    unpersist_deps(want_df)
    assert got == want and len(got) > 0

    # append a synthetic new suite whose item verbatim-copies a corpus
    # doc -> it must become screenable at jaccard 1.0
    victim = corpus.limit(1).collect()[0]
    new_suite = spark.createDataFrame(
        [(990_001, victim["text"])], "doc_id bigint, text string"
    )
    # delta-only pin (r16 VERDICT #3): snapshot the stored part files
    # BEFORE the append — afterwards every one must be byte-identical
    # (same name, size, mtime) with exactly ONE new part file, proving
    # the append materialized only the delta and never rewrote the
    # store
    import os as _os

    sig_dir = str(tmp_path / "decon_idx" / "signatures")

    def _parts(d):
        return {
            f: _os.stat(_os.path.join(d, f))
            for f in _os.listdir(d)
            if f.endswith(".parquet")
        }

    before = _parts(sig_dir)
    m2 = append_to_decon_index(new_suite, idx)
    after = _parts(sig_dir)
    assert set(before) <= set(after) and len(after) == len(before) + 1
    for f, st in before.items():
        assert (after[f].st_size, after[f].st_mtime_ns) == (
            st.st_size,
            st.st_mtime_ns,
        ), f"append rewrote stored part file {f}"
    assert int(m2["Benchmark items"]) == int(m["Benchmark items"]) + 1
    got2_df = screen_batch(spark, corpus, idx, threshold=0.5)
    got2 = {(r[0], r["bench_id"]): r["jaccard"] for r in got2_df.collect()}
    unpersist_deps(got2_df)
    assert got2[(victim["doc_id"], 990_001)] == 1.0
    # all pre-append matches unchanged
    for (d, b, j) in got:
        assert got2[(d, b)] == j

    # duplicate id refused loudly
    with _pytest.raises(ValueError, match="already indexed"):
        append_to_decon_index(new_suite, idx)

    # id duplicated WITHIN the delta refused loudly (r16 ADVICE): an
    # internal duplicate would be indexed twice and fan out duplicate
    # (doc, bench) rows in every later screen
    twice = spark.createDataFrame(
        [(990_002, victim["text"]), (990_002, victim["text"])],
        "doc_id bigint, text string",
    )
    with _pytest.raises(ValueError, match="internally duplicated"):
        append_to_decon_index(twice, idx)

    # a suite whose items all shingle to empty (empty/whitespace text
    # normalizes to zero shingles; note a short-but-nonempty text
    # becomes ONE whole-text shingle per the jaccard macro's short-doc
    # convention, so it is NOT empty) is a successful NO-OP: store +
    # manifest untouched
    before_noop = _parts(sig_dir)
    m_noop = append_to_decon_index(
        spark.createDataFrame(
            [(990_004, "")], "doc_id bigint, text string"
        ),
        idx,
    )
    assert m_noop["Benchmark items"] == m2["Benchmark items"]
    assert _parts(sig_dir).keys() == before_noop.keys()
    assert read_manifest(idx)["Benchmark items"] == m2["Benchmark items"]

    # empty benchmark refused
    with _pytest.raises(ValueError, match="refuse to build"):
        build_decon_index(
            spark.createDataFrame([], "doc_id bigint, text string"),
            str(tmp_path / "empty_idx"),
        )

    # CLI: build + screen to parquet
    bench_path = str(tmp_path / "bench.parquet")
    corpus_path = str(tmp_path / "corpus.parquet")
    bench.write.parquet(bench_path)
    corpus.write.parquet(corpus_path)
    idx2 = str(tmp_path / "decon_idx_cli")
    out_path = str(tmp_path / "hits.parquet")
    jobs.main(["decon-index", "build", idx2,
               "--benchmark-parquet", bench_path])
    jobs.main(["decon-index", "screen", idx2,
               "--docs-parquet", corpus_path,
               "--out-parquet", out_path])
    cli_hits = sorted(map(tuple, spark.read.parquet(out_path).collect()))
    assert cli_hits == got
