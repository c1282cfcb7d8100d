"""Operator property tests: dedup idempotence, LSH recall bound,
shingle edge cases, multimodal digests, cosine top-k against its
DuckDB oracle."""

from __future__ import annotations

import hashlib

from pyspark.sql import functions as F

from batch_process_dpla_index_spark.operators.dedup import (
    exact_dedup,
    jaccard_pairs,
    keep_first,
    minhash_lsh_pairs,
    unpersist_deps,
)
from batch_process_dpla_index_spark.functions.text import tokens, word_shingles
from batch_process_dpla_index_spark.operators.multimodal import (
    resize_images,
    binary_metadata,
    decode_images,
    sample_frames,
)
from batch_process_dpla_index_spark.operators.similarity import cosine_topk
from batch_process_dpla_index_spark.sources.tables import load_table
from tests.conftest import SF_DIR


def test_exact_dedup_idempotent(docs):
    survivors = exact_dedup(docs, "text", "doc_id")
    survivors_docs = docs.join(survivors, "doc_id", "semi")
    again = exact_dedup(survivors_docs, "text", "doc_id")
    assert survivors.count() == again.count()
    assert survivors.exceptAll(again).count() == 0


def test_keep_first_deterministic(docs):
    a = keep_first(docs, ["source", "lang"], "n_chars", "doc_id")
    b = keep_first(docs, ["source", "lang"], "n_chars", "doc_id")
    assert a.exceptAll(b).count() == 0
    # exactly one survivor per observed key
    keys = docs.select("source", "lang").distinct().count()
    assert a.count() == keys


def test_word_shingles_empty_doc(spark):
    """Round-1 advice item: empty/whitespace docs must yield empty
    shingle sets, not a [''] singleton that makes them all near-dups."""
    df = spark.createDataFrame(
        [("", 1), ("   ", 2), ("one two three four", 3)], "text STRING, id INT"
    )
    out = df.select(
        "id", word_shingles(tokens(F.col("text")), 3).alias("sh")
    ).orderBy("id").collect()
    assert out[0]["sh"] == [] and out[1]["sh"] == []
    assert out[2]["sh"] == ["one two three", "two three four"]
    # and short docs produce the whole-doc singleton shingle
    short = spark.createDataFrame([("one two", 1)], "text STRING, id INT")
    row = short.select(word_shingles(tokens(F.col("text")), 3).alias("sh")).collect()[0]
    assert row["sh"] == ["one two"]


def test_lsh_recall_vs_exact(docs):
    """Banded-LSH candidate recall at J≥0.7 must be ≥0.9 of the exact
    Jaccard join (64 perms / 16 bands S-curve ≈ .998 at 0.7)."""
    exact = jaccard_pairs(docs, "text", "doc_id", n=3, threshold=0.7)
    exact_pairs = {(r["id_a"], r["id_b"]) for r in exact.collect()}
    unpersist_deps(exact)
    approx = minhash_lsh_pairs(docs, "text", "doc_id", n=3, threshold=0.7)
    approx_pairs = {(r["id_a"], r["id_b"]) for r in approx.collect()}
    unpersist_deps(approx)
    # zero false positives (exact verification step)
    assert approx_pairs <= exact_pairs
    if exact_pairs:
        assert len(approx_pairs) / len(exact_pairs) >= 0.9


def test_cosine_topk_matches_duckdb_oracle(spark):
    """cosine_topk's BLAS kernel against ORACLE_COSINE_TOPK (queries
    vec_id < 25, k=5) replayed in DuckDB over the same parquet: exact
    tuple equality, 6-place rounded scores on both sides."""
    import duckdb

    from batch_process_dpla_index_spark.oracles import ORACLE_COSINE_TOPK

    emb = load_table(spark, SF_DIR, "embeddings")
    got_df = cosine_topk(
        emb, emb.filter(F.col("vec_id") < 25), "vec_id", "embedding", k=5
    )
    got = sorted(map(tuple, got_df.collect()))

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW embeddings AS SELECT * FROM "
        f"read_parquet('{SF_DIR}/embeddings.parquet')"
    )
    want = sorted(map(tuple, con.execute(ORACLE_COSINE_TOPK).fetchall()))
    assert got == want and len(got) > 0


def test_binary_digest_matches_hashlib(spark):
    df = spark.createDataFrame([(1, b"\x89PNGhello"), (2, b"")], "id BIGINT, blob BINARY")
    rows = {r["id"]: r for r in binary_metadata(df, "blob", "id").collect()}
    assert rows[1]["digest"] == hashlib.md5(b"\x89PNGhello").hexdigest()
    assert rows[1]["kind"] == "png" and rows[1]["byte_len"] == 9
    assert rows[2]["byte_len"] == 0 and rows[2]["kind"] == "unknown"


def test_decode_fake_contract(spark):
    payload = b"\xff\xd8\xff\xe0" + bytes(range(100))
    df = spark.createDataFrame([(7, payload)], "id BIGINT, blob BINARY")
    row = decode_images(df, "blob", "id").collect()[0]
    n = len(payload)
    assert row["width"] == 64 + n % 512
    assert row["height"] == 64 + (7 * n) % 512
    assert row["n_pixels"] == row["width"] * row["height"]
    assert abs(row["mean_byte"] - (sum(payload) / n)) < 1e-9
    assert row["decoder"] == "fake"


def test_resize_fake_contract(spark):
    """Letterbox geometry on the deterministic fake dims: scale is
    min(224/w, 224/h), output dims floor'd, aspect preserved (the
    scaled longer side lands exactly on 224 up to floor)."""
    import math

    payload = b"\x89PNG" + bytes(range(200))
    df = spark.createDataFrame([(9, payload)], "id BIGINT, blob BINARY")
    row = resize_images(df, "blob", "id").collect()[0]
    n = len(payload)
    sw, sh = 64 + n % 512, 64 + (7 * n) % 512
    scale = min(224.0 / sw, 224.0 / sh)
    assert row["src_width"] == sw and row["src_height"] == sh
    assert row["width"] == math.floor(sw * scale)
    assert row["height"] == math.floor(sh * scale)
    assert abs(row["scale"] - scale) < 1e-12
    assert max(row["width"], row["height"]) <= 224
    assert row["resizer"] == "fake"
    # NULL blob → empty bytes → the fake's 64×64 floor dims, upscaled
    # to fill the box exactly (no div-by-zero anywhere)
    empty = spark.createDataFrame([(1, None)], "id BIGINT, blob BINARY")
    r0 = resize_images(empty, "blob", "id").collect()[0]
    assert (r0["src_width"], r0["src_height"]) == (64, 64)
    assert (r0["width"], r0["height"], r0["scale"]) == (224, 224, 3.5)


def test_sample_frames_fanout(spark):
    data = bytes(range(256)) * 9  # 9 frames → sampled frame_nos 0,4,8
    df = spark.createDataFrame([(3, data)], "id BIGINT, blob BINARY")
    rows = sample_frames(df, "blob", "id", frame_size=256, stride=4).orderBy("frame_no").collect()
    assert [r["frame_no"] for r in rows] == [0, 4, 8]
    assert rows[1]["offset"] == 4 * 256
    expected = hashlib.md5(data[0:256]).hexdigest()
    assert rows[0]["frame_digest"] == expected


def test_phash_fake_contract(spark):
    """The codec-free blockhash contract: byte i → block floor(i*60/n),
    bit k set iff block_sum*n > total*block_count — verified against a
    direct Python replay, plus the degenerate edges (empty/NULL blob →
    0, constant bytes → 0: strictly-greater never fires on ties)."""
    import pytest

    from batch_process_dpla_index_spark.operators.multimodal import (
        _fake_phash,
        phash_images,
    )

    payload = b"\x89PNG" + bytes((i * 37) % 251 for i in range(300))
    df = spark.createDataFrame(
        [(1, payload), (2, None), (3, b""), (4, b"\x55" * 100)],
        "id BIGINT, blob BINARY",
    )
    got = {r["id"]: r["phash"] for r in phash_images(df, "blob", "id").collect()}
    n = len(payload)
    total = sum(payload)
    expected = 0
    for k in range(60):
        byts = [payload[i] for i in range(n) if (i * 60) // n == k]
        if byts and sum(byts) * n > total * len(byts):
            expected |= 1 << k
    assert got[1] == expected == _fake_phash(payload, 60)
    assert got[2] == 0 and got[3] == 0 and got[4] == 0
    assert 0 < got[1] < (1 << 60)
    with pytest.raises(ValueError, match="1..60"):
        phash_images(df, "blob", "id", bits=64)


def test_image_near_dup_recontainered_twin(spark):
    """A re-containered copy (same payload, different magic) must land
    within the hamming budget and pair with its original; unrelated
    blobs must not pair. Also proves the banded prefilter is lossless
    at 60 bits / 4 bands: the pair's exact hamming ≤ 3 implies band
    agreement by pigeonhole."""
    from batch_process_dpla_index_spark.operators.multimodal import image_near_dup

    payload = bytes((i * 91) % 256 for i in range(400))
    other = bytes((i * 53 + 17) % 256 for i in range(350))
    df = spark.createDataFrame(
        [
            (1, b"\x89PNG" + payload),
            (1_000_000_001, b"\xff\xd8\xff\xe0" + payload),  # re-containered
            (2, b"GIF8" + other),
        ],
        "id BIGINT, blob BINARY",
    )
    out = image_near_dup(df, "blob", "id", bits=60, max_hamming=8)
    rows = out.collect()
    unpersist_deps(out)
    pairs = {(r["id_a"], r["id_b"]): r["hamming"] for r in rows}
    assert (1, 1_000_000_001) in pairs
    assert all(2 not in p for p in pairs)
    assert all(h <= 8 for h in pairs.values())


def test_video_near_dup_shared_frames(spark):
    """Shot-fingerprint dedup contract: a copy sharing most frame
    windows (same payload behind a different 4-byte magic → every
    window past frame 0 byte-identical) pairs with its original at the
    shared-frame count the windows imply; an unrelated blob doesn't;
    and a trimmed copy (suffix dropped) still pairs on the surviving
    shared prefix frames. frame_phash itself is pinned against the
    per-window _fake_phash replay."""
    from batch_process_dpla_index_spark.operators.multimodal import (
        _fake_phash,
        frame_phash,
        video_near_dup,
    )

    payload = bytes((i * 131 + 7) % 256 for i in range(64 * 5))  # 5 frames
    orig = b"\x89PNG" + payload
    recont = b"\xff\xd8\xff\xe0" + payload          # magic swapped
    trimmed = b"\x89PNG" + payload[: 64 * 3]        # last 2 frames gone
    other = bytes((i * 61 + 3) % 256 for i in range(64 * 5 + 4))
    df = spark.createDataFrame(
        [(1, orig), (2, recont), (3, trimmed), (4, other)],
        "id BIGINT, blob BINARY",
    )
    sigs = frame_phash(df, "blob", "id").collect()
    got = {(r["id"], r["frame_no"]): r["phash"] for r in sigs}
    # fan-out: 5 full frames for ids 1/2/4, 3 for the trimmed copy
    assert sum(1 for k in got if k[0] == 1) == 5
    assert sum(1 for k in got if k[0] == 3) == 3
    assert got[(1, 0)] == _fake_phash(orig[0:64], 60)
    assert got[(1, 2)] == _fake_phash(orig[128:192], 60)
    # frames 1+ of the re-containered copy are byte-identical to orig's
    assert got[(1, 1)] == got[(2, 1)] and got[(1, 4)] == got[(2, 4)]

    out = video_near_dup(df, "blob", "id", min_shared=2)
    pairs = {(r["id_a"], r["id_b"]): r["n_shared"] for r in out.collect()}
    unpersist_deps(out)
    assert pairs[(1, 2)] == 4          # frames 1-4 shared, frame 0 differs
    assert pairs[(1, 3)] >= 2          # shared prefix survives trimming
    assert all(4 not in p for p in pairs)


def test_audio_pcm_stats_contract(spark):
    """Signed-LE-int16 waveform arithmetic on a hand-built PCM blob:
    exact peak / zero-crossing / RMS, trailing odd byte ignored,
    empty/NULL blob → the zero row."""
    import math
    import struct

    from batch_process_dpla_index_spark.operators.multimodal import (
        audio_pcm_stats,
    )

    samples = [0, 1000, -2000, 30000, -30001, 5, -5, 0]
    blob = struct.pack("<8h", *samples) + b"\x7f"  # trailing odd byte
    df = spark.createDataFrame(
        [(1, blob), (2, None), (3, b"\x01")],  # 3: single byte → 0 samples
        "id BIGINT, blob BINARY",
    )
    rows = {r["id"]: r for r in audio_pcm_stats(df, "blob", "id").collect()}
    r = rows[1]
    assert r["n_samples"] == 8 and r["peak"] == 30001
    # sign flips (>=0 boundary): 1000→-2000, -2000→30000, 30000→-30001,
    # -30001→5, 5→-5, -5→0  → 6 crossings ([0,1000] stays non-negative)
    assert r["zero_crossings"] == 6
    assert abs(r["rms"] - round(
        math.sqrt(sum(s * s for s in samples) / 8), 6)) < 1e-12
    for empty_id in (2, 3):
        z = rows[empty_id]
        assert (z["n_samples"], z["peak"], z["zero_crossings"], z["rms"]) == (
            0, 0, 0, 0.0)


def test_connected_components_fixpoint(spark):
    """Chain + triangle + isolated pair → exact clusters."""
    from batch_process_dpla_index_spark.operators.dedup import (
        connected_components,
        dedup_survivors,
    )

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (10, 12), (20, 21)],
        "id_a BIGINT, id_b BIGINT",
    )
    got = {r["node"]: r["cluster"] for r in connected_components(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 12: 10, 20: 20, 21: 20}
    corpus = spark.range(0, 30).withColumnRenamed("id", "doc_id")
    kept = dedup_survivors(corpus, pairs, "doc_id")
    kept_ids = {r["doc_id"] for r in kept.collect()}
    # representatives survive, other members don't, unpaired rows survive
    assert {1, 10, 20} <= kept_ids
    assert kept_ids.isdisjoint({2, 3, 4, 11, 12, 21})
    assert 25 in kept_ids and len(kept_ids) == 30 - 6


def test_ivf_recall_vs_exact(spark):
    """IVF top-1 recall over the exact top-1 (16 cells / 4 probes on
    near-random 64-dim vectors still finds most true nearest
    neighbors; bound kept loose — this guards wiring, not tuning)."""
    from batch_process_dpla_index_spark.operators.similarity import ivf_topk

    emb = load_table(spark, SF_DIR, "embeddings")
    exact = cosine_topk(emb, emb, "vec_id", "embedding", k=1)
    got = ivf_topk(emb, "vec_id", "embedding", dim=64, k=1, n_cells=16, n_probe=4)
    e = {(r["query_id"], r["neighbor_id"]) for r in exact.collect()}
    g = {(r["query_id"], r["neighbor_id"]) for r in got.collect()}
    assert len(g & e) / len(e) >= 0.3


def test_zscore_per_group(spark):
    """applyInPandas z-score equals the window-expression form."""
    from batch_process_dpla_index_spark.operators.grouped import normalize_per_group
    from pyspark.sql.window import Window

    ev = load_table(spark, SF_DIR, "events")
    got = normalize_per_group(ev).select(
        "event_id", F.round("zscore", 6).alias("z")
    )
    w = Window.partitionBy("user_id")
    want = ev.select(
        "event_id",
        F.round(
            (F.col("value") - F.avg("value").over(w)) / F.stddev_pop("value").over(w), 6
        ).alias("z"),
    )
    assert got.exceptAll(want).count() == 0 and want.exceptAll(got).count() == 0


def test_salted_join_on_skewed_data(spark):
    """Skew demo: 90% of the big side carries ONE key; the salted join
    must equal the plain join exactly while spreading that key over 8
    salt partitions."""
    from batch_process_dpla_index_spark.operators.relational import salted_join

    big = spark.range(0, 20000).selectExpr(
        "CASE WHEN id % 10 < 9 THEN 777 ELSE id % 50 END AS k", "id AS payload"
    )
    small = spark.range(0, 50).selectExpr("id AS k", "concat('v', id) AS label")
    got = salted_join(big, small, "k", n_salts=8)
    want = big.join(small, "k")
    assert got.count() == want.count()
    assert got.exceptAll(want).count() == 0 and want.exceptAll(got).count() == 0


def test_as_of_join_edges(spark):
    """Exact-timestamp match wins (backward-inclusive); no prior right
    row → NULLs; values come from the same matched row."""
    from datetime import datetime

    from batch_process_dpla_index_spark.operators.relational import as_of_join

    t = lambda m: datetime(2024, 1, 1, 0, m)
    left = spark.createDataFrame(
        [(1, 100, t(5)), (2, 100, t(10)), (3, 100, t(2)), (4, 200, t(30))],
        "eid BIGINT, k BIGINT, ts TIMESTAMP",
    )
    right = spark.createDataFrame(
        [(100, t(5), 50.0, "a"), (100, t(9), 90.0, "b"), (200, t(31), 1.0, "c")],
        "k BIGINT, ts TIMESTAMP, v DOUBLE, tag STRING",
    )
    out = {
        r["eid"]: (r["v"], r["tag"])
        for r in as_of_join(left, right, "k", "ts", "ts", ["v", "tag"]).collect()
    }
    assert out[1] == (50.0, "a")   # exact-ts right row matches
    assert out[2] == (90.0, "b")   # latest at-or-before 10 → 9
    assert out[3] == (None, None)  # before any right row
    assert out[4] == (None, None)  # right row is in the future


def test_jaccard_hot_shingle_cap(spark):
    """A degenerate shared shingle (every doc identical short text)
    must be droppable via max_posting: with the cap below the corpus
    size, the all-pairs zone disappears; with the default cap it
    behaves exactly like the uncapped join."""
    rows = [(i, "common words here") for i in range(40)] + [
        (100, "a genuinely different document about something else entirely"),
        (101, "a genuinely different document about something else entirely"),
    ]
    df = spark.createDataFrame(rows, "doc_id BIGINT, text STRING")
    capped = jaccard_pairs(df, "text", "doc_id", n=3, threshold=0.5, max_posting=10)
    got = {(r["id_a"], r["id_b"]) for r in capped.collect()}
    unpersist_deps(capped)
    # the 40-doc clique (780 pairs) is defused; the pair sharing a
    # sub-cap shingle survives
    assert got == {(100, 101)}
    full = jaccard_pairs(df, "text", "doc_id", n=3, threshold=0.5)
    n_full = full.count()
    unpersist_deps(full)
    assert n_full == 780 + 1


def test_dedup_survivors_majority_dups(spark):
    """>50% of the corpus is clustered away — the losers frame is NOT
    small; the anti-join must neither force a broadcast nor change
    results."""
    from batch_process_dpla_index_spark.operators.dedup import dedup_survivors

    # 100 rows; ids 0..79 form 8 chains of 10 → 8 survivors + 20 singles
    pairs = spark.createDataFrame(
        [(c * 10 + i, c * 10 + i + 1) for c in range(8) for i in range(9)],
        "id_a BIGINT, id_b BIGINT",
    )
    corpus = spark.range(0, 100).withColumnRenamed("id", "doc_id")
    kept = dedup_survivors(corpus, pairs, "doc_id")
    plan = kept._jdf.queryExecution().analyzed().toString()
    assert "ResolvedHint" not in plan, plan  # no forced broadcast hint
    ids = {r["doc_id"] for r in kept.collect()}
    assert ids == {c * 10 for c in range(8)} | set(range(80, 100))


def test_connected_components_warns_at_max_iter(spark, monkeypatch):
    import warnings

    import batch_process_dpla_index_spark.operators.dedup as dd

    # the max_iter warning belongs to the DISTRIBUTED loop (the driver
    # union-find computes the exact closure and never under-iterates)
    # — pin the tier off so the loop contract stays covered
    monkeypatch.setattr(dd, "_CC_DRIVER_MAX_EDGES", 0)
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(12)], "id_a BIGINT, id_b BIGINT"
    )
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        dd.connected_components(chain, max_iter=2).collect()
    assert any("max_iter" in str(x.message) for x in w)


def test_connected_components_driver_tier_matches_distributed(spark, monkeypatch):
    """The r17 driver-side union-find tier must label every node with
    the IDENTICAL cluster id the distributed min-label fixpoint
    converges to (min reachable id is a unique fixpoint — no edge
    ordering or batching can change it), or clustering results would
    depend on the pair count crossing ``_CC_DRIVER_MAX_EDGES``."""
    import batch_process_dpla_index_spark.operators.dedup as dd

    pairs = spark.createDataFrame(
        # chain + triangle + isolated pair + duplicate/self edges
        [(1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (10, 12),
         (20, 21), (21, 20), (7, 7)],
        "id_a BIGINT, id_b BIGINT",
    )
    a = dd.connected_components(pairs)
    got_a = sorted((r["node"], r["cluster"]) for r in a.collect())
    assert "LocalTableScan" in a._jdf.queryExecution().executedPlan().toString()
    monkeypatch.setattr(dd, "_CC_DRIVER_MAX_EDGES", 0)
    b = dd.connected_components(pairs)
    got_b = sorted((r["node"], r["cluster"]) for r in b.collect())
    dd.unpersist_deps(b)
    assert got_a == got_b
    assert got_a[:4] == [(1, 1), (2, 1), (3, 1), (4, 1)]


def test_cosine_and_pq_topk_drop_null_ids(spark):
    """A row with a NULL id is neither a query nor a neighbor of the
    exact cosine and ADC top-k (it used to serve as neighbor -2^63, and
    a NULL query id raised a TypeError); a NULL vector still raises."""
    import pytest

    from batch_process_dpla_index_spark.operators.quantization import pq_topk

    ddl = "vec_id BIGINT, embedding ARRAY<DOUBLE>"
    corpus = spark.createDataFrame(
        [(1, [1.0, 0.0]), (None, [1.0, 0.1]), (3, [0.0, 1.0])], ddl
    )
    got = sorted(map(tuple, cosine_topk(corpus, corpus, k=2).collect()))
    assert [(q, n) for q, n, _s, _r in got] == [(1, 3), (3, 1)]

    books = [[[1.0, 0.0], [0.0, 1.0]]]  # one 2-centroid sub-codebook
    got = pq_topk(corpus, books, k=2, n_queries=None).collect()
    assert {r["query_id"] for r in got} == {1, 3}
    assert {r["neighbor_id"] for r in got} <= {1, 3}

    # an empty or all-NULL-id input is an empty result on both (pq_topk
    # used to raise IndexError building the ADC tables of no queries)
    for no_ids in (corpus.limit(0), corpus.where("vec_id IS NULL")):
        assert cosine_topk(no_ids, no_ids, k=2).collect() == []
        empty = pq_topk(no_ids, books, k=2, n_queries=None)
        assert empty.columns == ["query_id", "neighbor_id", "dist2", "rnk"]
        assert empty.collect() == []

    null_vec = spark.createDataFrame([(1, [1.0, 0.0]), (2, None)], ddl)
    with pytest.raises(Exception, match="NULL row"):
        cosine_topk(null_vec, corpus.limit(1), k=2).collect()


def test_cosine_topk_default_plan_is_map_in_arrow(spark):
    emb = load_table(spark, SF_DIR, "embeddings")
    q = emb.filter(F.col("vec_id") < 5)
    df = cosine_topk(emb, q, "vec_id", "embedding", k=3)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "MapInArrow" in plan and "MapInPandas" not in plan, plan


def test_vector_matrix_guard():
    """``flatten()`` drops NULL rows, so a bare reshape would mis-shape
    the matrix (two rows at dim 4 with one NULL reshape to (2, 2)):
    the decode refuses NULL, ragged and wrong-width rows by name."""
    import numpy as np
    import pyarrow as pa
    import pytest

    from batch_process_dpla_index_spark.operators.relational import _vector_matrix

    def batch(rows):
        return pa.RecordBatch.from_arrays(
            [pa.array(rows, pa.list_(pa.float32()))], ["embedding"]
        )

    for rows, dim, msg in (
        ([[1, 2, 3, 4], None], 4, "NULL"),
        ([[1, 2, 3, 4], [1, 2]], None, "different lengths"),
        ([[1, 2], [3, 4]], 4, "expected 4"),
    ):
        with pytest.raises(ValueError, match=f"'embedding'.*{msg}"):
            _vector_matrix(batch(rows), "embedding", dim=dim)
    # a sliced batch decodes its own rows; dtype=None keeps float32
    got = _vector_matrix(batch([[1, 2], [3, 4], [5, 6]]).slice(1), "embedding")
    assert got.dtype == np.float64 and got.tolist() == [[3, 4], [5, 6]]
    assert _vector_matrix(batch([[1, 2]]), "embedding", None).dtype == np.float32


def test_vector_kernels_name_a_bad_vector_column(spark):
    """A NULL vector, a ragged row, and a row of the wrong length fail
    the kernel with a ValueError naming the column (not a bare numpy
    matmul error from inside the worker); ``pq_encode`` keeps its
    m*dsub contract message for the wrong width."""
    import pytest

    from batch_process_dpla_index_spark.operators.clustering import kmeans_assign
    from batch_process_dpla_index_spark.operators.quantization import (
        pq_encode,
        pq_pinned_codebooks,
    )
    from batch_process_dpla_index_spark.operators.similarity import ivf_cells_pandas

    v64 = [0.5] * 64
    cases = {
        "NULL": [(1, v64), (2, None)],
        "different lengths": [(1, v64), (2, [0.5] * 63)],
        "expected 64": [(1, [0.5] * 32), (2, [0.25] * 32)],
    }
    kernels = {
        "ivf_cells_pandas": lambda df: ivf_cells_pandas(
            df, "vec_id", "embedding", 64, 4, 2
        ),
        "kmeans_assign": lambda df: kmeans_assign(df, [v64, [0.0] * 64]),
        "pq_encode": lambda df: pq_encode(df, pq_pinned_codebooks()),
    }
    for name, kernel in kernels.items():
        for msg, rows in cases.items():
            df = spark.createDataFrame(
                rows, "vec_id bigint, embedding array<float>"
            ).repartition(1)
            if name == "pq_encode" and msg == "expected 64":
                msg = "vector dim 32 != m\\*dsub"
            with pytest.raises(Exception, match=f"ValueError: .*'embedding'.*{msg}"):
                kernel(df).collect()


def test_arrow_map_builds_declared_types(spark):
    """``mapInArrow`` does not coerce, so the seam builds each column
    with the DDL's Arrow type: an int32 numpy column declared bigint, a
    2-D int array declared array<int>, a passed-through (and taken)
    Arrow column, NaN as NULL; empty input emits nothing, and the
    kernel never sees an empty batch."""
    import numpy as np

    from batch_process_dpla_index_spark.operators.relational import (
        _arrow_map,
        _vector_matrix,
    )

    df = spark.createDataFrame(
        [(1, [1.0, 2.0]), (2, [3.0, 0.0])], "id int, vec array<float>"
    ).repartition(1)
    ddl = "id bigint, cells array<int>, vec array<float>, ratio double"

    def fn(batch):
        assert batch.num_rows
        mat = _vector_matrix(batch, "vec")
        return {
            "id": batch.column("id").to_numpy().astype("int32"),
            "cells": (mat * 2).astype("int64"),
            "vec": batch.column("vec").take(np.arange(batch.num_rows)[::-1]),
            "ratio": np.where(mat[:, 1] == 0, np.nan, 0.0),
        }

    got = sorted(tuple(r) for r in _arrow_map(df, fn, ddl).collect())
    assert got == [(1, [2, 4], [3.0, 0.0], 0.0), (2, [6, 0], [1.0, 2.0], None)]
    assert _arrow_map(df.where("id > 5"), fn, ddl).collect() == []
    assert _arrow_map(df, lambda batch: None, ddl).collect() == []


def test_map_in_pandas_sites_are_the_pandas_kernels():
    """Every embedding kernel goes through the one ``mapInArrow`` seam
    (`relational._arrow_map`). ``mapInPandas`` stays only where pandas
    semantics are the point: the multimodal byte decoders, the
    Misra-Gries fold (``value_counts`` order) and the MinHash partial
    fold (``factorize``). A new site fails here with file:line."""
    import ast
    import pathlib

    allowed = {
        ("multimodal.py", "decode_images"),
        ("multimodal.py", "resize_images"),
        ("multimodal.py", "phash_images"),
        ("multimodal.py", "frame_phash"),
        ("multimodal.py", "audio_pcm_stats"),
        ("multimodal.py", "sample_frames"),
        ("multimodal.py", "audio_phash"),
        ("sketches.py", "mg_summaries"),
        ("dedup.py", "source_sig_from_postings"),
    }
    root = pathlib.Path(__file__).resolve().parents[1] / "batch_process_dpla_index_spark"
    found, stray = set(), []
    for path in sorted(root.rglob("*.py")):
        for top in ast.parse(path.read_text(encoding="utf-8")).body:
            for node in ast.walk(top):
                if (
                    isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                    and node.func.attr == "mapInPandas"
                ):
                    site = (path.name, getattr(top, "name", "<module>"))
                    if site in allowed:
                        found.add(site)
                    else:
                        stray.append(f"{path.relative_to(root.parent)}:{node.lineno}")
    assert not stray, "mapInPandas outside the pandas kernels: " + ", ".join(stray)
    assert found == allowed


def test_chunk_structs_edges(spark):
    """Empty doc → no chunks; short doc → one whole-doc chunk; exact
    64-token doc → one chunk; 65 tokens → two overlapping chunks whose
    overlap region matches."""
    from batch_process_dpla_index_spark.functions.text import chunk_structs

    texts = [
        (1, ""),
        (2, "a b c"),
        (3, " ".join(f"t{i}" for i in range(64))),
        (4, " ".join(f"t{i}" for i in range(65))),
    ]
    df = spark.createDataFrame(texts, "id BIGINT, text STRING")
    out = df.select(
        "id", F.explode_outer(chunk_structs(tokens(F.col("text")), 64, 16)).alias("c")
    ).collect()
    by_id = {}
    for r in out:
        by_id.setdefault(r["id"], []).append(r["c"])
    assert by_id[1] == [None]  # explode_outer of empty array
    assert len(by_id[2]) == 1 and by_id[2][0]["chunk_text"] == "a b c"
    assert len(by_id[3]) == 1 and by_id[3][0]["n_tokens"] == 64
    assert len(by_id[4]) == 2
    c0, c1 = sorted(by_id[4], key=lambda c: c["chunk_no"])
    assert c0["n_tokens"] == 64 and c1["n_tokens"] == 17
    # 16-token overlap: chunk 1 starts at token 48
    assert c1["chunk_text"].split()[0] == "t48"
    assert c0["chunk_text"].split()[48:] == c1["chunk_text"].split()[:16]


def test_pack_sequences_contract(spark):
    """Greedy packing: no bin exceeds the budget unless a single item
    does; order is preserved (bins are monotone in item order);
    deterministic across runs."""
    from batch_process_dpla_index_spark.operators.grouped import pack_sequences

    rows = []
    for g in ("a", "b"):
        for i, t in enumerate([100, 200, 300, 250, 600, 50, 50, 50]):
            rows.append((g, i, i, t))
    df = spark.createDataFrame(rows, "src STRING, cid BIGINT, ord INT, toks BIGINT")
    out = pack_sequences(df, "src", "cid", "ord", "toks", budget=512)
    rows_a = sorted(
        [r for r in out.collect() if r["group"] == "a"], key=lambda r: r["item_id"]
    )
    # greedy walk: [100,200]=300 | [300] | [250] | [600] | [50,50,50]
    assert [r["bin"] for r in rows_a] == [0, 0, 1, 2, 3, 4, 4, 4]
    # bins within budget except the 600-token single item
    import collections

    tot = collections.Counter()
    for r in rows_a:
        tot[r["bin"]] += r["n_tokens"]
    for b, t in tot.items():
        assert t <= 512 or (t == 600)
    again = pack_sequences(df, "src", "cid", "ord", "toks", budget=512)
    assert out.exceptAll(again).count() == 0


def test_incremental_dedup_finds_batch_dups_only(spark):
    from batch_process_dpla_index_spark.operators.dedup import incremental_dedup

    corpus = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog again and again today"),
            (2, "completely different corpus content about parquet footers and stats"),
        ],
        "doc_id bigint, text string",
    )
    new = spark.createDataFrame(
        [
            # near-dup of corpus doc 1 (one token appended: J = 10/11,
            # far above the 16-band S-curve knee — deterministic hit)
            (10, "the quick brown fox jumps over the lazy dog again and again today ok"),
            # novel
            (11, "entirely novel text with no overlap whatsoever in any shingle"),
        ],
        "doc_id bigint, text string",
    )
    got = incremental_dedup(new, corpus, "text", "doc_id", threshold=0.3).collect()
    assert len(got) == 1
    assert got[0]["new_id"] == 10 and got[0]["dup_of"] == 1
    assert 0.3 <= got[0]["jaccard"] < 1.0


def test_bm25_ranking_semantics(spark):
    from batch_process_dpla_index_spark.operators.ranking import bm25_topk

    docs = spark.createDataFrame(
        [
            (1, "spark spark spark engine"),
            (2, "spark engine"),
            (3, "engine only here"),
            (4, "completely unrelated words appear"),
        ],
        "doc_id long, text string",
    )
    out = bm25_topk(docs, "spark", k=10).collect()
    # Only docs containing a query term are scored.
    assert [r.id for r in out[:2]] == [1, 2]
    assert {r.id for r in out} == {1, 2}
    assert out[0].score > out[1].score > 0
    # Rare-term idf dominates: doc 3 wins a two-term query on its rare term.
    out2 = bm25_topk(docs, "engine only", k=10).collect()
    assert out2[0].id == 3


def test_bm25_plan_broadcasts_term_filter(docs):
    from batch_process_dpla_index_spark.operators.ranking import bm25_topk

    plan = bm25_topk(docs, "spark query join fast", k=20)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    # Top-k must be a TakeOrdered merge, not a global Sort+Exchange.
    assert "TakeOrderedAndProject" in plan


def test_sentence_dedup_keep_first_and_reassembly(spark):
    from batch_process_dpla_index_spark.operators.dedup import sentence_dedup

    docs = spark.createDataFrame(
        [
            (1, "alpha beta. common footer. unique one"),
            (2, "common footer. second body"),
            (3, "common footer"),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in sentence_dedup(docs).collect()}
    # doc 1 hosts the footer's first occurrence and keeps everything
    assert out[1].text == "alpha beta. common footer. unique one"
    assert out[1].n_dropped == 0 and out[1].n_sentences == 3
    # later hosts lose it but keep their own content, order preserved
    assert out[2].text == "second body" and out[2].n_dropped == 1
    # a doc that was ALL duplicates reassembles to empty, not NULL
    assert out[3].text == "" and out[3].n_dropped == 1


def test_sentence_dedup_window_path_matches_agg_path(spark, docs_small):
    """max_occurrences=1 via the min-struct aggregate must equal the
    row_number-window formulation (the k>1 fallback) on real text."""
    from batch_process_dpla_index_spark.operators.dedup import sentence_dedup

    d = docs_small.select("doc_id", "text")
    agg_path = sentence_dedup(d, max_occurrences=1)
    # force the window path with k=1 semantics by monkey-free means:
    # k=2 on a corpus whose sentences never repeat within a doc reduces
    # to k=1 only for cross-doc dups — so compare k=1 against an
    # explicit window-side recomputation instead
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    sents = d.select(
        F.col("doc_id").alias("__did"),
        F.posexplode(F.split("text", "\\Q. \\E", -1)).alias("pos", "sent"),
    )
    w = Window.partitionBy("sent").orderBy("__did", "pos")
    want_kept = sents.withColumn("occ", F.row_number().over(w)).where(
        F.col("occ") <= 1
    )
    got_total = agg_path.agg(
        F.sum("n_sentences").alias("s"), F.sum("n_dropped").alias("d")
    ).first()
    assert got_total.s - got_total.d == want_kept.count()


def test_sentence_dedup_null_text_still_returned(spark):
    from batch_process_dpla_index_spark.operators.dedup import sentence_dedup

    docs = spark.createDataFrame(
        [(1, "real content"), (2, None)], "doc_id long, text string"
    )
    out = {r.doc_id: r for r in sentence_dedup(docs).collect()}
    assert set(out) == {1, 2}  # NULL-text doc does NOT vanish
    assert out[2].n_sentences == 1  # one empty "sentence"


def test_tfidf_terms_rank_and_values(spark):
    from batch_process_dpla_index_spark.operators.ranking import tfidf_top_terms

    docs = spark.createDataFrame(
        [
            (1, "apple apple banana"),
            (2, "banana cherry"),
            (3, "cherry date date date"),
        ],
        "doc_id long, text string",
    )
    out = tfidf_top_terms(docs, "doc_id", "text", k=2).collect()
    import math

    by_doc = {}
    for r in out:
        by_doc.setdefault(r["id"], []).append(r)
    # doc 1: apple tf=2 df=1 -> 2*ln(3); banana tf=1 df=2 -> ln(1.5)
    top1 = sorted(by_doc[1], key=lambda r: r["rnk"])[0]
    assert top1["term"] == "apple" and top1["tf"] == 2 and top1["df"] == 1
    assert abs(top1["tfidf"] - round(2 * math.log(3.0), 6)) < 1e-9
    # doc 3: date tf=3 df=1 dominates
    assert sorted(by_doc[3], key=lambda r: r["rnk"])[0]["term"] == "date"
    assert all(len(v) <= 2 for v in by_doc.values())


def test_semdedup_marks_smaller_id_twins(spark):
    from batch_process_dpla_index_spark.operators.dedup import (
        semdedup,
        unpersist_deps,
    )

    # two tight groups far apart; within each group vectors are nearly
    # parallel (cosine ~1), across groups orthogonal
    rows = [
        (1, [1.0, 0.0, 0.0, 0.0]),
        (2, [0.999, 0.01, 0.0, 0.0]),
        (3, [0.0, 1.0, 0.0, 0.0]),
        (4, [0.0, 0.999, 0.02, 0.0]),
        (5, [0.0, 0.0, 1.0, 0.0]),
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = semdedup(emb, "vec_id", "embedding", k=2, n_iter=2, threshold=0.9)
    got = {r["id"]: (r["n_close"], r["kept"]) for r in out.collect()}
    unpersist_deps(out)
    # the smallest id of each near-parallel pair survives; its twin is
    # marked. 5 is alone in space -> kept regardless of cell.
    assert got[1] == (0, True)
    assert got[2][0] >= 1 and got[2][1] is False
    assert got[3][1] in (True, False)  # depends on 3/4 cell split
    assert got[5][1] is True


def test_semantic_dedup_transitive_groups_and_prototype(spark):
    """The contract that separates semantic_dedup from semdedup: a
    similarity CHAIN a~b~c collapses into ONE group even though a and
    c are not directly similar, and the kept representative is the
    member closest to the cell centroid (here the chain's middle
    vector), not the min id."""
    import math

    from batch_process_dpla_index_spark.operators.dedup import (
        semantic_dedup,
        unpersist_deps,
    )

    c30, s30 = math.cos(math.pi / 6), math.sin(math.pi / 6)
    c60, s60 = math.cos(math.pi / 3), math.sin(math.pi / 3)
    rows = [
        # chain: cos(1,2)=cos(2,3)=cos30°≈0.866 >= 0.85 but
        # cos(1,3)=cos60°=0.5 < 0.85 — only transitivity groups them
        (1, [1.0, 0.0, 0.0, 0.0]),
        (2, [c30, s30, 0.0, 0.0]),
        (3, [c60, s60, 0.0, 0.0]),
        # isolated: orthogonal to everything
        (4, [0.0, 0.0, 0.0, 1.0]),
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    # k=1: a single cell, so the grouping is pure pair-graph structure
    # and the centroid is the global mean — representative expectation
    # computable by hand (vector 2 sits mid-chain, nearest the mean)
    out = semantic_dedup(emb, "vec_id", "embedding", k=1, n_iter=2, threshold=0.85)
    got = {r["id"]: r for r in out.collect()}
    unpersist_deps(out)
    assert {got[i]["group_id"] for i in (1, 2, 3)} == {1}
    assert all(got[i]["group_size"] == 3 for i in (1, 2, 3))
    assert got[4]["group_id"] == 4 and got[4]["group_size"] == 1
    assert got[4]["kept"] is True
    # prototype selection: the chain's representative is 2 (closest to
    # the centroid), NOT the min id 1 — semdedup would have kept 1
    assert [got[i]["kept"] for i in (1, 2, 3)] == [False, True, False]
    assert got[2]["d2_centroid"] == min(got[i]["d2_centroid"] for i in (1, 2, 3))


def test_semantic_dedup_fixture_invariants(spark):
    """On the real embeddings fixture: exactly one representative per
    group, group_size consistent with membership, and the kept row
    carries its group's minimum centroid distance."""
    from batch_process_dpla_index_spark.operators.dedup import (
        semantic_dedup,
        unpersist_deps,
    )
    from batch_process_dpla_index_spark.sources.tables import load_table
    from tests.conftest import SF_DIR

    emb = load_table(spark, SF_DIR, "embeddings")
    out = semantic_dedup(emb, "vec_id", "embedding", k=32, n_iter=3, threshold=0.3)
    agg = (
        out.groupBy("group_id")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("kept").cast("int")).alias("n_kept"),
            F.max("group_size").alias("gs"),
            F.min("group_size").alias("gs2"),
            F.min("d2_centroid").alias("min_d2"),
            F.min(F.when(F.col("kept"), F.col("d2_centroid"))).alias("kept_d2"),
        )
        .collect()
    )
    unpersist_deps(out)
    assert len(agg) > 0 and any(r["n"] > 1 for r in agg)
    for r in agg:
        assert r["n_kept"] == 1
        assert r["gs"] == r["gs2"] == r["n"]
        assert r["kept_d2"] == r["min_d2"]


def test_dedup_parameter_guards(spark):
    """Round-6 review guards: silently-degrading parameter combos now
    fail loudly; NULL text shingles to NULL (not [])."""
    import pytest as _pytest

    from batch_process_dpla_index_spark.operators.dedup import (
        minhash_lsh_pairs,
        shingle_sets,
        simhash,
    )
    from pyspark.sql import functions as F

    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta"), (2, None)], ["id", "text"]
    )
    # bands must divide num_perm (rows=0 would silently return no pairs)
    with _pytest.raises(ValueError, match="bands"):
        minhash_lsh_pairs(docs, "text", "id", num_perm=8, bands=16)
    with _pytest.raises(ValueError, match="bands"):
        minhash_lsh_pairs(docs, "text", "id", num_perm=64, bands=10)
    # simhash is 60-bit (h60 width); 64 would silently zero bits 61-63
    with _pytest.raises(ValueError, match="bits"):
        simhash(F.col("text"), bits=64)
    # NULL text → NULL shingles (what the oracles' array_distinct(
    # word_shingles(NULL)) yields), non-empty text → its shingles
    got = {r.id: r.shingles for r in shingle_sets(docs, "text", "id").collect()}
    assert got[2] is None
    assert got[1] == ["alpha beta gamma", "beta gamma delta"]


def test_quality_gate_rejects_unknown_stopword_lang(spark):
    from batch_process_dpla_index_spark.operators.curation import quality_gate

    docs = spark.createDataFrame([(1, "le chat est sur la table")], ["doc_id", "text"])
    import pytest as _pytest

    with _pytest.raises(ValueError, match="stopword"):
        quality_gate(docs, lang="xx")
    # a supported non-English lang scores by ITS stopwords
    out = quality_gate(docs, lang="fr", gates={"min_stopword_ratio": 0.3}).collect()
    assert len(out) == 1  # French text passes a French stopword gate


def test_tokens_no_empty_strings_on_boundary_whitespace(spark):
    """Spark trim strips only 0x20: 'hello world\\n' used to tokenize
    to ['hello','world',''] and a newline-only doc to ['',''] — empty
    tokens inflated counts and made all whitespace-only docs
    Jaccard-match each other (the round-1 blank-doc defect, reopened).
    Both engines now agree on the no-empties contract."""
    from batch_process_dpla_index_spark.functions.text import normalize, tokens

    df = spark.createDataFrame(
        [(1, "hello world\n"), (2, "\n"), (3, "\tabc"), (4, "a\n\nb"), (5, "")],
        ["id", "text"],
    )
    got = {
        r.id: (r.tok, r.nrm)
        for r in df.select(
            "id", tokens("text").alias("tok"), normalize("text").alias("nrm")
        ).collect()
    }
    assert got[1] == (["hello", "world"], "hello world")
    assert got[2] == ([], "")  # whitespace-only: empty, not ['','']
    assert got[3] == (["abc"], "abc")
    assert got[4] == (["a", "b"], "a b")
    assert got[5] == ([], "")


def test_funnel_null_ts_events_are_excluded(spark):
    """A NULL-ts step-1 event used to poison the fold (acc.t IS NULL
    doubled as the initial-state test, disabling strict ordering for
    the rest of the chain). NULL-ts events now never enter the funnel,
    matching the oracle's min/strict-join semantics."""
    import datetime as dt

    from batch_process_dpla_index_spark.operators.analytics import funnel_stages

    t = lambda m: dt.datetime(2024, 1, 1, 0, m)  # noqa: E731
    rows = [
        # user 1: NULL-ts signup, then out-of-order events — must NOT
        # sail through all stages on the poisoned state
        (1, None, "signup"), (1, t(10), "click"), (1, t(11), "view"),
        (1, t(10), "purchase"),
        # user 2: clean strictly-increasing full funnel
        (2, t(1), "signup"), (2, t(2), "view"), (2, t(3), "click"),
        (2, t(4), "purchase"),
    ]
    ev = spark.createDataFrame(rows, "user_id BIGINT, ts TIMESTAMP, event_type STRING")
    got = {r.stage: r.n_users for r in funnel_stages(ev).collect()}
    # user 1 has no non-NULL signup → reaches nothing; user 2 reaches 4
    assert got == {1: 1, 2: 1, 3: 1, 4: 1}


def test_bloom_prune_join_exact_and_selective(spark):
    from pyspark.sql import functions as F

    from batch_process_dpla_index_spark.operators.relational import (
        bloom_bitmap,
        bloom_prune_join,
    )
    from batch_process_dpla_index_spark.functions.text import h60

    fact = spark.createDataFrame(
        [(i, i % 100) for i in range(2000)], "row_id bigint, k bigint"
    )
    dim = spark.createDataFrame([(3,), (7,), (42,)], "dk bigint")
    got = sorted(
        r["row_id"]
        for r in bloom_prune_join(fact, dim, "k", "dk", m_bits=1 << 12).collect()
    )
    want = sorted(
        r["row_id"] for r in fact.join(dim, fact["k"] == dim["dk"]).collect()
    )
    assert got == want and len(got) == 60  # exact: no FNs, FPs removed

    # the bitmap itself: every dim key's probes must hit (no false
    # negatives by construction), and a dense non-key mostly misses
    bm = bloom_bitmap(dim, "dk", m_bits=1 << 12).collect()[0]["__bloom"]

    def probes(key: int, m_bits: int = 1 << 12, k_hashes: int = 3):
        import hashlib

        out = []
        for i in range(k_hashes):
            h = int(
                hashlib.md5(f"bloom:{i}:{key}".encode()).hexdigest()[:15], 16
            )
            out.append(h % m_bits)
        return out

    def member(key: int) -> bool:
        return all((bm[p // 64] >> (p % 64)) & 1 for p in probes(key))

    assert all(member(k) for k in (3, 7, 42))
    fp = sum(member(k) for k in range(1000, 3000))
    assert fp < 40  # ~3 set keys in 4096 bits -> tiny FP rate


def test_hard_negatives_excludes_same_label_and_self(spark):
    from batch_process_dpla_index_spark.operators.similarity import (
        hard_negatives,
    )

    rows = [
        (1, [1.0, 0.0], 0),
        (2, [0.99, 0.1], 0),   # same label as 1 -> never its negative
        (3, [0.9, 0.2], 1),    # closest different-label vector
        (4, [0.0, 1.0], 1),    # orthogonal -> ranks below 3
        (5, [0.95, 0.05], None),  # NULL label serves as a negative
    ]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>, label int")
    out = hard_negatives(df, df.filter("vec_id = 1"), k=3).collect()
    ids = [r["neighbor_id"] for r in out]
    assert 2 not in ids and 1 not in ids
    assert ids[0] == 5  # NULL label, most similar different-label vector
    assert ids[1] == 3 and out[0]["rank"] == 1
    assert all(r["query_id"] == 1 for r in out)


def test_bloom_prune_join_non_word_aligned_m_bits(spark):
    from batch_process_dpla_index_spark.operators.relational import (
        bloom_prune_join,
    )

    # m_bits=100 needs a ceil'd 2-word bitmap: a floored build dropped
    # bits [64, 100) and the probe crashed (ANSI) or silently lost
    # matching rows (non-ANSI) — the one guarantee bloom must never break
    fact = spark.createDataFrame(
        [(i, i % 50) for i in range(500)], "row_id bigint, k bigint"
    )
    dim = spark.createDataFrame([(3,), (7,)], "dk bigint")
    got = bloom_prune_join(fact, dim, "k", "dk", m_bits=100).count()
    want = fact.join(dim, fact["k"] == dim["dk"]).count()
    assert got == want == 20


def test_lsh_quality_report_invariants(spark):
    from batch_process_dpla_index_spark.queries import q_lsh_quality_report
    from batch_process_dpla_index_spark.operators.dedup import unpersist_deps
    from tests.conftest import SF_DIR

    out = q_lsh_quality_report(spark, SF_DIR)
    row = out.collect()[0]
    unpersist_deps(out)
    # exact verification after banding -> candidates can never include
    # a below-threshold pair: FP identically zero IN THE UNCAPPED REGIME
    # (no shingle posting list at test SF reaches jaccard_pairs'
    # max_posting cap; under the cap, truth-side undercounting could
    # surface capped-regime FPs that are a truth artifact, not LSH error)
    assert row["fp"] == 0
    assert row["tp"] + row["fn"] == row["n_truth"]
    assert row["tp"] + row["fp"] == row["n_candidates"]
    assert row["n_truth"] > 0 and row["tp"] > 0
    assert row["precision"] == 1.0
    assert 0.0 < row["recall"] <= 1.0


def test_random_projection_is_deterministic_and_linear(spark):
    from pyspark.sql import functions as F

    from batch_process_dpla_index_spark.operators.similarity import (
        random_projection,
        _h60_unit,
    )

    df = spark.createDataFrame(
        [(1, [1.0, 0.0, 0.0, 0.0]), (2, [0.0, 2.0, 0.0, 0.0]), (3, None)],
        "vec_id bigint, embedding array<float>",
    )
    out = {r["vec_id"]: r["proj"] for r in random_projection(df, dim=4, out_dim=2).collect()}
    assert set(out) == {1, 2}  # NULL vector dropped
    # unit basis vector e_d projects to exactly the plane's d-th
    # component (scaled by the vector's value) — pins the plane layout
    assert out[1][0] == _h60_unit("rp:0:0")
    assert out[1][1] == _h60_unit("rp:1:0")
    assert out[2][0] == 2.0 * _h60_unit("rp:0:1")


def test_presence_flags_reference_semantics(spark):
    """present_array_ref scores a NULL array 1 (the reference's
    size(x)==0-only CASE under legacy size(null)=-1); present_string
    and like_any treat NULL/blank as absent."""
    from pyspark.sql import functions as F

    from batch_process_dpla_index_spark.functions.presence import (
        like_any,
        present_array_ref,
        present_string,
    )

    df = spark.createDataFrame(
        [(1, ["a"], "x"), (2, [], ""), (3, None, None), (4, ["b"], "  ")],
        "id bigint, arr array<string>, s string",
    )
    got = {
        r["id"]: (r["pa"], r["ps"], r["la"])
        for r in df.select(
            "id",
            present_array_ref(F.col("arr")).alias("pa"),
            present_string(F.col("s")).alias("ps"),
            like_any(F.col("s"), ["%x%", "%y%"]).alias("la"),
        ).collect()
    }
    assert got[1] == (1, 1, 1)
    assert got[2] == (0, 0, 0)
    assert got[3] == (1, 0, 0)  # NULL array scores 1 — reference parity
    assert got[4] == (1, 0, 0)  # blank string absent, no LIKE match


def test_ann_recall_report_hand_case_and_ivf_composition(spark):
    """Hand case: known overlap counts -> exact recall fractions; and
    on the fixture, the ivf_topk(probe=all-cells) side must achieve
    recall 1.0 against brute-force truth (probing every cell IS the
    exact search), while the registry's 4-probe setting stays <= 1."""
    from batch_process_dpla_index_spark.operators.similarity import (
        ann_recall_report,
        cosine_topk,
        ivf_topk,
    )
    from batch_process_dpla_index_spark.sources.tables import load_table
    from tests.conftest import SF_DIR

    truth = spark.createDataFrame(
        [(1, 10), (1, 11), (2, 10), (2, 12)],
        "query_id long, neighbor_id long",
    )
    approx = spark.createDataFrame(
        [(1, 10), (1, 99), (2, 10), (2, 12)],
        "query_id long, neighbor_id long",
    )
    got = {
        r["query_id"]: (r["n_hits"], r["recall_at_k"])
        for r in ann_recall_report(truth, approx, k=2).collect()
    }
    assert got[1] == (1, 0.5) and got[2] == (2, 1.0)

    # a buggy ANN emitting a duplicated (query, neighbor) row must not
    # double-count the hit (recall > 1 would pass silently otherwise)
    dup = approx.union(
        spark.createDataFrame([(2, 10)], "query_id long, neighbor_id long")
    )
    got_dup = {
        r["query_id"]: (r["n_hits"], r["recall_at_k"])
        for r in ann_recall_report(truth, dup, k=2).collect()
    }
    assert got_dup == got

    emb = load_table(spark, SF_DIR, "embeddings")
    t = cosine_topk(emb, emb.filter(F.col("vec_id") < 25), "vec_id", "embedding", k=5)
    ivf = ivf_topk(
        emb, "vec_id", "embedding", dim=64, k=5, n_cells=16, n_probe=16
    )
    rep = ann_recall_report(t, ivf.filter(F.col("query_id") < 25), k=5).collect()
    # release ivf_topk's persisted assignment frame (session-scoped
    # spark fixture — a leak here pins it for the rest of the run)
    unpersist_deps(ivf)
    assert len(rep) == 25
    assert all(r["recall_at_k"] == 1.0 and r["n_hits"] == 5 for r in rep)


def test_incremental_semantic_dedup_contract(spark):
    """Hand case: a new vector nearly parallel to a stored one matches
    it (best_match_id, not is_new); an orthogonal new vector is new.
    Fixture invariant: every matched row carries a best_match_id from
    the corpus slice and best_score >= the threshold."""
    from batch_process_dpla_index_spark.operators.dedup import unpersist_deps
    from batch_process_dpla_index_spark.operators.similarity import (
        incremental_semantic_dedup,
    )
    from batch_process_dpla_index_spark.sources.tables import load_table
    from tests.conftest import SF_DIR

    corpus = spark.createDataFrame(
        [(1, [1.0, 0.0, 0.0, 0.0]), (2, [0.0, 1.0, 0.0, 0.0])],
        "vec_id long, embedding array<double>",
    )
    new = spark.createDataFrame(
        [(10, [0.999, 0.01, 0.0, 0.0]), (11, [0.0, 0.0, 0.0, 1.0])],
        "vec_id long, embedding array<double>",
    )
    out = incremental_semantic_dedup(
        new, corpus, "vec_id", "embedding", dim=4, n_cells=1, n_probe=1,
        threshold=0.9,
    )
    got = {r["id"]: r for r in out.collect()}
    unpersist_deps(out)
    assert got[10]["is_new"] is False and got[10]["best_match_id"] == 1
    assert got[10]["n_matches"] == 1 and got[10]["best_score"] > 0.99
    assert got[11]["is_new"] is True and got[11]["best_match_id"] is None

    emb = load_table(spark, SF_DIR, "embeddings")
    new_fx = emb.where(F.col("vec_id") % 10 == 7)
    corpus_fx = emb.where(F.col("vec_id") % 10 != 7)
    out_fx = incremental_semantic_dedup(
        new_fx, corpus_fx, "vec_id", "embedding", dim=64, n_cells=16,
        n_probe=2, threshold=0.3,
    )
    rows = out_fx.collect()
    unpersist_deps(out_fx)
    corpus_ids = {r["vec_id"] for r in corpus_fx.select("vec_id").collect()}
    assert len(rows) == new_fx.count()
    matched = [r for r in rows if not r["is_new"]]
    assert matched, "fixture should produce matches at threshold 0.3"
    for r in matched:
        assert r["best_match_id"] in corpus_ids
        assert r["best_score"] >= 0.3 and r["n_matches"] >= 1
    for r in rows:
        if r["is_new"]:
            assert r["best_match_id"] is None and r["n_matches"] == 0


def test_imi_probe_split_budget_semantics():
    """The flat n_probe budget factors into (coarse, fine) widths:
    balanced by default, full-probe ⇒ exact, and a single explicit
    width derives the OTHER from the budget instead of defaulting it
    to full (which would silently pay the O(k·dim) scan the IMI
    layout exists to avoid)."""
    from batch_process_dpla_index_spark.operators.similarity import (
        _imi_probe_split,
    )

    # balanced default: p_c ≈ √budget, p_c*p_f >= budget
    assert _imi_probe_split(4, 4096, 64, 64, None, None) == (2, 2)
    p_c, p_f = _imi_probe_split(9, 4096, 64, 64, None, None)
    assert p_c * p_f >= 9 and p_c == 3
    # full budget probes every trained cell (exact-search calibration)
    assert _imi_probe_split(4096, 4096, 64, 64, None, None) == (64, 64)
    # both explicit: taken verbatim
    assert _imi_probe_split(4, 4096, 64, 64, 8, 3) == (8, 3)
    # one explicit: the other derives from the budget, NOT full width
    assert _imi_probe_split(4, 4096, 64, 64, None, 2) == (2, 2)
    assert _imi_probe_split(4, 4096, 64, 64, 2, None) == (2, 2)
    assert _imi_probe_split(8, 4096, 64, 64, 2, None) == (2, 4)


def test_two_level_cells_rank1_matches_assign(spark):
    """`two_level_cells_pandas` contract: cells[0] IS the two-level
    storage cell (`kmeans_assign_two_level`'s global id), the probe
    list has p_c·p_f entries on a full grid, and every id is a valid
    global cell of the pseudo-random grid."""
    from batch_process_dpla_index_spark.operators.clustering import (
        kmeans_assign_two_level,
    )
    from batch_process_dpla_index_spark.operators.similarity import (
        _pseudo_random_two_level,
        two_level_cells_pandas,
    )
    from batch_process_dpla_index_spark.sources.tables import load_table
    from tests.conftest import SF_DIR

    emb = load_table(spark, SF_DIR, "embeddings")
    coarse, fine, k_f = _pseudo_random_two_level(64, 16)
    assert k_f == 4 and len(coarse) == 4
    assigned = {
        r["id"]: r["cell"]
        for r in kmeans_assign_two_level(
            emb, coarse, fine, k_f, "vec_id", "embedding"
        ).collect()
    }
    probed = two_level_cells_pandas(
        emb, coarse, fine, k_f, 2, 2, "vec_id", "embedding"
    ).collect()
    valid = {c * k_f + j for c in fine for j in range(len(fine[c]))}
    assert len(probed) == emb.count()
    for r in probed:
        assert len(r["cells"]) == 4  # p_c * p_f on a full grid
        assert r["cells"][0] == assigned[r["id"]]
        assert set(r["cells"]) <= valid


def test_semantic_dedup_two_level_routing(spark):
    """k >= two_level_threshold routes training + assign through the
    two-level path; the dedup contract holds unchanged (exactly one
    representative per group, min-id labels, the representative
    carries its group's minimum centroid distance)."""
    from batch_process_dpla_index_spark.operators.dedup import (
        semantic_dedup,
        unpersist_deps,
    )
    from batch_process_dpla_index_spark.sources.tables import load_table
    from tests.conftest import SF_DIR

    emb = load_table(spark, SF_DIR, "embeddings")
    out = semantic_dedup(
        emb, "vec_id", "embedding", k=32, n_iter=2, threshold=0.2,
        two_level_threshold=32,  # force the large-k path at fixture size
    )
    rows = out.collect()
    unpersist_deps(out)
    assert len(rows) == emb.count()
    by_group: dict = {}
    for r in rows:
        by_group.setdefault(r["group_id"], []).append(r)
    assert sum(len(v) > 1 for v in by_group.values()) > 0
    for gid, members in by_group.items():
        assert gid == min(m["id"] for m in members)
        kept = [m for m in members if m["kept"]]
        assert len(kept) == 1
        assert all(m["group_size"] == len(members) for m in members)
        assert kept[0]["d2_centroid"] == min(m["d2_centroid"] for m in members)
        # groups are cell-local by construction
        assert len({m["cell"] for m in members}) == 1


def test_incremental_semantic_dedup_two_level_routing(spark):
    """n_cells >= two_level_threshold routes both sides through the
    pseudo-random two-level grid: the hand case resolves identically
    to the flat path, and on the fixture an exact scaled copy of a
    corpus vector is ALWAYS matched (same rank-1 cell by construction
    — both sides run the same two-level inference)."""
    from batch_process_dpla_index_spark.operators.dedup import unpersist_deps
    from batch_process_dpla_index_spark.operators.similarity import (
        incremental_semantic_dedup,
    )
    from batch_process_dpla_index_spark.sources.tables import load_table
    from tests.conftest import SF_DIR

    corpus = spark.createDataFrame(
        [(1, [1.0, 0.0, 0.0, 0.0]), (2, [0.0, 1.0, 0.0, 0.0])],
        "vec_id long, embedding array<double>",
    )
    new = spark.createDataFrame(
        [(10, [0.999, 0.01, 0.0, 0.0]), (11, [0.0, 0.0, 0.0, 1.0])],
        "vec_id long, embedding array<double>",
    )
    out = incremental_semantic_dedup(
        new, corpus, "vec_id", "embedding", dim=4, n_cells=4, n_probe=4,
        threshold=0.9, two_level_threshold=4,
    )
    got = {r["id"]: r for r in out.collect()}
    unpersist_deps(out)
    assert got[10]["is_new"] is False and got[10]["best_match_id"] == 1
    assert got[11]["is_new"] is True and got[11]["best_match_id"] is None

    emb = load_table(spark, SF_DIR, "embeddings")
    corpus_fx = emb.where(F.col("vec_id") % 10 != 7)
    copies = corpus_fx.orderBy("vec_id").limit(20).select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.transform(
            "embedding", lambda x: (x * F.lit(2.0)).cast("double")
        ).alias("embedding"),
    )
    out_fx = incremental_semantic_dedup(
        copies, corpus_fx, "vec_id", "embedding", dim=64, n_cells=16,
        n_probe=2, threshold=0.99, two_level_threshold=16,
    )
    rows = out_fx.collect()
    unpersist_deps(out_fx)
    assert len(rows) == 20
    for r in rows:
        assert r["is_new"] is False, "scale-invariant copy must match"
        assert r["best_match_id"] == r["id"] - 100000
        assert r["best_score"] >= 0.99


def test_null_signature_never_matches(spark):
    """The PIL decode-failure contract (review r13): a NULL phash must
    match NOTHING — not another NULL, not any real signature — in both
    the in-line banded kernel and the stored-index probe path.
    (The old constant-0 sentinel made every distinct undecodable blob
    a hamming-0 'duplicate' of the first; dedup-on-ingest would then
    silently DELETE truncated images.)"""
    from batch_process_dpla_index_spark.operators.dedup import (
        banded_hamming_pairs,
    )

    sig = spark.createDataFrame(
        [(1, 12345), (2, 12345), (3, None), (4, None)],
        "id BIGINT, sig BIGINT",
    ).persist()
    pairs = {
        (r["id_a"], r["id_b"])
        for r in banded_hamming_pairs(sig, "id", "sig", 60, 3).collect()
    }
    sig.unpersist()
    # the real twin pairs; the two NULLs pair with nothing, incl. each other
    assert pairs == {(1, 2)}


def test_phash_index_null_signature_kept(spark, tmp_path):
    """A NULL-phash blob row in the stored index (or the probe batch)
    never produces a match — the conservative keep-at-ingest contract
    the decode-failure fix relies on, end-to-end through the bucket
    join and popcount verify."""
    from batch_process_dpla_index_spark.operators.dedup import unpersist_deps
    from batch_process_dpla_index_spark.products import phash_index

    blob = bytes((i * 71 + 9) % 256 for i in range(300))
    corpus = spark.createDataFrame(
        [(1, b"\x89PNG" + blob)], "id BIGINT, blob BINARY"
    )
    idx = str(tmp_path / "nidx")
    phash_index.build_phash_index(corpus, "blob", "id", idx, max_hamming=8)
    # inject a NULL-signature row into the stored datasets, as a PIL
    # decode failure would have written it
    import pyspark.sql.functions as F

    null_sig = spark.createDataFrame([(99,)], "id BIGINT").select(
        "id", F.lit(None).cast("bigint").alias("phash")
    )
    phash_index.append_to_phash_index(
        None, "blob", "id", idx, ingest_batch=1, signatures=null_sig
    )
    probe = spark.createDataFrame(
        [(10, b"\x89PNG" + blob), (11, None)], "id BIGINT, blob BINARY"
    )
    out = phash_index.incremental_phash_dedup_indexed(
        spark, probe, "blob", "id", idx
    )
    got = {r["new_id"]: r["dup_of"] for r in out.collect()}
    unpersist_deps(out)
    # the real twin matches its stored original; the NULL-blob probe
    # (empty bytes → phash 0 under the fake, a REAL signature) must
    # not match the stored NULL row either way
    assert got.get(10) == 1
    assert got.get(11) != 99


def test_pil_phash_empty_blob_matches_fake_contract():
    """The EMPTY blob is part of the oracle-replayed contract (phash
    0), so the PIL decoder must agree with the codec-free fake — the
    empty branch runs BEFORE any decode attempt, so this holds whether
    or not PIL is importable (ADVICE r13: without it, dedup semantics
    silently depended on PIL's absence from the container). None stays
    reserved for genuine decode failures."""
    from batch_process_dpla_index_spark.operators.multimodal import (
        _HAVE_PIL,
        _fake_phash,
        _pil_phash,
    )

    assert _fake_phash(b"", 60) == 0
    assert _pil_phash(b"", 60) == 0
    if _HAVE_PIL:  # pragma: no cover - codec absent in this container
        # genuine decode failure (truncated stream) still → None
        assert _pil_phash(b"\x89PNG\r\n\x1a\n junk", 60) is None


def test_audio_phash_polarity_inversion_invariant(spark):
    """The audio fingerprint hashes the ABSOLUTE amplitude envelope,
    so a polarity-inverted clip (every sample negated — a real
    re-mastering case byte-exact dedup misses) hashes IDENTICALLY and
    pairs at hamming 0; the trailing-pad-byte twin (decode ignores the
    odd byte) does too. A genuinely different clip does not pair."""
    import struct

    from batch_process_dpla_index_spark.operators.multimodal import (
        audio_near_dup,
        audio_phash,
    )

    samples = [((i * 131 + 17) % 4001) - 2000 for i in range(500)]
    clip = struct.pack(f"<{len(samples)}h", *samples)
    inverted = struct.pack(f"<{len(samples)}h", *[-s for s in samples])
    padded = clip + b"\x00"  # odd tail byte → identical samples
    other = struct.pack(
        f"<{len(samples)}h",
        *[((i * i * 37 + 5) % 3001) - 1500 for i in range(500)],
    )
    df = spark.createDataFrame(
        [(1, clip), (2, inverted), (3, padded), (4, other),
         (5, None), (6, b"")],
        "doc_id BIGINT, blob BINARY",
    )
    sig = {r["id"]: r["phash"]
           for r in audio_phash(df, "blob", "doc_id").collect()}
    assert sig[1] == sig[2] == sig[3]  # inversion + pad invariant
    assert sig[4] != sig[1]
    assert sig[5] == sig[6] == 0  # NULL/empty → 0 (the empty contract)

    from batch_process_dpla_index_spark.operators.dedup import unpersist_deps

    pairs = audio_near_dup(df, "blob", "doc_id", max_hamming=3)
    got = {(r.id_a, r.id_b): r.hamming for r in pairs.collect()}
    unpersist_deps(pairs)
    assert got[(1, 2)] == 0 and got[(1, 3)] == 0 and got[(2, 3)] == 0
    assert (5, 6) in got  # two no-sample clips share phash 0
    assert not any(4 in p for p in got)


def test_audio_phash_overflow_guard_is_exact(spark):
    """The int64-safety guard must fire BEFORE numpy can wrap (the
    round-14 review caught the first cut's flat 5e8 constant ~30x past
    the real bound): the bound is bits-aware — 32768*n*(n//bits+1)
    < 2^63. At bits=1 every sample lands in one block, so a ~1.7e7-
    sample clip crosses the bound while staying small enough to test."""
    import pytest as _pytest

    from batch_process_dpla_index_spark.operators.multimodal import audio_phash

    # EXACT boundary (r14 verdict #7): at bits=1 the guard predicate
    # 32768*n*(n+1) >= 2^63 reduces to n*(n+1) >= 2^48, which first
    # holds at n = 2^24 exactly (2^24*(2^24+1) = 2^48 + 2^24); one
    # sample fewer is 2^48 - 2^24, strictly under. Pin BOTH sides of
    # that single-sample flip so the guard's arithmetic cannot rot.
    n_bad = 2**24
    n_ok = 2**24 - 1
    assert 32768 * n_bad * (n_bad + 1) >= 2**63
    assert 32768 * n_ok * (n_ok + 1) < 2**63
    df = spark.createDataFrame(
        [(1, b"\x01\x00" * n_bad)], "doc_id BIGINT, blob BINARY"
    )
    with _pytest.raises(Exception, match="int64-safe"):
        audio_phash(df, "blob", "doc_id", bits=1).collect()
    # one sample under the exact bound must succeed
    df_ok = spark.createDataFrame(
        [(1, b"\x01\x00" * n_ok)], "doc_id BIGINT, blob BINARY"
    )
    rows = audio_phash(df_ok, "blob", "doc_id", bits=1).collect()
    assert len(rows) == 1 and rows[0]["phash"] in (0, 1)
    # arithmetic sweep: for every banding width the guard's int64
    # predicate flips at the same n as an arbitrary-precision replay
    # of the worst-case threshold products (block sums uniform under
    # blk, so sums <= 32768*(n//bits+1), cnts <= n//bits+1; both
    # sides of `sums*n > total*cnts` stay under 32768*n*(n//bits+1))
    for bits in (1, 7, 60, 64):
        lo, hi = 1, 2**40
        while lo < hi:  # first n where the guard fires, by bisection
            mid = (lo + hi) // 2
            if 32768 * mid * (mid // bits + 1) >= 2**63:
                hi = mid
            else:
                lo = mid + 1
        n_flip = lo
        assert 32768 * (n_flip - 1) * ((n_flip - 1) // bits + 1) < 2**63
        # worst-case products representable one sample under the flip
        worst = 32768 * (n_flip - 1) * ((n_flip - 1) // bits + 1)
        assert worst < 2**63  # int64-representable -> no numpy wrap


def test_audio_phash_matches_scalar_replay_on_edges(spark):
    """The vectorized numpy envelope hash must equal a naive pure-
    Python per-sample replay on the tricky shapes: empty, single
    sample, trailing odd byte, all-zero (silence), constant amplitude
    (strict-greater never fires), int16 extremes (−32768 must abs via
    the int64 cast, not wrap), fewer samples than bits, and non-tiling
    block boundaries — across three bit widths."""
    import struct

    from batch_process_dpla_index_spark.operators.multimodal import audio_phash

    def ref(data: bytes, bits: int) -> int:
        data = data[: 2 * (len(data) // 2)]
        n = len(data) // 2
        if n == 0:
            return 0
        s = [abs(x) for x in struct.unpack(f"<{n}h", data)]
        total = sum(s)
        sums, cnts = [0] * bits, [0] * bits
        for j, v in enumerate(s):
            k = (j * bits) // n
            sums[k] += v
            cnts[k] += 1
        return sum(1 << k for k in range(bits) if sums[k] * n > total * cnts[k])

    def pcm(vals):
        return struct.pack(f"<{len(vals)}h", *vals)

    cases = [
        b"",
        b"\x07",                      # odd single byte → 0 samples
        pcm([5]),
        pcm([5]) + b"\xff",           # trailing odd byte ignored
        pcm([0] * 97),                # silence
        pcm([123] * 64),              # constant amplitude → ties → 0
        pcm([-32768, 32767, -32768, 1]),  # int16 extremes
        pcm([((j * 37) % 200) - 100 for j in range(7)]),    # n < bits
        pcm([((j * 91) % 999) - 499 for j in range(113)]),  # prime n
        pcm([((j * 13) % 65536) - 32768 for j in range(300)]),
    ]
    for bits in (1, 7, 60):
        df = spark.createDataFrame(
            list(enumerate(cases)), "doc_id BIGINT, blob BINARY"
        )
        got = {
            r["id"]: r["phash"]
            for r in audio_phash(df, "blob", "doc_id", bits=bits).collect()
        }
        want = {i: ref(c, bits) for i, c in enumerate(cases)}
        assert got == want, f"bits={bits}"


def test_modality_dup_report_matches_survivor_queries(spark):
    """Cross-modality consistency invariant (VERDICT r14 #6): each
    per-modality row of modality_dup_report must carry EXACTLY the row
    count of the corresponding *_dedup_survivors registry query (and
    the exact-dedup count for text) on the same fixture, and n_items
    must match the composed corpus sizes. The report composes those
    queries by construction — this pins the construction so a future
    edit to either side cannot silently drift them apart."""
    from batch_process_dpla_index_spark.operators.dedup import (
        exact_dedup,
        unpersist_deps,
    )
    from batch_process_dpla_index_spark.queries import (
        _audio_corpus_with_twins,
        _blob_corpus_with_variants,
        q_audio_dedup_survivors,
        q_image_dedup_survivors,
        q_modality_dup_report,
        q_video_dedup_survivors,
    )
    from batch_process_dpla_index_spark.sources.tables import load_table
    from tests.conftest import SF_DIR

    report = {
        r["modality"]: (int(r["n_items"]), int(r["n_survivors"]))
        for r in q_modality_dup_report(spark, SF_DIR).collect()
    }
    assert set(report) == {"text", "image", "audio", "video"}

    docs = load_table(spark, SF_DIR, "documents")
    assert report["text"] == (
        docs.count(),
        exact_dedup(docs, "text", "doc_id").count(),
    )
    blob_n = _blob_corpus_with_variants(spark, SF_DIR).count()
    audio_n = _audio_corpus_with_twins(spark, SF_DIR).count()
    for modality, surv_fn, n in (
        ("image", q_image_dedup_survivors, blob_n),
        ("audio", q_audio_dedup_survivors, audio_n),
        ("video", q_video_dedup_survivors, blob_n),
    ):
        kept = surv_fn(spark, SF_DIR)
        assert report[modality] == (n, kept.count()), modality
        unpersist_deps(kept)


def test_temporal_drift_day_gap_emits_null(spark):
    """The day-adjacency contract of both temporal monitors (r15):
    the fixture's days are contiguous, so the oracle gate never
    exercises the GAP branch — a day whose predecessor is missing
    entirely must emit NULL (no pairing against the last PRESENT
    day), and the days around the gap must match an exact integer
    replay. Hand-built 4-day stream with day 3 absent."""
    import datetime as dt

    from batch_process_dpla_index_spark.operators.dedup import unpersist_deps
    from batch_process_dpla_index_spark.operators.profiling import (
        event_mix_drift,
        temporal_drift_ks,
    )

    def day(d, h=0):
        return dt.datetime(2024, 1, d, h)

    rows = (
        # day 1: a×2, b×1; values 1,1,2
        [(day(1, i), "a", 1.0) for i in range(2)]
        + [(day(1, 3), "b", 2.0)]
        # day 2: a×1, b×3; values 1,2,3,4
        + [(day(2, 0), "a", 1.0)]
        + [(day(2, i), "b", float(1 + i)) for i in range(1, 4)]
        # day 4 (gap at day 3): c×2; values 5,5
        + [(day(4, i), "c", 5.0) for i in range(2)]
    )
    df = spark.createDataFrame(rows, "ts TIMESTAMP, event_type STRING, value DOUBLE")

    mix = event_mix_drift(df, "ts", "event_type")
    got_mix = {r["day"].day: (r["n_rows"], r["n_prev"], r["tv_dist"])
               for r in mix.collect()}
    unpersist_deps(mix)
    # day2 vs day1: counts a:1,b:3 (n=4) vs a:2,b:1 (n=3)
    # TV = (|1·3−2·4| + |3·3−1·4|) / (2·4·3) = (5 + 5) / 24
    assert got_mix[1] == (3, None, None)
    assert got_mix[2] == (4, 3, round(10 / 24, 6))
    assert got_mix[4] == (2, None, None)  # gap: no pairing with day 2

    ks = temporal_drift_ks(df, "ts", "value")
    got_ks = {r["day"].day: (r["n_rows"], r["n_prev"], r["ks_stat"])
              for r in ks.collect()}
    unpersist_deps(ks)
    # ECDFs on buckets {1,2,3,4,5}: day1 cum (2,3,3,3,3)/3; day2 cum
    # (1,2,3,4,4)/4 -> integer numerators |cum2·3 − cum1·4| per x:
    # |3−8|=5, |6−12|=6, |9−12|=3, |12−12|=0, 0 -> max 6 / (4·3)
    assert got_ks[1] == (3, None, None)
    assert got_ks[2] == (4, 3, round(6 / 12, 6))
    assert got_ks[4] == (2, None, None)


def test_temporal_drift_wide_span_counts_path_matches_batch(spark):
    """At a floor span WIDER than n_buckets the bucket cap changes the
    grid, so drained raw counts must replay the same cap
    (temporal_drift_ks_from_counts) to match the batch operator —
    feeding ks_drift_from_counts directly diverges here (r16 review
    finding; the fixture span is only ~560, so the convergence test
    alone could never catch it)."""
    from pyspark.sql import functions as F

    from batch_process_dpla_index_spark.operators.dedup import unpersist_deps
    from batch_process_dpla_index_spark.operators.profiling import (
        temporal_drift_ks,
        temporal_drift_ks_from_counts,
    )

    # 3 days x 2000 rows; values spread over ~40000 so the floor span
    # far exceeds the 16-bucket cap used below
    df = (
        spark.range(6000)
        .select(
            F.expr(
                "timestamp '2026-01-01 00:00:00' + make_interval(0,0,0, CAST(id % 3 AS INT))"
            ).alias("ts"),
            # day-dependent spread: day k's values drift upward so
            # adjacent-day KS is non-trivial
            (
                (F.col("id") % 2000) * 20.0
                + (F.col("id") % 3) * 300.0
            ).alias("value"),
        )
    )
    want_df = temporal_drift_ks(df, "ts", "value", n_buckets=16)
    want = sorted(map(tuple, want_df.collect()))
    unpersist_deps(want_df)

    raw = df.groupBy(
        F.date_trunc("day", "ts").alias("day"),
        F.floor("value").cast("bigint").alias("x"),
    ).agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    got_df = temporal_drift_ks_from_counts(raw, n_buckets=16)
    got = sorted(map(tuple, got_df.collect()))
    unpersist_deps(got_df)
    assert got == want and len(got) == 3
    assert any(r[3] is not None and r[3] > 0 for r in got)


def test_temporal_psi_hand_computed(spark):
    """PSI on a 3-day hand fixture: day 2 is a pure shift of day 1's
    mass (non-trivial PSI, hand-replayed below), day 3 follows a gap
    and must emit NULL, day 1 has no predecessor and must emit NULL."""
    import math

    from pyspark.sql import functions as F

    from batch_process_dpla_index_spark.operators.dedup import unpersist_deps
    from batch_process_dpla_index_spark.operators.profiling import temporal_psi

    rows = []
    # day 1: 6 values in bucket 0 (value 0), 2 in bucket 1 (value 1)
    rows += [("2026-01-01 10:00:00", 0.0)] * 6
    rows += [("2026-01-01 11:00:00", 1.0)] * 2
    # day 2 (adjacent): 2 in bucket 0, 6 in bucket 1 — mass shifted
    rows += [("2026-01-02 10:00:00", 0.0)] * 2
    rows += [("2026-01-02 11:00:00", 1.0)] * 6
    # day 4 (after a gap): anything
    rows += [("2026-01-04 10:00:00", 0.0)] * 5
    df = spark.createDataFrame(rows, "ts_s string, value double").select(
        F.col("ts_s").cast("timestamp").alias("ts"), "value"
    )
    out = temporal_psi(df, "ts", "value", n_buckets=32)
    got = {str(r["day"])[:10]: r for r in out.collect()}
    unpersist_deps(out)

    assert got["2026-01-01"]["psi"] is None  # no predecessor
    assert got["2026-01-04"]["psi"] is None  # gap day
    assert got["2026-01-04"]["n_prev"] is None
    # hand replay for day 2 vs day 1: B=2 observed buckets, n=8 each,
    # +0.5 smoothing, raw IEEE smoothed shares (no pre-log rounding —
    # only the final psi rounds, matching the operator's determinism
    # contract)
    def share(c, n, B=2):
        return (c + 0.5) / (n + B / 2.0)

    p0, q0 = share(2, 8), share(6, 8)
    p1, q1 = share(6, 8), share(2, 8)
    want = round((p0 - q0) * math.log(p0 / q0) + (p1 - q1) * math.log(p1 / q1), 6)
    assert got["2026-01-02"]["psi"] == want
    assert got["2026-01-02"]["n_prev"] == 8


def test_source_psi_hand_computed(spark):
    """source_psi on a 3-source hand fixture: a source identical to
    the rest reads psi 0.0 exactly; a shifted source reads the
    hand-replayed positive value; a single-source corpus emits NULL
    (no rest to compare against)."""
    import math

    from batch_process_dpla_index_spark.operators.dedup import unpersist_deps
    from batch_process_dpla_index_spark.operators.profiling import source_psi

    # s1 and s2 identical (4x len0, 4x len1); s3 shifted (1x/7x) —
    # lengths 0 and 1 land in buckets 0 and 1 at width 1
    rows = (
        [("s1", 0)] * 4 + [("s1", 1)] * 4
        + [("s2", 0)] * 4 + [("s2", 1)] * 4
        + [("s3", 0)] * 1 + [("s3", 1)] * 7
    )
    docs = spark.createDataFrame(rows, "source string, n_chars bigint")
    out = source_psi(docs, "source", "n_chars", n_buckets=32)
    got = {r["source"]: r for r in out.collect()}
    unpersist_deps(out)

    def psi(own, rest, B=2):
        n_own, n_rest = sum(own), sum(rest)
        tot = 0.0
        for c, d in zip(own, rest):
            p = (c + 0.5) / (n_own + B / 2.0)
            q = (d + 0.5) / (n_rest + B / 2.0)
            tot += (p - q) * math.log(p / q)
        return round(tot, 6)

    # s1's rest = s2+s3 = (5, 11); s3's rest = s1+s2 = (8, 8)
    assert got["s1"]["psi"] == psi([4, 4], [5, 11])
    assert got["s2"]["psi"] == psi([4, 4], [5, 11])
    assert got["s3"]["psi"] == psi([1, 7], [8, 8])
    assert got["s3"]["psi"] > got["s1"]["psi"] >= 0.0
    assert all(r["n_rows"] == 8 for r in got.values())

    # single-source corpus: no rest -> NULL
    solo = spark.createDataFrame(
        [("only", 5)] * 6, "source string, n_chars bigint"
    )
    out2 = source_psi(solo, "source", "n_chars")
    rows2 = out2.collect()
    unpersist_deps(out2)
    assert len(rows2) == 1 and rows2[0]["psi"] is None


def test_bucket_cap_span_guard(spark):
    """The shared bucket cap refuses a value span the int64 width
    expression cannot represent (r16 ADVICE): a sentinel-extreme pair
    like (-2^62, 2^62) would silently WRAP (xmax - xmin + nb) under
    non-ANSI arithmetic and every drift monitor built on the grid
    would be wrong with no error. In-domain extremes still bucket."""
    import pytest

    from batch_process_dpla_index_spark.operators.profiling import (
        _bucket_capped_counts,
    )

    bad = spark.createDataFrame(
        [("g", -(2**62), 1), ("g", 2**62, 1)],
        "k string, x bigint, c bigint",
    )
    cb, raw = _bucket_capped_counts(bad, "k", 16, "b")
    try:
        with pytest.raises(Exception, match="span exceeds"):
            cb.collect()
    finally:
        raw.unpersist()

    # wide but in-domain span buckets normally: xmin -> 0, xmax -> nb-1
    ok = spark.createDataFrame(
        [("g", -(2**30), 1), ("g", 2**30, 1)],
        "k string, x bigint, c bigint",
    )
    cb2, raw2 = _bucket_capped_counts(ok, "k", 16, "b")
    try:
        assert {r["b"] for r in cb2.collect()} == {0, 15}
    finally:
        raw2.unpersist()


def test_temporal_wasserstein_hand_computed(spark):
    """W1 on a hand fixture with SPARSE observed buckets: day 1 holds
    (0 x2, 10 x6), day 2 holds (0 x6, 10 x2) — mass 0.5 moved
    distance 10, so W1 must read 5.0, NOT 0.5: the |CDF gap| at
    bucket 0 persists over the ten empty buckets up to the next
    observed one (the run-length weight; dropping it silently
    under-reports transport distance on any sparse grid). First day
    and post-gap day emit NULL."""
    from batch_process_dpla_index_spark.operators.dedup import unpersist_deps
    from batch_process_dpla_index_spark.operators.profiling import (
        temporal_wasserstein,
    )

    rows = (
        [("2026-01-01 10:00:00", 0.0)] * 2
        + [("2026-01-01 11:00:00", 10.0)] * 6
        + [("2026-01-02 10:00:00", 0.0)] * 6
        + [("2026-01-02 11:00:00", 10.0)] * 2
        + [("2026-01-04 10:00:00", 5.0)] * 3  # post-gap day
    )
    df = spark.createDataFrame(rows, "ts_s string, value double").select(
        F.col("ts_s").cast("timestamp").alias("ts"), "value"
    )
    out = temporal_wasserstein(df, "ts", "value", n_buckets=32)
    got = {str(r["day"])[:10]: r for r in out.collect()}
    unpersist_deps(out)

    assert got["2026-01-01"]["w1_dist"] is None  # no predecessor
    assert got["2026-01-04"]["w1_dist"] is None  # gap day
    # span 11 < 32 buckets -> width 1, buckets observed at {0, 5, 10};
    # CDFs: day1 (2/8 at 0, 2/8 at 5, 1 at 10), day2 (6/8, 6/8, 1);
    # gaps to next observed bucket: 5, 5, 0
    want = round(abs(2 / 8 - 6 / 8) * 5 + abs(2 / 8 - 6 / 8) * 5, 6)
    assert got["2026-01-02"]["w1_dist"] == want == 5.0
    assert got["2026-01-02"]["n_prev"] == 8
    assert got["2026-01-02"]["n_rows"] == 8

    # identical day-over-day distribution -> exactly 0.0
    rows2 = (
        [("2026-01-01 10:00:00", 3.0)] * 4
        + [("2026-01-01 10:00:00", 7.0)] * 2
        + [("2026-01-02 10:00:00", 3.0)] * 4
        + [("2026-01-02 10:00:00", 7.0)] * 2
    )
    df2 = spark.createDataFrame(rows2, "ts_s string, value double").select(
        F.col("ts_s").cast("timestamp").alias("ts"), "value"
    )
    out2 = temporal_wasserstein(df2)
    got2 = {str(r["day"])[:10]: r["w1_dist"] for r in out2.collect()}
    unpersist_deps(out2)
    assert got2["2026-01-02"] == 0.0


def test_source_wasserstein_hand_computed(spark):
    """source_wasserstein on a 3-source hand fixture with sparse
    observed buckets {0, 10}: mass distance is weighted by the
    10-bucket run length (the temporal twin's sparse-grid pin), the
    shifted source reads the larger distance, and a single-source
    corpus emits NULL (no rest)."""
    from batch_process_dpla_index_spark.operators.dedup import unpersist_deps
    from batch_process_dpla_index_spark.operators.profiling import (
        source_wasserstein,
    )

    rows = (
        [("s1", 0)] * 4 + [("s1", 10)] * 4
        + [("s2", 0)] * 4 + [("s2", 10)] * 4
        + [("s3", 0)] * 1 + [("s3", 10)] * 7
    )
    docs = spark.createDataFrame(rows, "source string, n_chars bigint")
    out = source_wasserstein(docs, "source", "n_chars", n_buckets=32)
    got = {r["source"]: r for r in out.collect()}
    unpersist_deps(out)

    # width 1, buckets {0, 10}, gap(0) = 10: W1 = |p0 - q0| * 10
    assert got["s1"]["w1_dist"] == round(abs(4 / 8 - 5 / 16) * 10, 6)
    assert got["s2"]["w1_dist"] == round(abs(4 / 8 - 5 / 16) * 10, 6)
    assert got["s3"]["w1_dist"] == round(abs(1 / 8 - 8 / 16) * 10, 6)
    assert got["s3"]["w1_dist"] > got["s1"]["w1_dist"] > 0.0
    assert all(r["n_rows"] == 8 for r in got.values())

    solo = spark.createDataFrame(
        [("only", 5)] * 6, "source string, n_chars bigint"
    )
    out2 = source_wasserstein(solo)
    rows2 = out2.collect()
    unpersist_deps(out2)
    assert len(rows2) == 1 and rows2[0]["w1_dist"] is None


def test_drift_attribution_hand_computed(spark):
    """Per-segment PSI on a hand fixture: segment A holds its mix
    day-over-day (psi == 0 exactly under identical counts), segment B
    flips its mix (the hand-replayed positive value — B is the
    attribution answer); a segment's first day and a post-gap day in
    THAT segment emit NULL even when other segments have the day."""
    import math

    from batch_process_dpla_index_spark.operators.dedup import unpersist_deps
    from batch_process_dpla_index_spark.operators.profiling import (
        drift_attribution,
    )

    rows = (
        # seg A: stable (2 x0, 6 x10) both days
        [("A", "2026-01-01 10:00:00", 0.0)] * 2
        + [("A", "2026-01-01 11:00:00", 10.0)] * 6
        + [("A", "2026-01-02 10:00:00", 0.0)] * 2
        + [("A", "2026-01-02 11:00:00", 10.0)] * 6
        # seg B: flips (6 x0, 2 x10) -> (2 x0, 6 x10)
        + [("B", "2026-01-01 10:00:00", 0.0)] * 6
        + [("B", "2026-01-01 11:00:00", 10.0)] * 2
        + [("B", "2026-01-02 10:00:00", 0.0)] * 2
        + [("B", "2026-01-02 11:00:00", 10.0)] * 6
        # seg B only: day 4 after a B-gap on day 3
        + [("B", "2026-01-04 10:00:00", 5.0)] * 3
    )
    df = spark.createDataFrame(
        rows, "seg string, ts_s string, value double"
    ).select(
        "seg", F.col("ts_s").cast("timestamp").alias("ts"), "value"
    )
    out = drift_attribution(df, "ts", "seg", "value", n_buckets=32)
    got = {(r["seg"], str(r["day"])[:10]): r for r in out.collect()}
    unpersist_deps(out)

    # first days NULL per segment; B's post-gap day NULL
    assert got[("A", "2026-01-01")]["psi"] is None
    assert got[("B", "2026-01-01")]["psi"] is None
    assert got[("B", "2026-01-04")]["psi"] is None
    # stable segment reads EXACTLY 0 (identical counts -> p == q)
    assert got[("A", "2026-01-02")]["psi"] == 0.0
    # flipped segment reads the hand value: global observed buckets
    # {0, 5, 10} -> nbk = 3; day-2 vs day-1 shares over n=8
    def share(c, n, B=3):
        return (c + 0.5) / (n + B / 2.0)

    terms = 0.0
    for c_cur, c_prev in ((2, 6), (0, 0), (6, 2)):  # buckets 0, 5, 10
        p, q = share(c_cur, 8), share(c_prev, 8)
        terms += (p - q) * math.log(p / q)
    assert got[("B", "2026-01-02")]["psi"] == round(terms, 6)
    assert got[("B", "2026-01-02")]["n_prev"] == 8
    # the attribution answer: B's day-2 psi dominates A's
    assert got[("B", "2026-01-02")]["psi"] > got[("A", "2026-01-02")]["psi"]
