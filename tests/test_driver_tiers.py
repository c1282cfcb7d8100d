"""Driver tiers: the one bounded probe (`relational.bounded_collect`)
and the tier equivalence of every operator that uses it — each site's
driver arithmetic returns what its distributed plan returns."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from batch_process_dpla_index_spark.operators import (
    clustering,
    dedup,
    graph,
    similarity,
)
from batch_process_dpla_index_spark.operators.relational import bounded_collect
from batch_process_dpla_index_spark.products import index_tombstones


def _jobs_in_group(spark, group, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_bounded_collect(spark):
    """cap <= 0 runs no job; exactly cap rows come back; cap + 1 rows,
    or one NULL, mean the distributed plan (None); an empty frame is
    an empty list."""
    df = spark.range(5).select(F.col("id"), (F.col("id") * 2).alias("x"))
    out, jobs = _jobs_in_group(
        spark, "bounded-collect-off", lambda: bounded_collect(df, 0)
    )
    assert out is None and jobs == 0
    assert bounded_collect(df, -1) is None
    assert sorted(tuple(r) for r in bounded_collect(df, 5)) == [
        (i, 2 * i) for i in range(5)
    ]
    assert bounded_collect(df, 4) is None
    one_null = df.select(
        "id", F.when(F.col("id") != 3, F.col("x")).alias("x")
    )
    assert bounded_collect(one_null, 100) is None
    assert bounded_collect(df.limit(0), 10) == []


def _vectors(spark, n=40, dim=8, null_id=False):
    rng = random.Random(11)
    rows = [(i, [rng.uniform(-1.0, 1.0) for _ in range(dim)]) for i in range(n)]
    if null_id:
        rows.append((None, [rng.uniform(-1.0, 1.0) for _ in range(dim)]))
    return spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")


def _graph(spark, docs, tmp_path):
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (3, 4), (4, 5), (5, 6), (6, 4), (7, 8)],
        "src bigint, dst bigint",
    )
    out = graph.label_propagation(edges, iterations=3)
    rows = sorted(map(tuple, out.collect()))
    dedup.unpersist_deps(out)
    return rows


def _cc(spark, docs, tmp_path):
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (11, 12), (20, 21), (7, 7)],
        "id_a bigint, id_b bigint",
    )
    out = dedup.connected_components(pairs)
    rows = sorted(map(tuple, out.collect()))
    dedup.unpersist_deps(out)
    return rows


def _kmeans(spark, docs, tmp_path):
    return clustering.kmeans_fit(
        _vectors(spark), k=3, n_iter=2, update_grid=10**6, tol=0.0
    )


def _pq_train(spark, docs, tmp_path):
    from batch_process_dpla_index_spark.operators.quantization import pq_train

    books = pq_train(_vectors(spark), dim=8, m=2, k=4, n_iter=2)
    # the mean sums accumulate in a different order on each path
    return [[[round(x, 9) for x in c] for c in book] for book in books]


def _sig_overlap(spark, docs, tmp_path):
    sig = dedup.source_signatures(docs.limit(150))
    return sorted(map(tuple, dedup.overlap_from_signatures(sig, 64).collect()))


def _contamination(spark, docs, tmp_path):
    from batch_process_dpla_index_spark.operators.curation import (
        contamination_screened,
    )

    out = contamination_screened(docs.limit(150), est_threshold=0.0625)
    rows = sorted(map(tuple, out.collect()))
    dedup.unpersist_deps(out)
    return rows


def _index_serve(spark, tmp_path, serve):
    import os

    from batch_process_dpla_index_spark.products.ann_index import build_ann_index
    from batch_process_dpla_index_spark.sources.tables import load_table
    from tests.conftest import SF_DIR

    emb = load_table(spark, SF_DIR, "embeddings").select("vec_id", "embedding")
    idx = str(tmp_path / "ann")
    if not os.path.exists(idx):
        build_ann_index(emb.orderBy("vec_id").limit(80), "vec_id", "embedding",
                        idx, dim=64, n_cells=8, learned=False, pq_m=8)
    queries = emb.orderBy(F.desc("vec_id")).limit(5)
    out = serve(spark, queries, "vec_id", "embedding", idx, k=3)
    return sorted(map(tuple, out.collect()), key=lambda r: (r[0], r[3]))


def _ann_serve(spark, docs, tmp_path):
    from batch_process_dpla_index_spark.products.ann_index import (
        ann_query_indexed,
    )

    return _index_serve(spark, tmp_path, ann_query_indexed)


def _pq_serve(spark, docs, tmp_path):
    from batch_process_dpla_index_spark.products.ann_index import (
        pq_query_indexed,
    )

    return _index_serve(spark, tmp_path, pq_query_indexed)


def _ivf_pq_topk(spark, docs, tmp_path):
    from batch_process_dpla_index_spark.operators.quantization import (
        ivf_pq_topk,
        pq_pinned_codebooks,
    )
    from batch_process_dpla_index_spark.sources.tables import load_table
    from tests.conftest import SF_DIR

    emb = load_table(spark, SF_DIR, "embeddings")
    out = ivf_pq_topk(emb, pq_pinned_codebooks(), k=5, n_queries=25)
    return sorted(map(tuple, out.collect()), key=lambda r: (r[0], r[3]))


def _delete_recount(spark, docs, tmp_path):
    """The manifest counts of a plain-list delete (recounted on the
    driver, or by the anti-join count) on a fresh index holding an id
    in two ingest batches, one of them above an earlier watermark."""
    import tempfile

    from batch_process_dpla_index_spark.products.ann_index import (
        append_to_ann_index,
        build_ann_index,
        delete_from_ann_index,
    )
    from batch_process_dpla_index_spark.sources.tables import load_table
    from tests.conftest import SF_DIR

    emb = load_table(spark, SF_DIR, "embeddings").select("vec_id", "embedding")
    corpus = emb.orderBy("vec_id").limit(40)
    ids = [r["vec_id"] for r in corpus.collect()]
    idx = tempfile.mkdtemp(dir=tmp_path)
    build_ann_index(corpus, "vec_id", "embedding", idx, dim=64, n_cells=4,
                    learned=False)
    delete_from_ann_index(spark, idx, ids[:2], compact_threshold=2.0)
    append_to_ann_index(spark, corpus.where(F.col("vec_id") == ids[0]),
                        "vec_id", "embedding", idx, ingest_batch=1)
    m = delete_from_ann_index(spark, idx, [ids[2], ids[2], 10**9],
                              compact_threshold=2.0)
    return m["Record count"], m["Tombstone count"]


#: site → (module holding its cap, the cap's name, one run of the site)
TIERS = {
    "graph": (graph, "_GRAPH_DRIVER_MAX_EDGES", _graph),
    "connected_components": (dedup, "_CC_DRIVER_MAX_EDGES", _cc),
    "kmeans": (clustering, "_SEED_DRIVER_MAX_ROWS", _kmeans),
    "pq_train": (clustering, "_SEED_DRIVER_MAX_ROWS", _pq_train),
    "overlap_from_signatures": (dedup, "_SIG_DRIVER_MAX_SOURCES", _sig_overlap),
    "contamination_screened": (dedup, "_SIG_DRIVER_MAX_SOURCES", _contamination),
    "ann_serve": (similarity, "_QUERY_BATCH_CAP_BYTES", _ann_serve),
    "pq_serve": (similarity, "_QUERY_BATCH_CAP_BYTES", _pq_serve),
    "ivf_pq_topk": (similarity, "_QUERY_BATCH_CAP_BYTES", _ivf_pq_topk),
    "ann_serve_scan": (index_tombstones, "_SCAN_DRIVER_MAX_ROWS", _ann_serve),
    "pq_serve_scan": (index_tombstones, "_SCAN_DRIVER_MAX_ROWS", _pq_serve),
    "delete_recount": (index_tombstones, "_SCAN_DRIVER_MAX_ROWS", _delete_recount),
}


def test_pq_serve_runs_one_job(spark, tmp_path, monkeypatch):
    """A warm PQ serve of a client-built query batch runs no job, as
    the cosine serve does: the codebooks, the centroids and the probed
    cells' codes are read on the driver, ADC-scored and merged there.
    At scan cap 0 it runs ONE job: the candidate pass of the shared
    probe serve over the probed cells' codes."""
    from batch_process_dpla_index_spark.products.ann_index import (
        build_ann_index,
        pq_query_indexed,
    )
    from batch_process_dpla_index_spark.sources.tables import load_table
    from tests.conftest import SF_DIR

    emb = load_table(spark, SF_DIR, "embeddings").select("vec_id", "embedding")
    idx = str(tmp_path / "pq_jobs")
    build_ann_index(emb, "vec_id", "embedding", idx, dim=64, n_cells=16,
                    kmeans_iters=2, pq_m=8, pq_iters=2)
    # a local (Arrow) frame, as a serving client builds its batch
    queries = spark.createDataFrame(emb.orderBy("vec_id").limit(25).toPandas())

    def serve():
        return pq_query_indexed(
            spark, queries, "vec_id", "embedding", idx, k=5, n_probe=4
        ).collect()

    assert len(serve()) == 25 * 5  # warm
    rows, jobs = _jobs_in_group(spark, "pq-serve-jobs", serve)
    assert len(rows) == 25 * 5 and jobs == 0
    monkeypatch.setattr(index_tombstones, "_SCAN_DRIVER_MAX_ROWS", 0)
    assert len(serve()) == 25 * 5  # warm
    rows, jobs = _jobs_in_group(spark, "pq-serve-jobs-scan-off", serve)
    assert len(rows) == 25 * 5 and jobs == 1


@pytest.mark.parametrize("site", list(TIERS))
def test_driver_tier_matches_distributed(
    spark, docs, tmp_path, monkeypatch, site
):
    """Every driver tier returns its distributed plan's result: the
    default cap takes the driver tier on these small inputs, cap 0
    takes the distributed plan."""
    module, cap, run = TIERS[site]
    tier = run(spark, docs, tmp_path)
    monkeypatch.setattr(module, cap, 0)
    assert run(spark, docs, tmp_path) == tier
    assert tier, "the input must produce a result"


def test_kmeans_driver_tiers_skip_null_ids(spark, monkeypatch):
    """A NULL vec_id sends the seeding, flat-fit and two-level-fit
    driver tiers to the distributed plan, so each returns the tier-off
    result instead of failing on the NULL."""
    df = _vectors(spark, null_id=True)

    def run():
        return (
            clustering.kmeans_fit(df, k=3, n_iter=2, update_grid=10**6),
            clustering._maximin_seeds(df, "vec_id", "embedding", k=3),
            clustering.kmeans_fit_two_level(
                df, k=4, n_iter=2, update_grid=10**6
            ),
        )

    tier = run()
    monkeypatch.setattr(clustering, "_SEED_DRIVER_MAX_ROWS", 0)
    assert run() == tier
