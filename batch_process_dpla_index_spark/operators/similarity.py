"""Similarity search over embedding columns (array<float>).

Three tiers, one output contract (query_id, neighbor_id, score, rank),
each with one Arrow kernel:

- cosine_topk:        exact brute-force top-k: the Arrow/BLAS
                      mapInArrow path (per-batch matmul + local top-k —
                      never materializes |Q|×|C|).
- lsh_ann_topk:       random-hyperplane LSH (sign sketch) bucketing
                      (:func:`lsh_buckets_pandas`); only bucket-sharing
                      pairs are scored, one matmul per bucket. Recall
                      tunable via (n_planes, n_tables); shuffle on
                      bucket keys only.
- ivf_topk:           inverted-file coarse quantization: single-cell
                      storage + n_probe query fan-out, per-cell Arrow
                      matmul scoring.

Plus embedding_near_dup (threshold pairs — the vector member of the
dedup family). Hyperplanes/centroids derive from the deterministic
h60 digest, so every tier is value-reproducible in the SQL oracle
without RNG state.

Every per-batch kernel here decodes its vectors with
`relational._vector_matrix` and emits through `relational._arrow_map`
(one ``mapInArrow`` seam); the cell- and bucket-grouped scorers
(`_ivf_score_and_rank`, `_scored_bucket_pairs`) stay ``applyInPandas``.
Every scorer, cosine and ADC (`quantization`), picks each query's k
best rows of a scored block with ONE kernel (`_block_topk`), and the
candidates merge one way: the `_rank_candidates` window, or its numpy
twin `_merge_topk` on the driver.

Known precision sensitivity (documented, accepted): the BLAS tiers
rank on raw float64 scores whose summation order (blocked dgemm)
differs from the SQL oracle's left-to-right fold, so two DISTINCT
candidates whose true cosines differ by less than ~1 ulp could rank
differently across engines, and a projection within an ulp of zero
could flip an LSH bucket bit. Exact ties (duplicate embeddings) are
safe — identical inputs produce identical dots in both engines and
the deterministic neighbor-id tie-break applies; the sub-ulp
near-tie case has never occurred on the fixtures and rounding-only
emission (round 6) keeps emitted values engine-identical. Ranking on
rounded scores both sides would close it fully and is the planned
follow-up if a fixture ever trips it.
"""

from __future__ import annotations

from collections.abc import Callable
from typing import NamedTuple

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from batch_process_dpla_index_spark.functions.vectors import cosine, dot
from batch_process_dpla_index_spark.operators.relational import (
    _arrow_map,
    _vector_matrix,
    bounded_collect,
)


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector.

    Output: (query_id, neighbor_id, score, rank). Self-matches excluded.

    Physical plan: the (small, broadcastable-by-contract) query side is
    collected to a dense float64 matrix and shipped in the UDF closure;
    the corpus streams through ``mapInArrow`` where each Arrow batch is
    scored against ALL queries with one BLAS matmul and immediately
    reduced to a per-batch top-k per query. Only ``batches × |Q| × k``
    candidate rows reach the final window — never the |Q|×|C| scored
    rows a broadcast join + window would shuffle. No shuffle until the
    tiny candidate set.

    Rows with a NULL id are dropped on both sides (as the IVF serves
    drop them): such a row can be neither a query nor a neighbor. A
    NULL vector still raises.
    """
    import numpy as np

    has_id = F.col(id_col).isNotNull()
    q_rows = queries.select(F.col(id_col), F.col(vec_col)).where(has_id).collect()
    if not q_rows:
        # np.array([]) is 1-D and the axis-1 reductions below would
        # raise; an empty query side is an empty result
        return corpus.sparkSession.createDataFrame([], _TOPK_SCHEMA)
    q_ids = np.array([r[0] for r in q_rows], dtype="int64")
    q_mat = np.array([r[1] for r in q_rows], dtype="float64")
    id_name, vec_name = id_col, vec_col

    def _score(batch):
        c_ids = batch.column(id_name).to_numpy(zero_copy_only=False).astype("int64")
        c_mat = _vector_matrix(batch, vec_name, dim=q_mat.shape[1])
        # corpus × queries, then transposed: the matmul's own operand
        # order, so raw scores keep their last bits
        out = _block_topk(q_ids, _cosine_scores(c_mat, q_mat).T, c_ids, k)
        return dict(zip(("query_id", "neighbor_id", "raw_score"), out))

    cand = _arrow_map(
        corpus.select(F.col(id_col), F.col(vec_col)).where(has_id),
        _score,
        _CAND_SCHEMA,
    )
    return _rank_candidates(cand, k)


def _h60_py(s: str) -> int:
    """Driver-side twin of functions.text.h60 (first 15 md5 hex chars)."""
    import hashlib

    return int(hashlib.md5(s.encode("utf-8")).hexdigest()[:15], 16)


def _h60_unit(s: str) -> float:
    """h60 scaled to [-1, 1) — THE pseudo-random float generator behind
    every deterministic hyperplane/centroid/codebook component. One
    definition on purpose: the expression tiers, their numpy twins,
    and the SQL oracles must all regenerate bit-identical doubles, so
    the scaling constants live in exactly one place."""
    return (_h60_py(s) % 2_000_003) / 1_000_001.5 - 1.0


def lsh_ann_topk(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    k: int = 5,
    n_planes: int = 8,
    n_tables: int = 4,
) -> DataFrame:
    """Approximate all-pairs top-k: score only bucket-sharing candidates.

    Output: (query_id, neighbor_id, score, rank) — a subset of the exact
    result with tunable recall. Shuffles on (table, bucket) then on
    query_id for the top-k window; never materializes all pairs.

    Physical plan: vectorized bucket assignment
    (:func:`lsh_buckets_pandas`) + sharded per-bucket matmul scoring
    with lossless group-local top-k (:func:`_scored_bucket_pairs`),
    then the shared per-query merge (:func:`_rank_candidates`).
    """
    b = lsh_buckets_pandas(corpus, id_col, vec_col, dim, n_planes, n_tables)
    pairs = _scored_bucket_pairs(b, ordered=False, k=k).dropDuplicates(
        ["id_a", "id_b"]
    )
    return _rank_candidates(
        pairs.select(
            F.col("id_a").alias("query_id"),
            F.col("id_b").alias("neighbor_id"),
            "raw_score",
        ),
        k,
    )


#: (query_id, neighbor_id, raw_score): what every BLAS scoring pass
#: emits before the per-query merge (:func:`_rank_candidates`).
_CAND_SCHEMA = "query_id bigint, neighbor_id bigint, raw_score double"
#: the output contract of every similarity tier
_TOPK_SCHEMA = "query_id bigint, neighbor_id bigint, score double, rank int"


def _rank_candidates(cand: DataFrame, k: int, scorer=None) -> DataFrame:
    """Shared final merge of the BLAS tiers: candidate rows
    (:data:`_CAND_SCHEMA`) → global per-query top-k by (score DESC
    NULLS LAST, neighbor_id ASC) in one window on ``query_id``. NaN
    marks a zero-norm pair and surfaces as NULL (try_divide parity).
    The ranked rows take ``scorer``'s output projection (the cosine
    one, :data:`_COSINE`, by default). Written as SQL text: a few py4j
    calls to plan, where the Column form paid one per expression
    node."""
    return (
        cand.selectExpr(
            "query_id",
            "neighbor_id",
            "CASE WHEN isnan(raw_score) THEN NULL ELSE raw_score END AS score",
        )
        .selectExpr(
            "query_id",
            "neighbor_id",
            "score",
            "row_number() OVER (PARTITION BY query_id"
            " ORDER BY score DESC NULLS LAST, neighbor_id ASC) AS rank",
        )
        .where(f"rank <= {int(k)}")
        .selectExpr(*(scorer or _COSINE).output)
    )


def _run_rank(groups):
    """1-based position of each element of a sorted array within its
    run of equal values."""
    import numpy as np

    starts = np.flatnonzero(np.r_[True, groups[1:] != groups[:-1]])
    group_start = np.repeat(starts, np.diff(np.r_[starts, len(groups)]))
    return np.arange(len(groups)) - group_start + 1


def _merge_topk(q_ids, n_ids, scores, k: int):
    """numpy twin of :func:`_rank_candidates`' window over candidate
    arrays: keep each query's k best by (score DESC, NaN last,
    neighbor_id ASC), the order of :func:`_block_topk`. Returns
    ``(query_id, neighbor_id, raw_score, rank)`` arrays ordered by
    query, then rank."""
    import numpy as np

    order = np.lexsort((n_ids, -scores, q_ids))  # NaN sorts last
    q_ids, n_ids, scores = q_ids[order], n_ids[order], scores[order]
    rank = _run_rank(q_ids)
    keep = rank <= k
    return q_ids[keep], n_ids[keep], scores[keep], rank[keep]


def _block_topk(q_ids, scores, row_ids, k: int):
    """THE block top-k of every similarity scorer: each query's k best
    stored rows of a (queries × rows) ``scores`` block, by (score DESC,
    NaN after every real score, neighbor_id ASC). A row whose id is the
    query's own is never emitted; a duplicate stored id is emitted once
    per row. One ``np.partition`` to each query's k-th key keeps every
    key up to it (ties at the boundary survive), then one ``lexsort``
    of the survivors by (query, key, id) and the first k per query.
    Returns ``(query_id, neighbor_id, raw_score)`` arrays in query-row
    order, best first."""
    import numpy as np

    key = -np.asarray(scores, dtype="float64")  # ascending; NaN sorts last
    own = q_ids[:, None] == row_ids[None, :]
    key[own] = np.nan
    keep = ~own
    if 0 < k < key.shape[1]:
        kth = np.partition(key, k - 1, axis=1)[:, k - 1 : k]
        keep &= (key <= kth) | np.isnan(kth)
    r, c = np.nonzero(keep)
    order = np.lexsort((row_ids[c], key[r, c], r))
    r, c = r[order], c[order]
    first = _run_rank(r) <= k
    r, c = r[first], c[first]
    return q_ids[r], row_ids[c], scores[r, c]


def embedding_near_dup(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    threshold: float = 0.3,
    n_planes: int = 8,
    n_tables: int = 4,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs — the vector-space member
    of the dedup family: (id_a < id_b, score) for pairs sharing an LSH
    bucket whose exact cosine ≥ threshold.

    Same 100 TB shape as :func:`lsh_ann_topk`: shuffle on bucket keys,
    candidate verification only — never all pairs. Recall is the LSH
    S-curve; the verification makes precision exact. Physical plan:
    the same Arrow bucket assignment and per-bucket matmul as
    lsh_ann_topk, with sub-threshold pairs dropped inside the bucket.
    """
    b = lsh_buckets_pandas(corpus, id_col, vec_col, dim, n_planes, n_tables)
    pairs = _scored_bucket_pairs(
        b, ordered=True, threshold=threshold
    ).dropDuplicates(["id_a", "id_b"])
    return pairs.select("id_a", "id_b", F.round("raw_score", 6).alias("score"))


def _centroid(cell: int, dim: int):
    """Deterministic pseudo-random IVF centroid (same h60-literal scheme
    as the hyperplanes: computed driver-side, embedded as float
    literals — zero plan bloat)."""
    return F.array(
        *[
            F.lit(_h60_unit(f"ivf:{cell}:{d}"))
            for d in range(dim)
        ]
    )


def ivf_assign(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    n_cells: int = 16,
    n_probe: int = 1,
) -> DataFrame:
    """(id, vec, cells: array<int>) — the ``n_probe`` nearest coarse
    cells by dot product, nearest first. n_probe=1 is the storage
    assignment; queries probe more cells for recall."""
    scored = F.array(
        *[
            F.struct(
                dot(F.col(vec_col), _centroid(c, dim)).alias("d"),
                F.lit(c).alias("cell"),
            )
            for c in range(n_cells)
        ]
    )
    # lexicographic struct sort: by dot asc then cell asc → reverse for
    # best-first; ties break toward the higher cell id (deterministic).
    probes = F.slice(F.reverse(F.array_sort(scored)), 1, n_probe)
    return df.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("vec"),
        F.transform(probes, lambda s: s.getField("cell")).alias("cells"),
    )


def _centroid_matrix(dim: int, n_cells: int):
    """numpy twin of :func:`_centroid` — identical float values."""
    import numpy as np

    return np.array(
        [
            [
                _h60_unit(f"ivf:{c}:{d}")
                for d in range(dim)
            ]
            for c in range(n_cells)
        ],
        dtype="float64",
    )


def _pseudo_random_two_level(dim: int, n_cells: int):
    """Group the flat pseudo-random centroid grid
    (:func:`_centroid_matrix`) into a two-level model over the SAME
    global cell-id space: fine cell ``c*k_f + j`` is flat row
    ``c*k_f + j``, coarse centroid ``c`` is the mean of its group's
    rows. Assignment through `clustering.kmeans_assign_two_level`
    then costs O(√k·dim) per row while cell ids stay exactly the flat
    quantizer's row indices — no training pass, and stored/probe
    sides agree by construction (both run the same two-level
    inference; a row near a group boundary may land one cell over vs
    the flat argmin — the standard IVF probe-width tradeoff).

    Returns ``(coarse, fine, k_f)`` in the `kmeans_fit_two_level`
    model shape."""
    import math

    M = _centroid_matrix(dim, n_cells)
    k_f = max(1, math.isqrt(n_cells))
    k_c = -(-n_cells // k_f)  # ceil
    coarse: list[list[float]] = []
    fine: dict[int, list[list[float]]] = {}
    for c in range(k_c):
        rows = M[c * k_f : min((c + 1) * k_f, n_cells)]
        fine[c] = rows.tolist()
        coarse.append(rows.mean(axis=0).tolist())
    return coarse, fine, k_f


def _imi_probe_split(
    n_probe: int,
    n_cells: int,
    k_f: int,
    n_trained_coarse: int,
    probe_coarse: int | None,
    probe_fine: int | None,
) -> tuple[int, int]:
    """Resolve a flat ``n_probe`` cell budget into the IMI's
    (coarse, fine) probe widths when the caller didn't pick them:
    a BALANCED split (p_c ≈ √n_probe coarse regions, p_f fine probes
    each, p_c·p_f ≥ n_probe) — probing one coarse region deeply loses
    to the flat index whenever a query sits near a coarse boundary,
    so budget goes to region diversity first (FAISS's IMI default
    shape). Calibration contract: ``n_probe ≥ n_cells`` (the
    full-probe request) probes every trained cell, so the serve is
    the exact search — the same property the flat path has."""
    import math

    if probe_coarse is not None and probe_fine is not None:
        return max(1, int(probe_coarse)), max(1, int(probe_fine))
    if probe_fine is not None:
        # one width given: the other derives from the n_probe budget —
        # defaulting it to FULL would silently pay the O(k·dim) scan
        # the IMI layout exists to avoid
        p_f = max(1, int(probe_fine))
        return min(n_trained_coarse, max(1, -(-n_probe // p_f))), p_f
    if probe_coarse is not None:
        p_c = max(1, int(probe_coarse))
        return p_c, min(k_f, max(1, -(-n_probe // p_c)))
    if n_probe >= n_cells:
        return n_trained_coarse, k_f
    p_c = min(n_trained_coarse, max(1, math.isqrt(max(1, n_probe - 1)) + 1))
    p_f = min(k_f, -(-n_probe // p_c))  # ceil, capped at the stride
    while p_c * p_f < n_probe and p_c < n_trained_coarse:
        p_c += 1  # k_f capped the fine width; widen coarse to cover
    return p_c, p_f


def _two_level_probe_blocks(
    mat, model, k_f: int, p_c: int, n_probe_fine: int, metric: str
):
    """Shared probe kernel of :func:`_imi_probe_cells`,
    :func:`_imi_query_topk` and :func:`two_level_cells_pandas`: rank
    the trained coarse centroids per row (keep ``p_c``), then rank
    only those cells' fine codebooks (keep ``n_probe_fine`` each,
    capped by ragged codebook width), and
    yield one ``(slot, rows, gcells)`` block per (probe slot, unique
    coarse cell) — ``slot`` the 0-based coarse probe rank (lets a
    uniform-width consumer scatter the block straight into column
    band ``slot*p_f:(slot+1)*p_f`` of a preallocated matrix), ``rows``
    the batch row indices in the block, ``gcells`` their
    (len(rows) × p_f) probed global cell ids. One BLAS matmul +
    one row-wise argsort per block; the per-row/per-candidate Python
    loop is the interpreted cost class this module bans from serve
    paths. ``metric``: "l2" = reduced-form d² asc, ties to the lower
    cell (trained k-means convention, numpy stable argsort — the SQL
    (d2, ccell) row_number twin); "dot" = dot DESC, ties to the
    HIGHER cell (`_cell_order`, the flat pseudo-random quantizer's
    scale-invariant convention)."""
    import numpy as np

    cell_of, cents, csq, fmats, fsq = model
    if metric == "dot":
        corder = _cell_order(mat @ cents.T)[:, :p_c]
    else:
        cd2 = csq[None, :] - 2.0 * (mat @ cents.T)
        corder = np.argsort(cd2, axis=1, kind="stable")[:, :p_c]
    for s in range(p_c):
        slot = cell_of[corder[:, s]]
        for c in np.unique(slot):
            rows = np.nonzero(slot == c)[0]
            fm = fmats[int(c)]
            p_f = min(n_probe_fine, fm.shape[0])
            if metric == "dot":
                order = _cell_order(mat[rows] @ fm.T)[:, :p_f]
            else:
                fd2 = fsq[int(c)][None, :] - 2.0 * (mat[rows] @ fm.T)
                order = np.argsort(fd2, axis=1, kind="stable")[:, :p_f]
            yield s, rows, int(c) * k_f + order


def two_level_cells_pandas(
    df: DataFrame,
    coarse,
    fine: dict[int, list[list[float]]],
    k_f: int,
    n_probe_coarse: int,
    n_probe_fine: int,
    id_col: str,
    vec_col: str,
    metric: str = "l2",
) -> DataFrame:
    """(id, vec, cells): each row's probed GLOBAL two-level cells in
    the `ivf_cells_pandas` output shape — ``cells[0]`` is the
    two-level rank-1 cell (best fine within the best coarse); under
    ``metric="l2"`` that is exactly
    `clustering.kmeans_assign_two_level`'s storage cell, so
    ``element_at(cells, 1)`` keeps working as the storage assignment.
    ``metric="dot"`` ranks by dot product DESC with ties toward the
    HIGHER cell id — the flat pseudo-random quantizer's `_cell_order`
    convention, which is scale-invariant like the flat path (an L2
    ranking over the untrained grid would change the metric the
    incremental-dedup family's stored cells were defined under).
    Remaining entries follow (coarse rank, fine rank) order. One Arrow
    pass; per-row cost (k_c + p_c·k_f)·dim ≈ O(√k·dim) vs the flat
    pass's O(k·dim)."""
    import numpy as np

    from batch_process_dpla_index_spark.operators.clustering import (
        _two_level_model_arrays,
    )

    if metric not in ("l2", "dot"):
        raise ValueError(f"unknown metric {metric!r}; expected 'l2' or 'dot'")
    model = _two_level_model_arrays(coarse, fine, k_f)
    p_c = min(n_probe_coarse, len(model[0]))
    # Uniform fine-probe width (the common full-grid case — every
    # trained cell's codebook at least n_probe_fine wide, or all the
    # same narrower width): every block then lands in a fixed column
    # band of a preallocated matrix, so the probe lists assemble as
    # numpy scatters into one 2-D array the seam emits from offsets,
    # not the per-row/per-cell interpreted extend this module bans
    # from serve paths.
    widths = {min(n_probe_fine, m.shape[0]) for m in model[3].values()}
    p_f_u = widths.pop() if len(widths) == 1 else None
    id_name, vec_name = id_col, vec_col

    def run(batch):
        mat = _vector_matrix(batch, vec_name, dim=model[1].shape[1])
        if p_f_u is not None:
            # full-grid fast path: blocks partition the rows within
            # each slot, so the matrix is completely filled
            probe_lists = np.empty((len(mat), p_c * p_f_u), dtype="int64")
            for s, rows, gids in _two_level_probe_blocks(
                mat, model, k_f, p_c, n_probe_fine, metric
            ):
                probe_lists[rows, s * p_f_u:(s + 1) * p_f_u] = gids
        else:
            # ragged p_f (under-full fine codebooks) keeps the
            # per-row python assembly, still from the shared
            # kernel's numpy blocks
            probe_lists = [[] for _ in range(len(mat))]
            for _s, rows, gids in _two_level_probe_blocks(
                mat, model, k_f, p_c, n_probe_fine, metric
            ):
                for r, row_gids in zip(rows, gids):
                    probe_lists[int(r)].extend(int(g) for g in row_gids)
        return {
            "id": batch.column(id_name),
            "vec": batch.column(vec_name),
            "cells": probe_lists,
        }

    vec_ddl = df.schema[vec_col].dataType.simpleString()
    return _arrow_map(
        df.select(F.col(id_col), F.col(vec_col)), run,
        f"id bigint, vec {vec_ddl}, cells array<int>",
    )


def _cell_order(dots):
    """Row-wise coarse-cell ranking by (dot desc, cell desc) — THE IVF
    assignment tie-break. Every site that ranks cells (`ivf_cells_pandas`,
    `quantization.ivf_pq_topk`'s storage and probe sides) must call this
    one implementation, or a drifted copy silently desynchronizes the
    engine from the `_ivf_oracle` replay's `ORDER BY d DESC, cell DESC`."""
    import numpy as np

    cell_ids = np.arange(dots.shape[1])
    return np.lexsort((-np.tile(cell_ids, (dots.shape[0], 1)), -dots), axis=1)


def _coarse_matrix(dim: int, n_cells: int, centroids=None):
    """dim × cells matrix of the flat IVF quantizer: the learned
    ``centroids`` (k×dim) when given, else the deterministic
    pseudo-random grid. Rows rank their cells by ``_cell_order(mat @
    this)``."""
    import numpy as np

    if centroids is not None:
        return np.asarray(centroids, dtype="float64").T
    return _centroid_matrix(dim, n_cells).T


def ivf_cells_pandas(
    df: DataFrame, id_col: str, vec_col: str, dim: int, n_cells: int, n_probe: int,
    centroids=None,
    include_vec: bool = True,
) -> DataFrame:
    """(id, vec, cells array<int>) via one Arrow pass: N×dim @ dim×cells
    matmul + per-row argsort — the vectorized twin of
    :func:`ivf_assign` (ties break toward the higher cell id, same as
    the expression form's struct-max). Pass ``centroids`` (k×dim, e.g.
    from ``operators.clustering.kmeans_fit``) to use a LEARNED coarse
    quantizer instead of the deterministic pseudo-random one.

    ``include_vec=False`` drops the vector from the OUTPUT (the
    assignment still reads it): Catalyst cannot prune mapInArrow
    output columns, so a consumer that only wants cell ids (e.g. the
    occupancy diagnostic) would otherwise pay N×dim floats of Arrow
    transfer back to the JVM for nothing."""
    cents = _coarse_matrix(dim, n_cells, centroids)
    id_name, vec_name = id_col, vec_col

    def assign(batch):
        mat = _vector_matrix(batch, vec_name, dim=cents.shape[0])
        dots = mat @ cents  # N × cells
        order = _cell_order(dots)[:, :n_probe]
        out = {"id": batch.column(id_name)}
        if include_vec:
            out["vec"] = batch.column(vec_name)
        out["cells"] = order
        return out

    vec_ddl = df.schema[vec_col].dataType.simpleString()
    schema = (
        f"id bigint, vec {vec_ddl}, cells array<int>"
        if include_vec
        else "id bigint, cells array<int>"
    )
    return _arrow_map(df.select(F.col(id_col), F.col(vec_col)), assign, schema)


def cell_occupancy(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    n_cells: int = 16,
) -> DataFrame:
    """(cell, n_vecs, share, crowded): rows-per-cell occupancy of the
    IVF coarse quantizer — the observable behind the embedding-index
    rebuild trigger (`products.embedding_index.embedding_index_occupancy`
    surfaces the same numbers for a PERSISTED index; this is the
    in-line twin over a corpus frame, with per-cell resolution for
    skew diagnosis). ``crowded`` flags cells holding more than twice
    the mean occupancy — the skew that converts into probe-time hot
    cells and over-long per-cell scoring tasks.

    Plan shape: one Arrow assign pass (the hash-proven
    `ivf_cells_pandas` rank-1 path), one |cells|-row count aggregate
    (map-side partials), and a 1-row broadcast corpus-stats aggregate
    joined back (the bm25 corpus_stats shape, ranking.py) — zero
    single-partition window stages at ANY cell count, so the
    diagnostic itself can't become the skewed task it reports on."""
    # include_vec=False: only the rank-1 cell id crosses Arrow back to
    # the JVM (mapInArrow output can't be column-pruned by Catalyst —
    # the default shape would ship all N×dim floats for a 16-row
    # diagnostic)
    assigned = ivf_cells_pandas(
        corpus, id_col, vec_col, dim, n_cells, 1, include_vec=False
    )
    per = (
        assigned.select(F.element_at("cells", 1).cast("int").alias("cell"))
        .groupBy("cell")
        .agg(F.count("*").cast("bigint").alias("n_vecs"))
    )
    # totals over |cells| rows collapse to ONE row — broadcast and join
    # instead of a partition-less window (which would drag every cell
    # row onto a single task; harmless at 16 cells, a straggler at the
    # N/64 adaptive cell counts a 100 TB corpus produces)
    totals = per.agg(
        F.sum("n_vecs").alias("__tot"), F.avg("n_vecs").alias("__avg")
    )
    return per.crossJoin(F.broadcast(totals)).select(
        "cell",
        "n_vecs",
        F.round(F.col("n_vecs") / F.col("__tot"), 6).alias("share"),
        (F.col("n_vecs") > 2 * F.col("__avg")).alias("crowded"),
    )


def ivf_topk(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    k: int = 5,
    n_cells: int = 16,
    n_probe: int = 4,
    centroids=None,
) -> DataFrame:
    """IVF approximate all-pairs top-k — the inverted-file scale path
    beside the hyperplane-LSH variant. ``centroids`` switches the
    coarse quantizer to a learned k-means codebook
    (``operators.clustering.kmeans_fit``) — the production IVF shape;
    recall improvement over the pseudo-random quantizer is pinned in
    tests/test_clustering.py.

    Storage side: every vector lives in its single nearest coarse cell.
    Query side: each vector probes its ``n_probe`` nearest cells.
    Physical shape: one Arrow pass assigns cells (N×cells matmul), one
    shuffle on the cell id groups each cell's stored+probing vectors
    into a single applyInPandas group scored with ONE BLAS matmul and
    reduced to a per-cell top-k — Arrow transfer is per-vector, never
    per-candidate-pair (the expression form paid an interpreted 64-dim
    fold per pair: 5× slower at sf0.1). At 100 TB, n_cells scales ~√N
    so both the shuffle and each group stay bounded.
    """
    from batch_process_dpla_index_spark.operators.dedup import _with_cached_deps

    # persist: stored + probing both read the Arrow assignment frame —
    # unpersisted, the full-corpus N×cells matmul pass would execute
    # once per union branch (caller releases via unpersist_deps)
    assigned = ivf_cells_pandas(
        corpus, id_col, vec_col, dim, n_cells, n_probe, centroids
    ).persist()
    stored = assigned.select(
        F.element_at("cells", 1).alias("cell"),
        F.lit(0).alias("role"),
        F.col("id"),
        F.col("vec"),
    )
    probing = assigned.select(
        F.explode("cells").alias("cell"), F.lit(1).alias("role"), F.col("id"), F.col("vec")
    )
    return _with_cached_deps(_ivf_score_and_rank(stored, probing, k), [assigned])


def _cosine_scores(a, b):
    """(rows of ``a`` × rows of ``b``) cosine matrix in float64 from ONE
    BLAS matmul — the cosine block of every similarity tier. NaN marks a
    zero-norm pair (surfaced as NULL by the per-query merge)."""
    import numpy as np

    a = a.astype("float64", copy=False)
    b = b.astype("float64", copy=False)
    a_norm = np.sqrt((a * a).sum(axis=1))
    b_norm = np.sqrt((b * b).sum(axis=1))
    denom = np.outer(a_norm, b_norm)
    with np.errstate(divide="ignore", invalid="ignore"):
        return np.where(denom == 0, np.nan, (a @ b.T) / denom)


class _BlockScorer(NamedTuple):
    """How an IVF serve scores one probed cell and names its output.

    ``scores(q_mat, c_block)`` scores the float64 query rows probing a
    cell against the cell's stored ``payload`` column (a
    row-per-stored-id matrix of the column's own element type) and
    returns the (queries × rows) float64 block, higher is better, that
    :func:`_block_topk` reduces. ``output`` projects the merged
    (query_id, neighbor_id, score, rank) rows onto the caller's output
    columns."""

    payload: str
    scores: Callable
    output: tuple[str, ...]


#: cosine over the stored float vectors: (query_id, neighbor_id, score,
#: rank), the output contract of every similarity tier
_COSINE = _BlockScorer(
    "vec", _cosine_scores,
    ("query_id", "neighbor_id", "round(score, 6) AS score", "rank"),
)


def _cand_frame(out_q, out_n, out_s):
    import pandas as pd

    return pd.DataFrame(
        {"query_id": pd.Series(out_q, dtype="int64"),
         "neighbor_id": pd.Series(out_n, dtype="int64"),
         "raw_score": pd.Series(out_s, dtype="float64")}
    )


def _ivf_score_and_rank(
    stored: DataFrame, probing: DataFrame, k: int, scorer: _BlockScorer = _COSINE
) -> DataFrame:
    """Shared IVF scoring tail: union the (cell, role, id, ...) sides,
    one applyInPandas ``scorer`` block per cell, global per-query
    top-k. ``stored`` rows carry role=0 and the scorer's payload
    column, ``probing`` rows role=1 and the query ``vec``; a stored
    row never scores against itself (neighbor_id == query_id is
    masked). The all-pairs operators (:func:`ivf_topk`,
    :func:`imi_topk`) and the over-cap query serve (:func:`_probe_serve`)
    run it."""
    import numpy as np

    pay = scorer.payload

    def score_cell(pdf):
        st = pdf[pdf["role"] == 0]
        pr = pdf[pdf["role"] == 1]
        if not len(st) or not len(pr):
            return _cand_frame([], [], [])
        return _cand_frame(*_block_topk(
            pr["id"].to_numpy(dtype="int64"),
            scorer.scores(
                np.array(list(pr["vec"]), dtype="float64"),
                np.array(list(st[pay])),
            ),
            st["id"].to_numpy(dtype="int64"),
            k,
        ))

    cand = (
        stored.unionByName(probing, allowMissingColumns=True)
        .groupBy("cell")
        .applyInPandas(score_cell, _CAND_SCHEMA)
    )
    return _rank_candidates(cand, k, scorer)


#: Most bytes the broadcast-probe serve moves through the driver, per
#: side: the query vectors it collects and ships in its closure (8·dim
#: float64 bytes per query: 1,024 queries at dim 64), and the
#: candidates it collects back to merge (24 bytes per (query_id,
#: neighbor_id, raw_score) row, probes·k rows per query). A batch over
#: either bound takes the cell shuffle. Set below the measured
#: crossover (4 cores, local[4], k 5, 4 probes): the Arrow pass scores
#: on as many cores as the probed cells have files, so a small index
#: scores on one and the shuffle overtakes it at ~1-2k queries
#: (two-level, 8k vectors), ~2-3k (flat, 8k) and past 4k (flat, 50k
#: vectors in 4 files).
_QUERY_BATCH_CAP_BYTES = 512 << 10


def _probe_serve(
    stored: "Callable[[], DataFrame]",
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    k: int,
    probes: int,
    probe_blocks,
    probing,
    scorer: _BlockScorer = _COSINE,
    read_cells=None,
) -> DataFrame:
    """Serve a query batch against PRE-ASSIGNED stored cells — the one
    IVF top-k serve: flat (:func:`_flat_query_topk`) and two-level
    (:func:`_imi_query_topk`) cells, scored by cosine over the stored
    vectors (:data:`_COSINE`) or by ADC over the stored PQ codes
    (`quantization._adc_scorer`). The layouts differ only in how a
    query ranks its cells (``probes`` is the most cells one query
    probes); the scorers only in the stored column they read and the
    output columns they name.

    Broadcast-probe plan (Odyssey's choice: leave the stored data in
    place, send the small query set to it and merge the results on the
    coordinator):

    1. collect the batch (:func:`relational.bounded_collect`); cap =
       the most queries whose vectors (8·dim bytes each) and
       candidates (probes·k rows of 24 bytes each) both fit in
       :data:`_QUERY_BATCH_CAP_BYTES`;
    2. rank each query's probe cells on the driver —
       ``probe_blocks(q_mat)`` yields `_two_level_probe_blocks`-shaped
       ``(slot, rows, gcells)`` blocks (batch row indices × their
       probed cell ids) from the shared numpy kernels;
    3. read only (cell, id, payload) of the probed cells;
    4. score them with ``score``: per cell an Arrow batch holds, one
       ``scorer.scores`` block against the queries probing it reduced
       by :func:`_block_topk`, and one per-query top-k over everything
       the batches held (:func:`_merge_topk`);
    5. merge the candidates per query on the driver (:func:`_merge_topk`
       again).

    Steps 3-4 take one of two routes. ``read_cells(cells, columns)``,
    when the caller has one (a persisted index:
    `index_tombstones.live_table`), reads the probed live cells on the
    driver as a ``pa.Table``, and ``score`` runs there over its
    batches: the serve runs no Spark job (a batch that is not a local
    frame costs its own collect). When there is no reader, or it
    declines (None: over its row cap, or a NULL), the stored frame is
    filtered to the probed set (``cell IN (...)``, pushed into the
    scan) and ``score`` runs as ONE mapInArrow pass whose candidates
    are collected: one Spark job, plus the tombstone broadcast when
    the index has deletes. ``stored`` is a zero-argument function that
    builds that frame, so a serve the reader answers plans no Spark
    read.

    The result is a local frame whose output projection Spark folds
    on the driver, so a consumer's action runs no further job. Stored
    rows never cross an exchange, and nothing shuffles. Over the cap
    the batch takes the distributed plan instead: ``probing(queries)``
    assigns it in an Arrow pass and :func:`_ivf_score_and_rank`
    shuffles stored and probe rows on the cell id. Same rows on every
    route (pinned in tests): each serves the batch without its rows
    whose id or vector is NULL, which have no neighbors to rank."""
    import numpy as np
    import pyarrow as pa

    queries = queries.select(F.col(id_col), F.col(vec_col)).where(
        F.col(id_col).isNotNull() & F.col(vec_col).isNotNull()
    )
    cap = min(
        _QUERY_BATCH_CAP_BYTES // (8 * dim),
        _QUERY_BATCH_CAP_BYTES // (24 * max(1, probes) * max(1, k)),
    )
    rows = bounded_collect(queries, cap)
    pay = scorer.payload
    if rows is None:
        stored_side = stored().select(
            F.col("cell").cast("int").alias("cell"),
            F.lit(0).alias("role"),
            F.col("id"),
            F.col(pay),
        )
        return _ivf_score_and_rank(stored_side, probing(queries), k, scorer)
    spark = queries.sparkSession
    if not rows:
        return spark.createDataFrame([], _TOPK_SCHEMA).selectExpr(*scorer.output)
    q_ids = np.array([r[0] for r in rows], dtype="int64")
    q_mat = np.array([r[1] for r in rows], dtype="float64")
    blocks = list(probe_blocks(q_mat))
    q_rows = np.concatenate([np.repeat(r, g.shape[1]) for _s, r, g in blocks])
    q_cells = np.concatenate([g.reshape(-1) for _s, _r, g in blocks])
    by_cell = np.argsort(q_cells, kind="stable")
    cells, starts = np.unique(q_cells[by_cell], return_index=True)
    # cell → the query rows probing it: the closure the scan side needs
    probers = dict(zip(cells.tolist(), np.split(q_rows[by_cell], starts[1:])))
    cand_schema = pa.schema([
        ("query_id", pa.int64()),
        ("neighbor_id", pa.int64()),
        ("raw_score", pa.float64()),
    ])

    def score(batches):
        blocks = []
        for rb in batches:
            if not rb.num_rows:
                continue
            cell = rb.column("cell").to_numpy()
            ids = rb.column("id").to_numpy()
            mat = _vector_matrix(rb, pay, dtype=None)
            for c in np.unique(cell):
                qi = probers[int(c)]
                sel = cell == c
                blocks.append(_block_topk(
                    q_ids[qi], scorer.scores(q_mat[qi], mat[sel]), ids[sel], k
                ))
        if blocks:
            tq, tn, ts, _rank = _merge_topk(
                *(np.concatenate(col) for col in zip(*blocks)), k
            )
            yield pa.RecordBatch.from_arrays(
                [pa.array(tq), pa.array(tn), pa.array(ts)], schema=cand_schema
            )

    local = read_cells(cells.tolist(), ["cell", "id", pay]) if read_cells else None
    if local is not None:
        cand = pa.Table.from_batches(
            list(score(local.to_batches())), schema=cand_schema
        )
    else:
        probed = ", ".join(map(str, cells.tolist()))
        cand = (
            stored()
            .where(f"cell IN ({probed})")
            .selectExpr("CAST(cell AS INT) AS cell", "id", pay)
            .mapInArrow(score, _CAND_SCHEMA)
            .toArrow()
        )
    tq, tn, ts, rank = _merge_topk(
        cand.column("query_id").to_numpy(),
        cand.column("neighbor_id").to_numpy(),
        cand.column("raw_score").to_numpy(),
        k,
    )
    # NaN (a zero-norm pair) becomes NULL, as _rank_candidates does
    merged = pa.table(
        {
            "query_id": pa.array(tq, pa.int64()),
            "neighbor_id": pa.array(tn, pa.int64()),
            "score": pa.array(ts, pa.float64(), from_pandas=True),
            "rank": pa.array(rank, pa.int32()),
        }
    )
    return spark.createDataFrame(merged, _TOPK_SCHEMA).selectExpr(*scorer.output)


def ivf_query_topk(
    stored: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    k: int = 5,
    n_cells: int = 16,
    n_probe: int = 4,
    centroids=None,
) -> DataFrame:
    """Query-vs-corpus IVF top-k against PRE-ASSIGNED corpus cells.

    ``stored`` is (cell int, id, vec) — e.g. read back from the
    persisted ANN index (``products.ann_index``) so the corpus is never
    re-assigned per query batch. A batch whose query vectors and
    candidates fit :data:`_QUERY_BATCH_CAP_BYTES` is collected and each
    query ranks its ``n_probe`` cells on the driver (the `_cell_order`
    convention); the stored side is read only in the probed cells and
    scored in ONE Arrow pass, and the candidates merge on the driver
    into a local frame: one Spark job, with no exchange
    (:func:`_probe_serve`). A larger batch takes the cell-grouped
    shuffle of :func:`ivf_topk` instead. With ``queries == corpus`` and
    the same quantizer this reproduces ``ivf_topk`` exactly (pinned in
    tests). Query rows with a NULL id or a NULL vector are dropped on
    both paths: they return no rows.
    """
    return _flat_query_topk(
        lambda: stored, queries, id_col, vec_col, dim, k, n_cells, n_probe,
        centroids,
    )


def _flat_query_topk(
    stored: "Callable[[], DataFrame]",
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    k: int,
    n_cells: int,
    n_probe: int,
    centroids=None,
    scorer: _BlockScorer = _COSINE,
    read_cells=None,
) -> DataFrame:
    """:func:`ivf_query_topk` under any block scorer and cell reader
    (:func:`_probe_serve`): each query probes its ``n_probe`` flat
    cells by `_cell_order` (on the driver, or in the fallback's
    :func:`ivf_cells_pandas` pass)."""
    import numpy as np

    def probe_blocks(mat):
        order = _cell_order(mat @ _coarse_matrix(dim, n_cells, centroids))
        return [(0, np.arange(len(mat)), order[:, :n_probe])]

    def probing(batch):
        return ivf_cells_pandas(
            batch, id_col, vec_col, dim, n_cells, n_probe, centroids
        ).select(
            F.explode("cells").alias("cell"),
            F.lit(1).alias("role"),
            F.col("id"),
            F.col("vec"),
        )

    return _probe_serve(
        stored, queries, id_col, vec_col, dim, k, min(n_probe, n_cells),
        probe_blocks, probing, scorer, read_cells,
    )


def _imi_query_topk(
    stored: "Callable[[], DataFrame]",
    queries: DataFrame,
    coarse,
    fine: dict[int, list[list[float]]],
    k_f: int,
    n_probe_coarse: int,
    n_probe_fine: int,
    id_col: str,
    vec_col: str,
    dim: int,
    k: int,
    scorer: _BlockScorer = _COSINE,
    read_cells=None,
) -> DataFrame:
    """:func:`_flat_query_topk` for a two-level (IMI) index: each query's
    p_c·p_f probed global cells come from `_two_level_probe_blocks`
    (l2, the storage-assignment ranking); the fallback probe side is
    :func:`_imi_probe_cells`. Same serve, same rows either way."""
    from batch_process_dpla_index_spark.operators.clustering import (
        _two_level_model_arrays,
    )

    model = _two_level_model_arrays(coarse, fine, k_f)
    p_c = min(n_probe_coarse, len(model[0]))

    def probe_blocks(mat):
        return _two_level_probe_blocks(mat, model, k_f, p_c, n_probe_fine, "l2")

    def probing(batch):
        return _imi_probe_cells(
            batch, coarse, fine, k_f, n_probe_coarse, n_probe_fine,
            id_col, vec_col,
        )

    return _probe_serve(
        stored, queries, id_col, vec_col, dim, k,
        p_c * min(n_probe_fine, k_f), probe_blocks, probing, scorer,
        read_cells,
    )


def _imi_probe_cells(
    df: DataFrame,
    coarse,
    fine: dict[int, list[list[float]]],
    k_f: int,
    n_probe_coarse: int,
    n_probe_fine: int,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """(cell, role=1, id, vec): each query's p_c·p_f probed GLOBAL
    two-level cells — rank the coarse centroids (d2 asc, cell asc:
    numpy stable argsort, the SQL (d2, ccell) row_number twin), keep
    p_c, then rank the fine centroids within each probed coarse cell
    and keep p_f. One Arrow pass; per-row work (k_c + p_c·k_f)·dim."""
    import numpy as np

    from batch_process_dpla_index_spark.operators.clustering import (
        _two_level_model_arrays,
    )

    # shared with kmeans_assign_two_level: same trained-cell
    # restriction and the same stride-collision guard
    model = _two_level_model_arrays(coarse, fine, k_f)
    p_c = min(n_probe_coarse, len(model[0]))
    id_name, vec_name = id_col, vec_col

    def run(batch):
        mat = _vector_matrix(batch, vec_name, dim=model[1].shape[1])
        # exploded (cell, id, vec) rows assembled from the shared
        # probe kernel's numpy blocks (l2: trained-model ranking,
        # ties to the lower cell — the SQL (d2, ccell) twin)
        rep_parts, cell_parts = [], []
        for _s, rows, gids in _two_level_probe_blocks(
            mat, model, k_f, p_c, n_probe_fine, "l2"
        ):
            rep_parts.append(np.repeat(rows, gids.shape[1]))
            cell_parts.append(gids.reshape(-1))
        if not rep_parts:
            return None
        rep = np.concatenate(rep_parts)
        return {
            "cell": np.concatenate(cell_parts),
            "id": batch.column(id_name).take(rep),
            "vec": batch.column(vec_name).take(rep),
        }

    vec_ddl = df.schema[vec_col].dataType.simpleString()
    return _arrow_map(
        df.select(F.col(id_col), F.col(vec_col)), run,
        f"cell int, id bigint, vec {vec_ddl}",
    ).select("cell", F.lit(1).alias("role"), "id", "vec")


def imi_topk(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_cells: int = 16,
    coarse_k: int = 4,
    n_iter: int = 2,
    coarse_iter: int = 2,
    n_probe_coarse: int = 2,
    n_probe_fine: int = 2,
    update_grid: int = 10**6,
) -> DataFrame:
    """Inverted-multi-index (IMI) approximate all-pairs top-k: ANN
    serving THROUGH the two-level coarse quantizer — the serve-side
    completion of `clustering.kmeans_fit_two_level` (which fixed the
    training assign pass) for k beyond ~10⁵ cells, where even RANKING
    a flat centroid list per query is O(k·dim). Here a query ranks
    k_c coarse centroids, keeps ``n_probe_coarse``, ranks only THOSE
    cells' fine codebooks and keeps ``n_probe_fine`` each — per-query
    probe cost (k_c + p_c·k_f)·dim ≈ O(√k·dim), probing p_c·p_f global
    cells.

    Storage side: every corpus vector lives in its two-level global
    cell (`kmeans_assign_two_level`, fixed-stride ids). Scoring tail
    is the hash-proven `_ivf_score_and_rank` (one applyInPandas BLAS
    matmul per cell, per-cell top-k, global (score DESC, id ASC)
    rank). The whole chain — integer-grid two-level fit, probe
    rankings, strict-fold cosine — replays as unrolled DuckDB CTEs
    (`_imi_topk_oracle` composes `_two_level_cte_chain` with the
    `_ivf_oracle` serving conventions).

    At 100 TB: two Arrow passes over the corpus (store-assign +
    probe), one shuffle on the global cell id; cells stay bounded by
    sizing k for constant cell population exactly as the flat IVF
    path does."""
    from batch_process_dpla_index_spark.operators.clustering import (
        kmeans_assign_two_level,
        kmeans_fit_two_level,
    )

    coarse, fine, k_f = kmeans_fit_two_level(
        corpus, id_col, vec_col, k=n_cells, coarse_k=coarse_k,
        n_iter=n_iter, coarse_iter=coarse_iter, init="hash",
        update_grid=update_grid, tol=0.0,
    )
    stored = kmeans_assign_two_level(
        corpus, coarse, fine, k_f, id_col, vec_col, keep_vec=True
    ).select("cell", F.lit(0).alias("role"), "id", "vec")
    probing = _imi_probe_cells(
        corpus, coarse, fine, k_f, n_probe_coarse, n_probe_fine,
        id_col, vec_col,
    )
    return _ivf_score_and_rank(stored, probing, k)


def _hyperplane_matrix(dim: int, n_planes: int, n_tables: int):
    """Deterministic pseudo-random hyperplanes: component d of plane j
    in table t is h60('hp:t:j:d') scaled to [-1, 1) (:func:`_h60_unit`),
    the values the SQL oracles regenerate.
    Shape: (n_tables, dim, n_planes)."""
    import numpy as np

    return np.array(
        [
            [
                [
                    _h60_unit(f"hp:{t}:{j}:{d}")
                    for j in range(n_planes)
                ]
                for d in range(dim)
            ]
            for t in range(n_tables)
        ],
        dtype="float64",
    )


def lsh_buckets_pandas(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    n_planes: int = 8,
    n_tables: int = 4,
) -> DataFrame:
    """(id, vec, table, bucket) sign-sketch buckets via one Arrow pass:
    bucket bit j = sign(v·p_j), set when v·p_j ≥ 0. One
    N×dim @ dim×planes matmul per table replaces tables×planes
    interpreted dot folds per row."""
    import numpy as np

    planes = _hyperplane_matrix(dim, n_planes, n_tables)
    weights = (1 << np.arange(n_planes)).astype("int64")
    id_name, vec_name = id_col, vec_col

    def assign(batch):
        mat = _vector_matrix(batch, vec_name, dim=dim)
        buckets = []
        for t in range(n_tables):
            proj = mat @ planes[t]  # N × planes
            buckets.append(((proj >= 0) @ weights).astype("int64"))
        # table-major rows: every row once per table
        rep = np.tile(np.arange(len(mat)), n_tables)
        return {
            "id": batch.column(id_name).take(rep),
            "vec": batch.column(vec_name).take(rep),
            "table": np.repeat(np.arange(n_tables), len(mat)),
            "bucket": np.concatenate(buckets),
        }

    vec_ddl = df.schema[vec_col].dataType.simpleString()
    return _arrow_map(
        df.select(F.col(id_col), F.col(vec_col)), assign,
        f"id bigint, vec {vec_ddl}, table int, bucket bigint",
    )


def _scored_bucket_pairs(
    buckets: DataFrame,
    ordered: bool,
    k: int | None = None,
    threshold: float | None = None,
) -> DataFrame:
    """Per-(table, bucket) Arrow scoring: one matmul per group, emit
    (id_a, id_b, raw_score) in-bucket pairs (a<b when ``ordered``,
    else both directions), deduped across tables by the caller. Arrow
    transfer is per-vector, never per-pair.

    Lossless group-local pruning: ``k`` keeps only each query's k best
    within a bucket (a candidate's global rank over the union of
    buckets is ≥ its rank within any single bucket, so dropped rows
    can never enter the global top-k); ``threshold`` drops
    sub-threshold pairs early (NaN/zero-norm scores fail the
    comparison, matching the NULL-drop semantics of the expression
    form).

    Physical grouping is (table, bucket mod n_shards) — per-Arrow-group
    overhead amortizes over ~|buckets|/n_shards buckets (1024 singleton
    groups cost ~7 s of pure per-group overhead at sf0.1), while each
    group stays bounded at scale; the exact per-bucket split happens in
    pandas inside the group."""
    import numpy as np
    import pandas as pd

    n_shards = 8

    def score_bucket(ids: "np.ndarray", mat: "np.ndarray"):
        scores = _cosine_scores(mat, mat)
        if k is not None:
            return _block_topk(ids, scores, ids, k)
        ii, jj = np.meshgrid(np.arange(len(ids)), np.arange(len(ids)), indexing="ij")
        keep = ids[ii] < ids[jj] if ordered else ids[ii] != ids[jj]
        if threshold is not None:
            with np.errstate(invalid="ignore"):
                keep = keep & (scores >= threshold)  # NaN fails → dropped
        return ids[ii[keep]], ids[jj[keep]], scores[keep]

    def score_shard(pdf: pd.DataFrame) -> pd.DataFrame:
        out = [
            score_bucket(
                grp["id"].to_numpy(dtype="int64"),
                np.array(list(grp["vec"]), dtype="float64"),
            )
            for _, grp in pdf.groupby("bucket", sort=False)
            if len(grp) >= 2
        ]
        cols = [np.concatenate(c) for c in zip(*out)] if out else [[], [], []]
        return pd.DataFrame(
            {"id_a": pd.Series(cols[0], dtype="int64"),
             "id_b": pd.Series(cols[1], dtype="int64"),
             "raw_score": pd.Series(cols[2], dtype="float64")}
        )

    sharded = buckets.withColumn("shard", F.pmod("bucket", F.lit(n_shards)))
    return sharded.groupBy("table", "shard").applyInPandas(
        score_shard, "id_a bigint, id_b bigint, raw_score double"
    )


def hard_negatives(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    k: int = 3,
) -> DataFrame:
    """Contrastive hard-negative mining: for each query vector, the
    top-k most-similar corpus vectors whose LABEL DIFFERS — the pairs
    a contrastive/embedding trainer wants as negatives precisely
    because the model currently scores them like positives.

    Label semantics are null-safe: a NULL corpus label counts as
    differing from any non-NULL query label (IS DISTINCT FROM), so
    unlabeled vectors can still serve as negatives.

    Plan: the query side is a bounded mining batch by contract, so it
    broadcasts into one scan of the corpus; per-query top-k is a
    |Q|-partition window over scored candidates. At mining-fleet
    scale the corpus side routes through the ANN tiers first (IVF
    cells / LSH buckets shrink the candidate set per query) and this
    operator runs on the survivors — the expression tier here IS the
    exact re-scorer of that pipeline.
    """
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("q_vec"),
        F.col(label_col).alias("q_label"),
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("c_vec"),
        F.col(label_col).alias("neighbor_label"),
    )
    scored = c.join(
        F.broadcast(q),
        (F.col("query_id") != F.col("neighbor_id"))
        & ~F.col("neighbor_label").eqNullSafe(F.col("q_label")),
    ).withColumn("score", cosine(F.col("q_vec"), F.col("c_vec")))
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            "neighbor_label",
            F.round("score", 6).alias("score"),
            F.col("rank").cast("int").alias("rank"),
        )
    )


def random_projection(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    out_dim: int = 16,
    salt: str = "rp",
) -> DataFrame:
    """Johnson–Lindenstrauss random projection: each output component
    is the dot product with a deterministic pseudo-random plane (the
    h60-unit family — same machinery as the LSH hyperplanes, so the
    projection is bit-reproducible across engines, runs and
    partitionings). The standard dimensionality-reduction step before
    ANN indexing or clustering when the raw embedding is wider than
    the recall target needs.

    Pure per-row expression — planes are driver-side float literals
    (out_dim × dim of them), no broadcast frame, no shuffle, and the
    projection stays inside the scan stage at any corpus size.

    Returns (id_col, proj array<double>).
    """
    from batch_process_dpla_index_spark.functions.vectors import dot

    def plane(j: int):
        return F.array(
            *[F.lit(_h60_unit(f"{salt}:{j}:{d}")) for d in range(dim)]
        )

    proj = F.array(*[dot(F.col(vec_col), plane(j)) for j in range(out_dim)])
    return df.where(F.col(vec_col).isNotNull()).select(
        id_col, proj.alias("proj")
    )


def ann_recall_report(
    truth: DataFrame,
    approx: DataFrame,
    k: int,
    query_col: str = "query_id",
    neighbor_col: str = "neighbor_id",
) -> DataFrame:
    """Recall@k of an approximate ANN result against exact truth —
    the tuning diagnostic every ANN deployment reads before trading
    probes for latency (FAISS's convention: recall = |approx ∩ truth|
    / k per query).

    Both inputs are (query_col, neighbor_col, ...) top-k frames —
    e.g. :func:`cosine_topk` as truth and :func:`ivf_topk` /
    :func:`lsh_ann_topk` / `quantization.pq_topk` as the approximate
    side. Returns one row per truth query: (query_id, n_hits,
    recall_at_k), n_hits an exact BIGINT and recall one divide at
    6dp — nothing float-fragile to pin.

    Plan shape at any scale: recall is always evaluated over a
    BOUNDED query sample (the truth side's brute-force cost enforces
    that), so this is one broadcast equi-join between two ~|Q|·k-row
    frames plus one group aggregate — the two ANN computations feeding
    it dominate at every SF.
    """
    t = truth.select(
        F.col(query_col).alias("query_id"),
        F.col(neighbor_col).alias("neighbor_id"),
    )
    a = (
        approx.select(
            F.col(query_col).alias("query_id"),
            F.col(neighbor_col).alias("neighbor_id"),
        )
        # a buggy ANN that emits a (query, neighbor) pair twice would
        # otherwise double-count the hit and report recall_at_k > 1
        # silently; the frame is already the small/broadcast side, so
        # the dedup is free
        .dropDuplicates(["query_id", "neighbor_id"])
        .withColumn("__hit", F.lit(1))
    )
    return (
        t.join(F.broadcast(a), ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(
            F.sum(F.coalesce(F.col("__hit"), F.lit(0)))
            .cast("bigint")
            .alias("n_hits"),
            F.round(
                F.sum(F.coalesce(F.col("__hit"), F.lit(0))) / F.lit(float(k)),
                6,
            ).alias("recall_at_k"),
        )
    )


def incremental_semantic_dedup(
    new: DataFrame,
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    n_cells: int = 16,
    n_probe: int = 2,
    threshold: float = 0.3,
    two_level_threshold: int | None = None,
) -> DataFrame:
    """Ingest-time EMBEDDING dedup: check a new batch of vectors
    against the stored corpus through the pinned IVF coarse cells —
    the embedding-space twin of `dedup.incremental_dedup` (which does
    the same for text through LSH buckets). The corpus is never
    self-joined and never rescanned beyond one assign pass: stored
    vectors live in their rank-1 cell, each NEW vector probes its
    ``n_probe`` nearest cells (probing wider than storage recovers
    boundary neighbors, the standard IVF recall lever), and cosine is
    evaluated only inside probed-cell ∩ stored-cell pairs.

    Returns one row per new vector: (id, cell, n_matches, is_new,
    best_match_id, best_score) — ``cell`` the new vector's own storage
    cell, ``best_match_id`` the highest-cosine corpus match at
    ``threshold`` (score DESC, id ASC tie-break — the `_ivf_oracle`
    ranking convention), NULL when ``is_new``.

    Cross-engine exactness: cell assignment rides `ivf_cells_pandas`
    (the Arrow/BLAS pass `ivf_topk` is hash-proven on, same
    `_cell_order` d DESC / cell DESC tie-break as the oracle replay),
    and the THRESHOLD compare — the one place a ulp could flip a
    row — uses the strict-fold cosine expression that is bit-identical
    to the oracle's list_reduce.

    Plan shape at 100 TB: one Arrow assign pass per side (N×cells
    BLAS matmul — at very large n_cells route through the two-level
    coarse quantizer, `clustering.kmeans_fit_two_level` /
    `kmeans_assign_two_level`: O(√cells) per row), one shuffle on cell, per-task
    work bounded by |stored cell| × |batch∩cell|. Size n_cells for
    CONSTANT stored-cell population (≈ corpus/64): pair work is then
    DELTA-proportional; a fixed cell count would leave it
    |batch|·|corpus|/n_cells — quadratic under co-growth (measured
    25× at the 10× probe before the adaptive sizing).

    That two-level routing is automatic: ``n_cells >=
    two_level_threshold`` groups the SAME pseudo-random centroid grid
    into a two-level model (`_pseudo_random_two_level` — global cell
    ids unchanged, no training pass) and both sides assign through it
    at O(√cells·dim) per row. With the constant-population sizing the
    switch engages around a 65k·threshold-row corpus; every
    verification SF resolves to n_cells = 32 ≪ threshold, so the
    oracle's flat-argmin geometry replays unchanged. Above it, cell
    boundaries are the two-level approximation's — consistent across
    stored/probe sides by construction, the usual IVF recall-vs-probe
    tradeoff otherwise.
    """
    from batch_process_dpla_index_spark.operators.dedup import _with_cached_deps

    if two_level_threshold is None:
        from batch_process_dpla_index_spark.operators.clustering import (
            TWO_LEVEL_ROUTING_THRESHOLD as two_level_threshold,
        )
    if n_cells >= two_level_threshold:
        coarse, fine, k_f = _pseudo_random_two_level(dim, n_cells)
        # metric="dot" on BOTH sides: the flat quantizer ranks cells by
        # dot product (scale-invariant, `_cell_order`), so the
        # two-level inference must too — an L2 ranking would break the
        # scale-invariance the near-dup matching relies on
        stored = two_level_cells_pandas(
            corpus, coarse, fine, k_f, 1, 1, id_col, vec_col, metric="dot"
        ).select(
            F.element_at("cells", 1).alias("cell"),
            F.col("id").alias("c_id"),
            F.col("vec").alias("c_vec"),
        )
        p_c, p_f = _imi_probe_split(n_probe, n_cells, k_f, len(fine), None, None)
        assigned = two_level_cells_pandas(
            new, coarse, fine, k_f, p_c, p_f, id_col, vec_col, metric="dot"
        ).persist()
        return _with_cached_deps(
            match_assigned_against_stored(assigned, stored, threshold),
            [assigned],
        )

    stored = ivf_cells_pandas(
        corpus, id_col, vec_col, dim, n_cells, n_probe=1
    ).select(
        F.element_at("cells", 1).alias("cell"),
        F.col("id").alias("c_id"),
        F.col("vec").alias("c_vec"),
    )
    # persisted: the probe explode and the rank-1 base both read it —
    # unpersisted, the batch assign matmul would run twice
    assigned = ivf_cells_pandas(
        new, id_col, vec_col, dim, n_cells, n_probe=n_probe
    ).persist()
    return _with_cached_deps(
        match_assigned_against_stored(assigned, stored, threshold), [assigned]
    )


def match_assigned_against_stored(
    assigned: DataFrame, stored: DataFrame, threshold: float
) -> DataFrame:
    """Score an assigned batch against stored cell rows — the shared
    core of :func:`incremental_semantic_dedup` (in-line, corpus given
    as a DataFrame) and ``products.embedding_index``'s indexed read
    path (stored cells come from parquet, no corpus recompute).

    ``assigned`` is (id, vec, cells array<int>) — the batch through
    :func:`ivf_cells_pandas` with its probe list, ideally persisted by
    the caller (two consumers below). ``stored`` is (cell, c_id,
    c_vec) — each corpus vector in its rank-1 storage cell. Cosine is
    evaluated only inside probed-cell ∩ stored-cell pairs; ranking is
    score DESC, id ASC (the `_ivf_oracle` convention). Returns one row
    per batch vector: (id, cell, n_matches, is_new, best_match_id,
    best_score)."""
    from batch_process_dpla_index_spark.functions.vectors import cosine

    probing = assigned.select(
        F.col("id").alias("q_id"),
        F.col("vec").alias("q_vec"),
        F.explode("cells").alias("cell"),
    )
    scored = (
        probing.join(stored, "cell")
        .where(F.col("q_id") != F.col("c_id"))
        .withColumn("__cos", cosine(F.col("q_vec"), F.col("c_vec")))
        .where(F.col("__cos") >= F.lit(float(threshold)))
    )
    # winner pick as ONE aggregate instead of row_number-over-window
    # + groupBy (r18, guide §2.4/§2.3): max_by over struct(__cos,
    # -c_id) is the lexicographic (score DESC, id ASC) winner — the
    # exact row the old window's rn==1 selected (Spark orders NaN
    # greatest on both paths, the ordering key is unique per row, and
    # __cos is never NULL past the threshold filter) — and the
    # winner's score IS max(__cos). Plans as SortAggregate (struct
    # buffer), but the map-side partial shrinks the exchange and the
    # separate Window+groupBy pair collapses to one aggregate.
    matches = scored.groupBy("q_id").agg(
        F.count("*").cast("bigint").alias("n_matches"),
        F.max_by("c_id", F.struct(F.col("__cos"), (-F.col("c_id")))).alias(
            "best_match_id"
        ),
        F.round(F.max("__cos"), 6).alias("best_score"),
    )
    base = assigned.select(
        F.col("id"), F.element_at("cells", 1).alias("cell")
    )
    return (
        base.join(matches, base["id"] == matches["q_id"], "left")
        .select(
            "id",
            "cell",
            F.coalesce(F.col("n_matches"), F.lit(0)).cast("bigint").alias(
                "n_matches"
            ),
            (F.coalesce(F.col("n_matches"), F.lit(0)) == 0).alias("is_new"),
            "best_match_id",
            "best_score",
        )
    )
