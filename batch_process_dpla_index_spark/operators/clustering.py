"""K-means (Lloyd's) over embedding columns — the iterative-algorithm
member of the similarity family, and the upgrade path for IVF: learned
coarse centroids instead of the deterministic pseudo-random ones
(`similarity._centroid`), which is how a production IVF index is
actually trained.

Dataflow shape per iteration (the only shape that survives 100 TB):

- ASSIGN: one Arrow pass over the corpus — N×dim @ dim×k matmul,
  argmin of squared L2 per row (`mapInArrow` through
  `relational._arrow_map`, vectors decoded by
  `relational._vector_matrix`; centroids shipped in the task closure:
  k×dim floats, broadcast-sized by contract).
- UPDATE: posexplode the vectors and hash-aggregate SUM/COUNT keyed by
  (cell, dimension) — map-side partial aggregation means the shuffle
  carries k×dim rows, and no aggregation buffer ever holds more than
  one running sum (a collect_list-per-cell formulation would buffer
  whole cells — exactly the OOM shape this avoids); the k×dim result
  collects to the driver (tiny), becoming the next closure.

So each iteration is one narrow stage + one k-row shuffle — no
per-pair work anywhere, state on the driver is k×dim. Empty cells
keep their previous centroid (the standard Lloyd's convention).
Initialization is deterministic farthest-point (maximin) seeding —
see :func:`_maximin_seeds` — engine-reproducible, no RNG.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from batch_process_dpla_index_spark.functions.text import h60
from batch_process_dpla_index_spark.operators.relational import (
    _arrow_map,
    _vector_matrix,
    bounded_collect,
)

# Cell count at which assign passes route through the two-level path
# (O(N·√k·dim) instead of O(N·k·dim)) — the ONE routing point shared
# by semantic_dedup, incremental_semantic_dedup, and the embedding
# index (SCALE.md round-12 probe: incremental 45.0→10.4 s at k=3125,
# semantic_dedup 122.6→29.3 s at k=6250; cost-neutral at the
# crossover, flat well below it). Every verification SF resolves to
# k=32, far under it, so oracles replay the flat geometry unchanged.
TWO_LEVEL_ROUTING_THRESHOLD = 1024


def _full_d2(mat, cents, sq):
    """N×k squared L2 via the expanded form ‖c‖² − 2·x·c + ‖x‖²,
    clamped at 0: float cancellation can dip ~−1e-16 when x ≈ c, and
    the fold form the SQL oracles replay (Σ(x−c)²) is nonnegative by
    construction. Shared by `kmeans_assign` and `cluster_silhouette`
    so their cell columns stay bit-identical (the diagnostic's parity
    claim is structural, not copy-discipline). `_assign_cells` keeps
    its reduced argmin-only form (no +‖x‖² term) — documented there."""
    import numpy as np

    d2 = sq[None, :] - 2.0 * (mat @ cents.T) + (mat * mat).sum(axis=1)[:, None]
    return np.maximum(d2, 0.0, out=d2)


def _assign_cells(df: DataFrame, id_col: str, vec_col: str, centroids) -> DataFrame:
    """(id, vec, cell): nearest centroid by squared L2, one Arrow pass."""
    import numpy as np

    cents = np.asarray(centroids, dtype="float64")  # k × dim
    sq = (cents * cents).sum(axis=1)  # ‖c‖² per cell
    id_name, vec_name = id_col, vec_col

    def assign(batch):
        mat = _vector_matrix(batch, vec_name, dim=cents.shape[1])
        # argmin ‖x−c‖² = argmin ‖c‖² − 2·x·c  (‖x‖² constant per row)
        cell = (sq[None, :] - 2.0 * (mat @ cents.T)).argmin(axis=1)
        return {
            "id": batch.column(id_name),
            "vec": batch.column(vec_name),
            "cell": cell,
        }

    vec_ddl = df.schema[vec_col].dataType.simpleString()
    return _arrow_map(
        df.select(F.col(id_col), F.col(vec_col)), assign,
        f"id bigint, vec {vec_ddl}, cell int",
    )


#: Corpora at or under this many rows run maximin seeding and the
#: k-means fits driver-side (one bounded collect,
#: :func:`relational.bounded_collect`, instead of k sequential Spark
#: jobs). The k−1 farthest-point passes are inherently sequential
#: global reductions; at small N each pass is almost pure
#: job-scheduling + Python-boundary overhead (measured ~0.3 s flat per
#: pass on local[32] — worse on a real cluster), so below the bound the
#: identical per-row arithmetic runs on one collected matrix. 65536
#: rows × dim 64 × 8 B ≈ 32 MB against the driver heap.
_SEED_DRIVER_MAX_ROWS = 65536


def _maximin_seeds_driver(rows, k: int) -> list[list[float]]:
    """Driver-side twin of the distributed maximin loop over a fully
    collected (id, vec, __h) list — the SAME numpy expressions per
    pass (expanded-form d2, min over seeds, lexsort (dist2 desc, id
    asc) winner), so the selected seeds are bit-identical: every
    quantity is computed per row, and the winner reduce is a total
    order, associative over any batching of the rows."""
    import numpy as np

    ids = np.array([r["id"] for r in rows], dtype="int64")
    hs = np.array([r["__h"] for r in rows], dtype="int64")
    mat = np.array([list(r["vec"]) for r in rows], dtype="float64")
    i0 = int(np.lexsort((ids, hs))[0])
    seeds = [mat[i0].tolist()]
    for _ in range(k - 1):
        cents = np.asarray(seeds, dtype="float64")
        sq = (cents * cents).sum(axis=1)
        d2 = (
            sq[None, :]
            - 2.0 * (mat @ cents.T)
            + (mat * mat).sum(axis=1)[:, None]
        ).min(axis=1)
        i = int(np.lexsort((ids, -d2))[0])
        seeds.append(mat[i].tolist())
    return seeds


def _corpus_probe(df: DataFrame, id_col: str, vec_col: str):
    """The (id, vec, __h) corpus under ``_SEED_DRIVER_MAX_ROWS``
    (:func:`relational.bounded_collect`), else None. Raises on an empty
    corpus (every consumer refuses one). Shared by the seeding,
    flat-fit, and two-level-fit driver tiers so they collect at most
    once."""
    probe = bounded_collect(
        df.select(
            F.col(id_col).alias("id"),
            F.col(vec_col).alias("vec"),
            h60(F.col(id_col).cast("string")).alias("__h"),
        ),
        _SEED_DRIVER_MAX_ROWS,
    )
    if probe == []:
        raise ValueError("empty corpus")
    return probe


def _kmeans_fit_driver(rows, k, n_iter, tol, init, update_grid):
    """Driver-side twin of the distributed Lloyd's loop over a fully
    collected corpus — the SAME per-row assign expression
    (argmin ‖c‖² − 2·x·c) and the SAME update arithmetic. With
    ``update_grid`` the per-(cell, dim) sums are exact BIGINTs
    (integer addition commutes), so each UPDATE is bit-identical to
    the distributed fit given the same assignment — the same
    order-insensitivity that gives the registry's kmeans queries their
    cross-engine SQL oracles. (The assign matmul itself is the one
    residual envelope: a whole-corpus ``mat @ cents.T`` may round a
    near-TIED distance differently than the per-Arrow-batch matmuls —
    BLAS blocking differs by shape — which could flip a tied cell;
    the r17 ADVICE note. Same near-tie class as the no-grid path
    below, observed never on the fixtures.) Without a grid the double sums
    accumulate in numpy reduction order instead of Spark's partial-
    aggregate order — final-ulp drift on a path that has no hash
    oracle (the ann-index products; their tests pin recall bounds and
    self-consistency, not centroid bits)."""
    import numpy as np

    mat = np.array([list(r["vec"]) for r in rows], dtype="float64")
    if init == "maximin":
        centroids = _maximin_seeds_driver(rows, k)
    else:
        ids = np.array([r["id"] for r in rows], dtype="int64")
        hs = np.array([r["__h"] for r in rows], dtype="int64")
        order = np.lexsort((ids, hs))[:k]
        centroids = [mat[i].tolist() for i in order]
        if len(centroids) < k:
            raise ValueError(f"corpus has fewer than k={k} rows")
    for _ in range(n_iter):
        cents = np.asarray(centroids, dtype="float64")
        sq = (cents * cents).sum(axis=1)
        cell = (sq[None, :] - 2.0 * (mat @ cents.T)).argmin(axis=1)
        new_centroids = list(centroids)
        shift = 0.0
        for c in np.unique(cell):
            members = mat[cell == c]
            n = members.shape[0]
            if update_grid:
                s = (
                    np.floor(members * float(update_grid))
                    .astype("int64")
                    .sum(axis=0)
                )
                cvec = [int(x) / n / update_grid for x in s]
            else:
                cvec = [float(x) / n for x in members.sum(axis=0)]
            old = centroids[int(c)]
            shift = max(shift, sum((a - b) ** 2 for a, b in zip(cvec, old)))
            new_centroids[int(c)] = cvec
        centroids = new_centroids
        if shift <= tol:
            break
    return centroids


def _maximin_seeds(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    k: int,
    skip_probe: bool = False,
) -> list[list[float]]:
    """Deterministic farthest-point (maximin) seeding: first seed is
    the row with the smallest ``h60(id)`` digest; each next seed is the
    point with the LARGEST distance to its nearest chosen seed (ties →
    smallest id). Separated clusters each receive a seed, which is what
    keeps Lloyd's out of the split-one-blob local optimum that naive
    seeding falls into; k−1 extra Arrow passes, each O(N·k·dim) — an
    init cost, not a per-iteration one. (k-means|| is the sampled
    refinement of exactly this for very large k.) The farthest-point
    pass CARRIES the vector through to the TakeOrdered reduce, so each
    seed costs exactly one corpus scan — a second id-lookup scan per
    seed would double the documented init cost.

    r17 (guide §5 driver discipline, inverted): k−1 SEQUENTIAL jobs of
    ~0.3 s flat scheduling/boundary overhead dominate seeding whenever
    the corpus is small — so a bounded limit-probe collects the corpus
    once when it fits ``_SEED_DRIVER_MAX_ROWS`` and the identical
    arithmetic runs driver-side (:func:`_maximin_seeds_driver`,
    bit-identical seeds). Larger corpora pay one bounded probe job and
    keep the distributed per-pass scans — the 100 TB path is
    unchanged."""
    import numpy as np

    if not skip_probe:
        probe = _corpus_probe(df, id_col, vec_col)
        if probe is not None:
            return _maximin_seeds_driver(probe, k)

    first = (
        # id tie-break (r17 ADVICE): match the driver twin's (__h, id)
        # total order under h60 collisions
        df.select(F.col(vec_col).alias("vec"), h60(F.col(id_col).cast("string")).alias("__h"), F.col(id_col).alias("__id"))
        .orderBy("__h", "__id")
        .limit(1)
        .collect()
    )
    if not first:
        raise ValueError("empty corpus")
    seeds = [list(first[0]["vec"])]
    id_name, vec_name = id_col, vec_col
    vec_ddl = df.schema[vec_col].dataType.simpleString()

    for _ in range(k - 1):
        cents = np.asarray(seeds, dtype="float64")
        sq = (cents * cents).sum(axis=1)

        def scan(batch):
            # r17 (guide §2.3 "shuffle fewer bytes"): emit ONE winner
            # row per Arrow batch instead of every (id, dist2, vec)
            # row — the old shape returned the whole corpus (vectors
            # included) through the Arrow channel each pass just so
            # TakeOrdered could pick one row. Per-row d2 values are
            # computed by the identical expression, and argmax with
            # the (dist2 desc, id asc) tie-break is associative over
            # any partition of the rows, so the selected seed is
            # bit-identical to the global-sort formulation.
            mat = _vector_matrix(batch, vec_name, dim=cents.shape[1])
            d2 = (
                sq[None, :]
                - 2.0 * (mat @ cents.T)
                + (mat * mat).sum(axis=1)[:, None]
            ).min(axis=1)
            # a NULL id reads NaN (lexsort puts it last) instead of raising
            ids = batch.column(id_name).to_numpy(zero_copy_only=False)
            # batch winner under the same total order the global
            # sort used: dist2 desc, id asc
            i = int(np.lexsort((ids, -d2))[0])
            return {
                "id": batch.column(id_name).slice(i, 1),
                "dist2": d2[i:i + 1],
                "vec": batch.column(vec_name).slice(i, 1),
            }

        far = (
            _arrow_map(
                df.select(F.col(id_col), F.col(vec_col)), scan,
                f"id bigint, dist2 double, vec {vec_ddl}",
            )
            .orderBy(F.col("dist2").desc(), F.col("id").asc())
            .limit(1)
            .collect()[0]
        )
        seeds.append(list(far["vec"]))
    return seeds


def kmeans_fit(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 16,
    n_iter: int = 10,
    tol: float = 1e-6,
    init: str = "maximin",
    update_grid: int | None = None,
) -> list[list[float]]:
    """Lloyd's iterations; returns the k×dim centroid list (driver-side
    — it IS the model, k×dim floats). Stops early when no centroid
    moves more than ``tol`` (squared L2).

    ``init='maximin'`` (default) is the quality seeding — k−1 extra
    passes, recovers separated clusters. ``init='hash'`` seeds with the
    k rows of smallest ``h60(id)`` in ONE pass: cheapest deterministic
    start for throughput-bound jobs that only need a stable partition
    of the space, at the cost of local-optimum quality.

    ``update_grid`` (e.g. ``10**6``) makes the centroid UPDATE
    order-insensitive: per-(cell, dim) sums aggregate
    ``floor(x · grid)`` as exact BIGINTs instead of doubles, and the
    centroid coordinate is ``(Σq / n) / grid``. Integer addition
    commutes, so the fitted centroids are bit-identical across
    partitionings, reruns, AND engines (float32→double conversion,
    the scale/floor, and the two divisions are all IEEE-exact and
    correctly rounded in any conforming engine — sums stay under 2^53
    by construction for unit-scale embeddings). The ~1e-6 coordinate
    quantization is far below k-means' own noise floor; this is how
    the registry's `kmeans_cells` gets a cross-engine SQL oracle for
    an iterative float algorithm."""
    # Driver tier (r17, extends the seeding tier to the WHOLE fit):
    # when the corpus fits the seeding bound, every Lloyd iteration is
    # pure driver arithmetic — no per-iteration Arrow pass + k×dim
    # shuffle + collect round trip (each ~0.6 s flat at small N).
    # Grid updates are exact-BIGINT hence bit-identical
    # (_kmeans_fit_driver); above the bound the distributed loop below
    # is untouched.
    probe = _corpus_probe(df, id_col, vec_col)
    if probe is not None:
        return _kmeans_fit_driver(probe, k, n_iter, tol, init, update_grid)
    if init == "maximin":
        centroids = _maximin_seeds(df, id_col, vec_col, k, skip_probe=True)
    else:
        rows = (
            # id tie-break (r17 ADVICE): the driver twin orders by
            # (__h, id); without it an h60 collision makes this pick
            # nondeterministic and the two tiers could diverge
            df.select(F.col(vec_col).alias("vec"), h60(F.col(id_col).cast("string")).alias("__h"), F.col(id_col).alias("__id"))
            .orderBy("__h", "__id")
            .limit(k)
            .collect()
        )
        centroids = [list(r["vec"]) for r in rows]
        if len(centroids) < k:
            raise ValueError(f"corpus has fewer than k={k} rows")

    dim = len(centroids[0])
    for _ in range(n_iter):
        assigned = _assign_cells(df, id_col, vec_col, centroids)
        # per-(cell, dimension) sum/count: partial agg shuffles k×dim
        # rows; per-(cell,pos) count == the cell's row count
        x = F.col("x").cast("double")
        s_expr = (
            F.sum(F.floor(x * F.lit(float(update_grid))).cast("bigint"))
            if update_grid
            else F.sum(x)
        )
        stats = (
            assigned.select("cell", F.posexplode("vec").alias("pos", "x"))
            .groupBy("cell", "pos")
            .agg(s_expr.alias("s"), F.count("*").alias("n"))
            .collect()
        )
        sums: dict[int, list[float]] = {}
        counts: dict[int, int] = {}
        for r in stats:
            sums.setdefault(r["cell"], [0.0] * dim)[r["pos"]] = r["s"]
            counts[r["cell"]] = r["n"]
        new_centroids = list(centroids)  # empty cells keep previous
        shift = 0.0
        for cell, vsum in sums.items():
            if update_grid:
                c = [s / counts[cell] / update_grid for s in vsum]
            else:
                c = [s / counts[cell] for s in vsum]
            old = centroids[cell]
            shift = max(shift, sum((a - b) ** 2 for a, b in zip(c, old)))
            new_centroids[cell] = c
        centroids = new_centroids
        if shift <= tol:
            break
    return centroids


def kmeans_assign(
    df: DataFrame,
    centroids,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    keep_vec: bool = False,
) -> DataFrame:
    """(id, cell, dist2[, vec]): final assignment + squared distance —
    the inference pass, also the storage assignment for a
    learned-centroid IVF index. ``keep_vec=True`` carries the vector
    through the Arrow pass (r18, mirroring
    :func:`kmeans_assign_two_level`) so consumers that need (cell,
    vec) — the semantic-dedup pair stage — skip a corpus-wide join
    back on id."""
    import numpy as np

    cents = np.asarray(centroids, dtype="float64")
    sq = (cents * cents).sum(axis=1)
    id_name, vec_name = id_col, vec_col

    def assign(batch):
        mat = _vector_matrix(batch, vec_name, dim=cents.shape[1])
        d2 = _full_d2(mat, cents, sq)
        cell = d2.argmin(axis=1)
        out = {
            "id": batch.column(id_name),
            "cell": cell,
            "dist2": d2[np.arange(len(cell)), cell],
        }
        if keep_vec:
            out["vec"] = batch.column(vec_name)
        return out

    schema = "id bigint, cell int, dist2 double"
    if keep_vec:
        schema += f", vec {df.schema[vec_col].dataType.simpleString()}"
    return _arrow_map(df.select(F.col(id_col), F.col(vec_col)), assign, schema)


def cluster_silhouette(
    df: DataFrame,
    centroids,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, cell, a2, b2, silhouette): squared-L2 SIMPLIFIED silhouette
    — a2 = d²(x, own centroid), b2 = min d² over the other centroids,
    s = (b2 − a2) / max(a2, b2) (defined 0 when both are 0). The
    O(N·k) centroid-based form, not the O(N²) pairwise classic — the
    only silhouette that exists at 100 TB, and the standard
    clustering-quality diagnostic for curation pipelines (is k too
    small? are cells degenerate?).

    One Arrow pass, same expanded-form distance math and first-hit
    argmin as `kmeans_assign`, so the cell column here equals the
    inference pass bit-for-bit. Per-cell aggregation happens in the
    caller (one map-side-combined shuffle of k rows)."""
    import numpy as np

    cents = np.asarray(centroids, dtype="float64")
    if cents.shape[0] < 2:
        raise ValueError(
            "cluster_silhouette: needs >= 2 centroids (b2 is the distance "
            "to the nearest OTHER cell — undefined for k=1)"
        )
    sq = (cents * cents).sum(axis=1)
    id_name, vec_name = id_col, vec_col

    def run(batch):
        mat = _vector_matrix(batch, vec_name, dim=cents.shape[1])
        d2 = _full_d2(mat, cents, sq)
        cell = d2.argmin(axis=1)
        rows = np.arange(len(mat))
        a2 = d2[rows, cell]  # fancy indexing copies — safe vs the inf write
        d2[rows, cell] = np.inf
        b2 = d2.min(axis=1)
        maxab = np.maximum(a2, b2)
        with np.errstate(invalid="ignore", divide="ignore"):
            s = np.where(maxab > 0, (b2 - a2) / maxab, 0.0)
        return {
            "id": batch.column(id_name),
            "cell": cell,
            "a2": a2,
            "b2": b2,
            "silhouette": s,
        }

    return _arrow_map(
        df.select(F.col(id_col), F.col(vec_col)), run,
        "id bigint, cell int, a2 double, b2 double, silhouette double",
    )


def _kmeans_two_level_driver(
    rows, k_c, k_f, coarse_iters, fine_iters, tol, init, update_grid
):
    """Driver-side twin of the two-level fit over a collected corpus:
    coarse fit via :func:`_kmeans_fit_driver`, the same argmin coarse
    assign, fine seeding as each cell's first k_f rows under the
    (h60, id) total order (what the distributed window picks), then
    fine Lloyd iterations with the same grid-exact update. Returns
    (coarse, fine, k_f) like the distributed fit."""
    import numpy as np

    coarse = _kmeans_fit_driver(
        rows, k_c, coarse_iters, tol, init, update_grid
    )
    ids = np.array([r["id"] for r in rows], dtype="int64")
    hs = np.array([r["__h"] for r in rows], dtype="int64")
    mat = np.array([list(r["vec"]) for r in rows], dtype="float64")
    cents = np.asarray(coarse, dtype="float64")
    csq = (cents * cents).sum(axis=1)
    ccell = (csq[None, :] - 2.0 * (mat @ cents.T)).argmin(axis=1)

    fine: dict[int, list[list[float]]] = {}
    for c in np.unique(ccell):
        idx = np.where(ccell == c)[0]
        order = idx[np.lexsort((ids[idx], hs[idx]))][:k_f]
        fine[int(c)] = [mat[i].tolist() for i in order]

    for _ in range(fine_iters):
        fmats = {c: np.asarray(m, dtype="float64") for c, m in fine.items()}
        fsq = {c: (m * m).sum(axis=1) for c, m in fmats.items()}
        for c in fine:
            idx = np.where(ccell == c)[0]
            members = mat[idx]
            fidx = (
                fsq[c][None, :] - 2.0 * (members @ fmats[c].T)
            ).argmin(axis=1)
            for j in np.unique(fidx):
                sub = members[fidx == j]
                n = sub.shape[0]
                if update_grid:
                    s = (
                        np.floor(sub * float(update_grid))
                        .astype("int64")
                        .sum(axis=0)
                    )
                    fine[c][int(j)] = [
                        int(x) / n / update_grid for x in s
                    ]
                else:
                    fine[c][int(j)] = [
                        float(x) / n for x in sub.sum(axis=0)
                    ]
    return coarse, fine, k_f


def kmeans_fit_two_level(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 16,
    coarse_k: int | None = None,
    n_iter: int = 3,
    coarse_iter: int | None = None,
    tol: float = 1e-6,
    init: str = "hash",
    update_grid: int | None = None,
) -> tuple[list[list[float]], dict[int, list[list[float]]], int]:
    """Two-level (coarse-quantized) k-means training — the billion-scale
    path the IVF family's docstrings cite: the flat ASSIGN pass is
    O(N·k·dim) per iteration, which at k beyond ~10⁵ dwarfs everything
    else; training √k coarse cells first and then k/√k fine centroids
    WITHIN each coarse cell drops every subsequent assign to
    O(N·√k·dim) — per-row work √k, not k (the inverted-multi-index /
    FAISS IMI recipe).

    Returns ``(coarse, fine, k_f)``: coarse is k_c×dim, fine maps
    coarse cell → its ≤k_f×dim fine centroids (a coarse cell with
    fewer than k_f rows trains fewer fine centroids). ``k_f`` is the
    fit's global-cell STRIDE (``ceil(k / k_c)``) and is part of the
    model — :func:`kmeans_assign_two_level` takes it explicitly,
    because it is NOT derivable from ``fine`` when every coarse cell
    trained fewer than k_f centroids (deriving it as
    max(len(fine[c])) silently shifts every global id off the
    ``cell = coarse_cell * k_f + fine_idx`` convention the oracle
    replays).

    Semantics: rows are PINNED to their coarse cell after the coarse
    fit (the standard two-level contract — a boundary row trains the
    fine codebook of its coarse side only), so each fine iteration is
    one O(N·k_f·dim) Arrow pass + one (k·dim)-row integer-grid shuffle,
    and the whole fine level across all coarse cells trains
    simultaneously in those two stages — no per-cell driver loop.
    Seeding within a cell is the hash convention (k_f smallest
    ``h60(id)``), one pass; ``update_grid`` gives the same exact-BIGINT
    order-insensitive update as :func:`kmeans_fit`, which is what makes
    the whole two-level chain SQL-replayable cross-engine.

    Flat :func:`kmeans_fit` remains the verification-resolution path;
    this is the documented-then-built large-k lever (VERDICT r10 #6).
    """
    import math

    import numpy as np

    k_c = coarse_k if coarse_k is not None else max(2, math.isqrt(k - 1) + 1)
    k_f = -(-k // k_c)  # ceil
    # Driver tier (r17, the kmeans_fit pattern): coarse fit, coarse
    # assign, per-cell fine seeding and every fine Lloyd iteration are
    # the identical arithmetic on one collected corpus — grid updates
    # exact-BIGINT hence bit-identical, seeding the same
    # (h60, id)-ordered first-k_f per cell the window picks.
    probe = _corpus_probe(df, id_col, vec_col)
    if probe is not None:
        return _kmeans_two_level_driver(
            probe, k_c, k_f,
            coarse_iter if coarse_iter is not None else n_iter,
            n_iter, tol, init, update_grid,
        )
    coarse = kmeans_fit(
        df, id_col, vec_col, k=k_c,
        n_iter=coarse_iter if coarse_iter is not None else n_iter,
        tol=tol, init=init, update_grid=update_grid,
    )
    # one coarse assign, persisted: every fine iteration re-reads it
    assigned = _assign_cells(df, id_col, vec_col, coarse).persist()
    try:
        from pyspark.sql.window import Window

        w = Window.partitionBy("cell").orderBy("__h", "id")
        seed_rows = (
            assigned.withColumn("__h", h60(F.col("id").cast("string")))
            .withColumn("__rn", F.row_number().over(w))
            .where(F.col("__rn") <= k_f)
            .select("cell", (F.col("__rn") - 1).alias("fine"), "vec")
            .collect()
        )
        fine: dict[int, list[list[float]]] = {}
        for r in sorted(seed_rows, key=lambda r: (r["cell"], r["fine"])):
            fine.setdefault(int(r["cell"]), []).append(
                [float(x) for x in r["vec"]]
            )

        dim = len(coarse[0])
        for _ in range(n_iter):
            fmats = {c: np.asarray(m, dtype="float64") for c, m in fine.items()}
            fsq = {c: (m * m).sum(axis=1) for c, m in fmats.items()}

            def assign_fine(batch):
                mat = _vector_matrix(batch, "vec", dim=dim)
                cells = batch.column("cell").to_numpy()
                out = np.zeros(len(mat), dtype="int32")
                for c in np.unique(cells):
                    mask = cells == c
                    fm = fmats[int(c)]
                    # argmin ‖x−f‖² = argmin ‖f‖² − 2·x·f per row
                    out[mask] = (
                        fsq[int(c)][None, :] - 2.0 * (mat[mask] @ fm.T)
                    ).argmin(axis=1)
                return {
                    "cell": batch.column("cell"),
                    "fine": out,
                    "vec": batch.column("vec"),
                }

            vec_ddl = assigned.schema["vec"].dataType.simpleString()
            fa = _arrow_map(
                assigned, assign_fine, f"cell int, fine int, vec {vec_ddl}"
            )
            x = F.col("x").cast("double")
            s_expr = (
                F.sum(F.floor(x * F.lit(float(update_grid))).cast("bigint"))
                if update_grid
                else F.sum(x)
            )
            stats = (
                fa.select("cell", "fine", F.posexplode("vec").alias("pos", "x"))
                .groupBy("cell", "fine", "pos")
                .agg(s_expr.alias("s"), F.count("*").alias("n"))
                .collect()
            )
            sums: dict[tuple[int, int], list[float]] = {}
            counts: dict[tuple[int, int], int] = {}
            for r in stats:
                key = (int(r["cell"]), int(r["fine"]))
                sums.setdefault(key, [0.0] * dim)[r["pos"]] = r["s"]
                counts[key] = r["n"]
            for (c, j), vsum in sums.items():
                if update_grid:
                    fine[c][j] = [
                        s / counts[(c, j)] / update_grid for s in vsum
                    ]
                else:
                    fine[c][j] = [s / counts[(c, j)] for s in vsum]
            # empty fine cells keep their previous coords (no key hit)
    finally:
        assigned.unpersist()
    return coarse, fine, k_f


def _two_level_model_arrays(coarse, fine: dict[int, list[list[float]]], k_f: int):
    """Closure-ready numpy views of a two-level model, shared by
    :func:`kmeans_assign_two_level` and the IMI probe pass
    (`similarity._imi_probe_cells`) so the stride guard and the
    trained-cell restriction cannot drift between them.

    Restricts the coarse side to cells that actually trained a fine
    codebook: an empty coarse cell keeps its seed centroid in the
    coarse model (Lloyd's convention) but has nothing to serve — a
    vector/query nearest to it must route to its nearest TRAINED cell.

    Returns (cell_of, cents, csq, fmats, fsq): trained-cell id lookup,
    their coarse centroid matrix + squared norms, and per-cell fine
    matrices + squared norms. Raises when ``k_f`` is narrower than the
    widest fine codebook (global cell ids would collide)."""
    import numpy as np

    if k_f < max(len(m) for m in fine.values()):
        raise ValueError(
            f"two-level model: stride k_f={k_f} is smaller than "
            "the widest fine codebook — global cell ids would collide"
        )
    trained = sorted(fine)
    cents = np.asarray([coarse[c] for c in trained], dtype="float64")
    cell_of = np.asarray(trained, dtype="int64")
    csq = (cents * cents).sum(axis=1)
    fmats = {c: np.asarray(m, dtype="float64") for c, m in fine.items()}
    fsq = {c: (m * m).sum(axis=1) for c, m in fmats.items()}
    return cell_of, cents, csq, fmats, fsq


def kmeans_assign_two_level(
    df: DataFrame,
    coarse,
    fine: dict[int, list[list[float]]],
    k_f: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    keep_vec: bool = False,
) -> DataFrame:
    """(id, coarse_cell, cell, dist2[, vec]): two-level inference — nearest
    coarse centroid first (O(√k·dim)), then nearest fine centroid
    WITHIN that coarse cell (O(k_f·dim)); ``cell`` is the global
    fixed-stride id ``coarse_cell * k_f + fine_idx``, with ``k_f``
    the stride the FIT returns (it cannot be derived from ``fine``
    when every cell trained under-full). The standard
    two-level approximation: a row near a coarse boundary may have a
    closer fine centroid on the other side — the IVF probe-width
    tradeoff, accepted for the ~√k-fold assign speedup. One Arrow
    pass; both levels' centroid state is model-sized closure data."""
    import numpy as np

    cell_of, cents, csq, fmats, fsq = _two_level_model_arrays(
        coarse, fine, k_f
    )
    id_name, vec_name = id_col, vec_col

    def run(batch):
        mat = _vector_matrix(batch, vec_name, dim=cents.shape[1])
        ccell = cell_of[
            (csq[None, :] - 2.0 * (mat @ cents.T)).argmin(axis=1)
        ]
        gcell = np.zeros(len(mat), dtype="int32")
        d2 = np.zeros(len(mat), dtype="float64")
        for c in np.unique(ccell):
            mask = ccell == c
            fm = fmats[int(c)]
            fd2 = _full_d2(mat[mask], fm, fsq[int(c)])
            j = fd2.argmin(axis=1)
            gcell[mask] = int(c) * k_f + j
            d2[mask] = fd2[np.arange(mask.sum()), j]
        out = {
            "id": batch.column(id_name),
            "coarse_cell": ccell,
            "cell": gcell,
            "dist2": d2,
        }
        if keep_vec:
            # carried through so index builders/serving joins don't
            # pay a second id-keyed shuffle to reattach the vector
            out["vec"] = batch.column(vec_name)
        return out

    schema = "id bigint, coarse_cell int, cell int, dist2 double"
    if keep_vec:
        schema += f", vec {df.schema[vec_col].dataType.simpleString()}"
    return _arrow_map(df.select(F.col(id_col), F.col(vec_col)), run, schema)
