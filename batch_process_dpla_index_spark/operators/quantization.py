"""Product quantization (PQ) for embedding columns — the compression
tier of large-scale ANN (IVF-PQ): vectors become ``m`` small codes
(one per subspace), queries scan codes with asymmetric distance
computation (ADC) lookup tables instead of raw floats.

Why this matters at 100 TB: raw float32 embeddings are 4·dim bytes per
row; PQ codes are ``m`` bytes (m=8, 256-way codebooks ≈ 32× smaller
for dim=64), so the candidate scan becomes memory-bandwidth-cheap and
the full-precision vectors are only touched for re-ranking (not
implemented here — the codes ARE the approximation tier, the exact
re-rank is `cosine_topk` on the shortlist).

Spark-first shape:

- **Training** runs ALL ``m`` sub-codebooks in the same jobs: the
  corpus explodes once into (subspace, subvector) rows, and each
  Lloyd's iteration is ONE map-side-combined aggregate over
  (subspace, code, dimension) — m·k·dsub rows shuffled per iteration,
  never the corpus. Seeding is deterministic (smallest ``h60(id|j)``
  digests per subspace — the one-pass 'hash' init of
  `clustering.kmeans_fit`).
- **Encoding** is one Arrow pass with the m×k×dsub codebook tensor in
  the closure (tiny: 8·16·8 floats), emitting ``array<int>`` codes.
  Every pass here (code assign, encode, score) is a ``mapInArrow``
  kernel through `relational._arrow_map`, its vectors and codes
  decoded by `relational._vector_matrix`.
- **Query** broadcasts the query matrix (the `cosine_topk` contract:
  queries fit in a broadcast; the corpus side is unbounded), builds
  per-query ADC tables once per batch, and gathers code distances
  with numpy fancy indexing — per batch O(|Q|·m·k + |Q|·rows·m), no
  |Q|×|corpus| float matrix ever materializes.

Determinism: seeding, iteration count, and tie-breaks are pure
functions of (corpus, params), so reruns of the same plan over the
same fixture produce the same codes (pytest-pinned). Cross-PARTITIONING
bit-stability is NOT guaranteed: the centroid update uses Spark float
sums whose accumulation order follows the partitioning, and last-ulp
drift can flip a near-tied argmin code assignment. Float k-means also
prevents a cross-engine SQL oracle for the end-to-end top-k
(documented; the driver records the rows-only check) — but the encode
step given a PINNED codebook and the ADC distance math are exact and
oracle-verified (`pq_encode` in the registry); recall against the
exact scorer is pytest-pinned.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from batch_process_dpla_index_spark.functions.text import h60
from batch_process_dpla_index_spark.operators.relational import (
    _arrow_map,
    _vector_matrix,
    bounded_collect,
)
from batch_process_dpla_index_spark.operators.similarity import (
    _CAND_SCHEMA,
    _TOPK_SCHEMA,
    _block_topk,
    _BlockScorer,
    _cell_order,
    _coarse_matrix,
    _flat_query_topk,
    _h60_py,
    _h60_unit,
    _rank_candidates,
)


def _subvector_rows(df: DataFrame, id_col: str, vec_col: str, dim: int, m: int):
    """(id, j, subvec): explode each vector into its m subspace slices
    — a narrow projection (slice + posexplode), no shuffle."""
    dsub = dim // m
    slices = F.array(
        *[F.slice(F.col(vec_col), j * dsub + 1, dsub) for j in range(m)]
    )
    return df.select(
        F.col(id_col).alias("id"), F.posexplode(slices).alias("j", "subvec")
    )


def pq_train(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    m: int = 8,
    k: int = 16,
    n_iter: int = 5,
) -> list[list[list[float]]]:
    """Train the m sub-codebooks (k centroids of dim/m floats each).
    Returns ``codebooks[j][c]`` — driver-side, it IS the model
    (m·k·dsub floats; 8·16·8 = 1024 for the defaults).

    Every Lloyd's iteration is ONE aggregate over the exploded
    (subspace, subvector) frame; empty cells keep their previous
    centroid (the `kmeans_fit` convention)."""
    if dim % m:
        raise ValueError(f"dim={dim} not divisible by m={m}")
    dsub = dim // m
    import numpy as np

    # Driver tier (r17, the kmeans_fit pattern, under its corpus
    # bound): when the corpus fits, the whole train loop is driver
    # arithmetic — no two-window seeding pipeline and no per-iteration
    # Arrow pass + aggregate + collect round trip. Same seeding total
    # order (h60(id|j), id), same per-row assign expression; the double
    # mean sums accumulate in numpy order instead of partial-aggregate
    # order — the documented final-ulp envelope of a path with no hash
    # oracle (pq_train feeds only the ann-index product; the
    # oracle-backed PQ queries use pinned codebooks).
    from batch_process_dpla_index_spark.operators import clustering as _cl

    probe = bounded_collect(
        df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("vec")),
        _cl._SEED_DRIVER_MAX_ROWS,
    )
    if probe is not None:
        return _pq_train_driver(probe, dim, m, k, n_iter)

    sub = _subvector_rows(df, id_col, vec_col, dim, m)

    # deterministic seeding: per subspace, the k subvectors with the
    # smallest h60(id|j). Salted two-phase top-k (the domain_cap
    # pattern): a bare Window.partitionBy("j") would sort the WHOLE
    # exploded corpus inside m tasks; phase 1 ranks within (j, salt)
    # so phase 2's exact per-j rank sees ≤ n_salts·k rows per
    # subspace regardless of corpus size. The (h, id) order is total,
    # so the two-phase result equals the single window.
    n_salts = 64
    hashed = sub.withColumn(
        "__h", h60(F.concat_ws("|", F.col("id").cast("string"), F.col("j")))
    )
    w1 = Window.partitionBy("j", F.pmod(F.col("__h"), F.lit(n_salts))).orderBy(
        F.col("__h").asc(), F.col("id").asc()
    )
    pruned = (
        hashed.withColumn("__rn1", F.row_number().over(w1))
        .filter(F.col("__rn1") <= k)
        .drop("__rn1")
    )
    w2 = Window.partitionBy("j").orderBy(F.col("__h").asc(), F.col("id").asc())
    seeds = (
        pruned.withColumn("__rn", F.row_number().over(w2))
        .filter(F.col("__rn") <= k)
        .select("j", "__rn", "subvec")
        .collect()
    )
    books = np.zeros((m, k, dsub), dtype="float64")
    seen = np.zeros((m, k), dtype=bool)
    for r in seeds:
        books[r["j"], r["__rn"] - 1] = r["subvec"]
        seen[r["j"], r["__rn"] - 1] = True
    if not seen.all():
        raise ValueError(f"corpus has fewer than k={k} rows")

    for _ in range(n_iter):
        assigned = _assign_codes_rows(sub, books)
        stats = (
            assigned.select("j", "code", F.posexplode("subvec").alias("pos", "x"))
            .groupBy("j", "code", "pos")
            .agg(F.sum("x").alias("s"), F.count("*").alias("n"))
            .collect()
        )
        new_books = books.copy()
        for r in stats:
            new_books[r["j"], r["code"], r["pos"]] = r["s"] / r["n"]
        if float(((new_books - books) ** 2).max()) <= 1e-12:
            books = new_books
            break
        books = new_books
    return [[list(map(float, c)) for c in book] for book in books]


def _pq_train_driver(rows, dim, m, k, n_iter):
    """Driver-side twin of the distributed PQ train loop over a fully
    collected (id, vec) list: per-subspace seeding under the same
    (h60(id|j), id) total order the two-phase window picks, the same
    ((x − c)²).sum assign expression, means per (subspace, code), and
    the same 1e-12 max-shift early stop."""
    import numpy as np

    dsub = dim // m
    if len(rows) < k:
        raise ValueError(f"corpus has fewer than k={k} rows")
    ids = [r["id"] for r in rows]
    mat = np.array([list(r["vec"]) for r in rows], dtype="float64")
    books = np.zeros((m, k, dsub), dtype="float64")
    for j in range(m):
        order = sorted(
            range(len(ids)), key=lambda i: (_h60_py(f"{ids[i]}|{j}"), ids[i])
        )
        for rank, i in enumerate(order[:k]):
            books[j, rank] = mat[i, j * dsub : (j + 1) * dsub]
    for _ in range(n_iter):
        new_books = books.copy()
        for j in range(m):
            sl = mat[:, j * dsub : (j + 1) * dsub]
            d = ((sl[:, None, :] - books[j][None, :, :]) ** 2).sum(axis=2)
            codes = d.argmin(axis=1)
            for c in np.unique(codes):
                sub_rows = sl[codes == c]
                new_books[j, c] = sub_rows.sum(axis=0) / sub_rows.shape[0]
        if float(((new_books - books) ** 2).max()) <= 1e-12:
            books = new_books
            break
        books = new_books
    return [[list(map(float, c)) for c in book] for book in books]


def _assign_codes_rows(sub: DataFrame, books) -> DataFrame:
    """(id, j, subvec, code): nearest sub-centroid per exploded row —
    Arrow batches against the in-closure codebook tensor."""
    import numpy as np

    books = np.asarray(books, dtype="float64")

    def assign(batch):
        X = _vector_matrix(batch, "subvec", dim=books.shape[2])
        J = batch.column("j").to_numpy()
        codes = np.empty(len(X), dtype="int32")
        for j in np.unique(J):
            mask = J == j
            d = ((X[mask, None, :] - books[j][None, :, :]) ** 2).sum(axis=2)
            codes[mask] = d.argmin(axis=1)
        return {
            "id": batch.column("id"),
            "j": batch.column("j"),
            "subvec": batch.column("subvec"),
            "code": codes,
        }

    return _arrow_map(
        sub, assign, "id bigint, j int, subvec array<double>, code int"
    )


def _encode_matrix(X, books, with_error: bool = False):
    """codes (n×m int32, argmin first-hit = lowest-code tie-break) and
    optional per-row reconstruction error for a row-major float matrix
    — the single encode implementation behind `pq_encode` and
    `ivf_pq_topk` (both distances reduce in numpy's pairwise tree, the
    association `ORACLE_PQ_ENCODE` pins)."""
    import numpy as np

    m, _, dsub = books.shape
    n = len(X)
    codes = np.empty((n, m), dtype="int32")
    errs = np.zeros(n, dtype="float64") if with_error else None
    for j in range(m):
        sl = X[:, j * dsub : (j + 1) * dsub]
        d = ((sl[:, None, :] - books[j][None, :, :]) ** 2).sum(axis=2)
        codes[:, j] = d.argmin(axis=1)
        if with_error:
            errs += d[np.arange(n), codes[:, j]]
    return codes, errs


def pq_encode(
    df: DataFrame,
    codebooks,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    with_error: bool = False,
) -> DataFrame:
    """(id, codes array<int>): one narrow Arrow pass; each vector is
    sliced and matched against its subspace codebook in-batch.

    ``with_error=True`` adds ``recon_err`` — the per-row ADC
    reconstruction error Σⱼ ‖xⱼ − books[j][codes[j]]‖², i.e. exactly
    the distance the ADC tables would report for the vector against
    its own codes. Same pass, no extra shuffle; this is the quantity
    the `pq_encode` registry oracle verifies value-level."""
    import numpy as np

    books = np.asarray(codebooks, dtype="float64")
    m, k, dsub = books.shape

    def encode(batch):
        X = _vector_matrix(batch, vec_col)
        # the subspace slices read exactly m*dsub components: a wider
        # vector would be SILENTLY truncated (wrong codes, no error)
        # and a narrower one would die in a bare numpy broadcast
        # ValueError — fail with the actual contract instead (pq_train
        # guards dim % m; the encode path must guard the
        # vector/codebook pairing)
        if X.shape[1] != m * dsub:
            raise ValueError(
                f"pq_encode: {vec_col!r} vector dim {X.shape[1]} != m*dsub = "
                f"{m}*{dsub} = {m * dsub} of the supplied codebooks"
            )
        codes, errs = _encode_matrix(X, books, with_error)
        out = {"id": batch.column(id_col), "codes": codes}
        if with_error:
            out["recon_err"] = errs
        return out

    schema = "id bigint, codes array<int>"
    if with_error:
        schema += ", recon_err double"
    return _arrow_map(df.select(id_col, vec_col), encode, schema)


def pq_pinned_codebooks(m: int = 8, k: int = 16, dsub: int = 8):
    """Deterministic pseudo-random codebooks — the PQ twin of
    `similarity._centroid`'s h60-literal scheme: component d of code c
    in subspace j is ``h60('pq:{j}:{c}:{d}')`` scaled to [-1, 1).
    Engine-portable by construction (the oracle regenerates the exact
    same doubles), which is what makes the ENCODE step and the ADC
    distance math SQL-verifiable independently of float k-means
    training."""
    return [
        [
            [
                _h60_unit(f"pq:{j}:{c}:{d}")
                for d in range(dsub)
            ]
            for c in range(k)
        ]
        for j in range(m)
    ]


def adc_tables(Q, books):
    """ADC lookup tables T[q, j, c] = ||Q[q, j-th slice] − books[j][c]||²
    for a query matrix — the per-query-batch precompute both serving
    paths (operator + persisted index) share."""
    import numpy as np

    books = np.asarray(books, dtype="float64")
    m, _, dsub = books.shape
    return np.stack(
        [
            (
                (Q[:, j * dsub : (j + 1) * dsub][:, None, :] - books[j][None, :, :])
                ** 2
            ).sum(axis=2)
            for j in range(m)
        ],
        axis=1,
    )


def _adc_scorer(books):
    """The ADC block scorer of the IVF serve
    (`similarity._probe_serve`) and of :func:`pq_topk`: the ADC tables
    of the scored queries (:func:`adc_tables`) gathered over the
    stored ``codes``, so the scan never reads the float ``vec``. Every
    top-k ranks best-first by score DESC, so the block is ``-dist2``:
    dist2 ASC, then neighbor_id ASC. The output negates it back before
    rounding, so a zero distance reads +0.0."""
    import numpy as np

    books = np.asarray(books, dtype="float64")
    m = books.shape[0]

    def scores(q_mat, codes):
        T = adc_tables(q_mat, books)
        return -T[:, np.arange(m)[None, :], codes].sum(axis=2)

    return _BlockScorer(
        "codes", scores,
        ("query_id", "neighbor_id", "round(-score, 6) AS dist2", "rank AS rnk"),
    )


def pq_topk(
    df: DataFrame,
    codebooks,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_queries: int | None = 25,
) -> DataFrame:
    """Approximate all-pairs top-k by ADC over PQ codes: every stored
    row is scored against every query through the m lookup tables —
    the compressed-domain scan of IVF-PQ (here over the full corpus;
    compose with `ivf_topk`'s cell routing for the two-level form).

    The query set (first ``n_queries`` ids, or all when None) must fit
    in a broadcast — the `cosine_topk` contract. Per Arrow batch the
    work is table build O(|Q|·m·k_sub) + gather O(|Q|·rows·m); only
    per-batch top-k rows (:func:`similarity._block_topk`) leave Python,
    and they merge in the shared per-query window
    (:func:`similarity._rank_candidates`) under the ADC projection
    (:func:`_adc_scorer`). Rows with a NULL id are dropped on both
    sides (as the IVF serves drop them), so an empty or all-NULL-id
    input is an empty result; a NULL vector still raises."""
    import numpy as np

    df = df.where(F.col(id_col).isNotNull())
    scorer = _adc_scorer(codebooks)
    codes = pq_encode(df, codebooks, id_col, vec_col)

    qdf = df.select(F.col(id_col).alias("qid"), F.col(vec_col).alias("qvec"))
    if n_queries is not None:
        qdf = qdf.orderBy("qid").limit(n_queries)
    qrows = qdf.collect()
    if not qrows:
        # np.asarray([]) is 1-D and adc_tables indexes Q[:, …]
        return df.sparkSession.createDataFrame([], _TOPK_SCHEMA).selectExpr(
            *scorer.output
        )
    qids = np.asarray([r["qid"] for r in qrows], dtype="int64")
    Q = np.asarray([list(r["qvec"]) for r in qrows], dtype="float64")

    def score(batch):
        C = _vector_matrix(batch, "codes", dtype="int64")  # rows × m
        ids = batch.column("id").to_numpy(zero_copy_only=False).astype("int64")
        out = _block_topk(qids, scorer.scores(Q, C), ids, k)
        return dict(zip(("query_id", "neighbor_id", "raw_score"), out))

    return _rank_candidates(_arrow_map(codes, score, _CAND_SCHEMA), k, scorer)


def ivf_pq_topk(
    df: DataFrame,
    codebooks,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    k: int = 5,
    n_queries: int | None = 25,
    n_cells: int = 16,
    n_probe: int = 4,
    centroids=None,
) -> DataFrame:
    """Two-level IVF-PQ serve path — the composition `pq_topk`'s
    docstring points at: coarse inverted-file routing prunes the
    candidate set, then ADC over PQ codes scores what survives. This
    is the billion-scale ANN layout (IVF for sub-linear candidate
    selection, PQ so the scan is code-bandwidth not float-bandwidth);
    here codes quantize the RAW vectors, not cell residuals
    (by_residual=False), so one set of per-query ADC tables serves
    every probed cell and the pinned-codebook oracle replay stays
    exact.

    Physical shape: ONE `mapInArrow` pass over the corpus assigns the
    storage cell (N×cells matmul + the `ivf_cells_pandas` lexsort
    tie-break: dot desc, cell desc) AND the m PQ codes (the
    `pq_encode` math) in the same batch, so the corpus is scanned
    once. The (cell, id, codes) rows it emits are served as an index
    by the IVF probe serve (`similarity._probe_serve`) with the ADC
    block scorer (:func:`_adc_scorer`), the queries being the first
    ``n_queries`` ids (all rows when None). A batch under the serve's
    query cap is collected, probes its ``n_probe`` nearest cells on the
    driver, and is ADC-scored against only the probed cells' codes in
    one Arrow pass chained onto the encode pass, merged per query on
    the driver; a larger batch takes the cell shuffle. A stored row
    lives in exactly one cell, so no pair ever duplicates.

    Float/tie parity with the oracle replay: cell dots are BLAS rows
    against `_h60_unit` centroid literals (the proven `ivf_topk`
    contract), code argmins take the lowest code (numpy first-hit),
    and both ADC reductions are numpy pairwise trees over length-8
    axes — the `_pq_tree8` association `ORACLE_PQ_TOPK` pins.

    At 100 TB: n_cells scales ~√N so each cell's candidate list stays
    bounded; the per-executor state is the codebook tensor + the
    probing queries' ADC tables; only per-task top-k rows cross from
    Python.
    """
    import numpy as np

    books = np.asarray(codebooks, dtype="float64")
    m, _, dsub = books.shape
    if dim != m * dsub:
        raise ValueError(
            f"ivf_pq_topk: dim={dim} != m*dsub = {m}*{dsub} = {m * dsub} — "
            "by_residual=False quantizes the raw vectors, so the codebooks "
            "must cover the full dimension"
        )
    cents = _coarse_matrix(dim, n_cells, centroids)  # dim × cells
    if cents.shape[0] != dim:
        raise ValueError(
            f"ivf_pq_topk: centroids are {cents.shape[0]}-dim, vectors are "
            f"{dim}-dim"
        )

    def encode_assign(batch):
        X = _vector_matrix(batch, vec_col, dim=dim)
        order = _cell_order(X @ cents)
        codes, _ = _encode_matrix(X, books)
        return {"id": batch.column(id_col), "cell": order[:, 0], "codes": codes}

    encoded = _arrow_map(
        df.select(id_col, vec_col), encode_assign,
        "id bigint, cell int, codes array<int>",
    )
    queries = df.select(id_col, vec_col)
    if n_queries is not None:
        queries = queries.orderBy(F.asc_nulls_last(id_col)).limit(n_queries)
    return _flat_query_topk(
        lambda: encoded, queries, id_col, vec_col, dim, k, n_cells, n_probe,
        centroids, _adc_scorer(books),
    )
