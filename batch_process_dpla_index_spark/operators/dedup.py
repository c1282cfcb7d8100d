"""Deduplication operators for training-data pipelines.

All variants are pure DataFrame compositions (scan → narrow transforms
→ one shuffle per logical step), designed so the same plan shape holds
from 500 docs to 100 TB:

- exact_dedup:       hash-groupBy on a content digest (1 shuffle).
- keep_first:        window row_number over the dup key (1 shuffle,
                     AQE-skew-safe) — the reference-style "keep the
                     earliest" semantics.
- jaccard_pairs:     exact n-gram Jaccard via shingle-explode + equi-join
                     on shingle (the inverted-index join), then pair-level
                     intersection counting. Quadratic only within a
                     shingle's posting list, never globally.
- minhash_lsh_pairs: MinHash signatures + banded LSH self-join; candidate
                     pairs verified with exact Jaccard. The 100 TB path:
                     shuffle is bounded by (bands × docs), buckets are
                     capped to defuse degenerate skew.
- simhash:           60-bit SimHash per document (h60's width); near-dup pairs via
                     Hamming distance over band-equality prefilter.

MinHash/SimHash hashing uses the engine-portable ``h60`` digest
(functions/text.h60; its Python twin ``_h60_base_py`` in the Arrow
MinHash kernels) so every step is reproducible in the ANSI-SQL oracle.
Shingling and MinHash have one kernel each, an Arrow batch kernel over
the JVM-tokenized array (:func:`shingle_sets`,
:func:`with_minhash_signature`).
"""

from __future__ import annotations

import pandas as pd  # noqa: F401 — needed at module scope so pandas_udf type hints resolve
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from batch_process_dpla_index_spark.functions.text import h60, tokens
from batch_process_dpla_index_spark.operators.relational import (
    _arrow_local_frame,
    bounded_collect,
)

# 2^31-1, Mersenne prime: keeps a*h+b < 2^62 (int64-safe with headroom;
# ANSI mode never overflows).
_MERSENNE = 2_147_483_647


class _CheckpointHandle:
    """``unpersist()``-compatible shim for a (local)checkpointed frame.

    ``DataFrame.unpersist`` is a CacheManager lookup and a NO-OP on a
    checkpointed frame — the persisted blocks belong to the internal
    RDD behind its LogicalRDD node, so releasing them needs that RDD's
    own ``unpersist``. Ride this in ``_cached_deps`` so the repo's
    ``unpersist_deps`` discipline genuinely frees checkpoint storage
    for the iterative operators (connected_components, pagerank)."""

    def __init__(self, df: DataFrame):
        self._df = df

    def unpersist(self, blocking: bool = False) -> None:
        try:
            self._df._jdf.queryExecution().analyzed().rdd().unpersist(blocking)
        except Exception:  # pragma: no cover — best-effort release
            pass


def _with_cached_deps(result: DataFrame, deps: list[DataFrame]) -> DataFrame:
    """Attach persisted intermediates to the returned plan.

    The pair operators persist a shared intermediate (shingle sets /
    signatures) that the returned lazy plan reads twice. The cache cannot
    be dropped before the caller materializes the result, so the handles
    ride along as ``result._cached_deps``; call :func:`unpersist_deps`
    after the action (tests and products do) to release executor storage
    in long-lived sessions.
    """
    result._cached_deps = deps  # type: ignore[attr-defined]
    return result


def carry_deps(out: DataFrame, src: DataFrame) -> DataFrame:
    """Re-attach ``src``'s cached deps to a transformed frame.

    DataFrame methods return NEW objects, so ``op(...).select(...)``
    silently drops the ``_cached_deps`` attribute and downstream
    ``unpersist_deps`` becomes a no-op (the persisted intermediate
    then leaks for the session). Wrap any post-transformation of a
    deps-carrying result with this."""
    return _with_cached_deps(out, list(getattr(src, "_cached_deps", [])))


def unpersist_deps(df: DataFrame) -> DataFrame:
    """Release caches attached by the pair operators (idempotent)."""
    for dep in getattr(df, "_cached_deps", []):
        dep.unpersist()
    df._cached_deps = []  # type: ignore[attr-defined]
    return df


def exact_dedup(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Keep the min-id row per exact content digest. Returns survivors' ids.

    One hash-aggregate shuffle on the digest; map-side partial agg makes
    this linear and skew-tolerant at any scale.
    """
    return (
        df.select(F.md5(F.col(text_col)).alias("digest"), F.col(id_col))
        .groupBy("digest")
        .agg(F.min(id_col).alias(id_col))
        .select(id_col)
    )


def keep_first(df: DataFrame, key_cols: list[str], order_col: str, tiebreak: str) -> DataFrame:
    """Window-based keep-first dedup: earliest ``order_col`` per key.

    row_number over (key, order, tiebreak); deterministic because the
    tiebreak column is unique.
    """
    from pyspark.sql.window import Window

    w = Window.partitionBy(*key_cols).orderBy(F.col(order_col).asc(), F.col(tiebreak).asc())
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def _py_word_shingles(toks, n: int) -> list[str]:
    """Python twin of the ``word_shingles`` rules for a NON-EMPTY token
    list, distinct with first-occurrence order (the array_distinct
    contract): whole-text shingle for sub-n docs. ONE definition shared
    by the Arrow batch tier and the streaming state fold — the
    stream==batch bit-exactness contract rides on these rules never
    forking."""
    toks = list(toks)
    if len(toks) <= n:
        return [" ".join(toks)]
    return list(
        dict.fromkeys(" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1))
    )


def _h60_base_py(s: str) -> int:
    """Python twin of the JVM h60 base hash mod the Mersenne prime:
    top 60 bits of md5 (``digest()[:8] >> 4`` == ``hexdigest()[:15]``
    parsed as hex — same bits, no hex-string round trip), reduced mod
    2^31-1. ONE definition for every Python-side hasher (batch Arrow
    kernel, streaming state fold) so the hash can never fork."""
    import hashlib

    return (
        int.from_bytes(hashlib.md5(s.encode("utf-8")).digest()[:8], "big") >> 4
    ) % _MERSENNE


def _doc_shingle_mins(shingles, a_vec, b_vec):
    """Per-doc MinHash mins of a non-empty shingle iterable: md5-h60
    base hash, affine rehash per perm, column-wise min — the single
    shared implementation of the signature fold (a*h + b < 2^62, exact
    in uint64). ``a_vec``/``b_vec`` are the (num_perm, 1) uint64 param
    columns from :func:`_perm_params`."""
    import numpy as np

    sh = list(shingles)
    base = np.fromiter(
        (_h60_base_py(s) for s in sh), dtype=np.uint64, count=len(sh)
    )
    return ((a_vec * base + b_vec) % _MERSENNE).min(axis=1)


def _word_shingles_pandas(n: int):
    """Arrow shingle kernel: the values AND order of
    ``array_distinct(word_shingles(tok, n))`` (dict.fromkeys keeps first
    occurrence, exactly array_distinct's contract; <=n tokens → one
    whole-text shingle; empty → empty set) — the form the SQL oracles
    replay. One Python loop per doc over the JVM-tokenized array; the
    interpreted-HOF Column form evaluates a sequence→slice→concat lambda
    per shingle (HOFs never enter whole-stage codegen) and was slower
    on every bench target (ROADMAP item 6)."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("array<string>")
    def sh(tok: pd.Series) -> pd.Series:
        out = []
        for t in tok:
            if t is None:
                # NULL token array (NULL text) → NULL shingles, exactly
                # what array_distinct(word_shingles(NULL)) yields in the
                # oracles — set_size must read NULL here, not 0
                out.append(None)
            elif len(t) == 0:
                out.append([])
            else:
                out.append(_py_word_shingles(t, n))
        return pd.Series(out)

    return sh


def shingle_sets(df: DataFrame, text_col: str, id_col: str, n: int = 3) -> DataFrame:
    """(id, shingles: array<string> distinct) per document.

    Tokenizing (a regex-normalize + split of the whole text) stays in
    the JVM; the shingles come from the Arrow kernel
    :func:`_word_shingles_pandas`, whose values and order are those of
    ``array_distinct(word_shingles(tokens(text), n))``."""
    toks = df.select(F.col(id_col), tokens(F.col(text_col)).alias("__tok"))
    return toks.select(
        F.col(id_col), _word_shingles_pandas(n)(F.col("__tok")).alias("shingles")
    )


def _pair_intersections(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int,
    max_posting: int,
    pair_filter=None,
    sets: "DataFrame | None" = None,
):
    """Shared inverted-index pair core for the exact set-similarity
    joins: shingle sets (persisted — returned for the caller's
    `_with_cached_deps`), posting explode, hot-posting-list defuse,
    and the per-pair intersection count. ``pair_filter`` (a Column
    over size_a/size_b) prunes pairs BEFORE the aggregation — the
    jaccard length filter plugs in there; containment passes None
    because it admits no such prune.

    ``sets`` (r18): an optional caller-persisted (id_col, shingles)
    frame — a consumer that already shingled the same corpus (the LSH
    quality report runs truth and candidates over one corpus) passes
    it so the tokenize+shingle pass runs once per QUERY, not once per
    operator; both frames come from :func:`shingle_sets`, so values
    are unchanged.
    When provided, this function does not persist (the caller owns the
    cache; the returned handle's unpersist is then a no-op).

    Returns (inter, sets): inter has columns
    (id_a, id_b, size_a, size_b, n_common)."""
    if sets is None:
        sets = shingle_sets(df, text_col, id_col, n).withColumn(
            "set_size", F.size("shingles")
        ).persist()
    else:
        sets = sets.withColumn("set_size", F.size("shingles"))
    posts = sets.select(
        F.col(id_col).alias("id"), "set_size", F.explode("shingles").alias("shingle")
    )
    # Defuse pathological posting lists before the self-join (the
    # inverted-index twin of the LSH bucket cap).
    hot = (
        posts.groupBy("shingle")
        .agg(F.count("*").alias("df_"))
        .filter(F.col("df_") > max_posting)
        .select("shingle")
    )
    posts = posts.join(F.broadcast(hot), "shingle", "left_anti")
    a = posts.select(
        F.col("id").alias("id_a"), F.col("set_size").alias("size_a"), "shingle"
    )
    b = posts.select(
        F.col("id").alias("id_b"), F.col("set_size").alias("size_b"), "shingle"
    )
    cond = F.col("id_a") < F.col("id_b")
    if pair_filter is not None:
        cond = cond & pair_filter
    inter = (
        a.join(b, "shingle")
        .filter(cond)
        .groupBy("id_a", "id_b", "size_a", "size_b")
        .agg(F.count("*").alias("n_common"))
    )
    return inter, sets


def jaccard_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 3,
    threshold: float = 0.5,
    max_posting: int = 1000,
    precomputed_sets: "DataFrame | None" = None,
) -> DataFrame:
    """Exact n-gram Jaccard similarity join: pairs (a < b) with J >= t.

    Plan: explode shingles → equi-join on shingle (inverted index) →
    count shared shingles per pair → Jaccard from |A|,|B|,|A∩B|.
    Returns columns (id_a, id_b, jaccard). The explode-join shuffles on
    the shingle value; a hot shingle's posting list is the only
    quadratic zone, so ``max_posting`` drops shingles whose posting
    list exceeds the cap before the self-join — the same
    drop-the-degenerate-key contract as ``minhash_lsh_pairs.max_bucket``
    (a stopword 3-gram shared by millions of docs carries no dedup
    signal but would go quadratic). Pairs are still scored on their
    FULL set sizes, so dropping a hot shingle can only lower a pair's
    reported Jaccard (intersection undercount), never raise it — with
    the default cap far above any real shingle frequency below web
    scale, small-SF results are bit-identical to the uncapped join.
    """
    # Size-ratio prune (set-similarity-join length filter): J(A,B) >= t
    # forces t·max(|A|,|B|) <= min(|A|,|B|), so size-incompatible pairs
    # can be dropped BEFORE the pair aggregation — identical results,
    # smaller groupBy input. (J = |∩|/|∪| <= min/max.)
    size_ok = (
        F.greatest(F.col("size_a"), F.col("size_b")) * threshold
        <= F.least(F.col("size_a"), F.col("size_b"))
    )
    inter, sets = _pair_intersections(
        df, text_col, id_col, n, max_posting, pair_filter=size_ok,
        sets=precomputed_sets,
    )
    jac = F.col("n_common").cast("double") / (
        F.col("size_a") + F.col("size_b") - F.col("n_common")
    ).cast("double")
    out = (
        inter.withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))
    )
    return _with_cached_deps(out, [sets])


def containment_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 3,
    threshold: float = 0.5,
    max_posting: int = 1000,
) -> DataFrame:
    """Asymmetric containment join: pairs (a < b) where the SMALLER
    shingle set is >= ``threshold`` contained in the larger —
    C_max(A,B) = |A∩B| / min(|A|,|B|).

    Jaccard misses the quote-inclusion case (a 100-shingle doc fully
    embedded in a 10,000-shingle doc scores J ≈ 0.01 but containment
    1.0); this is the dedup signal for sub-document duplication
    between differently-sized documents, complementing the
    within-document `operators/spans.py:duplicate_spans`.

    Same inverted-index plan as :func:`jaccard_pairs` (explode →
    equi-join on shingle → per-pair count), same hot-posting-list
    defuse. NO size-ratio prune: containment admits no length filter
    (a tiny doc can be fully contained in any larger one), which is
    exactly why it catches what Jaccard's prune is allowed to skip.
    """
    inter, sets = _pair_intersections(df, text_col, id_col, n, max_posting)
    cont = F.col("n_common").cast("double") / F.least(
        F.col("size_a"), F.col("size_b")
    ).cast("double")
    out = (
        inter.withColumn("containment", cont)
        .filter(F.col("containment") >= threshold)
        .select("id_a", "id_b", F.round("containment", 6).alias("containment"))
    )
    return _with_cached_deps(out, [sets])


def _perm_params(num_perm: int, seed: int = 42) -> list[tuple[int, int]]:
    """Deterministic (a, b) pairs for universal hashing h_i = (a*h + b) % p.

    Generated from a tiny LCG on the seed (no RNG import → reproducible
    everywhere, including inside the SQL oracle generator).
    """
    params = []
    state = seed
    for _ in range(num_perm):
        state = (state * 1_103_515_245 + 12_345) % (1 << 31)
        a = (state % (_MERSENNE - 2)) + 1
        state = (state * 1_103_515_245 + 12_345) % (1 << 31)
        b = state % _MERSENNE
        params.append((a, b))
    return params


def _minhash_sig_pandas(num_perm: int):
    """Arrow MinHash kernel: per-doc ``array<bigint>`` signature
    sig[p] = min over shingles of (a_p·h + b_p) mod 2^31-1, with h the
    md5-derived h60 base hash (:func:`_h60_base_py`) and (a_p, b_p) from
    :func:`_perm_params` — the values the SQL oracles replay with
    ``array_min(transform(...))``. Empty and NULL sets yield the
    all-NULL signature array_min produces. One hashlib pass per unique
    shingle plus one numpy broadcast per batch, where an interpreted-HOF
    Column form pays ``num_perm × |shingles|`` lambda evaluations per
    row."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    params = _perm_params(num_perm)
    a_col = np.array([p[0] for p in params], dtype=np.uint64)
    b_col = np.array([p[1] for p in params], dtype=np.uint64)

    @pandas_udf("array<bigint>")
    def sig(shingles: pd.Series) -> pd.Series:
        # r17 batch-level vectorization (guide §4.2): the per-DOC
        # kernel paid one md5 per shingle OCCURRENCE plus per-doc
        # numpy dispatch. Here the whole Arrow batch is flattened
        # once, each UNIQUE shingle is hashed exactly once (dedup
        # corpora repeat shingles across docs by construction — the
        # sf0.1 fixture repeats each ~5×), and the per-doc mins come
        # from ONE segmented reduce per permutation
        # (np.minimum.reduceat over the flat hash vector). Bit-exact
        # with _doc_shingle_mins: same _h60_base_py base hash, same
        # uint64 affine arithmetic (a*h+b < 2^62 — no overflow), same
        # all-NULL signature for empty/NULL sets.
        lengths = np.zeros(len(shingles), dtype=np.int64)
        index: dict[str, int] = {}
        inv: list[int] = []
        setdefault = index.setdefault
        for i, sh in enumerate(shingles):
            if sh is None or len(sh) == 0:
                continue
            lengths[i] = len(sh)
            inv.extend(setdefault(s, len(index)) for s in sh)
        null_sig = [None] * num_perm
        if not index:
            return pd.Series([null_sig] * len(shingles))
        ubase = np.fromiter(
            (_h60_base_py(s) for s in index),
            dtype=np.uint64,
            count=len(index),
        )
        base = ubase[np.asarray(inv, dtype=np.int64)]
        nonempty = lengths > 0
        starts = np.zeros(int(nonempty.sum()), dtype=np.int64)
        np.cumsum(lengths[nonempty][:-1], out=starts[1:])
        # (num_perm, n_nonempty_docs): one affine pass + segmented min
        # per permutation keeps peak memory at O(|flat|), not
        # O(num_perm × |flat|)
        mins = np.empty((num_perm, len(starts)), dtype=np.uint64)
        for p in range(num_perm):
            vals = (a_col[p] * base + b_col[p]) % _MERSENNE
            mins[p] = np.minimum.reduceat(vals, starts)
        sigs_by_doc = mins.T.astype("int64")
        out = []
        j = 0
        for i in range(len(shingles)):
            if nonempty[i]:
                out.append(sigs_by_doc[j].tolist())
                j += 1
            else:
                out.append(null_sig)
        return pd.Series(out)

    return sig


def with_minhash_signature(sets: DataFrame, num_perm: int = 64) -> DataFrame:
    """(id, shingles) → (id, shingles, sig) through the Arrow MinHash
    kernel :func:`_minhash_sig_pandas`."""
    return sets.withColumn("sig", _minhash_sig_pandas(num_perm)(F.col("shingles")))


def source_sig_from_postings(ex: DataFrame, num_perm: int = 64) -> DataFrame:
    """(src, shingle) distinct posting rows → per-source union-MinHash
    signature (source, sig: array<bigint>) — BIT-IDENTICAL to
    :func:`source_signatures`'s per-doc tier: min over per-doc
    signature mins equals min over the source's distinct shingle
    union (min is associative and idempotent, and the union IS the
    distinct posting set). Exists so a pipeline that already pays the
    posting-explode distinct (contamination tier 2) derives the
    sketch from the SAME frame instead of running a second MinHash
    pass over every per-doc shingle array — and so the plan carries
    no ``num_perm``-column aggregate: the 64 min-columns of the
    classic sketch aggregate codegen into multi-MiB task binaries
    (measured 4.1 MiB broadcasts and a 12 s first-run JIT stall on
    the sf0.1 bench), while this path is one mapInPandas partial fold
    (per-partition, per-source numpy mins — guide §4.3 heavyweight
    work per task, not per row) plus a |partitions × sources|-row
    grouped merge.

    Scale note: the partial fold emits at most |sources| rows per
    partition regardless of posting volume, so the final groupBy
    shuffles kilobytes at any corpus size; per-source skew never
    concentrates posting rows on one task because the fold runs on
    whatever partitioning ``ex`` already has."""
    import numpy as np

    params = _perm_params(num_perm)
    a_col = np.array([p[0] for p in params], dtype=np.uint64)[:, None]
    b_col = np.array([p[1] for p in params], dtype=np.uint64)[:, None]

    def fold(batches):
        acc: dict[str, "np.ndarray"] = {}
        hcache: dict[str, int] = {}

        def hb(s):
            v = hcache.get(s)
            if v is None:
                v = _h60_base_py(s)
                hcache[s] = v
            return v

        for pdf in batches:
            if len(pdf) == 0:
                continue
            base = np.fromiter(
                (hb(s) for s in pdf["shingle"]),
                dtype=np.uint64,
                count=len(pdf),
            )
            codes, uniques = pd.factorize(pdf["src"], sort=False)
            order = np.argsort(codes, kind="stable")
            counts = np.bincount(codes)
            starts = np.zeros(len(uniques), dtype=np.int64)
            np.cumsum(counts[:-1], out=starts[1:])
            # (num_perm, n): affine rehash exact in uint64 (a*h+b < 2^62)
            vals = (a_col * base[order][None, :] + b_col) % _MERSENNE
            mins = np.minimum.reduceat(vals, starts, axis=1)
            for j, s in enumerate(uniques):
                cur = acc.get(s)
                m = mins[:, j]
                acc[s] = m if cur is None else np.minimum(cur, m)
        if acc:
            yield pd.DataFrame(
                {
                    "src": list(acc.keys()),
                    "sig": [v.astype("int64").tolist() for v in acc.values()],
                }
            )

    partials = ex.mapInPandas(fold, "src string, sig array<bigint>")

    def merge(key, pdf):
        import numpy as np

        m = np.minimum.reduce(
            [np.asarray(x, dtype=np.int64) for x in pdf["sig"]]
        )
        return pd.DataFrame({"source": [key[0]], "sig": [m.tolist()]})

    return partials.groupBy("src").applyInPandas(
        merge, "source string, sig array<bigint>"
    )


def _band_rows(num_perm: int, bands: int) -> int:
    """Validated rows-per-band. Integer division would otherwise fail
    SILENTLY: bands > num_perm gives rows=0, so every band key hashes
    the EMPTY slice — all docs share one bucket per band, which either
    trips max_bucket (zero pairs reported as "no near-dups") or goes
    quadratic; a non-divisor bands quietly ignores the trailing
    permutations and degrades the documented S-curve recall."""
    if bands < 1 or bands > num_perm or num_perm % bands:
        raise ValueError(
            f"bands={bands} must divide num_perm={num_perm} "
            f"(1 <= bands <= num_perm)"
        )
    return num_perm // bands


def _band_buckets(sig: DataFrame, bands: int, rows: int) -> DataFrame:
    """(id, sig) → (id, band, key): one md5 band key per signature
    slice. The exploded frame is bands × docs rows — the whole LSH
    shuffle budget."""
    band_cols = []
    for i in range(bands):
        band_key = F.md5(F.concat_ws(",", F.slice("sig", i * rows + 1, rows)))
        band_cols.append(F.struct(F.lit(i).alias("band"), band_key.alias("key")))
    return sig.select("id", F.explode(F.array(*band_cols)).alias("bk")).select(
        "id", F.col("bk.band").alias("band"), F.col("bk.key").alias("key")
    )


def incremental_dedup(
    new_docs: DataFrame,
    corpus_docs: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 3,
    threshold: float = 0.5,
    num_perm: int = 64,
    bands: int = 16,
    max_bucket: int = 1000,
) -> DataFrame:
    """Dedupe an incoming batch against the existing corpus: the op an
    ingest pipeline actually runs — no O(corpus²) re-clustering, just
    new-vs-old candidate generation through the banded-LSH buckets and
    exact-Jaccard verification.

    Returns (new_id, dup_of, jaccard): for each new doc with a corpus
    match at TRUE Jaccard >= threshold, its best match (highest
    jaccard, ties to the smallest corpus id — deterministic). New docs
    with no match are absent (they're the novel set; anti-join the
    batch against this frame to keep them).

    Scale design: the corpus side's signatures are pure functions of
    text — production stores them alongside the corpus and re-reads
    (cost: bands × new_docs explode + a bucket equi-join); here they
    are computed in-line for self-containment. The ``max_bucket`` skew
    cap applies to CORPUS buckets (hot template clusters); candidates
    are bucket-bounded, never all-pairs.
    """
    rows = _band_rows(num_perm, bands)
    new_sets = shingle_sets(new_docs, text_col, id_col, n).withColumnRenamed(
        id_col, "id"
    )
    corp_sets = shingle_sets(corpus_docs, text_col, id_col, n).withColumnRenamed(
        id_col, "id"
    )
    new_sig = with_minhash_signature(new_sets, num_perm).persist()
    corp_sig = with_minhash_signature(corp_sets, num_perm).persist()
    nb = _band_buckets(new_sig, bands, rows)
    cb = _band_buckets(corp_sig, bands, rows)
    oversized = (
        cb.groupBy("band", "key")
        .agg(F.count("*").alias("sz"))
        .filter(F.col("sz") > max_bucket)
        .select("band", "key")
    )
    cb = cb.join(F.broadcast(oversized), ["band", "key"], "left_anti")
    cand = (
        nb.alias("x")
        .join(cb.alias("y"), ["band", "key"])
        .select(F.col("x.id").alias("new_id"), F.col("y.id").alias("dup_of"))
        .distinct()
    )
    sa = new_sig.select(F.col("id").alias("new_id"), F.col("shingles").alias("sh_a"))
    sb = corp_sig.select(F.col("id").alias("dup_of"), F.col("shingles").alias("sh_b"))
    verified = (
        cand.join(sa, "new_id")
        .join(sb, "dup_of")
        .withColumn(
            "jaccard",
            F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
            / F.size(F.array_union("sh_a", "sh_b")).cast("double"),
        )
        .filter(F.col("jaccard") >= threshold)
    )
    # best match as ONE aggregate instead of row_number-over-window
    # (r18, guide §2.4/§2.3): max_by over struct(jaccard, -dup_of) is
    # the lexicographic (jaccard DESC, dup_of ASC) winner — the exact
    # row the old rn==1 filter kept (the ordering key is unique per
    # row, so no max_by tie exists) — and the winner's jaccard IS
    # max(jaccard). The struct ordering key still plans as
    # SortAggregate (struct buffers are hash-incompatible), but the
    # MAP-SIDE PARTIAL shrinks the exchange to one row per (task,
    # key) where the window shuffled every verified pair; alternating
    # A/B at matched load read 3.0/3.8 s vs the window's 3.2/4.7 s.
    # (A max(struct(...)) form measured slower still: its two
    # references to the aggregate defeat partial-pushdown reuse.)
    best = verified.groupBy("new_id").agg(
        F.max_by(
            "dup_of", F.struct(F.col("jaccard"), (-F.col("dup_of")))
        ).alias("dup_of"),
        F.round(F.max("jaccard"), 6).alias("jaccard"),
    )
    return _with_cached_deps(best, [new_sig, corp_sig])


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 3,
    threshold: float = 0.5,
    num_perm: int = 64,
    bands: int = 16,
    max_bucket: int = 1000,
    precomputed_sets: "DataFrame | None" = None,
) -> DataFrame:
    """MinHash + banded-LSH near-dup pairs, verified with exact Jaccard.

    Returns (id_a, id_b, jaccard) for candidate pairs whose TRUE Jaccard
    >= threshold. With 64 perms / 16 bands / rows=4 the S-curve puts
    ~0.99 recall at J >= 0.6 and filters the vast majority of pairs below.

    Scale design: shuffle volume is bands × docs rows; ``max_bucket``
    discards degenerate buckets (e.g. empty-text clusters) that would
    otherwise go quadratic — logged in real pipelines, dropped here.
    Candidates are verified against the exact shingle sets, so the output
    has zero false positives (recall remains probabilistic).
    """
    rows = _band_rows(num_perm, bands)
    sets = (
        # r18: a caller that already shingled this corpus (the LSH
        # quality report's truth side) passes its persisted frame —
        # one tokenize+shingle pass per query instead of per operator
        precomputed_sets
        if precomputed_sets is not None
        else shingle_sets(df, text_col, id_col, n)
    ).withColumnRenamed(id_col, "id")
    sig = with_minhash_signature(sets, num_perm).persist()

    buckets = _band_buckets(sig, bands, rows)
    # Defuse pathological buckets before the self-join.
    sizes = buckets.groupBy("band", "key").agg(F.count("*").alias("sz"))
    buckets = buckets.join(
        F.broadcast(sizes.filter(F.col("sz") > max_bucket).select("band", "key")),
        ["band", "key"],
        "left_anti",
    )
    cand = (
        buckets.alias("x")
        .join(buckets.alias("y"), ["band", "key"])
        .filter(F.col("x.id") < F.col("y.id"))
        .select(F.col("x.id").alias("id_a"), F.col("y.id").alias("id_b"))
        .distinct()
    )
    sa = sig.select(F.col("id").alias("id_a"), F.col("shingles").alias("sh_a"))
    sb = sig.select(F.col("id").alias("id_b"), F.col("shingles").alias("sh_b"))
    verified = (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn(
            "jaccard",
            F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
            / F.size(F.array_union("sh_a", "sh_b")).cast("double"),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))
    )
    return _with_cached_deps(verified, [sig])


def simhash(tok: Column, bits: int = 60) -> Column:
    """SimHash over a token array: bit j is 1 when the sum over tokens of
    ±1 (sign of token-hash bit j) is >= 0. Returned as a positive bigint.

    Single array-valued fold: the accumulator is the per-bit vote vector
    (array<bigint> of length ``bits``), updated with ``zip_with`` against
    each token hash's bit decomposition — one pass over the tokens, one
    compact expression tree, fully codegen'd and oracle-replicable.
    (A per-bit loop of ``F.aggregate`` calls would both blow up the plan
    and hit PySpark's lambda-argument binding — lambdas passed to
    higher-order functions must take exactly the declared parameters, so
    bit indexes are introduced via ``F.sequence``, never default args.)
    """
    # h60 produces 60 usable bits: bit 60+ of every token hash is zero,
    # so votes there are constant -1 (dead bands in simhash_pairs'
    # pigeonhole split), and 1 << 63 doesn't even fit a positive int64
    # literal — fail loudly instead of silently degrading recall.
    if not 1 <= bits <= 60:
        raise ValueError(
            f"bits={bits}: simhash supports 1..60 bits (h60 token hashes "
            "carry 60 bits; higher bit positions would never be set)"
        )
    hashed = F.transform(tok, h60)
    # Literal per-bit masks: bitwiseAND takes Column operands, unlike
    # shiftright/shiftleft whose numBits must be a Python int (the round-1
    # crash: a lambda-bound bit index arrives as a Column).
    masks = F.array(*[F.lit(1 << j).cast("bigint") for j in range(bits)])
    zero_votes = F.array(*[F.lit(0).cast("bigint") for _ in range(bits)])
    votes = F.aggregate(
        hashed,
        zero_votes,
        lambda acc, h: F.zip_with(
            acc,
            masks,
            lambda v, m: v + F.when(h.bitwiseAND(m) != 0, 1).otherwise(-1),
        ),
    )
    return F.aggregate(
        F.zip_with(
            votes,
            masks,
            lambda v, m: F.when(v >= 0, m).otherwise(F.lit(0).cast("bigint")),
        ),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )


def simhash_table(df: DataFrame, text_col: str, id_col: str, bits: int = 60) -> DataFrame:
    return df.select(F.col(id_col), simhash(tokens(F.col(text_col)), bits).alias("simhash"))


def hamming_band_structs(
    sig_col: str, bits: int, max_hamming: int
) -> list[Column]:
    """(band, val) struct columns for the pigeonhole split of an
    integer fingerprint — THE one definition of the banding geometry,
    shared by :func:`banded_hamming_pairs` (in-line pairs) and
    ``products.phash_index`` (the stored bucket layout), so the stored
    index and the in-line operator can never disagree on candidate
    generation."""
    nbands = max_hamming + 1
    width = bits // nbands
    bands = []
    for i in range(nbands):
        band_val = F.shiftright(F.col(sig_col), i * width).bitwiseAND(
            F.lit((1 << width) - 1)
        )
        bands.append(F.struct(F.lit(i).alias("band"), band_val.alias("val")))
    return bands


def banded_hamming_pairs(
    sig: DataFrame, id_col: str, sig_col: str, bits: int, max_hamming: int
) -> DataFrame:
    """(id_a, id_b, hamming): near-dup pairs by Hamming distance over an
    integer fingerprint column, with a banded prefilter — THE shared
    kernel behind :func:`simhash_pairs` (text) and
    ``operators.multimodal.image_near_dup`` (perceptual blob hash), so
    the two modalities cannot drift in banding semantics.

    Split the fingerprint into (max_hamming + 1) contiguous bands of
    ``bits // (max_hamming + 1)`` bits; by pigeonhole, any pair within
    the distance budget agrees exactly on >= 1 band → equi-join per
    band, then exact popcount verification. The prefilter is LOSSLESS
    for ANY ``bits``: with a remainder, the top ``bits % nbands`` bits
    are never banded, but differences there still consume the distance
    budget, so a within-budget pair has at most max_hamming differing
    BANDED bits — fewer than the nbands bands, hence >= 1 exact band
    agreement regardless. Same plan scales to 100 TB: shuffle on
    (band, val), no cross join.

    ``sig`` is read twice (both join sides) — callers persist it and
    ride the handle via ``_with_cached_deps``.
    """
    bands = hamming_band_structs(sig_col, bits, max_hamming)
    exploded = sig.select(
        F.col(id_col).alias("id"),
        F.col(sig_col).alias("sig"),
        F.explode(F.array(*bands)).alias("bk"),
    ).select(
        "id", "sig", F.col("bk.band").alias("band"), F.col("bk.val").alias("val")
    )
    # popcount-verify BEFORE the dedup exchange (r18, guide §2.3
    # "shuffle fewer bytes"): the verify is one bit_count over columns
    # already co-located by the band join, so over-budget candidates
    # die map-side and only true matches reach the distinct — the old
    # shape shuffled every (multi-band-duplicated) candidate pair plus
    # both 8-byte sigs just to drop most of them after the exchange.
    # distinct over (id_a, id_b, hamming) equals distinct over the
    # pair: hamming is a pure function of the pair.
    ham = F.bit_count(F.col("x.sig").bitwiseXOR(F.col("y.sig")))
    return (
        exploded.alias("x")
        .join(exploded.alias("y"), ["band", "val"])
        .filter(F.col("x.id") < F.col("y.id"))
        .select(
            F.col("x.id").alias("id_a"),
            F.col("y.id").alias("id_b"),
            ham.alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


def simhash_pairs(
    df: DataFrame, text_col: str, id_col: str, bits: int = 60, max_hamming: int = 3
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance, with a banded prefilter
    (see :func:`banded_hamming_pairs` for the banding contract)."""
    sh = simhash_table(df, text_col, id_col, bits).persist()
    out = banded_hamming_pairs(sh, id_col, "simhash", bits, max_hamming)
    return _with_cached_deps(out, [sh])


#: Driver-tier bound for :func:`connected_components`: when the pair
#: frame fits this many rows, the min-label fixpoint runs as ONE
#: bounded collect (:func:`relational.bounded_collect`, which holds the
#: tier policy) plus a driver-side union-find, instead of k sequential
#: join+agg+checkpoint Spark jobs (each ~0.5-0.8 s of flat
#: scheduling/AQE overhead at ANY data size, worse on a real cluster).
#: 262144 edges ≈ a few MB collected.
_CC_DRIVER_MAX_EDGES = 262144


def _cc_driver_labels(edge_rows: list) -> list:
    """Driver-side twin of the distributed min-label fixpoint over a
    fully collected (src, dst) edge list: union-find with a min-member
    resolve, so each node's label is exactly the MIN id reachable from
    it — the same unique fixpoint min-label propagation converges to
    (label choice is a total order over the component's members, so no
    batching/ordering of the edges can change it). Returns (node,
    cluster) rows sorted by node."""
    parent: dict = {}

    def find(x):
        r = x
        while parent.get(r, r) != r:
            r = parent[r]
        while parent.get(x, x) != x:
            parent[x], x = r, parent[x]
        return r

    nodes = set()
    for a, b in edge_rows:
        nodes.add(a)
        nodes.add(b)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[rb] = ra
    best: dict = {}
    for n in nodes:
        r = find(n)
        m = best.get(r)
        if m is None or n < m:
            best[r] = n
    return [(n, best[find(n)]) for n in sorted(nodes)]


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 25,
    reliable_checkpoint: bool = False,
) -> DataFrame:
    """Cluster near-dup pairs into components: (id, cluster) where
    cluster is the MIN id reachable from the node — the canonical
    representative. Completes the dedup pipeline: pair generation
    (jaccard/minhash/simhash/embedding) → clustering → keep-one-per-
    cluster.

    Algorithm: min-label propagation to fixpoint (the dataflow form of
    connected components). Per iteration: one join (labels to
    neighbors) + one min-aggregate — two shuffles — and a checkpoint
    to truncate lineage, which is what keeps an iterative Spark job
    planner-stable at scale. Convergence detection is free: the old
    label rides through the same min-aggregate (each node contributes
    its own label exactly once, so ``max(old)`` recovers it), and the
    per-iteration check is a ``LIMIT 1`` scan of the just-checkpointed
    frame — no extra join or full count job. Converges in O(component
    diameter) iterations; near-dup clusters are shallow (diameter ≲ 10
    even at 100 TB), and ``max_iter`` bounds the loop; hitting the
    bound without convergence emits a warning (the labels are then a
    valid under-approximation: every cluster id is reachable, but deep
    chains may not have collapsed to one representative yet).

    ``reliable_checkpoint=True`` uses ``df.checkpoint()`` (requires
    ``sparkContext.setCheckpointDir``) so a 100-iteration job on a real
    cluster survives executor loss; the default ``localCheckpoint``
    trades that fault-tolerance for zero-config speed.
    """
    import warnings

    # Driver tier (r17): when the projected pair list fits, the label
    # fixpoint is a driver union-find — identical labels (min
    # reachable id is a unique fixpoint; the driver computes the EXACT
    # closure, which is what the converged distributed loop returns
    # too), zero iterative Spark jobs.
    probe = bounded_collect(
        pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst")),
        _CC_DRIVER_MAX_EDGES,
    )
    if probe is not None:
        from pyspark.sql.types import StructField, StructType

        dtype = pairs.schema[id_a].dataType
        labels = _arrow_local_frame(
            pairs.sparkSession,
            _cc_driver_labels([(r[0], r[1]) for r in probe]),
            StructType(
                [
                    StructField("node", dtype, True),
                    StructField("cluster", dtype, True),
                ]
            ),
        )
        return _with_cached_deps(labels, [])

    def _ckpt(df: DataFrame) -> DataFrame:
        return df.checkpoint() if reliable_checkpoint else df.localCheckpoint()

    fwd = pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
    rev = pairs.select(F.col(id_b).alias("src"), F.col(id_a).alias("dst"))
    edges = fwd.union(rev).distinct().persist()

    labels = _ckpt(
        edges.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("cluster", F.col("node"))
    )
    ckpts: list[DataFrame] = [labels]
    converged = False
    for _ in range(max_iter):
        neighbor_labels = edges.join(
            labels.select(F.col("node").alias("dst"), F.col("cluster")), "dst"
        ).select(
            F.col("src").alias("node"),
            "cluster",
            F.lit(None).cast(labels.schema["cluster"].dataType).alias("old"),
        )
        own = labels.select("node", "cluster", F.col("cluster").alias("old"))
        new_labels = _ckpt(
            own.union(neighbor_labels)
            .groupBy("node")
            .agg(
                F.min("cluster").alias("cluster"),
                (F.min("cluster") != F.max("old")).alias("__changed"),
            )
        )
        changed = not new_labels.filter(F.col("__changed")).isEmpty()
        ckpts.append(new_labels)
        labels = new_labels.drop("__changed")
        if not changed:
            converged = True
            break
    edges.unpersist()
    # every checkpoint except the final one has served its purpose —
    # release its block-manager storage now (DataFrame.unpersist is a
    # no-op on checkpointed frames, hence the handle), and hand the
    # final one's release handle to the caller via unpersist_deps
    for old in ckpts[:-1]:
        _CheckpointHandle(old).unpersist()
    if not converged:
        warnings.warn(
            f"connected_components hit max_iter={max_iter} before the label "
            "fixpoint; deep chains may not be fully collapsed — raise max_iter",
            RuntimeWarning,
            stacklevel=2,
        )
    return _with_cached_deps(
        labels.select(F.col("node"), F.col("cluster")),
        [_CheckpointHandle(ckpts[-1])],
    )


def dedup_survivors(
    df: DataFrame, pairs: DataFrame, id_col: str, id_a: str = "id_a", id_b: str = "id_b"
) -> DataFrame:
    """End-to-end near-dedup: keep the min-id representative of every
    near-dup cluster plus all unpaired rows. Plain ``left_anti`` against
    the non-representative members — web-scale corpora routinely dedup
    away 30-60% of rows, so the losers frame is NOT broadcastable in
    general; AQE picks a broadcast exchange at runtime whenever it does
    fit, and a shuffled anti-join otherwise."""
    components = connected_components(pairs, id_a, id_b)
    losers = components.filter(F.col("node") != F.col("cluster")).select(
        F.col("node").alias(id_col)
    )
    # carry BOTH the pair operator's persisted intermediates (shingle
    # sets / signatures) AND the components' checkpoint handle onto
    # the returned frame, or the caller's unpersist_deps misses one
    # and the cache leaks for the session — the trap carry_deps
    # documents
    merged = list(getattr(pairs, "_cached_deps", [])) + list(
        getattr(components, "_cached_deps", [])
    )
    return _with_cached_deps(df.join(losers, id_col, "left_anti"), merged)


def _salted_h60(key_col: str, salt: str) -> Column:
    """``h60(salt‖':'‖key)`` — THE salted digest behind the
    deterministic sampling family (hash_sample / stratified /
    hash_split / weighted_sample). One definition on purpose: the
    digest is the operators' reproducibility contract and the SQL
    oracles regenerate it verbatim, so a tweak (separator, cast,
    salt shape) must change every site or none. (mixture_sample and
    global_shuffle use the separate ``concat_ws('|', seed, key)``
    family, likewise mirrored in their oracles.)"""
    return h60(F.concat(F.lit(salt + ":"), F.col(key_col).cast("string")))


def weighted_sample(
    df: DataFrame,
    key_col: str,
    weight_col: str,
    k: int,
    salt: str = "wsample",
) -> DataFrame:
    """Deterministic weighted sampling without replacement
    (Efraimidis–Spirakis A-ES): each row draws u = h60(salt‖key)
    scaled into (0, 1) and ranks by ln(u)/weight descending — the
    top-k of that key IS a weight-proportional sample. Same
    reproducibility contract as :func:`hash_sample` (pure function of
    the key — stable across runs, partitionings, and engines), which
    a `df.sample`-style RNG cannot give, PLUS weight-proportional
    inclusion (sample by quality score, token count, domain priority).

    One TakeOrderedAndProject — no shuffle, no sort of the corpus.

    Ranking uses the FULL-PRECISION key (rounding it would collapse
    the ranking whenever |ln(u)/w| is small — for w ≥ 10⁵ a 6-decimal
    key degenerates the "sample" into lowest-id-first, silently and
    identically in both engines). The emitted ``ws_key`` column is
    rounded for display/hash only. Cross-engine determinism of the
    SELECTION rests on both libms computing ln within 1 ulp: a
    boundary flip needs two keys within ~1e-15 relative of each other
    at exactly rank k, vanishing for continuous keys; the id
    tie-break covers exact duplicates.
    """
    u = (F.pmod(_salted_h60(key_col, salt), F.lit(1_000_003)) + 1) / F.lit(
        1_000_004.0
    )
    es_key = F.log(u) / F.col(weight_col)
    return (
        df.filter(F.col(weight_col) > 0)
        .withColumn("__ws_key_full", es_key)
        .orderBy(F.col("__ws_key_full").desc(), F.col(key_col).asc())
        .limit(k)
        .withColumn("ws_key", F.round("__ws_key_full", 6))
        .drop("__ws_key_full")
    )


def hash_sample(df: DataFrame, key_col: str, fraction: float, salt: str = "sample") -> DataFrame:
    """Deterministic hash sampling: keep rows where
    h60(salt‖key) mod 10000 < fraction·10000.

    Unlike ``df.sample`` (seeded per-partition RNG — resample on every
    repartition), the kept set is a pure function of the key: stable
    across runs, cluster layouts, and engines (the SQL oracle
    reproduces it exactly) — the reproducibility contract a
    training-data pipeline needs.
    """
    bucket = F.pmod(_salted_h60(key_col, salt), F.lit(10_000))
    return df.filter(bucket < int(round(fraction * 10_000)))


def stratified_hash_sample(
    df: DataFrame,
    key_col: str,
    group_col: str,
    fractions: dict[str, float],
    default_fraction: float = 0.0,
    salt: str = "strat",
) -> DataFrame:
    """Per-group deterministic sampling — the source-mixing knob of a
    training-data pipeline (upsample curated sources, downsample web
    crawl): group g keeps ``fractions[g]`` of its rows, chosen by the
    same pure-function-of-key rule as :func:`hash_sample` (stable
    across runs, partitionings, and engines; the SQL oracle replays it
    exactly). Groups absent from ``fractions`` keep
    ``default_fraction``. One narrow filter — the threshold CASE and
    the digest both live in the scan projection."""
    bucket = F.pmod(_salted_h60(key_col, salt), F.lit(10_000))
    thresh: Column = F.lit(int(round(default_fraction * 10_000)))
    for group, frac in sorted(fractions.items()):
        thresh = F.when(F.col(group_col) == group, int(round(frac * 10_000))).otherwise(thresh)
    return df.filter(bucket < thresh)


def hash_split(df: DataFrame, key_col: str, val_fraction: float = 0.1, salt: str = "split") -> DataFrame:
    """Deterministic train/validation assignment: adds ``split`` ∈
    {'train','val'} as a pure function of the key (same stability
    contract as :func:`hash_sample`)."""
    bucket = F.pmod(_salted_h60(key_col, salt), F.lit(10_000))
    return df.withColumn(
        "split",
        F.when(bucket < int(round(val_fraction * 10_000)), F.lit("val")).otherwise(F.lit("train")),
    )


def sentence_dedup(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_occurrences: int = 1,
    sep: str = ". ",
) -> DataFrame:
    """Corpus-wide sentence-level dedup: a sentence keeps only its
    first ``max_occurrences`` occurrences in (doc, position) order;
    documents are reassembled from surviving sentences — the
    sentence/paragraph dedup stage of pretraining pipelines (repeated
    headers, licenses, and syndicated passages vanish corpus-wide
    while their first host keeps them).

    Returns (id, text, n_sentences, n_dropped) per input document —
    ``text`` is the deduplicated rejoin (possibly empty when every
    sentence appeared earlier in the corpus).

    Plan shape at 100 TB: the default keep-first (``max_occurrences=1``)
    finds each sentence's first occurrence with ``min(struct(doc, pos))``
    — a map-side-combinable aggregate that tolerates million-copy hot
    sentences (no per-instance ranking) — then one equi-join back and a
    per-doc ordered reassembly. ``max_occurrences > 1`` needs a real
    per-sentence ranking and falls back to a row_number window
    (documented: a pathological hot sentence then serializes its own
    partition; the agg path is why k=1 is the default).
    """
    from pyspark.sql.window import Window

    # \Q...\E quotes the separator so the split is LITERAL (". " would
    # otherwise be a regex; the DuckDB oracle's string_split is literal).
    # NULL text coalesces to '' so the document still comes back (as one
    # empty "sentence" subject to dedup like any other) instead of
    # silently vanishing from the per-document output.
    sents = docs.select(
        F.col(id_col).alias("__did"),
        F.posexplode(
            F.split(F.coalesce(F.col(text_col), F.lit("")), "\\Q" + sep + "\\E", -1)
        ).alias("pos", "sent"),
    )
    if max_occurrences == 1:
        # persist: this path reads the frame twice (the min-struct
        # aggregate AND the join back) — without the cache the
        # corpus-wide split+posexplode executes once per consumption
        # (the duplicate_spans/boilerplate_stats lesson, ~1.8x
        # measured there). The window path below reads it once.
        sents = sents.persist()
        firsts = sents.groupBy("sent").agg(
            F.min(F.struct("__did", "pos")).alias("__first")
        )
        flagged = sents.join(firsts, "sent").withColumn(
            "__keep", F.struct("__did", "pos") == F.col("__first")
        )
    else:
        w = Window.partitionBy("sent").orderBy("__did", "pos")
        flagged = sents.withColumn(
            "__keep", F.row_number().over(w) <= max_occurrences
        )
    return _with_cached_deps(
        flagged.groupBy(F.col("__did").alias(id_col))
        .agg(
            F.count("*").alias("n_sentences"),
            (F.count("*") - F.sum(F.col("__keep").cast("bigint"))).alias("n_dropped"),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(F.col("__keep"), F.struct("pos", "sent"))
                        )
                    ),
                    lambda s: s["sent"],
                ),
                sep,
            ).alias("text"),
        )
        .select(id_col, "text", "n_sentences", "n_dropped"),
        [sents],
    )


def semdedup(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 8,
    n_iter: int = 3,
    threshold: float = 0.3,
) -> DataFrame:
    """SemDeDup-style semantic dedup (Abbas et al. 2023): cluster the
    embedding space with deterministic k-means, then WITHIN each
    cluster mark every vector that has a higher-similarity twin with a
    smaller id. Cross-cluster pairs are never compared — the cluster
    count bounds the pair join exactly like LSH bands bound MinHash.

    Returns (id, cell, n_close, kept): ``n_close`` counts same-cell
    vectors with smaller id and cosine >= ``threshold``; ``kept`` is
    the survivor flag (no smaller-id twin). Deterministic end to end:
    the k-means uses the integer-grid centroid update
    (`clustering.kmeans_fit(update_grid=...)`) so cells are
    bit-identical across engines, and cosine is the strict-fold
    expression both engines evaluate identically — which is why this
    whole pipeline (cluster → pair → threshold) carries a value-level
    SQL oracle.

    Plan shape at 100 TB: the per-iteration k-means cost is one Arrow
    assign pass + one k×dim-row aggregate; the pair stage shuffles on
    cell once and each cell's pair count is (|cell| choose 2) — size
    cells via k ≈ √N (the IVF convention) and no task goes quadratic
    in the corpus. No |corpus|² anywhere.
    """
    from batch_process_dpla_index_spark.functions.vectors import cosine
    from batch_process_dpla_index_spark.operators.clustering import (
        kmeans_assign,
        kmeans_fit,
    )

    # tol=0: run exactly n_iter iterations so the fixed-depth SQL
    # oracle replay can never diverge via an unmodeled early stop
    cents = kmeans_fit(
        emb, id_col, vec_col, k=k, n_iter=n_iter, init="hash",
        update_grid=10**6, tol=0.0,
    )
    av = (
        # keep_vec (r18): no corpus-wide join back on id to re-attach
        # the vector the assign pass already had in hand
        kmeans_assign(emb, cents, id_col, vec_col, keep_vec=True)
        .select("id", "cell", "vec")
        .persist()
    )
    close = (
        av.alias("a")
        .join(
            av.alias("b"),
            (F.col("a.cell") == F.col("b.cell")) & (F.col("b.id") < F.col("a.id")),
        )
        .withColumn("__cos", cosine(F.col("a.vec"), F.col("b.vec")))
        .filter(F.col("__cos") >= F.lit(float(threshold)))
        .groupBy(F.col("a.id").alias("id"))
        .agg(F.count("*").alias("n_close"))
    )
    result = (
        av.select("id", "cell")
        .join(close, "id", "left")
        .select(
            "id",
            "cell",
            F.coalesce(F.col("n_close"), F.lit(0)).cast("bigint").alias("n_close"),
            (F.coalesce(F.col("n_close"), F.lit(0)) == 0).alias("kept"),
        )
    )
    return _with_cached_deps(result, [av])


def semantic_dedup(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 8,
    n_iter: int = 3,
    threshold: float = 0.3,
    two_level_threshold: int | None = None,
) -> DataFrame:
    """Cluster-level semantic dedup — the composition :func:`semdedup`
    stops one step short of: group near-identical embeddings into
    TRANSITIVE within-cell components and keep ONE representative per
    group, the member closest to its cell centroid (the prototype).
    `semdedup`'s per-vector "has a smaller-id twin" flag keeps a local
    minimum per neighborhood; this keeps exactly one per semantic
    GROUP — a chain a~b~c retains only one vector here even when a and
    c are not directly similar, which is the corpus-curation contract
    (SemDeDup, Abbas et al. 2023) a training-data pipeline actually
    enforces.

    Pipeline (all pieces individually driver-proven): deterministic
    k-means cells (`clustering.kmeans_fit`, integer-grid update →
    bit-identical centroids cross-engine) → within-cell cosine pairs
    at ``threshold`` (cells bound the join; cross-cell pairs never
    compared) → per-CELL union-find over the pair graph → per-group
    representative by squared centroid distance.

    The components are cell-local BY CONSTRUCTION (no edge crosses a
    cell), so the global iterative :func:`connected_components` (one
    join + checkpoint per round) would pay driver-round latency for
    structure that is already partitioned: instead each cell's pair
    list collapses in one Arrow ``applyInPandas`` union-find — a
    single cell-keyed shuffle, zero iterations, and with the
    constant-population sizing (k ≈ N/64, see the plan-shape note
    below) each task's work is bounded by its cell's pair count
    (measured 5.6 s iterative → sub-second local on the sf0.01
    fixture). Output is exact integer min-id labels, so the closure
    is bit-identical to the oracle's recursive-CTE replay.

    The centroid distance used for the ranking is recomputed as a
    STRICT LEFT FOLD over (x−c)² — the `functions.vectors.dot`
    discipline — so it is bit-identical to the oracle's list_reduce
    replay and the (d2, id) ranking can never flip cross-engine; exact
    d2 ties fall to the id tie-break.

    Returns one row per vector: (id, cell, group_id, group_size, kept,
    d2_centroid) where ``group_id`` is the component's min id (own id
    for singletons) and ``kept`` marks the representative.

    Plan shape at 100 TB: one Arrow assign pass, one broadcast join to
    the k-row centroid frame, one cell-keyed pair shuffle bounded by
    (|cell| choose 2), one group-keyed window. Size k for CONSTANT
    cell population (k ≈ N/64): pair work is then linear in N, where
    the IVF-search convention k ≈ √N would leave it N^1.5. The assign
    pass is O(N·k·dim) GEMM per iteration — at k beyond ~10⁵ route it
    through the two-level coarse quantizer
    (`clustering.kmeans_fit_two_level`: √k coarse cells, then all fine
    codebooks trained simultaneously within them — assign drops to
    O(N·√k·dim), probe receipt in SCALE.md round-11); the within-cell
    dedup semantics are unchanged. No |corpus|² stage anywhere.

    That routing is automatic: ``k >= two_level_threshold`` switches
    BOTH the training and the assign pass to the two-level path. With
    the constant-population sizing (k = N/64) the switch engages
    around N ≈ 65k·threshold rows; every verification SF resolves to
    k = 32 ≪ threshold, so the oracle's static flat geometry replays
    unchanged. Above the threshold the cell BOUNDARIES are the
    two-level approximation's (a boundary row may land one cell over
    vs flat Lloyd's — the IVF probe-width tradeoff), which is within
    this operator's contract: cells exist only to bound the pair
    stage, and representative ranking stays exact within each group.
    """
    from batch_process_dpla_index_spark.functions.vectors import cosine
    from batch_process_dpla_index_spark.operators.clustering import (
        kmeans_assign,
        kmeans_fit,
    )

    spark = emb.sparkSession
    if two_level_threshold is None:
        from batch_process_dpla_index_spark.operators.clustering import (
            TWO_LEVEL_ROUTING_THRESHOLD as two_level_threshold,
        )
    if k >= two_level_threshold:
        # large-k routing: O(N·√k·dim) per training iteration and per
        # assign pass (flat is O(N·k·dim) — the documented wall around
        # k ~ 10⁵, already 40× slower at the k=3125 SCALE.md probe).
        # dist2 comes from the assign pass's BLAS form; the strict-fold
        # recompute below exists for oracle bit-parity, which only the
        # flat path (every verification SF) needs.
        from batch_process_dpla_index_spark.operators.clustering import (
            kmeans_assign_two_level,
            kmeans_fit_two_level,
        )

        coarse, fine, k_f = kmeans_fit_two_level(
            emb, id_col, vec_col, k=k, n_iter=n_iter, init="hash",
            update_grid=10**6, tol=0.0,
        )
        av = (
            kmeans_assign_two_level(
                emb, coarse, fine, k_f, id_col, vec_col, keep_vec=True
            )
            .select("id", "cell", "vec", F.col("dist2").alias("d2"))
            .persist()
        )
    else:
        # tol=0: exactly n_iter iterations, mirroring the fixed-depth
        # oracle replay (the semdedup/kmeans_cells convention)
        cents = kmeans_fit(
            emb, id_col, vec_col, k=k, n_iter=n_iter, init="hash",
            update_grid=10**6, tol=0.0,
        )
        # Arrow-backed literal frame (relational._arrow_local_frame →
        # JVM LocalRelation): a list-of-tuples frame would plan as a
        # Python-pickled RDD scan and pay a Python-worker round trip on
        # every execution (the cost class measured at ~3.5 s on the
        # overlap-index refresh)
        cent_df = _arrow_local_frame(
            spark,
            [(i, [float(x) for x in c]) for i, c in enumerate(cents)],
            "cell int, __cent array<double>",
        )
        # strict-fold Σ(x−c)²: same association as the oracle's
        # list_reduce
        d2_fold = F.aggregate(
            F.zip_with(
                F.col("vec"),
                F.col("__cent"),
                lambda x, c: (x.cast("double") - c) * (x.cast("double") - c),
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        av = (
            # keep_vec (r18): the assign pass carries the vector, so
            # no corpus-wide join back on id just to re-attach it
            kmeans_assign(emb, cents, id_col, vec_col, keep_vec=True)
            .join(F.broadcast(cent_df), "cell")
            .select("id", "cell", "vec", d2_fold.alias("d2"))
            .persist()
        )
    pairs = (
        av.alias("a")
        .join(
            av.alias("b"),
            (F.col("a.cell") == F.col("b.cell")) & (F.col("a.id") < F.col("b.id")),
        )
        .filter(cosine(F.col("a.vec"), F.col("b.vec")) >= F.lit(float(threshold)))
        .select(
            F.col("a.cell").alias("cell"),
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
        )
    )

    def _cell_components(pdf):
        import pandas as pd

        # path-halving union-find over this cell's pair list; label =
        # min member id per component (exact integers, no floats)
        parent: dict = {}

        def find(x):
            parent.setdefault(x, x)
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in zip(pdf["id_a"], pdf["id_b"]):
            ra, rb = find(int(a)), find(int(b))
            if ra != rb:
                parent[ra] = rb
        label: dict = {}
        for node in parent:
            r = find(node)
            label[r] = min(label.get(r, node), node)
        return pd.DataFrame(
            {
                "node": list(parent.keys()),
                "cluster": [label[find(n)] for n in parent],
            }
        )

    cc = pairs.groupBy("cell").applyInPandas(
        _cell_components, "node bigint, cluster bigint"
    )
    g = (
        av.join(cc.withColumnRenamed("node", "id"), "id", "left")
        .select(
            "id",
            "cell",
            "d2",
            F.coalesce(F.col("cluster"), F.col("id")).alias("group_id"),
        )
    )
    from pyspark.sql import Window

    wg = Window.partitionBy("group_id")
    rn = F.row_number().over(
        wg.orderBy(F.col("d2").asc(), F.col("id").asc())
    )
    result = g.select(
        "id",
        "cell",
        "group_id",
        F.count("*").over(wg).cast("bigint").alias("group_size"),
        (rn == 1).alias("kept"),
        F.round("d2", 6).alias("d2_centroid"),
    )
    return _with_cached_deps(result, [av])


def source_dup_profile(
    docs: DataFrame,
    sem_dropped: DataFrame | None,
    id_col: str = "doc_id",
    source_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """(source, n_docs, n_exact_dup, exact_dup_rate, n_sem_dup,
    sem_dup_rate): the per-source duplication datasheet — THE one
    implementation behind both the `dataset_dup_profile` registry
    query and the dataset card's Duplication-by-source section, so
    the card can never drift from its oracle-verified twin.

    Exact side: a doc is a dup if a smaller id already carries its
    text (any source). The window is keyed by md5(text), NOT the raw
    text — value-identical absent collisions (the same equivalence
    :func:`exact_dedup`'s verified digest grouping relies on), but
    the shuffle carries 32-char digests instead of full document
    bodies. ``sem_dropped`` is an (id_col,)-keyed frame of
    semantically-duplicated doc ids (e.g. `semantic_dedup`'s non-kept
    members); ``None`` reports zero semantic dups. Rates are emitted
    FULL-PRECISION — consumers round to their own convention."""
    from pyspark.sql import Window

    w = Window.partitionBy(F.md5(F.col(text_col)))
    exact = docs.select(
        id_col,
        source_col,
        (F.col(id_col) > F.min(id_col).over(w)).cast("int").alias(
            "is_exact"
        ),
    )
    if sem_dropped is not None:
        exact = exact.join(
            sem_dropped.select(
                F.col(id_col), F.lit(True).alias("__is_sem")
            ),
            id_col,
            "left",
        )
    else:
        exact = exact.withColumn("__is_sem", F.lit(False))
    sem_flag = F.coalesce(F.col("__is_sem"), F.lit(False))
    return exact.groupBy(F.col(source_col).alias("source")).agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("is_exact").cast("bigint").alias("n_exact_dup"),
        F.avg(F.col("is_exact").cast("double")).alias("exact_dup_rate"),
        F.sum(sem_flag.cast("long")).cast("bigint").alias("n_sem_dup"),
        F.avg(sem_flag.cast("double")).alias("sem_dup_rate"),
    )


def source_signatures(
    docs: DataFrame,
    text_col: str = "text",
    source_col: str = "source",
    n: int = 3,
    num_perm: int = 64,
) -> DataFrame:
    """Per-source union-MinHash signatures: sig(source)[p] = the
    per-perm MIN over every shingle any of the source's documents
    contains. All-integer arithmetic (same h60 base and affine params
    as :func:`minhash_lsh_pairs`) — bit-exact across engines.

    Per-DOC signatures come from the Arrow kernels
    (:func:`shingle_sets` → :func:`with_minhash_signature`), then one
    per-source min aggregate over the signature elements: min over
    per-doc mins == min over the source's flat shingle stream (min is
    associative and idempotent). Docs with an empty shingle set are
    filtered before the aggregate; they contribute no shingle.

    Returns (source, __p0..__p{num_perm-1}) — 64 ints/source by
    default, small enough to persist in a snapshot log and merge
    against ingest deltas (:func:`merge_source_signatures`).
    """
    base = docs.where(F.col(source_col).isNotNull()).select(
        F.col(source_col).alias("source"), F.col(text_col).alias("__text")
    )
    sigs = with_minhash_signature(
        shingle_sets(base, "__text", "source", n), num_perm
    )
    return (
        sigs.where(F.size("shingles") > 0)
        .groupBy("source")
        .agg(
            *[
                F.min(F.element_at("sig", i + 1)).alias(f"__p{i}")
                for i in range(num_perm)
            ]
        )
    )


def merge_source_signatures(
    a: DataFrame, b: DataFrame, num_perm: int = 64
) -> DataFrame:
    """Merge two per-source signature frames by the union-MinHash
    identity sig(A∪B)[p] = min(sig(A)[p], sig(B)[p]) — a full outer
    join on source + per-perm ``least`` (Spark's least SKIPS nulls, so
    a source present on one side only keeps its own mins verbatim).
    Both sides are |sources|-row frames; the join is trivially small
    at any corpus scale. Exact, not approximate: merged signatures are
    BIT-IDENTICAL to recomputing :func:`source_signatures` over the
    concatenated corpora (pinned by test_operators' merge-identity
    test)."""
    left = a.select(
        "source", *[F.col(f"__p{i}").alias(f"__al{i}") for i in range(num_perm)]
    )
    right = b.select(
        "source", *[F.col(f"__p{i}").alias(f"__br{i}") for i in range(num_perm)]
    )
    return left.join(right, "source", "full_outer").select(
        "source",
        *[
            F.least(F.col(f"__al{i}"), F.col(f"__br{i}")).alias(f"__p{i}")
            for i in range(num_perm)
        ],
    )


def spark_round6(x: float) -> float:
    """Driver-side replay of Spark's ``round(double, 6)``: HALF_UP over
    the shortest round-trip decimal representation (BigDecimal.valueOf
    semantics; Python ``repr`` produces the same shortest string).
    Identity whenever x already has <= 6 decimal digits — e.g. every
    k/num_perm with num_perm a power of two — but exact for any
    num_perm, so the driver overlap tier never drifts from the
    distributed expression."""
    from decimal import ROUND_HALF_UP, Decimal

    return float(
        Decimal(repr(x)).quantize(Decimal("0.000001"), ROUND_HALF_UP)
    )


def signature_pairs(
    rows: list, num_perm: int, est_threshold: float = 0.0
) -> list[tuple[str, str, int, float]]:
    """Driver pair screen over collected signature rows ``[(source,
    sig)]``: (source_a, source_b, n_equal, est_jaccard) for every pair
    i < j in row order whose est_jaccard >= ``est_threshold`` (the
    default keeps every pair), est_jaccard = round(n_equal/num_perm, 6)
    as Spark rounds it. The driver pair-count kernel of
    :func:`overlap_from_signatures`.

    Blockwise numpy equality counts (256 rows against every later row,
    one comparison per perm) replace an O(|rows|²·num_perm)
    Python loop. n_equal takes only num_perm + 1 values, so the
    estimate is a lookup in a :func:`spark_round6` table (exact, no
    per-pair Decimal), and the threshold becomes a minimum n_equal."""
    import numpy as np

    names = [r[0] for r in rows]
    # perm-major, so each perm's comparison reads one contiguous row
    by_perm = np.asarray([r[1] for r in rows], dtype=np.int64).reshape(
        len(rows), num_perm
    ).T.copy()
    est_of = [spark_round6(k / float(num_perm)) for k in range(num_perm + 1)]
    # est_of is non-decreasing in k: est >= t  <=>  n_equal >= k_min
    k_min = int(np.searchsorted(est_of, est_threshold, side="left"))
    count_type = np.min_scalar_type(num_perm)  # uint8 up to 255 perms
    block = 256
    out = []
    for s in range(0, len(rows), block):
        a, b = by_perm[:, s : s + block], by_perm[:, s:]
        n_eq = np.zeros((a.shape[1], b.shape[1]), dtype=count_type)
        for p in range(num_perm):
            n_eq += a[p, :, None] == b[p]
        later = np.arange(b.shape[1])[None, :] > np.arange(a.shape[1])[:, None]
        ii, jj = np.nonzero(later & (n_eq >= k_min))  # row-major: (i, j) order
        for i, j, k in zip(ii.tolist(), jj.tolist(), n_eq[ii, jj].tolist()):
            out.append((names[s + i], names[s + j], k, est_of[k]))
    return out


#: Driver-tier bound for :func:`overlap_from_signatures`, in sources.
#: The driver screen emits up to |sources|²/2 Python tuples, so the
#: bound is set by CPU, not memory: the largest power of two whose
#: emit-all :func:`signature_pairs` run (64 perms, every pair kept)
#: stays within 5 s. Timed on the driver alone, one fresh process per
#: run, 4-vCPU host, loadavg ~1: 2,048 sources 0.9 s (2.1M pairs),
#: 4,096 sources 4.3-5.0 s (8.4M pairs); 8,192 would be ~4× that.
#: Turning the emitted pairs into the local frame costs more again: the
#: whole call took 3.6 s at 2,048 sources and 12.2 s at 4,096.
_SIG_DRIVER_MAX_SOURCES = 4096


def overlap_from_signatures(
    sig: DataFrame, num_perm: int = 64, est_threshold: float = 0.0
) -> DataFrame:
    """Pair table from a signature frame (source, __p0..__p{num_perm-1})
    → (source_a, source_b, n_equal, est_jaccard) for every unordered
    source pair whose est_jaccard = round(matching perms / num_perm, 6)
    is >= ``est_threshold`` (the default 0 keeps every pair). The one
    pair-screen entry point: the source-overlap operators keep every
    pair, ``curation.contamination_screened`` screens at its threshold.

    Driver tier (r18): the signature frame is |sources| × (num_perm+1)
    ints, so when it fits :data:`_SIG_DRIVER_MAX_SOURCES` it is
    collected ONCE and the pair counts are integer equality counts on
    the driver (:func:`signature_pairs`; bit-exact, and the estimate
    replays Spark's round via :func:`spark_round6`, so the threshold
    is the same rounded-value rule as the distributed ``where``). This
    also halves the upstream work: the distributed self-join's two
    legs each re-run the whole signature pipeline (the legs sit behind
    different exchange types, so exchange reuse never fires — and
    persisting the 65-column frame measured SLOWER than the recompute
    in r17)."""
    perms = [f"__p{i}" for i in range(num_perm)]
    probe = bounded_collect(
        sig.select("source", *perms), _SIG_DRIVER_MAX_SOURCES
    )
    if probe is not None:
        rows = sorted((r[0], tuple(r[1:])) for r in probe)
        return _arrow_local_frame(
            sig.sparkSession,
            signature_pairs(rows, num_perm, est_threshold),
            "source_a string, source_b string, n_equal bigint, "
            "est_jaccard double",
        )
    left = sig.select(
        F.col("source").alias("source_a"),
        *[F.col(f"__p{i}").alias(f"__l{i}") for i in range(num_perm)],
    )
    right = sig.select(
        F.col("source").alias("source_b"),
        *[F.col(f"__p{i}").alias(f"__r{i}") for i in range(num_perm)],
    )
    pairs = left.join(
        F.broadcast(right), F.col("source_a") < F.col("source_b")
    )
    n_eq = F.lit(0)
    for i in range(num_perm):
        n_eq = n_eq + (F.col(f"__l{i}") == F.col(f"__r{i}")).cast("int")
    out = pairs.select(
        "source_a",
        "source_b",
        n_eq.cast("bigint").alias("n_equal"),
        F.round(
            n_eq.cast("double") / F.lit(float(num_perm)), 6
        ).alias("est_jaccard"),
    )
    if est_threshold > 0:
        out = out.where(F.col("est_jaccard") >= est_threshold)
    return out

def source_minhash_overlap(
    docs: DataFrame,
    text_col: str = "text",
    source_col: str = "source",
    n: int = 3,
    num_perm: int = 64,
) -> DataFrame:
    """Estimated Jaccard overlap between SOURCES (datasets) via
    per-source union-MinHash sketches — the dataset-level dedup
    diagnostic run before mixing corpora: "how much of source B is
    already in source A?" at sketch cost, never a cross-source pair
    scan. Composition of :func:`source_signatures` (one map + one
    aggregate) and :func:`overlap_from_signatures` (tiny broadcast
    self-join) — the factoring exists so the signature half can be
    persisted and merged incrementally
    (:func:`source_overlap_incremental`).

    Returns (source_a, source_b, n_equal, est_jaccard) for every
    unordered source pair, est_jaccard = matching perms / num_perm.
    """
    sig = source_signatures(docs, text_col, source_col, n, num_perm)
    return overlap_from_signatures(sig, num_perm)


def source_overlap_incremental(
    delta_docs: DataFrame,
    corpus_signatures: DataFrame,
    text_col: str = "text",
    source_col: str = "source",
    n: int = 3,
    num_perm: int = 64,
) -> DataFrame:
    """The mixing diagnostic on INGEST DELTAS without re-scanning the
    corpus: compute :func:`source_signatures` over the incoming batch
    only, merge them onto the persisted corpus signatures by the
    union-MinHash identity (min per perm), and run the |sources|²
    overlap join on the merged frame. Exact — the output is
    bit-identical to :func:`source_minhash_overlap` over
    corpus ∪ delta (the merge-identity the incremental_dedup pattern
    relies on for LSH signatures, here at source granularity).

    ``corpus_signatures`` is the (source, __p0..__p{num_perm-1}) frame
    a previous :func:`source_signatures` run persisted (64 ints per
    source — snapshot-log-sized metadata, not data). The scan cost of
    a refresh is therefore proportional to the DELTA, which is what
    makes the diagnostic runnable on every ingest at 100 TB corpus
    scale: in the deployed form the corpus side is a TABLE READ of
    |sources| rows, so the overlap join's two unpersisted legs re-read
    that table, never the corpus.

    Execution note (the registry form, where ``corpus_signatures`` is
    live lineage over a fixture slice): the downstream self-join
    evaluates the merged frame twice, so the whole signature pipeline
    runs once per leg. Measured at sf0.1 that parallel recompute is
    the WALL-CLOCK winner — 4×-warm 2.5 s vs 3.4 s persisting the
    merged frame (cache materialization serializes the legs) and
    4.9 s for coalesce(1)+persist (collapses the Arrow stage to one
    task). CPU work is ~2× the single pass; callers whose upstream is
    genuinely expensive (not a bounded fixture slice) should persist
    ``corpus_signatures`` themselves or pass a table-backed frame —
    which is the deployed contract above.

    Returns (source_a, source_b, n_equal, est_jaccard) over the merged
    source set.
    """
    delta_sig = source_signatures(delta_docs, text_col, source_col, n, num_perm)
    merged = merge_source_signatures(corpus_signatures, delta_sig, num_perm)
    return overlap_from_signatures(merged, num_perm)
