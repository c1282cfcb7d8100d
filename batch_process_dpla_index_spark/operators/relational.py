"""Thin relational helpers over the star schema.

The reference has no joins at all (SURVEY.md §2.4) — these are the
extension surface: broadcast/sort-merge equi-joins, semi/anti, top-k.
They are deliberately thin: the value is the enforced *physical* shape
(broadcast small dims, single-shuffle top-k), not new semantics.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _arrow_local_frame(spark, tuples, schema) -> DataFrame:
    """Tiny driver-side frame via the ARROW createDataFrame path —
    THE way to build a literal/metadata frame in this repo.

    A list-of-tuples ``createDataFrame`` plans as a Python-pickled RDD
    scan and pays a Python-worker round trip every time a consumer
    evaluates it (~0.3-3.5 s depending on worker-pool state —
    BASELINE.md r10 notes); the pandas path converts through Arrow to
    a JVM LocalRelation, pure JVM thereafter. Columns are built as
    OBJECT-dtype series so None survives exactly (a numeric column
    with None would otherwise become float64 + NaN, and NaN→int under
    the explicit schema is the dtype trap the object path sidesteps);
    list values (array<...> columns) pass through as Python objects.

    ``schema`` is a StructType or a DDL string (parsed via
    ``StructType.fromDDL`` so the column names are known to build the
    pandas frame).
    """
    import pandas as pd
    from pyspark.sql.types import StructType

    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    names = [f.name for f in schema.fields]
    pdf = pd.DataFrame(
        {
            n: pd.Series([t[i] for t in tuples], dtype="object")
            for i, n in enumerate(names)
        },
        columns=names,
    )
    return spark.createDataFrame(pdf, schema)


def _vector_matrix(batch, name: str, dtype="float64", dim: int | None = None):
    """The (rows × dim) matrix of an Arrow record batch's list column
    ``name`` — THE vector decode of every embedding kernel (the
    k-means/IVF, PQ and LSH passes under :func:`_arrow_map`, and the
    IVF probe serve). One ``flatten()`` of the values buffer, no
    per-row Python; ``dtype=None`` keeps the element type (the PQ
    ``codes`` payload), otherwise it casts (float32 → float64 is exact).

    Raises a ValueError naming the column when a row is NULL, when the
    row lengths differ, or when they differ from ``dim`` (a kernel's
    model width): ``flatten()`` drops NULL rows, so a bare
    ``reshape(n, -1)`` would silently mis-shape the matrix.

    The vector kernels that stay on pandas do so for pandas semantics
    or for their grouping mode, not for the decode: the multimodal
    byte decoders, the Misra-Gries fold (``value_counts`` order), the
    MinHash partial fold (``factorize``), and the two cell/bucket
    grouped scorers (``applyInPandas``; an ``applyInArrow`` twin would
    add an execution mode)."""
    import pyarrow.compute as pc

    arr = batch.column(name)
    n = len(arr)
    if arr.null_count:
        raise ValueError(f"vector column {name!r}: {arr.null_count} NULL row(s)")
    lens = pc.list_value_length(arr).to_numpy()
    width = int(lens[0]) if n else (dim or 0)
    if (lens != width).any():
        raise ValueError(
            f"vector column {name!r}: rows of different lengths "
            f"({int(lens.min())}..{int(lens.max())})"
        )
    if dim is not None and n and width != dim:
        raise ValueError(
            f"vector column {name!r}: vectors have {width} components, "
            f"expected {dim}"
        )
    mat = arr.flatten().to_numpy(zero_copy_only=False).reshape(n, width)
    return mat if dtype is None else mat.astype(dtype, copy=False)


def _arrow_map(df: DataFrame, fn, ddl: str) -> DataFrame:
    """``df.mapInArrow`` over a per-batch kernel — THE emit of every
    embedding kernel. ``fn(batch)`` sees each non-empty
    ``pyarrow.RecordBatch`` and returns a dict from each ``ddl`` column
    name to its values, or None to emit nothing. A value may be a 1-D
    numpy array or a list, a 2-D numpy array for a list column (built
    from offsets, no per-row Python), or a ``pyarrow.Array`` passed
    through (``take()`` it to repeat rows).

    Each column is built with the exact Arrow type ``ddl`` declares:
    ``mapInArrow`` does not coerce (an int32 column declared
    ``bigint`` fails in the JVM reader). NaN in a float column becomes
    NULL, as the pandas conversion made it."""
    import numpy as np
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import StructType

    schema = to_arrow_schema(StructType.fromDDL(ddl))

    def column(v, t):
        if isinstance(v, pa.Array):
            return v if v.type == t else v.cast(t)
        if isinstance(v, np.ndarray) and v.ndim == 2:
            n, w = v.shape
            return pa.ListArray.from_arrays(
                pa.array(np.arange(n + 1, dtype="int32") * w),
                pa.array(v.reshape(-1), type=t.value_type, from_pandas=True),
                type=t,
            )
        return pa.array(v, type=t, from_pandas=True)

    def run(batches):
        for batch in batches:
            if not batch.num_rows:
                continue
            out = fn(batch)
            if out is not None:
                yield pa.RecordBatch.from_arrays(
                    [column(out[f.name], f.type) for f in schema], schema=schema
                )

    return df.mapInArrow(run, ddl)


def bounded_collect(df: DataFrame, cap: int) -> "list | None":
    """The probe of every driver tier: ``df``'s rows when it has at
    most ``cap`` rows and no top-level NULL, else None — the caller
    then runs its distributed plan. An empty frame returns ``[]``.

    Tier policy, shared by every caller:

    - the probe is ``df.limit(cap + 1).collect()``: Spark's
      ``executeTake`` scans partitions incrementally, so on a 100 TB
      input it stops after the first partitions (``toArrow()`` or
      ``toPandas()`` over a limit would plan a full-scan
      single-partition shuffle instead). Over the cap, the distributed
      path pays this one probe job extra;
    - any NULL falls through to the distributed plan, whose join,
      filter and aggregate NULL semantics stay authoritative — driver
      arithmetic is only written for NULL-free rows;
    - ``cap <= 0`` disables the tier and runs no job. Each cap is a
      module constant at its call site, sized to driver memory and
      CPU; tests set one to 0 to pin the distributed plan.

    Callers project ``df`` to exactly the columns their driver
    arithmetic reads, so the NULL rule covers those and nothing else.
    The other half of a driver tier is :func:`_arrow_local_frame`,
    which turns the driver result back into a frame."""
    if cap <= 0:
        return None
    rows = df.limit(cap + 1).collect()
    if len(rows) > cap or any(v is None for r in rows for v in r):
        return None
    return rows


def join_dim(fact: DataFrame, dim: DataFrame, on, how: str = "inner") -> DataFrame:
    """Equi-join a fact table against a dimension, broadcasting the dim.

    At 100 TB the fact side never fits a shuffle comfortably; every dim
    under the broadcast threshold must ship to executors instead.
    """
    return fact.join(F.broadcast(dim), on, how)


def semi_join(left: DataFrame, right: DataFrame, on) -> DataFrame:
    return left.join(right, on, "left_semi")


def anti_join(left: DataFrame, right: DataFrame, on) -> DataFrame:
    return left.join(right, on, "left_anti")


def top_k(df: DataFrame, order_cols: list, k: int) -> DataFrame:
    """Global top-k: per-partition local top-k then a single-reduce merge —
    Spark's TakeOrderedAndProject does exactly this for orderBy+limit, so
    declare it and let the planner pick that physical operator."""
    return df.orderBy(*order_cols).limit(k)


def range_join(
    fact: DataFrame,
    ranges: DataFrame,
    value_col: str,
    lo_col: str,
    hi_col: str,
    max_bucketize_ranges: int = 1024,
) -> DataFrame:
    """Theta/range join: match rows whose value falls in [lo, hi).

    The ranges side is small by contract (tier/bucket tables — the
    same bound that lets it broadcast). When its intervals are
    NON-OVERLAPPING, the theta join is rewritten as bucketize +
    equi-join: the driver collects the ranges (equivalent cost to the
    broadcast it replaces), emits a CASE chain assigning each fact row
    its interval index in one codegen'd projection, and broadcast
    hash-joins the range attributes back on that index. Same rows as
    the nested-loop form, but the per-row work is one branch chain
    instead of |ranges| predicate evaluations, and the first-run
    codegen of BroadcastNestedLoopJoin (~2 s JIT, measured) is
    avoided — at 100 TB the projection form is strictly better.

    Overlapping intervals (a value may match several ranges) keep the
    general BroadcastNestedLoopJoin path — that multiplicity is
    exactly what the equi-join rewrite cannot express. So does a
    ranges side above ``max_bucketize_ranges`` intervals: the CASE
    index is one flat expression of |ranges| branches, and past a few
    thousand branches Catalyst analysis/codegen cost grows where the
    nested-loop join merely slows — the fallback degrades gracefully
    instead of overflowing the planner.
    """
    rows = ranges.collect()  # small by the broadcast contract
    bounds_ok = all(
        r[lo_col] is not None and r[hi_col] is not None for r in rows
    )
    spans = (
        sorted(
            ((r[lo_col], r[hi_col], i) for i, r in enumerate(rows)),
            key=lambda t: (t[0], t[1]),
        )
        if bounds_ok
        else []
    )
    non_overlapping = bounds_ok and all(
        a_hi <= b_lo for (_, a_hi, _), (b_lo, _, _) in zip(spans, spans[1:])
    )
    if non_overlapping and rows and len(rows) <= max_bucketize_ranges:
        # flat coalesce-of-whens, not a nested otherwise-chain: the
        # expression tree stays depth-1/width-n, which Catalyst and
        # codegen handle far past where O(n)-deep nesting recurses out
        expr = F.coalesce(
            *(
                F.when(
                    (F.col(value_col) >= F.lit(lo))
                    & (F.col(value_col) < F.lit(hi)),
                    F.lit(i),
                )
                for lo, hi, i in spans
            ),
            F.lit(None).cast("int"),
        )
        # explicit schema (ranges.schema + the index) — inference from
        # collected Python values would drift dtypes from the fallback
        # path (int→bigint) and crash on all-NULL attribute columns
        from pyspark.sql.types import IntegerType, StructField, StructType

        idx_schema = StructType(
            [StructField("__range_idx", IntegerType(), False)]
            + list(ranges.schema.fields)
        )
        idx_ranges = _arrow_local_frame(
            ranges.sparkSession,
            [(i,) + tuple(r) for i, r in enumerate(rows)],
            idx_schema,
        )
        return (
            fact.withColumn("__range_idx", expr)
            .join(F.broadcast(idx_ranges), "__range_idx")
            .drop("__range_idx")
        )
    # overlapping / NULL-bounded intervals: general theta join. Built
    # from the ALREADY-collected rows (not the original plan) so the
    # ranges computation executes exactly once either way — and a
    # nondeterministic ranges source can't disagree between the
    # overlap check and the executed join.
    literal_ranges = _arrow_local_frame(
        fact.sparkSession, [tuple(r) for r in rows], ranges.schema
    )
    cond = (F.col(value_col) >= F.col(lo_col)) & (F.col(value_col) < F.col(hi_col))
    return fact.join(F.broadcast(literal_ranges), cond)


def salted_join(
    big: DataFrame,
    skewed_small: DataFrame,
    key: str,
    n_salts: int = 8,
    salt_source: str | None = None,
) -> DataFrame:
    """Skew-mitigated equi-join: the big side salts its key with a
    deterministic per-row salt in [0, n_salts); the small side is
    exploded n_salts× so every (key, salt) pair still matches. The
    shuffle then spreads each hot key over n_salts reducers.

    Results are identical to ``big.join(skewed_small, key)`` for any
    salt assignment. ``salt_source`` names a column whose hash picks
    the salt (defaults to the join key itself combined with all
    columns via xxhash64 — deterministic, no RNG).
    """
    salt_col = F.pmod(
        F.xxhash64(F.col(salt_source) if salt_source else F.struct(*big.columns)),
        F.lit(n_salts),
    ).cast("int")
    salted_big = big.withColumn("__salt", salt_col)
    salted_small = skewed_small.withColumn(
        "__salt", F.explode(F.array(*[F.lit(i) for i in range(n_salts)]))
    )
    return salted_big.join(salted_small, [key, "__salt"]).drop("__salt")


def _asof_tag_union(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str,
    right_ts: str,
    value_cols: list[str],
    with_rts: bool = False,
) -> DataFrame:
    """Shared tag+union scaffolding for the as-of family: both sides
    unioned under (key, __ts, __is_left, __rv, __row), where __rv is
    the right-value struct (optionally carrying __rts epoch-micros for
    the nearest variant) and __row the full left row. The tie contract
    lives in the struct layout: value_cols order IS the lexicographic
    tie order, so a change here must update both join variants' docs
    and their oracles together."""
    rv_fields = [
        f"{c}:{right.schema[c].dataType.simpleString()}" for c in value_cols
    ]
    if with_rts:
        rv_fields.append("__rts:bigint")
    rv_ddl = "struct<" + ",".join(rv_fields) + ">"
    l_ddl = (
        "struct<"
        + ",".join(f"{f.name}:{f.dataType.simpleString()}" for f in left.schema.fields)
        + ">"
    )
    rv_cols = [F.col(c) for c in value_cols]
    if with_rts:
        rv_cols.append(F.unix_micros(F.col(right_ts)).alias("__rts"))
    l_tag = left.select(
        F.col(key), F.col(left_ts).alias("__ts"), F.lit(1).alias("__is_left"),
        F.lit(None).cast(rv_ddl).alias("__rv"),
        F.struct(*left.columns).alias("__row"),
    )
    r_tag = right.select(
        F.col(key), F.col(right_ts).alias("__ts"), F.lit(0).alias("__is_left"),
        # one struct per right row so all carried values come from the
        # SAME matched row even when some of its columns are null
        F.struct(*rv_cols).alias("__rv"),
        F.lit(None).cast(l_ddl).alias("__row"),
    )
    return l_tag.unionByName(r_tag)


def as_of_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str,
    right_ts: str,
    value_cols: list[str],
) -> DataFrame:
    """Backward as-of join: each left row picks up the value columns of
    the LATEST right row with ``right.ts <= left.ts`` for the same key
    (NULL when no prior right row exists) — the time-series join Spark
    has no built-in for (the brief's canonical custom-operator example).

    Composition, not a new engine primitive: tag + unionByName both
    sides, one window sorted by (ts, side) per key carrying the right
    values forward with last(..., ignorenulls), then keep left rows.
    ONE shuffle on the key (same cost as a sort-merge join), no range
    explosion, AQE-skew-safe; right rows at exactly left.ts win (ties
    ordered right-before-left). Multiple right rows at the SAME
    (key, ts) resolve deterministically: the value struct itself is the
    final sort key, so the lexicographically-largest (value_cols…)
    tuple wins regardless of partitioning or execution order — the
    same rule an ORDER BY ts, (v…) LAST_VALUE oracle reproduces.
    """
    from pyspark.sql.window import Window

    tagged = _asof_tag_union(left, right, key, left_ts, right_ts, value_cols)
    w = (
        Window.partitionBy(key)
        .orderBy(F.col("__ts").asc(), F.col("__is_left").asc(), F.col("__rv").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = tagged.select(
        "__is_left",
        "__row",
        F.last("__rv", ignorenulls=True).over(w).alias("__m"),
    )
    return carried.filter(F.col("__is_left") == 1).select(
        *[F.col(f"__row.{c}").alias(c) for c in left.columns],
        *[F.col(f"__m.{c}").alias(c) for c in value_cols],
    )


def nearest_asof_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str,
    right_ts: str,
    value_cols: list[str],
) -> DataFrame:
    """NEAREST as-of join: each left row matches the right row with
    the smallest |right.ts − left.ts| for its key, in either time
    direction (ties → the backward/at-or-before match). Adds
    ``matched_delta_us`` (signed, right − left) beside the carried
    value columns; NULL columns when the key has no right rows at all.

    Same single-exchange composition as :func:`as_of_join` — tag +
    union both sides, then TWO carry windows over the one partition
    (backward: last right at-or-before; forward: first right
    at-or-after, via the reversed sort) and a per-row nearest pick.
    One shuffle on the key; the second window re-sorts within
    partitions but never re-exchanges. Tie rule among right rows at
    the same (key, ts): the lexicographically-largest value struct
    wins in BOTH directions (same contract as as_of_join).
    """
    from pyspark.sql.window import Window

    tagged = _asof_tag_union(
        left, right, key, left_ts, right_ts, value_cols, with_rts=True
    )
    back = (
        Window.partitionBy(key)
        .orderBy(F.col("__ts").asc(), F.col("__is_left").asc(), F.col("__rv").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    fwd = (
        Window.partitionBy(key)
        .orderBy(F.col("__ts").desc(), F.col("__is_left").asc(), F.col("__rv").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = tagged.select(
        "__is_left",
        "__row",
        F.last("__rv", ignorenulls=True).over(back).alias("__prev"),
        F.last("__rv", ignorenulls=True).over(fwd).alias("__next"),
    )
    lts = F.unix_micros(F.col(f"__row.{left_ts}"))
    prev_d = lts - F.col("__prev.__rts")   # >= 0
    next_d = F.col("__next.__rts") - lts   # >= 0
    pick = (
        F.when(F.col("__next").isNull(), F.col("__prev"))
        .when(F.col("__prev").isNull(), F.col("__next"))
        .when(prev_d <= next_d, F.col("__prev"))
        .otherwise(F.col("__next"))
    )
    return (
        carried.filter(F.col("__is_left") == 1)
        .withColumn("__m", pick)
        .select(
            *[F.col(f"__row.{c}").alias(c) for c in left.columns],
            *[F.col(f"__m.{c}").alias(c) for c in value_cols],
            (F.col("__m.__rts") - lts).alias("matched_delta_us"),
        )
    )


def apply_changeset(
    snapshot: DataFrame,
    changes: DataFrame,
    key: str,
    op_col: str = "op",
) -> DataFrame:
    """Apply an insert/update/delete changeset to a snapshot (the
    MERGE INTO batch pattern on plain immutable storage — pair with
    sinks.write_idempotent for the reference's overwrite discipline,
    SURVEY §2 K8).

    ``changes`` carries the snapshot columns plus ``op_col`` in
    {'I','U','D'}. Semantics: D drops the key, U/I replace-or-add the
    row. Duplicate keys inside one changeset are a caller error (the
    last-writer tie would be nondeterministic in a distributed apply).

    Plan shape: one anti join (snapshot keys touched by the changeset
    drop out) + union with the non-delete changeset rows. Both sides
    shuffle by key at most once; AQE broadcasts the changeset side
    when it is small — the common case (daily delta vs full corpus).
    """
    untouched = snapshot.join(changes.select(key), key, "left_anti")
    upserts = changes.where(F.col(op_col) != F.lit("D")).select(
        *snapshot.columns
    )
    return untouched.unionByName(upserts)


def skew_report(
    df: DataFrame, key, top_n: int = 20
) -> DataFrame:
    """Heavy-hitter report for a prospective join/agg key: the top-N
    keys by row count with their share of the table. The operational
    pre-check for choosing salted_join / AQE skew handling at 100 TB.
    One partial-agg shuffle on the key, a single-reduce top-N merge
    (TakeOrdered — no global sort), and the grand total joined in as a
    broadcast single-row aggregate — one Spark job, no driver-side
    count action."""
    counts = df.groupBy(key).agg(F.count("*").alias("n_rows"))
    total = df.agg(F.count("*").alias("__total"))
    return (
        counts.orderBy(F.col("n_rows").desc(), F.col(key).asc())
        .limit(top_n)
        .crossJoin(F.broadcast(total))
        .withColumn(
            "share", F.round(F.col("n_rows") / F.col("__total"), 6)
        )
        .drop("__total")
    )


def bloom_bitmap(
    keys: DataFrame,
    key_col: str,
    m_bits: int = 1 << 14,
    k_hashes: int = 3,
    salt: str = "bloom",
) -> DataFrame:
    """Build a Bloom-filter bitmap over ``keys`` as a ONE-ROW frame
    holding an ``array<bigint>`` of ``m_bits/64`` words.

    The bitmap is built distributed — each key expands to its
    ``k_hashes`` bit positions (the h60 salted-digest family, so the
    filter is engine-reproducible), positions aggregate to words via
    ``bit_or`` map-side, and only the ≤``m_bits/64``-word frame ever
    converges — never the key set. The single row broadcasts into the
    probing scan as an expression, which is how a semi-join prune
    reaches 100 TB facts without shuffling them: Spark's own runtime
    row-level filters do exactly this, but only when the join is
    already planned; this operator makes the prune explicit and
    portable (no `might_contain` in the public function registry).
    """
    from batch_process_dpla_index_spark.functions.text import h60

    # ceil, never floor: positions live in [0, m_bits), so the top
    # word must exist even for m_bits not divisible by 64 — a floored
    # build dropped those bits and the probe's element_at walked past
    # the array (ANSI crash; silent false negatives with ANSI off)
    n_words = (m_bits + 63) // 64
    pos = F.explode(
        F.array(
            *[
                F.pmod(
                    h60(
                        F.concat(
                            F.lit(f"{salt}:{i}:"),
                            F.col(key_col).cast("string"),
                        )
                    ),
                    F.lit(m_bits),
                )
                for i in range(k_hashes)
            ]
        )
    ).alias("__pos")
    words = (
        keys.where(F.col(key_col).isNotNull())
        .select(pos)
        # expression strings: the Python shiftleft() helper only takes
        # a literal shift amount, not a per-row Column
        .selectExpr(
            "CAST(__pos / 64 AS INT) AS __word",
            "shiftleft(CAST(1 AS BIGINT), CAST(__pos % 64 AS INT)) AS __bit",
        )
        .groupBy("__word")
        .agg(F.bit_or("__bit").alias("__bits"))
    )
    dense = F.transform(
        F.sequence(F.lit(0), F.lit(n_words - 1)),
        lambda i: F.coalesce(F.element_at(F.col("__m"), i), F.lit(0).cast("bigint")),
    )
    return words.agg(
        F.map_from_entries(
            F.sort_array(F.collect_list(F.struct("__word", "__bits")))
        ).alias("__m")
    ).select(dense.alias("__bloom"))


def bloom_prune_join(
    fact: DataFrame,
    dim: DataFrame,
    fact_key: str,
    dim_key: str,
    m_bits: int = 1 << 14,
    k_hashes: int = 3,
    salt: str = "bloom",
) -> DataFrame:
    """Inner join with an explicit Bloom pre-prune of the fact side.

    The dim keys' bitmap (one broadcast row) folds into a pure
    expression filter on the fact scan — rows failing ANY of the
    ``k_hashes`` bit probes drop before the join. The exact join then
    removes Bloom false positives, so the RESULT is bit-identical to
    the plain join (the oracle replays the plain join — false
    negatives are impossible by construction, false positives never
    survive the join).

    Why this matters at scale: a selective dim against a 100 TB fact
    normally ships every fact row into the join's exchange. The
    bitmap prune runs inside the scan stage at ~x% pass-through
    (m/n tuned), so the shuffle — or even a broadcast-join's probe —
    sees only candidate rows. This is Catalyst's runtime-filter
    design made explicit and tunable.
    """
    bm = bloom_bitmap(dim.select(dim_key), dim_key, m_bits, k_hashes, salt)
    from batch_process_dpla_index_spark.functions.text import h60

    def pos_expr(i: int) -> F.Column:
        return F.pmod(
            h60(F.concat(F.lit(f"{salt}:{i}:"), F.col(fact_key).cast("string"))),
            F.lit(m_bits),
        )

    probed = fact.where(F.col(fact_key).isNotNull()).crossJoin(F.broadcast(bm))
    for i in range(k_hashes):
        probed = probed.withColumn(f"__p{i}", pos_expr(i))
    # per-row shift amounts need the SQL shift functions (the Python
    # helpers only accept literal shifts)
    cond = " AND ".join(
        f"(shiftrightunsigned(element_at(__bloom, CAST(__p{i} / 64 AS INT) + 1),"
        f" CAST(__p{i} % 64 AS INT)) & CAST(1 AS BIGINT)) = 1"
        for i in range(k_hashes)
    )
    pruned = probed.where(F.expr(cond)).drop(
        "__bloom", *[f"__p{i}" for i in range(k_hashes)]
    )
    return pruned.join(dim, pruned[fact_key] == dim[dim_key])
