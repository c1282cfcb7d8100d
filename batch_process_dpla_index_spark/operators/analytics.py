"""Event-sequence analytics: ordered funnels, SCD2 history, retention
cohorts, running anomaly detection.

The reference's batch surface is per-record scoring and reporting
(MqReports.scala:22-134); these operators extend it to the
*sequence-aware* analyses a warehouse runs over the same event stream.
All are single-digit-shuffle DataFrame compositions:

- funnel_stages:   ordered-step conversion via ONE fold-aggregate per
                   user (chained strict-min semantics) — no N-pass
                   self-joins, no per-step shuffles.
- scd2_history:    type-2 slowly-changing-dimension build — collapse
                   consecutive repeats, then validity intervals from
                   lead(); both windows share one sort/exchange.
- retention_cohorts: cohort-week × week-offset distinct-user matrix.
- running_anomaly: per-key running mean/std (expanding window,
                   warmup-gated) z-score flags — the batch twin of the
                   streaming detector in `streaming/stateful.py`.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from batch_process_dpla_index_spark.functions.windows import one_bucket


def funnel_stages(
    events: DataFrame,
    steps: Sequence[str] = ("signup", "view", "click", "purchase"),
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
) -> DataFrame:
    """Ordered funnel: how many users reached step i via a strictly
    time-increasing chain (first qualifying event after the previous
    stage's event — the chained-min funnel definition).

    One shuffle: events collapse to a per-user sorted struct array,
    and a single ``aggregate`` fold walks it with (stage, last_ts)
    state — advancing only when the event matches the next step AND
    is strictly later than the previous stage's timestamp. Equivalent
    to the N-CTE chained-min formulation but one pass instead of
    len(steps) join rounds; per-user arrays are session-sized, not
    corpus-sized, so the fold is bounded.

    Returns (stage, step, n_users) for stages 1..len(steps), where
    n_users counts users whose chain reached AT LEAST that stage.

    NULL-timestamp events are excluded up front (mirrored in the
    oracle): a time-ordered funnel cannot place them, and letting one
    through used to poison the fold — the initial-state test was
    ``acc.t IS NULL``, which is ALSO true after advancing on a NULL-ts
    event, silently disabling the strict-ordering constraint for the
    rest of that user's chain. The initial state is now tested by
    ``stage == 0``, never by the timestamp.
    """
    steps_arr = F.array(*[F.lit(s) for s in steps])
    evs = F.array_sort(
        F.collect_list(
            F.when(
                F.col(ts_col).isNotNull(),
                F.struct(F.col(ts_col).alias("t"), F.col(type_col).alias("et")),
            )  # collect_list drops NULLs → NULL-ts events never enter
        )
    )
    state0 = F.struct(
        F.lit(0).alias("stage"), F.lit(None).cast("timestamp").alias("t")
    )
    fold = F.aggregate(
        evs,
        state0,
        lambda acc, e: F.when(
            (acc["stage"] < len(steps))
            & (e["et"] == F.element_at(steps_arr, acc["stage"] + 1))
            & ((acc["stage"] == 0) | (e["t"] > acc["t"])),
            F.struct(
                (acc["stage"] + 1).alias("stage"), e["t"].alias("t")
            ),
        ).otherwise(acc),
    )
    per_user = events.groupBy(user_col).agg(fold["stage"].alias("max_stage"))

    exact = per_user.groupBy("max_stage").agg(
        F.count("*").alias("__n")
    )
    from batch_process_dpla_index_spark.operators.relational import (
        _arrow_local_frame,
    )

    ladder = (
        _arrow_local_frame(
            events.sparkSession,
            [(i + 1, s) for i, s in enumerate(steps)],
            "stage bigint, step string",
        )
        .join(exact, F.col("max_stage") == F.col("stage"), "left")
        .drop("max_stage")
    )
    # bounded contract: the frame is |stages| rows (a handful), so a
    # single-partition window is fine at any data scale; one_bucket
    # keeps it single-partition while silencing WindowExec's
    # no-partition warning (functions/windows.py)
    at_least = (
        Window.partitionBy(one_bucket(F.col("stage")))
        .orderBy(F.col("stage").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return ladder.select(
        F.col("stage").cast("bigint").alias("stage"),
        "step",
        F.sum(F.coalesce(F.col("__n"), F.lit(0)))
        .over(at_least)
        .cast("bigint")
        .alias("n_users"),
    )


def scd2_history(
    events: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    attr_col: str = "event_type",
    tiebreak_col: str = "event_id",
) -> DataFrame:
    """Type-2 slowly-changing-dimension history of ``attr_col`` per key.

    Consecutive repeats of the same attribute value collapse into one
    version row; each version carries [valid_from, valid_to) with
    valid_to NULL on the current row. Both windows (the lag that finds
    change points and the lead that closes intervals) share the same
    (key, ts) sort, so Spark plans ONE exchange + sort for the whole
    operator — the plan you want when the change stream is 100 TB.
    """
    order = Window.partitionBy(key_col).orderBy(ts_col, tiebreak_col)
    changed = (
        events.select(key_col, ts_col, attr_col, tiebreak_col)
        .withColumn("__prev", F.lag(attr_col).over(order))
        .where(F.col("__prev").isNull() | (F.col("__prev") != F.col(attr_col)))
    )
    # The filtered frame keeps the same partitioning/ordering, so this
    # second window re-sorts within partitions without a new exchange.
    return (
        changed.withColumn("valid_to", F.lead(ts_col).over(order))
        .select(
            key_col,
            F.col(attr_col).alias("attr_value"),
            F.col(ts_col).alias("valid_from"),
            "valid_to",
            F.col("valid_to").isNull().alias("is_current"),
        )
    )


def retention_cohorts(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
) -> DataFrame:
    """Weekly retention matrix: users grouped by first-activity week
    (cohort), counted per later activity week offset.

    Cohort assignment is a min-over-user window (one shuffle on user);
    the (cohort_week, week_offset) matrix is a distinct + count over
    frames already keyed by user, and the output is |weeks|² rows —
    driver-safe at any corpus size.
    """
    by_user = Window.partitionBy(user_col)
    with_cohort = events.select(
        user_col,
        F.date_trunc("week", F.min(ts_col).over(by_user)).alias("cohort_week"),
        F.date_trunc("week", F.col(ts_col)).alias("active_week"),
    )
    return (
        with_cohort.distinct()
        .groupBy(
            "cohort_week",
            (F.datediff("active_week", "cohort_week") / 7)
            .cast("bigint")
            .alias("week_offset"),
        )
        .agg(F.count("*").alias("n_users"))
    )


def event_transitions(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    tiebreak_col: str = "event_id",
) -> DataFrame:
    """First-order Markov transition matrix over per-user event
    sequences: (from_type, to_type, n_transitions, p_transition) with
    probabilities normalized per from_type.

    One corpus shuffle (the per-user lead window); the transition
    matrix itself is |types|² rows, so the normalizing window runs on
    a frame that fits one task at any corpus size.
    """
    order = Window.partitionBy(user_col).orderBy(ts_col, tiebreak_col)
    pairs = events.select(
        F.col(type_col).alias("from_type"),
        F.lead(type_col).over(order).alias("to_type"),
    ).where(F.col("to_type").isNotNull())
    counts = pairs.groupBy("from_type", "to_type").agg(
        F.count("*").alias("n_transitions")
    )
    per_from = Window.partitionBy("from_type")
    return counts.select(
        "from_type",
        "to_type",
        "n_transitions",
        F.round(
            F.col("n_transitions") / F.sum("n_transitions").over(per_from), 6
        ).alias("p_transition"),
    )


def session_paths(
    events: DataFrame,
    gap_minutes: int = 30,
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    tiebreak_col: str = "event_id",
) -> DataFrame:
    """Per-session event-type paths: sessions split on ``gap_minutes``
    of inactivity (gaps-and-islands, >= gap starts a new session —
    the session_window convention), each session's ordered types
    joined into a '>' path string.

    Returns (user_col, session_id, path, n_events). One shuffle on
    the user key; the session split and the ordered path aggregation
    share its partitioning.
    """
    order = Window.partitionBy(user_col).orderBy(ts_col, tiebreak_col)
    run = Window.partitionBy(user_col).orderBy(ts_col, tiebreak_col).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    gap_us = gap_minutes * 60 * 1_000_000
    marked = events.withColumn(
        "__new",
        F.when(
            F.lag(ts_col).over(order).isNull()
            | (
                F.unix_micros(F.col(ts_col))
                - F.unix_micros(F.lag(ts_col).over(order))
                >= gap_us
            ),
            1,
        ).otherwise(0),
    ).withColumn("session_id", F.sum("__new").over(run))
    ordered = F.array_sort(
        F.collect_list(
            F.struct(
                F.col(ts_col).alias("t"),
                F.col(tiebreak_col).alias("k"),
                F.col(type_col).alias("et"),
            )
        )
    )
    return marked.groupBy(user_col, "session_id").agg(
        F.concat_ws(">", F.transform(ordered, lambda e: e["et"])).alias("path"),
        F.count("*").alias("n_events"),
    )


def running_anomaly(
    events: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    id_col: str = "event_id",
    threshold: float = 3.0,
    warmup: int = 5,
) -> DataFrame:
    """Per-key running z-score anomaly flags — the batch twin of the
    streaming detector (`streaming/stateful.py:anomaly_stream`).

    Each event is scored against the mean/stddev of the STRICTLY
    PRIOR events of its key (expanding window, current row excluded)
    so the score stream is causal — computable one event at a time by
    the streaming state machine with identical results. Events before
    ``warmup`` prior observations get a NULL score (insufficient
    history), mirroring the stream's warmup gate.
    """
    prior = Window.partitionBy(key_col).orderBy(ts_col, id_col).rowsBetween(
        Window.unboundedPreceding, -1
    )
    n_prior = F.count(value_col).over(prior)
    mean_prior = F.avg(value_col).over(prior)
    std_prior = F.stddev_pop(value_col).over(prior)
    score = (F.col(value_col) - mean_prior) / std_prior
    gated = F.when((n_prior >= warmup) & (std_prior > 0), score)
    return events.select(
        id_col,
        key_col,
        F.round(gated, 6).alias("zscore"),
        F.coalesce(F.abs(gated) > threshold, F.lit(False)).alias("is_anomaly"),
    )


def decayed_counts(
    events: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    half_life_days: float = 7.0,
    per_key_reference: bool = False,
) -> DataFrame:
    """Per-key exponentially time-decayed activity: each event
    contributes ``2^(-age_days / half_life)`` weight, aged against the
    corpus max timestamp — the standard feature-store recency feature
    (a count where yesterday's event is worth more than last month's).

    Plan: the reference timestamp is a 1-row aggregate broadcast onto
    the events via a broadcast nested-loop cross join (the same
    1-row-stats pattern as lm_scores / corpus_report — NOT a shuffle),
    then ONE groupBy(key) with map-side partial aggregation. The decay
    weight is a pure JVM expression (`exp`), so the whole plan is a
    scan + broadcast + single exchange, independent of half_life.

    NULL timestamps are excluded (an undatable event has no age);
    NULL values contribute 0 to decayed_value but full weight to
    decayed_n. Returns (key, n_events, decayed_n, decayed_value)
    rounded 6.

    ``per_key_reference=True`` ages each key against ITS OWN latest
    event instead of the corpus max — the semantics an online
    stateful stream can maintain (it never sees the corpus max), and
    the batch twin `streaming/stateful.py:decayed_stream` is
    convergence-tested against. Costs one per-key max window on the
    same (key) partitioning the aggregate uses — still one exchange.
    """
    import math

    lam = math.log(2.0) / half_life_days
    dated = events.where(F.col(ts_col).isNotNull())
    if per_key_reference:
        ref_us = F.max(F.unix_micros(F.col(ts_col))).over(
            Window.partitionBy(key_col)
        )
        dated = dated.withColumn("__t_ref_us", ref_us)
        age_days = (
            F.col("__t_ref_us") - F.unix_micros(F.col(ts_col))
        ) / F.lit(86400.0e6)
        w = F.exp(-F.lit(lam) * age_days)
        return (
            dated.groupBy(key_col)
            .agg(
                F.count("*").alias("n_events"),
                F.round(F.sum(w), 6).alias("decayed_n"),
                F.round(
                    F.sum(w * F.coalesce(F.col(value_col), F.lit(0.0))), 6
                ).alias("decayed_value"),
            )
            .orderBy(key_col)
        )
    t_ref = dated.agg(F.max(ts_col).alias("__t_ref"))
    # exact integer microsecond epochs (unix_micros / DuckDB epoch_us):
    # the seconds-truncating unix_timestamp would round ages engine-
    # dependently; integer micros make the age double bit-identical
    age_days = (
        F.unix_micros(F.col("__t_ref")) - F.unix_micros(F.col(ts_col))
    ) / F.lit(86400.0e6)
    w = F.exp(-F.lit(lam) * age_days)
    return (
        dated.crossJoin(F.broadcast(t_ref))
        .groupBy(key_col)
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum(w), 6).alias("decayed_n"),
            F.round(
                F.sum(w * F.coalesce(F.col(value_col), F.lit(0.0))), 6
            ).alias("decayed_value"),
        )
        .orderBy(key_col)
    )


def skipgram_cooc(
    docs: DataFrame,
    tokens_col,
    max_skip: int = 4,
    min_count: int = 2,
) -> DataFrame:
    """Skip-gram co-occurrence counts: how often two words appear
    within ``max_skip`` positions of each other — the context-pair
    statistic that feeds word2vec/GloVe-style embedding training.

    ``tokens_col`` is a Column of array<string> (pre-tokenized).
    Pairs are UNORDERED ((a,b) ≡ (b,a), canonicalized a <= b) and
    counted with multiplicity; self-pairs (repeated word within the
    window) are dropped.

    Scale shape: pair generation is a pure per-row expression —
    nested `transform` over the token array flattened once — so the
    corpus scan produces (w_a, w_b) rows with NO join and NO window;
    the only shuffle is the final hash aggregate on the pair key,
    with map-side partial aggregation collapsing each partition's
    repeats first. A position self-join (the naive formulation) would
    shuffle the exploded corpus twice and break at 100 TB.
    """
    toks = tokens_col.alias("__toks")
    pair_structs = F.flatten(
        F.transform(
            F.sequence(F.lit(1), F.greatest(F.size("__toks"), F.lit(1))),
            lambda i: F.transform(
                # j in [i+1, min(i+max_skip, n)]; empty sequence guard
                # via sequence(a, b) with b < a is invalid -> filter
                F.filter(
                    F.sequence(
                        F.lit(1), F.lit(max_skip)
                    ),
                    lambda d: i + d <= F.size("__toks"),
                ),
                lambda d: F.struct(
                    F.element_at("__toks", i).alias("wi"),
                    F.element_at("__toks", i + d).alias("wj"),
                ),
            ),
        )
    )
    pairs = (
        docs.select(toks)
        .where(F.size("__toks") >= 2)
        .select(F.explode(pair_structs).alias("p"))
        .select(
            F.least("p.wi", "p.wj").alias("w_a"),
            F.greatest("p.wi", "p.wj").alias("w_b"),
        )
        .where(F.col("w_a") != F.col("w_b"))
    )
    return (
        pairs.groupBy("w_a", "w_b")
        .agg(F.count("*").alias("n_cooc"))
        .where(F.col("n_cooc") >= min_count)
    )


def cusum_changepoint(
    events: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    id_col: str = "event_id",
    slack_frac: float = 0.1,
    target_col: str | None = None,
) -> DataFrame:
    """Per-key CUSUM drift scores (Page's cumulative-sum changepoint
    statistic): s_i = max(0, s_{i-1} + (x_i − mean − slack)) for upward
    drift, mirrored for downward; the reported score is each
    direction's running maximum. The standard mean-shift detector for
    metric streams — a level change keeps feeding one side's sum while
    noise keeps resetting it to zero.

    The recursion is a SEQUENTIAL fold, not a window sum, so it runs
    as one ``aggregate`` over the key's time-ordered value array —
    strictly left-to-right in both engines, which makes the float path
    engine-identical (the oracle folds the same list in the same
    order). Slack is ``slack_frac·|mean|`` (scale-free allowance).

    ``target_col`` switches the reference level from the key's own
    full-series mean (retrospective changepoint analysis) to a
    per-row PROVIDED target — the deployed-CUSUM form where the
    reference comes from a historical baseline, and the form a
    one-pass STREAM can compute exactly (`streaming/stateful.py:
    cusum_stream` is the convergence-tested twin). The fold is
    identical; only the subtracted level changes.

    Plan: ONE shuffle on the key; collect_list is bounded by per-key
    event counts (the session_paths contract). Returns
    (key, n_events, mean_value, cusum_up, cusum_dn, direction).
    """
    seq = F.array_sort(
        F.collect_list(
            F.struct(
                F.col(ts_col).alias("t"),
                F.col(id_col).alias("k"),
                F.col(value_col).alias("v"),
            )
        )
    )
    aggs = [seq.alias("__seq")]
    if target_col is not None:
        # per-key constant by contract (a historical baseline joined
        # onto the rows); first() under the same grouping
        aggs.append(F.first(F.col(target_col)).alias("__mean"))
    base = (
        events.where(F.col(value_col).isNotNull())
        .groupBy(key_col)
        .agg(*aggs)
        .withColumn("__vals", F.transform(F.col("__seq"), lambda e: e["v"]))
    )
    if target_col is None:
        base = base.withColumn(
            "__mean",
            F.aggregate(F.col("__vals"), F.lit(0.0), lambda a, x: a + x)
            / F.size(F.col("__vals")),
        )
    base = base.withColumn("__slack", F.lit(slack_frac) * F.abs(F.col("__mean")))
    mean, slack = F.col("__mean"), F.col("__slack")
    zero = F.lit(0.0)
    acc0 = F.struct(
        zero.alias("su"), zero.alias("mu"), zero.alias("sd"), zero.alias("md")
    )

    def step(a, x):
        su = F.greatest(zero, a["su"] + (x - mean - slack))
        sd = F.greatest(zero, a["sd"] + (mean - x - slack))
        return F.struct(
            su.alias("su"),
            F.greatest(a["mu"], su).alias("mu"),
            sd.alias("sd"),
            F.greatest(a["md"], sd).alias("md"),
        )

    folded = F.aggregate(F.col("__vals"), acc0, step)
    up = F.round(folded["mu"], 6)
    dn = F.round(folded["md"], 6)
    return base.select(
        key_col,
        F.size(F.col("__vals")).cast("bigint").alias("n_events"),
        F.round(mean, 6).alias("mean_value"),
        up.alias("cusum_up"),
        dn.alias("cusum_dn"),
        F.when((up == 0.0) & (dn == 0.0), F.lit("none"))
        .when(up >= dn, F.lit("up"))
        .otherwise(F.lit("dn"))
        .alias("direction"),
    )


def seasonal_baseline(
    events: DataFrame,
    type_col: str = "event_type",
    ts_col: str = "ts",
    value_col: str = "value",
    z_threshold: float = 3.0,
) -> DataFrame:
    """Seasonal (hour-of-day) anomaly profile: each event compares to
    the mean/stddev of ITS OWN (type, hour) cell — the baseline shape
    for metrics with daily periodicity, where a global z-score flags
    every rush hour as anomalous and misses a quiet-hour spike.

    The cell stats snap to 6 decimals BEFORE the threshold compare on
    BOTH engines (documented determinism snap): a one-pass mean's
    last-ulp association drift must never flip a boundary row's flag
    between Spark and the oracle.

    Plan: one groupBy(type, hour) stats aggregate; the |types|×24-row
    cell frame broadcasts back (bounded by the type domain, never
    data-proportional); one final aggregate counts flags per cell.
    """
    hour = F.hour(F.col(ts_col))
    base = events.where(F.col(value_col).isNotNull()).select(
        F.col(type_col), hour.alias("hod"), F.col(value_col).alias("__v")
    )
    cells = base.groupBy(type_col, "hod").agg(
        F.round(F.avg("__v"), 6).alias("__mean"),
        F.round(F.stddev_pop("__v"), 6).alias("__sd"),
    )
    flagged = base.join(F.broadcast(cells), [type_col, "hod"]).withColumn(
        "__anom",
        (
            (F.col("__sd") > 0)
            & (F.abs(F.col("__v") - F.col("__mean")) > F.lit(z_threshold) * F.col("__sd"))
        ).cast("long"),
    )
    return (
        flagged.groupBy(type_col, "hod")
        .agg(
            F.count("*").alias("n"),
            F.first("__mean").alias("mean_value"),
            F.first("__sd").alias("sd_value"),
            F.sum("__anom").alias("n_anomalies"),
        )
        .orderBy(type_col, "hod")
    )


def _canon_deg_oriented(edges: DataFrame, src_col: str, dst_col: str):
    """Shared edge preparation for the triangle family
    (`triangle_count`, `clustering_coefficients`): canonical
    undirected edges (u < v, nulls/self-loops dropped, distinct), the
    degree frame, and the DEGREE-ORIENTED edge list — every edge
    points from its lower-(degree, id) endpoint to the higher one, so
    each wedge is generated exactly once at its lowest-degree apex and
    wedge fan-out is bounded by the graph's degeneracy, not the max
    degree.

    localCheckpoint (not persist): the frames feed several sibling
    branches — with lazy caches the full edge-build lineage re-prints
    (and re-plans) under every branch, ~300 phantom exchanges in the
    plan fingerprint. The checkpoint truncates them to
    materialized-RDD scans; callers attach the returned frames via
    `_CheckpointHandle` in `_cached_deps` so `unpersist_deps` releases
    the blocks."""
    canon = (
        edges.select(
            F.least(F.col(src_col), F.col(dst_col)).alias("u"),
            F.greatest(F.col(src_col), F.col(dst_col)).alias("v"),
        )
        .where(F.col("u") != F.col("v"))
        .where(F.col("u").isNotNull() & F.col("v").isNotNull())
        .distinct()
    ).localCheckpoint(eager=True)
    deg = (
        canon.select(F.col("u").alias("node"))
        .unionAll(canon.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("deg"))
    ).localCheckpoint(eager=True)
    du = deg.select(F.col("node").alias("u"), F.col("deg").alias("du"))
    dv = deg.select(F.col("node").alias("v"), F.col("deg").alias("dv"))
    oriented = (
        canon.join(du, "u")
        .join(dv, "v")
        .select(
            F.when(
                (F.col("du") < F.col("dv"))
                | ((F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))),
                F.struct(F.col("u").alias("s"), F.col("v").alias("d")),
            )
            .otherwise(F.struct(F.col("v").alias("s"), F.col("u").alias("d")))
            .alias("e")
        )
        .select(F.col("e.s").alias("s"), F.col("e.d").alias("d"))
    ).localCheckpoint(eager=True)
    return canon, deg, oriented


def _closed_triangles(canon: DataFrame, oriented: DataFrame) -> DataFrame:
    """(a, apex, c): one row per closed triangle, generated exactly
    once at its degree-oriented apex wedge. The close keys on the
    canonical (min, max) pair so it stays a two-key equi HASH join —
    an either-orientation OR predicate would degrade to a nested
    loop. Shared by `triangle_count` (row count) and
    `clustering_coefficients` (3-vertex credit explode)."""
    e1 = oriented.select(F.col("s").alias("a"), F.col("d").alias("b"))
    e2 = oriented.select(F.col("s").alias("b2"), F.col("d").alias("c"))
    return (
        e1.join(e2, e1["b"] == e2["b2"])
        .select(
            F.col("a"),
            F.col("b").alias("apex"),
            F.col("c"),
            F.least(F.col("a"), F.col("c")).alias("u"),
            F.greatest(F.col("a"), F.col("c")).alias("v"),
        )
        .join(canon, ["u", "v"])
        .select("a", "apex", "c")
    )


def _triangle_core_driver(rows):
    """Driver-side twin of `_canon_deg_oriented` + `_closed_triangles`
    over a collected (src, dst) list — all-integer, so every quantity
    is exact: canonical edge set, per-node degrees, and per-node
    triangle counts via the SAME degree orientation (each triangle
    enumerated exactly once at its lowest-(deg, id) apex, then credits
    all three vertices). Returns (canon, deg, tri_per_node,
    n_triangles)."""
    canon = set()
    for s, d in rows:
        if s == d:
            continue
        canon.add((s, d) if s < d else (d, s))
    deg: dict = {}
    for u, v in canon:
        deg[u] = deg.get(u, 0) + 1
        deg[v] = deg.get(v, 0) + 1
    out: dict = {}
    for u, v in canon:
        s, d = (u, v) if (deg[u], u) < (deg[v], v) else (v, u)
        out.setdefault(s, set()).add(d)
    tri_per_node: dict = {}
    n_tri = 0
    for apex, nbrs in out.items():
        ns = sorted(nbrs)
        for i, a in enumerate(ns):
            for c in ns[i + 1:]:
                if ((a, c) if a < c else (c, a)) in canon:
                    n_tri += 1
                    for x in (a, apex, c):
                        tri_per_node[x] = tri_per_node.get(x, 0) + 1
    return canon, deg, tri_per_node, n_tri


def triangle_count(edges: DataFrame, src_col: str = "src", dst_col: str = "dst") -> DataFrame:
    """Global triangle census over an undirected edge list: node/edge
    counts, wedge count, triangle count, and the global clustering
    coefficient 3·triangles/wedges — the graph-shape datasheet number
    next to pagerank and connected components.

    Scale design is the standard DEGREE ORIENTATION: every canonical
    edge points from its lower-(degree, id) endpoint to the higher
    one, so each wedge is generated exactly once at its lowest-degree
    apex and the wedge join's fan-out is bounded by the graph's
    degeneracy, not by the max degree (a celebrity node with 10^6
    neighbors generates zero wedges as apex unless its degree is
    genuinely lowest). Wedges for the coefficient come free from the
    degree frame (Σ d·(d−1)/2), never materialized.
    """
    # Driver tier (r17, the graph-op pattern): the census core is
    # all-integer (exact in any order); the clustering ratio is
    # computed by the SAME when/round expression over the local frame,
    # so the emitted double is bit-identical to the distributed plan's.
    from batch_process_dpla_index_spark.operators import graph
    from batch_process_dpla_index_spark.operators.relational import (
        _arrow_local_frame,
        bounded_collect,
    )

    probe = bounded_collect(
        edges.select(F.col(src_col).alias("s"), F.col(dst_col).alias("d")),
        graph._GRAPH_DRIVER_MAX_EDGES,
    )
    if probe is not None:
        canon_s, deg_s, _tri_node, n_tri = _triangle_core_driver(
            [(r["s"], r["d"]) for r in probe]
        )
        from batch_process_dpla_index_spark.operators.dedup import (
            _with_cached_deps,
        )

        stats = _arrow_local_frame(
            edges.sparkSession,
            [(
                len(deg_s),
                len(canon_s),
                sum(d * (d - 1) // 2 for d in deg_s.values()),
                n_tri,
            )],
            "n_nodes bigint, n_edges bigint, n_wedges bigint, "
            "n_triangles bigint",
        )
        out = stats.select(
            "n_nodes",
            "n_edges",
            "n_wedges",
            "n_triangles",
            F.when(F.col("n_wedges") > 0,
                   F.round(3.0 * F.col("n_triangles") / F.col("n_wedges"), 6))
            .alias("clustering"),
        )
        return _with_cached_deps(out, [])

    canon, deg, oriented = _canon_deg_oriented(edges, src_col, dst_col)
    node_stats = deg.agg(
        F.count("*").alias("n_nodes"),
        F.sum(F.col("deg") * (F.col("deg") - 1) / 2)
        .cast("bigint")
        .alias("n_wedges"),
    )
    n_edges = canon.agg(F.count("*").alias("n_edges"))
    n_tri = _closed_triangles(canon, oriented).agg(
        F.count("*").alias("n_triangles")
    )
    out = (
        node_stats.crossJoin(F.broadcast(n_edges))
        .crossJoin(F.broadcast(n_tri))
        .select(
            "n_nodes",
            "n_edges",
            "n_wedges",
            "n_triangles",
            F.when(F.col("n_wedges") > 0,
                   F.round(3.0 * F.col("n_triangles") / F.col("n_wedges"), 6))
            .alias("clustering"),
        )
    )
    from batch_process_dpla_index_spark.operators.dedup import (
        _CheckpointHandle,
        _with_cached_deps,
    )

    return _with_cached_deps(
        out,
        [_CheckpointHandle(canon), _CheckpointHandle(deg), _CheckpointHandle(oriented)],
    )


def clustering_coefficients(
    edges: DataFrame, src_col: str = "src", dst_col: str = "dst"
) -> DataFrame:
    """(node, degree, n_triangles, lcc): per-node LOCAL clustering
    coefficient 2·t(v)/(d(v)·(d(v)−1)) — the per-node refinement of
    `triangle_count`'s global census, sharing its `_canon_deg_oriented`
    edge preparation (same degeneracy-bounded wedge join). Each
    triangle closes exactly once at its degree-oriented apex wedge and
    then credits ALL THREE vertices (one explode — triangles are rare
    relative to edges, so the exploded frame is small by construction).
    Degree-<2 nodes emit lcc 0.0 with n_triangles 0 (the denominator
    is undefined; 0 is the standard convention). Counts are
    all-integer → bit-exact cross-engine; lcc is one IEEE divide,
    round 6."""
    from batch_process_dpla_index_spark.operators.dedup import (
        _CheckpointHandle,
        _with_cached_deps,
    )

    # Driver tier (r17, the triangle_count pattern): integer core
    # driver-side, the lcc divide/round through the same Spark
    # expression over the local frame.
    from batch_process_dpla_index_spark.operators import graph
    from batch_process_dpla_index_spark.operators.relational import (
        _arrow_local_frame,
        bounded_collect,
    )

    probe = bounded_collect(
        edges.select(F.col(src_col).alias("s"), F.col(dst_col).alias("d")),
        graph._GRAPH_DRIVER_MAX_EDGES,
    )
    if probe is not None:
        _canon_s, deg_s, tri_node, _n_tri = _triangle_core_driver(
            [(r["s"], r["d"]) for r in probe]
        )
        from pyspark.sql.types import LongType, StructField, StructType

        base = _arrow_local_frame(
            edges.sparkSession,
            [
                (n, deg_s[n], tri_node.get(n, 0))
                for n in sorted(deg_s)
            ],
            StructType(
                [
                    StructField("node", edges.schema[src_col].dataType, True),
                    StructField("deg", LongType(), True),
                    StructField("n_triangles", LongType(), True),
                ]
            ),
        )
        out = base.select(
            "node",
            F.col("deg").alias("degree"),
            F.col("n_triangles"),
            F.when(
                F.col("deg") >= 2,
                F.round(
                    2.0 * F.col("n_triangles")
                    / (F.col("deg") * (F.col("deg") - 1)),
                    6,
                ),
            )
            .otherwise(F.lit(0.0))
            .alias("lcc"),
        )
        return _with_cached_deps(out, [])

    canon, deg, oriented = _canon_deg_oriented(edges, src_col, dst_col)
    closed = _closed_triangles(canon, oriented).select(
        F.explode(F.array("a", "apex", "c")).alias("node")
    )
    tri = closed.groupBy("node").agg(F.count("*").alias("n_triangles"))
    out = (
        deg.join(tri, "node", "left")
        .select(
            "node",
            F.col("deg").alias("degree"),
            F.coalesce(F.col("n_triangles"), F.lit(0)).alias("n_triangles"),
            F.when(
                F.col("deg") >= 2,
                F.round(
                    2.0 * F.coalesce(F.col("n_triangles"), F.lit(0))
                    / (F.col("deg") * (F.col("deg") - 1)),
                    6,
                ),
            )
            .otherwise(F.lit(0.0))
            .alias("lcc"),
        )
    )
    return _with_cached_deps(
        out,
        [_CheckpointHandle(canon), _CheckpointHandle(deg), _CheckpointHandle(oriented)],
    )


def bpe_merge_pairs(
    docs: DataFrame,
    tokens_col,
    min_count: int = 2,
) -> DataFrame:
    """Adjacent-symbol pair counts within words — ONE iteration of the
    BPE merge-candidate statistic (the pair a byte-pair-encoding
    trainer would merge next is the argmax of exactly this table).
    Character-level seed alphabet; ordered pairs, since BPE merges are
    position-sensitive ('th' ≠ 'ht').

    Same 100 TB shape as ``skipgram_cooc``: pair generation is a pure
    per-row nested-transform expression (words → adjacent char pairs,
    flattened twice), the only shuffle is the pair-key hash aggregate
    with map-side partials. The aggregate key space is bounded by the
    squared alphabet, so the reduce side is tiny regardless of corpus.
    """
    toks = tokens_col.alias("__toks")
    word_pairs = F.flatten(
        F.transform(
            F.col("__toks"),
            lambda t: F.transform(
                F.filter(
                    F.sequence(F.lit(1), F.greatest(F.length(t) - 1, F.lit(1))),
                    lambda i: i <= F.length(t) - 1,
                ),
                lambda i: F.struct(
                    t.substr(i, F.lit(1)).alias("ca"),
                    t.substr(i + 1, F.lit(1)).alias("cb"),
                ),
            ),
        )
    )
    pairs = (
        docs.select(toks)
        .where(F.size("__toks") >= 1)
        .select(F.explode(word_pairs).alias("p"))
        .select(F.col("p.ca").alias("c_a"), F.col("p.cb").alias("c_b"))
    )
    return (
        pairs.groupBy("c_a", "c_b")
        .agg(F.count("*").alias("n_pairs"))
        .where(F.col("n_pairs") >= min_count)
    )


def pair_supports(
    df: DataFrame,
    basket_col: str,
    item_col: str,
    min_support: int = 2,
    assume_clean: bool = False,
) -> DataFrame:
    """Unordered within-basket item-pair supports — the shared edge/
    rule builder behind ``market_basket`` and the co-purchase graph
    (queries.q_triangle_count).

    Per-basket sorted distinct item sets expand to (ia < ib) pairs as
    a pure nested-transform expression (no self-join of the exploded
    fact); one hash aggregate counts how many baskets contain each
    pair; ``min_support`` thresholds the result. NULL baskets and
    NULL items are dropped up front: Spark's groupBy would fuse every
    NULL basket id into ONE pseudo-basket whose item array expands
    O(m²) pairs of meaningless co-occurrence (and a SQL self-join
    oracle drops them, so keeping them would also diverge engines).

    Returns (ia, ib, s_ab) with ia < ib. ``assume_clean`` skips the
    projection/NULL-drop/distinct for callers that already hold a
    deduplicated non-NULL frame (market_basket checkpoints one) —
    re-running distinct there would add a full extra exchange.
    """
    if assume_clean:
        per = df
    else:
        per = (
            df.select(basket_col, item_col)
            .where(F.col(basket_col).isNotNull() & F.col(item_col).isNotNull())
            .distinct()
        )
    sets = (
        per.groupBy(basket_col)
        .agg(F.array_sort(F.collect_set(item_col)).alias("__items"))
        .where(F.size("__items") >= 2)
    )
    pair_structs = F.flatten(
        F.transform(
            F.sequence(F.lit(1), F.size("__items") - 1),
            lambda i: F.transform(
                F.sequence(i + 1, F.size("__items")),
                lambda j: F.struct(
                    F.element_at("__items", i).alias("ia"),
                    F.element_at("__items", j).alias("ib"),
                ),
            ),
        )
    )
    return (
        sets.select(F.explode(pair_structs).alias("p"))
        .groupBy(F.col("p.ia").alias("ia"), F.col("p.ib").alias("ib"))
        .agg(F.count("*").cast("bigint").alias("s_ab"))
        .where(F.col("s_ab") >= min_support)
    )


def market_basket(
    baskets: DataFrame,
    basket_col: str,
    item_col: str,
    min_support: int = 2,
    k: int = 25,
) -> DataFrame:
    """Association-rule mining over co-occurrence baskets: directed
    rules (antecedent → consequent) with support, confidence and lift
    — the classic market-basket statistic, and at corpus scale the
    'documents citing X also cite Y' signal.

    Pair generation is the skipgram/triangle pattern: per-basket
    sorted item sets expand to unordered pairs as a pure nested-
    transform expression (no self-join of the exploded fact), one
    hash aggregate counts pair support, and rules emit both
    directions from each surviving pair. Item supports and the basket
    total join back onto the (already support-thresholded, hence
    small) rule frame; ranking is on ROUNDED lift/confidence + ids —
    engine-deterministic. One TakeOrdered top-k, no global sort.
    """
    from batch_process_dpla_index_spark.operators.dedup import (
        _CheckpointHandle,
        _with_cached_deps,
    )

    # eager localCheckpoint, not lazy persist: three sibling branches
    # (basket total, pair expansion, item supports) read this frame
    # inside ONE crossJoined job — a lazy cache both races its own
    # materialization across branches and re-prints the distinct's
    # lineage under each one (phantom exchanges in the fingerprint).
    # Storage cost equals a DISK persist; lineage loss is the
    # documented CC-pattern tradeoff. NULL baskets/items drop here,
    # matching pair_supports' contract (and the SQL oracle's join).
    per = (
        baskets.select(basket_col, item_col)
        .where(F.col(basket_col).isNotNull() & F.col(item_col).isNotNull())
        .distinct()
        .localCheckpoint(eager=True)
    )
    n_baskets = per.agg(
        F.count_distinct(F.col(basket_col)).cast("bigint").alias("n_baskets")
    )
    pairs = pair_supports(per, basket_col, item_col, min_support, assume_clean=True)
    rules = pairs.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("ia").alias("antecedent"),
                    F.col("ib").alias("consequent"),
                    F.col("s_ab"),
                ),
                F.struct(
                    F.col("ib").alias("antecedent"),
                    F.col("ia").alias("consequent"),
                    F.col("s_ab"),
                ),
            )
        ).alias("r")
    ).select("r.antecedent", "r.consequent", "r.s_ab")
    sup = per.groupBy(item_col).agg(F.count("*").cast("bigint").alias("__s"))
    sa = sup.select(F.col(item_col).alias("antecedent"), F.col("__s").alias("s_ant"))
    sb = sup.select(F.col(item_col).alias("consequent"), F.col("__s").alias("s_con"))
    out = (
        rules.join(sa, "antecedent")
        .join(sb, "consequent")
        .crossJoin(F.broadcast(n_baskets))
        .select(
            "antecedent",
            "consequent",
            F.col("s_ab").alias("support_pair"),
            "s_ant",
            "s_con",
            F.round(F.col("s_ab") / F.col("s_ant"), 6).alias("confidence"),
            F.round(
                (F.col("s_ab") * F.col("n_baskets"))
                / (F.col("s_ant") * F.col("s_con")),
                6,
            ).alias("lift"),
        )
        .orderBy(
            F.col("lift").desc(),
            F.col("confidence").desc(),
            F.col("antecedent").asc(),
            F.col("consequent").asc(),
        )
        .limit(k)
    )
    return _with_cached_deps(out, [_CheckpointHandle(per)])


def rfm_segments(
    orders: DataFrame,
    cust_col: str = "o_custkey",
    date_col: str = "o_orderdate",
    amount_col: str = "o_totalprice",
) -> DataFrame:
    """RFM (recency / frequency / monetary) quartile segmentation — the
    classic customer-value scoring a warehouse derives straight from
    the order fact (extends the reference's per-record scoring surface,
    MqReports.scala:22-88, to per-entity behavioral scoring).

    Shape: ONE per-customer aggregate (count / max-date / sum), then
    the nine quartile edges come from ONE exact-percentile aggregate
    over that (already small) per-customer frame and fold back as a
    broadcast 1-row join — the same scale-safe edges-then-score shape
    as profiling.quantile_bins, never a global ntile window. Scores
    count strict edge crossings (ties score DOWN), recency inverted so
    4 = most recent; monetary is rounded to cents BEFORE the edge pass
    so both engines quantile identical inputs.

    Returns (custkey, recency_days, frequency, monetary, r_score,
    f_score, m_score, rfm) — one row per customer, rfm = 100r+10f+m.
    """
    base = orders.where(F.col(cust_col).isNotNull()).select(
        F.col(cust_col).alias("custkey"),
        F.col(date_col).alias("__d"),
        F.col(amount_col).alias("__amt"),
    )
    # the per-customer frame is consumed three times (anchor, edges,
    # scoring) — persist IT (tiny vs the order fact) so the corpus
    # scans exactly once; projected to live columns before caching
    per_cust = (
        base.groupBy("custkey")
        .agg(
            F.max("__d").alias("__last"),
            F.count("*").cast("bigint").alias("frequency"),
            F.round(F.sum("__amt"), 2).alias("monetary"),
        )
        .persist()
    )
    # global anchor date: 1-row broadcast, not driver-side collect
    anchor = per_cust.agg(F.max("__last").alias("__anchor"))
    rfm = per_cust.crossJoin(F.broadcast(anchor)).select(
        "custkey",
        F.datediff("__anchor", "__last").cast("bigint").alias("recency_days"),
        "frequency",
        "monetary",
    )
    qs = (0.25, 0.5, 0.75)
    # one array-argument percentile per column, not |qs| scalar
    # aggregates each buffering the column again — identical edges
    # (the quantile_bins rationale), a third of the aggregation state
    qarr = ", ".join(repr(q) for q in qs)
    edges = rfm.agg(
        *[
            F.expr(f"percentile({c}, array({qarr}))").alias(f"__{c[0]}es")
            for c in ("recency_days", "frequency", "monetary")
        ]
    ).select(
        *[
            F.col(f"__{c[0]}es")[i].alias(f"__{c[0]}e{i}")
            for c in ("recency_days", "frequency", "monetary")
            for i in range(len(qs))
        ]
    )

    def _crossings(col: str, prefix: str) -> F.Column:
        expr = F.lit(0)
        for i in range(3):
            expr = expr + (F.col(col) > F.col(f"__{prefix}e{i}")).cast("int")
        return expr

    scored = rfm.crossJoin(F.broadcast(edges)).select(
        "custkey",
        "recency_days",
        "frequency",
        "monetary",
        # recency: LOWER is better -> invert the crossing count
        (F.lit(4) - _crossings("recency_days", "r")).alias("r_score"),
        (F.lit(1) + _crossings("frequency", "f")).alias("f_score"),
        (F.lit(1) + _crossings("monetary", "m")).alias("m_score"),
    )
    out = scored.withColumn(
        "rfm",
        (F.col("r_score") * 100 + F.col("f_score") * 10 + F.col("m_score"))
        .cast("int"),
    )
    from batch_process_dpla_index_spark.operators.dedup import (
        _with_cached_deps,
    )

    return _with_cached_deps(out, [per_cust])


def churn_labels(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    horizon_days: int = 14,
) -> DataFrame:
    """Churn training-label generation: a user is labeled churned when
    their last activity precedes the corpus' latest timestamp by more
    than ``horizon_days`` — the standard label a training pipeline
    derives before fitting a churn model, emitted alongside the basic
    activity features so one pass yields the training frame.

    ONE per-user aggregate (count / distinct-day count / max-ts) plus a
    1-row broadcast global-max anchor; all outputs are integers or
    dates, so the labels are bit-identical across engines. NULL users
    are dropped (a NULL group would fuse unrelated rows into one
    pseudo-user — the same guard as pair_supports).

    Returns (user_id, n_events, active_days, days_since_last, churned).
    """
    base = events.where(F.col(user_col).isNotNull()).select(
        F.col(user_col).alias("user_id"),
        F.col(ts_col).alias("__ts"),
        F.to_date(ts_col).alias("__day"),
    )
    # per-user frame consumed twice (anchor + labeling): persist the
    # small aggregate so the event corpus scans exactly once
    per_user = (
        base.groupBy("user_id")
        .agg(
            F.count("*").cast("bigint").alias("n_events"),
            F.countDistinct("__day").cast("bigint").alias("active_days"),
            F.max("__ts").alias("__last_ts"),
        )
        .persist()
    )
    anchor = per_user.agg(F.max("__last_ts").alias("__anchor_ts"))
    out = per_user.crossJoin(F.broadcast(anchor)).select(
        "user_id",
        "n_events",
        "active_days",
        F.datediff(F.to_date("__anchor_ts"), F.to_date("__last_ts"))
        .cast("bigint")
        .alias("days_since_last"),
        (
            F.col("__last_ts")
            < F.col("__anchor_ts") - F.expr(f"INTERVAL {int(horizon_days)} DAYS")
        )
        .cast("int")
        .alias("churned"),
    )
    from batch_process_dpla_index_spark.operators.dedup import (
        _with_cached_deps,
    )

    return _with_cached_deps(out, [per_user])


def attribution_time_decay(
    events: DataFrame,
    conversion_type: str = "purchase",
    lookback_days: int = 7,
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    id_col: str = "event_id",
    round_credit: bool = True,
) -> DataFrame:
    """Multi-touch attribution with time-decay credit — the fractional
    complement of `attribution_last_touch` (winner-takes-all): every
    touch inside the ``lookback_days`` window before a conversion gets
    weight 0.5^d where d = whole days between touch and conversion,
    credits normalized to sum to 1 per conversion, rolled up per
    channel.

    Cross-engine exactness by construction (the integer-grid trick's
    float-free cousin): d is an integer in [0, lookback), so every
    weight is the exact dyadic 2^-d — computed as 1.0 / shiftleft(1L,
    d), an integer shift plus one exact power-of-two divide, never
    libm pow — every per-conversion denominator is an exact multiple
    of 2^-(lookback-1), and credit = w/denom is a single deterministic
    IEEE divide. Only the final per-channel credit sum is
    order-dependent, absorbed by the round.

    Plan: one shuffle joins touches to same-user conversions (range
    predicate post-filters the equi-join; per-user event volume is
    bounded by the session contract), one window keyed
    (user, conversion) builds the denominator, one map-side-combined
    aggregate rolls up channels. Conversions with zero in-window
    touches simply contribute nothing (no 'none' row — last-touch
    covers that diagnostic)."""
    # JVM shifts are mod-64: shiftleft(1L, 63) is Long.MIN_VALUE (a
    # NEGATIVE weight) and shiftleft(1L, 64) wraps back to 1L (weight
    # 1.0) — silently corrupt credits once the window is wide enough
    # to reach d >= 63. d < lookback_days by the strict range bound
    # below, so lookback_days <= 63 keeps every shift in range; wider
    # windows must fail loudly rather than wrap.
    if lookback_days > 63:
        raise ValueError(
            "attribution_time_decay: lookback_days must be <= 63 (the "
            "exact-dyadic 2^-d weight uses a 64-bit shift; d >= 63 "
            f"would wrap mod 64), got {lookback_days}"
        )
    base = events.where(
        F.col(user_col).isNotNull() & F.col(ts_col).isNotNull()
    )
    conv = base.where(F.col(type_col) == conversion_type).select(
        F.col(user_col).alias("u"),
        F.col(ts_col).alias("cts"),
        F.col(id_col).alias("conv_id"),
    )
    touches = base.where(F.col(type_col) != conversion_type).select(
        F.col(user_col).alias("u"),
        F.col(ts_col).alias("tts"),
        F.col(type_col).alias("channel"),
    )
    j = touches.join(conv, "u").where(
        (F.col("tts") < F.col("cts"))
        # STRICT lower bound: a touch exactly lookback_days old would
        # get d == lookback_days, breaking the documented d in
        # [0, lookback) dyadic invariant the oracle relies on
        & (
            F.col("tts")
            > F.col("cts") - F.expr(f"INTERVAL {int(lookback_days)} DAYS")
        )
    )
    d = F.floor(
        (F.unix_micros("cts") - F.unix_micros("tts")) / F.lit(86400000000.0)
    )
    # exact dyadic 2^-d: integer shift + power-of-two divide (no libm)
    j = j.withColumn("__d", d.cast("int"))
    w = F.lit(1.0) / F.expr("shiftleft(1L, __d)")
    denom = F.sum(w).over(Window.partitionBy("u", "conv_id"))
    return (
        j.select("channel", (w / denom).alias("credit"))
        .groupBy("channel")
        .agg(
            F.count("*").alias("n_touches"),
            # sums round 2, scalars round 6 (the repo-wide parity
            # convention): a channel sums ~1e4+ credits at bench SF and
            # a 6dp boundary would flake on accumulation order.
            # round_credit=False keeps the raw sum so invariant tests
            # can assert exact credit conservation (per-conversion
            # credits sum to 1 BEFORE any rounding; the 2dp display
            # round can carry up to 0.005 error per channel).
            (
                F.round(F.sum("credit"), 2)
                if round_credit
                else F.sum("credit")
            ).alias("credit"),
        )
        .orderBy("channel")
    )
