"""Named query registry — the engine's public query surface.

Each entry is ``(spark, sf_dir) -> DataFrame`` over the driver fixture
tables (TESTDATA.md). Together they cover SURVEY.md §2's operator
inventory: scans, projections/filters/CASE presence flags (P1-P8),
joins incl. broadcast/semi/anti (§2.4 extension), aggregations (A1-A4),
windows/top-k (§2.6), set ops (U1), scalar functions (F1-F14),
tumbling/sliding/session time windows (§2.11 extension), and the
LLM-data-pipeline operators (dedup, similarity, text analysis).

Every computed column is aliased; ``oracles.py`` carries the matching
DuckDB SQL with identical column names (the driver's correctness gate
hashes values under sorted column names).

Scale notes are per-query docstrings: each declares its shuffle
structure and why the plan survives a 100 TB input.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from batch_process_dpla_index_spark.functions.presence import (
    like_any,
    present_string,
)
from batch_process_dpla_index_spark.functions.text import (
    fingerprint,
    language_id_tok,
    mean_token_len_tok,
    normalize,
    punct_ratio_nrm,
    quality_score_tok,
    rolling_hash,
    stopword_ratio_tok,
    token_count,
    tokens,
)
from batch_process_dpla_index_spark.operators.dedup import (
    connected_components,
    exact_dedup,
    jaccard_pairs,
    keep_first,
    minhash_lsh_pairs,
    simhash_pairs,
)
from batch_process_dpla_index_spark.operators.relational import (
    anti_join,
    join_dim,
    range_join,
    salted_join,
    semi_join,
    top_k,
)
from batch_process_dpla_index_spark.operators.similarity import (
    cell_occupancy,
    cosine_topk,
    embedding_near_dup,
    ivf_topk,
    lsh_ann_topk,
)
from batch_process_dpla_index_spark.sources.tables import load_table
from batch_process_dpla_index_spark.streaming.windows import (
    session_agg,
    sliding_agg,
    tumbling_agg,
)

# ---------------------------------------------------------------------------
# Relational core (reference A1/A2 aggregation shape + extension joins)
# ---------------------------------------------------------------------------


# Fixture dirs where the driver/fleet gates replay the static DuckDB
# oracles (sf0.1 is bench-only — adaptive rules legitimately engage
# there, e.g. incremental_semantic_dedup resolves n_cells=28).
_VERIFICATION_SF_DIRS = ("sf0.001", "sf0.01")


def _assert_oracle_constant(
    query: str, sf_dir: str, param: str, resolved: int, pinned: int
) -> None:
    """Fail LOUDLY when an adaptively-sized parameter diverges from the
    constant its static oracle is pinned at, on a verification fixture.

    Queries like semantic_dedup size k = max(32, N // 64) so pair work
    stays linear at scale, while their registered DuckDB oracles replay
    a fixed k. Every verification SF resolves to the floor today; if a
    fixture ever grows past the floor's range, the driver gate would
    fail as an opaque value-hash mismatch. This guard turns that into a
    named error at plan-build time instead."""
    import os

    if os.path.basename(os.path.normpath(sf_dir)) in _VERIFICATION_SF_DIRS:
        if resolved != pinned:
            raise AssertionError(
                f"{query}: adaptive {param}={resolved} diverges from the "
                f"oracle's pinned {param}={pinned} on verification fixture "
                f"{sf_dir!r} — re-pin the oracle (or shrink the fixture) "
                "before trusting the driver gate"
            )


def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q1-shaped scan→filter→hash-agg (reference A1 shape,
    MqReports.scala:94-111 analog). One shuffle (partial+final agg);
    filter and the 6-column projection push into the parquet scan."""
    li = load_table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(disc_price), 2).alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 6).alias("avg_price"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


def q_top_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-k (W1): orderBy+limit → TakeOrderedAndProject (local
    top-k per partition, single-reduce merge — no full sort at scale)."""
    orders = load_table(spark, sf_dir, "orders")
    return top_k(
        orders.select(
            "o_orderkey", F.round("o_totalprice", 2).alias("o_totalprice")
        ),
        [F.col("o_totalprice").desc(), F.col("o_orderkey").asc()],
        10,
    )


def q_region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Star join: fact lineitem ⋈ orders (shuffle) then broadcast dims
    customer/nation/region — at 100 TB only the fact-fact join shuffles;
    every dim ships to executors (J1)."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    joined = (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .transform(lambda d: join_dim(d, customer, F.col("o_custkey") == F.col("c_custkey")))
        .transform(lambda d: join_dim(d, nation, F.col("c_nationkey") == F.col("n_nationkey")))
        .transform(lambda d: join_dim(d, region, F.col("n_regionkey") == F.col("r_regionkey")))
    )
    return joined.groupBy("r_name").agg(
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"),
        F.countDistinct("o_orderkey").alias("n_orders"),
    )


def q_segment_with_f_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-semi join (J1): customers having ≥1 'F' order, counted per
    market segment. Semi avoids materializing the match multiplicity."""
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    f_orders = orders.filter(F.col("o_orderstatus") == "F").select(
        F.col("o_custkey").alias("c_custkey")
    )
    return (
        semi_join(customer, f_orders, "c_custkey")
        .groupBy("c_mktsegment")
        .agg(F.count("*").alias("n_customers"))
    )


def q_customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-anti join (J1): customers with zero orders, per nation."""
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    return (
        anti_join(customer, orders.select(F.col("o_custkey").alias("c_custkey")), "c_custkey")
        .groupBy("c_nationkey")
        .agg(F.count("*").alias("n_customers"))
    )


def q_brand_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact ⋈ broadcast part dim → per-brand rollup of qty/revenue."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    return (
        join_dim(li, part, F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_brand")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"),
            F.count("*").alias("n_items"),
        )
    )


def q_priority_by_month(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date bucketing (F11) + two-key agg (A2)."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.withColumn("order_month", F.date_format("o_orderdate", "yyyy-MM"))
        .groupBy("order_month", "o_orderpriority")
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("sum_price"),
        )
    )


def q_scalar_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar-function sweep over customer (F1 substring_index, F3
    substring, F4 concat_ws, F12 CASE boolean algebra, F14 math).
    Pure narrow projection — no shuffle at any scale."""
    customer = load_table(spark, sf_dir, "customer")
    return customer.select(
        "c_custkey",
        F.substring_index("c_name", "#", -1).alias("cust_num"),
        F.length("c_name").cast("bigint").alias("name_len"),
        F.substring("c_name", 1, 8).alias("abbrev"),
        F.concat_ws("|", F.col("c_mktsegment"), F.col("c_nationkey").cast("string")).alias("seg_tag"),
        F.when(F.col("c_acctbal") < 0, "neg")
        .when(F.col("c_acctbal") < 5000, "mid")
        .otherwise("high")
        .alias("bal_bucket"),
        F.round(F.sqrt(F.abs(F.col("c_acctbal"))), 6).alias("bal_mag"),
    )


def q_union_entities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """n-ary union-all (U1, JsonlDump.scala:51 shape) + per-kind agg."""
    customer = load_table(spark, sf_dir, "customer")
    supplier = load_table(spark, sf_dir, "supplier")
    part = load_table(spark, sf_dir, "part")
    from functools import reduce

    parts = [
        customer.select(F.col("c_custkey").alias("entity_key"), F.lit("customer").alias("kind")),
        supplier.select(F.col("s_suppkey").alias("entity_key"), F.lit("supplier").alias("kind")),
        part.select(F.col("p_partkey").alias("entity_key"), F.lit("part").alias("kind")),
    ]
    return (
        reduce(DataFrame.unionByName, parts)
        .groupBy("kind")
        .agg(
            F.count("*").alias("n_rows"),
            F.min("entity_key").alias("min_key"),
            F.max("entity_key").alias("max_key"),
        )
    )


def q_distinct_parts_per_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """count_distinct per group (extension of A-block)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.countDistinct("l_partkey").alias("n_parts"),
        F.countDistinct("l_suppkey").alias("n_supps"),
        F.count("*").alias("n_rows"),
    )


def q_rollup_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP grouping sets (extension of §2.5 — absent in the
    reference, stock GroupedData API here)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.count("*").alias("n_rows"),
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
    )


# ---------------------------------------------------------------------------
# Window functions & time windows over events (§2.6 / §2.11 extension)
# ---------------------------------------------------------------------------


def q_latest_events_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking window (W1): latest 3 events per user. One shuffle on
    user_id; AQE splits skewed users."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("ts").desc(), F.col("event_id").desc())
    return (
        ev.withColumn("rn", F.row_number().over(w).cast("int"))
        .filter(F.col("rn") <= 3)
        .select("user_id", "event_id", "rn")
    )


def q_rolling_user_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Analytic frames (W1 rowsBetween) + lag: per-user rolling sum over
    the trailing 3 events and delta vs the previous event."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    frame = w.rowsBetween(-2, 0)
    return ev.select(
        "event_id",
        "user_id",
        F.round(F.sum("value").over(frame), 6).alias("rolling_value"),
        F.round(F.col("value") - F.lag("value", 1).over(w), 6).alias("delta_prev"),
    )


def q_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series regularization: per-user hourly resample onto a
    dense grid between the user's first and last active hour, with
    observed hourly sums forward-filled across silent hours (the
    resample + ffill shape every metrics pipeline needs). Grid
    generation is a narrow sequence-explode off a per-user span
    aggregate; the fill is last(ignorenulls) over one per-user window
    — two shuffles total (span agg + window), grid rows ∝ users×span
    hours, never events×hours."""
    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "user_id", F.date_trunc("hour", F.col("ts")).alias("hr")
    ).agg(F.round(F.sum("value"), 6).alias("v"))
    spans = hourly.groupBy("user_id").agg(
        F.min("hr").alias("h0"), F.max("hr").alias("h1")
    )
    grid = spans.select(
        "user_id",
        F.explode(F.sequence("h0", "h1", F.expr("INTERVAL 1 HOUR"))).alias("hr"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("hr")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        grid.join(hourly, ["user_id", "hr"], "left")
        .select(
            "user_id",
            F.unix_micros("hr").alias("hr_us"),
            F.col("v").isNotNull().alias("observed"),
            F.last("v", ignorenulls=True).over(w).alias("v_filled"),
        )
    )


def q_melt_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot (melt): four lineitem measure columns become
    (metric, val) rows — the wide→long reshape (Spark 3.4+ native
    ``unpivot``; pure narrow Generate, zero shuffle)."""
    li = load_table(spark, sf_dir, "lineitem")
    cols = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]
    return li.select(
        "l_orderkey", "l_linenumber", *[F.col(c).cast("double") for c in cols]
    ).unpivot(
        ["l_orderkey", "l_linenumber"], cols, "metric", "__v"
    ).select(
        "l_orderkey", "l_linenumber", "metric", F.round("__v", 6).alias("val")
    )


def q_event_rank_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking-function suite (W1 extension): dense_rank / percent_rank
    / ntile(4) / lead over one per-user window — a single window
    shuffle shared by all four functions (one Exchange + sort; Spark
    evaluates the whole frame family in one Window node)."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.col("value").desc(), F.col("event_id").asc()
    )
    return ev.select(
        "event_id",
        "user_id",
        F.dense_rank().over(w).alias("value_dense_rank"),
        F.round(F.percent_rank().over(w), 6).alias("value_pct_rank"),
        F.ntile(4).over(w).alias("value_quartile"),
        F.round(F.lead("value", 1).over(w), 6).alias("next_lower_value"),
    )


def q_hourly_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling window (ST1): 1-hour buckets × event_type."""
    ev = load_table(spark, sf_dir, "events")
    out = tumbling_agg(
        ev,
        "ts",
        "1 hour",
        ["event_type"],
        [F.count("*").alias("n_events"), F.round(F.sum("value"), 6).alias("sum_value")],
    )
    return out.select(
        F.unix_micros(F.col("win.start")).alias("win_start"),
        "event_type",
        "n_events",
        "sum_value",
    )


def q_sliding_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding window (ST1): 2-hour windows sliding hourly — each event
    lands in exactly 2 windows."""
    ev = load_table(spark, sf_dir, "events")
    out = sliding_agg(ev, "ts", "2 hours", "1 hour", [], [F.count("*").alias("n_events")])
    return out.select(F.unix_micros(F.col("win.start")).alias("win_start"), "n_events")


def q_user_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows (ST1): 30-minute-gap sessions per user. The
    session merge runs inside Spark's session-window aggregation (one
    shuffle on user_id); the oracle replicates it as gaps-and-islands."""
    ev = load_table(spark, sf_dir, "events")
    out = session_agg(
        ev,
        "ts",
        "30 minutes",
        ["user_id"],
        [F.count("*").alias("n_events"), F.round(F.sum("value"), 6).alias("sum_value")],
    )
    return out.select(
        "user_id",
        F.unix_micros(F.col("win.start")).alias("session_start"),
        F.unix_micros(F.col("win.end")).alias("session_end"),
        "n_events",
        "sum_value",
    )


def q_props_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON extraction (F13, the `events.props` surface): parse the
    props object per event and aggregate the extracted field."""
    ev = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("bigint")
    return (
        ev.withColumn("k", k)
        .groupBy("event_type")
        .agg(
            F.count("k").alias("n_with_k"),
            F.sum("k").alias("sum_k"),
            F.round(F.avg("k"), 6).alias("avg_k"),
        )
    )


# ---------------------------------------------------------------------------
# Dedup / text analysis over documents (LLM-pipeline extension)
# ---------------------------------------------------------------------------


def q_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup survivors (min doc_id per content digest)."""
    docs = load_table(spark, sf_dir, "documents")
    return exact_dedup(docs, "text", "doc_id")


def q_keep_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep-first window dedup: shortest doc per (source, lang)."""
    docs = load_table(spark, sf_dir, "documents")
    return keep_first(docs, ["source", "lang"], "n_chars", "doc_id").select(
        "doc_id", "source", "lang", "n_chars"
    )


def q_fingerprint_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-set fingerprint clustering (document fingerprinting)."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(fingerprint(F.col("text")).alias("fp"), "doc_id")
        .groupBy("fp")
        .agg(F.count("*").alias("n_docs"), F.min("doc_id").alias("first_doc"))
    )


def q_fingerprint_folded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asciifolding normalization tier — ES analyzer parity (lowercase
    + asciifolding + shingles, index-settings-and-mappings-
    necropolis.json:9-14): accented spellings ('Café Résumé') fold to
    their ASCII twins before fingerprinting, so they collide the way
    the reference's search analyzer folds them at index time. Docs are
    decorated with deterministic accented/plain prefixes so the fold is
    actually exercised; the oracle replays it with DuckDB's independent
    ``strip_accents``. Pure ``translate`` + md5 in the scan projection —
    no shuffle, no UDF."""
    from batch_process_dpla_index_spark.functions.text import (
        fingerprint_folded,
        normalize_folded,
    )

    docs = load_table(spark, sf_dir, "documents")
    m = F.pmod(F.col("doc_id"), F.lit(4))
    prefix = (
        F.when(m == 0, F.lit("Café Résumé "))
        .when(m == 1, F.lit("Cafe Resume "))
        .when(m == 2, F.lit("Naïve Façade "))
        .otherwise(F.lit("Naive Facade "))
    )
    dtext = F.concat(prefix, F.col("text"))
    return docs.select(
        "doc_id",
        F.substring(normalize_folded(dtext), 1, 80).alias("folded_head"),
        fingerprint_folded(dtext).alias("fp_folded"),
        (fingerprint_folded(dtext) != fingerprint(dtext)).cast("int").alias("folding_changed"),
    )


def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document text metrics: token count, mean token length,
    punctuation ratio, stopword ratio, composite quality score. The
    token array and normalized text are materialized once — the metric
    expressions reference them ~15 times, and inline re-tokenization
    (regex + split per reference) dominated round-1 runtime."""
    docs = load_table(spark, sf_dir, "documents")
    base = docs.select(
        "doc_id",
        tokens(F.col("text")).alias("__tok"),
        normalize(F.col("text")).alias("__nrm"),
    )
    tok, nrm = F.col("__tok"), F.col("__nrm")
    return base.select(
        "doc_id",
        F.size(tok).cast("bigint").alias("n_tokens"),
        F.round(mean_token_len_tok(tok), 6).alias("mean_tok_len"),
        F.round(punct_ratio_nrm(nrm), 6).alias("punct_ratio"),
        F.round(stopword_ratio_tok(tok), 6).alias("stopword_ratio"),
        F.round(quality_score_tok(tok, nrm), 6).alias("quality"),
    )


def q_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic language ID vs the labeled lang column, aggregated into
    a (lang, guess) confusion table. Token array materialized once (the
    vote CASE references it ~12 times)."""
    docs = load_table(spark, sf_dir, "documents")
    base = docs.select("lang", tokens(F.col("text")).alias("__tok"))
    return (
        base.select("lang", language_id_tok(F.col("__tok")).alias("lang_guess"))
        .groupBy("lang", "lang_guess")
        .agg(F.count("*").alias("n_docs"))
    )


def q_rolling_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-sensitive polynomial fingerprint per document."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select("doc_id", rolling_hash(tokens(F.col("text"))).alias("rhash"))


def q_doc_presence_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The flagship: MQ-reports-shaped presence scoring (P5-P8 + A1,
    MqReports.scala:22-134 analog on the documents corpus): CASE-WHEN
    flags per doc, then per-source mean completeness + count. Scan →
    narrow flags → one partial+final hash agg; at 100 TB this is one
    shuffle of |sources| × flags tiny rows."""
    docs = load_table(spark, sf_dir, "documents")
    t = F.col("text")
    flagged = docs.select(
        "source",
        present_string(t).alias("has_text"),
        F.when(token_count(t) >= 50, 1).otherwise(0).alias("is_long"),
        like_any(t, ["%spark%", "%query%", "%data%"]).alias("mentions_engine"),
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("is_english"),
        F.lit(1).alias("count"),
    )
    return flagged.groupBy("source").agg(
        F.round(F.avg("has_text"), 6).alias("has_text_score"),
        F.round(F.avg("is_long"), 6).alias("is_long_score"),
        F.round(F.avg("mentions_engine"), 6).alias("mentions_engine_score"),
        F.round(F.avg("is_english"), 6).alias("is_english_score"),
        F.sum("count").alias("n_docs"),
    )


def q_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-gram Jaccard near-dup pairs at J ≥ 0.4 (inverted-index
    join — quadratic only within a shingle's posting list)."""
    docs = load_table(spark, sf_dir, "documents")
    return jaccard_pairs(docs, "text", "doc_id", n=3, threshold=0.4)


def q_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH candidate generation + exact-Jaccard verification at
    J ≥ 0.5 (the 100 TB dedup path: bands×docs shuffle, capped buckets,
    zero false positives)."""
    docs = load_table(spark, sf_dir, "documents")
    return minhash_lsh_pairs(
        docs, "text", "doc_id", n=3, threshold=0.5, num_perm=64, bands=16
    )


def q_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs within Hamming ≤ 3 via pigeonhole band
    join (no cross join at any scale)."""
    docs = load_table(spark, sf_dir, "documents")
    return simhash_pairs(docs, "text", "doc_id", bits=60, max_hamming=3)


# ---------------------------------------------------------------------------
# Similarity search over embeddings
# ---------------------------------------------------------------------------


def q_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-5 cosine neighbors for the first 25 vectors (brute-force
    baseline tier; the LSH variant is the scale path)."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 25)
    return cosine_topk(emb, queries, "vec_id", "embedding", k=5)


def q_lsh_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed approximate all-pairs top-5 (shuffle on bucket keys
    only — never all pairs)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return lsh_ann_topk(
        emb, "vec_id", "embedding", dim=64, k=5, n_planes=8, n_tables=4
    )


# ---------------------------------------------------------------------------
# DPLA reference parity: nested model → flatten → MQ reports
# (items synthesized deterministically from documents; the DuckDB oracle
# recomputes the expected flat outputs in closed form — see model/fixtures.py)
# ---------------------------------------------------------------------------


def _flat_leaves(flat: DataFrame) -> DataFrame:
    """Leaf projection used by the flatten/repair parity queries —
    every D2 macro contributes at least one leaf."""
    sr = "sourceResource"
    return flat.select(
        "id",
        "uri",
        "rights",
        F.col("provider.name").alias("provider_name"),
        F.col("provider.uri").alias("provider_uri"),
        F.col("dataProvider.name").alias("dataprovider_name"),
        F.col("iiifManifest").alias("iiif"),
        F.size(f"{sr}.title").alias("n_title"),
        F.get(f"{sr}.title", 0).alias("title0"),
        F.get(f"{sr}.creator", 0).getField("uri").alias("creator0_uri"),
        F.get(f"{sr}.language", 0).getField("providedLabel").alias("lang0"),
        F.get(F.get(f"{sr}.place", 0).getField("exactMatch"), 0).alias("place0_exact"),
        F.get(f"{sr}.collection", 0).getField("isShownAt").getField("uri").alias("coll0_shownat"),
        F.get(f"{sr}.relation", 0).alias("rel0"),
        F.get(F.get("mediaMaster", 0).getField("format"), 0).alias("media0_format"),
        F.get("hasView", 0).getField("isReferencedBy").alias("hasview0_ref"),
        F.when(F.col("object").isNull(), 1).otherwise(0).alias("object_missing"),
    )


def _mq_rounded(scores: DataFrame, keys: list[str]) -> DataFrame:
    from batch_process_dpla_index_spark.quality.mq import SCORE_COLS

    return scores.select(
        *keys,
        *[F.round(c, 6).alias(c) for c in SCORE_COLS],
        F.col("count"),
    )


def q_mq_provider_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full reference pipeline: synthesize enriched items → ParquetDump
    flatten (D2 macros) → 16-flag itemdata SQL → per-provider mean
    scores (MqReports.scala:22-111). One narrow reshape + one hash-agg
    shuffle of |providers| rows at any scale."""
    from batch_process_dpla_index_spark.model.fixtures import synthesize_enriched
    from batch_process_dpla_index_spark.model.flatten import modify_columns
    from batch_process_dpla_index_spark.quality.mq import item_data, provider_scores

    docs = load_table(spark, sf_dir, "documents")
    flat = modify_columns(synthesize_enriched(docs))
    return _mq_rounded(
        provider_scores(item_data(spark, flat, view="items_mqp")), ["provider"]
    )


def q_mq_contributor_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-key MQ scores keyed (dataProvider, provider)
    (MqReports.scala:113-134)."""
    from batch_process_dpla_index_spark.model.fixtures import synthesize_enriched
    from batch_process_dpla_index_spark.model.flatten import modify_columns
    from batch_process_dpla_index_spark.quality.mq import contributor_scores, item_data

    docs = load_table(spark, sf_dir, "documents")
    flat = modify_columns(synthesize_enriched(docs))
    return _mq_rounded(
        contributor_scores(item_data(spark, flat, view="items_mqc")),
        ["dataProvider", "provider"],
    )


def q_flatten_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ParquetDump reshape parity (ParquetDump.scala:10-52): enriched →
    flatten → leaf projection through every EDM macro."""
    from batch_process_dpla_index_spark.model.fixtures import synthesize_enriched
    from batch_process_dpla_index_spark.model.flatten import modify_columns

    docs = load_table(spark, sf_dir, "documents")
    return _flat_leaves(modify_columns(synthesize_enriched(docs)))


def q_avro_flatten_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's ACTUAL input path, end to end: enriched items →
    Avro containers on disk → multi-path Avro scan → flatten → leaf
    projection (ParquetDump.scala:116 Avro scan then the :10-52
    reshape). The Avro leg runs for real through the bundled
    pure-Python OCF codec (io/avro_py.py): per-partition executor
    writes, binaryFile + executor-side decode reads. Output is
    identical to ``flatten_items``, which is exactly the point: the
    oracle proves the Avro round trip is lossless on the full nested
    EDM model."""
    import hashlib as _hl
    import tempfile as _tf

    from batch_process_dpla_index_spark.io.sinks import read_avro, write_avro
    from batch_process_dpla_index_spark.model.fixtures import synthesize_enriched
    from batch_process_dpla_index_spark.model.flatten import modify_columns

    docs = load_table(spark, sf_dir, "documents")
    enriched = synthesize_enriched(docs).repartition(16, "dplaUri")
    tag = _hl.md5(sf_dir.encode()).hexdigest()[:12]
    path = f"{_tf.gettempdir()}/spark_graft_avro_{tag}"
    write_avro(enriched, path)
    return _flat_leaves(modify_columns(read_avro(spark, path)))


def q_repair_flatten(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SchemaRepair → ParquetDump composition (SchemaRepair.scala:88-138
    then ParquetDump.scala:10-52): raw provider shape → canonical →
    flat leaves. The repair-injected typed nulls (isReferencedBy,
    collection.isShownAt, place.exactMatch) surface as NULL leaves."""
    from batch_process_dpla_index_spark.model.fixtures import synthesize_raw
    from batch_process_dpla_index_spark.model.flatten import modify_columns
    from batch_process_dpla_index_spark.model.repair import fix_schema

    docs = load_table(spark, sf_dir, "documents")
    return _flat_leaves(modify_columns(fix_schema(synthesize_raw(docs))))


def q_schema_align(spark: SparkSession, sf_dir: str) -> DataFrame:
    """align_to_schema parity (the generalized ESDN fix,
    SchemaRepair.scala:12-24): a provider frame missing two columns and
    carrying a drifted int column is reconciled to the canonical
    schema; nulls/casts verified by aggregate."""
    from pyspark.sql.types import StructType

    from batch_process_dpla_index_spark.model.schema import align_to_schema

    docs = load_table(spark, sf_dir, "documents")
    divergent = docs.select(
        "doc_id", "text", F.col("n_chars").cast("int").alias("n_chars")
    )
    target = StructType.fromDDL(
        "doc_id BIGINT, text STRING, lang STRING, source STRING, "
        "n_chars BIGINT, quality DOUBLE"
    )
    aligned = align_to_schema(divergent, target)
    return aligned.agg(
        F.count("*").alias("n_rows"),
        F.count("lang").alias("n_lang"),
        F.count("source").alias("n_source"),
        F.count("quality").alias("n_quality"),
        F.sum("n_chars").alias("sum_chars"),
    )


def q_sitemap_urls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sitemap assignment parity (Sitemap.scala:24-27 semantics with the
    portable h60 bucket hash): id → URL + subfile part."""
    from batch_process_dpla_index_spark.products.sitemap import (
        ITEM_URL_PREFIX,
        assign_subfiles,
    )

    docs = load_table(spark, sf_dir, "documents")
    ids = docs.select(F.col("doc_id").cast("string").alias("id"))
    assigned, _n = assign_subfiles(ids, "id", max_rows=100)
    return assigned.select(
        "id", F.concat(F.lit(ITEM_URL_PREFIX), F.col("id")).alias("url"), "part"
    )


# ---------------------------------------------------------------------------
# Multimodal binary columns (opaque media + typed metadata)
# ---------------------------------------------------------------------------


def _docs_with_blob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents → (doc_id, blob): text bytes prefixed with a real
    container magic chosen by doc_id%4 (png/jpeg/gif/none) so the
    sniffing path is exercised end-to-end."""
    docs = load_table(spark, sf_dir, "documents")
    m = F.col("doc_id") % 4
    magic = (
        F.when(m == 0, F.lit(b"\x89PNG"))
        .when(m == 1, F.lit(bytes.fromhex("FFD8FFE0")))
        .when(m == 2, F.lit(b"GIF8"))
        .otherwise(F.lit(b""))
    )
    # coalesce BEFORE concat: Spark's concat is NULL if any arg is
    # NULL, so a NULL text would erase the magic prefix too and the
    # engine's None→b"" decode fallback would diverge from the
    # oracle's per-branch arithmetic (_BLOB_CTE coalesces the same
    # way) — NULL text behaves as empty text on BOTH sides
    return docs.select(
        "doc_id",
        F.concat(
            magic, F.encode(F.coalesce(F.col("text"), F.lit("")), "UTF-8")
        ).alias("blob"),
    )


def q_multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary metadata extraction: byte length + magic + container
    sniff, pure Column expressions (the digest column is exercised in
    pytest — the oracle engine lacks blob md5)."""
    from batch_process_dpla_index_spark.operators.multimodal import binary_metadata

    meta = binary_metadata(_docs_with_blob(spark, sf_dir), "blob", "doc_id")
    return meta.select("doc_id", "byte_len", "magic", "kind")


def q_multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-batched mapInPandas decode plumbing with the deterministic
    fake decoder (no codec in this environment): closed-form
    width/height → fully oracle-verifiable."""
    from batch_process_dpla_index_spark.operators.multimodal import decode_images

    decoded = decode_images(_docs_with_blob(spark, sf_dir), "blob", "doc_id")
    return decoded.select(
        F.col("id").alias("doc_id"), "width", "height", "n_pixels"
    )


def q_multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aspect-preserving resize-to-fit geometry (r12): the
    training-pipeline letterbox pass through the same Arrow decode
    plumbing — scale = min(224/w, 224/h), floor'd output dims. IEEE
    double division/floor over integer operands is bit-deterministic
    cross-engine, so the whole row (not just the rounded scale) is
    hash-verifiable."""
    from batch_process_dpla_index_spark.operators.multimodal import resize_images

    resized = resize_images(_docs_with_blob(spark, sf_dir), "blob", "doc_id")
    return resized.select(
        F.col("id").alias("doc_id"),
        "src_width",
        "src_height",
        "width",
        "height",
        F.round("scale", 6).alias("scale"),
    )


def q_multimodal_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video-style frame sampling (1 row → N frame rows inside
    mapInPandas): every 4th 256-byte window."""
    from batch_process_dpla_index_spark.operators.multimodal import sample_frames

    frames = sample_frames(_docs_with_blob(spark, sf_dir), "blob", "doc_id")
    return frames.select(F.col("id").alias("doc_id"), "frame_no", "offset")


def _blob_corpus_with_variants(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document blobs plus a RE-CONTAINERED variant of every 5th doc
    (same payload behind a JPEG magic, id offset 10^9) — the canonical
    scenario perceptual dedup exists for: byte-level digests see two
    distinct files, the content hash sees one image. ONE constructor
    shared by q_image_near_dup and q_image_dedup_survivors so the two
    stages of the pipeline can't drift from each other (or from the
    oracle twin's variant CTE)."""
    docs = load_table(spark, sf_dir, "documents")
    variants = docs.filter(F.col("doc_id") % 5 == 0).select(
        (F.col("doc_id") + F.lit(1_000_000_000)).alias("doc_id"),
        F.concat(
            F.lit(bytes.fromhex("FFD8FFE0")),
            F.encode(F.coalesce(F.col("text"), F.lit("")), "UTF-8"),
        ).alias("blob"),
    )
    return _docs_with_blob(spark, sf_dir).unionByName(variants)


def q_image_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual near-duplicate pairs over the blob column (r13): the
    image-dedup step every multimodal training pipeline runs, over the
    re-containered-variant corpus (_blob_corpus_with_variants). One
    Arrow signature pass (60-bit blockhash, all-integer threshold
    arithmetic so the DuckDB oracle replays it bit-exactly; PIL slots
    into the hasher when present) into the SAME banded-Hamming kernel
    as simhash_pairs — pigeonhole band equi-join + popcount verify,
    never all-pairs."""
    from batch_process_dpla_index_spark.operators.multimodal import image_near_dup

    corpus = _blob_corpus_with_variants(spark, sf_dir)
    return image_near_dup(corpus, "blob", "doc_id", bits=60, max_hamming=3)


def _blob_survivors(corpus: DataFrame, pairs: DataFrame) -> DataFrame:
    """pairs → connected components → min-id representative + unpaired
    ids: THE survivors plumbing shared by the three perceptual dedup
    queries and the modality report (round-14 review: four hand-copies
    of the chain, including the subtle release ordering — the pair
    signatures unpersist eagerly, which is safe ONLY because
    connected_components checkpoints before returning; keeping that
    contract in one place is the point)."""
    from batch_process_dpla_index_spark.operators.dedup import (
        carry_deps,
        dedup_survivors,
        unpersist_deps,
    )

    kept = dedup_survivors(corpus.select("doc_id"), pairs, "doc_id")
    unpersist_deps(pairs)
    return carry_deps(kept.select("doc_id"), kept)


def q_image_dedup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full image-dedup pipeline a multimodal training run
    materializes (r13): perceptual pairs → connected components →
    keep the min-id representative per cluster plus all unpaired
    blobs. Completes the chain image_near_dup starts, through the
    same checkpointed min-label-propagation fixpoint the text dedup
    family uses; the oracle replays it with a recursive
    transitive-closure CTE."""
    return _image_survivors_from(_blob_corpus_with_variants(spark, sf_dir))


def _image_survivors_from(corpus: DataFrame) -> DataFrame:
    """The image chain over a caller-supplied blob corpus — ONE body
    shared by the registry query and modality_dup_report (which passes
    a persisted corpus so the three report chains share one
    materialized blob frame instead of re-deriving it per chain)."""
    from batch_process_dpla_index_spark.operators.multimodal import image_near_dup

    return _blob_survivors(
        corpus,
        image_near_dup(corpus, "blob", "doc_id", bits=60, max_hamming=3),
    )

def q_video_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video-style near-dup pairs (r13): blobs pairing on >= 2 shared
    distinct frame fingerprints over the re-containered-variant corpus
    — shot-fingerprint dedup, where a re-containered copy keeps every
    frame window past the magic byte-identical while the whole-file
    digest differs. Fan-out frame blockhash (all-integer, oracle
    replays it bit-exactly) → posting-capped exact signature join →
    per-pair shared-frame count."""
    from batch_process_dpla_index_spark.operators.multimodal import video_near_dup

    corpus = _blob_corpus_with_variants(spark, sf_dir)
    return video_near_dup(
        corpus, "blob", "doc_id",
        frame_size=64, stride=1, bits=60, min_shared=2, max_postings=64,
    )


def q_audio_pcm_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio waveform statistics (r13): blob-as-16-bit-LE-PCM peak /
    zero-crossing / RMS — the audio leg of the multimodal family,
    integer-exact except the round-6 RMS (one exact int64
    sum-of-squares, one IEEE division + sqrt on both engines)."""
    from batch_process_dpla_index_spark.operators.multimodal import audio_pcm_stats

    stats = audio_pcm_stats(_docs_with_blob(spark, sf_dir), "blob", "doc_id")
    return stats.select(
        F.col("id").alias("doc_id"),
        "n_samples",
        "peak",
        "zero_crossings",
        "rms",
    )


def _audio_corpus_with_twins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents → (doc_id, blob) PCM clips (raw UTF-8 text bytes as
    16-bit LE samples) plus pad-byte re-containered twins: every
    even-length clip with doc_id%5==0 reappears under id+1e9 with ONE
    trailing zero byte appended — the audio decode contract ignores
    the trailing odd byte, so each twin carries the IDENTICAL sample
    sequence (the audio analog of image_near_dup's re-containered
    variants; pairs at hamming 0)."""
    docs = load_table(spark, sf_dir, "documents")
    blob = F.encode(F.coalesce(F.col("text"), F.lit("")), "UTF-8")
    base = docs.select("doc_id", blob.alias("blob"))
    twins = base.filter(
        (F.col("doc_id") % 5 == 0) & (F.length("blob") % 2 == 0)
    ).select(
        (F.col("doc_id") + 1_000_000_000).alias("doc_id"),
        F.concat(F.col("blob"), F.lit(b"\x00")).alias("blob"),
    )
    return base.unionByName(twins)


def q_audio_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio near-duplicate pairs (r14): whole-clip energy-envelope
    blockhash over |int16| PCM (polarity-inversion invariant,
    all-integer → oracle bit-exact) through the SAME banded-Hamming
    kernel as text SimHash / image phash — completes the modality
    triangle. The oracle is a brute-force all-pairs Hamming replay, so
    the hash-match directly proves the pigeonhole banding lossless on
    this corpus too."""
    from batch_process_dpla_index_spark.operators.multimodal import audio_near_dup

    corpus = _audio_corpus_with_twins(spark, sf_dir)
    return audio_near_dup(corpus, "blob", "doc_id", bits=60, max_hamming=3)


def q_modality_dup_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-modality duplication datasheet (r14): one row per modality
    — text (exact content digest), image (perceptual pairs → CC →
    survivors), audio (envelope pipeline), video (shot-fingerprint
    pipeline) — each over its registry corpus, with n_items /
    n_survivors / dup_rate. The multimodal answer to "how redundant is
    this corpus", composed ENTIRELY from the individually
    oracle-verified dedup chains, so the report is a presentation of
    verified stats (the dataset-card principle as a registry query).
    All four item counts come from ONE aggregate pass over documents
    (the corpora are arithmetic over doc_id/text, so their sizes are
    derivable without rebuilding them — round-14 review pass 3: the
    first cut rebuilt each corpus a second time just to count it);
    each survivors count is a one-row aggregate over the composed
    registry query."""
    from batch_process_dpla_index_spark.operators.dedup import (
        _with_cached_deps,
        exact_dedup,
    )

    docs = load_table(spark, sf_dir, "documents")
    # item counts per modality, one documents pass: text = all docs;
    # image/video corpus = docs + the %5 re-containered variants;
    # audio corpus = docs + the even-byte-length %5 pad twins
    variant = F.when(F.col("doc_id") % 5 == 0, 1)
    even_twin = F.when(
        (F.col("doc_id") % 5 == 0)
        & (
            F.length(
                F.encode(F.coalesce(F.col("text"), F.lit("")), "UTF-8")
            )
            % 2
            == 0
        ),
        1,
    )
    c = docs.agg(
        F.count(F.lit(1)).alias("text_n"),
        (F.count(F.lit(1)) + F.count(variant)).alias("blob_n"),
        (F.count(F.lit(1)) + F.count(even_twin)).alias("audio_n"),
    ).first()
    n_items = {
        "text": int(c["text_n"]),
        "image": int(c["blob_n"]),
        "audio": int(c["audio_n"]),
        "video": int(c["blob_n"]),
    }

    def row(modality: str, survivors: DataFrame) -> DataFrame:
        n = n_items[modality]
        return survivors.agg(
            F.count(F.lit(1)).cast("bigint").alias("n_survivors")
        ).select(
            F.lit(modality).alias("modality"),
            F.lit(n).cast("bigint").alias("n_items"),
            "n_survivors",
            F.round(
                F.lit(1.0)
                - F.col("n_survivors").cast("double") / F.lit(float(n)),
                6,
            ).alias("dup_rate"),
        )

    out = row("text", exact_dedup(docs, "text", "doc_id"))
    deps: list = []
    # the three perceptual rows are LITERALLY the survivors registry
    # query bodies (round-14 review: an inlined fourth copy of the
    # chain could drift from the verified ones — the `_from` helpers
    # ARE the registry queries' bodies, so drift stays impossible by
    # construction). Each chain runs its checkpointed CC fixpoint
    # EAGERLY at call time, and none of the three fills the cluster on
    # its own — so build them on concurrent threads (guide §2.6). r18
    # (VERDICT #3): the image and video chains consume ONE persisted
    # blob corpus (they derive the identical frame) instead of each
    # re-deriving and re-scanning it per chain — and within each chain
    # the corpus feeds both the signature pass and the survivor id
    # scan off the same cache. The audio corpus (pad-twin variant) is
    # persisted the same way for its two in-chain consumers.
    from concurrent.futures import ThreadPoolExecutor

    blob_corpus = _blob_corpus_with_variants(spark, sf_dir).persist()
    audio_corpus = _audio_corpus_with_twins(spark, sf_dir).persist()
    deps += [blob_corpus, audio_corpus]
    chains = (
        ("image", _image_survivors_from, blob_corpus),
        ("audio", _audio_survivors_from, audio_corpus),
        ("video", _video_survivors_from, blob_corpus),
    )
    with ThreadPoolExecutor(max_workers=len(chains)) as pool:
        futures = [
            (modality, pool.submit(surv_fn, corpus))
            for modality, surv_fn, corpus in chains
        ]
        for modality, fut in futures:
            kept = fut.result()
            out = out.unionByName(row(modality, kept))
            deps += getattr(kept, "_cached_deps", [])
    return _with_cached_deps(out.orderBy("modality"), deps)


def q_video_dedup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full video-dedup pipeline (r14): shot-fingerprint pairs
    (>= 2 shared distinct frame phashes, posting-capped) → connected
    components → keep the min-id representative per cluster plus all
    unpaired blobs — completes the survivors triangle (image r13,
    audio r14, video here), through the same checkpointed
    min-label-propagation fixpoint; the oracle replays it with a
    recursive transitive-closure CTE over the frame-fingerprint pair
    replay."""
    return _video_survivors_from(_blob_corpus_with_variants(spark, sf_dir))


def _video_survivors_from(corpus: DataFrame) -> DataFrame:
    """The video chain over a caller-supplied blob corpus (see
    :func:`_image_survivors_from`)."""
    from batch_process_dpla_index_spark.operators.multimodal import video_near_dup

    return _blob_survivors(
        corpus,
        video_near_dup(
            corpus, "blob", "doc_id",
            frame_size=64, stride=1, bits=60, min_shared=2, max_postings=64,
        ),
    )

def q_audio_dedup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full audio-dedup pipeline (r14): envelope near-dup pairs →
    connected components → keep the min-id representative per cluster
    plus all unpaired clips — the audio twin of
    q_image_dedup_survivors, through the same checkpointed
    min-label-propagation fixpoint; the oracle replays it with a
    recursive transitive-closure CTE over the brute-force pair
    replay."""
    return _audio_survivors_from(_audio_corpus_with_twins(spark, sf_dir))


def _audio_survivors_from(corpus: DataFrame) -> DataFrame:
    """The audio chain over a caller-supplied PCM-clip corpus (see
    :func:`_image_survivors_from`)."""
    from batch_process_dpla_index_spark.operators.multimodal import audio_near_dup

    return _blob_survivors(
        corpus,
        audio_near_dup(corpus, "blob", "doc_id", bits=60, max_hamming=3),
    )

def q_udtf_sentences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF via LATERAL (the Spark 4 table-function surface):
    per-doc row expansion, oracle-checked against a SQL unnest."""
    from batch_process_dpla_index_spark.operators.grouped import sentence_udtf

    spark.udtf.register("split_sentences", sentence_udtf())
    docs = load_table(spark, sf_dir, "documents")
    docs.createOrReplaceTempView("docs_udtf")
    return spark.sql(
        "SELECT s.doc_id, s.sent_no, s.sentence "
        "FROM docs_udtf, LATERAL split_sentences(doc_id, text) s"
    )


def q_pivot_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot (long→wide): order-status counts per market segment.
    Explicit value list so the plan is a single agg (no extra
    distinct-values job)."""
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    joined = join_dim(
        orders, customer, F.col("o_custkey") == F.col("c_custkey")
    )
    return (
        joined.groupBy("c_mktsegment")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(F.count(F.lit(1)))
        .na.fill(0)
    )


def q_event_calendar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar bucketing (F11 family): day-of-week × hour-of-day event
    counts (Spark dayofweek is 1=Sunday; the oracle maps its 0=Sunday
    dow accordingly)."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.select(
            F.dayofweek("ts").alias("dow"),
            F.hour("ts").alias("hod"),
        )
        .groupBy("dow", "hod")
        .agg(F.count("*").alias("n_events"))
    )


def q_value_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles + dispersion stats per event
    type (F.percentile is the exact form; percentile_approx is the
    sketch tier — compared via its own accuracy-bound test)."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.round(F.percentile("value", 0.5), 6).alias("p50"),
        F.round(F.percentile("value", 0.95), 6).alias("p95"),
        F.round(F.stddev_pop("value"), 6).alias("sd"),
        F.round(F.corr("value", F.get_json_object("props", "$.k").cast("double")), 6).alias("corr_vk"),
    )


def q_price_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram via width_bucket over order totals."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.select(
            F.width_bucket("o_totalprice", F.lit(0.0), F.lit(600000.0), F.lit(12)).alias("bucket")
        )
        .groupBy("bucket")
        .agg(F.count("*").alias("n_orders"))
    )


def q_asof_purchases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backward as-of join (the brief's canonical custom operator):
    every event picks up the latest at-or-before purchase of the same
    user. Verified against DuckDB's NATIVE ASOF JOIN — an independent
    algorithm, not a transliteration of our union+window plan."""
    from batch_process_dpla_index_spark.operators.relational import as_of_join

    ev = load_table(spark, sf_dir, "events")
    left = ev.select("event_id", "user_id", "ts")
    right = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        "ts",
        F.round("value", 6).alias("purchase_value"),
        F.unix_micros("ts").alias("purchase_ts"),
    )
    out = as_of_join(
        left, right, "user_id", "ts", "ts", ["purchase_value", "purchase_ts"]
    )
    return out.select("event_id", "user_id", "purchase_value", "purchase_ts")


def q_hash_sample_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash sampling + train/val split: kept set and
    split assignment are pure functions of doc_id — reproducible
    across runs/engines (vs. df.sample's per-partition RNG)."""
    from batch_process_dpla_index_spark.operators.dedup import hash_sample, hash_split

    docs = load_table(spark, sf_dir, "documents")
    sampled = hash_sample(docs, "doc_id", 0.5)
    return (
        hash_split(sampled, "doc_id", 0.2)
        .groupBy("source", "split")
        .agg(F.count("*").alias("n_docs"), F.min("doc_id").alias("min_doc"))
    )


def q_training_prep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed training-data prep pipeline: quality-filter →
    exact-dedup survivors → deterministic sample → per-source stats.
    Each stage is one of the verified operators; the oracle replays
    the whole composition in SQL."""
    from batch_process_dpla_index_spark.functions.text import (
        normalize as _nrm_fn,
        quality_score_tok,
    )
    from batch_process_dpla_index_spark.operators.dedup import exact_dedup, hash_sample

    docs = load_table(spark, sf_dir, "documents")
    base = docs.select(
        "doc_id", "source", "text",
        tokens(F.col("text")).alias("__tok"),
        _nrm_fn(F.col("text")).alias("__nrm"),
    )
    quality_ok = base.filter(
        quality_score_tok(F.col("__tok"), F.col("__nrm")) >= 0.75
    ).select("doc_id", "source", "text")
    survivors = exact_dedup(quality_ok, "text", "doc_id")
    kept = quality_ok.join(survivors, "doc_id", "semi")
    sampled = hash_sample(kept, "doc_id", 0.8)
    return sampled.groupBy("source").agg(
        F.count("*").alias("n_docs"), F.sum("doc_id").alias("id_sum")
    )


def q_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (the third grouping-set form beside
    rollup_flags and cube_flags), via the SQL entry path."""
    from batch_process_dpla_index_spark.sources.tables import register_tables

    register_tables(spark, sf_dir, suffix="_gs")
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus,
               count(*) AS n_rows,
               round(sum(l_extendedprice), 2) AS sum_price
        FROM lineitem_gs
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        """
    )


def q_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-data scrubbing: inject deterministic PII into documents
    (closed-form from doc_id so the oracle reproduces it), redact, and
    report per-doc changed flags + redacted lengths."""
    from batch_process_dpla_index_spark.functions.text import redact_pii

    docs = load_table(spark, sf_dir, "documents")
    m = F.col("doc_id")
    dirty = F.concat(
        F.col("text"),
        F.when((m % 3) == 0, F.concat(F.lit(" contact user"), m.cast("string"), F.lit("@example.com")))
        .otherwise(F.lit("")),
        F.when((m % 4) == 0, F.concat(F.lit(" from 10.0."), (m % 256).cast("string"), F.lit(".7")))
        .otherwise(F.lit("")),
    )
    clean = redact_pii(dirty)
    return docs.select(
        "doc_id",
        F.length(dirty).cast("bigint").alias("dirty_len"),
        F.length(clean).cast("bigint").alias("clean_len"),
        (clean != dirty).cast("int").alias("was_redacted"),
        (F.length(clean) - F.length(F.replace(clean, F.lit("<EMAIL>"), F.lit("")))).alias("email_chars"),
    )


def q_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-doc bigram repetition ratio (Gopher-style quality
    signal), bucketed per source."""
    from batch_process_dpla_index_spark.functions.text import repetition_ratio_tok

    docs = load_table(spark, sf_dir, "documents")
    base = docs.select("source", tokens(F.col("text")).alias("__tok"))
    return (
        base.select("source", repetition_ratio_tok(F.col("__tok"), 2).alias("rep"))
        .groupBy("source")
        .agg(
            F.round(F.avg("rep"), 6).alias("avg_repetition"),
            F.round(F.max("rep"), 6).alias("max_repetition"),
            F.count("*").alias("n_docs"),
        )
    )


def q_top_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide top-20 bigrams (stop-gram mining): explode →
    count → top-k. The explode-count is one partial+final hash agg;
    top-k is TakeOrdered — no global sort at any scale."""
    from batch_process_dpla_index_spark.functions.text import word_shingles

    docs = load_table(spark, sf_dir, "documents")
    grams = docs.select(tokens(F.col("text")).alias("__tok")).select(
        F.explode(word_shingles(F.col("__tok"), 2)).alias("bigram")
    )
    return top_k(
        grams.groupBy("bigram").agg(F.count("*").alias("n")),
        [F.col("n").desc(), F.col("bigram").asc()],
        20,
    )


def q_sql_supplier_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pure SQL-string entry (the reference's MqReports shape:
    registered views → spark.sql → Catalyst): per-nation supplier
    account share with a scalar subquery."""
    from batch_process_dpla_index_spark.sources.tables import register_tables

    register_tables(spark, sf_dir, suffix="_sql")
    return spark.sql(
        """
        SELECT n.n_name AS nation,
               count(*) AS n_suppliers,
               round(sum(s.s_acctbal), 2) AS sum_acctbal,
               round(sum(s.s_acctbal)
                     / (SELECT sum(s_acctbal) FROM supplier_sql), 6) AS share
        FROM supplier_sql s JOIN nation_sql n ON s.s_nationkey = n.n_nationkey
        GROUP BY n.n_name
        """
    )


def q_bpe_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish regex token counting beside the whitespace count (the
    two token-counting tiers of the text pipeline)."""
    from batch_process_dpla_index_spark.functions.text import bpe_token_count

    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        token_count(F.col("text")).alias("n_ws_tokens"),
        bpe_token_count(F.col("text")).alias("n_bpe_tokens"),
    )


def q_user_cumsum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user running value sum as a pure JVM window
    (``sum().over(ROWS UNBOUNDED PRECEDING)``): one hash exchange on
    user_id + one sort, all inside whole-stage codegen — ~10× the
    applyInPandas form it replaced (which remains available as
    ``operators.grouped.user_cumulative_value`` for parity tests; the
    grouped-Arrow path is driver-verified via ``user_zscore``)."""
    from pyspark.sql.window import Window

    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return ev.select(
        "event_id",
        "user_id",
        F.round(F.sum("value").over(w), 6).alias("cum_value"),
    )


def q_user_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped Arrow UDF (applyInPandas): per-user z-score
    normalization of ``value`` (population std; zero-variance users →
    NULL) — the per-group feature-normalization shape, demonstrating
    the grouped-pandas exchange with an exact SQL-window oracle."""
    from batch_process_dpla_index_spark.operators.grouped import normalize_per_group

    ev = load_table(spark, sf_dir, "events")
    return normalize_per_group(ev).select(
        "event_id", "user_id", F.round("zscore", 6).alias("zscore")
    )


def q_dataset_dup_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source duplication datasheet (r12): exact text-dup and
    SemDeDup near-dup counts/rates per source — the oracle-verified
    registry twin of the dataset card's new Volume row, at the
    per-source resolution a curator triages by. Exact side is one
    text-partitioned window (a doc is a dup if a smaller doc_id
    already carries its text, across ALL sources); semantic side is
    the driver-proven `semantic_dedup` chain, non-representative group
    members joined back by doc id (docs without an embedding row count
    as not semantically duplicated). One groupBy(source) tail —
    |sources| output rows at any corpus size."""
    from batch_process_dpla_index_spark.operators.dedup import (
        carry_deps,
        semantic_dedup,
        source_dup_profile,
    )

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "text"
    )
    emb = load_table(spark, sf_dir, "embeddings")
    k = max(32, emb.count() // 64)
    # same pinned-geometry guard as q_semantic_dedup: the composed
    # oracle replays the k=32 chain
    _assert_oracle_constant("dataset_dup_profile", sf_dir, "k", k, 32)
    sd = semantic_dedup(
        emb, "vec_id", "embedding", k=k, n_iter=3, threshold=0.3
    )
    sem_dups = sd.where(~F.col("kept")).select(F.col("id").alias("doc_id"))
    prof = source_dup_profile(docs, sem_dups)
    out = prof.select(
        "source",
        "n_docs",
        "n_exact_dup",
        F.round("exact_dup_rate", 6).alias("exact_dup_rate"),
        "n_sem_dup",
        F.round("sem_dup_rate", 6).alias("sem_dup_rate"),
    )
    return carry_deps(out, sd)


def q_cell_occupancy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rows-per-cell occupancy of the IVF coarse quantizer (r12): the
    registry-level observable behind the embedding-index rebuild
    trigger (`jobs embedding-index report` surfaces the same numbers
    for a persisted index). Per-cell counts + share + a crowded flag
    (>2× mean) — the skew diagnostic that decides when cell geometry
    must be re-sized. One Arrow assign pass, one |cells|-row
    aggregate, |cells|-row windows."""
    emb = load_table(spark, sf_dir, "embeddings")
    return cell_occupancy(emb, "vec_id", "embedding", dim=64, n_cells=16)


def q_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF approximate all-pairs top-5 (inverted-file coarse
    quantization, 16 cells / 4 probes — the second ANN scale path
    beside hyperplane LSH)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return ivf_topk(emb, "vec_id", "embedding", dim=64, k=5, n_cells=16, n_probe=4)


def q_ivf_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@5 of the IVF ANN path against brute-force truth (r10,
    staged for the r11 window): the probes-vs-recall diagnostic an ANN
    deployment tunes on. Pure composition of two driver-proven sides —
    `cosine_topk` truth and `ivf_topk` approx over the same 25-query
    sample — joined on exact (query, neighbor) identity, so the oracle
    is the same two green CTE bodies composed (the lsh_quality_report
    pattern); nothing float-fragile crosses engines beyond what each
    side already pins."""
    from batch_process_dpla_index_spark.operators.dedup import carry_deps
    from batch_process_dpla_index_spark.operators.similarity import (
        ann_recall_report,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    truth = cosine_topk(
        emb, emb.filter(F.col("vec_id") < 25), "vec_id", "embedding", k=5
    )
    ivf = ivf_topk(
        emb, "vec_id", "embedding", dim=64, k=5, n_cells=16, n_probe=4
    )
    approx = ivf.filter(F.col("query_id") < 25)
    # carry ivf_topk's persisted assignment frame through the compose
    # so bench/verify's unpersist_deps genuinely releases it
    return carry_deps(
        ann_recall_report(truth, approx, k=5).orderBy("query_id"), ivf
    )


def q_incremental_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingest-time embedding dedup (r10, staged for the r11 window):
    the batch slice (vec_id % 10 == 7) checked against the stored
    corpus through the pinned IVF cells — the embedding-space twin of
    `incremental_dedup`'s LSH-bucketed text path. Stored vectors sit
    in their rank-1 cell; new vectors probe 2 cells; cosine only
    inside probed∩stored cell pairs. Every piece is a hash-proven
    pattern (pinned h60 centroids + d DESC/cell DESC assignment from
    ivf_topk, strict-fold cosine, score-DESC/id-ASC best-match
    ranking)."""
    from batch_process_dpla_index_spark.operators.similarity import (
        incremental_semantic_dedup,
    )

    from batch_process_dpla_index_spark.operators.dedup import carry_deps

    emb = load_table(spark, sf_dir, "embeddings")
    new = emb.where(F.col("vec_id") % 10 == 7)
    corpus = emb.where(F.col("vec_id") % 10 != 7)
    # constant stored-cell population (n_cells ≈ corpus/64): pair work
    # stays DELTA-proportional under corpus growth (a fixed cell count
    # measured 25× at the 10× probe). Every verification SF (corpus
    # = 450 vectors at sf0.001/0.01) resolves to n_cells = 16 — exactly
    # what the static oracle replays.
    n_cells = max(16, corpus.count() // 64)
    # oracle pinned at n_cells=16 — diverge loudly, not as a hash miss
    _assert_oracle_constant(
        "incremental_semantic_dedup", sf_dir, "n_cells", n_cells, 16
    )
    out = incremental_semantic_dedup(
        new, corpus, "vec_id", "embedding", dim=64, n_cells=n_cells,
        n_probe=2, threshold=0.3,
    )
    return carry_deps(
        out.select(
            F.col("id").alias("vec_id"),
            "cell",
            "n_matches",
            "is_new",
            "best_match_id",
            "best_score",
        ),
        out,
    )


def q_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN serve path, now FULLY hash-verified:
    encode the corpus against the PINNED deterministic codebook (the
    pq_encode scheme) and score 25 queries by ADC lookup tables. The
    oracle replays encode-argmin AND the ADC gather-sum with the same
    floating-point association numpy's pairwise reduction uses
    (8-leaf tree), ranking on the raw distance with the neighbor-id
    tie-break — so every emitted (query, neighbor, dist², rank) is
    value-exact cross-engine. Float k-means TRAINING (pq_train)
    remains exercised by `product_ann_index` and pytest
    (recall-vs-exact + determinism pins); the registry query pins the
    codebook precisely so the serve path stops being the one
    rows-only entry."""
    from batch_process_dpla_index_spark.operators.quantization import (
        pq_pinned_codebooks,
        pq_topk,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    return pq_topk(emb, pq_pinned_codebooks(), k=5, n_queries=25)


def q_ivf_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-level IVF-PQ ANN (the `pq_topk`-docstring composition made
    real): 16-cell inverted-file routing with 4 probes per query, ADC
    over the pinned 8×16 codebook for what survives — the
    billion-scale serve layout, fully hash-verified because both
    levels are deterministic replays (the `ivf_topk` centroid literals
    + the `pq_topk` tree-sum association). Candidates are exactly the
    stored-cell ∩ probed-cell pairs, so the oracle is the two green
    CTE chains composed with one cell-equality join."""
    from batch_process_dpla_index_spark.operators.quantization import (
        ivf_pq_topk,
        pq_pinned_codebooks,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    return ivf_pq_topk(
        emb, pq_pinned_codebooks(), k=5, n_queries=25, n_cells=16, n_probe=4
    )


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup clustering: MinHash-LSH pairs → connected components →
    (doc_id, cluster representative). The iterative min-label
    propagation runs to fixpoint (unique, deterministic); the oracle
    replicates it with a recursive transitive-closure CTE."""
    from batch_process_dpla_index_spark.operators.dedup import unpersist_deps

    docs = load_table(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(docs, "text", "doc_id", n=3, threshold=0.5)
    # CC materializes eagerly (checkpointed fixpoint), so the pair
    # operator's cached signature frame can be released right after;
    # the labels frame still carries ITS final-checkpoint handle,
    # which must ride through the select (carry_deps).
    from batch_process_dpla_index_spark.operators.dedup import carry_deps

    labels = connected_components(pairs)
    unpersist_deps(pairs)
    out = labels.select(F.col("node").alias("doc_id"), F.col("cluster"))
    return carry_deps(out, labels)


def q_price_tiers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range/theta join (§2.4 extension): orders matched into literal
    price tiers via BroadcastNestedLoopJoin over 4 range rows."""
    from batch_process_dpla_index_spark.operators.relational import (
        _arrow_local_frame,
    )

    orders = load_table(spark, sf_dir, "orders")
    tiers = _arrow_local_frame(
        spark,
        [("T0", 0.0, 50_000.0), ("T1", 50_000.0, 150_000.0),
         ("T2", 150_000.0, 300_000.0), ("T3", 300_000.0, 1e18)],
        "tier STRING, lo DOUBLE, hi DOUBLE",
    )
    return (
        range_join(orders, tiers, "o_totalprice", "lo", "hi")
        .groupBy("tier")
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("sum_price"),
        )
    )


def q_salted_brand_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-mitigation parity: salted equi-join must equal the plain
    join — here lineitem ⋈ part with the part side exploded 8× so a
    hot p_partkey spreads over 8 reducers."""
    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_partkey").alias("p_partkey"), "l_quantity"
    )
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    return (
        salted_join(li, part, "p_partkey", n_salts=8)
        .groupBy("p_brand")
        .agg(
            F.count("*").alias("n_items"),
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        )
    )


def q_segment_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set operations (§2.7 extension): INTERSECT and EXCEPT ALL over
    nation keys of customers vs suppliers."""
    customer = load_table(spark, sf_dir, "customer")
    supplier = load_table(spark, sf_dir, "supplier")
    c = customer.select(F.col("c_nationkey").alias("nationkey"))
    s = supplier.select(F.col("s_nationkey").alias("nationkey"))
    both = c.intersect(s).withColumn("relation", F.lit("both"))
    cust_only = (
        c.distinct().exceptAll(s.distinct()).withColumn("relation", F.lit("customer_only"))
    )
    return (
        both.unionByName(cust_only)
        .groupBy("relation")
        .agg(F.count("*").alias("n_nations"))
    )


def q_cube_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE grouping sets (§2.5 extension, beside rollup_flags)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(
        F.count("*").alias("n_rows"),
        F.round(F.avg("l_discount"), 6).alias("avg_disc"),
    )


def q_embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs via LSH buckets + exact
    verification (the vector member of the dedup family)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return embedding_near_dup(emb, "vec_id", "embedding", dim=64, threshold=0.3)


def q_props_from_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F13 proper: full from_json parse of events.props with a declared
    schema (get_json_object covers the single-path case in
    props_by_type)."""
    ev = load_table(spark, sf_dir, "events")
    parsed = ev.withColumn(
        "props_struct", F.from_json("props", "k BIGINT")
    )
    return parsed.select(
        "event_id",
        F.col("props_struct.k").alias("k"),
        F.col("props_struct").isNotNull().cast("int").alias("parsed_ok"),
    )


def q_approx_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL approx_count_distinct per event type (rsd=0.02), verified
    the only way a sketch can be cross-engine: the raw HLL estimate is
    engine-specific (and so is NOT emitted — it would never hash-match
    DuckDB), but the exact distinct count and the boolean
    `|approx − exact| / exact ≤ 3·rsd` accuracy claim ARE deterministic
    and hashable. The oracle computes the same exact count and asserts
    the bound flag is always true, so a sketch drifting out of its
    advertised rsd now fails the driver gate instead of hiding behind a
    rows-only check. The HLL's single-pass-no-exact-shuffle advantage
    still shows in the plan/bench; the exact count here is the
    verification harness, not the serving path."""
    ev = load_table(spark, sf_dir, "events")
    rsd = 0.02
    exact = F.count_distinct("user_id")
    # all-NULL user_id group: exact = 0, the relative-error ratio is
    # undefined (NULL under ANSI), and both engines agree approx = 0 —
    # vacuously within bound, never NULL (the oracle emits constant
    # TRUE, so a NULL here would hash-mismatch instead of signaling)
    bound = F.when(
        exact > 0,
        F.abs(F.approx_count_distinct("user_id", rsd) - exact) / exact
        <= 3 * rsd,
    ).otherwise(F.lit(True))
    return ev.groupBy("event_type").agg(
        exact.alias("n_users_exact"),
        F.count("*").alias("n_events"),
        bound.alias("approx_within_bound"),
    )




def q_kmeans_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Learned-centroid clustering (Lloyd's k-means, deterministic
    hash seeding) over the embeddings table: per-cell population +
    mean squared distance. The centroid update aggregates integer
    micro-units (``update_grid=1e6``), so the fitted centroids are
    bit-identical across partitionings and engines — which is what
    lets this iterative float algorithm carry a real SQL oracle: the
    DuckDB side replays the same 3 unrolled Lloyd's iterations from
    the same hash seeds. Exact recovery, monotone inertia, and
    determinism are additionally pytest-proven
    (tests/test_clustering.py). Per iteration: one Arrow assign pass +
    one (cell, dim)-keyed partial agg — the IVF training path."""
    from batch_process_dpla_index_spark.operators.clustering import (
        kmeans_assign,
        kmeans_fit,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    # tol=0 pins EXACTLY n_iter iterations — the SQL oracle replays a
    # fixed-depth CTE chain, so the engine must not early-stop on a
    # near-converged shift the oracle doesn't model
    cents = kmeans_fit(
        emb, "vec_id", "embedding", k=8, n_iter=3, init="hash",
        update_grid=10**6, tol=0.0,
    )
    return (
        kmeans_assign(emb, cents, "vec_id", "embedding")
        .groupBy("cell")
        .agg(
            F.count("*").alias("n_vectors"),
            F.round(F.avg("dist2"), 6).alias("avg_dist2"),
        )
    )


def q_two_level_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-level (coarse-quantized) k-means (r11, staged for the r12
    window): the billion-scale training path the IVF/semantic-dedup
    docstrings cite — √k coarse cells trained flat, then all fine
    codebooks trained SIMULTANEOUSLY within their pinned coarse cells,
    so every assign pass is O(N·√k·dim) instead of O(N·k·dim). Same
    integer-grid update discipline as `kmeans_cells` at both levels,
    so the full two-level chain (coarse Lloyd's → pinning argmin →
    per-cell hash seeds → fine Lloyd's → two-level inference) replays
    bit-identically as unrolled DuckDB CTEs. Per-cell population +
    mean squared distance, keyed by the global fixed-stride cell id.
    The k·N scaling receipt lives in SCALE.md (10× probe: flat assign
    grows ∝ N·k, two-level ∝ N·√k)."""
    from batch_process_dpla_index_spark.operators.clustering import (
        kmeans_assign_two_level,
        kmeans_fit_two_level,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    # tol=0 pins EXACTLY coarse_iter coarse iterations (the oracle
    # replays a fixed-depth chain); fine iterations are fixed-depth by
    # construction. k_c=4/k_f=4 keeps the unrolled oracle tractable at
    # the verification SFs while exercising both levels.
    coarse, fine, k_f = kmeans_fit_two_level(
        emb, "vec_id", "embedding", k=16, coarse_k=4, n_iter=2,
        coarse_iter=2, init="hash", update_grid=10**6, tol=0.0,
    )
    return (
        kmeans_assign_two_level(emb, coarse, fine, k_f, "vec_id", "embedding")
        .groupBy("cell", "coarse_cell")
        .agg(
            F.count("*").alias("n_vectors"),
            F.round(F.avg("dist2"), 6).alias("avg_dist2"),
        )
    )


def q_imi_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-multi-index ANN top-k (r11, staged for the r12
    window): serving through the two-level quantizer — queries rank
    coarse centroids, probe 2, rank only those cells' fine codebooks,
    probe 2 each (per-query probe cost O(√k·dim) where the flat IVF
    pays O(k·dim) just to rank cells). Storage, probe rankings, and
    the strict-fold cosine serve tail all replay as unrolled DuckDB
    CTEs — the `two_level_kmeans` chain composed with the `ivf_topk`
    serving conventions, both individually driver-provable."""
    from batch_process_dpla_index_spark.operators.similarity import imi_topk

    emb = load_table(spark, sf_dir, "embeddings")
    return imi_topk(
        emb, "vec_id", "embedding", k=5, n_cells=16, coarse_k=4,
        n_iter=2, coarse_iter=2, n_probe_coarse=2, n_probe_fine=2,
    )


def q_imi_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@5 of the IMI serve path against brute-force truth (r11,
    staged for the r12 window) — the probes-vs-recall tuning loop for
    the two-level index, mirroring `ivf_recall_report` for the flat
    one: the same bounded 25-query sample, the same exact (query,
    neighbor) identity join, with `imi_topk`'s oracle as the approx
    CTE. The 2×2 probe's recall is what the IMI tradeoff buys at a
    quarter of the flat probe cost; the full-probe==exact calibration
    is pytest-pinned on the operator itself."""
    from batch_process_dpla_index_spark.operators.similarity import (
        ann_recall_report,
        imi_topk,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    truth = cosine_topk(
        emb, emb.filter(F.col("vec_id") < 25), "vec_id", "embedding", k=5
    )
    approx = imi_topk(
        emb, "vec_id", "embedding", k=5, n_cells=16, coarse_k=4,
        n_iter=2, coarse_iter=2, n_probe_coarse=2, n_probe_fine=2,
    ).filter(F.col("query_id") < 25)
    return ann_recall_report(truth, approx, k=5).orderBy("query_id")


def q_cluster_silhouette(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cell clustering quality: squared-L2 simplified silhouette
    over the same deterministic k-means the `kmeans_cells` oracle
    replays (integer-grid updates → bit-identical centroids on both
    engines). O(N·k) — the only silhouette shape that exists at scale;
    mean ratio per cell at 6dp absorbs the expanded-form-vs-fold ulp
    noise exactly like kmeans_cells' avg_dist2 (proven green since
    r6)."""
    from batch_process_dpla_index_spark.operators.clustering import (
        cluster_silhouette,
        kmeans_fit,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    cents = kmeans_fit(
        emb, "vec_id", "embedding", k=8, n_iter=3, init="hash",
        update_grid=10**6, tol=0.0,
    )
    return (
        cluster_silhouette(emb, cents, "vec_id", "embedding")
        .groupBy("cell")
        .agg(
            F.count("*").alias("n_vectors"),
            F.round(F.avg("silhouette"), 6).alias("mean_silhouette"),
            F.round(F.avg("a2"), 6).alias("mean_own_dist2"),
        )
    )


def q_pq_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ encode + ADC distance math, oracle-verified: assign each
    embedding its m=8 sub-codes against a PINNED deterministic codebook
    (h60-literal scheme — no float training in the loop) and emit the
    ADC reconstruction error Σⱼ ‖xⱼ − cⱼ‖². This isolates the exact,
    SQL-expressible core of the PQ pipeline (slicing, argmin code
    assignment, table-gather distance) from float k-means training —
    the same pinned scheme `pq_topk`'s full ADC serve path now
    verifies against too. One narrow Arrow pass, no shuffle. The m sub-codes are emitted as a single ','-joined string
    (`codes_csv`) — the driver's pandas canonicalizer hashes result
    values and cannot hash Python lists, so registry queries must emit
    scalar columns only (the operator itself keeps the array<int>
    column for the ANN/PQ pipeline)."""
    from batch_process_dpla_index_spark.operators.quantization import (
        pq_encode,
        pq_pinned_codebooks,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    enc = pq_encode(
        emb, pq_pinned_codebooks(), "vec_id", "embedding", with_error=True
    )
    return enc.select(
        F.col("id").alias("vec_id"),
        F.concat_ws(",", F.col("codes").cast("array<string>")).alias("codes_csv"),
        F.round("recon_err", 6).alias("recon_err"),
    )


def q_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance weights: per-doc mean log-likelihood ratio
    between a target-domain unigram LM (here: the English subset) and
    the whole-corpus LM — the data-selection score for importance
    resampling. Two vocab aggregates + broadcast stats + one rollup,
    log2-subtraction float discipline."""
    from batch_process_dpla_index_spark.operators.curation import dsir_weights

    docs = load_table(spark, sf_dir, "documents")
    return dsir_weights(docs, docs.filter(F.col("lang") == "en"))


def q_tfidf_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document top-3 TF-IDF terms (keyword extraction / sparse
    retrieval weights). Ranked on the ROUNDED score with a term
    tie-break so mathematically-equal scores order identically in
    both engines."""
    from batch_process_dpla_index_spark.operators.dedup import carry_deps
    from batch_process_dpla_index_spark.operators.ranking import tfidf_top_terms

    docs = load_table(spark, sf_dir, "documents")
    tt = tfidf_top_terms(docs, "doc_id", "text", k=3)
    return carry_deps(
        tt.select(F.col("id").alias("doc_id"), "term", "tf", "df", "tfidf", "rnk"), tt
    )


def q_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-level Shannon entropy per document (gibberish /
    encoding-noise signal) — computed fully in-expression via the
    H = log2(n) − Σc·log2(c)/n identity: zero shuffles, zero Python,
    one codegen stage over the scan."""
    from batch_process_dpla_index_spark.functions.text import char_entropy

    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.length("text").cast("bigint").alias("n_chars_e"),
        F.round(char_entropy(F.col("text")), 6).alias("entropy"),
    )


def q_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic dedup over embeddings: deterministic
    k-means cells (integer-grid update — bit-identical across
    engines), then within-cell cosine pairs mark every vector with a
    smaller-id twin at similarity >= 0.3. The full cluster→pair→flag
    pipeline is value-verified by a SQL replay; cross-cell pairs are
    never compared (cells bound the join like LSH bands)."""
    from batch_process_dpla_index_spark.operators.dedup import carry_deps, semdedup

    emb = load_table(spark, sf_dir, "embeddings")
    sd = semdedup(emb, "vec_id", "embedding", k=8, n_iter=3, threshold=0.3)
    # carry the persisted-deps handles through the rename so callers'
    # unpersist_deps still releases the assignment frame
    return carry_deps(
        sd.select(F.col("id").alias("vec_id"), "cell", "n_close", "kept"), sd
    )


def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-level SemDeDup (r10): transitive within-cell near-dup
    GROUPS with one closest-to-centroid representative each — the
    composition `semdedup`'s local twin-flag stops short of. Every
    piece is individually driver-proven (kmeans_cells' deterministic
    fit, semdedup's within-cell cosine pairs, dedup_clusters'
    connected components); the new surface is the group window and the
    strict-fold Σ(x−c)² centroid distance, which is bit-identical to
    the oracle's list_reduce replay so the (d2, id) representative
    ranking cannot flip cross-engine."""
    from batch_process_dpla_index_spark.operators.dedup import (
        carry_deps,
        semantic_dedup,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    # Cell count scales with the corpus so per-cell population stays
    # ~64: candidate pairs are N²/(2k), so constant cell size makes
    # the pair stage LINEAR in N (k ≈ √N — the IVF search convention —
    # would leave it N^1.5; measured 24.7× at the 10× probe with a
    # fixed k). Every verification SF (sf0.001/0.01 driver gate,
    # sf0.1 bench: N ≤ 2000) resolves to k = 32, which is exactly what
    # the static SQL oracle replays; the adaptive rule only engages
    # beyond bench scale.
    k = max(32, emb.count() // 64)
    # The registered oracle is PINNED at k=32. If a verification
    # fixture ever grows past 2048 embeddings the adaptive rule would
    # silently diverge from the oracle and the driver gate would fail
    # as an opaque value mismatch — fail loudly here instead.
    _assert_oracle_constant("semantic_dedup", sf_dir, "k", k, 32)
    sd = semantic_dedup(emb, "vec_id", "embedding", k=k, n_iter=3, threshold=0.3)
    return carry_deps(
        sd.select(
            F.col("id").alias("vec_id"),
            "cell",
            "group_id",
            "group_size",
            "kept",
            "d2_centroid",
        ),
        sd,
    )


def q_doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-window chunking (64-token chunks, 16-token overlap) — the
    context-length prep stage of a training pipeline. Token array
    materialized once, chunk structs generated in-expression, one
    explode: a single narrow stage, no shuffle at any scale."""
    from batch_process_dpla_index_spark.functions.text import chunk_structs

    docs = load_table(spark, sf_dir, "documents")
    base = docs.select("doc_id", tokens(F.col("text")).alias("__tok"))
    return base.select(
        "doc_id", F.explode(chunk_structs(F.col("__tok"), 64, 16)).alias("c")
    ).select(
        "doc_id",
        F.col("c.chunk_no").alias("chunk_no"),
        F.col("c.chunk_text").alias("chunk_text"),
        F.col("c.n_tokens").alias("n_tokens"),
    )



def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling: per-source keep fractions
    (src0 80%, src1 50%, src2 10%, others 25%) as a pure function of
    doc_id — the source-mixing stage of training-data prep. Narrow
    filter + one count agg; reproducible in any engine."""
    from batch_process_dpla_index_spark.operators.dedup import stratified_hash_sample

    docs = load_table(spark, sf_dir, "documents")
    kept = stratified_hash_sample(
        docs, "doc_id", "source",
        {"src0": 0.8, "src1": 0.5, "src2": 0.1},
        default_fraction=0.25,
    )
    return kept.groupBy("source").agg(
        F.count("*").alias("n_docs"), F.min("doc_id").alias("min_doc")
    )



def q_packed_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunk → greedy sequence packing → per-bin stats: the full
    context-window fill pipeline (chunking's downstream stage).
    Sequential greedy walk is per-source inside applyInPandas; the
    oracle replays the walk exactly with a recursive CTE stepping one
    item at a time (hash-verified), and the walk contract is also
    pytest-pinned in test_pack_sequences_contract."""
    from batch_process_dpla_index_spark.functions.text import chunk_structs
    from batch_process_dpla_index_spark.operators.grouped import pack_sequences

    docs = load_table(spark, sf_dir, "documents")
    chunks = docs.select(
        "source", "doc_id", tokens(F.col("text")).alias("__tok")
    ).select(
        "source", "doc_id", F.explode(chunk_structs(F.col("__tok"), 64, 16)).alias("c")
    ).select(
        "source", "doc_id",
        F.col("c.chunk_no").alias("chunk_no"),
        F.col("c.n_tokens").alias("n_tokens"),
    )
    packed = pack_sequences(chunks, "source", "doc_id", "chunk_no", "n_tokens", budget=512)
    return packed.groupBy("group", "bin").agg(
        F.count("*").alias("n_chunks"),
        F.sum("n_tokens").alias("n_tokens"),
    )


def q_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-interval (attribution-window) join: purchases pick up the
    same user's clicks within the preceding hour. The same builder is
    the stream-stream join operator (streaming/windows.interval_join);
    batch form planned as a range-predicate equi-join — one shuffle on
    user_id, time bound pruned stage-side. Streaming convergence is
    pytest-proven (test_interval_join_stream_matches_batch)."""
    from batch_process_dpla_index_spark.streaming.windows import interval_join

    ev = load_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "event_id"
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts", "event_id"
    )
    return interval_join(purchases, clicks, "user_id", lookback="1 hour").select(
        "l_event_id", "r_event_id"
    )


def q_thumbnail_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ThumbnailPurge key derivation (ThumbnailPurge.scala:17-33),
    fully in-plan — the purge action itself is tested in pytest."""
    from batch_process_dpla_index_spark.model.fixtures import synthesize_enriched
    from batch_process_dpla_index_spark.products.thumbnail_purge import thumbnail_keys

    docs = load_table(spark, sf_dir, "documents")
    items = synthesize_enriched(docs).select(F.col("dplaUri.value").alias("dplaUri"))
    return thumbnail_keys(items, "dplaUri")


BM25_QUERY = "spark query join fast"


def q_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 top-20 for a fixed free-text query — the batch-side
    answer to the search workload the reference's ES index serves.
    Corpus explode filtered through a broadcast term join (only docs
    matching a query term survive), broadcast df/avgdl stats,
    TakeOrdered top-k."""
    from batch_process_dpla_index_spark.operators.dedup import carry_deps
    from batch_process_dpla_index_spark.operators.ranking import bm25_topk

    docs = load_table(spark, sf_dir, "documents")
    out = bm25_topk(docs, BM25_QUERY, k=20)
    return carry_deps(out.select(F.col("id").alias("doc_id"), "score"), out)


def q_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval: BM25 top-50 for the fixed text query fused
    with the dense cosine top-50 around the pinned query embedding
    (vec_id 7) via reciprocal-rank fusion, k=60. Each retriever keeps
    its own scale path (broadcast-term BM25 / TakeOrdered dense
    top-k); the fuse is a Σ|lists|-row aggregate — corpus size never
    reaches it (operators/ranking.py:rrf_fuse)."""
    from batch_process_dpla_index_spark.functions.vectors import cosine
    from batch_process_dpla_index_spark.operators.dedup import carry_deps
    from batch_process_dpla_index_spark.operators.ranking import (
        bm25_topk,
        rank_candidates,
        rrf_fuse,
    )

    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")

    sparse = bm25_topk(docs, BM25_QUERY, k=50)
    sparse_ranked = rank_candidates(sparse, "score", "id")

    qvec = emb.where(F.col("vec_id") == 7).select(
        F.col("embedding").alias("q_vec")
    )
    # top-50 FIRST (TakeOrdered — no global sort), then rank the
    # bounded candidate list; score rounded before both so rank order
    # is float-drift-proof across engines
    dense = (
        emb.where(F.col("vec_id") != 7)
        .crossJoin(F.broadcast(qvec))
        .select(
            F.col("vec_id").alias("id"),
            F.round(cosine(F.col("q_vec"), F.col("embedding")), 6).alias(
                "score"
            ),
        )
        .orderBy(F.col("score").desc(), F.col("id").asc())
        .limit(50)
    )
    dense_ranked = rank_candidates(dense, "score", "id")

    out = rrf_fuse([sparse_ranked, dense_ranked], limit=20).select(
        F.col("id").alias("doc_id"), "rrf_score", "n_lists"
    )
    return carry_deps(out, sparse)


def q_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingest-time dedup: the batch slice (doc_id % 10 == 7) deduped
    against the rest of the corpus through banded-LSH buckets + exact
    verification — no corpus self-join. Best corpus match per new doc,
    deterministic tie-break."""
    from batch_process_dpla_index_spark.operators.dedup import incremental_dedup

    docs = load_table(spark, sf_dir, "documents")
    new = docs.where(F.col("doc_id") % 10 == 7)
    corpus = docs.where(F.col("doc_id") % 10 != 7)
    return incremental_dedup(new, corpus, "text", "doc_id")


def q_zorder_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) clustering key over two event dimensions
    (value bucketized to 8 bits over [0,100], user_id low byte):
    the multi-dimension data-layout key behind OPTIMIZE ZORDER BY,
    as pure bitwise expressions. Buckets materialized once, the
    16-term interleave runs on the aliased columns — narrow,
    codegen'd, no shuffle (the writer side adds one range
    partitioning; tested in test_layout)."""
    from batch_process_dpla_index_spark.operators.layout import bucketize, zorder_key

    ev = load_table(spark, sf_dir, "events")
    base = ev.select(
        "event_id",
        bucketize(F.col("value"), 0.0, 100.0, 8).alias("xb"),
        (F.col("user_id") % 256).cast("bigint").alias("yb"),
    )
    return base.select(
        "event_id",
        "xb",
        "yb",
        zorder_key([F.col("xb"), F.col("yb")], 8).alias("zkey"),
    )


def q_apply_changeset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO semantics on immutable storage: a deterministic
    changeset synthesized from orders (key%10: 0→delete, 1→update with
    +10% price, 2→insert under an offset key) applied to the snapshot.
    One anti join + union; AQE broadcasts the small changeset side."""
    from batch_process_dpla_index_spark.operators.relational import apply_changeset

    orders = load_table(spark, sf_dir, "orders")
    snap = orders.select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
    )
    m = F.col("o_orderkey") % 10
    changes = (
        snap.where(m < 3)
        .select(
            F.when(m == 2, F.col("o_orderkey") + F.lit(100_000_000))
            .otherwise(F.col("o_orderkey"))
            .alias("o_orderkey"),
            "o_custkey",
            "o_orderstatus",
            F.when(m == 1, F.col("o_totalprice") * F.lit(1.1))
            .otherwise(F.col("o_totalprice"))
            .alias("o_totalprice"),
            F.when(m == 0, F.lit("D"))
            .when(m == 1, F.lit("U"))
            .otherwise(F.lit("I"))
            .alias("op"),
        )
    )
    out = apply_changeset(snap, changes, "o_orderkey")
    return out.select(
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        F.round("o_totalprice", 6).alias("o_totalprice"),
    )


def q_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy-hitter diagnostic for a prospective join key (events.
    user_id): top-20 keys by count with share of table. The pre-check
    that decides salted_join/AQE skew config at scale. Partial-agg
    shuffle + TakeOrdered merge + broadcast single-row total."""
    from batch_process_dpla_index_spark.operators.relational import skew_report

    ev = load_table(spark, sf_dir, "events")
    return skew_report(ev, "user_id", top_n=20)


def q_corpus_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source corpus statistics — the training-corpus analogue of
    the reference's MqReports rollup (MqReports.scala:73-88: one
    groupBy over per-record CASE scores): doc/token volume, mean
    quality metrics, exact-dup rate via distinct content fingerprints.
    Metrics come from singly-materialized token/normalized columns;
    one partial-agg shuffle on source carries |sources| rows."""
    docs = load_table(spark, sf_dir, "documents")
    from batch_process_dpla_index_spark.functions.text import (
        fingerprint_tok,
        mean_token_len_tok,
        punct_ratio_nrm,
        stopword_ratio_tok,
    )

    base = docs.select(
        "source",
        tokens(F.col("text")).alias("__tok"),
        normalize(F.col("text")).alias("__nrm"),
    )
    per_doc = base.select(
        "source",
        F.size("__tok").cast("bigint").alias("n_tokens"),
        mean_token_len_tok(F.col("__tok")).alias("mtl"),
        punct_ratio_nrm(F.col("__nrm")).alias("pr"),
        stopword_ratio_tok(F.col("__tok")).alias("swr"),
        fingerprint_tok(F.col("__tok")).alias("fp"),
    )
    return (
        per_doc.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
            F.round(F.avg("mtl"), 6).alias("avg_token_len"),
            F.round(F.avg("pr"), 6).alias("avg_punct_ratio"),
            F.round(F.avg("swr"), 6).alias("avg_stopword_ratio"),
            F.countDistinct("fp").alias("n_distinct_docs"),
            F.round(
                F.lit(1.0) - F.countDistinct("fp") / F.count("*"), 6
            ).alias("dup_rate"),
        )
    )


def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: corpus docs sharing any 3-gram with
    the benchmark slice (doc_id % 97 == 0 stands in for an eval suite)
    are flagged. Benchmark shingles broadcast; corpus side is one
    narrow shingle-explode; the only shuffle is the per-doc count of
    *matched* rows — contamination cost stays ~one corpus scan at any
    scale."""
    from batch_process_dpla_index_spark.operators.curation import decontaminate

    docs = load_table(spark, sf_dir, "documents")
    bench = docs.where(F.col("doc_id") % 97 == 0)
    corpus = docs.where(F.col("doc_id") % 97 != 0)
    return decontaminate(corpus, bench, n=3).select(
        "doc_id", "n_hits", "contaminated"
    )


def q_fuzzy_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy benchmark decontamination (r16 debut, VERDICT r15 #3):
    corpus docs (doc_id % 10 != 0) whose TRUE 3-gram Jaccard against a
    benchmark item (doc_id % 10 == 0 stands in for an eval suite) is
    >= 0.5, candidates via the dedup tier's banded-MinHash kernel,
    benchmark side broadcast — the paraphrase-leakage screen an exact
    n-gram check (q_decontaminate) misses
    (operators/curation.py:fuzzy_decontaminate)."""
    from batch_process_dpla_index_spark.operators.curation import (
        fuzzy_decontaminate,
    )
    from batch_process_dpla_index_spark.operators.dedup import carry_deps

    docs = load_table(spark, sf_dir, "documents")
    bench = docs.where(F.col("doc_id") % 10 == 0)
    corpus = docs.where(F.col("doc_id") % 10 != 0)
    out = fuzzy_decontaminate(corpus, bench, threshold=0.5)
    # carry_deps: .orderBy() returns a NEW frame and would drop the two
    # persisted signature frames, leaking them past unpersist_deps
    return carry_deps(out.orderBy("doc_id", "bench_id"), out)


def q_temporal_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-over-day Population Stability Index of event values (r16
    addition): 32-bucket min/max grid, Laplace-smoothed shares kept as
    raw IEEE doubles (no pre-log rounding — a 6 dp round would zero an
    empty bucket's share at scale and feed ln(0)), bucket-ordered fold
    — the mass-weighted drift score next to the KS (sup) and TV (mix)
    monitors (operators/profiling.py:temporal_psi)."""
    from batch_process_dpla_index_spark.operators.profiling import (
        temporal_psi,
    )

    events = load_table(spark, sf_dir, "events")
    return temporal_psi(events, "ts", "value", n_buckets=32)


def q_temporal_wasserstein(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-over-day Wasserstein-1 (earth-mover) distance of event
    values (r17 addition, staged r18): the TRANSPORT member of the
    drift family — weights drift by how FAR mass moved in value
    units, where KS (sup) and PSI (mass x log-ratio) are
    distance-blind. Exact integer CDF numerators, one division per
    CDF point, bucket-ordered fold
    (operators/profiling.py:temporal_wasserstein)."""
    from batch_process_dpla_index_spark.operators.profiling import (
        temporal_wasserstein,
    )

    events = load_table(spark, sf_dir, "events")
    return temporal_wasserstein(events, "ts", "value", n_buckets=32)


def q_drift_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-segment day-over-day PSI of event values (r17 addition,
    staged r18) — the attribution step after temporal_psi fires:
    which event type drove the shift, scored on the ONE shared global
    grid so per-segment figures are comparable
    (operators/profiling.py:drift_attribution)."""
    from batch_process_dpla_index_spark.operators.profiling import (
        drift_attribution,
    )

    events = load_table(spark, sf_dir, "events")
    return drift_attribution(events, "ts", "event_type", "value",
                             n_buckets=32)


def q_source_wasserstein(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-vs-rest Wasserstein-1 of document lengths (r17
    addition, staged r18) — completes the drift matrix
    ({source, temporal} x {KS sup, PSI, W1 transport}): how FAR each
    source's length mass sits from the rest of the corpus, in
    characters (operators/profiling.py:source_wasserstein)."""
    from batch_process_dpla_index_spark.operators.profiling import (
        source_wasserstein,
    )

    docs = load_table(spark, sf_dir, "documents")
    return source_wasserstein(docs, "source", "n_chars", n_buckets=32)


def q_source_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-vs-rest Population Stability Index of document lengths
    (r16 addition) — closes the drift matrix ({source, temporal} x
    {KS, PSI}): mass-weighted divergence of each source's length mix
    against the rest of the corpus
    (operators/profiling.py:source_psi)."""
    from batch_process_dpla_index_spark.operators.profiling import (
        source_psi,
    )

    docs = load_table(spark, sf_dir, "documents")
    return source_psi(docs, "source", "n_chars", n_buckets=32)


def q_contamination_screened(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-tier cross-source contamination (r16 addition): union-
    MinHash estimate screens all |sources|² pairs, exact shingle
    containment computed only for pairs with est_jaccard >= 4/64 —
    the scale answer to contamination_matrix's hot-shingle fan-out
    (operators/curation.py:contamination_screened)."""
    from batch_process_dpla_index_spark.operators.curation import (
        contamination_screened,
    )

    docs = load_table(spark, sf_dir, "documents")
    return contamination_screened(
        docs, "text", "source", n=3, est_threshold=0.0625
    )


def q_boilerplate_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate exposure per document: non-overlapping 8-token
    segments recurring in ≥2 distinct docs are boilerplate (CCNet/
    RefinedWeb line-removal signal). Segment explode → threshold-
    filtered segment aggregate (the small boilerplate dictionary) →
    mark-join → per-doc rollup; two linear shuffles at any scale."""
    from batch_process_dpla_index_spark.operators.curation import boilerplate_stats

    docs = load_table(spark, sf_dir, "documents")
    return boilerplate_stats(docs, "text", "doc_id", seg_tokens=8, min_docs=2)


def q_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4/Gopher-style quality gate: threshold filter over the verified
    text metrics, metrics emitted with the survivors. Single narrow
    codegen'd projection + filter — zero shuffle at any scale."""
    from batch_process_dpla_index_spark.operators.curation import quality_gate

    docs = load_table(spark, sf_dir, "documents")
    return quality_gate(docs).select(
        "doc_id",
        "source",
        "n_tokens",
        "mean_token_len",
        "stopword_ratio",
        "punct_ratio",
        "repetition_ratio",
    )


def q_global_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global shuffle for training-data writers:
    shuffle_key/shard as a pure function of (seed, doc_id) via the
    engine-portable h60 digest. Narrow expressions only — ordering is
    carried by the sortable key, NOT a single-task global
    row_number."""
    from batch_process_dpla_index_spark.operators.curation import global_shuffle

    docs = load_table(spark, sf_dir, "documents")
    return global_shuffle(docs, "doc_id", seed="seed0", n_shards=8).select(
        "doc_id", "shuffle_key", "shard"
    )


#: target language mixture for the registered mixture queries (the
#: domain-reweighting weights a training run would pin in its config)
MIXTURE_WEIGHTS = {"en": 0.5, "de": 0.2, "fr": 0.15, "es": 0.1, "zh": 0.05}
MIXTURE_BUDGET = 10_000


def q_mixture_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-reweighting plan: per-language token totals → ppm
    keep-rates against the pinned target mixture. One |domains|-row
    aggregate; the rate is the floor of an IEEE-double expression the
    oracle mirrors verbatim, so the plan is engine-exact by mirroring,
    not by integer arithmetic."""
    from batch_process_dpla_index_spark.operators.curation import mixture_plan

    docs = load_table(spark, sf_dir, "documents")
    return mixture_plan(docs, "lang", MIXTURE_WEIGHTS, MIXTURE_BUDGET)


def q_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apply the mixture plan: deterministic h60-keyed per-domain
    sampling (broadcast plan join + narrow filter — zero extra
    shuffles beyond the plan's tiny aggregate)."""
    from batch_process_dpla_index_spark.operators.curation import (
        mixture_plan,
        mixture_sample,
    )

    docs = load_table(spark, sf_dir, "documents")
    plan = mixture_plan(docs, "lang", MIXTURE_WEIGHTS, MIXTURE_BUDGET)
    return mixture_sample(docs, plan, "lang", "doc_id", seed="mix0").select(
        "doc_id", "lang", "source"
    )


def q_sentence_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide sentence-level dedup (keep first occurrence,
    reassemble docs): min-struct aggregate for first-occurrence
    discovery — no per-instance ranking, hot sentences stay
    map-side-combinable."""
    from batch_process_dpla_index_spark.operators.dedup import (
        carry_deps,
        sentence_dedup,
    )

    docs = load_table(spark, sf_dir, "documents")
    sd = sentence_dedup(docs)
    # carry_deps: .select() returns a NEW frame and would drop the
    # persisted sentence explode, leaking it past unpersist_deps
    return carry_deps(
        sd.select("doc_id", "text", "n_sentences", "n_dropped"), sd
    )


def q_lm_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM quality scoring (perplexity-proxy, self-fit model):
    term explode → vocab-sized count agg → broadcast-stats join →
    per-doc mean log2 prob. Pure JVM expressions."""
    from batch_process_dpla_index_spark.operators.curation import unigram_lm_scores
    from batch_process_dpla_index_spark.operators.dedup import carry_deps

    docs = load_table(spark, sf_dir, "documents")
    lm = unigram_lm_scores(docs)
    return carry_deps(lm.select("doc_id", "n_terms", "lm_score"), lm)


def q_domain_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain quality cap: at most 25 docs per language, best
    n_chars first (deterministic doc_id tie-break). Two-phase salted
    top-N so a hot domain never serializes one task."""
    from batch_process_dpla_index_spark.operators.curation import domain_cap

    docs = load_table(spark, sf_dir, "documents")
    return domain_cap(docs, "lang", "doc_id", cap=25, quality_col="n_chars").select(
        "doc_id", "lang", "n_chars", "rank_in_domain"
    )


def q_duplicate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring-level dedup (exact duplicated passages): stride-1
    8-token windows hashed with h60, grams shared by >=2 documents
    mark their windows, overlapping marked windows merge into maximal
    spans via one gaps-and-islands window. Linear in corpus tokens —
    no all-pairs step (operators/spans.py)."""
    from batch_process_dpla_index_spark.operators.spans import duplicate_spans

    docs = load_table(spark, sf_dir, "documents")
    return duplicate_spans(docs, k=8, min_docs=2)


def q_funnel_stages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel signup→view→click→purchase with
    chained strict-min semantics, computed as ONE fold-aggregate per
    user instead of len(steps) join rounds
    (operators/analytics.py:funnel_stages)."""
    from batch_process_dpla_index_spark.operators.analytics import funnel_stages

    events = load_table(spark, sf_dir, "events")
    return funnel_stages(events)


def q_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-2 SCD history of each user's event_type: collapse
    consecutive repeats, [valid_from, valid_to) intervals, is_current
    flag — both windows share one exchange+sort
    (operators/analytics.py:scd2_history)."""
    from batch_process_dpla_index_spark.operators.analytics import scd2_history

    events = load_table(spark, sf_dir, "events")
    return scd2_history(events)


def q_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention matrix: users bucketed by first-activity
    week, distinct-counted per later week offset
    (operators/analytics.py:retention_cohorts)."""
    from batch_process_dpla_index_spark.operators.analytics import retention_cohorts

    events = load_table(spark, sf_dir, "events")
    return retention_cohorts(events)


def q_user_running_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Causal per-user running z-score anomalies (expanding window,
    current row excluded, 5-event warmup) — the oracle-verified batch
    twin of streaming/stateful.py:anomaly_stream."""
    from batch_process_dpla_index_spark.operators.analytics import running_anomaly

    events = load_table(spark, sf_dir, "events")
    return running_anomaly(events)


def q_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-vocabulary linear quality classifier (fastText-style):
    sigmoid(bias + fold(weight[token])/n) with the weight table a
    literal map in the plan — zero shuffles, zero joins, codegen'd
    (functions/classifier.py)."""
    from batch_process_dpla_index_spark.functions.classifier import classifier_score

    docs = load_table(spark, sf_dir, "documents")
    score = classifier_score(F.col("text"))
    return docs.select(
        "doc_id",
        F.round(score, 6).alias("quality_prob"),
        (score >= 0.5).alias("keep"),
    )


def q_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric containment near-dup: pairs where the smaller
    shingle set is >=60% contained in the larger — catches
    quote-inclusion duplication that Jaccard's symmetric score misses
    (operators/dedup.py:containment_pairs)."""
    from batch_process_dpla_index_spark.operators.dedup import containment_pairs

    docs = load_table(spark, sf_dir, "documents")
    return containment_pairs(docs, "text", "doc_id", n=3, threshold=0.6)


def q_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event
    sequences (operators/analytics.py:event_transitions)."""
    from batch_process_dpla_index_spark.operators.analytics import event_transitions

    events = load_table(spark, sf_dir, "events")
    return event_transitions(events)


def q_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-fertility report per language: chars per whitespace
    word, chars per BPE-ish token, and BPE tokens per word — the
    corpus statistic that prices a tokenizer's compression per
    language. Pure expressions + one |langs|-row aggregate."""
    from batch_process_dpla_index_spark.functions.text import (
        bpe_token_count,
        token_count,
    )

    docs = load_table(spark, sf_dir, "documents")
    per_doc = docs.select(
        "lang",
        F.length("text").cast("bigint").alias("n_chars_t"),
        token_count(F.col("text")).alias("n_ws"),
        bpe_token_count(F.col("text")).alias("n_bpe"),
    )
    return per_doc.groupBy("lang").agg(
        F.sum("n_chars_t").alias("sum_chars"),
        F.sum("n_ws").alias("sum_words"),
        F.sum("n_bpe").alias("sum_bpe"),
        F.round(F.sum("n_chars_t") / F.sum("n_ws"), 6).alias("chars_per_word"),
        F.round(F.sum("n_chars_t") / F.sum("n_bpe"), 6).alias("chars_per_bpe"),
        F.round(F.sum("n_bpe") / F.sum("n_ws"), 6).alias("fertility"),
    )


def q_nearest_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest as-of join (either time direction, ties backward):
    every event matches its user's temporally CLOSEST purchase, with
    the signed microsecond delta. Verified against a DuckDB oracle
    built from two NATIVE ASOF JOINs (backward + forward) and a
    nearest pick — an independent algorithm
    (operators/relational.py:nearest_asof_join)."""
    from batch_process_dpla_index_spark.operators.relational import nearest_asof_join

    ev = load_table(spark, sf_dir, "events")
    left = ev.select("event_id", "user_id", "ts")
    right = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", F.round("value", 6).alias("purchase_value")
    )
    return nearest_asof_join(
        left, right, "user_id", "ts", "ts", ["purchase_value"]
    ).select("event_id", "user_id", "purchase_value", "matched_delta_us")


def q_bigram_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 collocations by pointwise mutual information:
    log2(p(ab) / (p(a)·p(b))) over corpus unigram/bigram counts with a
    min-count floor (rare-pair PMI explodes). Ranked on the ROUNDED
    score with a bigram tie-break so equal scores order identically
    in both engines. Two hash aggs + two vocabulary joins + two
    broadcast 1-row totals — no corpus re-scan."""
    from batch_process_dpla_index_spark.functions.text import word_shingles
    from batch_process_dpla_index_spark.operators.relational import top_k

    from batch_process_dpla_index_spark.operators.dedup import _with_cached_deps

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(tokens(F.col("text")).alias("__tok"))
    # both count frames feed a totals aggregate AND the scoring join —
    # persist so each corpus explode runs once (callers release via
    # unpersist_deps; totals derive from the aggregates, never from a
    # second corpus scan)
    uni = (
        toks.select(F.explode("__tok").alias("w"))
        .groupBy("w")
        .agg(F.count("*").cast("bigint").alias("c"))
        .persist()
    )
    bigr = (
        toks.select(F.explode(word_shingles(F.col("__tok"), 2)).alias("bigram"))
        .where(F.size(F.split("bigram", " ")) == 2)
        .groupBy("bigram")
        .agg(F.count("*").cast("bigint").alias("c_ab"))
        .persist()
    )
    big = bigr.where(F.col("c_ab") >= 5)
    n_uni = uni.agg(F.sum("c").cast("bigint").alias("__nu"))
    n_big = bigr.agg(F.sum("c_ab").cast("bigint").alias("__nb"))
    w1 = F.split("bigram", " ")[0]
    w2 = F.split("bigram", " ")[1]
    ua = uni.select(F.col("w").alias("__w1"), F.col("c").alias("c_a"))
    ub = uni.select(F.col("w").alias("__w2"), F.col("c").alias("c_b"))
    pmi = F.round(
        F.log2(
            (F.col("c_ab").cast("double") / F.col("__nb"))
            / (
                (F.col("c_a").cast("double") / F.col("__nu"))
                * (F.col("c_b").cast("double") / F.col("__nu"))
            )
        ),
        6,
    )
    scored = (
        big.withColumn("__w1", w1)
        .withColumn("__w2", w2)
        .join(ua, "__w1")
        .join(ub, "__w2")
        .crossJoin(F.broadcast(n_uni))
        .crossJoin(F.broadcast(n_big))
        .select("bigram", "c_ab", "c_a", "c_b", pmi.alias("pmi"))
    )
    return _with_cached_deps(
        top_k(scored, [F.col("pmi").desc(), F.col("bigram").asc()], 20), [uni, bigr]
    )


def q_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted sampling without replacement (A-ES):
    top-50 documents by ln(u)/n_chars with h60-derived u — longer
    documents proportionally likelier, reproducible in any engine
    (operators/dedup.py:weighted_sample)."""
    from batch_process_dpla_index_spark.operators.dedup import weighted_sample

    docs = load_table(spark, sf_dir, "documents")
    return weighted_sample(docs, "doc_id", "n_chars", k=50).select(
        "doc_id", "n_chars", "ws_key"
    )


def q_session_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-15 session journeys: 30-minute-gap sessions per user, each
    session's ordered event types joined into a '>' path, counted
    corpus-wide (operators/analytics.py:session_paths)."""
    from batch_process_dpla_index_spark.operators.analytics import session_paths
    from batch_process_dpla_index_spark.operators.relational import top_k

    events = load_table(spark, sf_dir, "events")
    paths = session_paths(events).groupBy("path").agg(
        F.count("*").alias("n_sessions")
    )
    return top_k(paths, [F.col("n_sessions").desc(), F.col("path").asc()], 15)


def q_column_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-column dataset profile of `orders` — null counts, exact
    cardinalities, numeric/string/timestamp bounds — via ONE scan +
    one explode + one (col_name) aggregate
    (operators/profiling.py:column_profile). The ingest-gate numbers
    the reference's SchemaTest answers structurally, answered for the
    DATA."""
    from batch_process_dpla_index_spark.operators.profiling import column_profile

    orders = load_table(spark, sf_dir, "orders")
    return column_profile(orders)


def q_corr_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Pearson correlations of the lineitem numerics in one
    aggregate pass — k·(k-1)/2 corr expressions sharing a single scan
    (operators/profiling.py:corr_matrix)."""
    from batch_process_dpla_index_spark.operators.profiling import corr_matrix

    li = load_table(spark, sf_dir, "lineitem")
    return corr_matrix(
        li, ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]
    )


def q_decayed_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user exponentially time-decayed activity (7-day half-life,
    aged against the corpus max timestamp): the feature-store recency
    feature. Broadcast 1-row reference + ONE groupBy(user) with
    map-side combine (operators/analytics.py:decayed_counts)."""
    from batch_process_dpla_index_spark.operators.analytics import decayed_counts

    events = load_table(spark, sf_dir, "events")
    return decayed_counts(events)


def q_fuzzy_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity resolution over document prefixes: blocked
    sorted-neighborhood candidates (w=3 neighbors in normalized-prefix
    order per first-char block) + JVM Levenshtein ≤ 8 — O(n·w)
    comparisons, one hash exchange, no O(n²) join
    (operators/linkage.py:sorted_neighborhood_pairs)."""
    from batch_process_dpla_index_spark.operators.linkage import (
        sorted_neighborhood_pairs,
    )

    docs = load_table(spark, sf_dir, "documents")
    recs = docs.select(
        "doc_id",
        F.substring(normalize(F.col("text")), 1, 200).alias("prefix"),
    )
    pairs = sorted_neighborhood_pairs(
        recs, "doc_id", "prefix", window=3, max_distance=8
    )
    return pairs.select("key_a", "key_b", "distance").orderBy("key_a", "key_b")


def q_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted PageRank (d=0.85, 8 fixed power iterations) over the
    event-type transition graph — the repo's second iterative-dataflow
    operator after connected_components; verified value-exactly
    against a DuckDB oracle that unrolls the same 8 iterations as
    chained CTEs (operators/graph.py:pagerank)."""
    from batch_process_dpla_index_spark.operators.analytics import event_transitions
    from batch_process_dpla_index_spark.operators.dedup import carry_deps
    from batch_process_dpla_index_spark.operators.graph import pagerank

    events = load_table(spark, sf_dir, "events")
    edges = event_transitions(events).select(
        "from_type", "to_type", "n_transitions"
    )
    ranks = pagerank(
        edges, "from_type", "to_type", "n_transitions",
        damping=0.85, iterations=8,
    )
    out = ranks.select(
        "node", F.round("rank", 6).alias("rank")
    ).orderBy("node")
    return carry_deps(out, ranks)


def q_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-20 corpus tokens via a Misra–Gries candidate sweep
    (capacity 400/partition): sketch pass enumerates a provable
    candidate superset without shuffling the token domain, exact pass
    counts only candidates; mg_bound_ok asserts the sketch's coverage
    proof held (operators/sketches.py:heavy_hitters)."""
    from batch_process_dpla_index_spark.functions.text import tokens
    from batch_process_dpla_index_spark.operators.sketches import heavy_hitters

    docs = load_table(spark, sf_dir, "documents")
    items = docs.select(F.explode(tokens(F.col("text"))).alias("item"))
    return heavy_hitters(items, "item", k=20, capacity=400)


def q_er_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end entity resolution: blocked sorted-neighborhood
    fuzzy pairs (operators/linkage.py) → connected components
    (operators/dedup.py) → (doc_id, entity_id) for every matched
    record. The composition the two operators exist for; the oracle
    replays the SNM window AND the transitive closure recursively."""
    from batch_process_dpla_index_spark.operators.dedup import (
        carry_deps,
        connected_components,
    )
    from batch_process_dpla_index_spark.operators.linkage import (
        sorted_neighborhood_pairs,
    )

    docs = load_table(spark, sf_dir, "documents")
    recs = docs.select(
        "doc_id",
        F.substring(normalize(F.col("text")), 1, 200).alias("prefix"),
    )
    pairs = sorted_neighborhood_pairs(
        recs, "doc_id", "prefix", window=3, max_distance=8
    )
    labels = connected_components(pairs, "key_a", "key_b")
    out = labels.select(
        F.col("node").alias("doc_id"), F.col("cluster").alias("entity_id")
    ).orderBy("doc_id")
    return carry_deps(out, labels)


def q_robust_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type robust outlier summary (median/MAD rule,
    k=3): the resistant alternative to the z-score gate
    (operators/profiling.py:robust_outliers). Exact medians verified
    value-level against DuckDB's quantile_cont."""
    from batch_process_dpla_index_spark.operators.profiling import robust_outliers

    events = load_table(spark, sf_dir, "events")
    return robust_outliers(events, "event_type", "value")


def q_quantile_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equal-frequency decile binning of order totals: exact decile
    edges from ONE percentile aggregate folded back as a broadcast —
    never a global ntile window
    (operators/profiling.py:quantile_bins)."""
    from batch_process_dpla_index_spark.operators.profiling import quantile_bins

    orders = load_table(spark, sf_dir, "orders")
    return quantile_bins(orders, "o_totalprice", n_bins=10)


def q_lsh_quality_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-quality evaluation: MinHash-LSH candidate pairs vs the
    exact-Jaccard ground truth at the same threshold — TP/FP/FN,
    precision, recall in one row. FP is zero whenever no shingle's
    posting list hits jaccard_pairs' max_posting cap (true at every
    test SF): under the cap, truth undercounts Jaccard for pairs
    relying on a dropped hot shingle while LSH verifies against FULL
    sets, so capped-regime FPs are a truth-side artifact, not an LSH
    error. Recall is the banding miss rate, THE number that sizes
    (num_perm, bands) before a 100 TB dedup run. Both sides are
    existing oracle-verified operators; the report is one full outer
    join of two bounded pair frames + a 1-row aggregate."""
    from batch_process_dpla_index_spark.operators.dedup import (
        _with_cached_deps,
    )

    from batch_process_dpla_index_spark.operators.dedup import shingle_sets

    docs = load_table(spark, sf_dir, "documents")
    # r18 (guide §2.4): truth and candidates score the SAME corpus, so
    # tokenize+shingle runs ONCE through a shared persisted frame (the
    # shingle tiers are bit-identical, pinned by test) instead of once
    # inside each operator.
    sets = shingle_sets(docs, "text", "doc_id", 3).persist()
    # Capture the RAW operator results before any .select()/.withColumn()
    # — DataFrame methods return new objects without _cached_deps, so
    # deps must be collected from these frames (the carry_deps trap).
    truth_raw = jaccard_pairs(
        docs, "text", "doc_id", n=3, threshold=0.5, precomputed_sets=sets
    )
    cand_raw = minhash_lsh_pairs(
        docs, "text", "doc_id", n=3, threshold=0.5, precomputed_sets=sets,
    )
    truth = truth_raw.select("id_a", "id_b").withColumn("__t", F.lit(1))
    cand = cand_raw.select("id_a", "id_b").withColumn("__c", F.lit(1))
    j = truth.join(cand, ["id_a", "id_b"], "full")
    out = j.agg(
        F.count("__t").cast("bigint").alias("n_truth"),
        F.count("__c").cast("bigint").alias("n_candidates"),
        F.sum((F.col("__t").isNotNull() & F.col("__c").isNotNull()).cast("long"))
        .cast("bigint")
        .alias("tp"),
        F.sum((F.col("__t").isNull() & F.col("__c").isNotNull()).cast("long"))
        .cast("bigint")
        .alias("fp"),
        F.sum((F.col("__t").isNotNull() & F.col("__c").isNull()).cast("long"))
        .cast("bigint")
        .alias("fn"),
    ).select(
        "n_truth",
        "n_candidates",
        "tp",
        "fp",
        "fn",
        F.when(
            F.col("n_candidates") > 0,
            F.round(F.col("tp") / F.col("n_candidates"), 6),
        ).alias("precision"),
        F.when(
            F.col("n_truth") > 0, F.round(F.col("tp") / F.col("n_truth"), 6)
        ).alias("recall"),
    )
    deps = (
        [sets]
        + list(getattr(truth_raw, "_cached_deps", []))
        + list(getattr(cand_raw, "_cached_deps", []))
    )
    return _with_cached_deps(out, deps)


def q_random_projection_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JL random projection 64→16 dims (deterministic h60-unit planes,
    pure scan-stage expression) profiled per output dimension —
    composition of random_projection + embedding_dim_profile
    (operators/similarity.py:random_projection)."""
    from batch_process_dpla_index_spark.operators.profiling import (
        embedding_dim_profile,
    )
    from batch_process_dpla_index_spark.operators.similarity import (
        random_projection,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    proj = random_projection(emb, "vec_id", "embedding", dim=64, out_dim=16)
    return embedding_dim_profile(proj, "proj")


def q_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LPA communities of the part co-purchase graph (same pair_supports
    edges as the triangle census): 4 synchronous mode-label iterations,
    min-label ties — all-integer, bit-exact across engines
    (operators/graph.py:label_propagation)."""
    from batch_process_dpla_index_spark.operators.analytics import (
        pair_supports,
    )
    from batch_process_dpla_index_spark.operators.dedup import carry_deps
    from batch_process_dpla_index_spark.operators.graph import (
        label_propagation,
    )

    li = load_table(spark, sf_dir, "lineitem")
    edges = pair_supports(li, "l_orderkey", "l_partkey", min_support=2).select(
        F.col("ia").alias("src"), F.col("ib").alias("dst")
    )
    out = label_propagation(edges, iterations=4)
    return carry_deps(out.orderBy("node"), out)


def q_embedding_dim_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension embedding statistics — the vector-corpus
    datasheet (dead channels, scale drift). One posexplode + one
    |dim|-row aggregate (operators/profiling.py:embedding_dim_profile)."""
    from batch_process_dpla_index_spark.operators.profiling import (
        embedding_dim_profile,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    return embedding_dim_profile(emb, "embedding")


def q_growth_rates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-over-month revenue growth per order priority: monthly
    aggregate, then lag over the bounded (priority, month) frame —
    growth computed from the ROUNDED sums so the division is
    engine-identical. One corpus aggregate + one window over
    |priorities|×|months| rows."""
    orders = load_table(spark, sf_dir, "orders")
    monthly = (
        orders.withColumn(
            "order_month", F.date_format("o_orderdate", "yyyy-MM")
        )
        .groupBy("o_orderpriority", "order_month")
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("sum_price"),
        )
    )
    w = Window.partitionBy("o_orderpriority").orderBy("order_month")
    prev = F.lag("sum_price").over(w)
    return monthly.select(
        "o_orderpriority",
        "order_month",
        "n_orders",
        "sum_price",
        F.round((F.col("sum_price") - prev) / prev, 6).alias("growth_pct"),
    ).orderBy("o_orderpriority", "order_month")


def q_market_basket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-25 association rules over order baskets: support /
    confidence / lift, pair generation as a per-basket expression —
    no fact self-join (operators/analytics.py:market_basket)."""
    from batch_process_dpla_index_spark.operators.analytics import (
        market_basket,
    )

    li = load_table(spark, sf_dir, "lineitem")
    return market_basket(li, "l_orderkey", "l_partkey", min_support=2, k=25)


def q_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary coverage curve at 100/1000/10000-term cutoffs — the
    tokenizer-sizing datasheet number. Each cutoff is one TakeOrdered
    top-k over the cached term-count aggregate, never a global rank
    window over the vocabulary (operators/curation.py:vocab_coverage)."""
    from batch_process_dpla_index_spark.functions.text import tokens
    from batch_process_dpla_index_spark.operators.curation import (
        vocab_coverage,
    )

    docs = load_table(spark, sf_dir, "documents")
    return vocab_coverage(docs, tokens(F.col("text")))


def q_attribution_last_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch attribution: each purchase credits the latest
    same-or-earlier non-purchase event of its user (the as-of join
    composition — one shuffle on the user key, union+window carry,
    operators/relational.py:as_of_join), rolled up to per-channel
    purchase counts and revenue. Purchases with no prior touch land
    in the 'none' channel."""
    from batch_process_dpla_index_spark.operators.relational import as_of_join

    ev = load_table(spark, sf_dir, "events")
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "user_id", "ts", F.col("value").alias("p_value")
    )
    touches = ev.where(F.col("event_type") != "purchase").select(
        "user_id", "ts", F.col("event_type").alias("channel"), "event_id"
    )
    att = as_of_join(
        purchases, touches, "user_id", "ts", "ts", ["channel", "event_id"]
    )
    return (
        att.groupBy(F.coalesce(F.col("channel"), F.lit("none")).alias("channel"))
        .agg(
            F.count("*").alias("n_purchases"),
            F.round(F.sum("p_value"), 2).alias("sum_value"),
        )
        .orderBy("channel")
    )


def q_source_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source Gini concentration of document length — the
    data-mixing imbalance diagnostic. Integer-exact up to two final
    divides (sorted-rank Gini identity over BIGINT sums; see
    operators/profiling.py:gini_concentration)."""
    from batch_process_dpla_index_spark.operators.profiling import (
        gini_concentration,
    )

    docs = load_table(spark, sf_dir, "documents")
    return gini_concentration(docs, "source", "n_chars", "doc_id")


def q_clustering_coefficients(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node local clustering coefficient of the part co-purchase
    graph (the triangle_count edge set): degeneracy-bounded wedge
    close, each triangle credits its three vertices, all-integer
    counts → bit-exact; the oracle recounts via the independent
    u<v<w three-way self-join
    (operators/analytics.py:clustering_coefficients)."""
    from batch_process_dpla_index_spark.operators.analytics import (
        clustering_coefficients,
        pair_supports,
    )

    li = load_table(spark, sf_dir, "lineitem")
    edges = pair_supports(li, "l_orderkey", "l_partkey", min_support=2).select(
        F.col("ia").alias("src"), F.col("ib").alias("dst")
    )
    return clustering_coefficients(edges)


def q_attribution_time_decay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-decay multi-touch attribution: every touch in the 7-day
    window before a purchase earns 0.5^days weight, normalized per
    conversion — engine-exact cross-engine because day-bucketed
    weights are dyadic rationals (no libm pow drift; see
    operators/analytics.py:attribution_time_decay)."""
    from batch_process_dpla_index_spark.operators.analytics import (
        attribution_time_decay,
    )

    ev = load_table(spark, sf_dir, "events")
    return attribution_time_decay(ev)


def q_seasonal_baseline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hour-of-day anomaly profile per event type: cell stats snap to
    6dp before the 3σ compare (engine-deterministic boundary), one
    stats aggregate + one bounded broadcast back
    (operators/analytics.py:seasonal_baseline)."""
    from batch_process_dpla_index_spark.operators.analytics import (
        seasonal_baseline,
    )

    ev = load_table(spark, sf_dir, "events")
    return seasonal_baseline(ev)


def q_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle census of the part co-purchase graph (parts sharing
    ≥2 orders): degree-oriented wedge join closed against the
    canonical edge set — wedge fan-out bounded by degeneracy, never
    max degree (operators/analytics.py:triangle_count). Edge building
    is skipgram-style per-order pair expressions, no self-join."""
    from batch_process_dpla_index_spark.operators.analytics import (
        pair_supports,
        triangle_count,
    )

    li = load_table(spark, sf_dir, "lineitem")
    # shared edge builder with market_basket (pair_supports): per-order
    # pair expressions, support >= 2 orders
    edges = pair_supports(li, "l_orderkey", "l_partkey", min_support=2).select(
        F.col("ia").alias("src"), F.col("ib").alias("dst")
    )
    # triangle_count attaches its own checkpoint handles to the result
    return triangle_count(edges)


def q_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-25 BPE merge candidates: adjacent within-word char pairs
    counted corpus-wide by a pure nested-transform expression — one
    alphabet²-bounded hash aggregate, no join, no window
    (operators/analytics.py:bpe_merge_pairs)."""
    from batch_process_dpla_index_spark.functions.text import tokens
    from batch_process_dpla_index_spark.operators.analytics import (
        bpe_merge_pairs,
    )

    docs = load_table(spark, sf_dir, "documents")
    pairs = bpe_merge_pairs(docs, tokens(F.col("text")), min_count=2)
    return pairs.orderBy(
        F.col("n_pairs").desc(), F.col("c_a").asc(), F.col("c_b").asc()
    ).limit(25)


def q_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive hard-negative mining: top-3 most-similar
    different-label neighbors for the first 10 vectors — bounded
    query batch broadcasts, per-query window top-k
    (operators/similarity.py:hard_negatives)."""
    from batch_process_dpla_index_spark.operators.similarity import (
        hard_negatives,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    return hard_negatives(emb, emb.filter(F.col("vec_id") < 10), k=3)


def q_bloom_prune_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-pruned selective join: lineitem rows probe the Brand#4
    part-key bitmap (one broadcast row, pure expression filter inside
    the scan stage) before the exact join removes false positives —
    result bit-identical to the plain join, which is exactly what the
    oracle replays (operators/relational.py:bloom_prune_join)."""
    from batch_process_dpla_index_spark.operators.relational import (
        bloom_prune_join,
    )

    li = load_table(spark, sf_dir, "lineitem")
    part = (
        load_table(spark, sf_dir, "part")
        .where(F.col("p_brand") == "Brand#4")
        .select("p_partkey", "p_brand")
    )
    joined = bloom_prune_join(li, part, "l_partkey", "p_partkey")
    return (
        joined.groupBy("l_returnflag")
        .agg(
            F.count("*").alias("n_items"),
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_price"),
        )
        .orderBy("l_returnflag")
    )


def q_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user CUSUM mean-shift scores over event values — the
    sequential fold over each key's time-ordered array, one shuffle
    on the user key (operators/analytics.py:cusum_changepoint)."""
    from batch_process_dpla_index_spark.operators.analytics import (
        cusum_changepoint,
    )

    ev = load_table(spark, sf_dir, "events")
    return cusum_changepoint(ev)


def q_domain_quality_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source quality normalization: percent_rank + decile of the
    composite quality score within each source — thresholds become
    domain-relative (operators/curation.py:domain_quality_rank). One
    hash exchange on source + per-domain sort."""
    from batch_process_dpla_index_spark.operators.curation import (
        domain_quality_rank,
    )

    docs = load_table(spark, sf_dir, "documents")
    return domain_quality_rank(docs)


def q_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-gram novelty of odd-id documents against the even-id half as
    reference corpus — the regurgitation/templating screen
    (operators/curation.py:ngram_novelty). Shingle-key hash join, ref
    side pre-shrunk by DISTINCT, nothing broadcast."""
    from batch_process_dpla_index_spark.operators.curation import ngram_novelty

    docs = load_table(spark, sf_dir, "documents")
    return ngram_novelty(
        docs.where(F.col("doc_id") % 2 == 1),
        docs.where(F.col("doc_id") % 2 == 0),
        n=3,
    )


def q_benford_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-digit Benford screen over order totals — the fabricated-
    numeric-data detector. One 9-row hash aggregate; the share
    denominator re-aggregates the 9-row frame, never a second corpus
    scan (operators/profiling.py:benford_profile)."""
    from batch_process_dpla_index_spark.operators.profiling import (
        benford_profile,
    )

    orders = load_table(spark, sf_dir, "orders")
    return benford_profile(orders, "o_totalprice")


def q_winsorized_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-priority winsorized moments of order totals: exact p05/p95
    bounds broadcast back (|keys| rows), clamped mean/stddev next to
    raw — two map-combined corpus exchanges total
    (operators/profiling.py:winsorized_stats)."""
    from batch_process_dpla_index_spark.operators.profiling import (
        winsorized_stats,
    )

    orders = load_table(spark, sf_dir, "orders")
    return winsorized_stats(orders, "o_orderpriority", "o_totalprice")


def q_snm_multipass(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-pass sorted-neighborhood match (forward + reversed-text
    pass): the multi-pass recall escape single-pass blocking documents
    (operators/linkage.py:multipass_snm_pairs). Same record key and
    thresholds as `fuzzy_match`, so the delta between the two result
    sets is exactly the pairs the reversed pass recovers."""
    from batch_process_dpla_index_spark.operators.linkage import (
        multipass_snm_pairs,
    )

    docs = load_table(spark, sf_dir, "documents")
    recs = docs.select(
        "doc_id",
        F.substring(normalize(F.col("text")), 1, 200).alias("prefix"),
    )
    return multipass_snm_pairs(recs, "doc_id", "prefix", window=3, max_distance=8)


def q_dedup_representatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-document selection per near-dup cluster: MinHash-LSH
    pairs → connected components → keep the LONGEST member (n_chars
    desc, doc_id asc tie-break) — the 'which copy do we train on'
    step that follows clustering in a dedup pipeline. n_members rides
    a count(*) window over the SAME per-cluster partitioning the
    keep-first pick sorts on, so the size annotation costs zero extra
    exchanges — no counts frame, no data-proportional broadcast (at
    web scale the per-cluster frame is hundreds of millions of rows;
    an explicit broadcast hint there is a driver OOM)."""
    from batch_process_dpla_index_spark.operators.dedup import (
        carry_deps,
        keep_first,
        unpersist_deps,
    )

    docs = load_table(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(docs, "text", "doc_id", n=3, threshold=0.5)
    labels = connected_components(pairs)
    unpersist_deps(pairs)
    members = (
        labels.join(
            docs.select("doc_id", "n_chars"),
            labels["node"] == docs["doc_id"],
        )
        .select("cluster", "doc_id", "n_chars")
        # NULL n_chars must LOSE the pick on both engines: Spark ASC is
        # NULLS FIRST (a NULL-length doc would win) while the oracle's
        # n_chars DESC is DuckDB NULLS LAST — map NULL to a sentinel
        # above every negated length so both sides rank it last
        .withColumn(
            "__neg_chars",
            F.coalesce(-F.col("n_chars"), F.lit(2**62).cast("bigint")),
        )
    )
    from pyspark.sql.window import Window

    members = members.withColumn(
        "n_members",
        F.count("*")
        .over(Window.partitionBy("cluster"))
        .cast("bigint"),
    )
    out = (
        keep_first(members, ["cluster"], "__neg_chars", "doc_id")
        .select(
            "cluster",
            F.col("doc_id").alias("rep_doc_id"),
            "n_chars",
            "n_members",
        )
        .orderBy("cluster")
    )
    return carry_deps(out, labels)


def q_leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-aware train/val split (operators/curation.py:
    leakage_safe_split): MinHash-LSH near-dup pairs → connected
    components → every cluster member draws the SAME h60 bucket (keyed
    on the cluster id, not the doc id), so near-duplicates can never
    straddle the eval boundary — the leakage a naive per-doc hash
    split bakes into val loss. Singletons coalesce to their own id and
    reduce to the ordinary hash split. Scale shape: CC runs on dup
    docs only; the split itself is one projection — no shuffle beyond
    the label join, which AQE sizes (no explicit broadcast hint)."""
    from batch_process_dpla_index_spark.operators.curation import (
        leakage_safe_split,
    )
    from batch_process_dpla_index_spark.operators.dedup import carry_deps

    docs = load_table(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(docs, "text", "doc_id", n=3, threshold=0.5)
    out = leakage_safe_split(docs, pairs, "doc_id", val_fraction=0.2)
    return carry_deps(out.orderBy("doc_id"), out)


def q_skipgram_cooc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skip-gram co-occurrence vocabulary (word2vec/GloVe training
    prep): unordered within-4 token pairs counted corpus-wide, top 25
    by count. Pair generation is a pure per-row expression (nested
    transform over the token array) — the only shuffle is the final
    pair-key hash aggregate (operators/analytics.py:skipgram_cooc)."""
    from batch_process_dpla_index_spark.functions.text import tokens
    from batch_process_dpla_index_spark.operators.analytics import skipgram_cooc

    docs = load_table(spark, sf_dir, "documents")
    cooc = skipgram_cooc(docs, tokens(F.col("text")), max_skip=4, min_count=2)
    return cooc.orderBy(
        F.col("n_cooc").desc(), F.col("w_a").asc(), F.col("w_b").asc()
    ).limit(25)


def q_hits_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS hubs/authorities of the event-type transition graph (4
    max-normalized iterations — the deterministic formulation whose
    normalizer is an order-free MAX, so a SQL oracle replays every
    iteration value-exactly). Same per-iteration cost shape as
    pagerank: only the score frame moves
    (operators/graph.py:hits_scores)."""
    from batch_process_dpla_index_spark.operators.analytics import (
        event_transitions,
    )
    from batch_process_dpla_index_spark.operators.dedup import carry_deps
    from batch_process_dpla_index_spark.operators.graph import hits_scores

    events = load_table(spark, sf_dir, "events")
    edges = event_transitions(events).select("from_type", "to_type")
    out = hits_scores(edges, "from_type", "to_type", iterations=4)
    return carry_deps(
        out.select(
            "node",
            F.round("authority", 6).alias("authority"),
            F.round("hub", 6).alias("hub"),
        ).orderBy("node"),
        out,
    )


def q_common_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Common-neighbor / Adamic-Adar link prediction on the part
    co-purchase graph (the same pair_supports edges as the triangle
    census): top 25 non-adjacent pairs by shared-neighbor evidence.
    Wedge join bounded by the degree cap; the Adamic-Adar sum folds a
    sorted degree array for engine-exact FP association
    (operators/graph.py:common_neighbors)."""
    from batch_process_dpla_index_spark.operators.analytics import pair_supports
    from batch_process_dpla_index_spark.operators.graph import common_neighbors

    li = load_table(spark, sf_dir, "lineitem")
    edges = pair_supports(li, "l_orderkey", "l_partkey", min_support=2).select(
        F.col("ia").alias("src"), F.col("ib").alias("dst")
    )
    return common_neighbors(edges, max_degree=10_000, k=25)


def q_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source corpus overlap via per-source union-MinHash
    sketches: one map + ONE hash aggregate (64 min columns, map-side
    partials) + a tiny |sources|² self-join — the dataset-mixing
    diagnostic, never a cross-source pair scan
    (operators/dedup.py:source_minhash_overlap)."""
    from batch_process_dpla_index_spark.operators.dedup import (
        source_minhash_overlap,
    )

    docs = load_table(spark, sf_dir, "documents")
    return source_minhash_overlap(
        docs, n=3, num_perm=64
    ).orderBy("source_a", "source_b")


def q_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM quartile segmentation of the order fact: one per-customer
    aggregate, nine exact-percentile edges from ONE aggregate folded
    back as a broadcast 1-row join (the quantile_bins edge shape —
    never a global ntile window), strict-crossing scores with ties
    scoring down (operators/analytics.py:rfm_segments)."""
    from batch_process_dpla_index_spark.operators.analytics import rfm_segments
    from batch_process_dpla_index_spark.operators.dedup import carry_deps

    orders = load_table(spark, sf_dir, "orders")
    out = rfm_segments(orders)
    return carry_deps(out.orderBy("custkey"), out)


def q_churn_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Churn-label generation (14-day horizon vs the corpus' latest
    timestamp): the training-label pass of a churn-model pipeline —
    one per-user aggregate + a 1-row broadcast anchor, all-integer
    outputs (operators/analytics.py:churn_labels)."""
    from batch_process_dpla_index_spark.operators.analytics import churn_labels
    from batch_process_dpla_index_spark.operators.dedup import carry_deps

    events = load_table(spark, sf_dir, "events")
    out = churn_labels(events, horizon_days=14)
    return carry_deps(out.orderBy("user_id"), out)


def q_readability_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch reading-ease + Flesch-Kincaid grade per document from
    integer word / sentence-run / vowel-group-syllable counts — pure
    scan-stage expressions (functions/text.py:syllables_tok), zero
    shuffles; the float formula is a fixed left-to-right chain over
    bit-identical integers, so scores verify value-exactly."""
    from batch_process_dpla_index_spark.functions.text import (
        sentence_count,
        syllables_tok,
        tokens,
    )

    docs = load_table(spark, sf_dir, "documents")
    m = docs.select(
        "doc_id",
        F.size(tokens(F.col("text"))).cast("bigint").alias("n_words"),
        sentence_count(F.col("text")).alias("n_sentences"),
        syllables_tok(tokens(F.col("text"))).alias("n_syllables"),
    ).where(F.col("n_words") >= 1)
    wps = F.col("n_words") / F.col("n_sentences")
    spw = F.col("n_syllables") / F.col("n_words")
    return m.select(
        "doc_id",
        "n_words",
        "n_sentences",
        "n_syllables",
        F.round(
            F.lit(206.835) - F.lit(1.015) * wps - F.lit(84.6) * spw, 6
        ).alias("flesch"),
        F.round(
            F.lit(0.39) * wps + F.lit(11.8) * spw - F.lit(15.59), 6
        ).alias("fk_grade"),
    )


def q_source_overlap_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingest-delta refresh of the cross-source mixing diagnostic:
    per-source union-MinHash signatures computed over the DELTA slice
    only (doc_id % 10 == 7), merged onto the corpus slice's persisted
    signatures by the min-per-perm identity, then the tiny |sources|²
    overlap join — bit-identical to re-running source_overlap on the
    full corpus, at delta scan cost
    (operators/dedup.py:source_overlap_incremental)."""
    from batch_process_dpla_index_spark.operators.dedup import (
        source_overlap_incremental,
        source_signatures,
    )

    docs = load_table(spark, sf_dir, "documents")
    corpus = docs.where(F.col("doc_id") % 10 != 7)
    delta = docs.where(F.col("doc_id") % 10 == 7)
    corpus_sigs = source_signatures(corpus, n=3, num_perm=64)
    return source_overlap_incremental(
        delta, corpus_sigs, n=3, num_perm=64
    ).orderBy("source_a", "source_b")


def q_kcore_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-core peeling of the co-purchase graph (parts co-occurring in
    ≥2 orders — the common_neighbors edge set): 12 fixed rounds of
    drop-degree-below-k, one count aggregate + two semi-joins per
    round over the monotonically-shrinking adjacency, all-integer →
    bit-exact (operators/graph.py:kcore_decomposition). 12 rounds
    converge at every test SF (pinned by pytest against a true-core
    simulation)."""
    from batch_process_dpla_index_spark.operators.analytics import pair_supports
    from batch_process_dpla_index_spark.operators.graph import kcore_decomposition

    li = load_table(spark, sf_dir, "lineitem")
    edges = pair_supports(li, "l_orderkey", "l_partkey", min_support=2).select(
        F.col("ia").alias("src"), F.col("ib").alias("dst")
    )
    return kcore_decomposition(edges, k=3, iterations=12).orderBy("node")


def q_source_drift_ks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source two-sample KS distance of the doc-length
    distribution vs the rest of the corpus (r15 debut) — the
    distribution-drift monitor of the ingest pipeline. Integer-exact
    up to one final divide (operators/profiling.py:source_drift_ks);
    one corpus shuffle, then grid-sized metadata."""
    from batch_process_dpla_index_spark.operators.profiling import (
        source_drift_ks,
    )

    docs = load_table(spark, sf_dir, "documents")
    return source_drift_ks(docs, "source", "n_chars")


def q_embedding_centroid_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid cosine vs the global embedding centroid
    (r15 debut) — the vector-corpus drift monitor
    (operators/profiling.py:embedding_centroid_drift). Means rounded
    6 dp before the cosine so both engines run identical doubles."""
    from batch_process_dpla_index_spark.operators.profiling import (
        embedding_centroid_drift,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    return embedding_centroid_drift(emb, "embedding", "label")


def q_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quasi-identifier combos (source, lang, 200-char length bucket)
    matching fewer than k=5 documents (r15 debut) — the k-anonymity
    suppression list a dataset release audits
    (operators/curation.py:k_anonymity_audit). One hash aggregate.
    Bucketing is FLOOR division on both engines (Spark `div` truncates
    toward zero while DuckDB `//` floors — they diverge on negative
    n_chars, r16 ADVICE), so the contract is explicit, not fixture-
    dependent."""
    from batch_process_dpla_index_spark.operators.curation import (
        k_anonymity_audit,
    )

    docs = load_table(spark, sf_dir, "documents").select(
        "source",
        "lang",
        F.floor(F.col("n_chars") / 200).cast("bigint").alias("len_bucket"),
    )
    return k_anonymity_audit(docs, ["source", "lang", "len_bucket"], k=5)


def q_source_lang_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-mix entropy + top-language share per source (r15
    debut) — the per-source language datasheet
    (operators/curation.py:source_lang_entropy). Exact-count entropy
    identity; two map-combined aggregates."""
    from batch_process_dpla_index_spark.operators.curation import (
        source_lang_entropy,
    )

    docs = load_table(spark, sf_dir, "documents")
    return source_lang_entropy(docs, "source", "lang")


def q_temporal_drift_ks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-over-day two-sample KS distance of the event-value
    distribution (r15 debut) — the temporal drift monitor
    (operators/profiling.py:temporal_drift_ks). Integer-exact ECDF
    grid, one corpus shuffle."""
    from batch_process_dpla_index_spark.operators.profiling import (
        temporal_drift_ks,
    )

    events = load_table(spark, sf_dir, "events")
    return temporal_drift_ks(events, "ts", "value")


def q_event_mix_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-over-day total-variation distance of the event-type mix
    (r15 debut) — the categorical drift monitor
    (operators/profiling.py:event_mix_drift). Integer TV numerator,
    one corpus shuffle."""
    from batch_process_dpla_index_spark.operators.profiling import (
        event_mix_drift,
    )

    events = load_table(spark, sf_dir, "events")
    return event_mix_drift(events, "ts", "event_type")


def q_l_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(source, 100-char bucket) combos where the lang attribute takes
    fewer than l=3 distinct values (r15 late debut, staged r17) — the
    l-diversity disclosure list next to k_anonymity
    (operators/curation.py:l_diversity_audit)."""
    from batch_process_dpla_index_spark.operators.curation import (
        l_diversity_audit,
    )

    docs = load_table(spark, sf_dir, "documents").select(
        "source",
        # FLOOR division to match DuckDB's `//` (Spark `div` truncates
        # toward zero — diverges on negative n_chars, r16 ADVICE)
        F.floor(F.col("n_chars") / 100).cast("bigint").alias("len_bucket"),
        "lang",
    )
    return l_diversity_audit(docs, ["source", "len_bucket"], "lang", l=3)


def q_contamination_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise cross-source shingle containment (r15 late debut,
    staged r17) — the mirrored-feed detector
    (operators/curation.py:contamination_matrix). Since r17 the
    DEFAULT path is the two-tier screened plan (sketch clears pairs,
    exact containment only for flagged ones — r16 VERDICT #2); the
    all-pairs posting self-join is explicit-opt-in only. Shingle
    conventions shared with the jaccard dedup tier."""
    from batch_process_dpla_index_spark.operators.curation import (
        contamination_matrix,
    )

    docs = load_table(spark, sf_dir, "documents")
    return contamination_matrix(docs, "text", "source", n=3)


# Registry order is part of the driver contract: the correctness gate
# records exactly the FIRST 50 entries; every entry outside the window
# stays oracle-verified each round via tools/verify_local.py at
# sf0.001 + sf0.01 and rotates back in on the freshness schedule (the
# window comment below documents the current rotation and the staged
# next-round window).
QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    # The driver's correctness gate records the FIRST 50 entries only;
    # round-17 rotation (VERDICT r16 #1 — executed exactly as staged
    # in ROUNDNOTES r16): positions 1-6 are the six staged debuts
    # (`l_diversity`/`contamination_matrix` from r15,
    # `fuzzy_decontaminate`/`contamination_screened`/`temporal_psi`/
    # `source_psi` from r16 — the ONLY registry entries with no driver
    # row; this window lands their first CORRECTNESS rows, closing the
    # registry at 183/183 ever-driver-verified), positions 7-33 are
    # the r13-green cohort's 27-entry remainder, positions 34-50 are
    # the first 17 of the r14-green cohort. The r14 cohort's remainder
    # and the displaced r16 window defer with fleet-verify receipts;
    # rotation arithmetic + deferral receipts live in ROUNDNOTES.md.
    # -- the six staged debuts (first driver rows) --
    "l_diversity": q_l_diversity,
    "contamination_matrix": q_contamination_matrix,
    "fuzzy_decontaminate": q_fuzzy_decontaminate,
    "contamination_screened": q_contamination_screened,
    "temporal_psi": q_temporal_psi,
    "source_psi": q_source_psi,
    # -- the r13-green cohort's 27-entry remainder --
    "quality_gate": q_quality_gate,
    "global_shuffle": q_global_shuffle,
    "doc_chunks": q_doc_chunks,
    "packed_bins": q_packed_bins,
    "stratified_sample": q_stratified_sample,
    "apply_changeset": q_apply_changeset,
    "skew_report": q_skew_report,
    "corpus_report": q_corpus_report,
    "event_rank_suite": q_event_rank_suite,
    "text_stats": q_text_stats,
    "melt_metrics": q_melt_metrics,
    "cube_flags": q_cube_flags,
    "pii_redaction": q_pii_redaction,
    "repetition_stats": q_repetition_stats,
    "top_bigrams": q_top_bigrams,
    "bpe_token_counts": q_bpe_token_counts,
    "fingerprint_folded": q_fingerprint_folded,
    "fuzzy_match": q_fuzzy_match,
    "snm_multipass": q_snm_multipass,
    "skipgram_cooc": q_skipgram_cooc,
    "rrf_fusion": q_rrf_fusion,
    "avro_flatten_items": q_avro_flatten_items,
    "repair_flatten": q_repair_flatten,
    "schema_align": q_schema_align,
    "decontaminate": q_decontaminate,
    "fingerprint_clusters": q_fingerprint_clusters,
    "mq_contributor_scores": q_mq_contributor_scores,
    # -- first 17 of the r14-green cohort --
    "image_near_dup": q_image_near_dup,
    "image_dedup_survivors": q_image_dedup_survivors,
    "video_near_dup": q_video_near_dup,
    "audio_pcm_stats": q_audio_pcm_stats,
    "udtf_sentences": q_udtf_sentences,
    "segment_with_f_orders": q_segment_with_f_orders,
    "customers_without_orders": q_customers_without_orders,
    "priority_by_month": q_priority_by_month,
    "union_entities": q_union_entities,
    "boilerplate_stats": q_boilerplate_stats,
    "rollup_flags": q_rollup_flags,
    "grouping_sets": q_grouping_sets,
    "zorder_events": q_zorder_events,
    "salted_brand_join": q_salted_brand_join,
    "segment_overlap": q_segment_overlap,
    "sql_supplier_share": q_sql_supplier_share,
    "latest_events_per_user": q_latest_events_per_user,
    # ---- driver-window boundary (entry 50 above this line) ----
    # -- the displaced r16 window (all driver-green in
    #    CORRECTNESS_r16; re-verified via fleet runs each round):
    #    the six r15 drift/privacy debuts, the r12-green cohort's
    #    21-entry remainder, the first 23 of the r13-green cohort --
    "source_drift_ks": q_source_drift_ks,
    "embedding_centroid_drift": q_embedding_centroid_drift,
    "k_anonymity": q_k_anonymity,
    "source_lang_entropy": q_source_lang_entropy,
    "temporal_drift_ks": q_temporal_drift_ks,
    "event_mix_drift": q_event_mix_drift,
    "quantile_bins": q_quantile_bins,
    "er_clusters": q_er_clusters,
    "exact_dedup": q_exact_dedup,
    "jaccard_pairs": q_jaccard_pairs,
    "minhash_lsh_pairs": q_minhash_lsh_pairs,
    "dedup_clusters": q_dedup_clusters,
    "sentence_dedup": q_sentence_dedup,
    "incremental_dedup": q_incremental_dedup,
    "cosine_topk": q_cosine_topk,
    "lsh_ann_topk": q_lsh_ann_topk,
    "ivf_topk": q_ivf_topk,
    "embedding_near_dup": q_embedding_near_dup,
    "mq_provider_scores": q_mq_provider_scores,
    "flatten_items": q_flatten_items,
    "doc_presence_scores": q_doc_presence_scores,
    "asof_purchases": q_asof_purchases,
    "gap_fill": q_gap_fill,
    "hourly_event_counts": q_hourly_event_counts,
    "sliding_event_counts": q_sliding_event_counts,
    "user_sessions": q_user_sessions,
    "interval_join": q_interval_join,
    "semantic_dedup": q_semantic_dedup,
    "incremental_semantic_dedup": q_incremental_semantic_dedup,
    "cell_occupancy": q_cell_occupancy,
    "dataset_dup_profile": q_dataset_dup_profile,
    "multimodal_resize": q_multimodal_resize,
    "user_cumsum": q_user_cumsum,
    "user_zscore": q_user_zscore,
    "multimodal_meta": q_multimodal_meta,
    "mixture_plan": q_mixture_plan,
    "mixture_sample": q_mixture_sample,
    "domain_cap": q_domain_cap,
    "lm_scores": q_lm_scores,
    "bm25_search": q_bm25_search,
    "source_overlap_incremental": q_source_overlap_incremental,
    "kcore_decomposition": q_kcore_decomposition,
    "ivf_pq_topk": q_ivf_pq_topk,
    "cluster_silhouette": q_cluster_silhouette,
    "attribution_time_decay": q_attribution_time_decay,
    "clustering_coefficients": q_clustering_coefficients,
    "source_concentration": q_source_concentration,
    "source_overlap": q_source_overlap,
    "pq_topk": q_pq_topk,
    "tokenizer_fertility": q_tokenizer_fertility,
    # -- the r14-green cohort's remainder (every entry has a green
    #    driver row, re-verified via fleet runs each round) --
    "rolling_user_value": q_rolling_user_value,
    "ivf_recall_report": q_ivf_recall_report,
    "top_orders": q_top_orders,
    "region_revenue": q_region_revenue,
    "pricing_summary": q_pricing_summary,
    "scalar_suite": q_scalar_suite,
    "props_by_type": q_props_by_type,
    "brand_revenue": q_brand_revenue,
    "hash_sample_split": q_hash_sample_split,
    "simhash_pairs": q_simhash_pairs,
    "language_id": q_language_id,
    "rolling_hash": q_rolling_hash,
    "pivot_status": q_pivot_status,
    "event_calendar": q_event_calendar,
    "value_percentiles": q_value_percentiles,
    "price_histogram": q_price_histogram,
    # the name of the former Arrow twin; cosine_topk has one kernel now
    "cosine_topk_pandas": q_cosine_topk,
    "sitemap_urls": q_sitemap_urls,
    "multimodal_decode": q_multimodal_decode,
    "multimodal_frames": q_multimodal_frames,
    "thumbnail_keys": q_thumbnail_keys,
    "distinct_parts_per_flag": q_distinct_parts_per_flag,
    "props_from_json": q_props_from_json,
    "kmeans_cells": q_kmeans_cells,
    "semdedup": q_semdedup,
    "dsir_weights": q_dsir_weights,
    "tfidf_terms": q_tfidf_terms,
    "char_entropy": q_char_entropy,
    "duplicate_spans": q_duplicate_spans,
    "funnel_stages": q_funnel_stages,
    "scd2_history": q_scd2_history,
    "retention_cohorts": q_retention_cohorts,
    "dedup_representatives": q_dedup_representatives,
    # -- the displaced r15 window (all driver-green in
    #    CORRECTNESS_r15; re-verified via fleet runs each round) --
    "audio_near_dup": q_audio_near_dup,
    "audio_dedup_survivors": q_audio_dedup_survivors,
    "video_dedup_survivors": q_video_dedup_survivors,
    "modality_dup_report": q_modality_dup_report,
    "leakage_safe_split": q_leakage_safe_split,
    "benford_profile": q_benford_profile,
    "winsorized_stats": q_winsorized_stats,
    "cusum_changepoint": q_cusum_changepoint,
    "domain_quality_rank": q_domain_quality_rank,
    "ngram_novelty": q_ngram_novelty,
    "bloom_prune_join": q_bloom_prune_join,
    "hard_negatives": q_hard_negatives,
    "lsh_quality_report": q_lsh_quality_report,
    "random_projection_profile": q_random_projection_profile,
    "label_propagation": q_label_propagation,
    "embedding_dim_profile": q_embedding_dim_profile,
    "growth_rates": q_growth_rates,
    "market_basket": q_market_basket,
    "vocab_coverage": q_vocab_coverage,
    "attribution_last_touch": q_attribution_last_touch,
    "seasonal_baseline": q_seasonal_baseline,
    "two_level_kmeans": q_two_level_kmeans,
    "imi_topk": q_imi_topk,
    "imi_recall_report": q_imi_recall_report,
    "triangle_count": q_triangle_count,
    "bpe_merges": q_bpe_merges,
    "rfm_segments": q_rfm_segments,
    "churn_labels": q_churn_labels,
    "readability_scores": q_readability_scores,
    "hits_scores": q_hits_scores,
    "common_neighbors": q_common_neighbors,
    "keep_first": q_keep_first,
    "user_running_anomaly": q_user_running_anomaly,
    "quality_classifier": q_quality_classifier,
    "containment_pairs": q_containment_pairs,
    "event_transitions": q_event_transitions,
    "nearest_purchase": q_nearest_purchase,
    "bigram_pmi": q_bigram_pmi,
    "weighted_sample": q_weighted_sample,
    "session_paths": q_session_paths,
    "pq_encode": q_pq_encode,
    "approx_distinct_users": q_approx_distinct_users,
    "price_tiers": q_price_tiers,
    "training_prep": q_training_prep,
    "column_profile": q_column_profile,
    "corr_matrix": q_corr_matrix,
    "decayed_counts": q_decayed_counts,
    "pagerank": q_pagerank,
    "heavy_hitters": q_heavy_hitters,
    "robust_outliers": q_robust_outliers,
    # -- r17 additions (staged r18; verified both SFs, pinned, probed
    #    same-round per the staging discipline) --
    "temporal_wasserstein": q_temporal_wasserstein,
    "source_wasserstein": q_source_wasserstein,
    "drift_attribution": q_drift_attribution,
}
