"""Physical-plan audits — the 100 TB design assertions.

Each test pins a plan property that must hold for the operator to
survive scale-up: dimension joins broadcast, filters reach the scan,
projections prune columns, single-shuffle aggregations stay single-
shuffle, reshape pipelines never exchange. A regression here is a
performance bug even when results stay correct.
"""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from batch_process_dpla_index_spark.queries import QUERIES
from tests.conftest import SF_DIR


def _plan(spark, name: str) -> str:
    df = QUERIES[name](spark, SF_DIR)
    return df._jdf.queryExecution().executedPlan().toString()


def test_star_join_broadcasts_dims(spark):
    plan = _plan(spark, "region_revenue")
    assert plan.count("BroadcastHashJoin") >= 3, plan
    # dims must never sort-merge at any SF — they're declared broadcast
    assert "SortMergeJoin" not in plan or plan.count("BroadcastHashJoin") >= 3


def test_filter_pushdown_reaches_scan(spark):
    plan = _plan(spark, "pricing_summary")
    pushed = re.search(r"PushedFilters: \[([^\]]*)\]", plan)
    assert pushed and "l_shipdate" in pushed.group(1), plan


def test_partial_aggregation(spark):
    """groupBy must plan partial (map-side) + final hash aggregate —
    the shuffle carries |groups| rows, not |input| rows."""
    plan = _plan(spark, "pricing_summary")
    assert plan.count("HashAggregate") >= 2, plan


def test_topk_avoids_global_sort(spark):
    plan = _plan(spark, "top_orders")
    assert "TakeOrderedAndProject" in plan, plan


def test_column_pruning(spark):
    plan = _plan(spark, "scalar_suite")
    schema = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert schema is not None
    cols = {c.split(":")[0] for c in schema.group(1).split(",")}
    assert cols == {"c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"}


def test_flatten_is_shuffle_free(spark):
    """The ParquetDump reshape must stay one narrow stage
    (ParquetDump.scala parity: scan → Project → write, no Exchange)."""
    from batch_process_dpla_index_spark.model.fixtures import synthesize_enriched
    from batch_process_dpla_index_spark.model.flatten import modify_columns
    from batch_process_dpla_index_spark.sources.tables import load_table

    flat = modify_columns(synthesize_enriched(load_table(spark, SF_DIR, "documents")))
    plan = flat._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan


def test_exact_dedup_single_shuffle(spark):
    plan = _plan(spark, "exact_dedup")
    assert plan.count("Exchange") == 1, plan


def test_keep_first_single_shuffle_window(spark):
    plan = _plan(spark, "keep_first")
    assert plan.count("Exchange") == 1 and "Window" in plan, plan


def test_semi_anti_join_shapes(spark):
    for name, kind in (("segment_with_f_orders", "LeftSemi"), ("customers_without_orders", "LeftAnti")):
        plan = _plan(spark, name)
        assert kind in plan, (name, plan)


def test_mq_scores_single_agg_shuffle(spark):
    """MQ provider scores: flags are narrow; the only exchange is the
    final-aggregate shuffle of |providers| rows (plus AQE reads)."""
    plan = _plan(spark, "mq_provider_scores")
    assert plan.count("HashAggregate") >= 2, plan
    # narrow flag projection must not introduce a pre-agg exchange
    exchanges = plan.count("Exchange hashpartitioning")
    assert exchanges <= 1, plan


def test_partitioned_write_prunes(spark, tmp_path_factory):
    """Dated-path layout as real partitions: a month filter must prune
    at planning time (PartitionFilters), not scan-and-discard."""
    from pyspark.sql import functions as F

    from batch_process_dpla_index_spark.io.sinks import write_parquet_partitioned
    from batch_process_dpla_index_spark.sources.tables import load_table

    out = str(tmp_path_factory.mktemp("dated") / "orders")
    orders = load_table(spark, SF_DIR, "orders").withColumn(
        "year", F.year("o_orderdate")
    ).withColumn("month", F.month("o_orderdate"))
    write_parquet_partitioned(orders, out, ["year", "month"])

    back = spark.read.parquet(out).filter("year = 1995 AND month = 3")
    plan = back._jdf.queryExecution().executedPlan().toString()
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "year" in m.group(1) and "month" in m.group(1), plan
    # and the filter is partition-level, not a data filter on the scan
    n = back.count()
    want = orders.filter("year = 1995 AND month = 3").count()
    assert n == want > 0


def test_wholestage_codegen_active(spark):
    """The scan→filter→partial-agg pipeline must sit inside
    WholeStageCodegen stages (the `*(n)` markers; AQE's wrapper hides
    them at explain time, so plan with AQE off — and flip the conf
    AFTER building the query, because the loader's tune() re-asserts
    AQE on)."""
    df = QUERIES["pricing_summary"](spark, SF_DIR)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        # physical planning happens lazily here, under adaptive=false
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "*(" in plan, plan
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")


def test_interval_join_is_equi_join_not_cartesian(spark):
    """The time-interval join must plan as a key equi-join with the
    range bound as residual condition — a BroadcastNestedLoop or
    Cartesian here would be quadratic at scale."""
    plan = _plan(spark, "interval_join")
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert ("SortMergeJoin" in plan) or ("ShuffledHashJoin" in plan) or (
        "BroadcastHashJoin" in plan
    ), plan


def test_fingerprint_folded_is_shuffle_free(spark):
    """Accent folding + fingerprinting is a pure scan projection
    (translate + md5) — no Exchange at any scale."""
    plan = _plan(spark, "fingerprint_folded")
    assert "Exchange" not in plan, plan


def test_cosine_topk_registered_plan_uses_arrow(spark):
    """The registered cosine_topk must execute the BLAS mapInArrow
    plan (the |Q|x|C| expression materialization was the round-2
    scale-killer)."""
    plan = _plan(spark, "cosine_topk")
    assert "MapInArrow" in plan, plan


def test_changeset_anti_join_broadcasts_delta(spark):
    """The daily-delta changeset is small vs the snapshot; AQE must
    broadcast it in the left_anti (no SortMergeJoin on the apply)."""
    df = QUERIES["apply_changeset"](spark, SF_DIR)
    df.count()  # let AQE finalize
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_skew_report_single_reduce_topn(spark):
    plan = _plan(spark, "skew_report")
    assert "TakeOrdered" in plan, plan


def test_user_cumsum_is_jvm_window(spark):
    """The running sum must be a pure JVM window plan: exactly one
    hash exchange on user_id, a Window node, and ZERO Python/Arrow
    exchanges (the applyInPandas form it replaced cost ~10x)."""
    plan = _plan(spark, "user_cumsum")
    assert "Window" in plan, plan
    assert plan.count("Exchange hashpartitioning") == 1, plan
    for marker in ("MapInPandas", "MapInArrow", "FlatMapGroupsInPandas", "ArrowEvalPython", "BatchEvalPython"):
        assert marker not in plan, plan


def test_user_zscore_is_grouped_arrow(spark):
    """user_zscore deliberately exercises the grouped-pandas exchange
    (FlatMapGroupsInPandas) — the registered demo of that path."""
    plan = _plan(spark, "user_zscore")
    assert "FlatMapGroupsInPandas" in plan, plan


def test_sentence_dedup_keep_first_avoids_window(spark):
    """The registered sentence_dedup (max_occurrences=1) must use the
    min-struct aggregate, NOT a per-sentence ranking window — a hot
    sentence would serialize a window partition at scale."""
    plan = _plan(spark, "sentence_dedup")
    assert "Window" not in plan, plan
    for marker in ("MapInPandas", "MapInArrow", "FlatMapGroupsInPandas", "BatchEvalPython"):
        assert marker not in plan, plan


def test_lm_scores_is_jvm_only_with_broadcast_stats(spark):
    """LM scoring stays whole-JVM: no Python nodes; the (N, V) corpus
    stats ride a broadcast join, never a shuffled one."""
    plan = _plan(spark, "lm_scores")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan, plan
    for marker in ("MapInPandas", "MapInArrow", "FlatMapGroupsInPandas", "ArrowEvalPython", "BatchEvalPython"):
        assert marker not in plan, plan


def test_melt_is_shuffle_free(spark):
    """Unpivot must stay a narrow Generate — no Exchange at any scale."""
    plan = _plan(spark, "melt_metrics")
    assert "Exchange" not in plan, plan


def test_gap_fill_two_shuffles(spark):
    """Resample+ffill: span aggregate + per-user fill window — the
    grid explode and the hourly agg share the user_id partitioning, so
    the whole plan needs at most three exchanges (hourly agg, span
    agg reuse, window), never one per stage."""
    plan = _plan(spark, "gap_fill")
    assert plan.count("Exchange hashpartitioning") <= 3, plan
    for marker in ("MapInPandas", "MapInArrow", "FlatMapGroupsInPandas", "BatchEvalPython"):
        assert marker not in plan, plan


def test_scd2_windows_share_one_exchange(spark):
    """Both SCD2 windows (change-point lag, interval-closing lead) use
    the same (key, ts) partitioning+ordering, so the whole operator
    must plan exactly ONE Exchange and ONE Sort — at 100 TB the change
    stream is shuffled once, not once per window."""
    plan = _plan(spark, "scd2_history")
    assert plan.count("Exchange") == 1, plan
    assert plan.count("Sort ") == 1, plan


def test_classifier_is_shuffle_free_jvm(spark):
    """The literal-map weight lookup + fold must stay a narrow codegen
    stage: no Exchange, no join, no Python."""
    plan = _plan(spark, "quality_classifier")
    assert "Exchange" not in plan, plan
    for marker in ("Join", "MapInPandas", "MapInArrow", "BatchEvalPython", "ArrowEvalPython"):
        assert marker not in plan, plan


def test_running_anomaly_single_exchange(spark):
    """Expanding-window scoring is one shuffle on the key — the
    causal batch twin must not cost more than its streaming form."""
    plan = _plan(spark, "user_running_anomaly")
    assert plan.count("Exchange") == 1, plan


def test_duplicate_spans_no_all_pairs(spark):
    """Substring dedup must stay linear: gram aggregate + equi-join +
    per-doc window. Any nested-loop/cartesian step means the plan
    regressed to all-pairs."""
    plan = _plan(spark, "duplicate_spans")
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan, plan
    assert plan.count("Exchange") <= 4, plan


def test_funnel_is_one_fold_pass(spark):
    """The funnel must be the single fold-aggregate form: one corpus
    shuffle (user groupBy) plus tiny-frame plumbing — no per-step
    self-joins (would show len(steps) SortMergeJoins), no Python."""
    plan = _plan(spark, "funnel_stages")
    assert "SortMergeJoin" not in plan, plan
    for marker in ("MapInPandas", "MapInArrow", "FlatMapGroupsInPandas", "BatchEvalPython"):
        assert marker not in plan, plan


def test_column_profile_one_scan_no_joins(spark):
    """The profiler reads the table ONCE and unpivots via explode —
    a per-column scan loop or a join would multiply 100 TB reads."""
    plan = _plan(spark, "column_profile")
    assert len(re.findall(r"FileScan|Scan parquet", plan)) == 1, plan
    assert "Generate" in plan and "Join" not in plan, plan


def test_corr_matrix_single_pass_no_hash_shuffle(spark):
    """All k·(k-1)/2 correlations share one scan + one global
    aggregate; a hash exchange would mean a per-pair job snuck in."""
    plan = _plan(spark, "corr_matrix")
    assert len(re.findall(r"FileScan|Scan parquet", plan)) == 1, plan
    assert "Exchange hashpartitioning" not in plan, plan


def test_decayed_counts_broadcast_ref_single_agg(spark):
    """The corpus-max timestamp rides a 1-row broadcast nested-loop
    cross join (never a shuffle), leaving ONE hash exchange for the
    per-key aggregate."""
    plan = _plan(spark, "decayed_counts")
    assert "BroadcastNestedLoopJoin" in plan, plan
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_fuzzy_match_is_window_not_join(spark):
    """Sorted-neighborhood candidates come from a blocked window
    (one hash exchange on the block key) — any Join node would mean
    the O(n·w) contract regressed toward O(n²)."""
    plan = _plan(spark, "fuzzy_match")
    assert "Join" not in plan, plan
    assert "Window" in plan and "levenshtein" in plan, plan
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_pagerank_iterations_are_checkpointed(spark, monkeypatch):
    """The returned frame must scan the final checkpoint's RDD, not
    drag an 8-iteration lazy lineage — unbounded lineage is what
    breaks iterative Spark jobs at scale. Pins the DISTRIBUTED loop
    (the r17 driver tier returns a LocalTableScan and checkpoints
    nothing)."""
    import batch_process_dpla_index_spark.operators.graph as gr
    from batch_process_dpla_index_spark.operators.dedup import unpersist_deps

    monkeypatch.setattr(gr, "_GRAPH_DRIVER_MAX_EDGES", 0)
    df = QUERIES["pagerank"](spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    unpersist_deps(df)
    assert "Scan ExistingRDD" in plan, plan
    assert "FileScan" not in plan, plan  # no re-read of the edge source


def test_mg_sketch_pass_is_shuffle_free_arrow(spark):
    """Misra–Gries partition summaries fold in MapInPandas with ZERO
    exchanges — the whole point of the sketch is that the item domain
    never shuffles."""
    import pyspark.sql.functions as F

    from batch_process_dpla_index_spark.functions.text import tokens
    from batch_process_dpla_index_spark.operators.sketches import mg_summaries
    from batch_process_dpla_index_spark.sources.tables import load_table

    items = load_table(spark, SF_DIR, "documents").select(
        F.explode(tokens(F.col("text"))).alias("item")
    )
    plan = (
        mg_summaries(items, "item")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "MapInPandas" in plan and "Exchange" not in plan, plan


def test_robust_outliers_broadcast_stats_no_smj(spark):
    """Median/MAD stats frames are |keys| rows and must broadcast
    back; a SortMergeJoin would shuffle the corpus per stats round.
    No window: the expanding-window formulation would sort the corpus
    into one frame per key."""
    from batch_process_dpla_index_spark.operators.dedup import unpersist_deps

    df = QUERIES["robust_outliers"](spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    unpersist_deps(df)
    assert plan.count("BroadcastHashJoin") >= 2, plan
    assert "SortMergeJoin" not in plan, plan
    assert "Window" not in plan, plan


def test_quantile_bins_broadcast_edges_no_global_window(spark):
    """Cut points fold back as a 1-row broadcast (BNLJ) and binning is
    ONE hash aggregate — never the single-partition ntile window. The
    source is scanned twice (edges pass + binning pass) BY CHOICE:
    both scans prune to one column, and persisting the corpus to save
    a pruned re-scan is the worse trade at 100 TB."""
    plan = _plan(spark, "quantile_bins")
    assert "BroadcastNestedLoopJoin" in plan, plan
    assert "Window" not in plan, plan
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_skipgram_cooc_no_join(spark):
    """Pair generation must stay a per-row expression: no join, no
    window — only the pair-key aggregate exchanges (plus the top-k
    reduce). A position self-join would shuffle the exploded corpus."""
    plan = _plan(spark, "skipgram_cooc")
    assert "Join" not in plan, plan
    assert plan.count("HashAggregate") >= 2, plan  # partial + final
    assert "TakeOrderedAndProject" in plan, plan  # limit 25, no global sort


def test_multipass_snm_two_block_exchanges(spark):
    """Each SNM pass is one hash exchange on its block key + one
    per-block window; the dedup fold adds one aggregate exchange.
    A global (un-partitioned) sort must never appear."""
    plan = _plan(spark, "snm_multipass")
    assert plan.count("Window") == 2, plan
    # every Sort is within a partitioned window frame, not global
    assert "Exchange SinglePartition" not in plan, plan
    n_exch = plan.count("Exchange")
    assert n_exch <= 5, plan  # 2 block hashes + pair-dedup agg (+AQE reads)


def test_rrf_fusion_fuse_side_is_bounded(spark):
    """The fuse must aggregate bounded top-k candidate lists: both
    retrievers end in a TakeOrderedAndProject / Limit (no global sort
    of the corpus), the per-list rank windows run over those bounded
    lists, and no corpus-sized frame is broadcast (the only broadcasts
    are the 1-row query vector and the ≤|terms| BM25 term frame)."""
    plan = _plan(spark, "rrf_fusion")
    assert "TakeOrderedAndProject" in plan, plan
    # candidate ranking = 2 bounded windows (one per retriever list)
    assert plan.count("Window") == 2, plan
    # every join broadcasts a tiny frame (query vector, BM25 term
    # list, corpus stats) — the corpus itself must never shuffle or
    # sort-merge for a join on either retriever path
    assert "SortMergeJoin" not in plan, plan
    assert "ShuffledHashJoin" not in plan, plan


def test_dedup_representatives_no_data_broadcast(spark):
    """n_members must ride the per-cluster count window in the SAME
    pass as the keep-first pick — a separate counts frame joined with
    an explicit broadcast hint is one row per cluster (hundreds of
    millions at web scale) pinned to the driver. No BroadcastExchange
    may carry the cluster-members frame; the count adds zero
    exchanges beyond the window's cluster hash partitioning."""
    plan = _plan(spark, "dedup_representatives")
    # the per-cluster window pass (count + row_number share it)
    assert "Window" in plan, plan
    # broadcasts that remain belong to the CC label join as AQE sees
    # fit at this SF — but never a hinted counts frame: the counts
    # aggregate is gone entirely
    assert plan.count("HashAggregate") <= 2, plan


def test_bloom_prune_probes_are_scan_side_expressions(spark):
    """The bloom probe must fold into the fact side as an expression
    filter under a broadcast of the ONE-ROW bitmap frame — never a
    shuffle of lineitem for the pruning itself, and no SortMergeJoin
    anywhere (dim side is explicitly tiny here)."""
    plan = _plan(spark, "bloom_prune_join")
    assert "SortMergeJoin" not in plan, plan
    assert "BroadcastNestedLoopJoin" in plan, plan  # 1-row bitmap crossJoin
    # lineitem scans once: the probe filter and the exact join share it
    assert plan.count("Scan parquet") <= 3, plan


def test_bpe_merges_no_join_no_window(spark):
    """Pair generation is a per-row nested-transform expression; the
    only exchanges are the pair-key aggregate + the top-25 reduce."""
    plan = _plan(spark, "bpe_merges")
    assert "Join" not in plan, plan
    assert "Window" not in plan, plan
    assert "TakeOrderedAndProject" in plan, plan


def test_triangle_count_plan_is_checkpoint_truncated(spark, monkeypatch):
    """The census crossJoins aggregates of the SAME checkpointed
    frames — lineage must be truncated (materialized-RDD scans), not
    re-planned per branch: a lazy cache here re-printed ~300 phantom
    exchanges and re-planned the edge build under every branch. Pins
    the DISTRIBUTED plan (the r17 driver tier returns a
    LocalTableScan)."""
    import batch_process_dpla_index_spark.operators.graph as gr

    monkeypatch.setattr(gr, "_GRAPH_DRIVER_MAX_EDGES", 0)
    plan = _plan(spark, "triangle_count")
    assert plan.count("Exchange hashpartitioning") <= 4, plan
    assert "Scan ExistingRDD" in plan, plan


def test_seasonal_baseline_cells_broadcast_back(spark):
    """The (type, hour) cell frame is bounded by the key domain and
    must broadcast into the flag pass — the corpus exchanges only for
    its two aggregates."""
    plan = _plan(spark, "seasonal_baseline")
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_rfm_segments_edges_broadcast_corpus_scans_once(spark):
    """The nine quartile edges and the anchor date fold back as
    broadcast 1-row frames (never a global ntile window), and the
    per-customer aggregate is cached so the order fact scans once —
    three consumers read InMemory, none sort-merge."""
    plan = _plan(spark, "rfm_segments")
    assert "BroadcastNestedLoopJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert "InMemoryTableScan" in plan, plan


def test_churn_labels_anchor_broadcast_single_agg(spark):
    """The global-max anchor is a broadcast 1-row frame and the
    per-user aggregate caches — the event corpus scans exactly once,
    labeling is a projection over the cached frame."""
    plan = _plan(spark, "churn_labels")
    assert "BroadcastNestedLoopJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert "InMemoryTableScan" in plan, plan


def test_readability_is_pure_scan_stage(spark):
    """Readability is scan-stage-only by design: no exchange of any
    kind, no join — every count and both formulas evaluate inside the
    document scan's codegen stage."""
    plan = _plan(spark, "readability_scores")
    assert "Exchange" not in plan, plan
    assert "Join" not in plan, plan


def test_hits_iterations_are_checkpointed(spark, monkeypatch):
    """Each HITS iteration localCheckpoints: the final plan reads two
    materialized score RDDs, not an 8-deep join lineage (the pagerank
    truncation contract). Pins the DISTRIBUTED loop (the r17 driver
    tier returns a LocalTableScan and checkpoints nothing)."""
    import batch_process_dpla_index_spark.operators.graph as gr

    monkeypatch.setattr(gr, "_GRAPH_DRIVER_MAX_EDGES", 0)
    plan = _plan(spark, "hits_scores")
    assert "Scan ExistingRDD" in plan, plan
    assert plan.count("Exchange hashpartitioning") <= 4, plan


def test_common_neighbors_wedge_plan_is_truncated_topk(spark, monkeypatch):
    """The shared canonical-edge and center frames checkpoint (four
    consumers — two adjacency directions, degree agg, anti-join), so
    the wedge stage is two exchanges over materialized RDDs; the
    final ranking is TakeOrdered, never a global sort. Pins the
    DISTRIBUTED plan (the r17 driver tier returns a LocalTableScan)."""
    import batch_process_dpla_index_spark.operators.graph as gr

    monkeypatch.setattr(gr, "_GRAPH_DRIVER_MAX_EDGES", 0)
    plan = _plan(spark, "common_neighbors")
    assert "Scan ExistingRDD" in plan, plan
    assert plan.count("Exchange hashpartitioning") <= 4, plan
    assert "TakeOrderedAndProject" in plan, plan


def test_source_overlap_single_aggregate_broadcast_selfjoin(spark, monkeypatch):
    """r18: the pair table is the driver tier's LocalTableScan by
    default (the signature frame is bounded metadata, collected once
    under ``dedup._SIG_DRIVER_MAX_SOURCES``); the distributed shape —
    ONE hash aggregate over the shingle stream (min is
    duplicate-idempotent so there is NO distinct) feeding a
    BroadcastNestedLoopJoin — is pinned with the tier disabled, so the
    100 TB contract stays covered (the r17 tier-off pattern)."""
    plan = _plan(spark, "source_overlap")
    assert "LocalTableScan" in plan, plan
    assert "SortMergeJoin" not in plan, plan

    import batch_process_dpla_index_spark.operators.dedup as dd

    monkeypatch.setattr(dd, "_SIG_DRIVER_MAX_SOURCES", 0)
    plan = _plan(spark, "source_overlap")
    assert plan.count("Exchange hashpartitioning") <= 2, plan
    assert "BroadcastNestedLoopJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


@pytest.fixture(scope="module")
def ann_serve_plan(spark, tmp_path_factory):
    """Plans of one index serve (5 queries, 4 probes) against a small
    persisted IVF-PQ index — ``serve_plan(kind)`` serves under the
    current query-batch cap (``kind`` "ann" = the cosine serve, "pq" =
    the ADC serve over the codes, "ivf_pq_topk" = the registry query)
    and returns the served frame's executed-plan text and the plan
    text of each frame the serve collected as Arrow (the broadcast
    path's candidate pass), in call order."""
    from pyspark.sql.classic.dataframe import DataFrame as ClassicFrame

    from batch_process_dpla_index_spark.products.ann_index import (
        ann_query_indexed,
        build_ann_index,
        pq_query_indexed,
    )
    from batch_process_dpla_index_spark.sources.tables import load_table

    emb = load_table(spark, SF_DIR, "embeddings").select("vec_id", "embedding")
    idx = str(tmp_path_factory.mktemp("ann_plan") / "ann")
    build_ann_index(emb.orderBy("vec_id").limit(80), "vec_id", "embedding",
                    idx, dim=64, n_cells=8, learned=False, pq_m=8)
    queries = emb.orderBy(F.desc("vec_id")).limit(5)
    serves = {
        "ann": lambda: ann_query_indexed(
            spark, queries, "vec_id", "embedding", idx, k=3, n_probe=4
        ),
        "pq": lambda: pq_query_indexed(
            spark, queries, "vec_id", "embedding", idx, k=3, n_probe=4
        ),
        "ivf_pq_topk": lambda: QUERIES["ivf_pq_topk"](spark, SF_DIR),
    }

    def serve_plan(kind: str = "ann") -> tuple[str, list[str]]:
        collected: list[str] = []
        to_arrow = ClassicFrame.toArrow

        def spy(self):
            collected.append(self._jdf.queryExecution().executedPlan().toString())
            return to_arrow(self)

        with pytest.MonkeyPatch.context() as mp:
            mp.setattr(ClassicFrame, "toArrow", spy)
            df = serves[kind]()
        return df._jdf.queryExecution().executedPlan().toString(), collected

    return serve_plan


def _assert_probe_pass(served: str, cand: str, kind: str) -> None:
    """The broadcast-probe shape every IVF top-k serve shares: the
    served frame is a local table, and the one candidate pass is ONE
    Arrow pass with no cell-grouped Python stage (the stored rows never
    shuffle), no window, no exchange at all and no broadcast
    nested-loop join. Over a persisted index the pass reads a scan
    filtered to the probed cells (``In(cell`` pushed into the scan),
    and only the scorer's payload: the vectors for cosine, the codes
    for ADC. No Python pass is a pandas one (``ivf_pq_topk``'s
    stored side is its encode pass, a second ``MapInArrow``)."""
    assert "LocalTableScan" in served and "Exchange" not in served, served
    assert "MapInPandas" not in cand, cand
    for node in ("FlatMapGroupsInPandas", "Exchange", "Window",
                 "BroadcastNestedLoopJoin"):
        assert node not in cand, cand
    if kind == "ivf_pq_topk":
        # the candidate pass chained onto the one encode pass over
        # the corpus
        assert cand.count("MapInArrow") == 2, cand
        return
    assert cand.count("MapInArrow") == 1, cand
    pushed = re.findall(r"PushedFilters: \[([^\]]*)\]", cand)
    assert any("In(cell" in p for p in pushed), cand
    (read,) = re.findall(r"ReadSchema: struct<([^>]*)>", cand)
    assert ("codes:" in read) == (kind == "pq"), read
    assert ("vec:" in read) == (kind == "ann"), read


def _scan_off(monkeypatch):
    """Decline the driver read of the probed cells (scan cap 0): an
    index serve takes its Spark pass."""
    from batch_process_dpla_index_spark.products import index_tombstones

    monkeypatch.setattr(index_tombstones, "_SCAN_DRIVER_MAX_ROWS", 0)


def test_ann_serve_broadcast_probe_plan(ann_serve_plan, monkeypatch):
    """Under the default caps the ANN serve reads and scores the
    probed cells on the driver: nothing is collected as Arrow, and the
    served frame is a local table. At scan cap 0 it ships the query
    batch to the stored side and merges the candidates on the driver
    (:func:`_assert_probe_pass`)."""
    served, collected = ann_serve_plan()
    assert "LocalTableScan" in served and collected == [], collected
    _scan_off(monkeypatch)
    served, (cand,) = ann_serve_plan()
    _assert_probe_pass(served, cand, "ann")


def test_ann_serve_tier_off_plan_is_cell_shuffle(ann_serve_plan, monkeypatch):
    """Tier-off pin: a batch over the query-batch cap (here a cap of
    0) takes the distributed plan — stored and probe rows grouped on
    the cell id (FlatMapGroupsInPandas)."""
    from batch_process_dpla_index_spark.operators import similarity

    monkeypatch.setattr(similarity, "_QUERY_BATCH_CAP_BYTES", 0)
    assert "FlatMapGroupsInPandas" in ann_serve_plan()[0]


@pytest.mark.parametrize("kind", ["pq", "ivf_pq_topk"])
def test_pq_serve_broadcast_probe_plan(ann_serve_plan, monkeypatch, kind):
    """The PQ index serve and ``ivf_pq_topk`` take the ANN serve's
    plan with the ADC scorer (:func:`_assert_probe_pass`): the PQ
    scan reads (cell, id, codes), never ``vec``. The PQ index serve
    reads its cells on the driver under the default caps and collects
    nothing as Arrow; ``ivf_pq_topk`` has no index dir and always takes
    the Arrow pass. Over the query cap both take the cell shuffle,
    still with no broadcast nested-loop join."""
    from batch_process_dpla_index_spark.operators import similarity

    if kind == "pq":
        served, collected = ann_serve_plan(kind)
        assert "LocalTableScan" in served and collected == [], collected
        _scan_off(monkeypatch)
    served, (cand,) = ann_serve_plan(kind)
    _assert_probe_pass(served, cand, kind)
    monkeypatch.setattr(similarity, "_QUERY_BATCH_CAP_BYTES", 0)
    plan = ann_serve_plan(kind)[0]
    assert "FlatMapGroupsInPandas" in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_ann_serve_cap_counts_query_vectors(ann_serve_plan, monkeypatch):
    """The query-batch cap is in bytes of 8·dim per query: the
    5-query batch at dim 64 (2,560 bytes) still broadcasts at a cap
    of exactly 2,560 and falls back to the cell shuffle one byte
    under it."""
    from batch_process_dpla_index_spark.operators import similarity

    monkeypatch.setattr(similarity, "_QUERY_BATCH_CAP_BYTES", 5 * 8 * 64)
    assert "FlatMapGroupsInPandas" not in ann_serve_plan()[0]
    monkeypatch.setattr(similarity, "_QUERY_BATCH_CAP_BYTES", 5 * 8 * 64 - 1)
    assert "FlatMapGroupsInPandas" in ann_serve_plan()[0]


def test_overlap_index_artifact_write_repartition_not_coalesce(spark):
    """The overlap-index artifact write must stay `repartition(1)`:
    coalesce(1) folds the single-task constraint into the upstream
    Arrow signature stage (measured 2x the build — BASELINE.md r9
    notes). Pin = a RoundRobin exchange above the signature aggregate
    and ZERO Coalesce nodes; a regression back to coalesce flips both
    asserts (VERDICT r9 #2)."""
    from batch_process_dpla_index_spark.operators.dedup import source_signatures
    from batch_process_dpla_index_spark.products.overlap_index import (
        _artifact_frame,
    )
    from batch_process_dpla_index_spark.sources.tables import load_table
    from tests.conftest import SF_DIR

    docs = load_table(spark, SF_DIR, "documents")
    frame = _artifact_frame(source_signatures(docs))
    plan = frame._jdf.queryExecution().executedPlan().toString()
    # repartition(1) plans as a REPARTITION_BY_NUM single-partition
    # exchange ABOVE the signature aggregate; coalesce(1) would plan
    # as a Coalesce node that folds the aggregate itself to one task
    assert "Exchange SinglePartition, REPARTITION_BY_NUM" in plan, plan
    assert "Coalesce" not in plan, plan


def _load_plan_audit():
    """tools/plan_audit.py as a module (tools/ is not a package)."""
    import importlib.util
    import os

    spec = importlib.util.spec_from_file_location(
        "plan_audit",
        os.path.join(os.path.dirname(__file__), "..", "tools", "plan_audit.py"),
    )
    plan_audit = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(plan_audit)
    return plan_audit


def test_plan_audit_reprint_cover_needs_deeper_relation_and_header():
    """Hand-built plans pinning filescans_outside_cache's reprint rule:
    a FileScan outside every InMemoryRelation subtree counts as a
    re-scan unless the nearest preceding relation sits deeper than it
    AND a reprint section header lies between them."""
    plan_audit = _load_plan_audit()
    # a materialized cache reprinted as a flat AQE dump: the scan sits
    # shallower than the relation, below its section header -> covered
    reprint = "\n".join([
        "AdaptiveSparkPlan isFinalPlan=true",
        "+- == Final Plan ==",
        "   *(1) Project [a]",
        "   +- InMemoryTableScan [a]",
        "         +- InMemoryRelation [a], StorageLevel(disk, 1 replicas)",
        "               +- AdaptiveSparkPlan isFinalPlan=true",
        "+- == Final Plan ==",
        "   ResultQueryStage 0",
        "   +- *(1) FileScan parquet [a]",
    ])
    assert plan_audit.filescans_outside_cache(reprint) == 0
    # false positive 1: a sibling re-scan after a cached subtree, with
    # nothing printed between them
    sibling = "\n".join([
        "*(2) Project [a]",
        "+- Union",
        "   :- InMemoryTableScan [a]",
        "   :     +- InMemoryRelation [a], StorageLevel(disk, 1 replicas)",
        "   :           +- *(1) FileScan parquet [a]",
        "   +- *(1) FileScan parquet [a]",
    ])
    assert plan_audit.filescans_outside_cache(sibling) == 1
    # false positive 2: a re-scan under a shuffle stage beside the
    # cached subtree; a query stage is no reprint header
    stage_sibling = "\n".join([
        "AdaptiveSparkPlan isFinalPlan=true",
        "+- == Final Plan ==",
        "   Union",
        "   :- InMemoryTableScan [a]",
        "   :     +- InMemoryRelation [a], StorageLevel(disk, 1 replicas)",
        "   :           +- LocalTableScan [a]",
        "   +- ShuffleQueryStage 0",
        "      +- *(1) FileScan parquet [a]",
    ])
    assert plan_audit.filescans_outside_cache(stage_sibling) == 1


def test_drift_monitors_scan_corpus_once(spark):
    """The r15 drift monitors reuse their persisted first aggregate:
    source_drift_ks feeds FOUR consumers (group totals, value grid,
    global cumulative, grand total) and embedding_centroid_drift two
    (per-label means, global centroid) from ONE corpus-proportional
    aggregate each — the first cut planned four/two parquet scans.
    Pinned: exactly one FileScan of the fixture per plan, everything
    else reads the InMemoryRelation."""
    from batch_process_dpla_index_spark.operators.dedup import unpersist_deps

    plan_audit = _load_plan_audit()

    for name, n_inmem in (
        ("source_drift_ks", 4),
        ("embedding_centroid_drift", 2),
        ("temporal_drift_ks", 3),
        ("event_mix_drift", 3),
        # r18: the sketch tier and the size/pair metadata are computed
        # driver-side from bounded collects, so the FINAL plan holds
        # only the cached posting frame read by the two pair-join
        # sides (when the screen clears sources, a second persisted
        # semi-joined frame appears — not the fixture case)
        ("contamination_matrix", 2),
    ):
        df = QUERIES[name](spark, SF_DIR)
        plan = df._jdf.queryExecution().executedPlan().toString()
        n_cached = plan.count("InMemoryTableScan")
        assert n_cached >= n_inmem, (name, plan[:2000])
        # every FileScan must sit under an InMemoryRelation ancestor —
        # the plan has no independent corpus re-scan (the ancestor
        # walk replaces the old scans<=cached line-count heuristic,
        # which broke once a cached frame's reprint legitimately
        # contained several FileScans)
        assert plan_audit.filescans_outside_cache(plan) == 0, (
            name,
            plan[:2000],
        )
        # VERDICT r15 #2: zero single-partition WindowExec anywhere in
        # the monitors' plans — the r15 source_drift_ks global ECDF
        # (Window.orderBy with no partition) is the shape this forbids;
        # the bucketed rewrite derives cum_all as a bucket-partitioned
        # column sum of the per-group ECDFs instead
        assert plan_audit.unpartitioned_windows(plan) == 0, (
            name,
            [ln for ln in plan.splitlines() if "Window [" in ln][:5],
        )
        unpersist_deps(df)


def test_survey_s8_count_matches_registry():
    """SURVEY.md §8's headline count can never drift from the code
    again (r16 VERDICT #7): the blueprint must state exactly
    'N queries / N oracles' for N == len(QUERIES) == len(ORACLES),
    every query must have an oracle twin (the zero-rows-only claim),
    and this must hold IN THE SAME COMMIT as any registry change."""
    import re

    from batch_process_dpla_index_spark.oracles import ORACLES
    from batch_process_dpla_index_spark.queries import QUERIES

    assert len(QUERIES) == len(ORACLES)
    assert set(QUERIES) == set(ORACLES)
    import os as _os

    survey = open(
        _os.path.join(_os.path.dirname(__file__), "..", "SURVEY.md"),
        encoding="utf-8",
    ).read()
    # earlier matches are historical narrative ("round 9 / 118
    # queries"); the LAST 'N queries / N oracles' is the live headline
    ms = re.findall(r"(\d+) queries /\s*(\d+) oracles", survey)
    assert ms, "SURVEY.md §8 must state the 'N queries / N oracles' count"
    n_q, n_o = ms[-1]
    assert int(n_q) == len(QUERIES), (
        f"SURVEY.md §8 says {n_q} queries but the registry has "
        f"{len(QUERIES)} — update §8 in the same commit as the "
        "registry change"
    )
    assert int(n_o) == len(ORACLES)
