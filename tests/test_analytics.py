"""Unit coverage for the round-5 sequence/span/classifier operators
(`operators/spans.py`, `operators/analytics.py`,
`functions/classifier.py`) — edge cases the sf-fixture oracles don't
isolate: sub-k documents, adjacency merging, out-of-order funnel
traps, SCD2 collapse, warmup gating, the empty-document prior."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from batch_process_dpla_index_spark.functions.classifier import classifier_score
from batch_process_dpla_index_spark.operators.analytics import (
    funnel_stages,
    retention_cohorts,
    running_anomaly,
    scd2_history,
)
from batch_process_dpla_index_spark.operators.spans import duplicate_spans


def _ts(minute: int) -> dt.datetime:
    return dt.datetime(2024, 1, 1, 0, minute)


def test_duplicate_spans_finds_shared_passage(spark):
    shared = "alpha beta gamma delta epsilon zeta eta theta"  # 8 tokens
    docs = spark.createDataFrame(
        [
            (1, f"one two {shared} three four"),
            (2, f"{shared} nine ten eleven twelve"),
            (3, "totally unrelated text with no duplicated passage here"),
        ],
        ["doc_id", "text"],
    )
    got = {
        (r.doc_id, r.span_start, r.span_end)
        for r in duplicate_spans(docs, k=8).collect()
    }
    # doc 1: shared run starts at token 2; doc 2: at token 0; doc 3: none
    assert got == {(1, 2, 10), (2, 0, 8)}


def test_duplicate_spans_merges_adjacent_windows(spark):
    # 16 identical tokens across two docs → every window duplicated →
    # ONE maximal span covering the whole text, not 9 fragments.
    text = " ".join(f"t{i}" for i in range(16))
    docs = spark.createDataFrame([(1, text), (2, text)], ["doc_id", "text"])
    rows = duplicate_spans(docs, k=8).collect()
    assert {(r.doc_id, r.span_start, r.span_end, r.span_tokens) for r in rows} == {
        (1, 0, 16, 16),
        (2, 0, 16, 16),
    }


def test_duplicate_spans_skips_sub_k_docs(spark):
    docs = spark.createDataFrame(
        [(1, "too short"), (2, "too short")], ["doc_id", "text"]
    )
    assert duplicate_spans(docs, k=8).count() == 0


def test_funnel_requires_strict_order(spark):
    rows = [
        # u1 completes the full chain in order
        (1, _ts(0), "signup"), (1, _ts(1), "view"),
        (1, _ts(2), "click"), (1, _ts(3), "purchase"),
        # u2's purchase PRECEDES its click → stalls at click (stage 3)
        (2, _ts(0), "signup"), (2, _ts(1), "view"),
        (2, _ts(3), "click"), (2, _ts(2), "purchase"),
        # u3 never signs up → contributes to no stage
        (3, _ts(0), "view"), (3, _ts(1), "click"), (3, _ts(2), "purchase"),
    ]
    events = spark.createDataFrame(rows, ["user_id", "ts", "event_type"])
    got = {r.step: r.n_users for r in funnel_stages(events).collect()}
    assert got == {"signup": 2, "view": 2, "click": 2, "purchase": 1}


def test_scd2_collapses_repeats_and_closes_intervals(spark):
    rows = [
        (1, _ts(0), "a", 10), (1, _ts(1), "a", 11),  # repeat collapses
        (1, _ts(2), "b", 12), (1, _ts(3), "a", 13),  # back to a = new version
    ]
    events = spark.createDataFrame(rows, ["user_id", "ts", "event_type", "event_id"])
    hist = sorted(scd2_history(events).collect(), key=lambda r: r.valid_from)
    assert [(r.attr_value, r.is_current) for r in hist] == [
        ("a", False), ("b", False), ("a", True)
    ]
    assert hist[0].valid_to == hist[1].valid_from  # no gaps
    assert hist[-1].valid_to is None


def test_retention_counts_distinct_users_per_offset(spark):
    w0 = dt.datetime(2024, 1, 1)  # a Monday
    rows = [
        (1, w0), (1, w0 + dt.timedelta(days=7)),   # retained week 1
        (1, w0 + dt.timedelta(days=8)),            # same week → not double-counted
        (2, w0), (2, w0 + dt.timedelta(days=14)),  # skips week 1
        (3, w0 + dt.timedelta(days=7)),            # later cohort
    ]
    events = spark.createDataFrame(rows, ["user_id", "ts"])
    got = {
        (r.cohort_week.date().isoformat(), r.week_offset): r.n_users
        for r in retention_cohorts(events).collect()
    }
    assert got == {
        ("2024-01-01", 0): 2, ("2024-01-01", 1): 1, ("2024-01-01", 2): 1,
        ("2024-01-08", 0): 1,
    }


def test_running_anomaly_warmup_and_flag(spark):
    vals = [10.0, 10.5, 9.5, 10.2, 9.8, 10.1, 100.0]
    rows = [(1, _ts(i), float(v), i) for i, v in enumerate(vals)]
    events = spark.createDataFrame(rows, ["user_id", "ts", "value", "event_id"])
    got = {r.event_id: r for r in running_anomaly(events).collect()}
    # first 5 events: fewer than `warmup` prior observations → ungated
    for i in range(5):
        assert got[i].zscore is None and got[i].is_anomaly is False
    assert got[5].is_anomaly is False  # in-distribution
    assert got[6].is_anomaly is True and got[6].zscore > 3


def test_classifier_separates_spam_from_formal(spark):
    docs = spark.createDataFrame(
        [
            (1, "the research method and data analysis published in the journal"),
            (2, "click here free winner casino prize offer buy now cheap deal"),
            (3, ""),
        ],
        ["doc_id", "text"],
    )
    got = {
        r.doc_id: r.p
        for r in docs.select(
            "doc_id", classifier_score(F.col("text")).alias("p")
        ).collect()
    }
    assert got[1] > 0.5 > got[2]
    assert abs(got[3] - 0.5) < 1e-12  # empty doc → neutral prior


def test_containment_catches_quote_inclusion(spark):
    small = "alpha beta gamma delta epsilon"
    big = small + " " + " ".join(f"filler{i}" for i in range(60))
    docs = spark.createDataFrame(
        [(1, small), (2, big), (3, "unrelated words entirely different")],
        ["doc_id", "text"],
    )
    from batch_process_dpla_index_spark.operators.dedup import (
        containment_pairs,
        jaccard_pairs,
        unpersist_deps,
    )

    cont = containment_pairs(docs, "text", "doc_id", n=3, threshold=0.9)
    rows = cont.collect()
    unpersist_deps(cont)
    # doc 1's shingles are all inside doc 2 → containment 1.0
    assert [(r.id_a, r.id_b, r.containment) for r in rows] == [(1, 2, 1.0)]
    # ...while Jaccard at even 0.3 misses the pair entirely
    jac = jaccard_pairs(docs, "text", "doc_id", n=3, threshold=0.3)
    assert jac.count() == 0
    unpersist_deps(jac)


def test_event_transitions_probabilities(spark):
    rows = [
        (1, _ts(0), "a", 0), (1, _ts(1), "b", 1), (1, _ts(2), "a", 2),
        (1, _ts(3), "c", 3),
        (2, _ts(0), "a", 4), (2, _ts(1), "b", 5),
    ]
    events = spark.createDataFrame(rows, ["user_id", "ts", "event_type", "event_id"])
    from batch_process_dpla_index_spark.operators.analytics import event_transitions

    got = {
        (r.from_type, r.to_type): (r.n_transitions, r.p_transition)
        for r in event_transitions(events).collect()
    }
    # from 'a': 2×→b, 1×→c (cross-user sequences never chain together)
    assert got[("a", "b")] == (2, round(2 / 3, 6))
    assert got[("a", "c")] == (1, round(1 / 3, 6))
    assert got[("b", "a")] == (1, 1.0)
    assert ("c", "a") not in got  # c is terminal


def test_span_invariants_on_fixture(spark, docs):
    """Corpus-level invariants at sf0.001: every span lies within its
    document's token count, is at least k tokens long, and spans of
    one document never overlap (maximal-merge correctness)."""
    from collections import defaultdict

    from batch_process_dpla_index_spark.functions.text import token_count
    from batch_process_dpla_index_spark.operators.dedup import unpersist_deps

    k = 8
    spans = duplicate_spans(docs, k=k)
    rows = spans.collect()
    unpersist_deps(spans)
    assert rows  # fixture contains near-dup docs → spans exist
    n_tok = {
        r.doc_id: r.n
        for r in docs.select("doc_id", token_count(F.col("text")).alias("n")).collect()
    }
    by_doc = defaultdict(list)
    for r in rows:
        assert r.span_tokens == r.span_end - r.span_start >= k
        assert 0 <= r.span_start < r.span_end <= n_tok[r.doc_id]
        by_doc[r.doc_id].append((r.span_start, r.span_end))
    for doc_spans in by_doc.values():
        doc_spans.sort()
        for (s1, e1), (s2, e2) in zip(doc_spans, doc_spans[1:]):
            # merged-maximal: islands split iff the next window start
            # exceeds prev_start + k, i.e. s2 > (e1 - k) + k = e1 —
            # consecutive spans are disjoint with a gap of >= 1 token
            assert s2 > e1


def test_scd2_intervals_partition_time(spark):
    """Per key, SCD2 versions tile [first_change, ∞): consecutive
    valid_to == next valid_from, exactly one open interval, no
    adjacent duplicate attribute values."""
    from batch_process_dpla_index_spark.sources.tables import load_table
    from tests.conftest import SF_DIR

    events = load_table(spark, SF_DIR, "events")
    hist = scd2_history(events).collect()
    from collections import defaultdict

    by_key = defaultdict(list)
    for r in hist:
        by_key[r.user_id].append(r)
    for rows in by_key.values():
        rows.sort(key=lambda r: r.valid_from)
        opens = [r for r in rows if r.valid_to is None]
        assert len(opens) == 1 and rows[-1].is_current
        for a, b in zip(rows, rows[1:]):
            assert a.valid_to == b.valid_from  # no gaps, no overlaps
            assert a.attr_value != b.attr_value  # repeats collapsed


def test_funnel_monotone_on_fixture(spark):
    from batch_process_dpla_index_spark.sources.tables import load_table
    from tests.conftest import SF_DIR

    events = load_table(spark, SF_DIR, "events")
    rows = sorted(funnel_stages(events).collect(), key=lambda r: r.stage)
    counts = [r.n_users for r in rows]
    assert counts == sorted(counts, reverse=True)  # conversions only shrink
    assert counts[0] > 0


def test_range_join_bucketize_rewrite_and_overlap_fallback(spark):
    """Non-overlapping ranges take the bucketize+equi-join fast path
    (no nested loop in the plan, same rows); overlapping ranges keep
    the general theta join and yield BOTH matches."""
    from batch_process_dpla_index_spark.operators.relational import range_join

    fact = spark.createDataFrame([(5.0,), (15.0,), (25.0,), (99.0,)], ["v"])
    disjoint = spark.createDataFrame(
        [("a", 0.0, 10.0), ("b", 10.0, 20.0)], "name STRING, lo DOUBLE, hi DOUBLE"
    )
    out = range_join(fact, disjoint, "v", "lo", "hi")
    assert sorted((r.v, r.name) for r in out.collect()) == [(5.0, "a"), (15.0, "b")]
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan and "BroadcastHashJoin" in plan

    overlapping = spark.createDataFrame(
        [("x", 0.0, 20.0), ("y", 10.0, 30.0)], "name STRING, lo DOUBLE, hi DOUBLE"
    )
    out2 = range_join(fact, overlapping, "v", "lo", "hi")
    assert sorted((r.v, r.name) for r in out2.collect()) == [
        (5.0, "x"), (15.0, "x"), (15.0, "y"), (25.0, "y")
    ]
    assert "BroadcastNestedLoopJoin" in out2._jdf.queryExecution().executedPlan().toString()


def test_nearest_asof_picks_closest_either_direction(spark):
    from batch_process_dpla_index_spark.operators.relational import nearest_asof_join

    left = spark.createDataFrame(
        [(1, _ts(10), 100), (1, _ts(40), 101), (2, _ts(5), 102)],
        ["user_id", "ts", "event_id"],
    ).select("event_id", "user_id", "ts")
    right = spark.createDataFrame(
        [(1, _ts(12), 7.0), (1, _ts(30), 8.0)], ["user_id", "ts", "v"]
    )
    got = {
        r.event_id: (r.v, r.matched_delta_us)
        for r in nearest_asof_join(
            left, right, "user_id", "ts", "ts", ["v"]
        ).collect()
    }
    assert got[100] == (7.0, 2 * 60_000_000)       # forward match is closer
    assert got[101] == (8.0, -10 * 60_000_000)     # backward match is closer
    assert got[102] == (None, None)                # key with no right rows


def test_nearest_asof_tie_prefers_backward(spark):
    from batch_process_dpla_index_spark.operators.relational import nearest_asof_join

    left = spark.createDataFrame([(1, _ts(20), 1)], ["user_id", "ts", "event_id"])
    right = spark.createDataFrame(
        [(1, _ts(10), 5.0), (1, _ts(30), 6.0)], ["user_id", "ts", "v"]
    )
    rows = nearest_asof_join(left, right, "user_id", "ts", "ts", ["v"]).collect()
    assert rows[0].v == 5.0 and rows[0].matched_delta_us == -10 * 60_000_000


def test_weighted_sample_prefers_heavy_rows(spark):
    """Weight-proportional inclusion: with weights 1000:1, the heavy
    rows dominate the sample; zero/negative weights are excluded; the
    kept set is identical across repartitionings (pure key function)."""
    from batch_process_dpla_index_spark.operators.dedup import weighted_sample

    rows = [(i, 1000.0 if i < 50 else 1.0) for i in range(500)] + [(999, 0.0)]
    df = spark.createDataFrame(rows, ["doc_id", "w"])
    got = weighted_sample(df, "doc_id", "w", k=30).collect()
    heavy = sum(1 for r in got if r.doc_id < 50)
    assert heavy >= 25  # 50 heavy rows at 1000x weight dominate top-30
    assert all(r.doc_id != 999 for r in got)
    again = weighted_sample(df.repartition(7), "doc_id", "w", k=30).collect()
    assert {r.doc_id for r in got} == {r.doc_id for r in again}


def test_session_paths_split_on_gap(spark):
    from batch_process_dpla_index_spark.operators.analytics import session_paths

    rows = [
        (1, _ts(0), "a", 0), (1, _ts(10), "b", 1),   # session 1: a>b
        (1, _ts(50), "c", 2),                        # 40-min gap → session 2: c
    ]
    events = spark.createDataFrame(rows, ["user_id", "ts", "event_type", "event_id"])
    got = {r.session_id: (r.path, r.n_events) for r in session_paths(events).collect()}
    assert got == {1: ("a>b", 2), 2: ("c", 1)}


def test_range_join_cap_falls_back_to_theta_join(spark):
    """Above max_bucketize_ranges the CASE-index rewrite would hand
    Catalyst an |ranges|-branch expression; the cap keeps the general
    BroadcastNestedLoopJoin, which degrades gracefully instead of
    overflowing analysis/codegen — rows identical either way."""
    from batch_process_dpla_index_spark.operators.relational import range_join

    fact = spark.createDataFrame([(5.0,), (15.0,), (99.0,)], ["v"])
    disjoint = spark.createDataFrame(
        [("a", 0.0, 10.0), ("b", 10.0, 20.0)], "name STRING, lo DOUBLE, hi DOUBLE"
    )
    out = range_join(fact, disjoint, "v", "lo", "hi", max_bucketize_ranges=1)
    assert sorted((r.v, r.name) for r in out.collect()) == [(5.0, "a"), (15.0, "b")]
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" in plan  # capped: no CASE rewrite


def test_cusum_changepoint_flags_planted_shift(spark):
    import datetime as dt

    from batch_process_dpla_index_spark.operators.analytics import (
        cusum_changepoint,
    )

    t0 = dt.datetime(2024, 1, 1)
    rows = []
    # user 1: flat at 10 then jumps to 20 — upward drift accumulates
    for i in range(20):
        rows.append((i, t0 + dt.timedelta(minutes=i), 1, 10.0 + (10.0 if i >= 10 else 0.0)))
    # user 2: constant — CUSUM never escapes the slack band
    for i in range(20):
        rows.append((100 + i, t0 + dt.timedelta(minutes=i), 2, 10.0))
    df = spark.createDataFrame(
        rows, "event_id bigint, ts timestamp, user_id bigint, value double"
    )
    out = {r["user_id"]: r for r in cusum_changepoint(df).collect()}
    assert out[1]["direction"] == "up" and out[1]["cusum_up"] > 10
    assert out[2]["direction"] == "none"
    assert out[2]["cusum_up"] == 0.0 and out[2]["cusum_dn"] == 0.0
    assert out[1]["n_events"] == 20 and out[1]["mean_value"] == 15.0


def test_cusum_changepoint_order_is_time_not_insert(spark):
    import datetime as dt

    from batch_process_dpla_index_spark.operators.analytics import (
        cusum_changepoint,
    )

    t0 = dt.datetime(2024, 1, 1)
    seq = [(i, t0 + dt.timedelta(minutes=i), 1, 10.0 + (10.0 if i >= 5 else 0.0)) for i in range(10)]
    df_fwd = spark.createDataFrame(seq, "event_id bigint, ts timestamp, user_id bigint, value double")
    df_rev = spark.createDataFrame(list(reversed(seq)), "event_id bigint, ts timestamp, user_id bigint, value double")
    a = cusum_changepoint(df_fwd).collect()[0]
    b = cusum_changepoint(df_rev).collect()[0]
    assert (a["cusum_up"], a["cusum_dn"]) == (b["cusum_up"], b["cusum_dn"])


def test_triangle_count_closed_form(spark):
    from batch_process_dpla_index_spark.operators.analytics import (
        triangle_count,
    )
    from batch_process_dpla_index_spark.operators.dedup import unpersist_deps

    # K4 on 1-4 (4 triangles) + a pendant edge (5-6) + a duplicate and
    # a reversed edge that must canonicalize away + a self-loop
    edges = [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4),
             (5, 6), (6, 5), (2, 1), (7, 7)]
    df = spark.createDataFrame(edges, "src bigint, dst bigint")
    out = triangle_count(df)
    row = out.collect()[0]
    unpersist_deps(out)
    assert row["n_nodes"] == 6          # the self-loop node never enters
    assert row["n_edges"] == 7
    assert row["n_triangles"] == 4
    # wedges: K4 gives 4 nodes of degree 3 -> 4*3 = 12, pendant adds 0
    assert row["n_wedges"] == 12
    assert row["clustering"] == 1.0     # 3*4/12: every K4 wedge closes


def test_triangle_driver_tier_matches_distributed(spark, monkeypatch):
    """The r17 driver tier for the triangle census must equal the
    distributed degree-oriented plan EXACTLY — integer core, and the
    float columns go through the identical Spark when/round expression
    over the local frame, so even the divides are bit-equal."""
    import batch_process_dpla_index_spark.operators.graph as gr
    from batch_process_dpla_index_spark.operators.analytics import (
        clustering_coefficients,
        triangle_count,
    )
    from batch_process_dpla_index_spark.operators.dedup import unpersist_deps

    edges = [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4),
             (5, 6), (6, 5), (2, 1), (7, 7), (4, 5)]
    df = spark.createDataFrame(edges, "src bigint, dst bigint")

    def run_both():
        t = triangle_count(df)
        tri = t.collect()
        unpersist_deps(t)
        c = clustering_coefficients(df)
        lcc = sorted(map(tuple, c.collect()))
        unpersist_deps(c)
        return tri, lcc

    tri_a, lcc_a = run_both()
    monkeypatch.setattr(gr, "_GRAPH_DRIVER_MAX_EDGES", 0)
    tri_b, lcc_b = run_both()
    assert tri_a == tri_b
    assert lcc_a == lcc_b


def test_common_neighbors_driver_tier_matches_distributed(spark, monkeypatch):
    """The r17 driver tier must equal the distributed wedge plan row
    for row: the integer core is exact, and the Adamic-Adar fold,
    rounding, and top-k ordering run through the identical Spark
    expressions over the local frame (sorted degree arrays), so even
    the doubles are bit-equal. Exercises the degree cap and the
    existing-edge anti-join."""
    import batch_process_dpla_index_spark.operators.graph as gr
    from batch_process_dpla_index_spark.operators.dedup import unpersist_deps

    edges = [(1, 2), (1, 3), (2, 3), (2, 4), (3, 4), (4, 5), (5, 1),
             (6, 1), (6, 2), (6, 3), (6, 4), (6, 5), (7, 7), (2, 1)]
    df = spark.createDataFrame(edges, "src bigint, dst bigint")

    def run(max_degree):
        out = gr.common_neighbors(df, max_degree=max_degree, k=10)
        rows = [tuple(r) for r in out.collect()]
        unpersist_deps(out)
        return rows

    for cap in (None, 4):
        a = run(cap)
        monkeypatch.setattr(gr, "_GRAPH_DRIVER_MAX_EDGES", 0)
        b = run(cap)
        monkeypatch.setattr(gr, "_GRAPH_DRIVER_MAX_EDGES", 131072)
        assert a == b, (cap, a, b)


def test_bpe_merge_pairs_counts_and_order_sensitivity(spark):
    from pyspark.sql import functions as F

    from batch_process_dpla_index_spark.operators.analytics import (
        bpe_merge_pairs,
    )
    from batch_process_dpla_index_spark.functions.text import tokens

    df = spark.createDataFrame(
        [("the then", ), ("he he x", )], "text string"
    )
    out = {
        (r["c_a"], r["c_b"]): r["n_pairs"]
        for r in bpe_merge_pairs(df, tokens(F.col("text")), min_count=1).collect()
    }
    # 'he' appears in: the, then, he, he -> ('h','e') = 4; ordered
    # pairs so ('e','h') only from 'eh' substrings (none)
    assert out[("h", "e")] == 4
    assert ("e", "h") not in out
    assert out[("t", "h")] == 2
    # single-char word 'x' contributes nothing
    assert sum(n for (a, b), n in out.items() if "x" in (a, b)) == 0


def test_seasonal_baseline_flags_only_off_cycle_spike(spark):
    import datetime as dt

    from batch_process_dpla_index_spark.operators.analytics import (
        seasonal_baseline,
    )

    rows = []
    eid = 0
    # hour 9 cell: twenty 100s and one 200 -> the 200 is > 3 sigma off
    for day in range(20):
        rows.append((eid, dt.datetime(2024, 1, 1 + day, 9, 0), 1, "m", 100.0)); eid += 1
    rows.append((eid, dt.datetime(2024, 1, 21, 9, 0), 1, "m", 200.0)); eid += 1
    # hour 18 cell: the same 200-level is NORMAL there
    for day in range(10):
        rows.append((eid, dt.datetime(2024, 1, 1 + day, 18, 0), 1, "m", 200.0)); eid += 1
    df = spark.createDataFrame(
        rows, "event_id bigint, ts timestamp, user_id bigint, event_type string, value double"
    )
    out = {r["hod"]: r for r in seasonal_baseline(df).collect()}
    assert out[9]["n_anomalies"] == 1 and out[9]["n"] == 21
    assert out[18]["n_anomalies"] == 0  # zero variance cell never flags


def test_market_basket_closed_form(spark):
    from batch_process_dpla_index_spark.operators.analytics import (
        market_basket,
    )
    from batch_process_dpla_index_spark.operators.dedup import unpersist_deps

    # 4 baskets: {x,y} twice, {x,z} once, {x} once
    rows = [(1, "x"), (1, "y"), (2, "x"), (2, "y"), (3, "x"), (3, "z"), (4, "x"),
            (1, "x")]  # duplicate line in basket 1 must not inflate support
    df = spark.createDataFrame(rows, "b bigint, i string")
    out = market_basket(df, "b", "i", min_support=2, k=10)
    rules = {(r["antecedent"], r["consequent"]): r for r in out.collect()}
    unpersist_deps(out)
    # only the x-y pair survives min_support=2 (x-z has support 1)
    assert set(rules) == {("x", "y"), ("y", "x")}
    xy = rules[("x", "y")]
    assert xy["support_pair"] == 2 and xy["s_ant"] == 4 and xy["s_con"] == 2
    assert xy["confidence"] == 0.5          # 2 of x's 4 baskets have y
    assert xy["lift"] == 1.0                # 2*4 / (4*2)
    yx = rules[("y", "x")]
    assert yx["confidence"] == 1.0          # every y basket has x


def test_vocab_coverage_cutoff_and_totals(spark):
    from pyspark.sql import functions as F

    from batch_process_dpla_index_spark.functions.text import tokens
    from batch_process_dpla_index_spark.operators.curation import (
        vocab_coverage,
    )
    from batch_process_dpla_index_spark.operators.dedup import unpersist_deps

    df = spark.createDataFrame(
        [("a a a a b b c",), ("a b d",)], "text string"
    )  # counts: a=5, b=3, c=1, d=1 ; total=10
    out = vocab_coverage(df, tokens(F.col("text")), cutoffs=(1, 2, 10))
    rows = {r["cutoff"]: r for r in out.collect()}
    unpersist_deps(out)
    assert rows[1]["covered_tokens"] == 5 and rows[1]["coverage"] == 0.5
    assert rows[2]["covered_tokens"] == 8 and rows[2]["coverage"] == 0.8
    # cutoff past the vocabulary: full coverage, n_terms = |vocab|
    assert rows[10]["n_terms"] == 4 and rows[10]["coverage"] == 1.0
    assert all(r["total_tokens"] == 10 for r in rows.values())


def test_attribution_last_touch_picks_latest_prior(spark):
    import datetime as dt

    from batch_process_dpla_index_spark.operators.relational import as_of_join
    from pyspark.sql import functions as F

    t = lambda m: dt.datetime(2024, 1, 1, 0, m)
    ev = spark.createDataFrame(
        [
            (1, t(0), 7, "view", None),
            (2, t(5), 7, "click", None),
            (3, t(6), 7, "purchase", 10.0),   # last touch: click
            (4, t(9), 7, "purchase", 5.0),    # still click (no new touch)
            (5, t(1), 8, "purchase", 3.0),    # user 8 has no touch at all
        ],
        "event_id bigint, ts timestamp, user_id bigint, event_type string, value double",
    )
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "user_id", "ts", F.col("value").alias("p_value")
    )
    touches = ev.where(F.col("event_type") != "purchase").select(
        "user_id", "ts", F.col("event_type").alias("channel"), "event_id"
    )
    att = as_of_join(
        purchases, touches, "user_id", "ts", "ts", ["channel", "event_id"]
    )
    got = {
        (r["user_id"], r["p_value"]): r["channel"] for r in att.collect()
    }
    assert got[(7, 10.0)] == "click"
    assert got[(7, 5.0)] == "click"
    assert got[(8, 3.0)] is None
    # the registry query's rollup: NULL channel coalesces to 'none'
    rolled = {
        r["channel"]: (r["n_purchases"], r["sum_value"])
        for r in att.groupBy(
            F.coalesce(F.col("channel"), F.lit("none")).alias("channel")
        )
        .agg(
            F.count("*").alias("n_purchases"),
            F.round(F.sum("p_value"), 2).alias("sum_value"),
        )
        .collect()
    }
    assert rolled["click"] == (2, 15.0)
    assert rolled["none"] == (1, 3.0)


def test_pair_supports_drops_null_baskets_and_items(spark):
    from batch_process_dpla_index_spark.operators.analytics import (
        pair_supports,
    )

    rows = [
        (1, "x"), (1, "y"), (2, "x"), (2, "y"),
        (None, "a"), (None, "b"), (None, "c"),  # NULL pseudo-basket
        (3, None),                              # NULL item
    ]
    df = spark.createDataFrame(rows, "b bigint, i string")
    got = {(r["ia"], r["ib"]): r["s_ab"] for r in pair_supports(df, "b", "i", min_support=1).collect()}
    # NULL baskets must NOT fuse into one pseudo-basket producing
    # (a,b)/(a,c)/(b,c) pairs; NULL items never pair
    assert got == {("x", "y"): 2}


def test_label_propagation_splits_bridged_cliques(spark):
    from batch_process_dpla_index_spark.operators.graph import (
        label_propagation,
    )
    from batch_process_dpla_index_spark.operators.dedup import unpersist_deps

    # two 4-cliques joined by ONE bridge edge: connected components
    # would merge them; LPA must keep two communities
    c1 = [(a, b) for a in range(1, 5) for b in range(a + 1, 5)]
    c2 = [(a, b) for a in range(11, 15) for b in range(a + 1, 15)]
    edges = c1 + c2 + [(4, 11)]
    df = spark.createDataFrame(edges, "src bigint, dst bigint")
    out = label_propagation(df, iterations=4)
    got = {r["node"]: r["community"] for r in out.collect()}
    unpersist_deps(out)
    assert len(got) == 8
    left = {got[n] for n in (1, 2, 3)}
    right = {got[n] for n in (12, 13, 14)}
    assert len(left) == 1 and len(right) == 1
    assert left != right  # the bridge does not merge the communities


def test_growth_rates_query_monthly_lag(spark):
    from batch_process_dpla_index_spark.queries import q_growth_rates
    from tests.conftest import SF_DIR

    rows = q_growth_rates(spark, SF_DIR).collect()
    assert len(rows) > 0
    # first month of every priority has NULL growth (no prior month)
    import itertools

    for prio, grp in itertools.groupby(rows, key=lambda r: r["o_orderpriority"]):
        grp = list(grp)
        assert grp[0]["growth_pct"] is None
        for prev, cur in zip(grp, grp[1:]):
            if cur["growth_pct"] is not None:
                want = round((cur["sum_price"] - prev["sum_price"]) / prev["sum_price"], 6)
                assert abs(cur["growth_pct"] - want) < 1e-9


def test_rfm_segments_synthetic_quartiles(spark):
    from batch_process_dpla_index_spark.operators.analytics import rfm_segments

    # 8 customers, 1 order each on distinct dates, amounts ascending:
    # recency and monetary quartiles are hand-computable
    rows = [
        (i, c, dt.date(2024, 1, c), float(100 * c))
        for i, c in enumerate(range(1, 9))
    ]
    orders = spark.createDataFrame(
        rows, "o_orderkey bigint, o_custkey bigint, o_orderdate date, "
        "o_totalprice double"
    )
    from batch_process_dpla_index_spark.operators.dedup import unpersist_deps

    out = rfm_segments(orders)
    got = {r["custkey"]: r for r in out.collect()}
    unpersist_deps(out)
    assert len(got) == 8
    # customer 8 ordered last (recency 0 -> r=1? no: lower recency is
    # BETTER -> r_score 4) and spent the most (m_score 4)
    assert got[8]["recency_days"] == 0
    assert got[8]["r_score"] == 4 and got[8]["m_score"] == 4
    assert got[1]["r_score"] == 1 and got[1]["m_score"] == 1
    # single order each -> frequency quartiles all collapse to 1.0,
    # ties score DOWN: everyone lands f_score 1
    assert {r["f_score"] for r in got.values()} == {1}
    for r in got.values():
        assert r["rfm"] == r["r_score"] * 100 + r["f_score"] * 10 + r["m_score"]
        assert 1 <= r["r_score"] <= 4 and 1 <= r["m_score"] <= 4


def test_churn_labels_horizon_boundary(spark):
    from batch_process_dpla_index_spark.operators.analytics import churn_labels

    base = dt.datetime(2024, 6, 30, 12, 0, 0)
    rows = [
        # user 1 anchors the corpus max
        (1, 1, base, "a"),
        # user 2: exactly 14 days before the anchor -> NOT churned
        # (strict > horizon comparison)
        (2, 2, base - dt.timedelta(days=14), "a"),
        # user 3: 14 days + 1 second -> churned
        (3, 3, base - dt.timedelta(days=14, seconds=1), "a"),
        # user 1 again on a second day
        (4, 1, base - dt.timedelta(days=1), "b"),
        # NULL user dropped
        (5, None, base, "a"),
    ]
    ev = spark.createDataFrame(
        rows, "event_id bigint, user_id int, ts timestamp, event_type string"
    )
    from batch_process_dpla_index_spark.operators.dedup import unpersist_deps

    out = churn_labels(ev, horizon_days=14)
    got = {r["user_id"]: r for r in out.collect()}
    unpersist_deps(out)
    assert set(got) == {1, 2, 3}
    assert got[1]["churned"] == 0 and got[1]["active_days"] == 2
    assert got[2]["churned"] == 0 and got[2]["days_since_last"] == 14
    assert got[3]["churned"] == 1 and got[3]["days_since_last"] == 14


def test_readability_scores_hand_example(spark):
    from batch_process_dpla_index_spark.queries import q_readability_scores
    from tests.conftest import SF_DIR

    rows = q_readability_scores(spark, SF_DIR).collect()
    assert len(rows) > 0
    for r in rows[:50]:
        assert r["n_words"] >= 1 and r["n_sentences"] >= 1
        # every word contributes >= 1 syllable
        assert r["n_syllables"] >= r["n_words"]
        wps = r["n_words"] / r["n_sentences"]
        spw = r["n_syllables"] / r["n_words"]
        want = round(206.835 - 1.015 * wps - 84.6 * spw, 6)
        assert abs(r["flesch"] - want) < 1e-9


def test_readability_counts_on_known_text(spark):
    from batch_process_dpla_index_spark.functions.text import (
        sentence_count,
        syllables_tok,
        tokens,
    )

    df = spark.createDataFrame(
        [("The cat sat. It purred! Then slept?",), ("unpunctuated words only",)],
        "text string",
    )
    got = df.select(
        F.size(tokens(F.col("text"))).alias("w"),
        sentence_count(F.col("text")).alias("s"),
        syllables_tok(tokens(F.col("text"))).alias("sy"),
    ).collect()
    # 'the cat sat. it purred! then slept?' -> 7 words, 3 sentences;
    # syllables: the/cat/sat./it/then=1 each, purred!=2 ('u','e'),
    # slept?=1 -> 8
    assert (got[0]["w"], got[0]["s"], got[0]["sy"]) == (7, 3, 8)
    # no terminator runs -> floored at 1 sentence
    assert (got[1]["w"], got[1]["s"]) == (3, 1)


def test_hits_scores_star_graph(spark):
    """In a star u1,u2,u3 -> c: the center is the unique authority
    (score 1.0 after max-norm), the spokes are the hubs (1.0 each),
    and cross scores are 0 (spokes have no in-edges, center no
    out-edges)."""
    from batch_process_dpla_index_spark.operators.dedup import unpersist_deps
    from batch_process_dpla_index_spark.operators.graph import hits_scores

    edges = spark.createDataFrame(
        [("u1", "c"), ("u2", "c"), ("u3", "c")], "src string, dst string"
    )
    out = hits_scores(edges, iterations=4)
    got = {r["node"]: (r["authority"], r["hub"]) for r in out.collect()}
    unpersist_deps(out)
    assert got["c"] == (1.0, 0.0)
    for u in ("u1", "u2", "u3"):
        assert got[u] == (0.0, 1.0)


def test_hits_scores_empty_edges_raises(spark):
    import pytest as _pytest

    from batch_process_dpla_index_spark.operators.graph import hits_scores

    empty = spark.createDataFrame([], "src string, dst string")
    with _pytest.raises(ValueError, match="empty edge list"):
        hits_scores(empty)


def test_common_neighbors_path_graph(spark):
    """Path 1-2-3-4: the open pairs are (1,3) and (2,4) with one
    shared neighbor each (AA = 1/ln 2), and (1,4) shares none ->
    absent. Adjacent pairs never appear."""
    import math

    from batch_process_dpla_index_spark.operators.dedup import unpersist_deps
    from batch_process_dpla_index_spark.operators.graph import common_neighbors

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4)], "src bigint, dst bigint"
    )
    out = common_neighbors(edges, k=10)
    rows = {(r["id_a"], r["id_b"]): r for r in out.collect()}
    unpersist_deps(out)
    assert set(rows) == {(1, 3), (2, 4)}
    want = round(1.0 / math.log(2), 6)
    for r in rows.values():
        assert r["common_neighbors"] == 1
        assert abs(r["adamic_adar"] - want) < 1e-9


def test_common_neighbors_degree_cap_excludes_hub_centers(spark):
    """With max_degree=1 every wedge center is excluded -> no pairs;
    uncapped, the star hub generates all spoke pairs."""
    from batch_process_dpla_index_spark.operators.dedup import unpersist_deps
    from batch_process_dpla_index_spark.operators.graph import common_neighbors

    star = spark.createDataFrame(
        [(0, i) for i in range(1, 5)], "src bigint, dst bigint"
    )
    uncapped = common_neighbors(star, k=100)
    assert uncapped.count() == 6  # C(4,2) spoke pairs via the hub
    unpersist_deps(uncapped)
    capped = common_neighbors(star, max_degree=1, k=100)
    assert capped.count() == 0
    unpersist_deps(capped)


def test_source_overlap_identical_vs_disjoint(spark):
    from batch_process_dpla_index_spark.operators.dedup import (
        source_minhash_overlap,
    )

    text_a = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    text_b = "one two three four five six seven eight nine ten"
    docs = spark.createDataFrame(
        [
            (1, text_a, "s1"),
            (2, text_a, "s2"),  # s2 duplicates s1 exactly
            (3, text_b, "s3"),  # s3 shares nothing
            (4, None, "s4"),    # NULL text -> no shingles -> s4 absent
        ],
        "doc_id bigint, text string, source string",
    )
    got = {
        (r["source_a"], r["source_b"]): r["est_jaccard"]
        for r in source_minhash_overlap(docs).collect()
    }
    assert got[("s1", "s2")] == 1.0  # identical shingle sets
    assert got[("s1", "s3")] == 0.0 and got[("s2", "s3")] == 0.0
    assert not any("s4" in k for k in got)


def test_kcore_peels_pendant_chain_keeps_clique(spark):
    from batch_process_dpla_index_spark.operators.graph import kcore_decomposition

    # 4-clique {1,2,3,4} (degree 3 each) + pendant chain 4-5-6:
    # 3-core peeling drops 6 (deg 1), then 5 — the clique survives.
    edges = spark.createDataFrame(
        [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4), (4, 5), (5, 6)],
        "src bigint, dst bigint",
    )
    rows = {
        r["node"]: r
        for r in kcore_decomposition(edges, k=3, iterations=4).collect()
    }
    assert {n for n, r in rows.items() if r["in_core"]} == {1, 2, 3, 4}
    assert rows[4]["degree_full"] == 4  # clique + pendant edge
    assert rows[4]["core_degree"] == 3  # pendant edge peeled
    assert rows[6]["in_core"] is False and rows[6]["core_degree"] == 0
    assert rows[5]["degree_full"] == 2


def test_kcore_driver_tier_matches_distributed(spark, monkeypatch):
    """The r17 kcore driver tier is all-integer and must equal the
    distributed peel row-for-row (early-stop on a no-drop round is a
    no-op by monotonicity)."""
    import batch_process_dpla_index_spark.operators.graph as gr
    from batch_process_dpla_index_spark.operators.dedup import unpersist_deps

    # K4 core + a pendant chain that peels over several rounds
    edges = [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4),
             (4, 5), (5, 6), (6, 7), (2, 1)]
    df = spark.createDataFrame(edges, "src bigint, dst bigint")

    def run():
        out = gr.kcore_decomposition(df, k=3, iterations=12)
        rows = sorted(tuple(r) for r in out.collect())
        unpersist_deps(out)
        return rows

    a = run()
    monkeypatch.setattr(gr, "_GRAPH_DRIVER_MAX_EDGES", 0)
    b = run()
    assert a == b


def test_kcore_ignores_self_loops_and_nulls(spark):
    from batch_process_dpla_index_spark.operators.graph import kcore_decomposition

    edges = spark.createDataFrame(
        [(1, 1), (1, 2), (2, None), (None, 3)],
        "src bigint, dst bigint",
    )
    rows = {
        r["node"]: r
        for r in kcore_decomposition(edges, k=1, iterations=2).collect()
    }
    # self-loop and NULL endpoints contribute nothing: only edge 1-2
    assert set(rows) == {1, 2}
    assert rows[1]["degree_full"] == 1 and rows[1]["in_core"]


def test_kcore_fixture_matches_exact_peeling_simulation(spark):
    """The registry query's fixed 12 rounds must BE the converged
    3-core at test scale (the docstring's convergence claim)."""
    from collections import defaultdict

    from batch_process_dpla_index_spark.operators.analytics import pair_supports
    from batch_process_dpla_index_spark.operators.graph import kcore_decomposition
    from batch_process_dpla_index_spark.sources.tables import load_table

    li = load_table(spark, "/root/testdata/sf0.001", "lineitem")
    edges_df = pair_supports(
        li, "l_orderkey", "l_partkey", min_support=2
    ).select(F.col("ia").alias("src"), F.col("ib").alias("dst"))
    edges = {(r["src"], r["dst"]) for r in edges_df.collect()}

    live = set(edges)
    peels = 0  # rounds that actually changed the edge set
    while True:
        deg = defaultdict(int)
        for u, v in live:
            deg[u] += 1
            deg[v] += 1
        keep = {n for n, d in deg.items() if d >= 3}
        nxt = {(u, v) for u, v in live if u in keep and v in keep}
        if nxt == live:
            break
        live = nxt
        peels += 1
    # the final verification pass is not a peel: the engine's fixed 12
    # rounds equal the converged core iff convergence needs <= 12
    # EFFECTIVE peels
    assert peels <= 12
    core_deg = defaultdict(int)
    for u, v in live:
        core_deg[u] += 1
        core_deg[v] += 1
    full_deg = defaultdict(int)
    for u, v in edges:
        full_deg[u] += 1
        full_deg[v] += 1

    got = kcore_decomposition(edges_df, k=3, iterations=12).collect()
    assert {r["node"] for r in got} == set(full_deg)
    for r in got:
        assert r["degree_full"] == full_deg[r["node"]]
        assert r["in_core"] == (r["node"] in core_deg)
        assert r["core_degree"] == core_deg.get(r["node"], 0)


def test_source_signature_merge_identity(spark, docs):
    """merge(sig(A), sig(B)) must be BIT-identical to sig(A ∪ B) —
    the union-MinHash identity source_overlap_incremental relies on,
    including sources present on only one side of the split."""
    from batch_process_dpla_index_spark.operators.dedup import (
        merge_source_signatures,
        source_signatures,
    )

    d = docs.limit(120).cache()
    a = d.where(F.col("doc_id") % 3 == 0)
    b = d.where(F.col("doc_id") % 3 != 0)
    merged = merge_source_signatures(
        source_signatures(a), source_signatures(b)
    )
    full = source_signatures(d)
    cols = sorted(merged.columns)
    assert cols == sorted(full.columns)
    m = {r["source"]: r for r in merged.collect()}
    f = {r["source"]: r for r in full.collect()}
    assert set(m) == set(f)
    for s in f:
        for c in cols:
            assert m[s][c] == f[s][c], (s, c)
    d.unpersist()


def test_source_sig_from_postings_matches_per_doc_tier(spark, docs):
    """The posting-derived signature fold (contamination's r17 sketch
    tier) must be BIT-identical to the per-doc signature tier: min
    over per-doc signature mins == min over the source's distinct
    shingle union. Pins both the signature arrays and the pair
    estimates the driver pair screen (signature_pairs) produces from
    them."""
    from batch_process_dpla_index_spark.operators.dedup import (
        overlap_from_signatures,
        shingle_sets,
        signature_pairs,
        source_sig_from_postings,
        source_signatures,
    )

    d = docs.limit(120).where(F.col("source").isNotNull()).cache()
    base = d.select(
        F.col("source").alias("source"), F.col("text").alias("__text")
    )
    ex = (
        shingle_sets(base, "__text", "source", 3)
        .select(
            F.col("source").alias("src"),
            F.explode("shingles").alias("shingle"),
        )
        .distinct()
    )
    got = {
        r["source"]: r["sig"]
        for r in source_sig_from_postings(ex, 64).collect()
    }
    ref = source_signatures(d)
    want = {
        r["source"]: [r[f"__p{i}"] for i in range(64)]
        for r in ref.collect()
    }
    assert got == want
    est_got = {
        (a, b): (n_equal, est)
        for a, b, n_equal, est in signature_pairs(sorted(got.items()), 64)
    }
    est_want = {
        (r["source_a"], r["source_b"]): (r["n_equal"], r["est_jaccard"])
        for r in overlap_from_signatures(ref, 64).collect()
    }
    assert est_got == est_want
    d.unpersist()


def test_source_overlap_incremental_equals_full_recompute(spark, docs):
    from batch_process_dpla_index_spark.operators.dedup import (
        source_minhash_overlap,
        source_overlap_incremental,
        source_signatures,
    )

    d = docs.limit(120).cache()
    corpus = d.where(F.col("doc_id") % 10 != 7)
    delta = d.where(F.col("doc_id") % 10 == 7)
    inc = source_overlap_incremental(
        delta, source_signatures(corpus)
    ).collect()
    full = source_minhash_overlap(d).collect()
    key = lambda r: (r["source_a"], r["source_b"])
    assert sorted(map(tuple, inc)) == sorted(map(tuple, full))
    assert {key(r) for r in inc} == {key(r) for r in full}
    d.unpersist()


def test_overlap_driver_tier_matches_distributed(spark, docs, monkeypatch):
    """r18 tier-equivalence pin: overlap_from_signatures' driver tier
    (bounded signature collect + integer perm-match counts +
    spark_round6) must return EXACTLY the distributed |sources|²
    broadcast join's rows — same n_equal ints, same est_jaccard bits."""
    import batch_process_dpla_index_spark.operators.dedup as dd

    d = docs.limit(150).cache()
    sig = dd.source_signatures(d)
    key = lambda r: (r["source_a"], r["source_b"])  # noqa: E731
    tier = {
        key(r): (r["n_equal"], r["est_jaccard"])
        for r in dd.overlap_from_signatures(sig, 64).collect()
    }
    monkeypatch.setattr(dd, "_SIG_DRIVER_MAX_SOURCES", 0)
    dist = {
        key(r): (r["n_equal"], r["est_jaccard"])
        for r in dd.overlap_from_signatures(sig, 64).collect()
    }
    assert tier == dist
    assert tier, "fixture must produce at least one source pair"
    d.unpersist()


def _pair_loop(rows, num_perm, est_threshold):
    """The pure-Python pair screen signature_pairs replaced: every
    i < j, integer perm-match count, Spark's HALF_UP round replayed per
    pair through Decimal."""
    from decimal import ROUND_HALF_UP, Decimal

    out = []
    for i in range(len(rows)):
        sa, va = rows[i]
        for j in range(i + 1, len(rows)):
            sb, vb = rows[j]
            n_eq = sum(1 for x, y in zip(va, vb) if x == y)
            est = float(
                Decimal(repr(n_eq / float(num_perm))).quantize(
                    Decimal("0.000001"), ROUND_HALF_UP
                )
            )
            if est >= est_threshold:
                out.append((sa, sb, n_eq, est))
    return out


@pytest.mark.parametrize("num_perm", [64, 48])
def test_signature_pairs_matches_python_loop(num_perm):
    """The numpy blockwise pair screen returns exactly the pure-Python
    loop's rows, in the same order, for a power-of-two and a
    non-power-of-two num_perm (k/48 needs real rounding: 5/48 →
    0.104167), at threshold 0 (every pair) and at a threshold some
    pair's estimate hits exactly (>= keeps it). 300 rows span two
    256-row blocks."""
    import random

    from batch_process_dpla_index_spark.operators.dedup import signature_pairs

    rng = random.Random(11)
    base = [rng.randrange(1 << 31) for _ in range(num_perm)]
    rows = []
    for i in range(300):
        sig = list(base)
        # overwrite a random share of perms with row-unique values, so
        # pair match counts spread over the whole 0..num_perm range
        for p in rng.sample(range(num_perm), rng.randrange(num_perm + 1)):
            sig[p] = -(i * num_perm + p) - 1
        rows.append((f"src{i:03d}", sig))
    rows.sort()

    every = _pair_loop(rows, num_perm, 0.0)
    assert signature_pairs(rows, num_perm) == every
    k = 5
    at = next(est for _, _, n_eq, est in every if n_eq == k)
    want = [r for r in every if r[3] >= at]
    got = signature_pairs(rows, num_perm, est_threshold=at)
    assert got == want
    assert any(est == at for _, _, _, est in got)
    assert min(n_eq for _, _, n_eq, _ in got) == k
    assert signature_pairs(rows[:1], num_perm) == []
    assert signature_pairs([], num_perm) == []


def test_rank_candidates_rounded_score_then_id_ties(spark):
    from batch_process_dpla_index_spark.operators.ranking import rank_candidates

    cands = spark.createDataFrame(
        [(3, 0.5), (1, 0.5), (2, 0.9), (4, 0.1)],
        "id bigint, score double",
    )
    got = {
        r["id"]: r["rank"]
        for r in rank_candidates(cands, "score", "id").collect()
    }
    # score desc, id asc on ties: 2 first, then ids 1 and 3 at 0.5
    assert got == {2: 1, 1: 2, 3: 3, 4: 4}


def test_rrf_fuse_single_list_membership_and_k_const(spark):
    """A doc surfaced by only ONE retriever still scores (1/(k+rank));
    agreement raises both the score and n_lists; k_const moves every
    score by the closed form."""
    from batch_process_dpla_index_spark.operators.ranking import rrf_fuse

    l1 = spark.createDataFrame(
        [(10, 1), (20, 2), (30, 3)], "id bigint, rank bigint"
    )
    l2 = spark.createDataFrame(
        [(20, 1), (40, 2)], "id bigint, rank bigint"
    )
    for k_const in (60, 10):
        got = {
            r["id"]: r
            for r in rrf_fuse([l1, l2], k_const=k_const, limit=10).collect()
        }
        assert set(got) == {10, 20, 30, 40}
        assert got[20]["n_lists"] == 2 and got[10]["n_lists"] == 1
        exp20 = round(1.0 / (k_const + 2) + 1.0 / (k_const + 1), 6)
        assert got[20]["rrf_score"] == exp20
        assert got[10]["rrf_score"] == round(1.0 / (k_const + 1), 6)
        # both-list doc outranks any single-list doc at these depths
        assert got[20]["rrf_score"] > got[10]["rrf_score"]


def test_rrf_fuse_tie_breaks_by_id_and_limit(spark):
    from batch_process_dpla_index_spark.operators.ranking import rrf_fuse

    l1 = spark.createDataFrame(
        [(7, 1), (5, 2)], "id bigint, rank bigint"
    )
    l2 = spark.createDataFrame(
        [(5, 1), (7, 2)], "id bigint, rank bigint"
    )
    # symmetric ranks -> equal scores; limit=1 must keep the SMALLER id
    got = rrf_fuse([l1, l2], limit=1).collect()
    assert len(got) == 1 and got[0]["id"] == 5


def test_attribution_time_decay_conserves_credit(spark):
    """Per-conversion credits sum to exactly 1, so total channel credit
    equals the number of conversions that had >=1 in-window touch —
    checked on a hand-built timeline plus the fixture invariant."""
    import datetime as dt

    from batch_process_dpla_index_spark.operators.analytics import (
        attribution_time_decay,
    )
    from batch_process_dpla_index_spark.sources.tables import load_table
    from tests.conftest import SF_DIR

    t0 = dt.datetime(2024, 1, 10, 12, 0, 0)

    def row(eid, uid, typ, days_before):
        return (eid, uid, typ, t0 - dt.timedelta(days=days_before), 1.0)

    ev = spark.createDataFrame(
        [
            # user 1: purchase at t0; touches 0.5 and 2.5 days before
            # -> weights 2^-0=1 and 2^-2=0.25 -> credits 0.8 / 0.2
            row(1, 1, "purchase", 0),
            row(2, 1, "click", 0.5),
            row(3, 1, "view", 2.5),
            # user 2: touch outside the 7-day window -> no credit
            row(4, 2, "purchase", 0),
            row(5, 2, "click", 8.0),
        ],
        "event_id bigint, user_id bigint, event_type string, ts timestamp, value double",
    )
    got = {r.channel: r for r in attribution_time_decay(ev).collect()}
    assert set(got) == {"click", "view"}
    assert got["click"].credit == 0.8 and got["view"].credit == 0.2
    assert got["click"].n_touches == 1 and got["view"].n_touches == 1

    # fixture invariant: UNROUNDED channel credits sum to the
    # attributed-conversion count (an integer, exactly — dyadic
    # credits per conversion sum to 1). Asserted on round_credit=False
    # output: each 2dp-rounded channel can carry up to 0.005 error, so
    # the rounded sums only conserve by cancellation on a lucky
    # fixture.
    fx = load_table(spark, SF_DIR, "events")
    out = attribution_time_decay(fx, round_credit=False).collect()
    total = sum(r.credit for r in out)
    assert abs(total - round(total)) < 1e-6 and total > 0

    # lookback_days >= 64 would wrap the 64-bit dyadic shift (1L<<63
    # is negative, 1L<<64 is 1L again) and silently corrupt credits —
    # the guard must refuse, not wrap
    import pytest

    with pytest.raises(ValueError, match="lookback_days"):
        attribution_time_decay(ev, lookback_days=64)
    # 63 is the widest safe window (d <= 62 under the strict bound)
    attribution_time_decay(ev, lookback_days=63).collect()


def test_clustering_coefficients_hand_graph_and_census_consistency(spark):
    """K3 with a pendant: the two pure-triangle vertices score 1.0,
    the junction 1/3, the pendant 0.0; and on the fixture graph the
    per-node triangle credits sum to exactly 3x the global census."""
    from batch_process_dpla_index_spark.operators.analytics import (
        clustering_coefficients,
        pair_supports,
        triangle_count,
    )
    from batch_process_dpla_index_spark.sources.tables import load_table
    from tests.conftest import SF_DIR

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (1, 4)], "src bigint, dst bigint"
    )
    got = {r.node: r for r in clustering_coefficients(edges).collect()}
    assert got[2].lcc == 1.0 and got[3].lcc == 1.0
    assert got[1].lcc == 0.333333 and got[1].degree == 3
    assert got[4].lcc == 0.0 and got[4].n_triangles == 0

    li = load_table(spark, SF_DIR, "lineitem")
    e = pair_supports(li, "l_orderkey", "l_partkey", min_support=2).select(
        F.col("ia").alias("src"), F.col("ib").alias("dst")
    )
    per_node = clustering_coefficients(e).collect()
    census = triangle_count(e).collect()[0]
    assert sum(r.n_triangles for r in per_node) == 3 * census.n_triangles
    assert all(0.0 <= r.lcc <= 1.0 for r in per_node)
    assert len(per_node) == census.n_nodes
