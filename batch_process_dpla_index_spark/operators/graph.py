"""Iterative graph analytics on DataFrames: weighted PageRank.

`operators/dedup.py:connected_components` established the repo's
iterative-dataflow pattern (join + aggregate per step, checkpoint to
truncate lineage); PageRank is the other canonical fixed-iteration
graph workload a warehouse runs — ranking event-type transition
graphs, citation/link graphs, or provider cross-reference graphs
without leaving the engine.

Scale design (100 TB of edges):

- The edge frame is normalized ONCE (out-weight join), hash-partitioned
  by ``src``, and persisted — every iteration's rank join reuses that
  partitioning, so the per-iteration cost is shuffling the RANK frame
  (O(|nodes|), small side) to the edge partitioning plus one
  aggregate; the edge corpus itself never re-shuffles.
- Each iteration checkpoints the rank frame (`localCheckpoint` by
  default, reliable `checkpoint()` on clusters — same trade as
  connected_components), keeping the plan O(1)-deep instead of
  O(iterations)-deep, which is what keeps Catalyst analysis time flat.
- Dangling-node mass (rank parked on nodes with no out-edges) is
  folded back uniformly each iteration via a 1-row broadcast
  aggregate — the textbook correction, without which rank mass leaks
  and the result is not a probability distribution.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from batch_process_dpla_index_spark.operators.dedup import (
    _CheckpointHandle,
    _with_cached_deps,
)
from batch_process_dpla_index_spark.operators.relational import bounded_collect

#: Driver-tier bound for the fixed-iteration operators below and the
#: triangle operators in ``analytics``: when the edge frame fits this
#: many rows, the k-iteration dataflow runs as ONE bounded collect
#: (:func:`relational.bounded_collect`, which holds the tier policy)
#: plus the identical arithmetic driver-side, instead of k sequential
#: join+aggregate Spark jobs (each ~0.4-0.8 s of flat scheduling/AQE
#: overhead at ANY data size). 131072 edges ≈ a few MB collected.
_GRAPH_DRIVER_MAX_EDGES = 131072


def pagerank(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    weight_col: str | None = None,
    damping: float = 0.85,
    iterations: int = 8,
    reliable_checkpoint: bool = False,
) -> DataFrame:
    """Weighted PageRank over a directed edge list, fixed iteration
    count (the deterministic formulation — fixed ``iterations`` rather
    than an epsilon stop, so two engines produce bit-comparable ranks).

    Returns (node, rank) over every node appearing as a source or
    destination, ranks summing to ~1.0 (full double precision — the
    caller rounds on emit). Parallel edges are legal (their weights
    add); ``weight_col=None`` means unit weights.

    Per iteration: rank ⋈ pre-partitioned edges on src → groupBy dst
    (two exchanges of the small rank frame, zero re-shuffles of the
    edge frame) + a 1-row dangling-mass broadcast. The iteration count
    is a parameter, not data-dependent — PageRank's standard use is a
    fixed-k power iteration.
    """

    # Driver tier (r17): one bounded collect, then the IDENTICAL
    # update rule per iteration — same out-weight normalization, same
    # (1-d)/n + d·(contrib + dangling/n) fold, float64 throughout.
    # Per-node contribution sums accumulate in sorted-edge order
    # (deterministic); the distributed partial aggregate's order can
    # differ by final-ulp rounding, the same cross-engine envelope the
    # 6dp-rounding oracle contract already absorbs (hits_scores
    # docstring) — fixture-verified value-exact at every SF.
    probe = bounded_collect(
        edges.select(
            F.col(src_col).alias("s"),
            F.col(dst_col).alias("d"),
            (F.col(weight_col) if weight_col else F.lit(1.0))
            .cast("double")
            .alias("w"),
        ),
        _GRAPH_DRIVER_MAX_EDGES,
    )
    if probe is not None:
        rows = sorted((r["s"], r["d"], r["w"]) for r in probe)
        if not rows:
            raise ValueError("pagerank: empty edge list (no nodes to rank)")
        wout: dict = {}
        for s, _d, w_ in rows:
            wout[s] = wout.get(s, 0.0) + w_
        norm_rows = [(s, d, w_ / wout[s]) for s, d, w_ in rows]
        node_list = sorted(
            {s for s, _, _ in rows} | {d for _, d, _ in rows}
        )
        n = len(node_list)
        dangling = [x for x in node_list if x not in wout]
        rank = {x: 1.0 / n for x in node_list}
        for _ in range(iterations):
            contrib: dict = {}
            for s, d, wn in norm_rows:
                contrib[d] = contrib.get(d, 0.0) + rank[s] * wn
            dmass = 0.0
            for x in dangling:
                dmass += rank[x]
            base = (1.0 - damping) / n
            term = (dmass / float(n)) if dangling else 0.0
            rank = {
                x: base + damping * (contrib.get(x, 0.0) + term)
                for x in node_list
            }
        from pyspark.sql.types import DoubleType, StructField, StructType

        from batch_process_dpla_index_spark.operators.relational import (
            _arrow_local_frame,
        )

        out = _arrow_local_frame(
            edges.sparkSession,
            [(x, rank[x]) for x in node_list],
            StructType(
                [
                    StructField("node", edges.schema[src_col].dataType, True),
                    StructField("rank", DoubleType(), True),
                ]
            ),
        )
        return _with_cached_deps(out, [])

    def _ckpt(df: DataFrame, eager: bool = True) -> DataFrame:
        # intermediate rank frames checkpoint LAZILY: the final action
        # materializes the whole iteration chain as one cascaded job
        # sequence instead of 2·k driver-blocking jobs, while each
        # checkpoint still truncates lineage the moment it computes
        return (
            df.checkpoint(eager=eager)
            if reliable_checkpoint
            else df.localCheckpoint(eager=eager)
        )

    w = F.col(weight_col) if weight_col else F.lit(1.0)
    raw = edges.select(
        F.col(src_col).alias("src"),
        F.col(dst_col).alias("dst"),
        w.cast("double").alias("w"),
    )
    out_w = raw.groupBy("src").agg(F.sum("w").alias("__wout"))
    norm = (
        raw.join(out_w, "src")
        .select("src", "dst", (F.col("w") / F.col("__wout")).alias("wn"))
        .repartition("src")
        .persist()
    )
    nodes = (
        norm.select(F.col("src").alias("node"))
        .union(norm.select(F.col("dst").alias("node")))
        .distinct()
        .persist()
    )
    n_nodes = nodes.count()
    if n_nodes == 0:
        # loud contract error, not a ZeroDivisionError two jobs later
        norm.unpersist()
        nodes.unpersist()
        raise ValueError("pagerank: empty edge list (no nodes to rank)")
    src_nodes = norm.select("src").distinct().persist()
    dangling_nodes = nodes.join(
        src_nodes, nodes["node"] == src_nodes["src"], "left_anti"
    ).persist()
    # graphs where every node has out-edges (the common case for
    # transition graphs) conserve rank mass with no correction —
    # detecting that ONCE removes a per-iteration aggregate+broadcast
    # job, and `x + 0.0 == x` keeps the result bit-identical to the
    # corrected formula the oracle unrolls
    has_dangling = not dangling_nodes.isEmpty()

    ranks = nodes.select("node", F.lit(1.0 / n_nodes).alias("rank"))
    intermediates: list[DataFrame] = []
    for i in range(iterations):
        contrib = (
            ranks.join(norm, ranks["node"] == norm["src"])
            .groupBy("dst")
            .agg(F.sum(F.col("rank") * F.col("wn")).alias("__contrib"))
        )
        new_ranks = nodes.join(contrib, nodes["node"] == contrib["dst"], "left")
        if has_dangling:
            dangling = (
                ranks.join(
                    dangling_nodes.select(F.col("node").alias("__dn")),
                    ranks["node"] == F.col("__dn"),
                    "left_semi",
                )
                .agg(F.coalesce(F.sum("rank"), F.lit(0.0)).alias("__dangling"))
            )
            new_ranks = new_ranks.crossJoin(F.broadcast(dangling))
            dangling_term = F.col("__dangling") / F.lit(float(n_nodes))
        else:
            dangling_term = F.lit(0.0)
        ranks = _ckpt(
            new_ranks.select(
                "node",
                (
                    F.lit((1.0 - damping) / n_nodes)
                    + F.lit(damping)
                    * (F.coalesce(F.col("__contrib"), F.lit(0.0)) + dangling_term)
                ).alias("rank"),
            ),
            # no-dangling graphs reference `ranks` once per iteration,
            # so the un-materialized plan stays linear and every
            # checkpoint can be lazy (one cascaded job at the action);
            # with dangling nodes `ranks` fans out twice per iteration
            # (contrib + mass) and lazy plans would grow 2^k — keep
            # those eager
            eager=(has_dangling or i == iterations - 1),
        )
        if i < iterations - 1:
            intermediates.append(ranks)
    norm.unpersist()
    nodes.unpersist()
    src_nodes.unpersist()
    dangling_nodes.unpersist()
    # the final checkpoint is materialized (eager), so every earlier
    # iteration's checkpoint has served its purpose — release their
    # block-manager storage NOW instead of leaking k-1 RDDs per call
    for df in intermediates:
        _CheckpointHandle(df).unpersist()
    # the returned frame IS a checkpoint (materialized blocks); ride a
    # real release handle along as its cached dep so the callers'
    # unpersist_deps discipline frees the storage after the action
    return _with_cached_deps(ranks, [_CheckpointHandle(ranks)])


def label_propagation(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    iterations: int = 4,
) -> DataFrame:
    """Synchronous label-propagation community detection (LPA) over an
    undirected edge list, fixed iteration count — the deterministic
    formulation (each node adopts its neighbors' MODE label, frequency
    ties broken by MIN label; labels init to the node id). Connected
    components answers "which nodes touch at all"; LPA splits a
    component into densely-linked communities.

    Per iteration: one join of the label frame onto the pre-
    partitioned symmetric edge frame + one (node, label) count
    aggregate + one per-node top-1 window — the label frame is the
    only thing that moves, the edge frame shuffles ONCE up front.
    Intermediate label frames localCheckpoint lazily (the pagerank
    pattern: lineage truncation without 2·k driver-blocking jobs).
    All-integer arithmetic — bit-exact across engines by construction.

    Returns (node, community) for every node with at least one edge.
    """
    from pyspark.sql.window import Window

    # Driver tier (r17, the pagerank pattern): same symmetric distinct
    # edge set, same synchronous mode-label update with (count desc,
    # label asc) winner — all-integer, so the labels are bit-identical
    # to the distributed loop by construction.
    probe = bounded_collect(
        edges.select(F.col(src_col).alias("s"), F.col(dst_col).alias("d")),
        _GRAPH_DRIVER_MAX_EDGES,
    )
    if probe is not None:
        sym = set()
        for r in probe:
            if r["s"] != r["d"]:
                sym.add((r["s"], r["d"]))
                sym.add((r["d"], r["s"]))
        sym_edges = sorted(sym)
        lab = {s: s for s, _ in sym_edges}
        for _ in range(int(iterations)):
            counts: dict = {}
            for s, d in sym_edges:
                key = (d, lab[s])
                counts[key] = counts.get(key, 0) + 1
            new: dict = {}
            for (d, c), cnt in counts.items():
                cur = new.get(d)
                if cur is None or cnt > cur[0] or (
                    cnt == cur[0] and c < cur[1]
                ):
                    new[d] = (cnt, c)
            lab = {d: v[1] for d, v in new.items()}
        from pyspark.sql.types import StructField, StructType

        from batch_process_dpla_index_spark.operators.relational import (
            _arrow_local_frame,
        )

        dtype = edges.schema[src_col].dataType
        out = _arrow_local_frame(
            edges.sparkSession,
            [(x, lab[x]) for x in sorted(lab)],
            StructType(
                [
                    StructField("node", dtype, True),
                    StructField("community", dtype, True),
                ]
            ),
        )
        return _with_cached_deps(out, [])

    both = (
        edges.select(F.col(src_col).alias("s"), F.col(dst_col).alias("d"))
        .unionAll(
            edges.select(F.col(dst_col).alias("s"), F.col(src_col).alias("d"))
        )
        .where(F.col("s").isNotNull() & F.col("d").isNotNull())
        .where(F.col("s") != F.col("d"))
        .distinct()
        .repartition("s")
        .persist()
    )
    labels = both.select(F.col("s").alias("node")).distinct().select(
        "node", F.col("node").alias("community")
    )
    handles: list = [both]
    for _ in range(int(iterations)):
        nbr = both.join(
            labels, both["s"] == labels["node"]
        ).select(F.col("d").alias("node"), "community")
        counts = nbr.groupBy("node", "community").agg(
            F.count("*").alias("__c")
        )
        w = Window.partitionBy("node").orderBy(
            F.col("__c").desc(), F.col("community").asc()
        )
        labels = (
            counts.withColumn("__rn", F.row_number().over(w))
            .where(F.col("__rn") == 1)
            .select("node", "community")
        ).localCheckpoint(eager=False)
        handles.append(_CheckpointHandle(labels))
    return _with_cached_deps(labels, handles)


def hits_scores(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    iterations: int = 4,
) -> DataFrame:
    """HITS hubs-and-authorities over a directed edge list, fixed
    iteration count, max-normalized — the link-analysis complement to
    :func:`pagerank` (hub = points at good authorities, authority =
    pointed at by good hubs).

    Normalization by the iteration's MAX (an order-free aggregate)
    instead of the L2 norm keeps the NORMALIZER exact in any engine;
    the per-node ``F.sum`` of double scores is still
    accumulation-order-dependent (FP addition is non-associative and
    partial-aggregation order varies with partitioning), compounding
    over iterations — the same determinism envelope as
    :func:`pagerank`. On the bounded low-degree graphs the registry
    runs (and at 6dp emit rounding) the drift is far below the
    rounding grain; bit-exact parity on arbitrary high-degree graphs
    would need sorted per-node contribution folds. Fixed
    ``iterations``, never an epsilon stop.

    Per iteration: the score frame (O(|nodes|), the small side) joins
    the once-shuffled distinct edge frame twice (auth step on src, hub
    step on dst) with one sum-aggregate + one 1-row broadcast max
    each — the edge corpus never re-shuffles, the same per-iteration
    cost shape as pagerank. Intermediates localCheckpoint lazily.

    Returns (node, authority, hub) full-precision doubles (callers
    round on emit); nodes with no in-edges score authority 0.0, no
    out-edges hub 0.0.
    """
    # Driver tier (r17, the pagerank pattern): identical update rule —
    # distinct edge set, per-node sums in sorted-edge order, the SAME
    # order-free MAX normalizer, missing side scored 0.0.
    probe = bounded_collect(
        edges.select(F.col(src_col).alias("s"), F.col(dst_col).alias("d")),
        _GRAPH_DRIVER_MAX_EDGES,
    )
    if probe is not None:
        edge_set = sorted({(r["s"], r["d"]) for r in probe})
        if not edge_set:
            raise ValueError("hits_scores: empty edge list (no nodes to score)")
        node_list = sorted(
            {s for s, _ in edge_set} | {d for _, d in edge_set}
        )
        hub_d = {x: 1.0 for x in node_list}
        auth_d: dict = {}
        for _ in range(int(iterations)):
            raw_a: dict = {}
            for s, d in edge_set:
                raw_a[d] = raw_a.get(d, 0.0) + hub_d[s]
            amax = max(raw_a.values())
            auth_d = {
                x: (raw_a[x] / amax if x in raw_a else 0.0)
                for x in node_list
            }
            raw_h: dict = {}
            for s, d in edge_set:
                raw_h[s] = raw_h.get(s, 0.0) + auth_d[d]
            hmax = max(raw_h.values())
            hub_d = {
                x: (raw_h[x] / hmax if x in raw_h else 0.0)
                for x in node_list
            }
        from pyspark.sql.types import DoubleType, StructField, StructType

        from batch_process_dpla_index_spark.operators.relational import (
            _arrow_local_frame,
        )

        out = _arrow_local_frame(
            edges.sparkSession,
            [(x, auth_d[x], hub_d[x]) for x in node_list],
            StructType(
                [
                    StructField("node", edges.schema[src_col].dataType, True),
                    StructField("authority", DoubleType(), True),
                    StructField("hub", DoubleType(), True),
                ]
            ),
        )
        return _with_cached_deps(out, [])

    e = (
        edges.select(F.col(src_col).alias("s"), F.col(dst_col).alias("d"))
        .where(F.col("s").isNotNull() & F.col("d").isNotNull())
        .distinct()
        .repartition("s")
        .persist()
    )
    nodes = (
        e.select(F.col("s").alias("node"))
        .union(e.select(F.col("d").alias("node")))
        .distinct()
        .persist()
    )
    if nodes.isEmpty():
        e.unpersist()
        nodes.unpersist()
        raise ValueError("hits_scores: empty edge list (no nodes to score)")
    hub = nodes.select("node", F.lit(1.0).alias("h"))
    handles: list = [e, nodes]
    auth = None
    for _ in range(int(iterations)):
        # raw_a/raw_h lazily checkpoint BEFORE fan-out: the 1-row max
        # aggregate and the normalize join both read the same sum
        # aggregate, and without the cut each consumer re-evaluates
        # the propagation shuffle (measured 3.4 → 2.6 s warm at sf0.1,
        # VERDICT r12 #6)
        raw_a = (
            hub.join(e, hub["node"] == e["s"])
            .groupBy("d")
            .agg(F.sum("h").alias("__a"))
            .localCheckpoint(eager=False)
        )
        handles.append(_CheckpointHandle(raw_a))
        amax = raw_a.agg(F.max("__a").alias("__amax"))
        auth = (
            nodes.join(raw_a, nodes["node"] == raw_a["d"], "left")
            .crossJoin(F.broadcast(amax))
            .select(
                "node",
                F.coalesce(F.col("__a") / F.col("__amax"), F.lit(0.0)).alias(
                    "a"
                ),
            )
            .localCheckpoint(eager=False)
        )
        handles.append(_CheckpointHandle(auth))
        raw_h = (
            auth.join(e, auth["node"] == e["d"])
            .groupBy("s")
            .agg(F.sum("a").alias("__h"))
            .localCheckpoint(eager=False)
        )
        handles.append(_CheckpointHandle(raw_h))
        hmax = raw_h.agg(F.max("__h").alias("__hmax"))
        hub = (
            nodes.join(raw_h, nodes["node"] == raw_h["s"], "left")
            .crossJoin(F.broadcast(hmax))
            .select(
                "node",
                F.coalesce(F.col("__h") / F.col("__hmax"), F.lit(0.0)).alias(
                    "h"
                ),
            )
            .localCheckpoint(eager=False)
        )
        handles.append(_CheckpointHandle(hub))
    out = auth.join(hub, "node").select(
        "node", F.col("a").alias("authority"), F.col("h").alias("hub")
    )
    return _with_cached_deps(out, handles)


def common_neighbors(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    max_degree: int | None = None,
    k: int = 25,
) -> DataFrame:
    """Common-neighbor link prediction over an undirected edge list:
    for every NON-adjacent node pair sharing at least one neighbor,
    the shared-neighbor count and the Adamic-Adar score
    (Σ_z 1/ln(deg z) over shared neighbors z — rarer mutual contacts
    weigh more). The classic "who should be linked next" ranking for
    co-purchase, citation, or entity graphs.

    Scale shape: wedges enumerate per CENTER node z as an equi-join of
    the symmetric adjacency with itself on z — Σ deg(z)² work, bounded
    by ``max_degree`` (hub centers above the cap are excluded, the
    standard wedge-sampling concession; None = uncapped). Existing
    edges drop via one anti-join against the canonical edge set. The
    Adamic-Adar sum folds a SORTED degree array left-to-right
    (deterministic FP association — engine-exact, unlike a bare
    SUM of doubles), and shared-neighbor lists are bounded by the same
    degree cap, so no group collects unboundedly.

    Returns top-``k`` (id_a, id_b, common_neighbors, adamic_adar)
    by score — a bounded frame, TakeOrdered not a global sort.
    """
    # Driver tier (r17, the triangle-census pattern): integer wedge
    # core driver-side; the Adamic-Adar fold, rounding, and top-k all
    # run through the IDENTICAL Spark expressions over the local frame
    # (sorted degree arrays ride along), so every emitted double and
    # the ranking are bit-equal to the distributed plan's. Guarded by
    # the edge bound AND a wedge-work bound (Σ deg² over capped
    # centers) so a hub-heavy capped graph can't stall the driver.
    probe = bounded_collect(
        edges.select(F.col(src_col).alias("s"), F.col(dst_col).alias("d")),
        _GRAPH_DRIVER_MAX_EDGES,
    )
    if probe is not None:
        canon_s = set()
        for r in probe:
            if r["s"] != r["d"]:
                canon_s.add(
                    (r["s"], r["d"]) if r["s"] < r["d"] else (r["d"], r["s"])
                )
        adj: dict = {}
        for u, v in canon_s:
            adj.setdefault(u, []).append(v)
            adj.setdefault(v, []).append(u)
        deg = {z: len(ns) for z, ns in adj.items()}
        centers = [
            z for z in adj
            if max_degree is None or deg[z] <= int(max_degree)
        ]
        if sum(deg[z] * deg[z] for z in centers) <= 4_000_000:
            counts: dict = {}
            degs: dict = {}
            for z in centers:
                ns = sorted(adj[z])
                dz = deg[z]
                for i, n1 in enumerate(ns):
                    for n2 in ns[i + 1:]:
                        if (n1, n2) in canon_s:
                            continue
                        counts[(n1, n2)] = counts.get((n1, n2), 0) + 1
                        degs.setdefault((n1, n2), []).append(dz)
            from pyspark.sql.types import (
                ArrayType,
                LongType,
                StructField,
                StructType,
            )

            from batch_process_dpla_index_spark.operators.relational import (
                _arrow_local_frame,
            )

            dtype = edges.schema[src_col].dataType
            base = _arrow_local_frame(
                edges.sparkSession,
                [
                    (a, b, counts[(a, b)], sorted(degs[(a, b)]))
                    for a, b in sorted(counts)
                ],
                StructType(
                    [
                        StructField("id_a", dtype, True),
                        StructField("id_b", dtype, True),
                        StructField("common_neighbors", LongType(), True),
                        StructField("__degs", ArrayType(LongType()), True),
                    ]
                ),
            )
            out = base.select(
                "id_a",
                "id_b",
                "common_neighbors",
                F.round(
                    F.aggregate(
                        F.col("__degs"),
                        F.lit(0.0),
                        lambda acc, d: acc + F.lit(1.0) / F.log(d),
                    ),
                    6,
                ).alias("adamic_adar"),
            ).orderBy(
                F.col("adamic_adar").desc(),
                F.col("common_neighbors").desc(),
                F.col("id_a").asc(),
                F.col("id_b").asc(),
            ).limit(int(k))
            return _with_cached_deps(out, [])

    # lazy localCheckpoint, not persist: canon feeds FOUR branches
    # (two adjacency directions, the degree aggregate via them, the
    # anti-join) — checkpointing truncates the printed/analyzed
    # lineage under every branch (the market_basket shared-frame
    # pattern), where a cache would re-plan the edge build 4×
    canon = (
        edges.select(
            F.least(F.col(src_col), F.col(dst_col)).alias("a"),
            F.greatest(F.col(src_col), F.col(dst_col)).alias("b"),
        )
        .where(F.col("a").isNotNull() & F.col("b").isNotNull())
        .where(F.col("a") != F.col("b"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    adj = canon.select(F.col("a").alias("z"), F.col("b").alias("n")).unionAll(
        canon.select(F.col("b").alias("z"), F.col("a").alias("n"))
    )
    deg = adj.groupBy("z").agg(F.count("*").cast("bigint").alias("d"))
    centers = adj.join(deg, "z")
    if max_degree is not None:
        centers = centers.where(F.col("d") <= int(max_degree))
    # both wedge sides read the adjacency⋈degree frame — checkpoint it
    # so the degree aggregate and join compute once, not once per side
    centers = centers.select("z", "n", "d").localCheckpoint(eager=False)
    left = centers.select("z", F.col("n").alias("n1"), "d")
    right = centers.select("z", F.col("n").alias("n2"))
    wedges = left.join(right, "z").where(F.col("n1") < F.col("n2"))
    open_w = wedges.join(
        canon,
        (wedges["n1"] == canon["a"]) & (wedges["n2"] == canon["b"]),
        "left_anti",
    )
    scored = (
        open_w.groupBy(F.col("n1").alias("id_a"), F.col("n2").alias("id_b"))
        .agg(
            F.count("*").cast("bigint").alias("common_neighbors"),
            F.sort_array(F.collect_list("d")).alias("__degs"),
        )
        .select(
            "id_a",
            "id_b",
            "common_neighbors",
            F.round(
                F.aggregate(
                    F.col("__degs"),
                    F.lit(0.0),
                    lambda acc, d: acc + F.lit(1.0) / F.log(d),
                ),
                6,
            ).alias("adamic_adar"),
        )
    )
    out = scored.orderBy(
        F.col("adamic_adar").desc(),
        F.col("common_neighbors").desc(),
        F.col("id_a").asc(),
        F.col("id_b").asc(),
    ).limit(int(k))
    return _with_cached_deps(
        out, [_CheckpointHandle(canon), _CheckpointHandle(centers)]
    )


def kcore_decomposition(
    edges: DataFrame,
    k: int,
    src_col: str = "src",
    dst_col: str = "dst",
    iterations: int = 12,
) -> DataFrame:
    """Fixed-round k-core peeling over an undirected edge list: each
    round drops every node whose CURRENT degree is below ``k`` and
    every edge touching a dropped node — the standard distributed
    peeling algorithm (and the dense-subgraph extraction pass a
    data-cleaning pipeline runs to separate structurally-embedded
    entities from pendant noise).

    Deterministic formulation: fixed ``iterations``, never a
    convergence stop — two engines replay the identical round
    sequence, and everything is integer arithmetic, so results are
    bit-exact by construction. Peeling converges once no round drops a
    node; pick ``iterations`` ≥ the fixture's convergence depth (the
    pytest asserts fixed-round output == the true converged core at
    test scale). On graphs where ``iterations`` rounds don't reach the
    fixpoint the output is the documented monotone over-approximation
    (every true k-core node is retained; some sub-core tendrils may
    remain) — the trade every bounded-round distributed peeler makes.

    Per round: ONE count aggregate over the live symmetric adjacency +
    two semi-joins (endpoint membership). The adjacency frame shrinks
    monotonically, so round cost is proportional to the LIVE edge
    count, not the input; each round's frame localCheckpoints lazily
    (the pagerank pattern) so the plan stays O(1)-deep.

    Returns (node, degree_full, in_core, core_degree) for every node
    of the input graph: its initial degree, whether it survived all
    rounds, and its degree inside the retained subgraph (0 if
    dropped).
    """
    if k < 1:
        raise ValueError("kcore_decomposition: k must be >= 1")
    # Driver tier (r17, the graph-op pattern): the peel is all-integer
    # (the same symmetric distinct adjacency, the same
    # drop-degree-below-k rounds), so the driver result is bit-exact;
    # the only liberty is stopping early once a round drops nothing —
    # the remaining rounds are no-ops by monotonicity.
    probe = bounded_collect(
        edges.select(F.col(src_col).alias("s"), F.col(dst_col).alias("d")),
        _GRAPH_DRIVER_MAX_EDGES,
    )
    if probe is not None:
        sym = set()
        for r in probe:
            if r["s"] != r["d"]:
                sym.add((r["s"], r["d"]))
                sym.add((r["d"], r["s"]))
        deg_full_d: dict = {}
        for z, _n in sym:
            deg_full_d[z] = deg_full_d.get(z, 0) + 1
        live_set = sym
        for _ in range(int(iterations)):
            cnt: dict = {}
            for z, _n in live_set:
                cnt[z] = cnt.get(z, 0) + 1
            keep = {z for z, c in cnt.items() if c >= int(k)}
            nxt = {
                (z, n) for z, n in live_set if z in keep and n in keep
            }
            if len(nxt) == len(live_set):
                break
            live_set = nxt
        core_d: dict = {}
        for z, _n in live_set:
            core_d[z] = core_d.get(z, 0) + 1
        from pyspark.sql.types import (
            BooleanType,
            LongType,
            StructField,
            StructType,
        )

        from batch_process_dpla_index_spark.operators.relational import (
            _arrow_local_frame,
        )

        out = _arrow_local_frame(
            edges.sparkSession,
            [
                (z, deg_full_d[z], z in core_d, core_d.get(z, 0))
                for z in sorted(deg_full_d)
            ],
            StructType(
                [
                    StructField("node", edges.schema[src_col].dataType, True),
                    StructField("degree_full", LongType(), True),
                    StructField("in_core", BooleanType(), True),
                    StructField("core_degree", LongType(), True),
                ]
            ),
        )
        return _with_cached_deps(out, [])

    adj = (
        edges.select(F.col(src_col).alias("z"), F.col(dst_col).alias("n"))
        .unionAll(
            edges.select(F.col(dst_col).alias("z"), F.col(src_col).alias("n"))
        )
        .where(F.col("z").isNotNull() & F.col("n").isNotNull())
        .where(F.col("z") != F.col("n"))
        .distinct()
        .repartition("z")
        .persist()
    )
    deg_full = adj.groupBy("z").agg(F.count("*").alias("degree_full"))
    handles: list = [adj]
    live = adj
    for _ in range(int(iterations)):
        keep = (
            live.groupBy("z")
            .agg(F.count("*").alias("__c"))
            .where(F.col("__c") >= int(k))
            .select("z")
        )
        live = (
            live.join(keep, "z", "left_semi")
            .join(keep.withColumnRenamed("z", "n"), "n", "left_semi")
        ).localCheckpoint(eager=False)
        handles.append(_CheckpointHandle(live))
    core_deg = live.groupBy("z").agg(F.count("*").alias("__cdg"))
    out = (
        deg_full.join(core_deg, "z", "left")
        .select(
            F.col("z").alias("node"),
            F.col("degree_full").cast("bigint").alias("degree_full"),
            F.col("__cdg").isNotNull().alias("in_core"),
            F.coalesce(F.col("__cdg"), F.lit(0)).cast("bigint").alias(
                "core_degree"
            ),
        )
    )
    return _with_cached_deps(out, handles)
