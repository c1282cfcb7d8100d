"""Physical-plan audit over the whole query registry.

For every ``queries()`` entry, plans the query at the given SF and
fingerprints the physical plan: shuffle exchanges, broadcast
exchanges, scans with pushed filters, whole-stage-codegen spans, and
Python/Arrow nodes. Writes a markdown table to PLANS.md so plan-shape
regressions are reviewable in diffs (the per-operator shape claims in
the docstrings are pinned individually in tests/test_plans.py; this is
the fleet-wide view).

Usage::

    python tools/plan_audit.py [sf_dir] [out_md]
"""

from __future__ import annotations

import os
import re
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

MARKERS = {
    "shuffles": r"Exchange hashpartitioning|Exchange rangepartitioning|Exchange RoundRobin",
    "broadcasts": r"BroadcastExchange",
    "python": r"ArrowEvalPython|MapInPandas|FlatMapGroupsInPandas|BatchEvalPython|PythonUDTF|MapInArrow",
    "sorts": r"^(?!.*SortAggregate).*\bSort \[",
    "takeordered": r"TakeOrderedAndProject",
    "inmem": r"InMemoryTableScan|InMemoryRelation",
    # a Coalesce node folds its constraint into the upstream stage —
    # repo convention is repartition(n) for artifact writes, so any
    # non-zero count here is reviewable (BASELINE.md r9 overlap notes)
    "coalesce": r"\bCoalesce\b",
}


def unpartitioned_windows(plan: str) -> int:
    """Count WindowExec nodes with NO partition spec — the all-rows-to-
    one-task shape (r16, VERDICT r15 #2). Plan text renders a Window
    node as ``Window [funcs], [partSpec], [orderSpec]`` when
    partitioned and ``Window [funcs], [orderSpec]`` when not; an
    order-only spec is recognizable by its ASC/DESC NULLS markers.
    one_bucket() windows (contract-bounded frames) carry a real
    partition spec and are deliberately NOT counted."""
    n = 0
    for line in plan.splitlines():
        m = re.search(r"\bWindow \[", line)
        if not m:
            continue
        groups = line[m.start():].split("], [")
        if len(groups) == 2 and re.search(
            r"(ASC|DESC) NULLS", groups[1]
        ):
            n += 1
    return n


def _indent(line: str) -> int:
    """Tree depth of a plan line = length of its drawing prefix
    (spaces and the `:  + - |` tree characters before the node name;
    codegen stars like ``*(7)`` are part of the name)."""
    return len(line) - len(line.lstrip(" :+-|"))


def filescans_outside_cache(plan: str) -> int:
    """Count FileScan nodes with NO InMemoryRelation ancestor — the
    independent-corpus-re-scan shape (r17: replaces the old textual
    ``FileScan count <= InMemoryTableScan count`` heuristic, which
    breaks when a cached frame's reprinted plan itself contains
    several FileScans, e.g. the screened contamination matrix's
    sketch self-join). Ancestors are recovered from the plan string's
    tree indentation: the parent chain of a line is the nearest
    preceding line at each strictly-smaller indent."""
    lines = plan.splitlines()
    indents = [_indent(ln) for ln in lines]

    def _covered_by_ancestor(i: int) -> bool:
        cur = indents[i]
        for j in range(i - 1, -1, -1):
            if indents[j] < cur:
                if "InMemoryRelation" in lines[j]:
                    return True
                cur = indents[j]
                if cur == 0:
                    break
        return False

    # section headers an AdaptiveSparkPlan prints; query stages alone
    # do not mark a reprint, since every final AQE plan has them
    _REPRINT_HEADERS = ("== Final Plan ==", "== Initial Plan ==")

    def _covered_by_materialized_reprint(i: int) -> bool:
        # An InMemoryRelation that was MATERIALIZED before the print
        # (r18: eager driver-tier collects inside query construction)
        # reprints its cached plan as a flat AQE dump — section
        # headers and query stages at SHALLOWER indent than the
        # relation line itself, which defeats the ancestor walk. Such
        # a FileScan is covered when the nearest preceding
        # InMemoryRelation sits DEEPER than it and a reprint section
        # header (at any depth) lies between the two.
        saw_header = False
        for j in range(i - 1, -1, -1):
            if any(h in lines[j] for h in _REPRINT_HEADERS):
                saw_header = True
            if "InMemoryRelation" in lines[j]:
                return indents[j] > indents[i] and saw_header
            if indents[j] > indents[i] + 60:
                # far outside any plausible reprint block
                return False
        return False

    n_out = 0
    for i, ln in enumerate(lines):
        if "FileScan" not in ln:
            continue
        if _covered_by_ancestor(i) or _covered_by_materialized_reprint(i):
            continue
        n_out += 1
    return n_out


def fingerprint(plan: str) -> dict[str, int]:
    out = {}
    for name, pat in MARKERS.items():
        out[name] = sum(
            1 for line in plan.splitlines() if re.search(pat, line)
        )
    # whole-stage-codegen spans appear as "*(n)" operator prefixes;
    # count distinct span ids
    out["codegen"] = len(set(re.findall(r"\*\((\d+)\)", plan)))
    out["pushed_filters"] = len(re.findall(r"PushedFilters: \[[^\]]", plan))
    out["sp_windows"] = unpartitioned_windows(plan)
    return out


def main() -> int:
    args = sys.argv[1:]
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    out_md = args[1] if len(args) > 1 else os.path.join(ROOT, "PLANS.md")

    from batch_process_dpla_index_spark.queries import QUERIES
    from batch_process_dpla_index_spark.session import get_spark

    spark = get_spark()
    rows = []
    for name, fn in QUERIES.items():
        try:
            df = fn(spark, sf_dir)
            # Execute first so AQE finalizes the plan (isFinalPlan=true);
            # pre-AQE counts over-report shuffles and under-report codegen.
            df.write.format("noop").mode("overwrite").save()
            plan = df._jdf.queryExecution().executedPlan().toString()
            fp = fingerprint(plan)
            rows.append((name, fp, None))
        except Exception as e:  # pragma: no cover - audit robustness
            rows.append((name, {}, f"{type(e).__name__}: {str(e)[:120]}"))
        finally:
            spark.catalog.clearCache()

    lines = [
        "# PLANS — physical-plan fingerprints (final AQE plans, executed at "
        f"`{sf_dir}`)",
        "",
        "Generated by `tools/plan_audit.py`. Each query is executed to a",
        "noop sink so AQE finalizes the plan; columns count plan nodes:",
        "shuffle Exchanges, BroadcastExchanges, WholeStageCodegen spans,",
        "Python/Arrow nodes, global Sorts, TakeOrdered top-k, scans",
        "with non-empty PushedFilters, and unpartitioned (single-",
        "partition) Window nodes — the last column should be 0",
        "everywhere except documented contract-bounded frames.",
        "The iterative ops (dedup_clusters, kmeans) run their bounded",
        "per-iteration jobs while the registry callable builds the",
        "result, so their *final* plan here is small by design. So does the",
        "IVF probe serve (ivf_pq_topk): under its query cap it runs its one",
        "candidate job (0 shuffles, 2 codegen spans, 2 Python nodes: the",
        "encode and the scoring MapInArrow) and returns a local table,",
        "whose plan counts nothing.",
        "",
        "| query | shuffles | broadcasts | codegen | python | sorts | top-k | pushed filters | cached | coalesce | 1-part windows |",
        "|---|---|---|---|---|---|---|---|---|---|---|",
    ]

    def _row(name, fp, err):
        if err:
            return f"| {name} | ERROR: {err} | | | | | | | | | |"
        return (
            f"| {name} | {fp['shuffles']} | {fp['broadcasts']} | "
            f"{fp['codegen']} | {fp['python']} | {fp['sorts']} | "
            f"{fp['takeordered']} | {fp['pushed_filters']} | {fp['inmem']} | "
            f"{fp['coalesce']} | {fp['sp_windows']} |"
        )

    for name, fp, err in rows:
        lines.append(_row(name, fp, err))

    # Product artifact-write frames: the pre-write plan of each product
    # whose write shape is pinned (VERDICT r9 #2 — a coalesce
    # regression on the overlap-index artifact must flip a committed
    # fingerprint, not just a prose note). Planned (not executed): the
    # pin is the exchange kind, visible pre-AQE.
    prod_rows = []
    try:
        from batch_process_dpla_index_spark.operators.dedup import (
            source_signatures,
        )
        from batch_process_dpla_index_spark.products.overlap_index import (
            _artifact_frame,
        )
        from batch_process_dpla_index_spark.sources.tables import load_table

        docs = load_table(spark, sf_dir, "documents")
        frame = _artifact_frame(source_signatures(docs))
        plan = frame._jdf.queryExecution().executedPlan().toString()
        fp = fingerprint(plan)
        n_repart1 = len(
            re.findall(r"Exchange SinglePartition, REPARTITION_BY_NUM", plan)
        )
        # render the pinned exchange kind IN the row name so the one
        # field that distinguishes repartition(1) from any other
        # single-partition shape is visible in the table, not dead data
        prod_rows.append(
            (f"overlap_index_artifact (repartition_by_num={n_repart1})", fp, None)
        )
    except Exception as e:  # pragma: no cover - audit robustness
        prod_rows.append(
            ("overlap_index_artifact", {}, f"{type(e).__name__}: {str(e)[:120]}")
        )
    lines += [
        "",
        "## Product artifact-write frames (pre-write plans, pinned shapes)",
        "",
        "| frame | shuffles | broadcasts | codegen | python | sorts | top-k | pushed filters | cached | coalesce | 1-part windows |",
        "|---|---|---|---|---|---|---|---|---|---|---|",
    ]
    for name, fp, err in prod_rows:
        lines.append(_row(name, fp, err))
    lines.append(
        "\noverlap_index_artifact must show coalesce = 0 and "
        "repartition_by_num = 1 (the write is `repartition(1)`; a "
        "coalesce(1) regression folds the Arrow signature stage to one "
        "task — measured 2x the build). The sharp gate is "
        "tests/test_plans.py::"
        "test_overlap_index_artifact_write_repartition_not_coalesce."
    )
    text = "\n".join(lines) + "\n"
    with open(out_md, "w", encoding="utf-8") as f:
        f.write(text)
    bad = [n for n, _, e in rows if e]
    print(f"{len(rows)} queries audited -> {out_md}; errors: {bad or 'none'}")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
