"""The one commit of every index rewrite (`index_tombstones.commit_staged`).

- A crash-point matrix: each rewrite action is run once per step of
  the commit with a failure injected right after that step, and once
  with a failure in the middle of its staging writes. After each
  crash the next serve either raises or returns exactly the pre- or
  the post-action rows, never a tombstoned id; before the manifest
  flip the pre-action data is whole under its live name or
  ``__old``; and after a staging failure a re-run converges.
- A guard: ``os.rename`` appears under ``products/`` only inside the
  commit, and the ANN model files are never written by a Spark job.
"""

from __future__ import annotations

import ast
import os
import shutil
import sys

import pyarrow.parquet as pq
import pytest
from pyspark.errors import AnalysisException
from pyspark.sql import functions as F
from pyspark.sql.readwriter import DataFrameWriter

from batch_process_dpla_index_spark.products import index_tombstones as it

PRODUCTS = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "batch_process_dpla_index_spark",
    "products",
)


class Crash(Exception):
    """The injected failure."""


def _inject_commit_crash(monkeypatch, fail_at: int | None) -> list[str]:
    """Wrap the calls `commit_staged` makes (renames, deletes, the
    manifest write, the tombstone clear); record each one made from
    inside it as a step and raise :class:`Crash` right after step
    ``fail_at`` (never, when None). Returns the recorded steps."""
    steps: list[str] = []

    def wrap(name, fn):
        def step(*args, **kwargs):
            out = fn(*args, **kwargs)
            if sys._getframe(1).f_code.co_name == "commit_staged":
                path = next(a for a in args if isinstance(a, str))
                steps.append(f"{name}({os.path.basename(path)})")
                if len(steps) == fail_at:
                    raise Crash(steps[-1])
            return out

        return step

    monkeypatch.setattr(os, "rename", wrap("rename", os.rename))
    monkeypatch.setattr(shutil, "rmtree", wrap("rmtree", shutil.rmtree))
    monkeypatch.setattr(it, "write_manifest", wrap("manifest", it.write_manifest))
    monkeypatch.setattr(
        it, "clear_tombstones", wrap("clear_tombstones", it.clear_tombstones)
    )
    return steps


def _inject_staging_crash(monkeypatch) -> None:
    """Fail right after the action's first Spark dataset write lands:
    mid-staging for the multi-dataset rewrites (dedup compaction, the
    ANN rebuild's model files), before the commit for the others."""
    real = DataFrameWriter.parquet

    def parquet(self, *args, **kwargs):
        real(self, *args, **kwargs)
        raise Crash("staging")

    monkeypatch.setattr(DataFrameWriter, "parquet", parquet)


def _snapshot(path: str) -> list[str]:
    """The rows of a stored dataset, order-free."""
    return sorted(map(repr, pq.read_table(path).to_pylist()))


@pytest.fixture(scope="module")
def emb(spark):
    from batch_process_dpla_index_spark.sources.tables import load_table
    from tests.conftest import SF_DIR

    rows = (
        load_table(spark, SF_DIR, "embeddings")
        .select("vec_id", "embedding")
        .orderBy("vec_id")
        .limit(60)
        .toPandas()
    )
    return spark.createDataFrame(rows)


def _ann_case(learned, action):
    def build(spark, emb, idx):
        from batch_process_dpla_index_spark.products.ann_index import (
            build_ann_index,
            delete_from_ann_index,
        )

        build_ann_index(emb, "vec_id", "embedding", idx, dim=64, n_cells=8,
                        learned=learned, kmeans_iters=2)
        doomed = [r["vec_id"] for r in emb.orderBy("vec_id").limit(12).collect()][2:12]
        delete_from_ann_index(spark, idx, doomed, compact_threshold=2.0)
        return set(doomed)

    def serve(spark, emb, idx):
        from batch_process_dpla_index_spark.products.ann_index import (
            ann_query_indexed,
        )

        queries = emb.orderBy(F.col("vec_id").desc()).limit(6)
        # a partial probe: a serve under mismatched geometry differs
        rows = ann_query_indexed(spark, queries, "vec_id", "embedding", idx,
                                 k=5, n_probe=2).collect()
        return sorted(map(tuple, rows)), {r["neighbor_id"] for r in rows}

    return build, serve, action


def _ann_compact(spark, idx):
    from batch_process_dpla_index_spark.products.ann_index import compact_ann_index

    return compact_ann_index(spark, idx)


def _ann_rebuild(spark, idx):
    from batch_process_dpla_index_spark.products.ann_index import rebuild_ann_index

    return rebuild_ann_index(spark, idx, n_cells=4, kmeans_iters=2)


def _emb_build(spark, emb, idx):
    from batch_process_dpla_index_spark.products.embedding_index import (
        build_embedding_index,
        delete_from_embedding_index,
    )

    build_embedding_index(emb, "vec_id", "embedding", idx, dim=64, n_cells=4)
    doomed = [r["vec_id"] for r in emb.orderBy("vec_id").limit(10).collect()]
    delete_from_embedding_index(spark, idx, doomed, compact_threshold=2.0)
    return set(doomed)


def _emb_serve(spark, emb, idx):
    from batch_process_dpla_index_spark.operators.dedup import unpersist_deps
    from batch_process_dpla_index_spark.products.embedding_index import (
        incremental_embedding_dedup_indexed,
    )

    queries = emb.orderBy(F.col("vec_id").desc()).limit(6)
    got = incremental_embedding_dedup_indexed(
        spark, queries, "vec_id", "embedding", idx, threshold=0.0, n_probe=1
    )
    rows = got.select("id", "cell", "n_matches", "best_match_id").collect()
    unpersist_deps(got)
    return sorted(map(tuple, rows)), {r["best_match_id"] for r in rows}


def _emb_rebuild(spark, idx):
    from batch_process_dpla_index_spark.products.embedding_index import (
        rebuild_embedding_index,
    )

    return rebuild_embedding_index(spark, idx, n_cells=8)


def _docs(spark):
    from batch_process_dpla_index_spark.sources.tables import load_table
    from tests.conftest import SF_DIR

    return load_table(spark, SF_DIR, "documents")


def _dedup_build(spark, emb, idx):
    from batch_process_dpla_index_spark.operators.dedup import unpersist_deps
    from batch_process_dpla_index_spark.products.dedup_index import (
        build_dedup_index,
        delete_from_dedup_index,
        incremental_dedup_indexed,
    )

    docs = _docs(spark)
    build_dedup_index(docs.filter(F.col("doc_id") % 10 != 7), "text", "doc_id", idx)
    got = incremental_dedup_indexed(
        spark, docs.filter(F.col("doc_id") % 10 == 7), "text", "doc_id", idx
    )
    doomed = sorted({r["dup_of"] for r in got.collect()})[:3]
    unpersist_deps(got)
    assert doomed, "fixture must produce at least one corpus match"
    delete_from_dedup_index(spark, idx, doomed, compact_threshold=2.0)
    return set(doomed)


def _dedup_serve(spark, emb, idx):
    from batch_process_dpla_index_spark.operators.dedup import unpersist_deps
    from batch_process_dpla_index_spark.products.dedup_index import (
        incremental_dedup_indexed,
    )

    got = incremental_dedup_indexed(
        spark, _docs(spark).filter(F.col("doc_id") % 10 == 7), "text",
        "doc_id", idx,
    )
    rows = got.collect()
    unpersist_deps(got)
    return sorted(map(tuple, rows)), {r["dup_of"] for r in rows}


def _dedup_compact(spark, idx):
    from batch_process_dpla_index_spark.products.dedup_index import (
        compact_dedup_index,
    )

    return compact_dedup_index(spark, idx)


def _overlap_build(spark, emb, idx):
    from batch_process_dpla_index_spark.products.overlap_index import (
        build_overlap_index,
        delete_from_overlap_index,
    )

    docs = _docs(spark)
    build_overlap_index(docs, idx)
    victim = sorted(r["source"] for r in docs.select("source").distinct().collect())[0]
    delete_from_overlap_index(spark, idx, [victim], compact_threshold=2.0)
    return {victim}


def _overlap_serve(spark, emb, idx):
    from batch_process_dpla_index_spark.products.overlap_index import overlap_report

    rows = sorted(map(tuple, overlap_report(spark, idx).collect()))
    return rows, {s for r in rows for s in r[:2]}


def _overlap_compact(spark, idx):
    from batch_process_dpla_index_spark.products.overlap_index import (
        compact_overlap_index,
    )

    return compact_overlap_index(spark, idx)


#: case → (build + tombstone, serve, action, the live datasets it rewrites)
CASES = {
    "compact_ann_index": (*_ann_case(False, _ann_compact), ["cells"]),
    "compact_dedup_index": (
        _dedup_build, _dedup_serve, _dedup_compact, ["signatures", "buckets"]
    ),
    "rebuild_ann_index_flat": (
        *_ann_case(True, _ann_rebuild), ["cells", "centroids"]
    ),
    "rebuild_ann_index_two_level": (
        *_ann_case("two-level", _ann_rebuild),
        ["cells", "coarse_centroids", "fine_centroids"],
    ),
    "rebuild_embedding_index": (_emb_build, _emb_serve, _emb_rebuild, ["cells"]),
    "compact_overlap_index": (
        _overlap_build, _overlap_serve, _overlap_compact, ["signatures"]
    ),
}


@pytest.mark.parametrize("case", sorted(CASES))
def test_crash_point_matrix(spark, emb, tmp_path, monkeypatch, case):
    build, serve, action, datasets = CASES[case]
    pristine = str(tmp_path / "pristine")
    doomed = build(spark, emb, pristine)
    pre, served = serve(spark, emb, pristine)
    assert pre and not served & doomed
    pre_data = {d: _snapshot(os.path.join(pristine, d)) for d in datasets}

    runs = [0]

    def fresh() -> str:
        runs[0] += 1
        work = str(tmp_path / f"run{runs[0]}")
        shutil.copytree(pristine, work)
        return work

    def served_rows(idx):
        try:
            return serve(spark, emb, idx)
        except (AnalysisException, OSError):  # a missing dataset: loud
            return None

    # a clean run: the post-action rows, and the commit's step list
    work = fresh()
    steps = _inject_commit_crash(monkeypatch, None)
    action(spark, work)
    monkeypatch.undo()
    post, served = serve(spark, emb, work)
    assert not served & doomed
    assert not os.path.exists(os.path.join(work, "tombstones"))
    assert steps[-1] == f"clear_tombstones({os.path.basename(work)})"
    flip = steps.index(f"manifest({os.path.basename(work)})")

    for fail_at in range(1, len(steps) + 1):
        work = fresh()
        _inject_commit_crash(monkeypatch, fail_at)
        with pytest.raises(Crash):
            action(spark, work)
        monkeypatch.undo()
        spark.catalog.clearCache()
        got = served_rows(work)
        where = f"{case}: crash after {steps[fail_at - 1]}"
        if got is not None:
            assert got[0] in (pre, post), where
            assert not got[1] & doomed, where
        if fail_at <= flip:
            for d in datasets:
                live = os.path.join(work, d)
                assert any(
                    os.path.isdir(p) and _snapshot(p) == pre_data[d]
                    for p in (live, live + "__old")
                ), f"{where}: pre-action {d} not whole"

    # a failure mid-staging leaves the index serving the old rows, and
    # re-running the action converges to the post-action rows
    work = fresh()
    _inject_staging_crash(monkeypatch)
    with pytest.raises(Crash):
        action(spark, work)
    monkeypatch.undo()
    spark.catalog.clearCache()
    assert serve(spark, emb, work)[0] == pre
    for d in datasets:
        assert _snapshot(os.path.join(work, d)) == pre_data[d]
    action(spark, work)
    assert serve(spark, emb, work)[0] == post


def _calls(path: str):
    """(line, kind, enclosing function) of every ``os.rename`` call
    and every ``.coalesce(1).write`` chain in one source file."""
    tree = ast.parse(open(path, encoding="utf-8").read(), path)
    out = []

    def visit(node, func):
        for child in ast.iter_child_nodes(node):
            name = (
                child.name
                if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef))
                else func
            )
            if (
                isinstance(child, ast.Call)
                and isinstance(child.func, ast.Attribute)
                and child.func.attr == "rename"
                and isinstance(child.func.value, ast.Name)
                and child.func.value.id == "os"
            ):
                out.append((child.lineno, "os.rename", func))
            if (
                isinstance(child, ast.Attribute)
                and child.attr == "write"
                and isinstance(child.value, ast.Call)
                and isinstance(child.value.func, ast.Attribute)
                and child.value.func.attr == "coalesce"
                and len(child.value.args) == 1
                and isinstance(child.value.args[0], ast.Constant)
                and child.value.args[0].value == 1
            ):
                out.append((child.lineno, ".coalesce(1).write", func))
            visit(child, name)

    visit(tree, None)
    return out


def test_index_rewrites_commit_through_one_helper():
    """``os.rename`` under ``products/`` lives only in
    `index_tombstones.commit_staged`, and ``ann_index.py`` writes no
    dataset through a ``.coalesce(1).write`` Spark job (its model
    files are written on the driver)."""
    renames, coalesced = [], []
    for fname in sorted(os.listdir(PRODUCTS)):
        if not fname.endswith(".py"):
            continue
        for line, kind, func in _calls(os.path.join(PRODUCTS, fname)):
            where = f"products/{fname}:{line} ({func})"
            if kind == "os.rename":
                renames.append((fname, func, where))
            elif fname == "ann_index.py":
                coalesced.append(where)
    stray = [w for f, fn, w in renames if (f, fn) != ("index_tombstones.py", "commit_staged")]
    assert not stray, f"os.rename outside commit_staged: {stray}"
    assert len(renames) == 2, [w for *_x, w in renames]
    assert not coalesced, f".coalesce(1).write in ann_index.py: {coalesced}"
