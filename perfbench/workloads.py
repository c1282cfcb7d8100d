"""The closed-loop workloads.

Each drives the package only through its public product and operator
functions, one call at a time on one client thread. A workload object
exposes:

- ``prepare()``: untimed set-up after the session is ready;
- ``run_pass(i)``: one timed pass; returns the input rows it handled;
- ``check(i)``: untimed output checks of that pass; returns failures;
- ``bytes_out_per_byte_in()``: output size against input size.

Every public call runs inside ``tracer.span(<name>)`` and counts as
one attempted op.
"""

from __future__ import annotations

import glob
import os
import shutil
import time
from collections import defaultdict

import pyarrow.dataset as pads
import pyarrow.parquet as pq

from gen import LATEST_DATE, Inputs, tree_bytes


class Workload:
    name = ""
    spans: tuple[str, ...] = ()
    #: spans whose calls return result rows (for rows_read_per_result)
    result_spans: tuple[str, ...] = ()

    def __init__(self, spark, inputs: Inputs, work_dir: str, tracer) -> None:
        self.spark = spark
        self.inputs = inputs
        self.work = work_dir
        self.tracer = tracer
        self.ops = 0
        self.latencies: dict[str, list[float]] = defaultdict(list)

    def call(self, span: str, fn, *args, **kwargs):
        """One public call: traced, counted and timed."""
        self.ops += 1
        t0 = time.perf_counter()
        with self.tracer.span(span):
            out = fn(*args, **kwargs)
        self.latencies[span].append(time.perf_counter() - t0)
        return out

    def prepare(self) -> None:
        pass

    def max_passes(self) -> int:
        return 10_000

    def results_per_call(self, span: str) -> int:
        """Result rows one call of a ``result_spans`` span returns."""
        raise NotImplementedError


def _rows(path: str) -> int:
    return pads.dataset(path, format="parquet", partitioning="hive").count_rows()


# ---- monthly_batch -----------------------------------------------------------

#: MQ flag rules in closed form of the item's doc_id ``m``: the rules
#: documented in model/fixtures.py, as the MQ oracle (oracles._MQ_FLAGS)
#: reads them through quality/mq.ITEMDATA_SQL
_FLAG_RULES = {
    "title": lambda m: m % 5 != 0,
    "description": lambda m: m % 4 != 0,
    "creator": lambda m: m % 3 != 0,
    "type": lambda m: m % 2 != 0,
    "language": lambda m: m % 7 != 0,
    "spatial": lambda m: m % 6 != 0,
    "subject": lambda m: m % 8 != 0,
    "collection": lambda m: m % 9 != 0,
    "date": lambda m: m % 10 != 0,
    "standardizedRights": lambda m: m % 7 != 0,
    "openRights": lambda m: m % 7 in (1, 2, 3, 4),
    # the flatten rebuilds `object` as a struct, which is never NULL, so
    # "object is null" never fires after the parquet dump (see the oracle)
    "preview": lambda m: True,
    "iiifManifest": lambda m: m % 3 != 0,
    "mediaMaster": lambda m: m % 4 == 0,
    "mediaAccess": lambda m: m % 3 != 0 or m % 4 == 0,
    "wikimediaReady": lambda m: (m % 3 != 0 or m % 4 == 0) and m % 7 in (1, 2, 3, 4),
}


def expected_provider_scores(doc_ids, sources) -> dict[str, dict[str, float]]:
    acc: dict[str, list[int]] = defaultdict(list)
    for m, src in zip(doc_ids, sources):
        acc[src].append(m)
    return {
        src: {"count": len(ms), **{
            flag: sum(rule(m) for m in ms) / len(ms) for flag, rule in _FLAG_RULES.items()
        }}
        for src, ms in acc.items()
    }


class MonthlyBatch(Workload):
    """parquet dump (Avro in) → JSONL dump → MQ reports → sitemap."""

    name = "monthly_batch"
    spans = ("parquet_dump", "jsonl_dump", "mq_reports", "sitemap")
    SITEMAP_ROWS = 1000

    def prepare(self) -> None:
        from pyspark.sql import functions as F

        from batch_process_dpla_index_spark.io.sinks import write_avro
        from batch_process_dpla_index_spark.model.fixtures import synthesize_enriched

        # One Avro write for all hubs: hash-partition on a key chosen so
        # that each hub lands alone in its own partition, then move each
        # part file into its hub's snapshot folder.
        hubs = sorted(self.inputs.facts["jsonl_per_hub"])
        n = len(hubs)
        key_of_part = {}
        for r in self.spark.range(16 * n).select(
            "id", F.pmod(F.hash("id"), F.lit(n)).alias("p")
        ).collect():
            key_of_part.setdefault(r["p"], r["id"])
        key = F.lit(None).cast("long")
        for p, hub in enumerate(hubs):
            key = F.when(F.col("hub") == hub, F.lit(key_of_part[p])).otherwise(key)
        docs = self.spark.read.parquet(self.inputs.files["docs"]).withColumn("hub_key", key)
        staged = os.path.join(self.work, "avro_staging")
        write_avro(synthesize_enriched(docs.repartition(n, "hub_key")), staged)
        for p, hub in enumerate(hubs):
            dest = os.path.join(self.inputs.files["in_root"], hub, "enrichment", LATEST_DATE)
            os.makedirs(dest, exist_ok=True)
            os.replace(os.path.join(staged, f"part-{p:05d}.avro"), os.path.join(dest, "part-00000.avro"))
        shutil.rmtree(staged)
        self.expected = expected_provider_scores(
            self.inputs.facts["doc_ids"], self.inputs.facts["sources"]
        )

    def avro_paths(self) -> list[str]:
        return sorted(glob.glob(os.path.join(self.inputs.files["in_root"], "*", "enrichment", LATEST_DATE)))

    def run_pass(self, i: int) -> int:
        from pyspark.sql import functions as F

        from batch_process_dpla_index_spark.io.paths import latest_dataset_paths
        from batch_process_dpla_index_spark.products import (
            jsonl_dump,
            monthly_batch,
            parquet_dump,
            sitemap,
        )

        spark, in_root = self.spark, self.inputs.files["in_root"]
        out = self.out = os.path.join(self.work, f"pass{i}")
        self.parquet_out = self.call(
            "parquet_dump", parquet_dump.execute, spark, in_root,
            os.path.join(out, "parquet"), fmt="avro",
        )
        self.jsonl_counts = self.call(
            "jsonl_dump", lambda: jsonl_dump.execute(
                spark, latest_dataset_paths(in_root, "jsonl"), os.path.join(out, "jsonl")
            ),
        )
        self.call(
            "mq_reports", monthly_batch.mq_reports_step, spark, self.parquet_out,
            os.path.join(out, "mq"),
        )
        self.call(
            "sitemap", lambda: sitemap.execute(
                spark, spark.read.parquet(self.parquet_out).select(F.col("id")),
                os.path.join(out, "sitemap"), "https://sitemaps.example.org",
                max_rows=self.SITEMAP_ROWS,
            ),
        )
        return self.inputs.rows

    def check(self, i: int) -> list[str]:
        from batch_process_dpla_index_spark.io.manifest import read_manifest
        from batch_process_dpla_index_spark.io.sinks import read_csv_single

        n, out, bad = self.inputs.rows, self.out, []
        if _rows(self.parquet_out) != n:
            bad.append(f"parquet rows {_rows(self.parquet_out)} != {n}")
        per_hub = dict(self.jsonl_counts)
        if per_hub.pop("__all__", None) != n or per_hub != self.inputs.facts["jsonl_per_hub"]:
            bad.append(f"jsonl counts {self.jsonl_counts}")
        sm = read_manifest(os.path.join(out, "sitemap"))
        urls = sum(
            open(p, encoding="utf-8").read().count("<url>")
            for p in glob.glob(os.path.join(out, "sitemap", "*", "all_item_urls_*.xml"))
        )
        if int(sm["Total URL count"]) != n or urls != n:
            bad.append(f"sitemap urls {sm['Total URL count']} / {urls} != {n}")
        rows = read_csv_single(os.path.join(out, "mq", "provider.csv"))
        if sum(int(r["count"]) for r in rows) != n:
            bad.append("mq provider counts do not sum to the item count")
        got = {r["provider"]: r for r in rows}
        if set(got) != set(self.expected):
            bad.append("mq providers differ from the input sources")
        for src, exp in self.expected.items():
            row = got.get(src, {})
            for flag, want in exp.items():
                if not abs(float(row.get(flag, "nan")) - want) <= 1e-9:
                    bad.append(f"mq {src}.{flag} = {row.get(flag)} != {want:.6f}")
                    break
        self.out_bytes = tree_bytes(out)
        shutil.rmtree(out, ignore_errors=True)
        return bad

    def bytes_out_per_byte_in(self) -> float:
        return self.out_bytes / tree_bytes(self.inputs.files["in_root"])


# ---- index_lifecycle ---------------------------------------------------------


class IndexLifecycle(Workload):
    """An ANN index under serves interleaved with appends, takedown
    deletes and compactions."""

    name = "index_lifecycle"
    spans = ("ann_build", "serve", "append", "delete", "compact")
    result_spans = ("serve",)
    K = 5
    N_PROBE = 4
    N_CELLS = 16
    DELETE_SIZE = 400

    def prepare(self) -> None:
        self.idx = os.path.join(self.work, "ann_index")
        self.query_table = pq.read_table(self.inputs.files["queries"])
        self.n_query_batches = self.query_table.num_rows // self.inputs.facts["query_size"]
        self.pool = self.spark.read.parquet(self.inputs.files["pool"])
        self.pool_ids: dict[int, list[int]] = defaultdict(list)
        t = pq.read_table(self.inputs.files["pool"], columns=["vec_id", "batch"])
        for v, b in zip(t.column("vec_id").to_pylist(), t.column("batch").to_pylist()):
            self.pool_ids[b].append(v)
        self.queries_size = self.inputs.facts["query_size"]
        self.live = set(self.inputs.facts["corpus_ids"])
        self.deleted: set[int] = set()
        self.next_delete = 0
        self.next_query = 0
        self.failures: list[str] = []

    def _queries(self, q: int):
        """Query batch ``q`` as a local frame, built by the client before
        each serve."""
        import pyarrow.compute as pc

        part = self.query_table.filter(pc.equal(self.query_table.column("qbatch"), q))
        return self.spark.createDataFrame(part.select(["vec_id", "embedding"]).to_pandas())

    def _serve(self, q: int):
        from batch_process_dpla_index_spark.products.ann_index import ann_query_indexed

        queries = self._queries(q)
        rows = self.call(
            "serve", lambda: ann_query_indexed(
                self.spark, queries, "vec_id", "embedding", self.idx,
                k=self.K, n_probe=self.N_PROBE,
            ).collect()
        )
        per_query: dict[int, int] = defaultdict(int)
        for r in rows:
            per_query[r["query_id"]] += 1
        n_q = self.queries_size
        if len(per_query) != n_q or any(c != self.K for c in per_query.values()):
            self.failures.append(f"serve {q}: not {self.K} rows for each of {n_q} queries")
        hits = {r["neighbor_id"] for r in rows}
        if hits & self.deleted:
            self.failures.append(f"serve {q}: returned {len(hits & self.deleted)} deleted ids")
        if not hits <= self.live:
            self.failures.append(f"serve {q}: returned ids that are not live")
        return sorted((r["query_id"], r["neighbor_id"], r["rank"]) for r in rows)

    def _next_q(self) -> int:
        q = self.next_query % self.n_query_batches
        self.next_query += 1
        return q

    def run_pass(self, i: int) -> int:
        from batch_process_dpla_index_spark.products.ann_index import (
            append_to_ann_index,
            build_ann_index,
            compact_ann_index,
            delete_from_ann_index,
        )

        spark, idx = self.spark, self.idx
        rows = 0
        if i == 0:
            corpus = spark.read.parquet(self.inputs.files["corpus"]).select("vec_id", "embedding")
            self.call(
                "ann_build", build_ann_index, corpus, "vec_id", "embedding", idx,
                dim=64, n_cells=self.N_CELLS, kmeans_iters=3,
            )
            rows += len(self.live)
        self._serve(self._next_q())
        b = i + 1  # the pool batch and ingest batch this pass appends
        batch = self.pool.where(self.pool["batch"] == b).select("vec_id", "embedding")
        self.call(
            "append", append_to_ann_index, spark, batch, "vec_id", "embedding",
            idx, ingest_batch=b,
        )
        self.live |= set(self.pool_ids[b])
        rows += len(self.pool_ids[b])
        self._serve(self._next_q())
        order = self.inputs.facts["delete_order"]
        ids = [
            self.inputs.facts["corpus_ids"][j]
            for j in order[self.next_delete:self.next_delete + self.DELETE_SIZE]
        ]
        self.next_delete += self.DELETE_SIZE
        self.call("delete", delete_from_ann_index, spark, idx, ids, compact_threshold=2.0)
        self.live -= set(ids)
        self.deleted |= set(ids)
        rows += len(ids)
        q = self._next_q()
        before = self._serve(q)
        self.manifest = self.call("compact", compact_ann_index, spark, idx)
        after = self._serve(q)
        if before != after:
            self.failures.append(f"serve {q}: results changed across compaction")
        return rows + 4 * self.queries_size

    def max_passes(self) -> int:
        # pass i appends pool batch i + 1, so the pool bounds the passes
        return self.inputs.facts["n_appends"]

    def results_per_call(self, span: str) -> int:
        return self.queries_size * self.K

    def check(self, i: int) -> list[str]:
        bad, self.failures = self.failures, []
        if int(self.manifest["Record count"]) != len(self.live):
            bad.append(f"index holds {self.manifest['Record count']} live rows, expected {len(self.live)}")
        return bad

    def bytes_out_per_byte_in(self) -> float:
        return tree_bytes(self.idx) / (len(self.live) * 64 * 4)


WORKLOADS = {w.name: w for w in (MonthlyBatch, IndexLifecycle)}
