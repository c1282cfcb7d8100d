"""Seeded input generation for the benchmark workloads.

Every input is a pure function of ``(workload, seed)``: the same seed
writes byte-identical files. Generation runs before any timed region.

The tables copy the shape of the repository's fixture tables
(``documents``: doc_id, text, lang, source, n_chars; ``embeddings``:
vec_id, 64-dim float32 embedding, label): the same 31-word vocabulary,
5-100 tokens per document, the same language mix, 20 sources and ten
vector clusters. They are synthesized here rather than copied, so the
benchmark needs nothing outside its own checkout.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ("en", "zh", "es", "fr", "de")
LANG_P = (0.41, 0.15, 0.15, 0.15, 0.14)
N_SOURCES = 20
N_HUBS = 8
DIM = 64
N_CLUSTERS = 10

#: one stream id per workload, so two workloads never share inputs
_STREAM = {"monthly_batch": 1, "index_lifecycle": 3}

#: snapshot dates: every hub has the latest one; the older one is a
#: decoy that a "latest dated folder wins" bug would read instead
LATEST_DATE = "20260901"
DECOY_DATE = "20260801"


@dataclass
class Inputs:
    """What one generator call wrote, plus the facts the checks need."""

    workload: str
    seed: int
    root: str
    rows: int = 0
    files: dict[str, str] = field(default_factory=dict)
    facts: dict = field(default_factory=dict)

    def input_bytes(self) -> int:
        return tree_bytes(self.root)

    def summary(self) -> dict:
        return {
            "workload": self.workload,
            "seed": self.seed,
            "rows": self.rows,
            "bytes": self.input_bytes(),
        }


def tree_bytes(path: str) -> int:
    """Total size of the regular files under ``path``."""
    if os.path.isfile(path):
        return os.path.getsize(path)
    total = 0
    for dirpath, _dirs, files in os.walk(path):
        for fn in files:
            total += os.path.getsize(os.path.join(dirpath, fn))
    return total


def _rng(workload: str, seed: int) -> np.random.Generator:
    return np.random.default_rng([_STREAM[workload], seed])


def _texts(rng: np.random.Generator, n: int, lo: int = 5, hi: int = 100) -> list[str]:
    lengths = rng.integers(lo, hi + 1, n)
    toks = rng.integers(0, len(VOCAB), int(lengths.sum()))
    out, pos = [], 0
    for ln in lengths:
        out.append(" ".join(VOCAB[t] for t in toks[pos:pos + ln]))
        pos += ln
    return out


def _docs_table(ids: np.ndarray, texts: list[str], rng: np.random.Generator) -> pa.Table:
    langs = rng.choice(len(LANGS), len(ids), p=LANG_P)
    sources = rng.integers(0, N_SOURCES, len(ids))
    return pa.table(
        {
            "doc_id": pa.array(ids, pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array([LANGS[i] for i in langs], pa.string()),
            "source": pa.array([f"src{s}" for s in sources], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _id_offset(rng: np.random.Generator) -> int:
    # a seeded doc-id offset: the fixture rules key on doc_id modulo
    # small numbers, so the offset shifts every per-provider mean
    return int(rng.integers(1, 1000)) * 1_000_000 + int(rng.integers(0, 2520))


def monthly_batch(seed: int, root: str, n_items: int) -> Inputs:
    """DPLA items spread over ``N_HUBS`` provider hubs.

    Writes ``docs.parquet`` (the documents rows plus their ``hub``) and
    the ``<hub>/jsonl/<date>/`` raw text snapshots under ``root/in``.
    The ``<hub>/enrichment/<date>/`` Avro snapshots are derived from
    ``docs.parquet`` through the package's own Avro writer at set-up
    (see ``workloads.MonthlyBatch.prepare``)."""
    rng = _rng("monthly_batch", seed)
    ids = _id_offset(rng) + np.arange(n_items, dtype=np.int64)
    table = _docs_table(ids, _texts(rng, n_items), rng)
    hubs = rng.integers(0, N_HUBS, n_items)
    table = table.append_column("hub", pa.array([f"hub{h}" for h in hubs], pa.string()))
    inp = Inputs("monthly_batch", seed, root, rows=n_items)
    os.makedirs(root, exist_ok=True)
    inp.files["docs"] = os.path.join(root, "docs.parquet")
    pq.write_table(table, inp.files["docs"])
    in_root = os.path.join(root, "in")
    inp.files["in_root"] = in_root
    per_hub: dict[str, int] = {}
    ids_l, texts_l, src_l = (
        table.column("doc_id").to_pylist(),
        table.column("text").to_pylist(),
        table.column("source").to_pylist(),
    )
    lines: dict[str, list[str]] = {}
    for doc_id, text, src, h in zip(ids_l, texts_l, src_l, hubs):
        hub = f"hub{h}"
        lines.setdefault(hub, []).append(
            json.dumps({"id": str(doc_id), "provider": src, "text": text})
        )
    for hub in sorted(lines):
        per_hub[hub] = len(lines[hub])
        _write_lines(os.path.join(in_root, hub, "jsonl", LATEST_DATE, "part-00000.jsonl"), lines[hub])
        _write_lines(
            os.path.join(in_root, hub, "jsonl", DECOY_DATE, "part-00000.jsonl"),
            lines[hub][: 1 + len(lines[hub]) // 50],
        )
    inp.facts["jsonl_per_hub"] = per_hub
    inp.facts["doc_ids"] = ids_l
    inp.facts["sources"] = src_l
    return inp


def _write_lines(path: str, lines: list[str]) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w", encoding="utf-8") as f:
        f.write("\n".join(lines) + "\n")


def _vectors(rng: np.random.Generator, centers: np.ndarray, n: int) -> tuple[np.ndarray, np.ndarray]:
    labels = rng.integers(0, len(centers), n)
    vecs = centers[labels] + 0.35 * rng.standard_normal((n, DIM))
    return vecs.astype(np.float32), labels.astype(np.int32)


def _vec_table(ids: np.ndarray, vecs: np.ndarray, labels: np.ndarray, **extra) -> pa.Table:
    cols = {
        "vec_id": pa.array(ids, pa.int64()),
        "embedding": pa.FixedSizeListArray.from_arrays(
            pa.array(vecs.reshape(-1), pa.float32()), DIM
        ).cast(pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    }
    cols.update({k: pa.array(v, pa.int32()) for k, v in extra.items()})
    return pa.table(cols)


def index_lifecycle(
    seed: int, root: str, n_vecs: int, n_appends: int, append_size: int,
    n_queries: int, query_size: int,
) -> Inputs:
    """Clustered vectors for an ANN index, an append pool cut into
    ``n_appends`` batches of fresh ids, and ``n_queries`` query batches
    made of perturbed corpus vectors."""
    rng = _rng("index_lifecycle", seed)
    centers = rng.standard_normal((N_CLUSTERS, DIM))
    base = _id_offset(rng)
    vecs, labels = _vectors(rng, centers, n_vecs)
    corpus = _vec_table(base + np.arange(n_vecs, dtype=np.int64), vecs, labels)

    n_pool = n_appends * append_size
    pvecs, plabels = _vectors(rng, centers, n_pool)
    pool = _vec_table(
        base + n_vecs + np.arange(n_pool, dtype=np.int64), pvecs, plabels,
        batch=np.repeat(np.arange(1, n_appends + 1), append_size),
    )

    n_q = n_queries * query_size
    picks = rng.integers(0, n_vecs, n_q)
    qvecs = (vecs[picks] + 0.05 * rng.standard_normal((n_q, DIM))).astype(np.float32)
    queries = _vec_table(
        np.arange(n_q, dtype=np.int64), qvecs, labels[picks],
        qbatch=np.repeat(np.arange(n_queries), query_size),
    )

    inp = Inputs("index_lifecycle", seed, root, rows=n_vecs)
    os.makedirs(root, exist_ok=True)
    for name, table in (("corpus", corpus), ("pool", pool), ("queries", queries)):
        inp.files[name] = os.path.join(root, f"{name}.parquet")
        pq.write_table(table, inp.files[name])
    inp.facts["corpus_ids"] = corpus.column("vec_id").to_pylist()
    inp.facts["delete_order"] = rng.permutation(n_vecs).tolist()
    inp.facts["query_size"] = query_size
    inp.facts["n_appends"] = n_appends
    return inp
