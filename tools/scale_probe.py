"""Empirical scale probe: replicate sf0.1 10× (≈sf1) and measure
time-vs-sf0.1 ratios for the most expensive registry queries.

A bucketed/linear design should scale near-linearly in wall-clock on a
fixed-core machine; anything super-linear (candidate-pair blowup in
LSH bands, posting-list caps kicking in, quadratic verify joins) gets
found here, not at 100 TB. Results are recorded in SCALE.md.

Replication preserves the DATA-DEPENDENT structure linearly:

- ``documents``: replica r > 0 suffixes every token with ``x{r}``, so
  a replica is never a near-duplicate of another replica, while each
  replica reproduces the original's internal near-dup structure
  bijectively (shingle sets map 1:1). Near-dup pair counts therefore
  scale exactly ×REPLICAS — a clean engine-scaling measurement, where
  verbatim copies would grow pairs quadratically and measure the
  fixture, not the engine.
- ``embeddings``: per-replica additive perturbation (cosine is
  scale-invariant, so a multiplicative one would be a no-op).
- ``lineitem``/``orders``/``events``: key offsets keep joins intact.

Usage::

    python tools/scale_probe.py [--keep] [query ...]

Writes the replica under .scale/sf1x (gitignored), prints a markdown
ratio table, and deletes the replica unless --keep.
"""

from __future__ import annotations

import os
import shutil
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

BASE = "/root/testdata/sf0.1"
OUT = os.path.join(ROOT, ".scale", "sf1x")
REPLICAS = 10
OFF = 1_000_000

# the 10 most expensive registry queries by BENCH_LOCAL.json, plus one
# relational representative (pricing_summary)
DEFAULT_QUERIES = [
    "avro_flatten_items",
    "training_prep",
    "dedup_clusters",
    "minhash_lsh_pairs",
    "incremental_dedup",
    "jaccard_pairs",
    "repair_flatten",
    "simhash_pairs",
    "mq_contributor_scores",
    "pq_topk",
    "pricing_summary",
]


def build_replica() -> None:
    import duckdb

    os.makedirs(OUT, exist_ok=True)
    con = duckdb.connect()
    rep = f"range(0, {REPLICAS}) rep(r)"

    def copy(sql: str, table: str) -> None:
        con.execute(f"COPY ({sql}) TO '{OUT}/{table}.parquet' (FORMAT PARQUET)")
        n = con.execute(f"SELECT count(*) FROM '{OUT}/{table}.parquet'").fetchone()[0]
        print(f"  {table}: {n} rows", file=sys.stderr)

    copy(
        f"""SELECT doc_id + r * {OFF} AS doc_id,
               CASE WHEN r = 0 THEN text
                    ELSE array_to_string(
                        list_transform(string_split(text, ' '), t -> t || 'x' || r),
                        ' ') END AS text,
               lang, source,
               CASE WHEN r = 0 THEN n_chars
                    ELSE length(array_to_string(
                        list_transform(string_split(text, ' '), t -> t || 'x' || r),
                        ' ')) END AS n_chars
        FROM '{BASE}/documents.parquet', {rep}""",
        "documents",
    )
    copy(
        f"""SELECT vec_id + r * {OFF} AS vec_id,
               list_transform(embedding, x -> CAST(x + r * 0.003 AS FLOAT)) AS embedding,
               label
        FROM '{BASE}/embeddings.parquet', {rep}""",
        "embeddings",
    )
    copy(
        f"""SELECT l_orderkey + r * {OFF * 10} AS l_orderkey,
               l_partkey, l_suppkey, l_linenumber, l_quantity,
               l_extendedprice, l_discount, l_tax, l_returnflag,
               l_linestatus, l_shipdate
        FROM '{BASE}/lineitem.parquet', {rep}""",
        "lineitem",
    )
    copy(
        f"""SELECT o_orderkey + r * {OFF * 10} AS o_orderkey,
               o_custkey, o_orderstatus, o_totalprice, o_orderdate,
               o_orderpriority
        FROM '{BASE}/orders.parquet', {rep}""",
        "orders",
    )
    copy(
        f"""SELECT event_id + r * {OFF} AS event_id, ts,
               user_id + r * {OFF} AS user_id, event_type, value, props
        FROM '{BASE}/events.parquet', {rep}""",
        "events",
    )
    for t in ("region", "nation", "customer", "supplier", "part"):
        copy(f"SELECT * FROM '{BASE}/{t}.parquet'", t)


def main() -> int:
    args = [a for a in sys.argv[1:] if a != "--keep"]
    keep = "--keep" in sys.argv[1:]
    names = args or DEFAULT_QUERIES

    print(f"building {REPLICAS}x replica under {OUT} ...", file=sys.stderr)
    t0 = time.time()
    build_replica()
    print(f"replica built in {time.time() - t0:.1f}s", file=sys.stderr)

    from batch_process_dpla_index_spark.queries import QUERIES
    from batch_process_dpla_index_spark.session import get_spark

    spark = get_spark()
    spark.read.parquet(f"{BASE}/lineitem.parquet").count()

    from batch_process_dpla_index_spark.operators.dedup import unpersist_deps

    def run_once(name: str, sf_dir: str) -> tuple[float, int]:
        """One timed execution at ``sf_dir``. Registry queries count
        their DataFrame; ``product_*`` names run the composed pipeline
        from PRODUCT_BENCHES end-to-end in a fresh scratch dir
        (cleanup excluded from the clock, like bench.py)."""
        if name.startswith("product_"):
            import shutil as _sh
            import tempfile

            from batch_process_dpla_index_spark.products.bench_targets import (
                PRODUCT_BENCHES,
            )

            work = tempfile.mkdtemp(prefix=f"probe_{name}_")
            t0 = time.time()
            try:
                n = PRODUCT_BENCHES[name](spark, sf_dir, work)
                return time.time() - t0, n
            finally:
                _sh.rmtree(work, ignore_errors=True)
        t0 = time.time()
        df = QUERIES[name](spark, sf_dir)
        n = df.count()
        elapsed = time.time() - t0
        unpersist_deps(df)
        return elapsed, n

    rows = []
    for name in names:
        t_small, n_small = run_once(name, BASE)
        t_big, n_big = run_once(name, OUT)
        ratio = t_big / t_small if t_small else float("inf")
        rows.append((name, t_small, n_small, t_big, n_big, ratio))
        print(
            f"  {name}: sf0.1 {t_small:.2f}s ({n_small}) -> 10x {t_big:.2f}s"
            f" ({n_big})  ratio {ratio:.1f}",
            file=sys.stderr,
        )

    print("\n| query | sf0.1 (s) | rows | 10x (s) | rows | time ratio |")
    print("|---|---|---|---|---|---|")
    for name, ts, ns, tb, nb, r in rows:
        print(f"| {name} | {ts:.2f} | {ns} | {tb:.2f} | {nb} | {r:.1f}x |")

    if not keep:
        shutil.rmtree(os.path.dirname(OUT), ignore_errors=True)
    bad = [name for name, _ts, _ns, _tb, _nb, r in rows if r > 15]
    if bad:
        print(f"SUPER-LINEAR (>15x): {bad}", file=sys.stderr)
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
