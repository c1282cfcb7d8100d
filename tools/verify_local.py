"""Local replica of the driver's correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` twin on
DuckDB over the same parquet tables, then compares row count, sorted
column names, dtypes (loosely), and an order-insensitive canonical
value representation. Usage::

    python tools/verify_local.py [sf_dir] [query ...]

Defaults to /root/testdata/sf0.01 and all queries.
"""

from __future__ import annotations

import math
import os
import sys
import time

import duckdb

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


class NonScalarResult(TypeError):
    """A result column holds list/dict/struct values. The DRIVER's
    correctness gate canonicalizes via pandas sort_values/factorize,
    which raises `unhashable type: 'list'` on such columns (observed:
    pq_encode, round 5). This verifier used to stringify lists and
    pass, letting a red driver row ship — so now it fails the same way
    the driver does. Emit scalar columns only (concat_ws the array, or
    explode to scalar rows)."""


def canon(v):
    if v is None:
        return "NULL"
    if v.__class__.__name__ == "NaTType":  # pandas NaT (null timestamp)
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            # pandas NA, same bucket as None: the driver's canonicalizer
            # treats NaN-float (a NULL bigint/double after the pandas
            # hop) and None as equally missing (repair_flatten is
            # driver-green with all-NULL numeric columns)
            return "NULL"
        # driver-style: stable repr, collapse -0.0
        if v == 0.0:
            v = 0.0
        return repr(round(v, 9))
    if hasattr(v, "asDict"):  # pyspark Row (struct column) — check
        # BEFORE the tuple branch: Row subclasses tuple, and the
        # generic message would suggest the wrong fix for a struct
        raise NonScalarResult(
            "struct result column: the driver gate cannot hash this — "
            "flatten to scalar columns"
        )
    if isinstance(v, (list, tuple, dict, set)) or type(v).__name__ == "ndarray":
        raise NonScalarResult(
            f"non-scalar result value {type(v).__name__}: the driver "
            "gate cannot hash this — emit scalar columns only "
            "(concat_ws / explode)"
        )
    if isinstance(v, bytes):
        return v.hex()
    return str(v)


def frame_rows(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(canon(r[i]) for i in order) for r in rows]
    out.sort()
    return [cols[i] for i in order], out


def main():
    args = sys.argv[1:]
    sf_dir = args[0] if args and "/" in args[0] else "/root/testdata/sf0.01"
    only = [a for a in args if "/" not in a]

    import __spark_entry__ as entrymod
    from batch_process_dpla_index_spark.session import get_spark

    spark = get_spark()
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    names = only or list(qs)
    n_pass = n_fail = 0
    for name in names:
        t0 = time.time()
        status, detail = "PASS", ""
        try:
            sdf = qs[name](spark, sf_dir)
            # pandas round-trip, NOT collect(): the driver canonicalizes
            # pandas frames, and dtypes shift in that hop (DuckDB
            # HUGEINT -> float64, NULL bigint -> NaN float). collect()
            # hid a real driver hash-fail (tokenizer_fertility, r6).
            s_pdf = sdf.toPandas()
            s_cols = list(s_pdf.columns)
            s_rows = [
                tuple(row) for row in s_pdf.itertuples(index=False, name=None)
            ]
            # drop pair-operator persists so a ~100-query session
            # doesn't accumulate cached frames
            from batch_process_dpla_index_spark.operators.dedup import (
                unpersist_deps,
            )

            unpersist_deps(sdf)
        except Exception as e:
            print(f"FAIL {name}: spark error: {type(e).__name__}: {str(e)[:300]}")
            n_fail += 1
            continue
        if name not in oracles:
            # rows-only queries still go through the driver's pandas
            # canonicalizer — a non-scalar column crashes the gate even
            # without an oracle (the r5 pq_encode failure class), so
            # canonicalize the Spark rows before declaring SKIP
            try:
                frame_rows(s_cols, s_rows)
            except NonScalarResult as e:
                print(f"FAIL {name}: driver-unhashable result: {e}")
                n_fail += 1
                continue
            print(f"SKIP {name}: no oracle (rows={len(s_rows)}) [{time.time()-t0:.1f}s]")
            continue
        try:
            rel = con.sql(oracles[name])
            # .df(), NOT fetchall(): fetchall returns HUGEINT sums as
            # Python ints (indistinguishable from BIGINT) while the
            # driver's pandas hop turns them into float64 — the exact
            # class of driver hash-fail this mirror exists to catch.
            d_pdf = rel.df()
            d_cols = list(d_pdf.columns)
            d_rows = [
                tuple(row) for row in d_pdf.itertuples(index=False, name=None)
            ]
        except Exception as e:
            print(f"FAIL {name}: duckdb error: {type(e).__name__}: {str(e)[:300]}")
            n_fail += 1
            continue
        try:
            sc, sr = frame_rows(s_cols, s_rows)
            dc, dr = frame_rows(d_cols, d_rows)
        except NonScalarResult as e:
            print(f"FAIL {name}: driver-unhashable result: {e} [{time.time()-t0:.1f}s]")
            n_fail += 1
            continue
        if sc != dc:
            status, detail = "FAIL", f"schema: spark={sc} duck={dc}"
        elif len(sr) != len(dr):
            status, detail = "FAIL", f"rowcount: spark={len(sr)} duck={len(dr)}"
        elif sr != dr:
            diffs = [(a, b) for a, b in zip(sr, dr) if a != b]
            status = "FAIL"
            detail = f"values: {len(diffs)}/{len(sr)} rows differ; first: spark={diffs[0][0]} duck={diffs[0][1]}"
        if status == "PASS":
            n_pass += 1
            print(f"PASS {name} ({len(sr)} rows) [{time.time()-t0:.1f}s]")
        else:
            n_fail += 1
            print(f"FAIL {name}: {detail} [{time.time()-t0:.1f}s]")
    print(f"\n{n_pass} pass / {n_fail} fail / {len(names)} total")
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
