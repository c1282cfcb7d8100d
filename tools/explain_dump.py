"""Dump ``explain("formatted")`` for named registry queries.

Usage::

    python tools/explain_dump.py <out_dir> <suffix> <query> [query ...]

Writes ``<out_dir>/<query>_<suffix>.txt`` per query (the
OPTIMIZATION-round deliverable: ``plans/r17/<query>_before.txt`` /
``..._after.txt``). Plans are captured at sf0.01 (plan shape is
SF-independent; PLANS.md uses the same fixture) after executing the
query to a noop sink so AQE finalizes the plan, then the PRE-execution
formatted plan plus the final AQE executed plan are both written.
"""

from __future__ import annotations

import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)


def main() -> int:
    out_dir, suffix, names = sys.argv[1], sys.argv[2], sys.argv[3:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    os.makedirs(out_dir, exist_ok=True)

    from batch_process_dpla_index_spark.operators.dedup import unpersist_deps
    from batch_process_dpla_index_spark.queries import QUERIES
    from batch_process_dpla_index_spark.session import get_spark

    spark = get_spark()
    for name in names:
        df = QUERIES[name](spark, sf_dir)
        formatted = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        df.write.format("noop").mode("overwrite").save()
        final = df._jdf.queryExecution().executedPlan().toString()
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w", encoding="utf-8") as f:
            f.write(f"== {name} @ {sf_dir} ==\n\n")
            f.write("---- explain(formatted), pre-execution ----\n")
            f.write(formatted)
            f.write("\n---- executed plan (final AQE) ----\n")
            f.write(final)
            f.write("\n")
        unpersist_deps(df)
        spark.catalog.clearCache()
        print(f"wrote {path}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
