"""CLI job entry points (SURVEY.md §2.12 O1).

One subcommand per reference process ``main`` (ParquetDump.scala:129,
JsonlDump.scala:90, MqReports.scala:164, Sitemap.scala:103,
SchemaRepair.scala:26, SchemaTest.scala:16, ThumbnailPurge.scala:41),
plus the monthly-batch sequencer (monthly_batch_emr.sh:41-111)::

    python -m batch_process_dpla_index_spark.jobs parquet-dump <in_root> <out_base>
    python -m batch_process_dpla_index_spark.jobs jsonl-dump <in_root> <out_base>
    python -m batch_process_dpla_index_spark.jobs mq-reports <parquet_path> <out_dir>
    python -m batch_process_dpla_index_spark.jobs sitemap <parquet_path> <out_dir> <url_prefix>
    python -m batch_process_dpla_index_spark.jobs schema-repair <in_path> <out_path>
    python -m batch_process_dpla_index_spark.jobs schema-test <in_root> <out_dir>
    python -m batch_process_dpla_index_spark.jobs monthly-batch <in_root> <out_root> [url_prefix]
    python -m batch_process_dpla_index_spark.jobs thumbnail-purge <in_path> <bucket_root> [--uri-col C] [--batch N]
    python -m batch_process_dpla_index_spark.jobs training-export <docs_parquet> <out_dir> [--seed S] [--shards N] [--no-gate] [--sentence-dedup] [--mixture lang:en=0.5,de=0.5:10000]
    python -m batch_process_dpla_index_spark.jobs dedup-index build|query|append|delete|compact [docs_parquet] <index_dir> [--threshold T] [--compact-threshold T] [--no-recount]
    python -m batch_process_dpla_index_spark.jobs phash-index build|query|append|delete|compact [blobs_parquet] <index_dir> [--bits B] [--max-hamming H] [--batch N] [--compact-threshold T] [--no-recount]
    python -m batch_process_dpla_index_spark.jobs ann-index build|query|recall|append|delete|compact|report|rebuild [vectors_parquet] <index_dir> [--cells N] [--k K] [--probe P] [--probe-coarse C --probe-fine F] [--sample N] [--batch N] [--quantizer kmeans|two-level|none] [--compact-threshold T] [--rebuild-cells N] [--design-point N]
    python -m batch_process_dpla_index_spark.jobs embedding-index build|report|rebuild|delete|compact <index_dir> [--vectors-parquet P] [--ids-parquet P] [--cells N] [--design-point N] [--compact-threshold T]
    python -m batch_process_dpla_index_spark.jobs compact <src_parquet> <dst_parquet> [--target-mb N]
    python -m batch_process_dpla_index_spark.jobs overlap-index build|refresh|report|delete|compact <index_dir> [--docs-parquet P] [--sources a,b] [--compact-threshold T]
    python -m batch_process_dpla_index_spark.jobs decon-index build|append|screen <index_dir> [--benchmark-parquet P] [--docs-parquet P] [--threshold T] [--out-parquet P]
"""

from __future__ import annotations

import argparse
import sys

from pyspark.sql import functions as F


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="batch_process_dpla_index_spark.jobs")
    sub = p.add_subparsers(dest="job", required=True)
    s = sub.add_parser("parquet-dump")
    s.add_argument("in_root")
    s.add_argument("out_base")
    s = sub.add_parser("jsonl-dump")
    s.add_argument("in_root")
    s.add_argument("out_base")
    s = sub.add_parser("mq-reports")
    s.add_argument("parquet_path")
    s.add_argument("out_dir")
    s = sub.add_parser("sitemap")
    s.add_argument("parquet_path")
    s.add_argument("out_dir")
    s.add_argument("url_prefix")
    s = sub.add_parser("schema-repair")
    s.add_argument("in_path")
    s.add_argument("out_path")
    s = sub.add_parser("schema-test")
    s.add_argument("in_root")
    s.add_argument("out_dir")
    s = sub.add_parser("monthly-batch")
    s.add_argument("in_root")
    s.add_argument("out_root")
    s.add_argument("url_prefix", nargs="?", default="https://sitemaps.example.org")
    s = sub.add_parser("training-export")
    s.add_argument("docs_parquet")
    s.add_argument("out_dir")
    s.add_argument("--seed", default="seed0")
    s.add_argument("--shards", type=int, default=8)
    s.add_argument("--no-gate", action="store_true")
    s.add_argument("--sentence-dedup", action="store_true")
    s.add_argument(
        "--mixture",
        default=None,
        help="domain_col:d1=w1,d2=w2:token_budget (e.g. lang:en=0.5,de=0.5:10000)",
    )
    s = sub.add_parser("dedup-index")
    s.add_argument("action", choices=["build", "query", "append",
                                      "delete", "compact"])
    s.add_argument("docs_parquet", nargs="?", default=None,
                   help="corpus/query/append docs; for delete: the ids "
                        "to tombstone (parquet, --id-col column); "
                        "unused for compact")
    s.add_argument("index_dir")
    s.add_argument("--id-col", default="doc_id")
    s.add_argument("--text-col", default="text")
    s.add_argument("--threshold", type=float, default=0.5)
    s.add_argument("--batch", type=int, default=1)
    s.add_argument("--compact-threshold", type=float, default=0.2,
                   help="delete: auto-compact once this fraction of "
                        "stored docs is tombstoned (>1 defers "
                        "indefinitely; 0 compacts on the "
                        "first EFFECTIVE delete — a delete "
                        "matching nothing never compacts; "
                        "use the compact action for "
                        "unconditional vacuuming)")
    s.add_argument("--no-recount", action="store_true",
                   help="delete: skip the manifest recount + threshold "
                        "check (pure O(|ids|) takedown hot path; "
                        "counts read stale until the next counted "
                        "delete or compaction)")
    s = sub.add_parser("phash-index")
    s.add_argument("action", choices=["build", "query", "append",
                                      "delete", "compact"])
    s.add_argument("blobs_parquet", nargs="?", default=None,
                   help="corpus/query/append blobs; for delete: the "
                        "ids to tombstone (parquet, --id-col column); "
                        "unused for compact")
    s.add_argument("index_dir")
    s.add_argument("--id-col", default="doc_id")
    s.add_argument("--bin-col", default="blob")
    s.add_argument("--compact-threshold", type=float, default=0.2,
                   help="delete: auto-compact once this fraction of "
                        "stored blobs is tombstoned (>1 defers "
                        "indefinitely; 0 compacts on the "
                        "first EFFECTIVE delete — a delete "
                        "matching nothing never compacts; "
                        "use the compact action for "
                        "unconditional vacuuming)")
    s.add_argument("--no-recount", action="store_true",
                   help="delete: skip the manifest recount + threshold "
                        "check (pure O(|ids|) takedown hot path; "
                        "counts read stale until the next counted "
                        "delete or compaction)")
    # default None, not 60/3: query/append take banding parameters
    # from the index manifest, and silently ignoring an explicit
    # --bits/--max-hamming would let an operator believe they
    # re-parameterized a probe — error instead (defaults fill at build)
    s.add_argument("--bits", type=int, default=None)
    s.add_argument("--max-hamming", type=int, default=None)
    s.add_argument("--modality", choices=["image", "audio"], default=None,
                   help="build: the fingerprint family (image = "
                        "byte/pixel blockhash, audio = PCM "
                        "energy-envelope blockhash); other actions "
                        "read it from the manifest")
    s.add_argument("--batch", type=int, default=1)
    s = sub.add_parser("ann-index")
    s.add_argument("action", choices=["build", "query", "recall", "append",
                                      "delete", "compact", "report",
                                      "occupancy", "rebuild"])
    s.add_argument("vectors_parquet", nargs="?", default=None,
                   help="corpus/query/append vectors; for delete: the "
                        "ids to tombstone (parquet, --id-col column); "
                        "unused for compact")
    s.add_argument("index_dir")
    s.add_argument("--id-col", default="vec_id")
    s.add_argument("--vec-col", default="embedding")
    s.add_argument("--dim", type=int, default=64)
    s.add_argument("--cells", type=int, default=16)
    s.add_argument("--k", type=int, default=5)
    s.add_argument("--probe", type=int, default=4)
    s.add_argument("--sample", type=int, default=25,
                   help="recall: query-sample size (smallest ids first)")
    s.add_argument("--batch", type=int, default=1,
                   help="append: the batch's ingest_batch partition id")
    s.add_argument("--idempotent", action="store_true",
                   help="append: dynamic-overwrite the batch's own "
                        "partition so a checkpoint replay replaces "
                        "instead of double-appending")
    s.add_argument("--quantizer", choices=["kmeans", "two-level", "none"],
                   default="kmeans",
                   help="build: coarse quantizer (two-level = the "
                        "large-k training path; none = pseudo-random)")
    s.add_argument("--probe-coarse", type=int, default=None,
                   help="query/recall on a two-level index: coarse "
                        "cells probed per query (default: derived "
                        "from --probe)")
    s.add_argument("--probe-fine", type=int, default=None,
                   help="query/recall on a two-level index: fine "
                        "cells probed per probed coarse cell")
    s.add_argument("--compact-threshold", type=float, default=0.2,
                   help="delete: auto-compact once this fraction of "
                        "stored rows is tombstoned (>1 defers "
                        "indefinitely; 0 compacts on the "
                        "first EFFECTIVE delete — a delete "
                        "matching nothing never compacts; "
                        "use the compact action for "
                        "unconditional vacuuming)")
    s.add_argument("--no-recount", action="store_true",
                   help="delete: skip the manifest recount + threshold "
                        "check (pure O(|ids|) — the 100 TB hot path; "
                        "Tombstone count reads 'stale' until the next "
                        "counted delete or compaction)")
    s.add_argument("--rebuild-cells", type=int, default=None,
                   help="rebuild: new cell count (default: resize to "
                        "the design point)")
    s.add_argument("--design-point", type=int, default=64,
                   help="target rows per cell for report/rebuild")
    s = sub.add_parser("embedding-index")
    s.add_argument("action", choices=["build", "report", "rebuild",
                                      "delete", "compact"])
    s.add_argument("index_dir")
    s.add_argument("--vectors-parquet", default=None,
                   help="build: the corpus vectors")
    s.add_argument("--ids-parquet", default=None,
                   help="delete: the ids to tombstone (--id-col column)")
    s.add_argument("--compact-threshold", type=float, default=0.2,
                   help="delete: auto-compact once this fraction of "
                        "stored rows is tombstoned")
    s.add_argument("--no-recount", action="store_true",
                   help="delete: skip the manifest recount + threshold "
                        "check (pure O(|ids|))")
    s.add_argument("--id-col", default="vec_id")
    s.add_argument("--vec-col", default="embedding")
    s.add_argument("--dim", type=int, default=64)
    s.add_argument("--cells", type=int, default=None,
                   help="build: cell count (default 16); rebuild: "
                        "new cell count (default: resize to the "
                        "design point)")
    s.add_argument("--design-point", type=int, default=64,
                   help="target rows per cell for report/rebuild")
    s = sub.add_parser("compact")
    s.add_argument("src")
    s.add_argument("dst")
    s.add_argument("--target-mb", type=int, default=128)
    s = sub.add_parser("decon-index")
    s.add_argument("action", choices=["build", "append", "screen"])
    s.add_argument("index_dir")
    s.add_argument("--benchmark-parquet", default=None,
                   help="eval-suite frame (build: full suite; append: "
                        "the new suite's items only)")
    s.add_argument("--docs-parquet", dest="decon_docs", default=None,
                   help="screen: the ingest batch to screen against "
                        "the stored benchmark signatures")
    s.add_argument("--threshold", dest="decon_threshold", type=float,
                   default=0.5)
    s.add_argument("--out-parquet", dest="decon_out", default=None,
                   help="screen: write matches here instead of "
                        "printing them")
    s = sub.add_parser("overlap-index")
    s.add_argument("action",
                   choices=["build", "refresh", "report", "delete",
                            "compact"])
    s.add_argument("index_dir")
    s.add_argument("--sources", default=None,
                   help="delete: comma-separated source names to "
                        "tombstone out of the index")
    s.add_argument("--compact-threshold", type=float, default=0.2,
                   help="delete: auto-compact once this fraction of "
                        "stored sources is tombstoned (>1 defers "
                        "indefinitely; 0 compacts on the first "
                        "EFFECTIVE delete — a delete matching nothing "
                        "never compacts; use the compact action for "
                        "unconditional vacuuming)")
    s.add_argument("--docs-parquet", default=None,
                   help="corpus (build) or ingest delta (refresh)")
    s.add_argument(
        "--text-col", default=None,
        help="build only (default 'text'); refresh reads the manifest "
             "pin and REJECTS a conflicting value",
    )
    s.add_argument(
        "--source-col", default=None,
        help="build only (default 'source'); refresh reads the "
             "manifest pin and REJECTS a conflicting value",
    )
    s.add_argument(
        "--shingle-n", type=int, default=None,
        help="build only (default 3); refresh/report read the manifest "
             "and REJECT a conflicting value",
    )
    s = sub.add_parser("thumbnail-purge")
    s.add_argument("in_path")
    s.add_argument("bucket_root")
    s.add_argument("--uri-col", default="dplaUri")
    s.add_argument("--batch", type=int, default=1000)
    s = sub.add_parser("dataset-card")
    s.add_argument("parquet_path")
    s.add_argument("out_dir")
    s.add_argument("--name", default="corpus")
    s.add_argument("--embeddings-parquet", default=None,
                   help="doc_id-keyed embedding frame: adds the "
                        "SemDeDup semantic-dup rate to the card")
    s.add_argument("--vec-col", dest="card_vec_col", default="embedding")
    s.add_argument("--sem-threshold", type=float, default=0.3)
    s.add_argument("--blobs-parquet", default=None,
                   help="doc_id-keyed binary frame: adds the "
                        "perceptual (image) dup rate to the card")
    s.add_argument("--bin-col", dest="card_bin_col", default="blob")
    s.add_argument("--benchmark-parquet", default=None,
                   help="doc_id+text eval-suite frame: adds the "
                        "benchmark-contamination section (exact n-gram "
                        "+ fuzzy MinHash screens) to the card")
    s.add_argument("--fuzzy-threshold", type=float, default=0.5)
    s.add_argument("--events-parquet", default=None,
                   help="ts+value event frame: adds the temporal "
                        "stability section (day-over-day PSI and "
                        "Wasserstein-1)")
    s = sub.add_parser("profile")
    s.add_argument("parquet_path")
    s.add_argument("--out-csv", help="write the profile as a header CSV")
    s.add_argument(
        "--approx", action="store_true",
        help="approx_count_distinct instead of the exact distinct expand "
             "(the 100 TB path)",
    )
    s = sub.add_parser("snapshot")
    s.add_argument(
        "action",
        choices=["append", "overwrite", "read", "history", "rollback",
                 "vacuum", "compact", "merge", "schema"],
    )
    s.add_argument("root")
    s.add_argument("--input", help="parquet path for append/overwrite/merge")
    s.add_argument(
        "--stats-cols",
        help="comma-separated columns to zone-map on append (data-skipping reads)",
    )
    s.add_argument(
        "--cluster-by",
        help="comma-separated columns to range-cluster batches on "
             "(tight zone maps; implies --stats-cols on those columns)",
    )
    s.add_argument("--key", help="merge key column (snapshot merge)")
    s.add_argument(
        "--op-col", default="op",
        help="changeset op column with I/U/D values (snapshot merge)",
    )
    s.add_argument("--version", type=int, help="read/rollback target version")
    s.add_argument("--keep-versions", type=int, default=2)
    s.add_argument("--target-mb", type=int, default=128, dest="snap_target_mb")
    args = p.parse_args(argv)

    from batch_process_dpla_index_spark.session import get_spark

    spark = get_spark(app_name=f"bpdi-{args.job}")
    try:
        if args.job == "parquet-dump":
            from batch_process_dpla_index_spark.products import parquet_dump

            out = parquet_dump.execute(spark, args.in_root, args.out_base)
            print(f"Parquet saved to {out}")
        elif args.job == "jsonl-dump":
            from batch_process_dpla_index_spark.io.paths import date_path, latest_dataset_paths
            from batch_process_dpla_index_spark.products import jsonl_dump

            counts = jsonl_dump.execute(
                spark,
                latest_dataset_paths(args.in_root, "jsonl"),
                args.out_base.rstrip("/") + date_path(),
            )
            print(f"JSONL counts: {counts}")
        elif args.job == "mq-reports":
            from batch_process_dpla_index_spark.quality.mq import write_mq_reports

            opts = write_mq_reports(
                spark, spark.read.parquet(args.parquet_path), args.out_dir
            )
            print(f"MQ reports: {opts}")
        elif args.job == "sitemap":
            from batch_process_dpla_index_spark.products import sitemap

            ids = spark.read.parquet(args.parquet_path).select(F.col("id"))
            out = sitemap.execute(spark, ids, args.out_dir, args.url_prefix)
            print(f"Sitemap saved to {out}")
        elif args.job == "schema-repair":
            from batch_process_dpla_index_spark.io.sinks import read_avro, write_avro
            from batch_process_dpla_index_spark.model.repair import fix_schema

            write_avro(fix_schema(read_avro(spark, args.in_path)), args.out_path)
            print(f"Repaired schema written to {args.out_path}")
        elif args.job == "schema-test":
            from batch_process_dpla_index_spark.products import schema_test

            ddls = schema_test.execute(spark, args.in_root, args.out_dir)
            print(f"Dumped {len(ddls)} provider schemas to {args.out_dir}")
        elif args.job == "monthly-batch":
            from batch_process_dpla_index_spark.products import monthly_batch

            result = monthly_batch.execute(
                spark, args.in_root, args.out_root, args.url_prefix
            )
            print(f"Steps run: {result.steps_run}; outputs: {result.outputs}")
            if result.failed_step:
                print(f"FAILED at {result.failed_step}: {result.error}")
                return 1
        elif args.job == "training-export":
            from batch_process_dpla_index_spark.products.training_export import (
                export_training_shards,
            )

            mixture = None
            if args.mixture:
                try:
                    dcol, wspec, budget = args.mixture.split(":")
                    weights = {
                        k: float(v)
                        for k, v in (kv.split("=") for kv in wspec.split(","))
                    }
                    mixture = (dcol, weights, int(budget))
                except ValueError:
                    p.error(
                        f"--mixture {args.mixture!r} is malformed; expected "
                        "domain_col:d1=w1,d2=w2:token_budget "
                        "(e.g. lang:en=0.5,de=0.5:10000)"
                    )
            opts = export_training_shards(
                spark,
                spark.read.parquet(args.docs_parquet),
                args.out_dir,
                seed=args.seed,
                n_shards=args.shards,
                gate=not args.no_gate,
                sentence_dedup_first=args.sentence_dedup,
                mixture=mixture,
            )
            print(f"Training shards: {opts}")
        elif args.job == "dedup-index":
            from batch_process_dpla_index_spark.operators.dedup import unpersist_deps
            from batch_process_dpla_index_spark.products import dedup_index

            if args.action == "compact":
                manifest = dedup_index.compact_dedup_index(
                    spark, args.index_dir
                )
                print(
                    f"Compacted; live records: {manifest['Record count']}"
                )
                return 0
            if args.docs_parquet is None:
                raise SystemExit(
                    f"dedup-index {args.action} requires a docs/ids parquet"
                )
            docs = spark.read.parquet(args.docs_parquet)
            if args.action == "delete":
                manifest = dedup_index.delete_from_dedup_index(
                    spark, args.index_dir, docs, id_col=args.id_col,
                    compact_threshold=args.compact_threshold,
                    recount=not args.no_recount,
                )
                if args.no_recount:
                    # counts were deliberately NOT refreshed — print the
                    # as-of-last-recount value, never label it "live"
                    print(
                        f"Tombstoned {docs.count()} ids (recount "
                        f"skipped; records as of last recount: "
                        f"{manifest['Record count']}, tombstones: stale)"
                    )
                else:
                    print(
                        f"Tombstoned {docs.count()} ids; live records: "
                        f"{manifest['Record count']} "
                        f"(tombstones: {manifest.get('Tombstone count', '0')})"
                    )
            elif args.action == "build":
                manifest = dedup_index.build_dedup_index(
                    docs, args.text_col, args.id_col, args.index_dir
                )
                print(f"Index built: {manifest}")
            elif args.action == "append":
                dedup_index.append_to_dedup_index(
                    docs, args.text_col, args.id_col, args.index_dir,
                    ingest_batch=args.batch,
                )
                print(f"Appended {docs.count()} docs to {args.index_dir}")
            else:
                matches = dedup_index.incremental_dedup_indexed(
                    spark, docs, args.text_col, args.id_col, args.index_dir,
                    threshold=args.threshold,
                )
                n = matches.count()
                unpersist_deps(matches)
                print(f"Batch docs with a corpus match: {n}")
        elif args.job == "phash-index":
            from batch_process_dpla_index_spark.operators.dedup import unpersist_deps
            from batch_process_dpla_index_spark.products import phash_index

            if args.action != "build" and (
                args.bits is not None
                or args.max_hamming is not None
                or args.modality is not None
            ):
                raise SystemExit(
                    "phash-index: --bits/--max-hamming/--modality "
                    "apply only to build; every other action reads "
                    "the banding parameters and the fingerprint "
                    "family from the index manifest (a "
                    "mis-parameterized probe is impossible) — drop "
                    "the flags"
                )
            if args.action == "compact":
                manifest = phash_index.compact_phash_index(
                    spark, args.index_dir
                )
                print(
                    f"Compacted; live records: {manifest['Record count']}"
                )
                return 0
            if args.blobs_parquet is None:
                raise SystemExit(
                    f"phash-index {args.action} requires a blobs/ids parquet"
                )
            blobs = spark.read.parquet(args.blobs_parquet)
            if args.action == "delete":
                manifest = phash_index.delete_from_phash_index(
                    spark, args.index_dir, blobs, id_col=args.id_col,
                    compact_threshold=args.compact_threshold,
                    recount=not args.no_recount,
                )
                if args.no_recount:
                    # counts were deliberately NOT refreshed — print the
                    # as-of-last-recount value, never label it "live"
                    print(
                        f"Tombstoned {blobs.count()} ids (recount "
                        f"skipped; records as of last recount: "
                        f"{manifest['Record count']}, tombstones: stale)"
                    )
                else:
                    print(
                        f"Tombstoned {blobs.count()} ids; live records: "
                        f"{manifest['Record count']} "
                        f"(tombstones: {manifest.get('Tombstone count', '0')})"
                    )
            elif args.action == "build":
                manifest = phash_index.build_phash_index(
                    blobs, args.bin_col, args.id_col, args.index_dir,
                    bits=args.bits if args.bits is not None else 60,
                    max_hamming=(
                        args.max_hamming if args.max_hamming is not None else 3
                    ),
                    modality=(
                        args.modality if args.modality is not None else "image"
                    ),
                )
                print(f"Phash index built: {manifest}")
            elif args.action == "append":
                phash_index.append_to_phash_index(
                    blobs, args.bin_col, args.id_col, args.index_dir,
                    ingest_batch=args.batch,
                )
                print(f"Appended {blobs.count()} blobs to {args.index_dir}")
            else:
                matches = phash_index.incremental_phash_dedup_indexed(
                    spark, blobs, args.bin_col, args.id_col, args.index_dir
                )
                n = matches.count()
                unpersist_deps(matches)
                print(f"Batch blobs with a corpus match: {n}")
        elif args.job == "ann-index":
            from batch_process_dpla_index_spark.products import ann_index

            if args.action == "compact":
                manifest = ann_index.compact_ann_index(spark, args.index_dir)
                print(
                    f"Compacted tombstones; index now holds "
                    f"{manifest['Record count']} vectors"
                )
                return 0
            if args.action in ("report", "occupancy"):
                rep = ann_index.ann_index_occupancy(
                    spark, args.index_dir, design_point=args.design_point
                )
                print(
                    f"Occupancy: {rep['n_vecs']} vectors in "
                    f"{rep['n_cells']} cells "
                    f"(mean {rep['mean_per_cell']}/cell, max "
                    f"{rep['max_per_cell']}, design point "
                    f"{rep['design_point']}); needs_rebuild="
                    f"{rep['needs_rebuild']}"
                )
                return 0
            if args.action == "rebuild":
                manifest = ann_index.rebuild_ann_index(
                    spark, args.index_dir,
                    n_cells=args.rebuild_cells,
                    design_point=args.design_point,
                )
                print(
                    f"Rebuilt {manifest['rebuilt_from']} -> "
                    f"{manifest['n_cells']} cells over "
                    f"{manifest['Record count']} vectors"
                )
                return 0
            if args.vectors_parquet is None:
                raise SystemExit(
                    f"ann-index {args.action} requires a vectors/ids parquet"
                )
            vecs = spark.read.parquet(args.vectors_parquet)
            if args.action == "delete":
                manifest = ann_index.delete_from_ann_index(
                    spark, args.index_dir, vecs, id_col=args.id_col,
                    compact_threshold=args.compact_threshold,
                    recount=not args.no_recount,
                )
                if args.no_recount:
                    # Record count was deliberately NOT recounted — do
                    # not print it as "live records", it is the
                    # as-of-last-recount value
                    print(
                        f"Tombstoned {vecs.count()} ids (recount "
                        f"skipped; records as of last recount: "
                        f"{manifest['Record count']}, tombstones: stale)"
                    )
                else:
                    print(
                        f"Tombstoned {vecs.count()} ids; live records: "
                        f"{manifest['Record count']} "
                        f"(tombstones: {manifest.get('Tombstone count', '0')})"
                    )
            elif args.action == "build":
                learned = {"kmeans": True, "two-level": "two-level",
                           "none": False}[args.quantizer]
                manifest = ann_index.build_ann_index(
                    vecs, args.id_col, args.vec_col, args.index_dir,
                    dim=args.dim, n_cells=args.cells, learned=learned,
                )
                print(f"ANN index built: {manifest}")
            elif args.action == "append":
                manifest = ann_index.append_to_ann_index(
                    spark, vecs, args.id_col, args.vec_col,
                    args.index_dir, ingest_batch=args.batch,
                    idempotent=args.idempotent,
                )
                print(
                    f"Appended batch {args.batch}; index now holds "
                    f"{manifest['Record count']} vectors"
                )
            elif args.action == "recall":
                sample = vecs.orderBy(args.id_col).limit(args.sample)
                rep = ann_index.ann_recall_indexed(
                    spark, sample, args.id_col, args.vec_col,
                    args.index_dir, k=args.k, n_probe=args.probe,
                    probe_coarse=args.probe_coarse,
                    probe_fine=args.probe_fine,
                ).collect()
                if not rep:
                    # a 0.000000 mean over zero queries reads as a
                    # zero-recall index, not an empty sample (ADVICE)
                    print(
                        "No queries sampled (empty vectors input or "
                        "--sample 0); nothing to report"
                    )
                else:
                    mean_r = sum(r.recall_at_k for r in rep) / len(rep)
                    worst = min(r.recall_at_k for r in rep)
                    print(
                        f"Recall@{args.k} over {len(rep)} queries at "
                        f"n_probe={args.probe}: mean={mean_r:.6f} "
                        f"min={worst:.6f}"
                    )
            else:
                out = ann_index.ann_query_indexed(
                    spark, vecs, args.id_col, args.vec_col, args.index_dir,
                    k=args.k, n_probe=args.probe,
                    probe_coarse=args.probe_coarse,
                    probe_fine=args.probe_fine,
                )
                print(f"Neighbor rows: {out.count()}")
        elif args.job == "embedding-index":
            from batch_process_dpla_index_spark.products import embedding_index

            if args.action == "build":
                if not args.vectors_parquet:
                    raise SystemExit("build requires --vectors-parquet")
                manifest = embedding_index.build_embedding_index(
                    spark.read.parquet(args.vectors_parquet),
                    args.id_col, args.vec_col, args.index_dir,
                    dim=args.dim, n_cells=args.cells or 16,
                )
                print(f"Embedding index built: {manifest}")
            elif args.action == "delete":
                if not args.ids_parquet:
                    raise SystemExit("delete requires --ids-parquet")
                ids = spark.read.parquet(args.ids_parquet)
                manifest = embedding_index.delete_from_embedding_index(
                    spark, args.index_dir, ids, id_col=args.id_col,
                    compact_threshold=args.compact_threshold,
                    recount=not args.no_recount,
                )
                if args.no_recount:
                    print(
                        f"Tombstoned {ids.count()} ids (recount "
                        f"skipped; records as of last recount: "
                        f"{manifest['Record count']}, tombstones: stale)"
                    )
                else:
                    print(
                        f"Tombstoned {ids.count()} ids; live records: "
                        f"{manifest['Record count']} "
                        f"(tombstones: {manifest.get('Tombstone count', '0')})"
                    )
            elif args.action == "compact":
                manifest = embedding_index.compact_embedding_index(
                    spark, args.index_dir
                )
                print(
                    f"Compacted tombstones; index now holds "
                    f"{manifest['Record count']} vectors"
                )
            elif args.action == "report":
                rep = embedding_index.embedding_index_occupancy(
                    spark, args.index_dir, design_point=args.design_point
                )
                print(
                    f"Occupancy: {rep['n_vecs']} vectors in "
                    f"{rep['n_cells']} cells "
                    f"(mean {rep['mean_per_cell']}/cell, max "
                    f"{rep['max_per_cell']}, design point "
                    f"{rep['design_point']}); needs_rebuild="
                    f"{rep['needs_rebuild']}"
                )
            else:
                manifest = embedding_index.rebuild_embedding_index(
                    spark, args.index_dir, n_cells=args.cells,
                    design_point=args.design_point,
                )
                print(
                    f"Rebuilt {manifest['rebuilt_from']} -> "
                    f"{manifest['n_cells']} cells over "
                    f"{manifest['Record count']} vectors"
                )
        elif args.job == "decon-index":
            from batch_process_dpla_index_spark.products import decon_index

            if args.action == "build":
                if not args.benchmark_parquet:
                    raise SystemExit(
                        "decon-index build needs --benchmark-parquet"
                    )
                m = decon_index.build_decon_index(
                    spark.read.parquet(args.benchmark_parquet),
                    args.index_dir,
                )
                print(
                    f"Decon index built: {m['Benchmark items']} items"
                )
            elif args.action == "append":
                if not args.benchmark_parquet:
                    raise SystemExit(
                        "decon-index append needs --benchmark-parquet"
                    )
                m = decon_index.append_to_decon_index(
                    spark.read.parquet(args.benchmark_parquet),
                    args.index_dir,
                )
                print(
                    f"Decon index appended: {m['Benchmark items']} items"
                )
            else:  # screen
                if not args.decon_docs:
                    raise SystemExit(
                        "decon-index screen needs --docs-parquet"
                    )
                from batch_process_dpla_index_spark.operators.dedup import (
                    unpersist_deps,
                )

                hits = decon_index.screen_batch(
                    spark,
                    spark.read.parquet(args.decon_docs),
                    args.index_dir,
                    threshold=args.decon_threshold,
                )
                try:
                    if args.decon_out:
                        hits.write.mode("overwrite").parquet(
                            args.decon_out
                        )
                        print(f"Screen matches written to {args.decon_out}")
                    else:
                        for r in hits.collect():
                            print(
                                f"{r[0]} ~ {r['bench_id']}: "
                                f"jaccard={r['jaccard']}"
                            )
                finally:
                    unpersist_deps(hits)
        elif args.job == "overlap-index":
            from batch_process_dpla_index_spark.products import overlap_index

            if args.action != "build" and args.shingle_n is not None:
                from batch_process_dpla_index_spark.io.manifest import (
                    read_manifest,
                )

                pinned = int(read_manifest(args.index_dir)["shingle_n"])
                if args.shingle_n != pinned:
                    # silently shingling the delta with the manifest's n
                    # while the user believes n changed is exactly the
                    # mis-merge the manifest pin exists to prevent
                    raise SystemExit(
                        f"--shingle-n {args.shingle_n} conflicts with the "
                        f"index manifest (shingle_n={pinned}); parameters "
                        "are pinned at build time"
                    )
            if args.action == "report":
                rep = overlap_index.overlap_report(spark, args.index_dir)
                for r in rep.collect():
                    print(
                        f"{r['source_a']} ~ {r['source_b']}: "
                        f"est_jaccard={r['est_jaccard']}"
                    )
            elif args.action == "delete":
                if not args.sources:
                    raise SystemExit(
                        "overlap-index delete needs --sources a,b,c"
                    )
                m = overlap_index.delete_from_overlap_index(
                    spark, args.index_dir,
                    [s for s in args.sources.split(",") if s],
                    compact_threshold=args.compact_threshold,
                )
                print(
                    f"Deleted: {m['Record count']} live sources, "
                    f"{m.get('Tombstone count', '0')} tombstoned"
                )
            elif args.action == "compact":
                try:
                    m = overlap_index.compact_overlap_index(
                        spark, args.index_dir
                    )
                except ValueError as e:
                    raise SystemExit(str(e)) from None
                print(f"Compacted: {m['Record count']} live sources")
            else:
                if not args.docs_parquet:
                    raise SystemExit(
                        "overlap-index build/refresh needs --docs-parquet"
                    )
                docs = spark.read.parquet(args.docs_parquet)
                if args.action == "build":
                    m = overlap_index.build_overlap_index(
                        docs, args.index_dir,
                        args.text_col or "text",
                        args.source_col or "source",
                        n=3 if args.shingle_n is None else args.shingle_n,
                    )
                    print(f"Overlap index built: {m}")
                else:
                    try:
                        m = overlap_index.refresh_overlap_index(
                            spark, docs, args.index_dir, args.text_col,
                            args.source_col,
                        )
                    except ValueError as e:
                        # column pin conflict — same UX as --shingle-n
                        raise SystemExit(str(e)) from None
                    print(f"Overlap index refreshed: {m}")
        elif args.job == "compact":
            from batch_process_dpla_index_spark.products.compaction import compact

            res = compact(
                spark, args.src, args.dst,
                target_bytes=args.target_mb * 1024 * 1024,
            )
            print(
                f"Compacted {res['n_files_in']} files -> {res['n_bins']} "
                f"({res['n_rows']} rows) at {args.dst}"
            )
        elif args.job == "thumbnail-purge":
            # ThumbnailPurge.scala:41-53 (args: item path, bucket);
            # deletion routed through K9 purge_keys (carrier dispatch +
            # scheme grouping live there), ids streamed via
            # toLocalIterator inside thumbnail_purge.execute
            from batch_process_dpla_index_spark.io.sinks import purge_keys
            from batch_process_dpla_index_spark.products import thumbnail_purge

            items = spark.read.parquet(args.in_path)
            root = args.bucket_root.rstrip("/")

            def _delete(keys: list[str]) -> None:
                purge_keys([f"{root}/{k}" for k in keys], batch=args.batch)

            n = thumbnail_purge.execute(
                spark, items, _delete, uri_col=args.uri_col, batch=args.batch
            )
            print(f"Purged {n} thumbnail keys under {args.bucket_root}")
        elif args.job == "dataset-card":
            from batch_process_dpla_index_spark.products.dataset_card import (
                build_dataset_card,
            )

            emb = (
                spark.read.parquet(args.embeddings_parquet)
                if args.embeddings_parquet
                else None
            )
            blobs = (
                spark.read.parquet(args.blobs_parquet)
                if args.blobs_parquet
                else None
            )
            bench = (
                spark.read.parquet(args.benchmark_parquet)
                if args.benchmark_parquet
                else None
            )
            from batch_process_dpla_index_spark.sources.tables import (
                normalize_event_ts,
            )

            ev = (
                # events-ts encodings vary across parquet writers —
                # normalize to plain TIMESTAMP, never a bare read
                normalize_event_ts(spark.read.parquet(args.events_parquet))
                if args.events_parquet
                else None
            )
            path = build_dataset_card(
                spark, spark.read.parquet(args.parquet_path), args.out_dir,
                name=args.name, embeddings=emb,
                vec_col=args.card_vec_col, sem_threshold=args.sem_threshold,
                blobs=blobs, bin_col=args.card_bin_col,
                benchmark=bench, fuzzy_threshold=args.fuzzy_threshold,
                events=ev,
            )
            print(f"Dataset card written to {path}")
        elif args.job == "profile":
            from batch_process_dpla_index_spark.operators.profiling import (
                column_profile,
            )

            prof = column_profile(
                spark.read.parquet(args.parquet_path),
                exact_distinct=not args.approx,
            )
            if args.out_csv:
                from batch_process_dpla_index_spark.io.sinks import (
                    write_csv_single,
                )

                write_csv_single(prof, args.out_csv)
                print(f"Profile written to {args.out_csv}")
            else:
                for r in prof.collect():
                    print(
                        f"{r['col_name']}: rows={r['n_rows']} "
                        f"nulls={r['n_nulls']} distinct={r['n_distinct']} "
                        f"num=[{r['min_num']}, {r['max_num']}] "
                        f"str=[{r['min_str']}, {r['max_str']}]"
                    )
        elif args.job == "snapshot":
            from batch_process_dpla_index_spark.products import snapshots

            def _cols(spec):
                return (
                    [c.strip() for c in spec.split(",") if c.strip()]
                    if spec
                    else None
                )

            # reject option/action combinations that would be silently
            # ignored — "committed" with --cluster-by dropped on the
            # floor leaves the user believing the table is clustered
            if args.action not in ("append", "merge"):
                for opt, val in (
                    ("--cluster-by", args.cluster_by),
                    ("--stats-cols", args.stats_cols),
                ):
                    if val:
                        p.error(f"{opt} applies to append/merge only")
            if args.action != "merge" and (args.key or args.op_col != "op"):
                p.error("--key/--op-col apply to snapshot merge only")

            if args.action in ("append", "overwrite", "merge"):
                if args.input is None:
                    p.error(f"snapshot {args.action} requires --input")
                df = spark.read.parquet(args.input)
                if args.action == "append":
                    v = snapshots.commit_append(
                        df, args.root,
                        stats_cols=_cols(args.stats_cols),
                        cluster_by=_cols(args.cluster_by),
                    )
                elif args.action == "merge":
                    if args.key is None:
                        p.error("snapshot merge requires --key")
                    v = snapshots.merge_into(
                        spark, df, args.root, args.key, op_col=args.op_col,
                        stats_cols=_cols(args.stats_cols),
                        cluster_by=_cols(args.cluster_by),
                    )
                else:
                    v = snapshots.commit_overwrite(df, args.root)
                print(f"Committed version {v} at {args.root}")
            elif args.action == "read":
                n = snapshots.read_snapshot(
                    spark, args.root, version=args.version
                ).count()
                print(f"Version {args.version if args.version is not None else 'latest'}: {n} rows")
            elif args.action == "history":
                for e in snapshots.history(args.root):
                    print(
                        f"v{e['version']:>4} {e['op']:<10} "
                        f"+{len(e['add'])} -{len(e['remove'])}"
                    )
            elif args.action == "rollback":
                if args.version is None:
                    p.error("snapshot rollback requires --version")
                v = snapshots.rollback(args.root, args.version)
                print(f"Rolled back to v{args.version} as version {v}")
            elif args.action == "vacuum":
                deleted = snapshots.vacuum(args.root, args.keep_versions)
                print(f"Vacuumed {len(deleted)} files")
            elif args.action == "schema":
                merged = snapshots.table_schema(args.root, args.version)
                if merged is None:
                    print("(no recorded schemas; reads use file inference)")
                else:
                    for f in merged.fields:
                        print(f"{f.name} {f.dataType.simpleString()}")
            else:
                v = snapshots.compact_snapshot(
                    spark, args.root,
                    target_bytes=args.snap_target_mb * 1024 * 1024,
                )
                print(f"Compacted into version {v}")
    finally:
        pass  # session is shared in tests; real CLI runs end with process exit
    return 0


if __name__ == "__main__":
    sys.exit(main())
