"""spark-submit entry point: the whole engine as one batch job.

Usage (the north-rule deployment shape)::

    spark-submit --py-files ocr_model_spark.zip -m … \
        ocr_model_spark/main.py \
        --input  /path/to/pages_parquet_or_iceberg_table \
        --output /path/to/snapshot_base \
        --profile default --format parquet [--streaming]

Replaces the reference's CLI (``cli/process_pdf.py``) + Celery queue +
FastAPI upload path with one resumable DataFrame job: versioned snapshot
commits, params-fingerprint resume, per-partition lineage.
"""

from __future__ import annotations

import argparse
import json
import sys


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description="ocr_model_spark extraction job")
    p.add_argument("--input", required=True, help="pages table (parquet path or catalog table)")
    p.add_argument(
        "--input-format",
        default="parquet",
        choices=["parquet", "warc"],
        help="pages parquet or a directory of .warc/.warc.gz shards",
    )
    p.add_argument("--output", required=True, help="snapshot base directory")
    p.add_argument("--profile", default="default", choices=["default", "performance", "quality"])
    p.add_argument("--partitions", type=int, default=None, help="extraction stage width")
    p.add_argument("--streaming", action="store_true", help="incremental foreachBatch mode")
    p.add_argument(
        "--corpus",
        action="store_true",
        help="run the end-to-end training-corpus pipeline (extract → URL "
        "gate → quality → dedup → shard export) instead of a snapshot job",
    )
    p.add_argument("--n-shards", type=int, default=16, help="corpus-mode export shards")
    p.add_argument(
        "--quality-threshold", type=float, default=0.3, help="corpus-mode quality gate"
    )
    p.add_argument(
        "--token-budget",
        type=int,
        default=None,
        help="corpus-mode token budget (deterministic hash-threshold sampling)",
    )
    p.add_argument("--master", default=None, help="override spark master (local runs)")
    args = p.parse_args(argv)
    if args.corpus and (args.streaming or args.input_format != "parquet"):
        p.error("--corpus runs batch over a parquet pages table")
    if args.corpus and args.profile != "default":
        p.error("--corpus uses the default extraction profile")

    from ocr_model_spark.session import get_spark

    spark = get_spark(app_name=f"ocr_model_spark[{args.profile}]", master=args.master)
    try:
        if args.corpus:
            from ocr_model_spark.pipeline import build_training_corpus

            res = build_training_corpus(
                spark,
                args.input,
                out_dir=args.output,
                quality_threshold=args.quality_threshold,
                n_shards=args.n_shards,
                num_partitions=args.partitions,
                token_budget=args.token_budget,
            )
            print(
                json.dumps(
                    {
                        "mode": "corpus",
                        "funnel": res["funnel"],
                        "total": res["total"],
                        "exported_docs": res["manifest"]["total_docs"],
                    },
                    sort_keys=True,
                )
            )
            return 0
        from ocr_model_spark.sources.snapshots import read_manifest, read_snapshot

        if args.streaming:
            from ocr_model_spark.streaming.pipeline import streaming_extraction

            streaming_extraction(
                spark, args.input, args.output, params={"profile": args.profile}
            )
            snap = read_snapshot(spark, args.output)
            n = snap.count() if snap is not None else 0
            print(json.dumps({"mode": "streaming", "snapshot_rows": n}))
            return 0
        from ocr_model_spark.pipeline import run_versioned

        pages = None
        if args.input_format == "warc":
            from ocr_model_spark.sources.warc import read_warc

            pages = read_warc(spark, args.input)
        version = run_versioned(
            spark,
            args.input,
            args.output,
            params={"profile": args.profile},
            num_partitions=args.partitions,
            pages=pages,
        )
        snap = read_snapshot(spark, args.output)
        manifest = read_manifest(args.output) or {}
        lineage = manifest.get("lineage", [])
        print(
            json.dumps(
                {
                    "mode": "batch",
                    "committed_version": version,
                    "snapshot_rows": snap.count() if snap is not None else 0,
                    "delta_docs": sum(r["n_docs"] for r in lineage) if version is not None else 0,
                    "delta_failed": sum(r["n_failed"] for r in lineage) if version is not None else 0,
                }
            )
        )
        return 0
    finally:
        spark.stop()


if __name__ == "__main__":
    sys.exit(main())
