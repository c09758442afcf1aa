#!/usr/bin/env python
"""spark-submit entrypoint.

    spark-submit --py-files pkg.zip main.py \
        --input <images table/path> --output <dir> \
        [--tiers exact,minhash,simhash,substring] [--no-resume]
    # text corpora (any read_documents format):
    ... --mode docs --format json [--rep-policy quality] [--emit-split 0.9]

Replaces the reference's CLI (-b blocksize -f filename,
/root/reference/Server/encoder.cpp:492-511) with the batch analog:
read the input table, run the tiered dedup pipeline, write
assignments/savings/metrics checkpoint tables under --output, print
the one-line accounting report (the App/Host.cpp:500-507 analog).
"""

from __future__ import annotations

import argparse
import json
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent
sys.path.insert(0, str(REPO))


def parse_args(argv=None):
    p = argparse.ArgumentParser(description="PySpark dedup/clustering pipeline")
    p.add_argument("--input", required=True, help="input table: parquet path or catalog.db.table")
    p.add_argument("--output", required=True, help="checkpoint/output directory")
    p.add_argument("--mode", choices=("images", "docs"), default="images",
                   help="images: tiered image pipeline; docs: text-corpus "
                        "near-dup dedup over any read_documents format")
    p.add_argument("--tiers", default="exact,minhash,simhash,substring")
    p.add_argument("--format", default="parquet",
                   help="docs mode input format: parquet|orc|json|csv|text")
    def _frac(v: str) -> float:
        f = float(v)
        if not 0.0 < f < 1.0:
            raise argparse.ArgumentTypeError(
                f"train fraction must be in (0,1), got {v}")
        return f

    p.add_argument("--emit-split", type=_frac, default=None, dest="emit_split",
                   metavar="FRAC",
                   help="docs mode: also write a leakage-safe train/val "
                        "split table (train fraction FRAC; every member "
                        "of a near-dup cluster shares a split)")
    p.add_argument("--rep-policy", choices=("first", "quality"),
                   default="first", dest="rep_policy",
                   help="docs mode: cluster representative election — "
                        "'first' keeps the min doc_id, 'quality' keeps "
                        "the highest-quality member (min id on ties)")
    p.add_argument("--no-resume", action="store_true")
    p.add_argument("--cores", type=int, default=None, help="local[N] cores (omit on a cluster)")
    return p.parse_args(argv)


def run_docs_mode(spark, args, resume: bool = True) -> dict:
    """Document-corpus dedup through the same orchestrator as images
    mode: read_documents (any format) → run_pipeline with the DOCS
    contract (--tiers selectable; checkpoints, resume and the metrics
    table under --output) → the optional quality election →
    <output>/assignments → the optional split → the character-savings
    report over the final assignments."""
    from pyspark.sql import functions as F

    from deduplication_and_compression_spark.config import DEFAULT_CONFIG
    from deduplication_and_compression_spark.operators.assign import (
        dedup_ratio, payload_bytes,
    )
    from deduplication_and_compression_spark.plans.pipeline import (
        DOCS, run_pipeline,
    )
    from deduplication_and_compression_spark.sources.tables import read_documents

    out = Path(args.output)
    docs = read_documents(spark, args.input, fmt=args.format)
    asg = run_pipeline(
        spark, docs, out, DEFAULT_CONFIG, tiers=tuple(args.tiers.split(",")),
        resume=resume, contract=DOCS,
    ).assignments
    if args.rep_policy == "quality":
        from deduplication_and_compression_spark.operators.assign import (
            elect_representatives,
        )
        from deduplication_and_compression_spark.operators.textops import (
            quality_scores,
        )

        scores = quality_scores(docs).select("doc_id", "quality_bp")
        asg = elect_representatives(
            asg, scores, id_col="doc_id", score_col="quality_bp"
        ).withColumnRenamed("rep_id", "representative_id")
    asg.write.mode("overwrite").parquet(str(out / "assignments"))
    asg = spark.read.parquet(str(out / "assignments"))
    split_counts = None
    if args.emit_split is not None:
        from deduplication_and_compression_spark.operators.assign import (
            leakage_safe_split,
        )

        split = leakage_safe_split(
            asg, frac_train=args.emit_split, id_col="doc_id"
        )
        split.write.mode("overwrite").parquet(str(out / "split"))
        split_counts = {
            r["split"]: r["n"]
            for r in spark.read.parquet(str(out / "split"))
            .groupBy("split").agg(F.count(F.lit(1)).alias("n")).collect()
        }
    ratio = dedup_ratio(
        asg, payload_bytes(docs, DOCS.id_col, DOCS.payload), DOCS.id_col
    ).collect()[0]
    # sums are NULL on an empty corpus — report zeros, not a TypeError
    chars_total = int(ratio["bytes_total"] or 0)
    chars_saved = chars_total - int(ratio["bytes_after_dedup"] or 0)
    report = {
        "rows_total": ratio["rows_total"],
        "rows_unique": int(ratio["rows_unique"] or 0),
        "chars_total": chars_total,
        "chars_saved": chars_saved,
        "dedup_pct": round(100.0 * chars_saved / max(1, chars_total), 3),
    }
    if split_counts is not None:
        report["split_train"] = int(split_counts.get("train", 0))
        report["split_val"] = int(split_counts.get("val", 0))
    return report


def main(argv=None) -> None:
    args = parse_args(argv)
    from pyspark.sql import SparkSession

    from deduplication_and_compression_spark.config import DEFAULT_CONFIG
    from deduplication_and_compression_spark.plans.pipeline import run_pipeline
    from deduplication_and_compression_spark.session import build_session
    from deduplication_and_compression_spark.sources.tables import read_table

    active = SparkSession.getActiveSession()
    spark = active or build_session(app_name="dedup-pipeline", cores=args.cores)
    if args.mode == "docs":
        t0 = time.perf_counter()
        report = run_docs_mode(spark, args, resume=not args.no_resume)
        report["wall_sec"] = round(time.perf_counter() - t0, 1)
        print(json.dumps(report))
        return
    # loud rejections beat a silent no-op: these stages run over the
    # document contract only
    if args.emit_split is not None:
        raise ValueError("--emit-split applies to --mode docs only")
    if args.rep_policy != "first":
        raise ValueError("--rep-policy applies to --mode docs only")
    images = read_table(spark, args.input)
    t0 = time.perf_counter()
    res = run_pipeline(
        spark,
        images,
        args.output,
        DEFAULT_CONFIG,
        tiers=tuple(args.tiers.split(",")),
        resume=not args.no_resume,
    )
    ratio = res.ratio.collect()[0].asDict()
    wall = time.perf_counter() - t0
    report = {
        "rows_total": ratio["rows_total"],
        "rows_unique": ratio["rows_unique"],
        "bytes_total": ratio["bytes_total"],
        "bytes_after_dedup": ratio["bytes_after_dedup"],
        "compression_pct": round(ratio["compression_pct"], 3),
        "wall_sec": round(wall, 1),
        "images_per_sec": round(ratio["rows_total"] / wall, 1),
        "config_fingerprint": DEFAULT_CONFIG.fingerprint(),
    }
    print(json.dumps(report))


if __name__ == "__main__":
    main()
