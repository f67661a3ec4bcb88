#!/usr/bin/env python
"""Production entry point: the 100 TB extraction job.

Submit with:

    python tools/make_pyfiles_zip.py            # -> dist/docling_spark.zip
    spark-submit --py-files dist/docling_spark.zip job.py \
        --input  s3://bucket/pages_table/ \
        --output s3://bucket/extraction_run_42/ \
        --buckets 4096 --group-size 64

The job is resumable: re-submitting with the same --output continues from
the last committed bucket group (engine.CheckpointedExtraction manifest).
Per-partition lineage rows land in <output>/metrics; results in
<output>/results, both partitioned by commit group (grp=<gid>, the first
bucket of the group).
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--input", required=True,
                    help="pages input: catalog table name (iceberg) or "
                         "parquet/iceberg path")
    ap.add_argument("--input-format", default="auto",
                    choices=["auto", "table", "iceberg", "parquet",
                             "warc"],
                    help="how to resolve --input (auto: catalog table "
                         "when the value has no path separator; warc: a "
                         "directory of raw .warc/.warc.gz crawl archives "
                         "ingested straight into extraction)")
    ap.add_argument("--output", required=True, help="run output directory")
    ap.add_argument("--buckets", type=int, default=256,
                    help="url-hash commit buckets (resume granularity)")
    ap.add_argument("--group-size", type=int, default=16,
                    help="buckets per commit group")
    ap.add_argument("--skew-threshold", type=int, default=1 << 20,
                    help="html bytes above which a row is skew-split")
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder
        .appName("docling_spark_extract")
        # AQE re-plans shuffles at runtime; arrow batches feed the UDF
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .getOrCreate()
    )

    # When launched via spark-submit --py-files, docling_spark is already
    # on every executor's path; fall back to shipping it ourselves for
    # bare python launches.
    try:
        from docling_spark import engine
    except ImportError:
        sys.path.insert(0, ".")
        from docling_spark import engine
        import zipfile, tempfile, pathlib
        pkg = pathlib.Path(__file__).resolve().parent / "docling_spark"
        z = pathlib.Path(tempfile.gettempdir()) / "docling_spark_pkg.zip"
        with zipfile.ZipFile(z, "w") as zf:
            for py in sorted(pkg.glob("*.py")):
                zf.write(py, f"docling_spark/{py.name}")
        spark.sparkContext.addPyFile(str(z))

    if args.input_format == "warc":
        from docling_spark import warc as warc_mod
        pages = warc_mod.read_warc(spark, args.input).select("url", "html")
    else:
        pages = engine.load_pages(spark, args.input,
                                  fmt=args.input_format)
    t0 = time.time()
    ck = engine.CheckpointedExtraction(
        spark, args.output, num_buckets=args.buckets,
        group_size=args.group_size)
    stats = ck.run(pages, skew_threshold=args.skew_threshold)
    elapsed = time.time() - t0

    results = spark.read.parquet(ck.results_path)
    summary = engine.extraction_summary(results)
    report = {
        "elapsed_sec": round(elapsed, 1),
        "resumed_from_buckets": len(stats["resumed_from"]),
        "processed_buckets": len(stats["processed"]),
        **{k: (float(v) if v is not None else None)
           for k, v in summary.items()},
    }
    print(json.dumps(report))
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
