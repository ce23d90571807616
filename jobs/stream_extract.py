#!/usr/bin/env python
"""spark-submit entrypoint for the INCREMENTAL (Structured Streaming)
extraction pipeline — the always-on form of jobs/run_extract.py for an
append-only transcripts directory/table.

Cluster:
    python -c "from pdf_ocr_spark.session import package_zip; \\
               print(package_zip('.'))"
    spark-submit --py-files pdf_ocr_spark.zip \\
        --conf spark.sql.execution.arrow.maxRecordsPerBatch=256 \\
        --conf spark.sql.adaptive.enabled=true \\
        jobs/stream_extract.py --input ... --output ... --checkpoint ...

With --available-now (default) the job drains everything currently in
the input and exits — the cron-friendly incremental form; exactly-once
delivery across restarts comes from the idempotent per-batch overwrite
(a replayed micro-batch replaces its own ``batch_id=<id>`` partition of
--output; --checkpoint records the offsets). With --continuous it keeps
running on a trigger interval.

Local (no spark-submit): runs on local[$SPARK_GRAFT_CPUS].
"""

from __future__ import annotations

import argparse
import json
import os
import sys


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True)
    ap.add_argument("--output", required=True)
    ap.add_argument("--checkpoint", required=True)
    ap.add_argument("--continuous", action="store_true",
                    help="keep running (default drains and exits)")
    ap.add_argument("--timeout-s", type=int, default=None,
                    help="awaitTermination bound for --available-now")
    args = ap.parse_args()

    sys.path.insert(0, os.path.dirname(
        os.path.dirname(os.path.abspath(__file__))))

    from pdf_ocr_spark.session import cluster_session
    spark = cluster_session("pdf-ocr-stream-extract")

    from pdf_ocr_spark.streaming import stream_extraction

    q = stream_extraction(spark, args.input, args.output, args.checkpoint,
                          available_now=not args.continuous)
    if args.continuous:
        q.awaitTermination()
    else:
        q.awaitTermination(args.timeout_s)
        n = spark.read.parquet(args.output).count()
        print(json.dumps({"output_rows_total": int(n),
                          "checkpoint": args.checkpoint}))
    spark.stop()


if __name__ == "__main__":
    main()
