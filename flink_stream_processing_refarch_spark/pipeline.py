"""CLI entry point — the ProcessTaxiStream.main equivalent
(flink-taxi-stream-processor/.../ProcessTaxiStream.java:65-166).

The reference's ParameterTool args map to local/cluster equivalents:

  reference (Kinesis/EMR/ES)          here
  --------------------------------    ----------------------------------
  InputStreamName + region            --source (parquet dir; --wire for a
                                      wire-JSON chunk dir)
  ElasticsearchEndpoint               --out-dir (ES-style bulk files, written
                                      executor-side per epoch; swap the sink
                                      body for the ES connector)
  checkpoint dir (S3)                 --checkpoint
  RocksDB state backend               the session's state-store provider
                                      (Spark's HDFS-backed default unless
                                      the deployment sets
                                      spark.sql.streaming.stateStore.
                                      providerClass)
  SHARD_GETRECORDS_* throttling       --max-files-per-trigger

Runs Q1 + Q2 as two stateful streaming queries (windowed aggregation in
the streaming plan — correct across micro-batches and restarts); the
ES-style sink receives finalized windows only (SURVEY.md §4.1, §4.3).

Usage:
  python -m flink_stream_processing_refarch_spark.pipeline \
      --source /root/testdata/sf0.01 --out-dir /tmp/es_out \
      [--checkpoint /tmp/ckpt] [--max-files-per-trigger 1] [--wire]
"""

from __future__ import annotations

import argparse
import os

from .session import get_spark
from .streaming.jobs import run_taxi_pipeline


def _count_docs(sink_dir: str) -> int:
    """Count indexed docs from the bulk files (2 lines per doc: action +
    source) — the CLI reports from the sink, never by re-collecting."""
    from .streaming.sinks import iter_bulk_lines

    return sum(1 for _ in iter_bulk_lines(sink_dir)) // 2


def main(argv: list[str] | None = None) -> None:
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("--source", required=True, help="testdata sf dir (parquet)")
    p.add_argument("--out-dir", default=None, help="ES-style bulk sink dir")
    p.add_argument(
        "--checkpoint",
        default=None,
        help="checkpoint root (restartable; without it the run checkpoints"
        " in a throwaway dir)",
    )
    p.add_argument(
        "--max-files-per-trigger",
        type=int,
        default=None,
        help="source throttling: files per micro-batch (SHARD_GETRECORDS analogue)",
    )
    p.add_argument(
        "--wire",
        action="store_true",
        help="treat --source as a newline-JSON wire chunk dir (replay output)",
    )
    p.add_argument(
        "--auto-decompress",
        action="store_true",
        help="with --wire: magic-byte decompression of .snz/.gz chunks (S4)",
    )
    p.add_argument("--cpus", default=None, help="local parallelism override")
    args = p.parse_args(argv)

    spark = get_spark(
        "taxi-pipeline", master=f"local[{args.cpus}]" if args.cpus else None
    )
    spark.sparkContext.setLogLevel("WARN")
    res = run_taxi_pipeline(
        spark,
        args.source,
        out_dir=args.out_dir,
        checkpoint_dir=args.checkpoint,
        max_files_per_trigger=args.max_files_per_trigger,
        source_format="wire" if args.wire else "parquet",
        auto_decompress=args.auto_decompress,
        collect_results=False,
    )
    n1 = _count_docs(os.path.join(res["out_dir"], "pickup_count"))
    n2 = _count_docs(os.path.join(res["out_dir"], "trip_duration"))
    print(
        f"pipeline complete: {n1} pickup_count docs, {n2} trip_duration docs"
        f" -> {res['out_dir']} (checkpoint: {res['checkpoint_dir']})"
    )


if __name__ == "__main__":
    main()
