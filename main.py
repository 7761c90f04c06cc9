"""spark-submit entrypoint for the emailcdc engine.

Usage (local sanity run):
    python main.py replay --events /path/events.parquet --sink /path/sink

Cluster launch (north rule: ``spark-submit --py-files`` on multi-executor
clusters — build the zip with ``python tools/build_pyfiles.py``):

    spark-submit --master yarn --deploy-mode cluster \\
        --py-files dist/emailcdc.zip \\
        main.py replay --events s3://bucket/events --sink s3://bucket/sink

Subcommands:
    replay   batch-replay an offset-ordered change log (resumes from the
             sink's checkpoint automatically)
    stream   tail an events directory with Structured Streaming
    compact  force-fold the sink's MOR deltas into fresh base files
    vacuum   remove data dirs the current manifest does not reference
    show     print a table's current snapshot row count + sample
"""

from __future__ import annotations

import argparse
import sys


def _parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="emailcdc")
    sub = p.add_subparsers(dest="cmd", required=True)

    rp = sub.add_parser("replay", help="batch-replay a change log")
    rp.add_argument("--events", required=True, help="events parquet path")
    rp.add_argument("--sink", required=True, help="sink root dir")
    rp.add_argument("--batch-size", type=int, default=1_000_000)
    rp.add_argument("--n-buckets", type=int, default=64)
    rp.add_argument("--error-strategy", choices=["continue", "failure"],
                    default="continue")
    rp.add_argument("--missing-field-strategy",
                    choices=["error", "empty", "value"], default="empty")
    rp.add_argument("--missing-field-substitution", default=None)
    rp.add_argument("--folder-expression", default=None,
                    help="FOLDER_IDENTIFIER: Spark SQL expression over the "
                         "event columns deriving the message folder "
                         "(default: mbox→path, eml→'')")

    st = sub.add_parser("stream", help="tail an events dir (Structured Streaming)")
    st.add_argument("--source", required=True)
    st.add_argument("--sink", required=True)
    st.add_argument("--checkpoint", required=True)
    st.add_argument("--n-buckets", type=int, default=64)
    st.add_argument("--available-now", action="store_true",
                    help="drain what's there, then stop (default: continuous)")
    st.add_argument("--trigger", default="30 seconds")
    st.add_argument("--max-files-per-trigger", type=int, default=None)

    cp = sub.add_parser("compact", help="fold MOR deltas into base files")
    cp.add_argument("--sink", required=True)
    cp.add_argument("--n-buckets", type=int, default=64)

    sh = sub.add_parser("show", help="print a sink table")
    sh.add_argument("--sink", required=True)
    sh.add_argument("--table", default="snapshot")
    sh.add_argument("--n", type=int, default=10)

    vc = sub.add_parser("vacuum", help="remove data dirs not referenced by "
                                       "the current manifest (crash orphans, "
                                       "superseded snapshots)")
    vc.add_argument("--sink", required=True)
    vc.add_argument("--quiesced", action="store_true",
                    help="no writer is active: also collect above-CURRENT "
                         "orphans from abandoned crashed commits (a default "
                         "vacuum skips them — they are indistinguishable "
                         "from an in-flight commit)")
    return p


def main(argv: list[str] | None = None) -> int:
    args = _parser().parse_args(argv)
    from emailcdc.engine import CdcEngine
    from emailcdc.session import get_spark
    from emailcdc.sink import SnapshotParquetSink

    spark = get_spark(app=f"emailcdc-{args.cmd}")

    if args.cmd == "replay":
        sink = SnapshotParquetSink(spark, args.sink, n_buckets=args.n_buckets)
        engine = CdcEngine(
            spark, sink,
            error_strategy=args.error_strategy,
            missing_field_strategy=args.missing_field_strategy,
            missing_field_substitution=args.missing_field_substitution,
            folder_expression=args.folder_expression,
        )
        events = spark.read.parquet(args.events)
        results = engine.replay(events, batch_size=args.batch_size)
        total = sum(r.event_count for r in results)
        print(f"applied {total} events in {len(results)} batches; "
              f"resume offset now {engine.next_offset()}")
    elif args.cmd == "stream":
        from emailcdc.streaming import run_stream, stream_events
        sink = SnapshotParquetSink(spark, args.sink, n_buckets=args.n_buckets)
        engine = CdcEngine(spark, sink)
        q = run_stream(
            engine,
            stream_events(spark, args.source,
                          max_files_per_trigger=args.max_files_per_trigger),
            args.checkpoint,
            available_now=args.available_now,
            processing_time=None if args.available_now else args.trigger,
        )
        q.awaitTermination()
    elif args.cmd == "compact":
        sink = SnapshotParquetSink(spark, args.sink, n_buckets=args.n_buckets)
        manifest = sink.compact_now(sink.current_snapshot_id() + 1)
        print(f"compacted to snapshot {manifest.snapshot_id}")
    elif args.cmd == "vacuum":
        sink = SnapshotParquetSink(spark, args.sink)
        removed = sink.vacuum(quiesced=args.quiesced)
        print(f"removed {removed} unreferenced data dirs")
    elif args.cmd == "show":
        sink = SnapshotParquetSink(spark, args.sink)
        engine = CdcEngine(spark, sink)
        df = engine.table(args.table)
        print(f"{args.table}: {df.count()} rows")
        df.show(args.n, truncate=40)
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
