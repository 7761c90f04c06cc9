"""Structured-Streaming front end: tail a change-event source with
``readStream`` and drive the CDC engine through ``foreachBatch``.

The binlog/WAL analog (SURVEY.md §2.1 S1/S2): NiFi's FlowFile queue
becomes a streaming file source over the events directory.

Exactly-once composition: Spark's streaming checkpoint gives *replayable*
micro-batches with stable ``epoch_id``s; the sink manifest records the
highest applied epoch (``last_epoch``) SEPARATELY from snapshot/batch ids,
namespaced by the checkpoint's query id (``stream_id``), and each epoch
allocates a fresh batch id via ``engine.next_batch_id()``.  A restart that
re-delivers the last epoch sees ``epoch_id <= last_epoch`` under the SAME
stream_id and skips — end-to-end exactly-once regardless of which side
crashed — while a cleared checkpoint (fresh query id, epochs restarting
at 0) starts a fresh watermark namespace instead of being dropped.
Decoupling epoch ids from snapshot ids matters: the earlier
``batch_id = epoch_id + 1`` scheme silently SKIPPED epochs whenever a
batch replay or ``main.py compact`` had already consumed those snapshot
ids on the same sink (ADVICE r1 — permanent data loss).
(``maxFilesPerTrigger`` is the ``FLOWFILE_COUNT`` micro-batching analog,
ExtractEMLFile.java:34-42).
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession

from . import schemas
from .engine import CdcEngine


def _checkpoint_stream_id(checkpoint_dir: str) -> str | None:
    """The streaming query id Spark records in ``<checkpoint>/metadata`` at
    query start.  It is stable across restarts of the same checkpoint and
    FRESH for a cleared/new checkpoint dir — exactly the namespace epoch
    ids are meaningful in, so the sink's last_epoch watermark is keyed on
    it (a cleared checkpoint restarts epochs at 0; a global watermark
    would silently drop them all — ADVICE r2)."""
    try:
        with open(os.path.join(checkpoint_dir, "metadata")) as fh:
            return str(json.load(fh)["id"])
    except (OSError, ValueError, KeyError):
        return None


def stream_events(spark: SparkSession, source_dir: str,
                  max_files_per_trigger: int | None = None) -> DataFrame:
    """readStream over a parquet events directory (CHANGE_EVENTS schema)."""
    reader = spark.readStream.schema(schemas.CHANGE_EVENTS)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return reader.parquet(source_dir)


def run_stream(engine: CdcEngine, events: DataFrame, checkpoint_dir: str,
               *, available_now: bool = True,
               processing_time: str | None = None):
    """Drive the engine from a streaming DataFrame.

    ``available_now=True`` (default) processes everything currently in the
    source then stops — the testable drain mode; pass
    ``processing_time='10 seconds'`` instead for a long-running tail.
    Returns the StreamingQuery (caller awaits/stops it).  This is the
    one-sink case of ``run_stream_fanout``.
    """
    return run_stream_fanout({"default": (engine, None)}, events,
                             checkpoint_dir, available_now=available_now,
                             processing_time=processing_time)


def run_stream_fanout(routes: dict, events: DataFrame, checkpoint_dir: str,
                      *, available_now: bool = True,
                      processing_time: str | None = None):
    """One stream, MANY sinks — each with its own exactly-once watermark.

    ``routes``: ``{name: (engine, predicate_sql | None)}``.  Every
    micro-batch epoch is offered to every route; a route whose sink
    already committed that epoch (under this checkpoint's stream_id)
    skips it.  A crash BETWEEN two sinks' commits of one epoch (A
    committed, B didn't, query died) heals on restart: Spark re-delivers
    the unfinished epoch, A's watermark skips it, B applies it.  This is
    per-sink idempotence on top of ONE replayable source — the
    single-sink composition, multiplied; no cross-sink transaction is
    needed because each sink's manifest is its own commit log.

    Scope: the heal window is the epochs the CHECKPOINT has not yet
    completed.  Epochs the checkpoint finished are never re-offered, so
    ADDING a new sink to a long-running fanout requires a one-time batch
    backfill (``engine.replay`` over the retained log) before joining
    the routes — the standard bootstrap for any log-compacted consumer.

    ``predicate_sql`` (a Spark SQL boolean over the event columns, e.g.
    ``\"repo like 'org0/%'\"``) routes a subset to that sink — the NiFi
    multi-relationship fan-out (SURVEY §2.1 R1) lifted to sink
    granularity.  A route with None receives everything.  An epoch whose
    filtered subset is EMPTY still commits (zero-row batch) so the
    route's watermark advances — otherwise a restart would re-offer old
    epochs to quiet routes forever.

    100 TB note: the micro-batch is NOT cached across routes — each
    route re-reads the replayable source files (scan cost ~10× below the
    parse each route then pays; caching the multi-KB payload was the r3
    scale-killer).  Routes with disjoint predicates each parse only
    their subset.
    """
    from pyspark.sql import functions as F

    def apply(batch_df: DataFrame, epoch_id: int) -> None:
        sid = _checkpoint_stream_id(checkpoint_dir)
        for _name, (engine, pred) in routes.items():
            last = engine.last_epoch(stream_id=sid)
            if last is not None and int(epoch_id) <= last:
                continue  # this sink already holds this epoch
            sub = batch_df.filter(F.expr(pred)) if pred else batch_df
            engine.apply_batch(sub, batch_id=engine.next_batch_id(),
                               epoch=int(epoch_id), stream_id=sid)

    writer = events.writeStream.foreachBatch(apply).option(
        "checkpointLocation", checkpoint_dir)
    if available_now:
        writer = writer.trigger(availableNow=True)
    elif processing_time:
        writer = writer.trigger(processingTime=processing_time)
    return writer.start()
