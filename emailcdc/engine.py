"""CdcEngine — micro-batch replay of a change-event log into the sink.

The Spark lifecycle (SURVEY.md §3, "Spark lifecycle equivalent"):

    events → [offset-range batch] → winners + lineage aggregate → semi-join →
    skew-aware salted repartition → mapInArrow extraction ∪ lineage rows →
    ONE envelope write (every table's delta, delete tombstones included) →
    MOR commit (the dir appended to the manifest's log; periodic one-scan
    compaction fold)

Input contract: ``(repo, path, offset)`` is unique in the log.  A batch's
winner per key is its event with the largest ``(offset, op)`` — two events
of a key at one offset resolve to the larger op — and the batch semi-joins
on that whole tuple, so exactly one event per key is extracted.

Exactly-once: ``snapshot_id == batch_id`` is monotone; a batch whose id is
≤ the sink's CURRENT pointer is skipped idempotently, and resume reads
``offset_hi + 1`` from the CURRENT manifest — so the engine can be killed
and restarted at any point (crash before the pointer flip leaves only
orphan files; the batch reruns deterministically).

Skew handling (north rule): hot repos are detected per batch by a
``(repo)`` grouping set of the one pre-extraction aggregate (no job of
its own); the parse input is repartitioned by ``repo`` salted with
``path`` for hot repos only, so one giant repo spreads over every
partition during the (CPU-heavy) parse stage while a cold repo stays in
one — the MERGE stays key-correct because bucketing is on (repo, path).

At 10^10-event scale nothing here is driver-bound: one grouping-sets
aggregate over the raw batch's content-free columns yields the LWW
winners, the per-partition lineage rows and the per-repo counts, and the
one collect before extraction ships at most #partitions +
event_count / HOT_REPO_MIN_EVENTS rows — repo rows are filtered
executor-side by that floor, so a long-tail repo distribution never ships
its tail to the driver.
"""

from __future__ import annotations

from dataclasses import dataclass

import pyarrow as pa
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema

from . import schemas
from .extract import validate_missing_field_config
from .sink import SnapshotParquetSink
from .udfs import ENVELOPE_TABLES, extract_envelope

KEY = ["repo", "path"]
# every table's row schema: the extraction envelope's five, then lineage
TABLES = {**ENVELOPE_TABLES, "lineage": schemas.LINEAGE}
# hot-repo salting: a repo holding more than max(HOT_REPO_MIN_EVENTS,
# HOT_REPO_FRACTION × batch events) events is spread over all partitions
HOT_REPO_FRACTION = 0.2
HOT_REPO_MIN_EVENTS = 64


@dataclass
class BatchResult:
    batch_id: int
    offset_lo: int
    offset_hi: int
    event_count: int
    upsert_count: int
    delete_count: int
    skipped: bool = False
    hot_repos: tuple = ()


class CdcEngine:
    def __init__(
        self,
        spark: SparkSession,
        sink: SnapshotParquetSink,
        *,
        error_strategy: str = "continue",
        missing_field_strategy: str = "empty",
        missing_field_substitution: str | None = None,
        folder_expression: str | None = None,
    ):
        validate_missing_field_config(missing_field_strategy, missing_field_substitution)
        self.spark = spark
        self.sink = sink
        self.error_strategy = error_strategy
        self.missing_field_strategy = missing_field_strategy
        self.missing_field_substitution = missing_field_substitution
        # FOLDER_IDENTIFIER (AbstractJavaMailProcessor.java:58-67): a Spark
        # SQL expression over event columns deriving the message folder
        self.folder_expression = folder_expression

    # --- checkpoint/resume ----------------------------------------------------

    def next_offset(self) -> int:
        manifest = self.sink.read_manifest()
        return (manifest.offset_hi + 1) if manifest else 0

    def next_batch_id(self) -> int:
        manifest = self.sink.read_manifest()
        return (manifest.batch_id + 1) if manifest else 1

    def last_epoch(self, stream_id: str | None = None) -> int | None:
        """Highest streaming epoch applied to this sink (stream-idempotence
        watermark, independent of batch/snapshot ids).

        Epoch ids only mean something within one checkpoint lineage: when
        ``stream_id`` (the checkpoint's query id) differs from the one the
        manifest recorded, the watermark belongs to ANOTHER stream and
        returns None — a cleared checkpoint restarts epochs at 0 and must
        not be silently skipped (ADVICE r2).  Only a legacy caller
        (stream_id=None) keeps the old global-watermark behavior."""
        manifest = self.sink.read_manifest()
        if manifest is None:
            return None
        if stream_id is not None and manifest.stream_id != stream_id:
            return None
        return manifest.last_epoch

    # --- one micro-batch --------------------------------------------------------

    def apply_batch(self, batch: DataFrame, batch_id: int,
                    offset_lo: int | None = None,
                    offset_hi: int | None = None,
                    epoch: int | None = None,
                    stream_id: str | None = None) -> BatchResult:
        current = self.sink.current_snapshot_id()
        if current is not None and batch_id <= current:
            return BatchResult(batch_id, offset_lo, offset_hi, 0, 0, 0, skipped=True)

        # ONE aggregate over the content-free columns of the raw batch,
        # with three grouping sets:
        # - (repo, path): the LWW winner as max(struct(offset, op)) — two
        #   events of a key at one offset resolve to the larger op whatever
        #   their input order;
        # - (partition_id): the per-partition lineage row (north rule) and
        #   the delete count;
        # - (repo): the repo's event count, for hot-repo detection.
        # grouping_id() has one bit per grouping column in (repo, path,
        # partition_id) order, set where the column is NOT grouped.
        by_key, by_partition, by_repo = 0b001, 0b110, 0b011
        meta = (
            batch.select(*KEY, "offset", "op",
                         F.spark_partition_id().alias("partition_id"))
            .groupingSets([KEY, ["partition_id"], ["repo"]],
                          *KEY, "partition_id")
            .agg(F.grouping_id().alias("_set"),
                 F.max(F.struct("offset", "op")).alias("_win"),
                 F.count(F.lit(1)).alias("rows"),
                 F.count(F.when(F.col("op") == "D", 1)).alias("deletes"),
                 F.min("offset").alias("min_offset"))
            .persist()
        )

        try:
            # The ONE collect before extraction, and it fills the cache the
            # winners below read: the partition rows plus the repos above
            # the HOT_REPO_MIN_EVENTS floor, filtered executor-side — at
            # most #partitions + event_count / HOT_REPO_MIN_EVENTS rows, so
            # a long-tail repo distribution never ships its tail to the
            # driver (VERDICT r2).
            collected = (
                meta.filter((F.col("_set") == by_partition)
                            | ((F.col("_set") == by_repo)
                               & (F.col("rows") > HOT_REPO_MIN_EVENTS)))
                .select("_set", "partition_id", "repo", "rows", "deletes",
                        "min_offset", F.col("_win.offset").alias("max_offset"))
                .collect())
            parts = sorted((r for r in collected if r["_set"] == by_partition),
                           key=lambda r: r["partition_id"])
            lineage_rows = [
                {"batch_id": batch_id, "partition_id": r["partition_id"],
                 "rows": r["rows"], "min_offset": r["min_offset"],
                 "max_offset": r["max_offset"]}
                for r in parts
            ]
            event_count = sum(r["rows"] for r in parts)
            delete_count = sum(r["deletes"] for r in parts)
            # every event that is not a delete is extracted as an upsert
            upsert_count = event_count - delete_count
            if offset_lo is None:  # streaming path: derive bounds from the batch
                offset_lo = min((r["min_offset"] for r in parts), default=0)
            if offset_hi is None:
                offset_hi = max((r["max_offset"] for r in parts), default=-1)
            hot_threshold = max(HOT_REPO_MIN_EVENTS,
                                int(event_count * HOT_REPO_FRACTION))
            # sorted, so manifests are deterministic
            hot_repos = sorted(r["repo"] for r in collected
                               if r["_set"] == by_repo
                               and r["rows"] > hot_threshold)

            # LWW dedup: last event per key inside the batch wins.  Instead of
            # a window over the full rows — which shuffles the (multi-KB)
            # content column — the winning (key, offset, op) tuples come from
            # the metadata-only (repo, path) set of the aggregate above and
            # semi-join the batch.  No join hint: win_meta reads the cache
            # the collect filled, so its size statistic is exact and
            # autoBroadcastJoinThreshold picks broadcast for driver-sized
            # winner sets and a shuffle join past it.  Winner content is
            # consumed exactly once — by the extraction pipeline — straight
            # off the parquet scan.  Delete winners go along: extraction
            # turns each into a tombstone of the snapshot journal.
            win_meta = meta.filter(F.col("_set") == by_key).select(
                *KEY, "_win.offset", "_win.op")
            winners = batch.join(win_meta, on=[*KEY, "offset", "op"],
                                 how="leftsemi")

            # --- skew: hot repos are salted by path for the parse ------------
            # Parse-stage partitioning: the no-shuffle path inherits the
            # scan partitioning (session sets files.maxPartitionBytes low
            # enough for full parallelism — python parse cost per byte is
            # ~10× scan cost per byte).  With hot repos, one repartition by
            # repo plus path-for-hot-repos-only (null for the rest) spreads
            # a giant repo over every partition (north rule's skew
            # contract) and keeps each cold repo together.
            if hot_repos:
                salted = winners.repartition(
                    self.spark.sparkContext.defaultParallelism, "repo",
                    F.when(F.col("repo").isin(hot_repos), F.col("path")))
            else:
                salted = winners

            # --- extraction (the payload) ---------------------------------------
            # The envelope is parsed ONCE and written to parquet — and that
            # write IS the delta of every table: the sink appends the dir
            # to its log as it is, so the multi-KB payload hits disk exactly
            # once per batch and the commit writes only its manifest.  The
            # lineage rows, already on the driver, join the envelope as an
            # Arrow LocalRelation (no Python RDD, no job of its own) in ONE
            # partition, so they add one file, not one per row.  A crashed
            # commit leaves only an orphan envelope dir; vacuum() removes it.
            lineage = self.spark.createDataFrame(pa.Table.from_pylist(
                lineage_rows, to_arrow_schema(schemas.LINEAGE))).coalesce(1)
            envelope = extract_envelope(
                salted, self.error_strategy,
                self.missing_field_strategy, self.missing_field_substitution,
                folder_expression=self.folder_expression
            ).unionByName(
                lineage.select(F.lit("lineage").alias("record_type"),
                               F.struct(*lineage.columns).alias("lineage")),
                allowMissingColumns=True,
            ).withColumn("_seq", F.lit(batch_id).cast("long"))
            stage_dir = self.sink.batch_dir(batch_id)
            # FLAT write — record_type stays a data column.  partitionBy
            # forced a per-task sort of the multi-KB envelope rows plus up
            # to 5× the files (measured +0.7 s per 500k-event batch warm,
            # 128 vs 32 files); per-table reads instead prune via the
            # record_type column + parquet column pruning (a messages read
            # decodes only the messages struct — other tables' bytes are
            # never touched).  Per-table row counts ride the SAME write
            # action as an Observation (no extra job).
            obs = Observation()
            observed = envelope.observe(obs, *[
                F.count(F.when(F.col("record_type") == t, 1)).alias(t)
                for t in TABLES])
            observed.write.mode("overwrite").parquet(
                self.sink.data_path(stage_dir))
            type_counts = obs.get

            stats = {
                "event_count": event_count,
                "upsert_count": upsert_count,
                "delete_count": delete_count,
                "hot_repos": hot_repos,
                "type_counts": type_counts,
            }
            # the envelope dir is every table's delta: the snapshot rows
            # and the delete tombstones — the sink's key-visibility journal
            # — ride it too (one per winner, sha256 computed in the extract
            # worker)
            self.sink.commit(
                batch_id=batch_id,
                offset_lo=offset_lo,
                offset_hi=offset_hi,
                dir=stage_dir,
                schemas=TABLES,
                stats=stats,
                epoch=epoch,
                stream_id=stream_id,
            )
            return BatchResult(batch_id, offset_lo, offset_hi,
                               event_count, upsert_count, delete_count,
                               hot_repos=tuple(hot_repos))
        finally:
            # a failed commit leaves the envelope dir as an orphan — it is
            # permanent data once the manifest references it, so cleanup
            # belongs to vacuum(), not to this code path
            meta.unpersist()

    # --- full replay --------------------------------------------------------------

    def replay(self, events: DataFrame, *, batch_size: int = 10_000,
               max_batches: int | None = None) -> list[BatchResult]:
        """Replay an offset-ordered change log in micro-batches, resuming
        from the sink's checkpoint.  ``events`` must carry a dense-ish
        monotone ``offset`` column; batching is by offset range (the static
        analog of maxOffsetsPerTrigger)."""
        max_offset_row = events.agg(F.max("offset").alias("m")).collect()[0]
        max_offset = max_offset_row["m"]
        if max_offset is None:
            return []
        results: list[BatchResult] = []
        lo = self.next_offset()
        batch_id = self.next_batch_id()
        n = 0
        while lo <= max_offset:
            hi = lo + batch_size - 1
            batch = events.filter((F.col("offset") >= lo) & (F.col("offset") <= hi))
            results.append(self.apply_batch(batch, batch_id, lo, hi))
            lo = hi + 1
            batch_id += 1
            n += 1
            if max_batches is not None and n >= max_batches:
                break
        return results

    # --- convenience readers ---------------------------------------------------

    def table(self, name: str) -> DataFrame:
        df = self.sink.read_table(name)
        if df is not None:
            return df
        return self.spark.createDataFrame([], TABLES[name])
