"""SnapshotParquetSink — an Iceberg-style multi-table MOR sink emulation.

The sink implements the contract Iceberg v2 gives (merge-on-read upserts
+ snapshot isolation + safe schema evolution) over plain parquet files and
JSON manifests, so it needs no Iceberg runtime (SURVEY.md §4 item 2).

Design (merge-on-read, like Iceberg v2 position/equality deletes or Hudi
MOR — chosen over copy-on-write because a WAL tail whose keys spread over
the whole key space would otherwise rewrite the entire sink every batch):

- **Append-only delta commits.**  A batch commit appends one immutable
  delta to the manifest's one list of dirs: the envelope dir the engine
  already wrote, every table's rows of the batch stamped with
  ``_seq = batch_id``, so a commit writes only its manifest.  A commit
  reads NOTHING — O(batch), not O(sink).
- **One data-dir format.**  Every data dir is envelope-shaped
  (``record_type``, one struct column per table, a top-level ``_seq``),
  and manifests name dirs relative to ``<root>/data`` — so a copied or
  moved sink reads and vacuums only its own files.  Reads scan every dir
  once (``_envelope``) and pick a table's rows by ``record_type``.
- **One visibility rule.**  Like Iceberg v2, where data rows carry their
  sequence number and only deletes get extra records, every key the
  batch touched has one snapshot row: an upsert's row, or a delete's
  *tombstone* (envelope record type ``_delete``).  The journal
  (``_live``) is one hash aggregate over those rows: per key, the latest
  ``_seq``, unless that row is a tombstone.  A keyed table's row is
  visible iff its ``_seq`` is its key's live ``_seq``; reads and the
  fold share this rule.  All keyed tables share it (an upsert replaces
  ALL tables' rows for the key — the reference reprocesses the whole
  file, SURVEY.md §2.1 K1).
- **Compaction is the MOR read written back.**  When the sink's delta
  depth (commits since the last fold) reaches ``compact_every``, the
  commit registers its delta as usual and then folds the log in one
  scan: the visible keyed rows and every append row stay in envelope
  shape and become ONE envelope base clustered on ``_bucket``, the
  manifest's one dir.  The base holds no tombstones: it replaces every
  dir, so no older row of a deleted key survives.  Amortized
  O(sink / compact_every) per batch, exactly Iceberg's rewrite_data_files
  maintenance.
- **Manifests + atomic pointer flip.**  Each commit writes
  ``manifests/manifest-<snapshot_id>.json`` (snapshot_id == batch_id →
  idempotent replay) and atomically replaces ``CURRENT`` (``os.replace``),
  fsyncing each file and then its directory.  A crash before the flip
  leaves only orphan files; ``vacuum()`` removes them.  Resume = read
  offsets off the CURRENT manifest.  The guarantee covers a process
  crash, not a power loss: the envelope parquet files are not fsynced.
- **Additive schema evolution.**  Commits diff the incoming schema against
  the manifest's recorded schema, reject type changes (Iceberg's
  safe-evolution default) and record the merge.  Reads use that schema,
  never parquet footers: a column a file lacks reads as null.

Tables: ``snapshot`` (live repos state), ``messages``, ``attachments``,
``calendar_entries`` (per-key detail rows, replaced on upsert) — keyed;
``failures``, ``lineage`` — append-only.
"""

from __future__ import annotations

import dataclasses
import json
import os
import shutil
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

from .udfs import TOMBSTONE

KEY = ["repo", "path"]
KEYED_TABLES = ("snapshot", "messages", "attachments", "calendar_entries")
APPEND_TABLES = ("failures", "lineage")
ALL_TABLES = KEYED_TABLES + APPEND_TABLES
SEQ = "_seq"


def bucket_expr(n_buckets: int):
    """Iceberg-style bucket transform on the upsert key."""
    return F.pmod(F.xxhash64(F.col("repo"), F.col("path")), F.lit(n_buckets)).cast("int")


@dataclass
class Manifest:
    snapshot_id: int
    batch_id: int
    offset_lo: int
    offset_hi: int
    # the log, oldest first: envelope dir names relative to <root>/data,
    # each one commit's delta or a fold's base, e.g. "_envelope/batch-5"
    dirs: list = field(default_factory=list)
    # table -> its merged row schema (JSON): the tables that exist and
    # the read schema of each one's envelope struct
    schemas: dict = field(default_factory=dict)
    stats: dict = field(default_factory=dict)
    delta_depth: int = 0  # deltas since last compaction
    # highest streaming epoch_id applied (None if never streamed): stream
    # idempotence is tracked HERE, decoupled from snapshot ids — epoch ids
    # and batch ids advance independently, so a compaction or batch replay
    # on the same sink can never collide with (and silently swallow) a
    # streaming epoch (ADVICE r1)
    last_epoch: int | None = None
    # identity of the streaming query that set last_epoch (the checkpoint's
    # query id): epoch ids only mean something within one checkpoint
    # lineage, so a cleared/fresh checkpoint (epochs restart at 0) or a
    # second query attached to the same sink gets a NEW id and a fresh
    # watermark namespace instead of silently dropping every epoch <=
    # last_epoch (ADVICE r2 — permanent data loss)
    stream_id: str | None = None

    def to_json(self) -> str:
        return json.dumps(self.__dict__, sort_keys=True)

    @staticmethod
    def from_json(text: str) -> "Manifest":
        return Manifest(**json.loads(text))


class SnapshotParquetSink:
    def __init__(self, spark: SparkSession, root: str, n_buckets: int = 64,
                 compact_every: int = 8):
        self.spark = spark
        self.root = root
        self.n_buckets = n_buckets
        self.compact_every = compact_every
        os.makedirs(os.path.join(root, "manifests"), exist_ok=True)
        os.makedirs(os.path.join(root, "data"), exist_ok=True)

    # --- pointer / manifest plumbing ---------------------------------------

    @property
    def _current_path(self) -> str:
        return os.path.join(self.root, "CURRENT")

    def _manifest_path(self, snapshot_id: int) -> str:
        return os.path.join(self.root, "manifests", f"manifest-{snapshot_id}.json")

    def data_path(self, name: str) -> str:
        """Where the data dir ``name`` (a manifest entry) lives."""
        return os.path.join(self.root, "data", name)

    @staticmethod
    def batch_dir(batch_id: int) -> str:
        """The name of the data dir batch ``batch_id``'s envelope goes to."""
        return f"_envelope/batch-{batch_id}"

    def current_snapshot_id(self) -> int | None:
        try:
            with open(self._current_path) as fh:
                return int(fh.read().strip())
        except FileNotFoundError:
            return None

    def read_manifest(self, snapshot_id: int | None = None) -> Manifest | None:
        if snapshot_id is None:
            snapshot_id = self.current_snapshot_id()
        if snapshot_id is None:
            return None
        with open(self._manifest_path(snapshot_id)) as fh:
            return Manifest.from_json(fh.read())

    def _publish(self, manifest: Manifest) -> None:
        """Write the manifest, then atomically flip CURRENT to it — the
        commit point.  Each file is fsynced before its replace and its
        directory after it, so the rename survives a crash too."""
        for path, text in ((self._manifest_path(manifest.snapshot_id),
                            manifest.to_json()),
                           (self._current_path, str(manifest.snapshot_id))):
            with open(path + ".tmp", "w") as fh:
                fh.write(text)
                fh.flush()
                os.fsync(fh.fileno())
            os.replace(path + ".tmp", path)
            fd = os.open(os.path.dirname(path), os.O_RDONLY)
            try:
                os.fsync(fd)
            finally:
                os.close(fd)

    # --- reads --------------------------------------------------------------

    def _envelope(self, manifest: Manifest) -> DataFrame:
        """The log at ``manifest``: every dir in one scan, read with the
        manifest's schemas (a dir with no data files reads as no rows).
        Each table's rows hold its columns inside struct ``table`` and
        ``_seq`` is top-level — so parquet column pruning never decodes
        the payload of a table a read does not select."""
        return self.spark.read.schema(StructType(
            [StructField("record_type", StringType())]
            + [StructField(t, StructType.fromJson(json.loads(s)))
               for t, s in manifest.schemas.items()]
            + [StructField(SEQ, LongType())])
        ).parquet(*map(self.data_path, manifest.dirs))

    @staticmethod
    def _live(env: DataFrame) -> DataFrame:
        """The visibility journal: ``_live_seq``, the ``_seq`` of each key's
        latest snapshot row, for the keys where that row is not a
        tombstone.  Packing both into ``max(_seq*2 + is_tombstone)`` makes
        it one hash aggregate (a commit holds one row or tombstone per
        key, so the low bit never breaks a tie)."""
        rt = F.col("record_type")
        return (
            env.filter(rt.isin("snapshot", TOMBSTONE))
            .groupBy(*[F.col(f"snapshot.{k}").alias(k) for k in KEY])
            .agg(F.max(F.col(SEQ) * 2 + (rt == TOMBSTONE).cast("long"))
                 .alias("_m"))
            .filter(F.col("_m") % 2 == 0)
            .select(*KEY, F.shiftright("_m", 1).alias("_live_seq"))
        )

    def read_table(self, table: str) -> DataFrame | None:
        """Current visible snapshot of a table (MOR merge of base+deltas):
        every row of an append table; a keyed table's rows whose ``_seq``
        is their key's live ``_seq``."""
        manifest = self.read_manifest()
        if manifest is None or table not in manifest.schemas:
            return None
        env = self._envelope(manifest)
        rows = env.filter(F.col("record_type") == table) \
            .select(f"{table}.*", SEQ)
        if table in KEYED_TABLES:
            rows = rows.join(self._live(env).withColumnRenamed("_live_seq", SEQ),
                             on=[*KEY, SEQ], how="leftsemi")
        return rows.drop(SEQ)

    # --- schema evolution ----------------------------------------------------

    @staticmethod
    def _merged_schema_json(prev_schema_json: str | None, new_schema) -> str:
        """Additive-only evolution: ``new_schema``'s new columns appended
        to the recorded schema (reads use the merged schema, so old rows
        read them as null); a type change of a same-named column raises."""
        if not prev_schema_json:
            return new_schema.json()
        prev = StructType.fromJson(json.loads(prev_schema_json))
        prev_types = {f.name: f.dataType.simpleString() for f in prev.fields}
        for f in new_schema.fields:
            old = prev_types.get(f.name)
            if old is not None and old != f.dataType.simpleString():
                raise ValueError(
                    f"unsafe schema evolution on '{f.name}': {old} → "
                    f"{f.dataType.simpleString()}")
        return StructType(list(prev.fields) + [
            f for f in new_schema.fields if f.name not in prev_types]).json()

    # --- commit --------------------------------------------------------------

    def commit(
        self,
        batch_id: int,
        offset_lo: int,
        offset_hi: int,
        dir: str,
        schemas: dict[str, StructType],
        stats: dict | None = None,
        epoch: int | None = None,
        stream_id: str | None = None,
    ) -> Manifest:
        """MOR-commit a batch and atomically publish snapshot ``batch_id``.

        ``dir`` is the batch's delta: an envelope-shaped data dir ALREADY ON
        DISK (relative to ``<root>/data``, e.g. ``batch_dir(batch_id)``),
        appended to the log as it is (zero-copy).  ``schemas`` maps each
        table the dir may hold rows of to its row schema, known statically;
        each is merged into the manifest's, so commit-time schema checks and
        reads need no footers.  Rows of a keyed table replace ALL existing
        rows for their key (visibility via the snapshot journal: the dir
        must hold one snapshot row or tombstone per key the batch touched);
        rows of an append table add to it.  A commit writes only its
        manifest and CURRENT; the commit that brings the delta depth to
        ``compact_every`` first folds the log into one base (``_fold``).
        """
        prev = self.read_manifest()
        merged = dict(prev.schemas) if prev else {}
        for table, schema in schemas.items():
            merged[table] = self._merged_schema_json(merged.get(table), schema)
        manifest = Manifest(
            snapshot_id=batch_id,
            batch_id=batch_id,
            offset_lo=offset_lo,
            offset_hi=offset_hi,
            dirs=(prev.dirs if prev else []) + [dir],
            schemas=merged,
            stats=stats or {},
            delta_depth=prev.delta_depth + 1 if prev else 1,
            # non-streaming commits carry the watermark forward so a stream
            # can resume after interleaved batch replays / compactions
            last_epoch=epoch if epoch is not None
            else (prev.last_epoch if prev else None),
            stream_id=stream_id if epoch is not None
            else (prev.stream_id if prev else None),
        )
        if manifest.delta_depth >= self.compact_every:
            manifest = self._fold(manifest)
        self._publish(manifest)
        return manifest

    def _fold(self, manifest: Manifest) -> Manifest:
        """``manifest``'s log folded in ONE scan and ONE write, by the
        reads' visibility rule: the visible keyed rows and every append
        row, still in envelope shape (tombstones dropped), clustered on
        ``bucket_expr`` (``lineage``, which has no key, in bucket 0), as
        the envelope base that becomes the manifest's one dir.

        The output goes to a ``base-<id>`` dir: the fold reads this
        commit's own ``batch-<id>`` delta.
        """
        base = f"_envelope/base-{manifest.snapshot_id}"
        env = self._envelope(manifest)
        rt = F.col("record_type")
        # a row's key, from whichever table's struct it holds
        structs = [t for t in manifest.schemas if t != "lineage"]
        (
            env.select("*", *[F.coalesce(*[F.col(f"{t}.{k}") for t in structs])
                              .alias(k) for k in KEY])
            .join(self._live(env), on=KEY, how="left")
            .filter(rt.isin(*APPEND_TABLES) | (F.col(SEQ) == F.col("_live_seq")))
            .withColumn("_bucket", F.when(rt == "lineage", 0)
                        .otherwise(bucket_expr(self.n_buckets)))
            # folds cover the FULL live key set: a fixed small partition
            # count would write quarter-billion-row tasks at 10^9 keys
            .repartition(min(self.n_buckets, 32), "_bucket")
            .select(*env.columns)
            .write.mode("overwrite").parquet(self.data_path(base))
        )
        return dataclasses.replace(manifest, dirs=[base], delta_depth=0)

    def manifests_df(self) -> DataFrame:
        """The commit-manifest journal as a DataFrame (control-table view:
        batch ids, offset ranges, per-batch stats — north rule's metrics).
        Reads every manifest file, committed or superseded."""
        import glob

        rows = []
        for path in sorted(glob.glob(os.path.join(self.root, "manifests", "manifest-*.json"))):
            with open(path) as fh:
                m = Manifest.from_json(fh.read())
            rows.append(
                {
                    "snapshot_id": m.snapshot_id,
                    "batch_id": m.batch_id,
                    "offset_lo": m.offset_lo,
                    "offset_hi": m.offset_hi,
                    "delta_depth": m.delta_depth,
                    "event_count": m.stats.get("event_count"),
                    "upsert_count": m.stats.get("upsert_count"),
                    "delete_count": m.stats.get("delete_count"),
                    "hot_repos": m.stats.get("hot_repos") or [],
                    "type_counts": m.stats.get("type_counts"),
                }
            )
        schema = ("snapshot_id long, batch_id long, offset_lo long, offset_hi long,"
                  " delta_depth int, event_count long, upsert_count long,"
                  " delete_count long, hot_repos array<string>,"
                  " type_counts map<string,long>")
        return self.spark.createDataFrame(rows, schema)

    # --- maintenance ----------------------------------------------------------

    def compact_now(self, batch_id: int) -> Manifest:
        """Publish the fold of the current snapshot as snapshot
        ``batch_id`` (no new data)."""
        prev = self.read_manifest()
        if prev is None:
            raise ValueError("nothing to compact")
        manifest = self._fold(dataclasses.replace(
            prev, snapshot_id=batch_id, batch_id=batch_id,
            stats={"compaction": True}))
        self._publish(manifest)
        return manifest

    @staticmethod
    def _dir_commit_id(name: str) -> int | None:
        """Trailing commit id of a data dir name (``batch-N``/``base-N``)."""
        tail = name.rsplit("-", 1)[-1]
        return int(tail) if tail.isdigit() else None

    def vacuum(self, quiesced: bool = False) -> int:
        """Remove the data dirs ``<root>/data/<group>/<dir>`` (in practice
        ``_envelope/batch-N`` and ``_envelope/base-N``) that are not in the
        current manifest's ``dirs`` (orphans from crashed commits or
        superseded snapshots).

        Dirs whose commit id EXCEEDS the current snapshot id are in-flight —
        an active replay/stream writes ``_envelope/batch-N`` BEFORE
        flipping CURRENT to N, so a concurrent vacuum must skip them or the
        subsequent commit registers deleted data (ADVICE r2: manifest
        permanently referencing a missing envelope dir).
        Pass ``quiesced=True`` only when no writer is active: it also
        collects above-CURRENT orphans (abandoned crashed commits)."""
        manifest = self.read_manifest()
        current = (float("inf") if quiesced
                   else (manifest.snapshot_id if manifest else 0))
        live = set(manifest.dirs) if manifest else set()
        removed = 0
        for table in os.listdir(self.data_path("")):
            for snap in os.listdir(self.data_path(table)):
                name = f"{table}/{snap}"
                cid = self._dir_commit_id(snap)
                if cid is not None and cid > current:
                    continue  # in-flight commit
                if name not in live:
                    shutil.rmtree(self.data_path(name), ignore_errors=True)
                    removed += 1
        return removed
