"""SnapshotParquetSink — an Iceberg-style multi-table MOR sink emulation.

The sink implements the contract Iceberg v2 gives (merge-on-read upserts
+ snapshot isolation + safe schema evolution) over plain parquet files and
JSON manifests, so it needs no Iceberg runtime (SURVEY.md §4 item 2).

Design (merge-on-read, like Iceberg v2 position/equality deletes or Hudi
MOR — chosen over copy-on-write because a WAL tail whose keys spread over
the whole key space would otherwise rewrite the entire sink every batch):

- **Append-only delta commits.**  A batch commit registers, per table,
  one immutable delta of new rows stamped with ``_seq = batch_id``: the
  envelope dir the engine already wrote, so a commit writes only its
  manifest.  A commit reads NOTHING — O(batch), not O(sink).
- **One data-dir format.**  Every data dir is envelope-shaped
  (``record_type``, one struct column per table, a top-level ``_seq``),
  and manifests name dirs relative to ``<root>/data`` — so a copied or
  moved sink reads and vacuums only its own files.
- **The snapshot table is the visibility journal.**  Like Iceberg v2,
  where data rows carry their sequence number and only deletes get extra
  records, every key the batch touched has one snapshot row: an upsert's
  row, or a delete's *tombstone* (envelope record type ``_delete``).  A
  key's live row is its latest snapshot row unless that is a tombstone;
  a keyed table's row is visible iff its ``_seq`` equals the live row's.
  All keyed tables share it (an upsert replaces ALL tables' rows for the
  key — the reference reprocesses the whole file, SURVEY.md §2.1 K1).
- **Compaction is the MOR read written back.**  When the sink's delta
  depth (commits since the last fold) reaches ``compact_every``, the
  commit registers its delta as usual and then folds every table: the
  VISIBLE rows (``_visible``, as ``read_table``) of all five envelope
  tables, append tables included, and all ``lineage`` rows become ONE
  envelope base clustered on ``_bucket``.  Amortized
  O(sink / compact_every) per batch, exactly Iceberg's rewrite_data_files
  maintenance.  The base holds no tombstones: the fold rewrote every
  table, so no older row of a deleted key survives.
- **Manifests + atomic pointer flip.**  Each commit writes
  ``manifests/manifest-<snapshot_id>.json`` (snapshot_id == batch_id →
  idempotent replay) and atomically replaces ``CURRENT`` (``os.replace``).
  A crash before the flip leaves only orphan files; ``vacuum()`` removes
  them.  Resume = read offsets off the CURRENT manifest.
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
import functools
import json
import os
import shutil
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession, Window
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
class EnvelopedDir:
    """A table's delta, the only form ``commit`` takes: data ALREADY ON
    DISK in the envelope-shaped data dir named ``dir`` (relative to
    ``<root>/data``, e.g. the sink's ``batch_dir``; one dir holds every
    table's rows of a batch).  The commit registers ``dir`` as the table's
    manifest entry and writes nothing for the table (zero-copy delta).
    ``schema`` is the table's row schema, known statically, so commit-time
    schema checks and reads need no footers."""
    dir: str
    schema: StructType


@dataclass
class Manifest:
    snapshot_id: int
    batch_id: int
    offset_lo: int
    offset_hi: int
    # table -> list of data dir names relative to <root>/data (each dir =
    # one commit's delta or a fold's base), e.g. "_envelope/batch-5"
    tables: dict = field(default_factory=dict)
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
        commit point."""
        for path, text in ((self._manifest_path(manifest.snapshot_id),
                            manifest.to_json()),
                           (self._current_path, str(manifest.snapshot_id))):
            with open(path + ".tmp", "w") as fh:
                fh.write(text)
                fh.flush()
                os.fsync(fh.fileno())
            os.replace(path + ".tmp", path)

    # --- reads --------------------------------------------------------------

    def _live_marks(self, manifest: Manifest) -> DataFrame | None:
        """The snapshot table's live rows: the latest snapshot row per key
        (``_seq`` included), dropped when it is a tombstone."""
        rows = self._read_dirs(manifest, "snapshot", tombstones=True)
        if rows is None:
            return None
        w = Window.partitionBy(*KEY).orderBy(F.desc(SEQ))
        return (
            rows.withColumn("_rn", F.row_number().over(w))
            .filter((F.col("_rn") == 1) & ~F.col(TOMBSTONE))
            .drop("_rn", TOMBSTONE)
        )

    def _read_dirs(self, manifest: Manifest, table: str,
                   tombstones: bool = False) -> DataFrame | None:
        """Union ``table``'s data dirs at ``manifest``, read with its
        manifest schema (a dir with no data files reads as no rows).  Every
        dir is envelope-shaped: rows of record type ``table`` hold its
        columns inside struct ``table``, ``_seq`` is top-level — so parquet
        column pruning never decodes the other tables' payload bytes.  With
        ``tombstones`` (snapshot only) the envelope's tombstones are read
        too, flagged by a boolean ``_delete`` column."""
        entries = manifest.tables.get(table)
        if not entries:
            return None
        schema = StructType.fromJson(json.loads(manifest.schemas[table]))
        row = StructType([f for f in schema.fields if f.name != SEQ])
        rt = F.col("record_type")
        types = (table, TOMBSTONE) if tombstones else (table,)
        rows = (
            self.spark.read.schema(StructType([
                StructField("record_type", StringType()),
                StructField(table, row), StructField(SEQ, LongType())]))
            .parquet(*map(self.data_path, entries))
            .filter(rt.isin(*types))
            .select(f"{table}.*", SEQ, (rt == TOMBSTONE).alias(TOMBSTONE)))
        return rows if tombstones else rows.drop(TOMBSTONE)

    def _visible(self, manifest: Manifest, table: str,
                 live: DataFrame | None) -> DataFrame | None:
        """Rows of ``table`` visible at ``manifest``: those whose ``_seq`` is
        their key's live row's (``live`` = _live_marks, which IS the visible
        snapshot table); all if ``live`` is None."""
        if table == "snapshot":
            return live
        rows = self._read_dirs(manifest, table)
        if rows is None or live is None:
            return rows
        return (
            rows.join(live.select(*KEY, F.col(SEQ).alias("_live_seq")),
                      on=KEY, how="inner")
            .filter(F.col(SEQ) == F.col("_live_seq"))
            .drop("_live_seq")
        )

    def read_table(self, table: str) -> DataFrame | None:
        """Current visible snapshot of a table (MOR merge of base+deltas)."""
        manifest = self.read_manifest()
        if manifest is None or table not in manifest.tables:
            return None
        live = None if table in APPEND_TABLES else self._live_marks(manifest)
        rows = self._visible(manifest, table, live)
        return None if rows is None else rows.drop(SEQ)

    # --- schema evolution ----------------------------------------------------

    @staticmethod
    def _check_schema(prev_schema_json: str | None, new_schema) -> None:
        """Additive-only evolution: reject type changes for same-named
        columns (new columns are fine — reads use the merged manifest
        schema, so old rows read them as null)."""
        if not prev_schema_json:
            return
        prev = StructType.fromJson(json.loads(prev_schema_json))
        prev_types = {f.name: f.dataType.simpleString() for f in prev.fields}
        for f in new_schema.fields:
            old = prev_types.get(f.name)
            if old is not None and old != f.dataType.simpleString():
                raise ValueError(
                    f"unsafe schema evolution on '{f.name}': {old} → "
                    f"{f.dataType.simpleString()}")

    @staticmethod
    def _merged_schema_json(prev_schema_json: str | None, new_schema) -> str:
        if not prev_schema_json:
            return new_schema.json()
        prev = StructType.fromJson(json.loads(prev_schema_json))
        names = {f.name for f in prev.fields}
        merged = StructType(list(prev.fields) +
                            [f for f in new_schema.fields if f.name not in names])
        return merged.json()

    # --- commit --------------------------------------------------------------

    def commit(
        self,
        batch_id: int,
        offset_lo: int,
        offset_hi: int,
        tables: dict[str, EnvelopedDir],
        stats: dict | None = None,
        epoch: int | None = None,
        stream_id: str | None = None,
    ) -> Manifest:
        """MOR-commit a batch and atomically publish snapshot ``batch_id``.

        ``tables[t]`` is table ``t``'s delta, an EnvelopedDir; a table
        with no entry gets no delta.  Rows of a keyed table replace ALL
        existing rows for their key (visibility via the snapshot journal:
        the snapshot delta must hold one row or tombstone per key the batch
        touched); rows of an append table add to it.  A commit writes only
        its manifest and CURRENT; the commit that brings the delta depth to
        ``compact_every`` first folds the sink into one base (``_fold``).
        """
        prev = self.read_manifest()
        snapshot_id = batch_id

        new_tables: dict[str, list] = {}
        new_schemas: dict[str, str] = {}

        # Each table's delta is registered as it is (zero-copy).
        for table in ALL_TABLES:
            prev_dirs = list(prev.tables.get(table, [])) if prev else []
            prev_schema = prev.schemas.get(table) if prev else None
            new_tables[table] = prev_dirs
            if prev_schema:
                new_schemas[table] = prev_schema
            delta = tables.get(table)
            if delta is None:
                continue
            schema = StructType(delta.schema.fields
                                + [StructField(SEQ, LongType(), False)])
            self._check_schema(prev_schema, schema)
            new_tables[table] = prev_dirs + [delta.dir]
            new_schemas[table] = self._merged_schema_json(prev_schema, schema)

        manifest = Manifest(
            snapshot_id=snapshot_id,
            batch_id=batch_id,
            offset_lo=offset_lo,
            offset_hi=offset_hi,
            tables=new_tables,
            schemas=new_schemas,
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
        """``manifest`` folded in ONE write: every table's visible rows
        (append tables: all of them), projected back into envelope shape
        and clustered on ``bucket_expr`` (``lineage``, which has no key, in
        one constant bucket), as the envelope base that becomes each
        table's single entry.

        The output goes to a ``base-<id>`` dir: the fold reads this
        commit's own ``batch-<id>`` delta.  The visible snapshot table IS
        the live marks, persisted once for the snapshot rows and the keyed
        tables' visibility joins.
        """
        base = f"_envelope/base-{manifest.snapshot_id}"
        live = self._live_marks(manifest)
        if live is not None:
            live = live.persist()
        try:
            rows = {t: self._visible(manifest, t,
                                     None if t in APPEND_TABLES else live)
                    for t in ALL_TABLES if manifest.tables.get(t)}
            types = {t: r.drop(SEQ).schema for t, r in rows.items()}
            if rows:
                # each table's rows back in envelope shape (its own struct,
                # the others null), bucketed while repo, path are top-level
                envelope = functools.reduce(DataFrame.union, [
                    r.select(F.lit(t).alias("record_type"), *[
                        (F.struct(*types[u].fieldNames()) if u == t
                         else F.lit(None).cast(types[u])).alias(u)
                        for u in types], SEQ,
                        (F.lit(0) if t == "lineage"
                         else bucket_expr(self.n_buckets)).alias("_bucket"))
                    for t, r in rows.items()])
                # folds cover the FULL live key set: a fixed small partition
                # count would write quarter-billion-row tasks at 10^9 keys
                envelope.repartition(min(self.n_buckets, 32), "_bucket") \
                    .drop("_bucket") \
                    .write.mode("overwrite").parquet(self.data_path(base))
        finally:
            if live is not None:
                live.unpersist()
        return dataclasses.replace(
            manifest, tables={**manifest.tables, **{t: [base] for t in rows}},
            delta_depth=0)

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
        ``_envelope/batch-N`` and ``_envelope/base-N``) that the current
        manifest does not name (orphans from crashed commits or superseded
        snapshots).

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
        live = {d for dirs in manifest.tables.values() for d in dirs} \
            if manifest else set()
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
