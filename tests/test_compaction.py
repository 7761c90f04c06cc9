"""MOR compaction tests: the fold path must preserve exact state."""

import json
import os
import shutil

import pytest
from pyspark.sql import DataFrameWriter
from pyspark.sql import functions as F

from emailcdc import schemas
from emailcdc.engine import CdcEngine
from emailcdc.fixtures import expected_final_state, make_change_events
from emailcdc.sink import ALL_TABLES, SnapshotParquetSink
from emailcdc.udfs import TOMBSTONE

EVENTS = make_change_events(30)
EXPECTED = expected_final_state(EVENTS)


def _snap(engine):
    return {(r["repo"], r["path"]): r for r in engine.table("snapshot").collect()}


class TestCompaction:
    def test_fold_preserves_state(self, spark, sink_dir):
        # compact_every=2 → folds happen repeatedly mid-replay
        sink = SnapshotParquetSink(spark, sink_dir, n_buckets=8, compact_every=2)
        eng = CdcEngine(spark, sink)
        eng.replay(spark.createDataFrame(EVENTS, schema=schemas.CHANGE_EVENTS),
                   batch_size=10)
        rows = _snap(eng)
        assert set(rows) == set(EXPECTED)
        for key, ev in EXPECTED.items():
            assert rows[key]["commit"] == ev["commit"]
        # fold actually happened: delta depth reset and dir lists collapsed
        manifest = sink.read_manifest()
        assert manifest.delta_depth < 2
        assert len(manifest.dirs) <= 2

    def test_messages_replaced_across_fold(self, spark, sink_dir):
        from emailcdc.fixtures import make_eml
        key = {"repo": "r", "path": "a.eml", "lang": "eml"}
        events = [
            {"offset": i, "op": "I" if i == 0 else "U", "ts": None, **key,
             "commit": f"c{i}", "content": make_eml(i)}
            for i in range(6)
        ]
        sink = SnapshotParquetSink(spark, sink_dir, n_buckets=4, compact_every=2)
        eng = CdcEngine(spark, sink)
        eng.replay(spark.createDataFrame(events, schema=schemas.CHANGE_EVENTS),
                   batch_size=1)
        msgs = eng.table("messages").collect()
        assert len(msgs) == 1
        assert msgs[0]["subject"] == "report 5"

    def test_compact_now_idempotent_reads(self, spark, sink_dir):
        sink = SnapshotParquetSink(spark, sink_dir, n_buckets=8, compact_every=100)
        eng = CdcEngine(spark, sink)
        eng.replay(spark.createDataFrame(EVENTS, schema=schemas.CHANGE_EVENTS),
                   batch_size=20)
        before = _snap(eng)
        msgs_before = eng.table("messages").count()
        sink.compact_now(sink.current_snapshot_id() + 1)
        assert _snap(eng) == before
        assert eng.table("messages").count() == msgs_before
        # vacuum after compaction removes superseded deltas; reads intact
        removed = sink.vacuum()
        assert removed > 0
        assert _snap(eng) == before

    def test_delete_survives_fold(self, spark, sink_dir):
        key = {"repo": "r", "path": "p.txt", "lang": "txt"}
        events = [
            {"offset": 0, "op": "I", "ts": None, **key, "commit": "c0", "content": "v0"},
            {"offset": 1, "op": "U", "ts": None, **key, "commit": "c1", "content": "v1"},
            {"offset": 2, "op": "D", "ts": None, **key, "commit": None, "content": None},
            {"offset": 3, "op": "I", "ts": None, "repo": "r2", "path": "q.txt",
             "lang": "txt", "commit": "c3", "content": "v3"},
        ]
        sink = SnapshotParquetSink(spark, sink_dir, n_buckets=4, compact_every=2)
        eng = CdcEngine(spark, sink)
        eng.replay(spark.createDataFrame(events, schema=schemas.CHANGE_EVENTS),
                   batch_size=1)
        rows = _snap(eng)
        assert set(rows) == {("r2", "q.txt")}

    def test_folding_commit_runs_four_jobs(self, spark, sink_dir,
                                           monkeypatch):
        """The fold reads the log in one scan: the journal's aggregate,
        its broadcast, the bucket shuffle and the write are its only
        jobs."""
        sink = SnapshotParquetSink(spark, sink_dir, n_buckets=8,
                                   compact_every=2)
        sc, group, commit = spark.sparkContext, "test-folding-commit", \
            sink.commit

        def grouped(*args, **kwargs):
            sc.setJobGroup(group, "sink commit")
            try:
                return commit(*args, **kwargs)
            finally:
                sc.setLocalProperty("spark.jobGroup.id", None)

        monkeypatch.setattr(sink, "commit", grouped)
        CdcEngine(spark, sink).replay(
            spark.createDataFrame(EVENTS, schema=schemas.CHANGE_EVENTS),
            batch_size=15, max_batches=2)
        assert sink.read_manifest().delta_depth == 0  # batch 2 folded
        assert 0 < len(sc.statusTracker().getJobIdsForGroup(group)) <= 4


def _fold_log(batch_size):
    """A generated log (inserts, updates, deletes) plus a tail whose last
    batch is a folding batch under ``compact_every=2``: it reinserts a key
    the batch before deleted, and deletes then reinserts another key."""
    from emailcdc.fixtures import make_eml, make_mbox
    events = make_change_events(16, seed=11, delete_fraction=0.3)
    mbox_key = next(k for k in expected_final_state(events)
                    if k[1].endswith(".mbox"))

    def ev(offset, op, repo, path, lang, content):
        return {"offset": offset, "op": op, "ts": None, "repo": repo,
                "path": path, "lang": lang,
                "commit": None if op == "D" else f"t{offset}",
                "content": None if op == "D" else content}

    lo = -(-len(events) // batch_size) * batch_size  # the delete batch
    assert len(events) <= lo - 2 and (lo // batch_size + 1) % 2 == 1
    events += [ev(lo - 2, "I", "tail", "a.eml", "eml", make_eml(900)),
               ev(lo - 1, "I", "tail", "bad.pst", "pst", "%%%"),
               ev(lo, "D", "tail", "a.eml", "eml", None),
               ev(lo + 1, "I", "tail", "b.eml", "eml", make_eml(901))]
    lo += batch_size  # the folding batch
    events += [ev(lo, "I", "tail", "a.eml", "eml", make_eml(902)),
               ev(lo + 1, "D", *mbox_key, "mbox", None),
               ev(lo + 2, "I", *mbox_key, "mbox", make_mbox(2, start_seq=903)),
               ev(lo + 3, "U", "tail", "b.eml", "eml", make_eml(904)),
               ev(lo + 4, "I", "tail", "bad2.pst", "pst", "%%%")]
    return events


def _tables(sink):
    """Each of the six tables as a sorted list of row JSON."""
    return {t: sorted(json.dumps(r.asDict(recursive=True), sort_keys=True,
                                 default=repr)
                      for r in sink.read_table(t).collect())
            for t in ALL_TABLES}


def _assert_folded_marks(sink):
    """A fold leaves the log as one entry, the one envelope base all six
    tables, the snapshot journal included, share: one snapshot row per
    key, and every row live (no tombstone or deleted key survives)."""
    manifest = sink.read_manifest()
    assert manifest.delta_depth == 0
    assert manifest.dirs == [f"_envelope/base-{manifest.snapshot_id}"]
    assert set(manifest.schemas) == set(ALL_TABLES)
    rt = F.col("record_type")
    base = sink._envelope(manifest).filter(rt.isin("snapshot", TOMBSTONE)) \
        .select("snapshot.repo", "snapshot.path",
                (rt == TOMBSTONE).alias(TOMBSTONE))
    assert base.count() == base.select("repo", "path").distinct().count()
    assert base.count() == sink.read_table("snapshot").count()
    assert base.filter(TOMBSTONE).count() == 0


class TestFoldDifferential:
    """Folding must not change what a read sees: the same log through a
    sink that folds every second batch and one that never folds reads
    back the same rows, and so does a forced fold of either."""

    def test_fold_matches_unfolded(self, spark, tmp_path, uninterrupted):
        batch_size = 8
        events = spark.createDataFrame(_fold_log(batch_size),
                                       schema=schemas.CHANGE_EVENTS)
        every2, folded = uninterrupted  # compact_every=2, n_buckets=4
        sinks = {1000: SnapshotParquetSink(spark, str(tmp_path / "every1000"),
                                           n_buckets=4, compact_every=1000)}
        CdcEngine(spark, sinks[1000]).replay(events, batch_size=batch_size)
        unfolded = _tables(sinks[1000])
        assert folded == unfolded
        assert folded["failures"] and folded["calendar_entries"]
        assert '"path": "a.eml"' in "".join(folded["snapshot"])
        _assert_folded_marks(every2)
        assert sinks[1000].read_manifest().delta_depth > 1
        # the fold left no batch's envelope dir referenced
        every2.vacuum()
        assert not [d for d in os.listdir(os.path.join(
            every2.root, "data", "_envelope")) if d.startswith("batch-")]

        shutil.copytree(every2.root, tmp_path / "every2")
        sinks[2] = _kill_sink(spark, str(tmp_path / "every2"))
        for sink in sinks.values():
            sink.compact_now(sink.current_snapshot_id() + 1)
            _assert_folded_marks(sink)
            assert _tables(sink) == unfolded


class _Crash(Exception):
    pass


def _crash(*args, **kwargs):
    raise _Crash


def _kill_sink(spark, path):
    return SnapshotParquetSink(spark, path, n_buckets=4, compact_every=2)


@pytest.fixture(scope="module")
def uninterrupted(spark, tmp_path_factory):
    """``_fold_log(8)`` replayed with no kill (the last batch folds): the
    sink, and its tables as read before any ``compact_now``."""
    events = spark.createDataFrame(_fold_log(8), schema=schemas.CHANGE_EVENTS)
    ref = _kill_sink(spark, str(tmp_path_factory.mktemp("uninterrupted")))
    CdcEngine(spark, ref).replay(events, batch_size=8)
    return ref, _tables(ref)


class TestKillPoints:
    """A commit killed at a write boundary leaves a sink that a fresh
    engine's replay, then vacuum(), brings to the uninterrupted replay's
    tables."""

    @pytest.mark.parametrize("boundary",
                             ["commit_entry", "before_current", "mid_fold"])
    def test_resume_after_kill(self, spark, tmp_path, monkeypatch,
                               uninterrupted, boundary):
        batch_size = 8
        log = _fold_log(batch_size)
        events = spark.createDataFrame(log, schema=schemas.CHANGE_EVENTS)
        # the last batch folds (compact_every=2), the one before is a delta
        n_batches = max(e["offset"] for e in log) // batch_size + 1
        kill = n_batches if boundary == "mid_fold" else n_batches - 1
        root = str(tmp_path / "killed")

        CdcEngine(spark, _kill_sink(spark, root)).replay(
            events, batch_size=batch_size, max_batches=kill - 1)
        if boundary == "commit_entry":  # the envelope dir is written
            monkeypatch.setattr(SnapshotParquetSink, "commit", _crash)
            evidence = os.path.join(root, "data", "_envelope",
                                    f"batch-{kill}")
        elif boundary == "before_current":  # the manifest file is written
            replace = os.replace
            monkeypatch.setattr(os, "replace", lambda src, dst: _crash()
                                if os.path.basename(dst) == "CURRENT"
                                else replace(src, dst))
            evidence = os.path.join(root, "manifests",
                                    f"manifest-{kill}.json")
        else:  # the batch's deltas are written, the fold's one write dies
            parquet = DataFrameWriter.parquet
            monkeypatch.setattr(
                DataFrameWriter, "parquet", lambda self, path, *a, **kw:
                _crash() if path.endswith(os.path.join("_envelope", f"base-{kill}"))
                else parquet(self, path, *a, **kw))
            evidence = os.path.join(root, "data", "_envelope",
                                    f"batch-{kill}")
        with pytest.raises(_Crash):
            CdcEngine(spark, _kill_sink(spark, root)).replay(
                events, batch_size=batch_size)
        monkeypatch.undo()
        assert _kill_sink(spark, root).current_snapshot_id() == kill - 1
        assert os.path.exists(evidence)
        if boundary == "mid_fold":
            assert not os.path.exists(
                os.path.join(root, "manifests", f"manifest-{kill}.json"))
            # the batch's lineage rows rode its one envelope write
            lineage = spark.read.parquet(evidence) \
                .filter("record_type = 'lineage'").select("lineage.*")
            assert {r["batch_id"] for r in lineage.collect()} == {kill}

        resumed = _kill_sink(spark, root)
        CdcEngine(spark, resumed).replay(events, batch_size=batch_size)
        resumed.vacuum()
        assert resumed.current_snapshot_id() == n_batches
        assert _tables(resumed) == uninterrupted[1]


class TestCopiedSink:
    """Manifests name data dirs relative to the sink root, so a copied
    sink reads and vacuums its own files, not the original's."""

    def test_copy_outlives_original(self, spark, tmp_path, uninterrupted):
        original, copy = tmp_path / "original", tmp_path / "copy"
        shutil.copytree(uninterrupted[0].root, original)  # a folded sink
        shutil.copytree(original, copy)
        sink = _kill_sink(spark, str(copy))
        sink.vacuum()
        manifest = sink.read_manifest()
        assert os.path.isdir(os.path.join(
            copy, "data", "_envelope", f"base-{manifest.snapshot_id}"))
        for d in manifest.dirs:
            assert os.path.isdir(os.path.join(copy, "data", d)), d
        shutil.rmtree(original)
        assert _tables(sink) == uninterrupted[1]
