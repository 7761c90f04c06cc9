"""Engine-level schema evolution (mid-replay additive column — north rule)
and the control-table surface."""

from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType

from emailcdc import schemas
from emailcdc.engine import CdcEngine
from emailcdc.fixtures import expected_final_state, make_change_events
from emailcdc.sink import SnapshotParquetSink

EVENTS = make_change_events(24)
EXPECTED = expected_final_state(EVENTS)


class _EngineV2(CdcEngine):
    """Simulates an engine upgrade that enriches the snapshot schema with a
    new column mid-stream (additive evolution against the sink schema)."""

    def apply_batch(self, batch, batch_id, offset_lo=None, offset_hi=None):
        # patch the snapshot rows AFTER the stock pipeline builds them by
        # intercepting the sink commit
        orig_commit = self.sink.commit

        def commit_with_extra(**kw):
            # the stock engine commits its envelope dir as it is; a v2
            # rewrites the whole envelope into its own dir, whose snapshot
            # struct gains a column, and commits that as the batch's dir
            v2_dir = f"_envelope/v2-{batch_id}"
            self.spark.read.parquet(self.sink.data_path(kw["dir"])).withColumn(
                "snapshot", F.col("snapshot").withField(
                    "content_length", F.lit(batch_id * 1000).cast("long"))
            ).write.parquet(self.sink.data_path(v2_dir))
            # fresh objects: StructType.add would mutate schemas.SNAPSHOT,
            # and kw["schemas"] is the engine's own table map
            v2_schema = StructType(
                list(kw["schemas"]["snapshot"].fields)
                + [StructField("content_length", LongType())])
            kw["dir"] = v2_dir
            kw["schemas"] = {**kw["schemas"], "snapshot": v2_schema}
            return orig_commit(**kw)

        self.sink.commit = commit_with_extra
        try:
            return super().apply_batch(batch, batch_id, offset_lo, offset_hi)
        finally:
            self.sink.commit = orig_commit


class TestEngineSchemaEvolution:
    def test_additive_column_mid_replay(self, spark, sink_dir):
        sink = SnapshotParquetSink(spark, sink_dir, n_buckets=8)
        edf = spark.createDataFrame(EVENTS, schema=schemas.CHANGE_EVENTS)
        # v1 engine applies the first half of the stream
        v1 = CdcEngine(spark, sink)
        v1.replay(edf, batch_size=30, max_batches=1)
        # v2 engine (new snapshot column) resumes from the checkpoint
        v2 = _EngineV2(spark, sink)
        v2.replay(edf, batch_size=30)
        # the snapshot delta holds only snapshot rows — no envelope row of
        # another table leaks in as a null-key row
        manifest = sink.read_manifest()
        deltas = sink._envelope(manifest) \
            .filter(F.col("record_type") == "snapshot").select("snapshot.*")
        assert deltas.filter(F.col("repo").isNull()).count() == 0
        snap = v2.table("snapshot")
        assert "content_length" in snap.columns
        rows = {(r["repo"], r["path"]): r for r in snap.collect()}
        assert set(rows) == set(EXPECTED)
        # keys last written by v1 read the new column as null; v2 keys have it
        v1_nulls = [r for r in rows.values() if r["content_length"] is None]
        v2_filled = [r for r in rows.values() if r["content_length"] is not None]
        assert v1_nulls and v2_filled

    def test_evolution_survives_compaction(self, spark, sink_dir):
        sink = SnapshotParquetSink(spark, sink_dir, n_buckets=8, compact_every=2)
        edf = spark.createDataFrame(EVENTS, schema=schemas.CHANGE_EVENTS)
        CdcEngine(spark, sink).replay(edf, batch_size=20, max_batches=1)
        _EngineV2(spark, sink).replay(edf, batch_size=20)  # triggers folds
        snap = sink.read_table("snapshot")
        assert "content_length" in snap.columns
        assert {(r["repo"], r["path"]) for r in snap.collect()} == set(EXPECTED)


class TestControlTable:
    def test_manifests_df(self, spark, sink_dir):
        sink = SnapshotParquetSink(spark, sink_dir, n_buckets=8)
        eng = CdcEngine(spark, sink)
        eng.replay(spark.createDataFrame(EVENTS, schema=schemas.CHANGE_EVENTS),
                   batch_size=25)
        ctl = sink.manifests_df().orderBy("batch_id").collect()
        assert len(ctl) >= 2
        assert sum(r["event_count"] for r in ctl) == len(EVENTS)
        # offset ranges tile the stream
        assert ctl[0]["offset_lo"] == 0
        for prev, cur in zip(ctl, ctl[1:]):
            assert cur["offset_lo"] == prev["offset_hi"] + 1
        # per-batch envelope row counts, as the manifest records them
        for r in ctl:
            assert r["type_counts"] == \
                sink.read_manifest(r["snapshot_id"]).stats["type_counts"]
        assert sum(r["type_counts"]["snapshot"] for r in ctl) > 0
