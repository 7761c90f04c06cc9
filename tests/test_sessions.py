"""Sessionization tests: batch vs python oracle, and the
applyInPandasWithState streaming variant vs the batch result."""

import datetime

from pyspark.sql import functions as F

from emailcdc.ops.sessions import sessionize, sessionize_stream

BASE = datetime.datetime(2024, 1, 1)


def _events(spark):
    rows = []
    # user 1: two sessions (40-min gap between event 2 and 3)
    for i, minutes in enumerate([0, 10, 50, 55]):
        rows.append((i, BASE + datetime.timedelta(minutes=minutes), 1, 2.0))
    # user 2: one session
    for i, minutes in enumerate([5, 20]):
        rows.append((10 + i, BASE + datetime.timedelta(minutes=minutes), 2, 3.0))
    return spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, value double")


class TestBatchSessionize:
    def test_gap_splits_sessions(self, spark):
        out = {(r["user_id"], r["session_idx"]): r
               for r in sessionize(_events(spark), gap_minutes=30).collect()}
        assert set(out) == {(1, 0), (1, 1), (2, 0)}
        assert out[(1, 0)]["n_events"] == 2
        assert out[(1, 1)]["n_events"] == 2
        assert out[(2, 0)]["n_events"] == 2
        assert out[(1, 0)]["total_value"] == 4.0

    def test_single_event_users(self, spark):
        df = spark.createDataFrame([(0, BASE, 9, 1.5)],
                                   "event_id long, ts timestamp, user_id long, value double")
        rows = sessionize(df).collect()
        assert len(rows) == 1 and rows[0]["n_events"] == 1


class TestStreamingSessionize:
    def test_closed_sessions_match_batch(self, spark, tmp_path):
        src = str(tmp_path / "ev")
        ckpt = str(tmp_path / "ckpt")
        events = _events(spark)
        events.coalesce(1).write.parquet(src)
        stream = spark.readStream.schema(events.schema).parquet(src)
        # A processing-time timeout asks for a no-data batch after every
        # batch, so with them on the query never drains and
        # processAllAvailable never returns.  The assertions below are on
        # gap-closed sessions only, which the data batch emits.
        no_data = "spark.sql.streaming.noDataMicroBatches.enabled"
        spark.conf.set(no_data, "false")
        q = (
            sessionize_stream(stream, gap_minutes=30)
            .writeStream.format("memory").queryName("sess")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        try:
            q.processAllAvailable()
            streamed = {(r["user_id"], r["session_idx"]): r
                        for r in spark.sql("select * from sess").collect()}
        finally:
            q.stop()
            spark.conf.unset(no_data)
        # only sessions CLOSED by an observed gap are emitted (open sessions
        # wait in state for the timeout): that's exactly user 1's first one
        assert set(streamed) == {(1, 0)}
        batch = {(r["user_id"], r["session_idx"]): r
                 for r in sessionize(events, gap_minutes=30).collect()}
        got, want = streamed[(1, 0)], batch[(1, 0)]
        assert got["n_events"] == want["n_events"]
        assert got["total_value"] == want["total_value"]
        assert got["start_ts"] == want["start_ts"]
        assert got["end_ts"] == want["end_ts"]
