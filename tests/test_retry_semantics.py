"""Load/merge retry semantics — ports of the reference's previous-
attempt handling (BigQueryConsumerTest.java:437-676) onto the lake's
commit model.

The reference retries a failed load/merge by first probing for the
previous attempt's BigQuery job: a found-and-successful job is ADOPTED
(no duplicate work), a found-but-failed job triggers a fresh one.  The
Spark-native equivalents:

- attempt failed BEFORE the manifest commit (data files written,
  snapshot never linked)  ->  the retry re-runs the apply; the final
  state is exactly-once correct and the first attempt's files are
  unreachable orphans that vacuum() collects
  (testLoadJobRetriesCheckPreviousAttemptWasFailed:495-550,
  testMergeJobRetriesCheckPreviousAttemptWasFailed:620-676);
- attempt failed AFTER the snapshot file was linked but before the
  pointer swap  ->  the retry ADOPTS the committed attempt (covered at
  the lake level by test_lake.py::test_concurrent_commit_conflict_
  detected; here through the consumer, the analogue of
  testLoadJobRetriesCheckPreviousAttemptStatus:436-485);
- attempt failed AFTER the full commit (crash before checkpoint)  ->
  replay is a batch-id no-op (test_consumer.py crash-window test).
"""

import os

import pytest
from pyspark.sql import types as T

from bigquery_delta_plugins_spark import constants as C
from bigquery_delta_plugins_spark.lake.table import LakeTable
from bigquery_delta_plugins_spark.sources.gen import synth_events
from bigquery_delta_plugins_spark.streaming.consumer import EventConsumer
from bigquery_delta_plugins_spark.types import DDLEvent, DDLOp

PAGES = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("warc_ts", T.TimestampType(), True),
        T.StructField("html", T.BinaryType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("lang", T.StringType(), True),
    ]
)


def _consumer(spark, path, **kw):
    c = EventConsumer(spark, str(path), num_buckets=8, **kw)
    c.apply_ddl(
        DDLEvent(DDLOp.CREATE_TABLE, "web", "pages", schema=PAGES,
                 primary_keys=["url"])
    )
    return c


def _state(table: LakeTable):
    return sorted(map(str, table.read().collect()))


def test_failed_attempt_then_retry_is_exactly_once(spark, tmp_path):
    """Previous attempt FAILED (crash between the data-file write and
    the manifest commit): the retry re-applies the batch; final state is
    identical to a never-crashed run, and the dead attempt's files are
    orphans that vacuum() removes without touching live data
    (BigQueryConsumerTest.java:495-550,620-676)."""
    ev = synth_events(spark, 1200, 60, batch_size=400, delete_frac=0.1).cache()
    batches = [ev.filter(ev[C.BATCH_ID] == b) for b in range(3)]

    # reference run, no crash
    ref = _consumer(spark, tmp_path / "ref")
    for b, df in enumerate(batches):
        ref.apply_batch("web", "pages", df, b)
    want = _state(ref.table("web", "pages"))

    # crashing run: batch 1's commit_overwrite dies after data files
    # are on disk but before the snapshot manifest exists
    crash = _consumer(spark, tmp_path / "crash")
    table = crash.table("web", "pages")
    crash.apply_batch("web", "pages", batches[0], 0)
    files_before = {f["path"] for f in table.current_snapshot()["files"]}

    orig = LakeTable.commit_overwrite

    def boom(self, *a, **k):
        raise RuntimeError("simulated network error after load, before commit")

    LakeTable.commit_overwrite = boom
    try:
        with pytest.raises(RuntimeError, match="simulated network error"):
            crash.apply_batch("web", "pages", batches[1], 1)
    finally:
        LakeTable.commit_overwrite = orig

    # the failed attempt left no snapshot: latest_batch_id unchanged
    table2 = crash.table("web", "pages")
    assert table2.latest_batch_id() == 0

    # retry (fresh consumer = fresh worker) re-applies batch 1, then 2
    retry = EventConsumer(spark, str(tmp_path / "crash"), num_buckets=8)
    retry.apply_batch("web", "pages", batches[1], 1)
    retry.apply_batch("web", "pages", batches[2], 2)
    got_table = retry.table("web", "pages")
    assert _state(got_table) == want

    # the dead attempt's data files are unreachable orphans; vacuum
    # removes them and the state is untouched
    live = {f["path"] for f in got_table.current_snapshot()["files"]}
    data_root = os.path.join(got_table.path, "data")
    on_disk = {
        os.path.relpath(os.path.join(r, n), got_table.path)
        for r, _d, names in os.walk(data_root)
        for n in names
        if n.endswith(".parquet")
    }
    assert on_disk - live, "expected orphan files from the dead attempt"
    got_table.vacuum(keep_snapshots=1)
    on_disk_after = {
        os.path.relpath(os.path.join(r, n), got_table.path)
        for r, _d, names in os.walk(data_root)
        for n in names
        if n.endswith(".parquet")
    }
    assert live <= on_disk_after and not (on_disk_after - live - files_before)
    assert _state(retry.table("web", "pages")) == want
    ev.unpersist()


def test_permanent_ddl_failure_not_retried(spark, tmp_path, monkeypatch):
    """Permanent errors abort the DDL retry loop on attempt 1
    (testPermanentFailureIsNotRetriedInProcessDDL,
    BigQueryConsumerTest.java:723-747): the manual-drops policy
    violation is a PermanentFailure and is raised after exactly one
    attempt."""
    from bigquery_delta_plugins_spark.retry import PermanentFailure

    c = EventConsumer(spark, str(tmp_path / "wh"), num_buckets=2,
                      require_manual_drops=True, ddl_retry_base_delay=0.0)
    calls = []
    orig = EventConsumer._apply_ddl_once

    def counting(self, event):
        calls.append(event.op)
        return orig(self, event)

    monkeypatch.setattr(EventConsumer, "_apply_ddl_once", counting)
    with pytest.raises(PermanentFailure, match="must be dropped manually"):
        c.apply_ddl(DDLEvent(DDLOp.DROP_TABLE, "db", "t"))
    assert len(calls) == 1


def test_temporary_ddl_failure_retried(spark, tmp_path, monkeypatch):
    """Transient errors are retried with backoff until success
    (testTemporaryFailureIsRetriedInProcessDDL,
    BigQueryConsumerTest.java:749-786); exhausting attempts raises
    RetriesExhausted with the last error as the cause."""
    from bigquery_delta_plugins_spark.retry import RetriesExhausted

    c = EventConsumer(spark, str(tmp_path / "wh"), num_buckets=2,
                      ddl_retry_attempts=3, ddl_retry_base_delay=0.0)
    ev = DDLEvent(DDLOp.CREATE_TABLE, "db", "t", schema=PAGES,
                  primary_keys=["url"])
    calls = []
    orig = EventConsumer._apply_ddl_once

    def flaky(self, event):
        calls.append(event.op)
        if len(calls) < 3:
            raise OSError("simulated rate limit")
        return orig(self, event)

    monkeypatch.setattr(EventConsumer, "_apply_ddl_once", flaky)
    c.apply_ddl(ev)  # third attempt succeeds
    assert len(calls) == 3
    assert c.table("db", "t").exists()

    calls.clear()

    def always_down(self, event):
        calls.append(event.op)
        raise OSError("still down")

    monkeypatch.setattr(EventConsumer, "_apply_ddl_once", always_down)
    with pytest.raises(RetriesExhausted, match="exhausted 3 attempts"):
        c.apply_ddl(DDLEvent(DDLOp.TRUNCATE_TABLE, "db", "t"))
    assert len(calls) == 3


def test_committed_attempt_is_adopted_not_reapplied(spark, tmp_path):
    """Previous attempt SUCCEEDED but the worker died before recording
    the checkpoint (the reference's adopt-previous-job path,
    BigQueryConsumerTest.java:436-485): the retry of the same batch_id
    is a no-op skip, not a double apply."""
    ev = synth_events(spark, 800, 40, batch_size=400).cache()
    b0 = ev.filter(ev[C.BATCH_ID] == 0)
    b1 = ev.filter(ev[C.BATCH_ID] == 1)

    c = _consumer(spark, tmp_path / "wh")
    c.apply_batch("web", "pages", b0, 0)
    m = c.apply_batch("web", "pages", b1, 1)
    assert not m.get("skipped")
    state_after = _state(c.table("web", "pages"))
    snap_after = c.table("web", "pages").current_snapshot()["snapshot_id"]

    # "restart": a new consumer replays batch 1 (source resumed from the
    # pre-batch offset) — adopted via batch-id dedup, zero new snapshots
    retry = EventConsumer(spark, str(tmp_path / "wh"), num_buckets=8)
    m2 = retry.apply_batch("web", "pages", b1, 1)
    assert m2.get("skipped") and "already committed" in m2["reason"]
    t = retry.table("web", "pages")
    assert t.current_snapshot()["snapshot_id"] == snap_after
    assert _state(t) == state_after
    ev.unpersist()
