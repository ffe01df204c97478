"""Load-once apply: ``apply_batch`` materializes a staged batch's live
rows once, every later use reads them, and the materialization is
released however the apply ends."""

import pytest
from pyspark.sql import types as T

from bigquery_delta_plugins_spark import constants as C
from bigquery_delta_plugins_spark.lake.table import LakeTable
from bigquery_delta_plugins_spark.retry import PermanentFailure

from cdc_helpers import STAGING, consumer, create_tables, ins

STAGING_BATCH = T.StructType(
    STAGING.fields + [T.StructField(C.BATCH_ID, T.LongType(), True)]
)
STAGING_SNAP = T.StructType(
    STAGING.fields + [T.StructField(C.SNAPSHOT, T.BooleanType(), True)]
)


def _state(c):
    return sorted((r["user_id"], r["value"]) for r in c.table("db", "t").read().collect())


def _counted(spark, rows, schema=STAGING):
    """A staged frame whose every decode adds its row count to ``acc``."""
    acc = spark.sparkContext.accumulator(0)

    def decode(batches):
        for b in batches:
            acc.add(b.num_rows)
            yield b

    return spark.createDataFrame(rows, schema).mapInArrow(decode, schema), acc


def test_frame_with_later_batch_ids_does_not_lose_the_later_batch(spark, tmp_path):
    """Applying batch 1 from a frame that also holds batch 2 must not
    advance the replay barrier past batch 1's own rows."""
    c = consumer(spark, tmp_path)
    create_tables(c)
    c.apply_batch("db", "t", ins(spark, [("INSERT", 1, 1, 1.0, None)]), 0)
    frame = spark.createDataFrame(
        [
            ("UPDATE", 2, 1, 2.0, 1, 1),
            ("INSERT", 3, 2, 3.0, None, 2),
            ("UPDATE", 4, 1, 4.0, 1, 2),
        ],
        STAGING_BATCH,
    )
    m1 = c.apply_batch("db", "t", frame, 1)
    c.apply_batch("db", "t", frame, 2)
    assert _state(c) == [(1, 4.0), (2, 3.0)]
    # lineage describes the live rows only
    assert (m1["n_events"], m1["seq_range"]) == (1, [2, 2])


@pytest.mark.parametrize("single_job", [False, True])
def test_staged_batch_is_decoded_once(spark, tmp_path, single_job):
    c = consumer(spark, tmp_path, single_job_per_batch=single_job)
    create_tables(c)
    c.apply_batch("db", "t", ins(spark, [
        ("INSERT", 1, 1, 1.0, None), ("INSERT", 2, 2, 2.0, None),
    ]), 0)
    rows = [
        ("UPDATE", 3, 1, 10.0, 1), ("UPDATE", 4, 1, 11.0, 1),
        ("UPDATE", 5, 3, 12.0, 2), ("INSERT", 6, 4, 4.0, None),
        ("DELETE", 7, 4, 4.0, 4), ("INSERT", 8, 5, 5.0, None),
    ]
    staged, acc = _counted(spark, rows)
    m = c.apply_batch("db", "t", staged, 1)
    assert not m["skipped"]
    assert acc.value == len(rows)
    assert _state(c) == [(1, 11.0), (3, 12.0), (5, 5.0)]


def test_load_is_released_on_every_exit(spark, tmp_path, monkeypatch):
    jsc = spark.sparkContext._jsc
    c = consumer(spark, tmp_path)
    create_tables(c)

    def apply(rows, batch_id, schema=STAGING):
        before = jsc.getPersistentRDDs().size()
        try:
            return c.apply_batch("db", "t", spark.createDataFrame(rows, schema), batch_id)
        finally:
            assert jsc.getPersistentRDDs().size() == before

    assert apply([], 0)["reason"] == "empty batch"
    assert apply([("INSERT", 1, 1, 1.0, None)], 1)["fast_path"] == "snapshot_append"
    assert apply([("UPDATE", 2, 1, 2.0, 1)], 2)["n_diff"] == 1
    assert apply([("UPDATE", 2, 1, 2.0, 1)], 2)["reason"] == "batch_id already committed"
    assert apply([], 3)["reason"] == "empty batch"
    mixed = apply([
        ("INSERT", 3, 10, 10.0, None, True), ("UPDATE", 4, 1, 3.0, 1, False),
    ], 4, STAGING_SNAP)
    assert (mixed["fast_path"], mixed["n_snapshot"]) == ("snapshot_append", 1)

    def fail(*a, **kw):
        raise PermanentFailure("write refused")

    monkeypatch.setattr(LakeTable, "overwrite_buckets", fail)
    with pytest.raises(PermanentFailure, match="write refused"):
        apply([("UPDATE", 5, 1, 4.0, 1)], 5)
    monkeypatch.undo()
    assert _state(c) == [(1, 3.0), (10, 10.0)]
