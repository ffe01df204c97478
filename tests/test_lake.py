"""Lake-table layer: atomic snapshot commit, batch-id idempotence,
bucket-pruned copy-on-write, schema evolution, truncate, time travel."""

import pytest


def test_concurrent_commit_conflict_detected(spark, tmp_path):
    """Optimistic concurrency: two writers committing from the same
    parent snapshot — the second (after the first's pointer swap) gets
    CommitConflictError instead of silently clobbering history; a
    crashed-own-attempt leftover (snap file linked, pointer not swapped)
    is adopted on retry instead of conflicting."""
    from pyspark.sql import types as T

    from bigquery_delta_plugins_spark.lake.table import (
        CommitConflictError,
        LakeTable,
    )

    schema = T.StructType([T.StructField("k", T.LongType(), True)])
    path = str(tmp_path / "cc")
    a = LakeTable.create(spark, path, schema, ["k"], num_buckets=2)
    b = LakeTable(spark, path)
    df1 = spark.createDataFrame([(1,)], schema)
    df2 = spark.createDataFrame([(2,)], schema)
    # both handles read parent snapshot 0; a commits first...
    a.append(df1, batch_id=0)
    # ...then b tries to commit snapshot 1 from the stale parent
    with pytest.raises(CommitConflictError, match="committed concurrently"):
        # bypass the batch-id guard to force the low-level race
        snap0 = b.snapshot(0)
        b._write_snapshot(snap0, snap0["schema"], snap0["files"],
                          dict(snap0["summary"]), snap0["properties"])

    # crashed-own-attempt: snap file for sid=2 exists, pointer still at 1
    import json as _json
    import os as _os

    cur = a.current_snapshot()
    leftover = dict(cur, snapshot_id=2, parent_id=cur["snapshot_id"])
    with open(_os.path.join(path, "_manifests", "snap-00000002.json"), "w") as f:
        _json.dump(leftover, f)
    snap = a.append(df2, batch_id=1)  # retry adopts, no conflict
    assert snap["snapshot_id"] == 2
    assert a.current_snapshot()["snapshot_id"] == 2
    assert a.read().count() == 2
from pyspark.sql import functions as F
from pyspark.sql import types as T

from bigquery_delta_plugins_spark import constants as C
from bigquery_delta_plugins_spark import schemas
from bigquery_delta_plugins_spark.lake.table import LakeTable

SOURCE = T.StructType(
    [
        T.StructField("id", T.LongType(), True),
        T.StructField("name", T.StringType(), True),
    ]
)
TARGET = schemas.target_schema(SOURCE)


def target_rows(spark, rows):
    data = [
        {"id": i, "name": n, C.SEQUENCE_NUM: s, C.IS_DELETED: None,
         C.ROW_ID: None, C.SOURCE_TIMESTAMP: None}
        for (i, n, s) in rows
    ]
    return spark.createDataFrame(data, TARGET)


@pytest.fixture
def table(spark, tmp_path):
    return LakeTable.create(
        spark, str(tmp_path / "t"), TARGET, ["id"], num_buckets=4
    )


def test_append_and_read(spark, table):
    table.append(target_rows(spark, [(1, "a", 1), (2, "b", 2)]), batch_id=0)
    got = {(r["id"], r["name"]) for r in table.read().collect()}
    assert got == {(1, "a"), (2, "b")}
    assert table.latest_batch_id() == 0


def test_append_replay_is_noop(spark, table):
    df = target_rows(spark, [(1, "a", 1)])
    assert table.append(df, batch_id=0) is not None
    assert table.append(df, batch_id=0) is None  # same batch -> skipped
    assert table.read().count() == 1


def test_overwrite_buckets_rewrites_only_touched(spark, table):
    table.append(target_rows(spark, [(i, f"n{i}", i) for i in range(20)]), 0)
    snap0 = table.current_snapshot()
    all_buckets = {f["bucket"] for f in snap0["files"]}
    assert all_buckets == {0, 1, 2, 3}

    # rewrite bucket of id=1 only
    from bigquery_delta_plugins_spark.lake.table import bucket_expr

    b1 = (
        target_rows(spark, [(1, "x", 99)])
        .select(bucket_expr(["id"], 4).alias("b"))
        .first()["b"]
    )
    untouched = all_buckets - {b1}
    current = table.read(buckets={b1})
    new_rows = current.withColumn(
        "name", F.when(F.col("id") == 1, F.lit("CHANGED")).otherwise(F.col("name"))
    )
    table.overwrite_buckets(new_rows, {b1}, batch_id=1, max_seq=99)

    snap1 = table.current_snapshot()
    kept = {f["path"] for f in snap1["files"] if f["bucket"] in untouched}
    orig = {f["path"] for f in snap0["files"] if f["bucket"] in untouched}
    assert kept == orig  # untouched buckets carry the SAME files over
    got = {r["name"] for r in table.read().filter(F.col("id") == 1).collect()}
    assert got == {"CHANGED"}
    assert table.read().count() == 20


def test_time_travel(spark, table):
    table.append(target_rows(spark, [(1, "a", 1)]), 0)
    table.append(target_rows(spark, [(2, "b", 2)]), 1)
    assert table.read(snapshot_id=1).count() == 1
    assert table.read().count() == 2


def test_schema_evolution_add_column(spark, table):
    table.append(target_rows(spark, [(1, "a", 1)]), 0)
    wider = T.StructType(
        SOURCE.fields + [T.StructField("extra", T.StringType(), False)]
    )
    table.alter_add_columns(schemas.target_schema(wider))
    out = table.read()
    assert "extra" in out.columns
    row = out.first()
    assert row["extra"] is None  # old files surface NULL
    # added columns are adopted as nullable even if declared required
    assert dict((f.name, f.nullable) for f in table.schema.fields)["extra"] is True


def test_truncate_keeps_definition(spark, table):
    table.append(target_rows(spark, [(1, "a", 1)]), 0)
    table.truncate()
    assert table.read().count() == 0
    assert table.primary_keys == ["id"]


def test_create_conflict(spark, table, tmp_path):
    with pytest.raises(FileExistsError):
        LakeTable.create(spark, str(tmp_path / "t"), TARGET, ["id"])
    # if_not_exists mirrors the reference's conflict tolerance
    t2 = LakeTable.create(spark, str(tmp_path / "t"), TARGET, ["id"], if_not_exists=True)
    assert t2.exists()


def test_compact_is_state_neutral_and_reduces_files(spark, tmp_path):
    """compact(): crowded buckets rewrite to one file each in a
    state-neutral commit — rows, batch bookkeeping, and time travel all
    unchanged; vacuum afterwards reclaims the superseded files; the next
    batch applies normally on the compacted layout."""
    import os as _os

    from bigquery_delta_plugins_spark import constants as C
    from bigquery_delta_plugins_spark.sources.gen import synth_events
    from bigquery_delta_plugins_spark.streaming.consumer import EventConsumer
    from bigquery_delta_plugins_spark.types import DDLEvent, DDLOp

    from test_consumer import PAGES

    c = EventConsumer(spark, str(tmp_path / "wh"), num_buckets=4)
    c.apply_ddl(
        DDLEvent(DDLOp.CREATE_TABLE, "web", "pages", schema=PAGES,
                 primary_keys=["url"])
    )
    ev = synth_events(spark, 1500, 80, batch_size=300).cache()
    for b in range(4):
        c.apply_batch("web", "pages", ev.filter(ev[C.BATCH_ID] == b), b)
    t = c.table("web", "pages")
    pre = t.current_snapshot()
    state = sorted(map(str, t.read().collect()))

    stats = t.compact(max_files_per_bucket=1)
    post = t.current_snapshot()
    assert stats["files_after"] <= stats["files_before"]
    per_bucket: dict = {}
    for f in post["files"]:
        per_bucket[f["bucket"]] = per_bucket.get(f["bucket"], 0) + 1
    assert all(n == 1 for n in per_bucket.values())
    # state-neutral: rows identical, bookkeeping untouched
    assert sorted(map(str, t.read().collect())) == state
    assert post["summary"]["latest_batch_id"] == pre["summary"]["latest_batch_id"]
    assert post["summary"]["latest_merged_seq"] == pre["summary"]["latest_merged_seq"]
    # time travel to the pre-compaction snapshot still reads old files
    assert sorted(map(str, t.read(snapshot_id=pre["snapshot_id"]).collect())) == state
    # idempotent: nothing crowded now
    assert t.compact(max_files_per_bucket=1)["buckets_compacted"] == 0
    # the changelog across a compaction commit is EMPTY (rows identical
    # even though every crowded bucket's file set changed)
    assert t.changes(pre["snapshot_id"], post["snapshot_id"]).count() == 0

    # next batch applies on the compacted layout; replay barrier intact
    c.apply_batch("web", "pages", ev.filter(ev[C.BATCH_ID] == 4), 4)
    assert t.latest_batch_id() == 4 and t.latest_merged_seq() == 1500

    # vacuum drops the superseded pre-compaction files
    t.vacuum(keep_snapshots=1)
    on_disk = sum(
        n.endswith(".parquet")
        for _r, _d, names in _os.walk(_os.path.join(t.path, "data"))
        for n in names
    )
    assert on_disk == len(t.current_snapshot()["files"])
    ev.unpersist()


def test_metadata_tables_history_and_files(spark, tmp_path):
    """history()/files() metadata tables mirror the manifests: one row
    per snapshot with monotone bookkeeping, and per-file bucket+size for
    any retained snapshot (time-travel included)."""
    path = str(tmp_path / "meta")
    t = LakeTable.create(spark, path, TARGET, ["id"], num_buckets=2)
    t.append(target_rows(spark, [(1, "a", 1)]), batch_id=0)
    t.append(target_rows(spark, [(2, "b", 2)]), batch_id=1)

    h = {r["snapshot_id"]: r for r in t.history().collect()}
    assert sorted(h) == [0, 1, 2]
    assert h[0]["latest_batch_id"] == -1 and h[0]["n_files"] == 0
    assert h[1]["latest_batch_id"] == 0 and h[1]["parent_id"] == 0
    assert h[2]["latest_batch_id"] == 1 and h[2]["n_files"] > h[1]["n_files"]

    f_now = t.files().collect()
    assert len(f_now) == h[2]["n_files"]
    assert all(r["size_bytes"] > 0 and r["bucket"] in (0, 1) for r in f_now)
    # time travel: snapshot 1's file list is smaller
    assert len(t.files(snapshot_id=1).collect()) == h[1]["n_files"]


def test_rebucket_partition_evolution(spark, tmp_path):
    """rebucket(): state-neutral layout change — rows identical, new
    bucket routing adopted by subsequent merges, changelog across the
    rebucket commit empty, time travel to the old layout intact."""
    from bigquery_delta_plugins_spark import constants as C
    from bigquery_delta_plugins_spark.sources.gen import synth_events
    from bigquery_delta_plugins_spark.streaming.consumer import EventConsumer
    from bigquery_delta_plugins_spark.types import DDLEvent, DDLOp

    from test_consumer import PAGES

    c = EventConsumer(spark, str(tmp_path / "wh"), num_buckets=4)
    c.apply_ddl(
        DDLEvent(DDLOp.CREATE_TABLE, "web", "pages", schema=PAGES,
                 primary_keys=["url"])
    )
    ev = synth_events(spark, 1200, 60, batch_size=400).cache()
    for b in range(2):
        c.apply_batch("web", "pages", ev.filter(ev[C.BATCH_ID] == b), b)
    t = c.table("web", "pages")
    pre = t.current_snapshot()
    state = sorted(map(str, t.read().collect()))

    stats = t.rebucket(8)
    assert stats["rebucketed"] and stats["num_buckets"] == 8
    t = c.table("web", "pages")
    post = t.current_snapshot()
    assert t.num_buckets == 8
    assert {f["bucket"] for f in post["files"]} <= set(range(8))
    assert len({f["bucket"] for f in post["files"]}) > 4  # actually spread
    assert sorted(map(str, t.read().collect())) == state
    assert post["summary"]["latest_batch_id"] == pre["summary"]["latest_batch_id"]
    # changelog across the rebucket commit is empty; old layout readable
    assert t.changes(pre["snapshot_id"], post["snapshot_id"]).count() == 0
    assert sorted(map(str, t.read(snapshot_id=pre["snapshot_id"]).collect())) == state
    # no-op when the count is unchanged
    assert t.rebucket(8)["rebucketed"] is False

    # the next batch merges under the NEW layout
    c.apply_batch("web", "pages", ev.filter(ev[C.BATCH_ID] == 2), 2)
    t2 = c.table("web", "pages")
    assert t2.latest_batch_id() == 2 and t2.latest_merged_seq() == 1200
    assert {f["bucket"] for f in t2.current_snapshot()["files"]} <= set(range(8))
    ev.unpersist()


def test_compact_with_sort_clusters_rows(spark, tmp_path):
    """compact(sort_columns=...) rewrites every bucket with rows
    clustered by the sort key inside each file, so parquet row-group
    min/max stats can prune point lookups (ZORDER-style optimize);
    state stays identical."""
    import os as _os

    path = str(tmp_path / "sorted")
    t = LakeTable.create(spark, path, TARGET, ["id"], num_buckets=2)
    # two appends -> interleaved, unsorted ids within buckets
    t.append(target_rows(spark, [(i, f"n{i}", i + 1) for i in range(0, 40, 2)]), 0)
    t.append(target_rows(spark, [(i, f"n{i}", i + 1) for i in range(1, 40, 2)]), 1)
    state = sorted(map(str, t.read().collect()))

    stats = t.compact(sort_columns=["id"])
    assert stats["buckets_compacted"] == 2
    assert sorted(map(str, t.read().collect())) == state

    snap = t.current_snapshot()
    for f in snap["files"]:
        ids = [r["id"] for r in spark.read.parquet(
            _os.path.join(t.path, f["path"])).select("id").collect()]
        assert ids == sorted(ids), f
