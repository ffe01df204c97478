"""Mixed DML+DDL through the streaming front-ends, multi-table fan-out
and topology routing: inline-DDL control rows force-flush around each
sequence point (the reference consumer's production shape,
BigQueryEventConsumer.java:297-335,433,457,499); strided lake batch
ids stay monotone across triggers; DROP + re-CREATE bumps exactly one
generation with checkpoint resume across the DDL boundary; and
tables=None streams route every batch by its OBSERVED tables — a quiet
pre-existing table appearing mid-stream without a CREATE event must
never lose rows."""

import os

from pyspark.sql import types as T

from bigquery_delta_plugins_spark import constants as C
from bigquery_delta_plugins_spark.streaming.consumer import EventConsumer
from bigquery_delta_plugins_spark.streaming.driver import (
    ddl_marker_rows,
    run_microbatch_loop_multi,
    run_mixed_stream,
    run_mixed_stream_multi,
    run_structured_stream,
)
from bigquery_delta_plugins_spark.types import (
    DDLEvent,
    DDLOp,
    ddl_event_from_json,
    ddl_event_to_json,
)

from cdc_helpers import (  # noqa: F401
    MULTI,
    SRC,
    STAGING,
    STREAM,
    WIDE_SRC,
    consumer,
    create_tables,
    dml,
    ins,
    multi_rows,
    write_file,
)


def test_ddl_event_json_roundtrip():
    ev = DDLEvent(DDLOp.ALTER_TABLE, "db", "a", schema=WIDE_SRC,
                  primary_keys=["user_id"], sequence_num=5)
    back = ddl_event_from_json(ddl_event_to_json(ev))
    assert back.op == ev.op and back.database == ev.database
    assert back.table == ev.table and back.primary_keys == ev.primary_keys
    assert back.sequence_num == ev.sequence_num
    assert back.schema.json() == ev.schema.json()
    bare = DDLEvent(DDLOp.DROP_DATABASE, "db")
    back = ddl_event_from_json(ddl_event_to_json(bare))
    assert back.op == DDLOp.DROP_DATABASE and back.table is None
    assert back.schema is None and back.primary_keys == []

def test_structured_stream_inline_ddl_multi_table(spark, tmp_path):
    """ALTER mid-stream through the PRODUCTION front-end: the DDL rides
    inline in the parquet event stream, `run_structured_stream` splits
    table a's DML at the ALTER's sequence point, and a DDL-free later
    trigger still applies (uniform STRIDE id space).  Table b never
    sees the new column."""
    c = consumer(spark, tmp_path)
    create_tables(c, ("a", "b"))
    events_dir = str(tmp_path / "events")
    alter = DDLEvent(DDLOp.ALTER_TABLE, "db", "a", schema=WIDE_SRC,
                     primary_keys=["user_id"], sequence_num=5)
    # trigger 0: plain DML for both tables
    write_file(dml(spark, [
        ("INSERT", 1, 1, 1.0, None, None, "db", "a"),
        ("INSERT", 2, 2, 2.0, None, None, "db", "b"),
    ]), events_dir)
    # trigger 1: pre-ALTER DML + inline ALTER + post-ALTER DML
    batch1 = dml(spark, [
        ("INSERT", 3, 3, 3.0, None, None, "db", "a"),
        ("UPDATE", 6, 1, 10.0, "e6", 1, "db", "a"),
        ("INSERT", 7, 9, 9.0, None, None, "db", "b"),
    ]).unionByName(ddl_marker_rows(spark, STREAM, [alter]))
    write_file(batch1, events_dir)
    # trigger 2: DDL-free trigger after the DDL-carrying one
    write_file(dml(spark, [
        ("INSERT", 8, 4, 4.0, "e8", None, "db", "a"),
    ]), events_dir)

    cp = os.path.join(str(tmp_path), "cp")
    run_structured_stream(
        spark, events_dir, STREAM, c, "", "", cp,
        max_files_per_trigger=1, multi_table=True,
        tables=[("db", "a"), ("db", "b")],
    )
    a = {r["user_id"]: (r["value"], r["extra"])
         for r in c.table("db", "a").read().collect()}
    # user 1 updated post-ALTER (carries extra); user 3 pre-ALTER ->
    # NULL; user 4 from the DDL-free third trigger
    assert a == {1: (10.0, "e6"), 3: (3.0, None), 4: (4.0, "e8")}
    b = {r["user_id"]: r["value"] for r in c.table("db", "b").read().collect()}
    assert b == {2: 2.0, 9: 9.0}
    assert "extra" not in [f.name for f in c.table("db", "b").schema.fields]

    # resume from the checkpoint with no new files: a no-op, state
    # byte-identical (exactly-once)
    before = sorted(map(str, c.table("db", "a").read().collect()))
    run_structured_stream(
        spark, events_dir, STREAM, c, "", "", cp,
        max_files_per_trigger=1, multi_table=True,
        tables=[("db", "a"), ("db", "b")],
    )
    assert sorted(map(str, c.table("db", "a").read().collect())) == before

def test_structured_stream_inline_ddl_single_table(spark, tmp_path):
    """Single-table stream with an inline ALTER: same force-flush
    semantics through `run_structured_stream` without (_database,
    _table) routing columns."""
    single = T.StructType(
        [f for f in STREAM.fields if f.name not in ("_database", "_table")]
    )
    c = consumer(spark, tmp_path)
    create_tables(c, ("t",))
    events_dir = str(tmp_path / "events")
    alter = DDLEvent(DDLOp.ALTER_TABLE, "db", "t", schema=WIDE_SRC,
                     primary_keys=["user_id"], sequence_num=4)
    rows = [
        ("INSERT", 1, 1, 1.0, None, None, None),
        ("INSERT", 2, 2, 2.0, None, None, None),
        ("UPDATE", 5, 1, 10.0, "x1", 1, None),
    ]
    batch = spark.createDataFrame(rows, single).unionByName(
        ddl_marker_rows(spark, single, [alter])
    )
    batch.coalesce(1).write.mode("append").parquet(events_dir)
    run_structured_stream(
        spark, events_dir, single, c, "db", "t",
        os.path.join(str(tmp_path), "cp"), max_files_per_trigger=1,
    )
    got = {r["user_id"]: (r["value"], r["extra"])
           for r in c.table("db", "t").read().collect()}
    assert got == {1: (10.0, "x1"), 2: (2.0, None)}

def test_topology_discovery_runs_once_perconsumer(spark, tmp_path):
    """tables=None is a cold-start convenience: ONE distinct-scan
    discovery job per consumer lifetime, reused across batches, and
    DDL applied through the consumer keeps the cached topology
    consistent (CREATE adds, DROP removes)."""
    c = consumer(spark, tmp_path)
    create_tables(c, ("a", "b"))
    mk = lambda rows: dml(spark, rows).drop(C.DDL_PAYLOAD)  # noqa: E731
    for i in range(3):
        c.apply_multi_table_batch(mk([
            ("INSERT", 10 * i + 1, i, float(i), None, None, "db", "a"),
            ("INSERT", 10 * i + 2, i, float(i), None, None, "db", "b"),
        ]), i)
    assert c.topology_discoveries == 1
    # DDL maintains the cache without a re-discovery
    c.apply_ddl(DDLEvent(DDLOp.CREATE_TABLE, "db", "c", schema=SRC,
                         primary_keys=["user_id"]))
    c.apply_ddl(DDLEvent(DDLOp.DROP_TABLE, "db", "b"))
    ms = c.apply_multi_table_batch(mk([
        ("INSERT", 91, 7, 7.0, None, None, "db", "a"),
        ("INSERT", 92, 8, 8.0, None, None, "db", "c"),
    ]), 5)
    assert c.topology_discoveries == 1
    assert {(m["database"], m["table_name"]) for m in ms} == {
        ("db", "a"), ("db", "c")
    }

def test_late_appearing_table_without_create_is_routed(spark, tmp_path):
    """tables=None: a pre-existing quiet table whose rows first appear
    in a LATER micro-batch with NO CREATE_TABLE event in-stream (e.g. a
    consumer restart over an established lake) must still receive its
    rows — the known-topology set is observability, never the routing
    source.  Round-4's lifetime-cached discovery silently dropped these
    rows (the fan-out filter routed only first-batch tables)."""
    c = consumer(spark, tmp_path)
    create_tables(c, ("a", "b"))  # both tables exist in the lake
    mk = lambda rows: dml(spark, rows).drop(C.DDL_PAYLOAD)  # noqa: E731
    # batch 0 only carries table a -> cold-start discovery sees only a
    c.apply_multi_table_batch(
        mk([("INSERT", 1, 1, 1.0, None, None, "db", "a")]), 0
    )
    # batch 1 carries b for the first time, with no CREATE event
    ms = c.apply_multi_table_batch(mk([
        ("INSERT", 2, 2, 2.0, None, None, "db", "a"),
        ("INSERT", 3, 9, 9.0, None, None, "db", "b"),
    ]), 1)
    assert {(m["database"], m["table_name"]) for m in ms} == {
        ("db", "a"), ("db", "b")
    }
    assert {r["user_id"] for r in c.table("db", "b").read().collect()} == {9}
    assert c.topology_discoveries == 2  # cold start + the late table

def test_mixed_stream_plain_dml_after_mixed_item(spark, tmp_path):
    """Round-2 latent bug: a plain ("dml", df) item AFTER a DDL-carrying
    item was keyed by bare idx, compared against the strided lake batch
    id, and silently skipped as replay — losing its rows."""
    c = consumer(spark, tmp_path)
    create_tables(c)
    wide = T.StructType(SRC.fields + [T.StructField("extra", T.StringType(), True)])
    alter = DDLEvent(DDLOp.ALTER_TABLE, "db", "t", schema=wide,
                     primary_keys=["user_id"], sequence_num=3)
    staging_x = T.StructType(
        STAGING.fields[:4]
        + [T.StructField("extra", T.StringType(), True)]
        + STAGING.fields[4:]
    )
    d0 = ins(spark, [("INSERT", 1, 1, 1.0, None), ("INSERT", 2, 2, 2.0, None)])
    # post-ALTER events carry the evolved column
    d1 = spark.createDataFrame(
        [("INSERT", 4, 7, 7.0, "x7", None), ("UPDATE", 5, 1, 10.0, "x1", 1)],
        staging_x,
    )
    items = [("dml", d0, [alter]), ("dml", d1)]
    run_mixed_stream(c, items, "db", "t", str(tmp_path / "cp"))
    got = {r["user_id"]: (r["value"], r["extra"])
           for r in c.table("db", "t").read().collect()}
    assert got == {1: (10.0, "x1"), 2: (2.0, None), 7: (7.0, "x7")}

def test_multi_table_mixed_alter_mid_stream(spark, tmp_path):
    """O23 × O27: an ALTER for one table interleaved inside a multi-table
    micro-batch force-flushes THAT table's earlier segment while the
    other table's DML applies normally in the same flush."""
    c = consumer(spark, tmp_path)
    create_tables(c, tables=("a", "b"))
    wide = T.StructType(SRC.fields + [T.StructField("extra", T.StringType(), True)])
    alter = DDLEvent(DDLOp.ALTER_TABLE, "db", "a", schema=wide,
                     primary_keys=["user_id"], sequence_num=5)
    # stream rows carry `extra` throughout (the source evolved); the
    # pre-ALTER segment's target simply lacks the column yet
    multi_x = T.StructType(
        STAGING.fields[:4]
        + [T.StructField("extra", T.StringType(), True)]
        + STAGING.fields[4:]
        + [
            T.StructField("_database", T.StringType(), True),
            T.StructField("_table", T.StringType(), True),
        ]
    )
    batch = spark.createDataFrame([
        ("INSERT", 1, 1, 1.0, "e1", None, "db", "a"),
        ("INSERT", 2, 2, 2.0, "e2", None, "db", "b"),
        ("INSERT", 3, 3, 3.0, "e3", None, "db", "a"),
        # post-ALTER update for table a; plain insert for b
        ("UPDATE", 6, 1, 10.0, "e6", 1, "db", "a"),
        ("INSERT", 7, 9, 9.0, "e7", None, "db", "b"),
    ], multi_x)
    ms = run_mixed_stream_multi(
        c, [("dml", batch, [alter])], str(tmp_path / "cp")
    )
    assert {(m["database"], m["table_name"]) for m in ms} == {("db", "a"), ("db", "b")}
    a = {r["user_id"]: (r["value"], r["extra"])
         for r in c.table("db", "a").read().collect()}
    b = {r["user_id"]: r["value"] for r in c.table("db", "b").read().collect()}
    # user 1 updated post-ALTER (gets extra); user 3 pre-ALTER -> NULL
    assert a == {1: (10.0, "e6"), 3: (3.0, None)} and b == {2: 2.0, 9: 9.0}
    assert "extra" not in [f.name for f in c.table("db", "b").schema.fields]

def test_multi_table_mixed_create_mid_stream(spark, tmp_path):
    """A NEW table born by a CREATE_TABLE event inside a multi-table
    flush: its post-CREATE DML applies, other tables are unaffected."""
    c = consumer(spark, tmp_path)
    create_tables(c, tables=("a",))
    create = DDLEvent(DDLOp.CREATE_TABLE, "db", "fresh", schema=SRC,
                      primary_keys=["user_id"], sequence_num=4)
    batch = multi_rows(spark, [
        ("INSERT", 1, 1, 1.0, None, "db", "a"),
        ("INSERT", 5, 100, 100.0, None, "db", "fresh"),
        ("INSERT", 6, 101, 101.0, None, "db", "fresh"),
    ])
    run_mixed_stream_multi(c, [("dml", batch, [create])], str(tmp_path / "cp"))
    assert c.table("db", "a").read().count() == 1
    fresh = {r["user_id"] for r in c.table("db", "fresh").read().collect()}
    assert fresh == {100, 101}

def test_multi_table_mixed_drop_recreate_mid_stream(spark, tmp_path):
    """Generation bump: DROP + re-CREATE of one table inside a
    multi-table mixed stream (the reference's truncate/drop sequences,
    BigQueryEventConsumerTest.java:511-526,788-885).  Pre-DROP rows for
    the old generation are gone; the reborn table holds exactly its
    post-CREATE DML; the sibling table is untouched."""
    c = consumer(spark, tmp_path)
    create_tables(c, ("a", "b"))
    drop = DDLEvent(DDLOp.DROP_TABLE, "db", "a", sequence_num=4)
    create = DDLEvent(DDLOp.CREATE_TABLE, "db", "a", schema=WIDE_SRC,
                      primary_keys=["user_id"], sequence_num=5)
    batch0 = dml(spark, [
        ("INSERT", 1, 1, 1.0, None, None, "db", "a"),
        ("INSERT", 2, 2, 2.0, None, None, "db", "b"),
    ]).drop(C.DDL_PAYLOAD)
    batch1 = dml(spark, [
        # old-generation row, applied before the DROP
        ("INSERT", 3, 3, 3.0, None, None, "db", "a"),
        # new-generation rows after the re-CREATE
        ("INSERT", 6, 100, 100.0, "g2", None, "db", "a"),
        ("INSERT", 7, 9, 9.0, None, None, "db", "b"),
    ]).drop(C.DDL_PAYLOAD)
    run_mixed_stream_multi(
        c, [("dml", batch0), ("dml", batch1, [drop, create])],
        str(tmp_path / "cp"),
    )
    a = {r["user_id"]: (r["value"], r["extra"])
         for r in c.table("db", "a").read().collect()}
    assert a == {100: (100.0, "g2")}
    b = {r["user_id"]: r["value"] for r in c.table("db", "b").read().collect()}
    assert b == {2: 2.0, 9: 9.0}

def _state(c, db, tb):
    return {r["user_id"]: r["value"] for r in c.table(db, tb).read().collect()}

def test_multi_table_standalone_drop_recreate_with_resume(spark, tmp_path):
    """STANDALONE DDL control events: a DROP then re-CREATE for ONE
    table between DML items bumps that table's generation — snapshot
    history and batch-id barrier reset, post-re-CREATE DML applies from
    scratch — with a checkpoint resume exercised ACROSS the DDL
    boundary and the final state oracle-checked against an independent
    consumer replay (drop+create == table born at the create point).

    Complements test_multi_table_mixed_drop_recreate_mid_stream, which
    drives the same sequence interleaved INSIDE one DML item."""
    c = consumer(spark, tmp_path)
    create_tables(c, ("a", "b"))
    cp = str(tmp_path / "cp")
    b0 = dml(spark, [
        ("INSERT", 1, 1, 1.0, None, None, "db", "a"),
        ("INSERT", 2, 2, 2.0, None, None, "db", "b"),
        ("INSERT", 3, 3, 3.0, None, None, "db", "b"),
    ]).drop(C.DDL_PAYLOAD)
    drop = DDLEvent(DDLOp.DROP_TABLE, "db", "b", sequence_num=4)
    recreate = DDLEvent(DDLOp.CREATE_TABLE, "db", "b", schema=SRC,
                        primary_keys=["user_id"], sequence_num=5)
    post = [  # table b's post-re-CREATE sub-stream
        ("INSERT", 6, 30, 30.0, None, None, "db", "b"),
        ("UPDATE", 7, 30, 31.0, None, 30, "db", "b"),
        ("INSERT", 8, 40, 40.0, None, None, "db", "b"),
        ("DELETE", 9, 40, 40.0, None, 40, "db", "b"),
    ]
    b1 = dml(
        spark, [("UPDATE", 10, 1, 10.0, None, 1, "db", "a")] + post
    ).drop(C.DDL_PAYLOAD)
    items = [("dml", b0), ("ddl", drop), ("ddl", recreate), ("dml", b1)]

    # run the first three items, then resume across the DDL boundary
    # from the checkpoint (crash window between re-CREATE and b1)
    run_mixed_stream_multi(c, items[:3], cp, tables=[("db", "a"), ("db", "b")])
    assert c.table("db", "b").read().count() == 0  # generation bumped
    assert c.table("db", "b").latest_batch_id() == -1
    run_mixed_stream_multi(c, items, cp, tables=[("db", "a"), ("db", "b")])

    # oracle 1: sibling table a == full-stream replay on a fresh consumer
    # oracle 2: re-created b == fresh table fed only the post-CREATE rows
    o = consumer(spark, tmp_path / "oracle")
    create_tables(o, ("a", "b"))
    o.apply_batch("db", "a", dml(spark, [
        ("INSERT", 1, 1, 1.0, None, None, "db", "a"),
        ("UPDATE", 10, 1, 10.0, None, 1, "db", "a"),
    ]).drop(C.DDL_PAYLOAD, "_database", "_table"), 0)
    o.apply_batch("db", "b",
                  dml(spark, post).drop(C.DDL_PAYLOAD, "_database", "_table"),
                  0)
    assert _state(c, "db", "a") == _state(o, "db", "a") == {1: 10.0}
    assert _state(c, "db", "b") == _state(o, "db", "b") == {30: 31.0}

    # generation bump visible in history: b has create + exactly one DML
    # commit; a has create + two
    assert c.table("db", "b").history().count() == 2
    assert c.table("db", "a").history().count() == 3
    # and the new generation's barrier reflects only the new stream ids
    assert (c.table("db", "b").latest_batch_id()
            == 3 * EventConsumer.MIXED_BATCH_STRIDE)

    # idempotent full replay: a fresh pass over the same checkpoint is
    # all skips — state and history unchanged (no double generation bump)
    run_mixed_stream_multi(c, items, cp, tables=[("db", "a"), ("db", "b")])
    assert _state(c, "db", "b") == {30: 31.0}
    assert c.table("db", "b").history().count() == 2

def test_multi_table_standalone_create_joins_cached_topology(spark, tmp_path):
    """tables=None through the STREAM DRIVER: topology is discovered
    once from the first batch, then a standalone CREATE mid-stream adds
    the new table to the cached fan-out (not waiting for a re-discovery
    that never happens) and a standalone DROP removes it so later
    batches don't fail on a missing table."""
    c = consumer(spark, tmp_path)
    create_tables(c, ("a",))
    cp = str(tmp_path / "cp")
    mk = lambda rows: dml(spark, rows).drop(C.DDL_PAYLOAD)  # noqa: E731
    b0 = mk([("INSERT", 1, 1, 1.0, None, None, "db", "a")])
    create = DDLEvent(DDLOp.CREATE_TABLE, "db", "fresh", schema=SRC,
                      primary_keys=["user_id"], sequence_num=2)
    b1 = mk([
        ("INSERT", 3, 2, 2.0, None, None, "db", "a"),
        ("INSERT", 4, 100, 100.0, None, None, "db", "fresh"),
    ])
    drop = DDLEvent(DDLOp.DROP_TABLE, "db", "fresh", sequence_num=5)
    b2 = mk([("INSERT", 6, 3, 3.0, None, None, "db", "a")])
    run_mixed_stream_multi(
        c, [("dml", b0), ("ddl", create), ("dml", b1), ("ddl", drop), ("dml", b2)],
        cp, tables=None,
    )
    assert c.topology_discoveries == 1  # one cold-start scan, then DDL-maintained
    assert _state(c, "db", "a") == {1: 1.0, 2: 2.0, 3: 3.0}
    assert not c.table_exists("db", "fresh")

def test_mixed_stream_multi_auto_compact(spark, tmp_path, monkeypatch):
    """run_mixed_stream_multi's compaction hook: with a threshold of 1,
    every table's file count per bucket stays bounded and each
    compaction appends an ``event="auto_compact"`` lineage line."""
    import json

    from bigquery_delta_plugins_spark.lake.table import LakeTable

    # multiple files per bucket per commit: the regime the hook exists for
    monkeypatch.setattr(LakeTable, "WRITE_REPARTITION", False)
    c = consumer(spark, tmp_path)
    create_tables(c, ("a", "b"))
    items = [
        ("dml", multi_rows(spark, [
            (op, b * 4 + k + 1, uid, float(b), before, "db", tb)
            for k, (tb, (op, uid, before)) in enumerate([
                ("a", ("INSERT", b, None)),
                ("a", ("UPDATE", max(b - 1, 0), max(b - 1, 0))),
                ("b", ("INSERT", b, None)),
                ("b", ("UPDATE", max(b - 1, 0), max(b - 1, 0))),
            ])
        ]))
        for b in range(2)
    ]
    cp = tmp_path / "cp"
    run_mixed_stream_multi(c, items, str(cp), tables=[("db", "a"), ("db", "b")],
                           auto_compact_files_per_bucket=1)
    for tb in ("a", "b"):
        t = c.table("db", tb)
        per_bucket: dict[int, int] = {}
        for f in t.current_snapshot()["files"]:
            per_bucket[f["bucket"]] = per_bucket.get(f["bucket"], 0) + 1
        assert per_bucket and max(per_bucket.values()) <= 1, tb
        assert {r["user_id"] for r in t.read().collect()} == set(range(2))
    with open(cp / "lineage.jsonl") as f:
        lines = [json.loads(line) for line in f]
    compacted = {(e["database"], e["table_name"])
                 for e in lines if e.get("event") == "auto_compact"}
    assert compacted == {("db", "a"), ("db", "b")}
