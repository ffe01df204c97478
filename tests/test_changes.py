"""Changelog reads (operators/changes.py + LakeTable.changes):
classification matrix, end-to-end equivalence with an unpruned diff,
and the manifest-level bucket-pruning property (unchanged buckets are
never scanned)."""

import os

from pyspark.sql import functions as F
from pyspark.sql import types as T

from bigquery_delta_plugins_spark import constants as C
from bigquery_delta_plugins_spark.operators.changes import (
    CHANGE_TYPE,
    changelog_diff,
)
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

STATE = T.StructType(
    [
        T.StructField("k", T.LongType(), True),
        T.StructField("v", T.StringType(), True),
        T.StructField(C.SEQUENCE_NUM, T.LongType(), True),
        T.StructField(C.IS_DELETED, T.BooleanType(), True),
    ]
)


def test_changelog_diff_classification(spark):
    """Every arm of the change matrix: insert, hard delete, soft
    tombstone gained (delete), tombstone cleared (re-insert), update,
    unchanged filtered, and same-key-same-seq tombstone no-op."""
    old = spark.createDataFrame(
        [
            (1, "a", 10, None),    # unchanged -> filtered
            (2, "b", 20, None),    # hard-deleted in new
            (3, "c", 30, None),    # updated
            (4, "d", 40, None),    # tombstoned in new -> delete
            (5, "e", 50, True),    # tombstone cleared -> insert
        ],
        STATE,
    )
    new = spark.createDataFrame(
        [
            (1, "a", 10, None),
            (3, "c2", 31, None),
            (4, "d", 41, True),
            (5, "e2", 51, None),
            (6, "f", 60, None),    # new key -> insert
            (7, "g", 70, True),    # born tombstoned -> delete
        ],
        STATE,
    )
    rows = {
        r["k"]: (r[CHANGE_TYPE], r["v"], r[C.SEQUENCE_NUM])
        for r in changelog_diff(old, new, ["k"]).collect()
    }
    assert rows == {
        2: ("delete", "b", 20),     # preimage for hard delete
        3: ("update", "c2", 31),    # postimage
        4: ("delete", "d", 41),
        5: ("insert", "e2", 51),
        6: ("insert", "f", 60),
        7: ("delete", "g", 70),
    }


def _build(spark, tmp_path, soft):
    c = EventConsumer(
        spark, str(tmp_path / "wh"), num_buckets=8,
        soft_deletes=soft,
    )
    c.apply_ddl(
        DDLEvent(DDLOp.CREATE_TABLE, "web", "pages", schema=PAGES,
                 primary_keys=["url"])
    )
    ev = synth_events(spark, 1800, 90, batch_size=600, delete_frac=0.15,
                      pk_move_frac=0.03).cache()
    table = c.table("web", "pages")
    snaps = [table.current_snapshot()["snapshot_id"]]
    for b in range(3):
        c.apply_batch("web", "pages", ev.filter(ev[C.BATCH_ID] == b), b)
        snaps.append(table.current_snapshot()["snapshot_id"])
    ev.unpersist()
    return table, snaps


def test_table_changes_matches_unpruned_diff(spark, tmp_path):
    """changes(a, b) over pruned bucket scans == changelog_diff over the
    FULL snapshot reads, for every snapshot pair, in soft-delete mode
    (exercises tombstone-gained / re-insert arms on real merge output)."""
    table, snaps = _build(spark, tmp_path, soft=True)

    def key(r):
        d = r.asDict()
        d.pop("_from_snapshot_id", None)
        d.pop("_to_snapshot_id", None)
        return tuple(sorted((k, str(v)) for k, v in d.items()))

    for a, b in [(snaps[0], snaps[1]), (snaps[1], snaps[3]),
                 (snaps[0], snaps[3])]:
        got = sorted(key(r) for r in table.changes(a, b).collect())
        want = sorted(
            key(r)
            for r in changelog_diff(
                table.read(snapshot_id=a), table.read(snapshot_id=b),
                ["url"],
            ).collect()
        )
        assert got == want and len(got) > 0

    # replaying a changelog onto the from-state reproduces the to-state
    # (hard-delete interpretation of the soft changelog: apply postimages,
    # drop 'delete' keys)
    chg = table.changes(snaps[1], snaps[3])
    base = table.read(snapshot_id=snaps[1]).filter(
        ~F.col(C.IS_DELETED).eqNullSafe(F.lit(True))
    )
    applied = (
        base.join(chg.select("url"), "url", "left_anti")
        .unionByName(
            chg.filter(F.col(CHANGE_TYPE) != "delete").drop(
                CHANGE_TYPE, "_from_snapshot_id", "_to_snapshot_id"
            ),
            allowMissingColumns=False,
        )
    )
    want_live = table.read(snapshot_id=snaps[3]).filter(
        ~F.col(C.IS_DELETED).eqNullSafe(F.lit(True))
    )
    assert sorted(map(str, applied.collect())) == sorted(
        map(str, want_live.collect())
    )


def test_changes_for_batch_feed(spark, tmp_path):
    """Per-batch CDC-out: changes_for_batch(b) equals the snapshot-pair
    changelog around batch b's commit, for every applied batch."""
    table, snaps = _build(spark, tmp_path, soft=False)
    for b in range(3):
        got = sorted(map(str, table.changes_for_batch(b).collect()))
        want = sorted(map(str, table.changes(snaps[b], snaps[b + 1]).collect()))
        assert got == want and got

    import pytest as _pytest

    with _pytest.raises(KeyError):
        table.changes_for_batch(99)


def test_changes_for_batch_spans_two_phase_snapshot_split(spark, tmp_path):
    """A two-phase O5 batch (direct-load snapshot + merge commit) is ONE
    batch in the feed: changes_for_batch spans both phases, so the
    snapshot-loaded rows appear as inserts alongside the merged ones."""
    c = EventConsumer(spark, str(tmp_path / "wh"), num_buckets=2)
    src = T.StructType(
        [
            T.StructField("user_id", T.LongType(), True),
            T.StructField("value", T.DoubleType(), True),
        ]
    )
    staging = T.StructType(
        [
            T.StructField(C.OPERATION, T.StringType(), False),
            T.StructField(C.SEQUENCE_NUM, T.LongType(), False),
            T.StructField("user_id", T.LongType(), True),
            T.StructField("value", T.DoubleType(), True),
            T.StructField("_before_user_id", T.LongType(), True),
            T.StructField(C.SNAPSHOT, T.BooleanType(), True),
        ]
    )
    c.apply_ddl(
        DDLEvent(DDLOp.CREATE_TABLE, "db", "t", schema=src,
                 primary_keys=["user_id"])
    )
    b0 = spark.createDataFrame(
        [("INSERT", 1, 1, 1.0, None, None), ("INSERT", 2, 2, 2.0, None, None)],
        staging,
    ).drop(C.SNAPSHOT)
    c.apply_batch("db", "t", b0, 0)
    mixed = [
        ("INSERT", 3, 10, 10.0, None, True),   # snapshot portion
        ("INSERT", 4, 11, 11.0, None, True),
        ("UPDATE", 5, 1, 100.0, 1, False),     # streaming portion
    ]
    m = c.apply_batch("db", "t", spark.createDataFrame(mixed, staging), 1)
    assert m["fast_path"] == "snapshot_append"

    feed = {
        r["user_id"]: (r[CHANGE_TYPE], r["value"])
        for r in c.table("db", "t").changes_for_batch(1).collect()
    }
    assert feed == {
        10: ("insert", 10.0),
        11: ("insert", 11.0),
        1: ("update", 100.0),
    }


def test_changelog_replay_property(spark, tmp_path):
    """Property (hypothesis): for ARBITRARY event streams — chained /
    swapped / dangling before-keys, both delete modes — applying each
    batch's changelog onto the pre-batch state reproduces the post-batch
    state exactly.  This is the contract a downstream incremental
    consumer of the CDC-out feed relies on."""
    import os
    import uuid

    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from test_property_merge import STAGING, _materialize, raw_stream

    @settings(
        max_examples=6,
        deadline=None,
        suppress_health_check=[
            HealthCheck.too_slow,
            HealthCheck.function_scoped_fixture,
        ],
    )
    @given(raw=raw_stream, soft=st.booleans())
    def prop(raw, soft):
        events = _materialize(raw)
        root = os.path.join(str(tmp_path), uuid.uuid4().hex)
        c = EventConsumer(spark, os.path.join(root, "wh"), num_buckets=2,
                          soft_deletes=soft)
        c.apply_ddl(
            DDLEvent(DDLOp.CREATE_TABLE, "web", "pages", schema=PAGES,
                     primary_keys=["url"])
        )
        df = spark.createDataFrame(
            [tuple(e[f.name] for f in STAGING.fields) for e in events],
            STAGING,
        )
        table = c.table("web", "pages")
        n_batches = events[-1][C.BATCH_ID] + 1
        pre_sid = table.current_snapshot()["snapshot_id"]
        for b in range(n_batches):
            c.apply_batch("web", "pages", df.filter(df[C.BATCH_ID] == b), b)
            post_sid = table.current_snapshot()["snapshot_id"]
            if post_sid == pre_sid:  # empty batch, nothing to check
                continue
            rows = table.read(snapshot_id=post_sid).collect()
            if len({r["url"] for r in rows}) != len(rows):
                # Repeated bare INSERTs of one key in a batch survive the
                # reference's diff (no before-key to collapse on) and all
                # take the NOT-MATCHED arm — a duplicate-key state.  The
                # changelog contract assumes keyed states (one live row
                # per PK, as any real binlog maintains), so stop here.
                break
            chg = [r.asDict() for r in table.changes_for_batch(b).collect()]
            old = {
                r["url"]: r.asDict()
                for r in table.read(snapshot_id=pre_sid).collect()
            }
            for r in chg:
                ctype = r.pop(CHANGE_TYPE)
                r.pop("_from_snapshot_id"), r.pop("_to_snapshot_id")
                if ctype == "delete" and r.get(C.IS_DELETED) is not True:
                    # physical removal: hard-delete mode, or the old key
                    # of a PK-move (which vanishes even in soft mode) —
                    # distinguished from a tombstone upsert by the image
                    old.pop(r["url"], None)
                else:
                    old[r["url"]] = r  # postimage (incl. soft tombstone)
            want = {r["url"]: r.asDict() for r in rows}
            assert old == want, (raw, soft, b)
            pre_sid = post_sid

    prop()


def test_changes_across_schema_evolution_and_truncate(spark, tmp_path):
    """Changelog across an ALTER (old snapshot lacks the added column —
    surfaces NULL in preimages) and across a TRUNCATE (every surviving
    key becomes a delete)."""
    src = T.StructType(
        [
            T.StructField("user_id", T.LongType(), True),
            T.StructField("value", T.DoubleType(), True),
        ]
    )
    staging = T.StructType(
        [
            T.StructField(C.OPERATION, T.StringType(), False),
            T.StructField(C.SEQUENCE_NUM, T.LongType(), False),
            T.StructField("user_id", T.LongType(), True),
            T.StructField("value", T.DoubleType(), True),
            T.StructField("_before_user_id", T.LongType(), True),
        ]
    )
    c = EventConsumer(spark, str(tmp_path / "wh"), num_buckets=2)
    c.apply_ddl(DDLEvent(DDLOp.CREATE_TABLE, "db", "t", schema=src,
                         primary_keys=["user_id"]))
    c.apply_batch("db", "t", spark.createDataFrame(
        [("INSERT", 1, 1, 1.0, None), ("INSERT", 2, 2, 2.0, None)], staging), 0)
    t = c.table("db", "t")
    s_before_alter = t.current_snapshot()["snapshot_id"]

    # ALTER: add nullable col, then a batch writes it for one key
    wide = T.StructType(src.fields + [T.StructField("extra", T.StringType(), True)])
    c.apply_ddl(DDLEvent(DDLOp.ALTER_TABLE, "db", "t", schema=wide))
    staging2 = T.StructType(
        staging.fields[:4]
        + [T.StructField("extra", T.StringType(), True)]
        + staging.fields[4:]
    )
    c.apply_batch("db", "t", spark.createDataFrame(
        [("UPDATE", 3, 1, 10.0, "x", 1)], staging2), 1)
    t = c.table("db", "t")
    chg = {
        r["user_id"]: (r[CHANGE_TYPE], r["value"], r["extra"])
        for r in t.changes(
            s_before_alter, t.current_snapshot()["snapshot_id"]
        ).collect()
    }
    assert chg == {1: ("update", 10.0, "x")}

    # TRUNCATE: all live keys become hard deletes in the changelog
    s_pre_trunc = t.current_snapshot()["snapshot_id"]
    c.apply_ddl(DDLEvent(DDLOp.TRUNCATE_TABLE, "db", "t"))
    t = c.table("db", "t")
    chg2 = {
        r["user_id"]: r[CHANGE_TYPE]
        for r in t.changes(
            s_pre_trunc, t.current_snapshot()["snapshot_id"]
        ).collect()
    }
    assert chg2 == {1: "delete", 2: "delete"}
    assert t.read().count() == 0


def test_driver_changes_dir_feed_exactly_once(spark, tmp_path):
    """run_microbatch_loop(changes_dir=...): eager per-batch CDC-out as
    parquet partitions; a crash between apply and checkpoint replays as
    a snapshot no-op and the feed partition is backfilled/idempotent —
    the concatenated feed equals the on-demand per-batch changelogs."""
    import pytest as _pytest

    from bigquery_delta_plugins_spark.streaming.driver import (
        run_microbatch_loop,
    )

    ev = synth_events(spark, 1200, 60, batch_size=400, delete_frac=0.1).cache()
    batches = [(b, ev.filter(ev[C.BATCH_ID] == b)) for b in range(3)]

    c = EventConsumer(spark, str(tmp_path / "wh"), num_buckets=4)
    c.apply_ddl(
        DDLEvent(DDLOp.CREATE_TABLE, "web", "pages", schema=PAGES,
                 primary_keys=["url"])
    )
    cp, feed = str(tmp_path / "cp"), str(tmp_path / "feed")
    # crash after batch 1's apply (changelog written, checkpoint not)
    with _pytest.raises(RuntimeError, match="simulated crash"):
        run_microbatch_loop(c, batches, "web", "pages", cp,
                            crash_after_apply_batch=1, changes_dir=feed)
    # resume: batch 1 replays as a no-op, feed partition idempotent
    c2 = EventConsumer(spark, str(tmp_path / "wh"), num_buckets=4)
    run_microbatch_loop(c2, batches, "web", "pages", cp, changes_dir=feed)

    t = c2.table("web", "pages")
    import os

    for b in range(3):
        part = os.path.join(feed, f"batch={b}")
        got = sorted(map(str, spark.read.parquet(part).collect()))
        want = sorted(map(str, t.changes_for_batch(b).collect()))
        assert got == want and got, b


def test_table_changes_prunes_unchanged_buckets(spark, tmp_path):
    """The physical scans behind changes(a, b) touch ONLY files of
    buckets whose manifest file set differs — a bucket untouched by the
    intervening commits is provably change-free and is never read."""
    table, snaps = _build(spark, tmp_path, soft=False)
    a, b = snaps[1], snaps[2]
    sa, sb = table.snapshot(a), table.snapshot(b)

    def by_bucket(snap):
        out = {}
        for f in snap["files"]:
            out.setdefault(f["bucket"], set()).add(f["path"])
        return out

    ba, bb = by_bucket(sa), by_bucket(sb)
    changed = {k for k in set(ba) | set(bb) if ba.get(k) != bb.get(k)}
    allowed = {
        os.path.realpath(os.path.join(table.path, p))
        for snap, bk in ((sa, ba), (sb, bb))
        for k in changed
        for p in bk.get(k, ())
    }
    scanned = {
        os.path.realpath(p.removeprefix("file:"))
        for p in table.changes(a, b).inputFiles()
    }
    assert scanned and scanned <= allowed

    # and the pruning is real: some bucket of the table is skipped
    all_files = {
        os.path.realpath(os.path.join(table.path, f["path"]))
        for f in sb["files"]
    }
    assert len(changed) <= table.num_buckets
    assert (all_files - scanned) or len(changed) == table.num_buckets
