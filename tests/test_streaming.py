"""Structured Streaming front-end: parquet file stream -> foreachBatch
apply -> checkpoint resume.  The stream-applied table must equal the
deterministic micro-batch loop's table, and restarting the stream from
its checkpoint must process only newly arrived files (O25/O27: offset
commit + trigger semantics over Spark's checkpoint log)."""

import os
import time

from pyspark.sql import functions as F

from bigquery_delta_plugins_spark import constants as C
from bigquery_delta_plugins_spark import schemas
from bigquery_delta_plugins_spark.sources.gen import synth_events
from bigquery_delta_plugins_spark.streaming.consumer import EventConsumer
from bigquery_delta_plugins_spark.streaming.driver import (
    run_microbatch_loop,
    run_structured_stream,
)
from bigquery_delta_plugins_spark.types import DDLEvent, DDLOp

from test_consumer import PAGES, table_state


def _write_batch_file(ev, b, events_dir):
    (
        ev.filter(ev[C.BATCH_ID] == b)
        .coalesce(1)
        .write.mode("append")
        .parquet(events_dir)
    )
    time.sleep(1.05)  # distinct mtimes => deterministic file order


def _mk_consumer(spark, root):
    c = EventConsumer(spark, os.path.join(root, "wh"), num_buckets=8)
    c.apply_ddl(
        DDLEvent(DDLOp.CREATE_TABLE, "web", "pages", schema=PAGES, primary_keys=["url"])
    )
    return c


def test_structured_stream_matches_loop_and_resumes(spark, tmp_path):
    n_events, batch = 3000, 1000
    ev = synth_events(spark, n_events, 150, batch_size=batch, pk_move_frac=0.05).cache()
    staging = schemas.staging_schema(PAGES)
    events_dir = str(tmp_path / "events")
    for b in range(2):  # only the first two batches arrive initially
        _write_batch_file(ev, b, events_dir)

    # reference result: the deterministic loop over the same two batches
    loop_consumer = _mk_consumer(spark, str(tmp_path / "loop"))
    run_microbatch_loop(
        loop_consumer,
        [(b, ev.filter(ev[C.BATCH_ID] == b)) for b in range(2)],
        "web",
        "pages",
        str(tmp_path / "loop-cp"),
    )

    stream_consumer = _mk_consumer(spark, str(tmp_path / "stream"))
    cp = str(tmp_path / "stream-cp")
    feed = str(tmp_path / "feed")
    run_structured_stream(
        spark, events_dir, staging, stream_consumer, "web", "pages", cp,
        max_files_per_trigger=1, changes_dir=feed,
    )
    t = stream_consumer.table("web", "pages")
    assert table_state(t) == table_state(loop_consumer.table("web", "pages"))
    snap_after_first = t.current_snapshot()["snapshot_id"]

    # batch 2 arrives; the restarted stream resumes from the checkpoint
    # and processes ONLY the new file
    _write_batch_file(ev, 2, events_dir)
    run_structured_stream(
        spark, events_dir, staging, stream_consumer, "web", "pages", cp,
        max_files_per_trigger=1, changes_dir=feed,
    )
    run_microbatch_loop(
        loop_consumer,
        [(2, ev.filter(ev[C.BATCH_ID] == 2))],
        "web",
        "pages",
        str(tmp_path / "loop-cp"),
    )
    t = stream_consumer.table("web", "pages")
    assert table_state(t) == table_state(loop_consumer.table("web", "pages"))
    # exactly one more snapshot was committed by the resumed stream
    assert t.current_snapshot()["snapshot_id"] == snap_after_first + 1
    # lineage audit trail recorded every applied (batch, table)
    lineage = os.path.join(cp, "lineage.jsonl")
    assert os.path.exists(lineage)
    assert sum(1 for _ in open(lineage)) >= 3
    # eager CDC-out feed: one partition per applied stream batch, each
    # equal to the on-demand changelog
    for b in range(3):
        part = os.path.join(feed, f"batch={b}")
        assert os.path.exists(part), b
        got = sorted(map(str, spark.read.parquet(part).collect()))
        want = sorted(map(str, t.changes_for_batch(b).collect()))
        assert got == want and got, b

    # idempotence: re-running the stream with no new files is a no-op
    run_structured_stream(
        spark, events_dir, staging, stream_consumer, "web", "pages", cp,
        max_files_per_trigger=1,
    )
    assert (
        stream_consumer.table("web", "pages").current_snapshot()["snapshot_id"]
        == snap_after_first + 1
    )
    ev.unpersist()


def test_front_end_parity(spark, tmp_path):
    """One seeded DML stream — updates, a delete, a re-insert and a PK
    move — fed to every front-end, in one-table and multi-table form:
    the final tables are identical, and every lineage record carries
    the same key set."""
    import json
    import random

    from bigquery_delta_plugins_spark.streaming.driver import (
        run_microbatch_loop_multi,
        run_mixed_stream,
        run_mixed_stream_multi,
    )

    from cdc_helpers import MULTI, STAGING, consumer, create_tables, write_file

    rng = random.Random(9001)
    v = lambda: round(rng.uniform(0, 100), 2)  # noqa: E731
    stream = [  # (op, seq, user_id, value, before_user_id) per batch
        [("INSERT", 1, 1, v(), None), ("INSERT", 2, 2, v(), None),
         ("INSERT", 3, 3, v(), None), ("UPDATE", 4, 1, v(), 1),
         ("DELETE", 5, 2, None, 2)],
        [("INSERT", 6, 2, v(), None), ("UPDATE", 7, 30, v(), 3),
         ("UPDATE", 8, 1, v(), 1)],
    ]
    one = [spark.createDataFrame(rows, STAGING) for rows in stream]
    # table b carries the same shapes on shifted keys
    multi = [
        spark.createDataFrame(
            [r + ("db", "a") for r in rows]
            + [(op, s, u + 100, x, None if b is None else b + 100, "db", "b")
               for op, s, u, x, b in rows],
            MULTI,
        )
        for rows in stream
    ]

    def structured(form, frames, schema, **kw):
        events_dir = str(tmp_path / f"events-{form}")
        for df in frames:
            write_file(df, events_dir)
        return lambda c, cp: run_structured_stream(
            spark, events_dir, schema, c, "db", "t" if form == "one" else "",
            cp, max_files_per_trigger=1, available_now=True, **kw,
        )

    fronts = {
        "one": {
            "loop": lambda c, cp: run_microbatch_loop(
                c, list(enumerate(one)), "db", "t", cp),
            "mixed": lambda c, cp: run_mixed_stream(
                c, [("dml", df) for df in one], "db", "t", cp),
            "structured": structured("one", one, STAGING),
        },
        "multi": {
            "loop": lambda c, cp: run_microbatch_loop_multi(
                c, list(enumerate(multi)), cp),
            "mixed": lambda c, cp: run_mixed_stream_multi(
                c, [("dml", df) for df in multi], cp,
                tables=[("db", "a"), ("db", "b")]),
            "structured": structured("multi", multi, MULTI, multi_table=True),
        },
    }
    tables = {"one": ("t",), "multi": ("a", "b")}
    states, key_sets = {}, set()
    for form, runs in fronts.items():
        for name, run in runs.items():
            c = consumer(spark, tmp_path / form / name)
            create_tables(c, tables[form])
            cp = str(tmp_path / form / name / "cp")
            run(c, cp)
            states[form, name] = {
                tb: sorted(map(str, c.table("db", tb).read().collect()))
                for tb in tables[form]
            }
            with open(os.path.join(cp, "lineage.jsonl")) as f:
                records = [json.loads(line) for line in f]
            assert len(records) == len(stream) * len(tables[form]), (form, name)
            key_sets |= {frozenset(r) for r in records}
    for form in fronts:
        assert len({repr(states[form, n]) for n in fronts[form]}) == 1, form
    # table a of the multi-table stream saw exactly the one-table stream
    assert states["one", "loop"]["t"] == states["multi", "loop"]["a"]
    # the PK move left key 3 behind; the deleted key 2 came back
    assert {r["user_id"] for r in c.table("db", "a").read().collect()} == {1, 2, 30}
    assert len(key_sets) == 1
