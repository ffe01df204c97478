"""End-to-end consumer: generated CDC stream -> lake table, verified
against a driver-side Python dict replay (the reference-replay oracle);
exactly-once under simulated crash between snapshot and checkpoint
commit; DDL mid-stream."""

import pytest
from pyspark.sql import types as T

from bigquery_delta_plugins_spark import constants as C
from bigquery_delta_plugins_spark import schemas
from bigquery_delta_plugins_spark.sources.gen import synth_events
from bigquery_delta_plugins_spark.streaming.consumer import EventConsumer
from bigquery_delta_plugins_spark.streaming.driver import (
    read_commit_log,
    run_microbatch_loop,
)
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


def python_replay(events, soft_deletes=False):
    """Scalar oracle: replay staged events batch-by-batch with the
    REFERENCE's semantics — a direct Python transliteration of the
    generated diff query (createDiffQuery,
    BigQueryEventConsumer.java:1154-1223) and MERGE arms
    (createMergeQuery :1225-1391) for ordered sources.

    Per batch: survivors are events no later event kills via
    ``B._before_url = A.url AND A.seq < B.seq``; then every (target row,
    survivor) pair with ``T.url = D._before_url`` takes the matched arm,
    unmatched survivors take the NOT-MATCHED arms.  This reproduces the
    reference's batch-boundary behavior exactly, including the stale
    predecessor row left behind by a multi-link PK-move chain whose head
    row predates the batch (the diff drops the chain head, so the MERGE
    only sees the survivor's immediate before-key)."""
    rows: list[dict] = []
    by_batch: dict[int, list] = {}
    for ev in events:
        by_batch.setdefault(ev[C.BATCH_ID], []).append(ev)

    for b in sorted(by_batch):
        evs = sorted(by_batch[b], key=lambda e: e[C.SEQUENCE_NUM])
        survivors = [
            a for a in evs
            if not any(
                x["_before_url"] is not None
                and x["_before_url"] == a["url"]
                and a[C.SEQUENCE_NUM] < x[C.SEQUENCE_NUM]
                for x in evs
            )
        ]
        new_rows: list[dict] = []
        used = [False] * len(survivors)
        for t in rows:
            hits = [
                i for i, d in enumerate(survivors)
                if d["_before_url"] is not None and d["_before_url"] == t["url"]
            ]
            if not hits:
                new_rows.append(t)
                continue
            for i in hits:
                used[i] = True
                d = survivors[i]
                guard = (
                    t.get(C.IS_DELETED) is not True if soft_deletes else True
                )
                if not guard:
                    new_rows.append(t)
                elif d[C.OPERATION] == "DELETE":
                    if soft_deletes:
                        new_rows.append({**t, C.IS_DELETED: True})
                    # else: hard delete -> drop
                else:  # matched INSERT/UPDATE arm
                    new_rows.append(_row_from_event(d))
        for i, d in enumerate(survivors):
            if not used[i] and d[C.OPERATION] in ("INSERT", "UPDATE"):
                new_rows.append(_row_from_event(d))
        rows = new_rows
    return rows


def _row_from_event(ev):
    return {
        "url": ev["url"], "warc_ts": ev["warc_ts"], "html": ev["html"],
        "text": ev["text"], "lang": ev["lang"],
        C.SEQUENCE_NUM: ev[C.SEQUENCE_NUM], C.IS_DELETED: None,
    }


def _norm(url, html, seq, deleted):
    return (url, bytes(html) if html is not None else None, seq, deleted)


def table_state(table):
    return sorted(
        _norm(r["url"], r["html"], r[C.SEQUENCE_NUM], r[C.IS_DELETED])
        for r in table.read().collect()
    )


def oracle_state(rows):
    return sorted(
        _norm(v["url"], v["html"], v[C.SEQUENCE_NUM], v.get(C.IS_DELETED))
        for v in rows
    )


@pytest.fixture
def pages_consumer(spark, tmp_path):
    c = EventConsumer(spark, str(tmp_path / "wh"), num_buckets=8)
    c.apply_ddl(
        DDLEvent(DDLOp.CREATE_TABLE, "web", "pages", schema=PAGES, primary_keys=["url"])
    )
    return c


def gen_batches(spark, n_events, n_urls, batch_size, **kw):
    ev = synth_events(
        spark, n_events, n_urls, batch_size=batch_size, **kw
    ).cache()
    n_batches = (n_events + batch_size - 1) // batch_size
    batches = [
        (b, ev.filter(ev[C.BATCH_ID] == b)) for b in range(n_batches)
    ]
    return ev, batches


@pytest.mark.parametrize("soft", [False, True])
def test_stream_replay_matches_python_oracle(spark, tmp_path, soft):
    consumer = EventConsumer(
        spark, str(tmp_path / f"wh{soft}"), num_buckets=8,
        soft_deletes=soft,
    )
    consumer.apply_ddl(
        DDLEvent(DDLOp.CREATE_TABLE, "web", "pages", schema=PAGES, primary_keys=["url"])
    )
    ev, batches = gen_batches(spark, 3000, 120, 500, pk_move_frac=0.03)
    metrics = run_microbatch_loop(
        consumer, batches, "web", "pages", str(tmp_path / f"cp{soft}")
    )
    assert len(metrics) == 6 and not any(m.get("skipped") for m in metrics)

    events = [r.asDict() for r in ev.collect()]
    expected = python_replay(events, soft_deletes=soft)
    got = table_state(consumer.table("web", "pages"))
    assert got == oracle_state(expected)
    ev.unpersist()


def test_crash_between_snapshot_and_checkpoint_is_exactly_once(spark, tmp_path):
    consumer = EventConsumer(spark, str(tmp_path / "wh"), num_buckets=8)
    consumer.apply_ddl(
        DDLEvent(DDLOp.CREATE_TABLE, "web", "pages", schema=PAGES, primary_keys=["url"])
    )
    ev, batches = gen_batches(spark, 2000, 80, 400)
    cp = str(tmp_path / "cp")

    with pytest.raises(RuntimeError, match="simulated crash"):
        run_microbatch_loop(consumer, batches, "web", "pages", cp,
                            crash_after_apply_batch=2)
    assert read_commit_log(cp) == 1  # batch 2 applied but NOT checkpointed

    state_after_crash = table_state(consumer.table("web", "pages"))

    # resume: batch 2 replays (batch-id dedup makes it a no-op), 3..4 apply
    metrics = run_microbatch_loop(consumer, batches, "web", "pages", cp)
    replayed = [m for m in metrics if m["batch_id"] == 2]
    assert replayed and replayed[0]["skipped"] is True

    events = [r.asDict() for r in ev.collect()]
    assert table_state(consumer.table("web", "pages")) == oracle_state(
        python_replay(events)
    )
    # and the crash state was itself a consistent prefix (batches 0-2)
    prefix = [e for e in events if e[C.BATCH_ID] <= 2]
    assert state_after_crash == oracle_state(python_replay(prefix))
    ev.unpersist()


def test_double_full_replay_is_byte_identical(spark, tmp_path):
    """Replaying the full prefix twice from a fresh checkpoint converges
    to byte-identical table state (north-rule exactly-once claim)."""
    consumer = EventConsumer(spark, str(tmp_path / "wh"), num_buckets=8)
    consumer.apply_ddl(
        DDLEvent(DDLOp.CREATE_TABLE, "web", "pages", schema=PAGES, primary_keys=["url"])
    )
    ev, batches = gen_batches(spark, 1500, 60, 500)
    run_microbatch_loop(consumer, batches, "web", "pages", str(tmp_path / "cp1"))
    s1 = table_state(consumer.table("web", "pages"))
    # second replay with a FRESH commit log: every batch re-offered
    metrics = run_microbatch_loop(consumer, batches, "web", "pages", str(tmp_path / "cp2"))
    assert all(m["skipped"] for m in metrics)
    assert table_state(consumer.table("web", "pages")) == s1
    ev.unpersist()


def test_ddl_alter_mid_stream(spark, tmp_path, pages_consumer):
    consumer = pages_consumer
    ev, batches = gen_batches(spark, 1000, 50, 500)
    run_microbatch_loop(consumer, batches[:1], "web", "pages", str(tmp_path / "cp"))

    wider = T.StructType(PAGES.fields + [T.StructField("fetch_status", T.IntegerType(), True)])
    consumer.apply_ddl(
        DDLEvent(DDLOp.ALTER_TABLE, "web", "pages", schema=wider, primary_keys=["url"])
    )
    t = consumer.table("web", "pages")
    assert "fetch_status" in [f.name for f in t.schema.fields]
    assert t.read().filter("fetch_status IS NOT NULL").count() == 0

    # subsequent batches (still without the column) keep applying
    from pyspark.sql import functions as F

    b1 = batches[1][1].withColumn("fetch_status", F.lit(200)).withColumn(
        "_before_fetch_status", F.lit(None).cast("int")
    )
    consumer.apply_batch("web", "pages", b1, 1)
    out = t.read()
    assert out.filter("fetch_status = 200").count() > 0
    ev.unpersist()


def test_truncate_and_drop(spark, tmp_path, pages_consumer):
    consumer = pages_consumer
    ev, batches = gen_batches(spark, 500, 30, 500)
    run_microbatch_loop(consumer, batches, "web", "pages", str(tmp_path / "cp"))
    assert consumer.table("web", "pages").read().count() > 0

    consumer.apply_ddl(DDLEvent(DDLOp.TRUNCATE_TABLE, "web", "pages"))
    assert consumer.table("web", "pages").read().count() == 0

    consumer.apply_ddl(DDLEvent(DDLOp.DROP_TABLE, "web", "pages"))
    with pytest.raises(FileNotFoundError):
        consumer.table("web", "pages")
    ev.unpersist()


def test_require_manual_drops(spark, tmp_path):
    consumer = EventConsumer(spark, str(tmp_path / "wh"), require_manual_drops=True)
    consumer.apply_ddl(
        DDLEvent(DDLOp.CREATE_TABLE, "web", "pages", schema=PAGES, primary_keys=["url"])
    )
    with pytest.raises(RuntimeError, match="manually"):
        consumer.apply_ddl(DDLEvent(DDLOp.DROP_TABLE, "web", "pages"))
