"""Micro-batch drivers: one apply core, thin front-ends.

:func:`_apply_item` is the one place a stream item is applied under the
reference's flush contract (apply every table, then commit the offset,
BigQueryEventConsumer.java:670-729): apply, lineage, eager changelog
feed, crash hook, checkpoint commit, auto-compaction.  The front-ends
only turn their input into ``(item_id, dml, ddls)`` items and pick the
route (one table, or the per-table fan-out) and the lake batch-id space:

- ``run_microbatch_loop`` / ``run_microbatch_loop_multi`` — DML-only
  ``(batch_id, df)`` lists with a JSON commit log; lake id == batch id.
- ``run_mixed_stream`` / ``run_mixed_stream_multi`` — DML+DDL streams
  keyed by position; lake ids ``idx*MIXED_BATCH_STRIDE+k``.
- ``run_structured_stream`` — ``readStream`` + ``foreachBatch``; Spark's
  checkpoint is the commit log; strided ids iff the stream carries
  inline DDL.

A crash between a snapshot commit and the checkpoint commit replays the
item as a no-op (the consumer's snapshot-summary ``batch_id``), so the
state converges byte-identically on resume.  Every applied (item,
table) appends one lineage JSON line to ``<checkpoint>/lineage.jsonl``:
offset range, event counts, per-bucket diff counts, snapshot id,
throughput.
"""

from __future__ import annotations

import json
import os
from collections import Counter

from pyspark.sql import DataFrame, SparkSession

from pyspark.sql import functions as F

from .. import constants as C
from ..types import DDLEvent, ddl_event_from_json, ddl_event_to_json
from .consumer import EventConsumer


def _append_lineage(checkpoint_dir: str, record: dict) -> None:
    os.makedirs(checkpoint_dir, exist_ok=True)
    with open(os.path.join(checkpoint_dir, "lineage.jsonl"), "a") as f:
        f.write(json.dumps(record) + "\n")


def _commit_log_path(checkpoint_dir: str) -> str:
    return os.path.join(checkpoint_dir, "commits.json")


def read_commit_log(checkpoint_dir: str) -> int:
    """Highest committed batch id, -1 if none."""
    p = _commit_log_path(checkpoint_dir)
    if not os.path.exists(p):
        return -1
    with open(p) as f:
        return json.load(f)["latest_batch_id"]


def _commit(checkpoint_dir: str, batch_id: int) -> None:
    import uuid

    os.makedirs(checkpoint_dir, exist_ok=True)
    p = _commit_log_path(checkpoint_dir)
    tmp = p + "." + uuid.uuid4().hex + ".tmp"
    with open(tmp, "w") as f:
        json.dump({"latest_batch_id": batch_id}, f)
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, p)


def _write_changes_feed(
    consumer: EventConsumer,
    changes_dir: str,
    database: str,
    table: str,
    batch_id: int,
    skipped: bool,
    *,
    multi_table: bool,
) -> None:
    """Eager CDC-out: land one batch's changelog as a parquet partition
    BEFORE the checkpoint commit, so the feed is exactly-once under the
    same crash-window rule as the table itself.  Layout: single-table
    feeds keep ``<changes_dir>/batch=<id>``; multi-table feeds are
    per-table partitioned ``<changes_dir>/<db>/<table>/batch=<id>``.

    Freshly applied -> write; replayed-skip with the partition missing ->
    the crash hit between apply and the feed write, so backfill now (the
    snapshot is committed, the entry is fully reconstructible).  KeyError
    covers never-committed (empty) batches and vacuumed manifests
    (normalized by changes_for_batch); FileNotFoundError covers a table
    dropped after the batch."""
    part = (
        os.path.join(changes_dir, database, table, f"batch={batch_id}")
        if multi_table
        else os.path.join(changes_dir, f"batch={batch_id}")
    )
    if skipped and os.path.exists(part):
        return
    try:
        chg = consumer.table(database, table).changes_for_batch(batch_id)
    except (KeyError, FileNotFoundError):
        return
    chg.write.mode("overwrite").parquet(part)


def _maybe_auto_compact(
    consumer: EventConsumer,
    database: str,
    table: str,
    threshold: int | None,
    checkpoint_dir: str,
) -> None:
    """Driver-loop compaction hook: when any bucket of the table holds
    more than ``threshold`` files, bin-pack it (state-neutral commit —
    batch/seq bookkeeping untouched, changelog across the commit empty).
    File counts COMPOUND in a CDC lake (measured 43 -> 315 s/batch when
    they run away, lake/table.py:overwrite_buckets), so steady-state
    ingest needs this in the loop, not as a manual CLI step.  The check
    is a driver-side manifest read — no Spark job unless compaction
    actually runs.

    Observability: each compaction that runs appends an
    ``event="auto_compact"`` lineage line (files before/after, from/to
    snapshot ids) so a production operator can see compaction cadence
    in the same audit trail as the batches."""
    if threshold is None:
        return
    try:
        t = consumer.table(database, table)
        snap = t.current_snapshot()
    except FileNotFoundError:
        return
    counts = Counter(f["bucket"] for f in snap["files"])
    if counts and max(counts.values()) > threshold:
        m = t.compact(max_files_per_bucket=threshold)
        _append_lineage(checkpoint_dir, {
            "event": "auto_compact",
            "table": t.path,
            "database": database,
            "table_name": table,
            "from_snapshot_id": snap["snapshot_id"],
            **m,
        })


def _apply_item(
    consumer: EventConsumer,
    item_id: int,
    dml: DataFrame | None,
    ddls: list[DDLEvent],
    checkpoint_dir: str,
    *,
    table: tuple[str, str] | None = None,
    tables: list[tuple[str, str]] | None = None,
    max_workers: int = 4,
    mixed: bool = False,
    changes_dir: str | None = None,
    auto_compact_files_per_bucket: int | None = None,
    crash_after_apply_batch: int | None = None,
    commit: bool = True,
) -> list[dict]:
    """Apply one stream item under the reference's flush contract —
    every table applied before the offset commits
    (BigQueryEventConsumer.java:670-729) — in this order: apply,
    lineage, eager feed, crash hook, checkpoint commit, auto-compaction.

    ``dml`` is the item's DML rows (None for a standalone DDL control
    event) and ``ddls`` the DDL events interleaved in its sequence
    range; each DDL force-flushes the DML before it
    (BigQueryEventConsumer.java:433,457,499).  ``table=(db, tb)`` routes
    a one-table stream on the calling thread; ``table=None`` fans the
    item out per ``(_database, _table)`` on the consumer's thread pool
    (``tables=None`` discovers each item's tables).  ``mixed`` picks the
    lake batch-id space: False for DML-only streams (lake id == item id,
    no DDL), True for DDL-capable ones (``item_id*MIXED_BATCH_STRIDE+k``).
    ``commit=False`` under Structured Streaming, whose own commit log
    follows ``foreachBatch``.

    Crash safety: every item is one checkpoint commit, so a crash
    replays at most one item — DML no-ops via the lake batch-id check,
    a replayed DDL is idempotent or skipped by the consumer, and the
    eager feed is backfilled or rewritten idempotently."""
    if dml is None:
        for ev in ddls:
            consumer.apply_ddl(ev)
        ms = []
    elif table is None and mixed:
        ms = consumer.apply_multi_table_mixed_batch(
            dml, ddls, item_id, tables=tables, max_workers=max_workers
        )
    elif table is None:
        ms = consumer.apply_multi_table_batch(
            dml, item_id, tables=tables, max_workers=max_workers
        )
    elif mixed:
        ms = consumer.apply_mixed_batch(*table, dml, ddls, item_id)
    else:
        ms = [consumer.apply_batch(*table, dml, item_id)]
        ms[0]["database"], ms[0]["table_name"] = table
    for m in ms:
        _append_lineage(checkpoint_dir, m)
        if changes_dir is not None:
            _write_changes_feed(
                consumer, changes_dir, m["database"], m["table_name"],
                m["batch_id"], bool(m.get("skipped")), multi_table=table is None,
            )
    if crash_after_apply_batch is not None and item_id == crash_after_apply_batch:
        raise RuntimeError(f"simulated crash after applying batch {item_id}")
    if commit:
        _commit(checkpoint_dir, item_id)
    for db, tb in dict.fromkeys((m["database"], m["table_name"]) for m in ms):
        _maybe_auto_compact(
            consumer, db, tb, auto_compact_files_per_bucket, checkpoint_dir
        )
    return ms


def _run_items(consumer: EventConsumer, items, checkpoint_dir: str, **kw) -> list[dict]:
    """Resume from the commit log: apply every ``(item_id, dml, ddls)``
    past the last committed item, in order."""
    done = read_commit_log(checkpoint_dir)
    out = []
    for item_id, dml, ddls in items:
        if item_id > done:
            out.extend(_apply_item(consumer, item_id, dml, ddls, checkpoint_dir, **kw))
    return out


def _stream_items(items: list):
    """Mixed-stream items ``("dml", df[, [DDLEvent, ...]])`` /
    ``("ddl", DDLEvent)`` as ``(position, dml, ddls)``."""
    for idx, item in enumerate(items):
        if item[0] == "dml":
            yield idx, item[1], (item[2] if len(item) > 2 else [])
        elif item[0] == "ddl":
            yield idx, None, [item[1]]
        else:
            raise ValueError(f"unknown stream item kind: {item[0]!r}")


def run_microbatch_loop(
    consumer: EventConsumer,
    batches: list[tuple[int, DataFrame]],
    database: str,
    table: str,
    checkpoint_dir: str,
    crash_after_apply_batch: int | None = None,
    changes_dir: str | None = None,
    auto_compact_files_per_bucket: int | None = None,
) -> list[dict]:
    """Deterministic one-table DML loop over ``(batch_id, df)`` pairs
    with a JSON commit log; lake batch id == ``batch_id``.

    ``crash_after_apply_batch`` simulates death between the snapshot
    commit and the checkpoint commit, for exactly-once tests.
    ``changes_dir``: eager CDC-out — each batch's changelog
    (LakeTable.changes_for_batch) lands under ``<changes_dir>/batch=<id>``
    before the checkpoint commit.  ``auto_compact_files_per_bucket``:
    see :func:`_maybe_auto_compact`."""
    return _run_items(
        consumer, ((b, df, []) for b, df in batches), checkpoint_dir,
        table=(database, table), crash_after_apply_batch=crash_after_apply_batch,
        changes_dir=changes_dir,
        auto_compact_files_per_bucket=auto_compact_files_per_bucket,
    )


def run_microbatch_loop_multi(
    consumer: EventConsumer,
    batches: list[tuple[int, DataFrame]],
    checkpoint_dir: str,
    *,
    tables: list[tuple[str, str]] | None = None,
    max_workers: int = 4,
    crash_after_apply_batch: int | None = None,
    changes_dir: str | None = None,
    auto_compact_files_per_bucket: int | None = None,
) -> list[dict]:
    """Multi-table DML loop (O23): every batch DataFrame carries
    ``(_database, _table)`` columns and fans out one apply task per
    table; the checkpoint advances only after ALL tables committed, so
    a partial failure retries exactly the failed tables.

    ``tables=None`` discovers each batch's tables with one distinct-scan
    (consumer._discover_topology); declare them in steady state.
    ``changes_dir``: per-table feed ``<changes_dir>/<db>/<table>/batch=<id>``.
    Other options as in :func:`run_microbatch_loop`."""
    return _run_items(
        consumer, ((b, df, []) for b, df in batches), checkpoint_dir,
        tables=tables, max_workers=max_workers,
        crash_after_apply_batch=crash_after_apply_batch, changes_dir=changes_dir,
        auto_compact_files_per_bucket=auto_compact_files_per_bucket,
    )


def run_mixed_stream(
    consumer: EventConsumer,
    items: list,
    database: str,
    table: str,
    checkpoint_dir: str,
) -> list[dict]:
    """Sequence-ordered one-table DML+DDL stream (O27 forced flush):
    ``("dml", df)`` micro-batches, optionally ``("dml", df, [DDLEvent,
    ...])`` with DDL interleaved inside the batch's sequence range, and
    standalone ``("ddl", DDLEvent)`` control events, in stream order.
    Each item is one checkpoint commit keyed by its position.

    EVERY DML item uses the strided lake ids ``idx*STRIDE+k``,
    DDL-carrying or not: a plain item keyed by bare ``idx`` after a
    mixed item would compare below the strided barrier and be skipped
    as replay."""
    return _run_items(
        consumer, _stream_items(items), checkpoint_dir,
        table=(database, table), mixed=True,
    )


def run_mixed_stream_multi(
    consumer: EventConsumer,
    items: list,
    checkpoint_dir: str,
    *,
    tables: list[tuple[str, str]] | None = None,
    max_workers: int = 4,
    changes_dir: str | None = None,
    auto_compact_files_per_bucket: int | None = None,
) -> list[dict]:
    """Multi-table DML+DDL stream (O23 × O27): items as in
    :func:`run_mixed_stream`, DML carrying ``(_database, _table)``
    columns.  An interleaved DDL routes to its table's fan-out task,
    which splits that table's sub-stream at the DDL's sequence point;
    each item is one checkpoint commit over ALL tables.  Options as in
    :func:`run_microbatch_loop_multi`; feed partitions are per lake
    sub-id ``idx*STRIDE+k``."""
    return _run_items(
        consumer, _stream_items(items), checkpoint_dir,
        tables=tables, max_workers=max_workers, mixed=True, changes_dir=changes_dir,
        auto_compact_files_per_bucket=auto_compact_files_per_bucket,
    )


def ddl_marker_rows(
    spark: SparkSession, stream_schema, events: list[DDLEvent]
) -> DataFrame:
    """Producer-side helper: encode DDL events as inline control rows of
    the streamed event schema — ``_op = 'DDL'``, the serialized event in
    ``_ddl``, the sequence point in ``_sequence_num``, routing columns
    (``_database``/``_table``) filled when the schema carries them, every
    data column NULL.  Append these rows (in sequence position) to the
    same parquet stream the DML rows ride; ``run_structured_stream``
    force-flushes around them (reference: DDL arrives inline in the one
    ordered event stream, BigQueryEventConsumer.java:297-335,433,457,499)."""
    names = stream_schema.fieldNames()
    if C.DDL_PAYLOAD not in names:
        raise ValueError(f"stream schema lacks the {C.DDL_PAYLOAD} column")
    rows = []
    for ev in events:
        d = {n: None for n in names}
        d[C.OPERATION] = C.OP_DDL
        d[C.DDL_PAYLOAD] = ddl_event_to_json(ev)
        d[C.SEQUENCE_NUM] = ev.sequence_num
        if "_database" in names:
            d["_database"] = ev.database
        if "_table" in names and ev.table is not None:
            d["_table"] = ev.table
        rows.append(d)
    return spark.createDataFrame(rows, stream_schema)


def run_structured_stream(
    spark: SparkSession,
    events_dir: str,
    schema,
    consumer: EventConsumer,
    database: str,
    table: str,
    checkpoint_dir: str,
    max_files_per_trigger: int = 1,
    available_now: bool = True,
    multi_table: bool = False,
    changes_dir: str | None = None,
    tables: list[tuple[str, str]] | None = None,
    auto_compact_files_per_bucket: int | None = None,
):
    """Structured Streaming front-end: parquet file stream ->
    ``foreachBatch`` -> :func:`_apply_item` with the Spark batch id as
    item id.  Spark's checkpoint is the offset/commit log (it advances
    only if every table of the trigger committed); the snapshot batch-id
    check de-duplicates the one possibly-replayed batch, whose eager
    feed partition is backfilled or rewritten idempotently.

    ``multi_table=True``: the stream carries ``(_database, _table)``
    columns and fans out per table (O23); ``database``/``table`` are
    ignored (pass ``tables`` to skip per-trigger topology discovery).

    **Inline DDL**: when ``schema`` carries the ``constants.DDL_PAYLOAD``
    column, the stream may interleave DDL control rows (see
    :func:`ddl_marker_rows`) with DML — the reference's consumer gets
    DDL inline in the one ordered event stream and force-flushes before
    it (BigQueryEventConsumer.java:297-335,433,457,499).  Every trigger
    then uses the strided ``batch_id*STRIDE+k`` lake ids, DDL or not, so
    the replay barrier stays monotone; without the column lake id ==
    batch id.  A parquet file stream reads ONE fixed schema, so it must
    be the post-evolution superset: pre-ALTER rows carry NULL in late
    columns and each segment is projected to the table's schema as of
    that segment."""
    inline_ddl = C.DDL_PAYLOAD in schema.fieldNames()

    def _extract_ddl(batch_df: DataFrame):
        """Split one micro-batch into (DML rows, sequence-ordered DDL
        events).  The collect touches ONLY control rows — DDL is a
        rare control-plane object, never the data path."""
        op = F.col(C.OPERATION)
        ddl_rows = (
            batch_df.filter(op == C.OP_DDL).select(C.DDL_PAYLOAD).collect()
        )
        ddls = sorted(
            (ddl_event_from_json(r[C.DDL_PAYLOAD]) for r in ddl_rows),
            key=lambda e: e.sequence_num,
        )
        dml = batch_df.filter(op.isNull() | (op != C.OP_DDL)).drop(C.DDL_PAYLOAD)
        return dml, ddls

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        ddls = []
        if inline_ddl:
            batch_df, ddls = _extract_ddl(batch_df)
        _apply_item(
            consumer, batch_id, batch_df, ddls, checkpoint_dir,
            table=None if multi_table else (database, table), tables=tables,
            mixed=inline_ddl,
            changes_dir=changes_dir,
            auto_compact_files_per_bucket=auto_compact_files_per_bucket,
            commit=False,
        )

    reader = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", str(max_files_per_trigger))
        .parquet(events_dir)
    )
    writer = reader.writeStream.foreachBatch(_apply).option(
        "checkpointLocation", os.path.join(checkpoint_dir, "spark")
    )
    if available_now:
        q = writer.trigger(availableNow=True).start()
        q.awaitTermination()
        return q
    q = writer.trigger(
        processingTime=f"{C.DEFAULT_LOAD_INTERVAL_SECONDS} seconds"
    ).start()
    return q
