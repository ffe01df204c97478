"""The event consumer: applies DML batches and DDL events to lake tables.

Spark-native re-expression of the reference's ``BigQueryEventConsumer``
lifecycle (applyDML :603-664, applyDDL :297-524, flush :670-729):

reference pipeline                     this engine
------------------------------------   -----------------------------------
buffer events to GCS Avro/JSON blobs   micro-batch DataFrame (lineage
                                       replaces the spill)
LOAD blob -> staging table             apply_batch loads the batch's live
                                       rows once (_loaded)
diff query (self-join flatten)         operators.flatten (map-side partial
                                       max_by collapse + anti-join)
MERGE staging -> target (BQ job)       operators.merge + bucket-pruned
                                       copy-on-write snapshot commit
job-id probing for exactly-once        batch_id recorded in snapshot
                                       summary; replay is a no-op
commit offset after all tables merge   driver checkpoint after apply

Per-batch metrics and per-bucket lineage are returned (and appended to a
JSONL audit log by the driver) for resumability audits — the north
rule's lineage requirement.
"""

from __future__ import annotations

import logging
import os
import threading
import time
from contextlib import contextmanager, nullcontext

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import constants as C
from .. import schemas
from ..lake.table import LakeTable, bucket_expr
from ..normalize import (
    get_normalized_dataset_name,
    normalize_columns,
    normalize_table_name,
)
from ..operators.flatten import flatten_batch, replay_filter
from ..operators.merge import merge_apply
from ..retry import PermanentFailure, run_with_retry
from ..types import DDLEvent, DDLOp, SourceProperties

log = logging.getLogger(__name__)


def _phase_mark(phases: dict, name: str, since: float) -> float:
    """The phase clock: record ``phases[name]`` as the seconds since
    ``since`` and return now, so consecutive phases chain."""
    now = time.monotonic()
    phases[name] = round(now - since, 3)
    return now


@contextmanager
def _loaded(df: DataFrame):
    """Load ``df`` once: materialize it eagerly so every later use reads
    the stored rows instead of re-deriving its plan (re-decoding a
    staged Avro blob per use), and free the rows on exit, normal or
    not.  ``localCheckpoint``, not ``persist()``: AQE fills a cache once
    per query stage that reads it, so a persisted batch runs extra Spark
    jobs.  A frame used after the release fails loudly
    (CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND); it never re-reads silently."""
    loaded = df.localCheckpoint(eager=True)
    try:
        yield loaded
    finally:
        # the loaded frame's analyzed plan is a LogicalRDD over the
        # checkpointed RDD; unpersisting that RDD frees its blocks
        loaded._jdf.queryExecution().analyzed().rdd().unpersist(False)


class EventConsumer:
    def __init__(
        self,
        spark: SparkSession,
        warehouse: str,
        *,
        source: SourceProperties | None = None,
        soft_deletes: bool = False,
        num_buckets: int = 32,
        normalize_names: bool = True,
        flexible_column_naming: bool = False,
        dataset_name: str | None = None,
        require_manual_drops: bool = False,
        count_diff_rows: bool = True,  # kept for API compat; counts are
        # now a free by-product of the single per-batch stats job
        row_transform=None,
        broadcast_merge_max_rows: int = 2_000_000,
        broadcast_merge_max_bytes: int = 512 * 1024 * 1024,
        single_job_per_batch: bool = False,
        single_job_merge_strategy: str = "shuffle",
        assume_unique_keys: bool = False,
        broadcast_flatten_winners: bool = True,
        ddl_retry_attempts: int = 3,
        ddl_retry_base_delay: float = 0.05,
        dml_retry_attempts: int = 3,
        dml_retry_base_delay: float = 0.05,
    ):
        self.spark = spark
        self.warehouse = warehouse
        # Known-topology set for the tables=None bootstrap path:
        # DDL-maintained and batch-merged, NEVER the routing source on
        # its own (a table first appearing mid-stream without a
        # CREATE_TABLE would silently lose rows — each batch routes by
        # its own observed (db, table) set).  topology_discoveries
        # counts NOVEL discoveries (cold start + late-appearing tables)
        # for tests/audits.  Mutated from DDL on thread-pool workers in
        # mixed multi-table batches, hence the lock.
        self._topology_cache: list[tuple[str, str]] | None = None
        self._topology_lock = threading.Lock()
        self.topology_discoveries = 0
        self.source = source or SourceProperties()
        self.soft_deletes = soft_deletes
        self.num_buckets = num_buckets
        self.normalize_names = normalize_names
        # Flexible-charset column naming (BigQueryUtils.java:45-48):
        # widens the legal field character set during normalization.
        self.flexible_column_naming = flexible_column_naming
        # Optional fixed dataset override: every source database maps to
        # this one dataset; empty/None falls back to the (normalized)
        # source database name — the reference's datasetName conf
        # (BigQueryTarget.java:332-338, fallback test
        # BigQueryConsumerTest.java:274-305).
        self.dataset_name = dataset_name
        self.require_manual_drops = require_manual_drops
        self.count_diff_rows = count_diff_rows
        # Optional per-row column derivation (DataFrame -> DataFrame),
        # e.g. vectorized html->text extraction.  Contract: pure function
        # of the row that must not alter key/_op/_sequence_num columns.
        # It runs on the flatten SURVIVORS, not the raw batch — a hot
        # url's million updates collapse to one row before the (most
        # expensive) transform executes.
        self.row_transform = row_transform
        # Flattened diffs merge via the zero-target-shuffle broadcast
        # strategy (operators/merge.py) only when BOTH the row count and
        # the estimated payload bytes fit the budget — F.broadcast()
        # bypasses autoBroadcastJoinThreshold, so wide rows (KB-scale
        # html payloads) must be gated on bytes, not rows, or a 2M-row
        # diff becomes a multi-GB driver broadcast.  Larger diffs fall
        # back to the full-outer shuffle merge.
        self.ddl_retry_attempts = ddl_retry_attempts
        self.ddl_retry_base_delay = ddl_retry_base_delay
        # DML apply/commit retry envelope (the reference wraps load/merge
        # jobs in Failsafe with previous-attempt reuse,
        # BigQueryEventConsumer.java:1639-1642,1393-1422).  Spark's task
        # retries cover executor faults; this guards the DRIVER-side
        # write+commit sequence (a manifest I/O hiccup must not kill the
        # stream when an in-process retry converges).  Retried units are
        # idempotent: a re-run write job orphans the failed attempt's
        # data files (vacuum reclaims them) and the snapshot batch-id
        # check makes an already-committed attempt a no-op.
        self.dml_retry_attempts = dml_retry_attempts
        self.dml_retry_base_delay = dml_retry_base_delay
        self.broadcast_merge_max_rows = broadcast_merge_max_rows
        self.broadcast_merge_max_bytes = broadcast_merge_max_bytes
        # Single-job apply: skip the per-batch stats job entirely — read
        # every bucket, merge with a FIXED strategy, and resolve
        # latest_merged_seq from the written files' parquet footers
        # (driver-side metadata, no job).  The right mode for high-churn
        # tables whose batches touch most buckets anyway: it halves the
        # per-batch serial floor, which is what bounds N->4N scaling
        # efficiency.  Trade-offs: no bucket pruning, no adaptive
        # broadcast gate, no O5 snapshot split (such batches fall back
        # to the standard path), coarser lineage (no n_events/n_diff).
        self.single_job_per_batch = single_job_per_batch
        if single_job_merge_strategy not in ("shuffle", "broadcast"):
            raise ValueError(single_job_merge_strategy)
        self.single_job_merge_strategy = single_job_merge_strategy
        # Declared source PK contract (operators/merge.py
        # unique_key_target): at most one live target row per key — true
        # for any real binlog.  Enables the single-target-scan broadcast
        # merge (the throughput mode's biggest per-batch saving); leave
        # False for sources that may replay bare INSERTs of existing
        # keys, where the reference MERGE's duplicate-row totality must
        # be reproduced exactly.
        self.assume_unique_keys = assume_unique_keys
        # Pass False when micro-batches can carry tens of millions of
        # DISTINCT keys: the flatten winner set (one long per surviving
        # key) then threatens the broadcast budget, and the semi-join
        # should fall back to a shuffle that AQE may still convert
        # (operators/flatten.py broadcast_winners docstring).
        self.broadcast_flatten_winners = broadcast_flatten_winners
        os.makedirs(warehouse, exist_ok=True)

    # ------------------------------------------------------------------ paths

    def _table_path(self, database: str, table: str) -> str:
        db = (
            get_normalized_dataset_name(self.dataset_name, database)
            if self.normalize_names
            else (self.dataset_name or database)
        )
        tb = normalize_table_name(table) if self.normalize_names else table
        return os.path.join(self.warehouse, db, tb)

    def table(self, database: str, table: str) -> LakeTable:
        return LakeTable.load(self.spark, self._table_path(database, table))

    def table_exists(self, database: str, table: str) -> bool:
        """True iff the (normalized) target table has a committed
        manifest.  Drivers use this to gate their BOOTSTRAP CREATE_TABLE:
        replaying a synthetic CREATE over an existing table would trip
        the O29 snapshot-abandon cleanup if a prior run crashed inside
        the two-phase direct-load window — dropping committed batches
        that the checkpoint commit log then refuses to re-apply.  Only a
        genuine source-initiated CREATE (a snapshot restart) may do
        that."""
        return os.path.exists(
            os.path.join(self._table_path(database, table), "_manifests", "_current")
        )

    # ------------------------------------------------------------------- DDL

    def apply_ddl(self, event: DDLEvent) -> None:
        """DDL dispatch under the reference's retry policy
        (BigQueryEventConsumer.java:297-335): transient errors retried
        with deterministic exponential backoff, PermanentFailure (the
        DeltaFailureException analogue — unsupported op, manual-drops
        policy) aborts on the FIRST attempt.  The driver must flush
        pending DML for the table first, as the reference does."""
        run_with_retry(
            lambda: self._apply_ddl_once(event),
            max_attempts=self.ddl_retry_attempts,
            base_delay=self.ddl_retry_base_delay,
        )
        self._maintain_topology_cache(event)

    def _maintain_topology_cache(self, event: DDLEvent) -> None:
        """Keep the known-topology set consistent with applied DDL:
        tables born mid-stream join the fan-out, dropped tables leave
        it (a stale entry would fail every subsequent batch).  Called
        from thread-pool workers in mixed multi-table batches, so the
        read-copy-replace runs under the topology lock — concurrent
        CREATE/DROP for different tables must not lose updates."""
        if self._topology_cache is None:
            return
        with self._topology_lock:
            if self._topology_cache is None:  # raced with a reset
                return
            cache = set(self._topology_cache)
            if event.op == DDLOp.CREATE_TABLE:
                cache.add((event.database, event.table))
            elif event.op == DDLOp.DROP_TABLE:
                cache.discard((event.database, event.table))
            elif event.op == DDLOp.DROP_DATABASE:
                cache = {(d, t) for d, t in cache if d != event.database}
            self._topology_cache = sorted(cache)

    def _discover_topology(
        self, batch_df: DataFrame, database_col: str, table_col: str
    ) -> list[tuple[str, str]]:
        """Per-batch topology of a ``tables=None`` stream: route by the
        (database, table) pairs ACTUALLY PRESENT in this batch — one
        2-column distinct-scan job per batch.  The known-topology set
        is maintained alongside (cold-start + DDL + batch merges) for
        observability, but it is never trusted as the routing source: a
        table that first appears in a later micro-batch without a
        CREATE_TABLE event (pre-existing quiet table, consumer restart)
        MUST still route, or its rows are silently dropped by the
        fan-out filter.  ``topology_discoveries`` counts novel
        discoveries (cold start, late-appearing tables) so steady-state
        streams show exactly one; declare ``tables=[...]`` explicitly
        to skip the per-batch scan entirely."""
        present = sorted(
            (r["d"], r["t"])
            for r in batch_df.select(
                F.col(database_col).alias("d"), F.col(table_col).alias("t")
            )
            .distinct()
            .collect()
        )
        with self._topology_lock:
            known = self._topology_cache
            unseen = sorted(set(present) - set(known or []))
            if known is None or unseen:
                self.topology_discoveries += 1
                self._topology_cache = sorted(set(known or []) | set(present))
                log.warning(
                    "multi-table topology: tables discovered from batch data "
                    "joined the fan-out: %s; declare tables=[...] for "
                    "steady-state streams to skip the per-batch discovery scan",
                    unseen,
                )
        return present

    def _apply_ddl_once(self, event: DDLEvent) -> None:
        """One DDL apply attempt (handleDDL,
        BigQueryEventConsumer.java:340-524)."""
        op = event.op
        db_path = os.path.join(
            self.warehouse, get_normalized_dataset_name(self.dataset_name, event.database)
        )
        if op == DDLOp.CREATE_DATABASE:
            os.makedirs(db_path, exist_ok=True)
        elif op == DDLOp.DROP_DATABASE:
            if self.require_manual_drops:
                raise PermanentFailure(
                    f"database {event.database} must be dropped manually "
                    "(requireManualDrops, BigQueryEventConsumer.java:374-388)"
                )
            import shutil

            shutil.rmtree(db_path, ignore_errors=True)
        elif op == DDLOp.CREATE_TABLE:
            # Snapshot-abandon cleanup (O29): a CREATE_TABLE replayed over
            # a table whose last commit left a direct load half-finished
            # means the source restarted the snapshot — drop the
            # half-loaded table and start clean
            # (BigQueryEventConsumer.java:167,392-399).
            if self.table_exists(event.database, event.table):
                t = self.table(event.database, event.table)
                loading = t.direct_load_in_progress()
                if loading is not None:
                    log.warning(
                        "dropping half-loaded table %s (direct load of batch "
                        "%s never completed) before CREATE_TABLE replay",
                        t.path, loading,
                    )
                    t.drop()
            self._create_table(event)
        elif op == DDLOp.DROP_TABLE:
            if self.require_manual_drops:
                raise PermanentFailure(
                    f"table {event.table} must be dropped manually (requireManualDrops)"
                )
            path = self._table_path(event.database, event.table)
            if os.path.exists(path):
                LakeTable(self.spark, path).drop()
        elif op == DDLOp.TRUNCATE_TABLE:
            self.table(event.database, event.table).truncate()
        elif op == DDLOp.ALTER_TABLE:
            if self.table_exists(event.database, event.table):
                self.table(event.database, event.table).alter_add_columns(
                    self._target_schema(event)
                )
            else:
                # create-if-missing (BigQueryEventConsumer.java:462-470)
                self._create_table(event)
        elif op == DDLOp.RENAME_TABLE:
            # explicitly unsupported, logged & skipped
            # (BigQueryEventConsumer.java:491-497)
            log.warning(
                "RENAME_TABLE is not supported; ignoring rename of %s.%s",
                event.database, event.table,
            )

    def _target_schema(self, event: DDLEvent):
        tschema = schemas.target_schema(
            event.schema,
            ordering=self.source.ordering,
            sort_key_types=self.source.sort_key_types or None,
        )
        return self._normalize_schema(tschema) if self.normalize_names else tschema

    def _create_table(self, event: DDLEvent) -> None:
        # persist sort-key types with the table so an unordered resume
        # needs no caller-supplied SourceProperties (the reference
        # persists BigQueryTableState via putState,
        # BigQueryEventConsumer.java:551-552,1605-1613)
        types = self.source.sort_key_types
        LakeTable.create(
            self.spark,
            self._table_path(event.database, event.table),
            self._target_schema(event),
            [self._norm_field(k) for k in event.primary_keys],
            num_buckets=self.num_buckets,
            ordering=self.source.ordering,
            properties={"sort_key_types": [dt.json() for dt in types]} if types else {},
            if_not_exists=True,
        )

    def _dml_retry(self, fn):
        """Run one idempotent write/commit unit under the DML retry
        envelope (see the constructor comment)."""
        return run_with_retry(
            fn,
            max_attempts=self.dml_retry_attempts,
            base_delay=self.dml_retry_base_delay,
        )

    def _norm_field(self, name: str) -> str:
        from ..normalize import normalize_field_name

        if not self.normalize_names:
            return name
        return normalize_field_name(name, self.flexible_column_naming)

    def _normalize_schema(self, schema):
        from pyspark.sql import types as T

        return T.StructType([
            T.StructField(
                f.name if f.name.startswith("_") else self._norm_field(f.name),
                f.dataType,
                f.nullable,
            )
            for f in schema.fields
        ])

    # ------------------------------------------------------------------- DML

    def apply_batch(
        self, database: str, table_name: str, staged: DataFrame, batch_id: int
    ) -> dict:
        """Apply one table's staged micro-batch: load its live rows,
        flatten, direct-load the snapshot portion, merge the rest,
        atomically commit.  Returns metrics/lineage for the batch.

        The live rows are those past the replay barrier —
        ``_sequence_num`` above the table's latest merged sequence, and
        ``_batch_id == batch_id`` when the frame carries that column.
        They are loaded ONCE (:func:`_loaded`, the reference's LOAD blob
        -> staging table) and released when the apply returns or raises;
        every later use reads the loaded rows: the table-birth
        pre-aggregate, the snapshot split, the stats job, the flatten
        and its payload re-attach, and the direct loads.  Lineage
        ``n_events`` and ``seq_range`` describe the live rows.

        Driver-action budget (the per-batch serial floor): a
        steady-state batch runs three driver actions — the load, one
        combined stats job whose single aggregation UNION computes the
        batch counts, per-bucket diff rows, touched buckets and the
        broadcast byte estimate while materializing the persisted diff,
        and the merge+write.  Under AQE each action runs one Spark job
        per query stage: a traced freshness batch runs about 13."""
        t0 = time.monotonic()
        phases: dict[str, float] = {}
        table = self.table(database, table_name)

        # exactly-once: a batch already in the snapshot summary is replay
        if batch_id <= table.latest_batch_id():
            return self._record(table, batch_id, t0, skipped=True,
                                reason="batch_id already committed")

        if self.normalize_names:
            staged = normalize_columns(staged, self.flexible_column_naming)
        last_merged = table.latest_merged_seq()
        live = replay_filter(
            staged, batch_id if C.BATCH_ID in staged.columns else None, last_merged
        )
        tp = time.monotonic()
        with _loaded(live) as live:
            _phase_mark(phases, "load", tp)
            return self._apply_live(table, live, batch_id, last_merged, t0, phases)

    def _apply_live(self, table, live, batch_id, last_merged, t0, phases) -> dict:
        """:meth:`apply_batch` on the loaded live rows."""
        pks = table.primary_keys
        src = self._effective_source(table)
        nb = table.num_buckets
        seqc = F.col(C.SEQUENCE_NUM)
        has_snap = C.SNAPSHOT in live.columns
        snap_pred = (
            F.coalesce(F.col(C.SNAPSHOT), F.lit(False)) if has_snap else F.lit(False)
        )

        if table.current_snapshot()["files"] == []:
            # Table birth: one cheap pre-aggregation decides the pure
            # direct-load fast path (O5 table-birth case) before any
            # flatten work is planned.
            tp = time.monotonic()
            agg = live.agg(
                F.count(F.lit(1)).alias("n"),
                F.min(seqc).alias("min_seq"),
                F.max(seqc).alias("max_seq"),
                F.sum((F.col(C.OPERATION) != C.OP_INSERT).cast("long")).alias("ni"),
            ).first()
            _phase_mark(phases, "preagg", tp)
            if (agg["n"] or 0) == 0:
                return self._record(table, batch_id, t0, skipped=True,
                                    reason="empty batch", phases=phases)
            if (agg["ni"] or 0) == 0:
                target_rows = self._staged_to_target_rows(live, table)
                snap = self._dml_retry(
                    lambda: table.append(
                        target_rows, batch_id, max_seq=agg["max_seq"]
                    )
                )
                return self._record(
                    table, batch_id, t0, snap=snap, n_events=agg["n"],
                    seq_range=[agg["min_seq"], agg["max_seq"]],
                    fast_path="snapshot_append", phases=phases,
                )

        diff = flatten_batch(
            live.filter(~snap_pred),
            pks,
            row_id_supported=src.row_id_supported,
            ordering=src.ordering,
            sort_key_count=len(src.sort_key_types),
            broadcast_winners=self.broadcast_flatten_winners,
        )
        if self.row_transform is not None:
            # Rebalance the (small, flatten-collapsed) diff to the
            # configured shuffle parallelism BEFORE the Arrow transform.
            # Without this the pandas UDF inherits the staged scan's
            # file-split partitioning (hundreds of ~700-row slivers per
            # batch at 8 MB maxPartitionBytes), and the per-task Python
            # boundary cost dominates: measured 38 core-s/batch of UDF
            # wall for ~2.3 core-s of actual extraction work on the 8M
            # event / 200k url workload — the rebalance cut steady-state
            # batch wall 14.0 -> 9.7 s at local[8] (BENCH/raw_r5, round-5
            # diag).  Hash-partitioning on the PKs keeps placement
            # deterministic (no round-robin sort) and is skew-safe: the
            # flatten already collapsed each key to one row.  The
            # exchange also lets every downstream merge arm reuse ONE
            # materialization of flatten+extract instead of re-deriving
            # it per arm.
            diff = self.row_transform(
                diff.repartition(
                    int(self.spark.conf.get("spark.sql.shuffle.partitions")),
                    *[F.col(k) for k in pks],
                )
            )

        if self.single_job_per_batch and not has_snap:
            return self._apply_single_job(
                table, diff, batch_id, last_merged, pks, src, nb, t0, phases
            )

        diff = diff.persist()
        try:
            tp = time.monotonic()
            srow, drows = self._stats_job(live, diff, snap_pred, pks, nb)
            tp = _phase_mark(phases, "stats", tp)
            n_events = srow["n_events"] or 0
            if n_events == 0:
                return self._record(table, batch_id, t0, skipped=True,
                                    reason="empty batch", phases=phases)
            max_seq = srow["max_seq"] or last_merged
            seq_range = [srow["min_seq"], srow["max_seq"]]
            n_snap_live = srow["n_snap_live"] or 0
            n_diff = sum(r["n"] for r in drows)
            diff_bytes = sum(r["bts"] or 0 for r in drows)
            per_bucket = {r["nb"]: r["n"] for r in drows}
            touched = set(per_bucket) | {o for r in drows for o in (r["obs"] or [])}

            fast_path = None
            if n_snap_live > 0:
                # O5 full semantics: direct-load the snapshot portion of
                # a MIXED batch before merging its streaming portion
                # (MultiGCSWriter.java:73-76 split; the reference
                # direct-loads snapshot blobs regardless of table state).
                fast_path = "snapshot_append"
                snap_rows = self._staged_to_target_rows(live.filter(snap_pred), table)
                if n_diff == 0:
                    snap = self._dml_retry(
                        lambda: table.append(
                            snap_rows, batch_id, max_seq=max_seq,
                            advance_batch=True,
                        )
                    )
                    _phase_mark(phases, "snapshot_load", tp)
                    return self._record(
                        table, batch_id, t0, snap=snap, n_events=n_events,
                        seq_range=seq_range, fast_path=fast_path, phases=phases,
                        n_snapshot=n_snap_live,
                    )
                self._dml_retry(
                    lambda: table.append(
                        snap_rows, batch_id, max_seq=srow["snap_max_seq"],
                        advance_batch=False,
                    )
                )
                tp = _phase_mark(phases, "snapshot_load", tp)

            if n_diff == 0:
                snap = self._dml_retry(
                    lambda: table.commit_noop(batch_id, max_seq=max_seq)
                )
                return self._record(
                    table, batch_id, t0, snap=snap, n_events=n_events,
                    seq_range=seq_range, phases=phases, n_diff=0,
                )

            if src.ordering == C.UN_ORDERED and src.sort_key_types:
                # O22: first unordered merge against a target lacking
                # _sort appends the column (and persists the types) —
                # addSortKeyToTargetTable, BigQueryEventConsumer.java:
                # 1587-1613
                self._ensure_sort_key_column(table, src)

            target_part = table.read(buckets=touched)
            strategy = (
                "broadcast"
                if n_diff <= self.broadcast_merge_max_rows
                and diff_bytes <= self.broadcast_merge_max_bytes
                else "shuffle"
            )
            new_rows = merge_apply(
                target_part,
                diff,
                pks,
                row_id_supported=src.row_id_supported,
                ordering=src.ordering,
                soft_deletes=self.soft_deletes,
                sort_key_count=len(src.sort_key_types),
                strategy=strategy,
                unique_key_target=self.assume_unique_keys,
            )
            snap = self._dml_retry(
                lambda: table.overwrite_buckets(new_rows, touched, batch_id, max_seq)
            )
            _phase_mark(phases, "merge_write", tp)
            return self._record(
                table, batch_id, t0, snap=snap, n_events=n_events,
                seq_range=seq_range, phases=phases, touched=touched,
                per_bucket=per_bucket, fast_path=fast_path,
                n_diff=n_diff, diff_bytes=diff_bytes, merge_strategy=strategy,
                n_snapshot=n_snap_live or None,
            )
        finally:
            diff.unpersist()

    # ---------------------------------------------------- single-job apply

    def _apply_single_job(
        self, table, diff, batch_id, last_merged, pks, src, nb, t0, phases
    ) -> dict:
        """ONE Spark job per batch: flatten + merge + write fused into
        the data-file write; ``latest_merged_seq`` resolved afterwards
        from the written parquet footers (driver-side metadata read).
        See the constructor docstring for the trade-offs.

        Footer stats alone UNDER-advance the barrier when the batch's
        highest-sequence winners are hard DELETEs (deleted rows appear in
        no written file), which would re-admit those events on an
        at-least-once replay — state stays right only because the merge
        is idempotent, but lineage/resume points drift from the standard
        path.  An ``Observation`` on the diff collects the batch's true
        max sequence as a free by-product of the SAME write job (the
        flatten keeps the max-seq event of every key, so max over diff ==
        max over the live batch); the barrier advances to
        max(footer, observed)."""
        from pyspark.sql import Observation

        from ..lake.table import parquet_files_max_long

        obs = Observation()
        diff = diff.observe(obs, F.max(F.col(C.SEQUENCE_NUM)).alias("max_seq"))
        diff = diff.persist()
        try:
            tp = _phase_mark(phases, "pre", t0)
            if src.ordering == C.UN_ORDERED and src.sort_key_types:
                self._ensure_sort_key_column(table, src)
            target = table.read()
            new_rows = merge_apply(
                target,
                diff,
                pks,
                row_id_supported=src.row_id_supported,
                ordering=src.ordering,
                soft_deletes=self.soft_deletes,
                sort_key_count=len(src.sort_key_types),
                strategy=self.single_job_merge_strategy,
                unique_key_target=self.assume_unique_keys,
            )
            _phase_mark(phases, "plan", tp)

            def write_and_commit():
                tw = time.monotonic()
                new_files = table._write_data_files(
                    new_rows, table.schema, repartition=table.WRITE_REPARTITION
                )
                tw = _phase_mark(phases, "write", tw)
                max_seq = parquet_files_max_long(
                    [os.path.join(table.path, f["path"]) for f in new_files],
                    C.SEQUENCE_NUM,
                )
                if max_seq is None:
                    # footer stats unavailable — one fallback job
                    row = self.spark.read.parquet(
                        *[os.path.join(table.path, f["path"]) for f in new_files]
                    ).agg(F.max(C.SEQUENCE_NUM)).first() if new_files else None
                    max_seq = (row[0] if row else None) or last_merged
                tw = _phase_mark(phases, "footers", tw)
                # observed diff max — covers trailing hard-DELETE winners
                # the footers can't see (materialized by the write job)
                obs_max = obs.get.get("max_seq")
                if obs_max is not None:
                    max_seq = max(max_seq or 0, obs_max)
                tw = _phase_mark(phases, "observe", tw)
                out = table.commit_overwrite(
                    new_files, set(range(nb)), batch_id, max_seq
                )
                _phase_mark(phases, "commit", tw)
                return out

            # one retried unit: a transient fault anywhere in write /
            # footer read / manifest commit re-runs the idempotent job
            # (failed attempt's files become vacuum-reclaimable orphans)
            snap = self._dml_retry(write_and_commit)
            _phase_mark(phases, "merge_write", tp)
            return self._record(
                table, batch_id, t0, snap=snap, phases=phases,
                merge_strategy=self.single_job_merge_strategy,
                fast_path="single_job",
            )
        finally:
            diff.unpersist()

    # ------------------------------------------- source / sort-key state

    def _effective_source(self, table: LakeTable) -> SourceProperties:
        """Resolve the source contract for a table: caller-supplied
        SourceProperties win; otherwise ordering + sort-key types come
        from the table properties persisted at create/upgrade time, so
        an unordered-source resume works with a default-constructed
        consumer (the reference loads BigQueryTableState from the state
        store on resume, BigQueryEventConsumer.java:556-569)."""
        from pyspark.sql import types as T

        if self.source.ordering == C.UN_ORDERED or self.source.sort_key_types:
            return self.source
        props = table.current_snapshot()["properties"]
        types_json = props.get("sort_key_types")
        if props.get("ordering") == C.UN_ORDERED and types_json:
            return SourceProperties(
                ordering=C.UN_ORDERED,
                row_id_supported=self.source.row_id_supported,
                sort_key_types=[T._parse_datatype_json_string(j) for j in types_json],
            )
        return self.source

    def _ensure_sort_key_column(self, table: LakeTable, src: SourceProperties) -> None:
        """Append ``_sort`` to an ordered-created target before its first
        unordered merge and persist the sort-key types/ordering in the
        same atomic snapshot (O22)."""
        from pyspark.sql import types as T

        if any(f.name == C.SORT_KEYS for f in table.schema.fields):
            return
        new_schema = T.StructType(
            list(table.schema.fields)
            + [
                T.StructField(
                    C.SORT_KEYS,
                    schemas.sort_keys_struct_type(src.sort_key_types),
                    True,
                )
            ]
        )
        table.alter_add_columns(
            new_schema,
            properties={
                "ordering": C.UN_ORDERED,
                "sort_key_types": [dt.json() for dt in src.sort_key_types],
            },
        )

    # ------------------------------------------- multi-table + mixed batches

    # Sub-step id stride inside one mixed batch: DML segments between DDL
    # sequence points get lake batch ids batch_id*STRIDE + i (monotone
    # across outer batches for any DDL count < STRIDE).
    MIXED_BATCH_STRIDE = 1000

    def apply_multi_table_batch(
        self,
        batch_df: DataFrame,
        batch_id: int,
        *,
        database_col: str = "_database",
        table_col: str = "_table",
        tables: list[tuple[str, str]] | None = None,
        max_workers: int = 4,
    ) -> list[dict]:
        """O23: apply one DML micro-batch carrying MANY tables' events
        (lake batch id == ``batch_id``); see :meth:`_fan_out`."""
        return self._fan_out(batch_df, [], batch_id, 1, database_col=database_col,
                             table_col=table_col, tables=tables, max_workers=max_workers)

    def apply_mixed_batch(
        self,
        database: str,
        table_name: str,
        staged: DataFrame,
        ddl_events: list[DDLEvent],
        batch_id: int,
    ) -> list[dict]:
        """O27: one table's DML with DDL events interleaved in sequence
        order, under the strided lake ids; see :meth:`_apply_table`."""
        return self._apply_table(database, table_name, staged, ddl_events,
                                 batch_id, self.MIXED_BATCH_STRIDE)

    def apply_multi_table_mixed_batch(
        self,
        batch_df: DataFrame,
        ddl_events: list[DDLEvent],
        batch_id: int,
        *,
        database_col: str = "_database",
        table_col: str = "_table",
        tables: list[tuple[str, str]] | None = None,
        max_workers: int = 4,
    ) -> list[dict]:
        """O23 × O27: MANY tables' DML with DDL events interleaved in
        sequence order, under the strided lake ids; see :meth:`_fan_out`."""
        return self._fan_out(batch_df, ddl_events, batch_id, self.MIXED_BATCH_STRIDE,
                             database_col=database_col, table_col=table_col,
                             tables=tables, max_workers=max_workers)

    def _apply_table(
        self,
        database: str,
        table_name: str,
        staged: DataFrame,
        ddl_events: list[DDLEvent],
        batch_id: int,
        stride: int,
    ) -> list[dict]:
        """Apply one table's share of one stream item: each DDL flushes
        the DML segment before it, then applies, exactly like the
        reference's applyDDL → flush() ordering
        (BigQueryEventConsumer.java:433,457,499).  Segment ``k`` commits
        as lake batch ``batch_id*stride + k``; stride 1 (DML-only
        streams, lake id == item id) admits no DDL.

        Crash safety: DML segments are idempotent via the lake batch-id
        check; a DDL is skipped on replay when any LATER segment of this
        batch already committed (its effects are provably included), so
        a replayed TRUNCATE cannot wipe data applied after it."""
        ddls = sorted(ddl_events, key=lambda e: e.sequence_num)
        if len(ddls) >= stride:
            raise ValueError("too many DDL events in one micro-batch")
        if stride > 1 and C.BATCH_ID in staged.columns:
            # sub-segments get derived lake batch ids; a carried outer
            # _batch_id column would fight the replay barrier
            staged = staged.drop(C.BATCH_ID)
        seq = F.col(C.SEQUENCE_NUM)
        latest = (
            self.table(database, table_name).latest_batch_id()
            if ddls and self.table_exists(database, table_name)
            else -1
        )

        def apply_seg(seg: DataFrame, sub_id: int) -> None:
            if not self.table_exists(database, table_name):
                # pre-CREATE segment (the table is born by a later DDL in
                # this very batch): the source contract says no DML
                # precedes its table's CREATE — verify cheaply and stay
                # loud rather than dropping rows silently
                if seg.limit(1).count() > 0:
                    raise PermanentFailure(
                        f"DML for {database}.{table_name} precedes its "
                        "CREATE_TABLE in the stream"
                    )
                return
            m = self.apply_batch(database, table_name, seg, sub_id)
            # tag with the SOURCE names (lineage carries the normalized
            # path) so drivers can route per-table side effects (the
            # eager CDC-out feed) without reverse-normalizing
            m["database"], m["table_name"] = database, table_name
            results.append(m)

        results: list[dict] = []
        lo = None
        for i, ev in enumerate(ddls):
            sub_id = batch_id * stride + i
            seg = staged.filter(seq < F.lit(ev.sequence_num))
            if lo is not None:
                seg = seg.filter(seq > F.lit(lo))
            apply_seg(seg, sub_id)
            lo = ev.sequence_num - 1
            if latest >= sub_id + 1:
                # replay: a later segment already committed, so this DDL
                # (and its flush) already happened — skip it
                continue
            self.apply_ddl(ev)
        seg = staged if lo is None else staged.filter(seq > F.lit(lo))
        apply_seg(seg, batch_id * stride + len(ddls))
        return results

    def _fan_out(
        self,
        batch_df: DataFrame,
        ddl_events: list[DDLEvent],
        batch_id: int,
        stride: int,
        *,
        database_col: str = "_database",
        table_col: str = "_table",
        tables: list[tuple[str, str]] | None = None,
        max_workers: int = 4,
    ) -> list[dict]:
        """Apply one micro-batch carrying MANY tables' events, with DDL
        events interleaved in sequence order.

        The reference fans out one load+merge task per table blob on a
        thread pool and aggregates errors (processBlobsInParallel,
        BigQueryEventConsumer.java:691-729), applying a DDL in stream
        order for *any* table while other tables' DML flushes around it
        (:297-335,433,457,499).  Here the batch carries ``(_database,
        _table)`` columns and each table's sub-batch — split at its own
        DDL sequence points by :meth:`_apply_table` — applies concurrently
        on a driver thread pool.  A table that fails does not stop the
        others; errors are re-raised together after every table
        completes, so the caller's checkpoint commit happens only if
        nothing failed, and replaying the batch is a no-op for the
        tables that DID commit (snapshot batch-id dedup)."""
        from concurrent.futures import ThreadPoolExecutor

        # Database-level DDL (CREATE/DROP DATABASE) has no table to route
        # to — apply in sequence order BEFORE the fan-out, like the
        # reference's global stream-order applyDDL.
        ddls_by_table: dict[tuple[str, str], list[DDLEvent]] = {}
        for ev in sorted(ddl_events, key=lambda e: e.sequence_num):
            if ev.table is None:
                self.apply_ddl(ev)
            else:
                ddls_by_table.setdefault((ev.database, ev.table), []).append(ev)
        # One load shared by every per-table filter: without it each
        # table's sub-batch (and the discovery scan) re-computes the full
        # batch subtree — T redundant passes per batch on a T-table
        # stream.
        shared = tables is None or len(tables) > 1

        def one(db: str, tb: str) -> list[dict]:
            sub = batch_df.filter(
                (F.col(database_col) == db) & (F.col(table_col) == tb)
            ).drop(database_col, table_col)
            return self._apply_table(
                db, tb, sub, ddls_by_table.get((db, tb), []), batch_id, stride
            )

        results: list[dict] = []
        errors: list[tuple[str, str, Exception]] = []
        with _loaded(batch_df) if shared else nullcontext(batch_df) as batch_df:
            if tables is None:
                tables = self._discover_topology(batch_df, database_col, table_col)
            tables = sorted(set(tables) | set(ddls_by_table))
            with ThreadPoolExecutor(max_workers=max_workers) as ex:
                futs = {ex.submit(one, db, tb): (db, tb) for db, tb in tables}
                for fut, (db, tb) in futs.items():
                    try:
                        results.extend(fut.result())
                    except Exception as e:  # noqa: BLE001 — aggregated below
                        errors.append((db, tb, e))
        if errors:
            detail = "; ".join(f"{db}.{tb}: {e}" for db, tb, e in errors)
            raise RuntimeError(
                f"{len(errors)}/{len(tables)} table applies failed "
                f"(succeeded tables are committed and replay-safe): {detail}"
            ) from errors[0][2]
        return results

    # ------------------------------------------------------------ stats job

    _STAT_COLS = ["n_events", "min_seq", "max_seq", "n_snap_live", "snap_max_seq"]

    def _stats_job(self, live, diff, snap_pred, pks, num_buckets):
        """ONE Spark job computing every per-batch scalar the driver
        needs: batch counts/seq-range over the loaded live rows, and —
        through the same action that materializes the persisted diff —
        per-new-bucket diff row counts, byte estimates, and the set of
        old-key buckets each new bucket's rows came from."""
        seqc = F.col(C.SEQUENCE_NUM)
        src = self.source
        s_row = live.agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min(seqc).alias("min_seq"),
            F.max(seqc).alias("max_seq"),
            F.sum(snap_pred.cast("long")).alias("n_snap_live"),
            F.max(F.when(snap_pred, seqc)).alias("snap_max_seq"),
        )

        if src.row_id_supported:
            key_b = bucket_expr([C.ROW_ID], num_buckets)
            # the kill key IS the row id: old bucket == new bucket
            old_b = F.lit(None).cast("long")
        else:
            key_b = bucket_expr(pks, num_buckets)
            before_cols = [C.BEFORE_PREFIX + k for k in pks]
            all_set = None
            for bc in before_cols:
                p = F.col(bc).isNotNull()
                all_set = p if all_set is None else all_set & p
            # xxhash64 skips NULL inputs, so hashing a null before-key
            # would fabricate a bucket — NULL out unmatched inserts.
            old_b = F.when(all_set, bucket_expr(before_cols, num_buckets))

        row_bytes = self._row_bytes_expr(diff)
        d_rows = (
            diff.select(key_b.alias("nb"), old_b.alias("ob"), row_bytes.alias("b"))
            .groupBy("nb")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum("b").alias("bts"),
                F.collect_set("ob").alias("obs"),
            )
            .select(
                F.lit("d").alias("side"), "nb", "n", "bts", "obs",
                *[F.lit(None).cast("long").alias(c) for c in self._STAT_COLS],
            )
        )
        s_rows = s_row.select(
            F.lit("s").alias("side"),
            F.lit(None).cast("long").alias("nb"),
            F.lit(None).cast("long").alias("n"),
            F.lit(None).cast("long").alias("bts"),
            F.lit(None).cast("array<long>").alias("obs"),
            *self._STAT_COLS,
        )
        rows = d_rows.unionByName(s_rows).collect()
        srow = next(r for r in rows if r["side"] == "s")
        drows = [r for r in rows if r["side"] == "d"]
        return srow, drows

    @staticmethod
    def _row_bytes_expr(df: DataFrame):
        """Cheap per-row size estimate for broadcast gating: exact octet
        lengths for string/binary columns, 8 bytes flat for the rest."""
        from pyspark.sql import types as T

        expr = None
        fixed = 0
        for f in df.schema.fields:
            if isinstance(f.dataType, (T.StringType, T.BinaryType)):
                term = F.coalesce(F.octet_length(F.col(f.name)), F.lit(0)).cast("long")
                expr = term if expr is None else expr + term
            else:
                fixed += 8
        base = F.lit(fixed).cast("long")
        return base if expr is None else base + expr

    def _staged_to_target_rows(self, staged: DataFrame, table: LakeTable) -> DataFrame:
        """Direct-load rows: the row transform, then the target schema
        (columns the batch lacks surface NULL)."""
        if self.row_transform is not None:
            staged = self.row_transform(staged)
        have = set(staged.columns)
        return staged.select(*[
            F.col(f.name) if f.name in have
            else F.lit(None).cast(f.dataType).alias(f.name)
            for f in table.schema.fields
        ])

    # ------------------------------------------------------------- lineage

    def _record(
        self, table, batch_id, t0, *, snap=None, skipped=None, reason=None,
        n_events=None, seq_range=None, phases=None, touched=None,
        per_bucket=None, fast_path=None, n_diff=None, diff_bytes=None,
        merge_strategy=None, n_snapshot=None,
    ) -> dict:
        """One lineage record per (batch, table) with a STABLE key set —
        skipped/empty batches carry the same keys (None-valued) so any
        lineage.jsonl consumer sees a homogeneous schema."""
        wall = time.monotonic() - t0
        n = n_events or 0
        return {
            "table": table.path,
            "batch_id": batch_id,
            "skipped": skipped if skipped is not None else snap is None,
            "reason": reason,
            "n_events": n_events,
            "seq_range": seq_range,
            "phases": phases,
            "n_diff": n_diff,
            "diff_bytes": diff_bytes,
            "merge_strategy": merge_strategy,
            "n_snapshot": n_snapshot,
            "touched_buckets": sorted(touched) if touched else None,
            "diff_rows_per_bucket": per_bucket,
            "snapshot_id": snap["snapshot_id"] if snap else None,
            "latest_merged_seq": snap["summary"]["latest_merged_seq"] if snap else None,
            "wall_sec": round(wall, 4),
            "events_per_sec": round(n / wall, 1) if wall > 0 and n else None,
            "fast_path": fast_path,
        }
