"""Per-key event-run flattening — the reference's "diff query".

Semantics (reference ``createDiffQuery``,
BigQueryEventConsumer.java:1154-1223): from a staged batch, keep exactly
the events A for which NO event B exists with

- non-row-id sources: ``A.pk = B._before_pk`` for every primary key, and
- row-id sources:     ``A._row_id = B._row_id``, and
- B "happens later" than A (ordered: ``A._sequence_num <
  B._sequence_num``; unordered: the sort-key ordering condition).

This traverses *update chains*: an UPDATE that moves the primary key
(id 0 -> 2) kills the event that produced id 0, so a chain
INSERT(0) -> UPDATE(0->1) -> UPDATE(1->2) flattens to the single final
UPDATE(1->2).  A plain last-row-per-key window is NOT equivalent.

Spark-first physical strategy (this is where the 100 TB design lives):

1. **Replay barrier** (O6): ``_batch_id = b AND _sequence_num > last``
   filters first so everything downstream sees only new events; on a
   parquet-backed staging dir these predicates push down to the scan.

2. **Hot-key pre-collapse** (north-rule requirement).  Events whose
   identity does not change — every ``_before_<pk>`` equals its
   ``<pk>`` (all self-UPDATEs, and all DELETEs, since a DELETE's before
   image is the row itself, MultiGCSWriter.java:428-448) — are collapsed
   to their max-``_sequence_num`` survivor per key *before* the
   anti-join.  Proof of equivalence: among events with identical
   ``_before_pk = pk = k``, the max-sequence one (i) kills every event
   the dropped ones kill, because the kill predicate only uses
   ``B._before_pk`` and ``A.seq < B.seq``, and a larger B.seq kills a
   superset, and (ii) itself kills each dropped group member.  So
   dropping non-max members changes neither the survivor set of other
   events nor of the group.  PK-moving UPDATEs and INSERTs (null
   before) pass through untouched.  The collapse is one
   ``groupBy(pk).agg(max_by(...))``: Spark plans ``max_by`` as a
   map-side partial aggregate below the single exchange, so a million
   updates to one hot url collapse before the shuffle and never skew a
   reducer (pinned by tests/test_plans.py).

3. **Anti-join** on the collapsed (now at most a few events per key)
   set reproduces the chain semantics exactly.  AQE may broadcast the
   build side when the collapsed batch is small.

Ordered row-id sources skip the anti-join entirely: the kill key equals
the group key (``_row_id``), so flattening IS argmax-per-row-id — one
aggregation, zero joins.

Unordered sources use the exact pairwise ordering condition in the
anti-join (the reference's OR-fallback comparator is not transitive in
the presence of NULL sort keys, so an aggregation shortcut would not be
faithful); pre-collapse is skipped there.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .. import constants as C
from .ordering import happens_before


def replay_filter(
    staged: DataFrame,
    batch_id: int | None = None,
    latest_merged_seq: int | None = None,
) -> DataFrame:
    """Idempotent replay barrier (BigQueryEventConsumer.java:1211-1222,643-648).

    The batch/seq bounds are deliberately baked as LITERALS each batch
    (round-1 review suggested parameterizing to reuse compiled plans):
    only literal predicates reach the parquet scan as PushedFilters /
    partition pruning (asserted by tests/test_plans.py), and at
    10^10-event scale an unpruned staged scan dwarfs any per-batch
    plan-compilation cost.  The serial floor was cut instead by folding
    driver actions (BENCH/BASELINE.md per-batch job-count table)."""
    if batch_id is not None:
        staged = staged.filter(F.col(C.BATCH_ID) == F.lit(batch_id))
    if latest_merged_seq is not None:
        staged = staged.filter(F.col(C.SEQUENCE_NUM) > F.lit(latest_merged_seq))
    return staged


def _self_identity_cond(primary_keys: list[str]) -> Column:
    """All ``_before_<pk>`` non-null and equal to ``<pk>``."""
    cond = None
    for k in primary_keys:
        before = F.col(C.BEFORE_PREFIX + k)
        c = before.isNotNull() & (before.eqNullSafe(F.col(k)))
        cond = c if cond is None else cond & c
    return cond


def _argmax_by_seq(df: DataFrame, group_cols: list[str]) -> DataFrame:
    """Argmax-by-_sequence_num per group, preserving all columns: one
    exchange, with ``max_by`` partial-aggregated map-side below it."""
    cols = df.columns
    packed = F.struct(*[F.col(c) for c in cols])
    final = df.groupBy(*group_cols).agg(
        F.max_by(packed, F.col(C.SEQUENCE_NUM)).alias("__row")
    )
    return final.select(*[F.col("__row").getField(c).alias(c) for c in cols])


def flatten_batch(
    staged: DataFrame,
    primary_keys: list[str],
    *,
    row_id_supported: bool = False,
    ordering: str = C.ORDERED,
    sort_key_count: int = 0,
    batch_id: int | None = None,
    latest_merged_seq: int | None = None,
    pre_collapse: bool = True,
    slim_shuffle: bool = True,
    broadcast_winners: bool = True,
) -> DataFrame:
    """The diff query: flatten a staged batch to its surviving events.

    ``slim_shuffle`` (the 100 TB path, on by default): survivors are
    decided on a PROJECTION of just the key/ordering columns — the
    wide payload (html et al.) never enters the flatten shuffles — and
    the winning events are then re-attached to their payloads by a
    semi-join on ``_sequence_num`` (unique per event).  The survivor set
    is at most one row per key, so Spark broadcasts it and the payload
    side is never shuffled at all.  With ~KB page payloads this cuts
    flatten shuffle bytes by orders of magnitude; on this sandbox it
    also eliminates a measured kernel page-fault storm (memcg fault
    contention at 32 threads from shuffling payload bytes through
    tmpfs).

    ``broadcast_winners``: the re-attach semi-join broadcasts the winner
    ``_sequence_num`` set by default — one long per surviving key.  For
    micro-batches whose distinct-key count is large enough that even
    that set threatens the broadcast budget (tens of millions of keys ≈
    hundreds of MB), pass ``False``: the semi-join becomes a plain
    shuffled join that AQE still converts to broadcast at runtime when
    the winner side turns out small, and degrades to a shuffle (of the
    slim winner set AND the payload side) instead of an OOM when it
    doesn't.
    """
    staged = replay_filter(staged, batch_id, latest_merged_seq)

    slim_cols = {C.SEQUENCE_NUM, C.OPERATION}
    if row_id_supported:
        slim_cols.add(C.ROW_ID)
    else:
        for k in primary_keys:
            slim_cols.update((k, C.BEFORE_PREFIX + k))
    if ordering != C.ORDERED:
        slim_cols.update((C.SOURCE_TIMESTAMP, C.SORT_KEYS))
    # Slim-shuffle pays only when the payload columns are potentially
    # WIDE (strings/binaries/containers); for all-numeric extras the
    # projection+rejoin is pure overhead (measured 2.5x slower on a
    # narrow 100k-row batch) — shuffle the rows directly instead.
    from pyspark.sql import types as T

    wide = (T.StringType, T.BinaryType, T.ArrayType, T.MapType, T.StructType)
    payload_wide = any(
        isinstance(f.dataType, wide)
        for f in staged.schema.fields
        if f.name not in slim_cols
    )
    if slim_shuffle and payload_wide:
        slim = staged.select(*[c for c in staged.columns if c in slim_cols])
        winners = flatten_batch(
            slim,
            primary_keys,
            row_id_supported=row_id_supported,
            ordering=ordering,
            sort_key_count=sort_key_count,
            pre_collapse=pre_collapse,
            slim_shuffle=False,
        ).select(C.SEQUENCE_NUM)
        if broadcast_winners:
            winners = F.broadcast(winners)
        return staged.join(winners, C.SEQUENCE_NUM, "left_semi")

    if row_id_supported and ordering == C.ORDERED:
        # Kill key == group key: flattening is pure argmax per _row_id.
        return _argmax_by_seq(staged, [C.ROW_ID])

    if not row_id_supported and ordering == C.ORDERED and pre_collapse:
        ident = _self_identity_cond(primary_keys)
        self_updates = staged.filter(ident)
        movers = staged.filter(~ident)
        collapsed = _argmax_by_seq(self_updates, primary_keys)
        staged = collapsed.unionByName(movers)

    a = staged.alias("A")
    b = staged.alias("B")
    la = lambda name: F.col(f"A.{name}")  # noqa: E731
    lb = lambda name: F.col(f"B.{name}")  # noqa: E731

    if row_id_supported:
        key_cond: Column = la(C.ROW_ID) == lb(C.ROW_ID)
    else:
        key_cond = None
        for k in primary_keys:
            c = la(k) == lb(C.BEFORE_PREFIX + k)
            key_cond = c if key_cond is None else key_cond & c

    if ordering == C.ORDERED:
        later = la(C.SEQUENCE_NUM) < lb(C.SEQUENCE_NUM)
    else:
        later = happens_before(la, lb, sort_key_count)

    return a.join(b, key_cond & later, "left_anti")
