"""Per-layer tracing for the benchmark's ``--trace 1`` runs.

Three sources, because Spark is lazy:

- **Spans** recorded around calls into each layer's public functions
  (wrapped from here, the engine is untouched).  ``flatten_batch``,
  ``merge_apply``, ``extract_text_transform`` and ``LakeTable.read``
  return plans, so their spans time plan building only; their work runs
  inside the consumer's write job, which lands in the ``lake.table``
  span around ``LakeTable._write_data_files``.
- **The Spark event log** of the run, cut into the benchmark's batch
  windows: jobs, task core-seconds, shuffle and spill bytes, and the
  stage-covered vs driver-gap split of each batch wall (the method of
  ``tools/diag_gaps.py``).  Jobs of the forced replays carry a
  ``replay-<op>`` job group.
- **Forced replays** (``noop`` sink) of the lazy operators on the last
  timed batch's input and pre-batch table state: standalone costs.
"""

from __future__ import annotations

import json
import os
import threading
import time
from contextlib import contextmanager, nullcontext

LAYERS = ["sources", "operators.flatten", "functions.extract", "operators.merge",
          "lake.table", "streaming.consumer", "streaming.driver"]


class Tracer:
    """In-memory span recorder; every method is a no-op when disabled."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[tuple] = []  # (id, parent, layer, name, t0, t1, batch)
        self.counts: dict[tuple, int] = {}  # (name, batch) -> calls
        self.batch = None  # id of the timed batch in flight (set by the loop)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._root = None  # innermost span of the loop thread, for pool threads

    @contextmanager
    def _span(self, layer: str, name: str):
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        parent = stack[-1] if stack else self._root
        with self._lock:
            sid = len(self.spans)
            self.spans.append(None)
        stack.append(sid)
        if threading.current_thread() is threading.main_thread():
            self._root = sid
        batch = self.batch
        t0 = time.monotonic()
        try:
            yield
        finally:
            t1 = time.monotonic()
            stack.pop()
            if threading.current_thread() is threading.main_thread():
                self._root = stack[-1] if stack else None
            self.spans[sid] = (sid, parent, layer, name, t0, t1, batch)

    def span(self, layer: str, name: str):
        return self._span(layer, name) if self.enabled else nullcontext()

    def wrap_fn(self, fn, layer: str):
        if not self.enabled:
            return fn

        def wrapped(*a, **kw):
            with self._span(layer, fn.__name__):
                return fn(*a, **kw)

        wrapped.__name__ = fn.__name__
        return wrapped

    def count(self, name: str) -> None:
        key = (name, self.batch)
        with self._lock:
            self.counts[key] = self.counts.get(key, 0) + 1

    def install(self) -> None:
        """Wrap the engine's layer entry points (tracing runs only)."""
        if not self.enabled:
            return
        from bigquery_delta_plugins_spark.lake.table import LakeTable
        from bigquery_delta_plugins_spark.sources import avro_staging, staging_io
        from bigquery_delta_plugins_spark.streaming import consumer as cmod

        def patch(owner, attr, layer):
            setattr(owner, attr, self.wrap_fn(getattr(owner, attr), layer))

        patch(staging_io, "read_staged_batches", "sources")
        patch(avro_staging, "read_staged_avro", "sources")
        patch(cmod.EventConsumer, "apply_batch", "streaming.consumer")
        patch(cmod, "flatten_batch", "operators.flatten")
        patch(cmod, "merge_apply", "operators.merge")
        for attr in ("read", "_write_data_files", "_write_snapshot", "changes_for_batch",
                     "compact"):
            patch(LakeTable, attr, "lake.table")
        current = LakeTable.current_snapshot

        def counted(t, *a, **kw):
            self.count("current_snapshot")
            return current(t, *a, **kw)

        LakeTable.current_snapshot = counted

    # -- analysis -------------------------------------------------------------

    def timed_spans(self, batch_ids: set) -> list[tuple]:
        return [s for s in self.spans if s is not None and s[6] in batch_ids]

    def self_times(self, batch_ids: set) -> dict[str, float]:
        """Per layer: sum of span durations minus the part covered by
        their child spans (overlapping children counted once)."""
        spans = self.timed_spans(batch_ids)
        children: dict[int, list] = {}
        for s in spans:
            children.setdefault(s[1], []).append((s[4], s[5]))
        out = {layer: 0.0 for layer in LAYERS}
        for sid, _p, layer, _n, t0, t1, _b in spans:
            covered = _union([(max(a, t0), min(b, t1)) for a, b in children.get(sid, [])
                              if b > t0 and a < t1])
            out[layer] += (t1 - t0) - covered
        return out

    def durations(self, name: str, batch_ids: set) -> float:
        return sum(s[5] - s[4] for s in self.timed_spans(batch_ids) if s[3] == name)

    def calls(self, name: str, batch_ids: set) -> int:
        return sum(n for (nm, b), n in self.counts.items() if nm == name and b in batch_ids)


def _union(ivs) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(ivs):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


# ------------------------------------------------------------- event log


class EventLog:
    """Stages, jobs and task metrics from a finished Spark event log."""

    def __init__(self, log_dir: str):
        self.stages: dict[int, list] = {}  # id -> [submit_ms, complete_ms]
        self.tasks: list[tuple] = []  # (stage, launch_ms, finish_ms, shuffle_w, spill)
        self.jobs: list[tuple] = []  # (submit_ms, group, stage_ids)
        for name in sorted(os.listdir(log_dir)):
            path = os.path.join(log_dir, name)
            parts = (
                [os.path.join(path, f) for f in sorted(os.listdir(path)) if f.startswith("events")]
                if os.path.isdir(path) else [path]
            )
            for p in parts:
                with open(p) as f:
                    for line in f:
                        self._add(json.loads(line))

    def _add(self, e: dict) -> None:
        kind = e.get("Event")
        if kind == "SparkListenerStageCompleted":
            si = e["Stage Info"]
            self.stages[si["Stage ID"]] = [si.get("Submission Time"), si.get("Completion Time")]
        elif kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            self.jobs.append((e.get("Submission Time"), props.get("spark.jobGroup.id"),
                              e.get("Stage IDs", [])))
        elif kind == "SparkListenerTaskEnd":
            ti, tm = e.get("Task Info", {}), e.get("Task Metrics") or {}
            sw = (tm.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
            spill = tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0)
            self.tasks.append((e.get("Stage ID"), ti.get("Launch Time") or 0,
                               ti.get("Finish Time") or 0, sw, spill))

    def window(self, e0: float, e1: float) -> dict:
        """Aggregates over one wall-clock window (epoch seconds)."""
        t0, t1 = e0 * 1000, e1 * 1000
        tasks = [t for t in self.tasks if t0 <= t[1] < t1]
        covered = _union([
            (max(s, t0), min(c, t1)) for s, c in self.stages.values()
            if s is not None and c is not None and c > t0 and s < t1
        ])
        return {
            "jobs": sum(1 for j in self.jobs if j[0] is not None and t0 <= j[0] < t1),
            "task_core_s": sum(max(t[2] - t[1], 0) for t in tasks) / 1000,
            "driver_gap_s": (t1 - t0 - covered) / 1000,
            "shuffle_write_bytes": sum(t[3] for t in tasks),
            "spill_bytes": sum(t[4] for t in tasks),
        }

    def group_shuffle_write(self, group: str) -> int:
        stages = {s for _t, g, ids in self.jobs if g == group for s in ids}
        return sum(t[3] for t in self.tasks if t[0] in stages)


def jvm_gc_seconds(spark) -> float:
    """Cumulative collection time of every JVM garbage collector."""
    beans = spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(max(b.getCollectionTime(), 0) for b in beans) / 1000


# -------------------------------------------------------- forced replays


def _force(spark, group: str, df) -> float:
    spark.sparkContext.setJobGroup(group, group)
    t0 = time.monotonic()
    df.write.format("noop").mode("overwrite").save()
    return time.monotonic() - t0


def forced_replays(spark, wl, batch, table: str) -> dict:
    """Standalone cost of each lazy operator on ``batch``'s input for
    ``table`` against the table state just before that batch."""
    from pyspark.sql import functions as F

    from bigquery_delta_plugins_spark.functions.extract import extract_text_transform
    from bigquery_delta_plugins_spark.operators.flatten import flatten_batch
    from bigquery_delta_plugins_spark.operators.merge import merge_apply
    from bigquery_delta_plugins_spark.streaming.consumer import EventConsumer

    t = wl.consumer.table(wl.db, table)
    recs = [m for m in batch.records
            if m.get("table_name", table) == table and not m.get("skipped")]
    lake_b = recs[-1]["batch_id"] if recs else batch.batch_id
    after = t.snapshot_for_batch(lake_b)
    pre = t.snapshot(after["parent_id"])
    last_merged = pre["summary"].get("latest_merged_seq", 0)
    staged = wl.staged_frame(batch, table)
    out = {"sources.scan_s": _force(spark, "replay-scan", staged)}

    live = staged.filter(F.col("_sequence_num") > F.lit(last_merged)).persist()
    diff = None
    try:
        events_in = live.count()
        diff = flatten_batch(live, ["url"])
        out["flatten.forced_s"] = _force(spark, "replay-flatten", diff)
        diff = diff.persist()
        survivors = diff.count()
        out["extract.forced_s"] = _force(spark, "replay-extract", extract_text_transform(diff))
        if wl.extract_on:
            diff = extract_text_transform(diff)
        diff_bytes = diff.select(
            EventConsumer._row_bytes_expr(diff).alias("b")).agg(F.sum("b")).first()[0] or 0
        strategy = (recs[-1].get("merge_strategy") if recs else None) or "shuffle"
        touched = recs[-1].get("touched_buckets") if recs else None
        target = t.read(snapshot_id=pre["snapshot_id"],
                        buckets=set(touched) if touched else None)
        merged = merge_apply(target, diff, ["url"], strategy=strategy,
                             unique_key_target=wl.consumer.assume_unique_keys)
        out["merge.forced_s"] = _force(spark, "replay-merge", merged)
        out["merge.target_rows_read"] = target.count()
        out["merge.rows_out"] = merged.count()
        out["lake.changes_for_batch_s"] = _force(
            spark, "replay-changes", t.changes_for_batch(lake_b))
    finally:
        live.unpersist()
        if diff is not None:
            diff.unpersist()
        spark.sparkContext.setJobGroup("", "")
    out["flatten.events_in"] = events_in
    out["flatten.survivors_out"] = survivors
    out["flatten.survivor_ratio"] = survivors / events_in if events_in else 0.0
    out["extract.rows_in"] = survivors
    # data bytes the batch's commit wrote vs its diff payload
    old = {f["path"] for f in pre["files"]}
    written = sum(os.path.getsize(os.path.join(t.path, f["path"]))
                  for f in after["files"] if f["path"] not in old)
    out["lake.write_amplification"] = written / diff_bytes if diff_bytes else 0.0
    return out


def forced_compaction(wl) -> float:
    """Standalone bin-pack of every bucket of every table (after the
    oracle has read the final state; compaction keeps the rows)."""
    t0 = time.monotonic()
    for _tb, t in wl.lake_tables():
        t.compact(max_files_per_bucket=0)
    return time.monotonic() - t0
