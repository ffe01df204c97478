"""The three CDC-apply workloads, driven through the engine's public API.

Each workload has a table set-up (CREATE_TABLE and preload) that the
benchmark repeats on fresh warehouses to take its median, one warm-up
batch, and a timed phase that returns one record per batch.  A batch's wall is the
whole driver-loop call: apply, lineage, fsync'd checkpoint commit,
changelog-feed write and compaction check.
"""

from __future__ import annotations

import dataclasses
import glob
import json
import os
import statistics
import time
from dataclasses import dataclass, field

from pyspark.sql import functions as F
from pyspark.sql import types as T

from bigquery_delta_plugins_spark.functions import extract
from bigquery_delta_plugins_spark.lake.table import LakeTable
from bigquery_delta_plugins_spark.sources import avro_staging, staging_io
from bigquery_delta_plugins_spark.streaming import driver
from bigquery_delta_plugins_spark.streaming.consumer import EventConsumer
from bigquery_delta_plugins_spark.types import DDLEvent, DDLOp

from inputs import Spec

SEQ = "_sequence_num"
PAGES = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("warc_ts", T.TimestampType(), True),
        T.StructField("html", T.BinaryType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("lang", T.StringType(), True),
    ]
)

# Input shapes.  Sized so that a run (set-up plus a 16 s timed phase)
# takes about 50 s of wall on 4 cores; closed loops get about 1.5 times
# the batches the timed phase needs (see README.md for the probe numbers).
SPECS = {
    "hotkey_bulk": Spec(zipf=2.0, batch_events=40_000, warm_events=10_000,
                        warm_batches=2, timed_batches=6),
    "freshness_open": Spec(zipf=1.0, batch_events=0, warm_events=4_000, warm_batches=2,
                           preload_rows=25_000, rate=1_000.0, slice_s=0.5),
    "multi_table_feed": Spec(zipf=1.2, batch_events=8_000,
                             warm_events=4_000, timed_batches=12, tables=4,
                             alter_every=3),
}
AUTO_COMPACT_FILES_PER_BUCKET = 4
# multi_table_feed: 4 small tables (about 1.2k rows each after a few
# items), so 8 buckets per table rather than the engine default of 32
NUM_BUCKETS_MULTI = 8


@dataclass
class Batch:
    """One timed batch as the benchmark saw it."""

    batch_id: int
    events: int
    t0: float  # monotonic hand-off
    t1: float  # monotonic, after the checkpoint commit
    e0: float  # epoch seconds (for the Spark event log)
    e1: float
    records: list = field(default_factory=list)  # consumer lineage records
    backlog: int = 0  # events arrived but not applied at the trigger
    arrivals: object = None  # per-event scheduled arrival (open loop)
    compactions: int = 0
    seq_range: tuple = ()  # open loop: inclusive _sequence_num range applied
    error: str | None = None  # the apply raised; the loop stops after it

    @property
    def wall(self) -> float:
        return self.t1 - self.t0


def _ranges(sizes: list[int]) -> list[tuple[int, int]]:
    """Consecutive batch sizes -> inclusive sequence ranges from seq 1."""
    out, lo = [], 1
    for n in sizes:
        out.append((lo, lo + n - 1))
        lo += n
    return out


class Workload:
    name = ""
    db = "web"
    tables = ["pages"]
    extract_on = False  # html->text row transform on the flatten survivors

    @classmethod
    def spec(cls, seconds: float) -> Spec:
        return SPECS[cls.name]

    def __init__(self, spark, inputs_dir: str, meta: dict, spec: Spec, tr):
        self.spark = spark
        self.inputs = inputs_dir
        self.meta = meta
        self.spec = spec
        self.tr = tr  # tracing.Tracer (a no-op when tracing is off)

    # -- set-up ------------------------------------------------------------

    def set_up(self, root: str) -> None:
        """CREATE_TABLE + preload on a fresh warehouse."""
        self.root = root
        self.cp = os.path.join(root, "cp")
        self.consumer = self.make_consumer(os.path.join(root, "wh"))
        for tb in self.tables:
            self.consumer.apply_ddl(
                DDLEvent(DDLOp.CREATE_TABLE, self.db, tb, schema=PAGES, primary_keys=["url"])
            )
        self.preload()

    def preload(self) -> None:
        pass

    def lake_tables(self) -> list[tuple[str, LakeTable]]:
        return [(tb, self.consumer.table(self.db, tb)) for tb in self.tables]

    def events_files(self) -> list[str]:
        """Every staged event as parquet, for the oracle."""
        return sorted(glob.glob(os.path.join(self.inputs, "staged", "*", "*.parquet")))

    def oracle_table(self, table: str, lake: LakeTable, applied: list) -> dict:
        """What oracle.check needs to know about one lake table."""
        return {"name": table,
                "files": [os.path.join(lake.path, f["path"])
                          for f in lake.current_snapshot()["files"]],
                "cuts": self.cuts(applied, table), "added": []}

    def report(self, batches: list) -> list[str]:
        """Workload-specific context lines for the run output."""
        return []

    def timed_batch(self, batch: Batch, fn) -> Batch:
        self.tr.batch = batch.batch_id
        batch.e0 = time.time()
        batch.t0 = time.monotonic()
        try:
            with self.tr.span("streaming.driver", "loop"):
                batch.records = fn()
        except Exception as e:  # noqa: BLE001 — counted as a failed batch
            import traceback

            traceback.print_exc()
            batch.error = repr(e)
        batch.t1 = time.monotonic()
        batch.e1 = time.time()
        self.tr.batch = None
        return batch


class HotkeyBulk(Workload):
    """Closed loop, one table, throughput mode with html->text extraction."""

    name = "hotkey_bulk"
    extract_on = True

    def make_consumer(self, wh):
        return EventConsumer(
            self.spark, wh, num_buckets=32, count_diff_rows=False,
            row_transform=self.tr.wrap_fn(extract.extract_text_transform, "functions.extract"),
            single_job_per_batch=True, single_job_merge_strategy="broadcast",
            assume_unique_keys=True,
        )

    def _next(self, done: int):
        """Hand-off: list the staging directory and take the next batch,
        as a driver polling for newly staged batches does."""
        staged = staging_io.read_staged_batches(
            self.spark, os.path.join(self.inputs, "staged"), None, "parquet"
        )
        return [(b, df) for b, df in staged if b > done][:1]

    def warm_up(self):
        self.frames = {}
        for b in range(self.spec.warm_batches):
            driver.run_microbatch_loop(
                self.consumer, self._next(b - 1), self.db, "pages", self.cp)

    def run(self, seconds: float) -> list[Batch]:
        out = []
        start = time.monotonic()
        for b in range(self.spec.warm_batches, len(self.meta["batch_events"])):
            if time.monotonic() - start >= seconds:
                break
            n = self.meta["batch_events"][b]

            def step(b=b):
                nxt = self._next(b - 1)
                self.frames[b] = nxt[0][1]
                return driver.run_microbatch_loop(self.consumer, nxt, self.db, "pages", self.cp)

            out.append(self.timed_batch(Batch(b, n, 0, 0, 0, 0, backlog=n), step))
            if out[-1].error:
                break
        return out

    def cuts(self, batches, table: str) -> list[tuple[int, int]]:
        """Applied batches as inclusive sequence ranges, in apply order."""
        return _ranges(self.meta["batch_events"][: batches[-1].batch_id + 1])

    def staged_frame(self, batch: Batch, table: str):
        return self.frames[batch.batch_id]


class FreshnessOpen(Workload):
    """Open loop: Avro arrival files land every ``slice_s`` on a wall-clock
    schedule that never slows down; each trigger applies every arrived,
    unapplied event through the default standard path."""

    name = "freshness_open"

    @classmethod
    def spec(cls, seconds: float) -> Spec:
        # the arrival schedule must outlast the timed phase
        return dataclasses.replace(SPECS[cls.name], stream_s=int(seconds) + 12)

    def events_files(self) -> list[str]:
        return [os.path.join(self.inputs, "events", "part-00000.parquet")]

    def report(self, batches: list) -> list[str]:
        backlog = [b.backlog for b in batches]
        half = len(backlog) // 2
        return [
            f"open loop: {self.spec.rate:g} events/s, arrival files every "
            f"{self.spec.slice_s:g} s, pre-staged so the generator cannot run late "
            "(lateness 0 s)",
            f"backlog at each trigger: {backlog} (first half median "
            f"{statistics.median(backlog[:half] or [0]):g}, second half median "
            f"{statistics.median(backlog[half:]):g})",
        ]

    def make_consumer(self, wh):
        return EventConsumer(self.spark, wh, num_buckets=32)

    def preload(self):
        pre = self.spark.read.parquet(os.path.join(self.inputs, "preload.parquet"))
        self.consumer.apply_batch(self.db, "pages", pre, 0)

    def warm_up(self):
        self.schema = T.StructType.fromJson(json.loads(self.meta["staged_schema"]))
        warm = staging_io.read_staged_batches(
            self.spark, os.path.join(self.inputs, "warm"), self.schema, "avro"
        )
        driver.run_microbatch_loop(
            self.consumer, [(k + 1, df.drop("_batch_id")) for k, df in warm],
            self.db, "pages", self.cp,
        )

    def run(self, seconds: float) -> list[Batch]:
        import numpy as np

        spec, meta = self.spec, self.meta
        per = meta["slice_events"]
        first_seq = meta["first_stream_seq"]
        out = []
        self.frames = {}
        batch_id = spec.warm_batches + 1  # after the preload and the warm-up
        k_next = 0
        start = time.monotonic()
        while True:
            now = time.monotonic() - start
            if now >= seconds or k_next >= meta["slices"]:
                break
            k_avail = min(int(now / spec.slice_s), meta["slices"])
            if k_avail <= k_next:
                time.sleep(max(0.0, start + (k_next + 1) * spec.slice_s - time.monotonic()))
                continue
            lo, hi = k_next * per, k_avail * per  # stream event index range

            def trigger(k_next=k_next, k_avail=k_avail, lo=lo, hi=hi, bid=batch_id):
                # one reader over every newly landed arrival file
                ids = ",".join(str(k) for k in range(k_next, k_avail))
                df = avro_staging.read_staged_avro(
                    self.spark, os.path.join(self.inputs, "staged", f"_batch_id={{{ids}}}"),
                    self.schema,
                )
                df = df.drop("_batch_id").filter(
                    F.col(SEQ).between(first_seq + lo, first_seq + hi - 1)
                )
                self.frames[bid] = df
                return driver.run_microbatch_loop(
                    self.consumer, [(bid, df)], self.db, "pages", self.cp
                )

            arrived = int(now * spec.rate)
            batch = Batch(batch_id, hi - lo, 0, 0, 0, 0, backlog=arrived - lo)
            out.append(self.timed_batch(batch, trigger))
            # event i of the stream is due at start + i / rate
            batch.arrivals = start + np.arange(lo, hi) / spec.rate
            batch.seq_range = (first_seq + lo, first_seq + hi - 1)
            if batch.error:
                break
            k_next = k_avail
            batch_id += 1
        return out

    def cuts(self, batches, table: str) -> list[tuple[int, int]]:
        pre, warm = self.meta["preload_rows"], self.spec.warm_events
        return [(1, pre)] + [
            (pre + k * warm + 1, pre + (k + 1) * warm) for k in range(self.spec.warm_batches)
        ] + [b.seq_range for b in batches]

    def staged_frame(self, batch: Batch, table: str):
        return self.frames[batch.batch_id]


class MultiTableFeed(Workload):
    """Closed loop over 4 tables in one stream: inline ALTERs, eager
    changelog feed, compaction check after every item."""

    name = "multi_table_feed"
    db = "shop"

    def __init__(self, *a, **kw):
        super().__init__(*a, **kw)
        self.tables = list(self.meta["tables"])
        self.compactions = 0

    def make_consumer(self, wh):
        return EventConsumer(self.spark, wh, num_buckets=NUM_BUCKETS_MULTI)

    def warm_up(self):
        self.changes = os.path.join(self.root, "changes")
        self.batches = staging_io.read_staged_batches(
            self.spark, os.path.join(self.inputs, "staged"), None, "parquet"
        )
        ddl = {}
        cols = {tb: [] for tb in self.tables}
        for a in self.meta["alters"]:
            tb = self.tables[a["table"]]
            cols[tb].append(T.StructField(a["column"], T.StringType(), True))
            ddl.setdefault(a["item"], []).append(
                DDLEvent(DDLOp.ALTER_TABLE, self.db, tb,
                         schema=T.StructType(PAGES.fields + cols[tb]),
                         primary_keys=["url"], sequence_num=a["seq"])
            )
        self.items = [("dml", df, ddl.get(b, [])) for b, df in self.batches]
        self._item(0)

    def _item(self, k: int) -> list[dict]:
        ms = driver.run_mixed_stream_multi(
            self.consumer, self.items[: k + 1], self.cp,
            tables=[(self.db, tb) for tb in self.tables],
            max_workers=len(self.tables), changes_dir=self.changes,
        )
        self.compactions += self._maybe_compact()
        return ms

    def _maybe_compact(self) -> int:
        """The driver loop's auto-compaction hook (run_mixed_stream_multi
        has none): bin-pack any table whose fullest bucket holds more than
        the threshold."""
        n = 0
        for _tb, t in self.lake_tables():
            counts: dict[int, int] = {}
            for f in t.current_snapshot()["files"]:
                counts[f["bucket"]] = counts.get(f["bucket"], 0) + 1
            if counts and max(counts.values()) > AUTO_COMPACT_FILES_PER_BUCKET:
                t.compact(max_files_per_bucket=AUTO_COMPACT_FILES_PER_BUCKET)
                n += 1
        return n

    def run(self, seconds: float) -> list[Batch]:
        out = []
        start = time.monotonic()
        for k in range(1, len(self.items)):
            if time.monotonic() - start >= seconds:
                break
            before = self.compactions
            n = self.meta["batch_events"][k]
            batch = self.timed_batch(Batch(k, n, 0, 0, 0, 0, backlog=n), lambda k=k: self._item(k))
            batch.compactions = self.compactions - before
            out.append(batch)
            if batch.error:
                break
        return out

    def cuts(self, batches, table: str) -> list[tuple[int, int]]:
        """Item ranges, split where an inline ALTER of ``table`` flushed
        the segment before it."""
        items = _ranges(self.meta["batch_events"][: batches[-1].batch_id + 1])
        t = self.tables.index(table)
        out = []
        for k, (lo, hi) in enumerate(items):
            for a in self.meta["alters"]:
                if a["item"] == k and a["table"] == t:
                    out.append((lo, a["seq"] - 1))
                    lo = a["seq"]
            out.append((lo, hi))
        return out

    def oracle_table(self, table: str, lake: LakeTable, applied: list) -> dict:
        out = super().oracle_table(table, lake, applied)
        t = self.tables.index(table)
        out["added"] = [a["column"] for a in self.meta["alters"]
                        if a["table"] == t and a["item"] <= applied[-1].batch_id]
        out["routing"] = table
        out["feed"] = os.path.join(self.changes, self.db, table)
        return out

    def staged_frame(self, batch: Batch, table: str):
        df = dict(self.batches)[batch.batch_id]
        return df.filter(F.col("_table") == table).drop("_database", "_table", "_batch_id")


WORKLOADS = {"hotkey_bulk": HotkeyBulk, "freshness_open": FreshnessOpen,
             "multi_table_feed": MultiTableFeed}
