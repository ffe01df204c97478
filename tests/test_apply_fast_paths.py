"""Apply fast paths vs the exact plan: the single-job footer barrier
must cover trailing hard-DELETE winners, and the declared unique-key
single-scan broadcast merge must produce byte-identical state to the
exact two-pass plan on a valid binlog."""

from bigquery_delta_plugins_spark import constants as C
from bigquery_delta_plugins_spark.streaming.consumer import EventConsumer
from bigquery_delta_plugins_spark.types import DDLEvent, DDLOp

from cdc_helpers import consumer, create_tables, ins  # noqa: F401


def test_single_job_barrier_covers_trailing_deletes(spark, tmp_path):
    """ADVICE: in single-job mode the replay barrier comes from written
    parquet footers; hard-DELETE winners appear in no footer, so a batch
    ending in deletes under-advanced the barrier.  The Observation on
    the diff must carry it to the batch's true max sequence."""
    c = consumer(spark, tmp_path, single_job_per_batch=True)
    create_tables(c)
    c.apply_batch("db", "t", ins(spark, [
        ("INSERT", 1, 1, 1.0, None), ("INSERT", 2, 2, 2.0, None),
        ("INSERT", 3, 3, 3.0, None), ("INSERT", 4, 4, 4.0, None),
    ]), 0)
    c.apply_batch("db", "t", ins(spark, [
        ("DELETE", 5, 1, 1.0, 1), ("DELETE", 6, 2, 2.0, 2),
    ]), 1)
    t = c.table("db", "t")
    assert sorted(r["user_id"] for r in t.read().collect()) == [3, 4]
    # footers alone would report 4 (survivors' max); the true barrier is 6
    assert t.latest_merged_seq() == 6

def test_unique_key_fast_path_matches_exact_merge(spark, tmp_path):
    """The single-target-scan broadcast merge (declared unique-key
    source contract) produces BYTE-IDENTICAL final state to the exact
    two-pass plan on a valid binlog — inserts, hot-key update runs,
    deletes with re-inserts, and PK moves included."""
    from pyspark.sql import types as TT

    from bigquery_delta_plugins_spark.sources.gen import synth_events
    from bigquery_delta_plugins_spark.streaming.driver import run_microbatch_loop

    pages = TT.StructType(
        [
            TT.StructField("url", TT.StringType(), False),
            TT.StructField("warc_ts", TT.TimestampType(), True),
            TT.StructField("html", TT.BinaryType(), True),
            TT.StructField("text", TT.StringType(), True),
            TT.StructField("lang", TT.StringType(), True),
        ]
    )
    ev = synth_events(spark, 3000, 150, batch_size=1000, delete_frac=0.12,
                      pk_move_frac=0.05).cache()
    batches = [(b, ev.filter(ev[C.BATCH_ID] == b)) for b in range(3)]

    states = {}
    for mode, kw in (
        ("exact", {}),
        ("fast", {"assume_unique_keys": True}),
        ("fast_single_job", {"assume_unique_keys": True,
                             "single_job_per_batch": True,
                             "single_job_merge_strategy": "broadcast"}),
    ):
        c = EventConsumer(
            spark, str(tmp_path / mode / "wh"), num_buckets=4,
            # force the broadcast strategy on the standard path too
            broadcast_merge_max_rows=10_000_000,
            broadcast_merge_max_bytes=1 << 40, **kw,
        )
        c.apply_ddl(
            DDLEvent(DDLOp.CREATE_TABLE, "web", "pages", schema=pages,
                     primary_keys=["url"])
        )
        run_microbatch_loop(c, batches, "web", "pages",
                            str(tmp_path / mode / "cp"))
        states[mode] = sorted(
            map(str, c.table("web", "pages").read().collect())
        )
    ev.unpersist()
    assert states["exact"] == states["fast"] == states["fast_single_job"]
    assert len(states["exact"]) > 100


def test_single_job_apply_state_identical_without_aqe(spark, tmp_path):
    """The apply's RESULT must not depend on AQE (its WALL does: the
    measured A/B at 8 cores, BENCH/raw_r5/diag_aqe_*.jsonl, shows AQE
    ON is ~1.5-2x faster — the flatten's anti-join gets its broadcast
    from AQE's runtime conversion and the shuffles get coalesced — so
    AQE ON stays the shipped default).  Pin determinism here: same
    binlog, AQE on vs off, byte-identical table state."""
    from pyspark.sql import types as TT

    from bigquery_delta_plugins_spark.sources.gen import synth_events
    from bigquery_delta_plugins_spark.streaming.driver import run_microbatch_loop

    pages = TT.StructType(
        [
            TT.StructField("url", TT.StringType(), False),
            TT.StructField("warc_ts", TT.TimestampType(), True),
            TT.StructField("html", TT.BinaryType(), True),
            TT.StructField("text", TT.StringType(), True),
            TT.StructField("lang", TT.StringType(), True),
        ]
    )
    ev = synth_events(spark, 3000, 150, batch_size=1000, delete_frac=0.12,
                      pk_move_frac=0.05).cache()
    batches = [(b, ev.filter(ev[C.BATCH_ID] == b)) for b in range(3)]

    states = {}
    prior = spark.conf.get("spark.sql.adaptive.enabled")
    for mode, aqe in (("aqe_on", "true"), ("aqe_off", "false")):
        spark.conf.set("spark.sql.adaptive.enabled", aqe)
        try:
            c = EventConsumer(
                spark, str(tmp_path / mode / "wh"), num_buckets=4,
                assume_unique_keys=True,
                single_job_per_batch=True,
                single_job_merge_strategy="broadcast",
            )
            c.apply_ddl(
                DDLEvent(DDLOp.CREATE_TABLE, "web", "pages", schema=pages,
                         primary_keys=["url"])
            )
            run_microbatch_loop(c, batches, "web", "pages",
                                str(tmp_path / mode / "cp"))
            states[mode] = sorted(
                map(str, c.table("web", "pages").read().collect())
            )
        finally:
            spark.conf.set("spark.sql.adaptive.enabled", prior)
    ev.unpersist()
    assert states["aqe_on"] == states["aqe_off"]
    assert len(states["aqe_on"]) > 100
