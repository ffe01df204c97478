"""Property-based check: for ARBITRARY small event streams — including
chained / swapped / dangling primary-key references that no real binlog
produces — the engine's flatten+merge replay equals a direct Python
transliteration of the reference's generated diff+MERGE algebra
(python_replay in test_consumer.py, createDiffQuery/createMergeQuery
BigQueryEventConsumer.java:1154-1391).

The reference's SQL is total over any stream shape (an UPDATE whose
before-key matches nothing takes the NOT-MATCHED insert arm, etc.), so
the property needs no validity precondition — that's exactly what makes
it a strong differential test."""

import os
import uuid

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import types as T

from bigquery_delta_plugins_spark import constants as C
from bigquery_delta_plugins_spark.streaming.consumer import EventConsumer
from bigquery_delta_plugins_spark.streaming.driver import run_microbatch_loop
from bigquery_delta_plugins_spark.types import DDLEvent, DDLOp

from test_consumer import PAGES, oracle_state, python_replay, table_state

STAGING = T.StructType(
    [
        T.StructField(C.OPERATION, T.StringType(), False),
        T.StructField(C.BATCH_ID, T.LongType(), False),
        T.StructField(C.SEQUENCE_NUM, T.LongType(), False),
        T.StructField("url", T.StringType(), True),
        T.StructField("warc_ts", T.TimestampType(), True),
        T.StructField("html", T.BinaryType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("lang", T.StringType(), True),
        T.StructField("_before_url", T.StringType(), True),
        T.StructField("_before_warc_ts", T.TimestampType(), True),
        T.StructField("_before_html", T.BinaryType(), True),
        T.StructField("_before_text", T.StringType(), True),
        T.StructField("_before_lang", T.StringType(), True),
    ]
)

# (op, key index, before-key index) — before ignored for INSERT
raw_event = st.tuples(
    st.sampled_from(["INSERT", "UPDATE", "DELETE"]),
    st.integers(0, 3),
    st.integers(0, 3),
)
raw_stream = st.lists(raw_event, min_size=1, max_size=12)


def _materialize(raw, batch_size=5):
    events = []
    for i, (op, a, b) in enumerate(raw):
        seq = i + 1
        events.append(
            {
                C.OPERATION: op,
                C.BATCH_ID: i // batch_size,
                C.SEQUENCE_NUM: seq,
                "url": f"u{a}",
                "warc_ts": None,
                "html": f"h{seq}".encode(),
                "text": None,
                "lang": "en",
                "_before_url": None if op == "INSERT" else f"u{b}",
                "_before_warc_ts": None,
                "_before_html": None,
                "_before_text": None,
                "_before_lang": None,
            }
        )
    return events


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(raw=raw_stream, soft=st.booleans())
def test_engine_matches_reference_merge_algebra(spark, tmp_path, raw, soft):
    events = _materialize(raw)
    root = os.path.join(str(tmp_path), uuid.uuid4().hex)
    consumer = EventConsumer(
        spark, os.path.join(root, "wh"), num_buckets=2,
        soft_deletes=soft,
    )
    consumer.apply_ddl(
        DDLEvent(DDLOp.CREATE_TABLE, "web", "pages", schema=PAGES,
                 primary_keys=["url"])
    )
    df = spark.createDataFrame(
        [tuple(e[f.name] for f in STAGING.fields) for e in events], STAGING
    )
    n_batches = events[-1][C.BATCH_ID] + 1
    batches = [(b, df.filter(df[C.BATCH_ID] == b)) for b in range(n_batches)]
    run_microbatch_loop(consumer, batches, "web", "pages", os.path.join(root, "cp"))

    got = table_state(consumer.table("web", "pages"))
    want = oracle_state(python_replay(events, soft_deletes=soft))
    assert got == want, (raw, soft)
