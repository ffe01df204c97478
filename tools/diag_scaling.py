#!/usr/bin/env python
"""One-off diagnostic: per-phase timings of a single batch apply at a
given parallelism, to locate anti-scaling.  Usage:
  python tools/diag_scaling.py <cpus> [n_events] [num_buckets] [shuffle_parts]
"""

from __future__ import annotations

import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

cpus = int(sys.argv[1])
n_events = int(sys.argv[2]) if len(sys.argv) > 2 else 500_000
num_buckets = int(sys.argv[3]) if len(sys.argv) > 3 else 32
shuffle_parts = int(sys.argv[4]) if len(sys.argv) > 4 else cpus * 2

from pyspark.sql import SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

spark = (
    SparkSession.builder.master(f"local[{cpus}]")
    .appName(f"diag-{cpus}")
    .config("spark.sql.shuffle.partitions", str(shuffle_parts))
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.adaptive.skewJoin.enabled", "true")
    .config("spark.sql.files.maxPartitionBytes", "8m")
    .config("spark.driver.memory", "48g")
    .config("spark.sql.execution.arrow.pyspark.enabled", "true")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
)

from bigquery_delta_plugins_spark import constants as C
from bigquery_delta_plugins_spark.functions.extract import extract_text_transform
from bigquery_delta_plugins_spark.operators.flatten import flatten_batch
from bigquery_delta_plugins_spark.operators.merge import merge_apply
from bigquery_delta_plugins_spark.lake.table import bucket_expr
from bigquery_delta_plugins_spark.sources.gen import synth_events
from bigquery_delta_plugins_spark.streaming.consumer import EventConsumer
from bigquery_delta_plugins_spark.types import DDLEvent, DDLOp

tmp = tempfile.mkdtemp(prefix=f"diag-{cpus}-")
ev_path = os.path.join(tmp, "events")

t = time.monotonic()
synth_events(spark, n_events, n_events // 20, batch_size=n_events).write.parquet(ev_path)
print(f"gen+write: {time.monotonic()-t:.1f}s", flush=True)

staged = spark.read.parquet(ev_path)

t = time.monotonic()
agg = staged.agg(
    F.count(F.lit(1)).alias("n"),
    F.max(C.SEQUENCE_NUM).alias("max_seq"),
    F.sum((F.col(C.OPERATION) != C.OP_INSERT).cast("long")).alias("non_insert"),
).first()
print(f"preagg: {time.monotonic()-t:.1f}s  n={agg['n']}", flush=True)

t = time.monotonic()
diff = flatten_batch(staged, ["url"])
diff = extract_text_transform(diff).persist()
n_diff = diff.count()
print(f"flatten+extract(count): {time.monotonic()-t:.1f}s  diff={n_diff}", flush=True)

t = time.monotonic()
touched = {
    r["b"]
    for r in diff.select(bucket_expr(["url"], num_buckets).alias("b"))
    .unionAll(
        diff.filter(F.col("_before_url").isNotNull()).select(
            bucket_expr(["_before_url"], num_buckets).alias("b")
        )
    )
    .distinct()
    .collect()
}
print(f"touched-collect: {time.monotonic()-t:.1f}s  buckets={len(touched)}", flush=True)

pages = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("warc_ts", T.TimestampType(), True),
        T.StructField("html", T.BinaryType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("lang", T.StringType(), True),
        T.StructField(C.SEQUENCE_NUM, T.LongType(), True),
        T.StructField(C.IS_DELETED, T.BooleanType(), True),
    ]
)
empty = spark.createDataFrame([], pages)
t = time.monotonic()
new_rows = merge_apply(empty, diff.drop(C.BATCH_ID), ["url"])
out = os.path.join(tmp, "out")
(
    new_rows.withColumn("__bucket", bucket_expr(["url"], num_buckets))
    .repartition(F.col("__bucket"))
    .write.partitionBy("__bucket")
    .parquet(out)
)
print(f"merge+write: {time.monotonic()-t:.1f}s", flush=True)

import shutil

shutil.rmtree(tmp, ignore_errors=True)
spark.stop()
