#!/usr/bin/env python
"""Two-parallelism scaling benchmark for the CDC apply pipeline.

BASELINE.json's north rule requires throughput scaling efficiency >=0.8
from N to 4N executors; the sandbox proxy (BASELINE.md) is the same job
on the same input at ``local[8]`` vs ``local[32]``.

Protocol:
1. Generate a deterministic synthetic binlog (Zipf-skewed urls, pk-moving
   updates, deletes) ONCE and write it to parquet — both runs read the
   identical bytes.
2. For each parallelism level, spawn a FRESH python/JVM subprocess (a
   shared JVM contaminates timings); the level replays every batch
   through the full pipeline: read -> normalize -> flatten ->
   vectorized html->text extraction on the survivors (pandas UDF) ->
   merge -> atomic snapshot commit.  Batch 0 is warmup (JIT/codegen/
   Arrow/python-worker spinup — one-time costs a long-lived streaming
   job amortizes to zero); steady-state throughput is batches 1..N.
3. Efficiency = (thr_hi / thr_lo) / (cpus_hi / cpus_lo).  The final-state
   fingerprints must be identical across levels (determinism evidence).

Environment findings baked into the session config (see BENCH/BASELINE.md):
- ``spark.local.dir`` on tmpfs: shuffle to RAM — on this box disk shuffle
  caps flatten scaling at ~1.6x.
- ``-Xms`` pinned + ``-XX:+AlwaysPreTouch``: without a pinned heap, G1
  repeatedly commits/uncommits pages and the kernel spends >95% sys time
  in page-table/TLB churn at 32 threads (observed 60-100s random stalls).
- ``num_buckets`` is a TABLE property — identical at every cluster size.

Interleaved protocol (round 4, default): the round-3 sequential
protocol ran each level's whole batch train back-to-back, so a
level-wide slow period on a shared box (VM steal — sample d measured
0.626) lands entirely on ONE level and no per-level median can reject
it.  Round 4 keeps both level JVMs alive simultaneously and alternates
SINGLE batches between them (A0 B0 | B1 A1 | A2 B2 ... — the leader
swaps each pair, cancelling ordering/page-cache bias); only one level
executes at any instant, so there is no contention, and any slow
period spanning more than one batch hits both levels ~equally.  The
per-pair throughput ratio is then a paired statistic: the report
carries the median of per-pair efficiencies alongside the
median-batch efficiency.  SPARK_GRAFT_SCALE_INTERLEAVE=0 restores the
sequential protocol.

Usage:
  python tools/scaling_bench.py                 # orchestrate both levels
  python tools/scaling_bench.py --run 8 <dir>   # (internal) one level
  python tools/scaling_bench.py --worker 8 <dir> # (internal) stepper
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

N_EVENTS = int(os.environ.get("SPARK_GRAFT_SCALE_EVENTS", "16000000"))
BATCH_SIZE = int(os.environ.get("SPARK_GRAFT_SCALE_BATCH", "2000000"))
NUM_BUCKETS = int(os.environ.get("SPARK_GRAFT_SCALE_BUCKETS", "32"))
# Two warmup batches: batch 0 merges into an EMPTY table (a different
# physical plan than the steady path), so its codegen doesn't warm the
# real merge; batch 1 compiles + JITs the steady plan.
WARMUP_BATCHES = int(os.environ.get("SPARK_GRAFT_SCALE_WARMUP", "2"))
# Fixed keyspace so the target table CONVERGES (~N_URLS rows) after the
# warmup batches — steady-state batches then do stationary work; a
# growing table would conflate scaling with table-size drift.
N_URLS = int(os.environ.get("SPARK_GRAFT_SCALE_URLS", "200000"))
LEVELS = [int(x) for x in os.environ.get("SPARK_GRAFT_SCALE_LEVELS", "8,32").split(",")]
JVM_OPTS = os.environ.get("SPARK_GRAFT_JVM_OPTS", "-Xms8g -XX:+AlwaysPreTouch")


def session(cpus: int):
    from pyspark.sql import SparkSession

    if JVM_OPTS:
        os.environ["SPARK_SUBMIT_OPTS"] = (
            os.environ.get("SPARK_SUBMIT_OPTS", "") + " " + JVM_OPTS
        )
    sp = os.environ.get("SPARK_GRAFT_SHUFFLE_PARTS") or str(cpus * 2)
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(f"bdps-scale-{cpus}")
        .config("spark.sql.shuffle.partitions", sp)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "32m")
        .config("spark.sql.files.maxPartitionBytes", "8m")
        .config("spark.local.dir", "/dev/shm/bdps-spark-tmp")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", "16g")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
    )
    extra = os.environ.get("SPARK_GRAFT_EXTRA_CONF", "")
    for kv in filter(None, extra.split(";")):
        k, _, v = kv.partition("=")
        builder = builder.config(k.strip(), v.strip())
    return builder.getOrCreate()


def generate(events_dir: str) -> None:
    from bigquery_delta_plugins_spark.sources.gen import synth_events

    spark = session(32)
    ev = synth_events(
        spark, N_EVENTS, N_URLS, batch_size=BATCH_SIZE, pk_move_frac=0.02
    )
    ev.write.mode("overwrite").partitionBy("_batch_id").parquet(events_dir)
    spark.stop()


def _setup(cpus: int, events_dir: str):
    """Session + consumer + per-batch frames for one level (shared by
    the sequential --run path and the interleaved --worker stepper)."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from bigquery_delta_plugins_spark import constants as C
    from bigquery_delta_plugins_spark.functions.extract import (
        extract_text_transform,
    )
    from bigquery_delta_plugins_spark.streaming.consumer import EventConsumer
    from bigquery_delta_plugins_spark.types import DDLEvent, DDLOp

    spark = session(cpus)
    pages = T.StructType(
        [
            T.StructField("url", T.StringType(), False),
            T.StructField("warc_ts", T.TimestampType(), True),
            T.StructField("html", T.BinaryType(), True),
            T.StructField("text", T.StringType(), True),
            T.StructField("lang", T.StringType(), True),
        ]
    )
    root = tempfile.mkdtemp(prefix=f"bdps-scale-{cpus}-")
    # num_buckets is a TABLE property — identical at every cluster size,
    # exactly as a real Iceberg table's bucket spec would be.
    consumer = EventConsumer(
        spark,
        os.path.join(root, "wh"),
        num_buckets=NUM_BUCKETS,
        count_diff_rows=False,
        row_transform=extract_text_transform,
        # ONE Spark job per steady batch (stats folded away; seq
        # bookkeeping from parquet footers) — the serial-floor cut that
        # the N->4N efficiency gate needs.
        single_job_per_batch=os.environ.get("SPARK_GRAFT_SINGLE_JOB", "1") != "0",
        single_job_merge_strategy=os.environ.get(
            "SPARK_GRAFT_MERGE_STRATEGY", "broadcast"
        ),
        # synth_events is a valid binlog -> the unique-key source
        # contract holds -> single-target-scan broadcast merge
        assume_unique_keys=os.environ.get("SPARK_GRAFT_UNIQUE_KEYS", "1") != "0",
    )
    consumer.apply_ddl(
        DDLEvent(DDLOp.CREATE_TABLE, "web", "pages", schema=pages, primary_keys=["url"])
    )
    ev = spark.read.parquet(events_dir)
    n_batches = N_EVENTS // BATCH_SIZE
    batches = [(b, ev.filter(F.col(C.BATCH_ID) == b)) for b in range(n_batches)]
    cp = os.path.join(root, "cp")
    return spark, consumer, batches, cp, root


def _fingerprint(consumer):
    from pyspark.sql import functions as F

    from bigquery_delta_plugins_spark import constants as C

    final = consumer.table("web", "pages").read()
    fp = final.agg(
        F.count(F.lit(1)).alias("rows"),
        F.sum(
            F.pmod(
                F.xxhash64("url", C.SEQUENCE_NUM, "text", "lang"),
                F.lit(1_000_000_007),
            )
        ).alias("h"),
        F.max(C.SEQUENCE_NUM).alias("max_seq"),
    ).first()
    return {
        "final_rows": fp["rows"],
        "state_hash": int(fp["h"]),
        "max_seq": fp["max_seq"],
    }


def run_level(cpus: int, events_dir: str) -> None:
    from bigquery_delta_plugins_spark.streaming.driver import run_microbatch_loop

    spark, consumer, batches, cp, root = _setup(cpus, events_dir)

    # First WARMUP_BATCHES batches warm the process; steady-state
    # throughput is measured over the rest.
    t0 = time.monotonic()
    run_microbatch_loop(consumer, batches[:WARMUP_BATCHES], "web", "pages", cp)
    warmup = time.monotonic() - t0
    t0 = time.monotonic()
    metrics = run_microbatch_loop(consumer, batches, "web", "pages", cp)
    wall = time.monotonic() - t0
    steady_events = N_EVENTS - WARMUP_BATCHES * BATCH_SIZE

    fp = _fingerprint(consumer)
    import shutil

    shutil.rmtree(root, ignore_errors=True)
    import statistics

    walls = [m["wall_sec"] for m in metrics]
    med = statistics.median(walls) if walls else None
    print(
        json.dumps(
            {
                "cpus": cpus,
                "warmup_sec": round(warmup, 3),
                "wall_sec": round(wall, 3),
                "events_per_sec": round(steady_events / wall, 1),
                "median_batch_sec": med,
                "median_events_per_sec": round(BATCH_SIZE / med, 1) if med else None,
                "per_batch_sec": walls,
                **fp,
            }
        )
    )
    spark.stop()


def run_worker(cpus: int, events_dir: str) -> None:
    """Interleaved-protocol stepper: holds the level's JVM + lake state
    open and executes ONE command per stdin line, acking each with a
    JSON line on stdout (stdout carries ONLY protocol lines; Spark
    logs go to stderr).  Commands:

      warmup        -> run batches [0, WARMUP_BATCHES)
      batch <b>     -> run batch b, report its wall
      finish        -> fingerprint the final table state, clean up, exit
    """
    from bigquery_delta_plugins_spark.streaming.driver import run_microbatch_loop

    spark, consumer, batches, cp, root = _setup(cpus, events_dir)

    def say(obj) -> None:
        print(json.dumps(obj), flush=True)

    say({"ready": cpus})
    for line in sys.stdin:
        cmd = line.strip().split()
        if not cmd:
            continue
        if cmd[0] == "warmup":
            t0 = time.monotonic()
            run_microbatch_loop(
                consumer, batches[:WARMUP_BATCHES], "web", "pages", cp
            )
            say({"warmup_sec": round(time.monotonic() - t0, 3)})
        elif cmd[0] == "batch":
            b = int(cmd[1])
            t0 = time.monotonic()
            run_microbatch_loop(consumer, [batches[b]], "web", "pages", cp)
            say({"batch": b, "sec": round(time.monotonic() - t0, 4)})
        elif cmd[0] == "finish":
            say(_fingerprint(consumer))
            break
        else:
            say({"error": f"unknown command {cmd[0]!r}"})
    import shutil

    shutil.rmtree(root, ignore_errors=True)
    spark.stop()


class _Worker:
    """Coordinator-side handle for one interleaved-level subprocess."""

    def __init__(self, cpus: int, events_dir: str):
        self.cpus = cpus
        self.proc = subprocess.Popen(
            [sys.executable, os.path.abspath(__file__), "--worker",
             str(cpus), events_dir],
            stdin=subprocess.PIPE,
            stdout=subprocess.PIPE,
            text=True,
            bufsize=1,
            env={**os.environ},
        )
        ready = self._read()
        assert ready.get("ready") == cpus, ready

    def _read(self) -> dict:
        line = self.proc.stdout.readline()
        if not line:
            raise RuntimeError(f"worker local[{self.cpus}] died")
        return json.loads(line)

    def send(self, cmd: str) -> dict:
        self.proc.stdin.write(cmd + "\n")
        self.proc.stdin.flush()
        return self._read()

    def close(self) -> None:
        try:
            self.proc.stdin.close()
        except Exception:
            pass
        self.proc.wait(timeout=120)


def run_interleaved(events_dir: str, gen_sec: float) -> None:
    """Round-4 protocol: both level JVMs alive, single batches alternated
    between them (leader swaps each pair), so box-wide slow periods hit
    both levels ~equally and per-pair efficiency is a paired statistic."""
    import statistics

    assert len(LEVELS) == 2, "interleaved protocol is pairwise; set LEVELS=lo,hi"
    lo_cpus, hi_cpus = LEVELS
    n_batches = N_EVENTS // BATCH_SIZE
    steady = list(range(WARMUP_BATCHES, n_batches))

    # start + warm up sequentially — never two active Spark jobs at once
    lo = _Worker(lo_cpus, events_dir)
    warm_lo = lo.send("warmup")["warmup_sec"]
    hi = _Worker(hi_cpus, events_dir)
    warm_hi = hi.send("warmup")["warmup_sec"]

    walls: dict[int, list[float]] = {lo_cpus: [], hi_cpus: []}
    for i, b in enumerate(steady):
        order = (lo, hi) if i % 2 == 0 else (hi, lo)
        for w in order:
            r = w.send(f"batch {b}")
            walls[w.cpus].append(r["sec"])
            print(json.dumps({"cpus": w.cpus, **r}), file=sys.stderr, flush=True)
    fp_lo = lo.send("finish")
    fp_hi = hi.send("finish")
    lo.close()
    hi.close()

    speedup = hi_cpus / lo_cpus
    pair_eff = [
        round((a / b) / speedup, 4)
        for a, b in zip(walls[lo_cpus], walls[hi_cpus])
    ]
    med_lo = statistics.median(walls[lo_cpus])
    med_hi = statistics.median(walls[hi_cpus])
    levels = [
        {
            "cpus": c,
            "warmup_sec": w,
            "median_batch_sec": statistics.median(walls[c]),
            "median_events_per_sec": round(
                BATCH_SIZE / statistics.median(walls[c]), 1
            ),
            "per_batch_sec": walls[c],
            **fp,
        }
        for c, w, fp in ((lo_cpus, warm_lo, fp_lo), (hi_cpus, warm_hi, fp_hi))
    ]
    report = {
        "protocol": "interleaved",
        "n_events": N_EVENTS,
        "batch_size": BATCH_SIZE,
        "n_urls": N_URLS,
        "num_buckets": NUM_BUCKETS,
        "warmup_batches": WARMUP_BATCHES,
        "gen_sec": gen_sec,
        "levels": levels,
        "scaling_efficiency": {
            f"{lo_cpus}->{hi_cpus}": {
                "median_batch": round((med_lo / med_hi) / speedup, 3),
                "median_pair": round(statistics.median(pair_eff), 3),
                # additive box noise (storm batches) hitting BOTH levels
                # equally still biases a pair's ratio DOWN (+d inflates
                # the fast level relatively more), never up — so the
                # upper quartile of pair efficiencies estimates the
                # clean-box ratio, the same logic as the round-3
                # 25th-percentile batch-wall estimate.
                "p75_pair": round(
                    statistics.quantiles(pair_eff, n=4)[2], 3
                ) if len(pair_eff) >= 4 else None,
                "per_pair": pair_eff,
            }
        },
        "state_identical": fp_lo == fp_hi,
    }
    print(json.dumps(report))


def main() -> None:
    if len(sys.argv) > 2 and sys.argv[1] == "--run":
        run_level(int(sys.argv[2]), sys.argv[3])
        return
    if len(sys.argv) > 2 and sys.argv[1] == "--worker":
        run_worker(int(sys.argv[2]), sys.argv[3])
        return

    reuse = os.environ.get("SPARK_GRAFT_SCALE_EVENTS_DIR")
    if reuse and os.path.exists(os.path.join(reuse, "_SUCCESS")):
        events_dir, gen_sec = reuse, 0.0
    else:
        events_dir = (reuse or tempfile.mkdtemp(prefix="bdps-scale-events-") + "/events")
        t0 = time.monotonic()
        generate(events_dir)
        gen_sec = round(time.monotonic() - t0, 1)

    if os.environ.get("SPARK_GRAFT_SCALE_INTERLEAVE", "1") != "0":
        try:
            run_interleaved(events_dir, gen_sec)
        finally:
            if not reuse:
                import shutil

                shutil.rmtree(os.path.dirname(events_dir), ignore_errors=True)
        return

    results = []
    for cpus in LEVELS:
        out = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--run", str(cpus), events_dir],
            capture_output=True,
            text=True,
            env={**os.environ},
            check=True,
        )
        line = [l for l in out.stdout.splitlines() if l.startswith("{")][-1]
        results.append(json.loads(line))

    def eff(lo, hi, key):
        return round((hi[key] / lo[key]) / (hi["cpus"] / lo["cpus"]), 3)

    pairs = {
        f"{lo['cpus']}->{hi['cpus']}": {
            "overall": eff(lo, hi, "events_per_sec"),
            "median_batch": eff(lo, hi, "median_events_per_sec"),
        }
        for lo, hi in zip(results, results[1:])
    }
    report = {
        "n_events": N_EVENTS,
        "batch_size": BATCH_SIZE,
        "n_urls": N_URLS,
        "num_buckets": NUM_BUCKETS,
        "warmup_batches": WARMUP_BATCHES,
        "gen_sec": gen_sec,
        "levels": results,
        "scaling_efficiency": pairs,
        "state_identical": len({r["state_hash"] for r in results}) == 1
        and len({r["final_rows"] for r in results}) == 1,
    }
    print(json.dumps(report))
    if not reuse:
        import shutil

        shutil.rmtree(os.path.dirname(events_dir), ignore_errors=True)


if __name__ == "__main__":
    main()
