#!/usr/bin/env python3
"""CDC-apply benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload hotkey_bulk --seed 1 --seconds 12 --trace 0

Run from the repository root.  Generates (or reuses) the seeded staged
inputs, starts a Spark session on ``local[<cores>]``, sets the workload up
three times on fresh warehouses, applies batches for ``--seconds``,
checks every final table against a DuckDB replay of the applied events,
and prints each metric by name with its unit.  The last stdout line is
one JSON object: ``{"correct", "attempted", "failed", "metrics"}`` with
the end-to-end metrics (``--trace 0``) or the per-layer metrics
(``--trace 1``).  See perfbench/README.md for the definitions.
"""

from __future__ import annotations

import time

T_PROC = time.monotonic()

import argparse  # noqa: E402
import json  # noqa: E402
import subprocess  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
REPS = 3  # table set-ups per run; setup_s takes their median
DRIVER_MEMORY = "3g"


def _cores() -> int:
    return len(os.sched_getaffinity(0))


def _session(tmp: str, trace: bool):
    from bigquery_delta_plugins_spark.session import get_spark

    conf = {
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.local.dir": os.path.join(tmp, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(tmp, "spark-warehouse"),
        "spark.ui.showConsoleProgress": "false",
        # a fixed-size heap (no pre-touch): GC sizing does not drift run to run
        "spark.driver.extraJavaOptions": f"-Xms{DRIVER_MEMORY} -Djava.io.tmpdir={tmp}",
    }
    if trace:
        os.makedirs(os.path.join(tmp, "eventlog"))
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": os.path.join(tmp, "eventlog"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = get_spark("cdc-apply-bench", master=f"local[{_cores()}]", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop_session(spark) -> None:
    """Stop Spark and the JVM it launched, and wait for the JVM to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def _descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def peak_rss_mb() -> float:
    """Sum of the peak resident sets (VmHWM) of the JVM and the Python
    workers, i.e. every process this one started; the driver process
    itself is left out because it also holds the load generator."""
    total_kb = 0
    for pid in _descendants(os.getpid()):
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024


def tail(values: list[float]) -> tuple[float, int]:
    """The highest whole percentile with at least ten samples beyond it;
    the maximum (p100) when there are fewer than eleven samples."""
    import numpy as np

    n = len(values)
    if n < 11:
        return max(values), 100
    p = int(100 * (n - 10) / n)
    return float(np.percentile(values, p)), p


def end_to_end(batches, setup_s: float, table_bytes: int, rows: int, rss: float) -> dict:
    import numpy as np

    walls = [b.wall for b in batches]
    lags = np.concatenate([
        (b.t1 - b.arrivals) if b.arrivals is not None else np.full(b.events, b.wall)
        for b in batches
    ])
    tail_v, tail_p = tail(walls)
    return {
        "setup_s": (setup_s, "s"),
        "apply_events_per_s": (sum(b.events for b in batches) / sum(walls), "events/s"),
        "batch_latency_p50_s": (statistics.median(walls), "s"),
        "batch_latency_tail_s": (tail_v, "s", f"p{tail_p} of {len(walls)} batches"),
        "lag_p50_s": (float(np.percentile(lags, 50)), "s"),
        "lag_p99_s": (float(np.percentile(lags, 99)), "s", f"over {len(lags)} events"),
        "table_bytes_per_row": (table_bytes / rows if rows else float(table_bytes), "B/row"),
        "peak_rss_mb": (rss, "MB"),
    }


def lake_stats(wl, n_batches: int) -> dict:
    """Layout of the live snapshots and the data bytes the timed batches
    wrote, read from the manifests right after the timed phase."""
    snaps = [t.current_snapshot() for _tb, t in wl.lake_tables()]
    per_bucket = []
    for s in snaps:
        counts: dict[int, int] = {}
        for f in s["files"]:
            counts[f["bucket"]] = counts.get(f["bucket"], 0) + 1
        per_bucket.append(max(counts.values(), default=0))
    manifest_bytes = written = 0
    for (_tb, t), start, snap in zip(wl.lake_tables(), wl.timed_from, snaps):
        name = f"snap-{snap['snapshot_id']:08d}.json"
        manifest_bytes += os.path.getsize(os.path.join(t.path, "_manifests", name))
        prev = {f["path"] for f in t.snapshot(start)["files"]}
        for k in range(start + 1, snap["snapshot_id"] + 1):
            files = t.snapshot(k)["files"]
            written += sum(os.path.getsize(os.path.join(t.path, f["path"]))
                           for f in files if f["path"] not in prev)
            prev = {f["path"] for f in files}
    return {
        "lake.bytes_written_per_batch": (written / n_batches, "B"),
        "lake.files_live": (sum(len(s["files"]) for s in snaps), "count"),
        "lake.max_files_per_bucket": (max(per_bucket), "count"),
        "lake.manifest_bytes": (manifest_bytes, "B"),
    }


def per_layer(batches, tr, elog, replay: dict, lake: dict, gc_s: float, compact_s: float,
              meta: dict) -> dict:
    ids = {b.batch_id for b in batches}
    n = len(batches)
    windows = [elog.window(b.e0, b.e1) for b in batches]
    recs = [m for b in batches for m in b.records if not m.get("skipped")]

    def mean(xs):
        xs = list(xs)
        return sum(xs) / len(xs) if xs else 0.0

    apply_walls = [sum(m["wall_sec"] for m in b.records) for b in batches]
    merge_write = [sum((m.get("phases") or {}).get("merge_write", 0) for m in b.records)
                   for b in batches]
    consumer_spans = {}
    for s in tr.timed_spans(ids):
        if s[2] == "streaming.consumer":
            consumer_spans.setdefault(s[6], []).append((s[4], s[5]))
    from tracing import _union

    loop_overhead = [b.wall - _union(consumer_spans.get(b.batch_id, [])) for b in batches]
    m = {
        "sources.scan_s": (replay["sources.scan_s"], "s"),
        "sources.staged_bytes_per_event": (meta["staged_bytes"] / meta["staged_events"], "B/event"),
        "flatten.events_in": (replay["flatten.events_in"], "count"),
        "flatten.survivors_out": (replay["flatten.survivors_out"], "count"),
        "flatten.survivor_ratio": (replay["flatten.survivor_ratio"], "fraction"),
        "flatten.forced_s": (replay["flatten.forced_s"], "s"),
        "flatten.shuffle_write_bytes": (elog.group_shuffle_write("replay-flatten"), "B"),
        "extract.rows_in": (replay["extract.rows_in"], "count"),
        "extract.forced_s": (replay["extract.forced_s"], "s"),
        "merge.target_rows_read": (replay["merge.target_rows_read"], "count"),
        "merge.rows_out": (replay["merge.rows_out"], "count"),
        "merge.broadcast_frac": (mean(r.get("merge_strategy") == "broadcast" for r in recs),
                                 "fraction"),
        "merge.forced_s": (replay["merge.forced_s"], "s"),
        **lake,
        "lake.write_amplification": (replay["lake.write_amplification"], "ratio"),
        "lake.manifest_reads_per_batch": (tr.calls("current_snapshot", ids) / n, "count"),
        "lake.commit_s": (tr.durations("_write_snapshot", ids) / n, "s"),
        "lake.changes_for_batch_s": (replay["lake.changes_for_batch_s"], "s"),
        "lake.compactions": (sum(b.compactions for b in batches), "count"),
        "lake.compact_s": (compact_s, "s"),
        "consumer.apply_batch_s": (mean(apply_walls), "s"),
        "consumer.phase.pre_write_s": (mean(a - w for a, w in zip(apply_walls, merge_write)), "s"),
        "consumer.phase.merge_write_s": (mean(merge_write), "s"),
        "consumer.spark_jobs_per_batch": (mean(w["jobs"] for w in windows), "count"),
        "consumer.task_core_s_per_batch": (mean(w["task_core_s"] for w in windows), "s"),
        "consumer.driver_gap_s_per_batch": (mean(w["driver_gap_s"] for w in windows), "s"),
        "consumer.shuffle_write_bytes_per_batch": (
            mean(w["shuffle_write_bytes"] for w in windows), "B"),
        "consumer.spill_bytes_per_batch": (mean(w["spill_bytes"] for w in windows), "B"),
        "consumer.fanout_overlap": (mean(a / b.wall for a, b in zip(apply_walls, batches)),
                                    "ratio"),
        "driver.overhead_s_per_batch": (mean(loop_overhead), "s"),
        "driver.batch_events": (mean(b.events for b in batches), "count"),
        "driver.backlog_events": (statistics.median(b.backlog for b in batches), "count"),
        "jvm.gc_s_per_batch": (gc_s / n, "s"),
    }
    return m


def _print_metrics(metrics: dict) -> None:
    for name, v in metrics.items():
        note = f"  ({v[2]})" if len(v) > 2 else ""
        print(f"  {name:40s} {v[0]:>16.6g} {v[1]}{note}")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--drop-one-row", action="store_true",
                    help="self-test: delete one row of the final state before the "
                         "correctness check, which must then report the run as failed")
    args = ap.parse_args()

    sys.path[:0] = [ROOT, HERE]
    try:
        import bigquery_delta_plugins_spark  # noqa: F401
    except ImportError as e:
        print(f"engine package not found under {ROOT}: {e}", file=sys.stderr)
        return 2
    import inputs
    import oracle
    import tracing
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"unknown workload {args.workload!r}; pick from {sorted(workloads.WORKLOADS)}",
              file=sys.stderr)
        return 2
    # Python workers import the engine too
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    cache = os.path.join(HERE, ".cache")
    os.makedirs(os.path.join(cache, "inputs"), exist_ok=True)
    os.makedirs(os.path.join(cache, "results"), exist_ok=True)
    tmp = os.path.join(HERE, ".tmp", f"run-{os.getpid()}")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    # keep every scratch file in the run dir (SPARK_LOCAL_DIRS would
    # override spark.local.dir)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "spark-local")
    os.environ["TMPDIR"] = tmp

    kind = workloads.WORKLOADS[args.workload]
    spec = kind.spec(args.seconds)
    spark = None
    try:
        in_dir, meta, gen_s, hit = inputs.ensure_inputs(
            os.path.join(cache, "inputs"), args.workload, spec, args.seed)
        meta["staged_events"] = (
            meta["slices"] * meta["slice_events"] if "slices" in meta
            else sum(meta["batch_events"])
        )
        print(f"# {args.workload} seed={args.seed} seconds={args.seconds:g} "
              f"trace={args.trace} cores={_cores()}")
        print(f"# load generator: {gen_s:.3f} s ({'cache hit' if hit else 'generated'}; "
              f"excluded from setup_s)")
        spark = _session(tmp, bool(args.trace))
        session_s = time.monotonic() - T_PROC - gen_s
        tr = tracing.Tracer(bool(args.trace))
        tr.install()
        rep_s = []
        for r in range(REPS):
            if r:
                shutil.rmtree(os.path.join(tmp, f"rep{r - 1}"), ignore_errors=True)
            wl = kind(spark, in_dir, meta, spec, tr)
            t0 = time.monotonic()
            wl.set_up(os.path.join(tmp, f"rep{r}"))
            rep_s.append(time.monotonic() - t0)
        t0 = time.monotonic()
        wl.warm_up()
        warm_s = time.monotonic() - t0
        setup_s = session_s + statistics.median(rep_s) + warm_s
        print(f"# set-up: session {session_s:.3f} s + median of {REPS} table set-ups "
              f"{[round(x, 3) for x in rep_s]} + {spec.warm_batches} warm-up batches "
              f"{warm_s:.3f} s")
        wl.timed_from = [t.current_snapshot()["snapshot_id"] for _tb, t in wl.lake_tables()]
        gc0 = tracing.jvm_gc_seconds(spark) if args.trace else 0.0
        batches = wl.run(args.seconds)
        gc_s = tracing.jvm_gc_seconds(spark) - gc0 if args.trace else 0.0
        rss = peak_rss_mb()
        failed = sum(1 for b in batches if b.error)
        print(f"# timed batches: {len(batches)}, walls "
              f"{[round(b.wall, 3) for b in batches]} s, events {[b.events for b in batches]}")
        if not batches:
            raise RuntimeError("no batch was applied in the timed phase")
        for line in wl.report(batches):
            print(f"# {line}")
        replay, lake, compact_s = {}, {}, 0.0
        if args.trace:
            lake = lake_stats(wl, len(batches))
            ok = [b for b in batches if not b.error]
            replay = tracing.forced_replays(spark, wl, ok[-1], wl.tables[0])
        if args.drop_one_row:
            _drop_one_row(wl)
        applied = [b for b in batches if not b.error]
        tables = [wl.oracle_table(tb, t, applied) for tb, t in wl.lake_tables()]
        table_bytes = sum(os.path.getsize(f) for t in tables for f in t["files"])
        check = oracle.check(tables, wl.events_files(), tmp)
        if args.trace:
            compact_s = tracing.forced_compaction(wl)
        _stop_session(spark)
        spark = None

        attempted = len(batches)
        correct = check["ok"] and failed == 0
        if not check["ok"]:
            failed = attempted
        rows = sum(r["actual_rows"] for r in check["tables"].values())
        print(f"# correctness: {'ok' if check['ok'] else 'MISMATCH'} "
              f"{json.dumps(check['tables'])}")
        print(f"# error_rate: {failed / attempted:g} ({failed} of {attempted} batches failed)")
        e2e = end_to_end(applied or batches, setup_s,
                         table_bytes, rows, rss)
        result_path = os.path.join(
            cache, "results", f"{args.workload}-s{args.seed}-t{args.seconds:g}.json")
        if args.trace:
            elog = tracing.EventLog(os.path.join(tmp, "eventlog"))
            metrics = per_layer(batches, tr, elog, replay, lake, gc_s, compact_s, meta)
            print("# end-to-end with tracing on:")
            _print_metrics(e2e)
            if os.path.exists(result_path):
                with open(result_path) as f:
                    base = json.load(f)
                print("# tracing overhead (traced minus untraced run of this seed):")
                for k, v in e2e.items():
                    if k in base:
                        print(f"  {k:40s} {v[0] - base[k]:>+16.6g} {v[1]}")
            else:
                print("# tracing overhead: no untraced run of this workload and seed yet; "
                      "run with --trace 0 first")
            print("# self time per layer, per batch (span time minus child spans):")
            for layer, v in tr.self_times({b.batch_id for b in batches}).items():
                print(f"  {layer:40s} {v / len(batches):>16.6g} s")
            print("# per-layer metrics:")
        else:
            metrics = e2e
            if not args.drop_one_row:
                with open(result_path, "w") as f:
                    json.dump({k: v[0] for k, v in e2e.items()}, f)
            print("# end-to-end metrics:")
        _print_metrics(metrics)
        print(json.dumps({
            "correct": correct,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": v[0], "unit": v[1]} for k, v in metrics.items()},
        }))
        return 0
    except Exception:  # noqa: BLE001 — report and exit non-zero without a result
        traceback.print_exc()
        return 1
    finally:
        if spark is not None:
            try:
                _stop_session(spark)
            except Exception:  # noqa: BLE001
                traceback.print_exc()
        shutil.rmtree(tmp, ignore_errors=True)


def _drop_one_row(wl) -> None:
    """Commit a snapshot of the first table without one of its rows."""
    from pyspark.sql import functions as F

    _tb, t = wl.lake_tables()[0]
    snap = t.current_snapshot()
    bucket = snap["files"][0]["bucket"]
    rows = t.read(buckets={bucket})
    victim = rows.select("url").first()["url"]
    t.overwrite_buckets(
        rows.filter(F.col("url") != victim), {bucket},
        snap["summary"]["latest_batch_id"] + 1, snap["summary"]["latest_merged_seq"],
    )
    print(f"# self-test: dropped row {victim!r} from {t.path}")


if __name__ == "__main__":
    sys.exit(main())
