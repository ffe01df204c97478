"""Seeded staged inputs for the CDC-apply benchmark, cached per (workload, seed).

The generator is the benchmark's load generator, not part of the system
under test: it runs in the benchmark process with numpy/pyarrow only and
writes the staged files the engine then reads.  It reproduces the binlog
rules of the engine's ``sources.gen.synth_events`` (Zipf-skewed url
families, first event of a family INSERTs, DELETE never repeats and is
always followed by a re-INSERT, a slice of UPDATEs moves the primary key
to ``<url>?v=<seq>``) without running Spark, because generating with
Spark costs about as much as applying: 400k events took 17.7 s on 4
cores, most of a run's budget.

The DuckDB oracle replays the staged parquet directly; Avro-staged inputs
also land as plain parquet (``events/``), so the oracle never depends on
the engine's readers.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import time
from dataclasses import asdict, dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Bump when the generated bytes change for a given spec, so stale cache
# entries are never reused.
GEN_VERSION = 1
LANGS = ["en", "de", "fr", "es", "zh", "ja", "pt", "ru"]
BASE_TS_US = 1_700_000_000 * 1_000_000
CACHE_MAX_BYTES = 3 * 1024**3


# binlog shape shared by every workload
DELETE_FRAC = 0.05
MOVE_FRAC = 0.02
EVENTS_PER_KEY = 20


@dataclass(frozen=True)
class Spec:
    """Shape of one workload's inputs (all sizes in events)."""

    zipf: float
    batch_events: int  # events per timed batch (per item for multi-table)
    warm_events: int  # events in the first warm-up batch
    warm_batches: int = 1  # warm-up batches applied before the timed phase
    timed_batches: int = 0  # closed loops: batches generated for the timed phase
    preload_rows: int = 0  # rows loaded before the stream (open loop)
    tables: int = 1
    alter_every: int = 0  # multi-table: an inline ALTER every N items
    rate: float = 0.0  # open loop: events per second
    slice_s: float = 0.5  # open loop: staging interval of the arrival files
    stream_s: float = 0.0  # open loop: seconds of arrivals to stage


def _body_pool(rng: np.random.Generator, n: int = 64) -> list[str]:
    """Word bodies of about 0.8-1.3 KB; each event's html picks one, so
    extraction does KB-scale regex work per row."""
    out = []
    for _ in range(n):
        words = rng.integers(0, 99991, size=int(rng.integers(120, 200)))
        out.append(" ".join(f"w{w}" for w in words))
    return out


def _last_before(values: np.ndarray, new_grp: np.ndarray) -> np.ndarray:
    """For rows sorted by group, the latest non-negative ``values`` entry
    strictly before each row within its group (-1 if none)."""
    n = len(values)
    pos = np.arange(n)
    last = np.maximum.accumulate(np.where(values >= 0, pos, -1))
    grp_start = np.maximum.accumulate(np.where(new_grp, pos, 0))
    last = np.where(last >= grp_start, last, -1)
    prev = np.full(n, -1)
    prev[1:] = last[:-1]
    prev[new_grp] = -1
    return np.where(prev >= 0, values[np.maximum(prev, 0)], -1)


def binlog(
    rng: np.random.Generator,
    n: int,
    n_urls: int,
    *,
    zipf: float,
    start_seq: int,
    preloaded: bool = False,
    url_prefix: str = "",
) -> dict:
    """A valid ordered binlog of ``n`` events over ``n_urls`` url
    families.  ``preloaded=True``: every family already has a live row
    (its base url), so a family's first event UPDATEs it instead of
    INSERTing."""
    seq = np.arange(start_seq, start_seq + n, dtype=np.int64)
    fam = np.floor(n_urls * rng.random(n) ** zipf).astype(np.int64)
    u_del = rng.random(n)
    u_mv = rng.random(n)
    order = np.lexsort((seq, fam))
    f_s, q_s, d_s, m_s = fam[order], seq[order], u_del[order], u_mv[order]
    new_grp = np.ones(n, dtype=bool)
    new_grp[1:] = f_s[1:] != f_s[:-1]
    prev_d = np.empty(n)
    prev_d[0] = 1.0
    prev_d[1:] = d_s[:-1]
    prev_d[new_grp] = 1.0
    is_del = (~new_grp) & (d_s < DELETE_FRAC) & (prev_d >= DELETE_FRAC)
    prev_del = np.zeros(n, dtype=bool)
    prev_del[1:] = is_del[:-1]
    prev_del[new_grp] = False
    # 0 INSERT, 1 UPDATE, 2 DELETE
    op = np.where(prev_del, 0, np.where(is_del, 2, 1))
    op = np.where(new_grp, 1 if preloaded else 0, op)
    is_move = (op == 1) & (m_s < MOVE_FRAC)
    cur_move = _last_before(np.where(is_move, q_s, -1), new_grp)
    # back to sequence order
    inv = np.empty(n, dtype=np.int64)
    inv[order] = np.arange(n)
    op, is_move, cur_move = op[inv], is_move[inv], cur_move[inv]

    base = [f"{url_prefix}https://site-{f % 997}.example.com/page/{f}" for f in fam.tolist()]
    cur = [b if m < 0 else f"{b}?v={m}" for b, m in zip(base, cur_move.tolist())]
    url = [
        f"{b}?v={s}" if mv else c
        for b, c, s, mv in zip(base, cur, seq.tolist(), is_move.tolist())
    ]
    before = [None if o == 0 else c for o, c in zip(op.tolist(), cur)]
    return {"seq": seq, "op": op, "url": url, "before_url": before}


def _html(urls: list[str], seqs: np.ndarray, pool_idx: np.ndarray, pool: list[str]) -> list[bytes]:
    return [
        (
            f"<html><head><title>Page {s} {u}</title><script>var x = 'junk{s}';"
            f"</script></head>\n<body><h1>Entry</h1>\n<p>{pool[i]}</p>\n</body></html>"
        ).encode()
        for u, s, i in zip(urls, seqs.tolist(), pool_idx.tolist())
    ]


_OPS = np.array(["INSERT", "UPDATE", "DELETE"], dtype=object)


def events_table(rng, log: dict, pool: list[str], extra_cols: dict | None = None) -> pa.Table:
    """Staged-event rows in the engine's staging shape (``_op``,
    ``_sequence_num``, the pages columns, one ``_before_<col>`` per
    column; DELETEs carry the row image in ``_before_html``)."""
    n = len(log["seq"])
    seq = log["seq"]
    html = _html(log["url"], seq, rng.integers(0, len(pool), size=n), pool)
    is_del = log["op"] == 2
    ts = pa.array(BASE_TS_US + seq * 1_000_000, pa.int64()).cast(pa.timestamp("us", tz="UTC"))
    cols = {
        "_op": pa.array(_OPS[log["op"]].tolist(), pa.string()),
        "_sequence_num": pa.array(seq, pa.int64()),
        "url": pa.array(log["url"], pa.string()),
        "warc_ts": ts,
        "html": pa.array(html, pa.binary()),
        "text": pa.nulls(n, pa.string()),
        "lang": pa.array([LANGS[h] for h in (seq * 2654435761 % len(LANGS)).tolist()], pa.string()),
        "_before_url": pa.array(log["before_url"], pa.string()),
        "_before_warc_ts": pa.nulls(n, pa.timestamp("us", tz="UTC")),
        "_before_html": pa.array([h if d else None for h, d in zip(html, is_del.tolist())], pa.binary()),
        "_before_text": pa.nulls(n, pa.string()),
        "_before_lang": pa.nulls(n, pa.string()),
    }
    for k, v in (extra_cols or {}).items():
        cols[k] = v
    return pa.table(cols)


def preload_table(n: int, pool: list[str], rng) -> pa.Table:
    """INSERT events for base urls 0..n-1 at sequence numbers 1..n."""
    log = {
        "seq": np.arange(1, n + 1, dtype=np.int64),
        "op": np.zeros(n, dtype=np.int64),
        "url": [f"https://site-{f % 997}.example.com/page/{f}" for f in range(n)],
        "before_url": [None] * n,
    }
    return events_table(rng, log, pool)


# ------------------------------------------------------------------ writers


def _write_parquet_batch(root: str, batch_id: int, tbl: pa.Table) -> None:
    d = os.path.join(root, f"_batch_id={batch_id}")
    os.makedirs(d, exist_ok=True)
    pq.write_table(tbl, os.path.join(d, "part-00000.parquet"))


def _write_avro_batch(root: str, batch_id: int, tbl: pa.Table) -> str:
    """One Avro container per arrival slice, encoded with the engine's
    spec-direct codec (the wire format the reference stages by default).
    Returns the staged Spark schema as JSON."""
    from bigquery_delta_plugins_spark.sources.avro_staging import encode_container

    tbl = tbl.append_column("_batch_id", pa.array([batch_id] * tbl.num_rows, pa.int64()))
    tbl = tbl.select(staged_field_names(tbl.column_names))
    schema = spark_schema(tbl.schema)
    cols = []
    for name in tbl.column_names:
        col = tbl.column(name)
        if pa.types.is_timestamp(col.type):
            col = col.cast(pa.int64())
        cols.append(col.to_pylist())
    d = os.path.join(root, f"_batch_id={batch_id}")
    os.makedirs(d, exist_ok=True)
    with open(os.path.join(d, "part-00000.avro"), "wb") as f:
        f.write(encode_container(list(zip(*cols)), schema))
    return schema.json()


def staged_field_names(names: list[str]) -> list[str]:
    """Staging column order: ``_op, _batch_id, _sequence_num``, data
    columns, then the rest (the reference writer's order)."""
    head = [c for c in ("_op", "_batch_id", "_sequence_num") if c in names]
    return head + [c for c in names if c not in head]


def spark_schema(schema: pa.Schema):
    from pyspark.sql import types as T

    def conv(t):
        if pa.types.is_string(t):
            return T.StringType()
        if pa.types.is_binary(t):
            return T.BinaryType()
        if pa.types.is_int64(t):
            return T.LongType()
        if pa.types.is_timestamp(t):
            return T.TimestampType()
        raise TypeError(t)

    return T.StructType([T.StructField(f.name, conv(f.type), True) for f in schema])


# --------------------------------------------------------------- workloads


def _gen_hotkey(spec: Spec, seed: int, out: str) -> dict:
    rng = np.random.default_rng([seed, 1])
    pool = _body_pool(rng)
    sizes = [spec.warm_events] + [spec.batch_events] * (spec.warm_batches - 1 + spec.timed_batches)
    n = sum(sizes)
    log = binlog(rng, n, max(1000, n // EVENTS_PER_KEY), zipf=spec.zipf, start_seq=1)
    tbl = events_table(rng, log, pool)
    lo = 0
    for b, size in enumerate(sizes):
        _write_parquet_batch(os.path.join(out, "staged"), b, tbl.slice(lo, size))
        lo += size
    return {"batches": len(sizes), "batch_events": sizes}


def _gen_freshness(spec: Spec, seed: int, out: str) -> dict:
    rng = np.random.default_rng([seed, 2])
    pool = _body_pool(rng)
    pre = preload_table(spec.preload_rows, pool, rng)
    pq.write_table(pre, os.path.join(out, "preload.parquet"))
    per_slice = int(round(spec.rate * spec.slice_s))
    n_slices = int(spec.stream_s / spec.slice_s)
    n_warm = spec.warm_events * spec.warm_batches
    n = n_warm + per_slice * n_slices
    log = binlog(rng, n, spec.preload_rows, zipf=spec.zipf,
                 start_seq=spec.preload_rows + 1, preloaded=True)
    tbl = events_table(rng, log, pool)
    pq.write_table(
        pa.concat_tables([pre, tbl]), os.path.join(out, "events", "part-00000.parquet")
    )
    for k in range(spec.warm_batches):
        schema = _write_avro_batch(
            os.path.join(out, "warm"), k, tbl.slice(k * spec.warm_events, spec.warm_events))
    for k in range(n_slices):
        _write_avro_batch(
            os.path.join(out, "staged"), k, tbl.slice(n_warm + k * per_slice, per_slice))
    return {"slices": n_slices, "slice_events": per_slice, "preload_rows": spec.preload_rows,
            "first_stream_seq": spec.preload_rows + n_warm + 1,
            "staged_schema": schema}


def _gen_multi(spec: Spec, seed: int, out: str) -> dict:
    """Interleaved stream over ``spec.tables`` tables: global event i goes
    to table ``i % tables``; sequence numbers are global, so DDL sequence
    points cut every table's sub-stream consistently."""
    rng = np.random.default_rng([seed, 3])
    pool = _body_pool(rng)
    nt = spec.tables
    items = 1 + spec.timed_batches
    sizes = [spec.warm_events] + [spec.batch_events] * spec.timed_batches
    n = sum(sizes)
    per_table = [len(range(t, n, nt)) for t in range(nt)]
    parts = []
    for t in range(nt):
        log = binlog(rng, per_table[t], max(500, per_table[t] // EVENTS_PER_KEY),
                     zipf=spec.zipf, start_seq=0, url_prefix=f"t{t}/")
        # global sequence: table t's k-th event is global event k*nt+t
        log["seq"] = log["seq"] * nt + t + 1
        parts.append((t, log))
    # inline ALTERs: item k (k>=1, k % alter_every == 0) adds the next
    # column to table (k // alter_every - 1) % nt at the item's midpoint
    item_start = np.cumsum([0] + sizes)  # global event index bounds (seq-1)
    alters = []
    n_cols = [0] * nt
    if spec.alter_every:
        for k in range(1, items):
            if k % spec.alter_every == 0:
                t = (k // spec.alter_every - 1) % nt
                n_cols[t] += 1
                mid = int(item_start[k] + sizes[k] // 2) + 1
                alters.append({"item": k, "table": t, "column": f"c{n_cols[t]}", "seq": mid})
    k_max = max(n_cols) if alters else 0
    tables = []
    for t, log in parts:
        seq = log["seq"]
        extra = {}
        for j in range(1, k_max + 1):
            at = [a["seq"] for a in alters if a["table"] == t and a["column"] == f"c{j}"]
            vals = (
                [f"{j}:{s}" if s >= at[0] else None for s in seq.tolist()]
                if at else [None] * len(seq)
            )
            extra[f"c{j}"] = pa.array(vals, pa.string())
        extra["_database"] = pa.array(["shop"] * len(seq), pa.string())
        extra["_table"] = pa.array([f"pages_{t}"] * len(seq), pa.string())
        tables.append(events_table(rng, log, pool, extra))
    tbl = pa.concat_tables(tables)
    tbl = tbl.take(pa.array(np.argsort(tbl.column("_sequence_num").to_numpy(), kind="stable")))
    for b in range(items):
        _write_parquet_batch(
            os.path.join(out, "staged"), b,
            tbl.slice(int(item_start[b]), sizes[b]),
        )
    return {"batches": items, "batch_events": sizes, "alters": alters,
            "columns": k_max, "tables": [f"pages_{t}" for t in range(nt)]}


GENERATORS = {"hotkey_bulk": _gen_hotkey, "freshness_open": _gen_freshness,
              "multi_table_feed": _gen_multi}


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, names in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, n)) for n in names)
    return total


def _evict(cache_root: str, keep: str) -> None:
    """Drop the least recently used entries beyond the cache byte cap."""
    entries = []
    for name in os.listdir(cache_root):
        p = os.path.join(cache_root, name)
        if p != keep and os.path.exists(os.path.join(p, "meta.json")):
            entries.append((os.path.getmtime(os.path.join(p, "meta.json")), p))
        elif p != keep and not name.startswith("."):
            shutil.rmtree(p, ignore_errors=True)  # half-written entry
    total = _dir_bytes(cache_root)
    for _mtime, p in sorted(entries):
        if total <= CACHE_MAX_BYTES:
            break
        total -= _dir_bytes(p)
        shutil.rmtree(p, ignore_errors=True)


def ensure_inputs(cache_root: str, workload: str, spec: Spec, seed: int) -> tuple[str, dict, float, bool]:
    """Return ``(dir, meta, gen_seconds, cache_hit)`` for the inputs of
    ``(workload, seed, spec)``, generating them on a miss.  An entry is
    published by an atomic rename, so a crashed run leaves no partial
    entry behind under the final name."""
    key = hashlib.sha1(
        json.dumps([GEN_VERSION, workload, seed, asdict(spec)], sort_keys=True).encode()
    ).hexdigest()[:12]
    path = os.path.join(cache_root, f"{workload}-s{seed}-{key}")
    meta_path = os.path.join(path, "meta.json")
    if os.path.exists(meta_path):
        os.utime(meta_path)
        with open(meta_path) as f:
            return path, json.load(f), 0.0, True
    t0 = time.monotonic()
    tmp = os.path.join(cache_root, f".tmp-{os.getpid()}-{key}")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(os.path.join(tmp, "events"))
    os.makedirs(os.path.join(tmp, "staged"))
    meta = GENERATORS[workload](spec, seed, tmp)
    meta["staged_bytes"] = _dir_bytes(os.path.join(tmp, "staged"))
    with open(os.path.join(tmp, "meta.json"), "w") as f:
        json.dump(meta, f)
    os.replace(tmp, path)
    _evict(cache_root, path)
    return path, meta, time.monotonic() - t0, False
