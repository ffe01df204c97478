"""Independent correctness check of a run's final lake tables, in DuckDB.

Expected state: a replay of every applied batch with the reference's
per-batch semantics — its diff query (BigQueryEventConsumer.java:
1154-1223: an event ``A`` of a batch survives unless a later event ``B``
of the same batch has ``B._before_url = A.url``) followed by its MERGE
arms (:1225-1391: a survivor replaces or deletes the target row whose
``url`` equals its ``_before_url``; unmatched non-DELETE survivors are
inserted).  The replay is per batch, not over the whole stream, because
the two differ when a batch holds a PK-move chain whose head row
predates the batch: the diff drops the chain head, so the MERGE leaves
that predecessor row in place (the behaviour tests/test_consumer.py's
scalar oracle pins down).  The replay is compared with the live
snapshot's data files through an order-insensitive hash of
``(url, _sequence_num, html, <added columns>)``.  For a changelog feed,
the net ``insert - delete`` rows per table must equal the table's final
row count.
"""

from __future__ import annotations

import glob
import os

import duckdb


def _fingerprint(con, relation: str, cols: list[str]) -> tuple[int, int]:
    row = con.execute(
        f"SELECT count(*), coalesce(sum(hash({', '.join(cols)})::HUGEINT), 0) "
        f"FROM {relation}"
    ).fetchone()
    return int(row[0]), int(row[1])


def _files_sql(paths: list[str]) -> str:
    return "[" + ", ".join("'" + p.replace("'", "''") + "'" for p in paths) + "]"


def check_table(con, events: list[str], cuts: list[tuple[int, int]], table_files: list[str],
                added: list[str], routing: str | None = None) -> dict:
    """``cuts``: the applied batches as inclusive ``_sequence_num`` ranges,
    in apply order."""
    cols = ["url", "_sequence_num", "html"] + added
    sel = ", ".join(cols)
    con.execute("CREATE OR REPLACE TEMP TABLE cuts (b INTEGER, lo BIGINT, hi BIGINT)")
    con.executemany("INSERT INTO cuts VALUES (?, ?, ?)",
                    [(i, lo, hi) for i, (lo, hi) in enumerate(cuts)])
    route = f"AND e._table = '{routing}'" if routing else ""
    con.execute(
        f"CREATE OR REPLACE TEMP TABLE ev AS SELECT {', '.join('e.' + c for c in cols)}, "
        f"e._op, e._before_url, c.b FROM read_parquet({_files_sql(events)}, "
        f"union_by_name=true, hive_partitioning=false) e JOIN cuts c "
        f"ON e._sequence_num BETWEEN c.lo AND c.hi {route}"
    )
    con.execute(
        "CREATE OR REPLACE TEMP TABLE surv AS SELECT a.* FROM ev a WHERE NOT EXISTS ("
        "SELECT 1 FROM ev x WHERE x.b = a.b AND x._before_url = a.url "
        "AND x._sequence_num > a._sequence_num)"
    )
    con.execute(f"CREATE OR REPLACE TEMP TABLE st AS SELECT {sel} FROM surv WHERE false")
    for b in range(len(cuts)):
        con.execute(
            f"CREATE OR REPLACE TEMP TABLE st AS "
            f"SELECT * FROM st WHERE NOT EXISTS (SELECT 1 FROM surv d "
            f"WHERE d.b = {b} AND d._before_url = st.url) "
            f"UNION ALL SELECT {sel} FROM surv WHERE b = {b} AND _op <> 'DELETE'"
        )
    want = _fingerprint(con, "st", cols)
    if table_files:
        actual = (f"read_parquet({_files_sql(table_files)}, union_by_name=true, "
                  f"hive_partitioning=false)")
        got = _fingerprint(con, actual, cols)
    else:
        got = (0, 0)
    return {"expected_rows": want[0], "actual_rows": got[0], "match": want == got}


def feed_net_rows(con, feed_dir: str) -> int:
    files = glob.glob(os.path.join(feed_dir, "*", "*.parquet"))
    if not files:
        return 0
    return int(con.execute(
        "SELECT coalesce(sum(CASE _change_type WHEN 'insert' THEN 1 "
        "WHEN 'delete' THEN -1 ELSE 0 END), 0) "
        f"FROM read_parquet({_files_sql(files)}, union_by_name=true, hive_partitioning=false)"
    ).fetchone()[0])


def check(tables: list[dict], events: list[str], tmp: str) -> dict:
    """``tables``: one dict per lake table with ``files`` (live data
    files), ``cuts`` (applied batches, see check_table), ``added``
    (columns added by ALTER), optional ``routing`` (``_table`` value in
    the staged events) and optional ``feed`` (its changelog feed
    directory).  ``tmp``: DuckDB's spill directory."""
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    con.execute(f"SET temp_directory = '{tmp}'")
    out = {"ok": True, "tables": {}}
    try:
        for t in tables:
            r = check_table(con, events, t["cuts"], t["files"], t["added"], t.get("routing"))
            if t.get("feed"):
                r["feed_net_rows"] = feed_net_rows(con, t["feed"])
                r["feed_match"] = r["feed_net_rows"] == r["actual_rows"]
                r["match"] = r["match"] and r["feed_match"]
            out["tables"][t["name"]] = r
            out["ok"] = out["ok"] and r["match"]
    finally:
        con.close()
    return out
