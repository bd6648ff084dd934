"""Reference checks, computed by DuckDB straight from the generated files
and the program's outputs on disk. Each returns a list of failure
messages (empty when the output is right). They run outside every timed
region."""

from __future__ import annotations

import glob
import json
import os

import duckdb

#: aggregate of decoded rows that ``cdc_dump_attach_decode`` is graded on
AGG_SQL = """
SELECT db, tbl, action,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS value_cents,
       CAST(sum(CAST(('0x' || substr(md5(pk), 1, 8)) AS BIGINT)) AS BIGINT) AS pk_hash_sum
FROM cdc GROUP BY db, tbl, action
"""

#: replica end state: latest TSO per key, a final DELETE drops the key
LAST_IMAGE_SQL = """
SELECT db, tbl, pk, tso AS last_tso, value FROM (
  SELECT db, tbl, pk, tso, action, value,
         row_number() OVER (PARTITION BY db, tbl, pk ORDER BY tso DESC) AS rn
  FROM cdc)
WHERE rn = 1 AND action <> 'DELETE'
"""


def _db(event_files: list[str]):
    from polardbx_cdc_spark.model import oracle_cdc_query

    con = duckdb.connect()
    con.execute("SET threads = 2")
    con.read_parquet(sorted(event_files)).create_view("events")
    return con, oracle_cdc_query


def oracle_agg(event_files: list[str]) -> dict[tuple, tuple]:
    con, cdc = _db(event_files)
    try:
        return {tuple(r[:3]): tuple(r[3:]) for r in con.execute(cdc(AGG_SQL)).fetchall()}
    finally:
        con.close()


def binlog_tail(sink_dir: str, wire_dir: str, stream_dir: str,
                committed: int) -> list[str]:
    """Dense offsets 0..n-1, TSO non-decreasing in offset order, sink rows
    = committed events = the generated events (row for row), and the wire
    manifest's event total = sink rows."""
    con, cdc = _db(glob.glob(os.path.join(stream_dir, "*.parquet")))
    try:
        con.read_parquet(os.path.join(sink_dir, "**", "*.parquet"),
                         hive_partitioning=True).create_view("sink")
        n, lo, hi, distinct = con.execute(
            "SELECT count(*), min(\"offset\"), max(\"offset\"), "
            "count(DISTINCT \"offset\") FROM sink").fetchone()
        back = con.execute(
            "SELECT count(*) FROM (SELECT tso < lag(tso) OVER "
            "(ORDER BY \"offset\") AS back FROM sink) WHERE back").fetchone()[0]
        cols = "tso, action, db, tbl, pk, value"
        ref = cdc(f"SELECT {cols} FROM cdc")
        diff = con.execute(
            f"SELECT count(*) FROM (((SELECT {cols} FROM sink) EXCEPT ALL "
            f"({ref})) UNION ALL (({ref}) EXCEPT ALL "
            f"(SELECT {cols} FROM sink)))").fetchone()[0]
    finally:
        con.close()
    with open(os.path.join(wire_dir, "_manifest.json")) as fh:
        wire_events = sum(json.load(fh).values())
    out = []
    if (lo, hi, distinct) != (0, n - 1, n):
        out.append(f"offsets not dense: min {lo} max {hi} distinct {distinct} rows {n}")
    if back:
        out.append(f"{back} rows with a TSO below their predecessor's")
    if n != committed:
        out.append(f"sink rows {n} != committed events {committed}")
    if diff:
        out.append(f"{diff} rows differ between the sink and the generated events")
    if wire_events != n:
        out.append(f"wire manifest events {wire_events} != sink rows {n}")
    return out


def catchup(decoded: list, expected: dict[tuple, tuple]) -> list[str]:
    got = {(r["db"], r["tbl"], r["action"]):
           (r["n"], r["value_cents"], r["pk_hash_sum"]) for r in decoded}
    if got == expected:
        return []
    bad = sorted(k for k in set(got) | set(expected) if got.get(k) != expected.get(k))
    return [f"decoded aggregate differs from the reference at {bad[:3]}"]


def replica_state(state, event_files: list[str]) -> list[str]:
    """The replica's current state (a pandas frame of
    ``ReplicaTableSink.current()``) equals the last image over every
    generated event, pre-load included."""
    con, cdc = _db(event_files)
    try:
        con.register("state_df", state)
        con.execute("CREATE VIEW state AS SELECT db, tbl, pk, last_tso, value "
                    "FROM state_df")
        ref = cdc(LAST_IMAGE_SQL)
        n_state, n_ref = con.execute(
            f"SELECT (SELECT count(*) FROM state), (SELECT count(*) FROM ({ref}))"
        ).fetchone()
        diff = con.execute(
            f"SELECT count(*) FROM (((SELECT * FROM state) EXCEPT ALL ({ref})) "
            f"UNION ALL (({ref}) EXCEPT ALL (SELECT * FROM state)))").fetchone()[0]
    finally:
        con.close()
    if diff:
        return [f"replica state ({n_state} rows) differs from the last-image "
                f"reference ({n_ref} rows) in {diff} rows"]
    return []
