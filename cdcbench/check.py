"""Untimed correctness checks, computed in DuckDB.

The CDC check builds the expected final table state straight from the
generated event parquet, with none of the engine's LWW, decode or oracle
code: the last row per (conv_id, turn_idx) by (commit_ts, start_ts, op
order D < U < I), deletes dropped, payload JSON decoded, ``tool`` NULL where
the payload has none (schema v1). It is compared with the table snapshot by
per-chunk row count and hash.

The operators check compares each query's collected output with its
DuckDB oracle SQL (``plans.bench_queries.ORACLES``): row count, column
names and a hash of the canonicalized rows.
"""

from __future__ import annotations

import datetime
import decimal
import hashlib
import math

import duckdb

N_CHUNKS = 16

# Row hash as a 60-bit integer, folded per chunk with bit_xor and sum.
_CHUNKED = f"""
  SELECT turn_idx % {N_CHUNKS} AS chunk, count(*) AS n,
         bit_xor(h) AS hx, sum(h % 1000003) AS hs
  FROM (
    SELECT turn_idx, CAST(('0x' || substr(md5(concat_ws('|',
             conv_id, CAST(turn_idx AS VARCHAR), role, text,
             coalesce(tool, '<null>'), CAST(ts_s AS VARCHAR))), 1, 15)) AS BIGINT) AS h
    FROM ({{src}}))
  GROUP BY 1 ORDER BY 1
"""

_EXPECTED = """
  SELECT conv_id, turn_idx,
         json_extract_string(payload, '$.role') AS role,
         json_extract_string(payload, '$.text') AS text,
         json_extract_string(payload, '$.tool') AS tool,
         CAST(epoch(CAST(json_extract_string(payload, '$.ts') AS TIMESTAMPTZ)) AS BIGINT) AS ts_s
  FROM (
    SELECT *, row_number() OVER (
      PARTITION BY conv_id, turn_idx
      ORDER BY commit_ts DESC, start_ts DESC,
               CASE op WHEN 'D' THEN 1 WHEN 'U' THEN 2 ELSE 3 END DESC) AS rn
    FROM read_parquet('{events}'))
  WHERE rn = 1 AND op <> 'D'
"""

_ACTUAL = """
  SELECT conv_id, turn_idx, role, text, tool,
         CAST(epoch(ts) AS BIGINT) AS ts_s
  FROM read_parquet('{snapshot}/*.parquet')
"""


def expected_chunks(events_glob: str) -> list[tuple]:
    """Per-chunk (chunk, count, xor-hash, sum-hash) of the expected state."""
    with duckdb.connect() as con:
        src = _EXPECTED.format(events=f"{events_glob}/*.parquet")
        return con.execute(_CHUNKED.format(src=src)).fetchall()


def snapshot_chunks(snapshot_dir: str) -> list[tuple]:
    with duckdb.connect() as con:
        src = _ACTUAL.format(snapshot=snapshot_dir)
        return con.execute(_CHUNKED.format(src=src)).fetchall()


def _canon(v):
    if isinstance(v, decimal.Decimal):
        v = float(v)
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else f"{v:.6g}"
    if isinstance(v, datetime.datetime):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(_canon(x) for x in v)
    return v


def _hash_rows(rows, cols) -> str:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    h = hashlib.sha256()
    for row in sorted(tuple(_canon(r[i]) for i in order) for r in rows):
        h.update(repr(row).encode())
    return h.hexdigest()


class QueryOracle:
    """DuckDB views over the operators tables plus the oracle SQL."""

    def __init__(self, sf_dir: str, oracles: dict[str, str]) -> None:
        self.con = duckdb.connect()
        for t in ("events", "documents", "embeddings"):
            self.con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
            )
        self.oracles = oracles

    def matches(self, name: str, rows: list[tuple], cols: list[str]) -> tuple[bool, str]:
        cur = self.con.execute(self.oracles[name])
        ocols = [d[0] for d in cur.description]
        orows = [tuple(r) for r in cur.fetchall()]
        if len(rows) != len(orows):
            return False, f"{name}: {len(rows)} rows, oracle {len(orows)}"
        if sorted(cols) != sorted(ocols):
            return False, f"{name}: columns {sorted(cols)} vs oracle {sorted(ocols)}"
        if _hash_rows(rows, cols) != _hash_rows(orows, ocols):
            return False, f"{name}: row hash differs from oracle"
        return True, ""

    def close(self) -> None:
        self.con.close()
