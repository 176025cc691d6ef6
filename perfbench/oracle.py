"""Independent oracles: DuckDB over the generator's own data.

The session oracle is a gaps-and-islands query over the generator's event
list (the same shape as the repo's ``_SESSION_ORACLE``): a new session
starts when a user's previous event is more than the gap earlier; a session
ends ``gap`` after its last event; sessions with no denies are dropped.
It renders each session in the sink's string format, so program output
and oracle compare as multisets of strings.
"""

from __future__ import annotations

import datetime as dt
import math
import sys
from collections import Counter
from decimal import Decimal

import duckdb
import numpy as np

from gen import GAP_SECONDS, Events

_SESSIONS = f"""
WITH marked AS (
  SELECT uid, ts, CASE WHEN result <> 1 THEN cnt ELSE 0 END AS w,
         CASE WHEN ts - LAG(ts) OVER (PARTITION BY uid ORDER BY ts)
                   <= {GAP_SECONDS * 1000} THEN 0 ELSE 1 END AS new_sess
  FROM ev
), sess AS (
  SELECT *, SUM(new_sess) OVER (PARTITION BY uid ORDER BY ts
                                ROWS UNBOUNDED PRECEDING) AS sid
  FROM marked
)
SELECT printf('user=''u%06d'' denies=%d start=%d end=%d', uid, SUM(w)::BIGINT,
              MIN(ts), MAX(ts) + {GAP_SECONDS * 1000}) AS value,
       MAX(ts) + {GAP_SECONDS * 1000} AS end_ms
FROM sess GROUP BY uid, sid HAVING SUM(w) <> 0
"""


class Sessions:
    """Oracle sessions with denies: ``emitted`` maps each sink string to
    the session's end (epoch ms)."""

    def __init__(self, ev: Events, mask: np.ndarray):
        import pyarrow as pa

        ev_tbl = pa.table({
            "uid": ev.user[mask], "ts": ev.ts_ms[mask],
            "result": ev.result[mask], "cnt": ev.count[mask],
        })
        con = duckdb.connect()
        try:
            con.register("ev", ev_tbl)
            rows = con.execute(_SESSIONS).fetchall()
        finally:
            con.close()
        self.emitted = dict(rows)

    def mismatches(self, output: list[str]) -> int:
        """Sessions missing, wrong or duplicated in ``output``. A wrong
        session is both an oracle session missing and an output string
        unmatched, and counts once."""
        got = Counter(output)
        extra = sum(n - (1 if v in self.emitted else 0) for v, n in got.items())
        missing = [v for v in self.emitted if v not in got]
        if extra or missing:
            wrong = [v for v in got if v not in self.emitted]
            print(f"perfbench: {len(missing)} sessions missing (e.g. {missing[:3]}), "
                  f"{extra} extra (e.g. {wrong[:3]})", file=sys.stderr)
        return max(extra, len(missing))


# ---------------------------------------------------------------------------
# corpus_ops: registered queries vs their registered DuckDB SQL
# ---------------------------------------------------------------------------


def _norm(v):
    if v is None:
        return None
    if isinstance(v, Decimal):
        v = float(v)
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else round(v, 6)
    if isinstance(v, dt.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, dt.date):
        return v.isoformat()
    if isinstance(v, (list, tuple, np.ndarray)):
        return tuple(_norm(x) for x in v)
    if isinstance(v, np.generic):
        return _norm(v.item())
    return v


def normalized(columns: list[str], rows) -> Counter:
    """Order-insensitive row multiset with columns sorted by name."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    return Counter(tuple(_norm(r[i]) for i in order) for r in rows)


def corpus_oracle(data_dir: str, tables: list[str], sql: str) -> tuple[list[str], list]:
    con = duckdb.connect()
    try:
        for t in tables:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
        cur = con.execute(sql)
        return [d[0] for d in cur.description], cur.fetchall()
    finally:
        con.close()
