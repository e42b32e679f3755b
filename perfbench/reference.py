"""Independent references the benchmark checks the engine's outputs against.

All references are DuckDB SQL over the same parquet the engine read; none
of them calls into ``logstash_spark``.  Checks run outside timed windows.
"""

from __future__ import annotations

import datetime
import math
import tempfile

import duckdb
import numpy as np
import pandas as pd

# the north-star job's grok template, as a plain regex (unanchored match)
GROK_REGEX = r"status=[+-]?[0-9]+ bytes=[+-]?[0-9]+ tool=\w+ msg=\w+"
SESSION_GAP = "INTERVAL 30 MINUTE"
WATERMARK_DELAY = "INTERVAL 1 HOUR"


def connect() -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute(f"SET temp_directory='{tempfile.mkdtemp(prefix='duckdb_')}'")
    con.execute("SET TimeZone='UTC'")
    con.execute("SET threads=4")
    return con


def _sessions_sql(src: str) -> str:
    """Spark session_window(ts, 30 min) per conv_id: a new session starts
    where the gap to the previous turn is at least the session gap; the
    session ends one gap after its last turn.  Both windows order by
    (ts, turn_idx) so turns with equal ts fall in one session."""
    return f"""
    WITH t AS (
        SELECT conv_id, turn_idx, ts,
               CASE WHEN lag(ts) OVER w IS NULL OR ts - lag(ts) OVER w >= {SESSION_GAP}
                    THEN 1 ELSE 0 END AS brk
        FROM {src}
        WINDOW w AS (PARTITION BY conv_id ORDER BY ts, turn_idx)),
    s AS (
        SELECT conv_id, ts,
               sum(brk) OVER (PARTITION BY conv_id ORDER BY ts, turn_idx
                              ROWS UNBOUNDED PRECEDING) AS sid
        FROM t)
    SELECT conv_id, min(ts) AS session_start, max(ts) + {SESSION_GAP} AS session_end,
           count(*) AS n_turns
    FROM s GROUP BY conv_id, sid"""


class StreamReference:
    """Reference over a set of input parquet files (the drain fixture or
    the files landed by a replay)."""

    def __init__(self, con, files: list[str]):
        self.con = con
        con.execute("CREATE OR REPLACE TEMP TABLE ref_in AS SELECT conv_id, turn_idx, text, ts "
                    f"FROM read_parquet({files!r})")
        self.turns = con.execute("SELECT count(*) FROM ref_in").fetchone()[0]
        self.max_ts = con.execute("SELECT max(ts) FROM ref_in").fetchone()[0]
        con.execute("CREATE OR REPLACE TEMP TABLE ref_sessions AS "
                    + _sessions_sql("ref_in")
                    + f" HAVING max(ts) + {SESSION_GAP} <= "
                      f"(SELECT max(ts) FROM ref_in) - {WATERMARK_DELAY}")
        self.closable_sessions = con.execute(
            "SELECT count(*) FROM ref_sessions").fetchone()[0]

    def check_turns(self, out_glob: str) -> list[str]:
        """Every input turn committed exactly once; grok failures equal the
        reference's non-matching lines."""
        con, errs = self.con, []
        con.execute("CREATE OR REPLACE TEMP TABLE out_turns AS SELECT conv_id, turn_idx, "
                    "list_contains(tags, '_grokparsefailure') AS failed "
                    f"FROM read_parquet('{out_glob}')")
        n, distinct = con.execute(
            "SELECT count(*), count(DISTINCT (conv_id, turn_idx)) FROM out_turns").fetchone()
        if n != self.turns or distinct != n:
            errs.append(f"turns: committed {n} ({distinct} distinct), input {self.turns}")
        missing = con.execute("SELECT count(*) FROM (SELECT conv_id, turn_idx FROM ref_in "
                              "EXCEPT SELECT conv_id, turn_idx FROM out_turns)").fetchone()[0]
        if missing:
            errs.append(f"turns: {missing} input turns not committed")
        diff = con.execute(f"""
            SELECT count(*) FROM (
              (SELECT conv_id, turn_idx FROM ref_in WHERE NOT regexp_matches(text, '{GROK_REGEX}')
               EXCEPT SELECT conv_id, turn_idx FROM out_turns WHERE failed)
              UNION ALL
              (SELECT conv_id, turn_idx FROM out_turns WHERE failed
               EXCEPT SELECT conv_id, turn_idx FROM ref_in
                      WHERE NOT regexp_matches(text, '{GROK_REGEX}')))""").fetchone()[0]
        if diff:
            errs.append(f"grok: {diff} rows differ from the reference failure set")
        return errs

    def grok_fail_ratio(self) -> float:
        n = self.con.execute("SELECT count(*) FROM out_turns WHERE failed").fetchone()[0]
        return n / max(self.turns, 1)

    def check_sessions(self, out_glob: str, dropped_by_watermark: int = 0) -> list[str]:
        """Emitted sessions equal the closable reference sessions on
        (conv_id, session_start, n_turns); a difference is accepted only
        when rows dropped by the watermark account for it."""
        con, errs = self.con, []
        con.execute("CREATE OR REPLACE TEMP TABLE out_sessions AS "
                    "SELECT conv_id, session_start, n_turns "
                    f"FROM read_parquet('{out_glob}')")
        dup = con.execute("SELECT count(*) - count(DISTINCT (conv_id, session_start)) "
                          "FROM out_sessions").fetchone()[0]
        if dup:
            errs.append(f"sessions: {dup} duplicate (conv_id, session_start)")
        ref_only, ref_turns = con.execute(
            "SELECT count(*), coalesce(sum(n_turns), 0) FROM ("
            "SELECT conv_id, session_start, n_turns FROM ref_sessions "
            "EXCEPT SELECT conv_id, session_start, n_turns FROM out_sessions)").fetchone()
        out_only, out_turns = con.execute(
            "SELECT count(*), coalesce(sum(n_turns), 0) FROM ("
            "SELECT conv_id, session_start, n_turns FROM out_sessions "
            "EXCEPT SELECT conv_id, session_start, n_turns FROM ref_sessions)").fetchone()
        # a late row the watermark dropped leaves its session short
        explained = 0 < ref_turns - out_turns <= dropped_by_watermark
        if (ref_only or out_only) and not explained:
            errs.append(f"sessions: {ref_only} reference-only, {out_only} emitted-only "
                        f"(dropped by watermark: {dropped_by_watermark})")
        return errs


# ---------------------------------------------------------------------------
# catalog: oracle twins, canonicalized the way the gate compares them
# ---------------------------------------------------------------------------

CATALOG_TABLES = ("events", "documents", "embeddings")


def catalog_connection(data_dir: str):
    con = connect()
    for t in CATALOG_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    return con


def norm(v):
    """One canonical form for a Spark ``Row`` value and a DuckDB value:
    naive-UTC ISO timestamps, Python scalars, NaN/NaT as None, floats
    rounded to 9 places, sequences and maps as tuples."""
    if v is None or v is pd.NaT:
        return None
    if isinstance(v, np.generic):
        return norm(v.item())
    if isinstance(v, np.ndarray):
        return tuple(norm(x) for x in v)
    if isinstance(v, float):
        return None if math.isnan(v) else round(v, 9)
    if hasattr(v, "to_pydatetime"):
        v = v.to_pydatetime()
    if isinstance(v, datetime.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(norm(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, norm(x)) for k, x in v.items()))
    return v


def canonical_rows(columns: list[str], records) -> list[tuple]:
    cols = sorted(columns)
    return sorted((tuple(norm(r[c]) for c in cols) for r in records), key=repr)


def check_query(con, oracle_sql: str, columns: list[str], rows) -> str | None:
    """None when a query's collected Spark rows equal its oracle twin's,
    else a reason."""
    srows = canonical_rows(columns, (r.asDict() for r in rows))
    od = con.execute(oracle_sql).fetchdf()
    orows = canonical_rows(list(od.columns), od.to_dict("records"))
    if sorted(columns) != sorted(od.columns):
        return f"columns {sorted(columns)} != {sorted(od.columns)}"
    if srows != orows:
        return f"rows differ: spark {len(srows)}, oracle {len(orows)}"
    return None
