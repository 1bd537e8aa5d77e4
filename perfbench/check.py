"""Independent check of the engine's outputs with DuckDB.

The Scala side exports, for a hashed slice of whole conversations, the input
turns and the engine's outputs as parquet. This module recomputes every
feature from the input turns in DuckDB (RANGE frames, count(DISTINCT) OVER,
lag, lag+cumsum sessions, ASOF LEFT JOIN) and compares row by row.

Each check returns (name, ok, detail).
"""
import math
import os

import duckdb

RTOL = 1e-9
ATOL = 1e-6
HOUR_US = 3_600_000_000
TOOLS = ("search", "code", "browse")

BASE = """
CREATE TEMP TABLE b AS
SELECT conv_id, turn_idx, role, tool, epoch_us(ts) AS tm,
       CAST(length(text) AS DOUBLE) AS value
FROM read_parquet('{turns}/*.parquet')
"""

FEATURES = """
CREATE TEMP TABLE ref AS
WITH f AS (
  SELECT conv_id, turn_idx, tm, value,
    count(value) OVER h1 AS count_value_3600s,
    sum(value) OVER h1 AS sum_value_3600s,
    count(value) OVER d1 AS count_value_86400s,
    sum(value) OVER d1 AS sum_value_86400s,
    count(DISTINCT tool) OVER h1 AS nunique_tool_3600s,
    count(DISTINCT tool) OVER d1 AS nunique_tool_86400s,
    lag(value, 1) OVER o AS lag_value_1,
    lag(value, 3) OVER o AS lag_value_3,
    CASE WHEN lag(tm) OVER s IS NULL OR tm - lag(tm) OVER s > 1800000000
         THEN 1 ELSE 0 END AS new_session
  FROM b
  WINDOW
    h1 AS (PARTITION BY conv_id ORDER BY tm RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW),
    d1 AS (PARTITION BY conv_id ORDER BY tm RANGE BETWEEN 86400000000 PRECEDING AND CURRENT ROW),
    o AS (PARTITION BY conv_id ORDER BY turn_idx, tm),
    s AS (PARTITION BY conv_id ORDER BY tm, turn_idx))
SELECT * EXCLUDE (new_session),
  conv_id || '#' || CAST(sum(new_session) OVER (PARTITION BY conv_id ORDER BY tm, turn_idx
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS VARCHAR) AS session_id
FROM f
"""

# Events of one kind, ties on ts reduced to the greatest turn_idx: that is the
# engine's tie-break, and it leaves ASOF JOIN a unique match.
EVENTS = """
SELECT conv_id, tm AS e_tm, arg_max({value}, turn_idx) AS e_value
FROM b WHERE tool = '{tool}' GROUP BY conv_id, tm
"""

FEATURE_COLS = ["session_id", "count_value_3600s", "sum_value_3600s",
                "count_value_86400s", "sum_value_86400s", "nunique_tool_3600s",
                "nunique_tool_86400s", "lag_value_1", "lag_value_3"]


def _load(con, path):
    """Rows of an exported parquet dir, timestamps as epoch microseconds."""
    rel = con.sql(f"SELECT * FROM read_parquet('{path}/*.parquet')")
    cols = [f"epoch_us({c}) AS {c}" if "TIMESTAMP" in str(t) else c
            for c, t in zip(rel.columns, rel.types)]
    return con.sql(f"SELECT {', '.join(cols)} FROM read_parquet('{path}/*.parquet')").df()


def _same(a, b):
    if a is None or (isinstance(a, float) and math.isnan(a)):
        return b is None or (isinstance(b, float) and math.isnan(b))
    if b is None or (isinstance(b, float) and math.isnan(b)):
        return False
    if isinstance(a, str) or isinstance(b, str):
        return a == b
    return abs(float(a) - float(b)) <= ATOL + RTOL * abs(float(b))


def compare(name, got, want, keys, cols):
    """Row-by-row comparison of two frames on `keys`, allclose on numbers."""
    if len(got) != len(want):
        return (name, False, f"{len(got)} rows vs {len(want)} expected")
    g = got.set_index(keys).sort_index()
    w = want.set_index(keys).sort_index()
    if not g.index.equals(w.index):
        return (name, False, "row keys differ")
    for c in cols:
        gv = g[c].astype(object).where(g[c].notna(), None).tolist()
        wv = w[c].astype(object).where(w[c].notna(), None).tolist()
        for i, (x, y) in enumerate(zip(gv, wv)):
            if not _same(x, y):
                return (name, False, f"{c} at {g.index[i]}: {x} vs {y}")
    return (name, True, f"{len(got)} rows")


def _features(con, d):
    con.execute(BASE.format(turns=os.path.join(d, "turns")))
    con.execute(FEATURES)
    if con.sql("SELECT count(*) FROM b").fetchone()[0] == 0:
        raise ValueError("empty check slice")


def check_backfill(d):
    con = duckdb.connect()
    _features(con, d)
    con.execute(f"""
      CREATE TEMP TABLE full_ref AS
      SELECT f.*, e.e_value AS side_value
      FROM ref f ASOF LEFT JOIN ({EVENTS.format(value='value', tool='code')}) e
        ON f.conv_id = e.conv_id AND f.tm >= e.e_tm""")
    want = con.sql("SELECT * FROM full_ref").df()
    got = _load(con, os.path.join(d, "features"))
    out = [compare("backfill features equal DuckDB on the slice", got, want,
                   ["conv_id", "turn_idx"], FEATURE_COLS + ["side_value"])]
    want_s = con.sql("""
      SELECT conv_id, session_id, count(*) AS n_turns, sum(sum_value_3600s) AS s1,
        max(count_value_86400s) AS c24, max(nunique_tool_3600s) AS nu1,
        avg(lag_value_1) AS l1, avg(side_value) AS sv
      FROM full_ref GROUP BY conv_id, session_id""").df()
    got_s = _load(con, os.path.join(d, "sessions"))
    out.append(compare("session aggregates equal DuckDB on the slice", got_s, want_s,
                       ["conv_id", "session_id"], ["n_turns", "s1", "c24", "nu1", "l1", "sv"]))
    return out


def check_pit_join(d):
    con = duckdb.connect()
    con.execute(BASE.format(turns=os.path.join(d, "turns")))
    want = con.sql("SELECT conv_id, turn_idx, tm AS ts FROM b WHERE role = 'user'").df()
    for tool in TOOLS:
        op = ">" if tool == "code" else ">="
        ev = EVENTS.format(value="CAST(value AS BIGINT)", tool=tool)
        m = con.sql(f"""
          SELECT s.conv_id, s.turn_idx, e.e_value AS {tool}_value, e.e_tm AS {tool}_ets
          FROM (SELECT conv_id, turn_idx, tm FROM b WHERE role = 'user') s
          ASOF LEFT JOIN ({ev}) e ON s.conv_id = e.conv_id AND s.tm {op} e.e_tm""").df()
        if tool == "code":
            late = (want.set_index(["conv_id", "turn_idx"])["ts"]
                    .reindex(m.set_index(["conv_id", "turn_idx"]).index).values
                    - m["code_ets"].values) > HOUR_US
            m.loc[late, ["code_value", "code_ets"]] = None
        want = want.merge(m, on=["conv_id", "turn_idx"], how="left")
    want["browse_mts"] = want["browse_ets"]
    got = _load(con, os.path.join(d, "asof"))
    cols = ["ts"] + [f"{t}_{c}" for t in TOOLS for c in ("value", "ets")] + ["browse_mts"]
    return [compare("as-of joins equal DuckDB ASOF LEFT JOIN on the slice", got, want,
                    ["conv_id", "turn_idx"], cols)]


def check_resume(d):
    con = duckdb.connect()
    _features(con, d)
    want = con.sql("SELECT * FROM ref").df()
    got = _load(con, os.path.join(d, "features"))
    return [compare("committed bucket features equal DuckDB on the slice", got, want,
                    ["conv_id", "turn_idx"], FEATURE_COLS)]


CHECKS = {"backfill": check_backfill, "pit_join": check_pit_join, "resume": check_resume}


def run(workload, export_dir):
    try:
        return CHECKS[workload](export_dir)
    except Exception as e:  # a check that cannot run is a failed check
        return [(f"{workload} DuckDB check", False, f"{type(e).__name__}: {e}")]
