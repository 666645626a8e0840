"""Independent correctness checks: DuckDB computations over the same
inputs, compared with what graft served, stored or returned."""
import calendar
import glob
import json
import time

import duckdb

TFS = ["MINUTE", "HOUR", "DAY", "MONTH"]
UNIT = {"MINUTE": "minute", "HOUR": "hour", "DAY": "day", "MONTH": "month"}
KEY_FMT = {"MINUTE": "%Y%m%d%H%M", "HOUR": "%Y%m%d%H", "DAY": "%Y%m%d", "MONTH": "%Y%m"}
CANDLE_COLS = ["symbol", "timeframe", "window_start", "window_end",
               "open", "high", "low", "close", "volume", "n_txn"]


def connect():
    """A DuckDB connection that reads and prints timestamps in UTC, the
    time zone graft's sessions use."""
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    return con


def candles_sql(txn_sql):
    """OHLCV candles at all four timeframes from a (symbol, price,
    quantity, ts) relation: minute candles from the trades, coarser ones
    rolled up from the minute candles over calendar units (PAPER §1,
    items 3-4; months by calendar, not 30 days)."""
    rolls = "\nUNION ALL\n".join(
        f"""SELECT symbol, '{tf}' AS timeframe, date_trunc('{UNIT[tf]}', ws) AS window_start,
              date_trunc('{UNIT[tf]}', ws) + INTERVAL 1 {UNIT[tf]} AS window_end,
              arg_min(open, ws) AS open, max(high) AS high, min(low) AS low,
              arg_max(close, ws) AS close, CAST(sum(volume) AS BIGINT) AS volume,
              CAST(sum(n_txn) AS BIGINT) AS n_txn
            FROM m GROUP BY symbol, date_trunc('{UNIT[tf]}', ws)""" for tf in TFS[1:])
    return f"""
      WITH t AS ({txn_sql}),
      m AS (SELECT symbol, date_trunc('minute', ts) AS ws, arg_min(price, ts) AS open,
                   max(price) AS high, min(price) AS low, arg_max(price, ts) AS close,
                   CAST(sum(quantity) AS BIGINT) AS volume, CAST(count(*) AS BIGINT) AS n_txn
            FROM t GROUP BY 1, 2)
      SELECT symbol, 'MINUTE' AS timeframe, ws AS window_start,
             ws + INTERVAL 1 minute AS window_end, open, high, low, close, volume, n_txn
      FROM m
      UNION ALL
      {rolls}"""


def events_txn_sql(events_path):
    """graft's trade view of the events table (Candles.transactions)."""
    return f"""SELECT event_type AS symbol, value AS price,
                 CAST(json_extract_string(props, '$.k') AS INTEGER) AS quantity, ts
               FROM read_parquet('{events_path}')"""


def expected_store(con, events_path):
    """Table `exp`: the candle store CandleStore.write(multiTimeframe(...))
    should hold for these events."""
    con.execute(f"CREATE OR REPLACE TABLE exp AS {candles_sql(events_txn_sql(events_path))}")


def _ts(v):
    """Spark JSON timestamp or DuckDB datetime -> 'YYYY-MM-DD HH:MM:SS'."""
    if isinstance(v, str):
        return v.replace("T", " ")[:19]
    return v.strftime("%Y-%m-%d %H:%M:%S")


def _row(d, cols):
    return tuple(_ts(d[c]) if c in ("window_start", "window_end") else d[c] for c in cols)


# ---- serve ---------------------------------------------------------------

def parse_query(query):
    params = {}
    for kv in filter(None, query.split("&")):
        k, v = kv.split("=", 1)
        params[k] = v.replace("+", " ")
    return params


def expected_response(con, req):
    """The body a request should get, as comparable Python values, from
    the `exp` table (see expected_store). Returns (kind, value)."""
    path, _, query = req.partition("?")
    p = parse_query(query)
    parts = path.strip("/").split("/")
    if parts == ["symbols"]:
        return "set", sorted(r[0] for r in con.execute("SELECT DISTINCT symbol FROM exp").fetchall())
    if parts[0] == "keys":
        sym, tf = parts[1], parts[2]
        rows = con.execute(
            f"""SELECT 'candle:' || symbol || ':' || timeframe || ':' ||
                       strftime(window_start, '{KEY_FMT[tf]}') AS k
                FROM exp WHERE symbol = ? AND timeframe = ? ORDER BY k""", [sym, tf]).fetchall()
        keys = [r[0] for r in rows if r[0] > p.get("after", "")]
        return "list", keys[:int(p["limit"])]
    sym, tf = parts[1], parts[2]
    cols = ", ".join(CANDLE_COLS)
    if len(parts) == 4 and parts[3] == "point":
        rows = con.execute(
            f"SELECT {cols} FROM exp WHERE symbol = ? AND timeframe = ? "
            f"AND strftime(window_start, '{KEY_FMT[tf]}') = ?", [sym, tf, p["key"]]).fetchall()
        return "sorted", sorted(_row(dict(zip(CANDLE_COLS, r)), CANDLE_COLS) for r in rows)
    if len(parts) == 4 and parts[3] == "recent":
        rows = con.execute(
            f"SELECT {cols} FROM exp WHERE symbol = ? AND timeframe = ? "
            f"ORDER BY window_start DESC LIMIT ?", [sym, tf, int(p.get("n", 25))]).fetchall()
        return "sorted", sorted(_row(dict(zip(CANDLE_COLS, r)), CANDLE_COLS) for r in rows)
    rng = (f"FROM exp WHERE symbol = '{sym}' AND timeframe = '{tf}' "
           f"AND window_start >= TIMESTAMP '{p['from']}' AND window_start < TIMESTAMP '{p['to']}'")
    if p.get("fill") != "true":
        rows = con.execute(f"SELECT {cols} {rng} ORDER BY window_start").fetchall()
        return "list", [_row(dict(zip(CANDLE_COLS, r)), CANDLE_COLS) for r in rows]
    # gap fill: every calendar slot from the first to the last candle in
    # range; empty slots carry the previous close, volume 0, n_txn 0
    unit = UNIT[tf]
    rows = con.execute(f"""
      WITH r AS (SELECT * {rng}),
      s AS (SELECT unnest(generate_series(min(window_start), max(window_start),
                                          INTERVAL 1 {unit})) AS ws FROM r),
      j AS (SELECT s.ws, r.open, r.high, r.low, r.close, r.volume, r.n_txn,
                   last(r.close IGNORE NULLS) OVER (ORDER BY s.ws ROWS BETWEEN
                     UNBOUNDED PRECEDING AND CURRENT ROW) AS cf
            FROM s LEFT JOIN r ON r.window_start = s.ws)
      SELECT '{sym}', '{tf}', ws, ws + INTERVAL 1 {unit}, coalesce(open, cf), coalesce(high, cf),
             coalesce(low, cf), coalesce(close, cf), coalesce(volume, 0),
             coalesce(n_txn, 0), close IS NULL
      FROM j ORDER BY ws""").fetchall()
    fcols = CANDLE_COLS + ["is_gap"]
    return "list", [_row(dict(zip(fcols, r)), fcols) for r in rows]


def check_response(expected, status, body):
    """True iff a 200 response carries exactly the expected body."""
    if status != 200:
        return False
    kind, want = expected
    got = json.loads(body)
    if got and isinstance(got[0], dict):
        if "symbol" in got[0] and len(got[0]) == 1:
            got = [d["symbol"] for d in got]
        else:
            cols = CANDLE_COLS + (["is_gap"] if "is_gap" in got[0] else [])
            got = [_row(d, cols) for d in got]
    if kind in ("set", "sorted"):
        got = sorted(got)
    return got == want


# ---- ingest --------------------------------------------------------------

def check_store(store_dir, txns_dir, n_ticks, n_symbols=5):
    """Compare a cascade store with DuckDB's OHLCV aggregation of the same
    transactions at all four timeframes. Returns a list of problems,
    each a dict with the timeframe, the window_start of the candle at
    fault ('YYYY-MM-DD HH:MM:SS', or None for a per-timeframe total)
    and a description."""
    con = connect()
    txn = (f"SELECT symbol, price, quantity, ts FROM read_parquet('{txns_dir}/*.parquet')")
    con.execute(f"CREATE TABLE want AS {candles_sql(txn)}")
    files = glob.glob(f"{store_dir}/timeframe=*/symbol=*/**/*.parquet", recursive=True)
    if not files:
        return [{"timeframe": tf, "window_start": None, "problem": "store holds no files"}
                for tf in TFS]
    con.execute(f"""CREATE TABLE got AS SELECT {", ".join(CANDLE_COLS)}
                    FROM read_parquet({files!r}, hive_partitioning = true)""")
    problems = []
    for tf in TFS:
        n_txn = con.execute("SELECT coalesce(sum(n_txn), 0) FROM got WHERE timeframe = ?",
                            [tf]).fetchone()[0]
        if n_txn != n_symbols * n_ticks:
            problems.append({"timeframe": tf, "window_start": None,
                             "problem": f"sum(n_txn) = {n_txn}, want {n_symbols * n_ticks}"})
    cols = ", ".join(CANDLE_COLS)
    for a, b in (("got", "want"), ("want", "got")):
        rows = con.execute(f"""SELECT DISTINCT timeframe, window_start FROM
                                 (SELECT {cols} FROM {a} EXCEPT ALL SELECT {cols} FROM {b})
                               ORDER BY 1, 2""").fetchall()
        problems += [{"timeframe": tf, "window_start": _ts(ws),
                      "problem": f"candle in {a} but not in {b}"} for tf, ws in rows]
    return problems


def trigger_of(problem, start, ticks, n_triggers):
    """The trigger at fault for a check_store problem, for a stream of
    `ticks` one-second ticks per trigger from epoch second `start`. A
    MINUTE or HOUR candle lies in the ticks of exactly one trigger; a
    DAY or MONTH candle, or a per-timeframe total, was last written by
    the last trigger."""
    if start % 3600 or ticks % 3600:
        raise ValueError("triggers must cover whole hours")
    if problem["window_start"] is None or problem["timeframe"] not in ("MINUTE", "HOUR"):
        return n_triggers - 1
    ws = calendar.timegm(time.strptime(problem["window_start"], "%Y-%m-%d %H:%M:%S"))
    return (ws - start) // ticks
