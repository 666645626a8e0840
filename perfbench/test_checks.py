#!/usr/bin/env python3
"""Tests of the benchmark's own checkers: each must accept a correct
output and reject one with a single candle price altered or a single
window missing.

Usage: python3 perfbench/test_checks.py
"""
import calendar
import json
import os
import shutil
import sys
import tempfile
import unittest

import numpy as np
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import checks  # noqa: E402


def write_events(path, n=2000, seed=7):
    """A small events table in graft's shape (symbol = event_type,
    price = value, quantity = props.k) over two days, with strictly
    increasing timestamps so that open and close have no ties."""
    rng = np.random.default_rng(seed)
    ts = pd.Timestamp("2024-01-01") + pd.to_timedelta(
        np.sort(rng.choice(2 * 86400 * 10**6, n, replace=False)), unit="us")
    pd.DataFrame({
        "event_id": np.arange(n),
        "ts": ts,
        "event_type": rng.choice(["view", "click", "purchase", "signup", "error"], n),
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
    }).to_parquet(path)


def spark_json(rows, cols):
    """Rows as CandleHttpServer writes them (Spark toJSON, UTC)."""
    out = []
    for r in rows:
        d = dict(zip(cols, r))
        for c in ("window_start", "window_end"):
            d[c] = d[c].strftime("%Y-%m-%dT%H:%M:%S.000Z")
        out.append(d)
    return json.dumps(out).encode()


class ServeCheck(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        cls.tmp = tempfile.mkdtemp()
        write_events(f"{cls.tmp}/events.parquet")
        cls.con = checks.connect()
        checks.expected_store(cls.con, f"{cls.tmp}/events.parquet")
        sym, ws = cls.con.execute(
            "SELECT symbol, window_start FROM exp WHERE timeframe = 'HOUR' "
            "ORDER BY window_start LIMIT 1").fetchone()
        cls.req = (f"/candles/{sym}/HOUR?from={ws:%Y-%m-%d+%H:%M:%S}"
                   f"&to=2024-01-03+00:00:00")
        cls.rows = cls.con.execute(
            f"SELECT {', '.join(checks.CANDLE_COLS)} FROM exp WHERE timeframe = 'HOUR' "
            f"AND symbol = ? AND window_start < TIMESTAMP '2024-01-03' ORDER BY window_start",
            [sym]).fetchall()

    @classmethod
    def tearDownClass(cls):
        shutil.rmtree(cls.tmp)

    def test_correct_body_passes(self):
        want = checks.expected_response(self.con, self.req)
        self.assertTrue(checks.check_response(want, 200, spark_json(self.rows, checks.CANDLE_COLS)))

    def test_altered_price_fails(self):
        rows = [list(r) for r in self.rows]
        rows[0][checks.CANDLE_COLS.index("high")] += 0.01
        want = checks.expected_response(self.con, self.req)
        self.assertFalse(checks.check_response(want, 200, spark_json(rows, checks.CANDLE_COLS)))

    def test_missing_window_fails(self):
        want = checks.expected_response(self.con, self.req)
        self.assertFalse(checks.check_response(want, 200, spark_json(self.rows[1:], checks.CANDLE_COLS)))

    def test_error_status_fails(self):
        want = checks.expected_response(self.con, self.req)
        self.assertFalse(checks.check_response(want, 500, spark_json(self.rows, checks.CANDLE_COLS)))


class StoreCheck(unittest.TestCase):
    """A cascade store laid out like CandleStream's (timeframe/symbol/
    window_date partitions) written from DuckDB's own candles."""

    def setUp(self):
        self.tmp = tempfile.mkdtemp()
        self.ticks = 7200
        ts = pd.Timestamp("2024-03-01") + pd.to_timedelta(np.arange(self.ticks), unit="s")
        rng = np.random.default_rng(3)
        frames = [pd.DataFrame({"symbol": s, "price": np.round(100 + rng.random(self.ticks), 2),
                                "quantity": rng.integers(1, 101, self.ticks).astype(np.int32),
                                "ts": ts}) for s in ("AAPL", "GOOGL", "MSFT", "AMZN", "TSLA")]
        os.makedirs(f"{self.tmp}/txns")
        pd.concat(frames).to_parquet(f"{self.tmp}/txns/part-0.parquet")
        con = checks.connect()
        txn = f"SELECT * FROM read_parquet('{self.tmp}/txns/*.parquet')"
        self.candles = con.execute(checks.candles_sql(txn)).fetchdf()

    def tearDown(self):
        shutil.rmtree(self.tmp)

    def write_store(self, df):
        store = f"{self.tmp}/store"
        shutil.rmtree(store, ignore_errors=True)
        for (tf, sym), part in df.groupby(["timeframe", "symbol"]):
            d = f"{store}/timeframe={tf}/symbol={sym}/window_date=2024-03-01"
            os.makedirs(d)
            part.drop(columns=["timeframe", "symbol"]).to_parquet(f"{d}/part-0.parquet")
        return store

    def test_correct_store_passes(self):
        self.assertEqual(checks.check_store(self.write_store(self.candles),
                                            f"{self.tmp}/txns", self.ticks), [])

    def test_altered_price_fails(self):
        df = self.candles.copy()
        df.loc[df.index[5], "close"] += 0.01
        self.assertTrue(checks.check_store(self.write_store(df), f"{self.tmp}/txns", self.ticks))

    def test_missing_window_fails(self):
        df = self.candles.drop(self.candles.index[3])
        self.assertTrue(checks.check_store(self.write_store(df), f"{self.tmp}/txns", self.ticks))

    def test_problems_name_their_trigger(self):
        df = self.candles.copy()
        minute = df.index[(df["timeframe"] == "MINUTE")
                          & (df["window_start"] == pd.Timestamp("2024-03-01 00:30"))][0]
        day = df.index[df["timeframe"] == "DAY"][0]
        df.loc[minute, "high"] += 0.01
        df.loc[day, "low"] -= 0.01
        start = calendar.timegm((2024, 3, 1, 0, 0, 0))
        problems = checks.check_store(self.write_store(df), f"{self.tmp}/txns", self.ticks)
        self.assertEqual({checks.trigger_of(p, start, 3600, 2) for p in problems}, {0, 1})
        self.assertEqual({(p["timeframe"], p["window_start"]) for p in problems},
                         {("MINUTE", "2024-03-01 00:30:00"), ("DAY", "2024-03-01 00:00:00")})


if __name__ == "__main__":
    unittest.main()
