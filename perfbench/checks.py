"""Correctness checks of one benchmark run, made apart from the program.

Each check recomputes the workload's outputs from the generated inputs
with DuckDB or plain Python and demands exact equality: the generator
only produces numbers that the program's decimal casts represent
exactly (whole-KRW prices, four-decimal sizes, whole-millisecond
delays), so no tolerance is needed. `run` returns a list of problems;
an empty list means the run's outputs are correct.
"""
import datetime
import json
import math
import os

import duckdb

TRADE_COLUMNS = {
    "code": "VARCHAR", "timestamp": "BIGINT", "trade_price": "DOUBLE",
    "trade_volume": "DOUBLE", "ask_bid": "VARCHAR", "arrive_time": "DOUBLE",
}
BOOK_COLUMNS = {
    "code": "VARCHAR", "timestamp": "BIGINT", "total_ask_size": "DOUBLE",
    "total_bid_size": "DOUBLE",
    "orderbook_units": "STRUCT(ask_price DOUBLE, bid_price DOUBLE, "
                       "ask_size DOUBLE, bid_size DOUBLE)[]",
}


def connect():
    con = duckdb.connect()
    con.sql("SET TimeZone='UTC'")
    con.sql("SET threads=2")
    return con


def read_log(con, name, path, columns):
    cols = "{" + ", ".join(f"'{k}': '{v}'" for k, v in columns.items()) + "}"
    con.sql(f"CREATE OR REPLACE TABLE {name} AS SELECT * FROM read_json('{path}', "
            f"format='newline_delimited', columns={cols})")


def exact(v):
    """A double as its exact decimal text, so doubles compare exactly."""
    return v if not isinstance(v, float) else repr(v)


# ---------------------------------------------------------------- upbit_daily

DAILY_EXPECTED = """
WITH t AS (
  SELECT code, epoch_ms(timestamp) AS ts, trade_price,
         CAST(trade_price AS DECIMAL(18,2)) * CAST(trade_volume AS DECIMAL(18,4)) AS dollar
  FROM trades WHERE timestamp >= {lo} AND timestamp < {hi}),
c AS (SELECT *, sum(dollar) OVER (PARTITION BY code ORDER BY ts
                                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      FROM t),
b AS (SELECT *, CAST(floor(CAST(CAST(cum AS VARCHAR) AS DOUBLE) / {bar}) AS INTEGER) AS bar_num
      FROM c),
bars AS (
  SELECT code, bar_num, arg_min(trade_price, ts) AS open, max(trade_price) AS high,
         min(trade_price) AS low, arg_max(trade_price, ts) AS close,
         CAST(CAST(sum(dollar) AS VARCHAR) AS DOUBLE) AS volume, count(*) AS n_trades,
         min(ts) AS start_ts, max(ts) AS end_ts
  FROM b GROUP BY code, bar_num),
ob AS (
  SELECT code, epoch_ms(timestamp) AS ob_ts, orderbook_units[1].ask_price AS best_ask,
         orderbook_units[1].bid_price AS best_bid, total_ask_size, total_bid_size
  FROM books WHERE timestamp >= {lo} AND timestamp < {hi}),
j AS (
  SELECT bars.*, ob.ob_ts, ob.best_ask, ob.best_bid, ob.total_ask_size, ob.total_bid_size,
         ob.ob_ts >= bars.end_ts - INTERVAL 10 SECOND AS hit
  FROM bars ASOF LEFT JOIN ob ON bars.code = ob.code AND bars.end_ts >= ob.ob_ts)
SELECT code, bar_num, open, high, low, close, volume, n_trades,
       epoch_us(start_ts) AS start_us, epoch_us(end_ts) AS end_us,
       CASE WHEN hit THEN epoch_us(ob_ts) END AS ob_us,
       CASE WHEN hit THEN best_ask END AS best_ask,
       CASE WHEN hit THEN best_bid END AS best_bid,
       CASE WHEN hit THEN total_ask_size END AS total_ask_size,
       CASE WHEN hit THEN total_bid_size END AS total_bid_size,
       DATE '{day}' AS processing_date
FROM j
"""

DAILY_ACTUAL = """
SELECT code, CAST(bar_num AS INTEGER) AS bar_num, open, high, low, close, volume,
       CAST(n_trades AS BIGINT) AS n_trades,
       epoch_us(CAST(start_ts AS TIMESTAMP)) AS start_us,
       epoch_us(CAST(end_ts AS TIMESTAMP)) AS end_us,
       epoch_us(CAST(ob_ts AS TIMESTAMP)) AS ob_us,
       best_ask, best_bid, total_ask_size, total_bid_size,
       CAST(processing_date AS DATE) AS processing_date
FROM read_parquet('{path}/*.parquet')
"""


def diff(con, expected_sql, actual_sql):
    """Rows in one result and not the other (multiset), both ways."""
    missing = con.sql(f"SELECT count(*) FROM (({expected_sql}) EXCEPT ALL ({actual_sql}))").fetchone()[0]
    extra = con.sql(f"SELECT count(*) FROM (({actual_sql}) EXCEPT ALL ({expected_sql}))").fetchone()[0]
    total = con.sql(f"SELECT count(*) FROM ({expected_sql})").fetchone()[0]
    return missing, extra, total


def check_daily(c):
    con = connect()
    read_log(con, "trades", c["trade_log"], TRADE_COLUMNS)
    read_log(con, "books", c["book_log"], BOOK_COLUMNS)
    problems = []
    for d in c["days"]:
        day, lo, hi = d["day"], d["from_ms"], d["until_ms"]
        exp = DAILY_EXPECTED.format(lo=lo, hi=hi, bar=c["bar_size"], day=day)
        act = DAILY_ACTUAL.format(path=os.path.join(c["bars_dir"], day))
        missing, extra, total = diff(con, exp, act)
        if missing or extra or total == 0:
            problems.append(f"upbit_daily {day}: dollar bars + as-of differ from DuckDB "
                            f"({missing} missing, {extra} unexpected of {total})")
        for topic, table in (("upbit_trade", "trades"), ("upbit_orderbook", "books")):
            want = con.sql(f"SELECT code, count(*) FROM {table} WHERE timestamp >= {lo} "
                           f"AND timestamp < {hi} GROUP BY code ORDER BY code").fetchall()
            got = con.sql(
                f"SELECT code, count(*) FROM read_parquet('{c['raw_dir']}/{topic}/"
                f"processing_date={day}/*/*.parquet', hive_partitioning=true) "
                f"GROUP BY code ORDER BY code").fetchall()
            if want != got:
                problems.append(f"upbit_daily {day}: raw {topic} rows per code {got} != {want}")
    return problems


# --------------------------------------------------------------- upbit_stream

CANDLES_EXPECTED = """
SELECT code, (timestamp // 10000) * 10000 AS ws,
       arg_min(trade_price, timestamp) AS open, max(trade_price) AS high,
       min(trade_price) AS low, arg_max(trade_price, timestamp) AS close,
       CAST(CAST(sum(CAST(trade_volume AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) AS volume,
       CAST(CAST(sum(CASE WHEN ask_bid = 'ASK' THEN CAST(trade_volume AS DECIMAL(18,4))
                     ELSE CAST(0 AS DECIMAL(18,4)) END) AS VARCHAR) AS DOUBLE) AS side_volume,
       CAST(CAST(sum(CAST(trade_price AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) AS sx,
       CAST(CAST(sum(CAST(CAST(trade_price AS DECIMAL(18,4)) AS DECIMAL(38,4))
                     * CAST(CAST(trade_price AS DECIMAL(18,4)) AS DECIMAL(38,4)))
            AS VARCHAR) AS DOUBLE) AS sxx,
       count(*) AS n,
       CAST(CAST(sum(CAST(arrive_time - timestamp / CAST(1000.0 AS DOUBLE) AS DECIMAL(18,4)))
            AS VARCHAR) AS DOUBLE) AS slat
FROM trades GROUP BY 1, 2
"""


def epoch_ms(iso):
    return round(datetime.datetime.fromisoformat(iso).timestamp() * 1000)


def check_stream(c):
    con = connect()
    read_log(con, "trades", c["trade_log"], TRADE_COLUMNS)
    read_log(con, "books", c["book_log"], BOOK_COLUMNS)
    problems = []
    wm = c["watermark_ms"]
    expected = {}
    for code, ws, o, h, lo, cl, vol, side, sx, sxx, n, slat in con.sql(CANDLES_EXPECTED).fetchall():
        if ws + 10000 > wm:
            continue  # window not closed by the final watermark: not emitted yet
        var = (sxx - sx * sx / n) / (n - 1) if n > 1 else None
        expected[(code, ws)] = {
            "window_end": ws + 10000, "open": o, "high": h, "low": lo, "close": cl,
            "volume": vol, "side_volume": side, "avg_value": sx / n,
            "volatility": math.sqrt(max(var, 0.0)) if var is not None else None,
            "n_events": n, "avg_latency": slat / n}
    actual = {}
    for (value,) in con.sql(f"SELECT value FROM read_parquet('{c['candles']}/*.parquet')").fetchall():
        r = json.loads(value)
        key = (r["code"], epoch_ms(r["window_start"]))
        if key in actual:
            problems.append(f"upbit_stream: candle {key} emitted twice")
        actual[key] = {"window_end": epoch_ms(r["window_end"]),
                       **{k: r.get(k) for k in expected_fields()}}
    if not expected:
        problems.append("upbit_stream: no closed candle windows to compare")
    if set(actual) != set(expected):
        problems.append(f"upbit_stream: emitted {len(actual)} closed candles, DuckDB has "
                        f"{len(expected)} ({len(set(actual) - set(expected))} unexpected, "
                        f"{len(set(expected) - set(actual))} missing)")
    bad = [k for k in set(actual) & set(expected)
           if {f: exact(v) for f, v in actual[k].items()} != {f: exact(v) for f, v in expected[k].items()}]
    if bad:
        k = sorted(bad)[0]
        problems.append(f"upbit_stream: {len(bad)} candles differ, e.g. {k}: "
                        f"spark={actual[k]} duckdb={expected[k]}")
    problems += check_ofi(con, c["ofi"])
    return problems


def expected_fields():
    return ("open", "high", "low", "close", "volume", "side_volume", "avg_value",
            "volatility", "n_events", "avg_latency")


def check_ofi(con, ofi_path):
    """Two-sided book OFI as a plain sequential recurrence per code."""
    rows = con.sql("""
        SELECT CAST(substr(code, 6, 4) AS BIGINT), timestamp * 1000,
               orderbook_units[1].bid_price, orderbook_units[1].bid_size,
               orderbook_units[1].ask_price, orderbook_units[1].ask_size
        FROM books ORDER BY 1, 2""").fetchall()
    expected = []
    prev = {}
    for key, ts, bp, bs, ap, asz in rows:
        p = prev.get(key)
        if p is None:
            ofi = None
        else:
            pbp, pbs, pap, pas = p
            bid = bs if bp >= pbp else -pbs
            ask = asz if ap <= pap else pas
            ofi = bid - ask
        prev[key] = (bp, bs, ap, asz)
        expected.append((key, ts, exact(ofi)))
    actual = [(k, t, exact(o)) for k, t, o in
              con.sql(f"SELECT key, tsUs, ofi FROM read_parquet('{ofi_path}/*.parquet')").fetchall()]
    if sorted(actual, key=repr) != sorted(expected, key=repr):
        a, e = set(actual), set(expected)
        return [f"upbit_stream: OFI rows differ from the sequential recurrence "
                f"({len(actual)} vs {len(expected)} rows; {len(a - e)} unexpected, "
                f"{len(e - a)} missing)"]
    return []


# --------------------------------------------------------------- curation_mix

def check_curation(c):
    con = connect()
    for f in sorted(os.listdir(c["data_dir"])):
        if f.endswith(".parquet"):
            con.sql(f"CREATE VIEW {f[:-8]} AS SELECT * FROM '{os.path.join(c['data_dir'], f)}'")
    problems = []
    for name, sql in sorted(c["oracle"].items()):
        if sql is None:
            problems.append(f"curation_mix {name}: no oracle SQL")
            continue
        path = os.path.join(c["out_dir"], name)
        if not os.path.isdir(path):
            problems.append(f"curation_mix {name}: no result written")
            continue
        sp = con.sql(f"SELECT * FROM read_parquet('{path}/*.parquet')").df()
        du = con.sql(sql).df()
        cols = sorted(sp.columns)
        if cols != sorted(du.columns):
            problems.append(f"curation_mix {name}: columns {cols} != {sorted(du.columns)}")
            continue
        sp = sp[cols].sort_values(cols, kind="mergesort").reset_index(drop=True)
        du = du[cols].sort_values(cols, kind="mergesort").reset_index(drop=True)
        if len(sp) != len(du):
            problems.append(f"curation_mix {name}: {len(sp)} rows, oracle {len(du)}")
            continue
        for col in cols:
            bad = [(i, x, y) for i, (x, y) in enumerate(zip(sp[col].tolist(), du[col].tolist()))
                   if not same(x, y)]
            if bad:
                problems.append(f"curation_mix {name}: {len(bad)} values of {col} differ, "
                                f"e.g. row {bad[0][0]}: spark={bad[0][1]!r} oracle={bad[0][2]!r}")
                break
    return problems


def same(x, y):
    if isinstance(x, float) and isinstance(y, float) and math.isnan(x) and math.isnan(y):
        return True
    if x is None or y is None:
        return x is None and y is None
    return x == y or str(x) == str(y)


def run(workload, check):
    return {"upbit_daily": check_daily, "upbit_stream": check_stream,
            "curation_mix": check_curation}[workload](check)
