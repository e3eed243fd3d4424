"""Independent DuckDB computations of the ten dashboard views, compared
with the rows the engine returned for the same argument."""
import datetime as dt
import math
import os

DAILY = """
SELECT user_id, CAST(ts AS DATE) AS d,
       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS DOUBLE) / (100.0 * count(*)) AS close,
       max(value) AS high, min(value) AS low, count(*) AS n_events
FROM events GROUP BY 1, 2"""

LATEST_CHANGE = f"""
WITH daily AS ({DAILY}),
c AS (
  SELECT user_id, d, close,
         CASE WHEN lag(close) OVER w IS NULL OR lag(close) OVER w = 0 THEN NULL
              ELSE (close - lag(close) OVER w) / lag(close) OVER w * 100 END AS pct_change,
         row_number() OVER (PARTITION BY user_id ORDER BY d DESC) AS rn
  FROM daily WINDOW w AS (PARTITION BY user_id ORDER BY d))
SELECT user_id, d, close, pct_change FROM c WHERE rn = 1 AND pct_change IS NOT NULL"""


def view_sql(name, sym, start, end):
    """DuckDB SQL for one view; tables `events`, `predictions`, `analysis`."""
    if name == "companyList":
        return ("SELECT DISTINCT user_id, concat('User (', user_id, ')') AS label "
                "FROM events ORDER BY user_id")
    if name == "stockData":
        return f"""
WITH s AS (SELECT * FROM ({DAILY}) WHERE user_id = {sym}
           AND d BETWEEN DATE '{start}' AND DATE '{end}'),
x AS (
  SELECT *, close - lag(close) OVER w AS delta,
         count(close) OVER w14 AS n14, avg(close) OVER w14 AS a14,
         list(close) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS hist,
         avg(close) OVER w20 AS bb_mid
  FROM s
  WINDOW w AS (PARTITION BY user_id ORDER BY d),
         w14 AS (PARTITION BY user_id ORDER BY d ROWS BETWEEN 13 PRECEDING AND CURRENT ROW),
         w20 AS (PARTITION BY user_id ORDER BY d ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)),
y AS (
  SELECT *, CASE WHEN delta > 0 THEN delta ELSE 0.0 END AS gain,
            CASE WHEN delta < 0 THEN -delta ELSE 0.0 END AS loss
  FROM x),
z AS (
  SELECT *, avg(gain) OVER w14 AS ag, avg(loss) OVER w14 AS al
  FROM y WINDOW w14 AS (PARTITION BY user_id ORDER BY d ROWS BETWEEN 13 PRECEDING AND CURRENT ROW))
SELECT user_id, d, close, high, low, n_events,
       CASE WHEN n14 >= 14 THEN a14 END AS sma_14,
       list_reduce(hist, (acc, v) -> v * (2.0 / 15.0) + acc * (1.0 - 2.0 / 15.0)) AS ema_14,
       CASE WHEN al = 0 THEN 100.0 ELSE 100.0 - 100.0 / (1.0 + ag / al) END AS rsi_14,
       bb_mid
FROM z ORDER BY d"""
    if name == "stockPredictions":
        return (f"SELECT user_id, previous_close, predicted_close, d FROM predictions "
                f"WHERE user_id = {sym} ORDER BY d DESC LIMIT 1")
    if name == "companyNews":
        return (f"SELECT event_id, event_type, value, CAST(ts AS DATE) AS event_date FROM events "
                f"WHERE user_id = {sym} ORDER BY ts DESC, event_id DESC LIMIT 5")
    if name == "newsAnalysis":
        return (f"SELECT user_id, news_count, price_change, price_direction, volatility_score, d "
                f"FROM analysis WHERE user_id = {sym} ORDER BY d DESC LIMIT 30")
    if name == "topGainers":
        return f"{LATEST_CHANGE} ORDER BY pct_change DESC, user_id LIMIT 10"
    if name == "topLosers":
        return f"{LATEST_CHANGE} ORDER BY pct_change ASC, user_id LIMIT 10"
    if name == "marketBehavior":
        return f"SELECT d, avg(close) AS avg_close, count(*) AS n_users FROM ({DAILY}) GROUP BY d ORDER BY d"
    if name == "highVolatility":
        return f"""
WITH v AS (SELECT user_id, d, (high - low) / low * 100 AS pct_range,
                  row_number() OVER (PARTITION BY user_id ORDER BY d DESC) AS rn
           FROM ({DAILY}) WHERE low > 0)
SELECT user_id, d, pct_range FROM v WHERE rn = 1 ORDER BY pct_range DESC, user_id LIMIT 10"""
    if name == "tradingPatterns":
        return f"""
WITH t AS (SELECT user_id, d, close, lag(close, 1) OVER w AS c1, lag(close, 2) OVER w AS c2
           FROM ({DAILY}) WINDOW w AS (PARTITION BY user_id ORDER BY d)),
p AS (SELECT user_id, d,
             CASE WHEN close > c1 AND c1 > c2 THEN 'Bullish Trend'
                  WHEN close < c1 AND c1 < c2 THEN 'Bearish Trend'
                  ELSE 'Neutral' END AS pattern
      FROM t WHERE c1 IS NOT NULL AND c2 IS NOT NULL)
SELECT user_id, d, pattern FROM p WHERE pattern <> 'Neutral'
ORDER BY d DESC, user_id LIMIT 100"""
    raise ValueError(f"unknown view {name}")


def same_cell(a, b):
    if a is None or b is None:
        return a is None and b is None
    if isinstance(a, float) or isinstance(b, float):
        a, b = float(a), float(b)
        return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-9) or (math.isnan(a) and math.isnan(b))
    if isinstance(b, (dt.date, dt.datetime)):
        b = b.isoformat()
    return str(a) == str(b)


def compare(engine_rows, oracle_rows):
    """None when equal, else a one-line description of the first difference."""
    if len(engine_rows) != len(oracle_rows):
        return f"{len(engine_rows)} rows, oracle {len(oracle_rows)}"
    for i, (e, o) in enumerate(zip(engine_rows, oracle_rows)):
        if len(e) != len(o) or not all(same_cell(x, y) for x, y in zip(e, o)):
            return f"row {i}: {e} vs oracle {list(o)}"
    return None


def check_views(data_dir, lake_dir, views, plan):
    """[(name, ok, detail)] for every view the engine returned rows for."""
    import duckdb
    con = duckdb.connect()
    try:
        con.execute("SET TimeZone = 'UTC'")
        con.execute(f"CREATE VIEW events AS SELECT * FROM read_parquet('{data_dir}/events.parquet')")
        for t, sub in (("predictions", "stock_predictions"), ("analysis", "news_stock_analysis")):
            files = os.path.join(lake_dir, sub, "**", "*.parquet")
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{files}', hive_partitioning = true)")
        out = []
        for name, v in views.items():
            sql = view_sql(name, 0, plan["view_start"], plan["view_end"])
            got = con.execute(sql).fetchall()
            diff = compare(v["rows"], got)
            out.append((f"view {name} matches DuckDB", diff is None, diff or f"{len(got)} rows"))
        return out
    finally:
        con.close()
