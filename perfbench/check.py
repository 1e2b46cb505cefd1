"""Output checks, made apart from the program and after its timed ops.

- `oracles`: each registry query's parquet output against DuckDB running
  the query's oracle SQL over the same input parquet. Columns are
  compared by name, rows after sorting, cells exactly, with the column
  kinds (int, float, string, ...) required to agree.
- `etl`: a plain last-writer-wins model of every served document version
  gives the expected store documents, fact rows and weekly averages for a
  seeded sample of tickers, and the dim rows for all of them.
- `quality`: every suite check passes except unique(stg_alphavantage.
  trading_date), which must report violations whenever tickers share
  dates, as the reference's per-column test does.
"""
import datetime as dt
import decimal
import glob
import json
import math
import os
import random

import duckdb
import pandas as pd
import pyarrow.parquet as pq

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def _connect(work):
    con = duckdb.connect()
    con.execute(f"SET temp_directory='{os.path.join(work, 'duckdb-tmp')}'")
    con.execute("SET memory_limit='2GB'")
    con.execute("SET threads=2")
    return con


def _canon(df):
    df = df.reindex(sorted(df.columns), axis=1)
    return df.sort_values(by=list(df.columns), ignore_index=True)


def _cell(x):
    if x is None or (isinstance(x, float) and math.isnan(x)) or str(x) == "NaT":
        return None
    if hasattr(x, "item"):
        x = x.item()
    if isinstance(x, pd.Timestamp):
        x = x.to_pydatetime()
    return x


def _same(spark_df, duck_df):
    s, d = _canon(spark_df), _canon(duck_df)
    if list(s.columns) != list(d.columns):
        return f"columns {list(s.columns)} != {list(d.columns)}"
    if len(s) != len(d):
        return f"rows {len(s)} != {len(d)}"
    for c in s.columns:
        if s[c].dtype.kind != d[c].dtype.kind:
            return f"column {c} kind {s[c].dtype} != {d[c].dtype}"
        for i, (x, y) in enumerate(zip(s[c].tolist(), d[c].tolist())):
            x, y = _cell(x), _cell(y)
            if x != y:
                return f"column {c} row {i}: {x!r} != {y!r}"
    return None


def oracles(input_dir, out_dir, names, work):
    """{query name: None if its output matches the oracle, else why not}."""
    con = _connect(work)
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(input_dir, t + '.parquet')}')")
    with open(os.path.join(out_dir, "oracle_sql.json")) as f:
        sql = json.load(f)
    verdict = {}
    for n in names:
        path = os.path.join(out_dir, n)
        if n not in sql:
            verdict[n] = "no oracle SQL rendered"
        elif not os.path.isdir(path):
            verdict[n] = "no output written"
        else:
            try:
                verdict[n] = _same(pq.read_table(path).to_pandas(), con.execute(sql[n]).df())
            except Exception as e:  # an oracle that cannot run is a failed check
                verdict[n] = f"oracle error: {e}"
    return verdict


# ---- MarketPulse: the reference's model semantics, written out plainly

PROVIDER_TO_CANONICAL = {"BRK-B": "BRK.B"}
COMPANIES = {"AAPL": "Apple Inc.", "MSFT": "Microsoft Corporation",
             "GOOGL": "Alphabet Inc.", "AMZN": "Amazon.com, Inc.",
             "META": "Meta Platforms, Inc.", "NVDA": "NVIDIA Corporation",
             "TSLA": "Tesla, Inc.", "NFLX": "Netflix, Inc.",
             "BRK.B": "Berkshire Hathaway Inc.", "JPM": "JPMorgan Chase & Co."}
TECH = {"AAPL", "MSFT", "GOOGL", "META", "NVDA", "TSLA", "NFLX"}
FINANCIALS = {"BRK.B", "JPM"}


def _sector(s):
    if s in TECH:
        return "Technology"
    if s in FINANCIALS:
        return "Financials"
    return "Consumer Discretionary" if s == "AMZN" else "Other"


def _round2(x):
    """ROUND(x, 2) half-up on the double's shortest decimal form; also
    the neighbouring candidate when x sits on a half-cent boundary, where
    the JVM's decimal form of the double may differ in its last digits."""
    q = decimal.Decimal("0.01")
    exact = float(decimal.Decimal(repr(x)).quantize(q, decimal.ROUND_HALF_UP))
    alt = {float(decimal.Decimal(repr(x + e)).quantize(q, decimal.ROUND_HALF_UP))
           for e in (-1e-9, 1e-9)}
    return exact, alt | {exact}


def _lww(input_dir, served):
    """Per canonical ticker: (meta of the newest version, {date: bar})."""
    def load(sub):
        out = {}
        for p in glob.glob(os.path.join(input_dir, sub, "*.json")):
            prov = os.path.basename(p)[:-5]
            with open(p) as f:
                out[PROVIDER_TO_CANONICAL.get(prov, prov)] = json.load(f)
        return out
    state = {s: (d["Meta Data"], dict(d["Time Series (Daily)"]))
             for s, d in load("history").items()}
    for v in served:
        for s, d in load(os.path.join("refetch", str(v))).items():
            state[s] = (d["Meta Data"], {**state[s][1], **d["Time Series (Daily)"]})
    return state


def etl(input_dir, result, seed, work):
    """Errors in the cycle's final state (empty when it is right)."""
    errors = []
    state = _lww(input_dir, [int(v) for v in result["served"]])
    sample = sorted(random.Random(seed).sample(sorted(state), 4))
    for s in sample:
        meta, series = state[s]
        p = os.path.join(result["store"], f"{s}.json")
        try:
            with open(p) as f:
                doc = json.load(f)
        except OSError as e:
            errors.append(f"store {s}: {e}")
            continue
        if doc.get("Meta Data") != meta or doc.get("Time Series (Daily)") != series:
            errors.append(f"store {s}: document differs from the last-writer-wins model")

    con = _connect(work)
    wh, prefix = result["warehouse"], result["prefix"]

    def table(name, where=""):
        return con.execute(
            f"SELECT * FROM read_parquet('{os.path.join(wh, prefix + '_' + name)}/*.parquet') "
            f"{where}").fetchall()

    dim = {r[0]: r[1:] for r in table("dim_stock")}
    want_dim = {s: (COMPANIES.get(s, "Unknown Company"), _sector(s)) for s in state}
    if dim != want_dim:
        errors.append(f"dim_stock {sorted(dim.items())} != {sorted(want_dim.items())}")

    in_sample = "WHERE symbol IN (" + ", ".join(f"'{s}'" for s in sample) + ")"
    fact = {(r[0], r[3].isoformat()): r for r in table("fact_stock_prices", in_sample)}
    weeks = {}
    for s in sample:
        for d, bar in state[s][1].items():
            o, h, lo, c = (float(bar[k]) for k in ("1. open", "2. high", "3. low", "4. close"))
            v = int(bar["5. volume"])
            got = fact.pop((s, d), None)
            if got is None:
                errors.append(f"fact {s} {d}: missing")
                continue
            chg, chg_ok = _round2(c - o)
            pct, pct_ok = (None, {None}) if o == 0 else _round2((c - o) / o * 100)
            want = (s, COMPANIES.get(s, "Unknown Company"), _sector(s), d, o, h, lo, c, v)
            if (got[0], got[1], got[2], got[3].isoformat(), *got[4:9]) != want \
                    or got[9] not in chg_ok or got[10] not in pct_ok:
                errors.append(f"fact {s} {d}: {got} != {want + (chg, pct)}")
            day = dt.date.fromisoformat(d)
            wk = (s, (day - dt.timedelta(days=day.weekday())).isoformat())
            weeks.setdefault(wk, []).append((c, pct))
    if fact:
        errors.append(f"fact: {len(fact)} rows the model does not have")
    weekly = {(r[0], r[1].isoformat()): r[2:] for r in table("agg_weekly_prices", in_sample)}
    for wk, rows in weeks.items():
        got = weekly.pop(wk, None)
        closes = [c for c, _ in rows]
        pcts = [p for _, p in rows if p is not None]
        want = (sum(closes) / len(closes), sum(pcts) / len(pcts) if pcts else None)
        if got is None or not math.isclose(got[0], want[0], rel_tol=1e-12) or (
                (got[1] is None) != (want[1] is None)) or (
                want[1] is not None and not math.isclose(got[1], want[1], rel_tol=1e-9, abs_tol=1e-12)):
            errors.append(f"agg_weekly_prices {wk}: {got} != {want}")
    if weekly:
        errors.append(f"agg_weekly_prices: {len(weekly)} weeks the model does not have")
    return errors


def quality(outcome):
    """None if one cycle's suite outcome is the required one, else why not.
    The generated tickers always share dates, so the quirk must fire."""
    if outcome is None:
        return "no suite outcome"
    for r in outcome:
        quirk = (r["check"], r["table"], r["column"]) == ("unique", "stg_alphavantage", "trading_date")
        if quirk and r["violations"] == 0:
            return "unique(stg_alphavantage.trading_date) reported no violations"
        if not quirk and r["violations"] != 0:
            return f"{r['check']}({r['table']}.{r['column']}) has {r['violations']} violations"
    return None if len(outcome) == 11 else f"{len(outcome)} checks instead of 11"
