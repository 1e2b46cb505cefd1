"""Seeded input generators for the benchmark's workloads.

Every generator takes a numpy Generator built from the run's --seed, so
the same seed writes byte-identical inputs. The program under test only
ever sees the files written here.

- `fixture(dir, rng, sf, ...)`: the ten-table star schema plus events,
  documents and embeddings, in the column layout of the repository's
  parquet fixtures (pyarrow writes, one row group, snappy).
- `provider_docs(dir, rng, ...)`: Alpha Vantage-shaped JSON documents for
  the MarketPulse cycle: one full-history document per ticker and a
  series of refetch versions that restate the most recent bars.
"""
import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch").split()
LANGS = np.array(["en", "zh", "de", "es", "fr"])
LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]
SEGMENTS = np.array(["MACHINERY", "AUTOMOBILE", "BUILDING", "HOUSEHOLD", "FURNITURE"])
PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
PART_TYPES = np.array(["LARGE", "ECONOMY", "STANDARD", "PROMO", "SMALL", "MEDIUM"])
PART_ADJ = np.array(["blue", "cold", "hot", "red", "small", "new", "old", "large"])
PART_NOUN = np.array(["ring", "plate", "gear", "rod", "bolt", "anvil", "widget"])
EVENT_TYPES = np.array(["signup", "click", "error", "view", "purchase"])
FLAGS = np.array([("A", "O"), ("N", "F"), ("N", "O"), ("A", "F"), ("R", "O"), ("R", "F")])

# The reference pipeline's ten tickers; BRK.B is requested and returned
# under the provider alias BRK-B.
TICKERS = ["AAPL", "MSFT", "GOOGL", "AMZN", "META", "NVDA", "TSLA", "BRK.B", "JPM", "V"]
PROVIDER = {"BRK.B": "BRK-B"}


def _write(dir_, name, cols):
    pq.write_table(pa.table(cols), os.path.join(dir_, f"{name}.parquet"),
                   compression="snappy")


def _days(rng, n, start, end):
    """n random midnights in [start, end], as numpy datetime64[us]."""
    span = (np.datetime64(end) - np.datetime64(start)).astype(int)
    d = np.datetime64(start) + rng.integers(0, span + 1, n).astype("timedelta64[D]")
    return d.astype("datetime64[us]")


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def _texts(rng, n):
    lens = rng.integers(10, 101, n)
    idx = rng.integers(0, len(WORDS), lens.sum())
    out, pos = [], 0
    for k in lens:
        out.append(" ".join(WORDS[i] for i in idx[pos:pos + k]))
        pos += k
    return out


def _documents(dir_, rng, n):
    texts = _texts(rng, n)
    # 5% exact-prefix duplicates, as in the repository fixtures: another
    # document's text with " dup" appended
    dup = np.flatnonzero(rng.random(n) < 0.05)
    src = rng.integers(0, n, len(dup))
    for i, j in zip(dup, src):
        if i != j:
            texts[i] = texts[j] + " dup"
    _write(dir_, "documents", {
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(LANGS[rng.choice(5, n, p=LANG_P)]),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })


def _embeddings(dir_, rng, n):
    vecs = rng.standard_normal((n, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    _write(dir_, "embeddings", {
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n).astype(np.int32)),
    })


def relational(dir_, rng, sf):
    """region, nation, customer, supplier, part, orders, lineitem, events."""
    _write(dir_, "region", {
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]),
    })
    _write(dir_, "nation", {
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32)),
    })
    nc, ns, np_, no, nl = (int(150000 * sf), int(10000 * sf), int(200000 * sf),
                           int(1500000 * sf), int(6000000 * sf))
    _write(dir_, "customer", {
        "c_custkey": pa.array(np.arange(nc, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(nc)]),
        "c_nationkey": pa.array(rng.integers(0, 25, nc).astype(np.int32)),
        "c_acctbal": pa.array(_money(rng, nc, -999.99, 9999.99)),
        "c_mktsegment": pa.array(SEGMENTS[rng.integers(0, 5, nc)]),
    })
    _write(dir_, "supplier", {
        "s_suppkey": pa.array(np.arange(ns, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(ns)]),
        "s_nationkey": pa.array(rng.integers(0, 25, ns).astype(np.int32)),
        "s_acctbal": pa.array(_money(rng, ns, -999.99, 9999.99)),
    })
    _write(dir_, "part", {
        "p_partkey": pa.array(np.arange(np_, dtype=np.int64)),
        "p_name": pa.array(np.char.add(np.char.add(PART_ADJ[rng.integers(0, 8, np_)], " "),
                                       PART_NOUN[rng.integers(0, 7, np_)])),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, np_)]),
        "p_type": pa.array(PART_TYPES[rng.integers(0, 6, np_)]),
        "p_size": pa.array(rng.integers(1, 51, np_).astype(np.int32)),
        "p_retailprice": pa.array(np.round(900 + (np.arange(np_) % 1000) * 0.1, 2)),
    })
    _write(dir_, "orders", {
        "o_orderkey": pa.array(np.arange(no, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, nc, no).astype(np.int64)),
        "o_orderstatus": pa.array(np.array(["O", "P", "F"])[rng.integers(0, 3, no)]),
        "o_totalprice": pa.array(_money(rng, no, 1000, 500000)),
        "o_orderdate": pa.array(_days(rng, no, "1995-01-01", "2001-08-01")),
        "o_orderpriority": pa.array(PRIORITIES[rng.integers(0, 5, no)]),
    })
    flags = FLAGS[rng.integers(0, 6, nl)]
    _write(dir_, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, no, nl).astype(np.int64)),
        "l_partkey": pa.array(rng.integers(0, np_, nl).astype(np.int64)),
        "l_suppkey": pa.array(rng.integers(0, ns, nl).astype(np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, nl).astype(np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, nl).astype(np.float64)),
        "l_extendedprice": pa.array(_money(rng, nl, 900, 105000)),
        "l_discount": pa.array(rng.integers(0, 11, nl) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, nl) / 100.0),
        "l_returnflag": pa.array(flags[:, 0]),
        "l_linestatus": pa.array(flags[:, 1]),
        "l_shipdate": pa.array(_days(rng, nl, "1995-01-02", "2001-11-04")),
    })
    ne, users = int(1000000 * sf), max(15, int(15000 * sf))
    start = np.datetime64("2024-01-01T00:00:00", "us")
    ts = start + np.sort(rng.integers(0, 30 * 86400 * 10**6, ne)).astype("timedelta64[us]")
    _write(dir_, "events", {
        "event_id": pa.array(np.arange(ne, dtype=np.int64)),
        "ts": pa.array(ts),
        "user_id": pa.array(rng.integers(0, users, ne).astype(np.int64)),
        "event_type": pa.array(EVENT_TYPES[rng.integers(0, 5, ne)]),
        "value": pa.array(np.round(rng.exponential(50.0, ne), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)]),
    })


def fixture(dir_, rng, sf, n_docs, n_vecs):
    """The query_mix inputs: every table at scale factor `sf`."""
    os.makedirs(dir_, exist_ok=True)
    relational(dir_, rng, sf)
    _documents(dir_, rng, n_docs)
    _embeddings(dir_, rng, n_vecs)


def _trading_days(end, n):
    days, d = [], dt.date.fromisoformat(end)
    while len(days) < n:
        if d.weekday() < 5:
            days.append(d.isoformat())
        d -= dt.timedelta(days=1)
    return days[::-1]


def _bars(rng, closes):
    """OHLCV bars as the provider's strings around the given closes."""
    out = []
    for c in closes:
        o = max(0.01, c * (1 + rng.normal(0, 0.01)))
        hi, lo = max(o, c) * (1 + abs(rng.normal(0, 0.005))), min(o, c) * (1 - abs(rng.normal(0, 0.005)))
        out.append({"1. open": f"{o:.4f}", "2. high": f"{hi:.4f}", "3. low": f"{lo:.4f}",
                    "4. close": f"{c:.4f}", "5. volume": str(int(rng.integers(10**5, 5 * 10**7)))})
    return out


def _document(symbol, dates, bars, refreshed, size):
    return {
        "Meta Data": {
            "1. Information": "Daily Prices (open, high, low, close) and Volumes",
            "2. Symbol": PROVIDER.get(symbol, symbol),
            "3. Last Refreshed": refreshed,
            "4. Output Size": size,
            "5. Time Zone": "US/Eastern",
        },
        # newest first, as the provider serves it
        "Time Series (Daily)": {d: b for d, b in sorted(zip(dates, bars), reverse=True)},
    }


def provider_docs(dir_, rng, n_days, refetch_days, versions):
    """history/<provider>.json: the full history per ticker (the first
    landing). refetch/<v>/<provider>.json for v in 1..versions: the most
    recent `refetch_days` bars restated with new values, one set per
    cycle in serving order. tickers.json: the canonical symbols."""
    days = _trading_days("2025-10-17", n_days)
    recent = days[-refetch_days:]
    for sub in ["history"] + [f"refetch/{v}" for v in range(1, versions + 1)]:
        os.makedirs(os.path.join(dir_, sub), exist_ok=True)
    for s in TICKERS:
        walk = np.cumsum(rng.normal(0, 0.015, n_days))
        closes = float(rng.uniform(20, 600)) * np.exp(walk)
        doc = _document(s, days, _bars(rng, closes), days[-1], "Full size")
        with open(os.path.join(dir_, "history", f"{PROVIDER.get(s, s)}.json"), "w") as f:
            json.dump(doc, f)
        for v in range(1, versions + 1):
            restated = closes[-refetch_days:] * (1 + rng.normal(0, 0.01, refetch_days))
            doc = _document(s, recent, _bars(rng, restated), f"{days[-1]} v{v}", "Compact")
            with open(os.path.join(dir_, "refetch", str(v), f"{PROVIDER.get(s, s)}.json"), "w") as f:
                json.dump(doc, f)
    with open(os.path.join(dir_, "tickers.json"), "w") as f:
        json.dump(TICKERS, f)
