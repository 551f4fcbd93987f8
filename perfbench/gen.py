"""Seeded input generators for the benchmark.

Everything here is a pure function of its arguments: the same seed (and,
for the pipeline, the same anchor time) gives byte-identical files. The
program under test only ever sees the generated files and payloads.

- `write_corpus` writes the ten tables the registry queries read, with
  the shapes and value ranges of the testdata described in TESTDATA.md.
- `PollFeed` plays the REST API side of the pipeline: each poll returns
  the latest bars of every symbol as Alpha-Vantage-shaped JSON.
- `bus_lines` turns one cycle's wire messages into a bus file, adding
  redelivered messages.
"""

from __future__ import annotations

import json
import os
from datetime import datetime, timedelta

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "a agg batch big column customer data dup fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
LANGS = ("en", "zh", "es", "fr", "de")
LANG_P = (0.41, 0.15, 0.15, 0.15, 0.14)
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
PART_WORDS = ("small", "red", "blue", "big", "green", "steel")
PART_NOUNS = ("ring", "widget", "bolt", "gear", "pipe", "valve")
PART_TYPES = ("ECONOMY", "SMALL", "STANDARD", "LARGE", "PROMO")


def _ts(values) -> pa.Array:
    return pa.array(np.asarray(values, dtype="datetime64[us]"), pa.timestamp("us"))


def _days(rng, lo: str, hi: str, n: int) -> np.ndarray:
    span = (np.datetime64(hi, "D") - np.datetime64(lo, "D")).astype(int)
    return np.datetime64(lo, "D") + rng.integers(0, span + 1, n)


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def corpus_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """The testdata tables at scale factor `sf` (1.0 = 6M lineitem rows)."""
    rng = np.random.default_rng([seed, 1])
    n_cust = max(150, round(150_000 * sf))
    n_supp = max(10, round(10_000 * sf))
    n_part = max(200, round(200_000 * sf))
    n_ord = max(1_500, round(1_500_000 * sf))
    n_line = max(6_000, round(6_000_000 * sf))
    n_ev = max(1_000, round(1_000_000 * sf))
    n_users = max(150, round(15_000 * sf))
    n_docs = max(500, round(50_000 * sf))
    n_vecs = max(500, round(20_000 * sf))
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": list(REGIONS),
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    t["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust),
    })
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    t["part"] = pa.table({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [
            f"{PART_WORDS[a]} {PART_NOUNS[b]}"
            for a, b in rng.integers(0, 6, (n_part, 2))
        ],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(PART_TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 2),
    })
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": rng.choice(("F", "O", "P"), n_ord),
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
        "o_orderdate": _ts(_days(rng, "1995-01-01", "2001-08-01", n_ord)),
        "o_orderpriority": rng.choice(PRIORITIES, n_ord),
    })
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_line),
        "l_partkey": rng.integers(0, n_part, n_line),
        "l_suppkey": rng.integers(0, n_supp, n_line),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105_000.0, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100,
        "l_tax": rng.integers(0, 9, n_line) / 100,
        "l_returnflag": rng.choice(("A", "N", "R"), n_line),
        "l_linestatus": rng.choice(("F", "O"), n_line),
        "l_shipdate": _ts(_days(rng, "1995-01-02", "2001-11-04", n_line)),
    })
    # strictly increasing microsecond timestamps over 30 days: ts is
    # unique per user, which the registry's window orderings rely on
    gaps = rng.exponential(1.0, n_ev)
    micros = np.floor(np.cumsum(gaps) / gaps.sum() * 30 * 86_400e6 * 0.9999)
    micros = micros.astype(np.int64) + np.arange(n_ev)
    t["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": _ts(np.datetime64("2024-01-01", "us") + micros),
        "user_id": rng.integers(0, n_users, n_ev),
        "event_type": rng.choice(EVENT_TYPES, n_ev),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    n_words = rng.integers(8, 100, n_docs)
    texts = [" ".join(rng.choice(VOCAB, k)) for k in n_words]
    # a few exact duplicates, as in the testdata (8 in 5000)
    for i in rng.choice(n_docs, max(1, n_docs // 600), replace=False):
        texts[i] = texts[(i + 1) % n_docs]
    t["documents"] = pa.table({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, n_docs, p=LANG_P),
        "source": [f"src{i % 5}" for i in range(n_docs)],
        "n_chars": np.array([len(x) for x in texts], dtype=np.int64),
    })
    vecs = rng.standard_normal((n_vecs, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": np.arange(n_vecs, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_vecs), pa.int32()),
    })
    return t


def write_corpus(out_dir: str, seed: int, sf: float) -> None:
    """Write `corpus_tables` as `<out_dir>/<table>.parquet`, one file each."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in corpus_tables(seed, sf).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


BAR = timedelta(minutes=5)
SERIES_KEY = "Time Series (5min)"


def anchor_for(now: datetime) -> datetime:
    """The newest bar time for a run started at `now`: the previous UTC
    midnight. Bars then lie a few days before the run's start on any
    calendar date, inside the 30-day retention gate, and every run on
    one day gets the same timestamps."""
    return now.replace(hour=0, minute=0, second=0, microsecond=0, tzinfo=None)


class PollFeed:
    """Alpha-Vantage-shaped REST responses for `symbols` tickers.

    Poll `c` returns, per symbol, the latest `bars_per_poll` five-minute
    bars, of which the newest `new_per_poll` were not in poll `c - 1`.
    The newest bar of the last poll is at `anchor`. Bar values are a
    per-symbol random walk fixed by the seed, so a bar returned by
    several polls is identical each time. A seeded share of responses
    are malformed: the API's rate-limit note, or a truncated body. A
    symbol never gets two malformed responses in a row, so the bars a
    malformed poll misses arrive with the symbol's next poll.
    """

    def __init__(self, seed: int, symbols: int, bars_per_poll: int,
                 new_per_poll: int, polls: int, anchor: datetime,
                 malformed_share: float) -> None:
        self.seed, self.symbols, self.polls = seed, symbols, polls
        self.bars_per_poll, self.new_per_poll = bars_per_poll, new_per_poll
        self.anchor = anchor
        self.total_bars = bars_per_poll + (polls - 1) * new_per_poll
        rng = np.random.default_rng([seed, 2])
        start = rng.uniform(20.0, 400.0, (symbols, 1))
        steps = rng.normal(0.0, 0.002, (symbols, self.total_bars))
        close = start * np.exp(np.cumsum(steps, axis=1))
        prev = np.concatenate([close[:, :1], close[:, :-1]], axis=1)
        self._fields = [  # formatted as the API sends them
            np.char.mod("%.4f", np.round(a, 4))
            for a in (prev, np.maximum(close, prev) * 1.001,
                      np.minimum(close, prev) * 0.999, close)
        ]
        self._volume = rng.integers(1_000, 200_000, (symbols, self.total_bars))
        bad = rng.random((polls, symbols)) < malformed_share
        bad[0] = False
        for c in range(1, polls):
            bad[c] &= ~bad[c - 1]
        self.bad = bad
        self._trunc = rng.random((polls, symbols)) < 0.5

    def symbol(self, s: int) -> str:
        return f"SYM{s:03d}"

    def bar_time(self, i: int) -> datetime:
        return self.anchor - (self.total_bars - 1 - i) * BAR

    def end(self, s: int, c: int) -> int:
        """Bars of symbol `s` delivered by polls 0..c (a prefix)."""
        while self.bad[c, s]:
            c -= 1
        return self.bars_per_poll + c * self.new_per_poll

    def _bar(self, s: int, i: int) -> dict:
        o, h, lo, cl = (f[s, i] for f in self._fields)
        return {"1. open": str(o), "2. high": str(h), "3. low": str(lo),
                "4. close": str(cl), "5. volume": str(int(self._volume[s, i]))}

    def payloads(self, c: int) -> list[tuple[str, str]]:
        """Poll `c`: one (symbol, response body) per symbol."""
        stop = self.bars_per_poll + c * self.new_per_poll
        out = []
        for s in range(self.symbols):
            series = {
                self.bar_time(i).strftime("%Y-%m-%d %H:%M:%S"): self._bar(s, i)
                for i in range(stop - 1, stop - 1 - self.bars_per_poll, -1)
            }
            body = json.dumps({SERIES_KEY: series})
            if self.bad[c, s]:
                body = body[: len(body) // 3] if self._trunc[c, s] else json.dumps(
                    {"Note": "API call frequency is 5 calls per minute."})
            out.append((self.symbol(s), body))
        return out

    def expected_keys(self, c: int) -> set[tuple[str, datetime]]:
        """The unique (symbol, timestamp) keys delivered by polls 0..c."""
        return {
            (self.symbol(s), self.bar_time(i))
            for s in range(self.symbols)
            for i in range(self.end(s, c))
        }

    def bars(self, s: int, first: int, stop: int) -> list[tuple]:
        """Bars first..stop-1 of symbol `s` as (timestamp, symbol, open,
        high, low, close, volume), with the values the payloads carry."""
        return [
            (self.bar_time(i), self.symbol(s),
             *(float(f[s, i]) for f in self._fields), int(self._volume[s, i]))
            for i in range(first, stop)
        ]


def bus_lines(
    messages: list[str], history: list[str], seed: int, cycle: int, dup_share: float
) -> tuple[list[str], int]:
    """One cycle's bus file: the cycle's wire `messages` plus
    round(dup_share * len(messages)) redeliveries drawn from `history`
    (messages of earlier cycles, which the stream's state must drop
    across a restart) and from this cycle; shuffled. Returns (lines,
    number of redeliveries)."""
    rng = np.random.default_rng([seed, 4, cycle])
    msgs = sorted(messages)
    pool = sorted(history) + msgs
    n_dup = round(dup_share * len(msgs))
    dups = [pool[i] for i in rng.choice(len(pool), n_dup, replace=False)]
    lines = msgs + dups
    return [lines[i] for i in rng.permutation(len(lines))], n_dup
