"""Deterministic benchmark inputs, built from the seed alone.

* M1 klines: a pure function of ``(seed, symbol, day)``, so any day of any
  symbol can be generated on its own, in any order, with identical bytes.
  Prices sit on a 1/64 grid and volumes on a 1/1024 grid, so the decimal
  strings a Binance-shaped page carries parse back to the same doubles the
  input lakes hold.
* ``FakeExchange``: a klines transport for ``cli.main(["collect", ...])``.
  Per symbol and cycle it serves one page that re-sends the last hour the
  lake already holds, then the new day with its planted gap minutes
  missing.
* ``expected_*``: the counts the lake must report, computed from the
  planted gaps with plain integer arithmetic, never through the library.
* ``registry_tables``: small documents / embeddings / events tables with
  the sf testdata schemas (TESTDATA.md), for the traced registry pass.
"""

from __future__ import annotations

import os
from collections.abc import Sequence

import numpy as np
import pandas as pd

from binance_futures_data_lake_spark.cli import TF_MINUTES
from binance_futures_data_lake_spark.schemas import KLINE_COLS

MIN_MS = 60_000
DAY_MIN = 1440
DAY_MS = DAY_MIN * MIN_MS
# 2024-01-31T00:00Z: lakes of more than 1 day cross the Jan/Feb boundary
START_MS = 1_706_659_200_000
OVERLAP_MIN = 60
PAGE_ROWS = 1500  # rows per klines page, as Binance serves them
GAPS_PER_DAY = 2
GAP_WINDOW = (240, 1200)  # gap minutes never touch a day edge or the overlap hour

SYMBOLS = (
    "BTCUSDT", "ETHUSDT", "BNBUSDT", "SOLUSDT",
    "XRPUSDT", "ADAUSDT", "DOGEUSDT", "AVAXUSDT",
)

def _grid(x: np.ndarray, steps: int, how=np.round) -> np.ndarray:
    return how(x * steps) / steps


def gap_minutes(seed: int, sym: int, day: int) -> np.ndarray:
    """Sorted minute-of-day offsets missing from ``(sym, day)``."""
    rng = np.random.default_rng([seed, sym, day, 1])
    return np.sort(rng.choice(np.arange(*GAP_WINDOW), GAPS_PER_DAY, replace=False))


def day_klines(seed: int, sym: int, day: int, gaps: bool = True) -> dict[str, np.ndarray]:
    """One UTC day of M1 bars for symbol index ``sym``; ``day`` counts from
    START_MS. Bars keep low <= min(open, close) <= max(open, close) <= high
    and taker <= volume."""
    rng = np.random.default_rng([seed, sym, day])
    u = rng.random((7, DAY_MIN))
    m = day * DAY_MIN + np.arange(DAY_MIN)
    phase = ((seed * 7919 + sym * 104_729) % 6283) / 1000.0
    base = 100.0 * (1 + sym)
    osc = (u[0] - 0.5) * 0.002 + np.sin(m / 240.0) * 0.01 + np.sin(m / 1440.0 + phase) * 0.08
    o = _grid(base * (1 + osc), 64)
    c = _grid(o * (1 + (u[1] - 0.5) * 0.004), 64)
    hi = _grid(np.maximum(o, c) * (1 + u[2] * 0.002), 64, np.ceil)
    lo = _grid(np.minimum(o, c) * (1 - u[3] * 0.002), 64, np.floor)
    vol = _grid(u[4] * 100.0, 1024)
    taker = _grid(vol * u[5], 1024, np.floor)
    mid = (o + c) / 2
    out = {
        "open_time_ms": START_MS + m.astype(np.int64) * MIN_MS,
        "open": o, "high": hi, "low": lo, "close": c,
        "volume_base": vol, "volume_quote": _grid(vol * mid, 1024),
        "n_trades": (u[6] * 500).astype(np.int64) + 1,
        "taker_buy_base": taker, "taker_buy_quote": _grid(taker * mid, 1024),
    }
    if gaps:
        keep = np.ones(DAY_MIN, bool)
        keep[gap_minutes(seed, sym, day)] = False
        out = {k: v[keep] for k, v in out.items()}
    return out


def klines_frame(
    seed: int, symbols: Sequence[str], days: Sequence[int], gaps: bool = True
) -> pd.DataFrame:
    """Canonical 15-column M1 frame for ``symbols`` × ``days``."""
    parts = []
    for s, name in enumerate(symbols):
        for d in days:
            k = day_klines(seed, s, d, gaps)
            df = pd.DataFrame(k)
            df["symbol"] = name
            parts.append(df)
    df = pd.concat(parts, ignore_index=True)
    df["ts"] = pd.to_datetime(df["open_time_ms"], unit="ms", utc=True)
    df["close_time_ms"] = df["open_time_ms"] + MIN_MS - 1
    df["exchange"] = "binance"
    df["market"] = "um_futures"
    return df[KLINE_COLS]


class FakeExchange:
    """Binance-shaped klines endpoint over the generator.

    The exchange's clock is a day index: ``open_day(d)`` makes bars up to
    the end of day ``d`` available. The first request per symbol after each
    ``open_day`` starts ``OVERLAP_MIN`` minutes before the requested start
    time, the way a client that re-fetches its last hour sees it."""

    def __init__(self, seed: int, symbols: Sequence[str]):
        self.seed = seed
        self.index = {s: i for i, s in enumerate(symbols)}
        self.end_ms = START_MS
        self._resent: set[str] = set()

    def open_day(self, day: int) -> None:
        self.end_ms = START_MS + (day + 1) * DAY_MS
        self._resent.clear()

    def __call__(self, symbol: str, start_ms: int | None, limit: int):
        start = START_MS if start_ms is None else int(start_ms)
        if symbol not in self._resent:
            self._resent.add(symbol)
            start -= OVERLAP_MIN * MIN_MS
        first = max(0, (start - START_MS) // DAY_MS)
        last = (self.end_ms - 1 - START_MS) // DAY_MS
        rows: list[list] = []
        for d in range(first, last + 1):
            k = day_klines(self.seed, self.index[symbol], d)
            t = k["open_time_ms"]
            sel = np.nonzero((t >= start) & (t < self.end_ms))[0]
            for i in sel[: limit - len(rows)]:
                rows.append([
                    int(t[i]), str(k["open"][i]), str(k["high"][i]), str(k["low"][i]),
                    str(k["close"][i]), str(k["volume_base"][i]), int(t[i]) + MIN_MS - 1,
                    str(k["volume_quote"][i]), int(k["n_trades"][i]),
                    str(k["taker_buy_base"][i]), str(k["taker_buy_quote"][i]), "0",
                ])
            if len(rows) >= limit:
                break
        return rows


def expected_cycle(n_symbols: int, n_days: int = 1, resent: bool = True) -> dict:
    """What one collect + compact of ``n_days`` new days must report; a
    lake that already holds days is re-sent its last hour."""
    per_symbol = (OVERLAP_MIN if resent else 0) + n_days * (DAY_MIN - GAPS_PER_DAY)
    return {
        # the pages that carry rows, then the empty page that stops
        "pages": n_symbols * (-(-per_symbol // PAGE_ROWS) + 1),
        "rows_staged": n_symbols * per_symbol,
        "rows_folded": n_symbols * per_symbol,
        "dup_rows_dropped": n_symbols * OVERLAP_MIN if resent else 0,
    }


def expected_audit(seed: int, n_symbols: int, n_days: int) -> dict[str, dict]:
    """``audit_klines`` report per table for a gapped lake holding days
    ``0 .. n_days-1`` of ``n_symbols`` symbols, after ``aggregate``."""
    out = {}
    for table, n in (("m1", 1), *TF_MINUTES.items()):
        missing = 0
        for s in range(n_symbols):
            buckets = set()
            for d in range(n_days):
                for g in gap_minutes(seed, s, d):
                    buckets.add((d * DAY_MIN + int(g)) // n)
            missing += len(buckets)
        grid = n_symbols * n_days * DAY_MIN // n
        out[table] = {
            "n_rows": grid - missing,
            "expected_rows": grid,
            "n_duplicate_keys": 0,
            "n_non_monotonic": 0,
            "n_off_grid_steps": 0,
            "n_missing_grid_rows": missing,
            "n_ts_mismatch": 0,
            "n_bar_invariant_violations": 0,
            "ok": missing == 0,
        }
    return out


# --- registered-query inputs ---------------------------------------------

_VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
_LANGS = ("en", "zh", "es", "fr", "de")
_LANG_P = (0.41, 0.15, 0.15, 0.15, 0.14)
_EVENT_TYPES = ("signup", "purchase", "view", "click", "error")


def registry_tables(seed: int, out_dir: str, n_docs: int, n_vecs: int, n_events: int) -> None:
    """Write documents / embeddings / events parquet files shaped like the
    sf testdata (TESTDATA.md): a 30-word vocabulary with 5% planted
    near-duplicate documents, 64-d unit vectors around 10 label centroids,
    and a 30-day event stream."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng([seed, 99])
    os.makedirs(out_dir, exist_ok=True)

    texts = []
    for i in range(n_docs):
        if i > 10 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            n = int(rng.integers(10, 101))
            texts.append(" ".join(_VOCAB[j] for j in rng.integers(0, len(_VOCAB), n)))
    docs = pa.table({
        "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array([_LANGS[j] for j in rng.choice(5, n_docs, p=_LANG_P)]),
        "source": pa.array([f"src{j}" for j in rng.integers(0, 20, n_docs)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })
    pq.write_table(docs, os.path.join(out_dir, "documents.parquet"))

    labels = rng.integers(0, 10, n_vecs).astype(np.int32)
    cent = rng.normal(size=(10, 64))
    vec = 0.3 * cent[labels] + rng.normal(size=(n_vecs, 64))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    emb = pa.table({
        "vec_id": pa.array(np.arange(n_vecs, dtype=np.int64)),
        "embedding": pa.array(list(vec), type=pa.list_(pa.float32())),
        "label": pa.array(labels),
    })
    pq.write_table(emb, os.path.join(out_dir, "embeddings.parquet"))

    t0_us = 1_704_067_200_000_000  # 2024-01-01T00:00Z
    ts = np.sort(rng.integers(0, 30 * 86_400_000_000, n_events)) + t0_us
    value = np.round(rng.exponential(50.0, n_events), 2)
    value[rng.random(n_events) < 0.001] = 0.0
    ev = pa.table({
        "event_id": pa.array(np.arange(n_events, dtype=np.int64)),
        "ts": pa.array(ts, type=pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 1500, n_events).astype(np.int64)),
        "event_type": pa.array([_EVENT_TYPES[j] for j in rng.integers(0, 5, n_events)]),
        "value": pa.array(value),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)]),
    })
    pq.write_table(ev, os.path.join(out_dir, "events.parquet"))
