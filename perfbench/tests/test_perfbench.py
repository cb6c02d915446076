"""Self-tests of the benchmark's own helpers.

    python3 -m pytest perfbench/tests -q

The Spark test fills a two-symbol gapped lake through the CLI verbs
(backfill, then one daily cycle) and checks that the generator's
planted counts are exactly what ``audit_klines`` reports through
``cli validate``.
"""

from __future__ import annotations

import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), os.path.dirname(os.path.dirname(HERE))]

import numpy as np  # noqa: E402
import pytest  # noqa: E402

import gen  # noqa: E402
from binance_futures_data_lake_spark.sources.poll import PAGE_LIMIT  # noqa: E402
from spans import Span, self_times  # noqa: E402
from workloads import layer_metrics  # noqa: E402


def _span(i, start, end, parent=None, name="x", it=0, **counts):
    return Span(i, name, "layer", "run", parent, start, end, iteration=it, counts=counts)


def test_self_time_subtracts_children_once():
    spans = [
        _span(0, 0.0, 10.0),
        _span(1, 1.0, 4.0, parent=0),
        _span(2, 3.0, 6.0, parent=0),  # overlaps span 1: 1..6 covered once
        _span(3, 8.0, 12.0, parent=0),  # runs past its parent: 8..10 counts
        _span(4, 2.0, 3.0, parent=1),  # grandchild: only its parent's time
    ]
    got = self_times(spans)
    assert got[0] == pytest.approx(10.0 - 5.0 - 2.0)
    assert got[1] == pytest.approx(3.0 - 1.0)
    assert got[2] == pytest.approx(3.0)
    assert got[3] == pytest.approx(4.0)
    assert got[4] == pytest.approx(1.0)


def test_layer_metrics_median_over_iterations():
    spans = []
    for it, (a, b) in enumerate([(1.0, 2.0), (1.5, 4.0), (2.0, 3.0)]):
        base = len(spans)
        spans.append(_span(base, 0.0, a + b + 0.5, name="wl", it=it))
        spans.append(_span(base + 1, 0.0, a, parent=base, name="cli.collect", it=it,
                           jobs=2, failed_tasks=0, **{"sources.poll.pages": 4}))
        spans.append(_span(base + 2, a, a + b, parent=base, name="cli.collect", it=it,
                           jobs=1, failed_tasks=1))
    m = layer_metrics(spans, "wl")
    assert m["cli.collect_s"] == pytest.approx(5.0)  # median of sums 3.0, 5.5, 5.0
    assert m["bench.harness_self_s"] == pytest.approx(0.5)
    assert m["cli.collect.jobs"] == 3
    assert m["sources.poll.pages"] == 4
    assert m["spark.failed_tasks"] == 3


def test_klines_are_deterministic_and_valid():
    a = gen.day_klines(7, 1, 3)
    b = gen.day_klines(7, 1, 3)
    c = gen.day_klines(8, 1, 3)
    assert all(np.array_equal(a[k], b[k]) for k in a)
    assert not np.array_equal(a["close"], c["close"])
    assert len(a["open"]) == gen.DAY_MIN - gen.GAPS_PER_DAY
    assert (a["low"] <= np.minimum(a["open"], a["close"])).all()
    assert (a["high"] >= np.maximum(a["open"], a["close"])).all()
    assert (a["taker_buy_base"] <= a["volume_base"]).all()
    # decimal strings parse back to the very same doubles
    assert all(float(str(x)) == x for x in a["close"][:100])


def test_fake_exchange_resends_overlap_then_stops():
    ex = gen.FakeExchange(3, ["AAAUSDT"])
    ex.open_day(2)
    start = gen.START_MS + 2 * gen.DAY_MS  # checkpoint after day 1
    page = ex("AAAUSDT", start, PAGE_LIMIT)
    assert len(page) == gen.OVERLAP_MIN + gen.DAY_MIN - gen.GAPS_PER_DAY
    assert page[0][0] == start - gen.OVERLAP_MIN * gen.MIN_MS
    assert page[-1][0] == start + gen.DAY_MS - gen.MIN_MS
    missing = set(range(gen.DAY_MIN)) - {(r[0] - start) // gen.MIN_MS for r in page}
    assert missing == {int(g) for g in gen.gap_minutes(3, 0, 2)}
    assert ex("AAAUSDT", page[-1][0] + 1, PAGE_LIMIT) == []


def test_planted_counts_match_audit(tmp_path):
    from binance_futures_data_lake_spark.session import get_spark
    from workloads import Bench, DailyUpdate
    from spans import Tracer

    spark = get_spark("perfbench-selftest", master="local[2]", shuffle_partitions=2)
    b = Bench(spark, Tracer(spark, "selftest", enabled=False), seed=5, work=str(tmp_path))
    wl = DailyUpdate(b, gen.SYMBOLS[:2], days=2)
    wl.build(b)  # collect + compact days 0 and 1 into the empty lake
    out = wl.iteration(b)  # collect day 2, compact, aggregate, validate
    got = {r["table"]: r["audit"] for r in out["validate"][1]}
    assert got == gen.expected_audit(5, 2, 3)
    assert got["m1"]["n_missing_grid_rows"] == 2 * 3 * gen.GAPS_PER_DAY
    wl.verify(b, out)
    assert b.failed == 0 and b.attempted > 0
