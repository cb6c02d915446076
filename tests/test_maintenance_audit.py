"""``audit_klines`` report pinned field by field (FIXTURES.md F1 variants).

Each defect class the audit checks is planted once in a 2-symbol M1 frame,
so every counter has a known value; a clean derived frame and a frame
without OHLC columns pin the step and the ``None`` contract. The last case
pins the audit to one pass: a handful of Spark jobs per table.
"""

import pytest
from pyspark.sql import functions as F

from binance_futures_data_lake_spark.operators.maintenance import audit_klines
from binance_futures_data_lake_spark.operators.resample import resample_bars
from binance_futures_data_lake_spark.sources.synthetic import synthetic_klines_m1

N_MIN = 600
MIN_MS = 60_000


@pytest.fixture(scope="module")
def m1(spark):
    return synthetic_klines_m1(spark, symbols=("AAA", "BBB"), n_minutes=N_MIN)


def _t(i: int):
    """open_time_ms of the i-th minute of the generated grid."""
    return F.unix_millis(F.lit("2024-01-01 00:00:00").cast("timestamp")) + i * MIN_MS


def _minute(i: int):
    return F.col("open_time_ms") == _t(i)


def _planted(m1):
    aaa = m1.filter(F.col("symbol") == "AAA")
    bbb = m1.filter(F.col("symbol") == "BBB")
    # AAA: a 10-minute hole at minutes [100, 110) and minute 200 three times
    aaa = aaa.filter(~F.col("open_time_ms").between(_t(100), _t(109)))
    triple = aaa.filter(_minute(200))
    aaa = aaa.unionByName(triple).unionByName(triple)
    # BBB: minute 300 shifted 30 s off the grid (ts moves with it),
    # minute 400 with ts one second after open_time_ms, minute 500 with
    # low above the body
    shifted = _minute(300)
    bbb = (
        bbb.withColumn(
            "ts",
            F.when(shifted, F.col("ts") + F.expr("INTERVAL 30 SECONDS"))
            .when(_minute(400), F.col("ts") + F.expr("INTERVAL 1 SECOND"))
            .otherwise(F.col("ts")),
        )
        .withColumn(
            "open_time_ms",
            F.when(shifted, F.col("open_time_ms") + 30_000).otherwise(F.col("open_time_ms")),
        )
        .withColumn(
            "low", F.when(_minute(500), F.col("high") + 1.0).otherwise(F.col("low"))
        )
    )
    return aaa.unionByName(bbb)


def _report(n_rows: int, expected_rows: int, ok: bool, **counts) -> dict:
    """A full audit report: every defect counter 0 unless given."""
    zero = dict.fromkeys(
        ["n_duplicate_keys", "n_non_monotonic", "n_off_grid_steps",
         "n_missing_grid_rows", "n_ts_mismatch", "n_bar_invariant_violations"], 0
    )
    return {"n_rows": n_rows, "expected_rows": expected_rows, **zero, **counts, "ok": ok}


def test_audit_report_on_planted_defects(m1):
    assert audit_klines(_planted(m1)) == _report(
        2 * N_MIN - 10 + 2, 2 * N_MIN, False,
        n_duplicate_keys=1,  # one key, however many copies
        n_non_monotonic=2,  # the two extra copies
        n_off_grid_steps=2,  # into and out of the shifted row
        n_missing_grid_rows=10,  # the shifted row snaps back onto its minute
        n_ts_mismatch=1,
        n_bar_invariant_violations=1,
    )


def test_audit_report_on_clean_frames(m1):
    assert audit_klines(m1) == _report(2 * N_MIN, 2 * N_MIN, True)
    m5 = resample_bars(m1, 5)
    assert audit_klines(m5, step_ms=5 * MIN_MS) == _report(2 * N_MIN // 5, 2 * N_MIN // 5, True)
    # the same M5 bars read as M1 miss four minutes between every pair
    assert audit_klines(m5)["n_missing_grid_rows"] == 2 * (N_MIN // 5 - 1) * 4


def test_audit_without_ohlc_reports_no_bar_check(m1):
    keys = m1.select("symbol", "ts", "open_time_ms").filter(~_minute(7))
    assert audit_klines(keys) == _report(
        2 * N_MIN - 2, 2 * N_MIN, False, n_missing_grid_rows=2, n_bar_invariant_violations=None
    )


def test_audit_is_one_pass(spark, m1, tmp_path):
    path = str(tmp_path / "planted")
    _planted(m1).write.parquet(path)
    df = spark.read.parquet(path)
    sc = spark.sparkContext
    group = "audit-one-pass"
    sc.setJobGroup(group, "audit_klines")
    try:
        rep = audit_klines(df)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert rep["n_missing_grid_rows"] == 10
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert len(jobs) <= 4, f"{len(jobs)} jobs for one audit"
