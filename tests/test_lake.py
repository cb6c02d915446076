"""Lake layout round-trip: staged append → compaction (staging wins) →
integrity audit → gap machinery. FIXTURES.md F1 variants (a)-(c)."""

import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from binance_futures_data_lake_spark.operators.maintenance import audit_klines, gaps_report
from binance_futures_data_lake_spark.sources import lake
from binance_futures_data_lake_spark.sources.synthetic import synthetic_klines_m1


@pytest.fixture()
def tmp_root():
    d = tempfile.mkdtemp(prefix="bfdl_lake_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def test_lake_roundtrip_compact_and_audit(spark, tmp_root):
    df = synthetic_klines_m1(spark, symbols=("AAA", "BBB"), n_minutes=2 * 1440)
    lake.write_canonical(df, tmp_root)

    back = lake.read_lake(spark, tmp_root)
    assert back.count() == 2 * 2 * 1440

    # partition pruning must reach the scan: only AAA/month=1 rows read
    pruned = back.filter((F.col("symbol") == "AAA") & (F.col("month") == 1))
    assert pruned.count() == 2 * 1440

    report = audit_klines(back.drop("year", "month"))
    assert report["ok"], report

    # staged append of an overlapping + corrected slice: staging must win
    patch = (
        df.filter(F.col("open_time_ms") < df.agg(F.min("open_time_ms")).first()[0] + 60 * 60_000)
        .withColumn("close", F.col("close") + 1.0)
    )
    n_patch = patch.count()
    lake.stage_append(patch, tmp_root)
    merged_preview = lake.read_lake(spark, tmp_root, with_staging=True)
    assert merged_preview.count() == 2 * 2 * 1440 + n_patch

    folded = lake.compact_staging(spark, tmp_root)
    assert folded == n_patch
    after = lake.read_lake(spark, tmp_root)
    assert after.count() == 2 * 2 * 1440  # dedup kept one row per key
    # staging version (close+1) won
    orig_first = df.orderBy("open_time_ms").filter(F.col("symbol") == "AAA").first()
    new_first = after.orderBy("open_time_ms").filter(F.col("symbol") == "AAA").first()
    assert abs(new_first["close"] - (orig_first["close"] + 1.0)) < 1e-9

    report2 = audit_klines(after.drop("year", "month"))
    assert report2["ok"], report2


def test_merge_writes_keep_session_overwrite_mode(spark, tmp_root):
    """compact_staging and parquet_upsert replace only the partitions they
    touch, and leave the session's overwrite mode as they found it."""
    from binance_futures_data_lake_spark.streaming.pipeline import parquet_upsert

    conf = "spark.sql.sources.partitionOverwriteMode"
    spark.conf.unset(conf)  # back to the default, whatever ran before
    before = spark.conf.get(conf)
    df = synthetic_klines_m1(spark, symbols=("AAA", "BBB"), n_minutes=120)
    lake.write_canonical(df, tmp_root)
    lake.stage_append(df.filter(F.col("symbol") == "AAA"), tmp_root)
    assert lake.compact_staging(spark, tmp_root) == 120
    assert spark.conf.get(conf) == before
    assert lake.read_lake(spark, tmp_root).count() == 240  # BBB untouched

    path = f"{tmp_root}/upsert"
    for days in (0, 1):
        batch = df.withColumn("bucket_ts", F.col("ts") + F.expr(f"INTERVAL {days} DAY"))
        parquet_upsert(spark, path, batch, ["symbol", "bucket_ts"])
    assert spark.conf.get(conf) == before
    assert spark.read.parquet(path).count() == 480  # day 0 untouched


def test_gap_detection_on_holed_grid(spark, tmp_root):
    df = synthetic_klines_m1(spark, symbols=("AAA",), n_minutes=1440)
    # carve two known holes: minutes [100, 110) and [500, 503)
    t0 = df.agg(F.min("open_time_ms")).first()[0]
    holed = df.filter(
        ~(
            (F.col("open_time_ms") >= t0 + 100 * 60_000)
            & (F.col("open_time_ms") < t0 + 110 * 60_000)
        )
        & ~(
            (F.col("open_time_ms") >= t0 + 500 * 60_000)
            & (F.col("open_time_ms") < t0 + 503 * 60_000)
        )
    )
    report = audit_klines(holed)
    assert not report["ok"]
    assert report["n_missing_grid_rows"] == 13
    g = gaps_report(holed, 1.0)
    assert g["n_gaps"] == 2
    assert g["largest_gap"] == 10
    assert g["total_missing"] == 13


def test_checkpoint_sidecars(tmp_root):
    lake.write_checkpoint(tmp_root, 1700000000000)
    assert lake.read_checkpoint(tmp_root) == 1700000000000
    lake.write_meta(tmp_root, {"symbol": "AAA", "interval": "m1", "anti_lookahead": True})
    assert lake.read_meta(tmp_root)["anti_lookahead"] is True


def test_csv_mirror_roundtrip(spark, tmp_path):
    """S7/S8/S10: CSV mirror write + normalized read + fallback loader."""
    from binance_futures_data_lake_spark.sources.lake import (
        read_csv_normalized, read_table_auto, write_csv_mirror,
    )
    from binance_futures_data_lake_spark.sources.synthetic import synthetic_klines_m1

    root = str(tmp_path / "csvlake")
    m1 = synthetic_klines_m1(spark, symbols=("AAA",), n_minutes=120)
    write_csv_mirror(m1, root)
    back = read_csv_normalized(spark, root + "/csv_mirror", "ts")
    assert back.count() == 120
    assert dict(back.dtypes)["ts"].startswith("timestamp")
    # values survive the round trip (CSV is lossy only beyond double repr)
    a = {r.open_time_ms: round(r.close, 8) for r in m1.select("open_time_ms", "close").collect()}
    b = {r.open_time_ms: round(r.close, 8) for r in back.select("open_time_ms", "close").collect()}
    assert a == b
    # fallback loader picks the csv mirror when no canonical parquet exists
    auto = read_table_auto(spark, root)
    assert auto.count() == 120


def test_csv_epoch_normalization(spark, tmp_path):
    import pandas as pd
    from binance_futures_data_lake_spark.sources.lake import read_csv_normalized

    p = tmp_path / "gates"
    p.mkdir()
    pd.DataFrame({"ts": [1700000000000, 1700000060000], "allow_long": [1, 0]}).to_csv(
        p / "g.csv", index=False
    )
    df = read_csv_normalized(spark, str(p), "ts")
    rows = sorted(r.ts for r in df.collect())
    assert rows[0].year == 2023  # epoch-ms detected, not seconds
    # seconds-scale column normalizes too
    pd.DataFrame({"ts": [1700000000, 1700000060], "allow_long": [1, 0]}).to_csv(
        p / "g.csv", index=False
    )
    df2 = read_csv_normalized(spark, str(p), "ts")
    assert sorted(r.ts for r in df2.collect())[0].year == 2023


# --- fix_meta repair tool (reference fix_meta.py:1-33) ----------------------

def test_fix_meta_repairs_corrupt_sidecar(tmp_path):
    import json
    import os

    from binance_futures_data_lake_spark.operators.maintenance import fix_meta
    from binance_futures_data_lake_spark.sources import lake

    root = str(tmp_path)
    p = os.path.join(root, "_meta.json")
    os.makedirs(root, exist_ok=True)
    with open(p, "w") as f:
        f.write("{not json!!")
    res = fix_meta(root, defaults={"symbol": "BTCUSDT", "exchange": "binance",
                                   "market": "um_futures", "interval": "1m"})
    assert res["repaired"] and os.path.exists(p + ".bak")
    meta = lake.read_meta(root)
    assert meta["symbol"] == "BTCUSDT" and "created_at_utc" in meta
    json.load(open(p))  # valid JSON again


def test_fix_meta_fills_missing_keys_keeps_existing(tmp_path):
    from binance_futures_data_lake_spark.operators.maintenance import fix_meta
    from binance_futures_data_lake_spark.sources import lake

    root = str(tmp_path)
    lake.write_meta(root, {"symbol": "ETHUSDT", "created_at_utc": "2026-01-01T00:00:00+00:00"})
    res = fix_meta(root, defaults={"exchange": "binance"})
    assert res["repaired"] and set(res["missing_before"]) == {"exchange", "market", "interval"}
    meta = lake.read_meta(root)
    assert meta["symbol"] == "ETHUSDT"          # kept
    assert meta["exchange"] == "binance"        # default applied
    assert meta["market"] is None               # visibly unknown, not invented
    assert meta["created_at_utc"] == "2026-01-01T00:00:00+00:00"


def test_fix_meta_noop_when_conformant(tmp_path):
    from binance_futures_data_lake_spark.operators.maintenance import fix_meta
    from binance_futures_data_lake_spark.sources import lake

    root = str(tmp_path)
    lake.write_meta(root, {"symbol": "BTCUSDT", "exchange": "binance",
                           "market": "um_futures", "interval": "1m",
                           "created_at_utc": "2026-01-01T00:00:00+00:00"})
    before = lake.read_meta(root)
    res = fix_meta(root)
    assert not res["repaired"]
    assert lake.read_meta(root) == before


def test_load_events_utc_instants_without_tz_side_effect(spark):
    """A hosting session in a non-UTC zone must not shift event instants —
    and load_events must not mutate the session timezone to achieve it
    (ADVICE r3: the r2 fix repinned the session to UTC as a permanent
    side effect; the NTZ conversion is now tz-independent in-plan via
    convert_timezone('UTC', current_timezone(), ts))."""
    from pyspark.sql import functions as F

    from binance_futures_data_lake_spark.sources.testdata import load_events

    sf = "/root/testdata/sf0.001"
    baseline = (
        load_events(spark, sf).select(F.min(F.unix_micros("ts"))).collect()[0][0]
    )
    old = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        shifted = (
            load_events(spark, sf).select(F.min(F.unix_micros("ts"))).collect()[0][0]
        )
        assert shifted == baseline
        # the session zone the user picked survives load_events untouched
        assert spark.conf.get("spark.sql.session.timeZone") == "America/New_York"
    finally:
        spark.conf.set("spark.sql.session.timeZone", old)
