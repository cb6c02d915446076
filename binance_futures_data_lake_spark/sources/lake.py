"""Partitioned parquet lake: layout, staged append, compaction, merge-write,
checkpoints (SURVEY §2.1 S3-S14).

Reference physical model (src/bfdl/collectors/klines_m1.py:35,146-199;
src/bfdl/transforms/compact_staging.py, aggregate_tf.py:122-179):

    <root>/symbol=S/year=YYYY/month=MM/part-*.parquet     (canonical)
    <root>/_staging/...                                    (append-only)
    <root>/_checkpoint.json                                (high-watermark)

Spark-first redesign rather than translation:

- canonical data is ONE Hive-partitioned dataset written with
  ``partitionBy("symbol","year","month")`` — partition pruning and footer
  min/max skipping are free;
- the reference's per-file staged append + dedup-keep-last + tmp-rename
  trio is an ACID upsert; without Delta in this container we implement it
  as staging-append + merge-compaction using **dynamic partition
  overwrite** (only partitions that received new keys are rewritten —
  at 100 TB a daily merge touches current-month partitions only);
- "keep last" precedence is explicit (``__precedence`` column), fixing the
  reference's order-dependent ``keep="last"`` (SURVEY §7.2);
- checkpoints stay sidecar JSON for parity (a Delta table would subsume).
"""

from __future__ import annotations

import json
import os
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from binance_futures_data_lake_spark.operators.dedup import dedup_keep_last

PARTITION_COLS = ("symbol", "year", "month")


def with_partition_cols(df: DataFrame, ts_col: str = "ts") -> DataFrame:
    """Derive year/month partition columns (klines_m1.py:148-149)."""
    return df.withColumn("year", F.year(ts_col)).withColumn("month", F.month(ts_col))


def canonical_path(root: str) -> str:
    return os.path.join(root, "canonical")


def staging_path(root: str) -> str:
    return os.path.join(root, "_staging")


def write_canonical(df: DataFrame, root: str, mode: str = "overwrite") -> None:
    """Hive-partitioned canonical write (S9 + layout of §1.2).

    An overwrite replaces only the partitions ``df`` holds, whatever the
    session's overwrite mode. Rows land in a staging directory before any
    partition is replaced, so ``df`` may be read from the same lake."""
    (
        with_partition_cols(df)
        .write.mode(mode)
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(*PARTITION_COLS)
        .parquet(canonical_path(root))
    )


def stage_append(df: DataFrame, root: str) -> None:
    """Append-only staged write (S3; klines_m1.py:146-168). File-name
    uniqueness (the reference's utc-ms + nonce) is Spark's task-UUID part
    files — collision-free by construction."""
    (
        with_partition_cols(df)
        .write.mode("append")
        .partitionBy(*PARTITION_COLS)
        .parquet(staging_path(root))
    )


def read_lake(spark: SparkSession, root: str, with_staging: bool = False) -> DataFrame:
    """Recursive scan with partition discovery (S4); staging union optional."""
    canon = canonical_path(root)
    parts = []
    if _exists(spark, canon):
        parts.append(spark.read.parquet(canon))
    if with_staging and _exists(spark, staging_path(root)):
        parts.append(spark.read.parquet(staging_path(root)))
    if not parts:
        raise FileNotFoundError(f"empty lake at {root}")
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p, allowMissingColumns=True)
    return out


def _exists(spark: SparkSession, path: str) -> bool:
    jvm = spark.sparkContext._jvm
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    p = jvm.org.apache.hadoop.fs.Path(path)
    return p.getFileSystem(conf).exists(p)


def compact_staging(
    spark: SparkSession,
    root: str,
    keys: Sequence[str] = ("symbol", "open_time_ms"),
) -> int:
    """Fold staging into canonical with staging-wins dedup
    (compact_staging.py:44-111).

    Only partitions present in staging are rewritten (dynamic partition
    overwrite) — the merge cost is proportional to the NEW data's partition
    span, not the lake size. Returns number of staged rows folded.
    """
    stag = staging_path(root)
    if not _exists(spark, stag):
        return 0
    staged = spark.read.parquet(stag)
    n_staged = staged.count()
    if n_staged == 0:
        return 0
    canon = canonical_path(root)
    if _exists(spark, canon):
        existing = spark.read.parquet(canon)
        # prune: only canonical partitions that staging touches participate
        touched = [
            tuple(r) for r in staged.select(*PARTITION_COLS).distinct().collect()
        ]
        cond = F.lit(False)
        for sym, y, m in touched:
            cond = cond | (
                (F.col("symbol") == sym) & (F.col("year") == y) & (F.col("month") == m)
            )
        overlap = existing.filter(cond)
        merged = overlap.withColumn("__precedence", F.lit(0)).unionByName(
            staged.withColumn("__precedence", F.lit(1))
        )
    else:
        merged = staged.withColumn("__precedence", F.lit(1))
    result = dedup_keep_last(merged, list(keys), ["__precedence"]).drop("__precedence")
    # one output file per (symbol, year, month) — the reference's part-000
    # compaction contract (compact_months.py:13-75)
    (
        result.repartition(*[F.col(c) for c in PARTITION_COLS])
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(*PARTITION_COLS)
        .parquet(canon)
    )
    _delete(spark, stag)
    return n_staged


def _delete(spark: SparkSession, path: str) -> None:
    jvm = spark.sparkContext._jvm
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    p = jvm.org.apache.hadoop.fs.Path(path)
    p.getFileSystem(conf).delete(p, True)


# --- sidecar metadata / checkpoints (S2, S11) ------------------------------

def write_meta(root: str, meta: dict) -> None:
    """_meta.json sidecar (klines_m1.py:187-199, aggregate_tf.py:147-161)."""
    os.makedirs(root, exist_ok=True)
    with open(os.path.join(root, "_meta.json"), "w") as f:
        json.dump(meta, f, indent=2, sort_keys=True)


def read_meta(root: str) -> dict | None:
    p = os.path.join(root, "_meta.json")
    if not os.path.exists(p):
        return None
    with open(p) as f:
        return json.load(f)


def write_checkpoint(root: str, next_start_ms: int, key: str = "next_start_time_ms") -> None:
    """High-watermark checkpoint (klines_m1.py:170-185). Written atomically
    via tmp+rename — the reference's own publish idiom (aggregate_tf.py:177).
    Other keys in the sidecar are preserved (several symbols may share one
    dataset root, each under its own key)."""
    os.makedirs(root, exist_ok=True)
    p = os.path.join(root, "_checkpoint.json")
    state: dict = {}
    if os.path.exists(p):
        with open(p) as f:
            state = json.load(f)
    state[key] = int(next_start_ms)
    tmp = p + ".tmp"
    with open(tmp, "w") as f:
        json.dump(state, f)
    os.replace(tmp, p)


def read_checkpoint(root: str, key: str = "next_start_time_ms") -> int | None:
    p = os.path.join(root, "_checkpoint.json")
    if not os.path.exists(p):
        return None
    with open(p) as f:
        return json.load(f).get(key)


# --- CSV surface (S7 read, S8 multi-format fallback, S10 mirror write) -----

def write_csv_mirror(df: DataFrame, root: str) -> None:
    """S10 (compact_staging.py:97-98, backfill_range.py:93-101): optional
    CSV mirror alongside the canonical parquet. Same partition layout, one
    file per partition; timestamps serialize as ISO-8601 UTC."""
    (
        with_partition_cols(df)
        .repartition(*[F.col(c) for c in PARTITION_COLS])
        .write.mode("overwrite")
        .partitionBy(*PARTITION_COLS)
        .option("header", True)
        .option("timestampFormat", "yyyy-MM-dd'T'HH:mm:ss.SSSXXX")
        .csv(os.path.join(root, "csv_mirror"))
    )


def read_csv_normalized(
    spark: SparkSession,
    path: str,
    ts_col: str = "ts",
) -> DataFrame:
    """S7 (run_sweep_router_v2.py:188-215, audit_regime_cases_v1.py:26-39):
    header CSV read with tolerant timestamp normalization — epoch-ms ints,
    epoch-seconds, and ISO strings all land as TimestampType UTC."""
    df = spark.read.option("header", True).option("inferSchema", True).csv(path)
    if ts_col not in df.columns:
        return df
    dt = dict(df.dtypes)[ts_col]
    c = F.col(ts_col)
    if dt in ("bigint", "int", "double"):
        # epoch-ms if plausibly ms-scale (> 10^11 ≈ 1973 in ms), else seconds
        # (cast to long BEFORE scaling: int·1000 overflows 32-bit)
        cl = c.cast("long")
        ms = F.when(F.abs(cl) > 100_000_000_000, cl).otherwise(cl * 1000)
        df = df.withColumn(ts_col, F.timestamp_millis(ms))
    elif dt == "string":
        df = df.withColumn(ts_col, F.to_timestamp(c))
    return df


def read_table_auto(
    spark: SparkSession,
    root: str,
    ts_col: str = "ts",
) -> DataFrame:
    """S8 (build_m15_direction_regime.py:100-227): parquet-dir-else-CSV
    fallback loader with timestamp normalization."""
    canon = canonical_path(root)
    if _exists(spark, canon):
        return spark.read.parquet(canon)
    csv_root = os.path.join(root, "csv_mirror")
    if _exists(spark, csv_root):
        return read_csv_normalized(spark, csv_root, ts_col)
    if _exists(spark, root):
        try:
            return spark.read.parquet(root)
        except Exception:
            return read_csv_normalized(spark, root, ts_col)
    raise FileNotFoundError(f"no parquet or CSV table at {root}")
