"""Gap detection & consolidation on the time grid (SURVEY §2.4 J6/J7).

Reference: missing minutes via ``pd.date_range(min,max).difference(present)``
(integrity_checks.py:60-64, verify_all.py:291-298, backfill_gaps.py:104-122)
and consolidation of missing minutes into contiguous [start,end] ranges
(gaps_report.py:13-29).

Spark-first: the grid is never generated. A run of missing grid points is
exactly the open interval between two consecutive present buckets, so one
``lag`` over a per-key window on the grid-snapped timestamp yields every
gap directly. ``_with_gaps`` holds that recurrence once; ``missing_ranges``
keeps the gap rows, and ``maintenance.audit_klines`` sums their sizes
inside its one-pass audit. Everything shuffles only on the key column.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _with_gaps(
    df: DataFrame, step_us: int, by: Sequence[str], ts_col: str = "ts"
) -> DataFrame:
    """The gap recurrence: ``df`` plus ``__us`` (``ts_col`` snapped to the
    grid), ``__diff`` (distance to the key's previous snapped bucket) and
    ``__n_missing`` (grid points strictly between the two; null where
    there are none)."""
    w = Window.partitionBy(*by).orderBy("__us")
    step = F.lit(step_us)
    diff = F.col("__us") - F.lag("__us").over(w)
    return (
        df.withColumn("__us", F.floor(F.unix_micros(F.col(ts_col)) / step) * step)
        .withColumn("__diff", diff)
        .withColumn(
            "__n_missing",
            F.when(F.col("__diff") > step, (F.col("__diff") / step).cast("long") - F.lit(1)),
        )
    )


def missing_ranges(
    df: DataFrame,
    step_minutes: int | float,
    by: Sequence[str],
    ts_col: str = "ts",
) -> DataFrame:
    """Consolidate missing grid points into contiguous ranges
    (backfill_gaps.py:104-122 ``_missing_ranges``; gaps_report.py:13-29).

    Output: key cols + gap_start, gap_end, n_missing.

    A run of missing grid points is exactly the open interval between two
    CONSECUTIVE present buckets, so one ``lag`` over the present rows
    yields every range directly: gap = [prev+step, cur−step] wherever
    cur − prev > step. Identical output to the generate-grid + anti-join
    + islands construction (present min/max bound the grid, so there are
    no boundary gaps), but with ONE shuffle (the per-key window) and —
    decisive at 100 TB — no grid materialization: ``sequence()`` over a
    key's [min, max] span emits rows proportional to elapsed TIME
    (a years-sparse key explodes to 500k+ rows regardless of data volume),
    while this shape's cost is proportional to rows present. Timestamps
    snap to the grid first, so duplicate and off-grid inputs degrade to
    bucket semantics rather than breaking the recurrence (duplicate
    buckets produce diff = 0 pairs, which the filter drops).
    """
    step_us = int(step_minutes * 60_000_000)
    return (
        _with_gaps(df.select(*by, ts_col), step_us, by, ts_col)
        .filter(F.col("__n_missing").isNotNull())
        .select(
            *by,
            F.timestamp_micros(F.col("__us") - F.col("__diff") + F.lit(step_us)).alias(
                "gap_start"
            ),
            F.timestamp_micros(F.col("__us") - F.lit(step_us)).alias("gap_end"),
            F.col("__n_missing").alias("n_missing"),
        )
    )
