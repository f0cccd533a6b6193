"""Rolling and cumulative window frames (SURVEY.md W8/W9).

The reference emits, per player time-series, the same metric under
rolling frames (k preceding .. current) and a cumulative frame
(unbounded preceding .. current) — frontend/generate_lookup_data.sh:734-775.
Here generalized: given (key, order) and a metric->agg spec, emit one
column per (metric, frame).

Determinism: callers must pass ``order_cols`` that form a total order
(include a unique key) — ROWS frames over a partial order are
nondeterministic under shuffle.

Scale: all frames share ONE window spec → Spark evaluates them in a
single sort+scan per partition; no repeated shuffles.
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

_AGGS = {
    "sum": F.sum,
    "avg": F.avg,
    "min": F.min,
    "max": F.max,
    "count": F.count,
}


def _window(key_cols: Sequence[str], order_cols: Sequence[str]):
    return Window.partitionBy(*key_cols).orderBy(*[F.col(c).asc() for c in order_cols])


def _norm_metrics(metrics) -> list[tuple[str, str]]:
    if isinstance(metrics, Mapping):
        return list(metrics.items())
    return list(metrics)


def _with_frames(df: DataFrame, w, metrics, sfx: str) -> DataFrame:
    """One ``{metric}_{agg}_{sfx}`` column per metric over window ``w``,
    added in ONE projection: a withColumn chain re-analyzes the whole
    plan once per column, which dominated driver build time for the
    36-column report series."""
    cols: dict[str, Column] = {
        f"{metric}_{agg}_{sfx}": _AGGS[agg](F.col(metric)).over(w)
        for metric, agg in _norm_metrics(metrics)
    }
    return df.withColumns(cols)


def rolling_frames(
    df: DataFrame,
    key_cols: Sequence[str],
    order_cols: Sequence[str],
    metrics: Mapping[str, str] | Sequence[tuple[str, str]],
    preceding: int,
    suffix: str | None = None,
) -> DataFrame:
    """Add rolling-frame columns ``{metric}_{agg}_roll{k}`` (k rows back + current).

    ``metrics``: mapping metric->agg, or sequence of (metric, agg) pairs
    (allowing several aggs of one metric).
    """
    sfx = suffix if suffix is not None else f"roll{preceding + 1}"
    w = _window(key_cols, order_cols).rowsBetween(-preceding, Window.currentRow)
    return _with_frames(df, w, metrics, sfx)


def rolling_time_frames(
    df: DataFrame,
    key_cols: Sequence[str],
    ts_col: str,
    metrics: Mapping[str, str] | Sequence[tuple[str, str]],
    window_seconds: int,
    suffix: str | None = None,
) -> DataFrame:
    """Time-based rolling frames: each row aggregates all SAME-KEY rows
    whose timestamp falls in ``[row.ts - window_seconds, row.ts]`` —
    RANGE semantics (``RANGE BETWEEN INTERVAL .. PRECEDING AND CURRENT
    ROW``), not row counts. The right frame for irregular event
    streams, where "last 4 rows" and "last hour" are different things.

    Ordering is on exact integer epoch micros (shared epoch_us helper —
    TIMESTAMP / NTZ / DATE / numeric all work), so the boundary compare
    is exact and RANGE needs no tiebreak (equal timestamps belong to
    each other's frames by definition).

    Scale: one shuffle + one sort per key, same as the ROWS frames —
    the range lookback is evaluated in the same single pass.
    """
    from cod_stats_spark.operators._util import epoch_us

    epoch, per_sec = epoch_us(df, ts_col)
    sfx = suffix if suffix is not None else f"last{window_seconds}s"
    out = df.withColumn("_ts_ord", epoch)
    w = (
        Window.partitionBy(*key_cols)
        .orderBy(F.col("_ts_ord").asc())
        .rangeBetween(-window_seconds * per_sec, Window.currentRow)
    )
    return _with_frames(out, w, metrics, sfx).drop("_ts_ord")


def cumulative_frames(
    df: DataFrame,
    key_cols: Sequence[str],
    order_cols: Sequence[str],
    metrics: Mapping[str, str] | Sequence[tuple[str, str]],
    suffix: str = "cume",
) -> DataFrame:
    """Add running-total columns ``{metric}_{agg}_cume`` (unbounded preceding .. current)."""
    w = _window(key_cols, order_cols).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return _with_frames(df, w, metrics, suffix)
