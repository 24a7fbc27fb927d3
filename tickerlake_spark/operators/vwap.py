"""Gold-layer VWAP signals (YTD / QTD cumulative VWAP + above flags).

Re-expression of the reference's gold job
(reference: gold/vwap_signals.py:25-177): filter valid bars, derive
year/quarter, cumulative sum(close*volume)/sum(volume) per (ticker, year) and
(ticker, year, quarter), compare close to both VWAPs, stamp calculated_at.

The reference sorts the whole table then cum_sums (gold/vwap_signals.py:53,
88-111); here the running sums are window functions carrying their own order,
so there is exactly one shuffle (hash on ticker) and no global sort. The
year/quarter partition refinement reuses the same ticker hash partitioning —
Spark plans both windows in one exchange.

This is the one VWAP operator: catalog q35, the gold full rebuild and the
incremental gold path (``pipeline.apply_gold_delta``, which windows only
the calendar-year slice holding the changed rows — the sums restart every
Jan 1, so that slice yields exactly the full computation's rows).
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

__all__ = ["vwap_signals"]


def vwap_signals(daily: DataFrame, calculated_at: dt.datetime | None = None) -> DataFrame:
    """ticker, date, close, ytd_vwap, qtd_vwap, above_* flags, calculated_at.

    Input: daily bars with (ticker, date, close, volume). Rows with null
    close / null or non-positive volume are excluded upstream of the
    cumulative sums (reference: gold/vwap_signals.py:47-51).
    """
    base = (
        daily.filter(
            F.col("close").isNotNull()
            & F.col("volume").isNotNull()
            & (F.col("volume") > 0)
        )
        .select(
            "ticker",
            "date",
            "close",
            "volume",
            F.year("date").alias("__year"),
            F.quarter("date").alias("__quarter"),
            (F.col("close") * F.col("volume")).alias("__pv"),
        )
    )
    # YTD orders by (quarter, date): within a year that IS date order
    # (quarter is monotone in date), but it makes the YTD window's sort
    # (ticker, year, quarter, date) — exactly the QTD window's requirement —
    # so Spark plans ONE sort for both windows instead of re-sorting
    # between them. Same rows, same accumulation order, same values.
    w_ytd = (
        Window.partitionBy("ticker", "__year")
        .orderBy("__quarter", "date")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_qtd = (
        Window.partitionBy("ticker", "__year", "__quarter")
        .orderBy("date")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    ytd_vwap = F.sum("__pv").over(w_ytd) / F.sum("volume").over(w_ytd)
    qtd_vwap = F.sum("__pv").over(w_qtd) / F.sum("volume").over(w_qtd)
    stamp = (
        F.lit(calculated_at).cast("timestamp")
        if calculated_at is not None
        else F.current_timestamp()
    )
    out = base.select(
        "ticker",
        "date",
        "close",
        ytd_vwap.alias("ytd_vwap"),
        qtd_vwap.alias("qtd_vwap"),
        (F.col("close") > ytd_vwap).alias("above_ytd_vwap"),
        (F.col("close") > qtd_vwap).alias("above_qtd_vwap"),
        ((F.col("close") > ytd_vwap) & (F.col("close") > qtd_vwap)).alias("above_both"),
        stamp.alias("calculated_at"),
    )
    return out

