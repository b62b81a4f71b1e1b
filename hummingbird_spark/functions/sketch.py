"""Mergeable fixed-bin histogram sketches — the quantile companion to
the continuous rollup (streaming/rollup.py).

The rollup admits only decomposable aggregates (SUM/COUNT/MIN/MAX);
quantiles are not decomposable, but a histogram partial is: per
(window, key) keep `bins` counts over a fixed [lo, hi) value range,
merge partials by element-wise addition; the cumulative distribution
then places any quantile within one bin width ((hi-lo)/bins), the
classic fixed-range tradeoff — TimescaleDB continuous aggregates, Druid
and M3 make the same one (t-digest/DDSketch refine it; the merge
algebra is identical).

Everything here is pure Column expressions: the sketch builds as
`bins` conditional SUMs (map-side combined, codegen'd) and merges with
zip_with — no UDFs, no driver state.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def histogram_sketch(value_col: Column, lo: float, hi: float,
                     bins: int = 32) -> list[Column]:
    """Aggregate expressions (use inside .agg(*)) producing one count
    column per bin; combine with `assemble_sketch` to get the array
    column. Values clamp into the edge bins, so out-of-range data is
    counted, not lost (min/max in the rollup reveal the true range)."""
    if bins < 2:
        raise ValueError("bins must be >= 2")
    span = (hi - lo) or 1.0
    idx = F.floor((value_col.cast("double") - F.lit(lo))
                  / F.lit(span) * bins).cast("int")
    idx = F.greatest(F.lit(0), F.least(idx, F.lit(bins - 1)))
    return [
        F.sum(F.when(idx == b, 1).otherwise(0)).alias(f"__h{b}")
        for b in range(bins)
    ]


def assemble_sketch(bins: int = 32) -> Column:
    """Post-agg: collect the per-bin count columns into one array."""
    return F.array(*[F.col(f"__h{b}") for b in range(bins)]) \
        .cast("array<long>")


def merge_sketches(a: Column, b: Column) -> Column:
    """Element-wise sum; null-safe (either side missing -> other side)."""
    return F.when(a.isNull(), b).when(b.isNull(), a) \
        .otherwise(F.zip_with(a, b, lambda x, y: x + y))
