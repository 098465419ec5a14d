"""THE 1e-6 value grid — the repo's single cross-engine quantization.

Every exactness-contract operator (ACF/CCF/pairwise corr, changepoint,
seasonal decomposition, LTTB, drawdown, forecasts, similarity scores…)
quantizes values with the same hardened floor ``floor(x·1e6 + 0.5)/1e6``
so decimal sufficient sums and rounded scores replay bit-for-bit on an
external engine. This module is the only place the grid is spelled
(tests/test_grid_home.py fails on a copy elsewhere), in four forms:

- :func:`grid6` — guarded Column form;
- :func:`grid6_sql` — the guarded form as SQL text (one-parse builders);
- :func:`q6_sql` — the raw (unguarded) form as SQL text;
- :func:`hardened_round6` — the raw Column form, plus its numerator
  :func:`grid6_units` (integer millionths, for tie-order keys).

NaN handling (round-11 review, the r9 "NaN > everything" class): the
guarded forms quantize a NaN to NULL — exactly like a NULL it is excluded
from statistics instead of poisoning them (Spark sorts/maxes NaN ABOVE
every real number, and the ANSI double→decimal cast of NaN ABORTS the
job, so an unguarded NaN either corrupts running peaks/percentiles
silently or kills the query deep in the plan). The raw forms are for
values that cannot be NaN (ratios of counts, cosine/Jaccard scores)."""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column


def grid6(c) -> Column:
    """Hardened 1e-6 quantization; NULL for NULL *and NaN* inputs."""
    d = (F.col(c) if isinstance(c, str) else c).cast("double")
    return F.when(
        d.isNotNull() & ~F.isnan(d),
        F.floor(d * 1e6 + F.lit(0.5)) / F.lit(1e6),
    )


def grid6_sql(sql: str) -> str:
    """SQL text of :func:`grid6` over a SQL fragment (a quoted column name
    or an expression) — the same expression, built in one parse."""
    d = f"cast({sql} as double)"
    return (
        f"(CASE WHEN {d} IS NOT NULL AND NOT isnan({d}) "
        f"THEN floor({d} * 1000000.0D + 0.5D) / 1000000.0D END)"
    )


def q6_sql(sql: str) -> str:
    """``floor(x*1e6 + 0.5)/1e6`` over a SQL fragment — the RAW grid
    quantize (no NaN guard). Exactly the Column tree
    ``F.floor(x * 1e6 + F.lit(0.5)) / F.lit(1e6)``."""
    return f"floor(({sql}) * 1000000.0D + 0.5D) / 1000000.0D"


def grid6_units(c: Column) -> Column:
    """``floor(x*1e6 + 0.5)`` — a value on the grid as a bigint count of
    millionths: an exact, engine-independent ordering key for scores
    that must tie-break identically everywhere."""
    return F.floor(c * 1_000_000 + F.lit(0.5))


def hardened_round6(c: Column) -> Column:
    """``floor(x*1e6 + 0.5)/1e6`` — half-up for the non-negative scores it
    rounds, and a fixed IEEE op sequence every engine reproduces
    bit-identically (``round()`` half-way behavior differs across
    engines). No NaN guard."""
    return grid6_units(c) / 1_000_000
