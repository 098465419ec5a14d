"""Sources & sinks.

The reference's only sink is a Delta writer with optional Z-ORDER
(reference: python/tempo/io.py:15-61). On OSS Spark, Delta and the
Databricks hilbert-curve conf may be absent, so the writer degrades
gracefully to parquet, and layout optimization falls back to
``repartition(series).sortWithinPartitions(series, ts)`` — which gives the
same read-locality property (co-located series, time-ordered within files)
using only core Spark.
"""

from __future__ import annotations

import logging
from typing import Optional, Sequence

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

logger = logging.getLogger(__name__)


def _delta_available(spark: SparkSession) -> bool:
    try:
        spark.sql("SELECT 1").collect()
        return "delta" in (spark.conf.get("spark.sql.extensions", "") or "").lower()
    except Exception:
        return False


def write_tsdf(
    tsdf,
    spark: SparkSession,
    tab_name: str,
    optimization_cols: Optional[Sequence[str]] = None,
    mode: str = "overwrite",
    replace_where: Optional[str] = None,
) -> None:
    """Write a TSDF as a managed table partitioned by event date, clustered
    for per-series time-range scans.

    Mirrors the reference contract (derived ``event_dt`` date partition +
    ``event_time`` intra-day sort key, reference: python/tempo/io.py:28-43)
    while staying OSS-safe: Delta+ZORDER when available, else parquet with
    explicit series clustering.

    ``replace_where``: Delta predicate-scoped replacement (reference:
    python/tempo/io.py:44 sets the ``replaceWhere`` writer option) — e.g.
    ``"event_dt >= '2024-01-01'"`` rewrites only matching data under
    ``mode="overwrite"``. Requires Delta: parquet has no transactional
    predicate replace, so the fallback raises rather than silently
    clobbering the whole table.
    """
    ts, series = tsdf.ts_col, list(tsdf.series_ids)
    opt_cols = list(optimization_cols or []) + [ts]

    # event_time matches the reference's table schema exactly: the time-of-day
    # digits as an HHMMSS.ffffff double (reference: python/tempo/io.py:33-39),
    # so tables written by either library diff clean
    df = tsdf.df.withColumn("event_dt", F.to_date(F.col(ts))).withColumn(
        "event_time",
        F.translate(F.split(F.col(ts).cast("string"), " ")[1], ":", "").cast(
            "double"
        ),
    )

    use_delta = _delta_available(spark)
    fmt = "delta" if use_delta else "parquet"
    if replace_where is not None and mode != "overwrite":
        # Delta rejects (or, in some versions, ignores) replaceWhere
        # outside overwrite mode — fail clearly at the API boundary
        raise ValueError(
            f"replace_where requires mode='overwrite', got mode={mode!r}"
        )
    if replace_where is not None and not use_delta:
        raise ValueError(
            "replace_where requires Delta (parquet has no transactional "
            "predicate-scoped replace)"
        )
    clustered: DataFrame = df.repartition(*[F.col(c) for c in series]) if series else df
    clustered = clustered.sortWithinPartitions(*series, ts)
    writer = clustered.write.mode(mode).partitionBy("event_dt").format(fmt)
    if replace_where is not None:
        writer = writer.option("replaceWhere", replace_where)
    writer.saveAsTable(tab_name)

    if use_delta:
        try:
            zorder = ", ".join(series + opt_cols)
            spark.sql(f"OPTIMIZE {tab_name} ZORDER BY ({zorder})")
        except Exception as exc:  # OSS delta without OPTIMIZE, etc.
            logger.warning("ZORDER optimization unavailable: %s", exc)


def read_table_tsdf(
    spark: SparkSession,
    tab_name: str,
    ts_col: str,
    series_ids: Optional[Sequence[str]] = None,
    sequence_col: Optional[str] = None,
):
    """Catalog-table reader: ``spark.table`` → TSDF. Required for bucketed
    tables — reading the parquet files by PATH discards the bucket spec
    (it lives in the catalog), and with it the shuffle elision. A table
    written with ``df.write.bucketBy(n, *series).sortBy(*series, ts)
    .saveAsTable(name)`` reports ``hashpartitioning(series, n)``, so every
    downstream operator that only needs series clustering (range stats,
    resample, EMA windows, same-``n`` sort-merge joins) runs with ZERO
    shuffle: the per-series shuffle is paid once, at write time."""
    from tempo_spark.tsdf import TSDF

    return TSDF(
        spark.table(tab_name),
        ts_col=ts_col,
        series_ids=series_ids,
        sequence_col=sequence_col,
    )
