"""Per-series OLS trend fit (operators/trend.py)."""

import datetime as dt
import math

import pytest

from tempo_spark import TSDF


def _mk(spark, rows):
    return spark.createDataFrame(rows, "sym string, ts timestamp, v double")


class TestFitTrend:
    def test_exact_linear_series(self, spark):
        base = dt.datetime(2024, 1, 1)
        rows = [
            ("a", base + dt.timedelta(seconds=i), 2.5 * i + 7.0)
            for i in range(50)
        ]
        r = TSDF(_mk(spark, rows), ts_col="ts", series_ids=["sym"]).fit_trend(
            "v"
        ).collect()[0]
        assert r.n_obs == 50
        assert abs(r.slope_per_sec - 2.5) < 1e-9
        assert abs(r.intercept - 7.0) < 1e-6
        assert abs(r.r2 - 1.0) < 1e-12

    def test_matches_python_model_with_noise_and_nulls(self, spark):
        import random

        rng = random.Random(12)
        base = dt.datetime(2024, 1, 1)
        pts = []
        t = 0
        for i in range(200):
            t += rng.randint(1, 30)
            v = None if rng.random() < 0.05 else 0.3 * t + rng.uniform(-4, 4)
            pts.append((t, v))
        rows = [
            ("a", base + dt.timedelta(seconds=t), v) for t, v in pts
        ]
        r = TSDF(_mk(spark, rows), ts_col="ts", series_ids=["sym"]).fit_trend(
            "v"
        ).collect()[0]
        # python model on the same grid, t in seconds offset
        t0 = min(t for t, _ in pts)
        data = [
            (t - t0, math.floor(v * 1e6 + 0.5) / 1e6)
            for t, v in pts
            if v is not None
        ]
        n = len(data)
        st = sum(t for t, _ in data)
        sy = sum(y for _, y in data)
        sty = sum(t * y for t, y in data)
        stt = sum(t * t for t, _ in data)
        syy = sum(y * y for _, y in data)
        cov = n * sty - st * sy
        vt = n * stt - st * st
        vy = n * syy - sy * sy
        assert r.n_obs == n
        assert abs(r.slope_per_sec - cov / vt) < 1e-8
        assert abs(r.intercept - (sy - (cov / vt) * st) / n) < 1e-6
        assert abs(r.r2 - cov * cov / (vt * vy)) < 1e-9

    def test_degenerate_groups(self, spark):
        base = dt.datetime(2024, 1, 1)
        rows = [
            ("const", base + dt.timedelta(seconds=i), 5.0) for i in range(10)
        ] + [("single", base, 3.0)]
        out = {
            r.sym: r
            for r in TSDF(
                _mk(spark, rows), ts_col="ts", series_ids=["sym"]
            ).fit_trend("v").collect()
        }
        # constant y: slope exactly 0, r2 NULL (zero y-variance)
        assert out["const"].slope_per_sec == 0.0 and out["const"].r2 is None
        # single observation: everything NULL
        s = out["single"]
        assert s.n_obs == 1 and s.slope_per_sec is None and s.intercept is None

    def test_global_series_and_guards(self, spark):
        import pyspark.sql.functions as F

        base = dt.datetime(2024, 1, 1)
        df = spark.createDataFrame(
            [(base + dt.timedelta(seconds=i), float(i)) for i in range(20)],
            "ts timestamp, v double",
        )
        r = TSDF(df, ts_col="ts", series_ids=[]).fit_trend("v").collect()[0]
        assert abs(r.slope_per_sec - 1.0) < 1e-9
        t = TSDF(df.withColumn("__tr_t", F.lit(1)), ts_col="ts", series_ids=[])
        with pytest.raises(ValueError, match="reserved"):
            t.fit_trend("v")
        with pytest.raises(ValueError, match="value_col"):
            TSDF(df, ts_col="ts", series_ids=[]).fit_trend("nope")
        # one shuffle: the groupBy reuses the window's series exchange
        # (a LITERAL key would fold to SinglePartition — use a real one)
        from tempo_spark.plans.inspect import count_exchanges

        t2 = TSDF(
            df.withColumn(
                "sym", F.when(F.col("v") < 10, "a").otherwise("b")
            ),
            ts_col="ts", series_ids=["sym"],
        )
        assert count_exchanges(t2.fit_trend("v")) == 1

    def test_nan_value_is_skipped_like_null(self, spark):
        # y = t over 5 points plus one NaN row: an unguarded floor turned
        # the NaN into 0.0 (n_obs=6, slope≈-0.03, r2≈0.2); on the guarded
        # grid it quantizes to NULL and is dropped
        base = dt.datetime(2024, 1, 1)
        rows = [("a", base + dt.timedelta(seconds=i), float(i)) for i in range(5)]
        rows.append(("a", base + dt.timedelta(seconds=5), float("nan")))
        r = TSDF(_mk(spark, rows), ts_col="ts", series_ids=["sym"]).fit_trend(
            "v"
        ).collect()[0]
        assert r.n_obs == 5
        assert r.slope_per_sec == pytest.approx(1.0, abs=1e-12)
        assert r.intercept == pytest.approx(0.0, abs=1e-12)
        assert r.r2 == pytest.approx(1.0, abs=1e-12)
