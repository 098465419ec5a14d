import datetime as dt

import pytest
import pyspark.sql.functions as F

from tempo_spark import TSDF


def ts(s):
    return dt.datetime.fromisoformat(s)


class TestTimeHorizon:
    def test_horizon_stats(self, spark, trades):
        from tempo_spark.utils import calculate_time_horizon

        stats = calculate_time_horizon(trades, "event_ts", "1 minute", ["symbol"])
        assert stats["num_series"] == 2
        # S1 spans 2020-08-01 00:00:10 → 2020-09-01 00:19:12 ≈ 44660 minutes
        assert stats["max"] > 40000
        assert stats["total"] == pytest.approx(stats["min"] + stats["max"], rel=0.01)

    def test_sub_millisecond_frequency(self, spark):
        # the grid is in MICROSECONDS: '500 microseconds' must not divide
        # by a zero-ms interval, and '1500 microseconds' must not silently
        # round to a 1 ms grid
        from tempo_spark.utils import calculate_time_horizon

        df = spark.createDataFrame(
            [("a", ts("2020-01-01 00:00:00.000000")),
             ("a", ts("2020-01-01 00:00:00.003000"))],
            "k string, event_ts timestamp",
        )
        got = calculate_time_horizon(df, "event_ts", "500 microseconds", ["k"])
        assert got["max"] == 7.0  # buckets 0,500,...,3000 us
        got = calculate_time_horizon(df, "event_ts", "1500 microseconds", ["k"])
        assert got["max"] == 3.0  # buckets 0, 1500, 3000 us

    def test_pre_1970_buckets_floor(self, spark):
        # pmod flooring: a span straddling the epoch lands in 2 buckets of
        # the 30 s grid (23:59:30 and 00:00:00) — `%` truncation toward
        # zero undercounted this as 1
        from tempo_spark.utils import calculate_time_horizon

        df = spark.createDataFrame(
            [("a", ts("1969-12-31 23:59:45")), ("a", ts("1970-01-01 00:00:15"))],
            "k string, event_ts timestamp",
        )
        got = calculate_time_horizon(df, "event_ts", "30 seconds", ["k"])
        assert got["max"] == 2.0


class TestDisplay:
    def test_get_display_df(self, spark, trades):
        from tempo_spark.utils import get_display_df

        t = TSDF(trades, ts_col="event_ts", series_ids=["symbol"])
        out = get_display_df(t, k=1).collect()
        assert len(out) == 2

    def test_display_polymorphic_no_notebook(self, spark, trades, capsys):
        """Outside a notebook the sniff resolves to (None, False) and
        display falls back to show — for a raw DataFrame AND a TSDF
        (latest-5-per-series frame, the reference contract)."""
        from tempo_spark.utils import _notebook_renderer, display

        assert _notebook_renderer() == (None, False)
        display(trades.select("symbol"))
        t = TSDF(trades, ts_col="event_ts", series_ids=["symbol"])
        display(t)
        out = capsys.readouterr().out
        assert "symbol" in out and "event_ts" in out

    def test_display_databricks_renderer(self, spark, trades, monkeypatch):
        """With DB_HOME + an IPython shell exposing 'display', the native
        renderer receives the latest-k frame (sniffed lazily per call)."""
        import tempo_spark.utils as u

        got = []
        monkeypatch.setattr(
            u, "_notebook_renderer", lambda: (lambda frame: got.append(frame), True)
        )
        t = TSDF(trades, ts_col="event_ts", series_ids=["symbol"])
        u.display(t)
        assert len(got) == 1 and got[0].count() <= 10  # latest 5 per series


class TestPlans:
    def test_plan_size_parquet(self, spark, tmp_path):
        from tempo_spark.plans.inspect import plan_size_bytes

        p = str(tmp_path / "t.parquet")
        spark.range(1000).write.mode("overwrite").parquet(p)
        size = plan_size_bytes(spark.read.parquet(p))
        assert size is not None and 0 < size < 10 * 2**20

    def test_plan_size_unknown_for_local(self, spark):
        from tempo_spark.plans.inspect import plan_size_bytes

        df = spark.createDataFrame([(1,)], "a int")
        assert plan_size_bytes(df) is None

    def test_count_exchanges_single_shuffle_ops(self, spark, trades):
        from tempo_spark.plans.inspect import count_exchanges

        t = TSDF(trades, ts_col="event_ts", series_ids=["symbol"])
        assert count_exchanges(t.latest(1).df) == 1
        assert count_exchanges(t.withRangeStats(rangeBackWindowSecs=60).df) == 1
        assert count_exchanges(t.calc_bars("1 minute").df) == 1
        # as-of join: ONE shuffle despite two inputs
        quotes = TSDF(
            trades.withColumnRenamed("trade_pr", "q"),
            ts_col="event_ts",
            series_ids=["symbol"],
        )
        assert count_exchanges(t.asofJoin(quotes, left_prefix="l").df) == 1

    def test_repartitioned_collapses_chain_to_one_exchange(self, spark, trades):
        """Subset-hash partitioning on series_ids satisfies the dedup
        groupBy, the resample groupBy, AND the upsample window — the whole
        chain runs on the single up-front exchange."""
        import pyspark.sql.functions as F

        from tempo_spark.plans.inspect import count_exchanges

        t = TSDF(trades, ts_col="event_ts", series_ids=["symbol"])
        deduped = (
            t.repartitioned()
            .df.groupBy("symbol", "event_ts")
            .agg(F.max("trade_pr").alias("trade_pr"))
        )
        chained = (
            TSDF(deduped, ts_col="event_ts", series_ids=["symbol"])
            .resample("1 minute", "mean", fill=True)
            .df
        )
        assert count_exchanges(chained) == 1
        # without the up-front repartition the same chain shuffles 3x
        plain = (
            TSDF(
                t.df.groupBy("symbol", "event_ts").agg(
                    F.max("trade_pr").alias("trade_pr")
                ),
                ts_col="event_ts",
                series_ids=["symbol"],
            )
            .resample("1 minute", "mean", fill=True)
            .df
        )
        assert count_exchanges(plain) == 3

    def test_prefix_block_plan_has_no_sliding_frames(self, spark, trades):
        """strategy='prefix' + minmax_strategy='block' with the FULL stat
        set must compile to growing frames only — no [-B, current] sliding
        range frame anywhere (the O(rows × frame_rows) shape) — so a
        monster series costs O(its rows)."""
        import re

        t = TSDF(trades, ts_col="event_ts", series_ids=["symbol"])
        df = t.withRangeStats(
            rangeBackWindowSecs=600, strategy="prefix", minmax_strategy="block"
        ).df
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        sliding = re.findall(r"RangeFrame, -\d+, currentrow", plan)
        assert not sliding, sliding
        # the default prefix plan keeps exactly the min/max sliding frames
        df2 = t.withRangeStats(rangeBackWindowSecs=600, strategy="prefix").df
        plan2 = df2._jdf.queryExecution().optimizedPlan().toString()
        assert re.findall(r"RangeFrame, -\d+, currentrow", plan2)


class TestPythonFreePlans:
    """Invariant: Python workers appear ONLY in FFT, multimodal decode, and
    stateful streaming kernels — dedup/similarity/text stay JVM-side."""

    def test_dedup_pipeline_is_jvm_only(self, spark):
        from tempo_spark.pipeline.dedup import (
            minhash_dedup,
            ngram_jaccard_pairs,
            simhash_near_dups,
            with_simhash,
        )
        from tempo_spark.plans.inspect import count_python_evals

        docs = spark.createDataFrame(
            [(0, "a b c d e"), (1, "a b c d f")], "doc_id long, text string"
        )
        assert count_python_evals(minhash_dedup(docs, "doc_id")) == 0
        assert count_python_evals(ngram_jaccard_pairs(docs, "doc_id")) == 0
        assert count_python_evals(
            simhash_near_dups(with_simhash(docs, id_col="doc_id"), "doc_id")
        ) == 0

    def test_fourier_uses_one_pandas_kernel(self, spark, trades):
        from tempo_spark.plans.inspect import count_python_evals

        t = TSDF(
            trades.withColumn("tp", F.col("event_ts").cast("double")).drop("event_ts"),
            ts_col="tp",
            series_ids=["symbol"],
        )
        assert count_python_evals(t.fourier_transform(1.0, "trade_pr").df) == 1


class TestWriter:
    def test_write_tsdf_reference_table_shape(self, spark, trades):
        from tempo_spark import TSDF
        from tempo_spark.sources.io import write_tsdf

        t = TSDF(trades, ts_col="event_ts", series_ids=["symbol"])
        write_tsdf(t, spark, "t_evt_shape")
        try:
            out = spark.table("t_evt_shape")
            dtypes = dict(out.dtypes)
            # reference table schema: event_dt date partition + event_time
            # HHMMSS.ffffff double (reference: python/tempo/io.py:33-39)
            assert dtypes["event_dt"] == "date"
            assert dtypes["event_time"] == "double"
            row = out.where("symbol = 'S1'").orderBy("event_ts").first()
            assert row.event_time == 10.0  # 00:00:10 -> 000010 -> 10.0
            assert out.count() == trades.count()
        finally:
            spark.sql("DROP TABLE IF EXISTS t_evt_shape")

    def test_replace_where_requires_delta(self, spark, trades):
        from tempo_spark import TSDF
        from tempo_spark.sources.io import write_tsdf

        t = TSDF(trades, ts_col="event_ts", series_ids=["symbol"])
        with pytest.raises(ValueError, match="replace_where requires Delta"):
            write_tsdf(
                t, spark, "t_rw", replace_where="event_dt >= '2020-01-01'"
            )
        # r9 ADVICE: replaceWhere outside overwrite mode reaches Delta and
        # fails confusingly downstream — reject at the API boundary
        with pytest.raises(ValueError, match="mode='overwrite'"):
            write_tsdf(
                t, spark, "t_rw", mode="append",
                replace_where="event_dt >= '2020-01-01'",
            )


class TestNanosParse:
    def test_parse_preserves_subsecond(self, spark):
        from tempo_spark.functions.timestamps import parse_nanos_timestamp

        df = spark.createDataFrame(
            [("2020-01-01 00:00:01.123456789",), ("2020-01-01 00:00:02",)],
            "event_ts string",
        )
        out = parse_nanos_timestamp(df, "event_ts", parsed_col="parsed_ts")
        rows = sorted(out.collect(), key=lambda r: r.event_ts)
        assert rows[0].event_ts == pytest.approx(1577836801.123456789, abs=1e-6)
        assert rows[1].event_ts == 1577836802.0
        assert str(rows[0].parsed_ts).startswith("2020-01-01 00:00:01")


class TestCrossValidatorEndToEnd:
    def test_cv_with_estimator(self, spark):
        pytest.importorskip("numpy")
        from pyspark.ml.evaluation import RegressionEvaluator
        from pyspark.ml.regression import LinearRegression
        from pyspark.ml.feature import VectorAssembler
        from pyspark.ml import Pipeline
        from pyspark.ml.tuning import ParamGridBuilder

        from tempo_spark.ml import TimeSeriesCrossValidator

        rows = [
            ("A", ts(f"2020-01-01 00:{i:02d}:00"), float(i), 2.0 * i + 1)
            for i in range(30)
        ]
        df = spark.createDataFrame(rows, "k string, event_ts timestamp, x double, y double")
        pipe = Pipeline(stages=[
            VectorAssembler(inputCols=["x"], outputCol="features"),
            LinearRegression(featuresCol="features", labelCol="y"),
        ])
        lr = pipe.getStages()[1]
        cv = TimeSeriesCrossValidator(
            timeSeriesCol="event_ts",
            seriesIdCols=["k"],
            estimator=pipe,
            estimatorParamMaps=ParamGridBuilder().addGrid(lr.regParam, [0.0]).build(),
            evaluator=RegressionEvaluator(labelCol="y"),
            numFolds=3,
        )
        model = cv.fit(df)
        # a perfectly linear series should fit near-exactly
        assert min(model.avgMetrics) < 1e-3


def _write_bucketed(df, name: str, n_buckets: int) -> None:
    """Parquet table bucketed by series and sorted by (series, ts) within
    each bucket — the layout read_table_tsdf's shuffle elision serves."""
    (
        df.write.mode("overwrite").format("parquet")
        .bucketBy(n_buckets, "symbol").sortBy("symbol", "event_ts")
        .saveAsTable(name)
    )


class TestBucketedIO:
    def test_bucketed_table_elides_series_shuffles(self, spark, trades):
        from tempo_spark import TSDF
        from tempo_spark.plans.inspect import count_exchanges
        from tempo_spark.sources.io import read_table_tsdf

        _write_bucketed(trades, "trades_bucketed", 4)
        try:
            tb = read_table_tsdf(spark, "trades_bucketed", "event_ts", ["symbol"])
            # per-series operators need hashpartitioning(symbol) — the
            # bucketed scan already provides it, so: zero exchanges
            rs = tb.withRangeStats(colsToSummarize=["trade_pr"], rangeBackWindowSecs=60).df
            assert count_exchanges(rs) == 0
            res = tb.resample("1 minute", "mean").df
            assert count_exchanges(res) == 0
            # fill=True on a bucketed scan: the scan's clustering serves
            # both the agg and the fill window — zero exchanges
            filled = tb.resample("1 minute", "mean", fill=True).df
            assert count_exchanges(filled) == 0
            # the same plans on a path-read frame pay the shuffle
            plain = TSDF(trades, ts_col="event_ts", series_ids=["symbol"])
            assert count_exchanges(
                plain.withRangeStats(colsToSummarize=["trade_pr"], rangeBackWindowSecs=60).df
            ) == 1
            # values identical either way
            a = sorted(map(tuple, rs.collect()))
            b = sorted(
                map(
                    tuple,
                    plain.withRangeStats(
                        colsToSummarize=["trade_pr"], rangeBackWindowSecs=60
                    ).df.collect(),
                )
            )
            assert a == b
        finally:
            spark.sql("DROP TABLE IF EXISTS trades_bucketed")

    def test_same_bucket_join_no_shuffle(self, spark, trades):
        import pyspark.sql.functions as F

        from tempo_spark.plans.inspect import count_exchanges
        from tempo_spark.sources.io import read_table_tsdf

        _write_bucketed(trades, "tb_a", 4)
        _write_bucketed(trades, "tb_b", 4)
        try:
            a = read_table_tsdf(spark, "tb_a", "event_ts", ["symbol"]).df
            b = read_table_tsdf(spark, "tb_b", "event_ts", ["symbol"]).df
            prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
            try:
                j = a.groupBy("symbol").agg(F.avg("trade_pr").alias("pa")).join(
                    b.groupBy("symbol").agg(F.avg("trade_pr").alias("pb")), "symbol"
                )
                assert count_exchanges(j) == 0
                assert j.count() > 0
            finally:
                spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        finally:
            spark.sql("DROP TABLE IF EXISTS tb_a")
            spark.sql("DROP TABLE IF EXISTS tb_b")


class TestZOrderLayout:
    """sources/layout.py: Morton codes + Z-order frame layout."""

    def _model_morton(self, vals, bounds, bits=16):
        n = len(vals)
        code = 0
        for i, (x, (lo, hi)) in enumerate(zip(vals, bounds)):
            if x is None:
                return None
            x = min(max(float(x), lo), hi)
            q = int(((x - lo) / (hi - lo)) * ((1 << bits) - 1))
            for j in range(bits):
                code |= ((q >> j) & 1) << (j * n + (n - 1 - i))
        return code

    def test_matches_python_model(self, spark):
        import pyspark.sql.functions as F

        from tempo_spark.sources.layout import with_morton_code

        rows = [
            (0, 0.0, 0.0), (1, 100.0, 50.0), (2, 55.5, 12.5),
            (3, -10.0, 999.0),  # clamps
            (4, None, 3.0),     # null -> null code
        ]
        df = spark.createDataFrame(rows, "id long, x double, y double")
        bounds = {"x": (0.0, 100.0), "y": (0.0, 50.0)}
        got = {
            r.id: r.morton
            for r in with_morton_code(df, bounds).collect()
        }
        for rid, x, y in rows:
            assert got[rid] == self._model_morton(
                [x, y], [bounds["x"], bounds["y"]]
            ), rid

    def test_locality_and_monotone_dims(self, spark):
        from tempo_spark.sources.layout import with_morton_code

        # a grid: codes must be unique per cell and monotone along each
        # axis when the other is fixed (the Z-curve property that makes
        # row-group min/max selective for both columns)
        rows = [
            (i * 16 + j, float(i), float(j))
            for i in range(16) for j in range(16)
        ]
        df = spark.createDataFrame(rows, "id long, x double, y double")
        got = {
            (int(r.x), int(r.y)): r.morton
            for r in with_morton_code(
                df, {"x": (0.0, 15.0), "y": (0.0, 15.0)}, bits=4
            ).collect()
        }
        assert len(set(got.values())) == 256
        for i in range(16):
            xs = [got[(i, j)] for j in range(16)]
            assert xs == sorted(xs)
            ys = [got[(j, i)] for j in range(16)]
            assert ys == sorted(ys)

    def test_zorder_frame_skips_row_groups(self, spark, tmp_path):
        import pyspark.sql.functions as F

        from tempo_spark.sources.layout import zorder_frame

        df = spark.range(20000).select(
            F.col("id"),
            (F.pmod(F.col("id") * 7919, F.lit(10000)).cast("double")).alias("x"),
            (F.pmod(F.col("id") * 104729, F.lit(10000)).cast("double")).alias("y"),
        )
        path = str(tmp_path / "zordered")
        zorder_frame(
            df, {"x": (0.0, 10000.0), "y": (0.0, 10000.0)}, n_partitions=8
        ).write.parquet(path)
        back = spark.read.parquet(path)
        assert back.columns == ["id", "x", "y"]  # code column dropped
        # correctness of a 2-D box under the layout
        want = df.where((F.col("x") < 500) & (F.col("y") < 500)).count()
        got = back.where((F.col("x") < 500) & (F.col("y") < 500)).count()
        assert got == want
        # and the layout clusters: the x-range of each file is narrow
        # relative to the full domain for at least half the files
        import glob as _glob

        import pyarrow.parquet as pq

        spans = []
        for f in _glob.glob(f"{path}/part-*.parquet"):
            md = pq.read_metadata(f)
            lo = min(md.row_group(i).column(1).statistics.min for i in range(md.num_row_groups))
            hi = max(md.row_group(i).column(1).statistics.max for i in range(md.num_row_groups))
            spans.append(hi - lo)
        assert sorted(spans)[len(spans) // 2] < 10000 * 0.8

    def test_zorder_nulls_cluster_last(self, spark):
        """NULL Morton codes sort LAST as documented (ADVICE r9: Spark's
        default asc sort puts NULLs first; zorder_frame overrides with
        asc_nulls_last so null-code rows land in the final row groups)."""
        import pyspark.sql.functions as F

        from tempo_spark.sources.layout import zorder_frame

        df = spark.range(1000).select(
            F.col("id"),
            F.when(F.col("id") % 10 == 0, None)
            .otherwise(F.col("id").cast("double"))
            .alias("x"),
            F.col("id").cast("double").alias("y"),
        )
        laid = zorder_frame(
            df, {"x": (0.0, 1000.0), "y": (0.0, 1000.0)},
            n_partitions=1, keep_code=True,
        )
        codes = [r.zorder_code for r in laid.collect()]
        first_null = next(i for i, c in enumerate(codes) if c is None)
        assert all(c is None for c in codes[first_null:])
        assert all(c is not None for c in codes[:first_null])

    def test_validations(self, spark):
        import pytest

        from tempo_spark.sources.layout import with_morton_code

        df = spark.createDataFrame([(1, 2.0, 3.0)], "id long, x double, y double")
        with pytest.raises(ValueError, match=">= 2 columns"):
            with_morton_code(df, {"x": (0, 1)})
        with pytest.raises(ValueError, match="<= 63"):
            with_morton_code(df, {"x": (0, 1), "y": (0, 1)}, bits=32)
        with pytest.raises(ValueError, match="not in DataFrame"):
            with_morton_code(df, {"x": (0, 1), "nope": (0, 1)})
        with pytest.raises(ValueError, match="hi > lo"):
            with_morton_code(df, {"x": (0, 1), "y": (5, 5)})
        with pytest.raises(ValueError, match="already exists"):
            with_morton_code(df, {"x": (0, 1), "y": (0, 1)}, out="id")


class TestMortonStreaming:
    def test_morton_code_streaming_composes(self, spark, tmp_path):
        """with_morton_code is a pure per-row expression — must run
        unchanged on a streaming frame (the stream-composition contract),
        bit-equal to the batch path."""
        from tempo_spark.sources.layout import with_morton_code

        rows = [(0, 1.5, 20.0), (1, 99.0, 0.0), (2, None, 3.0)]
        df = spark.createDataFrame(rows, "id long, x double, y double")
        bounds = {"x": (0.0, 100.0), "y": (0.0, 50.0)}
        batch = {r.id: r.morton for r in with_morton_code(df, bounds).collect()}
        src = str(tmp_path / "mz_in")
        df.write.parquet(src)
        stream = spark.readStream.schema(
            "id long, x double, y double"
        ).parquet(src)
        q = (
            with_morton_code(stream, bounds)
            .writeStream.format("memory").queryName("mz_t")
            .trigger(availableNow=True).start()
        )
        q.awaitTermination(60)
        streamed = {
            r.id: r.morton for r in spark.sql("select * from mz_t").collect()
        }
        assert streamed == batch
