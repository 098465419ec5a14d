"""Measured-scaling probe: runs the core operators on synthetic series data
at increasing row counts and prints rows/sec, so SCALE.md's linearity claims
are backed by numbers instead of assertions.

Generates events-shaped data with ``spark.range`` (no driver-side data), a
configurable number of series, and an optional monster-series skew fraction.

Usage:
    python scripts/scale_probe.py            # 1M / 4M / 16M rows
    python scripts/scale_probe.py --skew     # 16M rows, 50% in one series
    python scripts/scale_probe.py --cc       # connected components: pointer
                                             # jumping vs label propagation
                                             # on 2M nodes in 64-hop chains
    python scripts/scale_probe.py --corpus   # incremental dedup: broadcast
                                             # (corpus never shuffled) vs
                                             # sort-merge anti-join vs bloom
    python scripts/scale_probe.py --neardedup  # incremental NEAR-dup:
                                             # band-broadcast vs batch union
    python scripts/scale_probe.py --text     # tfidf + boilerplate removal
                                             # throughput
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import pyspark.sql.functions as F
from pyspark.sql import SparkSession

from tempo_spark import TSDF


def synth_events(spark, n_rows: int, n_series: int, skew_frac: float = 0.0):
    """events-shaped frame from spark.range: ts strides 1s per series tick;
    with skew_frac, that fraction of rows lands in series 0."""
    df = spark.range(n_rows)
    if skew_frac > 0:
        series = F.when(
            (F.col("id") % 1_000_000) < int(skew_frac * 1_000_000), F.lit(0)
        ).otherwise(F.col("id") % n_series)
    else:
        series = F.col("id") % n_series
    return df.select(
        series.alias("user_id"),
        F.timestamp_seconds(
            F.lit(1_700_000_000) + (F.col("id") / n_series).cast("long")
        ).alias("ts"),
        (F.pmod(F.col("id") * 2654435761, F.lit(100_000)) / 100.0).alias("value"),
    )


def probe(
    spark, n_rows: int, n_series: int, skew_frac: float = 0.0,
    skip_sliding: bool = False,
) -> dict:
    def fresh():
        ev = synth_events(spark, n_rows, n_series, skew_frac)
        right = synth_events(spark, max(n_rows // 4, 1), n_series, skew_frac).select(
            "user_id", "ts", F.col("value").alias("q")
        )
        return (
            TSDF(ev, ts_col="ts", series_ids=["user_id"]),
            TSDF(right, ts_col="ts", series_ids=["user_id"]),
        )

    out: dict = {"rows": n_rows, "series": n_series, "skew_frac": skew_frac}

    def timed(label, build):
        # count() would let Catalyst prune the computed columns (a window
        # operator keeps row counts, so its projections are dead code for
        # count): checksum every column to force full materialization.
        # The plan is REBUILT per run — re-collecting the same DataFrame
        # would silently reuse the warm-up's shuffle files and time only
        # the post-shuffle stages.
        def force():
            df = build(*fresh())
            # pmod keeps the per-row term < 2^30 so the ANSI-mode sum of
            # tens of millions of terms stays far from long overflow
            return df.agg(
                F.sum(F.pmod(F.xxhash64(F.struct(*df.columns)), F.lit(1 << 30)))
            )

        force().collect()  # warm-up: JIT + codegen compile out of the timing
        t0 = time.monotonic()
        force().collect()
        dt = time.monotonic() - t0
        out[label] = {"sec": round(dt, 2), "mrows_per_sec": round(n_rows / dt / 1e6, 1)}

    timed("asof_join", lambda t, r: t.asofJoin(r, left_prefix="l", right_prefix="r").df)
    if skew_frac > 0:
        timed(
            "asof_join_ts_partitioned",
            lambda t, r: t.asofJoin(
                r, left_prefix="l", right_prefix="r", tsPartitionVal=3600
            ).df,
        )
        # sliding range stats on a monster series = one task doing
        # O(series_rows × frame_rows) — hours, deliberately not probed;
        # prefix still pays sliding min/max, sum-family-only does not
        timed(
            "range_stats_prefix",
            lambda t, r: t.withRangeStats(rangeBackWindowSecs=600, strategy="prefix").df,
        )
        timed(
            "range_stats_prefix_sum_family",
            lambda t, r: t.withRangeStats(
                rangeBackWindowSecs=600, strategy="prefix",
                stats=("mean", "count", "sum", "stddev", "zscore"),
            ).df,
        )
        # min/max under skew: block decomposition vs the sliding frame
        timed(
            "minmax_block",
            lambda t, r: t.withRangeStats(
                rangeBackWindowSecs=600, strategy="prefix",
                stats=("min", "max"), minmax_strategy="block",
            ).df,
        )
        timed(
            "minmax_sliding",
            lambda t, r: t.withRangeStats(
                rangeBackWindowSecs=600, stats=("min", "max")
            ).df,
        )
        return out
    if not skip_sliding:
        timed("range_stats", lambda t, r: t.withRangeStats(rangeBackWindowSecs=600).df)
    timed(
        "range_stats_prefix",
        lambda t, r: t.withRangeStats(rangeBackWindowSecs=600, strategy="prefix").df,
    )
    timed("resample_mean", lambda t, r: t.resample("5 minutes", "mean").df)
    timed("calc_bars", lambda t, r: t.calc_bars("5 minutes").df)
    return out


def cc_probe(spark, n_nodes: int, chain_len: int) -> dict:
    """Connected components on the label-propagation worst case: id-ordered
    chains (the min label moves ONE hop per plain round). Reports
    wall-clock to fixpoint for pointer jumping (O(log chain) rounds) vs
    one-hop label propagation (O(chain) rounds), verifying both resolved
    the full chain depth."""
    from tempo_spark.pipeline.components import connected_components

    edges = (
        spark.range(n_nodes)
        .where((F.col("id") + 1) % chain_len != 0)
        .select(F.col("id").alias("id_a"), (F.col("id") + 1).alias("id_b"))
    )
    out: dict = {"nodes": n_nodes, "chain_len": chain_len}
    for algo, iters in (("pointer", 20), ("label", chain_len + 1)):
        t0 = time.monotonic()
        comps = connected_components(edges, max_iter=iters, algorithm=algo)
        depth = comps.agg(F.max(F.col("id") - F.col("component"))).first()[0]
        dt = time.monotonic() - t0
        out[algo] = {
            "sec": round(dt, 1),
            "max_depth_resolved": int(depth),
            "converged": depth == chain_len - 1,
        }
    return out


def corpus_dedup_probe(spark, corpus_rows: int, shard_rows: int) -> dict:
    """Incremental dedup at scale: a big synthetic corpus (~100-byte docs
    from md5 strings, built with spark.range — no driver data), a shard
    1-2 orders smaller with 50% overlap. Compares the broadcast-pruned
    strategy (corpus scanned, never shuffled) against the sort-merge
    anti-join, and checks both return exactly the non-overlapping half."""
    from tempo_spark.pipeline.dedup import dedup_against_corpus

    def doc_text(idc):
        return F.concat_ws(
            " ",
            F.md5(idc.cast("string")),
            F.md5((idc + 1).cast("string")),
            F.md5((idc + 2).cast("string")),
        )

    corpus = spark.range(corpus_rows).select(
        F.col("id").alias("doc_id"), doc_text(F.col("id")).alias("text")
    )
    # first half of the shard duplicates corpus docs; second half is new
    # (ids beyond the corpus range produce unseen md5 chains)
    shard = spark.range(shard_rows).select(
        (F.col("id") + corpus_rows).alias("doc_id"),
        doc_text(
            F.when(F.col("id") < shard_rows // 2, F.col("id") * 2).otherwise(
                F.col("id") + corpus_rows
            )
        ).alias("text"),
    )
    out: dict = {"corpus_rows": corpus_rows, "shard_rows": shard_rows}
    expected = shard_rows - shard_rows // 2
    # bloom sized ~10 bits/item (~1% fpp at k=5)
    bloom_kw = {"bloom_bits": max(64, corpus_rows * 10), "bloom_hashes": 5}
    for strategy in ("broadcast", "shuffle", "bloom"):
        kw = bloom_kw if strategy == "bloom" else {}
        t0 = time.monotonic()
        n = dedup_against_corpus(shard, corpus, strategy=strategy, **kw).count()
        dt = time.monotonic() - t0
        out[strategy] = {
            "sec": round(dt, 1),
            "survivors": n,
            "correct": n == expected,
            "corpus_rows_per_sec": int(corpus_rows / dt),
        }
    return out


def near_dedup_probe(spark, corpus_rows: int, shard_rows: int) -> dict:
    """Incremental NEAR-dup dedup at scale: synthetic 20-word docs; half the
    shard mutates a corpus doc's first word (word-3-gram Jaccard ~0.78,
    above the 0.5 threshold), half is brand new. Compares the band-broadcast
    incremental path (corpus scanned once, never shuffled) against the
    batch formulation (minhash_dedup over the union, filtered to cross
    pairs) — the latter shuffles the whole union's bands + signatures."""
    from tempo_spark.pipeline.dedup import minhash_dedup, near_dedup_against_corpus

    def words(seed):
        return F.transform(
            F.sequence(F.lit(0), F.lit(19)),
            lambda i: F.substring(F.md5((seed * 100 + i).cast("string")), 1, 8),
        )

    corpus = spark.range(corpus_rows).select(
        F.col("id").alias("doc_id"),
        F.array_join(words(F.col("id")), " ").alias("text"),
    )
    # shard ids continue after the corpus; even ids mutate corpus doc id/2's
    # first word, odd ids are entirely-new word sequences
    base = F.col("id") - corpus_rows
    # floor-div: a plain `/` is double division and the seed would miss
    # every corpus doc ("3.0" vs "3" in the md5 input)
    mutated = F.concat(
        F.array(F.lit("mutant")), F.slice(words(F.floor(base / 2).cast("long")), 2, 19)
    )
    fresh = words(base + corpus_rows + 1_000_000_000)
    shard = spark.range(corpus_rows, corpus_rows + shard_rows).select(
        F.col("id").alias("doc_id"),
        F.array_join(
            F.when(base % 2 == 0, mutated).otherwise(fresh), " "
        ).alias("text"),
    )
    kw = dict(num_hashes=16, bands=4, shingle_k=3, threshold=0.5, use_words=True)
    out: dict = {"corpus_rows": corpus_rows, "shard_rows": shard_rows}
    expected = shard_rows // 2 + (shard_rows % 2)
    # JVM/codegen warmup so the first timed path isn't charged for it
    near_dedup_against_corpus(
        shard.limit(100), corpus.limit(100), "doc_id", "text", mode="pairs", **kw
    ).count()

    t0 = time.monotonic()
    inc_ids = {
        r.doc_id
        for r in near_dedup_against_corpus(
            shard, corpus, "doc_id", "text", mode="pairs", **kw
        ).select("doc_id").distinct().collect()
    }
    dt = time.monotonic() - t0
    out["incremental_band_broadcast"] = {
        "sec": round(dt, 1), "flagged": len(inc_ids),
        "recall": round(len(inc_ids) / expected, 4),
        "corpus_rows_per_sec": int(corpus_rows / dt),
    }

    t0 = time.monotonic()
    naive_ids = {
        r.id_b
        for r in minhash_dedup(corpus.unionByName(shard), "doc_id", "text", **kw)
        .where((F.col("id_a") < corpus_rows) & (F.col("id_b") >= corpus_rows))
        .select("id_b").distinct().collect()
    }
    dt = time.monotonic() - t0
    out["batch_union_minhash"] = {
        "sec": round(dt, 1), "flagged": len(naive_ids),
        "recall": round(len(naive_ids) / expected, 4),
        "corpus_rows_per_sec": int(corpus_rows / dt),
    }
    # both formulations must flag the SAME id set (recall < 1 is LSH banding
    # probability, identical in both — 16 hashes / 4 bands ≈ 0.98 at J=0.8)
    out["paths_agree"] = inc_ids == naive_ids
    return out


def asof_bin_probe(spark, n_rows: int, n_series: int) -> dict:
    """Big×big as-of strategies head-to-head on FEW series (the shape where
    an unbinned range join degenerates: each sort-merge series group
    compares |lefts|×|rights|): union-window default vs the
    ``range_join_bin_seconds`` bucketized rewrite. Both must agree exactly;
    the honest question is the price of the range-join API at scale."""
    from tempo_spark.tsdf import TSDF

    def side(offset: float):
        return spark.range(n_rows).select(
            (F.col("id") % n_series).alias("k"),
            ((F.col("id") / n_series).cast("long").cast("double") + offset).alias("ts"),
            (F.col("id") % 997).cast("double").alias("v"),
        )

    left = TSDF(side(0.25), ts_col="ts", series_ids=["k"])
    right = TSDF(
        side(0.0).withColumnRenamed("v", "q").groupBy("k", "ts").agg(
            F.max("q").alias("q")
        ),
        ts_col="ts",
        series_ids=["k"],
    )
    out: dict = {"n_rows": n_rows, "n_series": n_series}

    def run(label, **kw):
        t0 = time.monotonic()
        j = left.asofJoin(right, left_prefix="l", **kw).df
        agg = j.agg(
            F.count("*").alias("n"), F.sum(F.col("right_q")).alias("s")
        ).collect()[0]
        out[label] = {
            "sec": round(time.monotonic() - t0, 1),
            "rows": agg.n,
            "checksum": float(agg.s),
        }

    run("union_window")
    run("range_join_binned", sql_join_opt=True, range_join_bin_seconds=60.0)
    out["paths_agree"] = (
        out["union_window"]["rows"] == out["range_join_binned"]["rows"]
        and out["union_window"]["checksum"] == out["range_join_binned"]["checksum"]
    )
    return out


def asofmany_probe(
    spark, n_rows: int, n_series: int, n_rights: int, right_rows: int | None = None
) -> dict:
    """asofJoinMany vs the chain of single asofJoins: N rights attached to
    one left. The chain re-shuffles and re-sorts the (widening) left per
    right; the many-join pays one shuffle + one sort of the whole union.
    ``right_rows`` sizes each right independently (the typical case:
    feature sources much smaller than the event stream). Checksummed
    equal."""
    from tempo_spark.tsdf import TSDF

    def side(col, offset, rows):
        step = max(1, n_rows // max(rows, 1))
        return TSDF(
            spark.range(rows).select(
                (F.col("id") % n_series).alias("k"),
                (
                    (F.col("id") / n_series).cast("long").cast("double") * step
                    + offset
                ).alias("ts"),
                (F.col("id") % 997).cast("double").alias(col),
            ),
            ts_col="ts",
            series_ids=["k"],
        )

    rr = right_rows if right_rows is not None else n_rows
    left = side("v", 0.5, n_rows)
    rights = {f"r{i}": side("q", 0.1 * i, rr) for i in range(n_rights)}
    out: dict = {
        "n_rows": n_rows,
        "n_series": n_series,
        "n_rights": n_rights,
        "right_rows": rr,
    }
    chk_cols = [F.sum(F.col(f"r{i}_q")) for i in range(n_rights)]

    def run(label, frame):
        t0 = time.monotonic()
        agg = frame.agg(F.count("*").alias("n"), *chk_cols).collect()[0]
        out[label] = {
            "sec": round(time.monotonic() - t0, 1),
            "rows": agg.n,
            "checksum": [float(agg[i + 1]) for i in range(n_rights)],
        }

    run("many", left.asofJoinMany(rights, strategy="union").df)
    chained = left
    for pfx, r in rights.items():
        chained = chained.asofJoin(r, right_prefix=pfx)
    run("chained", chained.df)
    out["paths_agree"] = out["many"] == dict(out["chained"], sec=out["many"]["sec"])
    from tempo_spark.operators.asof import _pick_many_strategy

    out["auto_pick"] = _pick_many_strategy(left, rights)
    out["auto_picked_faster"] = (
        out["auto_pick"] == "union"
        if out["many"]["sec"] <= out["chained"]["sec"]
        else out["auto_pick"] == "chain"
    )
    return out


def ivljoin_probe(spark, n_rows: int, n_series: int) -> dict:
    """join_intervals plain vs bin_seconds on FEW series with long-lived
    probes (the shape where the per-series range join widens): left = 1h
    intervals, right = staggered 2h probes, 8 series. Checksummed-equal
    outputs; the bin key bounds each sort-merge group to co-binned rows."""
    from tempo_spark.intervals import IntervalsDF

    def frame(width_s, offset):
        return spark.range(n_rows).select(
            (F.col("id") % n_series).alias("k"),
            F.timestamp_seconds((F.col("id") / n_series).cast("long") * 60 + offset).alias("start_ts"),
            F.timestamp_seconds(
                (F.col("id") / n_series).cast("long") * 60 + offset + width_s
            ).alias("end_ts"),
            (F.col("id") % 997).alias("m"),
        )

    left = IntervalsDF(frame(3600, 0), "start_ts", "end_ts", ["k"])
    right = IntervalsDF(
        frame(7200, 30).withColumnRenamed("m", "rm"), "start_ts", "end_ts", ["k"]
    )
    out: dict = {"n_rows": n_rows, "n_series": n_series}

    def run(label, **kw):
        t0 = time.monotonic()
        agg = (
            left.join_intervals(right, **kw)
            .df.agg(
                F.count("*").alias("n"),
                F.sum(F.unix_micros("overlap_end") - F.unix_micros("overlap_start")).alias("chk"),
            )
            .collect()[0]
        )
        out[label] = {"sec": round(time.monotonic() - t0, 1), "pairs": agg.n, "checksum": int(agg.chk)}

    run("binned", bin_seconds=3600.0)
    # DEFAULT path since r6: bin_seconds="auto" stat-probes the data and
    # must pick the binned plan here (n_rows/8 series >> threshold) — the
    # row that shows the default surviving the shape that killed the old
    # un-binned default
    run("auto")
    out["auto_agrees_binned"] = (
        out["auto"]["pairs"] == out["binned"]["pairs"]
        and out["auto"]["checksum"] == out["binned"]["checksum"]
    )
    # the PLAIN per-series range join is the degeneration this probe
    # documents: at 500k rows / 8 series each sort-merge group runs
    # 62.5k × 62.5k range compares (~4B per series — a first attempt was
    # killed after 9 minutes). Only run it at sizes where it terminates.
    if n_rows <= 100_000:
        run("plain", bin_seconds=None)
        out["paths_agree"] = (
            out["plain"]["pairs"] == out["binned"]["pairs"]
            and out["plain"]["checksum"] == out["binned"]["checksum"]
        )
    return out


def ivfassign_probe(spark, n_vecs: int, n_centroids: int, dim: int = 64) -> dict:
    """IVF cell assignment literal-expression vs Arrow-kernel paths.

    The hazard is PLAN BUILD latency and Catalyst tree size: the literal
    path creates n_centroids × dim literals driver-side (the simhash
    lesson). Past ASSIGN_LITERAL_MAX assignment runs the Arrow matmul
    kernel instead — this probe records build+exec seconds per path and
    pins their assignment checksums equal."""
    from tempo_spark.pipeline import similarity as sim

    corpus = spark.range(n_vecs).select(
        F.col("id").alias("vec_id"),
        F.transform(
            F.sequence(F.lit(1), F.lit(dim)),
            lambda j: ((F.col("id") * 31 + j * 17) % 101).cast("double") / 101.0,
        ).alias("embedding"),
    )
    centers = [
        [((i * 29 + j * 13) % 101) / 101.0 for j in range(dim)]
        for i in range(n_centroids)
    ]
    out: dict = {"n_vecs": n_vecs, "n_centroids": n_centroids, "dim": dim}
    saved = sim.ASSIGN_LITERAL_MAX

    def run(label, threshold):
        sim.ASSIGN_LITERAL_MAX = threshold
        try:
            t0 = time.monotonic()
            assigned = sim._assign_cells(corpus, centers, "vec_id", "embedding")
            build = time.monotonic() - t0
            t1 = time.monotonic()
            agg = assigned.agg(
                F.count("*").alias("n"), F.sum("cell").alias("chk")
            ).collect()[0]
            out[label] = {
                "build_sec": round(build, 2),
                "exec_sec": round(time.monotonic() - t1, 1),
                "checksum": int(agg.chk),
            }
        finally:
            sim.ASSIGN_LITERAL_MAX = saved

    run("arrow", 0)
    # the literal path at 4096 centroids is exactly the plan-build wall the
    # probe documents — only build it where the driver survives it
    if n_centroids <= 1024:
        run("literal", 10**9)
        out["paths_agree"] = out["literal"]["checksum"] == out["arrow"]["checksum"]
    return out


def corr_probe(spark, n_rows: int, n_series: int) -> dict:
    """withRangeCorr prefix vs sliding at a dense frame (~600 in-frame
    rows): the sliding formulation re-aggregates every sum per row
    (O(rows × frame_rows)); the prefix strategy's growing-frame
    differences are O(rows). Same checksummed results both ways."""
    from tempo_spark.tsdf import TSDF

    df = spark.range(n_rows).select(
        (F.col("id") % n_series).alias("k"),
        (F.col("id") / n_series).cast("double").alias("ts"),
        (F.col("id") % 997).alias("x"),
        ((F.col("id") * 7) % 991).alias("y"),
    )
    t = TSDF(df, ts_col="ts", series_ids=["k"])
    out: dict = {"n_rows": n_rows, "n_series": n_series, "frame_rows": 600}

    def run(strategy):
        t0 = time.monotonic()
        agg = (
            t.withRangeCorr("x", "y", rangeBackWindowSecs=600 // 1, strategy=strategy)
            .df.agg(
                F.count("corr_x_y").alias("n"),
                F.sum(F.floor(F.col("corr_x_y") * 1e6)).alias("chk"),
            )
            .collect()[0]
        )
        return {
            "sec": round(time.monotonic() - t0, 1),
            "rows_scored": agg.n,
            "checksum": int(agg.chk),
        }

    out["prefix"] = run("prefix")
    out["sliding"] = run("sliding")
    out["paths_agree"] = (
        out["prefix"]["rows_scored"] == out["sliding"]["rows_scored"]
        and out["prefix"]["checksum"] == out["sliding"]["checksum"]
    )
    return out


def paradedup_probe(spark, n_docs: int) -> dict:
    """dedup_paragraphs under a 100%-document hot paragraph: every doc ends
    with the same block, so ONE paragraph hash carries n_docs occurrences
    through the winner join. SCALE.md claims that join is linear narrow-row
    work per hot key (no quadratic blowup) — this measures it. Expected
    output: every doc except the min-id winner loses the shared block."""
    from tempo_spark.pipeline.dedup import dedup_paragraphs

    sep = chr(10) + chr(10)
    docs = spark.range(n_docs).select(
        F.col("id").alias("doc_id"),
        F.concat(
            F.md5(F.col("id").cast("string")),
            F.lit(sep),
            F.lit("shared footer paragraph in every document"),
        ).alias("text"),
    )
    out: dict = {"n_docs": n_docs, "hot_para_doc_frac": 1.0}
    t0 = time.monotonic()
    changed = (
        dedup_paragraphs(docs, "doc_id", out="clean")
        .where(F.col("clean") != F.col("text"))
        .count()
    )
    dt = time.monotonic() - t0
    out["dedup_paragraphs_hot"] = {
        "sec": round(dt, 1),
        "docs_changed": changed,
        "exact": changed == n_docs - 1,
        "docs_per_sec": int(n_docs / dt),
    }
    return out


def spandedup_probe(spark, n_docs: int) -> dict:
    """remove_duplicate_spans under a 100%-document hot span: every doc is
    10 unique tokens followed by the same 8-token tail, so each fully-
    interior 6-gram of the tail (3 of them) occurs in ALL docs. The winner
    join must stay linear per hot gram (narrow rows), the three flagged
    grams per doc must merge into ONE 8-token island, and only the min-id
    doc keeps its tail. Expected: docs_changed == n_docs - 1."""
    from tempo_spark.pipeline.dedup import remove_duplicate_spans

    # 12 hex chars per unique token: at 6 chars (16^6 values) the birthday
    # count of same-position token collisions across 1M docs is ~30k, each
    # creating a GENUINE duplicated boundary gram (first probe run measured
    # exactly that: 29152 docs lost 9 tokens instead of 8)
    uniq = F.array_join(
        F.transform(
            F.sequence(F.lit(0), F.lit(9)),
            lambda i: F.substring(
                F.md5((F.col("id") * 10 + i).cast("string")), 1, 12
            ),
        ),
        " ",
    )
    docs = spark.range(n_docs).select(
        F.col("id").alias("doc_id"),
        F.concat(
            uniq, F.lit(" t0 t1 t2 t3 t4 t5 t6 t7")
        ).alias("text"),
    )
    out: dict = {"n_docs": n_docs, "hot_span_doc_frac": 1.0}
    t0 = time.monotonic()
    res = remove_duplicate_spans(
        docs, "doc_id", n=6, out="clean", out_removed="nrm"
    )
    changed = res.where(F.col("nrm") > 0).count()
    dt = time.monotonic() - t0
    # island merge check: every changed doc lost exactly the 8-token tail
    bad = res.where((F.col("nrm") > 0) & (F.col("nrm") != 8)).count()
    out["span_dedup_hot"] = {
        "sec": round(dt, 1),
        "docs_changed": changed,
        "exact": changed == n_docs - 1 and bad == 0,
        "docs_per_sec": int(n_docs / dt),
    }
    return out


def semdedup_probe(spark, n_vecs: int, n_clusters: int, dim: int = 16) -> dict:
    """semantic_dedup at SemDeDup geometry (cells of ~n/k rows): vectors
    come in identical pairs (ids 2i and 2i+1 share a vector), so the exact
    expected outcome is n/2 dropped rows — identical vectors always land
    in the same cell, so cell-scoped recall is 1 for true duplicates. The
    within-cell compare volume is n²/k; k must scale with n (the paper's
    regime) for flat per-row cost. Also exercises the CC small-graph
    driver path (< threshold) vs the distributed loop (above)."""
    from tempo_spark.pipeline.similarity import IVFIndex, semantic_dedup

    vec = F.transform(
        F.sequence(F.lit(0), F.lit(dim - 1)),
        lambda j: (
            F.pmod(F.xxhash64((F.col("id") / 2).cast("long"), j), F.lit(2000))
            .cast("double") / 1000.0 - 1.0
        ),
    )
    vecs = spark.range(n_vecs).select(F.col("id").alias("vec_id"), vec.alias("embedding"))
    out: dict = {"n_vecs": n_vecs, "n_clusters": n_clusters, "dim": dim}
    t0 = time.monotonic()
    idx = IVFIndex.build(
        vecs, n_centroids=n_clusters, seed=7, init_mode="random", fit_sample_mod=16
    )
    survivors = semantic_dedup(
        vecs, threshold=0.9999, index=idx, keep="far_centroid"
    ).count()
    dt = time.monotonic() - t0
    out["semantic_dedup"] = {
        "sec": round(dt, 1),
        "survivors": survivors,
        "exact": survivors == n_vecs // 2,
        "vecs_per_sec": int(n_vecs / dt),
    }
    return out


def stopgram_probe(spark, n_docs: int) -> dict:
    """ngram_jaccard_pairs under a 100%-document stop-gram: every doc ends
    with the same 5-token phrase, so 3 of its word-3-grams appear in ALL
    ``n_docs`` documents. The ``max_shingle_freq`` cutoff must drop them
    WITHOUT first funnelling their rows into single tasks — the former
    count()-over-Window.partitionBy(__sh) formulation did exactly that (no
    map-side combine: one task per hot shingle received all n_docs rows
    before the filter); the groupBy + broadcast-anti-join rewrite collapses
    each hot key to one row per map task. Near-linear sec across sizes ⇒
    no hot partition."""
    from tempo_spark.pipeline.dedup import ngram_jaccard_pairs

    docs = spark.range(n_docs).select(
        F.col("id").alias("doc_id"),
        F.concat(
            F.array_join(
                F.transform(
                    F.sequence(F.lit(0), F.lit(9)),
                    lambda i: F.substring(
                        F.md5((F.col("id") * 10 + i).cast("string")), 1, 6
                    ),
                ),
                " ",
            ),
            F.lit(" common tail phrase every document shares"),
        ).alias("text"),
    )
    out: dict = {"n_docs": n_docs, "stop_gram_doc_frac": 1.0}
    t0 = time.monotonic()
    n_pairs = ngram_jaccard_pairs(
        docs, "doc_id", shingle_k=3, threshold=0.5, max_shingle_freq=1000
    ).count()
    dt = time.monotonic() - t0
    out["ngram_jaccard_stopgram"] = {
        "sec": round(dt, 1),
        "pairs": n_pairs,
        "docs_per_sec": int(n_docs / dt),
    }
    return out


def text_probe(spark, n_docs: int) -> dict:
    """Corpus-text operators at scale: tfidf_keywords (zipf-ish vocab so
    stopword-like hot terms exist) and remove_boilerplate_lines in its
    WORST case (boilerplate in every doc → the final id join carries the
    whole corpus). Backs the SCALE.md throughput numbers reproducibly."""
    from tempo_spark.pipeline.filtering import remove_boilerplate_lines
    from tempo_spark.pipeline.text import tfidf_keywords

    docs = spark.range(n_docs).select(
        F.col("id").alias("doc_id"),
        F.array_join(
            F.transform(
                F.sequence(F.lit(0), F.lit(19)),
                lambda i: F.substring(
                    F.md5(
                        F.pmod(F.xxhash64(F.col("id") * 20 + i), F.lit(5000)).cast("string")
                    ),
                    1, 6,
                ),
            ),
            " ",
        ).alias("text"),
    )
    out: dict = {"n_docs": n_docs}
    t0 = time.monotonic()
    n_kw = tfidf_keywords(docs, "doc_id", "text", k=5).count()
    dt = time.monotonic() - t0
    out["tfidf_k5"] = {"sec": round(dt, 1), "rows": n_kw, "docs_per_sec": int(n_docs / dt)}

    lined = spark.range(n_docs).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(
            chr(10),
            F.lit("home | about | contact"),
            F.md5(F.col("id").cast("string")),
            F.md5((F.col("id") + n_docs).cast("string")),
            F.md5((F.col("id") + 2 * n_docs).cast("string")),
            F.md5((F.col("id") + 3 * n_docs).cast("string")),
            F.lit("(c) example corp"),
        ).alias("text"),
    )
    t0 = time.monotonic()
    got = (
        remove_boilerplate_lines(lined, "doc_id", min_doc_freq=1000)
        .select(F.min(F.length("text")).alias("mn"), F.max(F.length("text")).alias("mx"))
        .collect()[0]
    )
    dt = time.monotonic() - t0
    out["boilerplate_worstcase"] = {
        "sec": round(dt, 1),
        "docs_per_sec": int(n_docs / dt),
        "exact": got.mn == got.mx == 131,  # 4 md5 lines + 3 joins, both stripped
    }
    return out


def dsir_probe(spark, n_raw: int, n_target: int = 20_000) -> dict:
    """DSIR end-to-end at the shape it's built for: a SMALL trusted target
    vs a LARGE raw corpus. Two timings: (a) cold — fit both corpora, ratio,
    score, Gumbel top-k; (b) amortized — rescore with a pre-materialized
    ratio table (the persisted-model daily-shard path). 20-token docs over
    a 5k-word zipf-ish vocab; target drawn from a narrow vocab slice so
    weights separate."""
    from tempo_spark.pipeline.dsir import (
        dsir_logratio,
        fit_hashed_counts,
        sample_by_importance,
        with_importance_weight,
    )

    def corpus(n, vocab, label):
        return spark.range(n).select(
            F.concat(F.lit(label), F.col("id")).alias("doc_id"),
            F.array_join(
                F.transform(
                    F.sequence(F.lit(0), F.lit(19)),
                    lambda i: F.substring(
                        F.md5(
                            F.pmod(
                                F.xxhash64(F.col("id") * 20 + i), F.lit(vocab)
                            ).cast("string")
                        ),
                        1, 6,
                    ),
                ),
                " ",
            ).alias("text"),
        )

    raw = corpus(n_raw, 5000, "r")
    target = corpus(n_target, 600, "t")
    k = max(1000, n_raw // 100)
    out: dict = {"n_raw": n_raw, "n_target": n_target, "k": k}

    t0 = time.monotonic()
    ratio = dsir_logratio(fit_hashed_counts(target), fit_hashed_counts(raw))
    scored = with_importance_weight(raw, ratio, "doc_id")
    n = sample_by_importance(scored, "doc_id", "dsir_logweight", k=k).count()
    dt = time.monotonic() - t0
    out["cold"] = {"sec": round(dt, 1), "sampled": n,
                   "docs_per_sec": int(n_raw / dt)}

    ratio_rows = ratio.collect()  # the persisted model (≤ buckets rows)
    ratio_df = spark.createDataFrame(ratio_rows, ratio.schema)
    t0 = time.monotonic()
    scored2 = with_importance_weight(raw, ratio_df, "doc_id")
    n2 = sample_by_importance(scored2, "doc_id", "dsir_logweight", k=k).count()
    dt = time.monotonic() - t0
    out["amortized_model"] = {"sec": round(dt, 1), "sampled": n2,
                              "docs_per_sec": int(n_raw / dt)}
    return out


def disjoint_probe(
    spark, n_rows: int, n_series: int, span_steps: int = 3
) -> dict:
    """make_disjoint at scale with the round-7 reference-exact merge
    (per-metric (start asc, end desc) coalesce + junction-guarded
    dissolve): staggered overlapping intervals (each [t, t+span_steps
    steps) overlaps ~span_steps neighbors — span_steps IS the coverage
    depth, and the merge cost model is wall ∝ rows × depth: every
    boundary segment joins every covering raw interval), plain
    per-series range join vs pinned binning, checksummed equal."""
    from tempo_spark.intervals import IntervalsDF

    step = 60.0
    df = spark.range(n_rows).select(
        (F.col("id") % n_series).alias("k"),
        F.timestamp_seconds(
            (F.col("id") / n_series).cast("long") * step
        ).alias("start_ts"),
        F.timestamp_seconds(
            ((F.col("id") / n_series).cast("long") + span_steps) * step
        ).alias("end_ts"),
        F.when(F.col("id") % 3 == 0, F.col("id") % 997).alias("m1"),
        F.when(F.col("id") % 3 == 1, F.col("id") % 991).alias("m2"),
    )
    out: dict = {"n_rows": n_rows, "n_series": n_series,
                 "overlap_fanout": span_steps}
    idf = IntervalsDF(df, "start_ts", "end_ts", ["k"])

    def run(label, **kw):
        t0 = time.monotonic()
        agg = (
            idf.make_disjoint(**kw)
            .df.agg(
                F.count("*").alias("n"),
                F.sum(F.unix_micros("start_ts") % 1_000_003).alias("c1"),
                F.sum(F.coalesce(F.col("m1"), F.lit(0))
                      + F.coalesce(F.col("m2"), F.lit(0))).alias("c2"),
            )
            .collect()[0]
        )
        out[label] = {"sec": round(time.monotonic() - t0, 1),
                      "rows": agg.n, "checksum": [int(agg.c1), int(agg.c2)]}

    run("plain", bin_seconds=None)
    run("binned", bin_seconds=step * 4)
    out["paths_agree"] = (
        out["plain"]["rows"] == out["binned"]["rows"]
        and out["plain"]["checksum"] == out["binned"]["checksum"]
    )
    return out


def disjoint2l_probe(
    spark, n_rows: int, n_series: int, span_steps: int, n_buckets: int
) -> dict:
    """Two-level vs single-level make_disjoint in the overlap-DENSE regime
    (VERDICT r12 item 8): same staggered synthetic shape as disjoint_probe,
    checksummed equal, plus the plain library path as the baseline."""
    from tempo_spark.intervals import IntervalsDF

    step = 60.0
    df = spark.range(n_rows).select(
        (F.col("id") % n_series).alias("k"),
        F.timestamp_seconds(
            (F.col("id") / n_series).cast("long") * step
        ).alias("start_ts"),
        F.timestamp_seconds(
            ((F.col("id") / n_series).cast("long") + span_steps) * step
        ).alias("end_ts"),
        F.when(F.col("id") % 3 == 0, F.col("id") % 997).alias("m1"),
        F.when(F.col("id") % 3 == 1, F.col("id") % 991).alias("m2"),
    )
    out: dict = {
        "n_rows": n_rows,
        "n_series": n_series,
        "overlap_fanout": span_steps,
        "n_buckets": n_buckets,
    }

    def checksum(frame, label):
        t0 = time.monotonic()
        agg = frame.agg(
            F.count("*").alias("n"),
            F.sum(F.unix_micros("start_ts") % 1_000_003).alias("c1"),
            F.sum(
                F.coalesce(F.col("m1"), F.lit(0))
                + F.coalesce(F.col("m2"), F.lit(0))
            ).alias("c2"),
        ).collect()[0]
        out[label] = {
            "sec": round(time.monotonic() - t0, 1),
            "rows": agg.n,
            "checksum": [int(agg.c1), int(agg.c2)],
        }

    idf = IntervalsDF(df, "start_ts", "end_ts", ["k"])
    checksum(idf.make_disjoint(bin_seconds=None).df, "plain")
    checksum(
        idf.make_disjoint(bin_seconds=None, merge_buckets=n_buckets).df,
        "two_level",
    )
    out["paths_agree"] = (
        out["plain"]["rows"] == out["two_level"]["rows"]
        and out["plain"]["checksum"] == out["two_level"]["checksum"]
    )
    return out


def chunk_probe(spark, n_sentences: int, n_docs: int = 64) -> dict:
    """Sentence-boundary chunking on pathological MANY-SENTENCE rows: the
    greedy fold is O(sentences²) per row, so past ``sentence_fallback``
    (default 10⁴) rows drop to token grain. Probe both paths at the same
    total size: wall time must stay near-linear in sentences once the
    fallback engages."""
    from tempo_spark.pipeline.sampling import chunk_documents

    docs = spark.range(n_docs).select(
        F.col("id").alias("doc_id"),
        F.array_join(
            F.transform(
                F.sequence(F.lit(0), F.lit(n_sentences - 1)),
                lambda i: F.concat(
                    F.lit("tok"), i, F.lit(" alpha beta gamma end."),
                ),
            ),
            " ",
        ).alias("text"),
    )
    out: dict = {"n_docs": n_docs, "sentences_per_doc": n_sentences}
    for label, fb in (("fallback_default", 10_000),
                      ("forced_sentence_path", 1 << 30)):
        if label == "forced_sentence_path" and n_sentences > 40_000:
            out[label] = "skipped: quadratic path would stall"
            continue
        t0 = time.monotonic()
        n = chunk_documents(
            docs, "doc_id", max_tokens=512, boundary="sentence",
            sentence_fallback=fb,
        ).count()
        dt = time.monotonic() - t0
        out[label] = {
            "sec": round(dt, 1), "chunks": n,
            # the trigger is strictly greater-than: at exactly fb
            # sentences the row still takes the sentence path
            "fallback_engaged": n_sentences > fb,
            "sentences_per_sec": int(n_docs * n_sentences / dt),
        }
    return out


def _stamp(d: dict) -> dict:
    """Attach the 1-min loadavg to a probe record — a loaded-host capture
    must be self-describing (the bench.py load-guard lesson: identical code
    measured 12.2 s and 21.2 s at loadavg 2 vs 8.5)."""
    return {**d, "loadavg1": round(os.getloadavg()[0], 1)}


def _probe_session():
    """One shared probe configuration: every scenario must run under the
    same session settings or cross-probe comparisons silently skew."""
    spark = (
        SparkSession.builder.master("local[32]")
        .config("spark.sql.shuffle.partitions", "64")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.driver.memory", "24g")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def pq_probe(spark, n_vecs: int, dim: int = 64, m: int = 8, ksub: int = 256) -> dict:
    """PQ at corpus scale: train on a hash sample (driver Lloyd per
    subspace), Arrow-encode n_vecs, then ADC top-k for 10 queries over
    ALL codes (the JVM O(m) element_at fold — the path that must stay
    linear; full-corpus ADC is the worst case, IVF probing only shrinks
    it). Expect encode and ADC wall-clock ~linear in n_vecs."""
    from tempo_spark.pipeline.similarity import PQCodec

    vecs = spark.range(n_vecs).select(
        F.col("id").alias("vec_id"),
        F.transform(
            F.sequence(F.lit(1), F.lit(dim)),
            lambda j: (
                F.pmod(F.xxhash64(F.col("id"), j), F.lit(2000)).cast("double")
                - 1000.0
            )
            / 1000.0,
        ).alias("embedding"),
    )
    out: dict = {"n_vecs": n_vecs, "dim": dim, "m": m, "ksub": ksub}
    t0 = time.monotonic()
    codec = PQCodec.train(
        vecs, m=m, ksub=ksub, seed=7,
        fit_sample_mod=max(1, n_vecs // 20_000),
    )
    out["train_sec"] = round(time.monotonic() - t0, 2)
    t0 = time.monotonic()
    # persist so the ADC timing doesn't silently include a re-encode (a
    # lazy codes frame re-runs the Arrow kernel under the ADC count; the
    # first mixed capture read as a 6x ADC "regression" that was really
    # cold encode + ambient)
    codes = codec.encode(vecs).select("vec_id", "pq_code").persist()
    codes.count()
    out["encode_sec"] = round(time.monotonic() - t0, 2)
    queries = vecs.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    t0 = time.monotonic()
    n = codec.adc_topk(codes, queries, k=10).count()
    out["adc_sec"] = round(time.monotonic() - t0, 2)
    codes.unpersist()
    out["adc_rows"] = n
    out["vecs_per_sec_encode"] = int(n_vecs / max(out["encode_sec"], 1e-9))
    return out


def prepare_probe(spark, sf_dir: str, mult: int = 1) -> dict:
    """Marginal per-stage cost of the b29 ``prepare_corpus`` shape
    (normalize → signals/filters → exact dedup → MinHash/LSH near dedup →
    mix → split → pack → shard, xxhash64 family): run STAGE PREFIXES of
    the real composition, each single-shot (cache cleared first, exactly
    like the bench loop), and difference consecutive wall-clocks. Each
    prefix is forced by hashing EVERY output column (a bare count() would
    let Catalyst prune the very expressions being measured — pack_id's
    window cumsum, the split hash — out of the plan). ``mult`` row-
    multiplies the corpus (doc_id re-keyed) for the scaling axis."""
    from tempo_spark.pipeline.prepare import prepare_corpus

    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .where(F.col("text").isNotNull())
        .select("doc_id", "text", "lang")
    )
    if mult > 1:
        n0 = docs.count()
        docs = docs.crossJoin(
            spark.range(mult).select(F.col("id").alias("__rep"))
        ).select(
            (F.col("doc_id") + F.col("__rep") * F.lit(n0 * 2)).alias("doc_id"),
            # re-keyed ids but per-copy UNIQUE text, or dedup collapses
            # every copy and later stages see no extra rows
            F.concat_ws(" ", "text", F.col("__rep").cast("string")).alias(
                "text"
            ),
            "lang",
        )
    shares = {"en": 0.5, "de": 0.25, "es": 0.125, "fr": 0.125}
    base = dict(
        normalize=True, min_quality=0.2, max_dup_2gram_frac=0.5,
        exact_dedup=False,
    )
    prefixes = [
        ("signals_filters", {}),
        ("exact_dedup", dict(exact_dedup=True)),
        ("near_dedup", dict(exact_dedup=True, near_dedup_threshold=0.8)),
        (
            "mix_split",
            dict(
                exact_dedup=True, near_dedup_threshold=0.8,
                mix_group_col="lang", mix_shares=shares,
            ),
        ),
        (
            "pack_shard",
            dict(
                exact_dedup=True, near_dedup_threshold=0.8,
                mix_group_col="lang", mix_shares=shares,
                pack_tokens=2048, n_shards=64,
            ),
        ),
    ]
    out: dict = {"sf_dir": sf_dir, "mult": mult, "stages": {}}
    prev = 0.0
    for label, kw in prefixes:
        spark.catalog.clearCache()
        t0 = time.monotonic()
        res = prepare_corpus(docs, **{**base, **kw})
        forced = res.agg(
            F.count("*").alias("n"),
            F.max(
                F.xxhash64(*[F.col(c) for c in res.columns])
            ).alias("h"),
        ).collect()[0]
        dt = time.monotonic() - t0
        out["stages"][label] = {
            "cum_sec": round(dt, 2),
            "marginal_sec": round(dt - prev, 2),
            "rows": forced["n"],
        }
        prev = dt
    return out


def anomaly_probe(spark, n_rows: int, n_series: int) -> dict:
    """withAnomalyFlags prefix vs sliding at a dense trailing frame (~600
    in-frame rows): the sliding [-back,-1µs] frame re-aggregates per row
    (O(rows × frame_rows)); strategy="prefix" differences two growing
    frames — O(rows). Integer-valued metrics make the sums exact, so both
    paths must agree on every flag and quantized zscore."""
    from tempo_spark.tsdf import TSDF

    df = spark.range(n_rows).select(
        (F.col("id") % n_series).alias("k"),
        (F.col("id") / n_series).cast("double").alias("ts"),
        (F.col("id") % 997).cast("double").alias("x"),
    )
    t = TSDF(df, ts_col="ts", series_ids=["k"])
    out: dict = {"n_rows": n_rows, "n_series": n_series, "frame_rows": 600}

    def run(strategy):
        t0 = time.monotonic()
        agg = (
            t.withAnomalyFlags("x", rangeBackWindowSecs=600, strategy=strategy)
            .df.agg(
                F.count("zscore_x").alias("n"),
                F.sum(F.col("is_anomaly_x").cast("long")).alias("flags"),
                F.sum(F.floor(F.col("zscore_x") * 1e6)).alias("chk"),
            )
            .collect()[0]
        )
        return {
            "sec": round(time.monotonic() - t0, 1),
            "rows_scored": agg.n,
            "flags": int(agg.flags),
            "checksum": int(agg.chk),
        }

    out["prefix"] = run("prefix")
    out["sliding"] = run("sliding")
    out["paths_agree"] = all(
        out["prefix"][k] == out["sliding"][k]
        for k in ("rows_scored", "flags", "checksum")
    )
    return out


def thresholds_probe(spark) -> dict:
    """Re-derive the deployment-tuned constants on THIS cluster (SCALE.md
    'Threshold re-derivation' section). Every magic number in the engine
    trades a per-job/interpretation overhead against distributed work; the
    trade moves with hardware, so a new deployment should rerun this and
    override the module constants. Emits measured primitives plus the
    recommended values with the formula used."""
    import statistics

    out: dict = {}
    # 1. per-job scheduling latency L: the cost floor of ANY extra Spark
    # job (drives driver_threshold and the value of fusing tiny stages)
    for _ in range(2):
        spark.range(1000).count()  # warm
    lat = []
    for _ in range(5):
        t0 = time.monotonic()
        spark.range(1000).count()
        lat.append(time.monotonic() - t0)
    L = statistics.median(lat)
    out["job_latency_sec"] = round(L, 4)

    # 2. driver_threshold (connected components): driver union-find rate
    # vs the per-round cost of the distributed loop (~3 jobs/round x
    # log2(diameter) rounds). Recommend edges such that driver time ~= one
    # distributed round.
    t0 = time.monotonic()
    parent = list(range(400_001))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for i in range(400_000):
        a, b = find(i), find(i + 1)
        if a != b:
            parent[max(a, b)] = min(a, b)
    uf_rate = 400_000 / (time.monotonic() - t0)
    out["driver_unionfind_edges_per_sec"] = int(uf_rate)
    out["recommended_driver_threshold"] = int(uf_rate * 3 * L)
    out["formulas"] = {
        "driver_threshold": "unionfind_rate x (3 jobs/round x job_latency)",
        "AUTO_BIN_ROWS_PER_SERIES": "rerun --disjoint at your series-count shape; bin iff quadratic per-series compares exceed the bin fanout cost (see SCALE.md)",
    }
    return out


def rollup_probe(spark, n_rows: int, n_series: int, span_days: int = 1) -> dict:
    """resample_rollup vs N independent resamples, 3 grains (1m/15m/1h).

    The rollup reads + map-side-aggregates the raw rows ONCE; the naive
    form does it once per grain. Measured WARMED (min of 2 same-session
    reps — the first call pays JVM warmup, which buried the signal in the
    first capture): rollup wins BOTH density regimes on local[32] —
    dense (55 rows/finest-bucket) 2.1 vs 3.3 s, sparse (0.2/bucket, the
    ×G partials fanout is corpus-sized) 3.7 vs 4.8 s — and the real
    economy at cluster scale is (N−1) fewer full raw scans + map-side
    aggregations, which synthetic in-memory ranges underprice.
    rows_per_finest_bucket ≈ n_rows / (n_series × span_days × 1440)."""
    from tempo_spark.tsdf import TSDF

    df = spark.range(n_rows).select(
        F.pmod(F.xxhash64("id"), F.lit(n_series)).alias("series"),
        F.timestamp_micros(
            F.lit(1_700_000_000_000_000)
            + F.pmod(F.xxhash64("id", F.lit(1)), F.lit(span_days * 86400))
            * 1_000_000
        ).alias("ts"),
        F.pmod(F.xxhash64("id", F.lit(2)), F.lit(1000)).alias("v"),
    )
    t = TSDF(df, ts_col="ts", series_ids=["series"])
    grains = ["1 minute", "15 minutes", "1 hour"]
    density = n_rows / (n_series * span_days * 1440)
    out: dict = {
        "n_rows": n_rows, "n_series": n_series, "span_days": span_days,
        "rows_per_finest_bucket": round(density, 2), "grains": grains,
    }
    roll_secs, sep_secs = [], []
    n_roll = n_sep = 0
    for _ in range(2):
        t0 = time.monotonic()
        n_sep = sum(
            t.resample(g, {"v": "sum"}).df.count() for g in grains
        )
        sep_secs.append(round(time.monotonic() - t0, 2))
        t0 = time.monotonic()
        n_roll = t.resample_rollup(grains, {"v": "sum"}).count()
        roll_secs.append(round(time.monotonic() - t0, 2))
    out["rollup"] = {"sec": min(roll_secs), "reps": roll_secs, "rows": n_roll}
    out["separate"] = {"sec": min(sep_secs), "reps": sep_secs, "rows": n_sep}
    assert n_roll == n_sep, (n_roll, n_sep)
    return out


def analytics_probe(
    spark, n_rows: int, n_series: int, sweep: bool = True
) -> dict:
    """r10 analytics ops at 100× shapes (round-11 VERDICT item):

    - ACF strategy crossover: window form (one lead per lag, explode)
      vs position-self-join form (plan O(1) in lags) at a lag sweep —
      re-derives LAG_WINDOW_MAX with measured data (min of 2 warmed
      same-session reps per point, the rollup-probe protocol);
    - seasonal_decompose additive MA vs robust median trend, period 24;
    - fit_trend (exact decimal sufficient sums);
    - pacf at 20 lags (the DL fold rides the ACF plan — its marginal
      cost should be invisible).

    All forced through a checksum agg over every output column (count()
    lets Catalyst prune the computed columns — the r10 lesson)."""
    from tempo_spark.operators import acf as acf_mod
    from tempo_spark.tsdf import TSDF

    ev = synth_events(spark, n_rows, n_series)
    t = TSDF(ev, ts_col="ts", series_ids=["user_id"])
    out: dict = {"n_rows": n_rows, "n_series": n_series}

    def force(df):
        return df.agg(
            F.sum(F.pmod(F.xxhash64(F.struct(*df.columns)), F.lit(1 << 30)))
        ).collect()

    def timed2(build):
        secs = []
        for _ in range(2):
            t0 = time.monotonic()
            force(build())
            secs.append(round(time.monotonic() - t0, 2))
        return {"sec": min(secs), "reps": secs}

    if sweep:
        sw: dict = {}
        for lags in (8, 32, 64, 128):
            win = timed2(lambda: t.autocorr("value", lags, strategy="window"))
            join = timed2(lambda: t.autocorr("value", lags, strategy="join"))
            sw[lags] = {"window": win, "join": join}
        out["acf_strategy_sweep"] = sw
        crossover = next(
            (
                lg
                for lg in sorted(sw)
                if sw[lg]["join"]["sec"] < sw[lg]["window"]["sec"]
            ),
            None,
        )
        out["acf_join_wins_from_lags"] = crossover
        out["lag_window_max_current"] = acf_mod.LAG_WINDOW_MAX
    out["seasonal_ma"] = timed2(lambda: t.seasonal_decompose("value", 24))
    out["seasonal_median"] = timed2(
        lambda: t.seasonal_decompose("value", 24, trend_method="median")
    )
    out["fit_trend"] = timed2(lambda: t.fit_trend("value"))
    out["acf20"] = timed2(lambda: t.autocorr("value", 20))
    out["pacf20"] = timed2(lambda: t.pacf("value", 20))
    # r11 additions: changepoint family, drawdown, winsorize, corr matrix
    out["changepoint"] = timed2(lambda: t.changepoint("value"))
    out["changepoints_r3"] = timed2(
        lambda: t.changepoints("value", rounds=3)
    )
    out["drawdown"] = timed2(lambda: t.withDrawdown("value").df)
    out["winsorize"] = timed2(lambda: t.winsorize("value").df)
    out["pairwise_corr4"] = timed2(
        lambda: TSDF(
            t.df.withColumn("v2", F.pmod(F.xxhash64("value"), F.lit(997)) / 10.0)
            .withColumn("v3", F.pmod(F.xxhash64("value", F.lit(1)), F.lit(97)) / 10.0)
            .withColumn("v4", F.pmod(F.xxhash64("value", F.lit(2)), F.lit(11)) / 10.0),
            ts_col="ts", series_ids=["user_id"],
        ).pairwiseCorr(["value", "v2", "v3", "v4"])
    )
    out["forecast_drift"] = timed2(
        lambda: t.forecast_naive("value", 24, "1 minute", method="drift")
    )
    return out


def analytics3_probe(spark, n_rows: int, n_series: int) -> dict:
    """r12 analytics at 100× shapes (VERDICT-r11 #6, the families the
    --analytics/--analytics2 probes don't cover):

    - technical indicators on the raw series (RSI-14, Bollinger-20,
      MACD 12/26/9) and on calc_bars output (ATR-14, stochastic 14/3) —
      all exact-decimal bounded-row window frames, expected linear;
    - forecast horizon sweep: seasonal-naive and Holt-Winters at h=24 vs
      h=336 (the fan-out explode is h·n_series rows — is the cost the
      fit aggregation or the horizon?);
    - seasonal_anomalies period 24 (decompose + residual ESD compose);
    - retrieval_metrics at k=100 over n_series·100 ranked rows with 10
      judged docs/query (the VERDICT shape: gate scale is k=5).

    Checksum-forced (count() lets Catalyst prune computed columns)."""
    from tempo_spark.pipeline.search import retrieval_metrics

    ev = synth_events(spark, n_rows, n_series)
    t = TSDF(ev, ts_col="ts", series_ids=["user_id"])
    out: dict = {"n_rows": n_rows, "n_series": n_series}

    def force(df):
        return df.agg(
            F.sum(F.pmod(F.xxhash64(F.struct(*df.columns)), F.lit(1 << 30)))
        ).collect()

    def timed2(build):
        secs = []
        for _ in range(2):
            t0 = time.monotonic()
            force(build())
            secs.append(round(time.monotonic() - t0, 2))
        return {"sec": min(secs), "reps": secs}

    out["rsi14"] = timed2(lambda: t.withRSI("value").df)
    out["bollinger20"] = timed2(lambda: t.withBollinger("value").df)
    out["macd"] = timed2(lambda: t.withMACD("value").df)
    bars = t.calc_bars("1 minute")
    out["bars_atr14"] = timed2(
        lambda: bars.withATR("high_value", "low_value", "close_value").df
    )
    out["bars_stoch"] = timed2(
        lambda: bars.withStochastic(
            "high_value", "low_value", "close_value"
        ).df
    )
    for h in (24, 336):
        out[f"fc_seasonal_h{h}"] = timed2(
            lambda h=h: t.forecast_naive(
                "value", h, "1 minute", method="seasonal", period=24
            )
        )
        out[f"fc_hw_h{h}"] = timed2(
            lambda h=h: t.forecast_ets(
                "value", h, "1 minute", method="hw_add",
                alpha=0.3, beta=0.1, gamma=0.1, period=24,
            )
        )
    out["seasonal_anomalies24"] = timed2(
        lambda: t.seasonal_anomalies("value", 24)
    )

    # IR eval at k=100: n_series queries × 100 ranked rows, 10 qrels each
    n_q = n_series
    results = spark.range(n_q * 100).select(
        (F.col("id") % n_q).alias("query_id"),
        F.pmod(F.xxhash64("id"), F.lit(1000)).alias("doc_id"),
        (F.col("id") / n_q + 1).cast("int").alias("rank"),
    )
    qrels = spark.range(n_q * 10).select(
        (F.col("id") % n_q).alias("query_id"),
        F.pmod(F.xxhash64("id", F.lit(7)), F.lit(1000)).alias("doc_id"),
        (F.pmod(F.xxhash64("id", F.lit(9)), F.lit(3)) + 1).cast(
            "int"
        ).alias("rel"),
    ).dropDuplicates(["query_id", "doc_id"])
    out["retrieval_metrics_k100"] = timed2(
        lambda: retrieval_metrics(
            results, qrels, k=100, rel_col="rel"
        )
    )
    return out


def bm25_probe(spark, n_docs: int) -> dict:
    """BM25 at corpus scale: 10 three-term queries against n_docs 20-token
    docs over a 5k vocabulary (every query term is hot — worst case for
    the broadcast prune: ~0.06% of the token stream still survives into
    the (doc, term) shuffle per term). Measures the ad-hoc path (3 corpus
    passes, query-restricted shuffle) and the indexed path split into
    build (the one-time full-vocabulary shuffle, persisted) vs query
    (postings-only, no text)."""
    from tempo_spark.pipeline.search import BM25Index, bm25_topk

    word = lambda e: F.substring(
        F.md5(F.pmod(F.xxhash64(e), F.lit(5000)).cast("string")), 1, 6
    )
    docs = spark.range(n_docs).select(
        F.col("id").alias("doc_id"),
        F.array_join(
            F.transform(
                F.sequence(F.lit(0), F.lit(19)),
                lambda i: word(F.col("id") * 20 + i),
            ),
            " ",
        ).alias("text"),
    )
    queries = spark.range(10).select(
        F.col("id").alias("query_id"),
        F.array_join(
            F.transform(
                F.sequence(F.lit(0), F.lit(2)),
                lambda i: word(F.col("id") * 3 + i + 7),
            ),
            " ",
        ).alias("text"),
    )
    out: dict = {"n_docs": n_docs}
    t0 = time.monotonic()
    n = bm25_topk(docs, queries, k=10).count()
    dt = time.monotonic() - t0
    out["adhoc"] = {"sec": round(dt, 2), "rows": n,
                    "docs_per_sec": int(n_docs / dt)}
    t0 = time.monotonic()
    idx = BM25Index.build(docs)
    idx.postings = idx.postings.persist()
    idx.dfreq = idx.dfreq.persist()
    idx.postings.count()
    out["index_build"] = {"sec": round(time.monotonic() - t0, 2)}
    t0 = time.monotonic()
    n2 = idx.topk(queries, k=10).count()
    dt = time.monotonic() - t0
    out["indexed_query"] = {"sec": round(dt, 2), "rows": n2}
    idx.postings.unpersist()
    idx.dfreq.unpersist()
    return out


def main():
    skew = "--skew" in sys.argv
    if "--thresholds" in sys.argv:
        spark = _probe_session()
        print(json.dumps(_stamp(thresholds_probe(spark))))
        spark.stop()
        return
    if "--text" in sys.argv:
        spark = _probe_session()
        for n in (1_000_000, 4_000_000):
            print(json.dumps(_stamp(text_probe(spark, n))))
        spark.stop()
        return
    if "--asofmany" in sys.argv:
        spark = _probe_session()
        for n in (4_000_000, 16_000_000):
            print(json.dumps(_stamp(asofmany_probe(spark, n, 10_000, 4))))
        # the typical shape: rights ≪ left (feature sources vs event stream)
        print(json.dumps(_stamp(asofmany_probe(spark, 16_000_000, 10_000, 4, 1_600_000))))
        spark.stop()
        return
    if "--ivljoin" in sys.argv:
        spark = _probe_session()
        for n in (100_000, 500_000, 2_000_000):
            print(json.dumps(_stamp(ivljoin_probe(spark, n, 8))))
        spark.stop()
        return
    if "--ivfassign" in sys.argv:
        spark = _probe_session()
        # execution work is n_vecs × n_centroids × dim — shrink the corpus
        # as k grows so the BUILD-latency axis (the hazard) stays visible
        for n, k in ((2_000_000, 64), (200_000, 1024), (50_000, 4096)):
            print(json.dumps(_stamp(ivfassign_probe(spark, n, k))))
        spark.stop()
        return
    if "--corr" in sys.argv:
        spark = _probe_session()
        for n in (2_000_000, 8_000_000):
            print(json.dumps(_stamp(corr_probe(spark, n, 10_000))))
        spark.stop()
        return
    if "--disjoint" in sys.argv:
        spark = _probe_session()
        for n in (2_000_000, 8_000_000):
            print(json.dumps(_stamp(disjoint_probe(spark, n, 10_000))))
        spark.stop()
        return
    if "--disjointdense" in sys.argv:
        # overlap-DENSE regime (the r12 rehearsal shape: 90-step spans
        # over a shared clock): depth sweep at fixed rows, then rows
        # sweep at depth 30 — pins wall ∝ rows × depth
        spark = _probe_session()
        for n, depth in ((2_000_000, 3), (2_000_000, 30), (2_000_000, 90),
                         (8_000_000, 30)):
            print(json.dumps(_stamp(
                disjoint_probe(spark, n, 10_000, span_steps=depth)
            )))
        spark.stop()
        return
    if "--disjoint2l" in sys.argv:
        # r13 VERDICT item 8: depth-bucketed two-level merge vs the
        # single-level pairing in the overlap-dense regime. Sweep depth
        # and bucket count; checksummed equal each point.
        spark = _probe_session()
        for n, depth, bks in (
            (2_000_000, 30, 5),
            (2_000_000, 90, 5),
            (2_000_000, 90, 9),
            (8_000_000, 30, 5),
        ):
            print(json.dumps(_stamp(
                disjoint2l_probe(spark, n, 10_000, depth, bks)
            )))
        spark.stop()
        return
    if "--chunk" in sys.argv:
        spark = _probe_session()
        for n in (10_000, 40_000, 100_000):
            print(json.dumps(_stamp(chunk_probe(spark, n))))
        spark.stop()
        return
    if "--dsir" in sys.argv:
        spark = _probe_session()
        for n in (1_000_000, 4_000_000):
            print(json.dumps(_stamp(dsir_probe(spark, n))))
        spark.stop()
        return
    if "--anomaly" in sys.argv:
        spark = _probe_session()
        for n in (2_000_000, 8_000_000):
            print(json.dumps(_stamp(anomaly_probe(spark, n, 10_000))))
        spark.stop()
        return
    if "--pq" in sys.argv:
        spark = _probe_session()
        for n in (500_000, 2_000_000):
            print(json.dumps(_stamp(pq_probe(spark, n))))
        spark.stop()
        return
    if "--rollup" in sys.argv:
        spark = _probe_session()
        # dense regime (~55 rows per finest bucket): rollup's home turf
        print(json.dumps(_stamp(rollup_probe(spark, 8_000_000, 100, 1))))
        # sparse regime (~0.2 rows per finest bucket): naive should win
        print(json.dumps(_stamp(rollup_probe(spark, 8_000_000, 10_000, 3))))
        spark.stop()
        return
    if "--emaprefix" in sys.argv:
        # sliding O(rows×window) vs prefix O(rows) EMA/MACD (r12)
        spark = _probe_session()
        for n in (2_000_000, 8_000_000):
            t = TSDF(synth_events(spark, n, 10_000),
                     ts_col="ts", series_ids=["user_id"])
            out = {"n_rows": n}

            def force(df):
                return df.agg(F.sum(F.pmod(
                    F.xxhash64(F.struct(*df.columns)), F.lit(1 << 30)
                ))).collect()

            for name, build in (
                ("macd_sliding", lambda: t.withMACD("value").df),
                ("macd_prefix",
                 lambda: t.withMACD("value", ema_strategy="prefix").df),
                ("ema104_sliding",
                 lambda: t.EMA("value", window=104, span=26.0).df),
                ("ema104_prefix",
                 lambda: t.EMA("value", window=104, span=26.0,
                               strategy="prefix").df),
            ):
                secs = []
                for _ in range(2):
                    t0 = time.monotonic()
                    force(build())
                    secs.append(round(time.monotonic() - t0, 2))
                out[name] = {"sec": min(secs), "reps": secs}
            print(json.dumps(_stamp(out)))
        spark.stop()
        return
    if "--analytics3" in sys.argv:
        spark = _probe_session()
        for n in (2_000_000, 8_000_000):
            print(json.dumps(_stamp(analytics3_probe(spark, n, 10_000))))
        spark.stop()
        return
    if "--analytics2" in sys.argv:
        # the r11 additions only (skips the expensive acf strategy sweep)
        spark = _probe_session()
        for n in (2_000_000, 8_000_000):
            print(json.dumps(_stamp(
                analytics_probe(spark, n, 10_000, sweep=False)
            )))
        spark.stop()
        return
    if "--analytics" in sys.argv:
        spark = _probe_session()
        for n in (2_000_000, 8_000_000):
            print(json.dumps(_stamp(analytics_probe(spark, n, 10_000))))
        spark.stop()
        return
    if "--bm25" in sys.argv:
        spark = _probe_session()
        for n in (1_000_000, 4_000_000):
            print(json.dumps(_stamp(bm25_probe(spark, n))))
        spark.stop()
        return
    if "--prepare" in sys.argv:
        spark = _probe_session()
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        sf = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
        for mult in (1, 4):
            print(json.dumps(_stamp(prepare_probe(spark, sf, mult))))
        spark.stop()
        return
    if "--spandedup" in sys.argv:
        spark = _probe_session()
        for n in (1_000_000, 4_000_000):
            print(json.dumps(_stamp(spandedup_probe(spark, n))))
        spark.stop()
        return
    if "--semdedup" in sys.argv:
        spark = _probe_session()
        # k scales with n (the SemDeDup regime); the small run's pair graph
        # takes the CC driver fast path, the large one the distributed loop
        for n, k in ((200_000, 1024), (800_000, 4096)):
            print(json.dumps(_stamp(semdedup_probe(spark, n, k))))
        spark.stop()
        return
    if "--paradedup" in sys.argv:
        spark = _probe_session()
        for n in (1_000_000, 4_000_000):
            print(json.dumps(_stamp(paradedup_probe(spark, n))))
        spark.stop()
        return
    if "--asofbin" in sys.argv:
        spark = _probe_session()
        for n in (2_000_000, 8_000_000):
            print(json.dumps(_stamp(asof_bin_probe(spark, n, 8))))
        spark.stop()
        return
    if "--stopgram" in sys.argv:
        spark = _probe_session()
        for n in (1_000_000, 4_000_000):
            print(json.dumps(_stamp(stopgram_probe(spark, n))))
        spark.stop()
        return
    if "--neardedup" in sys.argv:
        spark = _probe_session()
        for corpus_rows in (500_000, 2_000_000):
            print(json.dumps(_stamp(near_dedup_probe(spark, corpus_rows, corpus_rows // 100))))
        spark.stop()
        return
    if "--corpus" in sys.argv:
        spark = _probe_session()
        for corpus_rows in (8_000_000, 32_000_000):
            print(json.dumps(_stamp(corpus_dedup_probe(spark, corpus_rows, corpus_rows // 100))))
        spark.stop()
        return
    if "--cc" in sys.argv:
        spark = _probe_session()
        print(json.dumps(_stamp(cc_probe(spark, 2_000_000, 64))))
        spark.stop()
        return
    spark = (
        SparkSession.builder.master("local[32]")
        .appName("tempo_spark-scale-probe")
        .config("spark.sql.shuffle.partitions", "64")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.driver.memory", "24g")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    results = []
    if skew:
        for frac in (0.0, 0.5):
            results.append(probe(spark, 16_000_000, 10_000, skew_frac=frac))
            print(json.dumps(_stamp(results[-1])))
    elif "--big" in sys.argv:
        # 64M rows — linearity check for the O(n) operators; the sliding
        # range frame is skipped (known O(rows × frame_rows): ~15 min here)
        results.append(probe(spark, 64_000_000, 10_000, skip_sliding=True))
        print(json.dumps(_stamp(results[-1])))
    else:
        for n in (1_000_000, 4_000_000, 16_000_000):
            results.append(probe(spark, n, 10_000))
            print(json.dumps(_stamp(results[-1])))
    spark.stop()


if __name__ == "__main__":
    main()
