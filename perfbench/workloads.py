"""The two benchmark workloads.

Each workload is a plan-build step (``build``: the user's operator calls,
returning a lazy result), an action step (``act``: the forcing aggregate or
the write), and a check of the output against the generator's facts. Every
call into the program goes through ``span(name, layer)``, which the traced
mode turns into a labelled, timed span; layers are named after the modules
called.

Outputs are reduced to an order-independent digest per result: the sum of
``xxhash64`` over every row, doubles first rounded by the repository's
``floor(x*1e6+0.5)/1e6`` convention so that float reduction order cannot
change a bit of it.
"""

from __future__ import annotations

import hashlib
import os
import shutil
from dataclasses import dataclass
from functools import reduce
from typing import Callable

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame
from pyspark.sql.types import ArrayType, DoubleType, FloatType

from gen import Sizes


def _round6(c: Column) -> Column:
    # |x| < 1e12 keeps floor() inside a long; NaN compares above every
    # value in Spark, so NaN and ±inf pass through unrounded
    c = c.cast("double")
    return F.when(F.abs(c) < 1e12, F.floor(c * 1e6 + 0.5) / 1e6).otherwise(c)


def row_hashes(df: DataFrame, tag: str, extra: Column | None = None) -> DataFrame:
    """(tag, h, x): one 64-bit hash per row of ``df`` and an optional
    per-row check value ``x`` summed alongside it."""
    cols = []
    for f in df.schema.fields:
        c = F.col(f"`{f.name}`")
        if isinstance(f.dataType, (DoubleType, FloatType)):
            c = _round6(c)
        elif isinstance(f.dataType, ArrayType) and isinstance(
            f.dataType.elementType, (DoubleType, FloatType)
        ):
            c = F.transform(c, _round6)
        cols.append(c)
    return df.select(
        F.lit(tag).alias("tag"),
        F.xxhash64(*cols).cast("decimal(38,0)").alias("h"),
        (extra if extra is not None else F.lit(None)).cast("decimal(38,0)").alias("x"),
    )


def digest_frame(parts: list[DataFrame]) -> DataFrame:
    """One aggregate over every tagged part: (tag, n, h, x) per tag."""
    return (
        reduce(DataFrame.unionByName, parts)
        .groupBy("tag")
        .agg(F.count("*").alias("n"), F.sum("h").alias("h"), F.sum("x").alias("x"))
    )


def tag_rows(rows) -> dict:
    """{tag: (n, h, x)} with decimals as ints (None when no value)."""
    return {
        r["tag"]: (
            int(r["n"]),
            int(r["h"]) if r["h"] is not None else None,
            int(r["x"]) if r["x"] is not None else None,
        )
        for r in rows
    }


def workload_digest(tags: dict) -> str:
    """One short hex digest over every tag's (n, h, x)."""
    text = ";".join(f"{t}:{n}:{h}:{x}" for t, (n, h, x) in sorted(tags.items()))
    return hashlib.sha256(text.encode()).hexdigest()[:16]


@dataclass
class Inputs:
    dir: str
    facts: dict
    work: str  # scratch directory for written outputs

    def path(self, name: str) -> str:
        return os.path.join(self.dir, f"{name}.parquet")


@dataclass
class Acted:
    """What a pass's action did: the DataFrames it forced or wrote, the
    digest rows it collected, and the directory it wrote."""

    frames: list
    tags: dict
    written: str | None = None


@dataclass
class Workload:
    """One benchmark workload; why each exists is in README.md."""

    name: str
    sizes: Sizes
    #: untimed warm-up passes: the JIT is still compiling after the first,
    #: and the run-time budget affords a second only where passes are short
    warmups: int
    build: Callable  # (spark, Inputs, span) -> lazy state
    act: Callable  # (spark, state, Inputs, span) -> Acted
    #: (spark, state, Acted, Inputs, verify) -> {tag: (n, h, x)}; releases
    #: what the pass holds, and reads its output back only when ``verify``
    finish: Callable
    check: Callable  # ({tag: (n, h, x)}, facts) -> [problem, ...]


# -- ts_pipeline ------------------------------------------------------------


def _ts_build(spark, inp: Inputs, span):
    from tempo_spark import TSDF, IntervalsDF

    ev = spark.read.parquet(inp.path("events"))
    # the one series-keyed shuffle every per-series operator below reuses
    de = (
        ev.repartition("user_id")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("value"))
        .withColumn("cents", F.round(F.col("value") * 100).cast("long"))
    )
    clicks = ev.where(F.col("event_type") == "click").select("user_id", "ts", "value")
    purchases = (
        ev.where(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("p_value"))
    )
    intervals = de.select(
        "user_id",
        F.col("ts").alias("start_ts"),
        (F.col("ts") + F.expr("interval 2 hours")).alias("end_ts"),
        F.when(F.col("cents") % 2 == 0, F.col("cents")).alias("metric_a"),
        F.when(F.col("cents") % 2 == 1, F.col("cents")).alias("metric_b"),
    )
    out = {}
    with span("tsdf.TSDF", "tsdf"):
        left = TSDF(clicks, ts_col="ts", series_ids=["user_id"])
        right = TSDF(purchases, ts_col="ts", series_ids=["user_id"])
        t = TSDF(de, ts_col="ts", series_ids=["user_id"])
    with span("tsdf.asofJoin", "tsdf"):
        out["asof"] = left.asofJoin(right, left_prefix="left", right_prefix="right").df
    with span("tsdf.resample", "tsdf"):
        rs = t.resample("30 minutes", "mean")
    with span("tsdf.interpolate", "tsdf"):
        out["interpolate"] = rs.interpolate("linear").df
    with span("tsdf.withRangeStats", "tsdf"):
        out["range_stats"] = t.withRangeStats(
            colsToSummarize=["cents"], rangeBackWindowSecs=1000
        ).df
    with span("intervals.make_disjoint", "intervals"):
        out["disjoint"] = IntervalsDF(
            intervals, "start_ts", "end_ts", ["user_id"]
        ).make_disjoint().df
    return out


def _ts_act(spark, parts: dict, inp: Inputs, span) -> Acted:
    frame = digest_frame([row_hashes(df, tag) for tag, df in parts.items()])
    return Acted([frame], tag_rows(frame.collect()))


def _ts_check(tags: dict, facts: dict) -> list:
    ev = facts["events"]
    want = {
        "asof": ev["clicks"],
        "range_stats": ev["dedup_rows"],
    }
    probs = [
        f"{t}: {tags.get(t, (0,))[0]} rows, expected {n}"
        for t, n in want.items() if tags.get(t, (0,))[0] != n
    ]
    probs += [f"{t}: empty" for t in ("interpolate", "disjoint") if tags.get(t, (0,))[0] == 0]
    return probs


# -- corpus, first half: prepare and write -----------------------------------

MIX_SHARES = {"en": 0.4, "de": 0.15, "es": 0.15, "fr": 0.15, "zh": 0.15}
N_SHARDS = 16


def _prep_build(spark, inp: Inputs, span):
    from tempo_spark.pipeline.prepare import CorpusStaging, prepare_corpus

    docs = spark.read.parquet(inp.path("documents")).where(
        F.col("text").isNotNull()
    ).select("doc_id", "text", "lang")
    staging = CorpusStaging()
    with span("prepare.prepare_corpus", "prepare"):
        out = prepare_corpus(
            docs,
            normalize=True,
            min_quality=0.2,
            max_dup_2gram_frac=0.5,
            exact_dedup=True,
            near_dedup_threshold=0.8,
            mix_group_col="lang",
            mix_shares=MIX_SHARES,
            pack_tokens=2048,
            staging=staging,
        )
    return out.select("doc_id", "lang", "n_tokens", "split", "pack_id"), staging


def _prep_act(spark, state, inp: Inputs, span) -> Acted:
    from tempo_spark.pipeline.sampling import write_training_shards

    out, _ = state
    dest = os.path.join(inp.work, "shards")
    with span("sampling.write_training_shards", "sampling"):
        write_training_shards(out, dest, "doc_id", N_SHARDS)
    return Acted([out], {}, dest)


def _prep_finish(spark, state, dest: str, inp: Inputs, verify: bool) -> dict:
    """Release the pass's caches, then digest and check-read the shards."""
    import threading

    _, staging = state
    # the prefill thread may still be draining its queue: let it end before
    # the caches go, so nothing of this pass survives into the next one
    for t in threading.enumerate():
        if t.name.startswith("tempo-prepare-prefill"):
            t.join()
    staging.release(blocking=True)
    if not verify:
        shutil.rmtree(dest, ignore_errors=True)
        return {}
    written = spark.read.parquet(dest)
    exact_dst = [dst for _, dst in inp.facts["documents"]["exact_pairs"]]
    parts = [
        row_hashes(written.select(*sorted(written.columns)), "written"),
        row_hashes(written.select("doc_id").distinct(), "distinct_ids"),
        row_hashes(written.select("shard_id").distinct(), "shards"),
        row_hashes(
            written.where(F.col("doc_id").isin(exact_dst)).select("doc_id"),
            "exact_dup_survivors",
        ),
    ]
    tags = tag_rows(digest_frame(parts).collect())
    shutil.rmtree(dest, ignore_errors=True)
    return tags


def _prep_check(tags: dict, facts: dict) -> list:
    n = tags.get("written", (0,))[0]
    probs = []
    if n == 0:
        probs.append("written: no rows")
    if tags.get("distinct_ids", (0,))[0] != n:
        probs.append("written: duplicate doc_id")
    if n > facts["documents"]["docs"]:
        probs.append("written: more rows than input docs")
    if tags.get("shards", (0,))[0] > N_SHARDS:
        probs.append("written: too many shards")
    if tags.get("exact_dup_survivors", (0,))[0]:
        probs.append("exact duplicate survived dedup")
    return probs


# -- corpus, second half: search ---------------------------------------------

N_QUERIES = 20
BM25_K, ANN_K = 10, 5
PAIR_KEY = 1_000_003


def _search_build(spark, inp: Inputs, span):
    from tempo_spark.pipeline.dedup import ngram_jaccard_pairs
    from tempo_spark.pipeline.search import bm25_topk
    from tempo_spark.pipeline.similarity import IVFIndex, PQCodec, ivf_pq_topk

    docs = spark.read.parquet(inp.path("documents"))
    emb = spark.read.parquet(inp.path("embeddings"))
    step = inp.facts["documents"]["docs"] // N_QUERIES
    queries = docs.where(F.col("doc_id") % step == 0).select(
        F.col("doc_id").alias("query_id"), "text"
    )
    qvecs = emb.where(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = {}
    with span("dedup.ngram_jaccard_pairs", "dedup"):
        out["pairs"] = ngram_jaccard_pairs(docs, "doc_id", "text", shingle_k=3, threshold=0.8)
    with span("search.bm25_topk", "search"):
        out["bm25"] = bm25_topk(docs, queries, k=BM25_K)
    with span("similarity.IVFIndex.build", "similarity"):
        idx = IVFIndex.build(emb, n_centroids=16, seed=42, init_mode="local")
    with span("similarity.PQCodec.train", "similarity"):
        codec = PQCodec.train(emb, m=8, ksub=64, seed=42)
    with span("similarity.PQCodec.encode", "similarity"):
        codes = codec.encode(idx.assigned, vec_col="__vec")
    with span("similarity.ivf_pq_topk", "similarity"):
        out["ann"] = ivf_pq_topk(idx, codec, qvecs, codes_df=codes, k=ANN_K, nprobe=4)
    return out


def _search_act(spark, parts: dict, inp: Inputs, span) -> Acted:
    pairs = parts["pairs"]
    exact = F.when(
        F.col("jaccard") >= 1.0, F.col("id_a") * PAIR_KEY + F.col("id_b")
    )
    frame = digest_frame(
        [row_hashes(pairs, "pairs", exact)]
        + [row_hashes(df, tag) for tag, df in parts.items() if tag != "pairs"]
    )
    return Acted([frame], tag_rows(frame.collect()))


def _search_check(tags: dict, facts: dict) -> list:
    planted = facts["documents"]["exact_pairs"]
    want_x = sum(a * PAIR_KEY + b for a, b in planted)
    probs = []
    if tags.get("pairs", (0, 0, None))[2] != want_x:
        probs.append("pairs: planted exact duplicates not found exactly")
    if tags.get("bm25", (0,))[0] != N_QUERIES * BM25_K:
        probs.append(f"bm25: {tags.get('bm25', (0,))[0]} rows")
    if tags.get("ann", (0,))[0] != N_QUERIES * ANN_K:
        probs.append(f"ann: {tags.get('ann', (0,))[0]} rows")
    return probs


def _collected(spark, state, acted: Acted, inp: Inputs, verify: bool) -> dict:
    return acted.tags


# -- corpus: prepare + write, then search, in one pass ------------------------


def _corpus_build(spark, inp: Inputs, span):
    return _prep_build(spark, inp, span), _search_build(spark, inp, span)


def _corpus_act(spark, state, inp: Inputs, span) -> Acted:
    prep, search = state
    wrote = _prep_act(spark, prep, inp, span)
    found = _search_act(spark, search, inp, span)
    return Acted(wrote.frames + found.frames, found.tags, wrote.written)


def _corpus_finish(spark, state, acted: Acted, inp: Inputs, verify: bool) -> dict:
    return {**_prep_finish(spark, state[0], acted.written, inp, verify), **acted.tags}


def _corpus_check(tags: dict, facts: dict) -> list:
    return _prep_check(tags, facts) + _search_check(tags, facts)


WORKLOADS = {
    w.name: w
    for w in (
        # sizes are small because every pass is dominated by fixed
        # per-operator costs and one run must stay well under a minute
        # (README.md)
        Workload(
            "ts_pipeline", Sizes(events=8_000, users=5), 2,
            _ts_build, _ts_act, _collected, _ts_check,
        ),
        Workload(
            # N_QUERIES must divide docs: one query per `step` doc ids
            "corpus", Sizes(docs=1_000, vocab=20_000, vectors=750), 1,
            _corpus_build, _corpus_act, _corpus_finish, _corpus_check,
        ),
    )
}
