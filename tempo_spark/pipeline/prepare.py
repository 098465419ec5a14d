"""One-call training-corpus preparation.

``prepare_corpus`` composes the individual pipeline operators — quality
signals → filters → dedup → split → packing → shard assignment — into the
standard preparation recipe, in the order a production pipeline runs them
(cheap per-row filters FIRST so the expensive dedup stages see fewer
rows). It adds no logic of its own: every stage is one of the documented
operators with its own scale story, and every knob is optional, so the
call reads as the pipeline's table of contents:

    prepared = prepare_corpus(
        docs,
        min_quality=0.3,
        max_dup_2gram_frac=0.3,
        near_dedup_threshold=0.8,
        pack_tokens=4096,
        n_shards=1024,
    )

Returns the surviving rows annotated with ``n_tokens``, ``quality_score``,
``dup_2gram_frac``, ``split`` (and ``pack_id``/``shard_id`` when
requested) — ready for ``sampling.write_training_shards`` or a plain
partitioned write.
"""

from __future__ import annotations

import hashlib
import json
import logging
import re
from typing import Mapping, Optional

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

MANIFEST_NAME = "_tempo_manifest.json"


def _cfg_token(v) -> str:
    """Deterministic string token for one config value, used in the
    resume-manifest digest. Primitives and mappings serialize exactly;
    DataFrames contribute schema + an expression-id-normalized analyzed
    plan + the input-file listing (RESTART-STABLE — see below); plain-attr
    objects (BPEModel, LinearTextModel) contribute their attr dict;
    anything else falls back to its class name (config changes inside
    such objects are NOT detected — documented limitation).

    The r12 dress rehearsal found ``semanticHash()`` is SESSION-scoped
    for file scans (the canonicalized relation hashes its FileIndex by
    object identity), so a digest built on it never matched after a real
    process restart and ``resume=True`` silently recomputed everything.
    File-backed frames now token as (schema, ``#exprId``-stripped
    analyzed-plan digest, sorted input-file digest) — stable across JVMs,
    still invalidated by any rewrite (parquet part names are unique per
    write) or plan change — rendered with maxToStringFields raised so a
    wide projection's tail expressions can't elide out of the digest.
    Frames with NO input files (in-memory data) keep the semanticHash
    component, and so do file-backed plans CONTAINING an in-memory leaf
    (LocalRelation prints schema, never data — a parquet ∪ patch union
    could change invisibly otherwise): their data cannot be re-verified
    across a restart, so cross-session resume conservatively recomputes.
    """
    if v is None or isinstance(v, (bool, int, float, str)):
        return repr(v)
    if isinstance(v, Mapping):
        return "{" + ",".join(
            f"{_cfg_token(k)}:{_cfg_token(v[k])}"
            for k in sorted(v, key=repr)
        ) + "}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_cfg_token(x) for x in v) + "]"
    if isinstance(v, DataFrame):
        schema = v.schema.simpleString()
        try:
            # the default spark.sql.debug.maxToStringFields (25) elides
            # arguments past the 25th field of any node ("... N more
            # fields") — a changed expression there would fingerprint
            # identically and resume would serve stale stages (r12
            # review). Raise it for the render, restore after.
            conf = v.sparkSession.conf
            prev = conf.get("spark.sql.debug.maxToStringFields", "25")
            conf.set("spark.sql.debug.maxToStringFields", "1000000")
            try:
                plan = v._jdf.queryExecution().analyzed().toString()
            finally:
                conf.set("spark.sql.debug.maxToStringFields", prev)
            plan_d = hashlib.md5(
                re.sub(r"#\d+", "#", plan).encode()
            ).hexdigest()
            files = sorted(v.inputFiles())
        except Exception:
            plan, plan_d, files = "", "uncheckable", []
        # in-memory leaves (LocalRelation / parallelized RDDs) print
        # their schema, NOT their data — a file-backed plan that ALSO
        # contains one (parquet ∪ createDataFrame patch) could change
        # data invisibly, so those plans keep the session-scoped
        # semanticHash too: cross-JVM resume conservatively recomputes
        # rather than ever serving stale output (r12 review)
        mem_leaf = any(
            n in plan
            for n in ("LocalRelation", "LogicalRDD", "ExternalRDD")
        )
        if files and not mem_leaf:
            fd = hashlib.md5("\n".join(files).encode()).hexdigest()
            return f"df:{schema}:plan:{plan_d}:files:{fd}"
        try:
            h = v.semanticHash()
        except Exception:
            h = "uncheckable"
        if files:
            fd = hashlib.md5("\n".join(files).encode()).hexdigest()
            return f"df:{schema}:plan:{plan_d}:files:{fd}:{h}"
        return f"df:{schema}:plan:{plan_d}:{h}"
    attrs = getattr(v, "__dict__", None)
    if attrs is not None:
        try:
            return (
                f"obj:{type(v).__name__}:"
                + _cfg_token({k: attrs[k] for k in sorted(attrs)})
            )
        except Exception:
            pass
    return f"obj:{type(v).__name__}"


def _hadoop_fs(spark, path: str):
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    return jpath.getFileSystem(spark._jsc.hadoopConfiguration()), jpath


def _manifest_write(spark, dir_path: str, payload: dict) -> None:
    fs, jpath = _hadoop_fs(spark, f"{dir_path}/{MANIFEST_NAME}")
    out = fs.create(jpath, True)
    try:
        out.write(bytearray(json.dumps(payload, sort_keys=True).encode()))
    finally:
        out.close()


def _manifest_read(spark, dir_path: str) -> Optional[dict]:
    """Best-effort manifest load: ANY failure (missing, deleted between
    the exists check and the open, corrupt JSON) returns None so a
    resumed run falls back to recomputing the stage — never crashes."""
    try:
        fs, jpath = _hadoop_fs(spark, f"{dir_path}/{MANIFEST_NAME}")
        if not fs.exists(jpath):
            return None
        size = fs.getFileStatus(jpath).getLen()
        if size <= 0 or size > 1 << 20:
            return None
        stream = fs.open(jpath)
        try:
            # ONE bulk JVM-side read returning byte[] (py4j marshals the
            # return value; a per-byte read() loop costs one py4j round
            # trip per byte, and readFully into a passed bytearray would
            # silently not propagate — py4j copies arguments by value)
            data = spark._jvm.org.apache.commons.io.IOUtils.toByteArray(
                stream
            )
            return json.loads(bytes(data).decode())
        finally:
            stream.close()
    except Exception:
        return None


class CorpusStaging:
    """Deterministic release handle for ``prepare_corpus``'s persist
    barriers. Without one, the (corpus-sized) cache entries live until the
    SparkSession ends — fine for a one-corpus job, a real leak for a
    session preparing many different corpora. Use as a context manager
    around the call AND the terminal action (the caches must survive until
    the result is written/collected — release-before-action would silently
    re-execute the un-barriered lineage, reintroducing the 17× composition
    blowup the barriers exist to prevent):

        with CorpusStaging() as staging:
            out = prepare_corpus(docs, ..., staging=staging)
            out.write.parquet(dest)
        # barriers unpersisted here

    or call :meth:`release` explicitly."""

    def __init__(self) -> None:
        self.frames: list[DataFrame] = []

    def release(self, blocking: bool = False) -> None:
        """Unpersist every tracked barrier (idempotent)."""
        for f in self.frames:
            f.unpersist(blocking)
        self.frames.clear()

    def __enter__(self) -> "CorpusStaging":
        return self

    def __exit__(self, *exc) -> bool:
        self.release()
        return False


def prepare_corpus(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    normalize: bool = False,
    redact: bool = False,
    remove_foreign_paras: bool = False,
    min_quality: float | None = None,
    max_dup_2gram_frac: float | None = None,
    quality_model=None,
    min_clf_prob: float | None = None,
    paragraph_dedup: bool = False,
    paragraph_sep: str = "\n\n",
    span_dedup_ngram: int | None = None,
    decontaminate_against: DataFrame | None = None,
    decontaminate_ngram: int = 13,
    exact_dedup: bool = True,
    near_dedup_threshold: float | None = None,
    mix_group_col: str | None = None,
    mix_shares: Mapping[object, float] | None = None,
    splits: Mapping[str, float] | None = None,
    pack_tokens: int | None = None,
    n_shards: int | None = None,
    salt: str = "prep",
    hash_family: str = "xxhash64",
    persist_intermediate: bool = True,
    staging: Optional[CorpusStaging] = None,
    staging_dir: Optional[str] = None,
    resume: bool = False,
    token_model=None,
) -> DataFrame:
    """Standard corpus preparation in one call; see the module docstring.

    Stage order and cost shape:

    1. per-row signals + filters (token count, quality, dup-2gram; with
       ``normalize=True``, ``normalize_text`` unicode/whitespace cleanup
       runs FIRST — dedup digests over un-normalized text miss duplicates
       that differ only in quote style or whitespace — with
       ``redact=True``, PII pattern redaction next, and with
       ``remove_foreign_paras=True`` the CCNet foreign-paragraph filter
       after that (paragraphs disagreeing with the document's majority
       language are dropped BEFORE signals, so quality/token counts
       describe the text that ships), so every downstream hash/signal
       sees the cleaned text — shuffle-free, prunes before anything
       expensive runs; ``quality_model=`` (a
       ``classifier.LinearTextModel``) additionally scores every doc with
       the trained linear quality filter (columns ``clf_logit``/
       ``clf_prob``) and ``min_clf_prob=`` filters on it;
    2. ``paragraph_dedup`` — keep-first sub-document dedup (C4 recipe) on
       ``paragraph_sep``-separated blocks, then re-derived token counts;
       ``span_dedup_ngram`` (e.g. 50) additionally cuts repeated word
       n-gram spans keep-first (the Lee-et-al substring grain);
       ``decontaminate_against`` surgically cuts spans sharing a
       ``decontaminate_ngram``-gram with the given benchmark/eval frame —
       all three rewrite the text, so per-row signals re-derive after any;
    3. ``exact_dedup`` — one digest shuffle, min-id winner;
    4. ``near_dedup_threshold`` — MinHash/LSH pairs (word 3-grams) →
       connected components → canonical min-id survivor;
    5. ``mix_group_col``/``mix_shares`` — waterfilling source mixture
       AFTER dedup (mixing before dedup would re-skew whenever one
       source is more duplicated than another);
    6. ``with_split(splits)`` — per-row hash assignment;
    7. ``pack_tokens`` — sequence packing per split group (window cumsum);
    8. ``n_shards`` — shuffle-shard assignment for export.

    ``persist_intermediate`` (default True) lazily caches the frame at the
    points the downstream stages re-reference it: after the text cleanup,
    after the signals (BEFORE the quality/dup filters — predicate pushdown
    would otherwise substitute the full signal expression chains into the
    pushed predicate, re-tokenizing per reference; an InMemoryRelation is
    a pushdown fence), before exact dedup when the signals aren't already
    pinned, and after near-dedup before the mixture's two scans. Without
    a barrier, Catalyst inlines the normalize/signal expression chains
    into EVERY consumer (the ~10-regex cleanup chain appeared ~40× in the
    composed plan) and each dedup pass re-executes the whole upstream
    lineage — measured 140 s → ~4 s at sf0.1 for the full recipe. At
    100 TB prefer ``False`` + your own staged parquet writes between
    phases (the caches are corpus-sized); the composition itself is
    unchanged either way. Pass ``staging=CorpusStaging()`` to get a
    deterministic release handle for the barriers (see
    :class:`CorpusStaging` — release only AFTER the terminal action);
    without one they live until the SparkSession ends (or a global
    ``spark.catalog.clearCache()``) — sessions that call prepare_corpus
    repeatedly over DIFFERENT inputs without a handle accumulate cache
    entries; repeated calls over the SAME input reuse one entry (the
    cache manager matches canonicalized plans).

    ``token_model=`` (a :class:`tempo_spark.pipeline.bpe.BPEModel`)
    derives ``n_tokens`` from LEARNED BPE pieces instead of the
    whitespace heuristic — every downstream decision keyed on token
    counts (``pack_tokens`` packing, mixture token shares, budget
    selection) then reflects real tokenizer economics. Train once with
    ``train_bpe`` (or load a saved merges table) and pass it here; the
    per-row count is pure string expressions or an Arrow kernel (see
    bpe.py), so the stage's shuffle shape is unchanged.

    ``staging_dir=`` is the 100-TB form of the same barriers: each barrier
    WRITES the frame to parquet under ``staging_dir/NN_stage/`` and reads
    it back, instead of memory-caching a corpus-sized frame. Disk-backed
    staging is what a production pipeline does between phases anyway —
    executors write/read in parallel, nothing corpus-sized ever lives in
    executor storage memory, an evicted-cache recompute storm is
    impossible, and a failed downstream phase restarts from the last
    staged parquet instead of from raw input. The trade: each barrier is
    an EAGER action (the pipeline up to that point executes at *call*
    time, not at the terminal action) and costs one parquet write+read of
    the surviving rows — linear, compressed, and cheap next to the dedup
    shuffles it fences (measured at sf0.1 the staged recipe lands within
    the cached recipe's noise band; see SCALE.md "barrier cost model").
    Stage subdirectories are numbered and overwritten per call — give
    each concurrent ``prepare_corpus`` call its own directory. Passing
    ``staging_dir`` turns the barriers on regardless of
    ``persist_intermediate`` (the flag selects memory vs nothing; the
    dir selects disk). Output
    parity with the cached and barrier-free forms is test-pinned.
    ``staging=`` (cache release) is meaningless with ``staging_dir`` —
    staged files are durable artifacts you delete when done.

    ``resume=True`` (requires ``staging_dir``) makes a restarted run
    RESUME instead of recompute: every barrier writes a
    ``_tempo_manifest.json`` (stage name + a digest of the full call
    config + the input plan fingerprint) AFTER its parquet completes, and
    a resumed run SKIPS any barrier whose staged parquet carries a
    matching manifest — the pipeline up to that point never executes
    (Spark laziness: the skipped lineage is plan-only). A mid-recipe
    failure at 100 TB then restarts from the last completed barrier
    instead of from raw input. Atomicity: ``overwrite`` deletes the stage
    directory (manifest included) before writing, and the manifest lands
    only after the write commits, so a run killed mid-stage leaves no
    manifest and the stage recomputes. Invalidation: ANY config change
    (including a different input DataFrame plan, a different model's
    attributes, or a different decontamination frame) changes the digest
    and invalidates EVERY stage — conservative by design. The input
    fingerprint is RESTART-STABLE for file-backed frames (normalized
    plan + input-file listing; r12 — ``semanticHash`` alone is
    session-scoped and never matched after a real process restart);
    in-memory input frames still resume only within one session. NOT
    detected: data-content changes under unchanged file names, and
    config hidden inside objects without plain attributes (see
    ``_cfg_token``); delete the staging directory when in doubt. The
    manifest filename is underscore-prefixed so parquet readers treat
    it as hidden.
    """
    from tempo_spark.pipeline import dedup as d
    from tempo_spark.pipeline.components import near_dedup
    from tempo_spark.pipeline.sampling import (
        assign_packs,
        mix_by_group,
        with_shard,
        with_split,
    )
    from tempo_spark.pipeline.text import (
        normalize_text,
        redact_patterns,
        with_quality_score,
        with_repetition_metrics,
        with_token_count,
    )

    if staging_dir is not None and staging is not None:
        raise ValueError(
            "staging= (cache release handle) does not apply to "
            "staging_dir= parquet barriers — pass one or the other"
        )
    if resume and staging_dir is None:
        raise ValueError("resume=True requires staging_dir=")

    if staging_dir is not None:
        # one conservative digest over the FULL call config + the input
        # plan fingerprint: any change invalidates every staged barrier
        cfg = dict(
            df=df, id_col=id_col, text_col=text_col, normalize=normalize,
            redact=redact, remove_foreign_paras=remove_foreign_paras,
            min_quality=min_quality,
            max_dup_2gram_frac=max_dup_2gram_frac,
            quality_model=quality_model, min_clf_prob=min_clf_prob,
            paragraph_dedup=paragraph_dedup, paragraph_sep=paragraph_sep,
            span_dedup_ngram=span_dedup_ngram,
            decontaminate_against=decontaminate_against,
            decontaminate_ngram=decontaminate_ngram,
            exact_dedup=exact_dedup,
            near_dedup_threshold=near_dedup_threshold,
            mix_group_col=mix_group_col, mix_shares=mix_shares,
            splits=splits, pack_tokens=pack_tokens, n_shards=n_shards,
            salt=salt, hash_family=hash_family, token_model=token_model,
        )
        cfg_digest = hashlib.sha256(_cfg_token(cfg).encode()).hexdigest()

    stage_no = [0]

    # Stage-overlap (guide §2.6): when the recipe is ALREADY eager (a
    # near-dedup's connected-components collapses the driver-vs-lazy
    # question anyway), each memory barrier's cache fill is submitted to a
    # ONE-worker background thread the moment the barrier is created, so
    # executors materialize the corpus-sized stage WHILE the driver builds
    # the downstream plans (py4j/Catalyst — the serial fraction). One
    # worker keeps the fills ordered (stage k+1's fill reads stage k's
    # cache, never races it); a consumer arriving at a block mid-fill
    # blocks on the in-flight computation (BlockManager per-block locking)
    # instead of recomputing it. Fully-lazy compositions (no near-dedup)
    # stay lazy — no background action is ever submitted for them.
    fill_pool = None
    if (
        persist_intermediate
        and staging_dir is None
        and near_dedup_threshold is not None
    ):
        from concurrent.futures import ThreadPoolExecutor

        fill_pool = ThreadPoolExecutor(
            max_workers=1, thread_name_prefix="tempo-prepare-prefill"
        )

    def _prefill(frame: DataFrame, name: str) -> None:
        if fill_pool is None:
            return
        sc = frame.sparkSession.sparkContext

        def run() -> None:
            try:
                # job description is thread-local — label the fill so the
                # overlap is visible in the UI/event log
                sc.setJobDescription(f"prepare_corpus: prefill {name}")
                try:
                    frame.count()
                finally:
                    sc.setJobDescription(None)
            except Exception:
                # a failing fill is not this thread's error to raise: the
                # main lineage re-executes the same plan and surfaces it —
                # but it is never silent
                logging.getLogger(__name__).warning(
                    "prepare_corpus: background prefill of %r failed; the "
                    "stage recomputes when consumed", name, exc_info=True,
                )

        fill_pool.submit(run)

    def _barrier(frame: DataFrame, name: str) -> DataFrame:
        if staging_dir is not None:
            # disk-backed barrier: parquet round-trip. A FileScan is just
            # as much a pushdown/inlining fence as an InMemoryRelation,
            # with no executor storage memory at stake.
            path = f"{staging_dir.rstrip('/')}/{stage_no[0]:02d}_{name}"
            stage_no[0] += 1
            spark = frame.sparkSession
            if resume:
                m = _manifest_read(spark, path)
                if (
                    m is not None
                    and m.get("stage") == name
                    and m.get("config_digest") == cfg_digest
                ):
                    # completed in a prior run under the same config —
                    # skip: the upstream lineage stays plan-only
                    return spark.read.parquet(path)
            frame.write.mode("overwrite").parquet(path)
            # manifest AFTER the write commits: overwrite wiped the dir
            # (manifest included) first, so a killed run leaves none
            _manifest_write(
                spark, path,
                {"stage": name, "config_digest": cfg_digest},
            )
            return spark.read.parquet(path)
        frame = frame.persist()
        if staging is not None:
            staging.frames.append(frame)
        _prefill(frame, name)
        return frame

    out = df
    if normalize:
        out = normalize_text(out, text_col)
    if redact:
        out = redact_patterns(out, text_col)
    if remove_foreign_paras:
        from tempo_spark.pipeline.text import remove_foreign_paragraphs

        out = (
            remove_foreign_paragraphs(out, text_col, out="__tempo_rfp")
            .withColumn(text_col, F.col("__tempo_rfp"))
            .drop("__tempo_rfp")
        )
    barriers_on = persist_intermediate or staging_dir is not None
    if barriers_on and (normalize or redact or remove_foreign_paras):
        # barrier between the text REWRITE and the signal expressions:
        # after project collapse every downstream reference to the text
        # column would re-evaluate the whole cleanup chain per row (the
        # quality/repetition signals reference it dozens of times, some
        # inside interpreted HOF lambdas where codegen CSE cannot reach)
        out = _barrier(out, "cleaned")
    if min_clf_prob is not None and quality_model is None:
        raise ValueError("min_clf_prob requires quality_model")

    def _signals(frame: DataFrame) -> DataFrame:
        if token_model is not None:
            # learned BPE counts (bpe.BPEModel) replace the whitespace
            # heuristic everywhere n_tokens is consumed downstream
            # (quality length band stays token-heuristic-free anyway;
            # packs/budget/mix all key off this column)
            frame = token_model.token_count(frame, text_col, out="n_tokens")
        else:
            frame = with_token_count(frame, text_col)
        frame = with_quality_score(frame, text_col)
        frame = with_repetition_metrics(frame, text_col, n=2)
        if quality_model is not None:
            # trained linear quality classifier (classifier.LinearTextModel)
            # — scored together with the heuristics so the pre-filter
            # barrier fences ITS fold from predicate substitution too
            frame = quality_model.score(frame, text_col)
        return frame

    out = _signals(out)
    filters_requested = (
        min_quality is not None
        or max_dup_2gram_frac is not None
        or min_clf_prob is not None
    )
    signals_pinned = False
    if barriers_on and filters_requested:
        # barrier BEFORE the signal filters, not after: predicate pushdown
        # rewrites a filter on a projected column with the column's FULL
        # defining expression substituted in, so `quality_score >= q`
        # pushed below the projection re-evaluates the whole quality HOF
        # chain — with the tokens-column hoist destroyed, the document
        # re-tokenizes at every reference inside the predicate (the same
        # substitution trap as the r4 explode pushdown). An
        # InMemoryRelation is a pushdown fence: signals evaluate ONCE into
        # the cache and the filters become cheap numeric compares on
        # cached columns (measured 9 s -> 1 s for this stage, 13 -> 6 s
        # for the full b29 recipe at sf0.1).
        out = _barrier(out, "signals")
        signals_pinned = True
    if min_quality is not None:
        out = out.where(F.col("quality_score") >= min_quality)
    if max_dup_2gram_frac is not None:
        out = out.where(F.col("dup_2gram_frac") <= max_dup_2gram_frac)
    if min_clf_prob is not None:
        out = out.where(F.col("clf_prob") >= min_clf_prob)
    if paragraph_dedup:
        out = d.dedup_paragraphs(out, id_col, text_col, sep=paragraph_sep)
    if span_dedup_ngram is not None:
        out = d.remove_duplicate_spans(out, id_col, text_col, n=span_dedup_ngram)
    if decontaminate_against is not None:
        out = d.remove_contaminated_spans(
            out, decontaminate_against, id_col, text_col, n=decontaminate_ngram
        )
    rewrote_text = (
        paragraph_dedup
        or span_dedup_ngram is not None
        or decontaminate_against is not None
    )
    if rewrote_text:
        # the text changed — re-derive EVERY per-row signal so the shipped
        # columns describe the shipped text (the quality/dup filters above
        # deliberately acted on the pre-dedup signals: cheap pruning first)
        out = out.drop(
            "n_tokens", "quality_score",
            "n_2grams", "n_2grams_distinct", "dup_2gram_frac",
        )
        if quality_model is not None:
            out = out.drop("clf_logit", "clf_prob")
        out = _signals(out)
    if barriers_on and (rewrote_text or not signals_pinned):
        # barrier before the multi-pass dedup stages: stops Catalyst
        # re-inlining the normalize/signal chains into every consumer and
        # pins the signal computation to ONE execution (see docstring).
        # Skipped when the pre-filter barrier already pinned the signals
        # and no text-rewriting stage re-introduced uncached expressions —
        # the dedup consumers then re-run only the cheap cached-column
        # filters, and a back-to-back second corpus-sized cache would buy
        # nothing.
        out = _barrier(out, "pre_dedup")
    if exact_dedup:
        out = d.exact_dedup(out, id_col, text_col).drop("dup_count")
    if near_dedup_threshold is not None:
        pairs = d.minhash_dedup(
            out, id_col, text_col,
            threshold=near_dedup_threshold, shingle_k=3, use_words=True,
        )
        out = near_dedup(out, pairs, id_col)
        if barriers_on:
            out = _barrier(out, "near_dedup")
    if mix_group_col is not None:
        if mix_shares is None:
            raise ValueError("mix_group_col requires mix_shares")
        out = mix_by_group(
            out, id_col, mix_group_col, mix_shares,
            token_col="n_tokens", salt=f"{salt}:mix", hash_family=hash_family,
        )
    out = with_split(
        out, id_col, weights=splits, salt=f"{salt}:split",
        hash_family=hash_family,
    )
    if pack_tokens is not None:
        out = assign_packs(
            out, "n_tokens", pack_tokens, ["split"], id_col,
            salt=f"{salt}:pack", hash_family=hash_family,
        )
    if n_shards is not None:
        out = with_shard(
            out, id_col, n_shards, salt=f"{salt}:shard",
            hash_family=hash_family,
        )
    if fill_pool is not None:
        # release the worker thread once the queued fills drain; never
        # block the return on them (the overlap IS the point)
        fill_pool.shutdown(wait=False)
    return out
