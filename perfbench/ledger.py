"""The traced mode: per-layer ledger of each traced pass.

Layer metrics come from the benchmark's spans (py4j trips, call time, jobs
submitted inside a call), Spark metrics from the event log's jobs, stages
and tasks attributed to the pass's forcing span, and plan/Catalyst/cache
metrics from probes made right after the action (outside the timed pass).
"""

from __future__ import annotations

import json
import os
import statistics
import time

from spans import (
    NullTracer, Span, Tracer, attribute_jobs, parse_event_log, self_time, stage_owner,
)

LAYERS = ("tsdf", "intervals", "prepare", "sampling", "dedup", "search", "similarity")
_LAYER_METRICS = {
    "plan_s": "s", "py4j_calls": "count", "py4j_s": "s",
    "eager_jobs": "count", "eager_job_s": "s",
}
FIT_SPANS = ("similarity.IVFIndex.build", "similarity.PQCodec.train")
WRITE_SPAN = "sampling.write_training_shards"

#: per-layer metrics measured on each traced pass, with their units
PASS_METRICS = {
    **{f"{l}.{k}": u for l in LAYERS for k, u in _LAYER_METRICS.items()},
    "similarity.fit_s": "s",
    "sampling.write_s": "s",
    "write.bytes": "bytes",
    "catalyst.analysis_s": "s",
    "catalyst.optimization_s": "s",
    "catalyst.planning_s": "s",
    "plan.exchanges": "count",
    "plan.python_evals": "count",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "executor.run_s": "s",
    "executor.cpu_s": "s",
    "executor.gc_s": "s",
    "shuffle.write_bytes": "bytes",
    "shuffle.read_bytes": "bytes",
    "shuffle.spill_bytes": "bytes",
    "shuffle.fetch_wait_s": "s",
    "shuffle.skew": "ratio",
    "python.total_s": "s",
    "python.bytes_sent": "bytes",
    "cache.stored_bytes": "bytes",
    "plan.self_s": "s",
    "action.self_s": "s",
}
#: every per-layer metric, in report order: the per-pass ones, then two per
#: run (the peak RSS repeats too poorly between runs to be an end-to-end
#: metric with a bound)
METRICS = {**PASS_METRICS, "peak_rss_mb": "MB", "trace.overhead_ratio": "ratio"}


def pass_ledger(spans: list, jobs: dict, job_span: dict, stages: dict, owner: dict) -> dict:
    """Span- and event-log metrics of one pass. ``spans`` are that pass's
    spans (one named ``plan`` and one named ``action``); ``job_span`` maps
    job id to span id over the whole log."""
    by_id = {s.id: s for s in spans}
    action = next(s for s in spans if s.name == "action")

    def in_action(s: Span) -> bool:
        while s is not None:
            if s.id == action.id:
                return True
            s = by_id.get(s.parent)
        return False

    m = dict.fromkeys(PASS_METRICS, 0.0)
    for s in spans:
        if s.layer:
            m[f"{s.layer}.py4j_calls"] += s.py4j_calls
            m[f"{s.layer}.py4j_s"] += s.py4j_s
            if not in_action(s):
                m[f"{s.layer}.plan_s"] += s.duration
        if s.name in FIT_SPANS:
            m["similarity.fit_s"] += s.duration
        if s.name == WRITE_SPAN:
            m["sampling.write_s"] += s.duration

    action_jobs = []
    for jid, sid in job_span.items():
        s = by_id.get(sid)
        if s is None:
            continue
        if in_action(s):
            action_jobs.append(jobs[jid])
        elif s.layer:
            m[f"{s.layer}.eager_jobs"] += 1
            m[f"{s.layer}.eager_job_s"] += jobs[jid].end - jobs[jid].submit

    ran = [
        stages[sid] for j in action_jobs for sid in j.stages
        if owner.get(sid) == j.id and sid in stages
    ]
    m["spark.jobs"] = len(action_jobs)
    m["spark.stages"] = len(ran)
    for key, attr in (
        ("spark.tasks", "tasks"), ("executor.run_s", "run_s"),
        ("executor.cpu_s", "cpu_s"), ("executor.gc_s", "gc_s"),
        ("shuffle.write_bytes", "shuffle_write"),
        ("shuffle.read_bytes", "shuffle_read"), ("shuffle.spill_bytes", "spill"),
        ("shuffle.fetch_wait_s", "fetch_wait_s"), ("python.total_s", "python_s"),
        ("python.bytes_sent", "python_sent"),
    ):
        m[key] = sum(getattr(st, attr) for st in ran)
    biggest = max(ran, key=lambda st: st.shuffle_read, default=None)
    if biggest is not None and biggest.shuffle_read:
        m["shuffle.skew"] = max(biggest.reads) / max(1, statistics.median(biggest.reads))

    children: dict = {}
    for s in spans:
        children.setdefault(s.parent, []).append(s)
    plan = next(s for s in spans if s.name == "plan")
    m["plan.self_s"] = self_time(plan, children.get(plan.id, ()))
    m["action.self_s"] = self_time(action, children.get(action.id, ()))
    return m


def probe(spark, acted) -> dict:
    """Plan, Catalyst and cache metrics of the pass just run, summed over
    the DataFrames its action forced or wrote. Called after the action and
    before the pass's caches are released."""
    from tempo_spark.plans.inspect import count_exchanges, count_python_evals

    jsc = spark.sparkContext._jsc.sc()
    out = {
        "cache.stored_bytes": sum(
            i.memSize() + i.diskSize() for i in jsc.getRDDStorageInfo()
        ),
        "write.bytes": sum(
            os.path.getsize(os.path.join(d, f))
            for d, _, fs in os.walk(acted.written) for f in fs
        ) if acted.written else 0,
        "plan.exchanges": 0,
        "plan.python_evals": 0,
        "catalyst.analysis_s": 0.0,
        "catalyst.optimization_s": 0.0,
        "catalyst.planning_s": 0.0,
    }
    to_java = spark._jvm.scala.jdk.javaapi.CollectionConverters.asJava
    for frame in acted.frames:
        # for a written frame, explaining plans it here: the write planned
        # its own copy of the plan
        out["plan.exchanges"] += count_exchanges(frame)
        out["plan.python_evals"] += count_python_evals(frame)
        phases = to_java(frame._jdf.queryExecution().tracker().phases())
        for ph in ("analysis", "optimization", "planning"):
            p = phases.get(ph)
            if p is not None:
                out[f"catalyst.{ph}_s"] += p.durationMs() / 1e3
    return out


def traced_loop(run, spark, inp, seconds: float, out_dir: str, tag: str) -> dict:
    """Alternate untraced and traced passes for ``seconds`` (at least one
    traced pass, with an untraced one on each side), stop the session to
    flush its event log, and return the median ledger over the traced passes
    plus the tracing overhead ratio. Spans and per-pass ledgers are written
    to ``out_dir/<tag>-spans.json`` and ``out_dir/<tag>-ledger.json``."""
    sc = spark.sparkContext
    tracer = Tracer(sc)
    probes: dict = {}
    timed = {False: [], True: []}

    def do_probe(spark, acted):
        probes[tracer.pass_id] = probe(spark, acted)

    tracer.install()
    try:
        deadline = time.perf_counter() + seconds
        pass_id = 0
        # U T U T ...: each traced pass follows an untraced one; a JIT
        # still warming makes the ratio read slightly low, never high
        while (
            time.perf_counter() < deadline
            or not timed[True]
            or len(timed[False]) < len(timed[True])
        ):
            traced = pass_id % 2 == 1
            r = run.one_pass(
                spark, inp, tracer if traced else NullTracer(), pass_id,
                do_probe if traced else None,
            )
            if r is None:
                break
            timed[traced].append((pass_id, r[1]))
            pass_id += 1
    finally:
        tracer.uninstall()
        log_path = os.path.join(sc.getConf().get("spark.eventLog.dir"), sc.applicationId)
        spark.stop()

    with open(log_path) as f:
        jobs, stages = parse_event_log(f)
    job_span = attribute_jobs(jobs, tracer.spans)
    owner = stage_owner(jobs)
    ledgers = {}
    for pid, _ in timed[True]:
        sp = [s for s in tracer.spans if s.pass_id == pid]
        ledgers[pid] = {**pass_ledger(sp, jobs, job_span, stages, owner), **probes[pid]}

    os.makedirs(out_dir, exist_ok=True)
    tracer.dump(os.path.join(out_dir, f"{tag}-spans.json"))
    with open(os.path.join(out_dir, f"{tag}-ledger.json"), "w") as f:
        json.dump({str(k): v for k, v in ledgers.items()}, f, indent=1)

    metrics = {}
    for name, unit in PASS_METRICS.items():
        metrics[name] = {
            "value": statistics.median(l[name] for l in ledgers.values()) if ledgers else 0.0,
            "unit": unit,
        }
    untraced = [t for _, t in timed[False]]
    traced = [t for _, t in timed[True]]
    metrics["trace.overhead_ratio"] = {
        "value": statistics.median(traced) / statistics.median(untraced)
        if traced and untraced else 0.0,
        "unit": "ratio",
    }
    return metrics
