"""Benchmark entry point: one workload, closed loop, one client.

    python3 perfbench/run.py --workload ts_pipeline --seed 1 --seconds 1 --trace 0

Run from the repository root. A run sets up once (generate the inputs,
start the JVM and a SparkSession, run the workload's untimed warm-up
passes), then runs passes back to back until ``--seconds`` have passed, at
least one: each pass builds the plan, runs the forcing action or write,
and has its output checked. Program caches are cleared
before every pass. The last line of
stdout is one JSON object; the lines before it print every metric with its
unit. ``--trace 1`` alternates untraced and traced passes and reports the
per-layer ledger of the traced ones instead (see README.md).
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")

sys.path.insert(0, HERE)
sys.path.insert(1, ROOT)  # the program under test: tempo_spark

from gen import generate  # noqa: E402
from ledger import METRICS, traced_loop  # noqa: E402
from spans import NullTracer  # noqa: E402
from workloads import WORKLOADS, Inputs, workload_digest  # noqa: E402


def host_resources() -> tuple[int, int]:
    """(cores, driver memory MiB): every core this process may run on, and
    a fifth of physical memory capped at 3 GiB -- the machine is shared and
    a 16g driver on a 16 GB host was OOM-killed."""
    cores = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        total_kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
    return cores, min(3072, total_kb // 1024 // 5)


def class_archive(name: str) -> tuple[str, str | None]:
    """JVM options for a class-data-sharing archive of this workload's
    classes, and the path the JVM dumps a new one to (None when reusing).

    Loading and verifying Spark's classes is a large part of JVM start and
    of the cold warm-up pass. The first run of a workload in a checkout
    dumps the classes it loaded when its JVM exits; later runs map them.
    The archive only changes how classes load: passes are timed after the
    warm-up, when every class they use is loaded either way."""
    cds = os.path.join(WORK, "cds")
    os.makedirs(cds, exist_ok=True)
    archive = os.path.join(cds, f"{name}.jsa")
    if os.path.exists(archive):
        return f"-XX:SharedArchiveFile={archive} -Xlog:cds*=off", None
    pending = f"{archive}.{os.getpid()}"
    return f"-XX:ArchiveClassesAtExit={pending} -Xlog:cds*=off", pending


def publish_archive(pending: str | None, jvm_exit: int | None) -> None:
    """Give the archive a dumping JVM wrote its final name once that JVM
    has exited cleanly, so no later run maps a half-written file."""
    if pending is None or not os.path.exists(pending):
        return
    if jvm_exit == 0:
        os.replace(pending, pending.rsplit(".", 1)[0])
    else:
        os.remove(pending)


def make_session(cores: int, mem_mb: int, work: str, event_log: str | None, jvm_opts: str):
    from pyspark.sql import SparkSession

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # spark-class puts SPARK_CONF_DIR on the JVM class path, and class data
    # sharing accepts only empty directories there
    conf = os.path.join(WORK, "conf")
    os.makedirs(conf, exist_ok=True)
    os.environ["SPARK_CONF_DIR"] = conf
    b = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName("perfbench")
        .config("spark.driver.memory", f"{mem_mb}m")
        .config("spark.driver.extraJavaOptions", f"-Djava.io.tmpdir={tmp} {jvm_opts}")
        .config("spark.sql.shuffle.partitions", str(cores))
        .config("spark.default.parallelism", str(cores))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 << 20))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.local.dir", os.path.join(work, "spark-local"))
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        .config("spark.sql.catalogImplementation", "in-memory")
    )
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        b = (
            b.config("spark.eventLog.enabled", "true")
            .config("spark.eventLog.dir", event_log)
            .config("spark.eventLog.compress", "false")
            .config("spark.eventLog.rolling.enabled", "false")
        )
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def clear_program_caches(spark) -> None:
    """Drop every cache that could carry one pass's work into the next:
    Spark's cached tables, and the program's module-level memo dicts and
    ``functools`` caches. Then collect garbage in Python and the JVM, so a
    pass does not pay for collecting the previous pass's objects (Python's
    collection of py4j proxies also sends py4j calls)."""
    spark.catalog.clearCache()
    for name, mod in list(sys.modules.items()):
        if not name.startswith("tempo_spark"):
            continue
        for attr, v in list(vars(mod).items()):
            if isinstance(v, dict) and "CACHE" in attr:
                v.clear()
            elif callable(getattr(v, "cache_clear", None)):
                v.cache_clear()
    gc.collect()
    spark.sparkContext._jvm.java.lang.System.gc()


def peak_rss_mb(jvm_pid: int) -> float:
    """Peak resident set (VmHWM) of this driver process plus its JVM, in
    MiB; a process already gone counts 0."""
    total_kb = 0
    for pid in (os.getpid(), jvm_pid):
        try:
            with open(f"/proc/{pid}/status") as f:
                total_kb += next((int(l.split()[1]) for l in f if l.startswith("VmHWM:")), 0)
        except FileNotFoundError:
            pass
    return total_kb / 1024.0


def stop_jvm() -> int | None:
    """End the py4j gateway's JVM and wait for it: the JVM exits when its
    stdin pipe closes, and otherwise would outlive this process briefly.
    A JVM dumping a class archive takes a few seconds more to exit.
    Returns the JVM's exit code (None when there was no JVM to stop)."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return None
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    code = None
    if proc is not None:
        proc.stdin.close()
        code = proc.wait(timeout=150)
    SparkContext._gateway = SparkContext._jvm = None
    return code


def jvm_alive(spark) -> bool:
    try:
        return not spark.sparkContext._jsc.sc().isStopped()
    except Exception:  # py4j network error: the JVM is gone
        return False


def summarize(values: list) -> str:
    """Median, sample count, and the highest of p90/p99 with at least ten
    samples beyond it (none below 100 samples)."""
    if not values:
        return "no samples"
    s = f"median {statistics.median(values):.4f} (n={len(values)})"
    for p in (99, 90):
        if len(values) * (100 - p) / 100 >= 10:
            q = statistics.quantiles(values, n=100)[p - 1]
            return s + f", p{p} {q:.4f}"
    return s


class Run:
    """Pass counts, digests and problems of one run of one workload."""

    def __init__(self, wl, pinned: str | None):
        self.wl, self.pinned = wl, pinned
        self.attempted = self.failed = 0
        self.digests: set = set()
        self.problems: list = []

    def one_pass(self, spark, inp, tracer, pass_id, probe=None, verify=True):
        """Run and check one pass; (plan_s, pass_s) or None when it failed.
        Without ``verify`` (the warm-up) the output is not read back or
        checked; a pass that raises still fails."""
        self.attempted += 1
        tracer.pass_id = pass_id
        try:
            clear_program_caches(spark)
            t0 = time.perf_counter()
            with tracer.span("pass"):
                with tracer.span("plan"):
                    state = self.wl.build(spark, inp, tracer.span)
                t1 = time.perf_counter()
                with tracer.span("action"):
                    acted = self.wl.act(spark, state, inp, tracer.span)
            t2 = time.perf_counter()
            if probe is not None:
                probe(spark, acted)
            tags = self.wl.finish(spark, state, acted, inp, verify)
        except Exception:
            self.failed += 1
            self.problems.append(f"pass {pass_id} raised:\n{traceback.format_exc()}")
            return None
        if not verify:
            return t1 - t0, t2 - t0
        digest = workload_digest(tags)
        probs = self.wl.check(tags, inp.facts)
        if self.pinned is not None and digest != self.pinned:
            probs.append(f"digest {digest} != pinned {self.pinned}")
        self.digests.add(digest)
        if len(self.digests) > 1:
            probs.append(f"digest differs between passes: {sorted(self.digests)}")
        if probs:
            self.failed += 1
            self.problems.append(f"pass {pass_id}: {tags} {probs}")
            return None
        return t1 - t0, t2 - t0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=1)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # the program under test: without it there is nothing to measure, so
    # fail here, before any set-up and without a result line
    import tempo_spark  # noqa: F401

    os.environ["TZ"] = "UTC"
    time.tzset()
    # Python-side temp files (py4j, pyspark workers) stay in the checkout
    work = os.path.join(WORK, f"{args.workload}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")

    wl = WORKLOADS[args.workload]
    with open(os.path.join(HERE, "digests.json")) as f:
        pinned = json.load(f).get(wl.name, {}).get(str(args.seed))
    cores, mem_mb = host_resources()
    event_log = os.path.join(work, "eventlog") if args.trace else None
    run = Run(wl, pinned)
    jvm_opts, pending = class_archive(wl.name)

    spark = None
    try:
        t = time.perf_counter()
        in_dir = os.path.join(work, "inputs")
        inp = Inputs(in_dir, generate(args.seed, wl.sizes, in_dir), os.path.join(work, "out"))
        spark = make_session(cores, mem_mb, work, event_log, jvm_opts)
        jvm_pid = int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())
        for i in range(wl.warmups):
            run.one_pass(spark, inp, NullTracer(), -1 - i, verify=False)
        setup_s = time.perf_counter() - t

        if args.trace:
            ledger = traced_loop(
                run, spark, inp, args.seconds, os.path.join(WORK, "trace"),
                f"{wl.name}-seed{args.seed}",
            )
            spark = None  # traced_loop stopped it to flush the event log
            ledger["peak_rss_mb"] = {"value": peak_rss_mb(jvm_pid), "unit": "MB"}
            metrics = {name: ledger[name] for name in METRICS}
        else:
            metrics = untraced_loop(run, spark, inp, args.seconds, setup_s)
    finally:
        if spark is not None:
            spark.stop()
        publish_archive(pending, stop_jvm())
        shutil.rmtree(work, ignore_errors=True)

    for p in run.problems:
        print(p, file=sys.stderr)
    correct = run.failed == 0 and run.attempted > 0
    for name, m in metrics.items():
        if "samples" in m:
            print(f"{name:26s} {m['unit']:6s} {summarize(m.pop('samples'))}")
        else:
            print(f"{name:26s} {m['unit']:6s} {m['value']}")
    print(f"{'error_rate':26s} {'ratio':6s} {run.failed}/{run.attempted}"
          f" = {run.failed / max(1, run.attempted):.4f}")
    print(f"{'digest':26s} {'':6s} {', '.join(sorted(run.digests))}")
    print(json.dumps({
        "correct": correct,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": metrics,
    }))
    return 0


def untraced_loop(run: Run, spark, inp, seconds: float, setup_s: float) -> dict:
    plans, passes = [], []
    deadline = time.perf_counter() + seconds
    pass_id = 0
    while time.perf_counter() < deadline or pass_id == 0:
        r = run.one_pass(spark, inp, NullTracer(), pass_id)
        pass_id += 1
        if r is not None:
            plans.append(r[0])
            passes.append(r[1])
        elif not jvm_alive(spark):
            run.problems.append("JVM died; measurement stopped")
            break

    def med(name, unit, xs):
        return name, {
            # no successful pass: the run is already marked incorrect
            "value": statistics.median(xs) if xs else 0.0,
            "unit": unit, "samples": xs,
        }

    return dict([
        med("pass_s", "s", passes),
        med("plan_s", "s", plans),
        ("setup_s", {"value": setup_s, "unit": "s"}),
    ])


if __name__ == "__main__":
    sys.exit(main())
