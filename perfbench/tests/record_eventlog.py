"""Re-record the small event log and spans that the attribution tests read.

    python3 perfbench/tests/record_eventlog.py

Inside one traced pass it submits a job labelled by the tracer, a job from a
background thread that labels itself with its caller's function name (as the
prepare_corpus prefill does) and runs while the next layer's span is open,
a job with an unrelated foreign label, and a one-shuffle action. The log is trimmed to the events and fields that
perfbench/spans.py reads.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import threading

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

from spans import Tracer  # noqa: E402

KEEP = {"SparkListenerJobStart", "SparkListenerJobEnd", "SparkListenerTaskEnd"}


def main() -> None:
    from pyspark.sql import SparkSession

    log_dir = tempfile.mkdtemp(prefix="perfbench-evlog-", dir=HERE)
    spark = (
        SparkSession.builder.master("local[2]")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.adaptive.enabled", "false")
        .config("spark.sql.shuffle.partitions", "2")
        .config("spark.eventLog.enabled", "true")
        .config("spark.eventLog.dir", log_dir)
        .config("spark.eventLog.compress", "false")
        .config("spark.eventLog.rolling.enabled", "false")
        .getOrCreate()
    )
    sc = spark.sparkContext
    df = spark.range(0, 20_000, numPartitions=2)
    tracer = Tracer(sc)
    tracer.pass_id = 0
    tracer.install()
    try:
        go = threading.Event()

        def prefill():
            # labels its own jobs, like the prepare_corpus prefill thread,
            # and runs after its caller's span has closed
            sc.setJobDescription("prepare_corpus: prefill signals")
            go.wait(60)
            df.where("id % 3 = 0").count()

        with tracer.span("pass"):
            with tracer.span("plan"):
                with tracer.span("prepare.prepare_corpus", "prepare"):
                    df.count()
                    t = threading.Thread(target=prefill)
                    t.start()

                    def other():
                        sc.setJobDescription("unrelated")
                        df.where("id % 5 = 0").count()

                    u = threading.Thread(target=other)
                    u.start()
                    u.join()
                with tracer.span("dedup.ngram_jaccard_pairs", "dedup"):
                    go.set()
                    t.join()
            with tracer.span("action"):
                df.groupBy((df.id % 7).alias("k")).count().collect()
    finally:
        tracer.uninstall()
    app = sc.applicationId
    spark.stop()

    data = os.path.join(HERE, "data")
    os.makedirs(data, exist_ok=True)
    with open(os.path.join(log_dir, app)) as src, open(
        os.path.join(data, "eventlog.jsonl"), "w"
    ) as dst:
        for line in src:
            e = json.loads(line)
            if e.get("Event") not in KEEP:
                continue
            if "Properties" in e:
                desc = (e["Properties"] or {}).get("spark.job.description")
                e["Properties"] = {"spark.job.description": desc} if desc else {}
            e.pop("Stage Infos", None)
            if "Task Info" in e:
                e["Task Info"] = {"Accumulables": []}
            dst.write(json.dumps(e, sort_keys=True) + "\n")
    tracer.dump(os.path.join(data, "spans.json"))
    shutil.rmtree(log_dir)


if __name__ == "__main__":
    main()
