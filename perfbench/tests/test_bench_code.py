"""Tests for the benchmark's own code (not the program under test).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, BENCH)

import gen  # noqa: E402
from ledger import METRICS, PASS_METRICS, pass_ledger  # noqa: E402
from spans import Span, attribute_jobs, parse_event_log, self_time, stage_owner  # noqa: E402

SMALL = gen.Sizes(events=3_000, users=7, docs=400, vocab=500, vectors=300, dim=8)


def _bytes(d: str) -> dict:
    out = {}
    for name in sorted(os.listdir(d)):
        with open(os.path.join(d, name), "rb") as f:
            out[name] = f.read()
    return out


def test_generator_same_seed_same_bytes(tmp_path):
    f1 = gen.generate(7, SMALL, str(tmp_path / "a"))
    f2 = gen.generate(7, SMALL, str(tmp_path / "b"))
    assert f1 == f2
    a, b = _bytes(str(tmp_path / "a")), _bytes(str(tmp_path / "b"))
    assert sorted(a) == ["documents.parquet", "embeddings.parquet", "events.parquet"]
    assert a == b


def test_generator_other_seed_differs(tmp_path):
    gen.generate(7, SMALL, str(tmp_path / "a"))
    gen.generate(8, SMALL, str(tmp_path / "b"))
    a, b = _bytes(str(tmp_path / "a")), _bytes(str(tmp_path / "b"))
    assert all(a[k] != b[k] for k in a)


def test_generator_facts_match_files(tmp_path):
    import pyarrow.parquet as pq

    facts = gen.generate(3, SMALL, str(tmp_path))
    ev = pq.read_table(str(tmp_path / "events.parquet")).to_pandas()
    de = ev.drop_duplicates(["user_id", "ts"])
    assert facts["events"]["dedup_rows"] == len(de)
    assert facts["events"]["clicks"] == int((ev.event_type == "click").sum())
    docs = pq.read_table(str(tmp_path / "documents.parquet")).to_pandas()
    for a, b in facts["documents"]["exact_pairs"]:
        assert docs.text[a] == docs.text[b] and a < b


def _span(i, start, end, parent=None, name="s", layer="", pass_id=0):
    return Span(id=i, name=name, layer=layer, pass_id=pass_id, parent=parent,
                start=start, end=end)


def test_self_time_subtracts_union_of_children():
    root = _span(0, 0.0, 10.0)
    kids = [
        _span(1, 1.0, 3.0, 0),
        _span(2, 2.0, 4.0, 0),   # overlaps the first: counted once
        _span(3, 6.0, 7.0, 0),
        _span(4, 9.5, 12.0, 0),  # clipped at the parent's end
    ]
    assert self_time(root, kids) == pytest.approx(10.0 - 3.0 - 1.0 - 0.5)
    assert self_time(root, []) == pytest.approx(10.0)


def test_digest_is_order_independent():
    from workloads import workload_digest

    tags = {"a": (3, 10, None), "b": (1, -5, 7)}
    assert workload_digest(tags) == workload_digest(dict(reversed(list(tags.items()))))
    assert workload_digest(tags) != workload_digest({"a": (3, 11, None), "b": (1, -5, 7)})


@pytest.fixture(scope="module")
def spark():
    from pyspark.sql import SparkSession

    s = (
        SparkSession.builder.master("local[2]")
        .config("spark.sql.shuffle.partitions", "2")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    yield s
    s.stop()


def test_row_digest_ignores_row_order_and_float_noise(spark):
    from workloads import digest_frame, row_hashes, tag_rows

    rows = [(i, float(i) / 3.0, [0.5, float(i)]) for i in range(50)]
    df = spark.createDataFrame(rows, "k long, x double, v array<double>")
    shuffled = spark.createDataFrame(list(reversed(rows)), df.schema).repartition(3)
    noisy = spark.createDataFrame(
        [(k, x + 1e-12, v) for k, x, v in rows], df.schema
    )

    def digest(frame):
        return tag_rows(digest_frame([row_hashes(frame, "t")]).collect())

    base = digest(df)
    assert base["t"][0] == 50
    assert digest(shuffled) == base
    assert digest(noisy) == base
    changed = spark.createDataFrame([(0, 1.0, [0.5, 0.0])] + rows[1:], df.schema)
    assert digest(changed) != base


def _recorded():
    with open(os.path.join(HERE, "data", "eventlog.jsonl")) as f:
        jobs, stages = parse_event_log(f)
    with open(os.path.join(HERE, "data", "spans.json")) as f:
        spans = [Span(**{k: v for k, v in s.items() if k != "self_s"}) for s in json.load(f)]
    return jobs, stages, spans


def test_event_log_attribution_by_label_and_time_window():
    jobs, stages, spans = _recorded()
    job_span = attribute_jobs(jobs, spans)
    by_name = {s.name: s.id for s in spans}
    labelled = {j.id for j in jobs.values() if j.label.startswith("perfbench:")}
    prefill = {j.id for j in jobs.values() if j.label.startswith("prepare_corpus:")}
    foreign = {j.id for j in jobs.values() if j.label == "unrelated"}
    assert labelled and prefill and foreign
    # labelled jobs go to the span their label names
    for jid in labelled:
        assert job_span[jid] == int(jobs[jid].label.split(":")[1])
    # a job the program labelled with its function's name goes to that
    # call's span, though it ran while the next layer's span was open
    for jid in prefill:
        assert jobs[jid].submit > next(s.end for s in spans if s.name == "prepare.prepare_corpus")
        assert job_span[jid] == by_name["prepare.prepare_corpus"]
    # any other foreign label falls back to the span open at its submission
    for jid in foreign:
        assert job_span[jid] == by_name["prepare.prepare_corpus"]
    # every stage that ran has exactly one owning job
    owner = stage_owner(jobs)
    assert set(stages) <= set(owner)


def test_pass_ledger_from_recorded_log():
    jobs, stages, spans = _recorded()
    job_span = attribute_jobs(jobs, spans)
    m = pass_ledger(spans, jobs, job_span, stages, stage_owner(jobs))
    assert list(m) == list(PASS_METRICS)
    # one labelled, one by the prefill's own label, one by time window
    assert m["prepare.eager_jobs"] == 3
    assert m["dedup.eager_jobs"] == 0
    assert m["prepare.eager_job_s"] > 0
    assert m["spark.jobs"] == 1 and m["spark.tasks"] > 0
    assert m["shuffle.write_bytes"] > 0 and m["shuffle.read_bytes"] > 0
    assert m["executor.run_s"] > 0
    assert m["tsdf.eager_jobs"] == 0


def test_benchmark_json_lists_every_ledger_metric():
    with open(os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert [(m["name"], m["unit"]) for m in bench["per_layer"]] == list(METRICS.items())
