"""Tests of the benchmark itself: a corrupted output counts as failed, a
check that did not run is never reported as passed, and BENCHMARK.json
names exactly the metrics the benchmark prints.

Run from the repository root: ``python3 -m pytest perfbench -q``.
"""

from __future__ import annotations

import argparse
import json
import os

import pytest

from perfbench import inputs, run, trace, workloads

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_benchmark_json_names_what_run_prints():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert [m["name"] for m in spec["end_to_end"]] == list(run.END_TO_END)
    assert [(m["name"], m["unit"]) for m in spec["per_layer"]] == [
        (n, run.unit_of(n)) for n in run.per_layer_names()
    ]
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)


def test_unchecked_is_not_passed_and_failed_is_counted():
    checks = workloads.Checks()
    assert checks.record("pin", "not_checked") is True
    checks.unit(checks.expect("same", False))
    checks.unit(True)
    record = {"attempted": checks.attempted, "failed": checks.failed,
              "end_to_end": dict.fromkeys(run.END_TO_END, 1.0)}
    line = run.result_line(record, traced=False)
    assert (line["correct"], line["attempted"], line["failed"]) == (False, 2, 1)
    assert [c["status"] for c in checks.log] == ["not_checked", "failed"]


def test_inputs_are_a_function_of_the_seed():
    a = inputs.openvocab_files_pdf(3, 40)
    assert a.equals(inputs.openvocab_files_pdf(3, 40))
    assert not a.equals(inputs.openvocab_files_pdf(4, 40))
    t = inputs._query_mix_tables(5)
    assert t["documents"].equals(inputs._query_mix_tables(5)["documents"])


def test_fold_attributes_tasks_by_stage_description(tmp_path):
    app = tmp_path / "eventlog_v2_app-1"
    app.mkdir()
    desc = {"spark.job.description": "kgbench:link:pass=2"}
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [7], "Properties": desc},
        {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 7}, "Properties": desc},
    ] + [
        {"Event": "SparkListenerTaskEnd", "Stage ID": 7,
         "Task Metrics": {"Executor Run Time": ms, "Executor CPU Time": ms * 10**6,
                          "Shuffle Write Metrics": {"Shuffle Bytes Written": 5}}}
        for ms in (100, 100, 400)
    ]
    (app / "events_1_app-1").write_text("\n".join(json.dumps(e) for e in events) + "\n")
    got = trace.fold_event_log(str(tmp_path), "app-1")[("link", 2)]
    assert (got["jobs"], got["tasks"], got["shuffle_bytes"]) == (1, 3, 15)
    assert got["run_s"] == pytest.approx(0.6) and got["task_skew"] == pytest.approx(4.0)


# ------------------------------------------------------------ with Spark
def _small_build(monkeypatch):
    monkeypatch.setattr(inputs, "BUILD_FILES", 40)
    monkeypatch.setattr(inputs, "OPENVOCAB_FILES", 10)


def test_raising_pass_still_yields_a_failed_result(tmp_path, monkeypatch):
    """Runs its own session, before the shared one below exists."""
    import kgforge.pipeline

    def broken(*a, **kw):
        raise RuntimeError("pipeline broke")

    _small_build(monkeypatch)
    monkeypatch.setattr(kgforge.pipeline, "run_pipeline", broken)
    args = argparse.Namespace(workload="build", seed=987_654, seconds=0, trace=0)
    record = run.run(args, str(tmp_path))
    line = run.result_line(record, traced=False)
    # the loop retries a raising pass until three have failed
    assert (line["correct"], line["attempted"], line["failed"]) == (False, 3, 3)
    assert record["errors"][0] == "pass 1: RuntimeError: pipeline broke"
    assert record["checks"] == []  # every pass raised before any check ran


@pytest.fixture(scope="module")
def ctx(tmp_path_factory):
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    work = str(tmp_path_factory.mktemp("perfbench"))
    spark = run.start_session(work, None)
    # a seed no pin covers: these runs use smaller inputs than the pins
    yield workloads.Context(spark, work, 987_654, trace.Tracer(spark.sparkContext, False),
                            workloads.Checks())
    run.stop_jvm()


def test_corrupted_triples_count_as_failed(ctx, monkeypatch):
    import kgforge.pipeline

    _small_build(monkeypatch)
    ctx.checks = workloads.Checks()
    w = workloads.PipelineWorkload(ctx)
    w.setup()
    w.run_pass(want_counters=False)
    assert (ctx.checks.attempted, ctx.checks.failed) == (1, 0)

    real = kgforge.pipeline.run_pipeline

    def corrupted(*a, **kw):
        out = real(*a, **kw)
        out["triples"] = out["triples"].where("pmod(xxhash64(subj), 7) <> 0")
        return out

    monkeypatch.setattr(kgforge.pipeline, "run_pipeline", corrupted)
    w.run_pass(want_counters=False)
    assert (ctx.checks.attempted, ctx.checks.failed) == (2, 1)
    assert ctx.checks.log[-1]["check"] == "triples.same_as_first"
    assert ctx.checks.log[-1]["status"] == "failed"


def test_query_differing_from_its_oracle_counts_as_failed(ctx, monkeypatch):
    from kgforge.operators import registry

    monkeypatch.setattr(inputs, "CONSUME_FILES", 50)
    monkeypatch.setattr(workloads, "KERNELS", ["call_graph"])
    monkeypatch.setattr(
        workloads, "QUERY_LAYER", {"ngram_jaccard_pairs": "dedup", "kcore": "graph"}
    )
    ctx.checks = workloads.Checks()
    w = workloads.ReadWorkload(ctx)
    w.setup()
    w.prepare_checks()
    real = registry.QUERIES["kcore"]
    monkeypatch.setitem(
        registry.QUERIES, "kcore",
        lambda spark, sf: real(spark, sf).selectExpr("concept", "core_degree + 1 as core_degree"),
    )
    w.run_pass(want_counters=False)
    assert (ctx.checks.attempted, ctx.checks.failed) == (3, 1)
    statuses = {c["check"]: c["status"] for c in ctx.checks.log}
    assert statuses["ngram_jaccard_pairs.oracle"] == "passed"
    assert statuses["kcore.oracle"] == "failed"
    assert statuses["call_graph.pinned"] == "not_checked"
