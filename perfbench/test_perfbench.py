"""Self-test of the benchmark's own parts; needs no Spark session.

    python3 -m pytest -q perfbench/test_perfbench.py
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time
import types

import numpy as np
import pyarrow.parquet as pq

import gen
import memwatch
import run
import tracing
import workloads

HERE = os.path.dirname(os.path.abspath(__file__))


def test_generators_are_seeded(tmp_path):
    a = gen.tick_inputs(np.random.default_rng(7), str(tmp_path / "a"), 2_000, 8_000, n_syms=40)
    b = gen.tick_inputs(np.random.default_rng(7), str(tmp_path / "b"), 2_000, 8_000, n_syms=40)
    for name in ("trades.parquet", "quotes.parquet"):
        assert pq.read_table(tmp_path / "a" / name).equals(pq.read_table(tmp_path / "b" / name))
    assert a.syms == b.syms and a.enriched.equals(b.enriched)
    c = gen.tick_inputs(np.random.default_rng(8), str(tmp_path / "c"), 2_000, 8_000, n_syms=40)
    assert not pq.read_table(tmp_path / "a" / "trades.parquet").equals(pq.read_table(tmp_path / "c" / "trades.parquet"))


def test_tick_stamps_are_unique_so_asof_matches_are_too(tmp_path):
    gen.tick_inputs(np.random.default_rng(1), str(tmp_path), 2_000, 8_000, n_syms=40)
    for name in ("trades.parquet", "quotes.parquet"):
        ts = pq.read_table(tmp_path / name).column("ts").to_numpy()
        assert (np.diff(ts.astype(np.int64)) > 0).all()


def test_ema_reference_recurrence():
    x = np.array([1.0, 2.0, 3.0])
    t = np.array([0.0, 1.0, 3.0])
    out = gen.ema_decay_reference(x, t, 0.5)
    assert out[0] == 1.0
    assert np.isclose(out[1], 2.0 + 1.0 * np.exp(-0.5))
    assert np.isclose(out[2], 3.0 + out[1] * np.exp(-1.0))


def test_corpus_plants_exact_and_near_duplicates(tmp_path):
    truth = gen.corpus_inputs(np.random.default_rng(3), str(tmp_path), 200, 50, 4, 5)
    docs = pq.read_table(tmp_path / "documents.parquet").to_pydict()
    texts = dict(zip(docs["doc_id"], docs["text"]))
    assert len(texts) == truth.n_docs
    assert len(truth.exact_kept) == len({gen.normalize(t) for t in texts.values()})
    assert len(truth.exact_kept) < truth.n_docs  # exact copies were planted
    assert truth.near_pairs
    for a, b in truth.near_pairs:
        assert a < b and a in truth.exact_kept and b in truth.exact_kept
        ta, tb = texts[a].split(), texts[b].split()
        same = sum(x == y for x, y in zip(ta, tb))
        assert len(ta) == len(tb) and 0.85 <= same / len(ta) < 1.0
    vecs = np.array(pq.read_table(tmp_path / "embeddings.parquet").column("embedding").to_pylist())
    q = np.array(pq.read_table(tmp_path / "queries.parquet").column("query_vec").to_pylist())
    sims = (q @ vecs.T) / np.outer(np.linalg.norm(q, axis=1), np.linalg.norm(vecs, axis=1))
    for i in range(len(q)):
        assert truth.topk[i] == list(np.argsort(-sims[i], kind="stable")[:5])


def test_covered_is_union_length():
    assert tracing.covered([]) == 0.0
    assert tracing.covered([(0.0, 1.0), (0.5, 2.0), (3.0, 4.0)]) == 3.0
    assert tracing.covered([(0.0, 4.0), (1.0, 2.0)]) == 4.0


def _events(*evs):
    return "".join(json.dumps(e) + "\n" for e in evs)


def test_event_log_counters_follow_the_stage_job_group(tmp_path):
    (tmp_path / "app-1").write_text(_events(
        {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 3},
         "Properties": {"spark.jobGroup.id": "g1"}},
        {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 4}, "Properties": {}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 3, "Task Metrics": {
            "Executor CPU Time": 2_000_000_000, "JVM GC Time": 500, "Disk Bytes Spilled": 2**20,
            "Shuffle Write Metrics": {"Shuffle Bytes Written": 3 * 2**20}}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 3, "Task Metrics": {}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 4, "Task Metrics": {"Executor CPU Time": 9}},
    ))
    got = tracing.read_event_log(str(tmp_path))
    assert got == {"g1": {"tasks": 2, "executor_cpu_s": 2.0, "shuffle_write_mb": 3.0, "spill_mb": 1.0, "gc_s": 0.5}}


def test_span_metrics_and_self_time():
    t = tracing.Tracer(sc=None)
    t.spans = [
        tracing.Span("a", "op", None, 0.0, 0.1, 1, 2),
        tracing.Span("b", "op.exec", None, 0.1, 1.1, 1, 1),
        tracing.Span("c", "inner", "b", 0.2, 0.6, 1, 0),
        tracing.Span("d", "op", None, 2.0, 2.3, 2, 0),
        tracing.Span("e", "op.exec", None, 2.3, 5.3, 2, 1),
    ]
    t.finish({"b": {"tasks": 4.0}, "e": {"tasks": 6.0}})
    assert abs(t.spans[1].self_s - 0.6) < 1e-9
    m = tracing.span_metrics(t, "op")
    assert abs(m["op.plan_ms"] - 200.0) < 1e-6
    assert m["op.plan_jobs"] == 1.0 and m["op.exec_s"] == 2.0 and m["op.tasks"] == 5.0
    assert tracing.span_metrics(t, "absent")["absent.exec_s"] == 0.0


def test_end_to_end_metrics():
    S = types.SimpleNamespace
    samples = [S(latency_s=x, rows=100, ok=True, recall=1.0) for x in (1.0, 2.0, 3.0)]
    samples.append(S(latency_s=9.0, rows=100, ok=False, recall=0.0))
    samples.append(S(latency_s=1.0, rows=100, ok=True, recall=None))  # ungraded: not in recall
    m = run.end_to_end(samples, [5.0, 1.0, 2.0], 123.0)
    assert m["setup_s"] == (2.0, "s")
    assert m["rows_per_s"] == (400 / 7.0, "rows/s")
    assert m["op_p50_ms"] == (1500.0, "ms")
    assert abs(m["op_p95_ms"][0] - 2850.0) < 1e-9  # interpolated inside the range
    assert m["recall"] == (0.75, "frac")


def test_recall_is_graded_only_where_the_check_grades_it():
    calls = workloads.Calls()
    assert workloads._timed(calls, "x", 1, lambda: (True, 0.95)).recall == 0.95
    assert workloads._timed(calls, "x", 1, lambda: (False, None)).recall == 0.0
    assert workloads._timed(calls, "x", 1, lambda: 1 / 0).recall == 0.0
    ungraded = workloads._timed(calls, "x", 1, lambda: 1 / 0, graded=False)
    assert ungraded.recall is None and not ungraded.ok


def test_memwatch_sees_children_and_reports_a_peak():
    child = subprocess.Popen([sys.executable, "-c", "import sys; sys.stdin.read()"], stdin=subprocess.PIPE)
    try:
        assert child.pid in memwatch.descendants(os.getpid())
        sampler = run.MemorySampler()
        time.sleep(0.5)
        assert sampler.stop() > 0  # the child above, not the sampler itself
    finally:
        child.communicate()


def test_refuses_to_run_without_the_program(tmp_path):
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", "batch_pipelines",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60)
    assert proc.returncode != 0 and proc.stdout == ""


def test_benchmark_json_matches_the_metrics_run_prints():
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    S = types.SimpleNamespace
    e2e = run.end_to_end([S(latency_s=1.0, rows=1, ok=True, recall=1.0)], [1.0], 1.0)
    assert [(m["name"], m["unit"]) for m in spec["end_to_end"]] == [(k, u) for k, (_, u) in e2e.items()]
    layers = run.per_layer(tracing.Tracer(sc=None), S(layer_counts=dict), [1.0], 0.0)
    assert [(m["name"], m["unit"]) for m in spec["per_layer"]] == [(k, u) for k, (_, u) in layers.items()]
    assert all(0 < m["bound"] <= 0.25 for m in spec["end_to_end"])
    assert {w["name"] for w in spec["workloads"]} == set(workloads.WORKLOADS)
