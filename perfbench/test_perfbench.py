"""Self-tests of the benchmark's own logic: the percentile rule, failure
accounting, event-log folding and seeding. They start no Spark session.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from perfbench import checks, run, stats
from perfbench.harness import CheckFailed, Op, Record, Runner, end_to_end, layer_totals, row_totals
from perfbench.trace import (
    Tracer,
    Window,
    attribute_jobs,
    covered_ms,
    fold_jobs,
    read_event_log,
    read_sql_executions,
)
from perfbench.workloads import Inputs

FIXTURES = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fixtures")


# -- the percentile rule -----------------------------------------------------


@pytest.mark.parametrize("n, p", [(100, 90), (1000, 90), (50, 80), (40, 75), (21, 52), (20, 50), (11, 50), (1, 50)])
def test_tail_percentile_leaves_ten_samples_beyond(n, p):
    assert stats.tail_percentile(n) == p


def test_tail_percentile_is_the_highest_such_percentile():
    for n in range(20, 400):
        p = stats.tail_percentile(n)
        assert n * (100 - p) / 100 >= stats.TAIL_BEYOND
        assert p == stats.TAIL_CAP or n * (100 - (p + 1)) / 100 < stats.TAIL_BEYOND


def test_percentile_matches_numpy():
    xs = list(np.random.default_rng(0).exponential(size=37))
    for p in (0, 10, 50, 73, 90, 100):
        assert stats.percentile(xs, p) == pytest.approx(np.percentile(xs, p))


# -- error_rate accounting ---------------------------------------------------


def _op(name, value=None, exc=None, wrong=False):
    def construct():
        if exc is not None:
            raise exc
        return value

    def check(result):
        if wrong:
            raise CheckFailed("bad")

    return Op(name, "streaming", construct, check=check)


def test_failures_count_once_per_op_and_name_it():
    outcomes = stats.Outcomes()
    runner = Runner(Tracer(enabled=False), outcomes)
    walls, records = runner.run_passes(
        iter([[_op("ok", 1), _op("raises", exc=ValueError("boom")), _op("wrong", 2, wrong=True)]]), None, n_passes=1)
    runner.check(records)
    assert outcomes.attempted == 3
    assert outcomes.failed == 2
    assert outcomes.error_rate == pytest.approx(2 / 3)
    assert outcomes.failed_ops() == ["raises", "wrong"]
    assert records[1].error.startswith("ValueError: boom")
    assert records[2].error.startswith("wrong result")
    # a wrong result still returned, so it is a latency sample; an exception is not
    metrics, extra = end_to_end(1.0, walls, records, 100.0)
    assert extra["samples"] == 2
    # exactly the end-to-end metrics BENCHMARK.json declares
    assert {k: u for k, (_, u) in run.declared_metrics("end_to_end", metrics).items()} == {
        "setup_s": "s", "pass_s": "s", "op_geomean_s": "s", "retained_mb": "MB"}


def test_layer_totals_are_declared_metrics():
    jobs, stages = read_event_log(os.path.join(FIXTURES, "eventlog_small.jsonl"))
    t = [j["submit_ms"] for j in jobs]
    tracer = Tracer(enabled=False)
    tracer.windows = [Window(0, "g", "construct", t[0] - 1, t[1] - 1), Window(0, "g", "action", t[1] - 1, t[2] - 1),
                      Window(1, "o", "construct", t[2] - 1, t[3] - 1), Window(1, "o", "action", t[3] - 1, t[3] + 9)]
    records = [Record(0, Op("g", "gates", None), 1.0, 1.0), Record(1, Op("o", "operators", None), 1.0, 1.0)]
    totals, rows, stray = layer_totals(tracer, records, jobs, stages, [], t[0] - 1, t[3] + 9)
    assert stray == [] and [r["exec_jobs"] for r in rows] == [2, 2]
    assert totals["gates.eager_jobs"] == 1 and totals["exec.jobs"] == 4
    run.declared_metrics("per_layer", totals)


def test_undeclared_metric_is_an_error():
    with pytest.raises(KeyError):
        run.declared_metrics("per_layer", {"gates.no_such_metric": 1.0})


def test_check_that_raises_is_a_failure():
    outcomes = stats.Outcomes()
    runner = Runner(Tracer(enabled=False), outcomes)
    op = Op("broken_check", "streaming", lambda: 1, check=lambda r: 1 / 0)
    runner.check([runner.run(op)])
    assert outcomes.failed == 1 and outcomes.failures[0][1].startswith("check raised ZeroDivisionError")


class _Frame:
    def toPandas(self):
        return [1]


def test_overhead_reruns_are_not_attempted_ops():
    outcomes = stats.Outcomes()
    runner = Runner(Tracer(enabled=False), outcomes)
    passes = iter([[Op("read", "operators", _Frame), Op("write", "streaming", lambda: None)]])
    walls, records, _, _ = run.traced_passes(runner, passes)
    # the read op ran three times (once measured, twice for the overhead), the write once
    assert [r.op.name for r in runner.records].count("read") == 3
    assert len(records) == 2 and outcomes.attempted == 2
    assert len({r.op_id for r in runner.records}) == len(runner.records)


def test_no_failures_is_a_zero_error_rate():
    outcomes = stats.Outcomes()
    outcomes.attempt(4)
    assert outcomes.error_rate == 0.0 and outcomes.failed_ops() == []


# -- event-log folding -------------------------------------------------------


def test_fold_captured_event_log():
    jobs, stages = read_event_log(os.path.join(FIXTURES, "eventlog_small.jsonl"))
    assert [j["id"] for j in jobs] == [0, 1, 2, 3]
    folded = fold_jobs(jobs, stages)
    assert folded["jobs"] == 4 and folded["stages"] == 4 and folded["tasks"] == 7
    assert folded["run_s"] == pytest.approx((349 + 6109 + 2936 + 281) / 1000)
    assert folded["cpu_s"] == pytest.approx((54765606 + 123317293 + 1096373955 + 250287919) / 1e9)
    assert folded["gc_s"] == pytest.approx(0.035)
    assert folded["input_bytes"] == 869 * 2
    assert folded["python_bytes_sent"] == 9024 and folded["python_bytes_received"] == 600
    assert folded["python_s"] == pytest.approx(1.912)


def test_sql_metrics_of_a_captured_log():
    # an in-memory IVF search (a Filter on the probed lists feeds the
    # top-k) and a persisted one (adaptive execution replans it; the
    # kept-rows Filter over the tombstone anti-join feeds the top-k)
    ex = read_sql_executions(os.path.join(FIXTURES, "eventlog_sql.jsonl"))
    assert [(e["id"], e["files_read"], e["topk_input_rows"]) for e in ex] == [(3, 1, 519), (10, 33, 298)]


def test_ann_and_store_search_totals_come_from_sql_metrics():
    base = {"error": None, "construct_s": 1.0, "action_s": 1.0}
    rows = [dict(base, op="ivf_search", results=10, sql_topk_input_rows=519, sql_files_read=1),
            dict(base, op="ivf_search_persisted", results=10, store_search=True, sql_topk_input_rows=298,
                 sql_files_read=33),
            dict(base, op="fts_search_persisted", store_search=True, sql_topk_input_rows=0, sql_files_read=7),
            dict(base, op="bm25_scores", error="ValueError: x", results=10, sql_topk_input_rows=99,
                 sql_files_read=99)]
    totals = row_totals(rows)
    assert totals["ann.rows_scored_per_result"] == pytest.approx((519 + 298) / 20)
    assert totals["streaming.files_per_search"] == pytest.approx(20)


def test_jobs_attributed_by_submission_window():
    jobs, _ = read_event_log(os.path.join(FIXTURES, "eventlog_small.jsonl"))
    t0, t1, t2, t3 = (j["submit_ms"] for j in jobs)
    windows = [Window(0, "a", "construct", t0 - 5.4, t1 - 100.2),
               Window(0, "a", "action", t1 - 100.2, t2 + 0.7),
               Window(1, "b", "construct", t3 + 1.5, t3 + 50)]
    by_window, stray = attribute_jobs(jobs, windows, t0 - 10, t3 + 60)
    assert [j["id"] for j in by_window[0]] == [0]
    # job 2 was submitted in the action window's last (fractional) millisecond
    assert [j["id"] for j in by_window[1]] == [1, 2]
    # job 3 came 1.5 ms before window b opened, in a millisecond no window covers
    assert [j["id"] for j in stray] == [3]
    # jobs before the traced region are not counted at all
    _, stray = attribute_jobs(jobs, windows, t1, t3 + 60)
    assert [j["id"] for j in stray] == [3]


def test_boundary_millisecond_goes_to_the_later_window():
    jobs = [{"id": 0, "submit_ms": 1000, "end_ms": 1010, "stage_ids": [], "ran_stages": []}]
    windows = [Window(0, "a", "construct", 990.0, 1000.4), Window(0, "a", "action", 1000.5, 1020.0)]
    by_window, stray = attribute_jobs(jobs, windows, 0, 2000)
    assert list(by_window) == [1] and stray == []


def test_reused_shuffle_stage_counts_once(tmp_path):
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 10, "Stage IDs": [0, 1]},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 0, "Number of Tasks": 4, "Accumulables": [
            {"Name": "internal.metrics.shuffle.write.bytesWritten", "Value": 500}]}},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 1, "Number of Tasks": 2, "Accumulables": [
            {"Name": "internal.metrics.shuffle.read.localBytesRead", "Value": 300},
            {"Name": "internal.metrics.shuffle.read.remoteBytesRead", "Value": 200}]}},
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 20},
        # job 1 reuses stage 0's shuffle output: stage 0 is listed but skipped
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 30, "Stage IDs": [0, 2]},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 2, "Number of Tasks": 2, "Accumulables": [
            {"Name": "internal.metrics.shuffle.read.localBytesRead", "Value": 500}]}},
        {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 45},
    ]
    path = tmp_path / "log"
    path.write_text("".join(json.dumps(e) + "\n" for e in events))
    jobs, stages = read_event_log(str(path))
    assert jobs[1]["ran_stages"] == [2]
    assert fold_jobs(jobs[1:], stages) == pytest.approx(
        dict(fold_jobs([], stages), jobs=1, stages=1, tasks=2, shuffle_read_bytes=500))
    total = fold_jobs(jobs, stages)
    assert (total["stages"], total["tasks"]) == (3, 8)
    assert (total["shuffle_write_bytes"], total["shuffle_read_bytes"]) == (500, 1000)
    # the jobs cover [10, 20] and [30, 45] of the window [15, 40]
    assert covered_ms(jobs, 15, 40) == 15


# -- seeding -----------------------------------------------------------------


@pytest.fixture(scope="module")
def small_data(tmp_path_factory):
    d = tmp_path_factory.mktemp("data")
    rng = np.random.default_rng(3)
    vecs = rng.standard_normal((50, 8)).astype(np.float32)
    pq.write_table(pa.table({"vec_id": np.arange(50, dtype=np.int64),
                             "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
                             "label": pa.array(np.zeros(50, dtype=np.int32))}), d / "embeddings.parquet")
    pq.write_table(pa.table({"doc_id": np.arange(4, dtype=np.int64),
                             "text": ["a b c", "b c d", "c d e", "d e f"]}), d / "documents.parquet")
    return str(d)


def _draws(inputs: Inputs):
    return [inputs.query_vec(), inputs.query_terms(), inputs.rng.permutation(10).tolist()]


def test_same_seed_same_inputs(small_data):
    assert _draws(Inputs(small_data, 5)) == _draws(Inputs(small_data, 5))
    assert _draws(Inputs(small_data, 5)) != _draws(Inputs(small_data, 6))


def test_query_vectors_are_unit_and_terms_from_the_vocabulary(small_data):
    inputs = Inputs(small_data, 1)
    for _ in range(20):
        assert np.linalg.norm(inputs.query_vec()) == pytest.approx(1.0)
        terms = inputs.query_terms()
        assert len(set(terms)) == len(terms) == 2 and set(terms) <= set("abcdef")


# -- references --------------------------------------------------------------


def test_exact_topk_breaks_ties_on_the_lower_id():
    mat = np.array([[1.0, 0.0], [1.0, 0.0], [0.0, 1.0], [2.0, 0.0]])
    ids, scores = checks.exact_topk(mat, np.array([7, 3, 5, 1]), [1.0, 0.0], 3)
    assert ids.tolist() == [1, 3, 7] and np.allclose(scores, 1.0)


def test_oracle_normalization_ignores_row_and_column_order():
    import pandas as pd

    a = pd.DataFrame({"y": [1.0000004, 2.0], "x": ["p", "q"]})
    b = pd.DataFrame({"x": ["q", "p"], "y": [2.0, 1.0]})
    checks.expect_oracle(a, checks.normalize(b), "t")
    with pytest.raises(CheckFailed):
        checks.expect_oracle(a, checks.normalize(pd.DataFrame({"x": ["q"], "y": [2.0]})), "t")
