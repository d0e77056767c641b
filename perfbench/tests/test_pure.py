"""Tests of the benchmark's pure parts: the tail-percentile rule, seeded
inputs and order, span self time, plan node counts, per-layer totals,
the status-store read and the artifact schema.  They start no Spark
session; the status store is a stand-in with the same methods.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import sys
from pathlib import Path

import pyarrow.parquet as pq
import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import datagen  # noqa: E402
import run  # noqa: E402
import stats  # noqa: E402
import tracing  # noqa: E402
from workloads import WORKLOADS  # noqa: E402


# -- tail percentile ------------------------------------------------------------

def test_tail_leaves_exactly_ten_samples_above():
    samples = [float(i) for i in range(1, 101)]
    value, pct, n = stats.tail(samples)
    assert n == 100
    assert value == 90.0 and pct == 90.0
    assert sum(1 for s in samples if s > value) == stats.TAIL_MIN_ABOVE


def test_tail_is_order_independent_and_counts_ties_by_rank():
    samples = [3.0, 1.0, 2.0] * 4  # 12 samples
    value, pct, n = stats.tail(samples)
    assert (n, value) == (12, 1.0)  # rank 2 of 12
    assert pct == pytest.approx(100 * 2 / 12)


def test_tail_needs_more_than_ten_samples():
    with pytest.raises(ValueError):
        stats.tail([1.0] * 10)
    assert stats.tail([float(i) for i in range(11)])[0] == 0.0


# -- seeded order and inputs ------------------------------------------------------

def test_pass_order_is_a_seeded_permutation():
    qs = WORKLOADS["registry"]["queries"]
    a = stats.pass_order(qs, 7, 1)
    assert a == stats.pass_order(qs, 7, 1)
    assert sorted(a) == sorted(qs)
    orders = {tuple(stats.pass_order(qs, seed, p)) for seed in range(5) for p in range(5)}
    assert len(orders) > 1


def test_inputs_are_deterministic_per_seed_and_only_reordered(tmp_path):
    sf = 0.001
    rows = datagen.write_inputs(tmp_path / "a", 3, sf)
    datagen.write_inputs(tmp_path / "b", 3, sf)
    datagen.write_inputs(tmp_path / "c", 4, sf)
    assert set(rows) == set(datagen.TABLES)
    for name in datagen.TABLES:
        a = pq.read_table(tmp_path / "a" / f"{name}.parquet")
        b = pq.read_table(tmp_path / "b" / f"{name}.parquet")
        c = pq.read_table(tmp_path / "c" / f"{name}.parquet")
        assert a.equals(b), name
        assert a.schema.equals(c.schema), name
        assert pq.ParquetFile(tmp_path / "a" / f"{name}.parquet").metadata.num_row_groups == 1
        key = a.column_names[0]
        # same rows, other order: sorting both by every column makes them equal
        by = [(col, "ascending") for col in a.column_names if col != "embedding"]
        assert a.sort_by(by).equals(c.sort_by(by)), name
        if a.num_rows > 10:
            assert a[key].to_pylist() != c[key].to_pylist(), name


def test_input_schemas_match_the_engine_catalog():
    t = datagen.base_tables(0.001)
    assert str(t["events"].schema.field("ts").type) == "timestamp[us]"
    assert str(t["embeddings"].schema.field("embedding").type) == "list<item: float>"
    assert str(t["nation"].schema.field("n_nationkey").type) == "int32"
    assert t["lineitem"].num_rows == 6000 and t["customer"].num_rows == 150


# -- spans and plans -----------------------------------------------------------------

def _span(i, parent, start, end, kind="query"):
    return {"id": i, "parent": parent, "kind": kind, "name": str(i),
            "start": start, "end": end, "attrs": {}}


def test_self_time_subtracts_merged_children():
    spans = [_span(0, None, 0.0, 10.0), _span(1, 0, 1.0, 4.0, "construct"),
             _span(2, 0, 3.0, 6.0, "plan"), _span(3, 2, 3.0, 5.0, "job")]
    st = stats.self_times(spans)
    assert st[0] == pytest.approx(10.0 - 5.0)  # children cover [1, 6]
    assert st[2] == pytest.approx(1.0)
    assert st[3] == pytest.approx(2.0)


def test_plan_counts_reads_the_final_adaptive_plan():
    plan = """AdaptiveSparkPlan isFinalPlan=true
+- == Final Plan ==
   +- *(3) HashAggregate(keys=[], functions=[count(1)])
      +- Exchange SinglePartition, ENSURE_REQUIREMENTS, [plan_id=249]
         +- FlatMapGroupsInPandasWithState [user_id#1]
            :- BroadcastExchange HashedRelationBroadcastMode
            +- AQEShuffleRead coalesced
               +- Exchange hashpartitioning(user_id#29L, 4)
                  +- ArrowEvalPython [udf(x)]
+- == Initial Plan ==
   HashAggregate(keys=[], functions=[count(1)])
   +- Exchange SinglePartition, ENSURE_REQUIREMENTS, [plan_id=203]
"""
    assert run.plan_counts(plan) == (3, 2)


def test_written_counts_new_and_changed_files_only():
    before = {"a": (10, 1), "b": (20, 1)}
    after = {"a": (10, 1), "b": (20, 2), "c": (2**20, 5)}
    mb, n = run.written(before, after)
    assert n == 2 and mb == pytest.approx((20 + 2**20) / 2**20)


def test_layer_totals_group_by_pass_or_by_query():
    spans = [_span(0, None, 0.0, 10.0, "pass"), _span(1, 0, 0.0, 4.0), _span(2, 1, 0.0, 3.0, "construct"),
             _span(3, 1, 3.0, 4.0, "execute"), _span(4, 0, 4.0, 9.0), _span(5, 4, 4.0, 9.0, "execute"),
             _span(6, 2, 0.5, 1.0, "call")]
    spans[0]["attrs"]["timed"] = True
    spans[3]["attrs"].update(jobs=2, stages=3)
    spans[5]["attrs"].update(jobs=1, stages=1)
    spans[6]["attrs"]["layer"] = "ckpt.local_checkpoint"
    by_pass = run.layer_totals(spans, "pass")
    assert list(by_pass) == [0]
    assert by_pass[0]["trace.pass_s"] == 10.0
    assert by_pass[0]["execute.s"] == 6.0 and by_pass[0]["execute.jobs"] == 3
    assert by_pass[0]["ckpt.local_checkpoints"] == 1
    by_query = run.layer_totals(spans, "query")
    assert by_query[1]["trace.pass_s"] == 4.0 and by_query[1]["construct.s"] == 3.0
    assert by_query[1]["ckpt.local_checkpoint_s"] == 0.5
    assert by_query[4]["execute.stages"] == 1 and by_query[4]["construct.s"] == 0.0


# -- status store ---------------------------------------------------------------------

class _Str:
    def __init__(self, s):
        self.s = s

    def toString(self):  # noqa: N802 - JVM method name
        return self.s


class _Seq(list):
    def apply(self, i):
        return self[i]

    def size(self):
        return len(self)


class _NoTime:
    def isDefined(self):  # noqa: N802
        return False


class _Stage:
    def __init__(self, status, run_ms):
        self._status, self._run_ms = status, run_ms

    def status(self):
        return _Str(self._status)

    def numTasks(self):  # noqa: N802
        return 4

    submissionTime = completionTime = lambda self: _NoTime()  # noqa: E731, N815

    def __getattr__(self, name):
        return lambda: self._run_ms if name == "executorRunTime" else 0


class _Job:
    def __init__(self, status):
        self._status = status

    def status(self):
        return _Str(self._status)

    def stageIds(self):  # noqa: N802
        return _Seq([7])

    submissionTime = completionTime = lambda self: _NoTime()  # noqa: E731, N815


class _CatchingUpStore:
    """Reports the job running and its stage active with partial figures
    for `lag` reads, then final; counts drains of the listener bus."""

    def __init__(self, lag):
        self.lag, self.reads, self.drains = lag, 0, 0

    def listenerBus(self):  # noqa: N802
        return self

    def waitUntilEmpty(self, timeout_ms):  # noqa: N802
        self.drains += 1

    def job(self, job_id):
        self.reads += 1
        return _Job("RUNNING" if self.reads <= self.lag else "SUCCEEDED")

    def lastStageAttempt(self, sid):  # noqa: N802
        done = self.reads > self.lag
        return _Stage("COMPLETE" if done else "ACTIVE", 900 if done else 100)


def _status_store(fake):
    store = object.__new__(tracing.StatusStore)
    store._sc, store._store = fake, fake
    return store


def test_status_store_drains_the_bus_and_waits_for_final_figures():
    fake = _CatchingUpStore(lag=2)
    [job] = _status_store(fake).jobs(0, 1, timeout_s=5.0)
    assert fake.drains >= 3 and fake.reads == 3
    assert job["status"] == "SUCCEEDED" and not job["unfinished"]
    assert job["stages"][0]["run_s"] == pytest.approx(0.9) and not job["stages"][0]["unfinished"]


def test_status_store_flags_what_never_finished():
    fake = _CatchingUpStore(lag=10**9)
    [job] = _status_store(fake).jobs(0, 1, timeout_s=0.2)
    assert job["unfinished"] and job["stages"][0]["unfinished"]
    phase = {"kind": "execute", "attrs": {"unfinished_jobs": 1, "unfinished_stages": 1}}
    assert run.status_store_check([phase]) == {
        "missing_jobs": 0, "unfinished_jobs": 1, "unfinished_stages": 1}


# -- artifact schema ------------------------------------------------------------------

def _artifact():
    spans = [_span(0, None, 0.0, 2.0, "run"), _span(1, 0, 0.0, 2.0, "pass"),
             _span(2, 1, 0.1, 1.9), _span(3, 2, 0.1, 1.0, "construct")]
    for s in spans:
        s["self_s"] = 0.0
    return {
        "workload": "registry", "seed": 1, "trace": 1, "sf": 0.01,
        "queries": ["q_a"], "metrics": {"pass_s": {"value": 1.0, "unit": "s"}},
        "passes": [{"pass": 1, "timed": True, "wall_s": 2.0, "order": ["q_a"], "host": {}}],
        "layers": {}, "spans": spans, "host": {},
    }


def test_artifact_schema_accepts_a_well_formed_record():
    assert stats.check_artifact(_artifact()) == []


def test_artifact_schema_names_each_problem():
    a = _artifact()
    del a["host"]
    assert stats.check_artifact(a) == ["missing key 'host'"]
    a = _artifact()
    a["spans"][3]["parent"] = 99
    a["spans"][2]["kind"] = "bogus"
    a["metrics"]["pass_s"]["extra"] = 1
    problems = stats.check_artifact(a)
    assert any("dangling parent" in p for p in problems)
    assert any("unknown kind" in p for p in problems)
    assert any("metric pass_s" in p for p in problems)


def test_reported_metric_lists_match_the_benchmark_file():
    import json

    spec = json.loads((Path(run.ROOT) / "BENCHMARK.json").read_text())
    assert [m["name"] for m in spec["end_to_end"]] == run.E2E_REPORTED
    assert [m["name"] for m in spec["per_layer"]] == run.LAYER_REPORTED
    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)
    assert [w["why"] for w in spec["workloads"]] == [w["why"] for w in WORKLOADS.values()]
    for m in spec["end_to_end"]:
        assert m["unit"] == run.E2E_UNITS[m["name"]]
    for m in spec["per_layer"]:
        assert m["unit"] == run.LAYER_UNITS[m["name"]]
