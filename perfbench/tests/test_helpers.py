"""Unit tests of the benchmark's pure helpers (no Spark)."""

import json
import os
import re
import sys
import types

import pytest

from conftest import PERFBENCH, ROOT
from helpers import Tracer, dir_bytes, engine_metrics, read_event_log, tail

EVENT_LOG = os.path.join(PERFBENCH, "tests", "data", "eventlog_small.jsonl")


# -- the tail percentile rule ------------------------------------------------

@pytest.mark.parametrize("n", [0, 1, 10])
def test_tail_needs_more_than_ten_samples(n):
    assert tail([float(i) for i in range(n)]) is None


def test_tail_eleven_samples_is_the_minimum():
    # one sample with ten beyond it: the smallest value, at 1/11 of the way
    pct, value = tail([float(v) for v in range(11, 0, -1)])
    assert value == 1.0
    assert pct == pytest.approx(100 / 11)


@pytest.mark.parametrize("n,pct,value", [(20, 50.0, 10), (100, 90.0, 90), (1000, 99.0, 990)])
def test_tail_leaves_exactly_ten_samples_beyond(n, pct, value):
    values = [float(v) for v in range(1, n + 1)]
    got_pct, got = tail(values[::-1])
    assert (got_pct, got) == (pct, value)
    assert sum(v > got for v in values) == 10


def test_tail_counts_ties_as_samples():
    pct, value = tail([1.0] * 5 + [2.0] * 20)
    assert pct == 60.0 and value == 2.0


# -- event log ---------------------------------------------------------------

def test_event_log_groups_and_counters():
    groups = read_event_log(EVENT_LOG)
    # the recorded log also holds a job outside any group: it is skipped
    assert set(groups) == {"rs0", "ds0"}
    rs, ds = groups["rs0"], groups["ds0"]
    assert rs.tasks == 20 and ds.tasks == 1
    assert len(rs.stages) == 14
    assert rs.shuffle_write == rs.shuffle_read == 2_381_422
    assert (rs.py_sent, rs.py_recv) == (3_105_320, 6_737_888)
    assert (ds.shuffle_read, ds.py_recv) == (0, 6_737_888)
    assert ds.main_stage().tasks == [0.456]
    assert ds.main_stage().wall == pytest.approx(0.472)


def test_engine_metrics_per_operation():
    groups = read_event_log(EVENT_LOG)
    m = engine_metrics([groups["rs0"], groups["ds0"]], cores=4)
    assert m["tasks"] == pytest.approx(10.5)
    assert m["python_recv_mb"] == pytest.approx(6.737888)
    assert m["shuffle_read_mb"] == pytest.approx(2.381422 / 2)
    run = sum(sum(s.tasks) for g in groups.values() for s in g.stages.values())
    wall = sum(s.wall for g in groups.values() for s in g.stages.values())
    assert m["slot_util"] == pytest.approx(run / (4 * wall))
    assert m["task_skew"] == 1.0  # both heaviest stages ran one task


def test_engine_metrics_without_jobs_are_zero():
    assert set(engine_metrics([], cores=4).values()) == {0.0}


# -- tracer ------------------------------------------------------------------

def test_self_time_subtracts_children():
    tr = Tracer()
    with tr.operation():
        with tr.span("engine.outer"):
            with tr.span("lineage.inner"):
                pass
            with tr.span("lineage.inner"):
                pass
    outer, a, b = tr.spans
    assert a.parent == b.parent == 0 and a.op == b.op == outer.op == 0
    self_t = tr.self_times()
    inner = (a.end - a.start) + (b.end - b.start)
    assert self_t["engine"] == pytest.approx(outer.end - outer.start - inner)
    assert self_t["lineage"] == pytest.approx(inner)
    assert tr.total("lineage.inner") == (pytest.approx(inner), 2)


def test_patch_wraps_every_reference_and_restores():
    mod = types.ModuleType("pysparkenc._perfbench_fake")
    other = types.ModuleType("pysparkenc._perfbench_alias")

    def f(x):
        return x + 1

    mod.f = other.g_alias = f
    other.f = f
    sys.modules[mod.__name__] = mod
    sys.modules[other.__name__] = other
    try:
        tr = Tracer()
        tr.patch(mod, "f", "kernels.f", on_return=lambda sp, a, k, out: sp.attrs.update(out=out))
        assert mod.f(1) == 2 and other.f(2) == 3
        assert other.g_alias is f  # another name for it is left alone
        assert [sp.attrs["out"] for sp in tr.spans] == [2, 3]
        tr.restore()
        assert mod.f is f and other.f is f
    finally:
        del sys.modules[mod.__name__], sys.modules[other.__name__]


def test_dir_bytes_skips_hidden_and_marker_files(tmp_path):
    (tmp_path / "a").mkdir()
    (tmp_path / "a" / "part-0.parquet").write_bytes(b"x" * 10)
    (tmp_path / "a" / ".part-0.parquet.crc").write_bytes(b"x" * 7)
    (tmp_path / "_SUCCESS").write_bytes(b"")
    assert dir_bytes(str(tmp_path)) == 10


# -- BENCHMARK.json ----------------------------------------------------------

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def test_benchmark_json_shape():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert set(spec) == {"command", "paths", "run_seconds", "workloads",
                         "end_to_end", "per_layer"}
    assert spec["paths"] == ["perfbench"]
    assert 2 <= len(spec["workloads"]) <= 8
    assert all(set(w) == {"name", "why"} and len(w["why"]) <= 200
               for w in spec["workloads"])
    e2e = {m["name"]: m for m in spec["end_to_end"]}
    assert all(set(m) == {"name", "unit", "better", "bound"} and m["bound"] <= 0.25
               for m in e2e.values())
    assert e2e["setup_s"]["unit"] == "s" and e2e["setup_s"]["better"] == "lower"
    assert e2e["setup_s"]["bound"] == max(m["bound"] for m in e2e.values())
    assert all(set(m) == {"name", "unit", "better"} for m in spec["per_layer"])
    names = [m["name"] for m in [*spec["workloads"], *spec["end_to_end"], *spec["per_layer"]]]
    assert len(names) == len(set(names)) and all(NAME.match(n) for n in names)
    units = [m["unit"] for m in [*spec["end_to_end"], *spec["per_layer"]]]
    assert all(UNIT.match(u) for u in units)
