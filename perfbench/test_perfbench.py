"""Tests of the benchmark's own logic (no Spark needed).

Run from the root of the repository:  python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from checks import compare_table  # noqa: E402
from gen import BASIC_DEMO_MIX, StreamGen, SyncLoopGen, analytics_tables, replay  # noqa: E402
from spans import Span, Tracer, self_time, tail_percentile  # noqa: E402


def _user(i: int, status: str) -> dict:
    return {"id": i, "username": f"user_{i}", "status": status}


def test_replay_reproduces_the_reference_basic_demo():
    # 10 inserts, 5 updates, 2 deletes -> 8 rows, updated statuses kept
    changes = [("INSERT", i, _user(i, "active")) for i in range(1, 11)]
    changes += [("UPDATE", i, _user(i, "updated")) for i in range(1, 6)]
    changes += [("DELETE", i, None) for i in (9, 10)]
    table = replay(changes)
    assert len(table) == 8
    assert sorted(table) == [1, 2, 3, 4, 5, 6, 7, 8]
    assert {table[i]["status"] for i in range(1, 6)} == {"updated"}
    assert {table[i]["status"] for i in range(6, 9)} == {"active"}


def test_replay_update_of_a_missing_key_is_a_no_op():
    assert replay([("UPDATE", 1, {"id": 1})]) == {}
    assert replay([("INSERT", 1, {"v": 1}), ("DELETE", 1, None),
                   ("UPDATE", 1, {"v": 2})]) == {}
    assert replay([("DELETE", 1, None), ("INSERT", 1, {"v": 3})]) == {1: {"v": 3}}


def test_tail_percentile_leaves_ten_samples_beyond():
    assert tail_percentile([1.0] * 10) is None
    values = [float(i) for i in range(1, 21)]  # 20 samples
    p, v = tail_percentile(values)
    assert p == 50 and v == 10.0
    assert sum(x > v for x in values) == 10
    p, v = tail_percentile([float(i) for i in range(1, 1001)])
    assert p == 99 and v == 990.0
    for n in (11, 17, 64, 333):
        values = [float(i) for i in range(n)]
        p, v = tail_percentile(values)
        assert sum(x > v for x in values) >= 10
        # one percent higher would leave fewer than ten samples beyond
        higher = sorted(values)[-(10)]
        assert v <= higher


def test_self_time_subtracts_the_union_of_children():
    parent = Span("p", 0.0, 10.0)
    kids = [Span("a", 1.0, 3.0), Span("b", 2.0, 4.0), Span("c", 6.0, 7.0),
            Span("d", 9.5, 12.0)]  # overlap a/b, d runs past the parent
    assert self_time(parent, kids) == pytest.approx(10.0 - 3.0 - 1.0 - 0.5)
    assert self_time(parent, []) == 10.0


def test_tracer_nests_spans_and_counts_self_jobs():
    clock = iter(float(t) for t in range(100)).__next__
    jobs = iter([0, 1, 3, 4, 6, 7]).__next__
    tr = Tracer(job_counter=jobs, clock=clock)
    outer = tr.open("replicate")      # t=0, jobs 0
    inner = tr.open("merge")          # t=1, jobs 1
    tr.close(inner)                   # t=2, jobs 3
    tr.close(outer)                   # t=3, jobs 4
    assert tr.spans[inner].parent == outer
    assert tr.self_time(outer) == pytest.approx(2.0)
    assert tr.spans[outer].jobs == 4 and tr.self_jobs(outer) == 2


def test_installed_wrapper_records_only_when_enabled():
    class Target:
        def work(self, x):
            return x * 2

    tr = Tracer(job_counter=lambda: 0)
    tr.install(Target, "work", "layer.work")
    assert Target().work(2) == 4 and tr.spans == []
    tr.enabled = True
    assert Target().work(3) == 6
    assert [s.name for s in tr.spans] == ["layer.work"]
    tr.uninstall()
    assert Target.work.__name__ == "work" and Target().work(1) == 2


def test_wrapper_cost_excludes_the_wrapped_call():
    # clock reads: call start 0, span open 1, span close 5, call end 6
    clock = iter([0.0, 1.0, 5.0, 6.0]).__next__
    tr = Tracer(job_counter=lambda: 0, clock=clock)
    tr.enabled = True
    tr.call("layer.work", lambda: None, (), {})
    assert tr.spans[0].duration == 4.0 and tr.cost_s == 2.0


def test_traced_units_go_untraced_traced_traced_untraced():
    from workloads import Context

    ctx = Context(None, 1, 4.0, True, Tracer(job_counter=lambda: 0), "")
    assert [ctx.trace_units(i) for i in range(8)] == [False, True, True, False] * 2
    ctx.traced = False
    assert not any(ctx.trace_units(i) for i in range(8))


def test_sync_generator_is_seeded_and_replays_to_its_table():
    a, b = (SyncLoopGen(7, 1000, 30, 10, 8) for _ in range(2))
    a.base(), b.base()
    for _ in range(5):
        ia, ib = a.iteration(), b.iteration()
        assert ia == ib
    assert replay(a.log) == a.table
    assert sum(a.op_counts.values()) == len(a.log) == 1000 + 5 * 48
    # Zipf keys: some key is updated and then deleted in one iteration
    g = SyncLoopGen(3, 1000, 30, 10, 8)
    g.base()
    hits = 0
    for _ in range(5):
        it = g.iteration()
        hits += bool({r["id"] for r in it["update"]} & {r["id"] for r in it["delete"]})
    assert hits > 0


def test_stream_generator_marks_malformed_rows():
    g = StreamGen(5, 500, 400, bad_share=0.05)
    base = g.base()
    t = g.next_file(10_000, 0)
    rows = t.to_pylist()
    assert [r["cdc_id"] for r in rows] == list(range(10_000, 10_400))
    bad = {r["cdc_id"] for r in rows if r["new_data"] and not r["new_data"].endswith("}")}
    assert bad == set(g.bad_ids) and bad
    for r in rows:
        if r["cdc_id"] not in bad and r["new_data"]:
            assert json.loads(r["new_data"])["id"] == r["record_id"]
    want = replay(g.valid, {img["id"]: img for img in base})
    assert want == g.table


def test_compare_table_reports_differences():
    want = {1: {"id": 1, "v": 1}, 2: {"id": 2, "v": 2}}
    assert compare_table([{"id": 1, "v": 1}, {"id": 2, "v": 2}], want) == []
    problems = compare_table([{"id": 1, "v": 9}, {"id": 3, "v": 3}], want)
    assert len(problems) == 3


def test_analytics_tables_are_seeded(tmp_path):
    import pyarrow.parquet as pq

    a = analytics_tables(1, str(tmp_path / "a"), 0.001, 2000)
    b = analytics_tables(1, str(tmp_path / "b"), 0.001, 2000)
    assert a == b and a["lineitem"] == 6000 and a["events"] == 2000
    for name in a:
        ta = pq.read_table(tmp_path / "a" / f"{name}.parquet")
        assert ta.equals(pq.read_table(tmp_path / "b" / f"{name}.parquet"))
    assert str(pq.read_schema(tmp_path / "a" / "events.parquet").field("ts").type) == \
        "timestamp[ns]"


def test_generators_follow_the_basic_demo_mix():
    from workloads import SYNC_DELETES, SYNC_INSERTS, SYNC_UPDATES

    assert (SYNC_INSERTS, SYNC_UPDATES, SYNC_DELETES) == (120, 60, 24)
    g = StreamGen(2, 100, 17_000, bad_share=0.0)
    g.base()
    ops = [r["operation"] for r in g.next_file(1000, 0).to_pylist()]
    for op, share in BASIC_DEMO_MIX.items():
        assert abs(ops.count(op) / len(ops) - share / 17) < 0.02


def test_query_mix_is_registered_with_oracles():
    sys.path.insert(0, os.path.dirname(HERE))
    from cdc_system_spark.queries import QUERY_REGISTRY
    from workloads import ANALYTICS_QUERIES

    for name in ANALYTICS_QUERIES:
        assert QUERY_REGISTRY[name].sql


def test_benchmark_json_matches_the_metric_catalogue():
    import run

    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    assert [w["name"] for w in spec["workloads"]] == ["sync_loop", "stream_catchup"]
