"""The engine benchmark's own tests.

    python3 -m pytest enginebench/tests -q

The smoke tests start Spark (about a minute each); the rest are pure Python.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, ROOT)

from enginebench import gen, layers, run, stats, tracing  # noqa: E402
from enginebench.workloads import WORKLOADS, CrmAgent, Registry  # noqa: E402


def _benchmark_json() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


# ------------------------------------------------------------------ decks


@pytest.mark.parametrize("name", sorted(WORKLOADS))
def test_same_seed_same_deck_and_order(name):
    wl = WORKLOADS[name]
    assert wl.deck(7) == wl.deck(7)
    assert wl.warmup(7) == wl.warmup(7)


def test_other_seed_other_crm_deck():
    assert CrmAgent().deck(7) != CrmAgent().deck(8)


def test_registry_order_is_fixed():
    names = [op.kind.split("_")[0] for op in Registry().deck(3)[0]]
    assert names == list(Registry.queries)


@pytest.mark.parametrize("seed", [1, 2, 3])
def test_every_crm_block_has_the_same_mix(seed):
    for block in CrmAgent().deck(seed):
        kinds = [op.kind for op in block]
        assert kinds.count("query_crm") == 8
        assert kinds.count("copy") == kinds.count("schedule") == 2
        queries = [op.args for op in block if op.kind == "query_crm"]
        empty = [f for f in queries if f.get("min_total_spent") == 1000.0
                 or f.get("city") == "Atlantis"]
        assert len(empty) == 1
        # the seven other turns carry 0, 1, 2, 3, 3, 4 and 5 filter kinds
        counts = sorted(len(f) for f in queries if f not in empty)
        assert counts == [0, 1, 2, 3, 3, 4, 5]


def test_campaign_turn_follows_a_non_empty_query():
    for block in CrmAgent().deck(5):
        for i, op in enumerate(block):
            if op.kind == "copy":
                prev = block[i - 1].args
                assert prev.get("min_total_spent") != 1000.0 and prev.get("city") != "Atlantis"


# ------------------------------------------------------------------ inputs


def test_generated_tables_follow_the_seed():
    a = gen.star_tables(0.0005, 11)
    b = gen.star_tables(0.0005, 11)
    c = gen.star_tables(0.0005, 12)
    assert set(a) == {"region", "nation", "customer", "supplier", "part", "orders",
                      "lineitem", "events", "documents", "embeddings"}
    assert all(a[t].equals(b[t]) for t in a)
    assert not a["lineitem"].equals(c["lineitem"])
    assert not a["documents"].equals(c["documents"])


def test_fans_follow_the_seed_and_keep_the_edge_rows():
    from hive_feature_demo_spark.fixtures.fans import TODAY

    a = gen.fans_table(5000, 3)
    assert a.equals(gen.fans_table(5000, 3))
    assert not a.equals(gen.fans_table(5000, 4))
    days = {(TODAY - d).days for d in a.column("last_purchase_date").to_pylist()}
    assert {91, 92, 93} <= days
    assert 200.0 in a.column("total_spent").to_pylist()
    assert a.column("id").to_pylist() == sorted(a.column("id").to_pylist())


def test_sentinel_marks_a_finished_build(tmp_path):
    out = tmp_path / "star"
    assert not gen.is_built(str(out), "star", 0.0005, 1)
    gen.build("star", 0.0005, 1, str(out))
    assert gen.is_built(str(out), "star", 0.0005, 1)
    assert not gen.is_built(str(out), "star", 0.0005, 2)


# ------------------------------------------------------------------ stats


def test_nearest_rank():
    vals = list(range(1, 101))
    assert stats.nearest_rank(vals, 0.5) == 50
    assert stats.nearest_rank(vals, 0.9) == 90
    assert stats.nearest_rank([3.0], 0.9) == 3.0


def test_p90_needs_ten_samples_beyond_it():
    assert stats.samples_beyond(100, 0.9) == 10
    assert stats.tail_percentile(list(range(100)), 0.9) == 89
    assert stats.tail_percentile(list(range(99)), 0.9) is None


def test_quartile_spread_matches_statistics_quantiles():
    vals = [1.0, 1.1, 0.9, 1.05, 0.95, 1.2, 1.0, 0.98, 1.02, 1.01]
    assert stats.quartile_spread(vals) == pytest.approx(
        (1.0625 - 0.9725) / 1.005, rel=1e-9)


def test_per_kind_median_ignores_one_slow_pass():
    def sample(kind, seconds):
        return run.Sample(run.Op(kind), seconds, None, None, 0.0, 0.0, ok=True)

    passes = [[("a", 1.0), ("b", 4.0)], [("a", 1.2), ("b", 4.4)], [("a", 9.0), ("b", 99.0)]]
    samples = [sample(k, t) for p in passes for k, t in p]
    e2e = run.end_to_end(samples, 0.5)
    assert e2e["ops_per_s"] == pytest.approx(6 / (3 * 1.2 + 3 * 4.4))
    assert e2e["op_gmean_s"] == pytest.approx((1.2 * 4.4) ** 0.5)


def test_covered_merges_overlapping_windows():
    assert tracing.covered([(0, 2), (1, 3), (5, 6)], 0, 10) == 4
    assert tracing.covered([(0, 2)], 1, 10) == 1


def test_self_time_subtracts_children():
    t = tracing.Tracer()
    t.spans = [tracing.Span("op", 0.0, 10.0, None, 0),
               tracing.Span("plans.build", 1.0, 4.0, 0, 0),
               tracing.Span("plans.action", 5.0, 9.0, 0, 0)]
    assert t.self_times() == {"op": 3.0, "plans.build": 3.0, "plans.action": 4.0}


# ------------------------------------------------------------------ names


def test_metric_names_match_benchmark_json():
    bench = _benchmark_json()
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == run.UNITS
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == layers.UNITS
    assert sorted(w["name"] for w in bench["workloads"]) == sorted(WORKLOADS)


# ------------------------------------------------------------------ smoke


def _smoke(workload: str, trace: int) -> dict:
    proc = subprocess.run(
        [sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
         "--seed", "3", "--seconds", "1", "--trace", str(trace), "--smoke"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload,trace", [("crm_agent", 0), ("registry", 1)])
def test_smoke_run_is_correct(workload, trace):
    res = _smoke(workload, trace)
    assert res["correct"] is True
    assert res["failed"] == 0
    assert res["attempted"] >= 1
    bench = _benchmark_json()
    names = {m["name"] for m in bench["per_layer" if trace else "end_to_end"]}
    assert set(res["metrics"]) == names
