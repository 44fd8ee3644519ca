"""Tests of the benchmark's own helpers (no Spark session needed).

    python -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os

import numpy as np
import pytest

from perfbench import inputs, spec, stats
from perfbench.session import memory_plan
from perfbench.status import parse_sql_metric
from perfbench.trace import Tracer

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

GENERATORS = {
    "search_stream": lambda seed: inputs.search_stream(seed, 40),
    "probe_queries": lambda seed: inputs.probe_queries(seed, 4),
    "standing_queries": lambda seed: inputs.standing_queries(seed, 24),
    "dup_plan": lambda seed: inputs.dup_plan(seed, 2000, 20, 20),
    "embeddings": lambda seed: inputs.embeddings(seed, 300, 64, 16),
}


@pytest.mark.parametrize("name", sorted(GENERATORS))
def test_generators_are_seeded(name):
    gen = GENERATORS[name]
    assert inputs.digest(gen(7)) == inputs.digest(gen(7))
    assert inputs.digest(gen(7)) != inputs.digest(gen(8))


def test_search_stream_mix_is_fixed():
    stream = inputs.search_stream(3, 50)
    shapes = [r["shape"] for r in stream]
    assert shapes == [inputs.SEARCH_SHAPES[i % 5] for i in range(50)]
    for r in stream:
        q = r["body"]["match_lattice"]["spans"]["query"]
        if r["shape"] == "absent":
            assert q.split()[0] not in inputs.VOCAB
        elif r["shape"] == "multi_phrase":
            assert isinstance(q, list) and all(isinstance(s, list) for s in q)


def test_embeddings_unit_norm():
    x = inputs.embeddings(1, 50, 64, 4)
    assert np.allclose(np.linalg.norm(x, axis=1), 1.0)


def test_dup_plan_skips_fixtures_and_repeats():
    plan = inputs.dup_plan(5, 100, 10, 10)
    src = [i for i, _ in plan]
    assert len(set(src)) == 20 and min(src) >= 4
    assert [k for _, k in plan].count("exact") == 10


def test_percentile_needs_ten_samples_beyond():
    assert stats.min_samples_for(50) == 20
    assert stats.min_samples_for(90) == 100
    assert stats.min_samples_for(99) == 1000
    assert "p90" not in stats.reportable_percentiles(list(range(99)))
    got = stats.reportable_percentiles([float(i) for i in range(1, 101)])
    assert got["p90"] == 90.0 and "p99" not in got
    assert sum(v > got["p90"] for v in range(1, 101)) >= stats.TAIL_SAMPLES
    # the median is always the headline, with whatever samples exist
    assert stats.reportable_percentiles([2.0, 1.0, 3.0]) == {"p50": 2.0}


def test_metric_names_are_valid():
    names = [*spec.END_TO_END, *spec.PER_LAYER, *spec.REPORTED]
    assert all(stats.valid_name(n) for n in names), names
    assert len(set(spec.PER_LAYER) & set(spec.END_TO_END)) == 0


def test_every_layer_metric_maps_to_an_end_to_end_metric():
    for name, (_, better, targets) in spec.PER_LAYER.items():
        assert better in ("higher", "lower"), name
        assert targets, name
        for metric, family in targets:
            assert metric in spec.REPORTED, (name, metric)
            assert family in spec.FAMILIES, (name, family)
            where = spec.REPORTED[metric][1]
            assert where in ("all", family), (name, metric, family)


def test_benchmark_json_matches_spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert set(bench) == {"command", "paths", "run_seconds", "workloads",
                          "end_to_end", "per_layer"}
    assert bench["paths"] == ["perfbench"]
    assert [w["name"] for w in bench["workloads"]] == list(spec.WORKLOADS)
    for w in bench["workloads"]:
        assert w["why"] == spec.WORKLOADS[w["name"]]["why"]
        assert len(w["why"]) <= 200
    e2e = {m["name"]: m for m in bench["end_to_end"]}
    assert list(e2e) == list(spec.END_TO_END)
    for name, (unit, better, bound, _) in spec.END_TO_END.items():
        assert (e2e[name]["unit"], e2e[name]["better"],
                e2e[name]["bound"]) == (unit, better, bound)
    assert e2e["setup_s"]["bound"] == max(m["bound"] for m in e2e.values())
    layer = {m["name"]: m for m in bench["per_layer"]}
    assert list(layer) == list(spec.PER_LAYER)
    for name, (unit, better, _) in spec.PER_LAYER.items():
        assert (layer[name]["unit"], layer[name]["better"]) == (unit, better)


def test_memory_plan():
    gib = 1024 * 1024
    small = {"MemTotal": 15 * gib, "MemAvailable": 14 * gib}
    heap, off = memory_plan(small, 4)
    assert heap == 15 * 1024 // 8 and off == 0
    big = {"MemTotal": 256 * gib, "MemAvailable": 250 * gib}
    assert memory_plan(big, 32) == (4096, 8192)
    tiny = {"MemTotal": 2 * gib, "MemAvailable": gib}
    assert memory_plan(tiny, 1) == (1024, 0)


@pytest.mark.parametrize("text,value", [
    ("total (min, med, max (stageId: taskId))\n7.8 s (1.9 s, 1.9 s, 2.1 s "
     "(stage 0.0: task 3))", 7.8),
    ("total (min, med, max (stageId: taskId))\n136 ms (10 ms, 51 ms, 60 ms "
     "(stage 0.0: task 2))", 0.136),
    ("total (min, med, max (stageId: taskId))\n272.1 KiB (62.6 KiB, ...)",
     272.1 * 1024),
    ("1,234", 1234.0),
    ("400", 400.0),
    ("(min, med, max (stageId: taskId)):\n(1, 1, 1 (stage 1.0: task 4))",
     None),
])
def test_parse_sql_metric(text, value):
    got = parse_sql_metric(text)
    assert got == pytest.approx(value) if value is not None else got is None


def test_tracer_self_time():
    tr = Tracer()
    with tr.span("op") as root:
        with tr.span("child") as child:
            pass
    assert child.parent == root.span_id and child.op_id == root.op_id
    dumped = {d["name"]: d for d in tr.dump()}
    assert dumped["op"]["self_s"] == pytest.approx(
        root.duration - child.duration)
