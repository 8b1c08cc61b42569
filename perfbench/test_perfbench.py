"""Tests of the benchmark's own logic; no Spark session needed.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
from collections import Counter

import pytest

from perfbench import clinical, metrics, run
from perfbench.spans import Span, Tracer, self_times

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_metric_names_and_units():
    for spec in (metrics.END_TO_END, metrics.PER_LAYER):
        for name, unit in spec.items():
            assert metrics.NAME_RE.match(name), name
            assert metrics.UNIT_RE.match(unit), (name, unit)
    assert not set(metrics.END_TO_END) & set(metrics.PER_LAYER)


def test_benchmark_json_matches_metric_specs():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == metrics.END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == metrics.PER_LAYER
    assert {w["name"] for w in bench["workloads"]} <= set(run.WORKLOADS)
    assert all(0 < m["bound"] <= 0.25 for m in bench["end_to_end"])


def _result(trace: bool) -> dict:
    spec = metrics.PER_LAYER if trace else metrics.END_TO_END
    return {"correct": True, "attempted": 9, "failed": 0,
            "metrics": {k: {"value": 1.5, "unit": u} for k, u in spec.items()}}


@pytest.mark.parametrize("trace", [False, True])
def test_result_schema_accepts_valid_line(trace):
    metrics.check_result(json.loads(json.dumps(_result(trace))), trace)


@pytest.mark.parametrize("breakage", [
    lambda r: r.pop("failed"),
    lambda r: r.update(extra=1),
    lambda r: r.update(attempted=0),
    lambda r: r.update(attempted=True),
    lambda r: r.update(correct="yes"),
    lambda r: r["metrics"].pop("setup_s"),
    lambda r: r["metrics"].update(bogus={"value": 1, "unit": "s"}),
    lambda r: r["metrics"]["setup_s"].update(unit="ms"),
    lambda r: r["metrics"]["op_p50_s"].update(value=float("nan")),
    lambda r: r["metrics"]["op_p50_s"].update(value="1.0"),
])
def test_result_schema_rejects_broken_line(breakage):
    r = _result(False)
    breakage(r)
    with pytest.raises(ValueError):
        metrics.check_result(r, False)


def _spans(*specs) -> list[Span]:
    return [Span(name, start, end, parent=parent, op=0) for name, start, end, parent in specs]


def test_self_time_with_overlapping_children():
    spans = _spans(
        ("op", 0.0, 10.0, None),
        ("queries.build", 1.0, 6.0, 0),           # overlaps the next child
        ("spark.exec", 5.0, 8.0, 0),
        ("session.table_open", 2.0, 3.0, 1),
        ("operators.checkpoint", 2.5, 4.0, 1),    # overlaps table_open
        ("operators.driver_collect", 5.5, 7.0, 1),  # runs past its parent's end
    )
    own = self_times(spans)
    assert own[0] == pytest.approx(10 - 7)        # children cover [1, 8]
    assert own[1] == pytest.approx(5 - 2 - 0.5)   # [2, 4] and [5.5, 6] covered
    assert own[2] == pytest.approx(3)
    assert own[3:] == pytest.approx([1.0, 1.5, 1.5])


def test_self_times_and_remainder_account_for_op_wall():
    spans = _spans(
        ("op", 0.0, 4.0, None),
        ("queries.build", 0.5, 2.5, 0),
        ("session.table_open", 0.6, 0.9, 1),
        ("spark.exec", 2.5, 3.9, 0),
    )
    layers = metrics.layer_metrics(spans, [{"id": 0, "name": "q", "kind": "registry",
                                            "latency_s": 4.0}], {}, (0, 0.0))
    own = sum(layers[f"{layer}.self_s"] for layer in metrics.LAYERS)
    assert own + layers["trace.remainder_s"] == pytest.approx(layers["trace.ops_wall_s"])
    assert layers["trace.remainder_s"] == pytest.approx(0.6)
    assert layers["queries.build_self_s"] == pytest.approx(1.7)
    assert layers["session.table_open_calls"] == 1
    assert set(layers) == set(metrics.PER_LAYER)


def test_tracer_nests_spans_without_spark():
    t = Tracer()
    t.op = 3
    with t.span("op"):
        with t.span("queries.build"):
            with t.span("session.table_open"):
                pass
    assert [s.parent for s in t.spans] == [None, 0, 1]
    assert {s.op for s in t.spans} == {3}
    assert all(s.end >= s.start for s in t.spans)


def test_tail_percentile():
    assert metrics.tail([float(i) for i in range(1, 27)]) == (16.0, 61, 26)
    assert metrics.tail([3.0, 1.0, 2.0]) == (3.0, 100, 3)


def _tree_bytes(d: str) -> dict[str, bytes]:
    out = {}
    for name in sorted(os.listdir(d)):
        with open(os.path.join(d, name), "rb") as fh:
            out[name] = fh.read()
    return out


def test_generator_is_seeded(tmp_path):
    clinical.generate(str(tmp_path / "a"), 11)
    clinical.generate(str(tmp_path / "b"), 11)
    clinical.generate(str(tmp_path / "c"), 12)
    a, b, c = (_tree_bytes(str(tmp_path / x)) for x in "abc")
    assert a == b
    assert a.keys() == c.keys() and a != c


def test_generator_follows_fixture_hints(tmp_path):
    gen = clinical.generate(str(tmp_path), 5)
    ref = clinical.Reference([gen["initial"], gen["append"]])
    carriers = Counter(r[1:5] for r in ref.sj)
    shared = sum(1 for n in carriers.values() if n >= 2)
    assert shared >= 0.10 * len(carriers)
    by_strand: dict[tuple, list] = {}
    for chrom, s, e, strand in carriers:
        by_strand.setdefault((chrom, strand), []).append((s, e))
    partial = sum(
        1 for ivs in by_strand.values()
        for (s1, e1), (s2, e2) in zip(sorted(ivs), sorted(ivs)[1:])
        if s1 < s2 < e1 < e2)
    assert partial > 0
    assert all(1 <= len(r[11]) <= 5 for r in ref.vcf)
    assert ref.table_rows()["samples"] == clinical.N_SAMPLES
    per_sample = (gen["initial_bytes"] + gen["append_bytes"]) / clinical.N_SAMPLES
    assert abs(per_sample / clinical.REF_BYTES_PER_SAMPLE - 1) < 0.1


def test_launcher_refuses_a_tree_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "operator_fits", "--seed", "1",
         "--seconds", "30", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60)
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""
