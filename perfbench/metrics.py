"""Metric names and units, the statistics behind them, and the schema of
the result line the benchmark prints last.

``END_TO_END`` metrics come from untraced runs (``--trace 0``);
``PER_LAYER`` metrics from traced runs (``--trace 1``). Each per-layer
entry names the end-to-end metric it should move and on which workload.
"""

from __future__ import annotations

import math
import re
import statistics

from perfbench.clinical import COLUMNS
from perfbench.spans import Span, self_times

LAYERS = ("session", "queries", "operators", "assays", "etl", "sources", "spark")
ASSAY_CALLS = tuple(COLUMNS) + ("expression_pivot",)

END_TO_END = {
    "setup_s": "s",
    "ops_per_s": "1/s",
    "op_p50_s": "s",
    "op_tail_s": "s",
    "ok_ratio": "ratio",
}

PER_LAYER = {
    # session -> op_p50_s on operator_fits (table opens); ops_per_s on clinical_project (writes)
    "session.table_open_s": "s",
    "session.table_open_calls": "count",
    "session.table_open_jobs": "count",
    "session.write_s": "s",
    "session.files_written": "count",
    "session.bytes_written": "B",
    "session.stored_bytes_per_input_byte": "B/B",
    # queries, operators -> op_p50_s and ops_per_s on operator_fits
    "queries.build_self_s": "s",
    "queries.build_jobs": "count",
    "operators.checkpoint_s": "s",
    "operators.checkpoints": "count",
    "operators.driver_collect_s": "s",
    "operators.driver_collect_rows": "count",
    # spark -> op_p50_s and op_tail_s; pinned blocks -> ops_per_s and spark.peak_rss_mb
    "spark.exec_s": "s",
    "spark.exec_jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.shuffle_read_mb": "MB",
    "spark.shuffle_write_mb": "MB",
    "spark.executor_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.task_wait_s": "s",
    "spark.stage_straggler_ratio": "ratio",
    "spark.pinned_rdds": "count",
    "spark.pinned_mb": "MB",
    # JVM, driver Python and Python workers together; per-layer because the
    # JVM's heap sizing spread it 10-60% across runs of one workload
    "spark.peak_rss_mb": "MB",
    # assays -> op_p50_s on clinical_project
    **{f"assays.{call}_s": "s" for call in ASSAY_CALLS},
    "assays.rows_read_per_row_returned": "ratio",
    # etl, sources -> ops_per_s on clinical_project (build and append speed)
    "etl.create_project_s": "s",
    "etl.ingest_expression_s": "s",
    "etl.ingest_junctions_s": "s",
    "etl.ingest_variants_s": "s",
    "etl.checkpoint_s": "s",
    "etl.ingest_mb_per_s": "MB/s",
    "etl.append_mb_per_s": "MB/s",
    "sources.header_read_s": "s",
    "sources.reader_calls": "count",
    # self time of each layer; with trace.remainder_s they sum to trace.ops_wall_s
    **{f"{layer}.self_s": "s" for layer in LAYERS},
    "trace.remainder_s": "s",
    "trace.ops_wall_s": "s",
    "trace.overhead_s": "s",
}

NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT_RE = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def tail(latencies: list[float]) -> tuple[float, int, int]:
    """The highest percentile with at least ten samples beyond it:
    ``(value, percentile, samples)``. Nearest rank: with ``n`` samples
    the value is the ``n - 10``-th smallest. Below eleven samples no
    percentile qualifies, and the maximum is returned with percentile 100."""
    xs = sorted(latencies)
    n = len(xs)
    if n <= 10:
        return xs[-1], 100, n
    k = n - 10
    return xs[k - 1], math.floor(100 * k / n), n


def end_to_end(setup_s: float, ops: list[dict], failed: int) -> dict:
    lat = [op["latency_s"] for op in ops]
    value, _, _ = tail(lat)
    return {
        "setup_s": setup_s,
        "ops_per_s": len(ops) / sum(lat),
        "op_p50_s": statistics.median(lat),
        "op_tail_s": value,
        "ok_ratio": (len(ops) - failed) / len(ops),
    }


def layer_metrics(spans: list[Span], ops: list[dict], events: dict, pinned: tuple) -> dict:
    """Per-layer metrics of a traced run from its spans, the per-op
    records, the event-log groups (:func:`spans.read_event_log`) and the
    storage still pinned after the last operation."""
    own = self_times(spans)
    out = {name: 0.0 for name in PER_LAYER}

    def add(key: str, v: float) -> None:
        out[key] += v

    group_of_op: dict[int, list[str]] = {}
    for i, (sp, s) in enumerate(zip(spans, own)):
        if sp.op is None:
            continue
        group_of_op.setdefault(sp.op, []).append(f"perfbench-{i}")
        parent = spans[sp.parent] if sp.parent is not None else None
        if sp.name == "op":
            add("trace.remainder_s", s)
            add("trace.ops_wall_s", sp.end - sp.start)
            continue
        add(f"{sp.layer}.self_s", s)
        if sp.name == "session.table_open":
            add("session.table_open_s", s)
            add("session.table_open_jobs", sp.jobs)
            if parent is None or parent.name != "session.table_open":
                add("session.table_open_calls", 1)
        elif sp.name == "session.write":
            add("session.write_s", s)
            add("session.files_written", sp.attrs.get("files", 0))
            add("session.bytes_written", sp.attrs.get("bytes", 0))
        elif sp.name == "queries.build":
            add("queries.build_self_s", s)
        elif sp.name in ("operators.checkpoint", "etl.checkpoint"):
            add(f"{sp.layer}.checkpoint_s", s)
            if sp.layer == "operators":
                add("operators.checkpoints", 1)
        elif sp.name == "operators.driver_collect":
            add("operators.driver_collect_s", s)
            add("operators.driver_collect_rows", sp.attrs.get("rows", 0))
        elif sp.name == "spark.exec":
            add("spark.exec_s", s)
            add("spark.exec_jobs", sp.jobs)
        elif sp.name.startswith("etl.") and f"{sp.name}_s" in out:
            add(f"{sp.name}_s", s)
        elif sp.name == "sources.header_read":
            add("sources.header_read_s", s)
        elif sp.name == "sources.read":
            add("sources.reader_calls", 1)
        if sp.name != "op":
            add("spark.stages", sp.stages)
            add("spark.tasks", sp.tasks)
    # Build-time jobs: every job launched inside a registry build span.
    for i, sp in enumerate(spans):
        j = sp.parent
        while j is not None and spans[j].name != "queries.build":
            j = spans[j].parent
        if sp.name == "queries.build" or j is not None:
            add("queries.build_jobs", sp.jobs)

    rows_read = rows_returned = 0
    worst = 0.0
    for op in ops:
        groups = [events[g] for g in group_of_op.get(op["id"], []) if g in events]
        for g in groups:
            add("spark.shuffle_read_mb", g["shuffle_read_b"] / 1e6)
            add("spark.shuffle_write_mb", g["shuffle_write_b"] / 1e6)
            add("spark.executor_cpu_s", g["cpu_ns"] / 1e9)
            add("spark.gc_s", g["gc_ms"] / 1e3)
            add("spark.task_wait_s", g["wait_ms"] / 1e3)
            for times in g["stage_task_ms"].values():
                med = statistics.median(times)
                if len(times) > 1 and med > 0:
                    worst = max(worst, max(times) / med)
        if op["kind"] == "assay":
            rows_read += sum(g["input_records"] for g in groups)
            rows_returned += op.get("rows", 0)
    out["spark.stage_straggler_ratio"] = worst
    out["assays.rows_read_per_row_returned"] = rows_read / rows_returned if rows_returned else 0.0
    for call in ASSAY_CALLS:
        lat = [op["latency_s"] for op in ops if op["name"] == call]
        out[f"assays.{call}_s"] = statistics.median(lat) if lat else 0.0
    out["spark.pinned_rdds"], out["spark.pinned_mb"] = pinned
    return out


def check_result(result: dict, trace: bool) -> None:
    """Raise ValueError unless ``result`` is a valid final result line."""
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        raise ValueError(f"result keys {sorted(result)}")
    if not isinstance(result["correct"], bool):
        raise ValueError("correct must be a bool")
    for key in ("attempted", "failed"):
        if not isinstance(result[key], int) or isinstance(result[key], bool) or result[key] < 0:
            raise ValueError(f"{key} must be a whole number")
    if result["attempted"] < 1:
        raise ValueError("attempted must be at least 1")
    spec = PER_LAYER if trace else END_TO_END
    if set(result["metrics"]) != set(spec):
        raise ValueError(f"metric names differ: {sorted(set(result['metrics']) ^ set(spec))}")
    for name, m in result["metrics"].items():
        if set(m) != {"value", "unit"} or m["unit"] != spec[name]:
            raise ValueError(f"metric {name}: {m}")
        if not isinstance(m["value"], (int, float)) or not math.isfinite(m["value"]):
            raise ValueError(f"metric {name} value {m['value']!r}")
