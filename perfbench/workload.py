"""The measured process: one client, one long-lived Spark session, a
closed loop over a fixed operation plan.

``run.py`` starts this module as its own process with a JSON job file
(workload, plan, paths, trace flag) and reads back the JSON report it
writes. Every operation is timed from the call into the program until
its result is materialised on the driver; result digests are computed
after the clock stops, and checked by ``run.py`` once this process has
exited.

Usage (normally through run.py, which puts the repository root on
``PYTHONPATH``): ``python3 perfbench/workload.py JOB.json``
"""

from __future__ import annotations

import functools
import hashlib
import importlib.util
import json
import os
import shutil
import sys
import time
import traceback
from contextlib import nullcontext

from perfbench import spans
from perfbench.clinical import COLUMNS
from perfbench.metrics import layer_metrics

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def load_norm_rows():
    """``norm_rows`` from tools/check_oracle.py, the oracle gate's own
    normaliser, imported by path without leaving that module's
    ``sys.path`` edit behind."""
    saved = list(sys.path)
    spec = importlib.util.spec_from_file_location(
        "check_oracle", os.path.join(ROOT, "tools", "check_oracle.py"))
    mod = importlib.util.module_from_spec(spec)
    try:
        spec.loader.exec_module(mod)
    finally:
        sys.path[:] = saved
    return mod.norm_rows


def digest(norm_rows, cols: list[str], rows: list[tuple]) -> str:
    return hashlib.sha256(repr(norm_rows(cols, rows)).encode()).hexdigest()


def pandas_rows(pdf, cols: list[str]) -> list[tuple]:
    """Plain Python rows from a pandas result; NaN and NA read as None."""
    import pandas as pd

    out = []
    for row in pdf[cols].itertuples(index=False, name=None):
        out.append(tuple(
            None if v is None or (not isinstance(v, (list, dict)) and pd.isna(v))
            else (v.item() if hasattr(v, "item") else v)
            for v in row))
    return out


def warm_workers(spark) -> None:
    """Start one Python worker per core, as bench.py's warm-up does."""
    def _imp(batches):
        import numpy  # noqa: F401
        import pandas as pd
        for _ in batches:
            yield pd.DataFrame({"v": [1]})

    n = spark.sparkContext.defaultParallelism
    spark.range(n, numPartitions=n).mapInPandas(_imp, "v long").count()


class Context:
    """What a runner needs besides the session: spans (no-ops when
    untraced) and the per-operation record list."""

    def __init__(self, tracer, sc, t_spawn: float):
        self.tracer, self.sc, self.t_spawn = tracer, sc, t_spawn
        self.setup_s = None
        self.ops: list[dict] = []
        self.pinned: list[tuple] = []

    def ready(self) -> None:
        """Mark the end of set-up: the next thing is the first timed operation."""
        self.setup_s = time.time() - self.t_spawn

    @functools.cached_property
    def norm_rows(self):
        return load_norm_rows()

    def span(self, name: str, **attrs):
        return self.tracer.span(name, **attrs) if self.tracer else nullcontext()

    def run(self, op: dict, body) -> None:
        """Time ``body()`` as one operation. ``body`` returns the fields
        to record, computing digests only after the clock stops: it
        returns a thunk for them. A raised error is recorded as a
        failed operation and the loop goes on."""
        if self.tracer:
            self.tracer.op = op["id"]
        entry = {"id": op["id"], "name": op["name"], "kind": op["kind"]}
        t0 = time.perf_counter()
        try:
            with self.span("op", call=op["name"]):
                finish = body()
            entry["latency_s"] = time.perf_counter() - t0
            entry.update(finish())
        except Exception:
            entry["latency_s"] = time.perf_counter() - t0
            entry["error"] = traceback.format_exc(limit=4)
            print(entry["error"], file=sys.stderr)
        self.ops.append(entry)
        if self.tracer:
            self.tracer.op = None
            self.pinned.append(spans.pinned_storage(self.sc))


def run_registry(spark, job, ctx: Context) -> None:
    from clinpy_spark import queries as Q

    qs = Q.queries()
    ctx.ready()
    for op in job["plan"]:
        def body(op=op):
            t0 = time.perf_counter()
            with ctx.span("queries.build"):
                df = qs[op["name"]](spark, job["sf_dir"])
            t1 = time.perf_counter()
            with ctx.span("spark.exec"):
                rows = [tuple(r) for r in df.collect()]
            t2 = time.perf_counter()
            return lambda: {
                "build_s": t1 - t0, "exec_s": t2 - t1, "rows": len(rows),
                "columns": sorted(df.columns), "digest": digest(ctx.norm_rows, df.columns, rows)}
        ctx.run(op, body)


def assay_call(assays, op):
    """The DataFrame for one planned assay call."""
    p = op["params"]
    project, expression, junctions, variants = assays
    name = op["name"]
    if name == "project_samples":
        return project.samples(cohort=[p["cohort"]])
    if name == "expression_select":
        return expression.select(features=p["features"], cohort=[p["cohort"]])
    if name == "expression_pivot":
        return expression.select(features=p["features"], cohort=[p["cohort"]], long=False)
    if name == "junctions_search":
        return junctions.search(p["chrom"], p["start"], p["end"], p["strand"])
    if name == "junction_samples_overlap":
        from clinpy_spark.assays import Junction

        return Junction(junctions, p["chrom"], p["start"], p["end"], p["strand"]).samples(
            mode="overlap")
    if name == "junctions_select":
        return junctions.select(cohort=[p["cohort"]])
    if name == "variants_select":
        return variants.select(region=(p["chrom"], p["start"], p["end"]), impacts=True)
    if name == "variants_filter":
        return variants.filter(impacts=[
            {"field": "impact", "op": "==", "value": p["impact"]},
            {"field": "gene", "op": "in", "value": p["genes"]},
        ])
    raise ValueError(f"unknown assay call {name!r}")


def run_clinical(spark, job, ctx: Context) -> None:
    import clinpy_spark.etl as etl
    from clinpy_spark.assays import Expression, Junctions, Project, Variants

    project_dir = job["project_dir"]
    shutil.rmtree(project_dir, ignore_errors=True)
    assays = None
    ctx.ready()

    def ingest(op):
        nonlocal assays
        catalog = etl.create_project(spark, project_dir, job["configs"][op["name"]])
        assays = tuple(cls(catalog) for cls in (Project, Expression, Junctions, Variants))

        def finish():
            with open(os.path.join(project_dir, "_stats.json")) as fh:
                return {"tables": {k: v["rows"] for k, v in json.load(fh).items()}}
        return finish

    def lookup(op):
        t0 = time.perf_counter()
        with ctx.span(f"assays.{op['name']}"):
            df = assay_call(assays, op)
        t1 = time.perf_counter()
        with ctx.span("spark.exec"):
            pdf = df.toPandas()
        t2 = time.perf_counter()

        def finish():
            cols = COLUMNS.get(op["name"]) or sorted(pdf.columns)
            return {"build_s": t1 - t0, "exec_s": t2 - t1, "rows": len(pdf),
                    "columns": sorted(cols),
                    "digest": digest(ctx.norm_rows, cols, pandas_rows(pdf, cols))}
        return finish

    for op in job["plan"]:
        if op["kind"] == "warmup":
            lookup(op)
        else:
            ctx.run(op, (lambda op=op: ingest(op)) if op["kind"] == "ingest" else (lambda op=op: lookup(op)))


def main(job_path: str) -> int:
    with open(job_path) as fh:
        job = json.load(fh)
    from clinpy_spark.session import get_spark

    extra = {"spark.sql.warehouse.dir": os.path.join(job["out_dir"], "spark-warehouse")}
    if job["trace"]:
        os.makedirs(job["event_log"], exist_ok=True)
        extra.update({"spark.eventLog.enabled": "true", "spark.eventLog.dir": job["event_log"],
                      "spark.eventLog.compress": "false"})
    spark = get_spark(f"perfbench-{job['workload']}", extra_conf=extra)
    sc = spark.sparkContext
    spark.range(1).count()
    if job["workload"] != "clinical_project":
        warm_workers(spark)

    tracer = spans.Tracer(sc) if job["trace"] else None
    undo = spans.install(tracer) if tracer else None
    ctx = Context(tracer, sc, job["t_spawn"])
    try:
        (run_clinical if job["workload"] == "clinical_project" else run_registry)(spark, job, ctx)
    finally:
        if undo:
            undo()
    report = {"setup_s": ctx.setup_s, "ops": ctx.ops}
    spark.stop()
    if tracer:
        tracer.dump(os.path.join(job["out_dir"], "spans.jsonl"))
        report["layers"] = layer_metrics(
            tracer.spans, ctx.ops, spans.read_event_log(job["event_log"]),
            ctx.pinned[-1] if ctx.pinned else (0, 0.0))
        report["layers"]["trace.overhead_s"] = tracer.overhead_s
        report["pinned"] = ctx.pinned
    with open(job["report"], "w") as fh:
        json.dump(report, fh)
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1]))
