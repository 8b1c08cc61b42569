"""Spans around the calls into each layer, recorded from the benchmark's
own files.

A :class:`Tracer` keeps spans in memory (name, start, end, parent,
operation id) and gives each span its own Spark job group, so the jobs,
stages and tasks a span launched itself are read back from the
``StatusTracker`` when it ends. :func:`install` patches each wrapped
name where its caller looks it up (``clinpy_spark.etl.ingest.read_vcf``
rather than only ``clinpy_spark.sources.vcf.read_vcf``) and returns a
function that undoes every patch.

Layers are this repository's modules: ``session``, ``queries``,
``operators``, ``assays``, ``etl``, ``sources``, plus ``spark`` for the
engine's own action time. A span's layer is the prefix of its name.
"""

from __future__ import annotations

import functools
import inspect
import json
import os
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    op: int | None = None
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    attrs: dict = field(default_factory=dict)

    @property
    def layer(self) -> str:
        return self.name.split(".", 1)[0]


def self_times(spans: list[Span]) -> list[float]:
    """Each span's duration minus the part of its interval that its
    children cover. Children may overlap one another: the covered part
    is the union of their intervals, clipped to the parent."""
    children: dict[int, list[Span]] = {}
    for sp in spans:
        if sp.parent is not None:
            children.setdefault(sp.parent, []).append(sp)
    out = []
    for i, sp in enumerate(spans):
        covered, cur_s, cur_e = 0.0, None, None
        for s, e in sorted((max(c.start, sp.start), min(c.end, sp.end)) for c in children.get(i, [])):
            if e <= s:
                continue
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            covered += cur_e - cur_s
        out.append(sp.end - sp.start - covered)
    return out


class Tracer:
    """In-memory span recorder. ``sc`` is the SparkContext whose job
    groups and status tracker attribute Spark work to spans; without it
    the tracer records times only (the unit tests use that form)."""

    def __init__(self, sc=None):
        self.sc = sc
        self.spans: list[Span] = []
        self.op: int | None = None
        self.overhead_s = 0.0
        self._stack: list[int] = []

    def innermost(self) -> Span | None:
        return self.spans[self._stack[-1]] if self._stack else None

    def inside(self, prefix: str) -> bool:
        return any(self.spans[i].name.startswith(prefix) for i in self._stack)

    def _set_group(self, idx: int | None) -> None:
        if self.sc is None:
            return
        if idx is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(f"perfbench-{idx}", self.spans[idx].name)

    def _count_jobs(self, sp: Span, idx: int) -> None:
        st = self.sc.statusTracker()
        for jid in st.getJobIdsForGroup(f"perfbench-{idx}"):
            sp.jobs += 1
            info = st.getJobInfo(jid)
            for sid in info.stageIds if info else ():
                stage = st.getStageInfo(sid)
                if stage is not None and stage.numCompletedTasks:
                    sp.stages += 1
                    sp.tasks += stage.numCompletedTasks

    @contextmanager
    def span(self, name: str, **attrs):
        t0 = time.perf_counter()
        idx = len(self.spans)
        sp = Span(name, 0.0, parent=self._stack[-1] if self._stack else None,
                  op=self.op, attrs=attrs)
        self.spans.append(sp)
        self._stack.append(idx)
        self._set_group(idx)
        sp.start = time.perf_counter()
        self.overhead_s += sp.start - t0
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            self._set_group(self._stack[-1] if self._stack else None)
            if self.sc is not None:
                self._count_jobs(sp, idx)
            self.overhead_s += time.perf_counter() - sp.end

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for sp, own in zip(self.spans, self_times(self.spans)):
                fh.write(json.dumps({
                    "name": sp.name, "start": sp.start, "end": sp.end, "self": own,
                    "parent": sp.parent, "op": sp.op, "jobs": sp.jobs,
                    "stages": sp.stages, "tasks": sp.tasks, **sp.attrs,
                }) + "\n")


def _patch(patches: list, owner, attr: str, make) -> None:
    orig = getattr(owner, attr)
    patches.append((owner, attr, orig))
    setattr(owner, attr, functools.wraps(orig)(make(orig)))


def install(tracer: Tracer):
    """Wrap the layer entry points in spans; returns the undo function."""
    from pyspark.sql.classic.dataframe import DataFrame
    from pyspark.sql.readwriter import DataFrameReader

    import clinpy_spark.etl as etl_pkg
    import clinpy_spark.etl.ingest as ingest
    from clinpy_spark.session import ProjectCatalog

    patches: list = []

    def spanned(name):
        def make(orig):
            def wrapper(*args, **kwargs):
                with tracer.span(name):
                    return orig(*args, **kwargs)
            return wrapper
        return make

    # session: table opens and the catalog's write path.
    _patch(patches, DataFrameReader, "parquet", spanned("session.table_open"))
    _patch(patches, ProjectCatalog, "table", spanned("session.table_open"))

    def catalog_write(orig):
        sig = inspect.signature(orig)

        def wrapper(*args, **kwargs):
            call = sig.bind(*args, **kwargs).arguments
            catalog, name = call["self"], call["name"]
            t0 = time.perf_counter()
            before = (catalog.stats(name) or {}) if call.get("mode") == "append" else {}
            tracer.overhead_s += time.perf_counter() - t0
            with tracer.span("session.write", table=name) as sp:
                out = orig(*args, **kwargs)
            t0 = time.perf_counter()
            after = catalog.stats(name) or {}
            for key in ("bytes", "files"):
                sp.attrs[key] = after.get(key, 0) - before.get(key, 0)
            tracer.overhead_s += time.perf_counter() - t0
            return out
        return wrapper

    for attr in ("write", "write_bucketed", "overwrite_staged", "update_staged", "compact"):
        _patch(patches, ProjectCatalog, attr, catalog_write)

    # operators (or etl, by caller): checkpoint barriers and driver collects.
    def barrier(orig):
        def wrapper(*args, **kwargs):
            layer = "etl" if tracer.inside("etl.") else "operators"
            with tracer.span(f"{layer}.checkpoint"):
                return orig(*args, **kwargs)
        return wrapper

    for attr in ("localCheckpoint", "checkpoint", "persist", "cache"):
        _patch(patches, DataFrame, attr, barrier)

    def driver_collect(orig):
        def wrapper(*args, **kwargs):
            top = tracer.innermost()
            if top is None or top.name in ("spark.exec", "operators.driver_collect"):
                return orig(*args, **kwargs)
            with tracer.span("operators.driver_collect") as sp:
                out = orig(*args, **kwargs)
                sp.attrs["rows"] = len(out)
            return out
        return wrapper

    for attr in ("collect", "toPandas"):
        _patch(patches, DataFrame, attr, driver_collect)

    # etl and sources, patched in the module namespace create_project uses.
    _patch(patches, etl_pkg, "create_project", spanned("etl.create_project"))
    for fn in ("ingest_expression", "ingest_junctions", "ingest_variants"):
        _patch(patches, ingest, fn, spanned(f"etl.{fn}"))
    for fn in ("read_rsem_genes", "read_rsem_isoforms", "read_star_sj", "read_vcf"):
        _patch(patches, ingest, fn, spanned("sources.read"))
    for fn in ("vcf_csq_fields", "vcf_format_keys"):
        _patch(patches, ingest, fn, spanned("sources.header_read"))

    def undo() -> None:
        for owner, attr, orig in reversed(patches):
            setattr(owner, attr, orig)

    return undo


def pinned_storage(sc) -> tuple[int, float]:
    """RDDs the session still holds in block storage, and their MB."""
    infos = sc._jsc.sc().getRDDStorageInfo()
    held = [i for i in infos if i.numCachedPartitions() > 0]
    return len(held), sum(i.memSize() + i.diskSize() for i in held) / 1e6


def read_event_log(log_dir: str) -> dict:
    """Per-job-group task metrics from a Spark event log directory.

    Returns ``{group: {...}}`` with shuffle bytes, executor CPU, GC,
    task wait (launch minus stage submission), input records and, per
    stage, the task run times for the straggler ratio."""
    groups: dict[str, dict] = {}
    stage_group: dict[int, str] = {}
    stage_submit: dict[int, float] = {}
    paths = sorted(os.path.join(d, f) for d, _, fs in os.walk(log_dir) for f in fs
                   if not f.startswith((".", "appstatus")))
    for path in paths:
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if group:
                        for sid in ev.get("Stage IDs", []):
                            stage_group[sid] = group
                elif kind == "SparkListenerStageSubmitted":
                    info = ev["Stage Info"]
                    if "Submission Time" in info:
                        stage_submit[info["Stage ID"]] = info["Submission Time"]
                elif kind == "SparkListenerTaskEnd":
                    sid = ev["Stage ID"]
                    group = stage_group.get(sid)
                    m = ev.get("Task Metrics")
                    if group is None or not m:
                        continue
                    g = groups.setdefault(group, {
                        "shuffle_read_b": 0, "shuffle_write_b": 0, "cpu_ns": 0,
                        "gc_ms": 0, "wait_ms": 0, "input_records": 0, "stage_task_ms": {}})
                    sr = m.get("Shuffle Read Metrics", {})
                    g["shuffle_read_b"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                    g["shuffle_write_b"] += m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
                    g["cpu_ns"] += m.get("Executor CPU Time", 0)
                    g["gc_ms"] += m.get("JVM GC Time", 0)
                    g["input_records"] += m.get("Input Metrics", {}).get("Records Read", 0)
                    launch = ev["Task Info"]["Launch Time"]
                    if sid in stage_submit:
                        g["wait_ms"] += max(0, launch - stage_submit[sid])
                    g["stage_task_ms"].setdefault(sid, []).append(
                        ev["Task Info"]["Finish Time"] - launch)
    return groups
