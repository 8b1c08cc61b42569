"""Benchmark launcher: one workload, one seed, one measured process.

    python3 perfbench/run.py --workload operator_fits --seed 1 --seconds 30 --trace 0

Run it from anywhere; it works on the checkout it sits in. For
``clinical_project`` it draws the raw input files and the lookup plan
from ``--seed``; the registry workloads read the fixed sf0.1 tables in
list order (see :func:`registry_plan`). It then starts
``perfbench/workload.py`` as the measured process (one client, one
long-lived Spark session, a closed loop), samples the memory of that
process tree, then checks every operation's output once the process has
exited:

- registry queries against ``oracle_sql()`` on DuckDB over the same
  parquet (row count, columns, and ``tools/check_oracle.py``'s
  ``norm_rows`` digest); queries without an oracle against the same
  three values pinned in ``oracle_answers.json`` (a regression
  reference);
- assay lookups against answers recomputed from the generated raw files;
- project builds against the table row counts those files imply.

The last stdout line is the result: ``correct``, ``attempted``,
``failed`` and ``metrics`` (end-to-end metrics with ``--trace 0``,
per-layer metrics with ``--trace 1``). The line before it is a report
with host evidence, the tail percentile and sample count, and the
clinical ingest figures; the same report is saved under
``.perfbench_out/results/``.

Workloads:

- ``operator_fits``: build-heavy registry queries at sf0.1 (eager
  checkpoints, bounded collects, driver-side fits);
- ``clinical_project``: ``create_project`` over seeded raw RSEM, STAR and
  VCF files, an incremental append, then a mix of assay lookups (one
  untimed warm-up pass, then timed passes);
- ``star_olap``: the relational headline queries at sf0.1. Runnable by
  hand but not listed in BENCHMARK.json: a third workload does not fit
  the benchmark's total run-time budget, and bench.py already times
  these queries.

Environment: ``SPARK_GRAFT_SF_DIR`` (default: bench.py's sf0.1 directory),
``SPARK_GRAFT_CPUS`` (default: the usable cores) and
``SPARK_GRAFT_DRIVER_MEM`` (default 4g).
"""

from __future__ import annotations

import argparse
import datetime
import hashlib
import json
import os
import platform
import random
import shutil
import signal
import subprocess
import sys
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import clinical, metrics  # noqa: E402
from perfbench.workload import digest, load_norm_rows  # noqa: E402

OUT = os.path.join(ROOT, ".perfbench_out")
ORACLE_FILE = os.path.join(ROOT, "perfbench", "oracle_answers.json")
ORACLE_CACHE = os.path.join(OUT, "oracle_answers.json")
#: The sf0.1 tables, at the location bench.py and TESTDATA.md use.
SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

#: The relational headline queries (bench.HEADLINE minus dedup_minhash_lsh).
STAR_OLAP = (
    "tpch_q1_pricing", "tpch_q3_shipping", "tpch_q5_local_supplier",
    "flagship_cohort_revenue", "j6_anti_new_parts", "j10_interval_binned",
    "j12_band_pairs", "a6_pivot_wide", "o1_topk_per_group", "o2_running_total",
    "e_sessionize", "dedup_exact_stats", "sim_topk_bruteforce", "text_langid",
)
#: Registry queries whose wall time is mostly eager build work.
OPERATOR_FITS = (
    "surv_cox_multi", "surv_finegray_beta", "surv_cox_strat", "curate_quality_model",
    "dx_negbin", "dedup_minhash_lsh", "dedup_ppjoin_pairs", "er_resolve_parts",
    "sim_topk_ivfpq",
)
REGISTRY = {"star_olap": STAR_OLAP, "operator_fits": OPERATOR_FITS}
WORKLOADS = (*REGISTRY, "clinical_project")
#: ``--seconds`` buys ``round(seconds / PASS_SECONDS)`` whole timed passes
#: (at least one; two for the clinical lookups), so every seed runs the same
#: number of operations. Sized so that ``--seconds 30`` fits the
#: benchmark's total run-time budget on a 4-core host.
PASS_SECONDS = {"star_olap": 25, "operator_fits": 35, "clinical_project": 10}
ASSAY_MIX = ("project_samples", "expression_select", "expression_pivot", "junctions_search",
             "junction_samples_overlap", "junctions_select", "variants_select",
             "variants_filter")
CHILD_DEADLINE_S = 165


def fail(msg: str) -> int:
    print(f"perfbench: {msg}", file=sys.stderr)
    return 2


def passes(workload: str, seconds: int) -> int:
    return max(1, round(seconds / PASS_SECONDS[workload]))


def registry_plan(workload: str, seconds: int) -> list[dict]:
    """Whole passes over the frozen list, in list order. The seed does
    not reorder them: a run holds one cold pass, and a seeded order moved
    the session's first-query start-up cost from query to query, which
    spread op_p50_s and op_tail_s by 20-50% across seeds."""
    names = REGISTRY[workload]
    return [{"id": i, "name": n, "kind": "registry", "pass": i // len(names)}
            for i, n in enumerate(names * passes(workload, seconds))]


def assay_params(rng: random.Random, call: str, ref) -> dict:
    genes = [f"ENSG{i + 1:08d}" for i in range(clinical.N_GENES)]
    if call in ("project_samples", "junctions_select"):
        return {"cohort": rng.choice(clinical.COHORTS)}
    if call in ("expression_select", "expression_pivot"):
        return {"cohort": rng.choice(clinical.COHORTS), "features": sorted(rng.sample(genes, 20))}
    if call in ("junctions_search", "junction_samples_overlap"):
        _, chrom, start, end, strand, _, _ = rng.choice(sorted(ref.filtered_sj))
        pad = 5000 if call == "junctions_search" else 0
        return {"chrom": chrom, "start": start - pad, "end": end + pad, "strand": strand}
    if call == "variants_select":
        v = rng.choice(sorted(ref.vcf, key=lambda r: r[:3]))
        return {"chrom": v[1], "start": v[2] - 100_000, "end": v[2] + 100_000}
    return {"impact": rng.choice(("HIGH", "MODERATE")), "genes": sorted(rng.sample(genes, 50))}


def clinical_plan(seed: int, seconds: int, ref) -> list[dict]:
    """The two builds, one untimed warm-up pass of the assay mix, then the
    timed passes. Without the warm-up, the first lookups of a session ran
    1.3-2.3 times slower than the third pass (JIT and code generation),
    and that ratio moved from seed to seed, so op_p50_s and op_tail_s
    mixed two populations."""
    rng = random.Random(seed)
    plan = [{"id": 0, "name": "initial", "kind": "ingest"},
            {"id": 1, "name": "append", "kind": "ingest"}]
    for p in range(-1, max(2, passes("clinical_project", seconds))):
        calls = list(ASSAY_MIX)
        rng.shuffle(calls)
        for call in calls:
            plan.append({"id": len(plan), "name": call, "kind": "assay" if p >= 0 else "warmup",
                         "pass": p, "params": assay_params(rng, call, ref)})
    return plan


def reference_rows(ref, call: str, p: dict) -> tuple[list[str], list[tuple]]:
    """Checked columns and expected rows of one planned assay call."""
    if call == "expression_pivot":
        return ref.expression_pivot(p["features"], p["cohort"])
    if call in ("project_samples", "junctions_select"):
        rows = getattr(ref, call)(p["cohort"])
    elif call == "expression_select":
        rows = ref.expression_select(p["features"], p["cohort"])
    elif call in ("junctions_search", "junction_samples_overlap"):
        rows = getattr(ref, call)(p["chrom"], p["start"], p["end"], p["strand"])
    elif call == "variants_select":
        rows = ref.variants_select(p["chrom"], p["start"], p["end"])
    else:
        rows = ref.variants_filter(p["impact"], p["genes"])
    return clinical.COLUMNS[call], rows


# -- the measured process -----------------------------------------------------


def session_pids(sid: int) -> list[int]:
    """Live processes in session ``sid`` (the measured process was
    started as a session leader, so its JVM and Python workers are in
    it). Zombies are skipped: their memory is gone, and their reaper may
    not be us."""
    out = []
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as fh:
                    fields = fh.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
            if int(fields[3]) == sid and fields[0] != "Z":
                out.append(int(entry))
    return out


def tree_rss_mb(pids: list[int]) -> float:
    page = os.sysconf("SC_PAGE_SIZE")
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/statm") as fh:
                total += int(fh.read().split()[1]) * page
        except OSError:
            pass
    return total / 1e6


def run_child(job: dict, env: dict, log_path: str) -> tuple[int, float]:
    """Run the measured process to completion; returns its exit code and
    the peak resident memory of its process tree."""
    job_path = os.path.join(job["out_dir"], "job.json")
    job["t_spawn"] = time.time()
    with open(job_path, "w") as fh:
        json.dump(job, fh)
    with open(log_path, "w") as log:
        child = subprocess.Popen(
            [sys.executable, os.path.join(ROOT, "perfbench", "workload.py"), job_path],
            cwd=job["out_dir"], env=env, stdout=log, stderr=subprocess.STDOUT,
            start_new_session=True)
    peak = 0.0
    stop = threading.Event()

    def sample():
        nonlocal peak
        while not stop.is_set():
            peak = max(peak, tree_rss_mb(session_pids(child.pid)))
            stop.wait(0.2)

    sampler = threading.Thread(target=sample, daemon=True)
    sampler.start()
    code = None
    try:
        code = child.wait(timeout=CHILD_DEADLINE_S)
    except subprocess.TimeoutExpired:
        pass
    finally:
        # Also reached when the launcher itself is told to stop.
        if child.poll() is None:
            os.killpg(child.pid, signal.SIGKILL)
            child.wait()
        stop.set()
        sampler.join(timeout=5)
        reap(child.pid)
    return code, peak


def reap(sid: int, grace_s: float = 10.0) -> None:
    """Wait for every process of the measured session to end; kill
    whatever outlives the grace period."""
    deadline = time.time() + grace_s
    while session_pids(sid) and time.time() < deadline:
        time.sleep(0.1)
    for pid in session_pids(sid):
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    while session_pids(sid):
        time.sleep(0.05)


# -- checks ------------------------------------------------------------------


def data_key(sf_dir: str) -> str:
    """Content hash of the parquet files the oracle reads."""
    h = hashlib.sha256()
    for name in sorted(os.listdir(sf_dir)):
        with open(os.path.join(sf_dir, name), "rb") as fh:
            h.update(name.encode() + b"\0" + hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def oracle_answers(names, sf_dir: str, data: str, norm_rows) -> dict:
    """``{query: (key, [rows, sorted columns, digest])}`` of
    ``oracle_sql()`` on DuckDB over ``sf_dir``, whose content hash is
    ``data``. The key hashes the SQL text and the data, so a changed query
    or table is recomputed. Known answers come from ORACLE_FILE (shipped,
    because some oracles take minutes at sf0.1) and the local cache; new
    ones are added to the cache."""
    import duckdb

    from clinpy_spark import queries as Q
    from clinpy_spark.session import STAR_TABLES

    known = {**load_answers(ORACLE_FILE), **load_answers(ORACLE_CACHE)}
    out, new, con = {}, {}, None
    for name, sql in Q.oracle_sql().items():
        if name not in names:
            continue
        key = hashlib.sha256(f"{sql}\0{data}".encode()).hexdigest()
        if key not in known:
            if con is None:
                con = duckdb.connect()
                for t in STAR_TABLES:
                    con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
            cur = con.execute(sql)
            cols = [d[0] for d in cur.description]
            rows = cur.fetchall()
            known[key] = new[key] = [len(rows), sorted(cols), digest(norm_rows, cols, rows)]
        out[name] = (key, known[key])
    if con is not None:
        con.close()
    if new:
        save_answers(ORACLE_CACHE, new)
    return out


def pinned_key(name: str, data: str) -> str:
    return hashlib.sha256(f"pinned\0{name}\0{data}".encode()).hexdigest()


def pinned_answers(names, data: str) -> dict:
    """``{query: [rows, sorted columns, digest]}`` pinned in ORACLE_FILE
    for the registry queries that have no ``oracle_sql()`` entry: the
    output of the commit that pinned them, kept as a regression reference
    (it is the same at any parallelism). ``make_oracle.py`` re-pins them."""
    known = load_answers(ORACLE_FILE)
    return {n: known[pinned_key(n, data)] for n in names if pinned_key(n, data) in known}


def load_answers(path: str) -> dict:
    try:
        with open(path) as fh:
            return json.load(fh)
    except (OSError, ValueError):
        return {}


def save_answers(path: str, answers: dict) -> None:
    merged = {**load_answers(path), **answers}
    os.makedirs(os.path.dirname(path), exist_ok=True)
    tmp = f"{path}.{os.getpid()}.tmp"
    with open(tmp, "w") as fh:
        json.dump(merged, fh, indent=0, sort_keys=True)
    os.replace(tmp, path)


def check_registry(ops: list[dict], sf_dir: str, norm_rows) -> list[str]:
    """One problem string per failed or wrong operation."""
    names, data = {op["name"] for op in ops}, data_key(sf_dir)
    expected = pinned_answers(names, data)
    expected.update((n, a) for n, (_, a) in oracle_answers(names, sf_dir, data, norm_rows).items())
    counts: dict[str, set] = {}
    problems = []
    for op in ops:
        if "error" in op:
            problems.append(f"{op['name']}#{op['id']}: error")
            continue
        counts.setdefault(op["name"], set()).add(op["rows"])
        if op["name"] in expected:
            got = (op["rows"], op["columns"], op["digest"])
            if got != tuple(expected[op["name"]]):
                problems.append(f"{op['name']}#{op['id']}: differs from its reference")
        elif op["rows"] < 1:
            problems.append(f"{op['name']}#{op['id']}: no rows")
    problems += [f"{n}: row count varies across passes {sorted(c)}"
                 for n, c in counts.items() if n not in expected and len(c) > 1]
    return problems


def check_clinical(ops: list[dict], plan: list[dict], gen: dict, ref, norm_rows) -> list[str]:
    """``ref`` is the :class:`clinical.Reference` of both builds."""
    expected = {"initial": clinical.Reference([gen["initial"]]).table_rows(),
                "append": ref.table_rows()}
    problems = []
    for op in ops:
        if "error" in op:
            problems.append(f"{op['name']}#{op['id']}: error")
        elif op["kind"] == "ingest":
            if op["tables"] != expected[op["name"]]:
                problems.append(f"{op['name']}: table rows {op['tables']} != {expected[op['name']]}")
        else:
            cols, rows = reference_rows(ref, op["name"], plan[op["id"]]["params"])
            if op["digest"] != digest(norm_rows, cols, rows) or op["columns"] != sorted(cols):
                problems.append(f"{op['name']}#{op['id']}: differs from reference "
                                f"({op['rows']} rows, want {len(rows)})")
    return problems


# -- host evidence -----------------------------------------------------------


def host_evidence() -> dict:
    def version(mod):
        try:
            return __import__(mod).__version__
        except ImportError:
            return None

    try:
        commit = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True,
                                text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        commit = None
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "cpu_count": os.cpu_count(),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "git_commit": commit,
        "python": platform.python_version(),
        **{mod: version(mod) for mod in ("pyspark", "duckdb", "numpy", "pyarrow")},
    }


def now() -> str:
    return datetime.datetime.now(datetime.timezone.utc).isoformat(timespec="milliseconds")


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not os.path.isfile(os.path.join(ROOT, "clinpy_spark", "session.py")) or \
            not os.path.isfile(os.path.join(ROOT, "tools", "check_oracle.py")):
        return fail(f"{ROOT} holds no clinpy_spark checkout")
    sf_dir = SF_DIR
    if args.workload in REGISTRY and not os.path.isfile(os.path.join(sf_dir, "lineitem.parquet")):
        return fail(f"no sf data at {sf_dir}")
    started = now()
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    run_dir = os.path.join(OUT, f"{args.workload}-seed{args.seed}-trace{args.trace}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    job = {"workload": args.workload, "trace": args.trace, "sf_dir": sf_dir, "out_dir": run_dir,
           "report": os.path.join(run_dir, "report.json"),
           "event_log": os.path.join(run_dir, "eventlog"),
           "project_dir": os.path.join(run_dir, "project")}
    gen = ref = None
    if args.workload == "clinical_project":
        gen = clinical.generate(os.path.join(run_dir, "raw"), args.seed)
        job["configs"] = {"initial": gen["initial"], "append": gen["append"]}
        ref = clinical.Reference([gen["initial"], gen["append"]])
        job["plan"] = clinical_plan(args.seed, args.seconds, ref)
    else:
        job["plan"] = registry_plan(args.workload, args.seconds)

    env = dict(os.environ)
    env["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, env.get("PYTHONPATH")) if p)
    env["PYSPARK_PYTHON"] = sys.executable
    env.pop("PYSPARK_DRIVER_PYTHON", None)
    env["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    env.setdefault("SPARK_GRAFT_DRIVER_MEM", "4g")

    load_before = os.getloadavg()
    code, peak_rss_mb = run_child(job, env, os.path.join(run_dir, "workload.log"))
    load_after = os.getloadavg()
    if code != 0 or not os.path.exists(job["report"]):
        with open(os.path.join(run_dir, "workload.log")) as fh:
            sys.stderr.write(fh.read()[-4000:])
        return fail(f"measured process exited with {code}")
    with open(job["report"]) as fh:
        report = json.load(fh)
    ops = report["ops"]

    norm_rows = load_norm_rows()
    if gen is None:
        problems = check_registry(ops, sf_dir, norm_rows)
    else:
        problems = check_clinical(ops, job["plan"], gen, ref, norm_rows)
    failed = len({p.split(":")[0] for p in problems})
    e2e = metrics.end_to_end(report["setup_s"], ops, failed)
    tail_s, tail_pct, n = metrics.tail([op["latency_s"] for op in ops])
    detail = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "started": started, "finished": now(),
        "loadavg_before": load_before, "loadavg_after": load_after, **host_evidence(),
        "ops": len(ops), "op_tail": {"value_s": tail_s, "percentile": tail_pct, "samples": n},
        "failed_ratio": failed / len(ops), "problems": problems,
        "end_to_end": e2e, "peak_rss_mb": peak_rss_mb,
        "per_op": [{k: op.get(k) for k in ("id", "name", "latency_s", "build_s", "exec_s", "rows")}
                   for op in ops],
    }
    if gen is not None:
        lat = {op["name"]: op["latency_s"] for op in ops if op["kind"] == "ingest"}
        stored = sum(os.path.getsize(os.path.join(dp, f))
                     for dp, _, fs in os.walk(job["project_dir"]) for f in fs
                     if f.endswith(".parquet"))
        detail["clinical"] = {
            "ingest_mb_per_s": gen["initial_bytes"] / 1e6 / lat["initial"],
            "append_mb_per_s": gen["append_bytes"] / 1e6 / lat["append"],
            "stored_bytes_per_input_byte": stored / (gen["initial_bytes"] + gen["append_bytes"]),
            "raw_bytes": {"initial": gen["initial_bytes"], "append": gen["append_bytes"]},
        }
    if args.trace:
        layers = report["layers"]
        layers["spark.peak_rss_mb"] = peak_rss_mb
        if gen is not None:
            layers["etl.ingest_mb_per_s"] = detail["clinical"]["ingest_mb_per_s"]
            layers["etl.append_mb_per_s"] = detail["clinical"]["append_mb_per_s"]
            layers["session.stored_bytes_per_input_byte"] = \
                detail["clinical"]["stored_bytes_per_input_byte"]
        untraced = os.path.join(OUT, "results", f"{args.workload}-seed{args.seed}-trace0.json")
        if os.path.exists(untraced):
            with open(untraced) as fh:
                base = json.load(fh)
            detail["trace_overhead_vs_untraced_s"] = (
                layers["trace.ops_wall_s"] - sum(op["latency_s"] for op in base["per_op"]))
        detail["per_layer"] = layers
        detail["pinned_after_each_op"] = report["pinned"]
        values, spec = layers, metrics.PER_LAYER
    else:
        values, spec = e2e, metrics.END_TO_END
    result = {
        "correct": not problems, "attempted": len(ops), "failed": failed,
        "metrics": {k: {"value": values[k], "unit": u} for k, u in spec.items()},
    }
    metrics.check_result(result, bool(args.trace))

    os.makedirs(os.path.join(OUT, "results"), exist_ok=True)
    with open(os.path.join(OUT, "results",
                           f"{args.workload}-seed{args.seed}-trace{args.trace}.json"), "w") as fh:
        json.dump(detail, fh, indent=1)
    for bulky in ("raw", "project", "spark-local", "eventlog", "spark-warehouse", "metastore_db"):
        shutil.rmtree(os.path.join(run_dir, bulky), ignore_errors=True)
    print(json.dumps({"report": detail}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
