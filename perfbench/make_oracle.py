"""Rewrite perfbench/oracle_answers.json: the DuckDB answers of every
registry query the benchmark runs that has an ``oracle_sql()`` entry,
and the pinned Spark output of every one that has none.

    python3 perfbench/make_oracle.py

Run it after changing an oracle query, a query without an oracle, or the
sf data; the benchmark otherwise recomputes a missing oracle answer
itself, which for some queries takes minutes at sf0.1, and leaves a
query whose pinned answer is missing checked only for non-empty output.
"""

from __future__ import annotations

import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench.run import (  # noqa: E402
    ORACLE_FILE, OUT, REGISTRY, SF_DIR, data_key, load_norm_rows, oracle_answers, pinned_key,
)
from perfbench.workload import digest  # noqa: E402


def pin(names, data: str, norm_rows) -> dict:
    """Run each query once on Spark and record its row count, sorted
    columns and digest under its pinned key."""
    from clinpy_spark import queries as Q
    from clinpy_spark.session import get_spark

    # The launcher's settings: workers import clinpy_spark from any
    # working directory, and the driver heap and scratch fit a small host.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "4g")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(OUT, "spark-local")
    spark = get_spark("perfbench-pin", extra_conf={
        "spark.sql.warehouse.dir": os.path.join(OUT, "spark-warehouse")})
    qs, out = Q.queries(), {}
    try:
        for name in sorted(names):
            df = qs[name](spark, SF_DIR)
            rows = [tuple(r) for r in df.collect()]
            out[pinned_key(name, data)] = [len(rows), sorted(df.columns),
                                           digest(norm_rows, df.columns, rows)]
    finally:
        spark.stop()
    return out


def main() -> None:
    from clinpy_spark import queries as Q

    names = {n for qs in REGISTRY.values() for n in qs}
    data, norm_rows = data_key(SF_DIR), load_norm_rows()
    answers = dict(oracle_answers(names, SF_DIR, data, norm_rows).values())
    pinned = pin(names - set(Q.oracle_sql()), data, norm_rows)
    with open(ORACLE_FILE, "w") as fh:
        json.dump({**answers, **pinned}, fh, indent=0, sort_keys=True)
        fh.write("\n")
    print(f"{len(answers)} oracle answers, {len(pinned)} pinned -> {ORACLE_FILE}")


if __name__ == "__main__":
    main()
