"""Regenerate ``goldens.json`` and cross-check it against the DuckDB oracles.

    python3 perfbench/make_goldens.py [--oracle]

Runs every workload operation once on the seed-0 layout and writes what it
observed (columns, row count and content hash per query; the pipeline's
counts and export hash). Goldens are meant to be written from a commit
whose answers are trusted, then left alone: a later commit that changes an
answer fails the benchmark.

``--oracle`` also compares every workload query, and every query the
pipeline runs, that has a registered DuckDB oracle with that oracle on the
same data (sorted rows, floats to nine significant digits).
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import sys

import datagen
import run


def _cell(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else f"{v + 0.0:.9g}"
    return None if v is None else str(v)


def _rows(rows) -> list[tuple]:
    return sorted((tuple(_cell(v) for v in r) for r in rows),
                  key=lambda r: tuple((v is not None, v or "") for v in r))


def nonempty(golden: dict) -> bool:
    """A query golden with rows, or a pipeline golden whose every count is
    above zero (an empty result would let a broken engine pass)."""
    if "rows" in golden:
        return golden["rows"] > 0
    counts = [golden["cleaned_rows"], *golden["analytics"].values(), *golden["marts"].values()]
    return all(golden["sanity"].values()) and all(c > 0 for c in counts)


def oracle_check(spark, sf_dir: str, names: list[str]) -> list[str]:
    """Names whose Spark rows differ from their DuckDB oracle's."""
    import duckdb
    from databricks_spark_sql_challenge1_spark.registry import ORACLES, QUERIES

    con = duckdb.connect()
    for t in datagen.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet/*.parquet'")
    bad = []
    for name in names:
        if name not in ORACLES:
            continue
        got = _rows(QUERIES[name](spark, sf_dir).collect())
        want = _rows(con.execute(ORACLES[name]).fetchall())
        run.log(f"oracle {name}: {len(got)} rows, {'ok' if got == want else 'MISMATCH'}")
        if got != want:
            bad.append(name)
    return bad


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--oracle", action="store_true")
    args = ap.parse_args()
    run_dir = os.path.join(run.OUT_DIR, f"goldens-{os.getpid()}")
    os.makedirs(run_dir)
    sf_dir = os.path.join(run_dir, "input")
    try:
        datagen.generate(sf_dir, 0)
        run.host_env(run_dir)
        os.chdir(run_dir)
        sys.path.insert(0, run.ROOT)
        import databricks_spark_sql_challenge1_spark.operators  # noqa: F401
        from databricks_spark_sql_challenge1_spark.session import get_spark
        from pyspark import SparkContext

        spark = get_spark("perfbench-goldens")
        jvm = SparkContext._gateway.proc
        try:
            spark.sparkContext.setLogLevel("ERROR")
            names = [n for ops in run.WORKLOADS.values() for n in ops]
            goldens = {
                n: run.run_op(spark, sf_dir, n, os.path.join(run_dir, "work", n), None)
                for n in names
            }
            inner = goldens.get(run.PIPELINE, {})
            inner = [*inner.get("sanity", ()), *inner.get("analytics", ()),
                     *inner.get("marts", ()), *(["order_export_denorm"] if inner else [])]
            checked = list(dict.fromkeys([*names, *inner]))
            bad = oracle_check(spark, sf_dir, checked) if args.oracle else []
        finally:
            run.stop_spark(spark, jvm)
    finally:
        os.chdir(run.ROOT)
        shutil.rmtree(run_dir, ignore_errors=True)
    with open(run.GOLDENS, "w") as f:
        json.dump(goldens, f, indent=1, sort_keys=True)
        f.write("\n")
    empty = sorted(n for n in names if not nonempty(goldens[n]))
    run.log(f"wrote {len(goldens)} goldens to {run.GOLDENS}; oracle mismatches: {bad}; "
            f"empty results: {empty}")
    return 1 if bad or empty else 0


if __name__ == "__main__":
    sys.exit(main())
