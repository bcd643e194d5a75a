"""Physical-plan-strategy invariance probe (round 18): every
oracle-backed query must be a pure function of its LOGICAL plan — never
of the physical strategy Catalyst/AQE happens to pick.

At 100 TB the physical plan is guaranteed to differ from the fixture
run's: AQE re-plans per-stage from runtime statistics (a join that
broadcasts today sort-merges tomorrow when the dim outgrows the
threshold), whole-stage codegen falls back to interpreted eval past the
method-size/field limits, runtime bloom filters come and go with
cardinality estimates, and Arrow ships Pandas-kernel input in
size-bounded batches whose boundaries land anywhere (a 10 k-row scan is
one batch on the fixture; the same partition at scale is hundreds). Any
query whose ANSWER moves under those knobs — a Pandas kernel that
aggregates per-batch instead of per-group, a join result sensitive to
build-side choice, an expression whose interpreted and codegen'd paths
disagree — is a real cluster bug the default-conf fixture run can never
show.

This probe re-runs every oracle-backed query against its DuckDB oracle
on the SAME warehouse, with the physical strategy flipped wholesale:

  - ``autoBroadcastJoinThreshold=-1``  — every auto-broadcast join
    becomes a shuffle join (explicit ``F.broadcast`` hints still
    broadcast, by design — hints are part of the declared plan);
  - ``join.preferSortMergeJoin=false`` — the shuffle joins that remain
    prefer shuffled-hash over sort-merge (so the non-broadcast strategy
    flips too, not just the broadcast ones);
  - ``adaptive.enabled=false``         — no runtime re-planning,
    partition coalescing, or skew-join splitting;
  - ``codegen.wholeStage=false``       — interpreted expression eval;
  - ``optimizer.runtime.bloomFilter.enabled=false``;
  - ``execution.arrow.maxRecordsPerBatch=7`` — every
    mapInPandas/applyInPandas/pandas_udf kernel sees many tiny batches
    instead of one partition-sized batch (batch-boundary independence:
    the iterator contract says a kernel may NOT assume cross-batch
    state within a partition unless it accumulates it itself).

All six are runtime-settable SQL confs; the probe restores priors
afterwards. The row multiset is identical by construction (same
warehouse both sides), so any mismatch is strategy dependence. Ordered
output is compared ordered (same top-level ORDER BY rule as
tools/parity_names.py).

Usage:
    python tools/strategy_probe.py [name ...] [--sf DIR]

Default: all oracle-backed names at /root/testdata/sf0.001.
Exit 1 on any mismatch/error. Findings are pinned in
tests/test_strategy_invariance_contract.py.
"""

from __future__ import annotations

import os
import sys
import threading
import time

# Same DuckDB-side budget as tools/parity_names.py — a deliberately
# quadratic oracle (all-pairs dedup ground truth) is a correctness tool
# for driver scale (sf0.01), not sf0.1+; a SKIP records that instead of
# wedging.
DUCK_BUDGET_S = 150

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

# Perturbed runtime confs: (key, probe value). All runtime-settable;
# the probe restores priors afterwards.
PROBE_CONFS = [
    ("spark.sql.autoBroadcastJoinThreshold", "-1"),
    ("spark.sql.join.preferSortMergeJoin", "false"),
    ("spark.sql.adaptive.enabled", "false"),
    ("spark.sql.codegen.wholeStage", "false"),
    ("spark.sql.optimizer.runtime.bloomFilter.enabled", "false"),
    ("spark.sql.execution.arrow.maxRecordsPerBatch", "7"),
]


def assert_nonvacuous(spark) -> None:
    """The perturbation must actually flip the physical plan: an
    un-hinted dim-sized equi-join that broadcasts under the session
    defaults must NOT broadcast under the probe confs."""
    n = spark.read.parquet  # noqa: F841 — doc only; plan built from ranges
    a = spark.range(0, 1000).withColumnRenamed("id", "k")
    b = spark.range(0, 10).withColumnRenamed("id", "k")
    plan = a.join(b, "k")._jdf.queryExecution().executedPlan().toString()
    if "BroadcastHashJoin" in plan:
        raise AssertionError(
            "probe confs vacuous: un-hinted join still broadcasts\n" + plan
        )
    got = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    if got != "7":
        raise AssertionError(f"arrow batch conf not applied: {got}")


def main() -> None:
    args = sys.argv[1:]
    sf = "/root/testdata/sf0.001"
    if "--sf" in args:
        i = args.index("--sf")
        sf = args[i + 1]
        args = args[:i] + args[i + 2:]

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    import duckdb

    import __spark_entry__ as entry
    from databricks_spark_sql_challenge1_spark.session import get_spark
    from tools.parity_names import has_top_level_order_by

    q, o = entry.queries(), entry.oracle_sql()
    names = args or sorted(o)

    spark = get_spark("strategy-probe")
    priors = {k: spark.conf.get(k, None) for k, _v in PROBE_CONFS}
    for k, v in PROBE_CONFS:
        spark.conf.set(k, v)
    assert_nonvacuous(spark)
    print(f"STRATEGY-PERTURBED run over {sf} ({len(names)} names)", flush=True)

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet'")

    bad, skipped = [], []
    try:
        for name in names:
            if name not in q:
                print(f"ERROR {name}: not registered", flush=True)
                bad.append((name, "unregistered"))
                continue
            t0 = time.monotonic()
            try:
                sseq = [
                    tuple(str(x) for x in r)
                    for r in q[name](spark, sf).collect()
                ]
                timer = threading.Timer(DUCK_BUDGET_S, con.interrupt)
                timer.start()
                try:
                    dseq = [
                        tuple(str(x) for x in r)
                        for r in con.execute(o[name]).fetchall()
                    ]
                except duckdb.InterruptException:
                    print(
                        f"SKIP {name} rows={len(sseq)} (duckdb oracle "
                        f"exceeded {DUCK_BUDGET_S}s — deliberately "
                        "quadratic oracle; the driver checks it "
                        "at sf0.01)",
                        flush=True,
                    )
                    skipped.append(name)
                    continue
                finally:
                    timer.cancel()
            except Exception as exc:  # noqa: BLE001 — keep probing
                print(f"ERROR {name}: {str(exc)[:300]}", flush=True)
                bad.append((name, f"err: {type(exc).__name__}"))
                continue
            ok = sorted(sseq) == sorted(dseq)
            order_only = ok and sseq != dseq and has_top_level_order_by(o[name])
            print(
                f"DONE {name} {time.monotonic() - t0:.1f}s rows={len(sseq)} "
                f"match={ok}" + (" ORDER-ONLY-MISMATCH" if order_only else ""),
                flush=True,
            )
            if not ok:
                bad.append((name, "diff"))
                srows, drows = sorted(sseq), sorted(dseq)
                shown = 0
                for a, b in zip(srows, drows):
                    if a != b:
                        print("  first diff:", a[:8], "vs", b[:8], flush=True)
                        shown += 1
                        if shown >= 3:
                            break
                if len(srows) != len(drows):
                    print(
                        f"  row counts: spark={len(srows)} duck={len(drows)}",
                        flush=True,
                    )
            elif order_only:
                bad.append((name, "ORDER-ONLY"))
                for i, (a, b) in enumerate(zip(sseq, dseq)):
                    if a != b:
                        print(
                            f"  ORDERDIFF first at row {i}: {a[:8]} vs {b[:8]}",
                            flush=True,
                        )
                        break
    finally:
        for k, v in priors.items():
            if v is not None:
                spark.conf.set(k, v)
        con.close()

    print(f"bad: {bad} skipped: {skipped}", flush=True)
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
