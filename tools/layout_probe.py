"""Layout-invariance probe (round 18): every oracle-backed query must be
a pure function of each table's ROW MULTISET — never of the physical
layout Spark happens to scan it in.

At 100 TB the layout is guaranteed to differ from the fixture's: tables
arrive as thousands of part-files, row order inside them is whatever the
upstream writer produced, scan partitioning follows maxPartitionBytes on
a 1000-executor cluster (not local[32]'s), and shuffle.partitions is in
the thousands. Any query whose answer moves under those knobs — an
implicit first()/dropDuplicates pick, a non-total window ORDER BY, a
rank tie broken by arrival order — is a real cluster bug that the
pristine single-file fixtures can never show.

This probe rewrites a fixture warehouse with

  - a deterministic pseudo-random ROW-ORDER shuffle per table
    (numpy PCG64, fixed seed), and
  - a different FILE SHARDING (each table becomes a directory of 3-7
    part-files with uneven sizes),

then runs every oracle-backed query with Spark reading the PERTURBED
warehouse — under perturbed runtime confs (spark.sql.shuffle.partitions
dropped to 7, maxPartitionBytes/openCostInBytes shrunk so every
part-file is its own scan partition) — against its DuckDB oracle on the
ORIGINAL warehouse. The row multiset is identical by construction, so
any mismatch is layout dependence. Ordered output is compared ordered
(same TOP-LEVEL ORDER BY rule as tools/parity_names.py): a multiset-only
pass that reorders under shuffle means the declared order is not total.

Usage:
    python tools/layout_probe.py [name ...] [--sf DIR] [--keep]

Default: all oracle-backed names at /root/testdata/sf0.001.
Exit 1 on any mismatch/error. Findings are pinned in
tests/test_layout_invariance_contract.py.
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile
import threading
import time

SEED = 0x18C0FFEE

# Same DuckDB-side budget as tools/parity_names.py: a deliberately
# quadratic oracle (all-pairs dedup ground truth) is a correctness tool
# for driver scale (sf0.01), not sf0.1+ — a SKIP records that explicitly
# instead of wedging the sweep (r18: the unbudgeted probe sat 35+ min
# inside dedup_embedding_clusters' then-closure oracle at sf0.1; the graph
# oracles now run clustering._min_label_ctes and finish there).
DUCK_BUDGET_S = 150

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

# Perturbed runtime confs: (key, probe value). All three are
# runtime-settable SQL confs; the probe restores priors afterwards.
PROBE_CONFS = [
    ("spark.sql.shuffle.partitions", "7"),
    ("spark.sql.files.maxPartitionBytes", "262144"),
    ("spark.sql.files.openCostInBytes", "0"),
]


def build_shuffled_warehouse(src: str, out: str) -> None:
    """Rewrite each ``{src}/{t}.parquet`` as ``{out}/{t}.parquet/`` — a
    DIRECTORY of 3-7 uneven part-files holding a seeded permutation of
    the rows, PLUS one zero-row part-file (distributed writers routinely
    emit empty parts; scans and the streaming file source must shrug
    them off). pyarrow round-trips the exact physical schema (events.ts
    stays TIMESTAMP(NANOS), so catalog._heal_events_ts sees the same
    input class as production)."""
    import numpy as np
    import pyarrow.parquet as pq

    for i, t in enumerate(TABLES):
        tab = pq.read_table(os.path.join(src, f"{t}.parquet"))
        n = tab.num_rows
        rng = np.random.Generator(np.random.PCG64(SEED + i))
        tab = tab.take(rng.permutation(n))
        k = min(n, 3 + (i % 5)) or 1
        # uneven split points: first shard smallest, last largest
        weights = np.arange(1, k + 1, dtype=np.float64)
        bounds = np.floor(np.cumsum(weights) / weights.sum() * n).astype(int)
        d = os.path.join(out, f"{t}.parquet")
        os.makedirs(d, exist_ok=True)
        lo = 0
        for j, hi in enumerate(bounds):
            hi = int(hi) if j < k - 1 else n
            pq.write_table(
                tab.slice(lo, hi - lo),
                os.path.join(d, f"part-{j:03d}.parquet"),
            )
            lo = hi
        pq.write_table(tab.slice(0, 0), os.path.join(d, "part-empty.parquet"))


def main() -> None:
    args = sys.argv[1:]
    sf = "/root/testdata/sf0.001"
    keep = False
    composed = False
    if "--keep" in args:
        keep = True
        args.remove("--keep")
    if "--strategy" in args:
        # COMPOSED perturbation: the resharded/permuted warehouse AND the
        # flipped physical strategy at once (tools/strategy_probe.py's
        # conf set) — the literal state of a 1000-executor run, where
        # directory-sharded arrival and AQE/broadcast/batch variation
        # are simultaneous, not alternative, conditions.
        composed = True
        args.remove("--strategy")
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

    out = tempfile.mkdtemp(prefix="layoutwh-")
    print(f"PERTURBED warehouse: {out} (src {sf})"
          + (" + strategy flips" if composed else ""), flush=True)
    build_shuffled_warehouse(sf, out)

    confs = list(PROBE_CONFS)
    if composed:
        from tools.strategy_probe import PROBE_CONFS as STRATEGY_CONFS
        from tools.strategy_probe import assert_nonvacuous
        confs += STRATEGY_CONFS
    spark = get_spark("layout-probe")
    priors = {k: spark.conf.get(k, None) for k, _v in confs}
    for k, v in confs:
        spark.conf.set(k, v)
    if composed:
        assert_nonvacuous(spark)

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
                    for r in q[name](spark, out).collect()
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
        if not keep:
            shutil.rmtree(out, ignore_errors=True)
    print("LAYOUTDONE bad:", bad, "skipped:", skipped, flush=True)
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
