"""Oracle-parity check across fixture dirs: Spark vs DuckDB, per query.

Takes query names, so a changed query can be re-proven at
sf0.001/0.01/0.1 without sweeping the whole registry (the round-10
head-slot workflow); with no names it checks every oracle-backed query.
CORRECTNESS_r*.json rows are hash-checked at sf0.01 only; round 8's sf0.1
sweep caught a cross-engine drift class they could never show (DuckDB
ROUND preserving -0.0).

Usage:
    python tools/parity_names.py [name ...] [--sf dir1,dir2,...]

Default SF dirs: ``DEFAULT_SFS`` (sf0.001, sf0.01, sf0.1). Prints one line per
(dir, query) — DONE / SKIP / ROWS / ERROR, with the first diffs on a
mismatch — and a final summary listing failures and skips. Exit code 1 on
any mismatch/error; a DuckDB watchdog SKIP is listed, not counted as a
pass or a failure.
"""

from __future__ import annotations

import sys
import threading
import time

# DuckDB interrupt watchdog: a deliberately quadratic oracle (all-pairs
# dedup ground truth) could wedge DuckDB at sf0.1 — SKIP it loudly there
# instead of hanging the check; CORRECTNESS_r*.json checks it at sf0.01.
# The recursive graph oracles no longer need it: their min-label
# propagation CTE (clustering._min_label_ctes) finishes at sf0.1.
DUCK_BUDGET_S = 150

DEFAULT_SFS = [
    "/root/testdata/sf0.001",
    "/root/testdata/sf0.01",
    "/root/testdata/sf0.1",
]

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def has_top_level_order_by(sql: str) -> bool:
    """True iff the oracle declares a TOP-LEVEL output ORDER BY — an
    ``ORDER BY`` at paren depth 0 (SQL only allows one there, and only
    terminally, modulo LIMIT). A bare substring test also matches ORDER BY
    inside ``OVER (...)`` windows or CTE subqueries, which say nothing
    about output order and would turn benign engine row-order divergence
    into a spurious ORDER-ONLY failure.

    Depth scanning skips single-quoted string literals (with ``''``
    escapes) and ``--`` line comments (ADVICE r11): an unbalanced paren
    or the words "order by" inside either would otherwise corrupt the
    depth count / match and misclassify the oracle."""
    # n must be len(low), not len(sql): lower() can change string length
    # (e.g. 'İ' -> 'i̇'), and a short bound would truncate the scan.
    low, depth, i = sql.lower(), 0, 0
    n = len(low)
    while i < n:
        ch = low[i]
        if ch == "'":  # string literal: scan to its closing quote
            i += 1
            while i < n:
                if low[i] == "'":
                    if i + 1 < n and low[i + 1] == "'":  # '' escape
                        i += 2
                        continue
                    break
                i += 1
        elif ch == "-" and low.startswith("--", i):  # line comment
            nl = low.find("\n", i)
            i = n if nl < 0 else nl
        elif ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        elif depth == 0 and low.startswith("order by", i):
            return True
        i += 1
    return False


def main() -> None:
    args = sys.argv[1:]
    sfs = DEFAULT_SFS
    if "--sf" in args:
        i = args.index("--sf")
        sfs = args[i + 1].split(",")
        args = args[:i] + args[i + 2:]
    names = args

    sys.path.insert(0, ".")
    import duckdb

    import __spark_entry__ as entry
    from databricks_spark_sql_challenge1_spark.session import get_spark

    spark = get_spark("parity-names")
    q, o = entry.queries(), entry.oracle_sql()
    names = names or sorted(o)
    bad, skipped = [], []
    for sf_dir in sfs:
        con = duckdb.connect()
        for t in TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
            )
        for name in names:
            if name not in q:
                print(f"ERROR {name}: not registered", flush=True)
                bad.append((sf_dir, name))
                continue
            t0 = time.monotonic()
            try:
                sseq = [
                    tuple(str(x) for x in r)
                    for r in q[name](spark, sf_dir).collect()
                ]
                t1 = time.monotonic()
                if name not in o:
                    print(
                        f"ROWS {sf_dir} {name} spark={t1 - t0:.1f}s "
                        f"rows={len(sseq)} (rows-only, no oracle)",
                        flush=True,
                    )
                    continue
                timer = threading.Timer(DUCK_BUDGET_S, con.interrupt)
                timer.start()
                try:
                    dseq = [
                        tuple(str(x) for x in r)
                        for r in con.execute(o[name]).fetchall()
                    ]
                except duckdb.InterruptException:
                    print(
                        f"SKIP {sf_dir} {name} spark={t1 - t0:.1f}s "
                        f"rows={len(sseq)} (duckdb oracle exceeded "
                        f"{DUCK_BUDGET_S}s — deliberately quadratic "
                        "oracle; the driver checks it at sf0.01)",
                        flush=True,
                    )
                    skipped.append((sf_dir, name))
                    continue
                finally:
                    timer.cancel()
                srows, drows = sorted(sseq), sorted(dseq)
                ok = srows == drows
                # ADVICE r10: a sorted-multiset compare hides Spark-vs-
                # oracle ORDER BY divergence; report ordering-only
                # mismatches distinctly and FAIL on them when the oracle
                # declares a TOP-LEVEL ORDER BY (then the two sides
                # disagreeing on order means the declared order is not
                # total — the CLAUDE.md hazard). Queries with no declared
                # output order (including ones whose only ORDER BY sits
                # inside a window/CTE) are compared as multisets only,
                # matching the driver's sorted hash.
                order_only = (
                    ok and sseq != dseq and has_top_level_order_by(o[name])
                )
                if order_only:
                    bad.append((sf_dir, name, "ORDER-ONLY"))
                    for i, (a, b) in enumerate(zip(sseq, dseq)):
                        if a != b:
                            print(
                                f"ORDERDIFF {sf_dir} {name} first at row "
                                f"{i}: {a[:8]} vs {b[:8]}",
                                flush=True,
                            )
                            break
                print(
                    f"DONE {sf_dir} {name} spark={t1 - t0:.1f}s "
                    f"duck={time.monotonic() - t1:.1f}s rows={len(srows)} "
                    f"match={ok}"
                    + (" ORDER-ONLY-MISMATCH" if order_only else ""),
                    flush=True,
                )
                if not ok:
                    bad.append((sf_dir, name))
                    shown = 0
                    for a, b in zip(srows, drows):
                        if a != b:
                            print("  first diff:", a[:8], "vs", b[:8],
                                  flush=True)
                            shown += 1
                            if shown >= 3:
                                break
                    if len(srows) != len(drows):
                        print(f"  row counts: spark={len(srows)} "
                              f"duck={len(drows)}", flush=True)
            except Exception as exc:  # noqa: BLE001 — keep checking
                print(f"ERROR {sf_dir} {name}: {str(exc)[:300]}", flush=True)
                bad.append((sf_dir, name))
        con.close()
    print("NAMESDONE bad:", bad, "skipped:", skipped, flush=True)
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
