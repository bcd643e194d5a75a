"""The one Spark-vs-DuckDB parity runner, and the perturbations it runs under.

``run(spark, names, spark_dir, duck_dir)`` runs each named query on
``spark_dir`` and its registered DuckDB oracle on ``duck_dir`` and returns
one ``Outcome`` per name: ``match``, ``diff``, ``ORDER-ONLY``,
``spark-error``, ``duck-error`` or ``watchdog-skip``. The compare is
str-exact per positional cell, requires the same column names in the same
order, and is ordered when the oracle declares a top-level ORDER BY
(otherwise a multiset compare, like the CORRECTNESS sorted hash). Every
contract test and every probe sweep calls it; the out-of-contract classes
they pin are assertions on its outcomes, kept in their test modules.

Perturbations (each one fixture transform and/or a set of session confs):

  layout           rows permuted, every table resharded into a directory of
                   uneven part-files plus one zero-row part, and scan/shuffle
                   partitioning perturbed (``LAYOUT_CONFS``); Spark reads the
                   rewritten warehouse, DuckDB the original.
  strategy         auto-broadcast off, shuffled-hash preferred, AQE off,
                   codegen off, bloom filters off, arrow.maxRecordsPerBatch=7
                   (``STRATEGY_CONFS``), same warehouse on both sides.
  layout+strategy  both at once.
  empty            one table empty, the rest as in ``--sf``, for each of
                   ``DEFAULT_EMPTY``; judged by the pinned classes of
                   tests/test_empty_warehouse.py.
  fuzz-docs        a seeded random document corpus per seed over the
  fuzz-multimodal  documents-only names (ASCII corpus, multimodal_* names)
  fuzz-rel         or a seeded random ten-table warehouse over the
                   relational names.

Usage:
    python tools/parity_names.py [name ...] [--sf dir1,dir2,...]
        [--perturb MODE] [--seeds N] [--start S]

With no names every oracle-backed query runs (fuzz modes: the surface the
matching contract test fuzzes). ``--sf`` defaults to sf0.001, sf0.01 and
sf0.1 with no perturbation and to sf0.001 under one; fuzz modes ignore it
and sweep ``--seeds`` seeds from ``--start``. Prints one line per
(fixture, query) with the first diffs, then a summary; exit 1 on any
outcome other than match (empty: outside the pinned classes). A watchdog
SKIP is listed, not counted as a pass or a failure.
"""

from __future__ import annotations

import contextlib
import os
import sys
import threading
import time
from dataclasses import dataclass, field
from datetime import datetime, timedelta

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from databricks_spark_sql_challenge1_spark.catalog import TABLES

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


@dataclass
class Outcome:
    """One query's parity result. ``rows`` are Spark's rendered rows in
    arrival order; ``spark_n``/``duck_n`` are None for a side that did not
    produce rows; ``diffs`` holds the first differing (spark, duck) row
    pairs, or the two column lists when the names differ."""

    name: str
    status: str
    rows: list = field(default_factory=list)
    spark_n: int | None = None
    duck_n: int | None = None
    diffs: list = field(default_factory=list)
    error: BaseException | None = None
    spark_s: float = 0.0
    duck_s: float = 0.0

    def __str__(self) -> str:
        s = (f"{self.status} {self.name} spark={self.spark_s:.1f}s "
             f"duck={self.duck_s:.1f}s rows={self.spark_n}/{self.duck_n}")
        if self.error is not None:
            s += f" {type(self.error).__name__}: {str(self.error)[:300]}"
        return s + "".join(
            f"\n  first diff: {a[:8]} vs {b[:8]}" for a, b in self.diffs
        )


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


def _render(rows) -> list:
    return [tuple(str(x) for x in r) for r in rows]


def oracle_rows(con, sql: str):
    """Execute one oracle under the ``DUCK_BUDGET_S`` watchdog and return
    ``(column names, rows)``; a query past the budget raises
    ``duckdb.InterruptException``."""
    timer = threading.Timer(DUCK_BUDGET_S, con.interrupt)
    timer.start()
    try:
        res = con.execute(sql)
        return [d[0] for d in res.description], res.fetchall()
    finally:
        timer.cancel()


def _detached(exc: BaseException) -> BaseException:
    """``exc`` with the tracebacks of its whole chain dropped. Their frames
    hold the failed query's DataFrame, and through py4j its JVM plan and
    broadcast relations, for as long as the outcome lives: a sweep that
    keeps its errors would otherwise pin the JVM heap of every failed
    query until Python's cycle collector happens to run."""
    e, seen = exc, set()
    while e is not None and id(e) not in seen:
        seen.add(id(e))
        e.__traceback__ = None
        e = e.__cause__ or e.__context__
    return exc


def _compare(oc: Outcome, cols, dcols, dseq, sql: str) -> None:
    sseq = oc.rows
    srows, drows = sorted(sseq), sorted(dseq)
    if cols != dcols:
        oc.status, oc.diffs = "diff", [(cols, dcols)]
    elif srows != drows:
        oc.status = "diff"
        oc.diffs = [(a, b) for a, b in zip(srows, drows) if a != b][:3]
    elif sseq != dseq and has_top_level_order_by(sql):
        # the two sides disagree on a declared output order: the order is
        # not total — a failure, reported apart
        oc.status = "ORDER-ONLY"
        oc.diffs = [(a, b) for a, b in zip(sseq, dseq) if a != b][:1]
    else:
        oc.status = "match"


def run(spark, names, spark_dir, duck_dir=None, queries=None, oracles=None):
    """Run each name's query on ``spark_dir`` (Spark) and its oracle on
    ``duck_dir`` (DuckDB, default ``spark_dir``) and return one Outcome
    per name, in order. DuckDB gets one view per ``catalog.TABLES`` file
    present in ``duck_dir``. ``queries``/``oracles`` default to the
    registry (``__spark_entry__``)."""
    import duckdb

    if queries is None or oracles is None:
        import __spark_entry__ as entry

        queries = entry.queries() if queries is None else queries
        oracles = entry.oracle_sql() if oracles is None else oracles
    duck_dir = spark_dir if duck_dir is None else duck_dir
    con = duckdb.connect()
    try:
        for t in TABLES:
            path = os.path.join(duck_dir, f"{t}.parquet")
            if os.path.exists(path):
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
        outcomes = []
        for name in names:
            oc = Outcome(name, "spark-error")
            outcomes.append(oc)
            t0 = time.monotonic()
            try:
                df = queries[name](spark, spark_dir)
                cols = list(df.columns)
                oc.rows = _render(df.collect())
            except Exception as exc:  # noqa: BLE001 — an outcome, not a crash
                oc.error = _detached(exc)
                continue
            finally:
                oc.spark_s = time.monotonic() - t0
            oc.spark_n = len(oc.rows)
            t1 = time.monotonic()
            try:
                dcols, drows = oracle_rows(con, oracles[name])
            except duckdb.InterruptException as exc:
                oc.status, oc.error = "watchdog-skip", _detached(exc)
                continue
            except Exception as exc:  # noqa: BLE001 — an outcome, not a crash
                oc.status, oc.error = "duck-error", _detached(exc)
                continue
            finally:
                oc.duck_s = time.monotonic() - t1
            dseq = _render(drows)
            oc.duck_n = len(dseq)
            _compare(oc, cols, dcols, dseq, oracles[name])
        return outcomes
    finally:
        con.close()


@contextlib.contextmanager
def session_confs(spark, confs):
    """Set runtime SQL confs for the block, restoring the prior values: a
    key that had no explicit value before is unset again, so it reads its
    default afterwards rather than the block's value."""
    priors = {k: spark.conf.get(k, None) for k, _v in confs}
    for k, v in confs:
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in priors.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


# ---------------------------------------------------------------- layout

SEED = 0x18C0FFEE

# Perturbed runtime confs: (key, probe value). All three are
# runtime-settable SQL confs; session_confs restores priors afterwards.
LAYOUT_CONFS = [
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


# -------------------------------------------------------------- strategy

# Perturbed runtime confs: (key, probe value). All runtime-settable;
# session_confs restores priors afterwards.
STRATEGY_CONFS = [
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


# ------------------------------------------------------- degenerate ends

DEFAULT_EMPTY = ["events", "documents", "embeddings", "orders", "lineitem"]


def limited_warehouse(src: str, out: str, limits: dict) -> None:
    """Copy every table of ``src`` to ``out``, keeping only the first
    ``limits[t]`` rows of each table named in ``limits`` (0: empty, with
    its real schema)."""
    import duckdb

    con = duckdb.connect()
    try:
        for t in TABLES:
            limit = f"LIMIT {limits[t]}" if t in limits else ""
            con.execute(
                f"COPY (SELECT * FROM '{src}/{t}.parquet' {limit}) "
                f"TO '{out}/{t}.parquet' (FORMAT PARQUET)"
            )
    finally:
        con.close()


# -------------------------------------------------------- random corpora

# In-contract token pools (every class measured aligned by the r13/r15
# campaigns; the divergent unicode SpecialCasing classes are excluded).
POOLS = [
    ["a", "b", "ab", "aa", "ba", "aab"],                       # collision
    ["the", "quick", "brown", "fox", "data", "test", "and",
     "of", "to", "word"] + [f"tok{i}" for i in range(9)],      # words
    ["héllo", "wörld", "café", "naïve", "日本語", "テスト",
     "漢字", "ТЕСТ", "Данные", "слов", "ＴＥＳＴ", "ｄａｔａ",
     "🎉", "🚀", "café", "café"],                    # aligned unicode
    ["a.b", "a*b", "(x)", "[y]", "{z}", "a|b", "a+b", "a?b",
     "it's", '"quoted"', "o'clock", "!!!", "???", ";;;"],      # metachars
    ["bob@example.com", "alice@test.org", "555-123-4567",
     "123", "456789", "0", "-1", "3.14"],                      # PII/digits
]

SPECIALS = [
    "",                     # empty doc
    "   ",                  # spaces only
    "\t\n \t",              # tabs/newlines only
    "w" * 300,              # very long word
    "  leading and trailing  ",
    "alpha beta gamma",   # NBSP runs
]

LANGS = ["en", "es", "de", "fr", "zh"]


def random_corpus(seed: int, ascii_only: bool = False) -> list:
    """Seeded random composition over the in-contract pools: returns
    [(text, lang, source), ...]. ascii_only drops the unicode pool and
    the NBSP special (the multimodal codec-witness corpus contract)."""
    import random

    rng = random.Random(seed)
    pool_set = [p for p in POOLS if not ascii_only or p is not POOLS[2]]
    n_docs = rng.choice([12, 25, 40, 70])
    pools = rng.sample(pool_set, rng.randint(1, 3))
    alphabet = [t for p in pools for t in p]
    docs = []
    for _ in range(n_docs):
        r = rng.random()
        if r < 0.08:
            specials = [s for s in SPECIALS
                        if not ascii_only or s.isascii()]
            text = rng.choice(specials)
        else:
            n_toks = rng.choice([0, 1, 2, 3, 5, 8, 20, 60, 200])
            sep = " " if rng.random() < 0.9 else rng.choice(["  ", " \t "])
            text = sep.join(rng.choice(alphabet) for _ in range(n_toks))
            if rng.random() < 0.1:
                text = " " + text + "  "
        docs.append((text, rng.choice(LANGS), f"src{rng.randrange(4)}"))
    # guarantee at least one exact-dup pair per corpus (dedup surfaces)
    if len(docs) >= 2:
        docs[-1] = docs[0]
    return docs


# Boundary-rich pools (the curated fixture's hazard values, drawn at
# random). MONEY columns are CENT-GRAIN by ingest contract (measured on
# every shipped fixture; pinned in test_tenth_cent_money_is_out_of_
# contract after the fuzz-rel sweep's seed 200 showed tenth-cent
# totalprice putting ROUND(agg, 2) on the .005 boundary where the engines
# round apart). events.value is the documented tenth-cent exception — its
# surfaces are integer-cents formulations.
PRICE_POOL = [0.0, 0.01, -0.01, 1.01, -1.0, 2.67, 2.68, 0.04, 0.05,
              10.0, 100.0, 55.55, 77.0, 88.0, 99.99, 1234.56, -50.0,
              12.34, 5.0, 33.0, 44.0, -327.53]
VALUE_POOL = [0.005, -0.005, 1.115, -1.005, 2.675, 0.0, 1.0, 5.0,
              7.25, -7.25, 9.99, 42.0, 100.0, 0.5, 1.25]
PROPS_POOL = ['{"k": 1}', '{"k": 0}', '{"k": -3}', '{"k": 4}',
              '{"k": null}', '{"other": 7}', "{}", "",
              "{k:", '{"k": "x"}', '{"k": "5"}', '{"k": 2.7}',
              '{"k": true}', '{"k": -7}', "[1, 2]", '"scalar"',
              '{"k": 9223372036854775808}']
SPECIAL_DATES = [datetime(1996, 2, 29), datetime(2000, 2, 29),
                 datetime(1999, 12, 31), datetime(2000, 1, 1),
                 datetime(2000, 1, 31), datetime(2001, 6, 30),
                 datetime(2001, 7, 1), datetime(2001, 7, 31),
                 datetime(2001, 8, 1)]
SEGMENTS = ["FURNITURE", "MACHINERY", "AUTOMOBILE", "BUILDING", "HOUSEHOLD"]
TYPES = ["view", "click", "purchase", "signup", "error"]


def _rand_date(rng) -> datetime:
    if rng.random() < 0.3:
        return rng.choice(SPECIAL_DATES)
    day = rng.randrange((datetime(2001, 8, 1) - datetime(1995, 1, 1)).days)
    return datetime(1995, 1, 1) + timedelta(days=day)


def build_random_fixture(path: str, seed: int) -> None:
    """Referentially consistent random warehouse: all FKs valid (join
    misses come from childless parents, the curated fixture's approach —
    dangling keys and NULL keys are ingest-side contracts)."""
    import random

    import duckdb

    from tests.test_fuzz_parity_relational import PRIOS

    rng = random.Random(seed)
    con = duckdb.connect()

    n_region = rng.randint(2, 4)
    con.execute("CREATE TABLE region (r_regionkey INTEGER, r_name VARCHAR)")
    for k in range(n_region):
        con.execute("INSERT INTO region VALUES (?, ?)", [k, f"REGION_{k}"])

    # last region deliberately childless when >2 regions
    n_nation = rng.randint(4, 8)
    parent_regions = max(1, n_region - (1 if n_region > 2 else 0))
    con.execute("CREATE TABLE nation (n_nationkey INTEGER, n_name VARCHAR, "
                "n_regionkey INTEGER)")
    for k in range(n_nation):
        con.execute("INSERT INTO nation VALUES (?, ?, ?)",
                    [k, f"NATION_{k}", rng.randrange(parent_regions)])

    n_cust = rng.randint(8, 20)
    con.execute("CREATE TABLE customer (c_custkey BIGINT, c_name VARCHAR, "
                "c_nationkey INTEGER, c_acctbal DOUBLE, c_mktsegment VARCHAR)")
    for k in range(n_cust):
        # duplicate names and balance ties appear by pool reuse
        name = f"Customer#{rng.randrange(max(3, n_cust - 2)):09d}"
        con.execute("INSERT INTO customer VALUES (?, ?, ?, ?, ?)",
                    [k, name, rng.randrange(n_nation),
                     rng.choice(PRICE_POOL), rng.choice(SEGMENTS)])

    n_supp = rng.randint(3, 8)
    con.execute("CREATE TABLE supplier (s_suppkey BIGINT, s_name VARCHAR, "
                "s_nationkey INTEGER, s_acctbal DOUBLE)")
    for k in range(n_supp):
        con.execute("INSERT INTO supplier VALUES (?, ?, ?, ?)",
                    [k, f"Supplier#{k:09d}", rng.randrange(n_nation),
                     rng.choice(PRICE_POOL)])

    n_part = rng.randint(5, 12)
    con.execute("CREATE TABLE part (p_partkey BIGINT, p_name VARCHAR, "
                "p_brand VARCHAR, p_type VARCHAR, p_size INTEGER, "
                "p_retailprice DOUBLE)")
    part_names = ["cold widget", "large bolt", "small bolt", "free sample",
                  "never ordered", "warm gear"]
    for k in range(n_part):
        con.execute("INSERT INTO part VALUES (?, ?, ?, ?, ?, ?)",
                    [k, rng.choice(part_names),
                     f"Brand#{rng.choice([5, 13, 19])}",
                     rng.choice(["ECONOMY", "PROMO", "STANDARD"]),
                     rng.choice([0, 1, 2, 3, 5]),
                     abs(rng.choice(PRICE_POOL))])

    # orders: first customers get orders; the tail stays childless
    n_orders = rng.randint(30, 90)
    ordering_custs = max(2, n_cust - rng.randint(1, 3))
    con.execute("CREATE TABLE orders (o_orderkey BIGINT, o_custkey BIGINT, "
                "o_orderstatus VARCHAR, o_totalprice DOUBLE, "
                "o_orderdate TIMESTAMP, o_orderpriority VARCHAR)")
    dates = []
    for k in range(n_orders):
        d = _rand_date(rng)
        dates.append(d)
        con.execute("INSERT INTO orders VALUES (?, ?, ?, ?, ?, ?)",
                    [k, rng.randrange(ordering_custs),
                     rng.choice(["F", "O", "P"]), rng.choice(PRICE_POOL),
                     d, rng.choice(PRIOS)])
    # sometimes tie a second order AT the max date (anchor-tie hazard)
    if rng.random() < 0.5:
        con.execute("INSERT INTO orders VALUES (?, ?, ?, ?, ?, ?)",
                    [n_orders, rng.randrange(ordering_custs), "O",
                     rng.choice(PRICE_POOL), max(dates), rng.choice(PRIOS)])
        n_orders += 1

    con.execute("CREATE TABLE lineitem (l_orderkey BIGINT, l_partkey BIGINT, "
                "l_suppkey BIGINT, l_linenumber INTEGER, l_quantity DOUBLE, "
                "l_extendedprice DOUBLE, l_discount DOUBLE, l_tax DOUBLE, "
                "l_returnflag VARCHAR, l_linestatus VARCHAR, "
                "l_shipdate TIMESTAMP)")
    shipping_parts = max(1, n_part - 1)          # last part never ordered
    shipping_supps = max(1, n_supp - 1)          # last supplier never ships
    for k in range(n_orders):
        n_items = rng.choice([0, 0, 1, 1, 2, 2, 3, 5])   # some abandoned
        od = dates[k] if k < len(dates) else max(dates)
        # co-purchase pattern: parts drawn from a small prefix so pairs
        # and triangles recur across orders
        prefix = rng.randint(2, shipping_parts)
        for ln in range(1, n_items + 1):
            qty = rng.choice([0.0, 1.0, 1.0, 2.0, 3.0, 4.0, 5.0, 10.0, 50.0])
            price = rng.choice(PRICE_POOL)
            ship = od + timedelta(days=rng.randint(-2, 90))
            con.execute(
                "INSERT INTO lineitem VALUES "
                "(?, ?, ?, ?, ?, ?, ?, ?, ?, ?, ?)",
                [k, rng.randrange(prefix), rng.randrange(shipping_supps),
                 ln, qty, abs(price),
                 rng.choice([0.0, 0.0, 0.05, 0.1, 0.15, 0.2, 0.25, 0.5, 1.0]),
                 rng.choice([0.0, 0.0, 0.01, 0.02, 0.05, 0.08, 0.1]),
                 rng.choice(["N", "R", "A"]), rng.choice(["O", "F"]), ship])

    # events: per-user hazard-pattern chains
    con.execute("CREATE TABLE events (event_id BIGINT, ts TIMESTAMP, "
                "user_id BIGINT, event_type VARCHAR, value DOUBLE, "
                "props VARCHAR)")
    ev: list[tuple] = []
    B = datetime(2024, 1, 5)

    def e(ts, uid, typ, val, props='{"k": 1}'):
        ev.append((len(ev), ts, uid, typ, val, props))

    n_users = rng.randint(6, 12)
    # a couple of custkey-matching ids keep stream-static joins non-vacuous
    uids = [rng.randrange(ordering_custs) for _ in range(2)] + [
        100 + i for i in range(n_users - 2)
    ]
    for uid in uids:
        pattern = rng.choice(["singleton", "constant_run", "hour_chain",
                              "gap_chain", "dup_ts", "spread", "random"])
        base = B + timedelta(days=rng.randint(0, 6),
                             hours=rng.randint(0, 20))
        if pattern == "singleton":
            e(base, uid, rng.choice(TYPES), rng.choice(VALUE_POOL),
              rng.choice(PROPS_POOL))
        elif pattern == "constant_run":
            v = rng.choice(VALUE_POOL)
            t = base + timedelta(minutes=5)
            for _ in range(rng.randint(3, 8)):
                e(t, uid, rng.choice(TYPES[:2]), v, rng.choice(PROPS_POOL))
        elif pattern == "hour_chain":
            for i, typ in enumerate(rng.sample(TYPES, rng.randint(2, 4))):
                e(base + timedelta(hours=i), uid, typ,
                  rng.choice(VALUE_POOL), rng.choice(PROPS_POOL))
        elif pattern == "gap_chain":
            t = base
            for i in range(rng.randint(2, 5)):
                e(t, uid, rng.choice(TYPES), rng.choice(VALUE_POOL))
                t += timedelta(minutes=30,
                               microseconds=rng.choice([0, 0, 1]))
        elif pattern == "dup_ts":
            for _ in range(rng.randint(2, 4)):
                e(base, uid, rng.choice(TYPES), rng.choice(VALUE_POOL),
                  rng.choice(PROPS_POOL))
        elif pattern == "spread":
            for d in range(rng.randint(3, 7)):
                e(B + timedelta(days=d, hours=6), uid, "view", float(d))
        else:
            for _ in range(rng.randint(2, 10)):
                e(B + timedelta(days=rng.randint(0, 6),
                                hours=rng.randint(0, 23),
                                minutes=rng.randint(0, 59)),
                  uid, rng.choice(TYPES), rng.choice(VALUE_POOL),
                  rng.choice(PROPS_POOL))
    for row in ev:
        con.execute("INSERT INTO events VALUES (?, ?, ?, ?, ?, ?)", list(row))

    # embeddings: float32-exact integer grids + curated hazard vectors
    con.execute("CREATE TABLE embeddings (vec_id BIGINT, embedding FLOAT[], "
                "label INTEGER)")
    DIM = 64
    n_vec = rng.randint(30, 70)
    a, b = rng.randint(3, 17), rng.randint(3, 17)
    base_vec = [(((i * a + j * b) % 19) - 9) / 9.0
                for i, j in [(1, j) for j in range(DIM)]]
    vecs = [
        (0, [0.0] * DIM, 0),
        (1, list(base_vec), 1),
        (2, list(base_vec), 1),
        (3, [-x for x in base_vec], 2),
        (4, [1e-42] * DIM, 3),
        (5, [1e-42] * DIM, 3),
        (6, [rng.choice([127.0, -127.0])] * DIM, 4),
    ]
    for i in range(7, n_vec):
        vecs.append((i, [(((i * a + j * b) % 19) - 9) / 9.0
                         for j in range(DIM)], i % 10))
    for vid, v, lab in vecs:
        con.execute("INSERT INTO embeddings VALUES (?, ?, ?)", [vid, v, lab])

    con.execute("CREATE TABLE documents (doc_id BIGINT, text VARCHAR, "
                "lang VARCHAR, source VARCHAR, n_chars BIGINT)")
    for i, (text, lang, source) in enumerate(random_corpus(seed)):
        con.execute("INSERT INTO documents VALUES (?, ?, ?, ?, ?)",
                    [i, text, lang, source, len(text)])

    for t in TABLES:
        con.execute(f"COPY {t} TO '{path}/{t}.parquet' (FORMAT PARQUET)")
    con.close()


# ------------------------------------------------------------------- CLI

MODES = ["none", "layout", "strategy", "layout+strategy", "empty",
         "fuzz-docs", "fuzz-multimodal", "fuzz-rel"]

# (seeds, start) per fuzz mode when --seeds/--start are not given
FUZZ_SEEDS = {"fuzz-docs": (24, 100), "fuzz-multimodal": (24, 100),
              "fuzz-rel": (8, 200)}


def _fuzz_names(mode: str, oracles) -> list:
    if mode == "fuzz-multimodal":
        return sorted(n for n in oracles if n.startswith("multimodal_"))
    if mode == "fuzz-docs":
        from tests.test_fuzz_parity import _documents_only_names

        # the pinned test skips the I/O-format roundtrips (format tests,
        # not text semantics) but the sweep runs them: JSONL escaping of
        # random metachar/unicode text is a real divergence surface
        # (measured clean, seeds 100-102 at introduction)
        return _documents_only_names() + sorted(
            n for n in oracles if n.startswith(("jsonl_", "orc_"))
        )
    from tests.test_fuzz_parity_relational import _relational_names

    # Same class as the test module's CONTRACT_EXCLUDED
    # (approx_price_percentiles, already filtered): the approx-RFM
    # sketch-audit booleans assume the documented agreement floor's
    # premise that eps*n customers make up the cutoff flip band — on a
    # random 8-20-customer warehouse ONE boundary customer is >=5-12%
    # disagreement, blowing RFM_AGREE_MIN=0.9 while the quantile VALUES
    # stay bit-exact (measured: seeds 210-212, only tile_agreement_ok
    # flipped). The curated fixture keeps it in the pinned test.
    return [n for n in _relational_names() if n != "customer_rfm_segments_approx"]


def _fixtures(mode, sfs, seeds, scratch, oracles):
    """Yield (label, spark_dir, duck_dir, default names, empty table or
    None) for each fixture the perturbation runs on."""
    from tests.test_fuzz_parity import _write_docs

    if mode.startswith("fuzz-"):
        for seed in seeds:
            d = os.path.join(scratch, f"seed{seed}")
            os.makedirs(d)
            if mode == "fuzz-rel":
                build_random_fixture(d, seed)
            else:
                _write_docs(d, random_corpus(
                    seed, ascii_only=mode == "fuzz-multimodal"))
            yield f"seed={seed}", d, d, _fuzz_names(mode, oracles), None
        return
    for i, sf in enumerate(sfs):
        if mode == "empty":
            for t in DEFAULT_EMPTY:
                d = os.path.join(scratch, f"sf{i}-empty-{t}")
                os.makedirs(d)
                limited_warehouse(sf, d, {t: 0})
                yield f"{sf} empty={t}", d, d, sorted(oracles), t
        elif mode.startswith("layout"):
            d = os.path.join(scratch, f"sf{i}-layout")
            build_shuffled_warehouse(sf, d)
            yield sf, d, sf, sorted(oracles), None
        else:
            yield sf, sf, sf, sorted(oracles), None


def main() -> None:
    import argparse
    import shutil
    import tempfile

    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("names", nargs="*")
    p.add_argument("--sf", help="comma-separated fixture dirs")
    p.add_argument("--perturb", choices=MODES, default="none")
    p.add_argument("--seeds", type=int)
    p.add_argument("--start", type=int)
    args = p.parse_args()
    mode = args.perturb
    sfs = args.sf.split(",") if args.sf else (
        DEFAULT_SFS if mode == "none" else DEFAULT_SFS[:1])
    n_seeds, start = FUZZ_SEEDS.get(mode, (0, 0))
    n_seeds = n_seeds if args.seeds is None else args.seeds
    start = start if args.start is None else args.start

    import __spark_entry__ as entry
    from databricks_spark_sql_challenge1_spark.session import get_spark
    from tests.test_empty_warehouse import ONE_TABLE_PINS, contract_violations

    oracles = entry.oracle_sql()
    confs = (LAYOUT_CONFS if mode.startswith("layout") else []) + (
        STRATEGY_CONFS if mode.endswith("strategy") else [])
    spark = get_spark("parity-names")
    print(f"perturb={mode}", flush=True)
    scratch = tempfile.mkdtemp(prefix="parity-")
    bad, skipped, anchored = [], [], []
    try:
        with session_confs(spark, confs):
            if mode.endswith("strategy"):
                assert_nonvacuous(spark)
            for label, spark_dir, duck_dir, names, empty in _fixtures(
                mode, sfs, range(start, start + n_seeds), scratch, oracles
            ):
                # one run per name: an outcome holds its Spark rows, and
                # the sf0.1 sweep must not hold every query's rows at once
                for name in args.names or names:
                    (oc,) = run(spark, [name], spark_dir, duck_dir)
                    print(f"{label}: {oc}", flush=True)
                    if oc.status == "watchdog-skip":
                        skipped.append((label, name))
                    elif empty is not None:
                        b, a = contract_violations(
                            [oc], *ONE_TABLE_PINS.get(empty, ((), ())))
                        bad += [(label, x) for x in b]
                        anchored += a
                    elif oc.status != "match":
                        bad.append((label, name, oc.status))
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    print(f"PARITYDONE bad: {bad} skipped: {skipped}"
          + (f" anchored: {len(anchored)}" if mode == "empty" else ""),
          flush=True)
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
