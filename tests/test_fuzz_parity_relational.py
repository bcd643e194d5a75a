"""Adversarial relational-fixture oracle parity (round-13).

Companion to tests/test_fuzz_parity.py for the non-documents surface: a
referentially-consistent but nasty micro-fixture of all ten tables —
tie-heavy prices, zero and negative amounts, boundary dates (leap day,
month ends, two orders sharing the anchor max date), customers without
orders, orders without lineitems, constant-value hours (stddev 0),
identical event timestamps, cents-rounding-boundary values (-1.005),
zero/duplicate/negated/constant embedding vectors — run through every
non-documents oracle-backed query with the grading driver's sorted-row
compare.

What this caught when first run (all fixed):
- zero-norm cosine divisions aborting under ANSI where DuckDB's
  list_cosine_similarity returns -1.0 (the shared cosine() helper now
  carries that convention);
- Spark ROUND(double, 2) rounding the shortest decimal representation
  while DuckDB rounds the exact binary value (-1.005 -> -1.01 vs -1.0;
  events_rolling_7d_value moved to integer cents — the CLAUDE.md rule);
- a pivot cell NULL where the oracle's SUM(CASE)+COALESCE emits 0 for an
  absent (priority, status) combination.

Round-14 extension (VERDICT r13 #4) — embeddings and events surfaces:
float32-denormal and exactly-representable-extreme vectors with
duplicates across labels; events exactly ON session-gap/hour boundaries,
a 30m+1us split, and an all-one-timestamp user. Caught and fixed:
events_hourly_anomaly divided by a zero sample-stddev (a type whose
hourly counts are constant across >= 2 hours) — ANSI job-kill vs DuckDB
NULL, now try_divide. Non-finite/NULL components are OUT OF CONTRACT
(ingest-side validation), with the measured engine behaviors pinned in
test_nonfinite_embedding_components_are_out_of_contract below.
"""
from __future__ import annotations

import re
from datetime import datetime, timedelta

import duckdb
import pytest

from databricks_spark_sql_challenge1_spark.catalog import TABLES
from tools.parity_names import run

D = datetime
PRIOS = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]

# approx_price_percentiles' acceptance interval is documented to require
# >= ~1/PCT_RANK_EPS (~200) rows per o_orderstatus group (ADVICE r9 note,
# analytics_ext.py); this 30-order fixture is outside that contract, so
# its ok_* booleans may flip against the oracle's hardcoded TRUE even
# with a healthy sketch. The contract itself stays pinned by the real-SF
# sweeps (every SF satisfies the group minimum).
CONTRACT_EXCLUDED = {"approx_price_percentiles"}

# streaming_parity_* twins ARE fuzzed here (they drain real streams over
# the adversarial events — identical timestamps, hour-boundary rows and
# cents-boundary values exercise the window/dedup/attribution state
# paths); the rows-only streaming_* names have no oracle to compare.
SKIP_PREFIXES = ("multimodal_", "jsonl_", "orc_")


def build_fixture(path: str) -> None:
    con = duckdb.connect()

    con.execute("CREATE TABLE region (r_regionkey INTEGER, r_name VARCHAR)")
    for k, n in [(0, "REGION_0"), (1, "REGION_1"), (2, "REGION_EMPTY")]:
        con.execute("INSERT INTO region VALUES (?, ?)", [k, n])

    con.execute(
        "CREATE TABLE nation (n_nationkey INTEGER, n_name VARCHAR, n_regionkey INTEGER)"
    )
    for k, n, r in [
        (0, "NATION_0", 0),
        (1, "NATION_1", 0),
        (2, "NATION_2", 1),
        (3, "NATION_3", 1),
        (4, "NATION_LONELY", 0),  # no customers, no suppliers
    ]:
        con.execute("INSERT INTO nation VALUES (?, ?, ?)", [k, n, r])

    con.execute(
        "CREATE TABLE customer (c_custkey BIGINT, c_name VARCHAR, "
        "c_nationkey INTEGER, c_acctbal DOUBLE, c_mktsegment VARCHAR)"
    )
    for row in [
        (0, "Customer#000000000", 0, 100.0, "FURNITURE"),   # NO orders
        (1, "Customer#000000001", 0, 0.0, "MACHINERY"),     # many orders
        (2, "Customer#000000002", 1, -55.5, "AUTOMOBILE"),  # negative bal
        (3, "Customer#000000003", 1, 250.0, "FURNITURE"),
        (4, "Customer#000000003", 2, 250.0, "FURNITURE"),   # dup name+bal
        (5, "Customer#000000005", 2, 250.0, "MACHINERY"),   # bal tie
        (6, "Customer#000000006", 3, 1.0, "AUTOMOBILE"),
        (7, "Customer#000000007", 3, 2.0, "FURNITURE"),
        (8, "Customer#000000008", 0, 3.0, "MACHINERY"),
        (9, "Customer#000000009", 1, 4.0, "AUTOMOBILE"),
        (10, "Customer#000000010", 2, 5.0, "FURNITURE"),
        (11, "Customer#000000011", 3, 6.0, "MACHINERY"),
    ]:
        con.execute("INSERT INTO customer VALUES (?, ?, ?, ?, ?)", list(row))

    con.execute(
        "CREATE TABLE supplier (s_suppkey BIGINT, s_name VARCHAR, "
        "s_nationkey INTEGER, s_acctbal DOUBLE)"
    )
    for row in [
        (0, "Supplier#000000000", 0, 10.0),
        (1, "Supplier#000000001", 1, -3.25),
        (2, "Supplier#000000002", 2, 0.0),
        (3, "Supplier#000000003", 3, 10.0),  # never ships a lineitem
    ]:
        con.execute("INSERT INTO supplier VALUES (?, ?, ?, ?)", list(row))

    con.execute(
        "CREATE TABLE part (p_partkey BIGINT, p_name VARCHAR, p_brand VARCHAR, "
        "p_type VARCHAR, p_size INTEGER, p_retailprice DOUBLE)"
    )
    for row in [
        (0, "cold widget", "Brand#13", "ECONOMY", 1, 10.0),
        (1, "cold widget", "Brand#5", "PROMO", 2, 10.0),   # dup name, tie price
        (2, "large bolt", "Brand#13", "ECONOMY", 0, 25.5),  # size 0
        (3, "small bolt", "Brand#19", "STANDARD", 3, 99.99),
        (4, "free sample", "Brand#5", "PROMO", 4, 0.0),     # zero price
        (5, "never ordered", "Brand#19", "ECONOMY", 5, 7.0),
    ]:
        con.execute("INSERT INTO part VALUES (?, ?, ?, ?, ?, ?)", list(row))

    con.execute(
        "CREATE TABLE orders (o_orderkey BIGINT, o_custkey BIGINT, "
        "o_orderstatus VARCHAR, o_totalprice DOUBLE, o_orderdate TIMESTAMP, "
        "o_orderpriority VARCHAR)"
    )
    orders = [
        (0, 1, "F", 100.0, D(1995, 1, 1), PRIOS[0]),        # min boundary
        (1, 1, "F", 100.0, D(1996, 2, 29), PRIOS[1]),       # leap day, tie
        (2, 1, "O", 100.0, D(1999, 12, 31), PRIOS[2]),      # tie price
        (3, 1, "P", 0.0, D(2000, 1, 1), PRIOS[3]),          # zero price
        (4, 1, "F", 0.0, D(2000, 1, 31), PRIOS[4]),         # zero tie, month end
        (5, 1, "O", -50.0, D(2000, 2, 29), PRIOS[0]),       # negative, leap
        (6, 1, "F", 1234.56, D(2001, 7, 1), PRIOS[1]),
        (7, 1, "O", 1234.56, D(2001, 7, 15), PRIOS[2]),     # tie
        (8, 2, "F", 55.55, D(2001, 6, 30), PRIOS[3]),       # month boundary
        (9, 2, "O", 55.55, D(2001, 7, 1), PRIOS[4]),
        (10, 2, "P", 77.0, D(2001, 7, 31), PRIOS[0]),
        (11, 3, "F", 88.0, D(2001, 8, 1), PRIOS[1]),        # anchor max
        (12, 4, "O", 88.0, D(2001, 8, 1), PRIOS[2]),        # anchor max tie
        (13, 5, "F", 10.0, D(2001, 5, 15), PRIOS[3]),
        (14, 6, "O", 20.0, D(2001, 4, 15), PRIOS[4]),
        (15, 7, "F", 30.0, D(2001, 3, 15), PRIOS[0]),
        (16, 8, "O", 40.0, D(2001, 2, 15), PRIOS[1]),
        (17, 9, "F", 50.0, D(2001, 1, 15), PRIOS[2]),
        (18, 10, "O", 60.0, D(2000, 12, 15), PRIOS[3]),
        (19, 11, "P", 70.0, D(2000, 11, 15), PRIOS[4]),
        # orders WITHOUT lineitems (abandonment / join-miss paths)
        (20, 2, "O", 5.0, D(2001, 7, 2), PRIOS[0]),
        (21, 3, "O", 5.0, D(2001, 7, 3), PRIOS[1]),
        (22, 5, "P", 0.0, D(2001, 7, 4), PRIOS[2]),
        (23, 6, "F", 5.0, D(2001, 7, 5), PRIOS[3]),
        (24, 7, "O", 5.0, D(2001, 7, 6), PRIOS[4]),
        # same customer, same date, tie everything
        (25, 8, "O", 33.0, D(2001, 7, 10), PRIOS[0]),
        (26, 8, "O", 33.0, D(2001, 7, 10), PRIOS[0]),
        (27, 9, "F", 44.0, D(2001, 7, 20), PRIOS[1]),
        (28, 10, "O", 44.0, D(2001, 7, 20), PRIOS[2]),
        (29, 11, "F", 12.34, D(2001, 7, 25), PRIOS[3]),
    ]
    for row in orders:
        con.execute("INSERT INTO orders VALUES (?, ?, ?, ?, ?, ?)", list(row))

    con.execute(
        "CREATE TABLE lineitem (l_orderkey BIGINT, l_partkey BIGINT, "
        "l_suppkey BIGINT, l_linenumber INTEGER, l_quantity DOUBLE, "
        "l_extendedprice DOUBLE, l_discount DOUBLE, l_tax DOUBLE, "
        "l_returnflag VARCHAR, l_linestatus VARCHAR, l_shipdate TIMESTAMP)"
    )
    lineitems = [
        # co-purchase pattern: parts 0+1 together three times
        (0, 0, 0, 1, 1.0, 10.0, 0.0, 0.0, "N", "O", D(1995, 1, 5)),
        (0, 1, 0, 2, 2.0, 20.0, 0.0, 0.0, "N", "O", D(1995, 1, 5)),
        (1, 0, 1, 1, 1.0, 10.0, 0.5, 0.1, "R", "F", D(1996, 3, 1)),
        (1, 1, 1, 2, 1.0, 10.0, 1.0, 0.0, "A", "F", D(1996, 3, 1)),  # 100% disc
        (2, 0, 0, 1, 0.0, 0.0, 0.0, 0.0, "N", "O", D(1999, 12, 31)),  # zeros
        (2, 1, 2, 2, 3.0, 30.0, 0.25, 0.05, "N", "O", D(2000, 1, 2)),
        (3, 2, 0, 1, 1.0, 25.5, 0.0, 0.0, "R", "O", D(1999, 12, 30)),  # ships early
        (4, 2, 1, 1, 2.0, 51.0, 0.1, 0.02, "A", "F", D(2000, 2, 5)),
        (5, 3, 2, 1, 1.0, 99.99, 0.0, 0.0, "N", "O", D(2000, 3, 1)),
        (6, 3, 0, 1, 4.0, 399.96, 0.2, 0.08, "R", "F", D(2001, 7, 3)),
        (6, 4, 1, 2, 1.0, 0.0, 0.0, 0.0, "N", "O", D(2001, 7, 3)),
        (6, 0, 2, 3, 1.0, 10.0, 0.0, 0.0, "N", "O", D(2001, 7, 4)),
        (7, 0, 0, 1, 1.0, 10.0, 0.0, 0.0, "A", "O", D(2001, 7, 16)),
        (7, 0, 1, 2, 1.0, 10.0, 0.0, 0.0, "A", "O", D(2001, 7, 16)),  # same part 2x
        (8, 1, 2, 1, 2.0, 20.0, 0.15, 0.03, "N", "F", D(2001, 7, 1)),
        (9, 2, 0, 1, 1.0, 25.5, 0.0, 0.0, "R", "O", D(2001, 7, 2)),
        (10, 3, 1, 1, 1.0, 99.99, 0.05, 0.01, "N", "O", D(2001, 8, 1)),
        (11, 4, 2, 1, 10.0, 0.0, 0.0, 0.0, "N", "O", D(2001, 8, 2)),
        (12, 0, 0, 1, 1.0, 10.0, 0.0, 0.0, "N", "O", D(2001, 8, 2)),
        (13, 1, 1, 1, 1.0, 10.0, 0.0, 0.0, "R", "F", D(2001, 5, 16)),
        (14, 2, 2, 1, 1.0, 25.5, 0.0, 0.0, "N", "O", D(2001, 4, 16)),
        (15, 3, 0, 1, 1.0, 99.99, 0.0, 0.0, "A", "F", D(2001, 3, 16)),
        (16, 0, 1, 1, 5.0, 50.0, 0.5, 0.1, "N", "O", D(2001, 2, 16)),
        (17, 1, 2, 1, 1.0, 10.0, 0.0, 0.0, "R", "O", D(2001, 1, 16)),
        (18, 2, 0, 1, 1.0, 25.5, 0.0, 0.0, "N", "F", D(2000, 12, 16)),
        (19, 3, 1, 1, 1.0, 99.99, 0.0, 0.0, "A", "O", D(2000, 11, 16)),
        (25, 0, 0, 1, 1.0, 10.0, 0.0, 0.0, "N", "O", D(2001, 7, 11)),
        (25, 1, 0, 2, 1.0, 10.0, 0.0, 0.0, "N", "O", D(2001, 7, 11)),
        (26, 0, 1, 1, 1.0, 10.0, 0.0, 0.0, "N", "O", D(2001, 7, 11)),
        (26, 1, 1, 2, 1.0, 10.0, 0.0, 0.0, "N", "O", D(2001, 7, 11)),
        (27, 2, 2, 1, 1.0, 25.5, 0.0, 0.0, "R", "F", D(2001, 7, 21)),
        (28, 3, 0, 1, 1.0, 99.99, 0.0, 0.0, "N", "O", D(2001, 7, 21)),
        (29, 4, 1, 1, 2.0, 0.0, 0.0, 0.0, "N", "O", D(2001, 7, 26)),
    ]
    for row in lineitems:
        con.execute(
            "INSERT INTO lineitem VALUES (?, ?, ?, ?, ?, ?, ?, ?, ?, ?, ?)",
            list(row),
        )

    con.execute(
        "CREATE TABLE events (event_id BIGINT, ts TIMESTAMP, user_id BIGINT, "
        "event_type VARCHAR, value DOUBLE, props VARCHAR)"
    )
    ev: list[tuple] = []

    def e(ts, uid, typ, val, props='{"k": 1}'):
        ev.append((len(ev), ts, uid, typ, val, props))

    B = D(2024, 1, 5)
    # u100: single event, boundary-exact timestamp
    e(B + timedelta(hours=10), 100, "view", 1.0, '{"k": 0}')
    # u101: constant value within one hour (stddev 0), identical timestamps
    for _ in range(8):
        e(B + timedelta(hours=20, minutes=5), 101, "click", 5.0, '{"k": 2}')
    for i in range(4):
        e(B + timedelta(hours=20, minutes=30 + i), 101, "view", 5.0, "{}")
    # u102: events exactly at hour boundaries, funnel in order
    e(B + timedelta(days=1, hours=9), 102, "view", 2.5, '{"k": null}')
    e(B + timedelta(days=1, hours=10), 102, "click", 3.5, '{"other": 7}')
    e(B + timedelta(days=1, hours=11), 102, "purchase", 100.0, '{"k": -3}')
    e(B + timedelta(days=1, hours=12), 102, "signup", 0.0, '{"k": 4}')
    # u103: session gaps (>30m), retention across days, reversed funnel
    e(B + timedelta(days=2, hours=8, minutes=0), 103, "purchase", 9.99)
    e(B + timedelta(days=2, hours=8, minutes=10), 103, "click", 1.25)
    e(B + timedelta(days=2, hours=9, minutes=0), 103, "view", 0.75)
    e(B + timedelta(days=3, hours=8), 103, "view", 0.5)
    e(B + timedelta(days=5, hours=8), 103, "error", 0.0)
    # u104: negative values, cents rounding boundaries (-1.005!)
    e(B + timedelta(days=3, hours=14), 104, "purchase", -1.005)
    e(B + timedelta(days=3, hours=14, minutes=1), 104, "purchase", 0.005)
    e(B + timedelta(days=3, hours=14, minutes=2), 104, "view", -327.53)
    e(B + timedelta(days=3, hours=15), 104, "click", 2.675)
    # u105: duplicate (user, ts, type) with different ids (dedup stress)
    t0 = B + timedelta(days=4, hours=11, minutes=30)
    e(t0, 105, "view", 1.1)
    e(t0, 105, "view", 1.1)
    e(t0, 105, "click", 1.1)
    e(B + timedelta(days=4, hours=23, minutes=59, seconds=59), 105, "purchase", 42.0)
    # u106: spread for gapfill/rolling (one event per day)
    for d in range(7):
        e(B + timedelta(days=d, hours=6), 106, "view", float(d))
    # custkey-matching users (3, 5): the stream-static nation enrichment
    # is non-vacuous, with click->purchase pairs AT the attribution
    # boundaries (exactly 30 minutes before, and exactly at, the
    # purchase) and a cents-boundary purchase value (-1.005)
    e(B + timedelta(days=6, hours=9), 3, "click", 1.0)
    e(B + timedelta(days=6, hours=9, minutes=30), 3, "purchase", -1.005)
    e(B + timedelta(days=6, hours=9, minutes=45), 3, "purchase", 2.675)
    e(B + timedelta(days=6, hours=10), 5, "view", 5.0)
    e(B + timedelta(days=6, hours=11), 5, "click", 0.5)
    e(B + timedelta(days=6, hours=11), 5, "purchase", 3.335)
    # u107: degenerate props payloads — the JSON contract (round-13 fuzz):
    # only a JSON INTEGER k counts; strings/floats/bools/null/missing and
    # malformed or empty props all yield NULL k on both engines
    for i, props in enumerate(
        ["{k:", "", '{"k": "x"}', '{"k": "5"}', '{"k": 2.7}',
         '{"k": true}', '{"k": -7}', "[1, 2]", '"scalar"',
         # 2^63: passes the digit regex but overflows BIGINT — DuckDB
         # CAST would abort where Spark's from_json yields NULL (the
         # TRY_CAST in _K_SQL); round-13 review find
         '{"k": 9223372036854775808}']
    ):
        e(B + timedelta(days=6, hours=15, minutes=i), 107, "view", 1.0, props)
    # u108 (r14 fuzz): session-gap boundary chain — each next event EXACTLY
    # prev+30m (MERGES, the measured strict-> rule r13 pinned), then one
    # 30m+1us later (SPLITS); the 12:00/12:30 pair also lands in one hour
    # bucket while 13:00 sits exactly ON the next hour boundary
    t30 = B + timedelta(days=2, hours=12)
    e(t30, 108, "view", 1.0)
    e(t30 + timedelta(minutes=30), 108, "click", 2.0)
    e(t30 + timedelta(minutes=60), 108, "purchase", 3.0)
    e(t30 + timedelta(minutes=90, microseconds=1), 108, "view", 4.0)
    # u109 (r14 fuzz): duplicate rows EXACTLY on an hour boundary (window
    # edge) with tied values, plus the negated tie
    hb = B + timedelta(days=2, hours=15)
    e(hb, 109, "view", 7.25)
    e(hb, 109, "view", 7.25)
    e(hb, 109, "click", -7.25)
    # u110 (r14 fuzz): ALL events share one timestamp — total ties across
    # type/session/window paths, with cents-boundary values; the second
    # signup hour this adds makes signup's hourly counts CONSTANT across
    # hours (stddev_samp = 0), the case that caught events_hourly_anomaly
    # dividing by zero under ANSI where DuckDB yields NULL
    t1 = B + timedelta(days=3, hours=3, minutes=33)
    for typ, v in [
        ("view", 0.005),
        ("click", 0.005),
        ("purchase", -0.005),
        ("signup", 1.115),
    ]:
        e(t1, 110, typ, v)
    for row in ev:
        con.execute("INSERT INTO events VALUES (?, ?, ?, ?, ?, ?)", list(row))

    con.execute(
        "CREATE TABLE embeddings (vec_id BIGINT, embedding FLOAT[], label INTEGER)"
    )
    DIM = 64
    base = [((j * 13 + 5) % 17 - 8) / 8.0 for j in range(DIM)]
    near = list(base)
    near[0] += 0.001
    vecs = [
        (0, [0.0] * DIM, 0),            # zero vector (zero norm)
        (1, base, 1),
        (2, list(base), 1),             # exact duplicate
        (3, [-x for x in base], 2),     # negated (cosine -1)
        (4, near, 2),                   # near-duplicate
        (5, [0.5] * DIM, 3),            # constant vector
    ] + [
        (i, [(((i * 7 + j * 13) % 19) - 9) / 9.0 for j in range(DIM)], i % 10)
        for i in range(6, 60)
    ] + [
        # r14 fuzz: float32-DENORMAL components (duplicate pair + negated)
        # and the int8-quantizer extremes as exactly-representable
        # constants (duplicate under another label). Non-FINITE and
        # NULL components are OUT OF CONTRACT — see
        # test_nonfinite_embedding_components_are_out_of_contract.
        (60, [1e-42] * DIM, 7),
        (61, [1e-42] * DIM, 7),
        (62, [127.0] * DIM, 8),
        (63, [-1e-42] * DIM, 8),
        (64, [127.0] * DIM, 9),
        (65, [-127.0] * DIM, 9),
    ]
    for vid, v, lab in vecs:
        con.execute("INSERT INTO embeddings VALUES (?, ?, ?)", [vid, v, lab])

    from tests.test_fuzz_parity import ADVERSARIAL_DOCS

    con.execute(
        "CREATE TABLE documents (doc_id BIGINT, text VARCHAR, lang VARCHAR, "
        "source VARCHAR, n_chars BIGINT)"
    )
    for i, (text, lang, source) in enumerate(ADVERSARIAL_DOCS):
        con.execute(
            "INSERT INTO documents VALUES (?, ?, ?, ?, ?)",
            [i, text, lang, source, len(text)],
        )

    for t in TABLES:
        con.execute(f"COPY {t} TO '{path}/{t}.parquet' (FORMAT PARQUET)")
    con.close()


@pytest.fixture(scope="module")
def fuzz_rel_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("fuzzrel")
    build_fixture(str(d))
    return str(d)


def _relational_names():
    """Every oracle-backed query that is NOT documents-only (those are
    fuzzed by tests/test_fuzz_parity.py) and not format/stream-scoped."""
    import __spark_entry__ as entry

    oracles = entry.oracle_sql()
    other = [t for t in TABLES if t != "documents"]
    names = []
    for n, sql in sorted(oracles.items()):
        if n.startswith(SKIP_PREFIXES) or n in CONTRACT_EXCLUDED:
            continue
        low = sql.lower()
        docs_only = "documents" in low and not any(
            re.search(rf"\b{t}\b", low) for t in other
        )
        # streaming twins run here even when documents-only (the docs
        # fuzz module skips streams): streaming_parity_incremental_dedup
        # would otherwise be fuzzed nowhere
        if not docs_only or n.startswith("streaming_"):
            names.append(n)
    return names


def test_fuzz_fixture_covers_the_relational_surface():
    # 85 after the r14 consolidations (4 standalone registrations became
    # 2 multi-row surfaces) plus scd2_cdc_apply — every leg still runs,
    # inside its consolidated surface
    assert len(_relational_names()) >= 85


def test_adversarial_relational_oracle_parity(spark, fuzz_rel_dir):
    outcomes = run(spark, _relational_names(), fuzz_rel_dir)
    bad = [str(oc) for oc in outcomes if oc.status != "match"]
    assert bad == []


def test_nonfinite_embedding_components_are_out_of_contract():
    """Why the r14 embedding fuzz stops at denormals: non-finite and NULL
    vector components have no oracle-alignable semantics, measured (an
    sf-style probe with NaN/Inf vectors spliced in diverged on 10 of the
    16 embedding-reading queries at once):

    - NULL components ABORT DuckDB's cosine kernel outright and Inf
      components abort its STDDEV — engine-level errors like bare
      json_extract on malformed JSON (r13), but here un-gateable without
      rewriting every embedding oracle;
    - NaN components do NOT abort: DuckDB's list_cosine_similarity CLAMPS
      the result to -1.0 while Spark's expression arithmetic propagates
      NaN, numpy kernels rank NaN below every threshold while both SQL
      engines rank it ABOVE (NaN >= 0.4 is TRUE in both) — three
      mutually-incompatible semantics across the plan's layers.

    The contract is therefore INGEST-side: embedding components must be
    finite and non-NULL (the driver fixtures satisfy it — FIXTURES.md; a
    production pipeline enforces it at ingest, the approx_price_percentiles
    group-size-contract precedent). This test pins the measured engine
    behaviors the decision is built on, so a DuckDB upgrade that changes
    any of them reopens the decision visibly."""
    import duckdb

    con = duckdb.connect()
    # NaN / Inf do not abort — they CLAMP to -1.0 (un-alignable with
    # Spark's NaN propagation)
    assert con.execute(
        "SELECT list_cosine_similarity(['NaN'::FLOAT, 1.0::FLOAT], "
        "[1.0::FLOAT, 1.0::FLOAT])"
    ).fetchone() == (-1.0,)
    assert con.execute(
        "SELECT list_cosine_similarity(['Infinity'::FLOAT, 1.0::FLOAT], "
        "[1.0::FLOAT, 1.0::FLOAT])"
    ).fetchone() == (-1.0,)
    # both SQL engines order NaN above every threshold (numpy does not)
    assert con.execute("SELECT 'NaN'::DOUBLE >= 0.4").fetchone() == (True,)
    # NULL components abort the cosine kernel
    with pytest.raises(duckdb.Error, match="can not contain NULL"):
        con.execute(
            "SELECT list_cosine_similarity([NULL::FLOAT, 1.0::FLOAT], "
            "[1.0::FLOAT, 0.0::FLOAT])"
        ).fetchall()
    # Inf components abort aggregate moments
    with pytest.raises(duckdb.Error, match="out of range"):
        con.execute(
            "SELECT stddev_pop(x) FROM "
            "(SELECT unnest(['Infinity'::FLOAT, 1.0::FLOAT]) AS x)"
        ).fetchall()
    # Division semantics the try_divide parity fixes ride on (ADVICE r14):
    # the installed DuckDB returns NULL for x/0 — matching Spark's
    # try_divide — but newer DuckDB defaults ieee_floating_point_ops=true,
    # making 0.0/0.0 NaN and 1.0/0.0 Inf. If an upgrade flips these, the
    # events_hourly_anomaly / gapfill / textstats try_divide alignments
    # need re-adjudication — fail HERE with a clear signal, not via a
    # fuzz-parity hash diff.
    assert con.execute("SELECT 1.0/0.0 IS NULL").fetchone() == (True,)
    assert con.execute("SELECT 0.0/0.0 IS NULL").fetchone() == (True,)


def test_tenth_cent_money_is_out_of_contract(spark):
    """r18 random-warehouse sweep finding (``tools/parity_names.py
    --perturb fuzz-rel``, seed 200): tenth-cent values in MONEY columns
    (o_totalprice, c_acctbal, s_acctbal, p_retailprice, l_extendedprice) put
    ``ROUND(agg, 2)`` outputs exactly ON a .005 rounding boundary, where
    Spark (shortest-decimal-repr HALF_UP) and DuckDB (exact-binary)
    round apart — ``cube_order_summary`` read 1237.24 vs 1237.23 and
    ``orders_incremental_merge`` -1.01 vs -1.0 on a warehouse whose
    totalprice pool included -1.005/2.675. Money columns are CENT-GRAIN
    at ingest — an INGEST-side contract like key non-NULLness and
    embedding finiteness, and a MEASURED property of every shipped
    fixture (asserted below): the exact sum of cent-grain values is
    itself a cent point, boundaries are the odd multiples of 0.005, so
    a float sum landing within ~1e-9 of a cent point rounds identically
    on both engines. ``events.value`` is the documented exception
    (tenth-cent allowed): its query surfaces are integer-cents
    formulations (the r7/r13 rule), fuzzed with 3dp values by the
    curated fixture above.

    Pins: (1) the engine-level divergence witness on the boundary value,
    (2) the cent-grain measurement on the shipped sf0.001 fixture."""
    got = spark.sql(
        "SELECT ROUND(CAST(-1.005 AS DOUBLE), 2) AS r"
    ).collect()[0][0]
    assert got == -1.01, got  # shortest-repr '-1.005' -> HALF_UP -> -1.01
    duck = (
        duckdb.connect()
        .execute("SELECT ROUND(CAST(-1.005 AS DOUBLE), 2)")
        .fetchone()[0]
    )
    assert duck == -1.0, duck  # exact binary -1.00499999... -> -1.0

    con = duckdb.connect()
    for col, tbl in [
        ("o_totalprice", "orders"),
        ("c_acctbal", "customer"),
        ("s_acctbal", "supplier"),
        ("p_retailprice", "part"),
        ("l_extendedprice", "lineitem"),
    ]:
        dist = con.execute(
            f"SELECT MAX(ABS(ROUND({col}*100) - {col}*100)) "
            f"FROM '/root/testdata/sf0.001/{tbl}.parquet'"
        ).fetchone()[0]
        assert dist < 1e-6, (tbl, col, dist)
    con.close()


def test_integer_average_scale4_boundary_contract(spark, tmp_path):
    """Scale-4 sibling of tests/test_fuzz_parity.py::
    test_integer_average_boundary_contract: a group of 800 events whose
    k-sum is -2599 averages exactly -3.24875 — ON the scale-4 boundary,
    where ROUND(AVG(k), 4) rounded apart (DuckDB -3.2487 vs Spark
    -3.2488) until events_json_extract moved to the integer-grain
    formulation (SUM(k)*10^4 / COUNT(k), scale-0 ROUND — denominator
    COUNT(k), matching AVG's NULL-skipping, exercised here by an
    all-NULL-k group)."""
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE events (event_id BIGINT, ts TIMESTAMP, "
        "user_id BIGINT, event_type VARCHAR, value DOUBLE, props VARCHAR)"
    )
    B = datetime(2024, 1, 5)
    i = 0
    for j in range(800):
        k = -1800 if j == 0 else -1  # sum = -2599
        con.execute(
            "INSERT INTO events VALUES (?,?,?,?,?,?)",
            [i, B + timedelta(seconds=i), 100, "view", 1.0,
             f'{{"k": {k}}}'],
        )
        i += 1
    for _ in range(5):  # all-NULL-k group (malformed props)
        con.execute(
            "INSERT INTO events VALUES (?,?,?,?,?,?)",
            [i, B + timedelta(seconds=i), 101, "click", 1.0, '{"k": "x"}'],
        )
        i += 1
    d = str(tmp_path)
    con.execute(f"COPY events TO '{d}/events.parquet' (FORMAT PARQUET)")
    con.close()

    (oc,) = run(spark, ["events_json_extract"], d)
    assert oc.status == "match", str(oc)
    srows = oc.rows
    assert ("view", "800", "-2599", "-3.2488") in srows, srows
    assert ("click", "5", "None", "None") in srows, srows
