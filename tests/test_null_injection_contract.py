"""NULL-injection contract (round 18): every oracle-backed query run
against a warehouse whose non-key ATTRIBUTE/MEASURE columns are NULL on a
deterministic subset of rows (the degenerate class the fixtures never
exercise — FIXTURES.md pins "no NULLs in base columns; NULL paths come
from join misses", but a 100 TB deployment meets nullable measures,
statuses, and dangling FKs as a matter of course) must AGREE with its
DuckDB oracle.

Measured r18 (probe-then-pin, the r13/r15 protocol), three probes:
relational attributes/measures/FKs, then dates, then
documents/embeddings. On the attribute warehouse **146/147 oracle pairs
agree bit-for-bit** — no ANSI kills, no NULL-group drift, no
aggregate-skip divergence, no concat/coalesce surprises; NULL
text/lang/source/n_chars/label are equally clean across the whole
text/SQL surface, while the 13 multimodal codec witnesses (payloads
synthesized FROM text) raise the loud fixture-convention error — probe
#3 originally found a bare AttributeError in their Arrow kernels, fixed
at _witness_text_bytes plus a JVM-side raise in attach_fake_media. The
single value divergence is the ALREADY-documented
`approx_price_percentiles` acceptance-interval contract (ADVICE r9,
analytics_ext.py): the injected NULL o_orderstatus rows form a new
~115-row group, below the ~1/PCT_RANK_EPS (~200) minimum the ok_*
self-audit booleans require — the sketch percentile VALUES still match
exactly; only the audit booleans flip on the undersized group. Pinned
precisely that way below, so a real sketch regression on NULL groups
cannot hide behind the exclusion.

Contract boundary (mirrors the embedding-finiteness rule): KEYS, event
timestamps, dates, and document text are INGEST-side contracts — a
pipeline validates identity/time NOT NULL at ingest (session state and
the landing anti-join are keyed on them), so they are deliberately not
injected here. Attribute/measure/FK columns ARE in contract and
injected: join-miss-via-NULL-key equi-join semantics, NULL-skipping
aggregates, NULL GROUP BY buckets, and NULL ordering are all aligned by
measurement.

The date exclusion is MEASURED, not assumed (r18 probe #2, NULLs in
o_orderdate/l_shipdate): exactly 4 names diverge —
`monthly_order_trend_lag`, `scd2_cdc_apply`, `scd2_customer_history`,
`zorder_file_skipping` — and all four reduce to ONE structural engine
difference: an ASC window/sort ORDER BY places NULL FIRST in Spark and
LAST in DuckDB by default, shifting lag() chains, SCD2 interval builds,
and ntile file assignment wherever a date feeds an implicit-default
ORDER BY. That default divergence is pinned below
(test_null_date_window_placement_diverges) so an engine upgrade that
moves it fails HERE, not in a driver hash check; CLAUDE.md's
explicit-NULLS-FIRST/LAST rule for every top-level oracle ORDER BY is
the same class.
"""

from __future__ import annotations

import duckdb
import pytest

from databricks_spark_sql_challenge1_spark.catalog import TABLES
from tools.parity_names import run

# (column, deterministic row predicate) per table — non-key attributes,
# measures, and FKs only (see the contract boundary in the module doc).
INJECT = {
    "orders": [
        ("o_totalprice", "o_orderkey % 7 = 3"),
        ("o_orderpriority", "o_orderkey % 11 = 5"),
        ("o_orderstatus", "o_orderkey % 13 = 6"),
    ],
    "lineitem": [
        ("l_quantity", "l_orderkey % 7 = 2"),
        ("l_extendedprice", "l_orderkey % 9 = 4"),
        ("l_discount", "l_orderkey % 11 = 1"),
        ("l_returnflag", "l_orderkey % 13 = 3"),
    ],
    "customer": [
        ("c_acctbal", "c_custkey % 7 = 2"),
        ("c_mktsegment", "c_custkey % 9 = 1"),
        ("c_nationkey", "c_custkey % 11 = 4"),  # dangling FK via NULL
    ],
    "part": [
        ("p_retailprice", "p_partkey % 7 = 5"),
        ("p_brand", "p_partkey % 9 = 2"),
    ],
    "supplier": [
        ("s_acctbal", "s_suppkey % 5 = 1"),
        ("s_nationkey", "s_suppkey % 7 = 3"),
    ],
    "events": [
        ("value", "event_id % 7 = 1"),
        ("event_type", "event_id % 11 = 2"),
        ("props", "event_id % 13 = 4"),
    ],
    "documents": [
        ("text", "doc_id % 13 = 7"),
        ("lang", "doc_id % 11 = 3"),
        ("source", "doc_id % 9 = 2"),
        ("n_chars", "doc_id % 17 = 5"),
    ],
    "embeddings": [
        ("label", "vec_id % 7 = 2"),
    ],
}

# Measured r18 (probe #3): the TEXT-analysis surface is bit-exact on
# NULL text/lang/source/n_chars (split/lower/levenshtein/length all
# NULL-propagate identically; NULL lang groups align), but the
# multimodal codec witnesses SYNTHESIZE their payloads from the text —
# a NULL-text document has no defined payload, so the whole family must
# raise the loud fixture-convention error (the same class as the
# non-ASCII guard; the probe originally found a bare AttributeError in
# the Arrow kernel, fixed in multimodal._witness_text_bytes and the
# attach_fake_media JVM guard).
MULTIMODAL_PREFIX = "multimodal_"
CONVENTION_ERR = "convention"

# The one measured divergence class: the NULL o_orderstatus group is far
# below the documented ~200-row acceptance-interval minimum, so the ok_*
# self-audit booleans may flip — the percentile VALUES must still match
# (asserted column-exactly in the test body, not skipped).
AUDIT_BOOL_CONTRACT = {"approx_price_percentiles": ("ok_p50", "ok_p90", "ok_p99")}


@pytest.fixture(scope="module")
def null_dir(tmp_path_factory):
    d = str(tmp_path_factory.mktemp("nullwh"))
    con = duckdb.connect()
    src = "/root/testdata/sf0.001"
    for t in TABLES:
        cols = [
            r[0]
            for r in con.execute(
                f"DESCRIBE SELECT * FROM '{src}/{t}.parquet'"
            ).fetchall()
        ]
        rules = dict(INJECT.get(t, []))
        sel = [
            f"CASE WHEN {rules[c]} THEN NULL ELSE {c} END AS {c}"
            if c in rules
            else c
            for c in cols
        ]
        con.execute(
            f"COPY (SELECT {', '.join(sel)} FROM '{src}/{t}.parquet') "
            f"TO '{d}/{t}.parquet' (FORMAT PARQUET)"
        )
    # the injection must be non-vacuous for every rule (a fixture-shape
    # change that silently empties a predicate would hollow the contract)
    for t, rules in INJECT.items():
        for c, _p in rules:
            n = con.execute(
                f"SELECT count(*) FROM '{d}/{t}.parquet' WHERE {c} IS NULL"
            ).fetchone()[0]
            assert n > 0, f"injection vacuous: {t}.{c}"
    con.close()
    return d


def _drop_columns(queries, oracles, contract):
    """The registry with each ``contract`` name's columns dropped on both
    sides (Spark ``drop``, DuckDB ``EXCLUDE``)."""
    queries, oracles = dict(queries), dict(oracles)
    for name, cols in contract.items():
        base = queries[name]
        queries[name] = lambda s, d, base=base, cols=cols: base(s, d).drop(*cols)
        oracles[name] = (
            f"SELECT * EXCLUDE ({', '.join(cols)}) FROM ({oracles[name]})"
        )
    return queries, oracles


def test_null_injection_oracle_parity(spark, null_dir):
    import __spark_entry__ as entry

    o = entry.oracle_sql()
    queries, oracles = _drop_columns(entry.queries(), o, AUDIT_BOOL_CONTRACT)
    bad = []
    raised_convention = []
    for oc in run(spark, sorted(o), null_dir, queries=queries, oracles=oracles):
        if oc.name.startswith(MULTIMODAL_PREFIX):
            if oc.status == "spark-error" and CONVENTION_ERR in str(oc.error):
                raised_convention.append(oc.name)
            else:
                bad.append((oc.name, "expected the NULL-text convention error"))
        # ordered compare under a top-level ORDER BY: every oracle spells
        # NULLS FIRST on its ascending NULL-able sort keys (Spark's ASC
        # default; DuckDB's differs, the root cause pinned in
        # test_null_date_window_placement_diverges)
        elif oc.status != "match":
            bad.append(str(oc))
    assert bad == []
    # the whole codec-witness family must hit the loud convention error —
    # a silent pass would mean a NULL payload slipped through a kernel
    assert len(raised_convention) >= 13, raised_convention


def test_null_date_window_placement_diverges(spark):
    """The measured root cause of the NULL-DATE exclusion (module doc):
    the IDENTICAL windowed SQL places a NULL date FIRST under Spark's
    default ASC ordering and LAST under DuckDB's — so every implicit
    window ORDER BY over a nullable date is structurally un-alignable,
    which is exactly the four-name divergence set the r18 date probe
    measured. Pinned so an engine-default change surfaces here."""
    sql = (
        "SELECT v, lag(v) OVER (ORDER BY d) AS l FROM {src} ORDER BY v"
    )
    spark_rows = [
        (r["v"], r["l"])
        for r in spark.sql(
            sql.format(
                src="VALUES (1, DATE '2001-01-01'), (2, CAST(NULL AS DATE)), "
                "(3, DATE '2001-02-01') t(v, d)"
            )
        ).collect()
    ]
    con = duckdb.connect()
    duck_rows = con.execute(
        sql.format(
            src="(VALUES (1, DATE '2001-01-01'), (2, NULL), "
            "(3, DATE '2001-02-01')) t(v, d)"
        )
    ).fetchall()
    con.close()
    # Spark: NULL sorts FIRST -> the NULL-date row leads the frame
    assert spark_rows == [(1, 2), (2, None), (3, 1)]
    # DuckDB: NULL sorts LAST -> the NULL-date row trails the frame
    assert duck_rows == [(1, None), (2, 3), (3, 1)]
