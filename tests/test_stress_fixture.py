"""tools/make_stress_fixture.py builds the decorrelated K× replicas the
SCALE.md §Growth curves are measured on — pin its invariants."""

from __future__ import annotations

import duckdb

from tools.make_stress_fixture import main as make_fixture


def test_stress_fixture_invariants(tmp_path):
    src = "/root/testdata/sf0.001"
    out = str(tmp_path / "k2")
    make_fixture(src, 2, out)
    con = duckdb.connect()
    for t in ("orders", "lineitem", "documents", "embeddings"):
        n_src = con.sql(f"SELECT COUNT(*) FROM '{src}/{t}.parquet'").fetchone()[0]
        n_out = con.sql(f"SELECT COUNT(*) FROM '{out}/{t}.parquet'").fetchone()[0]
        assert n_out == 2 * n_src, t
    # key spaces disjoint: replicated ids unique
    for t, k in (("orders", "o_orderkey"), ("documents", "doc_id"),
                 ("embeddings", "vec_id")):
        dup = con.sql(
            f"SELECT COUNT(*) - COUNT(DISTINCT {k}) FROM '{out}/{t}.parquet'"
        ).fetchone()[0]
        assert dup == 0, t
    # replica vocabularies disjoint (the decorrelation property)
    overlap = con.sql(f"""
        WITH toks AS (
            SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS tok
            FROM '{out}/documents.parquet'
        ),
        r0 AS (SELECT DISTINCT tok FROM toks WHERE doc_id < 1000),
        r1 AS (SELECT DISTINCT tok FROM toks WHERE doc_id >= 1000)
        SELECT COUNT(*) FROM r0 JOIN r1 USING (tok)
    """).fetchone()[0]
    assert overlap == 0
    # embedding shift preserves the multiset of values per vector (norms)
    drift = con.sql(f"""
        WITH s AS (SELECT vec_id, list_sum(list_transform(CAST(embedding AS DOUBLE[]),
                       x -> x * x)) AS sq
                   FROM '{src}/embeddings.parquet'),
        o AS (SELECT vec_id, list_sum(list_transform(CAST(embedding AS DOUBLE[]),
                       x -> x * x)) AS sq
              FROM '{out}/embeddings.parquet')
        SELECT MAX(ABS(s.sq - o.sq))
        FROM s JOIN o ON o.vec_id = s.vec_id + 1000
    """).fetchone()[0]
    assert drift < 1e-9


def test_stress_fixture_events_replicated(tmp_path):
    """Round-7: events are replicated into disjoint user/event key spaces
    over the SAME time span — volume scales, per-user series shape does
    not (the honest growth input for the event-time family)."""
    src = "/root/testdata/sf0.001"
    out = str(tmp_path / "k2e")
    make_fixture(src, 2, out)
    con = duckdb.connect()
    n_src = con.sql(f"SELECT COUNT(*) FROM '{src}/events.parquet'").fetchone()[0]
    n_out = con.sql(f"SELECT COUNT(*) FROM '{out}/events.parquet'").fetchone()[0]
    assert n_out == 2 * n_src
    dup = con.sql(
        f"SELECT COUNT(*) - COUNT(DISTINCT event_id) FROM '{out}/events.parquet'"
    ).fetchone()[0]
    assert dup == 0
    # user populations double; the time span is untouched
    u_src, t0s, t1s = con.sql(
        f"SELECT COUNT(DISTINCT user_id), MIN(ts), MAX(ts) FROM '{src}/events.parquet'"
    ).fetchone()
    u_out, t0o, t1o = con.sql(
        f"SELECT COUNT(DISTINCT user_id), MIN(ts), MAX(ts) FROM '{out}/events.parquet'"
    ).fetchone()
    assert u_out == 2 * u_src
    assert (t0o, t1o) == (t0s, t1s)


def test_stress_fixture_events_users_align_with_customers(tmp_path):
    """user_id is a customer key: replica events must reference their OWN
    replica's customers (round-7 review: an independent user_id offset put
    replica-1 users inside the base customer range, silently crossing
    replicas on the events->customer join)."""
    src = "/root/testdata/sf0.001"
    out = str(tmp_path / "k2u")
    make_fixture(src, 2, out)
    con = duckdb.connect()
    orphans = con.sql(f"""
        SELECT COUNT(*) FROM '{out}/events.parquet' e
        WHERE NOT EXISTS (SELECT 1 FROM '{out}/customer.parquet' c
                          WHERE c.c_custkey = e.user_id)
    """).fetchone()[0]
    assert orphans == 0
    # replica-1 events must reference replica-1 customers, not base ones
    c_off = con.sql(f"""
        SELECT MIN(user_id) FROM '{out}/events.parquet'
        WHERE event_id >= (SELECT MAX(event_id) FROM '{src}/events.parquet') + 1
    """).fetchone()[0]
    base_max = con.sql(
        f"SELECT MAX(c_custkey) FROM '{src}/customer.parquet'"
    ).fetchone()[0]
    assert c_off > base_max
