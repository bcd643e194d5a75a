"""Guards against parquet-decode drift for the events fixture.

``events.parquet`` is TIMESTAMP(NANOS); how Spark decodes it has already
changed once under us (nanosAsLong-honored ``bigint`` on Spark ≤4.0 →
``timestamp_ntz`` on 4.1+, which ignores the legacy conf). ``catalog.
load_table`` must normalize every decoding to a plain ``timestamp`` —
these tests fail loudly on the next drift instead of erroring 20 queries
deep in a driver run.
"""

from __future__ import annotations

import ast
import datetime as dt
import os
import pathlib
import re

from pyspark.sql import functions as F

from databricks_spark_sql_challenge1_spark import catalog
from databricks_spark_sql_challenge1_spark.catalog import load_table
from tests.conftest import SF_DIR


def test_events_ts_is_timestamp(spark):
    """Whatever the parquet decodes to (bigint / ntz / tz), load_table must
    hand out a plain TIMESTAMP ts — unix_micros, watermarks, and long casts
    all require it."""
    df = load_table(spark, SF_DIR, "events")
    assert dict(df.dtypes)["ts"] == "timestamp"
    # and it must be usable by the functions that broke in round 3
    row = df.select(
        F.unix_micros("ts").alias("us"),
        F.col("ts").cast("long").alias("es"),
    ).first()
    assert row["us"] == row["es"] * 1_000_000 + (row["us"] % 1_000_000)


def test_events_ts_values_match_duckdb_truncation(spark, duck):
    """The healed ts must equal DuckDB's ns→us view of the same parquet
    (UTC, microsecond truncation) — this pins the *values*, not just the
    dtype, so a wrong-timezone cast can't sneak through."""
    got = (
        load_table(spark, SF_DIR, "events")
        .orderBy("event_id")
        .select("event_id", "ts")
        .limit(5)
        .collect()
    )
    want = duck.execute(
        "SELECT event_id, CAST(ts AS TIMESTAMP) AS ts "
        "FROM events ORDER BY event_id LIMIT 5"
    ).fetchall()
    for g, w in zip(got, want):
        assert g["event_id"] == w[0]
        g_ts = g["ts"].replace(tzinfo=None) if g["ts"].tzinfo else g["ts"]
        w_ts = w[1].replace(tzinfo=None) if w[1].tzinfo else w[1]
        assert abs((g_ts - w_ts).total_seconds()) < 1e-6, (g_ts, w_ts)


def test_heal_is_identity_on_proper_timestamp(spark):
    """_heal_events_ts must be a no-op when ts is already TIMESTAMP."""
    df = spark.createDataFrame(
        [(1, dt.datetime(2001, 8, 1, 12, 0, 0))], "event_id long, ts timestamp"
    )
    healed = catalog._heal_events_ts(df)
    assert dict(healed.dtypes)["ts"] == "timestamp"
    assert healed.first()["ts"] == dt.datetime(2001, 8, 1, 12, 0, 0)


def test_heal_casts_ntz(spark):
    """timestamp_ntz wall-clock must reinterpret as the same UTC instant."""
    df = spark.createDataFrame(
        [(1, dt.datetime(2001, 8, 1, 12, 0, 0))],
        "event_id long, ts timestamp_ntz",
    )
    healed = catalog._heal_events_ts(df)
    assert dict(healed.dtypes)["ts"] == "timestamp"
    assert healed.select(F.unix_micros("ts").alias("us")).first()["us"] == int(
        dt.datetime(2001, 8, 1, 12, 0, 0, tzinfo=dt.timezone.utc).timestamp()
        * 1_000_000
    )


def test_empty_orders_anchor_fails_loudly(spark, tmp_path):
    """MAX(o_orderdate) over an empty orders table is NULL; caching it
    would splice the literal string "None" into every anchored trend
    query (a baffling downstream AnalysisException). The anchor pull must
    raise a clear ValueError at the source instead — and must NOT poison
    the per-sf_dir cache with the None."""
    import duckdb
    import pytest

    d = str(tmp_path)
    duckdb.connect().execute(
        f"COPY (SELECT * FROM '/root/testdata/sf0.001/orders.parquet' "
        f"LIMIT 0) TO '{d}/orders.parquet' (FORMAT PARQUET)"
    )
    with pytest.raises(ValueError, match="anchor MAX\\(o_orderdate\\)"):
        catalog.last_order_datetime(spark, d)
    assert d not in catalog._ANCHOR_CACHE


# --- one schema inference per table layout ------------------------------------


def _write_part(path: str, rows: int, extra_column: bool = False) -> None:
    """Write ``path`` as one parquet part of ``rows`` orders keys (plus an
    incompressible ``pad`` column when ``extra_column``). An existing part
    is rewritten IN PLACE: same file name, so the directory's entries and
    mtime stay as they were."""
    import shutil

    import duckdb

    pad = ", md5(CAST(range AS VARCHAR)) AS pad" if extra_column else ""
    # staged beside the table directory, not in it, so the directory's
    # entries never change
    staged = os.path.join(os.path.dirname(os.path.dirname(path)), "staged.parquet")
    duckdb.connect().execute(
        f"COPY (SELECT range AS o_orderkey{pad} FROM range({rows})) "
        f"TO '{staged}' (FORMAT PARQUET)"
    )
    shutil.copyfile(staged, path)  # truncates and rewrites an existing part
    os.remove(staged)


def _directory_table(tmp_path, rows: int = 10) -> tuple[str, str]:
    """A directory-shaped ``orders.parquet/`` with one part file."""
    table = tmp_path / "orders.parquet"
    table.mkdir()
    part = str(table / "part-00000.parquet")
    _write_part(part, rows)
    return str(tmp_path), part


def _jobs_in_group(spark, group: str, fn) -> int:
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def _last_job_id(spark, group: str) -> int:
    """Run one trivial job in ``group`` and return its id: every job id
    below it was launched before it."""
    sc = spark.sparkContext
    _jobs_in_group(spark, group, lambda: sc.parallelize([0], 1).count())
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return max(sc.statusTracker().getJobIdsForGroup(group))


def test_share_labels_its_jobs(spark):
    """``share`` launches its jobs in the caller's job group, describes
    them ``share:<label>`` and gives the caller's description back."""
    sc = spark.sparkContext
    df = spark.range(100).withColumn("sq", F.col("id") * F.col("id"))
    before = _last_job_id(spark, "share-before")
    sc.setJobGroup("share-g", "outer")
    try:
        shared = catalog.share(df, "x")
        description = sc.getLocalProperty("spark.job.description")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    after = _last_job_id(spark, "share-after")
    assert description == "outer"
    launched = list(range(before + 1, after))
    assert launched, "share must run its checkpoint jobs eagerly"
    assert sorted(sc.statusTracker().getJobIdsForGroup("share-g")) == launched
    store = sc._jsc.sc().statusStore()
    assert {store.job(j).description().get() for j in launched} == {"share:x"}
    assert sorted(shared.collect()) == sorted(df.collect())


def test_one_shared_frame():
    """Structural guard (no Spark): the package materializes a shared frame
    one way. ``.localCheckpoint(`` appears once, inside ``catalog.share``,
    and every ``share`` call names its frame with a string literal that no
    other call site uses."""
    pkg = pathlib.Path(catalog.__file__).parent
    checkpoints, labels = [], []
    for path in sorted(pkg.rglob("*.py")):
        src = path.read_text()
        checkpoints += [path.name] * src.count(".localCheckpoint(")
        for node in ast.walk(ast.parse(src)):
            if isinstance(node, ast.FunctionDef) and node.name == "share":
                assert path.name == "catalog.py"
                assert ast.get_source_segment(src, node).count(".localCheckpoint(") == 1
            if isinstance(node, ast.Call) and "share" in (
                getattr(node.func, "id", None), getattr(node.func, "attr", None)
            ):
                label = node.args[1]
                assert isinstance(label, ast.Constant) and isinstance(label.value, str), (
                    f"{path.name}:{node.lineno}: share's label must be a string literal"
                )
                labels.append(label.value)
    assert checkpoints == ["catalog.py"]
    duplicated = sorted({lb for lb in labels if labels.count(lb) > 1})
    assert not duplicated, f"labels used by more than one share call: {duplicated}"
    assert len(labels) >= 30


def test_one_scratch_dir():
    """Structural guard (no Spark): the package makes a scratch directory
    one way. ``tempfile``, ``mkdtemp``, ``gettempdir`` and ``atexit``
    appear only inside ``catalog.scratch_dir``, so no writer keeps its own
    temp path, module-level cleanup state or exit hook."""
    home = pathlib.Path(catalog.__file__)
    src = home.read_text()
    (fn,) = [
        node
        for node in ast.parse(src).body
        if isinstance(node, ast.FunctionDef) and node.name == "scratch_dir"
    ]
    inside = set(range(fn.lineno, fn.end_lineno + 1))
    word = re.compile(r"\b(?:tempfile|mkdtemp|gettempdir|atexit)\b")
    stray = [
        f"{path.relative_to(home.parent)}:{n}"
        for path in sorted(home.parent.rglob("*.py"))
        for n, line in enumerate(path.read_text().splitlines(), 1)
        if word.search(line) and not (path == home and n in inside)
    ]
    assert not stray, f"temp paths outside catalog.scratch_dir: {stray}"
    assert word.search(ast.get_source_segment(src, fn))


def test_unchanged_layout_loads_without_jobs(spark, tmp_path):
    """Schema inference is a Spark job; the second load_table of an
    unchanged directory-shaped table reuses the first one's schema and
    launches none."""
    sf_dir, _ = _directory_table(tmp_path)
    group = f"layout-{os.path.basename(sf_dir)}"
    first = _jobs_in_group(spark, group + "-a", lambda: load_table(spark, sf_dir, "orders"))
    second = _jobs_in_group(spark, group + "-b", lambda: load_table(spark, sf_dir, "orders"))
    assert first >= 1, "the first load must infer the schema"
    assert second == 0
    assert load_table(spark, sf_dir, "orders").count() == 10


def test_in_place_rewrite_with_added_column_is_seen(spark, tmp_path):
    """Rewriting a part file in place (same name, new content) is a new
    layout: the next load_table infers again and sees the added column."""
    sf_dir, part = _directory_table(tmp_path)
    assert load_table(spark, sf_dir, "orders").columns == ["o_orderkey"]
    _write_part(part, 10, extra_column=True)
    df = load_table(spark, sf_dir, "orders")
    assert df.columns == ["o_orderkey", "pad"]
    assert df.where("pad IS NOT NULL").count() == 10


def test_spread_size_refreshes_after_in_place_rewrite(spark, tmp_path):
    """The spread gate's byte count comes from the same layout: a part
    rewritten in place from byte-small to above the gate must switch the
    spread on, though the directory's own mtime did not move."""

    def spread(df) -> bool:
        return "RepartitionByExpression" in df._jdf.queryExecution().logical().toString()

    sf_dir, part = _directory_table(tmp_path)
    assert not spread(load_table(spark, sf_dir, "orders", spread=True))
    _write_part(part, 20_000, extra_column=True)
    assert os.path.getsize(part) >= catalog._SPREAD_MIN_BYTES
    assert spread(load_table(spark, sf_dir, "orders", spread=True))
