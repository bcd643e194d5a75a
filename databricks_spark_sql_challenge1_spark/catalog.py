"""Catalog: parquet loaders, temp-view registration, and scalar anchors.

Mirrors the reference's ingestion + session-state pattern:
  - table registration (ref ``src/TyreStore Challenge.py:65-72``) →
    ``register_views`` (temp views over parquet; no metastore needed);
  - the ``MAX(carts.createdTS)`` scalar pulled to the driver and spliced into
    later SQL (ref ``py:78-82``, SURVEY.md §2 S11/S12) → ``last_order_datetime``
    (cached per sf_dir; the analog anchor is ``MAX(orders.o_orderdate)``).
"""

from __future__ import annotations

import datetime as _dt
import os
import shutil
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def ensure_session_confs(spark: SparkSession) -> None:
    """Make any caller-provided SparkSession safe for this engine.

    The driver harness passes its own session to ``entry``/``queries()``
    callables; these confs are runtime-settable and load-bearing:
    nanos-as-long (events.parquet is TIMESTAMP(NANOS)), UTC (date extraction
    must agree with the DuckDB oracle's naive timestamps), AQE on.
    """
    for k, v in (
        ("spark.sql.legacy.parquet.nanosAsLong", "true"),
        ("spark.sql.session.timeZone", "UTC"),
        ("spark.sql.adaptive.enabled", "true"),
    ):
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # read-only in some deployments; session.get_spark sets it


def load_table(
    spark: SparkSession, sf_dir: str, name: str, spread: bool = False
) -> DataFrame:
    """Parquet scan with embedded schema (SURVEY.md §2 S2).

    ``events.ts`` is TIMESTAMP(NANOS) in the fixture parquet — Spark has no
    nanosecond timestamp type, so it is read as long
    (``spark.sql.legacy.parquet.nanosAsLong``) and truncated to microseconds
    here, matching DuckDB's ns→us truncation exactly.

    ``spread=True`` opts a compute-heavy consumer into the input-parallelism
    floor (see ``_maybe_spread``): a byte-small scan arrives in fewer split
    partitions than the cluster has cores, and every narrow stage chained on
    it (array folds, md5/tokenize pipelines, Arrow codec kernels, broadcast-
    join probes) runs serial regardless of core count — the guide §2.5
    "one huge unsplittable file" case in miniature. Opt-in, not default:
    writer/export paths must keep the scan's row layout, and broadcast-tiny
    dims would pay a shuffle for nothing.
    """
    ensure_session_confs(spark)
    path = table_path(sf_dir, name)
    layout = _layout(path)
    df = _read_parquet(spark, path, layout)
    if name == "events":
        df = _heal_events_ts(df)
    if spread:
        df = _maybe_spread(spark, df, name, sum(size for _, size, _ in layout or ()))
    return df


def share(df: DataFrame, label: str) -> DataFrame:
    """Materialize ``df`` once: the one way this package shares a frame that
    is read more than once, that outlives its source (a scratch dir about to
    be removed) or that cuts a loop's lineage.

    The frame is a local checkpoint, eager: its jobs run here, at build
    time, with the job description ``share:<label>``. The caller's
    description comes back afterwards; the job group is never touched, so
    the jobs stay with whatever layer or query the caller's group names.

    Fault posture, the same for every call site:

    - the checkpointed blocks live only in the executors' block managers;
    - a task that fails while the checkpoint is built is retried and
      recomputes its partition from lineage;
    - once built, the lineage is cut, so a lost executor fails the query
      loudly ("Checkpoint block ... not found") rather than returning
      wrong rows;
    - on a cluster the reliable alternative is ``checkpoint()`` over a
      checkpoint dir on shared storage, changed here and nowhere else.
    """
    sc = df.sparkSession.sparkContext
    prior = sc.getLocalProperty("spark.job.description")
    sc.setLocalProperty("spark.job.description", f"share:{label}")
    try:
        return df.localCheckpoint()
    finally:
        sc.setLocalProperty("spark.job.description", prior)


_SCRATCH_BASE = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "spark-warehouse"
)


@contextmanager
def scratch_dir(prefix: str):
    """A fresh directory under the repo's ``spark-warehouse/``, removed on
    exit: the one place a query writes files while its frame is built.
    Write inside the block and ``share`` the smallest frame that still
    reads the files before it exits; the returned plan then reads no
    scratch path, and a repeat call cannot overwrite files an earlier
    frame lists. A process killed inside the block leaves its directory."""
    import tempfile

    os.makedirs(_SCRATCH_BASE, exist_ok=True)
    scratch = tempfile.mkdtemp(prefix=prefix, dir=_SCRATCH_BASE)
    try:
        yield scratch
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


def table_schema(spark: SparkSession, sf_dir: str, name: str) -> StructType:
    """The table's schema as stored (``events.ts`` not yet healed), from the
    same per-layout cache as ``load_table``."""
    ensure_session_confs(spark)
    path = table_path(sf_dir, name)
    return _read_parquet(spark, path, _layout(path)).schema


# One inferred schema per table path, with the layout it was inferred from.
# Inference is a Spark job per read; an unchanged layout reuses the schema,
# and a new layout replaces the path's entry.
_SCHEMA_CACHE: dict[str, tuple[tuple, StructType]] = {}


def _layout(path: str) -> tuple[tuple[str, int, int], ...] | None:
    """Sorted ``(file, size, mtime_ns)`` of every file under a driver-LOCAL
    parquet path (file or directory), or None when the path cannot be
    stat'ed here (object stores, missing paths). Rewriting a part file in
    place changes its size or mtime, so the layout changes with it."""
    try:
        if not os.path.isdir(path):
            st = os.stat(path)
            return ((path, st.st_size, st.st_mtime_ns),)
        files = []
        for root, _dirs, names in os.walk(path):
            for f in names:
                full = os.path.join(root, f)
                st = os.stat(full)
                files.append((full, st.st_size, st.st_mtime_ns))
    except OSError:
        return None
    return tuple(sorted(files))


def _read_parquet(
    spark: SparkSession, path: str, layout: tuple | None
) -> DataFrame:
    """``spark.read.parquet(path)``, inferring the schema only when this
    layout of the path has not been read before. A path without a layout
    (not stat'able locally) is inferred on every read."""
    hit = _SCHEMA_CACHE.get(path)
    if layout is not None and hit is not None and hit[0] == layout:
        return spark.read.schema(hit[1]).parquet(path)
    df = spark.read.parquet(path)
    if layout is not None:
        _SCHEMA_CACHE[path] = (layout, df.schema)
    return df


# Deterministic spread keys (hash repartition by the table's primary id —
# never round-robin/rand, which breaks reproducibility under task retry;
# guide §2.5). Only tables a compute-heavy operator consumes are listed.
_SPREAD_KEYS = {
    "orders": "o_orderkey",
    "lineitem": "l_orderkey",
    "events": "event_id",
    "documents": "doc_id",
    "embeddings": "vec_id",
}
# Below this on-disk size the frame is broadcast-grade anyway and the extra
# exchange costs more than the serial stage it would fix.
_SPREAD_MIN_BYTES = 256 * 1024
# Mirror of the spark.sql.files.maxPartitionBytes default used only to
# ESTIMATE the scan's split count for the gate below (exact value is not
# load-bearing: the gate only distinguishes "far fewer splits than cores"
# from "plenty of splits").
_SPREAD_SPLIT_BYTES = 128 * 1024 * 1024


def _maybe_spread(
    spark: SparkSession, df: DataFrame, name: str, nbytes: int
) -> DataFrame:
    """Input-parallelism floor (round-18 optimization, guide §2.5): when the
    scan's estimated split count is below the core count, hash-repartition
    by the table's id so downstream per-row compute parallelizes. At
    production sizes the split count dwarfs the core count and this is a
    no-op — scale-neutral by construction. Results are partitioning-
    invariant (pinned repo-wide by tests/test_layout_invariance_contract).

    ``nbytes`` is the table's on-disk size from its layout; a path that is
    not local has none (0) and never spreads — a perf-only, never-wrong
    fallback, since object-store deployments have split counts >> cores
    anyway."""
    key = _SPREAD_KEYS.get(name)
    if key is None:
        return df
    if nbytes < _SPREAD_MIN_BYTES:
        return df
    parallelism = spark.sparkContext.defaultParallelism
    est_splits = max(1, nbytes // _SPREAD_SPLIT_BYTES)
    if est_splits >= parallelism:
        return df
    return df.repartition(parallelism, key)


def _heal_events_ts(df: DataFrame) -> DataFrame:
    """Normalize ``events.ts`` to a plain ``timestamp`` regardless of how the
    running Spark decodes TIMESTAMP(NANOS) parquet:

    - ``bigint`` (nanosAsLong honored, Spark ≤4.0): truncate ns→us with
      integer division (double division loses precision at ~1e18 nanos);
    - ``timestamp_ntz`` (Spark 4.1+ ignores nanosAsLong and reads NANOS as
      NTZ): cast to ``timestamp`` — the session TZ is pinned UTC, so the
      wall-clock reinterpretation is the identity and oracle semantics are
      unchanged;
    - ``timestamp``: already fine.
    """
    ts_type = dict(df.dtypes).get("ts")
    if ts_type == "bigint":
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif ts_type == "timestamp_ntz":
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register each fixture table as a temp view (SURVEY.md §2 S4/S7 analog)."""
    for t in TABLES:
        load_table(spark, sf_dir, t).createOrReplaceTempView(t)


# --- scalar session state (S11/S12) ---------------------------------------

_ANCHOR_CACHE: dict[str, _dt.datetime] = {}


def last_order_datetime(spark: SparkSession, sf_dir: str) -> _dt.datetime:
    """Pull MAX(o_orderdate) to the driver once per sf_dir (ref ``py:78-82``).

    The reference stashes the scalar in Spark conf and lexically splices
    ``${carts.last_datetime}`` into SQL text; the OSS-idiomatic equivalent is a
    Python-side value interpolated into the DataFrame plan (SURVEY.md §4.3.1).
    """
    if sf_dir not in _ANCHOR_CACHE:
        row = (
            load_table(spark, sf_dir, "orders")
            .agg(F.max("o_orderdate").alias("last_datetime"))
            .first()
        )
        if row["last_datetime"] is None:
            # MAX over an empty (or all-NULL-date) orders table is NULL;
            # caching it would lexically splice the string "None" into
            # every anchored trend query — fail loudly at the source
            # instead (engine contract: non-empty base tables, same
            # assumption the reference's py:78-82 scalar pull makes).
            raise ValueError(
                f"orders at {sf_dir} has no o_orderdate rows: the trend "
                "anchor MAX(o_orderdate) is undefined"
            )
        _ANCHOR_CACHE[sf_dir] = row["last_datetime"]
    return _ANCHOR_CACHE[sf_dir]
