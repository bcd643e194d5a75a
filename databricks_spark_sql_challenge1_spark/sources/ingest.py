"""Ingestion primitives — reference S1-S7 (SURVEY.md §2.1).

The reference ingests 4 zipped-parquet tables and 4 pipe-delimited CSVs into
Delta managed tables (``py:25-30``, ``py:56-72``). Rebuilt here engine-
agnostic: CSV/parquet/zip readers + ``save_table`` (parquet ``saveAsTable``;
Delta is a config swap when delta-spark is on the classpath).
"""

from __future__ import annotations

import zipfile

from pyspark.sql import DataFrame, SparkSession


def read_csv_pipe(spark: SparkSession, path: str) -> DataFrame:
    """S1 (ref ``py:56-59``): header-driven pipe-CSV, all-string schema
    (NO inferSchema — the reference relies on everything being string)."""
    return (
        spark.read.format("csv")
        .option("header", "true")
        .option("sep", "|")
        .load(path)
    )


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """S2 (ref ``py:30``)."""
    return spark.read.parquet(path)


def read_zipped_parquet(spark: SparkSession, zip_path: str, work_dir: str) -> DataFrame:
    """S3 (ref ``py:25-30``): driver-local unzip into ``work_dir`` →
    distributed parquet scan. The caller owns ``work_dir``, which must
    outlive every read of the returned frame.

    The unzip is inherently driver-side (no Spark zip codec); at scale the
    right move is unzipping once into object storage, not per-query — the
    reference does the same (ingest once, then Delta tables).
    """
    with zipfile.ZipFile(zip_path) as zf:
        zf.extractall(work_dir)
    return spark.read.parquet(work_dir)


def create_database(spark: SparkSession, name: str) -> None:
    """S5 (ref ``py:51-54``): idempotent DDL — IF NOT EXISTS replaces the
    reference's try/except AnalysisException."""
    spark.sql(f"CREATE DATABASE IF NOT EXISTS {name}")


def delta_available() -> bool:
    """True when delta-spark is importable (not in this container — the
    reference's Delta semantics are covered by parquet fallbacks: S4 via
    saveAsTable, S10 via sources.overwrite.staged_overwrite)."""
    try:
        import delta  # noqa: F401

        return True
    except ImportError:
        return False


def save_table(df: DataFrame, table: str, fmt: str | None = None) -> None:
    """S4 (ref ``py:65-72``): managed-table overwrite write.

    Uses Delta when delta-spark is on the classpath (matching the reference
    exactly, incl. MVCC self-overwrite), else plain parquet.
    """
    fmt = fmt or ("delta" if delta_available() else "parquet")
    df.write.format(fmt).mode("overwrite").saveAsTable(table)


def write_partitioned(df: DataFrame, path: str, *partition_cols: str) -> None:
    """Hive-style partitioned parquet write (``partitionBy`` layout).

    The 100 TB layout primitive: facts land partitioned by a coarse,
    low-cardinality key (typically a date derivative) so downstream range
    predicates prune whole directories instead of row-group-filtering every
    file. Pair with ``spark.sql.files.maxPartitionBytes`` to keep task
    splits bounded; avoid high-cardinality partition keys (small-files
    explosion) — bucketing (sources/bucketing.py) covers the join-key case.
    """
    df.write.partitionBy(*partition_cols).mode("overwrite").parquet(path)


def read_partitioned(spark: SparkSession, path: str) -> DataFrame:
    """Read a partitioned layout back; partition columns come from the
    directory structure and predicates on them become PartitionFilters in
    the scan (pruning proven in tests/test_sources.py)."""
    return spark.read.parquet(path)


def write_jsonl(
    df: DataFrame,
    path: str,
    compression: str | None = "gzip",
    mode: str = "overwrite",
) -> None:
    """JSON-lines sink — the interchange format training corpora actually
    ship in (one JSON object per line, gzip-compressed shards). Spark's
    native json writer emits exactly this layout, one shard per partition;
    shard count = upstream partitioning, so repartition first to set it.

    WARNING: ``mode`` defaults to ``"overwrite"``, which REPLACES any
    existing data at ``path`` (matching ``save_table``'s ingest semantics).
    Pass ``mode="error"`` (Spark's own default) to refuse to clobber, or
    ``"append"`` to add shards.
    """
    w = df.write.mode(mode)
    if compression:
        w = w.option("compression", compression)
    w.json(path)


def read_jsonl(spark: SparkSession, path: str, schema=None) -> DataFrame:
    """JSON-lines source. Pass an explicit schema for the scale path —
    schema inference reads the data twice and resolves types from a sample;
    with a schema the scan is single-pass and the JSON parser runs inside
    whole-stage codegen (same rationale as events_json_schema vs
    events_json_extract). Gzip shards decompress transparently (gzip is
    not splittable — at 100 TB prefer zstd shards sized to one task each).
    """
    r = spark.read
    if schema is not None:
        r = r.schema(schema)
    return r.json(path)


def write_orc(
    df: DataFrame,
    path: str,
    compression: str = "zstd",
    mode: str = "overwrite",
) -> None:
    """ORC sink — the second columnar interchange format next to parquet
    (Spark ships the reader/writer natively; Hive-era warehouses and some
    feature stores still standardize on it). Same layout rules as the
    parquet sink: one stripe-bearing shard per partition, so repartition
    upstream to set shard count/size. ``mode`` defaults to ``"overwrite"``
    (ingest semantics, like ``save_table``/``write_jsonl``).
    """
    df.write.mode(mode).option("compression", compression).orc(path)


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    """ORC source. Schema rides embedded in the file footer (like parquet,
    no inference pass); predicate pushdown and column pruning work through
    the same DataSource V1 scan machinery, so ORC-backed queries keep the
    pushed-filter/pruned-schema plan shape the parquet tests assert."""
    return spark.read.orc(path)
