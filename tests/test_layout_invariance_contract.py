"""Layout-invariance contract (round 18): every oracle-backed query is a
pure function of each table's ROW MULTISET, never of the physical layout
Spark scans it in.

The fixture warehouse is pristine — one parquet file per table, rows in
generation order, scanned on local[32] with shuffle.partitions=32. A
100 TB deployment is none of those things: tables are directories of
thousands of part-files, row order is whatever the upstream writer
produced, scan partitioning follows maxPartitionBytes on a 1000-executor
cluster, and shuffle.partitions is in the thousands. Any query whose
answer moves under those knobs — an implicit first()/dropDuplicates
pick, a non-total window ORDER BY, a rank tie broken by arrival order —
is a real cluster bug the pristine fixtures can never show.

Measured r18 (probe-then-pin, the r13/r15/r18-NULL protocol,
``tools/parity_names.py --perturb layout``): Spark reading a REWRITTEN
warehouse — rows pseudo-randomly permuted per table, each table
resharded into 3-7
uneven part-files PLUS one zero-row part-file (distributed writers
routinely emit empty parts) under a ``{table}.parquet/`` DIRECTORY —
under perturbed runtime confs (shuffle.partitions 7, maxPartitionBytes
256 KiB, openCostInBytes 0, so every part-file is its own scan
partition) against the DuckDB oracles on the ORIGINAL warehouse.
Result: **147/147 oracle pairs bit-exact** (confirmed at sf0.01 by the
full-registry ``--perturb layout --sf /root/testdata/sf0.01``
sweep on the post-fix tree: 147/147, bad: []; and at sf0.1 — 145/147,
bad: [], plus the two deliberate graph-oracle skips under the probe's
150 s DuckDB watchdog) after two findings were fixed — one real bug:

  - ``_events_stream`` / the documents stream read the warehouse with
    ``readStream.option("pathGlobFilter", "<table>.parquet")`` over
    ``sf_dir`` — but pathGlobFilter matches LEAF FILE names only, so a
    directory-shaped table matched nothing and the WHOLE streaming
    surface silently consumed 0 rows (streaming_parity_dedup returned
    0 rows vs the oracle's 5; every _events_stream consumer was
    affected). Fixed by streaming the glob path ``{table}.parquet*``
    (events_stream.py:35): the glob's parent serves as the directory
    basePath the file source requires for the single-file fixture shape,
    and the glob resolves the directory shape by recursion. The
    0-row class is pinned REGRESSION-style below
    (test_events_stream_reads_directory_shaped_table).

  - and one stale declared-order contract: ``text_simhash``'s oracle
    declared ``ORDER BY doc_id ASC`` while the registered Spark form is
    deliberately unsorted (the building-block scale decision) — the
    single-file fixture happened to reproduce doc_id order, the
    resharded warehouse did not, and the ordered compare below rightly
    flagged it; the registered oracle now strips the top-level ORDER BY
    (value-identical under the driver's sorted-row hash).

Notable invariance results the probe CONFIRMED by measurement (each had
an in-code determinism argument; now they have evidence):
``customers_kmv_setops``'s spark_partition_id() sharded bottom-K is
shard-count-invariant (associativity argument at analytics_ext.py),
``zorder_file_skipping``'s ntile file placement is scan-layout-invariant
(total-order window, not input_file_name), ``top_abandoned_pairs``'s
row_number pair dedup has a total tie-break, and the three sampling
queries (stratified/weighted/split_assign) are hash-derived, not
rand()-derived.

Scope note: ROWS-ONLY queries are exercised for crash-freedom by their
oracle-backed stand-ins (registry.ROWS_ONLY_STAND_INS — every stand-in
is in the sweep); zorder_range_writer's reservoir-sampled range split is
the documented nondeterministic exception and is not hash-compared
anywhere.
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from databricks_spark_sql_challenge1_spark.catalog import TABLES
from tools.parity_names import (
    LAYOUT_CONFS,
    build_shuffled_warehouse,
    run,
    session_confs,
)

SRC = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def layout_dir(tmp_path_factory):
    d = str(tmp_path_factory.mktemp("layoutwh"))
    build_shuffled_warehouse(SRC, d)
    # non-vacuous perturbation: every table must be a DIRECTORY of >1
    # part-file (except tables with fewer rows than shards) with the
    # same row count as the source
    import pyarrow.parquet as pq

    for t in TABLES:
        td = os.path.join(d, f"{t}.parquet")
        assert os.path.isdir(td), td
        files = sorted(os.listdir(td))
        n = sum(
            pq.read_metadata(os.path.join(td, f)).num_rows for f in files
        )
        orig = pq.read_metadata(os.path.join(SRC, f"{t}.parquet")).num_rows
        assert n == orig, (t, n, orig)
        assert len(files) > 1 or orig <= len(files), (t, files)
    return d


@pytest.fixture()
def perturbed_confs(spark):
    with session_confs(spark, LAYOUT_CONFS):
        yield


def test_layout_invariance_oracle_parity(spark, layout_dir, perturbed_confs):
    """All 147 oracle-backed queries: Spark on the shuffled/resharded
    warehouse == DuckDB oracle on the original, bit-for-bit; ordered
    compare where the oracle declares a top-level ORDER BY (a
    multiset-only pass that reorders under the perturbation means the
    declared order is not total — the CLAUDE.md hazard)."""
    import __spark_entry__ as entry

    outcomes = run(spark, sorted(entry.oracle_sql()), layout_dir, SRC)
    bad = [str(oc) for oc in outcomes if oc.status != "match"]
    assert bad == []


def test_events_stream_reads_directory_shaped_table(spark, layout_dir):
    """Regression pin for the r18 layout-probe finding: the streaming
    file source must consume a directory-shaped ``events.parquet/``
    completely (the pathGlobFilter formulation matched leaf files only
    and silently streamed 0 rows)."""
    import uuid

    from databricks_spark_sql_challenge1_spark.streaming.events_stream import (
        _events_stream,
    )

    name = f"layout_dir_probe_{uuid.uuid4().hex[:8]}"
    q = (
        _events_stream(spark, layout_dir)
        .groupBy()
        .count()
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = spark.table(name).collect()[0][0]
    import pyarrow.parquet as pq

    want = pq.read_metadata(os.path.join(SRC, "events.parquet")).num_rows
    assert got == want, (got, want)
