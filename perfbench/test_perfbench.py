"""Tests of the benchmark's own helpers (not of the engine).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import datetime
import os
import sys

import pyarrow as pa
import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import datagen  # noqa: E402
from layers import count_exchanges, self_times  # noqa: E402
from run import Outcomes, checksum_frame, pass_layers, tail_percentile  # noqa: E402


@pytest.fixture(scope="module")
def spark():
    from pyspark.sql import SparkSession

    s = (SparkSession.builder.master("local[2]").appName("perfbench-tests")
         .config("spark.ui.enabled", "false")
         .config("spark.sql.shuffle.partitions", "3").getOrCreate())
    yield s
    s.stop()


def _checksum(df):
    (row,) = checksum_frame(df).collect()
    return row["rows"], row["lo"], row["hi"]


def test_checksum_ignores_row_order_and_layout(spark, tmp_path):
    """The same rows in another order, cut into other part files, give the
    same checksum (the invariance every seed's goldens rely on)."""
    base = datagen.base_tables()
    sums = set()
    for seed in (1, 2, 3):
        out = tmp_path / f"s{seed}"
        datagen.write_layout({"orders": base["orders"]}, str(out), seed)
        sums.add(_checksum(spark.read.parquet(str(out / "orders.parquet"))))
    assert len(sums) == 1
    assert next(iter(sums))[0] == 15000


def test_checksum_sees_content_duplicates_and_nulls(spark):
    rows = [(1, "a", 0.5), (2, "b", None), (3, None, 1.25)]
    schema = "k long, s string, x double"
    ref = _checksum(spark.createDataFrame(rows, schema))
    assert _checksum(spark.createDataFrame(rows[::-1], schema).repartition(3)) == ref
    changed = [(1, "a", 0.5), (2, "b", 0.0), (3, None, 1.25)]
    assert _checksum(spark.createDataFrame(changed, schema)) != ref
    doubled = _checksum(spark.createDataFrame(rows + rows[:1], schema))
    assert doubled[0] == 4 and doubled != ref


def test_checksum_folds_float_noise_and_signed_zero(spark):
    """Summation-order noise below nine significant digits, and -0.0 vs
    0.0, do not change the checksum; nested arrays are hashed too."""
    schema = "x double, v array<double>"
    a = _checksum(spark.createDataFrame([(0.1 + 0.2, [0.0, 1.0])], schema))
    b = _checksum(spark.createDataFrame([(0.3, [-0.0, 1.0])], schema))
    c = _checksum(spark.createDataFrame([(0.3, [0.0, 1.5])], schema))
    assert a == b != c


def test_layouts_keep_rows(tmp_path):
    import pyarrow.parquet as pq

    lineitem = datagen.base_tables()["lineitem"]
    datagen.write_layout({"lineitem": lineitem}, str(tmp_path), 5)
    parts = sorted((tmp_path / "lineitem.parquet").iterdir())
    assert len(parts) == datagen.PARTS
    got = pa.concat_tables(pq.read_table(p) for p in parts)
    key = [(c, "ascending") for c in lineitem.column_names]
    assert got.sort_by(key).equals(lineitem.sort_by(key))


def test_launch_edit_drops_only_old_lines_of_two_part_sets():
    """Last order 2001-08-01: parts = 1 (mod 40) keep lines from 2001-07-01
    on, parts = 2 (mod 40) lines from 2000-01-01 on, other parts keep all."""
    day = lambda s: datetime.datetime.fromisoformat(s)  # noqa: E731
    orders = pa.table({"o_orderkey": [10, 11, 12, 13],
                       "o_orderdate": [day("1995-03-01"), day("2000-02-01"),
                                       day("2001-07-01"), day("2001-08-01")]})
    lineitem = pa.table({"l_orderkey": [10, 11, 12, 10, 11, 13, 10],
                         "l_partkey": [41, 41, 41, 42, 42, 42, 43]})
    kept = datagen.with_launches(orders, lineitem)
    assert list(zip(kept["l_orderkey"].to_pylist(), kept["l_partkey"].to_pylist())) == [
        (12, 41), (11, 42), (13, 42), (10, 43)]


def test_self_time_subtracts_direct_children_only():
    spans = [
        {"parent": None, "start": 0.0, "end": 10.0},  # op
        {"parent": 0, "start": 1.0, "end": 5.0},  # build
        {"parent": 1, "start": 2.0, "end": 3.5},  # catalog inside build
        {"parent": 0, "start": 6.0, "end": 9.0},  # execute
    ]
    assert self_times(spans) == pytest.approx([3.0, 2.5, 1.5, 3.0])
    assert sum(self_times(spans)) == pytest.approx(10.0)


def test_percentile_needs_ten_samples_beyond_it():
    xs = [float(i) for i in range(1, 101)]
    assert tail_percentile(xs[:19], 0.5) is None
    assert tail_percentile(xs[:20], 0.5) == 10.0
    assert tail_percentile(xs[:99], 0.9) is None
    assert tail_percentile(xs, 0.9) == 90.0
    assert tail_percentile([], 0.5) is None


def test_failures_count_exceptions_and_wrong_answers():
    o = Outcomes()
    golden = {"rows": 1, "hash": "a.b", "columns": ["x"]}
    assert o.record("q1", dict(golden), golden)
    assert not o.record("q2", None, golden)  # raised
    assert not o.record("q3", {**golden, "hash": "a.c"}, golden)  # wrong answer
    assert not o.record("q4", dict(golden), None)  # no golden to check
    assert (o.attempted, o.failed, o.ratio) == (4, ["q2", "q3", "q4"], 0.75)


def test_pass_ratios_guard_zero_bases():
    out = pass_layers({"execute.cpu_s": 1.0, "execute.task_s": 4.0, "execute.s": 2.0,
                       "sources.bytes_written_mb": 3.0, "sources.final_mb": 2.0}, cores=4)
    assert out["execute.cpu_ratio"] == 0.25
    assert out["execute.core_util"] == 0.5
    assert out["sources.write_amp"] == 1.5
    assert pass_layers({}, cores=4)["execute.cpu_ratio"] == 0.0


def test_exchange_count_reads_the_final_plan_only():
    plan = """AdaptiveSparkPlan isFinalPlan=true
+- == Final Plan ==
   ResultQueryStage 2
   +- *(3) BroadcastHashJoin [k#1], [k#2], Inner, BuildRight
      :- AQEShuffleRead coalesced
      :  +- ShuffleQueryStage 0
      :     +- Exchange hashpartitioning(k#1, 4), ENSURE_REQUIREMENTS, [plan_id=1]
      +- BroadcastQueryStage 1
         +- BroadcastExchange HashedRelationBroadcastMode(List(k#2)), [plan_id=2]
+- == Initial Plan ==
   SortMergeJoin [k#1], [k#2], Inner
   :- Exchange hashpartitioning(k#1, 4), ENSURE_REQUIREMENTS, [plan_id=3]
   +- Exchange hashpartitioning(k#2, 4), ENSURE_REQUIREMENTS, [plan_id=4]
"""
    assert count_exchanges(plan) == 2
