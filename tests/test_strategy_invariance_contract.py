"""Physical-plan-strategy invariance contract (round 18): every
oracle-backed query is a pure function of its LOGICAL plan, never of
the physical strategy Catalyst/AQE happens to pick.

The fixture runs use one strategy profile — AQE on, 64 MB
auto-broadcast, whole-stage codegen, runtime bloom filters, Arrow
batches sized 10k. A 100 TB deployment holds none of those fixed: AQE
re-plans per-stage from runtime statistics (the join that broadcasts
today sort-merges tomorrow when the dim outgrows the threshold),
codegen falls back to interpreted eval past the method-size limits,
and Arrow ships Pandas-kernel input in size-bounded batches whose
boundaries land anywhere (a 10 k-row fixture partition is one batch;
the same partition at scale is hundreds). Any query whose ANSWER moves
under those knobs — a Pandas kernel aggregating per-batch instead of
per-group, a join sensitive to build-side choice, an expression whose
interpreted and codegen'd paths disagree — is a real cluster bug the
default-conf run can never show.

Measured r18 (probe-then-pin, the r13/r15/r18-NULL/r18-layout protocol,
``tools/parity_names.py --perturb strategy``): all oracle-backed
queries re-run against their DuckDB oracles on the SAME warehouse with
the strategy flipped wholesale — auto-broadcast OFF (explicit ``F.broadcast`` hints still
apply: hints are part of the declared plan), shuffled-hash preferred
over sort-merge for the joins that remain, AQE OFF, whole-stage codegen
OFF, runtime bloom filters OFF, and ``arrow.maxRecordsPerBatch=7`` so
every mapInPandas/applyInPandas/pandas_udf kernel (dedup blocked-GEMM,
the nine multimodal codec families, BPE encode, streaming parity twins)
sees many tiny batches instead of one partition-sized batch. Result:
**147/147 oracle pairs bit-exact on the first run — zero findings**
(sf0.001 pinned here; confirmed by full-registry probe sweeps at
sf0.01 — 147/147 — and sf0.1 — 145/147 plus the two deliberate
graph-oracle skips the sf0.1 parity layer has always documented).

That zero is evidence, not vacuity (the non-vacuousness test below pins
that the probe confs really flip the plan): it confirms by measurement
the in-code argument classes — every Pandas kernel is row-local or
accumulates its own cross-batch state (the mapInPandas iterator
contract), join results don't depend on build-side/strategy choice,
and no query branches on a physical statistic (input_file_name, or
partition id beyond the KMV shard whose shard-invariance the layout
campaign already measured).

Scope note: ROWS-ONLY queries are exercised via their oracle-backed
stand-ins (registry.ROWS_ONLY_STAND_INS — every stand-in is in the
sweep), same as the layout contract.
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools.parity_names import (
    STRATEGY_CONFS,
    assert_nonvacuous,
    run,
    session_confs,
)

SRC = "/root/testdata/sf0.001"


@pytest.fixture()
def strategy_confs(spark):
    with session_confs(spark, STRATEGY_CONFS):
        yield


def test_probe_confs_flip_the_physical_plan(spark, strategy_confs):
    """Non-vacuousness: under the probe confs an un-hinted dim join must
    NOT broadcast, and the Arrow batch cap must be live — otherwise the
    sweep below would be measuring the default strategy twice."""
    assert_nonvacuous(spark)


def test_strategy_invariance_oracle_parity(spark, strategy_confs):
    """All 147 oracle-backed queries: Spark under the flipped physical
    strategy == DuckDB oracle, bit-for-bit; ordered compare where the
    oracle declares a top-level ORDER BY."""
    import __spark_entry__ as entry

    outcomes = run(spark, sorted(entry.oracle_sql()), SRC)
    bad = [str(oc) for oc in outcomes if oc.status != "match"]
    assert bad == []
