"""Regenerate PLANS.json: the physical-operator fingerprint
(``plans.explain.fingerprint``) of every registered non-streaming query on
the sf0.001 fixture, one line per name. tests/test_plans.py's plan sweep
fails on any name whose fingerprint differs from its line, or that is
missing from the file or no longer registered.

Run: ``python tools/gen_plans.py``. A change that moves a plan reruns it,
and its CHANGES.md entry says why each changed name moved.
"""

from __future__ import annotations

import json
import os
import sys

REPO_DIR = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO_DIR)

import databricks_spark_sql_challenge1_spark.operators  # noqa: E402,F401  (registers)
from databricks_spark_sql_challenge1_spark.plans.explain import (  # noqa: E402
    FINGERPRINT_PARTITIONS,
    fingerprint,
)
from databricks_spark_sql_challenge1_spark.registry import QUERIES  # noqa: E402
from tools.parity_names import DEFAULT_SFS, session_confs  # noqa: E402

PLANS_JSON = os.path.join(REPO_DIR, "PLANS.json")
FIXTURE_DIR = DEFAULT_SFS[0]

# Streaming queries run a real stream to a memory sink; their returned
# frame is a sink scan, so there is no plan of the query to fingerprint.
SWEEP_NAMES = sorted(n for n in QUERIES if not n.startswith("streaming_"))


def build_and_fingerprint(spark, name: str, sf_dir: str):
    """Build ``name`` on ``sf_dir`` and fingerprint its plan, both at the
    pinned shuffle partition count (eager checkpoints keep the partitioning
    they were built with). Returns ``(df, fingerprint)``."""
    confs = [("spark.sql.shuffle.partitions", str(FINGERPRINT_PARTITIONS))]
    with session_confs(spark, confs):
        df = QUERIES[name](spark, sf_dir)
        return df, fingerprint(df)


def main() -> None:
    os.environ.setdefault("SPARK_GRAFT_CPUS", "8")
    from databricks_spark_sql_challenge1_spark.session import get_spark

    spark = get_spark("gen-plans")
    lines = []
    for name in SWEEP_NAMES:
        _df, fp = build_and_fingerprint(spark, name, FIXTURE_DIR)
        lines.append(f"{json.dumps(name)}: {json.dumps(fp)}")
        print("done", name)
    fixture = json.dumps(os.path.basename(FIXTURE_DIR))
    with open(PLANS_JSON, "w") as f:
        f.write(f'{{"fixture": {fixture}, "plans": {{\n')
        f.write(",\n".join(lines) + "\n}}\n")


if __name__ == "__main__":
    main()
