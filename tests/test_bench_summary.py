"""The compact last stdout line is the only part of a bench run the driver
reads — its tail capture truncated the fat pre-round-6 line — so the line's
contract is pinned here on a synthetic sweep detail (no Spark needed)."""

from __future__ import annotations

import inspect
import json
from pathlib import Path

import bench
from databricks_spark_sql_challenge1_spark.session import DEFAULT_CPUS

_ROOT = Path(__file__).resolve().parent.parent

KEYS = [
    "metric",
    "value",
    "unit",
    "sf",
    "n_queries",
    "calibration",
    "queries",
    "detail_file",
    "master",
    "default_parallelism",
]


def _detail(cpus: int = DEFAULT_CPUS, n_queries: int = 137) -> dict:
    extra = n_queries - len(bench.BASELINE_MAPPABLE)
    names = list(bench.BASELINE_MAPPABLE) + [
        f"extension_query_{i:03d}" for i in range(extra)
    ]
    # worst-case widths: every value a 4-digit-second reading with 3 decimals
    queries = {name: 1000.001 + i for i, name in enumerate(names)}
    return {
        "metric": "headline_queries_total",
        "value": round(sum(queries.values()), 3),
        "unit": "sec",
        "queries": queries,
        "sf": 0.1,
        "cpus": cpus,
        "master": f"local[{cpus}]",
        "default_parallelism": cpus,
        "sink": bench.SINK,
        "protocol": "synthetic",
    }


def test_summary_line_key_order():
    assert list(json.loads(bench.summary_line(_detail()))) == KEYS


def test_summary_line_is_one_compact_line():
    line = bench.summary_line(_detail())
    assert "\n" not in line
    assert ", " not in line and '": ' not in line


def test_summary_line_carries_the_15_headline_names():
    out = json.loads(bench.summary_line(_detail()))
    assert list(out["queries"]) == list(bench.BASELINE_MAPPABLE)
    assert len(out["queries"]) == 15
    assert out["n_queries"] == 137


def test_summary_line_fits_the_tail_capture():
    assert len(bench.summary_line(_detail()).encode()) < 1536


def test_summary_line_stamps_session_and_calibration():
    detail = _detail()
    out = json.loads(bench.summary_line(detail))
    assert out["master"] == f"local[{DEFAULT_CPUS}]"
    assert out["default_parallelism"] == DEFAULT_CPUS
    # no calibration runs: the stamp is the sweep's own cold reading
    assert out["calibration"] == detail["queries"]["count_distinct_orders"]
    assert out["value"] == detail["value"]


def test_summary_line_names_the_detail_file_it_wrote():
    assert json.loads(bench.summary_line(_detail()))["detail_file"] == (
        "BENCH_DETAIL.json"
    )
    scaled = json.loads(bench.summary_line(_detail(cpus=8)))
    assert scaled["detail_file"] == "BENCH_DETAIL_c8.json"
    assert scaled["master"] == "local[8]"


def _clock_reads(src: str) -> int:
    return src.count("time.perf_counter(") + src.count("time.monotonic(")


def test_one_clock_one_cold_run():
    """Structural guard (no Spark): the clock is read in one place, bench's
    timed-run helper (start and stop), and ``tools/opt_probe.py`` reads
    none of its own — a second clock would be a second measurement
    protocol."""
    helper = inspect.getsource(bench.timed_run)
    assert _clock_reads(helper) == 2
    assert _clock_reads((_ROOT / "bench.py").read_text()) == _clock_reads(helper)
    assert _clock_reads((_ROOT / "tools" / "opt_probe.py").read_text()) == 0
