"""Benchmark inputs: the repo's sf0.01 fixture, one fixed edit, and a seeded
re-layout.

``fixture/`` holds the TPC-H-ish sf0.01 tables (one parquet file each) that
the package's oracle-parity tests run on. Their content never changes, so one
set of goldens covers every run. The run's ``--seed`` only changes the
*layout* the program sees: row order inside each table and where the table is
cut into part files. The package's layout-invariance contract says results
may not depend on either, so the goldens hold for every seed.

The one edit: in the fixture every part is first ordered in 1995, so the
launch queries (parts first ordered in the month, or the year, before the
last order date) find nothing. ``with_launches`` drops the older lineitems
of two small sets of parts so those parts launch inside those windows.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

FIXTURE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fixture")
TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem",
          "events", "documents", "embeddings")
SCALE = 0.01
PARTS = 3  # part files per table; only the cut points move with the seed
LAUNCH_MODULUS = 40  # partkey % 40 == 1 launches last month, == 2 last year


def base_tables(fixture: str = FIXTURE) -> dict[str, pa.Table]:
    """The fixture's tables with the launch edit applied."""
    tables = {t: pq.read_table(os.path.join(fixture, f"{t}.parquet")) for t in TABLES}
    tables["lineitem"] = with_launches(tables["orders"], tables["lineitem"])
    return tables


def with_launches(orders: pa.Table, lineitem: pa.Table) -> pa.Table:
    """``lineitem`` without the lines that keep two part sets from launching
    late: parts with ``partkey % 40 == 1`` keep only lines ordered in or
    after the month before the last order date, parts with ``== 2`` only
    lines ordered in or after January of the year before it."""
    keys = orders["o_orderkey"].to_numpy()
    dates = orders["o_orderdate"].to_numpy().astype("datetime64[us]")
    order = np.argsort(keys)
    last = dates.max().astype(dt.datetime)
    month = dt.datetime(last.year - (last.month == 1), (last.month - 2) % 12 + 1, 1)
    year = dt.datetime(last.year - 1, 1, 1)

    line_keys = lineitem["l_orderkey"].to_numpy()
    pos = order[np.searchsorted(keys, line_keys, sorter=order)]
    line_dates = dates[pos]
    group = lineitem["l_partkey"].to_numpy() % LAUNCH_MODULUS
    drop = (((group == 1) & (line_dates < np.datetime64(month, "us")))
            | ((group == 2) & (line_dates < np.datetime64(year, "us"))))
    return lineitem.filter(pa.array(~drop))


def write_layout(tables: dict[str, pa.Table], out_dir: str, seed: int) -> None:
    """Write each table as ``<name>.parquet/part-0000k.parquet``: rows in a
    seeded order, cut into ``PARTS`` files of seeded, uneven sizes."""
    rng = np.random.default_rng(seed)
    for name, table in tables.items():
        n = table.num_rows
        shuffled = table.take(pa.array(rng.permutation(n)))
        weights = np.cumsum(rng.uniform(0.6, 1.4, PARTS))
        cuts = [0, *(weights[:-1] / weights[-1] * n).astype(int), n]
        target = os.path.join(out_dir, f"{name}.parquet")
        os.makedirs(target)
        for k in range(PARTS):
            pq.write_table(
                shuffled.slice(cuts[k], cuts[k + 1] - cuts[k]),
                os.path.join(target, f"part-{k:05d}.parquet"),
            )


def generate(out_dir: str, seed: int) -> None:
    write_layout(base_tables(), out_dir, seed)

