"""The benchmark's input tables.

The inputs are the repository's read-only TPC-H-shaped tables (see
``TESTDATA.md``): ``lineitem``, ``orders`` and ``customer`` at scale 0.1
(0.6 M lineitem rows).  They are read as they are; the workloads re-split
or copy them into the run's work directory, and the seed drives only the
query literals and the write episode.  ``tools/gen_sf.py`` names the sf0.1
directory; the other scales sit beside it.
"""

from __future__ import annotations

import importlib.util
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def source_dir(sf: float) -> str:
    """The read-only tables at scale ``sf``."""
    spec = importlib.util.spec_from_file_location(
        "gen_sf", os.path.join(ROOT, "tools", "gen_sf.py")
    )
    gen_sf = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(gen_sf)
    return os.path.join(os.path.dirname(gen_sf.SRC), f"sf{sf:g}")


def read_table(sf: float, name: str) -> pa.Table:
    return pq.read_table(os.path.join(source_dir(sf), f"{name}.parquet"))


def write_parquet(table: pa.Table, path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, compression="snappy")


def month_of(us: pa.Array) -> np.ndarray:
    """``YYYY-MM`` strings of a timestamp array."""
    return np.datetime_as_string(
        us.to_numpy(zero_copy_only=False).astype("datetime64[M]"), unit="M"
    )


def split_by_month(table: pa.Table, ts_col: str, out_dir: str) -> list[tuple[str, str]]:
    """Write one parquet file per ``ts_col`` month under ``out_dir``;
    returns ``(month, path)`` pairs in month order."""
    months = month_of(table.column(ts_col).combine_chunks())
    order = np.argsort(months, kind="stable")
    sorted_months = months[order]
    table = table.take(pa.array(order))
    bounds = np.flatnonzero(sorted_months[1:] != sorted_months[:-1]) + 1
    starts = np.concatenate([[0], bounds])
    ends = np.concatenate([bounds, [len(sorted_months)]])
    out = []
    for s, e in zip(starts, ends):
        month = str(sorted_months[s])
        path = os.path.join(out_dir, f"month={month}", "part-0.parquet")
        write_parquet(table.slice(s, e - s), path)
        out.append((month, path))
    return out
