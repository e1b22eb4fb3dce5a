"""Output checks, run once per run outside the timed window.

Registry operations are compared against their DuckDB oracle (row
count plus an order-insensitive value hash, the rule of the engine's
``tools/check_oracle.py``). The ETL pass is checked against counts the
fixture implies, computed without the engine.
"""

from __future__ import annotations

import glob
import os
from dataclasses import dataclass

import pyarrow.parquet as pq


@dataclass
class Check:
    name: str
    ok: bool
    detail: str = ""


def duckdb_connection(sf_dir: str, tables):
    import duckdb

    con = duckdb.connect()
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


def oracle_check(name: str, columns, rows, con, sql: str) -> Check:
    """Compare one collected Spark result with its DuckDB oracle."""
    # imports the query registry, which the caller has already loaded
    from tools.check_oracle import value_hash

    try:
        res = con.execute(sql)
        ocols = [d[0] for d in res.description]
        orows = res.fetchall()
    except Exception as e:  # noqa: BLE001 — a broken oracle is a failed check
        return Check(name, False, f"oracle error: {e}")
    if len(rows) != len(orows):
        return Check(name, False, f"rows spark={len(rows)} oracle={len(orows)}")
    if sorted(columns) != sorted(ocols):
        return Check(name, False, f"columns {sorted(columns)} != {sorted(ocols)}")
    if value_hash(rows, columns, True) != value_hash(orows, ocols):
        return Check(name, False, "value-hash mismatch")
    return Check(name, True, f"{len(rows)} rows")


@dataclass
class ParquetStats:
    rows: int
    files: int
    row_groups: int
    bytes: int


def parquet_stats(path: str) -> ParquetStats:
    """Rows, files, row groups and bytes of every parquet part under
    ``path``, read from the file footers."""
    files = sorted(glob.glob(os.path.join(path, "**", "*.parquet"),
                             recursive=True))
    rows = groups = size = 0
    for f in files:
        md = pq.ParquetFile(f).metadata
        rows += md.num_rows
        groups += md.num_row_groups
        size += os.path.getsize(f)
    return ParquetStats(rows, len(files), groups, size)


def etl_checks(out_dir: str, expected_rows: int, heatmaps) -> list[Check]:
    """The written corpus holds exactly the expected clean features,
    and every QA heatmap counts each written feature once.
    ``heatmaps`` maps a name to collected ``(cell, num_recs)`` rows."""
    written = parquet_stats(out_dir).rows
    out = [Check(
        "etl.features_written", written == expected_rows,
        f"written={written} expected={expected_rows}",
    )]
    for name, rows in heatmaps.items():
        total = sum(int(r[1]) for r in rows)
        out.append(Check(
            f"etl.{name}.sum", total == written,
            f"cells={len(rows)} sum={total} written={written}",
        ))
    return out
