import json
import os

import pyarrow as pa
import pyarrow.parquet as pq

from perfbench import checks, layers, run
from perfbench.workloads import WORKLOADS


def _write_parts(out_dir, sizes):
    os.makedirs(out_dir, exist_ok=True)
    for i, n in enumerate(sizes):
        pq.write_table(
            pa.table({"geom": [b"\x01"] * n, "hkey": list(range(n))}),
            os.path.join(out_dir, f"part-{i:05d}.zstd.parquet"),
            row_group_size=4,
        )


def test_parquet_stats_reads_footers(tmp_path):
    out = str(tmp_path / "merged")
    _write_parts(out, [10, 3])
    st = checks.parquet_stats(out)
    assert (st.rows, st.files, st.row_groups) == (13, 2, 4)
    assert st.bytes == sum(
        os.path.getsize(os.path.join(out, f)) for f in os.listdir(out))


def test_etl_check_passes_on_complete_output(tmp_path):
    out = str(tmp_path / "merged")
    _write_parts(out, [10, 5])
    heat = {"heatmap": [(1, 7), (2, 8)], "hex_heatmap": [(9, 15)]}
    assert all(c.ok for c in checks.etl_checks(out, 15, heat))


def test_etl_check_fires_on_truncated_output(tmp_path):
    """A convert that quarantines rows (e.g. a NULL declared CRS) still
    'finishes' — the check must catch the missing features."""
    out = str(tmp_path / "merged")
    _write_parts(out, [10, 5])
    os.remove(os.path.join(out, "part-00001.zstd.parquet"))
    heat = {"heatmap": [(1, 7), (2, 8)]}
    got = {c.name: c.ok for c in checks.etl_checks(out, 15, heat)}
    assert got == {"etl.features_written": False, "etl.heatmap.sum": False}


def test_etl_check_fires_on_empty_output(tmp_path):
    out = str(tmp_path / "merged")
    os.makedirs(out)
    got = checks.etl_checks(out, 15, {"heatmap": []})
    assert [c.ok for c in got] == [False, True]


def test_oracle_check_against_duckdb(tmp_path):
    pq.write_table(pa.table({"k": [1, 2, 2], "v": [1.5, 2.0, 3.0]}),
                   str(tmp_path / "t.parquet"))
    con = checks.duckdb_connection(str(tmp_path), ["t"])
    sql = "SELECT k, SUM(v) AS s FROM t GROUP BY k"
    ok = checks.oracle_check("q", ["s", "k"], [(5.0, 2), (1.5, 1)], con, sql)
    short = checks.oracle_check("q", ["k", "s"], [(1, 1.5)], con, sql)
    wrong = checks.oracle_check("q", ["k", "s"], [(1, 1.5), (2, 5.5)], con, sql)
    broken = checks.oracle_check("q", ["k"], [], con, "SELECT * FROM nope")
    con.close()
    assert ok.ok and not short.ok and not wrong.ok and not broken.ok


def test_benchmark_json_matches_reported_metrics():
    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    per_layer = {m["name"]: m["unit"] for m in spec["per_layer"]}
    assert e2e == run.END_TO_END
    assert per_layer == layers.PER_LAYER
    assert {w["name"] for w in spec["workloads"]} == set(WORKLOADS)
