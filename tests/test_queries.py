"""Oracle-parity tests: every registry query vs DuckDB at sf0.001.

Mirrors the driver's correctness gate (row count + schema + order-
insensitive value hash) so regressions surface in `pytest` before the
driver sees them.
"""

from __future__ import annotations

import duckdb
import pytest

from gis_etl_spark.io import TPCH_TABLES
from gis_etl_spark.queries import REGISTRY
from tools.check_oracle import value_hash

from conftest import SF_DIR


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TPCH_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    yield con
    con.close()


@pytest.mark.parametrize("name", sorted(REGISTRY))
def test_query_matches_oracle(spark, sf_dir, duck, name):
    builder, oracle = REGISTRY[name]
    sdf = builder(spark, sf_dir)
    srows = [tuple(r) for r in sdf.collect()]
    scols = sdf.columns
    if oracle is None:
        # rows-only contract: must run and return a stable schema
        assert scols
        return
    res = duck.execute(oracle)
    ocols = [d[0] for d in res.description]
    orows = res.fetchall()
    assert len(srows) == len(orows), f"rowcount {len(srows)} != {len(orows)}"
    assert sorted(scols) == sorted(ocols)
    assert value_hash(srows, scols) == value_hash(orows, ocols)


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    assert df.count() > 0
    assert df.columns


def test_oracle_keys_subset():
    import __spark_entry__ as e

    q = e.queries()
    o = e.oracle_sql()
    assert set(o) <= set(q)


def test_registry_reads_build_only_their_own_fixtures(tmp_path):
    """Importing the registry does no fixture I/O, and reading one entry
    builds only what its oracle names: dedup_components writes the
    documents fixtures and none of the media, building, FileGDB or
    shapefile sets other packs generate. Run in a fresh interpreter
    with an empty fixture dir."""
    import json
    import os
    import subprocess
    import sys
    import textwrap

    script = textwrap.dedent("""
        import json, os, sys

        def files():
            return sorted(
                os.path.relpath(os.path.join(d, f), sys.argv[1])
                for d, _, fs in os.walk(sys.argv[1]) for f in fs
            )

        from gis_etl_spark.queries import REGISTRY
        print(json.dumps(files()))
        _, sql = REGISTRY["dedup_components"]
        assert isinstance(sql, str)
        print(json.dumps(files()))
    """)
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = subprocess.run(
        [sys.executable, "-c", script, str(tmp_path)],
        cwd=root,
        env={**os.environ, "SPARK_GRAFT_FIXTURE_DIR": str(tmp_path)},
        capture_output=True,
        text=True,
        check=True,
    ).stdout.splitlines()
    after_import, after_read = (json.loads(line) for line in out)
    assert after_import == []
    assert after_read
    tops = {f.split(os.sep)[0] for f in after_read}
    assert all(t.startswith("documents") for t in tops), sorted(tops)


def test_registry_oracles_resolve_to_their_builders_sql():
    """Every entry resolves to str | None, equal to what its module's
    oracle builder returns when called afresh; the mapping is
    read-only and keeps the gate window in front."""
    from functools import partial

    from gis_etl_spark import queries as Q

    fresh_packs: dict[int, dict] = {}
    for name, (_, oracle) in Q.REGISTRY._defs.items():
        if isinstance(oracle, partial) and isinstance(
            getattr(oracle.func, "__self__", None), Q._Pack
        ):
            pack = oracle.func.__self__
            if id(pack) not in fresh_packs:
                fresh_packs[id(pack)] = pack.build()
            want = fresh_packs[id(pack)][oracle.args[0]]
        else:
            want = oracle() if callable(oracle) else oracle
        got = REGISTRY[name][1]
        assert got is None or isinstance(got, str), name
        assert got == want, name
    assert len(fresh_packs) == 6
    assert list(REGISTRY)[:50] == list(Q._R19_FRONT)
    with pytest.raises(TypeError):
        REGISTRY["q1_pricing_summary"] = REGISTRY["q1_pricing_summary"]


def test_doc_registry_counts():
    """Round-close count honesty, mechanized (VERDICT r13 item 8 —
    the second consecutive round of prose-count drift): every
    `registry count: N` literal in the living docs must equal
    len(REGISTRY), so the docs cannot close a round stale. Historical
    per-round sections keep their as-of-then numbers; only this
    pinned marker is the current-count claim."""
    import os
    import re

    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    found = 0
    for doc in ("SCALE.md", "COVERAGE.md"):
        with open(os.path.join(here, doc)) as f:
            for n in re.findall(r"registry count: (\d+)", f.read()):
                assert int(n) == len(REGISTRY), (doc, n, len(REGISTRY))
                found += 1
    assert found >= 2, "both living docs must carry the pinned marker"

    # VERDICT r14 item 4 — the twin/floor counts drifted in prose
    # three rounds running; pin them the same way. The benched-twin
    # census is the set of timed("streaming_*") labels in bench.py
    # (each of which also gets a fresh_min_<label>_ms floor artifact),
    # so any 'benched twin count: N' literal must equal it.
    with open(os.path.join(here, "bench.py")) as f:
        benched = re.findall(r'timed\(\s*\n?\s*"(streaming_\w+)"', f.read())
    assert len(benched) == len(set(benched))
    found_twin = 0
    for doc in ("SCALE.md", "COVERAGE.md"):
        with open(os.path.join(here, doc)) as f:
            for n in re.findall(r"benched twin count: (\d+)", f.read()):
                assert int(n) == len(benched), (doc, n, len(benched))
                found_twin += 1
    assert found_twin >= 1, "the benched-twin marker must exist"

    # VERDICT r15 item 6 — the rotation-NARRATIVE counts drifted in
    # r15 prose (37/8 vs the actual 34/11). The r16 markers are set
    # arithmetic over the exported rotation tuples plus the
    # CORRECTNESS-file latest-score census frozen at r15 (the state
    # the r16 promise was made against), so this class of drift now
    # fails a test.
    import glob
    import json

    from gis_etl_spark.queries import (
        _R16_FRONT,
        _R16_R11_LEFTOVERS,
        _R16_R12_COHORT,
    )

    latest: dict[str, int] = {}
    for f in sorted(glob.glob(os.path.join(here, "CORRECTNESS_r*.json"))):
        rnd = int(re.search(r"_r(\d+)\.json$", f).group(1))
        if rnd > 15:
            continue
        with open(f) as fh:
            for q in json.load(fh):
                latest[q] = max(latest.get(q, 0), rnd)
    r11_old = {q for q, r in latest.items() if r <= 11}
    assert set(_R16_R11_LEFTOVERS) == r11_old, (
        sorted(set(_R16_R11_LEFTOVERS) ^ r11_old)
    )

    # same discipline for the CLI subcommand ordinals' running total
    with open(
        os.path.join(here, "gis_etl_spark", "cli.py")
    ) as f:
        n_sub = len(re.findall(r"sub\.add_parser\(", f.read()))
    with open(os.path.join(here, "COVERAGE.md")) as f:
        cov0 = f.read()
    subs = re.findall(r"cli subcommand count: (\d+)", cov0)
    assert subs, "COVERAGE.md is missing the cli subcommand marker"
    assert all(int(n) == n_sub for n in subs), (subs, n_sub)
    deferred = {q for q, r in latest.items() if r <= 12} - set(_R16_FRONT)
    with open(os.path.join(here, "COVERAGE.md")) as f:
        cov = f.read()
    for marker, want in (
        ("fronted r11 leftovers", len(_R16_R11_LEFTOVERS)),
        ("r12 cohort fronted", len(_R16_R12_COHORT)),
        ("r12 leftovers deferred", len(deferred)),
    ):
        got = re.findall(rf"{marker}: (\d+)", cov)
        assert got, f"COVERAGE.md is missing the '{marker}: N' marker"
        assert all(int(n) == want for n in got), (marker, got, want)

    # r17: the same set-arithmetic discipline for the r17 rotation,
    # census frozen at r16 (the state the r17 promise was made
    # against), plus the STALENESS-FLOOR marker (VERDICT r16 item 5 —
    # the "no query predates rN" sentence drifted off-by-one in r16
    # prose; now `min(latest)` is a pinned literal too).
    from gis_etl_spark.queries import (
        _R17_FRONT,
        _R17_R12_LEFTOVERS,
        _R17_R13_COHORT,
    )

    latest16: dict[str, int] = {}
    for f in sorted(glob.glob(os.path.join(here, "CORRECTNESS_r*.json"))):
        rnd = int(re.search(r"_r(\d+)\.json$", f).group(1))
        if rnd > 16:
            continue
        with open(f) as fh:
            for q in json.load(fh):
                latest16[q] = max(latest16.get(q, 0), rnd)
    r12_old = {q for q, r in latest16.items() if r <= 12}
    assert set(_R17_R12_LEFTOVERS) == r12_old, (
        sorted(set(_R17_R12_LEFTOVERS) ^ r12_old)
    )
    deferred13 = {q for q, r in latest16.items() if r <= 13} - set(
        _R17_FRONT
    )
    for marker, want in (
        ("r12 leftovers fronted", len(_R17_R12_LEFTOVERS)),
        ("r13 cohort fronted", len(_R17_R13_COHORT)),
        ("r13 leftovers deferred", len(deferred13)),
    ):
        got = re.findall(rf"{marker}: (\d+)", cov)
        assert got, f"COVERAGE.md is missing the '{marker}: N' marker"
        assert all(int(n) == want for n in got), (marker, got, want)
    floor = min(latest16.values())
    got_floor = re.findall(r"staleness floor: r(\d+)", cov)
    assert got_floor, "COVERAGE.md is missing the staleness-floor marker"
    assert all(int(n) == floor for n in got_floor), (got_floor, floor)

    # r18: same set-arithmetic discipline for the r18 rotation, census
    # frozen at r17 (the state the r18 promise was made against). An
    # OPTIMIZATION round adds no queries, so the window is the 14
    # promised r13 leftovers + every query whose physical plan the r18
    # optimizations changed (re-pin precedent: _R17_PLAN_CHANGED) +
    # the r14-cohort head; the post-rotation floor is pinned under its
    # own marker name (the pre-r17 floor marker above stays frozen).
    from gis_etl_spark.queries import (
        _R18_FRONT,
        _R18_PLAN_CHANGED,
        _R18_R13_LEFTOVERS,
        _R18_R14_COHORT,
    )

    latest17: dict[str, int] = {}
    for f in sorted(glob.glob(os.path.join(here, "CORRECTNESS_r*.json"))):
        rnd = int(re.search(r"_r(\d+)\.json$", f).group(1))
        if rnd > 17:
            continue
        with open(f) as fh:
            for q in json.load(fh):
                latest17[q] = max(latest17.get(q, 0), rnd)
    r13_old = {q for q, r in latest17.items() if r <= 13}
    assert set(_R18_R13_LEFTOVERS) == r13_old, (
        sorted(set(_R18_R13_LEFTOVERS) ^ r13_old)
    )
    deferred14 = {q for q, r in latest17.items() if r <= 14} - set(
        _R18_FRONT
    )
    for marker, want in (
        ("r13 leftovers fronted", len(_R18_R13_LEFTOVERS)),
        ("r18 plan-changed fronted", len(_R18_PLAN_CHANGED)),
        ("r14 cohort fronted", len(_R18_R14_COHORT)),
        ("r14 leftovers deferred", len(deferred14)),
    ):
        got = re.findall(rf"{marker}: (\d+)", cov)
        assert got, f"COVERAGE.md is missing the '{marker}: N' marker"
        assert all(int(n) == want for n in got), (marker, got, want)
    post18 = min(
        r for q, r in latest17.items() if q not in set(_R18_FRONT)
    )
    got18 = re.findall(r"post-r18 floor: r(\d+)", cov)
    assert got18, "COVERAGE.md is missing the post-r18 floor marker"
    assert all(int(n) == post18 for n in got18), (got18, post18)

    # r19: same discipline, census frozen at r18 (the state the r19
    # promise was made against). Second OPTIMIZATION round — the
    # window is the 30 promised r14 leftovers + this round's
    # plan-changed re-pins + the r15-cohort head.
    from gis_etl_spark.queries import (
        _R19_FRONT,
        _R19_PLAN_CHANGED,
        _R19_R14_LEFTOVERS,
        _R19_R15_COHORT,
    )

    latest18: dict[str, int] = {}
    for f in sorted(glob.glob(os.path.join(here, "CORRECTNESS_r*.json"))):
        rnd = int(re.search(r"_r(\d+)\.json$", f).group(1))
        if rnd > 18:
            continue
        with open(f) as fh:
            for q in json.load(fh):
                latest18[q] = max(latest18.get(q, 0), rnd)
    r14_old = {q for q, r in latest18.items() if r <= 14}
    assert set(_R19_R14_LEFTOVERS) == r14_old, (
        sorted(set(_R19_R14_LEFTOVERS) ^ r14_old)
    )
    deferred15 = {q for q, r in latest18.items() if r <= 15} - set(
        _R19_FRONT
    )
    for marker, want in (
        ("r14 leftovers fronted", len(_R19_R14_LEFTOVERS)),
        ("r19 plan-changed fronted", len(_R19_PLAN_CHANGED)),
        ("r15 cohort fronted", len(_R19_R15_COHORT)),
        ("r15 leftovers deferred", len(deferred15)),
    ):
        got = re.findall(rf"{marker}: (\d+)", cov)
        assert got, f"COVERAGE.md is missing the '{marker}: N' marker"
        assert all(int(n) == want for n in got), (marker, got, want)
    post19 = min(
        r for q, r in latest18.items() if q not in set(_R19_FRONT)
    )
    got19 = re.findall(r"post-r19 floor: r(\d+)", cov)
    assert got19, "COVERAGE.md is missing the post-r19 floor marker"
    assert all(int(n) == post19 for n in got19), (got19, post19)
