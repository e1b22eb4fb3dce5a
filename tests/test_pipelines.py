"""End-to-end pipeline tests over the buildings fixture: normalize,
heatmap invariants, merge_compact clustering quality, idempotent write.
These are the engine-internal goldens for ops the DuckDB oracle can't
express (SURVEY.md §5)."""

from __future__ import annotations

import glob
import os
import struct

import pyarrow.parquet as pq
import pytest

from pyspark.sql import functions as F

from gis_etl_spark.fixtures import ensure_buildings
from gis_etl_spark.geom import wkb as K
from gis_etl_spark.geom.functions import st_shape_type_byte
from gis_etl_spark.io import idempotent_write
from gis_etl_spark.pipelines import buildings as P

N_FIXTURE = 3_000


@pytest.fixture(scope="module")
def bdf(spark):
    bpath, _ = ensure_buildings(N_FIXTURE)
    return spark.read.parquet(bpath)


def test_normalize_drops_and_flips(bdf):
    norm = P.normalize(bdf).cache()
    # no nulls, only core types survive
    assert norm.filter(F.col("geom").isNull()).count() == 0
    bad = norm.filter(st_shape_type_byte(F.col("geom")) >= 8).count()
    assert bad == 0
    # Z dropped: every surviving geometry parses as 2-D
    sample = [r.geom for r in norm.limit(200).collect()]
    for g in sample:
        _, parts = K.parse(bytes(g))
        assert all(ring.shape[1] == 2 for rings in parts for ring in rings)
    # the flipped source is back in lon-lat order (East-Asia envelope)
    flipped = P.with_centroid(
        norm.filter(F.col("source") == "regionE/flipped.pq")
    )
    stats = flipped.agg(
        F.min("centroid.x").alias("minx"), F.max("centroid.y").alias("maxy")
    ).first()
    assert stats.minx > 60.0, "flip was not applied"
    assert stats.maxy < 60.0
    norm.unpersist()


def test_heatmap_mass_conservation(bdf):
    hm = P.heatmap(bdf, res=7)
    total = hm.agg(F.sum("num_recs")).first()[0]
    assert total == bdf.filter(F.col("geom").isNotNull()).count()
    # heatmap_export: antimeridian guard drops the |lon|>=175 row(s)
    exp = P.heatmap_export(bdf, res=7)
    assert exp.agg(F.sum("num_recs")).first()[0] < total
    row = exp.limit(1).first()
    assert row.boundary.startswith("POLYGON ((")


def test_merge_compact_clusters(bdf, tmp_path):
    out = str(tmp_path / "merged")
    src = bdf.filter(F.col("geom").isNotNull())
    P.merge_compact(src, out, max_records_per_file=1_000)
    files = sorted(glob.glob(os.path.join(out, "*.parquet")))
    assert files, "no output written"
    # row preservation
    total = sum(pq.read_metadata(f).num_rows for f in files)
    assert total == src.count()
    # ≤ max_records_per_file respected
    assert all(pq.read_metadata(f).num_rows <= 1_000 for f in files)
    # clustering quality: hkey ranges across files must be (mostly)
    # disjoint — the whole point of the Hilbert layout (SURVEY.md §4.2)
    ranges = []
    for f in files:
        t = pq.read_table(f, columns=["hkey"])
        ks = t.column("hkey").to_pylist()
        if ks:
            ranges.append((min(ks), max(ks)))
    ranges.sort()
    overlaps = sum(
        1
        for (a, b), (c, d) in zip(ranges, ranges[1:])
        if c < b
    )
    assert overlaps == 0, f"file hkey ranges overlap: {ranges}"


def _wkb_poly(*rings, word=3, dims=2):
    out = bytearray(struct.pack("<BII", 1, word, len(rings)))
    for ring in rings:
        out += struct.pack("<I", len(ring))
        for pt in ring:
            out += struct.pack(f"<{dims}d", *pt[:dims])
    return bytes(out)


_SQUARE = [(100.0, 30.0), (101.0, 30.0), (101.0, 31.0), (100.0, 31.0),
           (100.0, 30.0)]
_SQUARE_Z = [(x, y, 7.0) for x, y in _SQUARE]
_KEY_EDGE_CASES = [
    None,
    _wkb_poly(_SQUARE),
    # degenerate: collinear ring, zero area
    _wkb_poly([(5.0, 5.0), (6.0, 6.0), (7.0, 7.0), (5.0, 5.0)]),
    # empty polygon: no rings
    _wkb_poly(),
    struct.pack("<BI2d", 1, 1, -170.5, -45.25),
    struct.pack("<BII6d", 1, 2, 3, 10.0, 10.0, 20.0, 15.0, 30.0, 10.0),
    # multipolygon of two squares
    struct.pack("<BII", 1, 6, 2) + _wkb_poly(_SQUARE)
    + _wkb_poly([(x + 3.0, y - 2.0) for x, y in _SQUARE]),
    _wkb_poly(_SQUARE_Z, word=1003, dims=3),  # ISO POLYGON Z
    _wkb_poly(_SQUARE_Z, word=3 | 0x80000000, dims=3),  # EWKB Z flag
]


def test_fused_hilbert_key_is_bit_identical(spark, bdf):
    """st_centroid_hilbert (one Arrow hop) equals the numpy composition
    hilbert_encode_np(centroid_batch) and the two-hop Spark key
    hilbert_encode(st_centroid(g).y, st_centroid(g).x) bit for bit,
    with NULL keys exactly where the centroid is NaN/NULL."""
    import numpy as np

    from gis_etl_spark.geom.functions import st_centroid, st_centroid_hilbert
    from gis_etl_spark.layout.sfc import hilbert_encode, hilbert_encode_np

    fixture = [r.geom for r in bdf.select("geom").collect()]
    bufs = _KEY_EDGE_CASES + [None if g is None else bytes(g) for g in fixture]
    xs, ys = K.centroid_batch(bufs)
    valid = ~(np.isnan(xs) | np.isnan(ys))
    keys = hilbert_encode_np(ys[valid], xs[valid])
    want = [None] * len(bufs)
    for i, k in zip(np.flatnonzero(valid), keys):
        want[i] = int(k)
    assert want[0] is None and want[3] is None  # NULL geom, empty polygon
    assert sum(k is not None for k in want[:len(_KEY_EDGE_CASES)]) >= 7

    sdf = spark.createDataFrame(
        list(enumerate(bufs)), "i int, geom binary"
    ).withColumn("c", st_centroid(F.col("geom")))
    rows = sdf.select(
        "i",
        st_centroid_hilbert(F.col("geom")).alias("fused"),
        hilbert_encode(F.col("c.y"), F.col("c.x")).alias("two_hop"),
    ).collect()
    got = {r.i: (r.fused, r.two_hop) for r in rows}
    assert len(got) == len(bufs)
    for i, w in enumerate(want):
        assert got[i] == (w, w), (i, got[i], w)


def test_merge_compact_samples_shuffled_keys(bdf, monkeypatch):
    """merge_compact's sort samples staged rows: the range Exchange's
    child is one hash Exchange on hkey (no Python evaluation between
    them), and one Python evaluation node computes hkey, so the key
    kernel runs once per row instead of again inside the sampling
    job."""
    captured = {}

    def capture(df, path, **kwargs):
        captured["df"], captured["kwargs"] = df, kwargs

    monkeypatch.setattr(P, "write_clustered_parquet", capture)
    P.merge_compact(P.convert(bdf), "unused")
    sort_col = captured["kwargs"]["sort_col"]
    assert sort_col == "hkey"
    plan = str(
        captured["df"].orderBy(sort_col)._jdf.queryExecution().executedPlan()
    )
    nodes = [ln.lstrip(" :|+-") for ln in plan.splitlines()]
    i = next(
        n for n, ln in enumerate(nodes)
        if ln.startswith("Exchange rangepartitioning(hkey")
    )
    assert nodes[i + 1].startswith("Exchange hashpartitioning(hkey"), plan
    key_evals = [
        ln for ln in nodes
        if ln.startswith("ArrowEvalPython") and "hilbert" in ln
    ]
    assert len(key_evals) == 1, plan
    assert "st_centroid_hilbert" in key_evals[0]


def test_convert_full_pipeline(spark, bdf):
    """convert(): UTM block reprojected into zone-50 geographic bounds,
    flipped source restored, everything inside world coordinates."""
    conv = P.convert(bdf).cache()
    utm = P.with_centroid(conv.filter(F.col("source") == "regionF/utm.pq"))
    stats = utm.agg(
        F.min("centroid.x").alias("x0"), F.max("centroid.x").alias("x1"),
        F.min("centroid.y").alias("y0"), F.max("centroid.y").alias("y1"),
    ).first()
    assert 113.0 < stats.x0 and stats.x1 < 121.0, "UTM not reprojected"
    assert -80.0 < stats.y0 and stats.y1 < 80.0
    # after convert, the whole corpus sits in world lon/lat
    bb = P.global_bbox(conv).first()
    assert -180.5 < bb.xmin and bb.xmax < 180.5
    assert -90.5 < bb.ymin and bb.ymax < 90.5
    # flipped source is in East-Asia lon range again
    fl = P.with_centroid(conv.filter(F.col("source") == "regionE/flipped.pq"))
    assert fl.agg(F.min("centroid.x")).first()[0] > 60.0
    conv.unpersist()


def test_writer_policy_zstd_small_row_groups(spark, bdf, tmp_path):
    """Writer policy vs the reference sink (east_asia.py:79-82: CODEC
    ZSTD, COMPRESSION_LEVEL 22, ROW_GROUP_SIZE 15000): every column
    chunk is ZSTD, row groups land in the small-group regime (tight
    min/max stats after Hilbert clustering). The *level* deviates by
    design: default 3 for hot-path writes, with the reference's 22
    behind the explicit archival sink — which must measurably
    out-compress the default on the same data."""
    from gis_etl_spark.io import write_clustered_parquet

    src = bdf.filter(F.col("geom").isNotNull())
    out = str(tmp_path / "policy")
    write_clustered_parquet(src, out)
    files = sorted(glob.glob(os.path.join(out, "part-*.parquet")))
    assert files
    group_rows = []
    for f in files:
        md = pq.ParquetFile(f).metadata
        for i in range(md.num_row_groups):
            rg = md.row_group(i)
            group_rows.append(rg.num_rows)
            assert rg.column(0).compression == "ZSTD", f
    # 2 MiB uncompressed blocks ≈ the reference's 15k-row groups on
    # ~100-150 B rows; allow the buffering estimate a wide band but
    # forbid monolithic groups
    assert max(group_rows) <= 40_000, group_rows
    assert sum(group_rows) == src.count()

    # isolate the level option: identical (unsorted, single-file)
    # writes at the archival level 22 vs the default 3 — the archival
    # level must buy a real size reduction, else the 17× CPU is waste
    from gis_etl_spark.io import ZSTD_ARCHIVAL_LEVEL, ZSTD_LEVEL

    sizes = {}
    for lvl in (ZSTD_ARCHIVAL_LEVEL, ZSTD_LEVEL):
        p = str(tmp_path / f"lvl{lvl}")
        (
            src.coalesce(1).write.mode("overwrite")
            .option("compression", "zstd")
            .option("parquet.compression.codec.zstd.level", lvl)
            .parquet(p)
        )
        sizes[lvl] = sum(
            os.path.getsize(f) for f in glob.glob(os.path.join(p, "part-*"))
        )
    assert sizes[ZSTD_ARCHIVAL_LEVEL] < sizes[ZSTD_LEVEL] * 0.95, sizes


def test_convert_quarantines_unknown_crs(spark, bdf):
    """The declared missing-CRS contract (SURVEY §7.2.2 / reference
    east_asia.py:118-137): NULL or unsupported EPSG rows are excluded
    from convert() output with per-source failure records — never
    silently passed through unprojected — and the error mode fails
    fast naming the sources."""
    import pytest as _pt

    bad = (
        bdf.limit(15)
        .withColumn("source", F.lit("regionX/noprj.pq"))
        .withColumn("epsg", F.lit(None).cast("long"))
        .union(
            bdf.limit(6)
            .withColumn("source", F.lit("regionX/lambert.pq"))
            .withColumn("epsg", F.lit(2154).cast("long"))
        )
    )
    mixed = bdf.union(bad)

    conv_sources = {
        r.source
        for r in P.convert(mixed).select("source").distinct().collect()
    }
    assert "regionX/noprj.pq" not in conv_sources
    assert "regionX/lambert.pq" not in conv_sources
    # clean rows still convert
    assert P.convert(mixed).count() == P.convert(bdf).count()

    q = {r.source: r for r in P.crs_quarantine(mixed).collect()}
    assert q["regionX/noprj.pq"].n_rows == 15
    assert q["regionX/noprj.pq"].epsg is None
    assert "missing EPSG" in q["regionX/noprj.pq"].reason
    assert q["regionX/lambert.pq"].n_rows == 6
    assert "EPSG:2154" in q["regionX/lambert.pq"].reason

    with _pt.raises(ValueError, match="regionX/noprj.pq"):
        P.convert(mixed, on_unknown_crs="error")
    # clean input passes the error gate
    assert P.convert(bdf, on_unknown_crs="error").count() > 0


def test_epsg_supported_matches_parse_epsg(spark):
    """The native predicate and the kernel parser must agree over the
    full plausible code space."""
    import pandas as pd

    from gis_etl_spark.geom.transform import _parse_epsg, epsg_supported

    codes = list(range(3850, 3870)) + [4326, 2154, 0] + list(
        range(32590, 32780)
    )

    def py_ok(c):
        try:
            _parse_epsg(c)
            return True
        except ValueError:
            return False

    sdf = spark.createDataFrame(pd.DataFrame({"code": codes}))
    got = {
        r.code: r.ok
        for r in sdf.select(
            "code", epsg_supported(F.col("code")).alias("ok")
        ).collect()
    }
    for c in codes:
        assert got[c] == py_ok(c), c


def test_heatmap_geojson_valid(spark, bdf):
    import json

    gj = P.heatmap_geojson(P.convert(bdf)).collect()
    assert gj
    for r in gj:
        obj = json.loads(r.geojson)
        assert obj["type"] == "Feature"
        ring = obj["geometry"]["coordinates"][0]
        assert len(ring) == 5 and ring[0] == ring[4]
        # convert() output → every cell inside world bounds
        assert all(
            -180.5 <= p[0] <= 180.5 and -90.5 <= p[1] <= 90.5 for p in ring
        )
        assert obj["properties"]["cell"] == r.cell


def test_runbook_sql_surface(spark, bdf):
    """SURVEY §3.4: the reference's shell-heredoc SQL workflow maps to
    spark.sql over registered views + engine SQL functions. Run a
    runbook-shaped query (shape census + centroid + Hilbert ordering)
    purely as SQL text."""
    from gis_etl_spark.geom.functions import register_sql_functions

    register_sql_functions(spark)
    bdf.createOrReplaceTempView("buildings")
    census = spark.sql(
        """
        SELECT st_shape_type(geom) AS t, count(*) AS cnt
        FROM buildings WHERE geom IS NOT NULL
        GROUP BY 1 ORDER BY 1
        """
    ).collect()
    assert {r.t for r in census} <= {1, 2, 3, 6}
    assert sum(r.cnt for r in census) == bdf.filter(
        F.col("geom").isNotNull()
    ).count()

    ordered = spark.sql(
        """
        SELECT building_id,
               hilbert_encode(st_centroid(geom).y, st_centroid(geom).x)
                 AS hkey
        FROM buildings WHERE geom IS NOT NULL
        ORDER BY hkey LIMIT 10
        """
    ).collect()
    assert len(ordered) == 10
    assert all(
        a.hkey <= b.hkey for a, b in zip(ordered, ordered[1:])
    )


def test_find_geometry_column(spark, bdf):
    from gis_etl_spark.geom.functions import find_geometry_column

    assert find_geometry_column(bdf) == "geom"
    renamed = bdf.withColumnRenamed("geom", "Shape")
    assert find_geometry_column(renamed) == "Shape"
    assert find_geometry_column(bdf.select("building_id")) is None


def test_approx_distinct_within_bounds(spark, sf_dir):
    from gis_etl_spark.ops.relational import (
        approx_distinct_customers,
        count_distinct_customers,
    )

    exact = count_distinct_customers(spark, sf_dir).first()[0]
    approx = approx_distinct_customers(spark, sf_dir).first()[0]
    assert abs(approx - exact) / exact < 0.05


def test_kmv_distinct_within_bounds(spark, sf_dir):
    """KMV estimate within 4/sqrt(K-1) of exact (≈4 sigma), and exact
    by the degradation rule when distinct count < K."""
    from gis_etl_spark.ops.relational import (
        KMV_K,
        count_distinct_customers,
        kmv_distinct_customers,
    )

    exact = count_distinct_customers(spark, sf_dir).first()[0]
    row = kmv_distinct_customers(spark, sf_dir).first()
    if exact < KMV_K:
        assert row["est_customers"] == exact
    else:
        rel = abs(row["est_customers"] - exact) / exact
        assert rel < 4.0 / (KMV_K - 1) ** 0.5, (row, exact)


def test_kmv_sketch_only_equals_full_query_sketch(spark, sf_dir):
    """kmv_overlap_sketch (per-group TakeOrdered(K) sketches merged by
    set algebra, no exact audit in the plan) must reproduce the sketch
    columns of kmv_source_overlap value-for-value — the subset
    identity M ⊆ (A's k-min ∪ B's k-min) that makes shard sketches
    mergeable. Also sanity-bound the estimates against the full
    query's exact counts."""
    from gis_etl_spark.ops.text import kmv_overlap_sketch, kmv_source_overlap

    full = kmv_source_overlap(spark, sf_dir).first()
    sk = kmv_overlap_sketch(spark, sf_dir).first()
    cols = ("n_kept", "kth_hash", "rho", "union_est", "inter_est")
    assert {c: sk[c] for c in cols} == {c: full[c] for c in cols}
    if full["n_kept"] >= 256:  # estimator regime (not the exact fallback)
        rel = abs(sk["union_est"] - full["n_union_exact"])
        assert rel / full["n_union_exact"] < 4.0 / (256 - 1) ** 0.5


def test_sampled_quantiles_approximate_truth(spark, sf_dir):
    """The hash-sampled quartiles must be (a) monotone, (b) actual
    data values, and (c) close in TRUE percentile rank to their
    nominal p — the estimator contract; the cross-engine bit-match
    itself is pinned by the registry oracle test."""
    from pyspark.sql import functions as F

    from gis_etl_spark.io import read_table
    from gis_etl_spark.ops.relational import (
        SAMPLE_MOD,
        sampled_price_quantiles,
    )

    li = read_table(spark, sf_dir, "lineitem")
    totals = {
        r["l_returnflag"]: r["n"]
        for r in li.groupBy("l_returnflag").agg(F.count("*").alias("n")).collect()
    }
    for row in sampled_price_quantiles(spark, sf_dir).collect():
        flag, n = row["l_returnflag"], totals[row["l_returnflag"]]
        assert row["p25"] <= row["p50"] <= row["p75"]
        # sample fraction within 4 sigma of 1/SAMPLE_MOD (binomial)
        p = 1.0 / SAMPLE_MOD
        assert abs(row["n_sample"] - n * p) < 4 * (n * p * (1 - p)) ** 0.5
        for q, v in (("p25", 0.25), ("p50", 0.5), ("p75", 0.75)):
            below = li.filter(
                (F.col("l_returnflag") == flag)
                & (F.col("l_extendedprice") <= row[q])
            ).count()
            # true rank of the sampled quantile within ±6% of nominal
            assert abs(below / n - v) < 0.06, (flag, q, below / n)


def test_idempotent_write(bdf, tmp_path):
    out = str(tmp_path / "idem")
    df = bdf.select("building_id").limit(10)
    assert idempotent_write(df, out) is True
    # second call: skip (east_asia.py:101-106 semantics)
    assert idempotent_write(df, out) is False


def test_csv_wkt_parse_roundtrip(spark):
    """The CSV fixture's WKT column parses back to WKB whose centroids
    match the original geometries (S4+F7+K5 full loop — the oracle only
    checks the string side)."""
    from gis_etl_spark.fixtures import ensure_buildings, ensure_wkt_csv
    from gis_etl_spark.geom.functions import st_centroid, st_geomfromtext

    csv_path = ensure_wkt_csv()
    bpath, _ = ensure_buildings(2_000)
    parsed = (
        spark.read.option("header", True)
        .schema("building_id long, wkt string")
        .csv(csv_path)
        .withColumn("geom", st_geomfromtext(F.col("wkt")))
        .withColumn("c", st_centroid(F.col("geom")))
        .select("building_id", "c.x", "c.y")
    )
    orig = (
        spark.read.parquet(bpath)
        .filter(F.col("geom").isNotNull())
        .withColumn("c", st_centroid(F.col("geom")))
        .select("building_id", F.col("c.x").alias("ox"), F.col("c.y").alias("oy"))
    )
    joined = parsed.join(orig, "building_id").select(
        (F.abs(F.col("x") - F.col("ox")) + F.abs(F.col("y") - F.col("oy")))
        .alias("err")
    )
    assert joined.count() > 1800
    assert joined.agg(F.max("err")).first()[0] < 1e-9


def test_ndjson_write_read_roundtrip(spark, tmp_path):
    """K4 NDJSON sink + S6 scan: census → write.json → read.json →
    identical counts."""
    from gis_etl_spark.fixtures import ensure_buildings
    from gis_etl_spark.io import read_ndjson, write_ndjson
    from gis_etl_spark.pipelines.buildings import shape_type_census

    bpath, _ = ensure_buildings(3_000)
    census = shape_type_census(spark.read.parquet(bpath))
    out = str(tmp_path / "stats_json")
    write_ndjson(census, out)
    back = read_ndjson(
        spark, out, schema="shape_type int, filename string, num_recs bigint"
    )
    want = {(r.shape_type, r.filename): r.num_recs for r in census.collect()}
    got = {(r.shape_type, r.filename): r.num_recs for r in back.collect()}
    assert got == want


def test_shape_census_matches_direct_bytes(bdf):
    census = {
        (r.shape_type, r.filename): r.num_recs
        for r in P.shape_type_census(bdf).collect()
    }
    rows = bdf.filter(F.col("geom").isNotNull()).collect()
    direct: dict[tuple[int, str], int] = {}
    for r in rows:
        key = (bytes(r.geom)[1], r.source)
        direct[key] = direct.get(key, 0) + 1
    assert census == direct
