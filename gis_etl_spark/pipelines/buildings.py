"""Building-footprint pipelines — the reference's three CLI commands
(`main`, `ewkb-stats`, `merge-pqs`, east_asia.py:286-419) as Spark DAGs.

Where the reference loops over 358 files with a process pool
(east_asia.py:308-314), each rendition here is ONE distributed plan
over the whole corpus: Catalyst parallelizes by file split, the
shuffle replaces the staging table, and the flip heuristic stays a
cheap driver-side scalar exactly as in the reference (east_asia.py:239).

Scale notes (100 TB):
- the centroid struct is computed ONCE per plan (withColumn staging →
  single Arrow pass), then every consumer reads struct fields;
- the heatmap is a two-phase hash agg on a JVM-native cell id — the
  Python hop happens only for centroid decode, not per-cell;
- merge_compact's global Hilbert sort is a range-partitioned sort:
  Spark samples the key distribution, so output files are
  size-balanced without the reference's manual resp.json bin-packing.
  The keyed rows pass one hash exchange on the key first, so that
  sampling job reads shuffle blocks instead of re-running the source
  decoders, convert and the key kernel over the whole input;
- the Arrow Hilbert key is one hop (WKB → centroid → key in a single
  pandas UDF), not a centroid struct round trip plus a second key UDF.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from gis_etl_spark.geom.functions import (
    st_bbox,
    st_centroid,
    st_centroid_hilbert,
    st_convert_geom,
    st_is_core_type,
    st_shape_type_byte,
)
from gis_etl_spark.io import write_clustered_parquet
from gis_etl_spark.layout.sfc import (
    grid_cell,
    grid_cell_boundary_wkt,
)


def with_centroid(df: DataFrame, geom_col: str = "geom") -> DataFrame:
    """Stage the centroid struct once (manual CSE — the reference
    recomputes ST_CENTROID per use, East-Asia-…md:267-268)."""
    return df.withColumn("centroid", st_centroid(F.col(geom_col)))


def shape_type_census(df: DataFrame, geom_col: str = "geom") -> DataFrame:
    """`ewkb-stats` rendition (east_asia.py:317-355): per-source
    shape-type histogram in ONE shuffle instead of 358 sequential
    queries. The type byte is a native expression — census never
    decodes geometry."""
    return (
        df.filter(F.col(geom_col).isNotNull())
        .groupBy(
            st_shape_type_byte(F.col(geom_col)).alias("shape_type"),
            F.col("source").alias("filename"),
        )
        .agg(F.count("*").alias("num_recs"))
    )


def detect_flip_sources(df: DataFrame, geom_col: str = "geom") -> DataFrame:
    """Per-source flip heuristic — the reference computes
    `MIN(ST_XMIN(ST_TRANSFORM(...)))` per file and flips when < 60
    (east_asia.py:204-239). Here: one aggregation over all sources;
    the flag joins back broadcast-style in normalize()."""
    return (
        with_centroid(df.filter(F.col(geom_col).isNotNull()), geom_col)
        .groupBy("source")
        .agg(F.min(F.col("centroid").getField("x")).alias("min_x"))
        .withColumn("needs_flip", F.col("min_x") < 60.0)
    )


def normalize(df: DataFrame, geom_col: str = "geom") -> DataFrame:
    """`extract()` rendition (east_asia.py:96-283): drop null geometry
    (P6), keep the 7 core OGC types (P4), force 2-D (Z-drop,
    east_asia.py:67-68), flip lat-lon-swapped sources (P8+F5).

    The flip flag is a tiny per-source table → broadcast join; the
    conditional rewrite touches only flagged rows.
    """
    flips = detect_flip_sources(df, geom_col).select("source", "needs_flip")
    cleaned = df.filter(F.col(geom_col).isNotNull()).filter(
        st_is_core_type(F.col(geom_col))
    )
    # ONE fused Arrow pass (force2d + conditional flip): separate UDFs
    # in when/otherwise run for every row regardless of branch, and
    # filter+union re-executes the upstream per branch — both measured
    # slower than fusing (geom/functions.py st_convert_geom).
    return (
        cleaned.join(F.broadcast(flips), "source", "left")
        .withColumn(
            geom_col,
            st_convert_geom(
                F.col(geom_col),
                F.lit(None).cast("long"),  # no CRS change in normalize
                F.coalesce(F.col("needs_flip"), F.lit(False)),
            ),
        )
        .drop("needs_flip")
    )


def crs_quarantine(df: DataFrame) -> DataFrame:
    """Per-source failure records for rows convert() refuses: sources
    whose declared EPSG is NULL (missing .prj sidecar) or outside the
    engine's reprojection family. The distributed rendition of the
    reference's ogr2ogr fallback trigger (east_asia.py:118-137) under
    the per-source failure-record discipline (SURVEY §7.2.5): the
    pipeline continues, the operator gets an auditable record per
    (source, epsg) instead of silently mixed-CRS output."""
    from gis_etl_spark.geom.transform import epsg_supported

    return (
        df.filter(~epsg_supported(F.col("epsg")))
        .groupBy("source", "epsg")
        .agg(F.count("*").alias("n_rows"))
        .select(
            "source",
            "epsg",
            "n_rows",
            F.when(
                F.col("epsg").isNull(),
                F.lit("missing EPSG (no CRS sidecar)"),
            )
            .otherwise(
                F.format_string(
                    "unsupported EPSG:%d — engine implements 4326, 3857, "
                    "UTM 32601-60/32701-60",
                    F.col("epsg"),
                )
            )
            .alias("reason"),
        )
        .orderBy("source", "epsg")
    )


def convert(
    df: DataFrame, geom_col: str = "geom", on_unknown_crs: str = "quarantine"
) -> DataFrame:
    """Full `main`-pipeline parity (east_asia.py:96-283): null-drop →
    core-type filter → force2d → ST_TRANSFORM(declared EPSG → 4326) →
    per-source flip heuristic on the TRANSFORMED coordinates (the
    reference probes min ST_XMIN *after* transform, east_asia.py:204-216)
    → conditional flip. Output is write-ready for merge_compact.

    Rows with NULL/unsupported epsg (the reference shells to ogr2ogr
    when .prj is absent, east_asia.py:118-137):
    - on_unknown_crs="quarantine" (default): excluded from the output;
      crs_quarantine(df) yields the per-source failure records. Output
      is guaranteed single-CRS (4326).
    - on_unknown_crs="error": fail fast, naming the offending sources —
      costs one column-pruned pass over (source, epsg).
    """
    from gis_etl_spark.geom.transform import epsg_supported, st_transform_xy

    if on_unknown_crs not in ("quarantine", "error"):
        raise ValueError(f"on_unknown_crs: {on_unknown_crs!r}")
    if on_unknown_crs == "error":
        bad = crs_quarantine(df).limit(20).collect()
        if bad:
            detail = "; ".join(
                f"{r.source}: {r.n_rows} rows ({r.reason})" for r in bad
            )
            raise ValueError(
                "convert(): input declares CRS the engine cannot "
                f"reproject — {detail}. Re-run with "
                "on_unknown_crs='quarantine' to convert the clean rows "
                "and audit failures via crs_quarantine()."
            )
    cleaned = (
        df.filter(epsg_supported(F.col("epsg")))
        .filter(F.col(geom_col).isNotNull())
        .filter(st_is_core_type(F.col(geom_col)))
    )
    # flip probe on TRANSFORMED coordinates, reference order
    # (east_asia.py:204-216) — but transforming only the centroid
    # POINT, not every vertex: min-x-below-60° is insensitive to the
    # centroid-vs-xmin difference (~0.005°) and the probe pass becomes
    # one batch-kernel centroid + a vectorized point reprojection.
    probe = with_centroid(cleaned, geom_col).withColumn(
        "tc",
        st_transform_xy(
            F.col("centroid").getField("x"),
            F.col("centroid").getField("y"),
            F.col("epsg"),
        ),
    )
    flips = (
        probe.groupBy("source")
        .agg(F.min(F.col("tc").getField("x")).alias("min_x"))
        .withColumn("needs_flip", F.col("min_x") < 60.0)
        .select("source", "needs_flip")
    )
    # ONE fused Arrow pass: force2d + reproject (non-4326 rows only)
    # + flip (flagged rows only); see st_convert_geom for why fusing
    # beats composed UDFs.
    return (
        cleaned.join(F.broadcast(flips), "source", "left")
        .withColumn(
            geom_col,
            st_convert_geom(
                F.col(geom_col),
                F.col("epsg"),
                F.coalesce(F.col("needs_flip"), F.lit(False)),
            ),
        )
        .drop("needs_flip")
    )


def global_bbox(df: DataFrame, geom_col: str = "geom") -> DataFrame:
    """Dataset bbox — A4, the query that segfaulted the reference's
    engine over 281M rows (East-Asia-Building-Footprints.md:231-237).
    Here: partial min/max per partition, 4 scalars to the driver."""
    staged = df.filter(F.col(geom_col).isNotNull()).withColumn(
        "bb", st_bbox(F.col(geom_col))
    )
    return staged.agg(
        F.min("bb.xmin").alias("xmin"),
        F.min("bb.ymin").alias("ymin"),
        F.max("bb.xmax").alias("xmax"),
        F.max("bb.ymax").alias("ymax"),
    )


def heatmap(df: DataFrame, res: int = 7, geom_col: str = "geom") -> DataFrame:
    """H3-style density heatmap — A5/A6 two-phase aggregation
    (East-Asia-Building-Footprints.md:243-257). Catalyst's partial+final
    hash agg replaces the reference's 358 staging-table INSERTs; the
    cell id is a native expression over the staged centroid."""
    pts = with_centroid(df.filter(F.col(geom_col).isNotNull()), geom_col)
    return (
        pts.select(
            grid_cell(
                F.col("centroid").getField("y"),
                F.col("centroid").getField("x"),
                res,
            ).alias("cell")
        )
        .groupBy("cell")
        .agg(F.count("*").alias("num_recs"))
    )


def hex_heatmap(df: DataFrame, res: int = 7, geom_col: str = "geom") -> DataFrame:
    """Heatmap on the icosahedral aperture-7 hex grid — same two-phase
    hash agg as heatmap(), cell id from the FUSED WKB→centroid→cell
    Arrow kernel (geom.functions.st_centroid_hex_cell): one Python hop
    total, then the aggregation is all-JVM on an int64 key. The
    let-bound Column rendition (layout.geohex.hex_cell) remains for
    UDF-free contexts; ids are bit-identical across both paths."""
    from gis_etl_spark.geom.functions import st_centroid_hex_cell

    return (
        df.filter(F.col(geom_col).isNotNull())
        .select(st_centroid_hex_cell(F.col(geom_col), res).alias("cell"))
        .groupBy("cell")
        .agg(F.count("*").alias("num_recs"))
    )


def heatmap_export(df: DataFrame, res: int = 7, geom_col: str = "geom") -> DataFrame:
    """Heatmap cells + boundary WKT with the antimeridian guard — the
    GPKG export query (East-Asia-Building-Footprints.md:263-273) with
    WKT standing in for the GDAL sink (SURVEY.md K3)."""
    pts = with_centroid(df.filter(F.col(geom_col).isNotNull()), geom_col)
    cx = F.col("centroid").getField("x")
    guarded = pts.filter((cx < 175.0) & (cx > -175.0))
    cells = (
        guarded.select(
            grid_cell(
                F.col("centroid").getField("y"), cx, res
            ).alias("cell")
        )
        .groupBy("cell")
        .agg(F.sum(F.lit(1)).cast("int").alias("num_recs"))
    )
    return cells.withColumn("boundary", grid_cell_boundary_wkt(F.col("cell")))


def heatmap_geojson(df: DataFrame, res: int = 7, geom_col: str = "geom") -> DataFrame:
    """GeoJSON-feature export of the heatmap — the engine's substitute
    for the reference's GDAL/GPKG sink (K3,
    East-Asia-Building-Footprints.md:263-273): one GeoJSON Feature
    string per cell, writable with df.write.text/json. Pure string
    expressions over the cell rectangle.

    Precondition: run on convert()/normalize() output (as the
    reference's heatmap stage runs on the converted corpus). Raw
    lat-lon-flipped sources produce faithful-but-out-of-bounds cells
    — the guard here drops |lon| ≥ 175 only, not swapped axes."""
    from gis_etl_spark.layout.sfc import BASE_PITCH_RES7, _SQRT7

    cells = heatmap_export(df, res, geom_col)
    res_c = F.shiftright(F.col("cell"), 58).cast("int")
    pitch = F.lit(BASE_PITCH_RES7) * F.pow(F.lit(_SQRT7), F.lit(7) - res_c)
    ix = F.shiftright(F.col("cell"), 29).bitwiseAND(F.lit((1 << 29) - 1))
    iy = F.col("cell").bitwiseAND(F.lit((1 << 29) - 1))
    x0 = ix * pitch - F.lit(180.0)
    y0 = iy * pitch - F.lit(90.0)

    def fmt(c):
        return F.format_string("%.7f", c)

    ring = F.concat(
        F.lit("[["), fmt(x0), F.lit(","), fmt(y0),
        F.lit("],["), fmt(x0 + pitch), F.lit(","), fmt(y0),
        F.lit("],["), fmt(x0 + pitch), F.lit(","), fmt(y0 + pitch),
        F.lit("],["), fmt(x0), F.lit(","), fmt(y0 + pitch),
        F.lit("],["), fmt(x0), F.lit(","), fmt(y0), F.lit("]]"),
    )
    feature = F.concat(
        F.lit('{"type":"Feature","geometry":{"type":"Polygon",'
              '"coordinates":['),
        ring,
        F.lit(']},"properties":{"cell":'),
        F.col("cell").cast("string"),
        F.lit(',"num_recs":'),
        F.col("num_recs").cast("string"),
        F.lit("}}"),
    )
    return cells.select(F.col("cell"), feature.alias("geojson"))


def with_hilbert_key(
    df: DataFrame, geom_col: str = "geom", impl: str = "arrow"
) -> DataFrame:
    """Attach the layout key: Hilbert index of the centroid, the
    reference's signature ORDER BY expression (east_asia.py:75-77).

    impl="arrow" is ONE Arrow hop (geom.functions.st_centroid_hilbert:
    centroid_batch then hilbert_encode_np in the same pandas UDF) —
    bit-identical to hilbert_encode over a staged st_centroid struct,
    without shipping the struct out and back. impl="native" stages the
    centroid and computes the key in pure JVM column arithmetic
    (layout/sfc.with_hilbert_key_native — bit-identical, 13× less
    per-row cost, ~3 s one-time plan analysis), the right trade for
    corpus-scale merges. NULL/NaN centroids get a NULL key."""
    if impl == "native":
        from gis_etl_spark.layout.sfc import with_hilbert_key_native

        staged = with_centroid(df, geom_col)
        cy = F.col("centroid").getField("y")
        cx = F.col("centroid").getField("x")
        return with_hilbert_key_native(staged, cy, cx).drop("centroid")
    return df.withColumn("hkey", st_centroid_hilbert(F.col(geom_col)))


def merge_compact(
    df: DataFrame,
    out_path: str,
    *,
    geom_col: str = "geom",
    max_records_per_file: int = 10_000_000,
    num_files: int | None = None,
    key_impl: str = "arrow",
    zstd_level: str | None = None,
) -> None:
    """`merge-pqs` rendition (east_asia.py:376-419): provenance-keeping
    merge of many inputs into few Hilbert-clustered files.

    The reference bin-packs files into ≤10M-row batches by hand
    (east_asia.py:384-393); repartitionByRange on the Hilbert key gives
    uniformly-sized, spatially-clustered output splits directly.

    The range sort picks its bounds from a sampling job over its child
    plan. The keyed rows go through one hash exchange on hkey first, so
    with AQE that job (and the range shuffle's map stage) reads the
    staged shuffle blocks: each geometry is decoded and keyed in one
    pass over the input, not again for the sample. Over convert()
    output the optimizer inlines the deterministic convert UDF into the
    key's argument, so that one Python evaluation runs the convert
    kernel for both the geom and the hkey output. Scale trade: one
    extra shuffle of the keyed rows instead of one full recompute of
    the child plan (decode and Python kernels, ~60 µs per geometry on
    the per-row paths, see geom/wkb.py), which always holds at least
    the key's Arrow pass (the fused key, or the centroid for
    key_impl="native"). With key_impl="arrow" on 4 vCPUs the shuffle
    was the cheaper side both over decode+convert (perfbench
    etl_buildings) and over a plain parquet input, where only the key
    is recomputed (bench.py geo_merge_compact_200k 2.6 → 2.0 s).
    key_impl="native" was not measured.
    key_impl: see with_hilbert_key — "native" for corpus-scale runs.
    zstd_level: None → io.ZSTD_LEVEL (fast default); use
    merge_compact_archival for the reference's level-22 final sink.
    """
    # stage the keyed rows once: the range sort's sampling job reads
    # this exchange instead of recomputing the whole child plan
    keyed = with_hilbert_key(df, geom_col, impl=key_impl).repartition(
        F.col("hkey")
    )
    kwargs = {} if zstd_level is None else {"zstd_level": zstd_level}
    write_clustered_parquet(
        keyed,
        out_path,
        sort_col="hkey",
        max_records_per_file=max_records_per_file,
        num_files=num_files,
        **kwargs,
    )


def merge_compact_archival(df: DataFrame, out_path: str, **kwargs) -> None:
    """merge_compact at the reference's archival ZSTD level 22
    (east_asia.py:79-82): ~14-18% fewer bytes for ~17× write CPU —
    for the final write-once-read-many artifact only."""
    from gis_etl_spark.io import ZSTD_ARCHIVAL_LEVEL

    merge_compact(df, out_path, zstd_level=ZSTD_ARCHIVAL_LEVEL, **kwargs)
