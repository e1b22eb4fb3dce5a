"""Spark-facing geometry functions over WKB BinaryType columns.

Two tiers (SURVEY.md §2.9, §7.2):

1. JVM-native expressions where the byte layout allows — shape-type
   extraction is pure `substring`/`conv` (the reference's
   `substr(geom::BLOB::TEXT, 7, 2)` trick, east_asia.py:176) and stays
   inside whole-stage codegen: the core-type filter (P4) runs with NO
   Python round-trip and pushes ahead of any decode.

2. Arrow-batched pandas UDFs for real geometry math (centroid, bbox,
   flip, force2d, WKT) — vectorized numpy kernels from geom/wkb.py.
   Row-at-a-time Python UDFs are banned in this codebase.

Staging rule: queries compute `st_centroid`/`st_bbox` ONCE into a
struct column via withColumn and access fields afterwards — manual CSE
that keeps a single decode per geometry per plan (the reference
recomputes ST_CENTROID repeatedly, e.g.
East-Asia-Building-Footprints.md:267-268; SURVEY.md §4.1).
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    BooleanType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from gis_etl_spark.geom import wkb as K

CENTROID_TYPE = StructType(
    [StructField("x", DoubleType()), StructField("y", DoubleType())]
)
BBOX_TYPE = StructType(
    [
        StructField("xmin", DoubleType()),
        StructField("ymin", DoubleType()),
        StructField("xmax", DoubleType()),
        StructField("ymax", DoubleType()),
    ]
)


def st_shape_type_byte(geom: Column) -> Column:
    """Low byte of the little-endian WKB type word — JVM-native, no UDF.

    Exactly the reference's `('0x' || substr(geom::BLOB::TEXT, 7, 2))::INT`
    (east_asia.py:176, :248; ORNL-FEMA-Buildings.md:82): byte index 1 of
    the buffer. Core GEOS types are 1-7; ISO POLYGON Z (1003=0x3EB) reads
    as 0xEB=235, EWKB Z-flagged reads as the base code — both intended,
    matching the reference's `< 8` filter semantics.
    """
    return F.conv(F.hex(F.substring(geom, 2, 1)), 16, 10).cast("int")


def st_is_core_type(geom: Column) -> Column:
    """The reference's P4 predicate: keep the 7 core OGC types
    (east_asia.py:248)."""
    return st_shape_type_byte(geom) < 8


@F.pandas_udf(IntegerType())
def st_shape_type(geom: pd.Series) -> pd.Series:
    """Semantic base type with Z/M/SRID flags decoded (ewkb-stats
    census, east_asia.py:336-340)."""
    return geom.map(lambda b: None if b is None else K.shape_type(bytes(b)))


@F.pandas_udf(CENTROID_TYPE)
def st_centroid(geom: pd.Series) -> pd.DataFrame:
    """Geometric centroid → struct(x, y). (ST_CENTROID, east_asia.py:76)

    Whole-batch vectorized (wkb.centroid_batch): the dominant
    single-ring-polygon case runs as a handful of numpy ops over the
    entire Arrow batch — measured ~20× over per-row parsing."""
    xs, ys = K.centroid_batch(list(geom))
    return pd.DataFrame({"x": xs, "y": ys})


# asNondeterministic (r18, guide §4.4): several consumers filter on the
# centroid's fields (lat/lon bounds, antimeridian guards); filter
# pushdown then evaluated the UDF TWICE per row — one ArrowEvalPython
# below the pushed filter, one in the surviving projection (see
# plans/r18/geo_geohash_census_before.txt nodes 3/6, likewise
# geo_tile_census / geo_haversine_span / geo_heatmap_export). The
# kernel is pure; the marker only stops the optimizer duplicating it.
# No input pushdown is lost: every caller filters geom BEFORE this
# projection in source order.
st_centroid = st_centroid.asNondeterministic()


@F.pandas_udf(BBOX_TYPE)
def st_bbox(geom: pd.Series) -> pd.DataFrame:
    """Per-geometry bbox → struct(xmin, ymin, xmax, ymax)
    (ST_XMIN/.../ST_YMAX, East-Asia-Building-Footprints.md:231-234).
    Whole-batch vectorized like st_centroid."""
    out = K.bbox_batch(list(geom))
    return pd.DataFrame(
        {
            "xmin": out[:, 0],
            "ymin": out[:, 1],
            "xmax": out[:, 2],
            "ymax": out[:, 3],
        }
    )


AREA_TYPE = StructType(
    [StructField("area", DoubleType()), StructField("perim", DoubleType())]
)


@F.pandas_udf(AREA_TYPE)
def st_area_perimeter(geom: pd.Series) -> pd.DataFrame:
    """ST_AREA + ST_PERIMETER/ST_LENGTH in one parse → struct(area,
    perim), planar coordinate units. [Beyond-reference: the reference
    never computes areas, but footprint QA (area distributions,
    degenerate-sliver detection) needs them; the kernel reuses the
    same conditioned shoelace as st_centroid.] Points → (0,0); lines
    → (0, path length); polygons → (|Σ signed ring areas|, Σ ring
    lengths) — holes subtract area but add boundary."""
    vals = [
        (float("nan"), float("nan")) if b is None else K.area_perimeter(b)
        for b in geom
    ]
    return pd.DataFrame(
        {"area": [v[0] for v in vals], "perim": [v[1] for v in vals]}
    )


@F.pandas_udf(LongType())
def st_npoints(geom: pd.Series) -> pd.Series:
    """ST_NPOINTS — total vertex count (all rings/parts)."""
    return pd.Series(
        [None if b is None else K.npoints(b) for b in geom], dtype="Int64"
    )


def st_simplify(geom: Column, tol: float) -> Column:
    """ST_SIMPLIFY (Douglas-Peucker) [beyond-reference]: structure-
    preserving — line endpoints kept, polygon rings that would drop
    below 4 vertices keep their originals. Arrow-batched; tol is a
    plan-time constant so the kernel closure captures it."""

    @F.pandas_udf(BinaryType())
    def _udf(g: pd.Series) -> pd.Series:
        return pd.Series(
            [None if b is None else K.simplify(b, tol) for b in g]
        )

    return _udf(geom)


@F.pandas_udf(BinaryType())
def st_convex_hull(geom: pd.Series) -> pd.Series:
    """ST_CONVEXHULL [beyond-reference]: Andrew monotone chain over
    every vertex → POLYGON (or LINESTRING/POINT for degenerate
    input), strictly convex, CCW, closed."""
    return pd.Series(
        [None if b is None else K.convex_hull(b) for b in geom]
    )


def st_x(point_struct: Column) -> Column:
    """Accessor on a st_centroid struct (ST_X, east_asia.py:76)."""
    return point_struct.getField("x")


def st_y(point_struct: Column) -> Column:
    return point_struct.getField("y")


@F.pandas_udf(BinaryType())
def st_flip_coordinates(geom: pd.Series) -> pd.Series:
    """Swap x↔y of every vertex (ST_FlipCoordinates, east_asia.py:261)."""
    return geom.map(lambda b: None if b is None else K.flip(bytes(b)))


@F.pandas_udf(BinaryType())
def st_force2d(geom: pd.Series) -> pd.Series:
    """Drop Z/M (reference Z-drop, east_asia.py:67-68)."""
    return geom.map(lambda b: None if b is None else K.force_2d(bytes(b)))


@F.pandas_udf(StringType())
def st_astext(geom: pd.Series) -> pd.Series:
    """WKB → WKT (geom::TEXT, East-Asia-Building-Footprints.md:153)."""
    return geom.map(lambda b: None if b is None else K.to_wkt(bytes(b)))


@F.pandas_udf(BinaryType())
def st_geomfromtext(wkt: pd.Series) -> pd.Series:
    """WKT → WKB (geom::GEOMETRY from CSV text, east_asia.py:73)."""
    return wkt.map(lambda s: None if s is None else K.from_wkt(str(s)))


@F.pandas_udf(IntegerType())
def st_npoints(geom: pd.Series) -> pd.Series:
    """Total vertex count — cheap QA metric."""
    return geom.map(lambda b: None if b is None else K.npoints(bytes(b)))


def st_centroid_hex_cell(geom: Column, res: int = 7) -> Column:
    """FUSED hot path for hex heatmaps: WKB → centroid → icosahedral
    hex cell id in ONE Arrow pass (centroid_batch + geohex.hex_cell_np,
    both whole-batch numpy). Same ids as staging st_centroid and
    applying geohex.hex_cell — that composition pays a second Arrow
    hop for the centroid struct plus ~10 µs/row of CodegenFallback
    higher-order-function evaluation (measured 1.8 s of a 2.6 s
    200k-row heatmap); this kernel is ~0.1 µs/row on the same batch.
    Bit parity: tests/test_layout.py asserts exact id equality of all
    three paths. NaN/empty centroids → NULL cell."""
    from gis_etl_spark.layout.geohex import hex_cell_np

    @F.pandas_udf(LongType())
    def _udf(g: pd.Series) -> pd.Series:
        return _centroid_key(g, lambda y, x: hex_cell_np(y, x, res))

    return _udf(geom)


@F.pandas_udf(LongType())
def st_centroid_hilbert(geom: pd.Series) -> pd.Series:
    """FUSED layout key: WKB → centroid → Hilbert key in ONE Arrow
    pass (centroid_batch + sfc.hilbert_encode_np). Bit-identical to
    hilbert_encode(st_centroid(g).y, st_centroid(g).x), which ships
    every geometry to Python once for the centroid struct and the
    struct back again for the key. NaN/NULL centroids → NULL key."""
    from gis_etl_spark.layout.sfc import hilbert_encode_np

    # ≤ 2·order = 32 bits: the uint64 → int64 cast is sign-safe
    return _centroid_key(
        geom, lambda y, x: hilbert_encode_np(y, x).astype("int64")
    )


def _centroid_key(geom: pd.Series, key_fn) -> pd.Series:
    """Int64 key per geometry from its centroid: key_fn(ys, xs) over the
    batch's valid centroids, NULL where the centroid is NaN (NULL,
    empty or zero-area geometry)."""
    import numpy as np

    xs, ys = K.centroid_batch(list(geom))
    valid = ~(np.isnan(xs) | np.isnan(ys))
    out = pd.Series([None] * len(xs), dtype="Int64")
    if valid.any():
        out[valid] = key_fn(ys[valid], xs[valid])
    return out


@F.pandas_udf(BooleanType())
def st_centroid_inside(geom: pd.Series) -> pd.Series:
    """Does each geometry contain its own centroid? (the classic
    concavity/quality probe — GEOS ST_Contains(geom, ST_Centroid)
    shape, here via the vectorized even-odd kernel in ONE Arrow pass:
    centroid decode and edge-crossing test share the ring table)."""
    bufs = list(geom)
    xs, ys = K.centroid_batch(bufs)
    return pd.Series(K.contains_point_batch(bufs, xs, ys))


@F.pandas_udf(BooleanType())
def st_contains_point(
    geom: pd.Series, x: pd.Series, y: pd.Series
) -> pd.Series:
    """ST_CONTAINS(geom, POINT(x, y)) — vectorized even-odd crossing
    (holes + multipolygons via the parity rule; boundary half-open).
    Areal types only: points/lines contain nothing."""
    return pd.Series(
        K.contains_point_batch(
            list(geom),
            x.to_numpy(dtype="f8", na_value=float("nan")),
            y.to_numpy(dtype="f8", na_value=float("nan")),
        )
    )


def decode_centroid_points(
    df,
    geom_col: str = "geom",
    id_col: str = "building_id",
    geographic_only: bool = True,
):
    """WKB → (id, cx, cy) point table in ONE mapInPandas pass, with the
    invalid/out-of-range drop applied INSIDE the kernel.

    Why not with_centroid + filter + select: Catalyst re-extracts a
    pandas UDF once per consuming operator, so a filter on the UDF
    output plus a projection of it decodes every geometry twice per
    plan branch (measured: the near-pairs self-join carried EIGHT
    ArrowEvalPython nodes). A mapInPandas stage evaluates exactly once
    per side and can drop rows, which scalar UDFs cannot."""
    import numpy as np

    from pyspark.sql.types import LongType

    schema = StructType(
        [
            StructField(id_col, LongType()),
            StructField("cx", DoubleType()),
            StructField("cy", DoubleType()),
        ]
    )

    def decode(batches):
        for pdf in batches:
            xs, ys = K.centroid_batch(list(pdf[geom_col]))
            keep = ~(np.isnan(xs) | np.isnan(ys))
            if geographic_only:
                keep &= (np.abs(xs) <= 180.0) & (np.abs(ys) <= 90.0)
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col].to_numpy()[keep],
                    "cx": xs[keep],
                    "cy": ys[keep],
                }
            )

    return df.select(id_col, geom_col).mapInPandas(decode, schema)


def register_sql_functions(spark) -> None:
    """Expose the geometry/layout surface to `spark.sql` so the
    reference's runbook-style heredoc SQL translates 1:1 (SURVEY.md
    §3.4: shell-DuckDB queries → spark.sql over registered views +
    these functions). Pandas UDFs register directly; the JVM-native
    helpers (shape-type byte, grid cells, Morton) are plain expression
    compositions usable inline in SQL already."""
    from gis_etl_spark.layout.sfc import _hilbert_udf

    spark.udf.register("st_centroid", st_centroid)
    spark.udf.register("st_bbox", st_bbox)
    spark.udf.register("st_shape_type", st_shape_type)
    spark.udf.register("st_astext", st_astext)
    spark.udf.register("st_geomfromtext", st_geomfromtext)
    spark.udf.register("st_flip_coordinates", st_flip_coordinates)
    spark.udf.register("st_force2d", st_force2d)
    spark.udf.register("st_npoints", st_npoints)
    spark.udf.register("st_contains_point", st_contains_point)
    spark.udf.register("st_centroid_inside", st_centroid_inside)
    spark.udf.register("hilbert_encode", _hilbert_udf)


def find_geometry_column(df) -> str | None:
    """Schema-introspection replacement for the reference's
    `DESCRIBE FROM ST_READ(...) LIMIT 1` probe that picks the
    WKB_BLOB/GEOMETRY column (east_asia.py:145-153, SURVEY.md §1.3):
    the engine's convention is WKB in a BinaryType column — prefer a
    column named geom/Shape/geometry/wkb, else the first binary one."""
    from pyspark.sql.types import BinaryType

    binary_cols = [
        f.name for f in df.schema.fields if isinstance(f.dataType, BinaryType)
    ]
    preferred = [
        c for c in binary_cols
        if c.lower() in ("geom", "geometry", "shape", "wkb")
    ]
    if preferred:
        return preferred[0]
    return binary_cols[0] if binary_cols else None


def st_convert_geom(
    geom: Column, epsg: Column, needs_flip: Column, dst_epsg: int = 4326
) -> Column:
    """Fused per-row conversion: force2d → reproject (only when the
    declared CRS ≠ dst) → flip (only when flagged). ONE Arrow round
    trip for the whole pipeline — composing separate UDFs pays the
    batch serialization once per step and, worse, per plan branch
    (measured: the naive when/otherwise or filter+union formulations
    re-ran upstream UDFs 2-4× over the corpus)."""
    from gis_etl_spark.geom.transform import transform_xy

    @F.pandas_udf(BinaryType())
    def _udf(g: pd.Series, code: pd.Series, flip: pd.Series) -> pd.Series:
        out = []
        for buf, c, fl in zip(g, code, flip):
            if buf is None:
                out.append(None)
                continue
            b = K.force_2d(bytes(buf))
            # NULL epsg arrives as NaN in the pandas batch, not None
            if not pd.isna(c) and int(c) != dst_epsg:
                b = K.transform_coords(
                    b, lambda xy, cc=int(c): transform_xy(xy, cc, dst_epsg)
                )
            if fl:
                b = K.flip(b)
            out.append(b)
        return pd.Series(out)

    return _udf(geom, epsg, needs_flip)


# --- great-circle distance (haversine) --------------------------------------

EARTH_R_M = 6371008.8  # IUGG mean Earth radius, metres
_DEG2RAD = "0.017453292519943295"  # double nearest pi/180


def haversine_m_sql(lon1: str, lat1: str, lon2: str, lat2: str) -> str:
    """Haversine great-circle distance in metres as an SQL expression
    string — the ST_DISTANCE_SPHERE the engine lacked. ONE text is
    shared verbatim by the Spark plan (F.expr) and the DuckDB oracle,
    so the operation SEQUENCE is identical by construction; the only
    cross-engine freedom left is the libm sin/cos/asin/sqrt ulp, the
    same (accepted, floor-absorbed) risk class as the slippy-tile
    ln/tan codec. Degrees->radians is an explicit multiply by the
    double nearest pi/180 — the builtin radians() differs between
    engines (x/180*pi vs x*(pi/180)) and would break parity."""
    k = _DEG2RAD
    sdlat = f"sin(((({lat2}) - ({lat1})) * {k}) / 2)"
    sdlon = f"sin(((({lon2}) - ({lon1})) * {k}) / 2)"
    a = (
        f"{sdlat} * {sdlat} + cos(({lat1}) * {k}) * cos(({lat2}) * {k})"
        f" * {sdlon} * {sdlon}"
    )
    # Clamp: FP rounding can push `a` a few ulp above 1.0 for
    # near-antipodal pairs (observed: 1.0000000000000004). Spark's
    # asin would return NaN; DuckDB's asin hard-errors outside
    # [-1, 1] — so both engines need the clamp, and sharing it in
    # the one text keeps parity. NaN guard (ADVICE r5): both engines
    # order NaN above 1.0, so a bare least() would silently map NaN
    # input coordinates to the antipodal distance — garbage dressed as
    # a plausible maximum. The guard tests the RAW inputs (ADVICE r6:
    # isnan(a) re-evaluated the whole trig subexpression unless CSE
    # caught it, not guaranteed in either engine): x*0.0 is NaN
    # exactly when x is NaN or +-Infinity — the same input set that
    # made `a` NaN — so one mul/add chain replaces the duplicated
    # haversine text. The same sum also fixes a latent NULL hazard:
    # before r7, a NULL coordinate made `a` NULL and both engines'
    # NULL-skipping least(NULL, 1.0) = 1.0 silently returned the
    # antipodal distance; now NULL input -> NULL distance.
    guard_sum = (
        f"(({lon1}) * 0.0 + ({lat1}) * 0.0"
        f" + ({lon2}) * 0.0 + ({lat2}) * 0.0)"
    )
    return (
        f"(CASE WHEN {guard_sum} IS NULL THEN CAST(NULL AS DOUBLE) "
        f"WHEN isnan({guard_sum}) THEN CAST('NaN' AS DOUBLE) "
        f"ELSE 2.0 * {EARTH_R_M!r} * asin(sqrt(least({a}, 1.0))) END)"
    )


def st_distance_sphere(
    lon1: str, lat1: str, lon2: str, lat2: str
):
    """Column form of haversine_m_sql (args are SQL expression
    strings, typically column names)."""
    from pyspark.sql import functions as F

    return F.expr(haversine_m_sql(lon1, lat1, lon2, lat2))
