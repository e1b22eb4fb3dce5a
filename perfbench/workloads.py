"""The benchmark workloads.

A workload generates its inputs from the seed, names the operations of
one pass, and checks the outputs of the cold pass. Operations reach
the engine only through its public functions: the query registry, the
source readers, ``pipelines.buildings``, ``pipelines.streaming`` and
the fixture generators.

- ``etl_buildings``: decode Shapefiles and a FileGDB, ``convert``,
  ``merge_compact`` (Hilbert key + ZSTD write), then the QA heatmaps
  over the written files. Arrow/pandas-UDF kernels and I/O dominate.
- ``curation_cold``: two steps of the LLM-curation ladder (dedup
  components, corpus-flags rederive) from a fresh process with empty
  memos and an empty warehouse, plus one streaming drain.
  Builder-side eager jobs and memo fills dominate the cold pass.
"""

from __future__ import annotations

import glob
import os
import time
from dataclasses import dataclass, field

from perfbench import checks, datagen
from perfbench.trace import streaming_progress

ETL_BUILDINGS = 12_000    # buildings behind the ETL's Shapefiles + FileGDB


def noop(df):
    df.write.format("noop").mode("overwrite").save()


def collect(df):
    return df.columns, [tuple(r) for r in df.collect()]


@dataclass
class Ctx:
    spark: object
    seed: int
    run_dir: str
    tracer: object
    sf_dir: str = ""
    info: dict = field(default_factory=dict)
    stream_runs: list = field(default_factory=list)
    groups: dict = field(default_factory=dict)
    group_alias: dict = field(default_factory=dict)

    def path(self, *parts: str) -> str:
        return os.path.join(self.run_dir, *parts)


@dataclass
class Sample:
    op: str
    build_s: float
    exec_s: float
    result: object = None
    error: str | None = None

    @property
    def wall_s(self) -> float:
        return self.build_s + self.exec_s


class Op:
    """One operation: ``build`` returns a DataFrame (the builder call),
    ``execute`` runs it into the pass's sink."""

    name = ""

    def build(self, ctx: Ctx):
        raise NotImplementedError

    def execute(self, ctx: Ctx, df, sink):
        return sink(df)


class RegistryOp(Op):
    def __init__(self, name: str):
        self.name = name

    def build(self, ctx):
        from gis_etl_spark.queries import REGISTRY

        return REGISTRY[self.name][0](ctx.spark, ctx.sf_dir)


def run_op(ctx: Ctx, op: Op, sink, label: str) -> Sample:
    """Time the builder call and the execution separately; with tracing
    on, each phase runs under a job group of its own."""
    tr = ctx.tracer
    groups = {}
    if tr.enabled:
        for phase in ("build", "exec"):
            g = tr.new_group(f"{label}:{op.name}:{phase}")
            groups[phase] = g
            ctx.groups[g] = (label, op.name, phase)
    t0 = time.perf_counter()
    df = result = error = None
    try:
        with tr.span(f"queries.{op.name}.build", groups.get("build"), phase=label):
            df = op.build(ctx)
    except Exception as e:  # noqa: BLE001 — a failed op is counted, not fatal
        error = f"build: {type(e).__name__}: {e}"
    t1 = time.perf_counter()
    if error is None:
        try:
            with tr.span(f"ops.{op.name}.exec", groups.get("exec"), phase=label):
                result = op.execute(ctx, df, sink)
        except Exception as e:  # noqa: BLE001
            error = f"exec: {type(e).__name__}: {e}"
    t2 = time.perf_counter()
    return Sample(op.name, t1 - t0, t2 - t1, result, error)


class Workload:
    name = ""
    op_names: tuple[str, ...] = ()

    def generate(self, ctx: Ctx) -> None:
        """Write the inputs under the (empty) fixture directory and
        ``ctx.path("inputs")``; set ``input_rows`` and ``input_bytes``."""
        raise NotImplementedError

    def ops(self, ctx: Ctx) -> list[Op]:
        """One pass, in the order of ``op_names``."""
        raise NotImplementedError

    def check(self, ctx: Ctx, cold: list[Sample]) -> list[checks.Check]:
        raise NotImplementedError

    def output_dir(self, ctx: Ctx) -> str:
        """Where a pass writes durable output (for the I/O counters)."""
        raise NotImplementedError

    def layer_split(self, ctx: Ctx) -> dict[str, float]:
        """Traced-run extras: per-layer times not visible as ops."""
        return {}


def _tree_bytes(*paths: str) -> int:
    total = 0
    for p in paths:
        if os.path.isfile(p):
            total += os.path.getsize(p)
        for root, _, files in os.walk(p):
            total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


def _oracle_checks(ctx: Ctx, cold: list[Sample]) -> list[checks.Check]:
    from gis_etl_spark.queries import REGISTRY

    tables = [f[:-8] for f in os.listdir(ctx.sf_dir) if f.endswith(".parquet")]
    con = checks.duckdb_connection(ctx.sf_dir, tables)
    try:
        out = []
        for s in cold:
            sql = REGISTRY[s.op][1] if s.op in REGISTRY else None
            if sql is None or s.result is None:
                continue
            cols, rows = s.result
            out.append(checks.oracle_check(s.op, cols, rows, con, sql))
        return out
    finally:
        con.close()


# --- etl_buildings -------------------------------------------------------

def _decoded(ctx: Ctx):
    """(shapefile frame, FileGDB frame), each as (source, geom, epsg).
    The declared CRS stands in for each layer's .prj / spatial
    reference: the UTM block is EPSG:32650, the rest EPSG:4326."""
    from pyspark.sql import functions as F

    from gis_etl_spark.geom.functions import st_bbox
    from gis_etl_spark.sources.filegdb import read_filegdb
    from gis_etl_spark.sources.shapefile import read_shapefile

    utm = F.lit(32650).cast("long")
    wgs = F.lit(4326).cast("long")
    shp = read_shapefile(ctx.spark, os.path.join(ctx.info["shp_dir"], "*.shp"))
    shp = shp.select(
        "source", "geom",
        F.when(F.col("source").endswith("regionF_utm.shp"), utm)
        .otherwise(wgs).alias("epsg"),
    )
    gdb = read_filegdb(ctx.spark, ctx.info["gdb_dir"]).select(
        F.lit("gdb:buildings").alias("source"), F.col("Shape").alias("geom")
    )
    gdb = gdb.withColumn(
        "epsg",
        F.when(st_bbox(F.col("geom")).getField("xmax") > 360.0, utm)
        .otherwise(wgs),
    )
    return shp, gdb


class ConvertMerge(Op):
    name = "convert_merge_compact"

    def build(self, ctx):
        from gis_etl_spark.pipelines.buildings import convert

        shp, gdb = _decoded(ctx)
        return convert(shp.unionByName(gdb))

    def execute(self, ctx, df, sink):
        from gis_etl_spark.pipelines.buildings import merge_compact

        merge_compact(df, ctx.info["out_dir"])


class QaRead(Op):
    def __init__(self, name: str):
        self.name = name

    def build(self, ctx):
        from gis_etl_spark.pipelines import buildings

        written = ctx.spark.read.parquet(ctx.info["out_dir"])
        return getattr(buildings, self.name)(written)


class EtlBuildings(Workload):
    name = "etl_buildings"
    op_names = (ConvertMerge.name, "heatmap", "hex_heatmap")

    def generate(self, ctx):
        import pandas as pd

        from gis_etl_spark import fixtures

        shp_dir, shp_twin = fixtures.ensure_shapefiles(ETL_BUILDINGS, ctx.seed)
        gdb_dir, gdb_twin = fixtures.ensure_filegdb(ETL_BUILDINGS, ctx.seed)
        shp_rows = len(pd.read_parquet(shp_twin))
        gdb_rows = len(pd.read_parquet(gdb_twin))
        ctx.info.update(
            shp_dir=shp_dir, gdb_dir=gdb_dir, out_dir=ctx.path("out", "merged"),
            # every decoded feature is a core type with a supported CRS,
            # so convert() must keep all of them
            expected_rows=shp_rows + gdb_rows,
            input_rows=shp_rows + gdb_rows,
            # the files the readers open; shp_dir also holds the oracle twin
            input_bytes=_tree_bytes(
                gdb_dir, *glob.glob(os.path.join(shp_dir, "*.sh[px]"))),
        )

    def ops(self, ctx):
        return [ConvertMerge()] + [QaRead(n) for n in self.op_names[1:]]

    def output_dir(self, ctx):
        return ctx.info["out_dir"]

    def check(self, ctx, cold):
        heat = {s.op: s.result[1] for s in cold
                if s.op != ConvertMerge.name and s.result is not None}
        return checks.etl_checks(
            ctx.info["out_dir"], ctx.info["expected_rows"], heat
        )

    def layer_split(self, ctx):
        """Time each stage alone on a materialized input: each source's
        decode into the noop sink, ``convert`` over the decoded features
        read back from parquet, and ``merge_compact`` over the converted
        features read back from parquet. A chained plan would decode
        again inside convert's flip probe and inside merge_compact's
        range sampling; these figures leave that out."""
        from gis_etl_spark.pipelines.buildings import convert, merge_compact

        def timed(fn, *args) -> float:
            t = time.perf_counter()
            fn(*args)
            return time.perf_counter() - t

        read = ctx.spark.read.parquet
        decoded = ctx.path("split", "decoded")
        converted = ctx.path("split", "converted")
        shp, gdb = _decoded(ctx)
        out = {
            "sources.shapefile.decode_s": timed(noop, shp),
            "sources.filegdb.decode_s": timed(noop, gdb),
        }
        shp.unionByName(gdb).write.parquet(decoded)
        out["pipelines.buildings.convert_s"] = timed(
            noop, convert(read(decoded)))
        convert(read(decoded)).write.parquet(converted)
        out["pipelines.buildings.merge_compact_s"] = timed(
            merge_compact, read(converted), ctx.path("split", "merged"))
        return out


# --- curation_cold -------------------------------------------------------

# MinHash pairs and their connected components, then the corpus-flags
# rederive: builder-side eager jobs, memo fills and managed-table writes
CURATION = ("dedup_components", "corpus_flags_rederive")


class StreamDrain(Op):
    """``streaming_ingest_curation`` drained with ``availableNow`` into
    a memory sink; the query's progress feeds the streaming layer."""

    name = "streaming_ingest_curation"

    def build(self, ctx):
        from gis_etl_spark.pipelines.streaming import streaming_ingest_curation

        return streaming_ingest_curation(ctx.spark, ctx.info["stream_dir"])

    def execute(self, ctx, df, sink):
        table = f"pb_curation_{len(ctx.stream_runs)}"
        group = ctx.spark.sparkContext.getLocalProperty("spark.jobGroup.id")
        q = (
            df.writeStream.format("memory").queryName(table)
            .outputMode("complete").trigger(availableNow=True).start()
        )
        if group:
            # the micro-batch jobs run under the query's runId as their
            # job group, not under the caller's
            ctx.group_alias[q.runId] = group
        try:
            q.awaitTermination()
        finally:
            q.stop()
        ctx.stream_runs.append(streaming_progress(q.recentProgress))
        try:
            if sink is collect:
                return collect(ctx.spark.table(table))
            return None
        finally:
            ctx.spark.catalog.dropTempView(table)


class CurationCold(Workload):
    name = "curation_cold"
    op_names = CURATION + (StreamDrain.name,)

    def generate(self, ctx):
        import pandas as pd

        from gis_etl_spark import fixtures

        ctx.sf_dir = ctx.path("inputs", "data")
        docs = datagen.write_documents(ctx.sf_dir, ctx.seed)
        aug = datagen.write_documents_aug(fixtures.FIXTURE_ROOT, docs, ctx.seed)
        stream_dir = ctx.path("inputs", "stream_in")
        stream_rows = datagen.write_stream_rig(stream_dir, docs)
        texts = pd.read_parquet(docs, columns=["text"]).text
        ctx.info.update(
            stream_dir=stream_dir,
            stream_rows=stream_rows,
            stream_distinct=int(texts.nunique()),
            input_rows=len(pd.read_parquet(aug, columns=["doc_id"]))
            + stream_rows,
            input_bytes=_tree_bytes(aug, stream_dir),
        )

    def ops(self, ctx):
        return [RegistryOp(n) for n in CURATION] + [StreamDrain()]

    def output_dir(self, ctx):
        return ctx.path("warehouse")

    def check(self, ctx, cold):
        out = _oracle_checks(ctx, cold)
        res = next(s.result for s in cold if s.op == StreamDrain.name)
        if res is None:
            out.append(checks.Check("stream.state", False, "no output"))
        else:
            cols, rows = res
            copies = sum(r[cols.index("n_copies")] for r in rows)
            ok = (len(rows) == ctx.info["stream_distinct"]
                  and copies == ctx.info["stream_rows"])
            out.append(checks.Check(
                "stream.state", ok,
                f"keys={len(rows)}/{ctx.info['stream_distinct']} "
                f"copies={copies}/{ctx.info['stream_rows']}",
            ))
        return out


WORKLOADS = {w.name: w for w in (EtlBuildings(), CurationCold())}
