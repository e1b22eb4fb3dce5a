"""Plan-quality regression guards: the scale properties README/SCALE.md
claim must stay true as queries evolve — filters reach the scan, small
dims broadcast, no accidental sort-merge joins or row-at-a-time Python
in the headline plans."""

from __future__ import annotations

import pytest

from gis_etl_spark.queries import REGISTRY


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.mark.parametrize(
    "name",
    ["q1_pricing_summary", "q3_shipping_priority",
     "q5_local_supplier_volume", "q6_forecast_revenue",
     "q10_returned_items", "q14_promo_revenue",
     "q12_priority_by_returnflag", "q20_excess_shippers",
     "funnel_events"],
)
def test_filters_pushed_to_scan(spark, sf_dir, name):
    plan = _plan(REGISTRY[name][0](spark, sf_dir))
    assert "PushedFilters: [" in plan
    # at least one real pushed predicate beyond IsNotNull
    pushed = [
        seg.split("]")[0]
        for seg in plan.split("PushedFilters: [")[1:]
    ]
    assert any(
        any(tok in p for tok in ("GreaterThan", "LessThan", "EqualTo"))
        for p in pushed
    ), pushed


@pytest.mark.parametrize(
    "name",
    ["q3_shipping_priority", "q5_local_supplier_volume",
     "q10_returned_items", "q14_promo_revenue",
     "q11_important_parts", "q12_priority_by_returnflag",
     "q16_supplier_part_variety"],
)
def test_dimension_joins_broadcast(spark, sf_dir, name):
    # q17/q20 are deliberately absent: their initial plans carry a
    # SortMergeJoin between two aggregates co-partitioned on the same
    # key — the scale-correct default that AQE converts to broadcast
    # at runtime when the build side turns out small.
    plan = _plan(REGISTRY[name][0](spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan, "dimension join regressed to SMJ"


def test_no_row_at_a_time_python(spark, sf_dir):
    """Python evaluation must be Arrow-batched everywhere — a plain
    BatchEvalPython node means someone added a row-at-a-time UDF."""
    for name in ["geo_heatmap", "geo_centroid_stats", "multimodal_features"]:
        plan = _plan(REGISTRY[name][0](spark, sf_dir))
        assert "BatchEvalPython" not in plan, name


def test_wide_table_prunes_geometry_column(spark, sf_dir):
    """The attrs rollup must never read the (large) geometry column:
    ReadSchema at the scan excludes Shape — the columnar win that makes
    metadata queries cheap on payload-heavy tables."""
    plan = _plan(REGISTRY["io_wide_attrs_projection"][0](spark, sf_dir))
    read_schemas = [
        seg.split(">")[0] for seg in plan.split("ReadSchema: struct<")[1:]
    ]
    assert read_schemas
    assert all("Shape" not in rs and "geom" not in rs for rs in read_schemas), (
        read_schemas
    )


# Quadratic verification BASELINES, explicitly slice-gated in code so the
# cross join is bounded regardless of input size (vec_id < PAIR_SLICE /
# doc_id < EMB_PAIR_SLICE). Their production twins (similarity_ann_lsh,
# dedup_embedding_lsh) are banded equi-joins and must stay cartesian-free.
_GATED_QUADRATIC_BASELINES = {"similarity_near_pairs", "dedup_embedding_pairs"}


def _cartesian(name: str, plan: str) -> bool:
    return name not in _GATED_QUADRATIC_BASELINES and "CartesianProduct" in plan


def test_no_cartesian_product_in_any_registry_plan(spark, sf_dir):
    """No registry query may plan a CartesianProduct or a non-broadcast
    nested-loop join, except the two explicitly gated quadratic
    baselines. BroadcastNestedLoopJoin is tolerated only when one side
    is a 1-row scalar aggregate (decorrelated scalar subqueries)."""
    offenders = []
    for name, (builder, _) in REGISTRY.items():
        if _cartesian(name, _plan(builder(spark, sf_dir))):
            offenders.append((name, "CartesianProduct"))
    assert not offenders, offenders


# Windows legitimately fed by an Exchange SinglePartition: each runs
# over a frame whose row count is BOUNDED BY CONSTRUCTION (an upstream
# aggregate on a low-cardinality key), never over corpus rows.
_TINY_SINGLEPART_WINDOWS = {
    # windows run over the distinct-quality-score frame: quality_score
    # rounds to 4 decimals in [0, 1], so the frame is <= 10^4 + 1 rows
    # regardless of corpus size (documented at ops/text.py).
    "quality_deciles",
    # corpus-total window runs over the per-language counts aggregate:
    # <= |languages| rows (MIX_N_LANGS at fixture scale, dozens in any
    # real corpus), never document rows.
    "mixture_sample",
    # remainder-ranking window runs over the per-SOURCE aggregate:
    # <= |sources| rows by construction, never document rows
    # (documented at ops/text.py mixture_token_plan).
    "mixture_token_plan",
    # inherits mixture_token_plan's remainder-ranking window (the
    # quota subplan, same <= |sources| rows); the DRAW itself windows
    # partitioned BY SOURCE over corpus rows — never single-partition.
    "mixture_draw_plan",
    # the funnel's stage-4 quota inherits the same <= |sources|-row
    # remainder ranking; its draw uses the range-split rendition
    # (windows partitioned by (source, md5-prefix bucket) + the
    # <=16-row per-source offset aggregate), and the keeper subplan's
    # windows partition by component/band (corpus rows never
    # single-partition).
    "corpus_build_funnel",
    # inherits the quota subplan; its own windows partition by
    # (source, hash-prefix bucket) and by source over the <=16-row
    # per-source bucket aggregate — the two-pass split exists exactly
    # to keep corpus rows out of whole-source partitions.
    "mixture_draw_split",
    # query-term ranking window runs over the post-limit top-
    # BM25_NTERMS token frame (<= 8 rows by construction); the
    # scoring window partitions by query over candidate docs.
    "bm25_topk",
}

_PLAN_NODE = __import__("re").compile(r"^(?P<pre>[\s:+*|-]*)(?P<name>\w.*)$")


def _window_feed_exchanges(plan_str: str) -> list[str]:
    """For each Window node in a plan string, the first Exchange below
    it in its subtree — the exchange satisfying the window's required
    child distribution."""
    parsed = []
    for ln in plan_str.splitlines():
        m = _PLAN_NODE.match(ln)
        if m and m.group("name"):
            parsed.append((len(m.group("pre")), m.group("name")))
    feeds = []
    for i, (d, name) in enumerate(parsed):
        if not name.startswith("Window"):
            continue
        for d2, name2 in parsed[i + 1:]:
            if d2 <= d:
                break
            if name2.startswith("Exchange"):
                feeds.append(name2)
                break
    return feeds


def _singlepartition_window_feeds(name: str, plan: str) -> list[str]:
    if name in _TINY_SINGLEPART_WINDOWS:
        return []
    return [f for f in _window_feed_exchanges(plan) if "SinglePartition" in f]


def test_no_singlepartition_window_in_any_registry_plan(spark, sf_dir):
    """No registry query may rank/accumulate through a Window whose
    feeding Exchange is SinglePartition over unbounded input — that is
    a one-reducer sort of the whole frame (the r11 cms_token_counts
    blemish: a global row_number pushed the entire vocabulary through
    one task). Total-order top-k belongs in orderBy+limit
    (TakeOrderedAndProject) or the salted two-level window
    (_per_query_topk); allowlisted cases must be tiny by construction."""
    offenders = []
    for name, (builder, _) in REGISTRY.items():
        bad = _singlepartition_window_feeds(name, _plan(builder(spark, sf_dir)))
        if bad:
            offenders.append((name, bad[0]))
    assert not offenders, offenders


@pytest.mark.parametrize("name", list(REGISTRY)[:50])
def test_gate_window_plan_hygiene(spark, sf_dir, name):
    """Both registry-wide audits above, applied in the default run to
    one plan per entry of the first-50 verification window (the
    registry-wide forms are opt-in slow receipts)."""
    plan = _plan(REGISTRY[name][0](spark, sf_dir))
    assert not _cartesian(name, plan)
    assert not _singlepartition_window_feeds(name, plan)


def test_heatmap_pyramid_conserves_mass(spark, sf_dir):
    from pyspark.sql import functions as F

    fine = REGISTRY["geo_heatmap"][0](spark, sf_dir)
    coarse = REGISTRY["geo_heatmap_pyramid"][0](spark, sf_dir)
    n_fine = fine.agg(F.sum("num_recs")).first()[0]
    n_coarse = coarse.agg(F.sum("num_recs")).first()[0]
    assert n_fine == n_coarse
    assert coarse.count() <= fine.count()


def test_shape_type_filter_needs_no_python(spark, sf_dir):
    """The core-type filter (P4) is JVM-native: its plan must contain
    NO Python evaluation at all."""
    plan = _plan(REGISTRY["geo_core_type_count"][0](spark, sf_dir))
    assert "EvalPython" not in plan
    assert "pythonUDF" not in plan


def test_hex_heatmap_stays_jvm_side(spark, sf_dir):
    """The hex cell id is pure column arithmetic: apart from the
    centroid pandas UDF, the hex heatmap plan must contain no Python
    evaluation, and must partial-aggregate before the shuffle."""
    from pyspark.sql import functions as F

    plan = _plan(REGISTRY["hex_heatmap"][0](spark, sf_dir))
    assert "BatchEvalPython" not in plan
    # two HashAggregate generations around one cell-keyed exchange
    assert plan.count("HashAggregate") >= 2


def test_hex_pyramid_conserves_mass(spark, sf_dir):
    from pyspark.sql import functions as F

    fine = REGISTRY["hex_heatmap"][0](spark, sf_dir)
    coarse = REGISTRY["hex_heatmap_pyramid"][0](spark, sf_dir)
    assert (
        fine.agg(F.sum("num_recs")).first()[0]
        == coarse.agg(F.sum("num_recs")).first()[0]
    )
    assert coarse.count() <= fine.count()


def test_hex_smoothed_focal_bounds(spark, sf_dir):
    """Focal 1-ring sum per cell is >= the cell's own count and <= the
    global total; every heatmap cell appears exactly once."""
    from pyspark.sql import functions as F

    fine = REGISTRY["hex_heatmap"][0](spark, sf_dir).collect()
    sm = REGISTRY["hex_heatmap_smoothed"][0](spark, sf_dir).collect()
    own = {r.cell: r.num_recs for r in fine}
    total = sum(own.values())
    assert len(sm) == len(own)
    for r in sm:
        assert own[r.cell] <= r.focal_recs <= total


def test_new_ops_plan_shapes(spark, sf_dir):
    """Round-4 session-2 operators keep their promised shapes: tile/
    geohash censuses never fall back to row-at-a-time Python; the PQ
    path broadcasts its distance table (no sort-merge against the
    codes); span dedup shuffles once on the span key (window exchange)
    plus its reassembly aggregation."""
    plan = _plan(REGISTRY["geo_tile_census"][0](spark, sf_dir))
    assert "BatchEvalPython" not in plan
    plan = _plan(REGISTRY["geo_geohash_census"][0](spark, sf_dir))
    assert "BatchEvalPython" not in plan

    plan = _plan(REGISTRY["similarity_pq_adc"][0](spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan

    plan = _plan(REGISTRY["similarity_ivfpq"][0](spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan

    plan = _plan(REGISTRY["dedup_spans"][0](spark, sf_dir))
    assert "BatchEvalPython" not in plan
    # one exchange for the per-span window, one for the per-doc
    # reassembly — never a third
    n_exchange = plan.count("Exchange hashpartitioning")
    assert n_exchange <= 2, plan[:2000]

    plan = _plan(REGISTRY["funnel_events"][0](spark, sf_dir))
    # every exchange keys on user_id — the funnel never shuffles on
    # anything wider
    import re

    for m in re.finditer(r"Exchange hashpartitioning\(([^,]+)", plan):
        assert "user_id" in m.group(1) or "stage" in m.group(1), m.group(0)


def test_session3_plan_shapes(spark, sf_dir):
    """Plan pins for the session-3 pack: CDC compaction must be the
    partially-aggregated max(struct) — two HashAggregates, NO window
    sort; PageRank iterations stay equi-join + hash agg; the co-
    purchase projection and the 1-NN join never sort-merge against
    their broadcast side or fall into a cartesian; the image hash
    queries keep payload decode in ONE Arrow stage."""
    plan = _plan(REGISTRY["cdc_latest_state"][0](spark, sf_dir))
    assert "Window" not in plan, "latest-state must not be a window rank"
    # struct max lowers to SortAggregate, but the decisive property
    # holds: a PARTIAL max runs before the one hash-partition exchange,
    # so the shuffle moves <= |keys| rows per partition, not every
    # change row (the window rendition shuffles all rows, then sorts)
    assert "partial_max" in plan
    # plans print top-down: the partial aggregate must sit BELOW the
    # exchange (later in the text = earlier in execution)
    assert plan.index("Exchange hashpartitioning") < plan.index("partial_max")
    assert plan.count("Exchange hashpartitioning") == 1

    plan = _plan(REGISTRY["pagerank_trade"][0](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan

    plan = _plan(REGISTRY["supplier_copurchase_pairs"][0](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan

    plan = _plan(REGISTRY["spatial_nearest_neighbor"][0](spark, sf_dir))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    # the argmin is an aggregate, not a window rank
    assert "Window" not in plan

    plan = _plan(REGISTRY["quality_deciles"][0](spark, sf_dir))
    # the ONLY windows run over the tiny distinct-score frame or
    # per-score partitions — never a global sort of the corpus rows
    assert "Sort [quality_score" in plan or "Window" in plan

    plan = _plan(REGISTRY["multimodal_ahash_groups"][0](spark, sf_dir))
    assert plan.count("MapInPandas") == 1

    # the near-pair self-join must read the PERSISTED hash frame on
    # both sides instead of re-running the decode lineage per side
    plan = _plan(REGISTRY["multimodal_ahash_near_pairs"][0](spark, sf_dir))
    assert plan.count("InMemoryTableScan") == 2, plan[:1500]
