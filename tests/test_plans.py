"""Plan audits: the scale properties claimed in docstrings hold in the
actual physical plans (SURVEY.md §4)."""

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from go_shapefile_spark.functions import cells as C
from go_shapefile_spark.plans.audit import (
    assert_broadcast_join, assert_no_python_udf, assert_pruned_schema,
    assert_pushed_filters, executed_plan, in_wholestage_codegen,
)


def test_parquet_pushdown_and_pruning(spark, sf_dir):
    df = (spark.read.parquet(f"{sf_dir}/lineitem.parquet")
          .where(F.col("l_quantity") > 30)
          .select("l_orderkey", "l_quantity"))
    assert_pushed_filters(df, "l_quantity")
    assert_pruned_schema(df, 2)


def test_spatial_join_is_broadcast(spark, ref_testdata):
    import os

    from go_shapefile_spark.operators.spatial_join import (
        polygons_from_features, spatial_join)
    from go_shapefile_spark.sources.shapefile import read_shapefile_df
    feats = read_shapefile_df(
        spark, os.path.join(ref_testdata, "110m-admin-0-countries.zip"))
    polys = polygons_from_features(feats.select("fid", "geometry").collect())
    rng = np.random.default_rng(1)
    pts = spark.createDataFrame(pd.DataFrame({
        "id": np.arange(500), "lon": rng.uniform(-180, 180, 500),
        "lat": rng.uniform(-90, 90, 500)}))
    joined = spatial_join(spark, pts, polys, res=6)
    # the big (point) side must never shuffle before the join: cover is
    # broadcast, so the only exchanges are for the broadcast itself
    plan = executed_plan(joined)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_leaf_refine_join_stays_in_codegen(spark):
    """The leaf join's BroadcastHashJoin (box test + 4-term crossing
    predicate in its condition) runs inside whole-stage codegen, and its
    build side stays narrow: the old 101-column edge layout pushed the
    join past spark.sql.codegen.maxFields and out of codegen."""
    from go_shapefile_spark.operators.geotag import with_lonlat_jvm
    from go_shapefile_spark.operators.spatial_join import (
        PreparedCover, spatial_join_prepared)

    t = np.linspace(0, 2 * np.pi, 33)
    polys = []
    for fid, (cx, cy) in enumerate(((-60.0, 10.0), (40.0, -20.0))):
        ring = np.column_stack([cx + 20 * np.cos(t), cy + 15 * np.sin(t)])
        ring[-1] = ring[0]
        polys.append({"fid": fid, "coords": ring.ravel(), "ends": [66]})
    pts = with_lonlat_jvm(spark.range(5000).select(
        F.col("id").alias("idx"), F.xxhash64("id").alias("phash")))
    joined = spatial_join_prepared(pts, PreparedCover(spark, polys, res=6),
                                   keep_cols=["idx", "polygon_fid"])
    joined.collect()   # the adaptive plan is final once it has run

    def find(node, stage=None):
        """(refine join, the WholeStageCodegenExec it runs in or None)."""
        name = node.getClass().getSimpleName()
        if name == "WholeStageCodegenExec":
            stage = node
        elif name == "InputAdapter":     # the codegen stage's input edge
            stage = None
        if name == "BroadcastHashJoinExec" and "ref_inside" in node.toString():
            return node, stage
        if name == "AdaptiveSparkPlanExec":
            kids = [node.executedPlan()]
        elif name.endswith("QueryStageExec"):
            kids = [node.plan()]
        else:
            kids = [node.children().apply(i)
                    for i in range(node.children().size())]
        for kid in kids:
            hit = find(kid, stage)
            if hit:
                return hit
        return None

    root = joined._jdf.queryExecution().executedPlan()
    assert "isFinalPlan=true" in root.toString()
    hit = find(root)
    assert hit is not None
    bhj, stage = hit
    assert stage is not None
    # codegen'd operators print as '*(n) Op' in the executed plan
    assert f"*({stage.codegenStageId()}) BroadcastHashJoin" in root.toString()
    assert bhj.buildPlan().output().size() <= 30


def test_rasterize_pixel_stages_are_jvm(spark):
    """E8 vector→raster: past the cover build, rasterization is pure JVM —
    no polygon broadcast, no Python stage (VERDICT r2 #2)."""
    from go_shapefile_spark.operators.spatial_join import (
        COVER_SCHEMA, polygon_cell_cover)
    from go_shapefile_spark.operators.tiles import rasterize_cover

    ring = [10.0, 10.0, 10.0, 40.0, 40.0, 40.0, 40.0, 10.0, 10.0, 10.0]
    cover_pdf = polygon_cell_cover(
        [{"fid": 1, "coords": np.array(ring), "ends": [10]}], 4,
        with_edges=True)
    cover_pdf["edges"] = cover_pdf["edges"].map(
        lambda e: e if e is not None else [])
    cover = spark.createDataFrame(
        cover_pdf.rename(columns={"fid": "polygon_fid"}),
        schema=COVER_SCHEMA)
    raster = rasterize_cover(cover, res=4, tile_px=8)
    assert_no_python_udf(raster)
    assert raster.count() > 0


def test_tile_counts_single_shuffle(spark):
    from go_shapefile_spark.operators.tiles import tile_counts
    pts = spark.range(1000).select(
        (F.rand(1) * 360 - 180).alias("lon"), (F.rand(2) * 180 - 90).alias("lat"))
    tiles = tile_counts(pts, res=7)
    # one Exchange for the groupBy (plus possibly AQE reads); partial
    # aggregation must appear before it
    plan = executed_plan(tiles)
    assert plan.count("Exchange hashpartitioning") == 1
    assert "HashAggregate" in plan
    assert_no_python_udf(tiles)


def test_cell_expr_stays_in_codegen(spark):
    pts = spark.range(1000).select(
        (F.rand(1) * 360 - 180).alias("lon"), (F.rand(2) * 180 - 90).alias("lat"))
    df = pts.select(F.expr(C.cell_sql("lon", "lat", 9)).alias("cell"))
    assert_no_python_udf(df)
    assert in_wholestage_codegen(df)


def test_q5_join_order_broadcasts_dims(spark, sf_dir):
    """Catalyst must broadcast the small dims (region/nation/supplier)
    rather than shuffling lineitem against them."""
    import __spark_entry__ as entry
    df = entry.queries()["q5_region_revenue"](spark, sf_dir)
    plan = executed_plan(df)
    assert "BroadcastHashJoin" in plan


def test_dedup_runners_pin_signature_subtrees(spark, sf_dir):
    """Regression guard for the silent CacheManager failure (round 4):
    the minhash/simhash/embedding runners must plan over checkpointed
    LogicalRDD leaves — a plan that re-reads parquet or re-runs a
    Generate (shingle/signature explode) means the expensive subtree is
    being recomputed per CTE reference again."""
    from collections import Counter

    import __spark_entry__ as entry

    qs = entry.queries()

    def nodes(df):
        c = Counter()

        def walk(n):
            c[n.nodeName()] += 1
            if n.nodeName() == "AdaptiveSparkPlan":
                walk(n.initialPlan())
                return
            ch = n.children()
            for i in range(ch.size()):
                walk(ch.apply(i))

        walk(df._jdf.queryExecution().executedPlan())
        return c

    # (query, max parquet scans allowed, generates allowed)
    expectations = [
        ("dedup_minhash_lsh", 0, 0),     # everything pinned
        ("simhash_pairs", 0, 0),
        ("embedding_neardup_bucketed", 2, 0),  # verify joins re-read rel
        ("ngram_jaccard_pairs", 0, 0),
        # stop-filtered minhash: shingles/kept/mh all pinned upstream
        ("dedup_minhash_stopfiltered", 0, 0),
        # overlap pairs: the winnow+df-filter head is pinned, so the
        # fp self-join must see only LogicalRDD leaves (r5: the inlined
        # aggregate was mis-estimated as broadcastable and OOM'd at 50k)
        ("fingerprint_overlap_pairs", 0, 0),
        # sparse cosine: kept_tf pins before the inverted-index
        # self-join (tokenize+tf would otherwise recompute per side)
        ("sparse_cosine_pairs", 0, 0),
    ]
    for name, max_scans, max_gen in expectations:
        c = nodes(qs[name](spark, sf_dir))
        assert c.get("Scan ExistingRDD", 0) >= 1, (name, dict(c))
        assert c.get("Scan parquet ", 0) <= max_scans, (name, dict(c))
        assert c.get("Generate", 0) <= max_gen, (name, dict(c))


def test_neardup_pair_engine_pins_hash_build(spark):
    """The shared banded pair engine references its signature relation
    four times (ranked, identical-hash join, both band sides); without
    a pin Spark inlines the decode+hash Python stage per reference
    (measured: 4 MapInPandas nodes).  The pair plan must contain ZERO
    Python stages — the hash build lives behind a pinned leaf — and no
    nested-loop/cartesian join anywhere."""
    from collections import Counter

    from go_shapefile_spark.operators.multimodal import (
        audio_neardup_pairs, image_neardup_pairs)
    from go_shapefile_spark.sources.audio import generate_audio_batch
    from go_shapefile_spark.sources.images import (IMAGES_SCHEMA,
                                                   generate_batch)

    def nodes(df):
        c = Counter()

        def walk(n):
            c[n.nodeName()] += 1
            if n.nodeName() == "AdaptiveSparkPlan":
                walk(n.initialPlan())
                return
            ch = n.children()
            for i in range(ch.size()):
                walk(ch.apply(i))

        walk(df._jdf.queryExecution().executedPlan())
        return c

    aud = spark.createDataFrame(generate_audio_batch(0, 24))
    img = spark.createDataFrame(generate_batch(0, 24),
                                schema=IMAGES_SCHEMA)
    for pairs in (audio_neardup_pairs(aud), image_neardup_pairs(img)):
        c = nodes(pairs)
        assert c.get("MapInPandas", 0) == 0, dict(c)
        assert c.get("ArrowEvalPython", 0) == 0, dict(c)
        assert c.get("Scan ExistingRDD", 0) >= 1, dict(c)
        assert c.get("BroadcastNestedLoopJoin", 0) == 0, dict(c)
        assert c.get("CartesianProduct", 0) == 0, dict(c)
