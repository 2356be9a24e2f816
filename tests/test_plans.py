"""Physical-plan shape assertions — the scale contract.

These tests pin the properties the 100 TB design depends on:
column pruning reaches the scan, hot paths stay in whole-stage
codegen (no Python eval nodes), the shuffle join keys on the cell,
and small dimensions broadcast."""

import pytest
from pyspark.sql import functions as F

from mobilitydb_spark import cells, fixtures, joins, pipeline, tiles

SF_TINY = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


@pytest.fixture(scope="module")
def pages_path(spark, tmp_path_factory):
    p = str(tmp_path_factory.mktemp("plans") / "pages.parquet")
    fixtures.pages(spark, 300).write.mode("overwrite").parquet(p)
    return p


def test_extraction_prunes_html_column(spark, pages_path):
    pages = spark.read.parquet(pages_path)
    pts = pipeline.extract_points(pages)
    plan = _plan(pts)
    # column pruning must reach the parquet scan: html (the widest
    # column) is never read
    scan_line = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert scan_line, plan
    assert "html" not in scan_line[0]
    assert "text" in scan_line[0]


def test_extraction_and_tiles_are_udf_free(spark, pages_path):
    pages = spark.read.parquet(pages_path)
    df = tiles.assign_tiles(
        pipeline.with_cell(pipeline.extract_points(pages)))
    plan = _plan(df)
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan
    # `*(n)` prefixes mark whole-stage-codegen stages in toString()
    assert "*(1)" in plan


def test_filter_pushdown_reaches_scan(spark, pages_path):
    pages = spark.read.parquet(pages_path).where(F.col("lang") == "en")
    plan = _plan(pipeline.extract_points(pages))
    pushed = [ln for ln in plan.splitlines() if "PushedFilters" in ln]
    assert pushed and "lang" in pushed[0]


def test_shuffle_join_keys_on_cell(spark, pages_path):
    pages = spark.read.parquet(pages_path)
    pts = pipeline.extract_points(pages)
    polys = spark.createDataFrame(
        fixtures.polygons_pd("grid", 64),
        "poly_id bigint, layer string, geom_wkb binary, srid int")
    out = joins.pip_join_shuffle(pts, polys, res=8)
    plan = _optimized(out)
    assert "jcell" in plan           # the equi-join key is the cell
    assert "CartesianProduct" not in _plan(out)


def test_small_dim_broadcasts(spark, pages_path):
    li = spark.range(0, 10000).withColumn("k", F.pmod("id", F.lit(100)))
    dim = spark.range(0, 100).select(F.col("id").alias("k"),
                                     F.lit("x").alias("v"))
    joined = li.join(F.broadcast(dim), "k")
    assert "BroadcastHashJoin" in _plan(joined)


def test_pyramid_is_two_shuffles(spark, pages_path):
    pages = spark.read.parquet(pages_path)
    pyr = tiles.build_pyramid(pipeline.extract_points(pages),
                              max_zoom=12, min_zoom=0)
    plan = _plan(pyr)
    # one exchange for the base groupBy, one for the rollup groupBy
    # (final AQE reads may add coalesces but no extra wide shuffles)
    n_exchanges = plan.count("Exchange hashpartitioning")
    assert n_exchanges <= 3, f"pyramid plan has {n_exchanges} shuffles"


def test_tagg_profiles_are_pure_catalyst(spark):
    """The SAMPLED global temporal aggregates must be pure Catalyst:
    no Python eval nodes anywhere and no raw-row single-task stage —
    windows partition by member, the final aggregate keys on the
    probe."""
    import pandas as pd
    import numpy as np
    from mobilitydb_spark import spark_temporal as ST
    pdf = pd.DataFrame({
        "key": np.repeat(np.arange(4), 5),
        "t": list(pd.date_range("2024-01-01", periods=5, freq="h")) * 4,
        "v": np.arange(20.0)})
    probes = [int(pd.Timestamp("2024-01-01 02:30").value // 1000)]
    w_us = 3600 * 1_000_000
    for df in (ST.temporal_agg_profile(spark.createDataFrame(pdf), probes),
               ST.temporal_centroid_profile(
                   spark.createDataFrame(pdf.rename(columns={"v": "x"})
                                         .assign(y=1.0)), probes),
               ST.tbool_agg_profile(spark.createDataFrame(pdf), probes, 5.0),
               ST.wagg_count_profile(spark.createDataFrame(pdf), w_us,
                                     probes),
               ST.wagg_sum_max_profile(spark.createDataFrame(pdf), w_us,
                                       probes)):
        plan = _plan(df)
        for node in ("MapInPandas", "FlatMapGroupsInPandas",
                     "BatchEvalPython", "ArrowEvalPython",
                     "SinglePartition"):
            assert node not in plan, (node, plan)


def test_tagg_pieces_two_level_plan(spark):
    """The ungrouped FULL-profile aggregate keeps the two-level
    transfn/combinefn shape: rows shuffle by member into the partial
    kernel (MapInPandas); only bounded partial piece rows reach the
    single-group merge."""
    import pandas as pd
    import numpy as np
    from mobilitydb_spark import aggs
    pdf = pd.DataFrame({
        "mkey": np.repeat(np.arange(4), 5),
        "t": list(pd.date_range("2024-01-01", periods=5, freq="h")) * 4,
        "v": np.arange(20.0)})
    for kind in ("min", "avg"):  # avg = finalize-divide partials (r4)
        df = aggs.temporal_agg_pieces(spark.createDataFrame(pdf), kind)
        plan = _plan(df)
        assert "MapInPandas" in plan and "FlatMapGroupsInPandas" in plan
        assert plan.index("hashpartitioning(_g") < plan.index("MapInPandas")
        assert plan.index("hashpartitioning(mkey") > plan.index("MapInPandas")


def test_tcount_instants_no_single_task(spark):
    import pandas as pd
    import numpy as np
    from mobilitydb_spark import aggs
    pdf = pd.DataFrame({
        "mkey": np.repeat(np.arange(4), 5),
        "t": list(pd.date_range("2024-01-01", periods=5, freq="h")) * 4})
    df = aggs.tcount_instants(spark.createDataFrame(pdf))
    plan = _plan(df)
    assert "SinglePartition" not in plan
    assert "FlatMapGroupsInPandas" not in plan  # pure Catalyst


def test_interval_join_is_equi_join_on_bucket(spark):
    """The temporal interval join must plan as an equi-join on the
    time bucket (hash or sort-merge), never a cartesian product."""
    from mobilitydb_spark import joins
    l = spark.range(0, 1000).selectExpr(
        "id AS l_id", "id * 1000000 AS t0_us",
        "id * 1000000 + 500000000 AS t1_us")
    r = spark.range(0, 1000).selectExpr(
        "id AS r_id", "id * 2000000 AS t0_us",
        "id * 2000000 + 300000000 AS t1_us")
    df = joins.interval_join(l, r, bucket_us=100_000_000)
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    assert ("SortMergeJoin" in plan or "BroadcastHashJoin" in plan
            or "ShuffledHashJoin" in plan)


def test_spatial_rels_jvm_matches_kernel(spark):
    """The JVM-side Liang-Barsky table op (the default since r5) must
    produce exactly the everops kernel path's booleans, with a
    Python-free plan (r4 verdict What's wrong #2)."""
    import pandas as pd

    from mobilitydb_spark.queries import (q_spatial_rels_rect,
                                          q_spatial_rels_rect_kernel)
    sf = SF_TINY
    a = q_spatial_rels_rect(spark, sf).toPandas() \
        .sort_values(["key", "rect_id"]).reset_index(drop=True)
    b = q_spatial_rels_rect_kernel(spark, sf).toPandas() \
        .sort_values(["key", "rect_id"]).reset_index(drop=True)
    assert len(a) > 0
    pd.testing.assert_frame_equal(a, b.astype(a.dtypes.to_dict()))
    plan = q_spatial_rels_rect(spark, sf) \
        ._jdf.queryExecution().executedPlan().toString()
    for bad in ("BatchEvalPython", "ArrowEvalPython",
                "FlatMapGroupsInPandas", "MapInPandas"):
        assert bad not in plan, bad


def test_traj_ever_in_box_is_python_free(spark):
    """ever/always-in-box over instant sets is a Catalyst aggregate:
    no Python stage in the executed plan."""
    from mobilitydb_spark.queries import q_traj_ever_in_box
    df = q_traj_ever_in_box(spark, SF_TINY)
    assert df.count() > 0
    plan = df._jdf.queryExecution().executedPlan().toString()
    for bad in ("BatchEvalPython", "ArrowEvalPython",
                "FlatMapGroupsInPandas", "MapInPandas"):
        assert bad not in plan, bad


def _assert_driver_table_is_local(df):
    """A table the driver builds from Python values must reach the plan
    as an Arrow-built LocalRelation (LocalTableScan once physical, e.g.
    inside a cached subtree), never as a pickled Python RDD
    (LogicalRDD / Scan ExistingRDD), whose broadcast runs a
    Python-worker job.  Also catches a silent Arrow fallback."""
    plan = _optimized(df)
    assert "LocalRelation" in plan or "LocalTableScan" in plan, plan
    assert "LogicalRDD" not in plan and "ExistingRDD" not in plan, plan


def _range_points(spark):
    """Instant rows with no driver-built table of their own."""
    return spark.range(20).select(
        F.pmod("id", F.lit(4)).alias("key"),
        F.timestamp_seconds(F.lit(1704067200) + F.col("id") * 3600)
        .alias("t"),
        F.col("id").cast("double").alias("v"))


def test_flagship_cover_and_edges_are_local_relations(spark, pages_path):
    pages = spark.read.parquet(pages_path)
    out = pipeline.flagship(pages, fixtures.polygons_pd("admin", 8))
    _assert_driver_table_is_local(out)


def test_irregular_probe_table_is_local_relation(spark):
    from mobilitydb_spark import spark_temporal as ST
    base = 1704067200 * 1_000_000
    # unequal steps take the broadcast range-join branch
    probes = [base + 1800_000_000, base + 5400_000_000,
              base + 12600_000_000]
    df = ST._lerp_at_probes(_range_points(spark), probes, "key", "t",
                            ("v",))
    _assert_driver_table_is_local(df)
    assert df.count() > 0


def test_wagg_probe_table_is_local_relation(spark):
    from mobilitydb_spark import spark_temporal as ST
    base = 1704067200 * 1_000_000
    df = ST._wagg_probe_join(_range_points(spark), 3600_000_000,
                             [base + 7200_000_000, base], "key", "t", "v")
    _assert_driver_table_is_local(df)
    assert df.count() > 0


def test_ivf_centroid_table_is_local_relation(spark):
    from mobilitydb_spark.datagen import similarity
    emb = spark.range(40).select(
        F.col("id").alias("vec_id"),
        F.array(*[F.sin(F.col("id") * (j + 1)).cast("float")
                  for j in range(4)]).alias("embedding"))
    q = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("qid"), "embedding")
    c = emb.select(F.col("vec_id").alias("cid"), "embedding")
    df = similarity.ivf_topk(q, c, 3, n_centroids=4, nprobe=2,
                             quantizer="sample")
    try:
        _assert_driver_table_is_local(df)
    finally:
        spark.catalog.clearCache()
