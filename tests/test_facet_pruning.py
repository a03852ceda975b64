"""Facet pruning: bounding geometry → partition predicates (SURVEY §2.8
bounding-geometry row — the reference's convex hulls/boxes feed faceting
masks; Spark-side, the facet id is a partition column and the hull mask
becomes a partition filter the scan prunes on)."""

from pyspark.sql import functions as F

from codex_africanus_spark.sources import tpch_ms
from codex_africanus_spark.sources.sink import write_model_data


def test_hull_mask_prunes_partitions(spark, sf_dir, tmp_path):
    vis = tpch_ms.vis_table(spark, sf_dir)
    # facet = coarse uv quadrant grid (the faceting analogue)
    faceted = vis.withColumn(
        "facet",
        (F.floor(F.col("u") / 500.0).cast("int") * 100
         + F.floor(F.col("v") / 500.0).cast("int")),
    )
    path = str(tmp_path / "faceted")
    write_model_data(faceted, path, partition_by=["facet"],
                     sort_within=["time", "antenna1", "antenna2"])

    # driver-side geometry: keep only facets whose centre falls inside
    # the query hull, the uv triangle u >= 0, v >= 0, u + v <= 3000
    def centre_inside(f):
        cu, cv = (f // 100) * 500.0 + 250.0, (f % 100) * 500.0 + 250.0
        return cu >= 0.0 and cv >= 0.0 and cu + cv <= 3000.0

    facets = [r.facet for r in spark.read.parquet(path).select("facet").distinct().collect()]
    keep = [f for f in facets if centre_inside(f)]
    assert 0 < len(keep) < len(facets)  # the hull genuinely prunes

    pruned = spark.read.parquet(path).filter(F.col("facet").isin(keep))
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    # the facet predicate must reach the scan as a partition filter
    # (pruned facets' files are never opened), not a data filter
    import re

    assert re.search(r"PartitionFilters: \[[^\]]*facet#\d+", plan), plan
    assert "DataFilters: []" in plan
    n_kept = pruned.count()
    n_all = spark.read.parquet(path).count()
    assert 0 < n_kept < n_all
