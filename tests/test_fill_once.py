"""Fill-once ClaimsKG build: constant frames are JVM local relations, a
materializing build fills every shared cache before the triples query,
and a fully lazy build launches no job while its plan is built."""

import tempfile
import uuid

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from claimskg_generator_spark.functions.frames import CacheFills, local_frame
from claimskg_generator_spark.operators.ratings_join import ratings_dim
from claimskg_generator_spark.operators.sparql_update import apply_update
from claimskg_generator_spark.plans.pipeline import (
    TRIPLE_DDL,
    ClaimsKGPipeline,
    PipelineConfig,
)
from claimskg_generator_spark.sources.synth import gen_rows


def _analyzed(df) -> str:
    return df._jdf.queryExecution().analyzed().toString()


def _clear_job_group(sc):
    sc.setLocalProperty("spark.jobGroup.id", None)
    sc.setLocalProperty("spark.job.description", None)


def _cache_entries(spark):
    """Every CachedData entry of the session's CacheManager."""
    cm = spark._jsparkSession.sharedState().cacheManager()
    field = cm.getClass().getDeclaredField("cachedData")
    field.setAccessible(True)
    seq = field.get(cm)
    return [seq.apply(i) for i in range(seq.size())]


def test_local_frame_is_a_local_relation(spark):
    rows = [("a\\nb", 1), (None, None), ("it's", 3)]
    df = local_frame(spark, rows, "s string, n int")
    plan = _analyzed(df)
    assert "LocalRelation" in plan and "LogicalRDD" not in plan
    assert [tuple(r) for r in df.collect()] == rows
    assert df.schema.simpleString() == "struct<s:string,n:int>"
    empty = local_frame(spark, [], "s string")
    assert empty.count() == 0 and "LogicalRDD" not in _analyzed(empty)


def test_constant_frames_have_no_logical_rdd(spark):
    pipe = ClaimsKGPipeline(spark, PipelineConfig(materialize_parsed=False))
    fixed = pipe.fixed_triples()
    assert fixed.schema == StructType.fromDDL(TRIPLE_DDL)
    for df in (ratings_dim(spark), fixed):
        assert "LogicalRDD" not in _analyzed(df)

    graph = local_frame(spark, [("urn:s", "urn:p", "urn:o")],
                        "subj string, pred string, obj string")
    updated = apply_update(
        graph, "INSERT DATA { <urn:a> <urn:p> <urn:b> . }")
    assert "LogicalRDD" not in _analyzed(updated)
    assert {tuple(r) for r in updated.collect()} == {
        ("urn:s", "urn:p", "urn:o"), ("urn:a", "urn:p", "urn:b")}


def test_materialized_build_fills_every_cache_before_triples(spark):
    spark.catalog.clearCache()
    # a parquet input, so any LogicalRDD left in the plan is a literal frame
    path = tempfile.mkdtemp(prefix="fill_once_") + "/in"
    spark.createDataFrame(gen_rows(60)).write.parquet(path)
    pipe = ClaimsKGPipeline(spark, PipelineConfig(reconcile_theta=0.3))
    sc = spark.sparkContext
    ungrouped = set(sc.statusTracker().getJobIdsForGroup(None))
    group = "fill-once-" + uuid.uuid4().hex
    sc.setJobGroup(group, "materialized build")
    try:
        raw = pipe.triples_raw(spark.read.parquet(path))
        # every job, the background fills' too, ran in the caller's group
        assert list(sc.statusTracker().getJobIdsForGroup(group))
        assert set(sc.statusTracker().getJobIdsForGroup(None)) == ungrouped
    finally:
        _clear_job_group(sc)
    try:
        entries = _cache_entries(spark)
        # claims stage, exploded keywords, distinct keywords, keyword
        # winners, reconcile views
        assert len(entries) >= 5
        assert all(e.cachedRepresentation().cacheBuilder()
                   .isCachedColumnBuffersLoaded() for e in entries)
        # the triples query itself builds no Python-list literal frame
        assert "LogicalRDD" not in _analyzed(raw)
        assert raw.count() > 0
    finally:
        spark.catalog.clearCache()


def test_lazy_build_launches_no_job(spark):
    spark.catalog.clearCache()
    input_df = spark.createDataFrame(gen_rows(30))
    sc = spark.sparkContext
    group = "lazy-build-" + uuid.uuid4().hex
    sc.setJobGroup(group, "lazy plan construction")
    try:
        pipe = ClaimsKGPipeline(spark, PipelineConfig(
            materialize_parsed=False, reconcile_theta=0.3,
            align_duplicated=True))
        pipe.triples_raw(input_df).dropDuplicates(
            ["subj", "pred", "obj", "okind"])
        assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    finally:
        _clear_job_group(sc)
        spark.catalog.clearCache()


def test_cache_fills_reraise_a_failed_fill(spark):
    bad = spark.range(1).select(F.raise_error(F.lit("fill failed")))
    with pytest.raises(Exception, match="fill failed"):
        with CacheFills(True) as fills:
            fills(bad)
    bad.unpersist()
