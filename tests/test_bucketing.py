"""Bucketed co-located join path (ops/bucketing.py): plan shape + output
equality with the shuffle-join title_vector_blend."""

from __future__ import annotations

import shutil
import uuid

import pytest


@pytest.fixture(scope="module")
def bucketed(spark):
    from ragflow_spark.ops.bucketing import title_vector_blend_bucketed

    schema = f"rsb_{uuid.uuid4().hex[:8]}"
    loc = f"/tmp/{schema}_wh"
    df = title_vector_blend_bucketed(
        spark, "/root/testdata/sf0.001", schema=schema, location=loc,
        refresh=True,
    )
    yield df
    spark.sql(f"DROP SCHEMA IF EXISTS {schema} CASCADE")
    shutil.rmtree(loc, ignore_errors=True)


def test_bucketed_join_has_no_exchange(spark, bucketed):
    """With broadcast disabled (both sides huge at scale), the bucketed
    blend join must compile to a co-located sort-merge: zero Exchange
    anywhere in the executed plan."""
    saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        bucketed.count()  # materialize so the AQE final plan exists
        plan = bucketed._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
    assert "Exchange" not in plan, plan


def test_bucketed_blend_equals_shuffle_blend(spark, bucketed):
    from ragflow_spark.ops.similarity import title_vector_blend

    plain = title_vector_blend(spark, "/root/testdata/sf0.001")
    a = sorted(map(tuple, bucketed.collect()))
    b = sorted(map(tuple, plain.collect()))
    assert a == b and len(a) > 0


def test_bucketed_cache_keys_on_chunks_per_doc(spark):
    """A cache built with the default chunks_per_doc must not serve a call
    with another value: the doc key of every vector depends on it."""
    from ragflow_spark.ops.bucketing import title_vector_blend_bucketed
    from ragflow_spark.ops.similarity import title_vector_blend

    sf = "/root/testdata/sf0.001"
    schema = f"rsb_{uuid.uuid4().hex[:8]}"
    loc = f"/tmp/{schema}_wh"
    try:
        title_vector_blend_bucketed(spark, sf, schema=schema, location=loc).count()
        got = title_vector_blend_bucketed(
            spark, sf, schema=schema, location=loc, chunks_per_doc=4
        )
        a = sorted(map(tuple, got.collect()))
        b = sorted(map(tuple, title_vector_blend(spark, sf, chunks_per_doc=4).collect()))
        assert a == b and len(a) > 0
    finally:
        spark.sql(f"DROP SCHEMA IF EXISTS {schema} CASCADE")
        shutil.rmtree(loc, ignore_errors=True)
