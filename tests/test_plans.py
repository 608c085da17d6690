"""Physical-plan property pins — the 100 TB claims as assertions, not prose.

If a refactor re-introduces a second exchange, breaks the shared-Sort
prefix rule, or stops pruning the parquet scan, these fail loudly."""

import pytest
from pyspark.sql import functions as F

from tag_spark.generate import dim_role, dim_tool
from tag_spark.operators.suite import default_transcript_suite


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(autouse=True)
def _uncached(spark, transcripts):
    """Pin each plan's own shape, not a cache hit: local relations with
    equal rows compare equal, so a suite another test persisted over the
    same input would answer these plans from its InMemoryRelation."""
    spark.catalog.clearCache()
    transcripts.cache()


def test_suite_plans_one_exchange_one_sort(spark, transcripts):
    """The fused 15-check suite: ONE data exchange (conv_id), ONE Sort
    shared by all three window checks (prefix rule), dims broadcast."""
    suite = default_transcript_suite(dim_role(spark), dim_tool(spark))
    plan = _plan(suite.violations(transcripts))
    # exactly one FACT-side exchange (the conv_id repartition); the only
    # other hashpartitioning exchanges allowed are the 4/20-row dim dedups
    # feeding the broadcasts (they shuffle the dimension, never the facts)
    assert plan.count("Exchange hashpartitioning(conv_id") == 1, plan
    fact_exchanges = [ln for ln in plan.splitlines() if "Exchange hashpartitioning" in ln]
    for ln in fact_exchanges:
        assert "conv_id" in ln or "role#" in ln or "tool#" in ln, f"unexpected exchange: {ln}"
    n_sort = plan.count("+- Sort ")
    assert n_sort == 1, f"window checks must share ONE Sort, got {n_sort}:\n{plan}"
    assert plan.count("BroadcastHashJoin") == 2  # role + tool dims


def test_suite_small_relations_stay_in_the_jvm(spark, transcripts):
    """The vocabulary dims are JVM local relations, and the verdict matrix
    explodes a literal check-id array over the bucket counts. No plan on
    the validation path scans a Python RDD (every job over one pays
    Python-worker tasks), and the matrix needs no cross join."""
    suite = default_transcript_suite(dim_role(spark), dim_tool(spark))
    violations = suite.violations(transcripts)
    vplan = _plan(violations)
    assert "Scan ExistingRDD" not in vplan, vplan
    dplan = _plan(suite.assemble(transcripts, violations).verdicts)
    assert "Scan ExistingRDD" not in dplan, dplan
    for node in ("BroadcastNestedLoopJoin", "CartesianProduct"):
        assert node not in dplan, dplan


def test_suite_text_never_shuffles(spark, transcripts):
    """The wide text payload is hashed map-side and dropped before the
    exchange — the shuffled projection must not contain the text column."""
    suite = default_transcript_suite(dim_role(spark), dim_tool(spark))
    plan = _plan(suite.violations(transcripts))
    pre, _, post = plan.partition("Exchange hashpartitioning")
    # everything above the Exchange in the printed tree consumes its output;
    # the text column must not appear there (only __sha1 and lean columns)
    assert "text#" not in pre, f"text payload leaked through the shuffle:\n{pre}"


def test_scan_column_pruning_and_filter_pushdown(spark):
    """Catalyst must prune the parquet scan to referenced columns and push
    comparison filters into it (S6 selective-read analog)."""
    d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    q = d.filter(F.col("doc_id") > 100).groupBy((F.length("text") / 100).cast("int")).count()
    plan = _plan(q)
    assert "ReadSchema: struct<doc_id:bigint,text:string>" in plan, plan
    assert "PushedFilters: [IsNotNull(doc_id), GreaterThan(doc_id,100)]" in plan, plan


def test_chunking_splits_text_once(spark):
    """chunk_documents must not fan the computed words array into per-chunk
    re-splits (CLAUDE.md CollapseProject rule): the plan carries exactly one
    split() of the text column — and since the r6 row-local rewrite (slice
    per chunk id over the materialized token array) it must carry NO
    exchange at all: chunking is a pure per-document projection."""
    from tag_spark.operators.packing import chunk_documents

    d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = _plan(chunk_documents(d))
    assert plan.count("split(") == 1, f"text re-split per consumer:\n{plan}"
    assert plan.count("Exchange") == 0, plan


def test_packing_no_global_single_partition_sort(spark):
    """pack_token_stream's prefix sum must stay bucket-parallel: no
    single-partition Exchange feeding the window sort, and the bucket
    prefix table joins as a broadcast."""
    from tag_spark.operators.packing import pack_token_stream

    d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = _plan(pack_token_stream(d, n_buckets=16))
    assert "Exchange SinglePartition" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan
    # the one fact exchange is the bucket repartition for the window
    assert plan.count("Exchange hashpartitioning(__b") == 1, plan
