"""Job-group attribution: a span captures exactly the jobs launched
inside it, a nested span takes its own jobs, and the caller's job group
is restored on exit."""

from __future__ import annotations

import types

import pytest

from spantrace import Tracer, layer_of


def _span(tracer, name):
    return [s for s in tracer.spans if s["name"] == name][0]


def _all_job_ids(sc) -> set[int]:
    jobs = sc._jsc.sc().statusStore().jobsList(None)     # a Scala Seq
    return {int(jobs.apply(i).jobId()) for i in range(jobs.length())}


def test_span_captures_exactly_its_jobs(spark):
    sc = spark.sparkContext
    tr = Tracer()
    spark.range(10).count()                       # outside any span
    before = _all_job_ids(sc)
    with tr.span("outer", "other"):
        spark.range(100).count()
        with tr.span("inner", "other"):
            spark.range(1000).selectExpr("id % 7 as k").groupBy("k").count().collect()
        spark.range(10).collect()
    during = _all_job_ids(sc) - before
    spark.range(10).count()                       # after the span
    outer, inner = _span(tr, "outer"), _span(tr, "inner")
    assert outer["jobs"] >= 2 and inner["jobs"] >= 1
    assert not set(outer["job_ids"]) & set(inner["job_ids"])
    assert set(outer["job_ids"]) | set(inner["job_ids"]) == during
    assert inner["parent"] == outer["id"]
    assert 0 < inner["jobs_s"] <= inner["end"] - inner["start"] + 1e-3
    assert inner["tasks"] >= 2 and inner["shuffle_bytes"] > 0
    assert sc.getLocalProperty("spark.jobGroup.id") is None


def test_span_restores_the_callers_group(spark):
    sc = spark.sparkContext
    sc.setJobGroup("caller", "caller's group")
    try:
        tr = Tracer()
        with tr.span("s", "other"):
            assert sc.getLocalProperty("spark.jobGroup.id").startswith("perfbench-")
        assert sc.getLocalProperty("spark.jobGroup.id") == "caller"
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def test_failed_call_is_recorded_and_reraised(spark):
    tr = Tracer()
    with pytest.raises(ZeroDivisionError):
        with tr.span("boom", "other"):
            1 / 0
    assert tr.spans[0]["failed"] is True


def test_install_wraps_public_functions_once_per_layer_call(spark):
    pkg = types.ModuleType("fakepkg")
    pkg.__path__ = []
    calls = []

    def helper(x):
        calls.append(x)
        return x

    def entry(x):
        return pkg.helper(x) + 1     # same module: no nested span
    helper.__module__ = entry.__module__ = "fakepkg"
    pkg.helper, pkg.entry = helper, entry
    tr = Tracer()
    tr.install(pkg)
    try:
        assert pkg.entry(1) == 2
        assert [s["name"] for s in tr.spans] == [".entry"]
    finally:
        tr.uninstall()
    assert pkg.entry is entry


def test_layer_map():
    assert layer_of("sources.lakehouse", "merge_into") == "lakehouse.merge"
    assert layer_of("sources.lakehouse", "read_table_pruned") == "lakehouse.read"
    assert layer_of("sources.lakehouse", "compact") == "lakehouse.maintenance"
    assert layer_of("sources.http_transport", "requests_get") == "sources.rest_lake"
    assert layer_of("schema_registry.registry", "tag_versions") == "pipeline"
    assert layer_of("streaming.cdf", "stream_changes") == "streaming.cdf"
    assert layer_of("plans.warehouse", "q1_pricing_summary") == "plans.queries"
    assert layer_of("operators.dedup", "minhash_pairs") == "operators.corpus"
    assert layer_of("operators.layout", "x") == "other"
