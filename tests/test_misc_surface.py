"""Remaining surface odds and ends: explain shape, CSV inference parity,
union arity error."""

import pytest
from pyspark.sql import types as T

from steel_datafusion_spark import df_explain, df_union, read_csv
from steel_datafusion_spark.plans.explain import explain_string


def test_explain_dataframe_shape(spark, tables):
    df = tables["nation"].filter("n_nationkey > 5")
    xp = df_explain(df, verbose=False)
    rows = {r.plan_type for r in xp.collect()}
    assert rows == {"logical_plan", "physical_plan"}
    assert "PushedFilters" in explain_string(df)


def test_csv_integer_inference_matches_datafusion(spark, tmp_path):
    # DataFusion infers CSV ints to Int64; Spark inferSchema must give LongType
    p = tmp_path / "t.csv"
    p.write_text("a,b\n1,x\n2,y\n")
    df = read_csv(spark, str(p))
    assert df.schema["a"].dataType == T.LongType()
    assert df.schema["b"].dataType == T.StringType()


def test_union_arity_mismatch_errors(spark, tables):
    with pytest.raises(Exception):
        df_union(tables["nation"], tables["region"]).collect()


def test_df_explain_analyze_embeds_runtime_metrics(spark):
    """main.rs:267-272 parity: analyze=true executes and returns a 'Plan with
    Metrics' row with per-operator runtime counters."""
    from pyspark.sql import functions as F

    df = spark.range(100).groupBy((F.col("id") % 4).alias("g")).count()
    out = {r.plan_type: r.plan for r in df_explain(df, analyze=True).collect()}
    assert set(out) >= {"logical_plan", "physical_plan", "Plan with Metrics"}
    metrics = out["Plan with Metrics"]
    assert "Range: number of output rows=100" in metrics
    assert "HashAggregate" in metrics


def test_driver_memory_default_sized_from_host(monkeypatch):
    """Half the host's memory, capped at 32g; the env var overrides it.
    Stubbed host, no Spark."""
    import os

    from steel_datafusion_spark.session import _driver_memory

    pages = {"SC_PAGE_SIZE": 4096, "SC_PHYS_PAGES": (16 << 30) // 4096}
    monkeypatch.setattr(os, "sysconf", lambda name: pages[name])
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    assert _driver_memory() == "8g"
    pages["SC_PHYS_PAGES"] = (256 << 30) // 4096
    assert _driver_memory() == "32g"
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "3g")
    assert _driver_memory() == "3g"
