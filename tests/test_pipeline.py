"""Asset-DAG pipeline: topological materialization, schema
enforcement at the sink, checkpointed layer boundaries."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from pudl_spark.plans.pipeline import AssetGraph
from pudl_spark.schema import Field, FieldConstraints, Resource
from pudl_spark.schema.enforce import SchemaError

SF_DIR = "/root/testdata/sf0.001"

HOURLY_RES = Resource(
    name="out_hourly_counts",
    fields=(
        Field("event_type", "string", FieldConstraints(required=True)),
        Field("hour", "datetime"),
        Field("n_events", "integer"),
    ),
    primary_key=("event_type", "hour"),
)


def build_graph() -> AssetGraph:
    g = AssetGraph()

    @g.add("raw_events", group="raw")
    def raw_events(spark, inputs):
        from pudl_spark.catalog import read_parquet_table
        return read_parquet_table(spark, f"{SF_DIR}/events.parquet")

    @g.add("core_events", deps=("raw_events",))
    def core_events(spark, inputs):
        return (inputs["raw_events"]
                .filter(F.col("event_type").isNotNull())
                .withColumn("hour", F.date_trunc("hour", "ts")))

    @g.add("out_hourly_counts", deps=("core_events",),
           resource=HOURLY_RES, sort_cols=("event_type", "hour"),
           group="out")
    def out_hourly(spark, inputs):
        return (inputs["core_events"]
                .groupBy("event_type", "hour")
                .agg(F.count(F.lit(1)).alias("n_events")))

    return g


def test_materialize_dag(spark, tmp_path):
    g = build_graph()
    assert g.order() == ["raw_events", "core_events", "out_hourly_counts"]
    paths = g.materialize(spark, str(tmp_path))
    for p in paths.values():
        assert os.path.exists(p)
    out = spark.read.parquet(paths["out_hourly_counts"])
    assert out.columns == ["event_type", "hour", "n_events"]
    raw_n = spark.read.parquet(paths["raw_events"]).count()
    assert out.agg(F.sum("n_events")).collect()[0][0] == raw_n


def test_selection_materializes_upstream_closure(spark, tmp_path):
    g = build_graph()
    assert g.order(["core_events"]) == ["raw_events", "core_events"]
    paths = g.materialize(spark, str(tmp_path), selection=["core_events"])
    assert set(paths) == {"raw_events", "core_events"}


def test_schema_enforced_at_sink(spark, tmp_path):
    g = AssetGraph()

    @g.add("bad", resource=HOURLY_RES)
    def bad(spark_, inputs):
        # duplicate PK rows must be rejected at the sink boundary
        return spark_.createDataFrame(
            [("click", "2024-01-01 00:00:00", 1),
             ("click", "2024-01-01 00:00:00", 2)],
            "event_type string, hour string, n_events int",
        ).withColumn("hour", F.to_timestamp("hour"))

    with pytest.raises(SchemaError, match="duplicate"):
        g.materialize(spark, str(tmp_path))


def test_incremental_materialization_skips_fresh_assets(spark, tmp_path):
    calls = []

    def build(v_up="1", v_down="1"):
        g = AssetGraph()

        @g.add("up", version=v_up)
        def up(spark_, inputs):
            calls.append("up")
            return spark_.createDataFrame([(1, "a"), (2, "b")], ["k", "v"])

        @g.add("down", deps=("up",), version=v_down)
        def down(spark_, inputs):
            calls.append("down")
            return inputs["up"].withColumn("n", F.lit(1))

        return g

    store = str(tmp_path)
    build().materialize(spark, store, incremental=True)
    assert calls == ["up", "down"]

    # unchanged versions: nothing recomputes
    build().materialize(spark, store, incremental=True)
    assert calls == ["up", "down"]

    # bumping only the downstream version recomputes only downstream
    build(v_down="2").materialize(spark, store, incremental=True)
    assert calls == ["up", "down", "down"]

    # bumping upstream invalidates the whole downstream cone
    build(v_up="2", v_down="2").materialize(spark, store, incremental=True)
    assert calls == ["up", "down", "down", "up", "down"]


def test_incremental_inputs_signature_invalidates(spark, tmp_path):
    calls = []
    sig = {"v": "s1"}

    def build():
        g = AssetGraph()

        @g.add("src", inputs_signature=lambda: sig["v"])
        def src(spark_, inputs):
            calls.append("src")
            return spark_.createDataFrame([(1,)], ["k"])

        return g

    store = str(tmp_path)
    build().materialize(spark, store, incremental=True)
    build().materialize(spark, store, incremental=True)
    assert calls == ["src"]
    sig["v"] = "s2"  # external data changed
    build().materialize(spark, store, incremental=True)
    assert calls == ["src", "src"]


def test_parallel_materialization_runs_independent_assets_together(
        spark, tmp_path):
    """The two middle diamond assets must be IN FLIGHT at the same
    time — each waits on a shared barrier the other must reach, which
    deadlocks (times out) under serial execution."""
    import threading

    from pudl_spark.plans.pipeline import AssetGraph

    barrier = threading.Barrier(2, timeout=30)
    g = AssetGraph()

    @g.add("src")
    def src(sp, inputs):
        return sp.range(10).withColumnRenamed("id", "k")

    @g.add("mid_a", deps=("src",))
    def mid_a(sp, inputs):
        barrier.wait()
        return inputs["src"].withColumn("side", F.lit("a"))

    @g.add("mid_b", deps=("src",))
    def mid_b(sp, inputs):
        barrier.wait()
        return inputs["src"].withColumn("side", F.lit("b"))

    @g.add("out", deps=("mid_a", "mid_b"))
    def out(sp, inputs):
        return inputs["mid_a"].unionByName(inputs["mid_b"])

    store = str(tmp_path / "par")
    paths = g.materialize(spark, store)
    got = spark.read.parquet(paths["out"])
    assert got.count() == 20
    assert sorted(r["side"] for r in got.select("side")
                  .distinct().collect()) == ["a", "b"]


def test_parallel_materialization_propagates_failures(spark, tmp_path):
    import pytest

    from pudl_spark.plans.pipeline import AssetGraph

    g = AssetGraph()

    @g.add("ok")
    def ok(sp, inputs):
        return sp.range(3)

    @g.add("boom")
    def boom(sp, inputs):
        raise RuntimeError("asset exploded")

    with pytest.raises(RuntimeError, match="asset exploded"):
        g.materialize(spark, str(tmp_path / "fail"))


def test_failure_stops_submission_and_lets_in_flight_finish(
        spark, tmp_path):
    """After an asset fails no new asset is submitted, the assets
    already in flight finish and reach the manifest, and the failure
    is re-raised."""
    import json
    import threading

    import pytest

    from pudl_spark.plans.pipeline import AssetGraph

    failed = threading.Event()
    g = AssetGraph()

    @g.add("boom")
    def boom(sp, inputs):
        failed.set()
        raise RuntimeError("asset exploded")

    @g.add("slow")
    def slow(sp, inputs):
        assert failed.wait(30)
        return sp.range(3)

    @g.add("after_slow", deps=("slow",))
    def after_slow(sp, inputs):
        return inputs["slow"]

    store = tmp_path / "fail"
    with pytest.raises(RuntimeError, match="asset exploded"):
        g.materialize(spark, str(store), incremental=True)
    assert (store / "slow.parquet").exists()
    assert not (store / "after_slow.parquet").exists()
    manifest = json.loads((store / "_manifest.json").read_text())
    assert set(manifest) == {"slow"}


def test_concurrent_manifest_writes_lose_no_asset(spark, tmp_path):
    """More independent assets than pool threads, with thread switches
    forced often: every asset must reach the manifest (a lost update
    would rebuild it on the next incremental run)."""
    import json
    import sys

    from pudl_spark.plans.pipeline import AssetGraph

    n = 3 * spark.sparkContext.defaultParallelism
    built: list[str] = []
    g = AssetGraph()
    for i in range(n):
        @g.add(f"leaf{i}")
        def leaf(sp, inputs, i=i):
            built.append(f"leaf{i}")
            return sp.range(i + 1)

    store = tmp_path / "wide"
    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        g.materialize(spark, str(store), incremental=True)
    finally:
        sys.setswitchinterval(old)
    manifest = json.loads((store / "_manifest.json").read_text())
    assert set(manifest) == set(g.assets)
    g.materialize(spark, str(store), incremental=True)
    assert sorted(built) == sorted(g.assets)
