"""Declarative TableTransformParams layer: dict-driven pipelines must
equal the hand-composed operator chain, reject typo'd step names, and
collapse to a single projection over the scan."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pudl_spark.plans.transform import (
    TableTransformer, TableTransformParams, transform_table,
)


def _df(spark):
    return spark.createDataFrame(
        [
            (1, "  Crème BRÛLÉE ", "1-URGENT", 2500.0),
            (2, "plain", "5-LOW", 150.0),
            (3, None, "3-MEDIUM", 999999.0),
            (4, "x", "bogus", 42000.0),
        ],
        "id long, name string, prio string, cents double")


PARAMS = {
    "rename_columns": {"cents": "price_cents"},
    "normalize_strings": {"name": {}, "prio": {}},
    "categorize_strings": {"prio": {
        "hot": ["1-urgent", "2-high"], "cold": ["3-medium", "5-low"]}},
    "convert_units": {"price_cents": {
        "multiplier": 0.01, "from_unit": "cents", "to_unit": "dollars"}},
    "nullify_outliers": {"price_dollars": {
        "lower_bound": 0.0, "upper_bound": 5000.0}},
    "drop_invalid_rows": [{"required_valid_cols": ["prio"],
                           "invalid_values": []}],
    "spot_fix_values": [{"idx_cols": ["id"], "fix_cols": ["name"],
                         "fixes": [(2, "fixed")]}],
}


def test_declarative_pipeline_semantics(spark):
    out = {r["id"]: r for r in
           transform_table(_df(spark), PARAMS).collect()}
    # row 4 dropped: 'bogus' categorizes to NULL, then drop_invalid_rows
    assert set(out) == {1, 2, 3}
    assert out[1]["name"] == "creme brulee"        # fold+lower+collapse
    assert out[1]["prio"] == "hot"
    assert out[1]["price_dollars"] == 25.0         # renamed by unit suffix
    assert out[2]["name"] == "fixed"               # spot fix
    assert out[2]["prio"] == "cold"
    assert out[3]["price_dollars"] is None         # outlier nullified
    assert "price_cents" not in out[1].asDict()


def test_unknown_step_raises(spark):
    with pytest.raises(KeyError, match="unknown steps"):
        TableTransformParams.from_dict({"rename_colums": {}})


def test_partial_params_are_noops(spark):
    df = _df(spark)
    out = TableTransformer({"rename_columns": {"cents": "c2"}}).transform(df)
    assert out.columns == ["id", "name", "prio", "c2"]
    assert out.count() == 4


def test_pipeline_is_single_projection(spark):
    """All column steps must fuse into one codegen projection: the only
    exchange in the plan is the broadcast for the spot-fix table."""
    out = transform_table(_df(spark), PARAMS)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange hashpartitioning" not in plan
    assert plan.count("BroadcastExchange") == 1


def test_spot_fix_on_a_pool_thread(spark):
    """A transform built on a worker thread (as AssetGraph.materialize
    builds every asset) must not depend on the per-thread active
    session. Whether a fresh pool thread inherits one depends on which
    JVM thread serves it, so the test clears it to pin the case where
    it does not."""
    from concurrent.futures import ThreadPoolExecutor

    from pyspark.sql import SparkSession

    def build():
        df = _df(spark)  # createDataFrame sets the active session
        SparkSession._get_j_spark_session_class(
            spark._jvm).clearActiveSession()
        assert SparkSession.getActiveSession() is None
        return {r["id"]: r["name"] for r in
                transform_table(df, PARAMS).collect()}

    with ThreadPoolExecutor(max_workers=1) as ex:
        out = ex.submit(build).result()
    assert out[2] == "fixed"
