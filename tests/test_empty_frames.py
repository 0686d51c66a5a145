"""Empty frames the optimizer can see.

Every empty DataFrame the table layer builds goes through
``session.empty_frame``: after optimization it must be an empty
``LocalRelation``, never a ``LogicalRDD`` over a Python RDD (one
Python-worker task per core on every scan, and opaque to
``PropagateEmptyRelation``), and it must keep the table's committed
schema — names, types and nullability.
"""

from __future__ import annotations

import pytest
from pyspark.sql.types import IntegerType, StringType, StructField, StructType

from end_to_end_azure_databricks_data_engineering_project_spark.session import empty_frame
from end_to_end_azure_databricks_data_engineering_project_spark.sources.tables import ManagedTable

SCHEMA = "id int, name string, amount double"


def _rdd_leaves(df) -> list[str]:
    leaves = df._jdf.queryExecution().optimizedPlan().collectLeaves()
    names = [leaves.apply(i).nodeName() for i in range(leaves.length())]
    return [n for n in names if n in ("LogicalRDD", "ExistingRDD")]


def _fields(schema) -> list[tuple]:
    return [(f.name, f.dataType, f.nullable) for f in schema.fields]


def _table(spark, tmp_path, enable_cdf: bool = False) -> ManagedTable:
    t = ManagedTable(spark, tmp_path / "wh", "t")
    t.overwrite(
        spark.createDataFrame(
            [(i, f"n{i}", float(i)) for i in range(1, 4)], SCHEMA
        ),
        enable_cdf=enable_cdf,
    )
    return t


def test_empty_frame_keeps_declared_schema(spark):
    declared = StructType([
        StructField("a", IntegerType(), False, {"comment": "key"}),
        StructField("b", StringType(), True),
    ])
    for schema in (declared, "a INT NOT NULL COMMENT 'key', b STRING"):
        df = empty_frame(spark, schema)
        assert df.schema == declared
        assert _rdd_leaves(df) == []
        assert df.collect() == []
    # a union with it is pruned to the other side
    other = spark.range(2).selectExpr("cast(id as int) a", "'x' b")
    plan = other.unionByName(empty_frame(spark, declared))._jdf.queryExecution()
    assert "Union" not in plan.optimizedPlan().toString()


def test_changes_since_one_append_commit(spark, tmp_path):
    t = _table(spark, tmp_path)
    v0 = t.current_version()
    t.append(spark.createDataFrame([(4, "n4", 4.0)], SCHEMA))
    feed = t.changes_since(v0, keys=["id"])
    assert _rdd_leaves(feed) == []
    assert _fields(feed.drop("_change_type").schema) == _fields(t.table_schema())
    assert [tuple(r) for r in feed.collect()] == [(4, "n4", 4.0, "insert")]


@pytest.mark.parametrize("enable_cdf", [False, True])
def test_changes_since_one_delete_commit(spark, tmp_path, enable_cdf):
    t = _table(spark, tmp_path, enable_cdf)
    v0 = t.current_version()
    t.delete_where("id = 2")
    feed = t.changes_since(v0, keys=["id"])
    assert _rdd_leaves(feed) == []
    assert _fields(feed.drop("_change_type").schema) == _fields(t.table_schema())
    assert [tuple(r) for r in feed.collect()] == [(2, "n2", 2.0, "delete")]


def test_appended_since_at_head(spark, tmp_path):
    t = _table(spark, tmp_path)
    df = t.appended_since(t.current_version())
    assert _rdd_leaves(df) == []
    assert _fields(df.schema) == _fields(t.table_schema())
    assert df.collect() == []


def test_merge_keyed_untouched_subset(spark, tmp_path):
    t = _table(spark, tmp_path)
    v0 = t.current_version()
    seen = []

    def merge_fn(cur, batch):
        seen.append(cur)
        return cur.unionByName(batch)

    batch = spark.createDataFrame([(100, "n100", 100.0)], SCHEMA)
    t.merge_keyed(batch, ["id"], merge_fn)
    (subset,) = seen
    assert _rdd_leaves(subset) == []
    assert _fields(subset.schema) == _fields(t.table_schema(v0))
    assert subset.collect() == []
    assert sorted(r.id for r in t.read().collect()) == [1, 2, 3, 100]
