"""Gold drain incrementality ACROSS silver maintenance and merges
(r11; verdict r10 #2 — DLT's continuous apply-changes done end-to-end):

 - a silver ``compact()`` between gold drains is dataChange=false and
   must trigger NO full silver re-read (the append chain stays intact);
 - a silver UPDATE (merge) propagates into gold SCD2 history from the
   CHANGE FEED alone — row-level deltas from the touched files, never
   the O(table) fallback.

The full-read detector is a spy on ``ManagedTable.read`` scoped to the
silver table: any gold drain that falls back to ``silver.read()``
records a call. (Schema-only probes no longer construct the full
frame — appended_since's empty branches read the committed schema.)
"""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from end_to_end_azure_databricks_data_engineering_project_spark.config import TABLE_BY_NAME
from end_to_end_azure_databricks_data_engineering_project_spark.operators.cdc import END_AT, scd1_merge
from end_to_end_azure_databricks_data_engineering_project_spark.sources.ingest import ingest_all
from end_to_end_azure_databricks_data_engineering_project_spark.sources.tables import ManagedTable
from end_to_end_azure_databricks_data_engineering_project_spark.sources.watermark import WatermarkStore
from end_to_end_azure_databricks_data_engineering_project_spark.streaming.flows import (
    build_medallion_pipeline,
)

T0 = dt.datetime(2025, 1, 1)
T1 = dt.datetime(2025, 6, 1)


def _build_medallion(spark, root):
    users = spark.createDataFrame(
        [(i, f"user {i}", "US", "Free", None, None, T0) for i in range(1, 6)],
        "user_id int, user_name string, country string, subscription_type string,"
        " start_date date, end_date date, updated_at timestamp",
    )
    cfgs = [TABLE_BY_NAME["dim_user"]]
    store = WatermarkStore(root / "state")
    ingest_all(spark, cfgs, {"dim_user": users}, str(root / "bronze"), store)
    pipe, catalog = build_medallion_pipeline(
        spark, cfgs, str(root / "bronze"), str(root / "warehouse"),
        str(root / "state"),
    )
    pipe.run_all()
    return pipe, catalog


@pytest.fixture()
def medallion(spark, tmp_path):
    return _build_medallion(spark, tmp_path)


def _spy_reads(monkeypatch):
    calls: list[str] = []
    orig = ManagedTable.read

    def read(self):
        calls.append(self.name)
        return orig(self)

    monkeypatch.setattr(ManagedTable, "read", read)
    return calls


def test_silver_compact_triggers_no_gold_full_read(spark, medallion, monkeypatch):
    pipe, catalog = medallion
    silver = catalog.table("silver_dim_user")
    gold_before = sorted(
        tuple(r) for r in catalog.table("gold_dim_user").read().collect()
    )
    silver.compact(target_partitions=1)

    calls = _spy_reads(monkeypatch)
    assert pipe.flows["gold_dim_user"].run() == 0  # zero-row delta
    assert "silver_dim_user" not in calls, (
        "gold drain fell back to a full silver read across a compaction"
    )
    gold_after = sorted(
        tuple(r) for r in catalog.table("gold_dim_user").read().collect()
    )
    assert gold_after == gold_before


def test_silver_merge_propagates_to_gold_via_change_feed(
    spark, medallion, monkeypatch
):
    pipe, catalog = medallion
    silver = catalog.table("silver_dim_user")
    upd = (
        silver.read()
        .filter("user_id = 1")
        .withColumn("country", F.lit("DE"))
        .withColumn("updated_at", F.lit(T1))
    )
    silver.merge_keyed(
        upd, ["user_id"],
        lambda cur, b: scd1_merge(cur, b, ["user_id"], "updated_at"),
    )

    calls = _spy_reads(monkeypatch)
    assert pipe.flows["gold_dim_user"].run() == 1  # exactly the changed row
    assert "silver_dim_user" not in calls, (
        "gold drain fell back to a full silver read across a merge"
    )
    hist = (
        catalog.table("gold_dim_user").read().filter("user_id = 1").collect()
    )
    assert len(hist) == 2  # SCD2: closed old version + open new one
    cur = [r for r in hist if r[END_AT] is None]
    old = [r for r in hist if r[END_AT] is not None]
    assert len(cur) == 1 and cur[0]["country"] == "DE"
    assert len(old) == 1 and old[0]["country"] == "US"
    # idempotent: draining again applies nothing and changes nothing
    assert pipe.flows["gold_dim_user"].run() == 0
    assert (
        catalog.table("gold_dim_user").read().filter("user_id = 1").count() == 2
    )


def test_silver_overwrite_still_falls_back_to_full_read(
    spark, medallion, monkeypatch
):
    """A genuine snapshot replacement is NOT incrementally derivable —
    the fallback (safe under SCD stale-drop) must still engage."""
    pipe, catalog = medallion
    silver = catalog.table("silver_dim_user")
    silver.overwrite(silver.read().withColumn("updated_at", F.lit(T0)))

    calls = _spy_reads(monkeypatch)
    pipe.flows["gold_dim_user"].run()
    assert "silver_dim_user" in calls  # fallback engaged
    assert catalog.table("gold_dim_user").read().filter(
        F.col(END_AT).isNull()
    ).count() == 5


def test_silver_update_where_propagates_incrementally(
    spark, medallion, monkeypatch
):
    """Predicate UPDATE on silver (r11 DML): the change feed carries the
    post-image rows, so the gold drain folds exactly the updated keys —
    no full silver re-read."""
    pipe, catalog = medallion
    silver = catalog.table("silver_dim_user")
    silver.update_where(
        "user_id = 2",
        {"subscription_type": "'Premium'", "updated_at": f"timestamp'{T1}'"},
    )

    calls = _spy_reads(monkeypatch)
    assert pipe.flows["gold_dim_user"].run() == 1
    assert "silver_dim_user" not in calls, (
        "gold drain fell back to a full silver read across update_where"
    )
    hist = catalog.table("gold_dim_user").read().filter("user_id = 2").collect()
    assert len(hist) == 2
    cur = [r for r in hist if r[END_AT] is None]
    assert len(cur) == 1 and cur[0]["subscription_type"] == "Premium"


def test_silver_delete_where_propagates_to_gold(spark, medallion, monkeypatch):
    """Predicate DELETE on silver propagates through the change feed
    into the gold SCD2 apply (≙ DLT apply_as_deletes, DimUser.py:20-29):
    the open version closes, history is retained, and the drain stays
    incremental — no full silver read."""
    pipe, catalog = medallion
    silver = catalog.table("silver_dim_user")
    silver.delete_where("user_id = 3")

    calls = _spy_reads(monkeypatch)
    assert pipe.flows["gold_dim_user"].run() == 1  # exactly the delete row
    assert "silver_dim_user" not in calls, (
        "gold drain fell back to a full silver read across delete_where"
    )
    gold = catalog.table("gold_dim_user")
    hist = gold.read().filter("user_id = 3").collect()
    assert len(hist) == 1 and hist[0][END_AT] is not None  # closed, kept
    # the delete flag column never lands in the gold schema
    assert "__cdc_delete" not in gold.read().columns
    # other keys untouched (still open)
    assert gold.read().filter(F.col(END_AT).isNull()).count() == 4
    # idempotent: replaying the drain changes nothing
    assert pipe.flows["gold_dim_user"].run() == 0
    assert gold.read().filter("user_id = 3").count() == 1


def test_update_then_delete_across_commits_nets_to_delete(
    spark, medallion, monkeypatch
):
    """Ordering across commits: an UPDATE commit followed by a DELETE
    commit of the SAME key must net to a closed key — per-commit feed
    folding keeps the true delete from cancelling against the earlier
    update's pre-image (a whole-range union pairing would classify all
    three change rows as one 'update')."""
    pipe, catalog = medallion
    silver = catalog.table("silver_dim_user")
    silver.update_where(
        "user_id = 4",
        {"country": "'DE'", "updated_at": f"timestamp'{T1}'"},
    )
    silver.delete_where("user_id = 4")

    calls = _spy_reads(monkeypatch)
    assert pipe.flows["gold_dim_user"].run() == 2  # update row + delete row
    assert "silver_dim_user" not in calls
    hist = sorted(
        catalog.table("gold_dim_user").read().filter("user_id = 4").collect(),
        key=lambda r: r["__START_AT"],
    )
    # v1 (US) closed at T1, v2 (DE) closed by the delete; nothing open
    assert [r["country"] for r in hist] == ["US", "DE"]
    assert all(r[END_AT] is not None for r in hist)


@pytest.mark.parametrize(
    ("append_key", "gold_merges"),
    [(6, 1), (3, 2)],
    ids=["disjoint-keys-one-merge", "key-in-both-commits-per-commit"],
)
def test_multi_commit_drain_matches_per_commit_drains(
    spark, tmp_path, monkeypatch, append_key, gold_merges
):
    """A drain over a DELETE commit plus an APPEND commit merges gold
    once when the two commits share no key, and once per commit when a
    key has rows in both; either way gold ends exactly as it does when
    the drain runs after each commit."""
    def delete(catalog):
        catalog.table("silver_dim_user").delete_where("user_id = 3")

    def append(catalog):
        silver = catalog.table("silver_dim_user")
        row = silver.read().filter("user_id = 1").first().asDict()
        row.update(user_id=append_key, user_name="late", updated_at=T1)
        silver.append(spark.createDataFrame([row], silver.read().schema))

    ref_pipe, ref_catalog = _build_medallion(spark, tmp_path / "ref")
    ref_rows = 0
    for commit in (delete, append):
        commit(ref_catalog)
        ref_rows += ref_pipe.flows["gold_dim_user"].run()

    pipe, catalog = _build_medallion(spark, tmp_path / "one")
    delete(catalog)
    append(catalog)
    merges: list[str] = []
    orig = ManagedTable.merge_keyed

    def merge_keyed(self, *args, **kwargs):
        merges.append(self.name)
        return orig(self, *args, **kwargs)

    monkeypatch.setattr(ManagedTable, "merge_keyed", merge_keyed)
    calls = _spy_reads(monkeypatch)
    assert pipe.flows["gold_dim_user"].run() == ref_rows == 2
    assert merges.count("gold_dim_user") == gold_merges
    assert "silver_dim_user" not in calls

    def rows(cat):
        return sorted(
            tuple(r) for r in cat.table("gold_dim_user").read().collect()
        )

    assert rows(catalog) == rows(ref_catalog)
    assert pipe.flows["gold_dim_user"].run() == 0


def test_erase_mode_purges_scd2_history(spark, tmp_path):
    """GDPR erasure: on_delete='erase' removes the key's ENTIRE gold
    history (close isn't erasure), and the longevity contract holds —
    the erased id is absent from gold, not merely closed."""
    import dataclasses

    cfg = dataclasses.replace(TABLE_BY_NAME["dim_user"], on_delete="erase")
    users = spark.createDataFrame(
        [(i, f"user {i}", "US", "Free", None, None, T0) for i in range(1, 4)],
        "user_id int, user_name string, country string, subscription_type string,"
        " start_date date, end_date date, updated_at timestamp",
    )
    store = WatermarkStore(tmp_path / "state")
    ingest_all(spark, [cfg], {"dim_user": users}, str(tmp_path / "bronze"), store)
    pipe, catalog = build_medallion_pipeline(
        spark, [cfg], str(tmp_path / "bronze"), str(tmp_path / "warehouse"),
        str(tmp_path / "state"),
    )
    pipe.run_all()
    silver = catalog.table("silver_dim_user")
    # build history for key 2 first (update), then erase it
    silver.update_where(
        "user_id = 2",
        {"country": "'FR'", "updated_at": f"timestamp'{T1}'"},
    )
    pipe.flows["gold_dim_user"].run()
    gold = catalog.table("gold_dim_user")
    assert gold.read().filter("user_id = 2").count() == 2  # open + closed
    silver.delete_where("user_id = 2")
    pipe.flows["gold_dim_user"].run()
    assert gold.read().filter("user_id = 2").count() == 0  # history purged
    assert sorted(
        r.user_id for r in gold.read().filter(F.col(END_AT).isNull()).collect()
    ) == [1, 3]


def test_silver_tables_enable_cdf_by_default(spark, medallion):
    """DLT enables the change feed on apply-changes sources; our silver
    does too — a silver DML commit MATERIALIZES exact change rows, so
    the gold drain's feed reads them instead of exceptAll-diffing the
    touched files on every drain."""
    pipe, catalog = medallion
    silver = catalog.table("silver_dim_user")
    assert silver.cdf_enabled()
    v = silver.delete_where("user_id = 5")
    assert silver._manifest(v).get("cdc"), "DML did not materialize CDF rows"
    assert pipe.flows["gold_dim_user"].run() == 1
    gold = catalog.table("gold_dim_user")
    assert gold.read().filter(
        f"user_id = 5 AND {END_AT} IS NULL"
    ).count() == 0


def test_noop_gold_drain_runs_no_spark_job(spark, medallion, tmp_path):
    """A gold drain with silver still at its cursor returns before
    building any DataFrame: the second of two drains runs no Spark
    job at all."""
    pipe, _ = medallion
    users = spark.createDataFrame(
        [(i, f"user {i}", "US", "Premium", None, None, T1) for i in range(4, 8)],
        "user_id int, user_name string, country string, subscription_type string,"
        " start_date date, end_date date, updated_at timestamp",
    )
    ingest_all(spark, [TABLE_BY_NAME["dim_user"]], {"dim_user": users},
               str(tmp_path / "bronze"), WatermarkStore(tmp_path / "state"))
    assert pipe.flows["silver_dim_user"].run() == 4
    sc = spark.sparkContext
    rows = {}
    for group in ("gold-drain-1", "gold-drain-2"):
        sc.setJobGroup(group, "gold drain")
        try:
            rows[group] = pipe.flows["gold_dim_user"].run()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
    assert rows == {"gold-drain-1": 4, "gold-drain-2": 0}
    assert sc.statusTracker().getJobIdsForGroup("gold-drain-1")
    assert sc.statusTracker().getJobIdsForGroup("gold-drain-2") == []
