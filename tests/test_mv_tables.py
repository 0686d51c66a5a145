"""Incremental aggregate MV correctness (batch-slicing independence) and
ManagedTable snapshot semantics (time-travel, vacuum, atomicity)."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from end_to_end_azure_databricks_data_engineering_project_spark.sources.tables import Catalog, ManagedTable
from end_to_end_azure_databricks_data_engineering_project_spark.streaming.mv import IncrementalAgg, Measure


def _facts(spark, start, n, t0):
    rows = [
        (start + i, (start + i) % 5, float((start + i) % 100) + 0.25,
         t0 + dt.timedelta(seconds=start + i))
        for i in range(n)
    ]
    return spark.createDataFrame(rows, "id long, grp int, amount double, ts timestamp")


def test_incremental_mv_equals_full_recompute(spark, tmp_path):
    t0 = dt.datetime(2025, 1, 1)
    catalog = Catalog(spark, tmp_path / "wh")
    fact = catalog.table("fact")
    mv = IncrementalAgg(
        catalog, "rev_by_grp", "fact", ["grp"],
        [Measure("total", "amount", "sum"), Measure("n", "amount", "count"),
         Measure("max_amount", "amount", "max")],
    )
    # three uneven appends; refresh after each
    for start, n in [(0, 137), (137, 1), (138, 262)]:
        batch = _facts(spark, start, n, t0)
        if fact.exists():
            fact.append(batch)
        else:
            fact.overwrite(batch)
        assert mv.refresh() == n
    # idempotent: nothing new
    assert mv.refresh() == 0

    got = {
        r.grp: (float(r.total), r.n, r.max_amount) for r in mv.read().collect()
    }
    full = {
        r.grp: (float(r.total), r.n, r.max_amount)
        for r in fact.read()
        .groupBy("grp")
        .agg(
            F.sum(F.col("amount").cast("decimal(28,2)")).alias("total"),
            F.count(F.lit(1)).alias("n"),
            F.max("amount").alias("max_amount"),
        )
        .collect()
    }
    assert got == full


def test_managed_table_time_travel_and_vacuum(spark, tmp_path):
    t = ManagedTable(spark, tmp_path, "tt")
    df1 = spark.createDataFrame([(1, "a")], "id int, v string")
    df2 = spark.createDataFrame([(2, "b")], "id int, v string")
    v0 = t.overwrite(df1)
    v1 = t.append(df2)
    assert (v0, v1) == (0, 1)
    # current sees both; old snapshot dir still readable (time travel)
    assert t.read().count() == 2
    old = t.read_at(0)
    assert old.count() == 1
    # vacuum keeps the latest `keep` versions
    t.overwrite(df1)  # v2
    t.vacuum(keep=1)
    assert not t._version_dir(0).exists()
    assert t.read().count() == 1


def test_managed_table_atomic_pointer(spark, tmp_path):
    """A reader holding the old pointer keeps a consistent snapshot even
    after a new commit (snapshot isolation on plain parquet)."""
    t = ManagedTable(spark, tmp_path, "iso")
    t.overwrite(spark.createDataFrame([(i,) for i in range(10)], "id int"))
    old_df = t.read()  # plan bound to v0 files
    t.overwrite(spark.createDataFrame([(99,)], "id int"))
    assert old_df.count() == 10  # still the old snapshot
    assert t.read().count() == 1


def test_managed_table_compact(spark, tmp_path):
    t = ManagedTable(spark, tmp_path, "cmp")
    for i in range(4):
        batch = spark.createDataFrame([(i * 10 + j,) for j in range(10)], "id int")
        t.append(batch) if t.exists() else t.overwrite(batch)
    files_before = len(t.data_files())
    t.compact(target_partitions=1)
    files_after = len(t.data_files())
    assert files_after < files_before
    assert t.read().count() == 40


def test_parallel_ingest_matches_serial(spark, tmp_path):
    import datetime as dt

    from end_to_end_azure_databricks_data_engineering_project_spark.config import TABLE_BY_NAME
    from end_to_end_azure_databricks_data_engineering_project_spark.sources.ingest import ingest_all
    from end_to_end_azure_databricks_data_engineering_project_spark.sources.watermark import WatermarkStore

    t0 = dt.datetime(2025, 1, 1)
    users = spark.createDataFrame(
        [(i, f"u{i}", "US", "Free", None, None, t0) for i in range(5)],
        TABLE_BY_NAME["dim_user"].spark_schema,
    )
    artists = spark.createDataFrame(
        [(i, f"a{i}", "Pop", "US", t0) for i in range(7)],
        TABLE_BY_NAME["dim_artist"].spark_schema,
    )
    cfgs = [TABLE_BY_NAME["dim_user"], TABLE_BY_NAME["dim_artist"]]
    res = ingest_all(
        spark, cfgs, {"dim_user": users, "dim_artist": artists},
        str(tmp_path / "bronze"), WatermarkStore(tmp_path / "state"),
    )
    assert {r.table: r.rows for r in res} == {"dim_user": 5, "dim_artist": 7}


def test_incremental_mv_hll_distinct(spark, tmp_path):
    """Mergeable HLL distinct: incremental sketch-union equals the
    from-scratch sketch estimate exactly, and is close to truth."""
    import datetime as dt

    from pyspark.sql import functions as F

    t0 = dt.datetime(2025, 1, 1)
    catalog = Catalog(spark, tmp_path / "wh")
    fact = catalog.table("fact")
    mv = IncrementalAgg(
        catalog, "users_by_grp", "fact", ["grp"],
        [Measure("n_users", "id", "approx_distinct")],
    )
    for start, n in [(0, 150), (150, 250)]:
        batch = _facts(spark, start, n, t0).withColumn("id", F.col("id") % 97)
        fact.append(batch) if fact.exists() else fact.overwrite(batch)
        mv.refresh()
    got = {r.grp: r.n_users for r in mv.read().collect()}
    scratch = {
        r.grp: r.est for r in fact.read()
        .groupBy("grp")
        .agg(F.hll_sketch_estimate(F.hll_sketch_agg("id")).alias("est"))
        .collect()
    }
    assert got == scratch  # sketch union is exact w.r.t. recompute
    exact = {
        r.grp: r.n for r in fact.read()
        .groupBy("grp").agg(F.countDistinct("id").alias("n")).collect()
    }
    for g, est in got.items():
        assert abs(est - exact[g]) / exact[g] < 0.05


def test_mv_boundary_rows_not_lost(spark, tmp_path):
    """Version-cursor regression test for the round-1 ADVICE: rows whose
    timestamp EQUALS the previous batch's max must still be folded (a
    strict '>' value watermark would drop them)."""
    import datetime as dt

    t0 = dt.datetime(2025, 1, 1)
    catalog = Catalog(spark, tmp_path / "wh")
    fact = catalog.table("fact_b")
    mv = IncrementalAgg(
        catalog, "b_by_grp", "fact_b", ["grp"],
        [Measure("n", "amount", "count")],
    )
    fact.overwrite(
        spark.createDataFrame([(1, 0, 1.0, t0)], "id long, grp int, amount double, ts timestamp")
    )
    assert mv.refresh() == 1
    # second batch arrives with ts EXACTLY equal to the stored max
    fact.append(
        spark.createDataFrame([(2, 0, 1.0, t0)], "id long, grp int, amount double, ts timestamp")
    )
    assert mv.refresh() == 1
    assert {r.grp: r.n for r in mv.read().collect()} == {0: 2}


def test_mv_crash_between_log_and_fold_is_idempotent(spark, tmp_path):
    """ADVICE r1: a crash between the log append and the snapshot fold
    must not double-count on replay. Simulate by running stage 1 and
    crashing before _fold, then refreshing normally."""
    import datetime as dt

    t0 = dt.datetime(2025, 1, 1)
    catalog = Catalog(spark, tmp_path / "wh")
    fact = catalog.table("fact_c")
    mv = IncrementalAgg(
        catalog, "c_by_grp", "fact_c", ["grp"],
        [Measure("total", "amount", "sum"), Measure("n", "amount", "count")],
    )
    fact.overwrite(_facts(spark, 0, 50, t0))
    mv.refresh()
    fact.append(_facts(spark, 50, 30, t0))

    # stage 1 only: log append commits, the fold "crashes"
    orig_fold = mv._fold
    mv._fold = lambda: None
    mv.refresh()
    mv._fold = orig_fold

    mv.refresh()  # replay: log append skips (epoch), fold catches up
    got = {r.grp: (float(r.total), r.n) for r in mv.read().collect()}
    full = {
        r.grp: (float(r.total), r.n)
        for r in fact.read().groupBy("grp").agg(
            F.sum(F.col("amount").cast("decimal(28,2)")).alias("total"),
            F.count(F.lit(1)).alias("n"),
        ).collect()
    }
    assert got == full


def test_cascading_day_month_mv(spark, tmp_path):
    """Day → month cascade folds ONLY the day MV's delta log, and any
    batch slicing yields the bit-identical month MV (verdict r1 #8)."""
    import datetime as dt

    from end_to_end_azure_databricks_data_engineering_project_spark.streaming.mv import CascadeAgg

    def run(slices, tag):
        catalog = Catalog(spark, tmp_path / f"wh_{tag}")
        fact = catalog.table("fact_d")
        day = IncrementalAgg(
            catalog, "rev_day", "fact_d", ["day"],
            [Measure("total", "amount", "sum"), Measure("n", "amount", "count"),
             Measure("mx", "amount", "max")],
        )
        month = CascadeAgg(
            catalog, "rev_month", day, ["month"],
            derive=lambda df: df.withColumn("month", F.substring("day", 1, 7)),
        )
        t0 = dt.datetime(2025, 1, 1)
        for start, n in slices:
            rows = [
                (start + i,
                 (t0 + dt.timedelta(days=(start + i) % 90)).strftime("%Y-%m-%d"),
                 float((start + i) % 50) + 0.5)
                for i in range(n)
            ]
            batch = spark.createDataFrame(rows, "id long, day string, amount double")
            fact.append(batch) if fact.exists() else fact.overwrite(batch)
            day.refresh()
            month.refresh()
        return (
            {r.day: (float(r.total), r.n, r.mx) for r in day.read().collect()},
            {r.month: (float(r.total), r.n, r.mx) for r in month.read().collect()},
        )

    day_a, month_a = run([(0, 300)], "one")
    day_b, month_b = run([(0, 37), (37, 1), (38, 150), (188, 112)], "many")
    assert day_a == day_b
    assert month_a == month_b
    # month equals from-scratch recompute over the day MV
    recompute = {}
    for d, (tot, n, mx) in day_a.items():
        m = d[:7]
        if m in recompute:
            recompute[m] = (recompute[m][0] + tot, recompute[m][1] + n, max(recompute[m][2], mx))
        else:
            recompute[m] = (tot, n, mx)
    assert month_a == recompute


def test_mv_retracts_across_predicate_delete(spark, tmp_path):
    """Composition of r11 DML with the MV delta-fold: a delete_where on
    the source flows through the change feed as retractions — the MV
    stays incremental AND exact, including folding away a fully-deleted
    group."""
    t0 = dt.datetime(2025, 1, 1)
    catalog = Catalog(spark, tmp_path / "wh")
    fact = catalog.table("fact")
    fact.overwrite(_facts(spark, 0, 200, t0))
    mv = IncrementalAgg(
        catalog, "rev_by_grp", "fact", ["grp"],
        [Measure("total", "amount", "sum"), Measure("n", "amount", "count")],
    )
    assert mv.refresh() == 200
    # delete one group entirely plus a slice of another
    fact.delete_where("grp = 2")
    fact.delete_where("grp = 3 AND id < 50")
    mv.refresh()
    got = {r.grp: (float(r.total), r.n) for r in mv.read().collect()}
    full = {
        r.grp: (float(r.total), r.n)
        for r in fact.read().groupBy("grp").agg(
            F.sum(F.col("amount").cast("decimal(28,2)")).alias("total"),
            F.count(F.lit(1)).alias("n"),
        ).collect()
    }
    assert got == full
    assert 2 not in got  # fully-deleted group folded away
    # an update flows as retraction + re-insert
    fact.update_where("grp = 1 AND id < 10", {"amount": "amount + 1000.0"})
    mv.refresh()
    got = {r.grp: (float(r.total), r.n) for r in mv.read().collect()}
    full = {
        r.grp: (float(r.total), r.n)
        for r in fact.read().groupBy("grp").agg(
            F.sum(F.col("amount").cast("decimal(28,2)")).alias("total"),
            F.count(F.lit(1)).alias("n"),
        ).collect()
    }
    assert got == full
