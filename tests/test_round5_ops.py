"""Round-5 operator units: quality-priority near-dup dedup, degree-
oriented triangle counting, MAD outlier stats, co-occurrence lift."""

from __future__ import annotations


import pytest
from end_to_end_azure_databricks_data_engineering_project_spark.operators.dedup import (
    minhash_dedup_keep_best,
)
from end_to_end_azure_databricks_data_engineering_project_spark.operators.graph import triangle_count
from end_to_end_azure_databricks_data_engineering_project_spark.operators.text import (
    cooccurrence_lift,
)
from end_to_end_azure_databricks_data_engineering_project_spark.operators.transforms import (
    mad_outlier_stats,
)


# ------------------------------------------------------- triangle count --
def _tri(spark, edges):
    df = spark.createDataFrame(edges, ["id_a", "id_b"])
    return triangle_count(df).collect()[0]["n_triangles"]


def test_triangle_count_k4(spark):
    # complete graph on 4 nodes: C(4,3) = 4 triangles
    k4 = [(a, b) for a in range(4) for b in range(a + 1, 4)]
    assert _tri(spark, k4) == 4


def test_triangle_count_path_and_star(spark):
    assert _tri(spark, [(1, 2), (2, 3), (3, 4)]) == 0  # chain
    assert _tri(spark, [(0, i) for i in range(1, 8)]) == 0  # star hub


def test_triangle_count_direction_and_dupes_ignored(spark):
    # one triangle reported once despite reversed/duplicate input pairs
    e = [(1, 2), (2, 1), (2, 3), (1, 3), (3, 1)]
    assert _tri(spark, e) == 1


def test_triangle_count_two_shared_edge(spark):
    # two triangles sharing edge (1,2)
    e = [(1, 2), (1, 3), (2, 3), (1, 4), (2, 4)]
    assert _tri(spark, e) == 2


# ------------------------------------------------------ MAD outlier stats --
def test_mad_outlier_stats_basic(spark):
    rows = [("a", float(v)) for v in [1, 2, 3, 4, 100]] + [
        ("b", float(v)) for v in [10, 10, 10]
    ]
    df = spark.createDataFrame(rows, ["grp", "v"])
    out = {r["grp"]: r for r in mad_outlier_stats(df, "v", "grp").collect()}
    # group a: sorted [1,2,3,4,100], lower median rank (5+1)//2=3 → 3
    # deviations |x-3| sorted [0,1,1,2,97] → mad = 1; outlier ⇔ dev > 3
    a = out["a"]
    assert (a["n"], a["med"], a["mad"], a["n_outliers"]) == (5, 3.0, 1.0, 1)
    # group b: constant → mad 0, every dev == 0, no outliers
    b = out["b"]
    assert (b["med"], b["mad"], b["n_outliers"]) == (10.0, 0.0, 0)


def test_mad_outlier_stats_even_count_lower_median(spark):
    df = spark.createDataFrame(
        [("g", 1.0), ("g", 2.0), ("g", 3.0), ("g", 4.0)], ["grp", "v"]
    )
    r = mad_outlier_stats(df, "v", "grp").collect()[0]
    assert r["med"] == 2.0  # rank (4+1)//2 = 2 → lower median, no interpolation


# -------------------------------------------------- quality-priority dedup --
def test_dedup_keep_best_prefers_quality_not_min_id(spark):
    base = "alpha beta gamma delta epsilon zeta eta theta"
    docs = spark.createDataFrame(
        [
            (1, base + " one", 10),
            (2, base + " one", 99),  # same text, higher quality → survivor
            (7, "completely different text with no overlap at all", 5),
        ],
        ["doc_id", "text", "quality"],
    )
    kept = {
        r["doc_id"]
        for r in minhash_dedup_keep_best(
            docs, "quality", threshold=0.5, num_hashes=8, bands=4, shingle_n=3
        ).collect()
    }
    assert kept == {2, 7}


def test_dedup_keep_best_singletons_survive(spark):
    docs = spark.createDataFrame(
        [(i, f"unique document number {i} " + "x" * i, i) for i in range(1, 6)],
        ["doc_id", "text", "quality"],
    )
    out = minhash_dedup_keep_best(
        docs, "quality", threshold=0.9, num_hashes=8, bands=4, shingle_n=3
    )
    assert out.count() == 5
    assert set(out.columns) == {"doc_id", "text", "quality"}


# ---------------------------------------------------- co-occurrence lift --
def test_cooccurrence_lift_values(spark):
    # 4 docs; "a b" co-occur in 2 of 4 docs; df_a=3, df_b=3
    docs = spark.createDataFrame(
        [(1, "a b"), (2, "a b"), (3, "a c"), (4, "b c")],
        ["doc_id", "text"],
    )
    out = {
        (r["token_a"], r["token_b"]): r
        for r in cooccurrence_lift(docs, top_n=3, min_co=1).collect()
    }
    ab = out[("a", "b")]
    assert ab["n_co"] == 2
    assert ab["lift"] == 4.0 * 2 / (3 * 3)
    # independence baseline: lift < 1 here (co-occur less than random)
    assert ("a", "c") in out and out[("a", "c")]["n_co"] == 1


def test_cooccurrence_lift_top_n_prefilter(spark):
    # rare tokens outside top_n never pair
    docs = spark.createDataFrame(
        [(1, "x x common1 common2"), (2, "common1 common2"), (3, "common1 common2 rare")],
        ["doc_id", "text"],
    )
    out = cooccurrence_lift(docs, top_n=2, min_co=1)
    toks = {r["token_a"] for r in out.collect()} | {
        r["token_b"] for r in out.collect()
    }
    assert toks <= {"common1", "common2"}


# ------------------------------------------------------- pareto frontier --
def test_pareto_frontier_basic(spark):
    from end_to_end_azure_databricks_data_engineering_project_spark.operators.transforms import (
        pareto_frontier_2d,
    )

    rows = [
        (1, 10, 10),  # frontier
        (2, 10, 5),   # dominated by 1 (same x, lower y)
        (3, 5, 20),   # frontier
        (4, 5, 20),   # duplicate of 3 -> both kept
        (5, 4, 19),   # dominated by 3
        (6, 20, 1),   # frontier
    ]
    df = spark.createDataFrame(rows, ["id", "x", "y"])
    kept = {r["id"] for r in pareto_frontier_2d(df, "x", "y").collect()}
    assert kept == {1, 3, 4, 6}


def test_pareto_frontier_single_point_and_chain(spark):
    from end_to_end_azure_databricks_data_engineering_project_spark.operators.transforms import (
        pareto_frontier_2d,
    )

    df = spark.createDataFrame([(1, 1, 1)], ["id", "x", "y"])
    assert pareto_frontier_2d(df, "x", "y").count() == 1
    # strictly increasing anti-chain: everything on the frontier
    chain = spark.createDataFrame(
        [(i, i, 10 - i) for i in range(5)], ["id", "x", "y"]
    )
    assert pareto_frontier_2d(chain, "x", "y").count() == 5


# -------------------------------------------------------- table profile --
def test_table_profile_values(spark):
    from end_to_end_azure_databricks_data_engineering_project_spark.operators.transforms import (
        table_profile,
    )

    df = spark.createDataFrame(
        [(1, "a"), (2, None), (2, "c"), (None, "a")],
        ["k", "s"],
    )
    prof = {r["column_name"]: r for r in table_profile(df, ["k", "s"]).collect()}
    k = prof["k"]
    assert (k["n_nulls"], k["n_distinct"], k["min_value"], k["max_value"]) == (
        1, 2, "1", "2",
    )
    s = prof["s"]
    assert (s["n_nulls"], s["n_distinct"], s["min_value"], s["max_value"]) == (
        1, 2, "a", "c",
    )


def test_table_profile_runs_a_computed_upstream_once(spark):
    """A non-scan input is materialized once, not re-run per column: an
    upstream Python UDF sees each row exactly once."""
    from pyspark.sql import functions as F

    from end_to_end_azure_databricks_data_engineering_project_spark.operators.transforms import (
        table_profile,
    )

    calls = spark.sparkContext.accumulator(0)

    @F.udf("boolean")
    def keep(i):
        calls.add(1)
        return i % 5 != 0

    n = 40
    df = (
        spark.range(n)
        .filter(keep("id"))
        .select(F.col("id").alias("a"), (F.col("id") % 3).alias("b"),
                F.when(F.col("id") % 4 == 0, None).otherwise(F.col("id")).alias("c"))
    )
    prof = {r["column_name"]: r for r in table_profile(df, ["a", "b", "c"]).collect()}
    assert calls.value == n
    ids = [i for i in range(n) if i % 5]
    c_vals = [i for i in ids if i % 4]
    assert tuple(prof["a"][k] for k in ("n_nulls", "n_distinct", "min_value", "max_value")) == (
        0, len(ids), str(min(ids)), str(max(ids)))
    assert (prof["b"]["n_distinct"], prof["b"]["min_value"], prof["b"]["max_value"]) == (3, "0", "2")
    assert tuple(prof["c"][k] for k in ("n_nulls", "n_distinct", "min_value", "max_value")) == (
        len(ids) - len(c_vals), len(c_vals), str(min(c_vals)), str(max(c_vals)))


def test_table_profile_checkpoints_only_non_scan_inputs(spark, tmp_path):
    from end_to_end_azure_databricks_data_engineering_project_spark.operators.transforms import (
        _is_columnar_file_scan,
    )

    path = str(tmp_path / "p")
    spark.range(10).selectExpr("id", "id * 2 AS y").write.parquet(path)
    scan = spark.read.parquet(path)
    assert _is_columnar_file_scan(scan)
    assert _is_columnar_file_scan(scan.filter("id > 2").select("y"))
    assert not _is_columnar_file_scan(scan.join(scan.select("id"), "id"))
    assert not _is_columnar_file_scan(scan.groupBy("y").count())
    assert not _is_columnar_file_scan(spark.range(3))


# ----------------------------------------------------------- CMS sketch --
def test_cms_overestimates_never_under(spark):
    from end_to_end_azure_databricks_data_engineering_project_spark.operators.sketches import (
        cms_build,
        cms_estimate,
    )
    from pyspark.sql import functions as F

    rows = [(w,) for w, n in [("a", 50), ("b", 20), ("c", 1)] for _ in range(n)]
    df = spark.createDataFrame(rows, ["token"])
    exact = df.groupBy("token").agg(F.count(F.lit(1)).alias("exact_n"))
    sk = cms_build(df, "token", depth=4, width=64)
    est = cms_estimate(sk, exact, "token", depth=4, width=64)
    for r in est.collect():
        assert r["est_n"] >= r["exact_n"]  # one-sided error
    # wide sketch, 3 keys -> no collisions, exact recovery
    sk2 = cms_build(df, "token", depth=4, width=4096)
    for r in cms_estimate(sk2, exact, "token", depth=4, width=4096).collect():
        assert r["est_n"] == r["exact_n"]


def test_cms_sketch_size_bounded(spark):
    from end_to_end_azure_databricks_data_engineering_project_spark.operators.sketches import (
        cms_build,
    )

    df = spark.createDataFrame([(f"tok{i}",) for i in range(500)], ["token"])
    sk = cms_build(df, "token", depth=4, width=16)
    assert sk.count() <= 4 * 16
    # every cell's count is the sum of its colliding keys
    total = sum(r["cnt"] for r in sk.collect())
    assert total == 500 * 4


# ------------------------------------------------- property-based checks --
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

edges_st = st.lists(
    st.tuples(st.integers(0, 12), st.integers(0, 12)),
    min_size=0, max_size=40,
)


@settings(max_examples=20, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(edges=edges_st)
@pytest.mark.slow
def test_triangle_count_matches_bruteforce(spark, edges):
    es = {(min(a, b), max(a, b)) for a, b in edges if a != b}
    expected = 0
    nodes = sorted({n for e in es for n in e})
    for i, x in enumerate(nodes):
        for y in nodes[i + 1:]:
            for z in nodes[nodes.index(y) + 1:]:
                if (x, y) in es and (y, z) in es and (x, z) in es:
                    expected += 1
    if not es:
        return  # createDataFrame can't infer an empty list's schema
    assert _tri(spark, sorted(es)) == expected


points_st = st.lists(
    st.tuples(st.integers(0, 8), st.integers(0, 8)),
    min_size=1, max_size=25,
)


@settings(max_examples=20, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(points=points_st)
@pytest.mark.slow
def test_pareto_frontier_matches_dominance_definition(spark, points):
    from end_to_end_azure_databricks_data_engineering_project_spark.operators.transforms import (
        pareto_frontier_2d,
    )

    rows = [(i, x, y) for i, (x, y) in enumerate(points)]
    expected = {
        i
        for i, x, y in rows
        if not any(
            qx >= x and qy >= y and (qx > x or qy > y) for _, qx, qy in rows
        )
    }
    df = spark.createDataFrame(rows, ["id", "x", "y"])
    got = {r["id"] for r in pareto_frontier_2d(df, "x", "y").collect()}
    assert got == expected


# ------------------------------------------------------ empty-input paths --
def test_new_ops_handle_empty_input(spark):
    from pyspark.sql import functions as F
    from pyspark.sql.types import (
        DoubleType, LongType, StringType, StructField, StructType,
    )
    from end_to_end_azure_databricks_data_engineering_project_spark.operators.sketches import (
        cms_build,
    )
    from end_to_end_azure_databricks_data_engineering_project_spark.operators.text import (
        cooccurrence_lift,
    )
    from end_to_end_azure_databricks_data_engineering_project_spark.operators.transforms import (
        mad_outlier_stats,
        pareto_frontier_2d,
        table_profile,
    )

    empty_docs = spark.createDataFrame(
        [], StructType([StructField("doc_id", LongType()),
                        StructField("text", StringType())])
    )
    empty_vals = spark.createDataFrame(
        [], StructType([StructField("grp", StringType()),
                        StructField("v", DoubleType())])
    )
    assert cooccurrence_lift(empty_docs).count() == 0
    assert cms_build(empty_docs.select(F.col("text").alias("token")), "token").count() == 0
    assert mad_outlier_stats(empty_vals, "v", "grp").count() == 0
    assert pareto_frontier_2d(
        empty_vals.select(F.col("v").alias("x"), F.col("v").alias("y")), "x", "y"
    ).count() == 0
    prof = table_profile(empty_vals, ["grp", "v"]).collect()
    assert {r["column_name"] for r in prof} == {"grp", "v"}
    assert all(r["n_nulls"] == 0 and r["n_distinct"] == 0 for r in prof)


def test_cms_merge_equals_union_build(spark):
    from pyspark.sql import functions as F
    from end_to_end_azure_databricks_data_engineering_project_spark.operators.sketches import (
        cms_build,
        cms_merge,
    )

    a = spark.createDataFrame([(f"t{i % 7}",) for i in range(40)], ["token"])
    b = spark.createDataFrame([(f"t{i % 11}",) for i in range(60)], ["token"])
    merged = {
        (r["d"], r["b"]): r["cnt"]
        for r in cms_merge(
            cms_build(a, "token", 4, 64), cms_build(b, "token", 4, 64)
        ).collect()
    }
    union = {
        (r["d"], r["b"]): r["cnt"]
        for r in cms_build(a.unionByName(b), "token", 4, 64).collect()
    }
    assert merged == union  # linear sketch: merge == build-on-union


def test_regression_matches_numpy(spark):
    import numpy as np
    from end_to_end_azure_databricks_data_engineering_project_spark.plans.queries import CATALOG

    out = {
        r["o_orderpriority"]: r
        for r in CATALOG["regression_per_group"]
        .spark(spark, "/root/testdata/sf0.001")
        .collect()
    }
    import duckdb

    con = duckdb.connect()
    rows = con.execute(
        "SELECT o_orderpriority, CAST(CAST(o_orderdate AS DATE) - DATE '1992-01-01' AS BIGINT),"
        " CAST(o_totalprice AS DOUBLE)"
        " FROM read_parquet('/root/testdata/sf0.001/orders.parquet')"
    ).fetchall()
    by_g: dict = {}
    for g, x, y in rows:
        by_g.setdefault(g, []).append((x, y))
    for g, pts in by_g.items():
        xs = np.array([p[0] for p in pts], dtype=float)
        ys = np.array([p[1] for p in pts], dtype=float)
        slope, intercept = np.polyfit(xs, ys, 1)
        r = np.corrcoef(xs, ys)[0, 1]
        got = out[g]
        assert abs(got["slope"] - slope) < 1e-6 * max(1, abs(slope))
        assert abs(got["intercept"] - intercept) < 1e-6 * max(1, abs(intercept))
        assert abs(got["r"] - r) < 1e-9
        assert got["n"] == len(pts)
