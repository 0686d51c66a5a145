"""Reusable cleansing transforms (the silver layer's operator kit).

Re-expresses the reference's shared transformation class
(``Databrick/spotify_dab/src/utils/transformations.py:1-5`` —
``reuseable.dropcolumn``) and the inline silver cleanses
(``silver_Dimensions.py:41,50,151-154``) as pure DataFrame→DataFrame
functions. Everything stays inside Catalyst/WholeStageCodegen — no
Python row loops.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def drop_columns(df: DataFrame, columns: Sequence[str]) -> DataFrame:
    """≙ reuseable.dropcolumn (utils/transformations.py:1-5)."""
    return df.drop(*columns)


def normalize_case(df: DataFrame, column: str, *, trim: bool = True) -> DataFrame:
    """Uppercase (and trim) a string column
    (≙ silver_Dimensions.py:41 upper(user_name); readme.md:91 adds trim)."""
    expr = F.upper(F.trim(F.col(column))) if trim else F.upper(F.col(column))
    return df.withColumn(column, expr)


def regexp_clean(df: DataFrame, column: str, pattern: str, replacement: str) -> DataFrame:
    """≙ silver_Dimensions.py:154 regexp_replace(track_name, '-', ' ')."""
    return df.withColumn(column, F.regexp_replace(F.col(column), pattern, replacement))


def bucketize(
    df: DataFrame,
    source: str,
    target: str,
    edges: Sequence[float],
    labels: Sequence[str],
) -> DataFrame:
    """Conditional bucketing: len(labels) == len(edges) + 1
    (≙ silver_Dimensions.py:151-153 duration_flag low/medium/high).

    Expressed as a chained when/otherwise — one codegen'd CASE WHEN."""
    if len(labels) != len(edges) + 1:
        raise ValueError("need len(labels) == len(edges) + 1")
    col = F.col(source)
    expr: Column | None = None
    for edge, label in zip(edges, labels[:-1]):
        cond = col < F.lit(edge)
        expr = F.when(cond, label) if expr is None else expr.when(cond, label)
    assert expr is not None
    return df.withColumn(target, expr.otherwise(labels[-1]))


def dedup_keep_latest(
    df: DataFrame, keys: Sequence[str], sequence_col: str, *tiebreakers: str
) -> DataFrame:
    """One row per business key, keeping the highest ``sequence_col``.

    The reference uses ``dropDuplicates([key])`` (silver_Dimensions.py:50,86)
    whose survivor is arbitrary; we make it deterministic — latest by
    sequence, ties broken by extra columns then by a stable all-column
    tiebreak — so results are reproducible and oracle-checkable.
    Physically: one hash shuffle on the keys, then a per-partition sort
    (no global sort); skew-safe under AQE."""
    order = [F.col(sequence_col).desc()] + [F.col(c).desc() for c in tiebreakers]
    w = Window.partitionBy(*[F.col(k) for k in keys]).orderBy(*order)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def dedup_exact(df: DataFrame, subset: Sequence[str] | None = None) -> DataFrame:
    """Exact duplicate removal (hash group-by under the hood)."""
    return df.dropDuplicates(list(subset) if subset else None)


def cast_to_schema(df: DataFrame, schema) -> DataFrame:
    """Coerce to a declared StructType (≙ ADF TabularTranslator
    typeConversion, incremental_loop.json:61-68)."""
    return df.select(
        *[F.col(f.name).cast(f.dataType).alias(f.name) for f in schema.fields]
    )


def mad_outlier_stats(
    df: DataFrame, value_col: str, group_col: str, k: float = 3.0
) -> DataFrame:
    """Per-group robust outlier report via median absolute deviation:
    columns ``(group_col, n, med, mad, n_outliers)`` with
    outlier ⇔ |x − med| > k·mad.

    Medians are DISCRETE lower medians (the value at sorted rank
    ⌊(n+1)/2⌋, selected by row_number — no interpolation), so the stat
    is an actual data value and bit-identical across engines. Two
    window passes (value rank, then deviation rank) partitioned by the
    group key + one broadcast-sized per-group median join — groups are
    enum-like (event types, priorities), so the per-group sort is the
    skew concern; for a dominant group, pre-aggregate to (group, value,
    count) first or fall back to approx_percentile.
    """
    v = df.select(F.col(group_col).alias("_g"), F.col(value_col).alias("_v"))
    wg = Window.partitionBy("_g")

    def _lower_median(d: DataFrame, col: str, out: str) -> DataFrame:
        ranked = d.withColumn(
            "_rn", F.row_number().over(wg.orderBy(col))
        ).withColumn("_n", F.count(F.lit(1)).over(wg))
        return (
            ranked.filter(F.col("_rn") == F.expr("(_n + 1) div 2"))
            .select("_g", F.col(col).alias(out))
        )

    med = _lower_median(v, "_v", "med")
    dev = v.join(F.broadcast(med), "_g").withColumn("dev", F.abs(F.col("_v") - F.col("med")))
    mad = _lower_median(dev.select("_g", F.col("dev").alias("_v")), "_v", "mad")
    return (
        dev.join(F.broadcast(mad), "_g")
        .groupBy("_g")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("med").alias("med"),
            F.min("mad").alias("mad"),
            F.sum(
                F.when(F.col("dev") > F.lit(k) * F.col("mad"), 1).otherwise(0)
            ).alias("n_outliers"),
        )
        .withColumnRenamed("_g", group_col)
    )


def pareto_frontier_2d(df: DataFrame, x_col: str, y_col: str) -> DataFrame:
    """Rows on the 2-D Pareto frontier MAXIMIZING (x, y): no other row
    is ≥ in both dimensions and > in at least one. The multi-criteria
    selection primitive (e.g. docs maximizing quality AND recency)
    without the naive O(n²) dominance join.

    Shape: groupBy x → per-x max y (one shuffle), then a running max
    over the DISTINCT-x relation ordered x desc (global window over the
    already-aggregated relation — |distinct x| rows, not |df|), then an
    equi-join back on x. A row survives iff y equals its x-group max
    AND beats every y at strictly larger x. Duplicate (x, y) rows all
    survive (neither strictly dominates the other), matching the
    NOT EXISTS dominance definition the oracle uses."""
    gmax = df.groupBy(F.col(x_col).alias("_x")).agg(F.max(y_col).alias("_gmax"))
    w = Window.orderBy(F.col("_x").desc()).rowsBetween(
        Window.unboundedPreceding, -1
    )
    frontier_x = (
        gmax.withColumn("_prev", F.max("_gmax").over(w))
        .filter(F.col("_prev").isNull() | (F.col("_gmax") > F.col("_prev")))
        .select("_x", "_gmax")
    )
    return (
        df.join(frontier_x, df[x_col] == F.col("_x"))
        .filter(F.col(y_col) == F.col("_gmax"))
        .drop("_x", "_gmax")
    )


def _is_columnar_file_scan(df: DataFrame) -> bool:
    """True when ``df``'s optimized plan is only projections and filters
    over one parquet/ORC file relation, so a one-column branch of it
    reads just that column."""
    plan = df._jdf.queryExecution().optimizedPlan()
    while plan.nodeName() in ("Project", "Filter"):
        plan = plan.children().head()
    if plan.getClass().getSimpleName() != "LogicalRelation":
        return False
    rel = plan.relation()
    return (rel.getClass().getSimpleName() == "HadoopFsRelation"
            and rel.fileFormat().shortName() in ("parquet", "orc"))


def table_profile(df: DataFrame, cols: Sequence[str]) -> DataFrame:
    """Single-scan column profile: one row per column with null count,
    distinct count, and min/max (cast to string AFTER aggregating, so
    numeric ordering is preserved). The data-quality primer run before
    ingesting an unknown feed.

    Physical shape (r14, guide §2.3 — the approx_analytics split
    pattern): one two-phase aggregation PER COLUMN, unioned. The old
    single agg let Catalyst plan |cols| count-distincts as ONE Expand —
    a ×(|cols|+1) row multiplication of the scan through the first
    hash aggregate, which at 100 TB multiplies the whole table through
    the exchange. Per column instead: group by the column's values
    (map-side partial agg → the shuffle carries only distinct values of
    THAT column), then a 1-row rollup derives nulls/distinct/min/max.
    Each branch's scan is pruned to its single column, so total bytes
    read stay one table pass; no Expand anywhere. Any other input (a
    join, an aggregate, a UDF, in-memory or row-format data) would
    re-run its whole upstream once per branch, so the profiled columns
    are materialized once with an eager ``localCheckpoint`` first.
    Results are bit-identical (counts and min/max are
    order-independent)."""
    if len(cols) > 1 and not _is_columnar_file_scan(df):
        df = df.select(*cols).localCheckpoint(eager=True)
    parts = []
    for c in cols:
        per_val = (
            df.select(F.col(c).alias("_v"))
            .groupBy("_v")
            .agg(F.count(F.lit(1)).alias("_n"))
        )
        parts.append(
            per_val.agg(
                F.coalesce(
                    F.sum(F.when(F.col("_v").isNull(), F.col("_n")).otherwise(0)),
                    F.lit(0),
                )
                .cast("bigint")
                .alias("n_nulls"),
                F.count(F.when(F.col("_v").isNotNull(), F.lit(1))).alias(
                    "n_distinct"
                ),
                F.min("_v").cast("string").alias("min_value"),
                F.max("_v").cast("string").alias("max_value"),
            ).select(
                F.lit(c).alias("column_name"),
                "n_nulls", "n_distinct", "min_value", "max_value",
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out
