"""Metadata-driven incremental (high-watermark) ingestion → bronze parquet.

Re-expresses the reference's ADF ``incremental_loop`` pipeline
(``Azure ADF/adf/pipeline/incremental_loop.json``): per table —
lookup watermark → pull rows with ``cdc_col > watermark`` → land one
snappy-parquet folder per run under ``bronze/{table}/`` → if rows moved,
refresh the watermark to the batch MAX; if not, write nothing
(≙ the delete-empty-file branch, ``incremental_loop.json:167-203``).

Spark-first design notes:
 - The watermark predicate is a DataFrame ``filter``; Catalyst pushes it
   into the parquet scan (row-group stats skip old files) — the same
   effect as ADF string-building the WHERE into the source SQL
   (``incremental_loop.json:45``). For a JDBC source the predicate is
   pushed via ``.option("query", ...)`` just like ADF.
 - MAX(cdc) is computed on the *pulled batch*, not by a second source
   scan (ADF re-queries the source, ``incremental_loop.json:206-233``);
   one pass instead of two, and immune to source rows arriving between
   the copy and the max.
 - Types are coerced to the declared schema on the way in
   (≙ TabularTranslator typeConversion, ``incremental_loop.json:61-68``).
"""

from __future__ import annotations

import datetime as _dt
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass
from pathlib import Path

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from end_to_end_azure_databricks_data_engineering_project_spark.config import TableConfig
from end_to_end_azure_databricks_data_engineering_project_spark.session import inherit_spark_locals
from end_to_end_azure_databricks_data_engineering_project_spark.sources.watermark import EPOCH, WatermarkStore


@dataclass
class IngestResult:
    table: str
    rows: int
    watermark_before: str
    watermark_after: str
    landed_path: str | None


def coerce_schema(df: DataFrame, cfg: TableConfig) -> DataFrame:
    """Cast incoming columns to the declared schema, preserving any extra
    columns (they flow on to the rescue logic in autoload)."""
    declared = {f.name: f.dataType for f in cfg.spark_schema.fields}
    cols = [
        F.col(c).cast(declared[c]).alias(c) if c in declared else F.col(c)
        for c in df.columns
    ]
    return df.select(*cols)


def ingest_table(
    spark: SparkSession,
    cfg: TableConfig,
    source_df: DataFrame,
    bronze_root: str,
    store: WatermarkStore,
    run_ts: str | None = None,
    partition_by_cdc_date: bool = False,
) -> IngestResult:
    """One incremental pull for one table (≙ one ForEach iteration).

    ``partition_by_cdc_date=True`` lays bronze out as
    ``{table}/run={ts}/cdc_date=YYYY-MM-DD/`` — at 100 TB, downstream
    readers filtering on the CDC column then get static partition
    pruning on top of row-group skipping."""
    wm = store.effective_watermark(cfg.table, cfg.from_date)
    cdc_type = cfg.spark_schema[cfg.cdc_col].dataType
    wm_lit = F.lit(wm).cast(cdc_type)
    batch = coerce_schema(source_df, cfg)
    if wm == EPOCH and not isinstance(
        cdc_type, (T.TimestampType, T.TimestampNTZType, T.DateType)
    ):
        # Numeric/string CDC column with the timestamp-shaped EPOCH
        # sentinel: the cast yields NULL (or throws under ANSI), so
        # `cdc > NULL` would SILENTLY drop every row, never advance the
        # watermark, and leave the table stuck at 0 rows forever. A
        # fresh numeric-watermark table means full load: no filter.
        pass
    else:
        batch = batch.filter(F.col(cfg.cdc_col) > wm_lit)
    # Row count + new max watermark ride the write action as observed
    # metrics: the source is scanned exactly ONCE per pull (a separate
    # agg-then-write would scan twice). The empty-pull branch becomes
    # write → see 0 rows → remove the landed dir, which is literally the
    # reference's delete-empty-file behavior (readme.md:35).
    obs = Observation()
    batch = batch.observe(
        obs, F.count(F.lit(1)).alias("n"), F.max(cfg.cdc_col).alias("mx")
    )
    run_ts = run_ts or _dt.datetime.now(_dt.timezone.utc).strftime("%Y%m%dT%H%M%S%f")
    out = str(Path(bronze_root) / cfg.table / f"run={run_ts}")
    if partition_by_cdc_date:
        batch = batch.withColumn("cdc_date", F.to_date(F.col(cfg.cdc_col)))
    writer = batch.write.mode("overwrite").option("compression", "snappy")
    if partition_by_cdc_date:
        writer = writer.partitionBy("cdc_date")
    writer.parquet(out)
    n, mx = obs.get["n"], obs.get["mx"]
    if n == 0:
        # ≙ IfCondition false branch (delete-empty-file,
        # incremental_loop.json:167-203): no watermark move, no bronze dir.
        import shutil

        shutil.rmtree(out, ignore_errors=True)
        return IngestResult(cfg.table, 0, wm, wm, None)
    if isinstance(mx, _dt.datetime):
        new_wm = mx.isoformat(sep=" ")
    elif isinstance(mx, _dt.date):
        new_wm = mx.isoformat()
    else:
        new_wm = str(mx)
    store.write(cfg.table, new_wm)
    return IngestResult(cfg.table, n, wm, new_wm, out)


def ingest_all(
    spark: SparkSession,
    configs: list[TableConfig],
    sources: dict[str, DataFrame],
    bronze_root: str,
    store: WatermarkStore,
) -> list[IngestResult]:
    """≙ the ForEach loop over loop_input.json records, with ADF
    ForEach's parallel fan-out: every table's pull runs on its own
    driver thread and Spark shares the cores among their jobs — safe
    because each table touches disjoint bronze paths and watermark
    docs. Results come back in ``configs`` order; a failed pull
    re-raises (the first in ``configs`` order) once every pull ended."""
    todo = [cfg for cfg in configs if cfg.table in sources]
    with ThreadPoolExecutor(max_workers=max(len(todo), 1)) as pool:
        futs = [
            pool.submit(
                inherit_spark_locals(ingest_table),
                spark, cfg, sources[cfg.table], bronze_root, store,
            )
            for cfg in todo
        ]
        return [f.result() for f in futs]
