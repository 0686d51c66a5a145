"""Source connectors (≙ ADF source surface + Spark-native formats).

The reference pulls from Azure SQL via a string-built watermark query
(``incremental_loop.json:42-50``) and lands parquet; its silver layer
reads parquet folders; watermark state is JSON. Equivalents here:

 - parquet/json/csv: direct ``spark.read`` with declared schemas
   (never inferSchema in production paths);
 - parquet without a declared schema (the query catalog's input
   tables): ``read_parquet`` memoizes the inferred ``StructType``.
   Inference runs one Spark job per read; a repeat read of unchanged
   files instead passes the remembered schema to ``spark.read.schema``,
   which yields the relation inference would, with no job. The memo
   holds one schema per (resolved local path, session values of the
   confs that change parquet inference: ``_INFERENCE_CONFS``) and is
   valid only while the name, inode, ``st_mtime_ns`` and size of every
   file under the path are unchanged; anything else infers again.
   Non-local or glob paths always infer. Concurrent first reads may
   both infer (no lock; the results are equal);
 - jdbc: pushdown-query reader — the watermark predicate is embedded in
   the pushed SQL exactly like ADF's ``sqlReaderQuery`` (the whole
   filter runs source-side);
 - every reader coerces to the declared schema (≙ TabularTranslator
   typeConversion, ``incremental_loop.json:61-68``).

JDBC needs a driver jar on the classpath; absent one, ``read_jdbc``
raises a clear error (import-try-style gating — no Azure dependency).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from end_to_end_azure_databricks_data_engineering_project_spark.operators.transforms import cast_to_schema

#: session confs whose values change the schema parquet inference yields
_INFERENCE_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema",
)

# (resolved path, conf values) -> (file fingerprint, inferred schema)
_SCHEMAS: dict[tuple, tuple[tuple, T.StructType]] = {}


def _local_files(path: str) -> tuple[str, tuple] | None:
    """(resolved path, (name, inode, mtime_ns, size) of every file under
    it), or None for a URI, a glob or a missing path."""
    if any(ch in path for ch in ":*?[{"):
        return None
    root = os.path.realpath(path)
    names = [root]
    if os.path.isdir(root):
        names = sorted(os.path.join(d, n) for d, _, ns in os.walk(root) for n in ns)
    try:
        stats = [os.stat(n) for n in names]
    except OSError:  # missing or racing a rewrite: let Spark read (or fail)
        return None
    return root, tuple((n, st.st_ino, st.st_mtime_ns, st.st_size)
                       for n, st in zip(names, stats))


def read_parquet(
    spark: SparkSession, path: str, schema: T.StructType | None = None
) -> DataFrame:
    """Parquet at ``path``; the inferred schema is memoized (see the
    module docstring), and cast to ``schema`` when one is declared."""
    local = _local_files(path)
    if local is None:
        df = spark.read.parquet(path)
    else:
        root, files = local
        key = (root, tuple(spark.conf.get(k) for k in _INFERENCE_CONFS))
        hit = _SCHEMAS.get(key)
        if hit is not None and hit[0] == files:
            df = spark.read.schema(hit[1]).parquet(path)
        else:
            df = spark.read.parquet(path)
            _SCHEMAS[key] = (files, df.schema)
    return cast_to_schema(df, schema) if schema else df


def read_json(
    spark: SparkSession, path: str, schema: T.StructType | None = None
) -> DataFrame:
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.json(path)


def read_csv(
    spark: SparkSession, path: str, schema: T.StructType | None = None, header: bool = True
) -> DataFrame:
    reader = spark.read.option("header", str(header).lower())
    if schema is not None:
        reader = reader.schema(schema)
    else:
        reader = reader.option("inferSchema", "false")  # strings; cast downstream
    return reader.csv(path)


def watermark_query(schema_name: str, table: str, cdc_col: str, watermark: str) -> str:
    """The exact incremental pull the reference string-builds
    (``incremental_loop.json:45``): full projection + watermark predicate,
    evaluated source-side."""
    return f"SELECT * FROM {schema_name}.{table} WHERE {cdc_col} > '{watermark}'"


def read_jdbc(
    spark: SparkSession,
    url: str,
    query: str | None,
    driver: str | None = None,
    partition_options: dict[str, str] | None = None,
) -> DataFrame:
    """JDBC pushdown-query scan (≙ AzureSqlSource.sqlReaderQuery).

    ``partition_options`` (partitionColumn/lowerBound/upperBound/
    numPartitions) enable parallel range-partitioned pulls — the scale
    path for large source tables (ADF does the analogous parallel copy).
    Spark disallows ``partitionColumn`` with ``query``; for the ranged
    path pass ``query=None`` and a ``dbtable`` in ``partition_options``.
    """
    opts = partition_options or {}
    # fail fast with a clear message instead of Spark's opaque JDBC
    # option-conflict error (r7 advisor): exactly one of query /
    # partition_options['dbtable'] must name the relation, and
    # partitionColumn is only legal on the dbtable path.
    if query is not None and "partitionColumn" in opts:
        raise ValueError(
            "read_jdbc: Spark disallows partitionColumn with a pushed "
            "query — pass query=None and a dbtable in partition_options "
            "for the range-partitioned path"
        )
    if query is None and "dbtable" not in opts:
        raise ValueError(
            "read_jdbc: query=None requires partition_options['dbtable'] "
            "to name the source relation"
        )
    if query is not None and "dbtable" in opts:
        raise ValueError(
            "read_jdbc: query and partition_options['dbtable'] are "
            "mutually exclusive — pass exactly one"
        )
    reader = spark.read.format("jdbc").option("url", url)
    if query is not None:
        reader = reader.option("query", query)
    if driver:
        reader = reader.option("driver", driver)
    for k, v in (partition_options or {}).items():
        reader = reader.option(k, v)
    try:
        return reader.load()
    except Exception as e:  # pragma: no cover - no jdbc driver in image
        raise RuntimeError(
            "JDBC load failed — a JDBC driver jar must be on the Spark "
            "classpath (spark.jars). Original error: " + str(e)[:200]
        ) from e
