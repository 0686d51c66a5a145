"""Round-13 ADVICE + verdict-hardening regression tests (r14).

1. SRP ``_bucket_from`` type promotion: >=32 planes must accumulate in
   bigint (the literal chain auto-promoted there; the r13 array<int>
   cast would ANSI-overflow), <=31 planes keep the int schema, and
   >62 planes fail loudly at build time.
2. ``_srp_banded`` rejects a RAGGED table set (zip_with would silently
   null-pad the shorter tables' sign bits to 0).
3. ``arrow_cosine_scores`` raises on NULL ELEMENTS inside an embedding
   array (top-level null_count misses them; they would become NaN).
4. The connected-components fixpoint guard's bounded read of the
   observation (``dedup._observed``) actually distinguishes an executed
   observation from a never-executed one — the property the deadlock
   guard in ``connected_components`` relies on.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from end_to_end_azure_databricks_data_engineering_project_spark.operators.similarity import (
    _bucket_from,
    _seeded_hyperplanes,
    _srp_banded,
    _with_tables,
    arrow_cosine_scores,
    srp_bucket,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet")


# ------------------------------------------------- 1. bucket promotion
def test_bucket_from_32_planes_matches_literal_and_is_bigint(spark, emb):
    """32 sign bits exceed int32: the broadcast fold must promote to
    bigint AND stay bit-identical to the literal srp_bucket chain."""
    planes = _seeded_hyperplanes(64, 32, seed="srp-wide")
    sub = emb.limit(20)
    j = _with_tables(sub, [planes])
    got = j.select(
        "vec_id",
        _bucket_from(
            F.col("embedding"), F.element_at(F.col("__srp_tables"), 1), 32
        ).alias("bucket"),
    )
    assert dict(got.dtypes)["bucket"] == "bigint"
    want = sub.select(
        "vec_id", srp_bucket(F.col("embedding"), planes).alias("bucket")
    )
    assert {(r.vec_id, r.bucket) for r in got.collect()} == {
        (r.vec_id, r.bucket) for r in want.collect()
    }
    # at least one bucket must exercise bits >= 2^31 to prove the wide path
    assert any(abs(r.bucket) >= (1 << 31) for r in got.collect())


def test_bucket_from_narrow_planes_keep_int_schema(spark, emb):
    j = _with_tables(emb.limit(5), [_seeded_hyperplanes(64, 4)])
    got = j.select(
        _bucket_from(
            F.col("embedding"), F.element_at(F.col("__srp_tables"), 1), 4
        ).alias("bucket")
    )
    assert dict(got.dtypes)["bucket"] == "int"


def test_bucket_from_rejects_over_62_planes():
    with pytest.raises(ValueError, match="n_planes <= 62"):
        _bucket_from(F.col("v"), F.col("t"), 63)


# ------------------------------------------------- 2. ragged table set
def test_srp_banded_rejects_ragged_tables(emb):
    tables = [
        _seeded_hyperplanes(64, 4, seed="a"),
        _seeded_hyperplanes(64, 3, seed="b"),
    ]
    with pytest.raises(ValueError, match="same plane count"):
        _srp_banded(emb, tables, "vec_id", "embedding", "vid")


# ------------------------------------------------- 3. inner-NULL vectors
def test_arrow_cosine_raises_on_inner_null_element(spark):
    pairs = spark.createDataFrame(
        [(1, 2, [1.0, None, 3.0], 1.0, [1.0, 2.0, 3.0], 1.0)],
        "id_a int, id_b int, va array<double>, na double, "
        "vb array<double>, nb double",
    )
    with pytest.raises(Exception, match="NULL element inside"):
        arrow_cosine_scores(pairs).collect()


# ------------------------------------------------- 4. observation probe
def test_observation_probe_detects_unexecuted(spark):
    """The CC deadlock guard reads the observation with a bounded wait:
    an observation whose plan never ran must read as NOT populated once
    the wait runs out, and a populated one must return its metrics. If
    this test fails after a Spark upgrade, revisit the guard in
    connected_components."""
    from pyspark.sql import Observation

    from end_to_end_azure_databricks_data_engineering_project_spark.operators.dedup import (
        _observed,
    )

    obs = Observation()
    df = spark.range(10).observe(obs, F.count(F.lit(1)).alias("n"))
    assert _observed(obs, timeout_s=1.0) is None  # never executed
    # running the plan also releases the reader the probe left waiting
    df.write.mode("overwrite").format("noop").save()
    assert _observed(obs)["n"] == 10
    assert obs.get["n"] == 10
