"""Connected-components dedup: transitive closure over near-dup pairs.

The reference pipeline has no near-dup operator (its dedup surface is
key-level — silver_Transactions.py dropDuplicates); CC dedup is part of
the LLM-training-data extension set. The planted-chain test is the
acceptance criterion from round 1: A~B and B~C with A≁C must leave
exactly ONE survivor, which greedy pair-suppression cannot guarantee.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from end_to_end_azure_databricks_data_engineering_project_spark.operators.dedup import (
    connected_components,
    exact_containment_join,
    exact_jaccard_join,
    minhash_band_index,
    minhash_components,
    minhash_dedup,
    minhash_near_dup_pairs,
    minhash_signature_df,
    shingle_relation,
)


def _comp_map(df):
    return {r.node: r.component for r in df.collect()}


def test_cc_chain_collapses_to_min(spark):
    pairs = spark.createDataFrame(
        [(2, 1), (3, 2), (4, 3), (5, 4)], ["id_a", "id_b"]
    )
    assert _comp_map(connected_components(pairs)) == {
        1: 1, 2: 1, 3: 1, 4: 1, 5: 1
    }


def test_cc_multiple_components_and_orientation(spark):
    # mixed edge orientation, duplicate edges, self-loop
    pairs = spark.createDataFrame(
        [(1, 2), (2, 1), (3, 3), (10, 11), (12, 11), (20, 21)],
        ["id_a", "id_b"],
    )
    got = _comp_map(connected_components(pairs))
    assert got == {1: 1, 2: 1, 10: 10, 11: 10, 12: 10, 20: 20, 21: 20}
    # self-loop-only node 3 has no real pair → no row
    assert 3 not in got


def test_cc_star_and_long_chain_converge(spark):
    star = [(100, i) for i in range(90, 100)]
    chain = [(i, i + 1) for i in range(200, 230)]
    pairs = spark.createDataFrame(star + chain, ["id_a", "id_b"])
    got = _comp_map(connected_components(pairs))
    assert all(got[i] == 90 for i in range(90, 101))
    assert all(got[i] == 200 for i in range(200, 231))


def test_cc_empty_pairs(spark):
    pairs = spark.createDataFrame([], "id_a bigint, id_b bigint")
    assert connected_components(pairs).count() == 0


def _chain_docs(spark):
    """A/B/C where B = A's words + C's words (so J(A,B) ≈ J(B,C) ≈ 0.47)
    but A and C share NO words at all: a true chain A~B~C with A≁C."""
    w = [f"w{i:02d}" for i in range(50)]
    a = " ".join(w[0:20])
    c = " ".join(w[30:50])
    b = a + " " + c
    filler = [(100 + i, " ".join(f"x{i}_{j}" for j in range(20))) for i in range(5)]
    return spark.createDataFrame(
        [(1, a), (2, b), (3, c)] + filler, ["doc_id", "text"]
    )


def test_planted_chain_keeps_exactly_one_survivor(spark):
    docs = _chain_docs(spark)
    # single-component bands: ANY matching signature component makes a
    # candidate pair (maximal recall at moderate Jaccard ≈ 0.47)
    kw = dict(num_hashes=16, bands=16, shingle_n=3)
    pairs = {
        (r.id_a, r.id_b): r.est_jaccard
        for r in minhash_near_dup_pairs(docs, **kw).collect()
    }
    # precondition: the chain is planted as intended — A~B and B~C are
    # clearly similar, A~C shares nothing (deterministic minhash → these
    # are fixed values, not a flaky sample)
    chain_strength = min(pairs.get((1, 2), 0.0), pairs.get((2, 3), 0.0))
    assert chain_strength > 0.2
    assert pairs.get((1, 3), 0.0) < chain_strength
    thr = chain_strength  # inclusive: both chain links qualify, A~C not
    kept = sorted(
        r.doc_id
        for r in minhash_dedup(docs, threshold=thr, **kw).collect()
    )
    # transitive closure: {1,2,3} is ONE component → only doc 1 survives
    assert kept == [1] + [100 + i for i in range(5)]


@pytest.mark.slow
def test_cc_partitioning_independence(spark):
    pairs = [(i, i + 1) for i in range(0, 40)] + [(60, 50), (55, 50)]
    one = spark.createDataFrame(pairs, ["id_a", "id_b"]).repartition(1)
    many = spark.createDataFrame(pairs, ["id_a", "id_b"]).repartition(7, "id_a")
    assert _comp_map(connected_components(one)) == _comp_map(
        connected_components(many)
    )


def test_incremental_index_equals_full_rebuild(spark):
    """Batched incremental LSH (probe stored index with each new batch,
    union the pair sets) must produce EXACTLY the pairs of a full
    rebuild over the whole corpus — pair generation is per-pair local,
    so arrival order can't change the result."""
    from end_to_end_azure_databricks_data_engineering_project_spark.operators.dedup import (
        incremental_near_dup_pairs,
        minhash_band_index,
    )

    docs = (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .select("doc_id", "text")
    )
    kw = dict(num_hashes=16, bands=8, shingle_n=3)

    full = {
        (r.id_a, r.id_b, round(r.est_jaccard, 9))
        for r in minhash_near_dup_pairs(docs, **kw).collect()
    }

    b1 = docs.filter(F.col("doc_id") % 3 == 0)
    b2 = docs.filter(F.col("doc_id") % 3 == 1)
    b3 = docs.filter(F.col("doc_id") % 3 == 2)

    index = minhash_band_index(b1, **kw)
    got = {
        (r.id_a, r.id_b, round(r.est_jaccard, 9))
        for r in minhash_near_dup_pairs(b1, **kw).collect()
    }
    for batch in (b2, b3):
        pairs, new_rows = incremental_near_dup_pairs(index, batch, **kw)
        got |= {
            (r.id_a, r.id_b, round(r.est_jaccard, 9)) for r in pairs.collect()
        }
        index = index.unionByName(new_rows)

    assert got == full, (
        f"incremental != full rebuild: missing={sorted(full - got)[:5]} "
        f"extra={sorted(got - full)[:5]}"
    )
    assert len(full) > 0  # the fixture must actually contain near-dups


def test_incremental_empty_batch_yields_no_pairs(spark):
    """An empty incoming batch must produce zero pairs and zero new
    index rows (and not error on the empty self/probe join)."""
    from end_to_end_azure_databricks_data_engineering_project_spark.operators.dedup import (
        incremental_near_dup_pairs,
        minhash_band_index,
    )

    docs = (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .select("doc_id", "text")
    )
    kw = dict(num_hashes=16, bands=8, shingle_n=3)
    index = minhash_band_index(docs, **kw)
    empty = docs.filter(F.lit(False))
    pairs, new_rows = incremental_near_dup_pairs(index, empty, **kw)
    assert pairs.count() == 0
    assert new_rows.count() == 0


def test_neardup_drain_flow_matches_rebuild_and_is_idempotent(spark, tmp_path):
    """The table-backed incremental drain (run_neardup_drain): after
    draining the corpus in three batches, the persistent pairs table
    holds exactly the full-rebuild pair set — and replaying the last
    epoch (crash-recovery path) appends nothing new."""
    from end_to_end_azure_databricks_data_engineering_project_spark.sources.tables import Catalog
    from end_to_end_azure_databricks_data_engineering_project_spark.streaming.flows import (
        run_neardup_drain,
    )

    docs = (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .select("doc_id", "text")
    )
    kw = dict(num_hashes=16, bands=8, shingle_n=3)
    catalog = Catalog(spark, tmp_path / "warehouse")

    for epoch, m in enumerate(range(3)):
        batch = docs.filter(F.col("doc_id") % 3 == m)
        run_neardup_drain(catalog, batch, epoch=epoch, **kw)

    stored = {
        (r.id_a, r.id_b, round(r.est_jaccard, 9))
        for r in catalog.table("neardup_pairs").read().collect()
    }
    full = {
        (r.id_a, r.id_b, round(r.est_jaccard, 9))
        for r in minhash_near_dup_pairs(docs, **kw).collect()
    }
    assert stored == full and len(full) > 0

    # replay the final epoch: the epoch guard must skip both appends
    last = docs.filter(F.col("doc_id") % 3 == 2)
    run_neardup_drain(catalog, last, epoch=2, **kw)
    assert catalog.table("neardup_pairs").read().count() == len(full)
    n_index = catalog.table("neardup_index").read().count()
    run_neardup_drain(catalog, last, epoch=2, **kw)
    assert catalog.table("neardup_index").read().count() == n_index


def test_neardup_drain_reingested_batch_adds_nothing(spark, tmp_path):
    """Re-draining an already-indexed batch under a NEW epoch (re-crawl /
    re-ingestion, not an epoch replay) must add zero pairs and zero
    index rows: first write wins via the id anti-join."""
    from end_to_end_azure_databricks_data_engineering_project_spark.sources.tables import Catalog
    from end_to_end_azure_databricks_data_engineering_project_spark.streaming.flows import (
        run_neardup_drain,
    )

    docs = (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .select("doc_id", "text")
    )
    kw = dict(num_hashes=16, bands=8, shingle_n=3)
    catalog = Catalog(spark, tmp_path / "warehouse")
    b1 = docs.filter(F.col("doc_id") % 3 == 0)
    run_neardup_drain(catalog, b1, epoch=0, **kw)
    n_pairs0 = catalog.table("neardup_pairs").read().count()
    n_idx0 = catalog.table("neardup_index").read().count()
    assert n_idx0 > 0

    # same docs again, new epoch, even with mutated text: ids win
    mutated = b1.withColumn("text", F.concat(F.col("text"), F.lit(" CHANGED")))
    n_p, n_i = run_neardup_drain(catalog, mutated, epoch=1, **kw)
    assert (n_p, n_i) == (0, 0)
    assert catalog.table("neardup_pairs").read().count() == n_pairs0
    assert catalog.table("neardup_index").read().count() == n_idx0


def test_neardup_drain_is_single_action_per_append(spark, tmp_path):
    """The drain must run exactly one ACTION (SQL execution) per table
    append — the row count rides the write via observe(); no standalone
    count() re-executing the probe join. ManagedTable's commit path is
    metadata-only (pyarrow footers), so executions == appends == 2."""
    import time as _time

    from end_to_end_azure_databricks_data_engineering_project_spark.sources.tables import Catalog
    from end_to_end_azure_databricks_data_engineering_project_spark.streaming.flows import (
        run_neardup_drain,
    )

    docs = (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .select("doc_id", "text")
    )
    kw = dict(num_hashes=16, bands=8, shingle_n=3)
    catalog = Catalog(spark, tmp_path / "warehouse")
    run_neardup_drain(catalog, docs.filter(F.col("doc_id") % 2 == 0), epoch=0, **kw)

    store = spark._jsparkSession.sharedState().statusStore()

    def _executions():
        # listener-bus fed: settle briefly until stable
        prev = -1
        for _ in range(50):
            cur = store.executionsCount()
            if cur == prev:
                return cur
            prev = cur
            _time.sleep(0.1)
        return prev

    before = _executions()
    run_neardup_drain(catalog, docs.filter(F.col("doc_id") % 2 == 1), epoch=1, **kw)
    delta = _executions() - before
    assert delta == 2, f"expected 2 actions (one per append), got {delta}"


@pytest.mark.slow
def test_bucketed_drain_matches_rebuild_and_index_side_is_shuffle_free(spark, tmp_path):
    """run_neardup_drain_bucketed: (a) three drains reproduce the full
    rebuild's pair set exactly; (b) the stored index joins the probe
    WITHOUT an Exchange or Sort above the index scan (bucketed+sorted
    on the band key — the 100 TB daily-drain guarantee)."""
    from end_to_end_azure_databricks_data_engineering_project_spark.operators.dedup import (
        _banded_pairs,
        minhash_band_index,
    )
    from end_to_end_azure_databricks_data_engineering_project_spark.sources.tables import Catalog
    from end_to_end_azure_databricks_data_engineering_project_spark.streaming.flows import (
        run_neardup_drain_bucketed,
    )

    docs = (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .select("doc_id", "text")
    )
    kw = dict(num_hashes=16, bands=8, shingle_n=3)
    catalog = Catalog(spark, tmp_path / "warehouse")
    spark.sql("DROP TABLE IF EXISTS neardup_index_bucketed")
    try:
        for epoch, m in enumerate(range(3)):
            batch = docs.filter(F.col("doc_id") % 3 == m)
            run_neardup_drain_bucketed(spark, catalog, batch, epoch=epoch, **kw)

        stored = {
            (r.id_a, r.id_b, round(r.est_jaccard, 9))
            for r in catalog.table("neardup_pairs").read().collect()
        }
        full = {
            (r.id_a, r.id_b, round(r.est_jaccard, 9))
            for r in minhash_near_dup_pairs(docs, **kw).collect()
        }
        assert stored == full and len(full) > 0

        # replay the last epoch: pairs skipped by epoch guard, index
        # rows filtered to nothing by the id anti-join
        last = docs.filter(F.col("doc_id") % 3 == 2)
        n_idx = spark.table("neardup_index_bucketed").count()
        n_p, n_i = run_neardup_drain_bucketed(spark, catalog, last, epoch=2, **kw)
        assert (n_p, n_i) == (0, 0)
        assert spark.table("neardup_index_bucketed").count() == n_idx

        # plan: probe join with broadcast off → SMJ whose index side is
        # bucket-local (no Exchange, no Sort above the index scan).
        # Differential assertion: the same join against an UNBUCKETED
        # copy of the index needs one more Exchange and one more Sort —
        # exactly the index-side shuffle bucketing removes.
        probe = minhash_band_index(
            spark.createDataFrame([(999999, "some fresh probe text here")],
                                  ["doc_id", "text"]),
            **kw,
        )
        flat_path = str(tmp_path / "index_flat")
        spark.table("neardup_index_bucketed").write.parquet(flat_path)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            def _plan(index_df):
                j = _banded_pairs(probe, index_df, "doc_id", 16, symmetric=False)
                return j._jdf.queryExecution().executedPlan().toString()

            bucketed = _plan(spark.table("neardup_index_bucketed"))
            flat = _plan(spark.read.parquet(flat_path))
        finally:
            spark.conf.set(
                "spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024)
            )
        assert "SelectedBucketsCount" in bucketed, bucketed  # bucket-pruned scan
        # one fewer Exchange: the index-side shuffle is gone (the Sort
        # stays local — appended bucket files are per-append sorted, so
        # multi-file buckets still merge-sort in the task, no network)
        assert bucketed.count("Exchange") == flat.count("Exchange") - 1, (
            bucketed, flat,
        )
    finally:
        spark.sql("DROP TABLE IF EXISTS neardup_index_bucketed")


def test_exact_dedup_drain_incremental(spark, tmp_path):
    """Incremental exact dedup: stored-corpus dups, within-batch dups,
    fresh docs, and epoch replay."""
    from end_to_end_azure_databricks_data_engineering_project_spark.sources.tables import Catalog
    from end_to_end_azure_databricks_data_engineering_project_spark.streaming.flows import (
        run_exact_dedup_drain,
    )

    catalog = Catalog(spark, tmp_path / "warehouse")
    day1 = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "delta epsilon zeta")],
        "doc_id long, text string",
    )
    n_idx, n_dups = run_exact_dedup_drain(catalog, day1, epoch=1)
    assert (n_idx, n_dups) == (2, 0)

    day2 = spark.createDataFrame(
        [
            (10, "ALPHA   beta gamma"),   # dup of stored 1 (normalized)
            (11, "eta theta iota"),       # fresh
            (12, "eta theta iota"),       # within-batch dup of 11
            (13, "kappa lambda mu"),      # fresh
        ],
        "doc_id long, text string",
    )
    n_idx, n_dups = run_exact_dedup_drain(catalog, day2, epoch=2)
    assert (n_idx, n_dups) == (2, 2)
    dups = {(r.doc_id, r.dup_of)
            for r in catalog.table("exact_dups").read().collect()}
    assert dups == {(10, 1), (12, 11)}
    idx_ids = {r.doc_id for r in catalog.table("exact_index").read().collect()}
    assert idx_ids == {1, 2, 11, 13}

    # replayed epoch: no-op before any compute
    assert run_exact_dedup_drain(catalog, day2, epoch=2) == (0, 0)
    assert catalog.table("exact_index").read().count() == 4
    assert catalog.table("exact_dups").read().count() == 2

    # day3: same text as 11 under a new id -> dup of the stored winner
    day3 = spark.createDataFrame([(20, "eta theta iota")], "doc_id long, text string")
    assert run_exact_dedup_drain(catalog, day3, epoch=3) == (0, 1)
    dups = {(r.doc_id, r.dup_of)
            for r in catalog.table("exact_dups").read().collect()}
    assert (20, 11) in dups


def test_exact_dedup_drain_null_text(spark, tmp_path):
    """NULL text fingerprints like empty text: dedups within AND across
    batches instead of accumulating unmatched NULL index rows."""
    from end_to_end_azure_databricks_data_engineering_project_spark.sources.tables import Catalog
    from end_to_end_azure_databricks_data_engineering_project_spark.streaming.flows import (
        run_exact_dedup_drain,
    )

    catalog = Catalog(spark, tmp_path / "warehouse")
    b1 = spark.createDataFrame([(1, None), (2, None)], "doc_id long, text string")
    assert run_exact_dedup_drain(catalog, b1, epoch=1) == (1, 1)
    b2 = spark.createDataFrame([(3, None), (4, "")], "doc_id long, text string")
    n_idx, n_dups = run_exact_dedup_drain(catalog, b2, epoch=2)
    assert (n_idx, n_dups) == (0, 2)  # both dedup against stored doc 1
    dups = {(r.doc_id, r.dup_of)
            for r in catalog.table("exact_dups").read().collect()}
    assert dups == {(2, 1), (3, 1), (4, 1)}


def test_shingles_df_must_match_shingle_n(spark):
    """A shared ``shingle_relation`` carries its n; a consumer asked for
    another n (or handed a relation without one) raises instead of
    computing on the wrong shingles."""
    docs = spark.createDataFrame(
        [(1, "a b c d e"), (2, "a b c d f"), (3, "x y z")], ["doc_id", "text"]
    )
    sh3 = shingle_relation(docs, n=3).cache()
    assert sh3.schema["shingle"].metadata == {"shingle_n": 3}
    assert sorted(
        minhash_components(docs, num_hashes=4, shingles_df=sh3).collect()
    ) == sorted(minhash_components(docs, num_hashes=4).collect())
    assert sorted(exact_jaccard_join(docs, 0.3, n=3, shingles_df=sh3).collect()) == sorted(
        exact_jaccard_join(docs, 0.3, n=3).collect()
    )
    bare = spark.createDataFrame([(1, "a b c")], "doc_id bigint, shingle string")
    calls = [
        lambda sh: minhash_components(docs, shingle_n=2, shingles_df=sh),
        lambda sh: minhash_signature_df(docs, shingle_n=2, shingles_df=sh),
        lambda sh: minhash_band_index(docs, shingle_n=2, shingles_df=sh),
        lambda sh: minhash_near_dup_pairs(docs, shingle_n=2, shingles_df=sh),
        lambda sh: exact_jaccard_join(docs, 0.5, n=2, shingles_df=sh),
        lambda sh: exact_containment_join(docs, 0.5, n=2, shingles_df=sh),
    ]
    for call in calls:
        for sh in (sh3, bare):
            with pytest.raises(ValueError, match="shingle_n"):
                call(sh)
    sh3.unpersist()
