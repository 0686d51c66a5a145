"""Deduplication family for LLM training-data pipelines: exact,
MinHash+LSH, SimHash, n-gram Jaccard.

Design for 100 TB:
 - Everything is expressed as shuffle-on-key DataFrame ops — NO pairwise
   cross joins over the corpus. Candidate generation is always
   bucket-first (LSH band buckets / simhash prefix buckets), so the
   quadratic step only happens *within* buckets.
 - Hashing is md5-based and **portable** (same values computable in
   DuckDB/any SQL engine — see functions/scalars.portable_hash64), which
   makes every step oracle-checkable, and also makes results stable
   across Spark versions (F.hash is not guaranteed stable across
   releases).
 - All expressions are built-in `pyspark.sql.functions` arrays/lambdas —
   codegen'd JVM execution, no Python UDF in any hot path.
"""

from __future__ import annotations

import threading

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from end_to_end_azure_databricks_data_engineering_project_spark.functions.scalars import (
    fingerprint,
    portable_hash64,
)


# ---------------------------------------------------------------- exact --
def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """One survivor per identical (normalized) text: the smallest id.

    Hash-groupBy under the hood: fingerprint (md5 of normalized text) →
    min(id) per fingerprint → semi-join back. Two shuffles on the
    fingerprint/id — no full-row shuffle of the corpus text."""
    fp = df.select(F.col(id_col), fingerprint(F.col(text_col)).alias("__fp"))
    survivors = fp.groupBy("__fp").agg(F.min(id_col).alias(id_col))
    return df.join(survivors.select(id_col), id_col, "left_semi")


# ------------------------------------------------------------- shingles --
def tokens(text: Column) -> Column:
    return F.split(F.lower(F.trim(text)), r"\s+")


def shingles_from_tokens(toks: Column, n: int = 3) -> Column:
    """Distinct n-gram shingles from an ALREADY-MATERIALIZED token-array
    column. O(1) ``element_at`` lookups (no per-gram array copies);
    ``concat_ws`` skips NULLs past the end, so short docs yield their
    truncated gram. IMPORTANT: ``toks`` must be a real column, not an
    inline split expression — expressions inside HOF lambdas are not
    CSE'd, so an inline split would re-run the regex per element."""
    idx = F.sequence(F.lit(1), F.greatest(F.size(toks) - (n - 1), F.lit(1)))
    # try_element_at, NOT element_at: past-the-end lookups are the
    # designed truncated-gram path for short docs, and plain element_at
    # THROWS under ANSI mode (the Spark 4 default this session runs)
    grams = F.transform(
        idx,
        lambda i: F.concat_ws(" ", *[F.try_element_at(toks, i + j) for j in range(n)]),
    )
    return F.array_distinct(grams)


def shingles(text: Column, n: int = 3) -> Column:
    """Column-API shingles (single-expression form; fine for small/
    mid-size inputs — the corpus-scale path is ``minhash_components``,
    which materializes tokens first and uses ``shingles_from_tokens``)."""
    toks = tokens(text)
    grams = F.transform(
        F.sequence(F.lit(0), F.greatest(F.size(toks) - n, F.lit(0))),
        lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)),
    )
    return F.array_distinct(grams)


def shingle_relation(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
) -> DataFrame:
    """(doc_id, shingle) — the exploded distinct-shingle projection of a
    corpus, THE shared input of the exact-similarity joins and (via the
    ``shingles_df`` parameters) the MinHash signature builder. r14
    (guide §6 scan reuse): audits that need both an exact side and an
    LSH side (lsh_recall_audit) build this once, cache it, and hand it
    to both, instead of tokenizing + shingling the corpus twice.
    Blank/NULL-text docs yield the single shingle '' / no row
    respectively — consumers that must exclude blank docs filter
    ``shingle != ''`` (exactly the rows blank text produces; non-blank
    text can never emit an empty shingle because concat_ws over >= 1
    token is non-empty).

    The ``shingle`` column's metadata records ``n`` (``shingle_n``), and
    every ``shingles_df=`` consumer raises ``ValueError`` when it differs
    from the consumer's own ``shingle_n``/``n``."""
    return docs.select(
        F.col(id_col).alias("doc_id"), tokens(F.col(text_col)).alias("_toks")
    ).select(
        "doc_id", F.explode(shingles_from_tokens(F.col("_toks"), n)).alias("shingle")
    ).select(
        # a generator's alias drops metadata, so it is attached here
        "doc_id", F.col("shingle").alias("shingle", metadata={"shingle_n": n})
    )


def _checked_shingles(shingles_df: DataFrame, n: int) -> DataFrame:
    """``shingles_df`` once its recorded shingle size is ``n``."""
    got = shingles_df.schema["shingle"].metadata.get("shingle_n")
    if got != n:
        raise ValueError(
            f"shingles_df holds shingle_n={got} shingles but the caller "
            f"asked for {n}; build it with shingle_relation(..., n={n})"
        )
    return shingles_df


def _hash_shingle(s: Column, seed: int) -> Column:
    """Portable 60-bit positive hash of (seed, shingle) — delegates to
    scalars.portable_hash64 (the ONE home of the md5 recipe the DuckDB
    oracles replay; bit-identical to the previous inline copy)."""
    return portable_hash64(F.concat(F.lit(f"{seed}|"), s))


# -------------------------------------------------------------- minhash --
MINHASH_P = 2_147_483_647  # Mersenne prime 2^31-1: products fit in int64


def minhash_constants(k: int) -> tuple[int, int]:
    """Deterministic affine universal-hash constants for component k
    (md5-derived; identical constants reproducible in any engine)."""
    import hashlib

    a = int(hashlib.md5(f"A{k}".encode()).hexdigest()[:8], 16) % (MINHASH_P - 1) + 1
    b = int(hashlib.md5(f"B{k}".encode()).hexdigest()[:8], 16) % MINHASH_P
    return a, b


def minhash_components(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    shingle_n: int = 3,
    shingles_df: DataFrame | None = None,
) -> DataFrame:
    """(id, mh_0..mh_{k-1}) minhash signature columns.

    ONE md5 per shingle (the expensive part), then ``num_hashes`` cheap
    affine transforms h_k = (a_k·h + b_k) mod P minimized per doc.
    Physical shape: materialize tokens → explode shingles → project md5
    → hash-agg min per doc (partial map-side combine → one narrow
    shuffle on the id). Docs with no shingles (empty text) produce no
    row.

    ``shingles_df`` (r14): optional pre-built ``shingle_relation``
    (columns doc_id, shingle — shared with an exact-join side so the
    corpus is shingled once). The blank-doc exclusion becomes
    ``shingle != ''`` — the exact row set blank text produces (see
    shingle_relation)."""
    if shingles_df is not None:
        base = (
            _checked_shingles(shingles_df, shingle_n)
            .filter(F.col("shingle") != "")
            .select(
                F.col("doc_id").alias(id_col),
                (_hash_shingle(F.col("shingle"), 0) % MINHASH_P).alias("__h"),
            )
        )
    else:
        base = (
            # Blank/NULL text yields the single shingle "" (split('') == ['']),
            # NOT zero shingles: without this filter every such doc shares one
            # identical signature, forming a quadratic hot bucket in the band
            # join and letting minhash_dedup delete docs whose text is merely
            # missing. Filtering makes the docstring's "no shingles -> no row"
            # actually true. (Testdata has no blank docs, so oracles are
            # unaffected; real crawls have millions.)
            df.filter(F.trim(F.coalesce(F.col(text_col), F.lit(""))) != "")
            .select(F.col(id_col), tokens(F.col(text_col)).alias("__toks"))
            .select(
                id_col,
                F.explode(shingles_from_tokens(F.col("__toks"), shingle_n)).alias("__sh"),
            )
            .select(id_col, (_hash_shingle(F.col("__sh"), 0) % MINHASH_P).alias("__h"))
        )
    aggs = []
    for k in range(num_hashes):
        a, b = minhash_constants(k)
        aggs.append(
            F.min((F.lit(a) * F.col("__h") + F.lit(b)) % MINHASH_P).alias(f"mh_{k}")
        )
    return base.groupBy(id_col).agg(*aggs)


def minhash_signature_df(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    shingle_n: int = 3,
    shingles_df: DataFrame | None = None,
) -> DataFrame:
    """(id, sig: array<bigint>) — the array form of minhash_components."""
    wide = minhash_components(
        df, text_col, id_col, num_hashes, shingle_n, shingles_df
    )
    return wide.select(
        id_col, F.array(*[F.col(f"mh_{k}") for k in range(num_hashes)]).alias("sig")
    )


def minhash_band_index(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 8,
    shingle_n: int = 3,
    shingles_df: DataFrame | None = None,
) -> DataFrame:
    """The LSH band index: (id, sig, band_idx, band_key), one row per
    (doc, band). This is the PERSISTED index shape for incremental
    dedup — store it partitioned/bucketed by (band_idx, band_key) and
    new batches probe it with an equi-join (see
    ``incremental_near_dup_pairs``)."""
    rows_per_band = num_hashes // bands
    sig = minhash_signature_df(
        df, text_col, id_col, num_hashes, shingle_n, shingles_df
    )
    return sig.select(
        id_col,
        "sig",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda b: F.struct(
                    b.alias("band_idx"),
                    F.concat_ws(
                        "_", F.slice("sig", b * rows_per_band + 1, rows_per_band)
                    ).alias("band_key"),
                ),
            )
        ).alias("band"),
    ).select(id_col, "sig", "band.band_idx", "band.band_key")


def _banded_pairs(
    a: DataFrame, b: DataFrame, id_col: str, num_hashes: int,
    symmetric: bool = True,
) -> DataFrame:
    """Distinct canonical (id_a < id_b) pairs sharing a band bucket,
    with estimated Jaccard (matching signature fraction).

    ``symmetric=True`` (self-join: a and b are the same set) joins on
    ``<`` so each unordered pair is built once. ``symmetric=False``
    (probe ≠ target, e.g. incremental batch vs stored index) joins on
    ``!=`` and canonicalizes with least/greatest, since the new doc
    may be on either side of the ordering."""
    a, b = a.alias("a"), b.alias("b")
    ida, idb = F.col(f"a.{id_col}"), F.col(f"b.{id_col}")
    on_band = (F.col("a.band_idx") == F.col("b.band_idx")) & (
        F.col("a.band_key") == F.col("b.band_key")
    )
    if symmetric:
        joined = a.join(b, on_band & (ida < idb)).select(
            ida.alias("id_a"), idb.alias("id_b"),
            F.col("a.sig").alias("sig_a"), F.col("b.sig").alias("sig_b"),
        )
    else:
        joined = a.join(b, on_band & (ida != idb)).select(
            F.least(ida, idb).alias("id_a"),
            F.greatest(ida, idb).alias("id_b"),
            F.when(ida < idb, F.col("a.sig")).otherwise(F.col("b.sig")).alias("sig_a"),
            F.when(ida < idb, F.col("b.sig")).otherwise(F.col("a.sig")).alias("sig_b"),
        )
    pairs = joined.dropDuplicates(["id_a", "id_b"])
    est = (
        F.size(F.filter(F.zip_with("sig_a", "sig_b", lambda x, y: x == y), lambda m: m))
        / F.lit(float(num_hashes))
    ).alias("est_jaccard")
    return pairs.select("id_a", "id_b", est)


def minhash_near_dup_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 8,
    shingle_n: int = 3,
    shingles_df: DataFrame | None = None,
) -> DataFrame:
    """Candidate near-duplicate pairs via MinHash + LSH banding.

    signature → split into ``bands`` bands of ``num_hashes/bands`` rows →
    explode (band_idx, band_key) → self-join *within* band buckets →
    distinct pairs with their estimated Jaccard (fraction of matching
    signature components). Returns columns: id_a, id_b, est_jaccard.

    Scale: the only join key is (band_idx, band_key); hot buckets (many
    identical docs) are bounded by banding; AQE skew-join handles the
    rest. No corpus-wide cross join ever happens."""
    banded = minhash_band_index(
        df, text_col, id_col, num_hashes, bands, shingle_n, shingles_df
    )
    return _banded_pairs(banded, banded, id_col, num_hashes)


def incremental_index_rows(
    index: DataFrame | None,
    new_docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 8,
    shingle_n: int = 3,
) -> DataFrame:
    """Just the new batch's band-index rows (no probe join): first-write-
    wins anti-join against the stored index's ids, then one signature
    pass. Returned CACHED — the rows feed up to three consumers (probe
    side, self-join side, the caller's index append); callers unpersist
    when done. This is also the replay fast path: when the pairs side of
    a drain is already committed, only these rows (which anti-join to
    empty on a full replay) are needed to finish the index side."""
    if index is not None:
        # First write wins: ids already indexed are skipped entirely —
        # this also makes the caller's index append idempotent at the
        # row level (a replayed batch filters to empty).
        new_docs = new_docs.join(index.select(id_col), on=id_col, how="left_anti")
    return minhash_band_index(
        new_docs, text_col, id_col, num_hashes, bands, shingle_n
    ).cache()


def incremental_near_dup_pairs(
    index: DataFrame | None,
    new_docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 8,
    shingle_n: int = 3,
) -> tuple[DataFrame, DataFrame]:
    """Incremental LSH dedup: probe an EXISTING band index with a new
    document batch instead of re-running the all-corpus self-join.

    Returns ``(pairs, new_index_rows)``: every candidate pair touching
    at least one new doc (new×old and new×new, canonical id_a < id_b,
    same schema as ``minhash_near_dup_pairs``), and the new batch's
    index rows for the caller to append to the stored index.

    Invariant (tested): running batches through this incrementally and
    unioning the pair sets yields EXACTLY the pairs a full rebuild over
    the union corpus produces — pair generation is per-pair local, so
    batching order cannot change the result.

    Re-ingestion: a batch doc whose ``id_col`` is already in the stored
    index is DROPPED before hashing (first write wins) — a replayed or
    re-crawled document neither duplicates index rows nor re-emits its
    pairs. Treat changed-text-under-same-id as a new id upstream if the
    update matters.

    Scale: this is the production shape at 100 TB — the daily batch is
    signature-hashed (one scan of the batch only), then ONE equi-join
    on (band_idx, band_key) against an index that never rescans old
    text. The index side of the probe join is referenced alone (never
    unioned with the batch), so a stored index bucketed by the band key
    joins without shuffling; the batch-internal pairs come from a
    separate tiny self-join. The re-ingestion guard's anti-join touches
    only the index's id column (column-pruned scan); at extreme scale
    keep an ids-only sidecar bucketed by id to make it shuffle-free
    too."""
    new_rows = incremental_index_rows(
        index, new_docs, text_col, id_col, num_hashes, bands, shingle_n
    )
    if index is None:  # first drain: no stored index yet → pure self-join
        return _banded_pairs(new_rows, new_rows, id_col, num_hashes), new_rows
    old = index.select(id_col, "sig", "band_idx", "band_key")
    # new×old and new×new are disjoint pair sets (the anti-join above
    # guarantees no id is on both sides), so a plain union is exact.
    cross = _banded_pairs(new_rows, old, id_col, num_hashes, symmetric=False)
    within = _banded_pairs(new_rows, new_rows, id_col, num_hashes)
    return cross.unionByName(within), new_rows


# ------------------------------------------------- connected components --
def _large_star(e: DataFrame) -> DataFrame:
    """Large-star round: every neighbor v > u re-attaches to
    m = min(Γ(u) ∪ {u}). Input/output: directed (u, v) edge frames."""
    sym = e.unionByName(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    mins = sym.groupBy("u").agg(F.min("v").alias("mn"))
    mins = mins.select("u", F.least("u", "mn").alias("m"))
    return (
        sym.join(mins, "u")
        .filter(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .distinct()
    )


def _small_star(e: DataFrame) -> DataFrame:
    """Small-star round over max→min directed edges: u and all its
    smaller neighbors re-attach to m = min(Γ(u) ∪ {u})."""
    mins = e.groupBy("u").agg(F.min("v").alias("m"))
    nbrs = e.join(mins, "u")
    return (
        nbrs.select(F.col("v").alias("u"), F.col("m").alias("v"))
        .unionByName(mins.select("u", F.col("m").alias("v")))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


def _observed(obs, timeout_s: float = 30.0) -> dict | None:
    """``obs.get``, or None if the metrics have not arrived within
    ``timeout_s``. ``obs.get`` blocks until the observed plan has run,
    forever if it never does (the public Observation API has no
    non-blocking read), so it is read on a daemon thread and the wait
    is bounded; an error raised by ``obs.get`` is re-raised here."""
    box: list = []

    def read():
        try:
            box.append((True, obs.get))
        except Exception as exc:  # noqa: BLE001 - re-raised below
            box.append((False, exc))

    reader = threading.Thread(target=read, daemon=True)
    reader.start()
    reader.join(timeout_s)
    if not box:
        return None
    ok, value = box[0]
    if not ok:
        raise value
    return value


def connected_components(
    pairs: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 15,
) -> DataFrame:
    """Connected components over an undirected pair list via alternating
    large-star / small-star rounds (Kiveris et al., "Connected Components
    in MapReduce and Beyond") — pure DataFrame ops, no driver-side graph.

    Returns (node, component) for every node in ``pairs``, component =
    the smallest node id of its component. Convergence in O(log n)
    alternations; each round is two hash-shuffles on node id, so the
    cost at 100 TB is bounded by the pair list (already bucket-pruned by
    LSH), not the corpus. Lineage is truncated per round with
    localCheckpoint — swap for ``checkpoint()`` with a checkpoint dir on
    a real cluster. Fixpoint detection: count + md5-sum edge digest (a
    false-positive stop needs a 60-bit hash-sum collision)."""
    # Ids are only compared/min'd, so any totally ordered type works.
    # Integral ids cast to bigint (unifies int/long inputs); everything
    # else stays as-is — blindly casting e.g. string doc ids to bigint
    # yields NULL (legacy mode), the u != v filter then drops EVERY edge,
    # and dedup silently keeps all near-duplicates.
    from pyspark.sql.types import ByteType, IntegerType, LongType, ShortType

    src_type = pairs.schema[src].dataType
    integral = isinstance(src_type, (ByteType, ShortType, IntegerType, LongType))
    u = F.col(src).cast("bigint") if integral else F.col(src)
    v = F.col(dst).cast("bigint") if integral else F.col(dst)
    e = (
        pairs.select(u.alias("u"), v.alias("v"))
        .filter(F.col("u") != F.col("v"))
        .select(F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v"))
        .distinct()
    )
    from pyspark.sql import Observation

    prev: tuple | None = None
    for _ in range(max_iter):
        # fixpoint digest rides the checkpoint job via observe (r13
        # opt): previously each round ran TWO jobs — the eager
        # localCheckpoint materialization plus a separate digest
        # collect over the checkpointed edges. The observation computes
        # the same (count, hash-sum) aggregate over the same rows
        # DURING the checkpoint pass, halving the per-round job count
        # (and at scale, removing one full edge-list pass per round).
        obs = Observation()
        stepped = _small_star(_large_star(e)).observe(
            obs,
            F.count(F.lit(1)).alias("n"),
            F.coalesce(
                # 60-bit hashes summed in decimal(38,0): no ANSI int64
                # overflow even at billions of edges
                F.sum(_hash_shingle(F.concat_ws("_", "u", "v"), 0).cast("decimal(38,0)")),
                F.lit(0).cast("decimal(38,0)"),
            ).alias("digest"),
        )
        e = stepped.localCheckpoint(eager=True)
        # TAMPER GUARD: obs.get blocks FOREVER if the observed subtree
        # never executed (e.g. the checkpoint above made lazy, or the
        # observe moved below a prunable branch — the bpe rejection
        # note proved the hang empirically). The eager checkpoint is
        # what populates it; a bounded wait makes a future edit fail
        # loudly instead of deadlocking, and tolerates a Spark whose
        # observations arrive shortly after the job (pinned by
        # tests/test_r14_advice.py::test_observation_probe_*).
        row = _observed(obs)
        if row is None:
            raise RuntimeError(
                "connected_components: fixpoint observation not populated "
                "— the eager localCheckpoint must execute the observed "
                "node before obs.get, or this call would deadlock"
            )
        cur = (row["n"], row["digest"])
        if cur == prev:
            break
        prev = cur
    comp = e.select(F.col("u").alias("node"), F.col("v").alias("component"))
    roots = e.select(F.col("v").alias("node")).distinct().withColumn(
        "component", F.col("node")
    )
    return comp.unionByName(roots).distinct()


def minhash_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.8,
    **kw,
) -> DataFrame:
    """Drop near-duplicates with exact transitive closure: qualifying
    LSH pairs → connected components → keep each component's smallest
    id. A chain A~B~C with A≁C collapses to the single survivor A
    (greedy id-ordered pair suppression could leave two)."""
    pairs = minhash_near_dup_pairs(df, text_col, id_col, **kw)
    qual = pairs.filter(F.col("est_jaccard") >= threshold)
    comp = connected_components(qual, "id_a", "id_b")
    losers = comp.filter(F.col("node") != F.col("component")).select(
        F.col("node").alias(id_col)
    )
    return df.join(losers, id_col, "left_anti")


# ------------------------------------------------------ n-gram jaccard --
def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    num_hashes: int = 16,
    bands: int = 8,
) -> DataFrame:
    """Exact n-gram Jaccard for LSH candidate pairs: candidates from
    MinHash banding, then exact |∩|/|∪| over distinct shingle sets.
    Columns: id_a, id_b, jaccard."""
    cand = minhash_near_dup_pairs(df, text_col, id_col, num_hashes, bands, shingle_n)
    sh = df.select(F.col(id_col), shingles(F.col(text_col), shingle_n).alias("sh"))
    j = (
        cand.join(sh.withColumnRenamed(id_col, "id_a").withColumnRenamed("sh", "sh_a"), "id_a")
        .join(sh.withColumnRenamed(id_col, "id_b").withColumnRenamed("sh", "sh_b"), "id_b")
        .withColumn("inter", F.size(F.array_intersect("sh_a", "sh_b")))
        .withColumn("uni", F.size(F.array_union("sh_a", "sh_b")))
        .select(
            "id_a",
            "id_b",
            (F.col("inter").cast("double") / F.col("uni")).alias("jaccard"),
        )
    )
    return j


# -------------------------------------------------------------- simhash --
def simhash64_from_shingles(sh: Column) -> Column:
    """64-bit SimHash from an ALREADY-MATERIALIZED shingle-array column
    (bit 63 kept zero to stay in positive range; 63 effective bits).

    Per shingle: portable hash → ±1 per bit → elementwise sum across
    shingles → sign → bits. Pure array expressions (aggregate/zip_with);
    one pass, no UDF. Use ``with_simhash`` for the DataFrame-level form
    — passing an inline ``shingles(text)`` expression here re-runs the
    token split per gram (O(tokens²) regex work per row)."""
    hashed = F.transform(sh, lambda s: _hash_shingle(s, 0))
    zeros = F.array_repeat(F.lit(0), 63)
    # Bit masks as ONE array<bigint> literal (r13 opt): the previous
    # form unrolled 63 shiftright/when nodes per fold step PLUS a
    # 63-term addition chain — thousands of py4j calls to BUILD the
    # expression (~6 s before any task ran) and a codegen source that
    # grew with the bit width. h & (1<<j) != 0 reads the same bit as
    # (h >> j) & 1 == 1 for every bigint, so the vote array and the
    # final weighted fold are bit-identical.
    masks = F.lit([1 << j for j in range(63)]).cast("array<bigint>")
    sums = F.aggregate(
        hashed,
        zeros,
        lambda acc, h: F.zip_with(
            acc,
            F.transform(
                masks,
                lambda m: F.when(h.bitwiseAND(m) != 0, 1).otherwise(-1),
            ),
            lambda a, b: a + b,
        ),
    )
    bits = F.transform(sums, lambda v: F.when(v > 0, F.lit(1)).otherwise(F.lit(0)))
    # total = sum over j of bits[j] * 2^j, folded in index order — the
    # same integer accumulation the unrolled chain performed
    return F.aggregate(
        F.zip_with(bits, masks, lambda b, m: b.cast("bigint") * m),
        F.lit(0).cast("bigint"),
        lambda acc, v: acc + v,
    )


def simhash64(text: Column, shingle_n: int = 2) -> Column:
    """Column-API SimHash over word shingles — single-expression form.
    The inline shingles() re-splits the text per gram, so prefer
    ``with_simhash`` (materialized tokens/shingles) anywhere the input
    is more than a handful of rows."""
    return simhash64_from_shingles(shingles(text, shingle_n))


def with_simhash(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 2,
    out_col: str = "sh",
) -> DataFrame:
    """(id, simhash) with tokens and shingles materialized as real
    columns in projections below the hash — one regex split per row,
    one shingle array per row (vs O(tokens²) splits for the inline
    expression form)."""
    toks = df.select(
        F.col(id_col), tokens(F.col(text_col)).alias("__toks")
    )
    sh = toks.select(
        id_col, shingles_from_tokens(F.col("__toks"), shingle_n).alias("__sh")
    )
    return sh.select(
        id_col, simhash64_from_shingles(F.col("__sh")).alias(out_col)
    )


def simhash_near_dup_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    prefix_bits: int = 16,
    shingle_n: int = 2,
) -> DataFrame:
    """Near-dup pairs by SimHash hamming distance ≤ ``max_hamming``.

    Candidate generation: 4 rotated prefix-blocks of the hash as bucket
    keys (two docs within hamming 3 of each other share at least one of
    4 16-bit blocks untouched → standard Charikar blocking); exact
    hamming check within buckets. Columns: id_a, id_b, hamming.

    Completeness needs blocks >= max_hamming + 1 (pigeonhole: at most
    max_hamming blocks can contain a flipped bit) — validated, because
    a silently incomplete pair set is worse than an error."""
    n_blocks = 64 // prefix_bits
    if n_blocks < max_hamming + 1:
        raise ValueError(
            f"Charikar blocking with {n_blocks} blocks of {prefix_bits} bits "
            f"cannot guarantee recall at max_hamming={max_hamming}: need "
            f"blocks >= max_hamming + 1 (shrink prefix_bits or max_hamming)"
        )
    h = with_simhash(df, text_col, id_col, shingle_n, out_col="sh")
    blocks = F.array(
        *[
            F.struct(
                F.lit(i).alias("block_idx"),
                F.shiftright("sh", i * prefix_bits)
                .bitwiseAND(F.lit((1 << prefix_bits) - 1))
                .alias("block_key"),
            )
            for i in range(64 // prefix_bits)
        ]
    )
    bucketed = h.select(id_col, "sh", F.explode(blocks).alias("b")).select(
        id_col, "sh", "b.block_idx", "b.block_key"
    )
    a, b = bucketed.alias("a"), bucketed.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.block_idx") == F.col("b.block_idx"))
            & (F.col("a.block_key") == F.col("b.block_key"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.col("a.sh").alias("sh_a"),
            F.col("b.sh").alias("sh_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    xor = F.col("sh_a").bitwiseXOR(F.col("sh_b"))
    hamming = F.bit_count(xor)
    return (
        pairs.withColumn("hamming", hamming)
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


# ------------------------------------------------- duplicated spans --
def duplicated_span_dedup(
    docs: DataFrame,
    window: int = 5,
    min_count: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Substring-level dedup (Lee et al., "Deduplicating Training Data
    Makes Language Models Better"): find every ``window``-token span
    that occurs ≥ ``min_count`` times ANYWHERE in the corpus, and strip
    the covered tokens from each document. Returns (doc_id, n_tokens,
    n_dup_tokens, clean_text) — clean_text is the document with every
    duplicated span removed, '' if nothing survives.

    Distributed shape: one explode to (doc, start, md5-of-span)
    occurrences, one count aggregation on the span fingerprint
    (map-side partial), one equi-join back to flag duplicated starts,
    then a per-document coverage pass done entirely in array
    expressions (the duplicated-start list per doc is bounded by
    tokens-per-doc). No pairwise joins, nothing quadratic in the
    corpus; the fingerprint shuffle is the only wide exchange.

    Determinism: md5 fingerprints, integer counts, position arithmetic
    — no floats anywhere, replayable exactly by the SQL oracle."""
    ws = F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
    base = docs.filter(F.trim(F.col(text_col)) != "").select(
        F.col(id_col).alias("_id"), ws.alias("_ws"), F.size(ws).alias("_n")
    )
    # Explode the START POSITIONS first, then fingerprint each window
    # AFTER the Generate node. Ordering matters for more than style:
    # computing an array of (s, fp) structs in the same projection as
    # `_ws` lets CollapseProject inline the split() into every one of
    # the ~tokens-per-doc window slots, re-tokenizing each document
    # once per window (the r8 scale harness measured the quadratic-ish
    # blowup: 14x time for 10x docs). A Generate node is a projection
    # barrier — `_ws` is evaluated once per input row and carried, so
    # each document is split exactly once and each window does one
    # slice+md5.
    starts = F.when(
        F.col("_n") >= window,
        F.sequence(F.lit(1), F.col("_n") - window + 1),
    ).otherwise(F.array().cast("array<int>"))
    occ = (
        base.select("_id", "_ws", F.explode(starts).alias("s"))
        .select(
            "_id",
            F.col("s").cast("int").alias("s"),
            F.md5(F.concat_ws(" ", F.slice("_ws", F.col("s"), window))).alias("fp"),
        )
    )
    cnt = occ.groupBy("fp").agg(F.count(F.lit(1)).alias("_c"))
    dup_starts = (
        occ.join(cnt.filter(F.col("_c") >= min_count), "fp")
        .groupBy("_id")
        .agg(F.array_sort(F.collect_list("s")).alias("_starts"))
    )
    j = base.join(dup_starts, "_id", "left").withColumn(
        "_starts", F.coalesce(F.col("_starts"), F.array().cast("array<int>"))
    )

    # Coverage via set difference, NOT a per-position exists() scan of
    # the start list: the nested-loop form is O(n_tokens * n_starts)
    # per document, which the r8 scale harness caught going 14x for 10x
    # data once span-collision density rises (a closed vocab saturates
    # the span space, so n_starts grows with corpus size). Materializing
    # the covered-position set once and array_except-ing keeps the pass
    # O(n_tokens + n_starts * window) with hash lookups. Output is
    # integer-position identical (array_except preserves first-array
    # order; positions are unique), so the SQL oracle replay is
    # unaffected.
    positions = F.sequence(F.lit(1), F.col("_n"))
    covered_set = F.array_distinct(
        F.flatten(
            F.transform(
                F.col("_starts"),
                lambda s: F.sequence(s, F.least(s + window - 1, F.col("_n"))),
            )
        )
    )
    kept = F.array_except(positions, covered_set)
    return j.select(
        F.col("_id").alias(id_col),
        F.col("_n").cast("int").alias("n_tokens"),
        (F.col("_n") - F.size(kept)).cast("int").alias("n_dup_tokens"),
        F.array_join(
            F.transform(kept, lambda t: F.element_at("_ws", t)), " "
        ).alias("clean_text"),
    )


def exact_jaccard_join(
    docs: DataFrame,
    threshold: float,
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingles_df: DataFrame | None = None,
) -> DataFrame:
    """EXACT shingle-Jaccard similarity self-join via prefix filtering
    (Bayardo et al., WWW'07; Xiao et al., WWW'08 — "PPJoin" family).

    Complete AND exact — every pair with J ≥ threshold is returned with
    its true Jaccard, unlike MinHash-LSH (`minhash_near_dup_pairs`),
    which trades recall for speed. The trick that keeps it off the
    all-pairs cliff: order each doc's shingles by ascending document
    frequency and only the first ``|d| - ceil(t*|d|) + 1`` (the
    "prefix") generate join candidates. Correctness: a pair with
    J ≥ t shares ≥ ceil(t*|d|) shingles, more than fit entirely in
    either suffix, so some shared shingle lies in both prefixes.

    Scale shape: candidate volume is Σ df² over PREFIX occurrences
    only — and df-ascending ordering pushes exactly the hot shingles
    (stop-phrase trigrams, boilerplate) out of prefixes, so the worst
    keys generate ZERO candidates. Verification joins are bounded by
    |candidates| × doc size. Shuffles: shingle-df agg, per-doc rank
    window, candidate equi-join, two verify joins — all on keys with
    controlled cardinality; raw text never shuffles.
    """
    t = float(threshold)
    # cached: the exploded shingle relation feeds FOUR consumers (sizes,
    # dfreq, ranked, and both sides of the verification join) — without
    # the cache, lineage recomputation re-tokenizes and re-shingles the
    # whole corpus once per consumer. LRU-evicted when memory needs it.
    # ``shingles_df`` (r14): a caller-provided shared relation (already
    # cached by the caller) skips both the rebuild and the double-cache.
    sh = (
        shingle_relation(docs, id_col, text_col, n).cache()
        if shingles_df is None else _checked_shingles(shingles_df, n)
    )
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    dfreq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    w = Window.partitionBy("doc_id").orderBy(F.col("df").asc(), F.col("shingle").asc())
    ranked = (
        sh.join(dfreq, "shingle")
        .withColumn("rn", F.row_number().over(w))
        .join(sizes, "doc_id")
    )
    prefix = ranked.filter(
        F.col("rn") <= F.col("sz") - F.ceil(F.lit(t) * F.col("sz")) + F.lit(1)
    ).select("doc_id", "shingle")
    cand = (
        prefix.alias("a")
        .join(prefix.alias("b"), "shingle")
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
        .distinct()
    )
    inter = (
        cand.join(sh.withColumnRenamed("doc_id", "id_a"), "id_a")
        .join(
            sh.select(F.col("doc_id").alias("id_b"), F.col("shingle").alias("_shb")),
            ["id_b"],
        )
        .filter(F.col("shingle") == F.col("_shb"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    out = (
        inter.join(sizes.withColumnRenamed("doc_id", "id_a").withColumnRenamed("sz", "sz_a"), "id_a")
        .join(sizes.withColumnRenamed("doc_id", "id_b").withColumnRenamed("sz", "sz_b"), "id_b")
        .withColumn(
            "jacc",
            F.col("inter") / (F.col("sz_a") + F.col("sz_b") - F.col("inter")),
        )
        .filter(F.col("jacc") >= t)
        .select("id_a", "id_b", "inter", "jacc")
    )
    return out


def exact_containment_join(
    docs: DataFrame,
    threshold: float,
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingles_df: DataFrame | None = None,
) -> DataFrame:
    """EXACT shingle-CONTAINMENT self-join via prefix filtering — the
    asymmetric sibling of ``exact_jaccard_join`` for quote / near-subset
    detection: ``C(a→b) = |Sa ∩ Sb| / |Sa| ≥ threshold`` flags document
    ``a`` as (nearly) contained in ``b`` regardless of how much LARGER
    ``b`` is — the case Jaccard structurally misses (a 50-token article
    quoted inside a 5000-token page has J ≈ 0.01 but C = 1.0). The
    classic crawl-dedup use: drop pages that merely embed another
    document.

    Prefix filter (set-containment-join form of Bayardo WWW'07): only
    the CONTAINED side needs a prefix — a pair with C ≥ t shares
    ≥ ceil(t·|Sa|) shingles, more than fit in a's suffix, so some
    shared shingle lies in a's df-ascending prefix. Candidates are
    prefix(a) ⋈ full(b): hot shingles (boilerplate trigrams) are pushed
    out of every prefix by the df ordering, so they generate ZERO
    candidates even though the container side is unfiltered.

    Returns DIRECTIONAL rows: (id_contained, id_container, inter,
    containment) — exact counts, one IEEE division each. Shuffle shape
    matches ``exact_jaccard_join``: df agg, per-doc rank window,
    candidate equi-join, verification join; raw text never shuffles."""
    t = float(threshold)
    sh = (
        shingle_relation(docs, id_col, text_col, n).cache()
        if shingles_df is None else _checked_shingles(shingles_df, n)
    )
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    dfreq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    w = Window.partitionBy("doc_id").orderBy(F.col("df").asc(), F.col("shingle").asc())
    ranked = (
        sh.join(dfreq, "shingle")
        .withColumn("rn", F.row_number().over(w))
        .join(sizes, "doc_id")
    )
    prefix = ranked.filter(
        F.col("rn") <= F.col("sz") - F.ceil(F.lit(t) * F.col("sz")) + F.lit(1)
    ).select("doc_id", "shingle")
    cand = (
        prefix.alias("a")
        .join(sh.alias("b"), "shingle")
        .filter(F.col("a.doc_id") != F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("id_contained"),
            F.col("b.doc_id").alias("id_container"),
        )
        .distinct()
    )
    inter = (
        cand.join(sh.withColumnRenamed("doc_id", "id_contained"), "id_contained")
        .join(
            sh.select(
                F.col("doc_id").alias("id_container"),
                F.col("shingle").alias("_shb"),
            ),
            ["id_container"],
        )
        .filter(F.col("shingle") == F.col("_shb"))
        .groupBy("id_contained", "id_container")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    return (
        inter.join(
            sizes.withColumnRenamed("doc_id", "id_contained"), "id_contained"
        )
        .withColumn("containment", F.col("inter") / F.col("sz"))
        .filter(F.col("containment") >= t)
        .select("id_contained", "id_container", "inter", "containment")
    )


# ----------------------------------------------------- quality-priority --
def minhash_dedup_keep_best(
    df: DataFrame,
    quality_col: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.8,
    **kw,
) -> DataFrame:
    """Near-dup dedup that keeps the BEST document per duplicate cluster
    (``quality_col`` descending, ``id_col`` ascending tiebreak) instead
    of the minimum id — the curation policy real training-data pipelines
    want: when a page was crawled five times, keep the longest/cleanest
    capture, not the one with the smallest crawl id.

    Pipeline: LSH candidate pairs → estimated-Jaccard gate → alternating
    large-star/small-star connected components → one row_number window
    per component. Docs in no cluster are their own singleton component
    (coalesce to own id), so the window pass sees every doc exactly
    once. Scale shape: the window partitions by component id — duplicate
    clusters are small (bounded by crawl multiplicity), so no partition
    skew; everything upstream is the bucket-first LSH path (no corpus
    cross join). Reference analogy: the silver-layer keep-latest dedup
    (silver_Transactions.py dropDuplicates) generalized to
    quality-ranked transitive closure.
    """
    pairs = minhash_near_dup_pairs(df, text_col, id_col, **kw)
    qual = pairs.filter(F.col("est_jaccard") >= threshold)
    comp = connected_components(qual, "id_a", "id_b")
    labeled = (
        df.join(comp.withColumnRenamed("node", id_col), id_col, "left")
        .withColumn("_comp", F.coalesce("component", F.col(id_col)))
        .drop("component")
    )
    w = Window.partitionBy("_comp").orderBy(
        F.col(quality_col).desc(), F.col(id_col).asc()
    )
    return (
        labeled.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") == 1)
        .drop("_rk", "_comp")
    )


def sorted_neighborhood_candidates(
    df: DataFrame,
    id_col: str,
    sort_key: Column,
    block_col: str | None = None,
    window: int = 3,
) -> DataFrame:
    """Sorted-neighborhood (SNM) candidate pairs — the classic record-
    linkage blocker (Hernández & Stolfo, SIGMOD 1995): sort records by
    a similarity-preserving key and pair each record with its next
    ``window-1`` neighbors in the sorted order. Linear candidates
    (≤ (w−1)·n pairs) instead of the n² cross product, catching fuzzy
    duplicates that exact-key blocking misses.

    Scale shape: production SNM is BLOCKED — pass ``block_col`` (e.g.
    language, domain) and the sort+lead window partitions by block,
    parallel across blocks with no global single-partition sort (a
    partitionBy-less Spark window collapses to ONE task; the block is
    what keeps this operator alive at 100 TB — standard blocking
    tradeoff: pairs never cross blocks, stated not hidden). Neighbors
    are emitted via ``lead`` columns — no self-join, ONE sort per
    block. ``block_col=None`` is the small-relation escape hatch and
    documents its own bottleneck.

    Ties in the sort key break by ``id_col`` so the candidate set is
    deterministic under any partitioning. Returns
    (block?, id_a, id_b, key_a, key_b) with id_a emitted before id_b
    in sort order.

    Reference parity: none (the reference has no record-linkage stage);
    mandated LLM-pipeline extension surface (near-dup candidate
    generation complementing MinHash/SimHash: SNM finds *prefix-close*
    near-dups at strictly linear candidate cost).
    """
    if window < 2:
        raise ValueError(f"sorted_neighborhood_candidates: window must be >= 2, got {window}")
    keyed = df.select(
        *([F.col(block_col).alias("_blk")] if block_col else []),
        F.col(id_col).alias("id_a"),
        sort_key.alias("key_a"),
    )
    w = (
        Window.partitionBy("_blk") if block_col else Window.partitionBy()
    ).orderBy(F.col("key_a").asc(), F.col("id_a").asc())
    leads = keyed.select(
        *(["_blk"] if block_col else []),
        "id_a",
        "key_a",
        F.array(
            *[
                F.struct(
                    F.lead("id_a", d).over(w).alias("id_b"),
                    F.lead("key_a", d).over(w).alias("key_b"),
                )
                for d in range(1, window)
            ]
        ).alias("_nbrs"),
    )
    out = (
        leads.select(
            *(["_blk"] if block_col else []),
            "id_a",
            "key_a",
            F.explode("_nbrs").alias("_nb"),
        )
        .filter(F.col("_nb.id_b").isNotNull())
        .select(
            *([F.col("_blk").alias(block_col)] if block_col else []),
            "id_a",
            F.col("_nb.id_b").alias("id_b"),
            "key_a",
            F.col("_nb.key_b").alias("key_b"),
        )
    )
    return out
