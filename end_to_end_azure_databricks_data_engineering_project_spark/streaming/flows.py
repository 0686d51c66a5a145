"""Flow registry + DAG runner: the medallion pipeline as declared flows.

Re-expresses the reference's silver notebook (``silver_Dimensions.py`` —
per-table: Autoloader read → cleanse → Delta append, trigger(once)) and
the gold DLT pipeline (``src/gold/dlt/transformations/*.py`` — staging
stream + expectations + ``create_auto_cdc_flow``) as a small registry of
declared flows run as a DAG: each flow starts once every flow it depends
on has succeeded, and flows with no path between them may run at the
same time. The DAG is the contract — two flows that write the same table
must declare a dependency.

Design choices vs the reference:
 - Silver flows run as **batch drains** over the autoload ledger
   (exactly-once semantics identical to ``trigger(once=True)`` streaming:
   both drain all available input once, checkpoint, and stop) — plus a
   true Structured-Streaming variant (``silver_stream``) for continuous
   mode, used by the streaming tests.
 - Gold flows call ``apply_changes`` (SCD1/SCD2) per drained batch —
   exactly what DLT's auto-CDC flow does per micro-batch.
 - DimArtist gets a gold flow too (the reference forgot it — SURVEY.md
   §2.9 coverage note).
"""

from __future__ import annotations

import functools
import os
import time
from collections.abc import Callable, Sequence
from concurrent.futures import FIRST_COMPLETED, Future, ThreadPoolExecutor, wait
from dataclasses import dataclass, field
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from end_to_end_azure_databricks_data_engineering_project_spark.config import TableConfig
from end_to_end_azure_databricks_data_engineering_project_spark.operators.cdc import apply_changes
from end_to_end_azure_databricks_data_engineering_project_spark.operators.expectations import (
    expect_all_or_drop,
)
from end_to_end_azure_databricks_data_engineering_project_spark.session import inherit_spark_locals
from end_to_end_azure_databricks_data_engineering_project_spark.sources.autoload import (
    RESCUE_COL,
    FileLedger,
    promote_rescued,
    read_new_files,
)
from end_to_end_azure_databricks_data_engineering_project_spark.sources.tables import (
    Catalog,
    ConcurrentWriteError,
)

Transform = Callable[[DataFrame], DataFrame]


@dataclass
class Flow:
    name: str
    run: Callable[[], int]  # returns rows processed
    depends_on: tuple[str, ...] = ()


@dataclass
class Pipeline:
    """≙ the DLT pipeline: declared datasets resolved into a DAG."""

    flows: dict[str, Flow] = field(default_factory=dict)

    def add(self, flow: Flow) -> None:
        self.flows[flow.name] = flow

    def topo_order(self) -> list[str]:
        order: list[str] = []
        seen: set[str] = set()

        def visit(n: str, stack: tuple[str, ...]) -> None:
            if n in stack:
                raise ValueError(f"cycle at {n}")
            if n in seen:
                return
            for d in self.flows[n].depends_on:
                if d in self.flows:
                    visit(d, stack + (n,))
            seen.add(n)
            order.append(n)

        for n in self.flows:
            visit(n, ())
        return order

    def run_all(
        self,
        on_event: Callable[[dict], None] | None = None,
        halt_on_failure: bool = True,
    ) -> dict[str, int]:
        """Run every flow, each as soon as every flow it depends on has
        succeeded (≙ DLT resolving the declared flows into a DAG).

        Flows with no path between them may run at the same time, each
        on its own driver thread with the caller's Spark local
        properties (job group, description, scheduler pool); Spark
        shares the cores among their jobs. The DAG is the contract: two
        flows that write the same table must declare a dependency.

        ``on_event``: optional observer called with one dict per flow
        transition — ``{"flow", "status": running|succeeded|failed|
        skipped, "rows", "seconds", "error"}``: ``running``, then one
        terminal event — the engine-level analog of the reference's
        failure alerting (readme.md:8 Logic-Apps email on ADF failure;
        ``email_notifications`` in spotify_dab.job.yml): the DELIVERY
        channel (email/webhook/pager) is platform wiring, but the
        detection, the structured payload, and the run ledger belong to
        the engine. Pair with ``run_report_hook`` to persist a queryable
        ops table. Every event is emitted on the calling thread, so
        observers never run concurrently, and a flow's terminal event
        is emitted before any of its dependents starts. Observer
        exceptions propagate (once the running flows end) — a broken
        alerting channel must be loud, not best-effort.

        ``halt_on_failure=True`` (default): after the first flow error
        no new flow starts, flows already running finish and emit their
        terminal events, then the first error is re-raised — downstream
        flows of a failed dependency must not run against missing
        inputs. ``False`` runs every flow not downstream of a failure,
        emits ``skipped`` for the (transitive) dependents of failed
        flows, and raises ONE summary error at the end.

        Returns ``{flow: rows}`` in topological order."""
        order = self.topo_order()
        pos = {n: i for i, n in enumerate(order)}
        results: dict[str, int] = {}
        failures: list[tuple[str, Exception]] = []
        unavailable: set[str] = set()  # failed flows + their dependents
        waiting = list(order)  # neither started nor skipped yet
        running: dict[Future, str] = {}

        def emit(evt: dict) -> None:
            if on_event is not None:
                on_event(evt)

        def timed(run: Callable[[], int]) -> tuple[int | None, Exception | None, float]:
            t0 = time.perf_counter()
            try:
                return run(), None, time.perf_counter() - t0
            except Exception as exc:
                return None, exc, time.perf_counter() - t0

        with ThreadPoolExecutor(max_workers=max(len(order), 1)) as pool:
            while True:
                if failures and halt_on_failure:
                    waiting.clear()  # no new flow starts after a failure
                # topological scan: a flow skipped here is seen by its
                # dependents later in the same scan
                for n in list(waiting):
                    deps = [d for d in self.flows[n].depends_on if d in self.flows]
                    skip = next((d for d in deps if d in unavailable), None)
                    if skip is not None:
                        waiting.remove(n)
                        unavailable.add(n)
                        emit({"flow": n, "status": "skipped", "rows": None,
                              "seconds": 0.0, "error": f"dependency {skip} failed"})
                    elif all(d in results for d in deps):
                        waiting.remove(n)
                        emit({"flow": n, "status": "running", "rows": None,
                              "seconds": None, "error": None})
                        fut = pool.submit(inherit_spark_locals(timed), self.flows[n].run)
                        running[fut] = n
                if not running:
                    break
                done, _ = wait(running, return_when=FIRST_COMPLETED)
                for fut in sorted(done, key=lambda f: pos[running[f]]):
                    n = running.pop(fut)
                    rows, exc, secs = fut.result()
                    if exc is None:
                        results[n] = rows
                        emit({"flow": n, "status": "succeeded", "rows": rows,
                              "seconds": round(secs, 3), "error": None})
                    else:
                        failures.append((n, exc))
                        unavailable.add(n)
                        emit({"flow": n, "status": "failed", "rows": None,
                              "seconds": round(secs, 3),
                              "error": f"{type(exc).__name__}: {exc}"[:500]})
        if failures and halt_on_failure:
            raise failures[0][1]
        if failures:
            names = ", ".join(f for f, _ in failures)
            raise RuntimeError(
                f"pipeline finished with {len(failures)} failed flow(s): "
                f"{names}"
            ) from failures[0][1]
        return {n: results[n] for n in order if n in results}


def silver_flow(
    spark: SparkSession,
    cfg: TableConfig,
    bronze_root: str,
    catalog: Catalog,
    state_root: str,
    cleanse: Transform | None = None,
    promote: Sequence[tuple[str, object]] | None = None,
) -> Callable[[], int]:
    """Silver refine: drain new bronze files → rescue → cleanse → append.

    ≙ silver_Dimensions.py per-table chain (cloudFiles read → withColumn
    cleanses → drop _rescued_data → writeStream trigger(once) to Delta).

    ``promote``: [(rescued_field, spark_type), ...] — the operator-
    approved half of Autoloader's addNewColumns evolution
    (silver_Dimensions.py:27-28): each listed field is lifted out of
    ``_rescued_data`` into a first-class typed column BEFORE the rescue
    column is dropped, and the append runs with ``evolve=True`` so the
    silver schema widens in place (prior rows read back NULL for the
    new column). Fields absent from a batch promote as NULL — the list
    is a standing declaration, safe to leave in place across drains.
    """

    def run() -> int:
        import hashlib
        import json as _json

        src = str(Path(bronze_root) / cfg.table)
        loc = str(Path(state_root) / f"autoload_{cfg.table}")
        ledger = FileLedger(loc)
        table = catalog.table(f"silver_{cfg.table}")
        # Content-addressed drain WAL. The file set a drain processes is
        # PINNED in a sidecar (``drain_<digest>.json``) written BEFORE
        # the append, and the append COMMIT records that digest as a
        # commit-atomic table property. Bookkeeping (``ledger.commit``)
        # may therefore only ever cover files PROVEN appended: the WAL
        # set whose digest the table itself recorded. A losing racer's
        # listing (or a stale intent) references a digest the table
        # never recorded, so its files can never be falsely marked seen
        # — they are simply re-discovered by a later drain. This closes
        # both halves of the r6 advisor hole: a drain that loses the
        # same-epoch append race, and an epoch-skip entered via a fresh
        # listing, both now mark NOTHING seen.
        wal_dir = Path(loc)

        def _wal_path(digest: str) -> Path:
            return wal_dir / f"drain_{digest}.json"

        # -- recovery: finish crashed bookkeeping before listing --
        # If the last committed append recorded a WAL digest whose files
        # are not yet all in the ledger, the writer crashed between
        # append and ledger-commit; finish exactly that pinned set.
        applied_digest = table.table_prop("autoload_drain_wal")
        if applied_digest is not None:
            wal_p = _wal_path(applied_digest)
            if wal_p.exists():
                wal_files = set(_json.loads(wal_p.read_text())["files"])
                pending = wal_files - ledger.seen()
                if pending:
                    ledger.commit(pending)
                wal_p.unlink()
        # GC orphan sidecars (crashed before append, or losing racers)
        # only once every file they pin is ledger-seen — an in-flight
        # concurrent drain's WAL must survive until its bookkeeping is
        # durable, else a crash-after-append becomes unrecoverable.
        seen_now = ledger.seen()
        for orphan in wal_dir.glob("drain_*.json"):
            try:
                if set(_json.loads(orphan.read_text())["files"]) <= seen_now:
                    orphan.unlink()
            except (OSError, ValueError, KeyError):
                continue

        df, batch = read_new_files(spark, src, cfg.spark_schema, loc)
        if df is None:
            return 0
        # ledger-size epoch: two drains over the same ledger state race
        # to one append; the in-lock epoch guard picks exactly one.
        epoch = len(ledger.seen())
        files_sorted = sorted(batch)
        digest = hashlib.sha256("\n".join(files_sorted).encode()).hexdigest()[:16]
        wal_p = _wal_path(digest)
        tmp = wal_p.with_suffix(".tmp")
        tmp.write_text(_json.dumps({"files": files_sorted, "epoch": epoch}))
        os.replace(tmp, wal_p)
        if cleanse is not None:
            df = cleanse(df)
        for p_field, p_type in promote or ():
            df = promote_rescued(df, p_field, p_type)
        df = df.drop(RESCUE_COL)
        from pyspark.sql import Observation

        obs = Observation()
        df = df.observe(obs, F.count(F.lit(1)).alias("n"))
        # rowcount rides the single write action (no separate count scan)
        committed = table.append(
            df, epoch=epoch, epoch_key="autoload_drain",
            # enable_cdf: DLT enables the change feed on apply-changes
            # SOURCES by default — silver merges/DML then materialize
            # exact change rows ONCE at write time (touched scope only)
            # instead of every gold drain paying an exceptAll diff;
            # appends cost nothing extra (the feed reads added files
            # directly). Set on every commit, idempotent; on a pre-r12
            # table it lands as a protocol upgrade (writer v4).
            set_props={"autoload_drain_wal": digest, "enable_cdf": "true"},
            evolve=bool(promote),
            # creation-time partitioning declaration (no-op once bound)
            partition_by=list(cfg.partition_by) or None,
        )
        if committed is None:
            # Epoch already applied. Two distinct cases:
            #  * The committed WAL digest equals OURS: this exact file
            #    set was appended (either by us on a crash-replay, or by
            #    a racer with an identical listing). The commit-atomic
            #    property is proof — finish the bookkeeping here instead
            #    of deferring it to the next drain's recovery pre-pass
            #    (deferral left the ledger absent for a full drain cycle,
            #    re-listing/re-reading the whole batch on every replay).
            #  * Digest mismatch: we lost the race to a winner with a
            #    DIFFERENT listing. Mark nothing seen — any file the
            #    winner did not append stays out of the ledger and is
            #    re-discovered next drain; drop our sidecar.
            if table.table_prop("autoload_drain_wal") == digest:
                ledger.commit(batch)
            wal_p.unlink(missing_ok=True)
            return 0
        ledger.commit(batch)  # commit AFTER the sink write
        wal_p.unlink(missing_ok=True)
        return obs.get["n"]

    return run


def gold_flow(
    spark: SparkSession,
    cfg: TableConfig,
    catalog: Catalog,
    state_root: str,
) -> Callable[[], int]:
    """Gold CDC: drain new silver rows → expectations gate → SCD
    apply_changes (≙ dimuser_stg + auto-CDC flow, DimUser.py:7-29).

    The drain cursor is the silver TABLE VERSION, not a data-column
    watermark: ``appended_since(last_v)`` yields exactly the rows of
    append commits after the cursor, so rows whose cdc value ties the
    previous max are never lost (the strict-'>' boundary bug a value
    watermark has at second-granularity timestamps). A crash between
    apply_changes and the cursor write replays the delta — safe, because
    SCD merges drop stale/duplicate sequence rows (idempotent).

    Incremental ACROSS maintenance and merges (r10 verdict #2 — DLT's
    continuous apply-changes done end-to-end): silver COMPACTION is
    transparent to ``appended_since`` (dataChange=false, zero delta),
    and when a silver MERGE or predicate DML breaks the append chain
    the drain consumes the CHANGE FEED instead — ``changes_since``
    yields row-level changes from the touched files (or the
    materialized CDF files on cdf-enabled tables). DELETES PROPAGATE
    (r12; the r11 drain was upsert-only): delete change rows route into
    ``apply_changes(delete_expr=...)`` — ≙ DLT
    ``create_auto_cdc_flow(apply_as_deletes=...)``, the API surface of
    DimUser.py:20-29 — per ``cfg.on_delete``: 'propagate' closes the
    SCD2 open version / removes the SCD1 row, 'erase' purges the key's
    whole SCD2 history (GDPR — close isn't erasure), 'ignore' keeps
    the old upsert-only behavior.

    The change feed is paired PER SILVER COMMIT, not as one feed over
    the whole range: within one commit a delete+insert of the same key
    IS an update (snapshot-diff pairing is exact), but across commits
    the pairing loses ordering — an update in commit 3 plus a true
    delete in commit 5 must not cancel into "update". The per-commit
    batches are then tagged with their commit ordinal and gated as one
    union, and the gate aggregation also reports whether any key has
    rows in two commits. When no key does, ONE SCD merge applies the
    whole range. That is exact: both SCD merges are key-local (a key's
    outcome depends only on its own rows — ``merge_keyed``'s contract),
    and every key's rows come from a single commit, so each key sees
    exactly the rows its per-commit merge would have seen. When a key
    does span commits, the drain merges the commits one at a time, in
    commit order, as before.

    Only a genuine snapshot replacement (overwrite / restore) still
    falls back to the full re-read, which stays safe under the SCD
    merges' stale-drop + no-op suppression — though it cannot recover
    deletes (nothing to diff against); a GDPR pipeline should avoid
    snapshot-replacing silver between drains."""
    DEL_FLAG = "__cdc_delete"
    ORD = "__cdc_commit"
    keys = list(cfg.keys)

    def _gate(batch: DataFrame, with_deletes: bool) -> DataFrame:
        if with_deletes:
            # expectation EXEMPTION for delete rows (r13): a delete
            # change row carries the deleted row's OLD column values;
            # gating those through expect_all_or_drop would silently
            # drop the removal whenever the old values fail a rule —
            # the gold SCD key never closes, and under
            # on_delete='erase' a GDPR erasure request is silently
            # skipped. Expectations validate incoming row STATE, not
            # removals: gate upserts only, pass deletes through.
            gated = expect_all_or_drop(
                batch.filter(~F.col(DEL_FLAG)), cfg.expectations,
                observe=False,
            ).df.unionByName(batch.filter(F.col(DEL_FLAG)))
        else:
            gated = expect_all_or_drop(
                batch, cfg.expectations, observe=False
            ).df
        # cache: the gated batch feeds count, key discovery and the
        # merge write — one silver scan + expectation filter, not three
        return gated.cache()

    def _key_bounds() -> list:
        # r14 (guide §2.4): the gate count and the merge's file-prune
        # key bounds ride ONE aggregation job (previously count here
        # + a second bounds pass inside merge_keyed per apply).
        aggs = []
        for i, k in enumerate(keys):
            aggs.append(F.min(F.col(k)).alias(f"__lo{i}"))
            aggs.append(F.max(F.col(k)).alias(f"__hi{i}"))
        return aggs

    def _merge(gold, gated: DataFrame, stat, with_deletes: bool) -> int:
        n = stat["__n"] or 0  # a sum over zero keys is NULL
        if n > 0:
            apply_changes(
                gold, gated,
                keys=keys, sequence_by=cfg.cdc_col,
                scd_type=cfg.scd_type,
                delete_expr=DEL_FLAG if with_deletes else None,
                except_columns=(DEL_FLAG,) if with_deletes else (),
                delete_mode="erase" if cfg.on_delete == "erase" else "close",
                key_bounds={
                    k: (stat[f"__lo{i}"], stat[f"__hi{i}"])
                    for i, k in enumerate(keys)
                },
            )
        return n

    def _count_and_bounds(gated: DataFrame):
        return gated.agg(F.count(F.lit(1)).alias("__n"), *_key_bounds()).first()

    def _apply(gold, batch: DataFrame, with_deletes: bool) -> int:
        gated = _gate(batch, with_deletes)
        try:
            return _merge(gold, gated, _count_and_bounds(gated), with_deletes)
        finally:
            gated.unpersist()

    def _apply_commits(gold, batches: list[DataFrame], with_deletes: bool) -> int:
        """Apply per-commit batches in commit order: one merge when no
        key has rows in two commits, one merge per commit otherwise."""
        if len(batches) == 1:
            return _apply(gold, batches[0], with_deletes)
        tagged = [b.withColumn(ORD, F.lit(i)) for i, b in enumerate(batches)]
        gated = _gate(functools.reduce(DataFrame.unionByName, tagged), with_deletes)
        try:
            # the gate count and key bounds fold per key first, so the
            # same job also reports whether a key spans two commits
            stat = (
                gated.groupBy(*keys)
                .agg(
                    F.count(F.lit(1)).alias("__n"),
                    (F.min(ORD) != F.max(ORD)).alias("__span"),
                )
                .agg(
                    F.sum("__n").alias("__n"),
                    F.max("__span").alias("__span"),
                    *_key_bounds(),
                )
                .first()
            )
            if not stat["__span"]:
                return _merge(gold, gated.drop(ORD), stat, with_deletes)
            n = 0
            for i in range(len(batches)):
                part = gated.filter(F.col(ORD) == i).drop(ORD)
                n += _merge(gold, part, _count_and_bounds(part), with_deletes)
            return n
        finally:
            gated.unpersist()

    def run() -> int:
        silver = catalog.table(f"silver_{cfg.table}")
        if not silver.exists():
            return 0
        gold = catalog.table(f"gold_{cfg.table}")
        marker = Path(state_root) / f"gold_{cfg.table}.applied_v"
        last_v = int(marker.read_text()) if marker.exists() else None
        cur_v = silver.current_version()
        if last_v == cur_v:
            # silver has not moved: nothing to drain, no Spark job. Not
            # ``>=``: a recreated silver table restarts at a LOWER
            # version and must take the full-read path below, which
            # resets the cursor.
            return 0
        src = silver.appended_since(last_v, until=cur_v)
        n = None
        if src is not None:
            n = _apply(gold, src, False)
        elif last_v is not None:
            # merge/DML in range: row-level change feed instead of
            # O(table), folded per commit (see docstring)
            vs = silver._committed_in_range(last_v, cur_v)
            if vs is not None:
                feeds = []
                prev = last_v
                for vv in vs:
                    feed = silver.changes_since(
                        prev, keys=list(cfg.keys), until=vv
                    )
                    if feed is None:
                        feeds = None
                        break
                    feeds.append(feed)
                    prev = vv
                if feeds is not None:
                    if cfg.on_delete == "ignore":
                        batches = [
                            feed.filter(
                                F.col("_change_type").isin(
                                    "insert", "update_post"
                                )
                            ).drop("_change_type")
                            for feed in feeds
                        ]
                    else:
                        batches = [
                            feed.filter(F.col("_change_type") != "update_pre")
                            .withColumn(
                                DEL_FLAG, F.col("_change_type") == "delete"
                            )
                            .drop("_change_type")
                            for feed in feeds
                        ]
                    n = _apply_commits(
                        gold, batches, cfg.on_delete != "ignore"
                    )
        if n is None:
            # No cursor yet, or a snapshot replacement (overwrite /
            # restore / legacy upgrade) in range: full read. Replaying
            # already-applied rows is a no-op under the SCD merges'
            # stale-drop + no-op suppression.
            n = _apply(gold, silver.read(), False)
        # Advance the cursor even on an empty delta (skip re-scans).
        # tmp + rename like every other state file: a crash mid-write
        # must not leave a truncated cursor that wedges every later run.
        tmp = marker.with_suffix(".tmp")
        tmp.write_text(str(cur_v))
        os.replace(tmp, marker)
        return n

    return run


def gold_stream(
    spark: SparkSession,
    cfg: TableConfig,
    catalog: Catalog,
    state_root: str,
    checkpoint_root: str,
    tick_seconds: int = 1,
):
    """CONTINUOUS gold (r12 verdict #6): the change-feed drain that
    ``gold_flow`` runs per call, driven as a true Structured Streaming
    query — so the whole medallion runs end-to-end like DLT continuous
    mode (``once=False``, reference DimUser.py:29): bronze autoload →
    ``silver_stream`` → this.

    A rate source provides the trigger cadence; each micro-batch
    executes ONE incremental drain — silver commits ``(cursor, head]``
    consumed through ``appended_since``/``changes_since`` exactly as
    the batch drain does, deletes propagating per ``cfg.on_delete``.
    The rate rows themselves are never touched (no action runs on
    them): the stream is a scheduler, the DRAIN owns correctness.

    Exactly-once does NOT lean on the stream checkpoint: the version
    cursor lives in the drain's atomic marker file
    (``<state>/gold_<t>.applied_v``), a replayed/duplicate tick drains
    an empty delta to a no-op, and the SCD merges drop stale/duplicate
    sequence rows — so kill/restart at ANY point (with or without the
    checkpoint dir surviving) converges to the same gold state as the
    equivalent batch drains. Returns the StreamingQuery; caller stops
    it."""
    drain = gold_flow(spark, cfg, catalog, state_root)

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        drain()

    return (
        spark.readStream.format("rate")
        .option("rowsPerSecond", 1)
        .load()
        .writeStream.foreachBatch(sink)
        .option(
            "checkpointLocation",
            str(Path(checkpoint_root) / f"gold_stream_{cfg.table}"),
        )
        .trigger(processingTime=f"{tick_seconds} seconds")
        .start()
    )


def build_medallion_pipeline(
    spark: SparkSession,
    configs: Sequence[TableConfig],
    bronze_root: str,
    warehouse_root: str,
    state_root: str,
    cleansers: dict[str, Transform] | None = None,
    promotions: dict[str, Sequence[tuple[str, object]]] | None = None,
) -> tuple[Pipeline, Catalog]:
    """Wire silver+gold flows for every configured table.

    ``promotions``: per-table rescued-field promotion declarations,
    passed through to ``silver_flow(promote=...)``."""
    Path(state_root).mkdir(parents=True, exist_ok=True)
    catalog = Catalog(spark, warehouse_root)
    pipe = Pipeline()
    cleansers = cleansers or {}
    promotions = promotions or {}
    for cfg in configs:
        pipe.add(
            Flow(
                f"silver_{cfg.table}",
                silver_flow(spark, cfg, bronze_root, catalog, state_root,
                            cleansers.get(cfg.table),
                            promote=promotions.get(cfg.table)),
            )
        )
        pipe.add(
            Flow(
                f"gold_{cfg.table}",
                gold_flow(spark, cfg, catalog, state_root),
                depends_on=(f"silver_{cfg.table}",),
            )
        )
    return pipe, catalog


def run_neardup_drain(
    catalog: Catalog,
    batch: DataFrame,
    epoch: int,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 8,
    shingle_n: int = 3,
) -> tuple[int, int]:
    """One exactly-once drain of the incremental near-dup pipeline:
    probe the persistent LSH index table with a new document batch,
    append the discovered pairs to ``neardup_pairs`` and the batch's
    index rows to ``neardup_index``.

    Exactly-once: both appends carry the caller's drain ``epoch`` (same
    key, per-table applied-epoch tracking) — a crash between the two
    appends replays the epoch, the already-applied append is skipped
    BEFORE any compute (the guard is a pointer-file read), and the
    missing one lands. Recomputing the pairs against the not-yet-
    updated index yields the identical frame (pair generation is
    per-pair local, and re-ingested ids are anti-joined away), so the
    skip is safe.

    Single-action drains: each append executes its plan exactly once —
    the row count rides the write via ``observe()`` instead of a
    separate ``count()`` action, so the index⋈batch probe join is never
    computed twice (a fully-replayed epoch computes it zero times).

    Scale: the batch's text is scanned once (signatures cached); the
    stored index is probed with one equi-join on the band key and its
    text is never rescanned — the 100 TB daily-drain shape.

    Returns (pairs appended, index rows appended); (0, 0) when the
    epoch was already fully applied."""
    from pyspark.sql import Observation

    from end_to_end_azure_databricks_data_engineering_project_spark.operators.dedup import (
        incremental_near_dup_pairs,
    )

    idx_table = catalog.table("neardup_index")
    pairs_table = catalog.table("neardup_pairs")

    def _applied(table) -> bool:
        stored = table.applied_epoch("neardup_drain")
        return stored is not None and epoch <= stored

    pairs_done, index_done = _applied(pairs_table), _applied(idx_table)
    if pairs_done and index_done:
        return 0, 0
    existing = idx_table.read() if idx_table.exists() else None
    pairs, new_rows = incremental_near_dup_pairs(
        existing, batch, text_col, id_col, num_hashes, bands, shingle_n
    )
    n_pairs = n_new = 0
    try:
        if not pairs_done:
            obs = Observation()
            committed = pairs_table.append(
                pairs.observe(obs, F.count(F.lit(1)).alias("n")),
                epoch=epoch, epoch_key="neardup_drain",
            )
            # None = a concurrent replay applied the epoch between our
            # pre-check and the append; the observed plan may never have
            # run, so only read obs after a real commit (else get blocks)
            n_pairs = obs.get["n"] if committed is not None else 0
        if not index_done:
            obs = Observation()
            committed = idx_table.append(
                new_rows.observe(obs, F.count(F.lit(1)).alias("n")),
                epoch=epoch, epoch_key="neardup_drain",
            )
            n_new = obs.get["n"] if committed is not None else 0
    finally:
        new_rows.unpersist()
    return n_pairs, n_new


def _clear_orphan_table_location(spark: SparkSession, table_name: str) -> None:
    """Remove a stale managed-table LOCATION that the metastore no
    longer (or never) knows about — the leftover a killed ``saveAsTable``
    run strands under ``spark.sql.warehouse.dir``. Only ever called
    AFTER ``tableExists`` returned False, so the directory is provably
    an orphan (deleting a live table's location would corrupt it).
    Handles bare and ``db.table`` names (``<wh>/<db>.db/<table>``)."""
    import shutil
    from urllib.parse import urlparse

    wh = spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse")
    root = Path(urlparse(wh).path or wh)
    parts = table_name.lower().split(".")
    loc = (
        root / parts[0]
        if len(parts) == 1
        else root / f"{parts[-2]}.db" / parts[-1]
    )
    if loc.is_dir():
        shutil.rmtree(loc, ignore_errors=True)


def run_neardup_drain_bucketed(
    spark: SparkSession,
    catalog: Catalog,
    batch: DataFrame,
    epoch: int,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 8,
    shingle_n: int = 3,
    index_table: str = "neardup_index_bucketed",
    n_buckets: int = 32,
) -> tuple[int, int]:
    """`run_neardup_drain` with the stored LSH index kept as a Spark
    BUCKETED table on the probe key — the 100 TB layout.

    The index is bucketed+sorted by ``(band_idx, band_key)``, exactly
    the probe join's equi-keys, so the daily batch⋈index join reads the
    index with NO Exchange and NO Sort on the index side, every drain
    (plan-asserted in tests). Only the small batch shuffles (or, when
    it fits the broadcast threshold, nothing shuffles at all — AQE
    picks a broadcast of the batch onto the index scan). The index
    grows by appended bucket files; old files are never rewritten.

    Exactly-once without a transaction log on the index: re-ingested /
    replayed ids are anti-joined away inside
    ``incremental_near_dup_pairs`` (first write wins), so a replayed
    epoch appends zero index rows; the pairs table keeps the
    ManagedTable epoch guard. Crash between the two appends replays to
    the identical pair frame and the already-applied side skips.

    Returns (pairs appended, index rows appended)."""
    from pyspark.sql import Observation

    from end_to_end_azure_databricks_data_engineering_project_spark.operators.dedup import (
        incremental_index_rows,
        incremental_near_dup_pairs,
    )

    pairs_table = catalog.table("neardup_pairs")
    if spark.catalog.tableExists(index_table):
        existing = spark.table(index_table)
    else:
        existing = None
        # leftover-robustness (r12 verdict #2): a killed run can leave
        # the managed LOCATION on disk while the (fresh) metastore has
        # no table — the next saveAsTable then dies with
        # LOCATION_ALREADY_EXISTS. The metastore is authoritative here:
        # no table ⇒ the directory is an orphan; clear it so the drain
        # heals instead of wedging (every other persistent drain gets
        # this from ManagedTable's claim/commit protocol).
        _clear_orphan_table_location(spark, index_table)
    stored = pairs_table.applied_epoch("neardup_drain_bucketed")
    pairs_applied = stored is not None and epoch <= stored
    if pairs_applied:
        # Replay fast path: the pairs side already committed, so only
        # the index side can be missing rows (crash between the two
        # writes). Compute JUST the batch's index rows — signature pass
        # + first-write-wins anti-join, NO probe join (the expensive
        # index⋈batch step exists only to produce pairs) — and run the
        # idempotent bucketed append; a fully-applied replay anti-joins
        # to zero rows.
        pairs = None
        new_rows = incremental_index_rows(
            existing, batch, text_col, id_col, num_hashes, bands, shingle_n
        )
    else:
        pairs, new_rows = incremental_near_dup_pairs(
            existing, batch, text_col, id_col, num_hashes, bands, shingle_n
        )
    try:
        n_pairs = 0
        if not pairs_applied:
            obs = Observation()
            committed = pairs_table.append(
                pairs.observe(obs, F.count(F.lit(1)).alias("n")),
                epoch=epoch, epoch_key="neardup_drain_bucketed",
            )
            n_pairs = obs.get["n"] if committed is not None else 0
        obs2 = Observation()
        (
            new_rows.observe(obs2, F.count(F.lit(1)).alias("n"))
            .write.mode("append")
            .bucketBy(n_buckets, "band_idx", "band_key")
            .sortBy("band_idx", "band_key")
            .format("parquet")
            .saveAsTable(index_table)
        )
        n_new = obs2.get["n"]
    finally:
        new_rows.unpersist()
    return n_pairs, n_new


def run_ann_index_drain(
    catalog: Catalog,
    batch: DataFrame,
    epoch: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    coarse_k: int = 4,
    m: int = 2,
    k_sub: int = 4,
    n_iter: int = 2,
    dim: int = 64,
    table_name: str = "ann_index",
) -> int:
    """One exactly-once drain of an incremental IVF-PQ index: encode the
    new embedding batch and append its (id, cluster, codes) rows to the
    persistent ``ann_index`` table.

    The model (coarse centroids + residual codebooks) is trained ONCE —
    on the first drain's batch — and FROZEN as a commit-atomic table
    property (``ivfpq_model``, JSON; few KB at these shapes — larger
    models should store a file path + content hash instead, same
    binding rule): retraining would silently re-partition the space and
    orphan every previously-stored code. Later drains encode only their
    batch against the stored model (scan-stage, shuffle-free — see
    ivfpq_encode_with) and append. The property expectation is checked
    INSIDE the same locked commit that appends (exactly the
    ``run_hll_drain`` m-binding rule), so a drain racing with a
    different model, or against a table whose model changed under it,
    fails loudly instead of mixing incompatible codes.

    Query the index any time with ``pq.ivfpq_topk(index.read(), …)``
    using the stored model (``ann_index_model(catalog)``).

    Exactly-once: the append carries the caller's ``epoch`` — a
    replayed micro-batch skips before any compute. Returns rows
    appended, or -1 on a replay no-op."""
    import json as _json

    from pyspark.sql import Observation

    from end_to_end_azure_databricks_data_engineering_project_spark.operators.ivf import (
        ivf_assign,
        kmeans_fit,
    )
    from end_to_end_azure_databricks_data_engineering_project_spark.operators.pq import (
        ivfpq_encode_with,
        pq_fit,
        residuals,
    )

    table = catalog.table(table_name)
    stored_model = table.table_prop("ivfpq_model")
    if stored_model is not None:
        model = _json.loads(stored_model)
        if (len(model["centroids"]), len(model["codebooks"])) != (coarse_k, m) or len(
            model["codebooks"][0]
        ) != k_sub:
            # early, friendly version of the commit-time check
            raise ValueError(
                f"{table_name} was built with k={len(model['centroids'])}, "
                f"m={len(model['codebooks'])}, k_sub={len(model['codebooks'][0])}; "
                f"refusing to encode with k={coarse_k}, m={m}, k_sub={k_sub} "
                "(codes from different models never mix)"
            )
        cents, cbs = model["centroids"], model["codebooks"]
        model_json = stored_model
    else:
        cents = kmeans_fit(batch, vec_col=vec_col, id_col=id_col, k=coarse_k, n_iter=n_iter)
        res = residuals(ivf_assign(batch, cents, vec_col=vec_col), cents, vec_col=vec_col)
        cbs = pq_fit(res, vec_col="residual", id_col=id_col, m=m, k_sub=k_sub,
                     n_iter=n_iter, dim=dim)
        # json round-trips python floats exactly (shortest-repr)
        model_json = _json.dumps({"centroids": cents, "codebooks": cbs})
    applied = table.applied_epoch("ann_index_drain")
    if applied is not None and epoch <= applied:
        return -1
    encoded = ivfpq_encode_with(batch, cents, cbs, vec_col=vec_col, dim=dim).select(
        id_col, "cluster", "codes"
    )
    obs = Observation()
    v_new = table.append(
        encoded.observe(obs, F.count(F.lit(1)).alias("n")),
        epoch=epoch,
        epoch_key="ann_index_drain",
        set_props={"ivfpq_model": model_json},
        expect_props={"ivfpq_model": model_json},
    )
    if v_new is None:
        # a concurrent replay applied the epoch between our pre-check
        # and the append: nothing committed — honor the replay-no-op
        # contract. NB: obs is only read after a real commit — when
        # append short-circuits on the epoch guard the observed plan
        # never executed and obs.get would block forever.
        return -1
    return obs.get["n"]


def ann_index_model(
    catalog: Catalog, table_name: str = "ann_index"
) -> tuple[list[list[float]], list[list[list[float]]]]:
    """The frozen (coarse centroids, residual codebooks) bound to an
    incremental ANN index table — what ``pq.ivfpq_topk`` needs to query
    it."""
    import json as _json

    stored = catalog.table(table_name).table_prop("ivfpq_model")
    if stored is None:
        raise ValueError(f"{table_name} has no bound ivfpq_model yet")
    model = _json.loads(stored)
    return model["centroids"], model["codebooks"]


def cdc_stream(
    spark: SparkSession,
    cfg: TableConfig,
    bronze_root: str,
    catalog: Catalog,
    checkpoint_root: str,
    cleanse: Transform | None = None,
):
    """TRUE streaming CDC: bronze file stream → cleanse → expectations →
    SCD apply_changes per micro-batch (foreachBatch). This is exactly
    DLT's auto-CDC execution shape (a managed streaming query whose sink
    is the keyed merge, reference DimUser.py:20-29) — checkpointed,
    exactly-once through the merge's stale-drop idempotence.

    Returns the StreamingQuery; caller awaits termination."""
    from end_to_end_azure_databricks_data_engineering_project_spark.sources.autoload import stream_source

    src = str(Path(bronze_root) / cfg.table)
    df = stream_source(spark, src, cfg.spark_schema)
    if cleanse is not None:
        df = cleanse(df)
    df = df.drop(RESCUE_COL)
    table = catalog.table(f"gold_{cfg.table}")

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        gated = expect_all_or_drop(batch_df, cfg.expectations, observe=False).df
        apply_changes(
            table, gated, keys=list(cfg.keys),
            sequence_by=cfg.cdc_col, scd_type=cfg.scd_type,
        )

    return (
        df.writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(Path(checkpoint_root) / f"cdc_{cfg.table}"))
        .trigger(availableNow=True)
        .start()
    )


def silver_stream(
    spark: SparkSession,
    cfg: TableConfig,
    bronze_root: str,
    catalog: Catalog,
    checkpoint_root: str,
    cleanse: Transform | None = None,
    quarantine: bool = False,
    promote: Sequence[tuple[str, object]] | None = None,
):
    """Continuous silver refine as true Structured Streaming with a
    foreachBatch sink. Genuinely exactly-once: foreachBatch is
    at-least-once, so the append records the epoch_id in the table
    commit and a replayed micro-batch (crash after append, before
    checkpoint commit) is skipped instead of duplicated.

    ``quarantine=True`` (with ``cfg.expectations`` set) routes rule-
    violating rows to ``quarantine_<table>`` tagged with the violated
    rule names instead of dropping them — the DLT quarantine-table
    pattern; both appends are epoch-guarded, so a replayed micro-batch
    duplicates neither side. Returns the StreamingQuery; caller stops
    it.

    ``promote``: same rescued-field promotion contract as
    ``silver_flow`` — the two modes of the silver refine must produce
    the SAME data for the same bronze input, so a declared promotion
    applies here too (lifted before the rescue column drops; appends
    run with evolve=True)."""
    from end_to_end_azure_databricks_data_engineering_project_spark.sources.autoload import stream_source

    src = str(Path(bronze_root) / cfg.table)
    df = stream_source(spark, src, cfg.spark_schema)
    if cleanse is not None:
        df = cleanse(df)
    for p_field, p_type in promote or ():
        df = promote_rescued(df, p_field, p_type)
    df = df.drop(RESCUE_COL)
    table = catalog.table(f"silver_{cfg.table}")
    q_table = (
        catalog.table(f"quarantine_{cfg.table}")
        if quarantine and cfg.expectations
        else None
    )
    evolve = bool(promote)

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        if q_table is None:
            table.append(
                batch_df, epoch=epoch_id, epoch_key=f"silver_stream_{cfg.table}",
                evolve=evolve,
            )
            return
        from end_to_end_azure_databricks_data_engineering_project_spark.operators.expectations import (
            expect_all_or_quarantine,
        )

        # both outputs filter the same tagged frame — persist so the
        # micro-batch is scanned once, not once per sink
        batch_df.persist()
        try:
            passed, bad = expect_all_or_quarantine(batch_df, cfg.expectations)
            table.append(
                passed, epoch=epoch_id, epoch_key=f"silver_stream_{cfg.table}",
                evolve=evolve,
            )
            q_table.append(
                bad, epoch=epoch_id, epoch_key=f"silver_stream_q_{cfg.table}",
                evolve=evolve,
            )
        finally:
            batch_df.unpersist()

    return (
        df.writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(Path(checkpoint_root) / cfg.table))
        .trigger(availableNow=True)
        .start()
    )


def run_exact_dedup_drain(
    catalog: Catalog,
    batch: DataFrame,
    epoch: int,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> tuple[int, int]:
    """One exactly-once drain of incremental EXACT dedup — the
    fingerprint complement of ``run_neardup_drain``: md5-fingerprint
    the new batch (normalized text), keep one canonical doc per
    fingerprint (first write wins — stored index beats batch, smallest
    id wins within the batch), append the survivors' (fp, doc_id) to
    the persistent ``exact_index`` table and every dropped duplicate to
    ``exact_dups`` as (doc_id, dup_of).

    Exactly-once: both appends carry the drain epoch; the duplicate
    decision for a replayed epoch is identical because re-ingested
    fingerprints resolve against the index the same way (first write
    wins), so a crash between the appends replays safely.

    Scale: the batch text is fingerprinted in one scan (cached as two
    id+hash columns); the stored index joins on the fingerprint only —
    its text was never stored, nothing rescans the corpus. The index
    grows one row per UNIQUE document, not per ingested row.

    Returns (index rows appended, duplicates appended)."""
    from pyspark.sql import Observation, Window as W

    from end_to_end_azure_databricks_data_engineering_project_spark.functions.scalars import fingerprint

    idx_table = catalog.table("exact_index")
    dups_table = catalog.table("exact_dups")

    def _applied(table) -> bool:
        stored = table.applied_epoch("exact_dedup_drain")
        return stored is not None and epoch <= stored

    idx_done, dups_done = _applied(idx_table), _applied(dups_table)
    if idx_done and dups_done:
        return 0, 0

    # NULL text is fingerprinted like empty text (coalesce before the
    # hash): a NULL fp would group inside the batch window but never
    # match the stored-index equi-join, so cross-batch null-text docs
    # would never dedup while within-batch ones did.
    fp_batch = batch.select(
        F.col(id_col).alias("doc_id"),
        fingerprint(F.coalesce(F.col(text_col), F.lit(""))).alias("fp"),
    ).persist()
    w = W.partitionBy("fp").orderBy(F.col("doc_id").asc())
    ranked = fp_batch.withColumn("_rn", F.row_number().over(w)).withColumn(
        "_winner", F.first("doc_id").over(w)
    )
    existing = (
        idx_table.read().select("fp", F.col("doc_id").alias("_stored"))
        if idx_table.exists()
        else None
    )
    if existing is not None:
        joined = ranked.join(existing, "fp", "left")
    else:
        id_type = batch.schema[id_col].dataType
        joined = ranked.withColumn("_stored", F.lit(None).cast(id_type))
    new_rows = (
        joined.filter((F.col("_rn") == 1) & F.col("_stored").isNull())
        .select("fp", "doc_id")
    )
    dups = (
        joined.filter(F.col("_stored").isNotNull() | (F.col("_rn") > 1))
        .select(
            "doc_id",
            F.coalesce(F.col("_stored"), F.col("_winner")).alias("dup_of"),
        )
        .filter(F.col("doc_id") != F.col("dup_of"))
    )
    n_idx = n_dups = 0
    try:
        if not idx_done:
            obs = Observation()
            committed = idx_table.append(
                new_rows.observe(obs, F.count(F.lit(1)).alias("n")),
                epoch=epoch, epoch_key="exact_dedup_drain",
            )
            n_idx = obs.get["n"] if committed is not None else 0
        if not dups_done:
            obs2 = Observation()
            committed = dups_table.append(
                dups.observe(obs2, F.count(F.lit(1)).alias("n")),
                epoch=epoch, epoch_key="exact_dedup_drain",
            )
            n_dups = obs2.get["n"] if committed is not None else 0
    finally:
        fp_batch.unpersist()
    return n_idx, n_dups


def _merge_state_drain(
    catalog: Catalog,
    table_name: str,
    epoch: int,
    epoch_key: str,
    build,
    merge,
    props: dict | None = None,
    guard: str = "parameters from different configurations never combine",
) -> int:
    """THE drain commit protocol, shared by every mergeable-state drain
    (HLL registers, LSQ quantile sketch, AUC bins, interval islands) —
    one copy of the load-bearing sequence so a fix to any step lands
    everywhere:

      1. early prop guard: refuse a drain whose semantics-binding
         ``props`` differ from what the table was built with (friendly
         version of the commit-time check — the authoritative check is
         re-run INSIDE the locked commit via ``expect_props``, closing
         the TOCTOU against a concurrent first-binder);
      2. epoch pre-check: an at-least-once replay returns -1 untouched
         (LOAD-BEARING wherever the merge is not idempotent);
      3. OCC read: remember the version this drain's merge is based on;
      4. ``build()`` the batch state, ``merge(stored, state)`` if the
         table exists (first drain writes the batch state as-is);
      5. persist → count → ``overwrite(expected_version=base_v,
         set_props/expect_props)`` → unpersist in finally — ANY
         interleaved commit (different props, or a same-prop drain
         whose state a stale merge would silently drop) fails loudly
         and the caller retries on fresh state.

    Returns the merged state's row count, or -1 when the epoch was
    already applied (including the race where a concurrent replay
    applies it between the pre-check and the overwrite)."""
    table = catalog.table(table_name)
    props = props or {}
    for prop, want in props.items():
        bound = table.table_prop(prop)
        if bound is not None and bound != want:
            raise ValueError(
                f"{table_name} table was built with {prop}={bound!r}; "
                f"refusing to merge {prop}={want!r} ({guard})"
            )
    stored = table.applied_epoch(epoch_key)
    if stored is not None and epoch <= stored:
        return -1
    base_v = table.current_version()  # OCC base: what this drain reads
    state = build()
    merged = merge(table.read(), state) if base_v >= 0 else state
    n, committed = _occ_overwrite(
        table, merged, base_v, epoch=epoch, epoch_key=epoch_key, props=props
    )
    return n if committed is not None else -1


def _occ_overwrite(table, df: DataFrame, base_v: int, epoch=None,
                   epoch_key=None, props: dict | None = None):
    """The commit tail every OCC state rewrite shares (drains, prune
    sweeps): persist → count → overwrite(expected_version, props) →
    unpersist in finally. Returns (row_count, committed_version_or_None
    — None means a concurrent replay applied the epoch between the
    caller's pre-check and this overwrite)."""
    df = df.persist()
    try:
        n = df.count()
        committed = table.overwrite(
            df,
            epoch=epoch,
            epoch_key=epoch_key,
            expected_version=base_v,
            set_props=props or {},
            expect_props=props or {},
        )
    finally:
        df.unpersist()
    return n, committed


def run_hll_drain(
    catalog: Catalog,
    batch: DataFrame,
    epoch: int,
    key_col: str = "user_id",
    m: int = 256,
) -> int:
    """One exactly-once drain of a streaming HLL distinct-count sketch:
    fold the micro-batch's registers into the persistent
    ``hll_registers`` table by register-wise MAX.

    This is the streaming shape exact distinct-count fundamentally
    lacks: exact distinct state grows with the key cardinality (the
    whole key set must persist), while the register table is ≤ m rows
    FOREVER — each drain reads ≤ m stored rows, aggregates the batch
    with one map-side-combinable agg, and overwrites ≤ m rows. Query
    the running estimate any time via ``hll_estimate_table`` (reads the
    table's own bound m); merge across independently-maintained tables (per-day,
    per-region) with ``sketches.hll_merge``.

    Exactly-once: register-wise MAX is idempotent, so a replayed batch
    cannot inflate the sketch even mid-crash; the epoch guard just
    skips the recompute. The table's ``m`` is bound as a COMMIT-ATOMIC
    table property (``hll_m``): the first successful commit records it
    in the pointer state, and every later commit's expectation is
    checked inside the same locked commit — registers from different
    bit splits can never max-combine, with no sidecar-file races and
    nothing left behind by failed drains. Combined with the
    ``expected_version`` OCC check, ANY interleaved commit (different
    m, or a same-m drain whose registers a stale merge would silently
    drop) fails this drain loudly; the caller retries on fresh state.
    Returns the register count after the drain, or -1 when the epoch
    was already applied (replay no-op)."""
    from end_to_end_azure_databricks_data_engineering_project_spark.operators.sketches import (
        hll_merge,
        hll_registers,
    )

    return _merge_state_drain(
        catalog,
        "hll_registers",
        epoch,
        "hll_drain",
        build=lambda: hll_registers(batch.select(key_col), key_col, m),
        merge=lambda stored, regs: hll_merge(stored.select("idx", "reg"), regs),
        props={"hll_m": m},
        guard="different bit splits never combine",
    )


def run_cms_drain(
    catalog: Catalog,
    batch: DataFrame,
    epoch: int,
    key_col: str,
    depth: int = 4,
    width: int = 1024,
) -> int:
    """One exactly-once drain of a streaming count-min frequency
    sketch: build the micro-batch's (d, b, cnt) cells and cell-wise-SUM
    them into the persistent ``cms_cells`` table. CMS is a LINEAR
    sketch — merge(sketch(A), sketch(B)) == sketch(A ⊎ B) exactly — so
    the drained summary always equals the one built over the whole
    history, while state stays ≤ depth·width rows FOREVER. Estimate any
    time via ``cms_estimate_table`` (which probes with the table's OWN
    bound geometry — a caller-guessed width would silently underestimate).

    The epoch guard is LOAD-BEARING (cell sums are not idempotent — a
    replayed batch would inflate every one of its keys' counts);
    (depth, width) bind commit-atomically: cells from different
    geometries or hash families never sum together (the shared
    ``_merge_state_drain`` discipline).

    Returns the non-zero cell count after the drain, or -1 when the
    epoch was already applied (replay no-op)."""
    from end_to_end_azure_databricks_data_engineering_project_spark.operators.sketches import (
        cms_build,
        cms_merge,
    )

    return _merge_state_drain(
        catalog,
        "cms_cells",
        epoch,
        "cms_drain",
        build=lambda: cms_build(batch, key_col, depth, width),
        merge=cms_merge,
        props={"cms_depth": depth, "cms_width": width},
        guard="cells from different sketch geometries never sum",
    )


def cms_estimate_table(catalog: Catalog, keys: DataFrame, key_col: str) -> DataFrame:
    """Probe the drained ``cms_cells`` table with the GEOMETRY IT WAS
    BUILT WITH — read from the commit-atomic ``cms_depth``/``cms_width``
    props instead of trusting caller defaults. A mismatched-geometry
    probe doesn't fail loudly: buckets hash mod the wrong width, the
    left join misses, and the min coalesces to 0 — a silent
    UNDERestimate that violates the sketch's one-sided (est ≥ exact)
    guarantee. This is the read-path twin of the drain's prop guard."""
    from end_to_end_azure_databricks_data_engineering_project_spark.operators.sketches import cms_estimate

    table = catalog.table("cms_cells")
    depth = table.table_prop("cms_depth")
    width = table.table_prop("cms_width")
    if depth is None or width is None:
        raise ValueError(
            "cms_cells has no bound geometry — nothing drained yet "
            "(run_cms_drain binds cms_depth/cms_width on first commit)"
        )
    return cms_estimate(table.read(), keys, key_col, depth=depth, width=width)


def hll_estimate_table(catalog: Catalog) -> DataFrame:
    """Estimate the drained ``hll_registers`` table with ITS OWN bound
    ``hll_m`` (same read-path rule as ``cms_estimate_table``; a wrong m
    here only skews the bias constant rather than breaking a guarantee,
    but there is no reason to guess what the table already knows)."""
    from end_to_end_azure_databricks_data_engineering_project_spark.operators.sketches import hll_estimate

    table = catalog.table("hll_registers")
    m = table.table_prop("hll_m")
    if m is None:
        raise ValueError(
            "hll_registers has no bound m — nothing drained yet "
            "(run_hll_drain binds hll_m on first commit)"
        )
    return hll_estimate(table.read(), m=m)


def run_lsq_drain(
    catalog: Catalog,
    batch: DataFrame,
    epoch: int,
    value_col: str,
    id_col: str,
    k: int = 512,
    salt: str = "lsq|",
) -> int:
    """One exactly-once drain of a streaming quantile sketch: build the
    micro-batch's level-sampling sketch and ``lsq_merge`` it into the
    persistent ``lsq_sketch_rows`` table (≤ k retained rows FOREVER —
    the merge recaps, it never rescans history).

    Mirrors ``run_hll_drain``'s commit discipline: the drain reads the
    stored sketch at version v, merges, and OCC-overwrites expecting v;
    the epoch guard makes an at-least-once foreachBatch replay a no-op
    (unlike HLL's idempotent register-MAX, a replayed lsq batch WOULD
    double-count n_total and duplicate retained values — the epoch
    guard is load-bearing here, not just an optimization). ``k`` and
    the hash ``salt`` bind as commit-atomic table properties with the
    first successful commit: rows leveled under a different salt (or a
    different cap search bound) can never silently co-mingle — levels
    are a pure function of (salt, id), so same-salt merge keeps the
    split ≡ union-build row-identity that makes the sketch auditable.
    Ids must be unique ACROSS batches (each stream row drains once) for
    that identity to hold, the natural property of an append stream.

    Returns the retained row count after the drain, or -1 when the
    epoch was already applied (replay no-op)."""
    from end_to_end_azure_databricks_data_engineering_project_spark.operators.sketches import (
        lsq_merge,
        lsq_sketch,
    )

    return _merge_state_drain(
        catalog,
        "lsq_sketch_rows",
        epoch,
        "lsq_drain",
        build=lambda: lsq_sketch(batch, value_col=value_col, id_col=id_col, k=k, salt=salt),
        merge=lambda stored, sk: lsq_merge(stored, sk),
        props={"lsq_k": k, "lsq_salt": salt},
        guard="levels/caps from different parameters never combine",
    )


def run_auc_drain(
    catalog: Catalog,
    batch: DataFrame,
    epoch: int,
    score_bin_col: str,
    positive_col: str,
    binning: str,
    stream_id: str | None = None,
) -> int:
    """One exactly-once drain of a streaming exact-AUC accumulator:
    reduce the micro-batch to per-score-bin (pos, neg) counts and merge
    them into the persistent ``auc_bins`` table by per-bin sum. State
    stays ≤ |bins| rows FOREVER (the monoid property of rank-sum AUC —
    ``operators/metrics.py``); finish any time with
    ``auc_from_bins(catalog.table("auc_bins").read())``.

    Commit discipline mirrors ``run_lsq_drain``: read at version v,
    merge, OCC-overwrite expecting v; the epoch guard is LOAD-BEARING
    (a replayed batch would double-count both classes and silently bias
    the AUC toward itself — sums are not idempotent). ``binning`` is a
    REQUIRED caller-supplied description of the score→bin quantization
    (e.g. "floor(score*1000)") bound as a commit-atomic table property:
    counts binned under different quantizations must never co-mingle —
    the merged histogram would be a lie with no in-data witness, so the
    guard is not opt-in (a defaulted label would let two callers with
    different quantizations silently agree).

    ``stream_id``: REQUIRED when the epochs come from a Structured
    Streaming checkpoint (``metric_stream`` passes the resolved
    checkpoint path). Epoch ids are CHECKPOINT-LOCAL — a relocated or
    second checkpoint renumbers batches from 0, which the table-global
    epoch guard alone would misread as replays (silently dropping new
    batches) or fresh epochs (double-counting old ones). Binding the
    stream identity as a commit-atomic property turns that silent
    corruption into a loud refusal. Direct batch callers with
    self-managed monotonic epochs may leave it None — that binds the
    ``"__direct__"`` sentinel identity, so batch-managed and
    stream-bound tables refuse each other in BOTH directions inside
    the locked commit (no first-binder race).

    Returns the bin count after the drain, or -1 when the epoch was
    already applied (replay no-op)."""
    from end_to_end_azure_databricks_data_engineering_project_spark.operators.metrics import (
        merge_bin_counts,
        per_bin_counts,
    )

    # EVERY drain binds a stream identity — direct-batch callers bind
    # the "__direct__" sentinel — so the commit-atomic prop check in
    # _merge_state_drain closes BOTH collision directions (batch drain
    # on a stream-bound table AND stream attach to a batch-managed
    # table) inside the locked commit, with no check-then-act window
    # for a concurrent first-binder to slip through. Epoch ids are only
    # comparable within one numbering authority; the sentinel makes
    # "self-managed" an explicit authority instead of an absent key.
    sid = stream_id if stream_id is not None else "__direct__"
    props = {"auc_binning": binning, "auc_stream_id": sid}
    table = catalog.table("auc_bins")
    bound = table.table_prop("auc_stream_id")
    if bound is not None and bound != sid:
        # friendlier messages than the generic prop-guard for the two
        # asymmetric cases (the in-lock check remains authoritative)
        if sid == "__direct__":
            raise ValueError(
                "auc_bins table is bound to streaming checkpoint "
                f"{bound!r}; a direct-batch drain (stream_id=None) "
                "would merge self-managed epochs into the checkpoint's "
                "epoch numbering — pass the bound stream_id or drain "
                "into a different table"
            )
        if bound == "__direct__":
            raise ValueError(
                "auc_bins table is batch-managed (direct drains); "
                f"attaching streaming checkpoint {sid!r} would renumber "
                "epochs against the self-managed watermark — drain the "
                "stream into a different table"
            )
    if bound is None and stream_id is not None and table.applied_epoch("auc_drain") is not None:
        # pre-sentinel history: the table has drained epochs under an
        # unrecorded numbering authority — attaching a checkpoint whose
        # ids start at 0 would silently collide with the stored
        # watermark (batches dropped as 'replays')
        raise ValueError(
            "auc_bins table has drained epochs but no bound stream "
            "identity (pre-binding history); refusing to attach "
            f"streaming checkpoint {sid!r} — drain into a fresh table"
        )
    return _merge_state_drain(
        catalog,
        "auc_bins",
        epoch,
        "auc_drain",
        build=lambda: per_bin_counts(batch, score_bin_col, positive_col),
        merge=merge_bin_counts,
        props=props,
        guard="counts from different score quantizations or epoch "
        "numberings never combine",
    )


def prune_islands(catalog: Catalog, cutoff: int) -> int:
    """Retention sweep for the ``interval_islands`` drain state: drop
    islands that ENDED strictly before ``cutoff`` (same integer units
    as the drained intervals). This is the production lever that keeps
    the state bounded when keys churn forever — an island whose end
    precedes every future interval's start can never fuse again, so
    dropping it cannot change any later drain's output for the
    retained window (late data older than the cutoff is the caller's
    watermark contract, exactly like a streaming state TTL).

    OCC-guarded read-filter-overwrite (a drain racing the sweep fails
    one side loudly; retry on fresh state). Returns retained count."""
    table = catalog.table("interval_islands")
    base_v = table.current_version()
    if base_v < 0:
        return 0
    kept = table.read().filter(F.col("island_end") >= cutoff)
    n, _ = _occ_overwrite(table, kept, base_v)
    return n


def _checkpoint_generation(ckpt: Path) -> str:
    """The Structured-Streaming checkpoint's own query id (its
    ``metadata`` file, written by Spark at stream start — it exists by
    the time any foreachBatch sink runs). A GENERATION marker: stable
    across restarts of the same checkpoint, different when the
    checkpoint is deleted and recreated at the same path — which
    restarts epoch numbering, the renumbering a path-only binding
    cannot see."""
    import json as _json

    return _json.loads((Path(ckpt) / "metadata").read_text())["id"]


def metric_stream(
    spark: SparkSession,
    source_dir: str,
    schema,
    catalog: Catalog,
    checkpoint_root: str,
    score_bin_col: str,
    positive_col: str,
    binning: str,
):
    """TRUE streaming AUC maintenance: prediction file stream →
    foreachBatch ``run_auc_drain`` — the streaming-query wiring for the
    per-bin-count monoid (``operators/metrics.py``). The micro-batch's
    ``epoch_id`` IS the drain epoch, so Structured Streaming's
    at-least-once foreachBatch replays hit the drain's epoch guard with
    the real checkpointed ids (the property the direct-call tests can
    only simulate). Because epoch ids are CHECKPOINT-LOCAL, the
    resolved checkpoint path is bound into the table as the drain's
    ``stream_id`` — a relocated checkpoint or a second stream draining
    the same table fails loudly instead of silently renumbering epochs
    (dropped new batches / double-counted old ones). availableNow
    drain; returns the StreamingQuery; finish the metric any time via
    ``auc_from_bins(catalog.table("auc_bins").read())``."""
    from end_to_end_azure_databricks_data_engineering_project_spark.sources.autoload import stream_source

    df = stream_source(spark, source_dir, schema).drop(RESCUE_COL)
    ckpt = Path(checkpoint_root).resolve() / "auc_metric"

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        # path catches relocation; the checkpoint's query id catches
        # delete-and-recreate at the SAME path (which restarts epoch
        # numbering invisibly to a path binding)
        sid = f"{ckpt}#{_checkpoint_generation(ckpt)}"
        # One-time migration of the pre-generation binding (engine
        # revisions before the '#<query id>' suffix bound str(ckpt)
        # alone): a table built then holds a still-valid checkpoint —
        # same path, same live metadata/query id — that the exact-match
        # guard would refuse forever. Rebinding is safe precisely
        # because the legacy id IS this id's path prefix: the epochs
        # were numbered by this same (never recreated — its metadata
        # survives) checkpoint. Runs under the commit lock inside
        # migrate_prop; a third value still refuses loudly.
        if catalog.table("auc_bins").table_prop("auc_stream_id") == str(ckpt):
            catalog.table("auc_bins").migrate_prop(
                "auc_stream_id", str(ckpt), sid
            )
        run_auc_drain(
            catalog, batch_df, epoch=epoch_id,
            score_bin_col=score_bin_col, positive_col=positive_col,
            binning=binning,
            stream_id=sid,
        )

    return (
        df.writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(ckpt))
        .trigger(availableNow=True)
        .start()
    )


def run_islands_drain(
    catalog: Catalog,
    batch: DataFrame,
    epoch: int,
    key_col: str,
    start_col: str,
    end_col: str,
    order_col: str,
    interval_spec: str,
) -> int:
    """One exactly-once drain of a streaming gaps-and-islands coverage
    state: reduce the micro-batch's intervals to islands, union them
    with the persistent ``interval_islands`` table, and RE-merge —
    island merging is an idempotent monoid (islands are themselves
    intervals; the weight-aware re-merge in
    ``operators/intervals.py::merge_intervals`` keeps ``n_rows``
    summing ORIGINAL rows), so the drained state is row-identical to
    the one-shot batch computation over the union of all drained
    intervals. State is bounded by the number of DISJOINT activity
    spans per key — for bounded-gap semantics (e.g. event ts +10 min)
    that's the key's session count, which a retention/TTL sweep prunes
    in production; finish any time with ``coverage_from_islands``.

    Commit discipline mirrors ``run_auc_drain``: OCC overwrite at the
    read version; the epoch guard is LOAD-BEARING (a replayed batch
    would double-count every island's n_rows — min/max bounds are
    idempotent but the weights are not). ``interval_spec`` is a
    REQUIRED caller-supplied description of how intervals derive from
    events (e.g. "ts..ts+10min") bound as a commit-atomic table
    property: islands built under different padding/gap semantics must
    never re-merge — the fused coverage would correspond to no real
    definition.

    Returns the island count after the drain, or -1 when the epoch was
    already applied (replay no-op)."""
    from end_to_end_azure_databricks_data_engineering_project_spark.operators.intervals import (
        merge_intervals,
    )

    def _remerge(stored: DataFrame, batch_islands: DataFrame) -> DataFrame:
        prev = stored.select(
            key_col,
            F.col("island_start"),
            F.col("island_end"),
            F.col("n_rows"),
        )
        return merge_intervals(
            prev.unionByName(batch_islands),
            key_col,
            "island_start",
            "island_end",
            order_col="island_end",  # ties on start share an island
            weight_col="n_rows",     # anyway; output is order-invariant
        )

    return _merge_state_drain(
        catalog,
        "interval_islands",
        epoch,
        "islands_drain",
        build=lambda: merge_intervals(batch, key_col, start_col, end_col, order_col),
        merge=_remerge,
        props={"interval_spec": interval_spec},
        guard="islands from different interval semantics never re-merge",
    )


def run_ri_drain(
    catalog: Catalog,
    children: DataFrame,
    parents: DataFrame,
    epoch: int,
    child_key: str,
    parent_key: str,
    ri_spec: str,
    stream_id: str | None = None,
    parents_epoch: int | None = None,
) -> dict:
    """One exactly-once drain of a streaming DEFERRED referential-
    integrity check — the late-arriving-dimension problem every star-
    schema medallion pipeline has (reference parity: the silver fact
    joins dims by FK, silver_Dimensions.py — a fact row landing before
    its dimension row is operationally routine, and dropping or
    null-joining it is silent data loss; this drain parks it and cures
    it when the parent arrives).

    State, all ManagedTables:
      ``ri_parent_keys`` — distinct parent keys ever seen (a key-only
        relation: dimension-cardinality, the real bound — state is the
        DIMENSION's key set, never the fact stream);
      ``ri_orphans``     — child rows still waiting for their parent,
        stamped ``__orphan_since`` = first epoch seen (bounded by true
        orphan count; shrinks as parents arrive; ``prune_ri_orphans``
        is the retention lever for permanently-dead keys). Children
        with a NULL FK are SKIPPED — optional FKs are not violations
        (the ``fk_orphans`` semantic), and a NULL key could never be
        cured by any parent;
      ``ri_cured``       — append-only log of orphans whose parent
        arrived, stamped ``__cured_epoch`` (downstream replays these
        into the fact table).

    Commit choreography (three tables cannot commit atomically — the
    order + per-table epoch guards make every crash window replayable):

      1. parent-keys drain: distinct union (an IDEMPOTENT monoid).
         Its epoch defaults to ``epoch`` but callers whose parent
         batches have their OWN progression pass ``parents_epoch``
         (``ri_stream`` passes the dims table's version): a replayed
         fact epoch carrying NEWER dim rows then still folds them —
         with a shared epoch the guard would drop those dim keys
         forever (the fold is keyed to fact progress it does not
         follow);
      2. cured append: stored orphans semi-joined to the COMMITTED
         parent set (only parents folded since the last orphan drain
         can match — earlier ones were anti-joined away at park time),
         keyed to the PARENTS epoch so every folded dim's cures are
         logged exactly once even when the fold rode a replayed fact
         epoch;
      3. orphan drain: (stored ∪ batch children) anti-join the
         COMMITTED parent keys (now including this batch). Also
         idempotent given steps 1-2, but epoch-guarded so a replay
         never re-stamps ``__orphan_since``.

    A crash between any two steps replays cleanly: earlier steps
    no-op on their epoch guard and later steps recompute from state
    those earlier steps left exactly as the replay expects.
    ``ri_spec`` (e.g. "orders.custkey->customer.custkey") binds as a
    commit-atomic property on all three tables — orphans parked under
    one FK definition must never be cured by another's parents.
    ``stream_id`` binds the epoch-numbering authority exactly like
    ``run_auc_drain``'s: streaming callers pass their resolved
    checkpoint path, direct-batch callers bind the ``"__direct__"``
    sentinel — a renumbered checkpoint colliding with the stored epoch
    watermark would otherwise make the orphan drain silently skip NEW
    batches (the cure log would quietly miss cures). Tables with
    drained epochs but NO bound identity (pre-binding history) refuse
    a streaming attach outright, mirroring ``run_auc_drain``.

    Returns {"orphans": n, "cured": k, "parents": p} (counts after the
    drain), with ``orphans=-1`` when the whole epoch was already
    applied (full-replay no-op).
    """
    sid = stream_id if stream_id is not None else "__direct__"
    props = {"ri_spec": ri_spec, "ri_stream_id": sid}
    parents_t = catalog.table("ri_parent_keys")
    orphans_t = catalog.table("ri_orphans")
    cured_t = catalog.table("ri_cured")
    _EPOCH_KEYS = {"ri_parent_keys": "ri_parents", "ri_orphans": "ri_orphans",
                   "ri_cured": "ri_cured"}
    for t in (parents_t, orphans_t, cured_t):
        for prop, want in props.items():
            bound = t.table_prop(prop)
            if bound is not None and bound != want:
                raise ValueError(
                    f"{t.name} table was built with {prop}={bound!r}; "
                    f"refusing {prop}={want!r} (orphans parked under one "
                    "FK definition / epoch authority must never mix "
                    "with another's)"
                )
        if (
            stream_id is not None
            and t.table_prop("ri_stream_id") is None
            and t.applied_epoch(_EPOCH_KEYS[t.name]) is not None
        ):
            # pre-binding history: drained epochs under an unrecorded
            # numbering authority — a checkpoint restarting at 0 would
            # silently collide with the stored watermark
            raise ValueError(
                f"{t.name} table has drained epochs but no bound stream "
                f"identity (pre-binding history); refusing to attach "
                f"streaming checkpoint {sid!r} — drain into fresh tables"
            )
    pkeys = parents.select(F.col(parent_key).alias("__pk")).distinct()

    p_epoch = parents_epoch if parents_epoch is not None else epoch

    # 1. parent keys: distinct-union monoid, under ITS OWN epoch
    # authority (see the choreography note — a replayed fact epoch
    # carrying newer dim rows must still fold them)
    parents_n = _merge_state_drain(
        catalog, "ri_parent_keys", p_epoch, "ri_parents",
        build=lambda: pkeys,
        merge=lambda stored, batch_keys: stored.unionByName(batch_keys).distinct(),
        props=props,
        guard="parent key sets from different FK definitions never union",
    )
    if parents_n < 0:
        parents_n = parents_t.read().count() if parents_t.exists() else 0

    # 2. cure: stored orphans now matched by the COMMITTED parent set.
    # Computing against all committed parents (not just this batch's
    # keys) keeps the cure log complete across crash replays: orphans
    # were anti-joined at park time, so only parents folded since the
    # last orphan drain can match — and keying the append to the
    # PARENTS epoch means a replay that folded extra dims still logs
    # their cures exactly once.
    cured_n = 0
    stored_cured = cured_t.applied_epoch("ri_cured")
    if orphans_t.exists() and parents_t.exists() and (
        stored_cured is None or p_epoch > stored_cured
    ):
        cured = orphans_t.read().join(
            parents_t.read(),
            F.col(child_key) == F.col("__pk"),
            "left_semi",
        )
        # Anti-join against rows ALREADY cured: after a replayed fact
        # epoch folds newer parents, step 3's orphan drain no-ops on
        # its (fact-)epoch guard, so just-cured rows stay parked in
        # ri_orphans — a subsequent drain at a HIGHER parents epoch
        # would re-match them here and append them to ri_cured again,
        # duplicating the downstream fact replay. Identity = child key
        # + __orphan_since (an orphan row is parked exactly once per
        # fact epoch, so the pair is a stable cure identity).
        if cured_t.exists():
            prior_cured = cured_t.read().select(
                F.col(child_key).alias("__cured_k"),
                F.col("__orphan_since").alias("__cured_since"),
            ).distinct()
            # no broadcast hint: the cure log grows with cured-orphan
            # count and can exceed broadcast size; AQE picks the
            # strategy from runtime stats
            cured = cured.join(
                prior_cured,
                (F.col(child_key) == F.col("__cured_k"))
                & (F.col("__orphan_since") == F.col("__cured_since")),
                "left_anti",
            )
        cured = cured.withColumn("__cured_epoch", F.lit(p_epoch).cast("bigint"))
        cured = cured.localCheckpoint(eager=True)  # pin pre-drain state
        cured_n = cured.count()
        if cured_n:
            cured_t.append(
                cured, epoch=p_epoch, epoch_key="ri_cured",
                set_props=props, expect_props=props, evolve=True,
            )

    # 3. orphans: (stored ∪ new children) minus all committed parents.
    # NULL FKs are OPTIONAL, not violations (the fk_orphans semantic,
    # operators/expectations.py) — and the equality anti-join below is
    # null-rejecting, so an unstripped NULL key would park forever
    # (uncurable by any parent) and break the true-orphan state bound.
    stamped = children.filter(F.col(child_key).isNotNull()).withColumn(
        "__orphan_since", F.lit(epoch).cast("bigint")
    )

    def _reorphan(stored: DataFrame, batch_children: DataFrame) -> DataFrame:
        return stored.unionByName(batch_children)

    def _against_parents(df: DataFrame) -> DataFrame:
        keys = parents_t.read() if parents_t.exists() else None
        if keys is None:
            return df
        return df.join(
            keys, F.col(child_key) == F.col("__pk"), "left_anti"
        )

    orphans_n = _merge_state_drain(
        catalog, "ri_orphans", epoch, "ri_orphans",
        build=lambda: _against_parents(stamped),
        merge=lambda stored, batch_orphans: _against_parents(
            _reorphan(stored, batch_orphans)
        ),
        props=props,
        guard="orphans from different FK definitions never co-mingle",
    )
    return {"orphans": orphans_n, "cured": cured_n, "parents": parents_n}


def prune_ri_orphans(catalog: Catalog, cutoff_epoch: int) -> int:
    """Retention sweep for the deferred-RI orphan state: drop orphans
    first seen at or before ``cutoff_epoch`` — the lever for
    permanently-dead FKs (a parent that was never going to arrive).
    The dropped rows are the pipeline's data-quality REJECTS; read
    them before sweeping (``ri_orphans`` where ``__orphan_since <=
    cutoff``) if they feed a quarantine report. OCC-guarded
    read-filter-overwrite; returns retained count."""
    table = catalog.table("ri_orphans")
    base_v = table.current_version()
    if base_v < 0:
        return 0
    kept = table.read().filter(F.col("__orphan_since") > cutoff_epoch)
    n, _ = _occ_overwrite(table, kept, base_v)
    return n


def ri_stream(
    spark: SparkSession,
    facts_dir: str,
    schema,
    catalog: Catalog,
    checkpoint_root: str,
    dims_table: str,
    child_key: str,
    parent_key: str,
    ri_spec: str,
):
    """TRUE streaming deferred-RI: a fact file stream drains through
    ``run_ri_drain`` per micro-batch, with dimension arrivals folded in
    from ``dims_table``'s version cursor — the streaming wiring for the
    late-arriving-dimension choreography (``metric_stream``'s pattern:
    the micro-batch's ``epoch_id`` IS the drain epoch, and the resolved
    checkpoint path binds as the epoch-numbering authority).

    Parent batches are INCREMENTAL: each micro-batch folds only the dim
    rows appended since the last FOLDED dim version — the cursor is the
    parents table's own commit-atomic epoch watermark (``ri_parents``
    records the dims version each fold committed at, because
    ``run_ri_drain`` is called with ``parents_epoch`` = that version),
    so the cursor can never run ahead of the fold it stands for: no
    sidecar, no crash window. Falls back to the full dim snapshot when
    the delta is not derivable (no fold yet, or a snapshot
    rewrite/merge barrier) — safe either way, the parent-key union is
    idempotent. The stream binds BOTH the resolved checkpoint path and
    the checkpoint's own query id (``ri_stream_gen``, from the
    checkpoint ``metadata`` file) as epoch authorities: a RELOCATED
    checkpoint fails on the path, a deleted-and-recreated one at the
    same path fails on the generation — either would renumber epochs
    against the stored watermark and silently drop batches.
    availableNow drain; returns the StreamingQuery."""
    from end_to_end_azure_databricks_data_engineering_project_spark.sources.autoload import stream_source

    df = stream_source(spark, facts_dir, schema).drop(RESCUE_COL)
    ckpt = Path(checkpoint_root).resolve() / "ri"

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        dims = catalog.table(dims_table)
        cur_v = dims.current_version()
        parents_t = catalog.table("ri_parent_keys")
        wm = parents_t.applied_epoch("ri_parents")
        # the watermark records dims version + 1 (see parents_epoch
        # below); appended_since wants the last FOLDED version
        last = wm - 1 if wm is not None else None
        parents = None
        if cur_v >= 0:
            parents = dims.appended_since(last, until=cur_v)
            if parents is None:  # no fold yet / rebuild barrier
                parents = dims.read()
        if parents is None:  # dims table not created yet
            parents = batch_df.select(
                F.col(child_key).alias(parent_key)
            ).limit(0)
        run_ri_drain(
            catalog, batch_df, parents, epoch=epoch_id,
            child_key=child_key, parent_key=parent_key,
            ri_spec=ri_spec,
            stream_id=f"{ckpt}#{_checkpoint_generation(ckpt)}",
            # +1 shifts the no-table sentinel (-1) to 0 so the first
            # real dims version (0) folds at epoch 1 > the empty
            # watermark instead of colliding with it
            parents_epoch=cur_v + 1,
        )

    return (
        df.writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(ckpt))
        .trigger(availableNow=True)
        .start()
    )


def run_report_hook(
    spark: SparkSession, catalog: Catalog, run_id: str
) -> Callable[[dict], None]:
    """An ``on_event`` observer for ``Pipeline.run_all`` that persists
    every TERMINAL flow outcome (succeeded / failed / skipped) into a
    ``pipeline_runs`` ManagedTable — the queryable run ledger behind
    the reference's alerting story (readme.md:8: ADF failure → Logic
    App email; here the alert CONDITION is a query:
    ``pipeline_runs WHERE status = 'failed' AND run_id = ...`` — wire
    the delivery channel of your choice on top). ``running`` events
    are not persisted (one commit per flow, not two). ``run_id`` is
    caller-supplied so retries of the same logical run correlate."""
    table = catalog.table("pipeline_runs")

    def on_event(evt: dict) -> None:
        if evt["status"] == "running":
            return
        row = spark.createDataFrame(
            [(
                run_id, evt["flow"], evt["status"],
                evt["rows"], evt["seconds"], evt["error"],
            )],
            "run_id string, flow string, status string, rows long,"
            " seconds double, error string",
        ).withColumn("recorded_at", F.current_timestamp())
        table.append(row, evolve=True)

    return on_event


def alert_hook(
    spark: SparkSession,
    catalog: Catalog,
    run_id: str,
    notify: Callable[[dict], None] | None = None,
    statuses: Sequence[str] = ("failed",),
) -> Callable[[dict], None]:
    """The in-engine alert SINK that closes the reference's failure-
    alerting loop (readme.md:8: ADF failure → Logic App → email; C10):
    an ``on_event`` observer that, for every flow outcome in
    ``statuses`` (default: failures only — skipped dependents are
    collateral of the same root cause), lands exactly ONE alert row in
    an ``alerts`` ManagedTable and THEN invokes ``notify(alert)`` —
    the pluggable delivery channel (email/webhook/pager is the only
    platform wiring left).

    Exactly-once: the alert append is epoch-keyed by (run_id, flow),
    so a retried ``run_all`` with the SAME run_id (an at-least-once
    orchestrator re-invoking a crashed driver) cannot double-alert,
    and ``notify`` fires only when the row actually committed — the
    alert artifact and the notification can't diverge. A new attempt
    that should re-alert uses a new run_id (same correlation contract
    as ``run_report_hook``). Notify exceptions propagate AFTER the
    alert row is durable: a broken delivery channel loses the page,
    never the record.

    Compose with the run ledger:
        ``on_event=compose_hooks(run_report_hook(...), alert_hook(...))``

    Maintenance: each alerted (run_id, flow) records one write-once
    epoch key in the alerts table's pointer state. Bound the map on a
    long-lived deployment with
    ``catalog.table("alerts").vacuum(prune_epoch_prefixes=("alert:",))``
    — it keeps the most recent ``keep_epochs`` alert keys, trading the
    idempotence guard for runs older than that window (vacuum declares
    them settled, same contract as the snapshot prune itself).
    """
    table = catalog.table("alerts")

    def on_event(evt: dict) -> None:
        if evt["status"] not in statuses:
            return
        row = spark.createDataFrame(
            [(
                run_id, evt["flow"], evt["status"],
                evt["error"], evt["seconds"],
            )],
            "run_id string, flow string, status string, error string,"
            " seconds double",
        ).withColumn("alerted_at", F.current_timestamp())
        committed = table.append(
            row, epoch=1, epoch_key=f"alert:{run_id}:{evt['flow']}",
            evolve=True,
        )
        if committed is not None and notify is not None:
            notify({
                "run_id": run_id, "flow": evt["flow"],
                "status": evt["status"], "error": evt["error"],
                "seconds": evt["seconds"],
            })

    return on_event


def auto_maintenance_hook(
    catalog: Catalog,
    max_file_bytes: int = 32 << 20,
    vacuum_every: int = 0,
    vacuum_keep: int = 3,
    min_small_files: int = 8,
) -> Callable[[dict], None]:
    """DLT auto-compaction as a ``run_all`` observer (Databricks
    enables autoOptimize/autoCompact on streaming-table sinks by
    default — `silver_Dimensions.py:55`'s managed tables get this for
    free on the platform, so the engine provides it too): after every
    SUCCEEDED flow, bin-pack the flow's sink table with
    ``compact_small``. ``min_small_files`` gates the pack (Delta
    autoCompact's minNumFiles, 50 there; 8 here suits this engine's
    smaller per-batch file counts): below the threshold the per-run
    cost is a driver-side stat scan only — without the gate every run
    would repack ALL accumulated small bytes plus the one new file
    (the previous pack's output is itself sub-threshold), quadratic
    I/O over a long-lived pipeline. So calling it every run is safe —
    a streaming sink accumulating one small file per micro-batch stays
    packed continuously instead of degrading until a scheduled
    OPTIMIZE.

    ``vacuum_every=N`` additionally vacuums the table (with
    ``vacuum_keep`` retained versions) every Nth successful run of its
    flow — the log-retention + store-GC half of routine maintenance.
    The vacuum passes ``prune_epoch_prefixes=("alert:",)``: harmless
    on flow sinks (no such keys), and on an ``alerts`` sink it bounds
    ``alert_hook``'s per-(run_id, flow) write-once epoch keys so the
    ``_latest`` pointer doesn't grow one entry per alerted run forever.

    A ``ConcurrentWriteError`` from the pack (another writer landed
    between the flow's commit and the pack) is swallowed: maintenance
    is opportunistic, the next run retries. Compose with the alerting
    hooks via ``compose_hooks``."""
    counts: dict[str, int] = {}

    def on_event(evt: dict) -> None:
        if evt.get("status") != "succeeded":
            return
        name = evt["flow"]
        if not (catalog.root / name).is_dir():
            return  # flow has no sink table (never create one here)
        t = catalog.table(name)
        if not t.exists():
            return
        try:
            t.compact_small(
                max_file_bytes=max_file_bytes, min_small_files=min_small_files
            )
        except ConcurrentWriteError:
            pass  # opportunistic: a racing writer wins, next run packs
        counts[name] = counts.get(name, 0) + 1
        if vacuum_every and counts[name] % vacuum_every == 0:
            t.vacuum(keep=vacuum_keep, prune_epoch_prefixes=("alert:",))

    return on_event


def compose_hooks(
    *hooks: Callable[[dict], None],
) -> Callable[[dict], None]:
    """Fan one ``run_all`` event stream out to several observers (run
    ledger + alert sink being the canonical pair), preserving order."""

    def on_event(evt: dict) -> None:
        for h in hooks:
            h(evt)

    return on_event
