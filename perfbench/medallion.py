"""``medallion`` workload: the reference's daily job, repeated.

Set-up generates the source system's initial extract and runs the
initial load through the pipeline. Each pass then lands one daily
extract; there is no separate cold pass, as the set-up has already run
every step but the ``DELETE`` and the maintenance once. Every pass
runs, in order and timed from its first statement until the gold
report is computed (freshness):

1. a silver ``DELETE`` of a few users through ``Catalog.sql``, so the
   user gold drain consumes the change feed and closes their SCD2
   versions;
2. ``ingest_all`` (watermark ingest of the extract to bronze);
3. ``build_medallion_pipeline(...).run_all`` (autoload to silver,
   SCD1/SCD2 apply-changes to gold; ``dim_date`` has no new rows, so
   its drains are no-ops);
4. ``OPTIMIZE`` and ``VACUUM`` of the silver fact table through
   ``Catalog.sql``;
5. ``top_genres_by_listen_time`` on gold, collected.

After the timed part, every gold table and the last report are
compared, as multisets of rows, with the generator's brute-force model.
"""

from __future__ import annotations

import time
from collections import Counter
from pathlib import Path

from perfbench.gen import MedallionSource
from perfbench.stats import du
from perfbench.trace import dur, outermost, self_time

COLD_PASS = False
MIN_WARM_PASSES = 1
MAINTENANCE = ("OPTIMIZE silver_fact_stream", "VACUUM silver_fact_stream RETAIN 3 VERSIONS")
TABLE_VERBS = {
    "tables.commit": ("append", "overwrite", "merge_keyed", "delete_where", "update_where"),
    "tables.maintenance": ("compact_small", "compact", "vacuum"),
    "tables.read": ("read", "read_at", "appended_since", "changes_since"),
}


def generate(ctx) -> None:
    """The source system and its initial extract, as parquet."""
    from end_to_end_azure_databricks_data_engineering_project_spark.config import TABLES

    ctx.dir = ctx.root / "medallion"
    ctx.src = MedallionSource(TABLES, ctx.seed, ctx.scale)
    ctx.extract = ctx.src.write(ctx.src.extract(0), ctx.dir / "source" / "day0")


def prepare(ctx) -> None:
    """Wire the pipeline over the source system and run the initial
    load."""
    from end_to_end_azure_databricks_data_engineering_project_spark.config import TABLES
    from end_to_end_azure_databricks_data_engineering_project_spark.sources.watermark import (
        WatermarkStore,
    )
    from end_to_end_azure_databricks_data_engineering_project_spark.streaming.flows import (
        build_medallion_pipeline,
    )

    ctx.cfgs = list(TABLES)
    ctx.store = WatermarkStore(ctx.dir / "state")
    ctx.pipe, ctx.catalog = build_medallion_pipeline(
        ctx.spark, ctx.cfgs, str(ctx.dir / "bronze"), str(ctx.dir / "warehouse"),
        str(ctx.dir / "state"),
    )
    for flow in ctx.pipe.flows.values():
        flow.run = _timed_flow(ctx, flow.name, flow.run)
    ctx.day = 0
    run_pass(ctx, "load")
    ctx.input_rows = {"initial_source_rows": ctx.src.source_rows}


def _timed_flow(ctx, name: str, run):
    kind = "flows.silver" if name.startswith("silver_") else "flows.gold"

    def timed() -> int:
        t0 = time.perf_counter()
        with ctx.tracer.span(kind, group=f"{ctx.label}|{name}", flow=name) as rec:
            rows = run()
            rec["rows"] = rows
        ctx.pass_ops.append(time.perf_counter() - t0)
        return rows

    return timed


def run_pass(ctx, label: str) -> tuple[float, list[float], int]:
    """Land the next day; returns (seconds, op seconds, source rows)."""
    from end_to_end_azure_databricks_data_engineering_project_spark.plans.gold_analytics import (
        top_genres_by_listen_time,
    )
    from end_to_end_azure_databricks_data_engineering_project_spark.sources.ingest import (
        ingest_all,
    )

    day, src, tr, spark = ctx.day, ctx.src, ctx.tracer, ctx.spark
    rows_before = src.source_rows
    if day > 0:
        deletes = src.delete_statements()
        ctx.extract = src.write(src.extract(day), ctx.dir / "source" / f"day{day}")
    ctx.label, ctx.pass_ops = label, []

    def op(name: str, fn):
        t0 = time.perf_counter()
        with tr.span(name, group=f"{label}|{name}") as rec:
            out = fn(rec)
        ctx.pass_ops.append(time.perf_counter() - t0)
        return out

    def ingest(rec) -> None:
        sources = {t: spark.read.parquet(p) for t, p in ctx.extract.items()}
        results = ingest_all(spark, ctx.cfgs, sources, str(ctx.dir / "bronze"), ctx.store)
        rec["rows"] = sum(r.rows for r in results)
        rec["bronze_bytes"] = sum(du(Path(r.landed_path))[0] for r in results if r.landed_path)

    def report(rec):
        with tr.span("plans.build"):
            df = top_genres_by_listen_time(ctx.catalog)
        return df.collect()

    t0 = time.perf_counter()
    with tr.span("pass", label=label, day=day, catalyst=True):
        for stmt in deletes if day > 0 else ():
            op("sql", lambda rec, s=stmt: ctx.catalog.sql(s))
        op("ingest", ingest)
        ctx.pipe.run_all()
        for stmt in MAINTENANCE if day > 0 else ():
            op("sql", lambda rec, s=stmt: ctx.catalog.sql(s))
        ctx.report = op("gold_analytics", report)
    secs = time.perf_counter() - t0
    ctx.day += 1
    return secs, ctx.pass_ops, src.source_rows - rows_before


def _rows(rows) -> Counter:
    """Rows as a multiset of tuples over sorted column names."""
    return Counter(tuple(sorted(r.asDict().items())) for r in rows)


def check(ctx) -> None:
    """Compare every gold table and the last report with the model."""
    for cfg in ctx.cfgs:
        got = _rows(ctx.catalog.table(f"gold_{cfg.table}").read().collect())
        ctx.record_check(f"gold_{cfg.table}", got == ctx.src.gold_rows(cfg.table))
    ctx.record_check("top_genres_by_listen_time", _rows(ctx.report) == ctx.src.report_rows())


# -- traced run ----------------------------------------------------------------

def instrument(ctx) -> None:
    """Wrap the layer entry points the engine calls internally."""
    from end_to_end_azure_databricks_data_engineering_project_spark.sources import tables
    from end_to_end_azure_databricks_data_engineering_project_spark.streaming import flows

    tr = ctx.tracer

    def files(rec, out):
        rec["files"] = len(out[1])

    tr.wrap(flows, "read_new_files", "autoload", files)
    tr.wrap(flows, "apply_changes", "cdc.apply")
    tr.wrap(tables.Catalog, "sql", "tables.sql")
    for name, verbs in TABLE_VERBS.items():
        for verb in verbs:
            tr.wrap(tables.ManagedTable, verb, name)


def layers(ctx, traced: list[dict]) -> dict[str, float]:
    """Per-layer figures per traced warm pass, from the spans and the
    warehouse directory (the Spark figures come from the event log)."""
    tr = ctx.tracer
    by_id = {s["id"]: s for s in tr.spans}
    kids = tr.children()
    n = len(traced)
    inner = [c for p in traced for c in tr.within(p)]

    def total(name, key=None):
        return sum((s.get(key, 0) if key else dur(s)) for s in inner if s["name"] == name)

    gold = [s for s in inner if s["name"] == "flows.gold"]
    cdf_drains = sum(
        any(c["name"] == "tables.read" and c["fn"] == "changes_since" for c in tr.within(g))
        for g in gold)
    out = {
        "ingest.s": total("ingest"),
        "ingest.rows": total("ingest", "rows"),
        "ingest.bronze_bytes": total("ingest", "bronze_bytes"),
        "autoload.s": total("autoload"),
        "autoload.files": total("autoload", "files"),
        "flows.silver_s": total("flows.silver"),
        "flows.gold_s": total("flows.gold"),
        "flows.silver_rows": total("flows.silver", "rows"),
        "flows.gold_rows": total("flows.gold", "rows"),
        "flows.noop_drain_s": sum(dur(s) for s in gold if not s["rows"]),
        "flows.cdf_drains": cdf_drains,
        "cdc.apply_s": total("cdc.apply"),
        "cdc.apply_calls": sum(s["name"] == "cdc.apply" for s in inner),
        "tables.commit_s": sum(dur(s) for s in outermost(inner, "tables.commit", by_id)),
        "tables.sql_route_s": sum(self_time(s, kids) for s in inner if s["name"] == "tables.sql"),
        "tables.read_s": sum(dur(s) for s in outermost(inner, "tables.read", by_id)),
        "tables.maintenance_s": sum(
            dur(s) for s in outermost(inner, "tables.maintenance", by_id)),
        "gold_analytics.s": total("gold_analytics"),
        "plans.build_s": total("plans.build"),
        "trace.uncovered_s": sum(self_time(p, kids) for p in traced),
    }
    out = {k: v / n for k, v in out.items()}
    out.update(_table_files(ctx, traced))
    ctx.details["per_flow_s"] = {
        f: sum(dur(s) for s in inner if s.get("flow") == f) / n for f in ctx.pipe.flows
    }
    return out


def _table_files(ctx, traced: list[dict]) -> dict[str, float]:
    """Per traced pass: delta commits, checkpoints, bytes written and
    the share of live files each rewriting commit replaced (commits are
    assigned to passes by the time their log entry was written); at the
    end: live, metadata and total files of the warehouse."""
    import json

    off = ctx.tracer.wall_offset
    windows = [(p["start"] + off, p["end"] + off) for p in traced]
    warehouse = ctx.dir / "warehouse"
    commits = checkpoints = written = removed = live_before_sum = files_live = 0
    for log in warehouse.glob("*/_delta_log"):
        live = len(ctx.catalog.table(log.parent.name).data_files())
        files_live += live
        # newest first: the live count before a commit is the count
        # after it, minus its adds, plus its removes
        for p in sorted(log.glob("*.json"), reverse=True):
            actions = [json.loads(ln) for ln in p.read_text().splitlines() if ln]
            adds = [a["add"] for a in actions if "add" in a]
            n_removes = sum("remove" in a for a in actions)
            live_before = live - len(adds) + n_removes
            mtime = p.stat().st_mtime
            if any(lo <= mtime <= hi for lo, hi in windows):
                commits += 1
                written += sum(a.get("size", 0) for a in adds)
                checkpoints += (log / f"{p.stem}.checkpoint.parquet").exists()
                if n_removes:
                    removed += n_removes
                    live_before_sum += live_before
            live = live_before
    total_bytes, total_files = du(warehouse)
    meta = [p for p in warehouse.rglob("*") if p.is_file() and "_data" not in p.parts]
    n = len(traced)
    return {
        "tables.commits": commits / n,
        "tables.checkpoints": checkpoints / n,
        "tables.bytes_written": written / n,
        "tables.files_touched_ratio": removed / live_before_sum if live_before_sum else 0.0,
        "tables.files_live": float(files_live),
        "tables.meta_bytes": float(sum(p.stat().st_size for p in meta)),
        "tables.meta_files": float(len(meta)),
        "tables.files_total": float(total_files),
        "tables.bytes_total": float(total_bytes),
    }
