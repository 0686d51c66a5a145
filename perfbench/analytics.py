"""``analytics`` workload: the 11 headline catalog queries, read-only.

A cold pass, then warm passes until the run's time is up, each pass
running every query once in an order shuffled by the seed and writing
to Spark's ``noop`` sink (full execution, no result transfer). The
queries are the ``HEADLINE`` list of the repository's ``bench.py``, but
``pass_s`` is not its ``value``: the tables are generated at half the
sf0.1 row counts ``value`` reads, and ``pass_s`` is the median warm
pass on the box's cores, where ``value`` is one steal-gated pass.
After the timed part, every query is collected once and compared with
its catalog entry's DuckDB oracle.
"""

from __future__ import annotations

import datetime as dt
import decimal
import math
import random
import statistics
import time
from concurrent.futures import ThreadPoolExecutor
from pathlib import Path

from perfbench import gen
from perfbench.trace import dur, self_time

HEADLINE = [
    "pricing_summary",
    "star_join_revenue",
    "broadcast_dim_join",
    "topk_customers",
    "window_running_sum",
    "latest_per_key",
    "sessionize",
    "scd2_history",
    "doc_fingerprint_dedup",
    "minhash_signatures",
    "cosine_topk",
]

# Tables each query scans (one entry per scan), for rows_per_s.
QUERY_TABLES = {
    "pricing_summary": ["lineitem"],
    "star_join_revenue": ["lineitem", "orders", "customer", "nation", "region"],
    "broadcast_dim_join": ["lineitem", "part"],
    "topk_customers": ["orders", "customer"],
    "window_running_sum": ["orders"],
    "latest_per_key": ["events"],
    "sessionize": ["events"],
    "scd2_history": ["events"],
    "doc_fingerprint_dedup": ["documents"],
    "minhash_signatures": ["documents"],
    "cosine_topk": ["embeddings", "embeddings"],
}

COLD_PASS = True
MIN_WARM_PASSES = 3


def generate(ctx) -> None:
    """The inputs, as parquet."""
    d = ctx.root / "inputs"
    ctx.input_rows = gen.write_analytics_inputs(d, ctx.seed, ctx.scale)
    ctx.sf_dir = str(d)


def prepare(ctx) -> None:
    """Record the input size; seed the query order."""
    ctx.input_bytes = sum(f.stat().st_size for f in Path(ctx.sf_dir).iterdir())
    ctx.order_rng = random.Random(ctx.seed)


def _query(ctx, name: str, label: str) -> float:
    from end_to_end_azure_databricks_data_engineering_project_spark.plans.queries import CATALOG

    tr = ctx.tracer
    t0 = time.perf_counter()
    with tr.span("plans.build", group=f"{label}|{name}|build", catalyst=True, query=name):
        df = CATALOG[name].spark(ctx.spark, ctx.sf_dir)
    with tr.span("spark.exec", group=f"{label}|{name}|exec", catalyst=True, query=name):
        df.write.mode("overwrite").format("noop").save()
    return time.perf_counter() - t0


def run_pass(ctx, label: str) -> tuple[float, list[float], int]:
    """All 11 queries in a seeded order; returns (seconds, op seconds,
    input rows scanned)."""
    order = list(HEADLINE)
    ctx.order_rng.shuffle(order)
    t0 = time.perf_counter()
    with ctx.tracer.span("pass", label=label, catalyst=True):
        ops = [_query(ctx, name, label) for name in order]
    rows = sum(ctx.input_rows[t] for ts in QUERY_TABLES.values() for t in ts)
    return time.perf_counter() - t0, ops, rows


def _norm(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    if isinstance(v, (dt.datetime, dt.date)):
        return v.isoformat()
    if isinstance(v, decimal.Decimal):
        return repr(float(v))
    return v


def check(ctx) -> None:
    """Collect every query and compare it with its DuckDB oracle."""
    import duckdb

    from end_to_end_azure_databricks_data_engineering_project_spark.plans.queries import CATALOG

    def collect(name):
        df = CATALOG[name].spark(ctx.spark, ctx.sf_dir)
        cols = sorted(df.columns)
        return cols, sorted(tuple(str(_norm(r[c])) for c in cols) for r in df.collect())

    # the collects are independent Spark jobs; running them side by side
    # keeps the untimed check short
    with ThreadPoolExecutor(max_workers=4) as pool:
        results = dict(zip(HEADLINE, pool.map(collect, HEADLINE)))
    con = duckdb.connect()
    try:
        for t in ctx.input_rows:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{ctx.sf_dir}/{t}.parquet')")
        for name in HEADLINE:
            res = con.execute(CATALOG[name].oracle)
            names = [d[0] for d in res.description]
            want = sorted(tuple(str(_norm(v)) for _, v in sorted(zip(names, r)))
                          for r in res.fetchall())
            cols, got = results[name]
            ctx.record_check(name, cols == sorted(names) and got == want)
    finally:
        con.close()


def layers(ctx, traced: list[dict]) -> dict[str, float]:
    """Per-layer figures per traced warm pass, from the spans (the
    Spark figures come from the event log)."""
    tr = ctx.tracer
    kids = tr.children()
    n = len(traced)
    inner = [c for p in traced for c in tr.within(p)]
    build = [s for s in inner if s["name"] == "plans.build"]
    execs = [s for s in inner if s["name"] == "spark.exec"]
    ctx.details["per_query_median_s"] = {
        q: {"build": statistics.median([dur(s) for s in build if s["query"] == q]),
            "exec": statistics.median([dur(s) for s in execs if s["query"] == q]),
            "catalyst_per_pass": sum(
                s["catalyst_s"] for s in build + execs if s["query"] == q) / n}
        for q in HEADLINE
    }
    return {
        "plans.build_s": sum(dur(s) for s in build) / n,
        "trace.uncovered_s": sum(self_time(p, kids) for p in traced) / n,
    }
