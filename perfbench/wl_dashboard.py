"""``dashboard``: one closed-loop viewer over the published gold layer.

Set-up ingests a seeded webhook history through
``sources.webhook.ingest_batch`` and publishes it with
``jobs.refresh_gold``. Timed: each view applies a seeded slicer
(account x agent x created-month range) to the published
``lead_snapshot`` and renders all 8 ``plans.gold`` panels, each
collected to the viewer. The number of views is fixed by ``--seconds``,
not by a clock. Read-only and latency-bound: planning, scheduling and
the gold scan, no writes.
"""

from __future__ import annotations

import json
import os
import time
from datetime import date

import gen
import oracle
from common import PANELS, Ctx, Result
from spans import beyond, percentile, tail_quantile

from cloud_based_bi_etl_automation_for_real_estate_company_spark import jobs
from cloud_based_bi_etl_automation_for_real_estate_company_spark.plans import gold
from cloud_based_bi_etl_automation_for_real_estate_company_spark.sources.webhook import (
    ingest_batch,
)

BASE_EVENTS = 12_000
WARMUP_VIEWS = 1
VIEW_S = 2.0  # about one view's time on 4 cores: views = --seconds / VIEW_S
MIN_VIEWS = 3
GOALS_FIXTURE = os.path.join(
    os.path.dirname(gold.__file__), os.pardir, "fixtures", "goals.jsonl"
)


def goal_rows() -> list[tuple[str, date, float]]:
    """Monthly goals per account from the package's goals fixture: the
    i-th account takes the i-th segment's annual goal, spread evenly
    over the months."""
    with open(GOALS_FIXTURE) as f:
        annual = [json.loads(line)["goal"] for line in f if line.strip()]
    return [
        (acct, gen.month_start(m).date(), annual[i % len(annual)] / 12.0)
        for i, acct in enumerate(gen.ACCOUNTS)
        for m in range(gen.N_MONTHS)
    ]


def spark_pred(sl: gen.Slicer):
    from pyspark.sql import functions as F

    lo, hi = sl.bounds()
    pred = (
        (F.col("account") == sl.account)
        & (F.col("created_at_utc") >= F.lit(lo.strftime("%Y-%m-%d %H:%M:%S")).cast("timestamp"))
        & (F.col("created_at_utc") < F.lit(hi.strftime("%Y-%m-%d %H:%M:%S")).cast("timestamp"))
    )
    if sl.agent is not None:
        pred = pred & (F.col("user_email") == sl.agent)
    return pred


def duck_pred(sl: gen.Slicer) -> str:
    lo, hi = sl.bounds()
    p = (
        f"account = '{sl.account}' AND created_at_utc >= TIMESTAMP '{lo:%Y-%m-%d %H:%M:%S}'"
        f" AND created_at_utc < TIMESTAMP '{hi:%Y-%m-%d %H:%M:%S}'"
    )
    if sl.agent is not None:
        p += f" AND user_email = '{sl.agent}'"
    return p


def render(ctx: Ctx, snap, goals_df, request: str) -> dict[str, tuple[float, list]]:
    """All 8 panels of one view: {panel: (seconds, rows)}."""
    out = {}
    for name in PANELS:
        fn = getattr(gold, name)
        with ctx.tracer.span(f"plans.gold.{name}", request) as s:
            df = fn(snap, goals_df) if name == "goal_progress" else fn(snap)
            rows = [tuple(r) for r in df.collect()]
        out[name] = (s.dur, rows)
    return out


def publish(ctx: Ctx, silver: str, gold_dir: str, truth: gen.IncrementTruth) -> None:
    with ctx.tracer.span("sources.webhook.ingest_batch", "setup"):
        _, metrics = ingest_batch(ctx.spark, ctx.path("data", "base.jsonl"), silver)
    ctx.op(
        metrics["n_rows"] == truth.valid_unique,
        f"setup ingest wrote {metrics['n_rows']} rows, generator expects {truth.valid_unique}",
    )
    with ctx.tracer.span("jobs.refresh_gold", "setup"):
        jobs.refresh_gold(ctx.spark, silver, gold_dir)


def check_snapshot(ctx: Ctx, con, silver: str, gold_dir: str) -> None:
    with ctx.tracer.span("bench.check"):
        want = con.execute(
            f"SELECT lead_id, id FROM ({oracle.SNAPSHOT_SQL.format(silver=silver)})"
        ).fetchall()
        got = con.execute(
            f"SELECT lead_id, id FROM {oracle.read_parquet_sql(os.path.join(gold_dir, 'lead_snapshot'))}"
        ).fetchall()
    bad = oracle.diff(got, want, ordered=False)
    ctx.op(bad is None, f"published lead_snapshot vs DuckDB: {bad}")


def run(ctx: Ctx) -> Result:
    spark = ctx.spark
    silver, gold_dir = ctx.path("silver"), ctx.path("gold")
    t_prep = time.perf_counter()
    os.makedirs(ctx.path("data"))
    lines, truth = gen.CrmGen(ctx.seed).increment(BASE_EVENTS)
    gen.write_lines(ctx.path("data", "base.jsonl"), lines)
    publish(ctx, silver, gold_dir, truth)
    goals = goal_rows()
    goals_df = spark.createDataFrame(goals, "account string, month_start date, goal double")
    snap_path = os.path.join(gold_dir, "lead_snapshot")
    n_views = max(MIN_VIEWS, round(ctx.seconds / VIEW_S))
    views = gen.slicers(ctx.seed, WARMUP_VIEWS + n_views)
    for i in range(WARMUP_VIEWS):
        render(ctx, spark.read.parquet(snap_path).filter(spark_pred(views[i])), goals_df, "warmup")
    prep_s = time.perf_counter() - t_prep

    # timed closed loop: the next view starts when the previous one is
    # on screen
    rendered: list[tuple[gen.Slicer, dict]] = []
    view_s: list[float] = []
    t0_ms = time.time() * 1000
    start = time.perf_counter()
    for i, sl in enumerate(views[WARMUP_VIEWS:]):
        with ctx.tracer.span("bench.view", f"view-{i}") as v:
            snap = spark.read.parquet(snap_path).filter(spark_pred(sl))
            panels = render(ctx, snap, goals_df, f"view-{i}")
        view_s.append(v.dur)
        rendered.append((sl, panels))
    wall = time.perf_counter() - start
    t1_ms = time.time() * 1000

    con = oracle.connect()
    oracle.register_goals(con, goals)
    check_snapshot(ctx, con, silver, gold_dir)
    panel_s: list[float] = []
    per_panel: dict[str, list[float]] = {p: [] for p in PANELS}
    with ctx.tracer.span("bench.check"):
        for sl, panels in rendered:
            con.execute(
                f"CREATE OR REPLACE VIEW snap AS SELECT * FROM "
                f"{oracle.read_parquet_sql(snap_path)} WHERE {duck_pred(sl)}"
            )
            for name, (secs, rows) in panels.items():
                panel_s.append(secs)
                per_panel[name].append(secs)
                want = con.execute(oracle.PANEL_SQL[name]).fetchall()
                bad = oracle.diff(rows, want, ordered=name in oracle.ORDERED)
                ctx.op(bad is None, f"{name} for {sl}: {bad}")
    con.close()

    named = [
        ("dashboard_panel_p50_s", percentile(panel_s, 0.5), "s", f"n={len(panel_s)} panels"),
    ]
    q = tail_quantile(panel_s)
    if q is not None and q > 0.5:
        named.append(
            (f"dashboard_panel_p{round(q * 100)}_s", percentile(panel_s, q), "s",
             f"n={len(panel_s)}, {beyond(panel_s, q)} beyond")
        )
    named += [
        ("dashboard_view_p50_s", percentile(view_s, 0.5), "s", f"n={len(view_s)} views"),
        ("dashboard_panels_per_s", len(panel_s) / wall, "1/s", f"closed loop, {wall:.2f} s"),
    ]
    layers = {f"gold.{p}_p50_s": percentile(v, 0.5) for p, v in per_panel.items() if v}
    return Result(
        op_p50_s=percentile(view_s, 0.5),
        rate_per_s=len(panel_s) / wall,
        prep_s=prep_s,
        windows_ms=[(t0_ms, t1_ms)],
        named=named,
        layers=layers,
    )


def engine_layers(ctx: Ctx, log) -> dict[str, float]:
    import eventlog

    timed = {
        f"pb{s.id}"
        for s in ctx.tracer.spans
        if s.name.startswith("plans.gold.") and (s.request or "").startswith("view-")
    }
    st = eventlog.group_stats(log, timed)
    n = max(1, len(timed))
    return {
        "gold.jobs_per_panel": st.jobs / n,
        "gold.tasks_per_panel": st.tasks / n,
        "gold.files_read_per_panel": st.files_read / n,
    }
