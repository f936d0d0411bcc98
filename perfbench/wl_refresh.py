"""``refresh``: the batch write paths.

Set-up ingests a seeded live-silver history, which also warms the
ingest path, and writes the increments and a seeded
``documents.parquet``. Timed, in order:

1. a one-time backfill: ``sources.rest.fetch_paginated`` against an
   in-process seeded page server (flaky pages, retried without
   sleeping), projected onto the silver schema with
   ``sources.webhook.project_silver`` and merged with live silver by
   ``jobs.run_backfill_merge``;
2. refresh cycles, as many as ``--seconds`` buys at ``CYCLE_S`` each
   (at least one), each appending a fresh JSONL increment to silver
   with ``sources.webhook.ingest_batch`` and then running
   ``jobs.refresh_gold``;
3. one ``jobs.run_curation_pipeline`` over the documents, which carry
   planted exact and near duplicates: ``operators.dedup``,
   ``operators.quality``, ``functions.text`` and the other curation
   operators that no CRM path reaches.

Increments carry retried duplicates, corrupt lines, foreign accounts,
unhandled events, deletes and updates; silver grows across cycles, so
a gain that costs later cycles shows. ``rate_per_s`` counts the
records of all three phases over their summed time, so each phase
moves it.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass

import gen
import oracle
from common import Ctx, Result
from spans import percentile

from cloud_based_bi_etl_automation_for_real_estate_company_spark import jobs
from cloud_based_bi_etl_automation_for_real_estate_company_spark.schemas import LEAD_SCHEMA
from cloud_based_bi_etl_automation_for_real_estate_company_spark.sources.rest import (
    fetch_paginated,
    with_retries,
)
from cloud_based_bi_etl_automation_for_real_estate_company_spark.sources.webhook import (
    ingest_batch,
    project_silver,
    quarantine,
    read_webhook_json,
)

LIVE_EVENTS = 10_000
CYCLE_EVENTS = 10_000
CYCLE_S = 12.0  # about the first cycle's time on 4 cores: cycles = --seconds / CYCLE_S
CURATION_DOCS = 500
BACKFILL_PER_ACCOUNT = 2_000
BACKFILL_OVERLAP = 700
PAGE_SIZE = 100
BACKFILL_RECEIVED_AT = "2000-01-01 00:00:00"
GOLD_TABLES = (
    "funnel",
    "conversion_rates",
    "sales_totals",
    "agent_table",
    "agent_ranking",
    "monthly_trend",
    "detail_listing",
)


def no_sleep(_s: float) -> None:
    return None


class CountingFetcher:
    """The page server seen through a flaky transport: each flaky page
    fails its first attempt in every task that fetches it. Calls,
    pages, retries and seconds inside the server go to Spark
    accumulators, because the fetch runs in Python workers."""

    def __init__(self, server: gen.PageServer, sc):
        self.server = server
        self.calls = sc.accumulator(0)
        self.pages = sc.accumulator(0)
        self.retries = sc.accumulator(0)
        self.seconds = sc.accumulator(0.0)
        self._failed: set = set()

    def __call__(self, limit: int, offset: int, params: dict) -> list[dict]:
        t = time.perf_counter()
        self.calls.add(1)
        account = params["account"]
        if self.server.is_flaky(account, offset) and (account, offset) not in self._failed:
            self._failed.add((account, offset))
            self.retries.add(1)
            self.seconds.add(time.perf_counter() - t)
            raise ConnectionError(f"transient failure at {account}/{offset}")
        recs = self.server.page(account, limit, offset)
        if recs:
            self.pages.add(1)
        self.seconds.add(time.perf_counter() - t)
        return recs


def backfill_frame(spark, fetcher, per_account: int):
    """Fetch every account's history and shape it as silver rows. The
    backfill rows get negative event ids and an old arrival time, so
    live events win the last-write-wins merge."""
    from pyspark.sql import functions as F

    frames = []
    for account in gen.ACCOUNTS:
        leads = fetch_paginated(
            spark, fetcher, LEAD_SCHEMA, total_hint=per_account,
            page_size=PAGE_SIZE, params={"account": account},
        )
        data = F.struct(*[F.col(c) for c in LEAD_SCHEMA.names])
        frames.append(
            leads.select(
                (-F.col("id")).alias("id"),
                F.lit(account).alias("account"),
                F.lit("lead.creation").alias("event"),
                F.lit(None).cast("string").alias("signature"),
                F.lit(True).alias("has_succeeded"),
                F.lit(1).alias("try_count"),
                F.lit(200).alias("last_returned_code"),
                F.lit(BACKFILL_RECEIVED_AT).cast("timestamp").alias("received_at"),
                data.alias("data"),
                F.to_json(data).alias("raw_data"),
            )
        )
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    return project_silver(out)


def check_curation(ctx: Ctx, con, out: str, sf: str) -> int:
    """No two curated rows share a content hash; every id is an input id."""
    with ctx.tracer.span("bench.check"):
        n, n_hash, foreign = con.execute(
            f"SELECT count(*), count(DISTINCT md5(text)), "
            f"count(*) FILTER (WHERE doc_id NOT IN (SELECT doc_id FROM "
            f"read_parquet('{sf}/documents.parquet'))) FROM {oracle.read_parquet_sql(out)}"
        ).fetchone()
    ctx.op(
        n == n_hash and foreign == 0 and n > 0,
        f"curation: {n} rows, {n_hash} distinct content hashes, {foreign} ids not in the input",
    )
    return n


def files_since(root: str, t0: float) -> tuple[int, int]:
    n = size = 0
    for d, _, files in os.walk(root):
        for name in files:
            if name.endswith(".parquet"):
                st = os.stat(os.path.join(d, name))
                if st.st_mtime >= t0:
                    n += 1
                    size += st.st_size
    return n, size


def check_gold(ctx: Ctx, con, silver: str, gold_dir: str, cycle: int) -> None:
    """Every refreshed gold table against DuckDB over the same silver."""
    with ctx.tracer.span("bench.check"):
        con.execute(
            "CREATE OR REPLACE TABLE snap AS " + oracle.SNAPSHOT_SQL.format(silver=silver)
        )
        got = con.execute(
            f"SELECT lead_id, id FROM {oracle.read_parquet_sql(os.path.join(gold_dir, 'lead_snapshot'))}"
        ).fetchall()
        problems = []
        bad = oracle.diff(got, con.execute("SELECT lead_id, id FROM snap").fetchall(), False)
        if bad:
            problems.append(f"lead_snapshot: {bad}")
        for name in GOLD_TABLES:
            want = con.execute(oracle.PANEL_SQL[name]).fetchall()
            cols = ", ".join(d[0] for d in con.description)
            got = con.execute(
                f"SELECT {cols} FROM {oracle.read_parquet_sql(os.path.join(gold_dir, name))}"
            ).fetchall()
            bad = oracle.diff(got, want, ordered=False)
            if bad:
                problems.append(f"{name}: {bad}")
    ctx.op(not problems, f"cycle {cycle} refresh_gold vs DuckDB: {problems}")


@dataclass
class Cycle:
    total_s: float
    ingest_s: float
    refresh_s: float
    rows_out: int
    window_ms: tuple[float, float]
    files: int
    bytes: int


def refresh_cycle(ctx: Ctx, c: int, path: str, silver: str, gold_dir: str) -> Cycle:
    """One timed cycle: append an increment to silver, refresh gold."""
    w0 = time.time() * 1000
    with ctx.tracer.span("bench.cycle", f"cycle-{c}") as cy:
        with ctx.tracer.span("sources.webhook.ingest_batch") as ing:
            _, m = ingest_batch(ctx.spark, path, silver)
        t_wall = time.time()
        with ctx.tracer.span("jobs.refresh_gold") as rf:
            jobs.refresh_gold(ctx.spark, silver, gold_dir)
    w1 = time.time() * 1000
    files, nbytes = files_since(gold_dir, t_wall - 1e-3)
    return Cycle(cy.dur, ing.dur, rf.dur, m["n_rows"], (w0, w1), files, nbytes)


def run(ctx: Ctx) -> Result:
    spark = ctx.spark
    silver, gold_dir, merged = ctx.path("silver"), ctx.path("gold"), ctx.path("backfill")
    data = ctx.path("data")
    os.makedirs(data)
    con = oracle.connect()

    t_prep = time.perf_counter()
    world = gen.CrmGen(ctx.seed)
    lines, truth = world.increment(LIVE_EVENTS)
    gen.write_lines(os.path.join(data, "live.jsonl"), lines)
    with ctx.tracer.span("sources.webhook.ingest_batch", "setup"):
        _, m = ingest_batch(spark, os.path.join(data, "live.jsonl"), silver)
    ctx.op(m["n_rows"] == truth.valid_unique,
           f"live ingest wrote {m['n_rows']}, generator expects {truth.valid_unique}")
    incs = []
    for c in range(max(1, round(ctx.seconds / CYCLE_S))):
        lines, truth = world.increment(CYCLE_EVENTS)
        path = os.path.join(data, f"inc-{c}.jsonl")
        gen.write_lines(path, lines)
        incs.append((path, truth))
    server = gen.PageServer(ctx.seed, BACKFILL_PER_ACCOUNT, BACKFILL_OVERLAP)
    fetcher = CountingFetcher(server, spark.sparkContext)
    sf = os.path.join(data, "sf")
    os.makedirs(sf)
    docs, docs_truth = gen.documents(ctx.seed, CURATION_DOCS)
    gen.write_documents(os.path.join(sf, "documents.parquet"), docs)
    prep_s = time.perf_counter() - t_prep

    b0_ms = time.time() * 1000
    with ctx.tracer.span("bench.backfill", "backfill") as bf:
        with ctx.tracer.span("sources.rest.fetch_paginated"):
            backfill = backfill_frame(
                spark, with_retries(fetcher, sleep=no_sleep), BACKFILL_PER_ACCOUNT
            )
        with ctx.tracer.span("jobs.run_backfill_merge") as mg:
            jobs.run_backfill_merge(backfill, spark.read.parquet(silver), merged)
    windows = [(b0_ms, time.time() * 1000)]

    with ctx.tracer.span("bench.check"):
        live_ids = {
            r[0]
            for r in con.execute(
                f"SELECT DISTINCT lead_id FROM {oracle.read_parquet_sql(silver)}"
            ).fetchall()
        }
        n_merged, n_distinct, n_lost_live = con.execute(
            f"SELECT count(*), count(DISTINCT lead_id), "
            f"count(*) FILTER (WHERE id < 0 AND lead_id IN (SELECT lead_id FROM "
            f"{oracle.read_parquet_sql(silver)})) FROM {oracle.read_parquet_sql(merged)}"
        ).fetchone()
    want = len(server.lead_ids() | live_ids)
    ctx.op(
        n_merged == want and n_distinct == want and n_lost_live == 0,
        f"backfill merge: {n_merged} rows / {n_distinct} leads, expected {want}; "
        f"{n_lost_live} live leads lost to backfill rows",
    )
    ctx.op(
        fetcher.retries.value >= server.expected_retries(PAGE_SIZE),
        f"fetcher retried {fetcher.retries.value} pages, "
        f"expected at least {server.expected_retries(PAGE_SIZE)}",
    )

    cycles = []
    for c, (path, _) in enumerate(incs):
        cycles.append(refresh_cycle(ctx, c, path, silver, gold_dir))
        check_gold(ctx, con, silver, gold_dir, c)
    windows += [cy.window_ms for cy in cycles]

    curated = ctx.path("gold", "curated")
    c0_ms = time.time() * 1000
    with ctx.tracer.span("jobs.run_curation_pipeline", "curation") as cu:
        jobs.run_curation_pipeline(spark, sf, curated)
    windows.append((c0_ms, time.time() * 1000))
    n_curated = check_curation(ctx, con, curated, sf)
    con.close()

    outs = [cy.rows_out for cy in cycles]
    with ctx.tracer.span("bench.check"):
        quarantined = quarantine(read_webhook_json(spark, [p for p, _ in incs])).count()
    ctx.op(
        outs == [t.valid_unique for _, t in incs]
        and quarantined == sum(t.corrupt for _, t in incs),
        f"ingest wrote {outs} rows and quarantined {quarantined} lines; generator expects "
        f"{[t.valid_unique for _, t in incs]} and {sum(t.corrupt for _, t in incs)}",
    )

    n_backfill = len(server.lead_ids())
    events = sum(t.lines for _, t in incs)
    ingest_s = sum(cy.ingest_s for cy in cycles)
    cycle_s = [cy.total_s for cy in cycles]
    records = n_backfill + events + docs_truth.n_docs
    batch_s = bf.dur + sum(cycle_s) + cu.dur
    named = [
        ("backfill_leads_per_s", n_backfill / bf.dur, "1/s",
         f"{n_backfill} leads fetched and merged in {bf.dur:.2f} s"),
        ("ingest_events_per_s", events / ingest_s, "1/s",
         f"{events} lines over {len(cycles)} batches"),
        ("refresh_cycle_p50_s", percentile(cycle_s, 0.5), "s",
         "cycles " + ", ".join(f"{x:.2f}" for x in cycle_s) + " s"),
        ("curation_s", cu.dur, "s",
         f"{docs_truth.n_docs} docs ({docs_truth.exact_dups} exact / "
         f"{docs_truth.near_dups} near duplicates planted)"),
        ("batch_records_per_s", records / batch_s, "1/s",
         f"{records} leads, lines and docs over {batch_s:.2f} s"),
    ]
    layers = {
        "rest.fetch_s": fetcher.seconds.value,
        "rest.pages": float(fetcher.pages.value),
        "rest.fetch_calls": float(fetcher.calls.value),
        "rest.retries": float(fetcher.retries.value),
        "backfill.merge_s": mg.dur,
        "ingest.batch_s": percentile([cy.ingest_s for cy in cycles], 0.5),
        "ingest.rows_in": float(events),
        "ingest.rows_out": float(sum(outs)),
        "ingest.dedup_ratio": sum(outs) / events,
        "ingest.quarantined": float(quarantined),
        "refresh.gold_s": percentile([cy.refresh_s for cy in cycles], 0.5),
        "refresh.files_written": sum(cy.files for cy in cycles) / len(cycles),
        "refresh.bytes_written": sum(cy.bytes for cy in cycles) / len(cycles),
        "curation.rows_out_per_in": n_curated / docs_truth.n_docs,
    }
    return Result(
        op_p50_s=percentile(cycle_s, 0.5),
        rate_per_s=records / batch_s,
        prep_s=prep_s,
        windows_ms=windows,
        named=named,
        layers=layers,
    )


def engine_layers(ctx: Ctx, log) -> dict[str, float]:
    import eventlog

    timed = [s for s in ctx.tracer.spans if s.request != "setup"]
    refresh = {f"pb{s.id}" for s in timed if s.name == "jobs.refresh_gold"}
    merge = {f"pb{s.id}" for s in timed if s.name == "jobs.run_backfill_merge"}
    curation = {f"pb{s.id}" for s in timed if s.name == "jobs.run_curation_pipeline"}
    n = max(1, len(refresh))
    st = eventlog.group_stats(log, refresh)
    cu = eventlog.group_stats(log, curation)
    return {
        "curation.jobs": float(cu.jobs),
        "curation.stages": float(cu.stages),
        "curation.single_task_stages": float(cu.single_task_stages),
        "curation.shuffle_bytes": float(cu.shuffle_bytes),
        "backfill.shuffle_bytes": float(eventlog.group_stats(log, merge).shuffle_bytes),
        "refresh.jobs": st.jobs / n,
        "refresh.shuffle_bytes": st.shuffle_bytes / n,
        "refresh.silver_scans": eventlog.scans_of(log, refresh, ctx.path("silver")) / n,
    }
