"""``webhook_push``: open-loop HTTP push into the streaming path.

One ``sources.http_receiver.WebhookReceiver`` runs for the whole run,
with ``streaming.pipeline.stream_silver(available_now=False)`` on its
spool. One generator thread POSTs on a fixed schedule at a few fixed
rates; it never waits for the system, so a stall shows as lateness of
later sends and as backlog. Each event carries its due time inside the
envelope (``data.description``), which survives into silver's
``raw_data``. Latency runs from the due time to the moment the event is
readable in silver.

Acknowledged events that never become readable count as failed: the
benchmark neither restarts the receiver nor rotates its spool.
"""

from __future__ import annotations

import http.client
import json
import os
import re
import threading
import time
from dataclasses import dataclass

import gen
from common import Ctx, Result
from spans import beyond, percentile, tail_quantile

RATES = (50, 200, 800)  # events/s, one phase each
LIMIT_S = 5.0  # an event is on time when readable this soon after due
POLL_S = 0.05
STAMP = re.compile(r"due_us=(\d+)")


@dataclass
class Sent:
    event_id: int
    rate: int
    due: float  # perf_counter
    due_us: int = 0  # wall-clock stamp carried inside the event
    sent: float = 0.0
    acked: float = 0.0
    status: int = 0


class PushLoad:
    """Sends ``schedule`` to ``http://127.0.0.1:<port>`` from one
    thread, each POST at its due time or, when behind, at once."""

    def __init__(self, port: int, seed: int, schedule: list[tuple[float, int, str]]):
        self.port = port
        self.seed = seed
        self.schedule = schedule
        self.records: list[Sent] = []
        self.t0 = 0.0
        self._thread = threading.Thread(target=self._run, name="push-load", daemon=True)

    def start(self) -> "PushLoad":
        self.t0 = time.perf_counter() + 0.2
        self._thread.start()
        return self

    def join(self, timeout: float) -> None:
        self._thread.join(timeout)
        if self._thread.is_alive():
            raise TimeoutError("push generator did not finish")

    def _run(self) -> None:
        wall0 = time.time() - time.perf_counter()
        for i, (offset, rate, account) in enumerate(self.schedule):
            rec = Sent(event_id=i + 1, rate=rate, due=self.t0 + offset)
            self.records.append(rec)
            wait = rec.due - time.perf_counter()
            if wait > 0:
                time.sleep(wait)
            rec.due_us = int((wall0 + rec.due) * 1e6)
            body = json.dumps(gen.push_body(self.seed, rec.event_id, rec.due_us)).encode()
            rec.sent = time.perf_counter()
            try:
                conn = http.client.HTTPConnection("127.0.0.1", self.port, timeout=10)
                conn.request("POST", f"/webhook/{account}", body,
                             {"Content-Type": "application/json"})
                resp = conn.getresponse()
                resp.read()
                rec.status = resp.status
                conn.close()
            except OSError:
                rec.status = -1
            rec.acked = time.perf_counter()


class SilverWatcher:
    """Polls the silver directory from outside the program and notes
    when each event id first becomes readable, plus the backlog
    (acknowledged minus readable) over time."""

    def __init__(self, silver: str, acked_count, stream):
        self.silver = silver
        self.acked_count = acked_count
        self.stream = stream
        self.seen: dict[int, float] = {}
        self.stamps: dict[int, int] = {}  # due stamp read back from raw_data
        self.dup_ids: list[int] = []
        self.backlog: list[tuple[float, int]] = []
        self.progress: dict[int, dict] = {}
        self._files: set[str] = set()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="silver-watch", daemon=True)

    def start(self) -> "SilverWatcher":
        self._thread.start()
        return self

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(30)
        if self._thread.is_alive():
            raise TimeoutError("silver watcher did not stop")
        self.poll()

    def poll(self) -> None:
        import pyarrow.parquet as pq

        now = time.perf_counter()
        for d, dirs, files in os.walk(self.silver):
            dirs[:] = [x for x in dirs if not x.startswith(("_", "."))]
            for name in files:
                path = os.path.join(d, name)
                if not name.endswith(".parquet") or path in self._files:
                    continue
                self._files.add(path)
                t = pq.read_table(path, columns=["id", "raw_data"]).to_pydict()
                for eid, raw in zip(t["id"], t["raw_data"]):
                    if eid in self.seen:
                        self.dup_ids.append(eid)
                    else:
                        self.seen[eid] = now
                        m = STAMP.search(raw or "")
                        self.stamps[eid] = int(m.group(1)) if m else -1
        self.backlog.append((now, self.acked_count() - len(self.seen)))
        p = self.stream.lastProgress
        if p is not None:
            self.progress[p["batchId"]] = p

    def _run(self) -> None:
        while not self._stop.wait(POLL_S):
            self.poll()

    @property
    def n_files(self) -> int:
        return len(self._files)


def account(records: list[Sent], seen: dict[int, float], limit_s: float) -> dict:
    """Open-loop accounting. Latency is readable-time minus due-time;
    a refused or acknowledged-but-unreadable event misses the limit.
    Returns counts, latencies and per-rate on-time shares."""
    acked = [r for r in records if r.status == 200]
    delivered = [r for r in acked if r.event_id in seen]
    lat = [seen[r.event_id] - r.due for r in delivered]
    on_time = sum(1 for x in lat if x <= limit_s)
    per_rate = {}
    for rate in sorted({r.rate for r in records}):
        rs = [r for r in records if r.rate == rate]
        ok = sum(
            1 for r in rs
            if r.status == 200 and r.event_id in seen and seen[r.event_id] - r.due <= limit_s
        )
        per_rate[rate] = ok / len(rs)
    return {
        "attempted": len(records),
        "acked": len(acked),
        "refused": len(records) - len(acked),
        "delivered": len(delivered),
        "lost": len(acked) - len(delivered),
        "on_time": on_time,
        "latencies": lat,
        "lateness": [r.sent - r.due for r in records],
        "ack_ms": [(r.acked - r.sent) * 1000 for r in acked],
        "per_rate_on_time": per_rate,
    }


def backlog_growing(samples: list[tuple[float, int]], t_lo: float, t_hi: float) -> bool:
    """Backlog at the end of [t_lo, t_hi] above its level at the middle."""
    inside = [b for t, b in samples if t_lo <= t <= t_hi]
    if len(inside) < 4:
        return False
    return inside[-1] > inside[len(inside) // 2]


def run(ctx: Ctx) -> Result:
    from cloud_based_bi_etl_automation_for_real_estate_company_spark.sources.http_receiver import (
        WebhookReceiver,
    )
    from cloud_based_bi_etl_automation_for_real_estate_company_spark.streaming.pipeline import (
        stream_silver,
    )

    spool, silver, ckpt = ctx.path("data", "spool"), ctx.path("silver"), ctx.path("checkpoint")
    os.makedirs(spool)
    phase_s = ctx.seconds / len(RATES)
    t_prep = time.perf_counter()
    schedule = gen.push_schedule(ctx.seed, RATES, phase_s)
    with ctx.tracer.span("sources.http_receiver.start", "setup"):
        receiver = WebhookReceiver(spool).start()
    with ctx.tracer.span("streaming.pipeline.stream_silver", "setup"):
        query = stream_silver(ctx.spark, spool, silver, ckpt, available_now=False)
    prep_s = time.perf_counter() - t_prep

    load = PushLoad(receiver.port, ctx.seed, schedule)
    watcher = SilverWatcher(silver, lambda: sum(1 for r in list(load.records) if r.status == 200), query)
    t0_ms = time.time() * 1000
    try:
        watcher.start()
        with ctx.tracer.span("bench.push", "push"):
            load.start()
            load.join(ctx.seconds * 10 + 60)
            # drain: give the last events the full latency limit
            time.sleep(LIMIT_S)
        t1_ms = time.time() * 1000
    finally:
        try:
            query.stop()
        finally:
            try:
                watcher.stop()
            finally:
                receiver.stop()

    a = account(load.records, watcher.seen, LIMIT_S)
    for _ in range(a["refused"]):
        ctx.op(False, "POST refused")
    acked_ids = {r.event_id for r in load.records if r.status == 200}
    ctx.attempted += a["acked"] - a["lost"]
    for _ in range(a["lost"]):
        ctx.op(False, "acknowledged event never readable in silver")
    ctx.op(not watcher.dup_ids, f"silver holds {len(watcher.dup_ids)} duplicate ids")
    ctx.op(set(watcher.seen) <= acked_ids,
           f"{len(set(watcher.seen) - acked_ids)} silver ids were never acknowledged")
    bad_stamps = sum(
        1 for r in load.records if r.event_id in watcher.stamps and watcher.stamps[r.event_id] != r.due_us
    )
    ctx.op(bad_stamps == 0, f"{bad_stamps} silver rows lost or changed their due stamp")

    t_lo = load.t0
    max_rate = 0
    for k, rate in enumerate(RATES):
        lo, hi = t_lo + k * phase_s, t_lo + (k + 1) * phase_s
        if a["per_rate_on_time"][rate] >= 0.99 and not backlog_growing(watcher.backlog, lo, hi):
            max_rate = rate
    lat = a["latencies"]
    horizon = watcher.backlog[-1][0] - load.t0 if watcher.backlog else float(ctx.seconds)
    e2e_p50 = percentile(lat, 0.5) if lat else horizon
    named = [
        ("webhook_on_time_ratio", a["on_time"] / max(1, a["acked"]), "ratio",
         f"{a['on_time']} of {a['acked']} acknowledged within {LIMIT_S:g} s; {a['lost']} lost"),
        ("webhook_e2e_p50_s", e2e_p50, "s",
         f"n={len(lat)} delivered" if lat else "no event delivered: observation horizon"),
    ]
    q = tail_quantile(lat)
    if q is not None and q > 0.5:
        named.append((f"webhook_e2e_p{round(q * 100)}_s", percentile(lat, q), "s",
                      f"n={len(lat)}, {beyond(lat, q)} beyond"))
    named += [
        ("webhook_max_rate_eps", float(max_rate), "1/s",
         "highest rate on time with no growing backlog; 0 = none of " + "/".join(map(str, RATES))),
        ("generator_late_p50_ms", percentile(a["lateness"], 0.5) * 1000, "ms", "send minus due"),
        ("generator_late_max_ms", max(a["lateness"]) * 1000, "ms", f"over {len(a['lateness'])} sends"),
    ]
    for rate in RATES:
        named.append((f"on_time_ratio_at_{rate}_eps", a["per_rate_on_time"][rate], "ratio", ""))
    for p in query.recentProgress:  # the last 100 batches, in case polling missed one
        watcher.progress[p["batchId"]] = p
    progress = [p for _, p in sorted(watcher.progress.items())]
    busy = [p for p in progress if p.get("numInputRows", 0) > 0]
    trigger_s = [p["durationMs"].get("triggerExecution", 0) / 1000 for p in busy]
    add_batch_s = [p["durationMs"].get("addBatch", 0) / 1000 for p in busy]
    last_state = (progress[-1].get("stateOperators") or []) if progress else []
    stream_wall = max(1e-9, (t1_ms - t0_ms) / 1000)

    def p50(xs: list[float]) -> float:
        return percentile(xs, 0.5) if xs else 0.0

    layers = {
        "receiver.ack_p50_ms": p50(a["ack_ms"]),
        "receiver.ack_p99_ms": percentile(a["ack_ms"], 0.99) if a["ack_ms"] else 0.0,
        "receiver.refused": float(a["refused"]),
        "stream.batches": float(len(busy)),
        "stream.trigger_p50_s": p50(trigger_s),
        "stream.add_batch_p50_s": p50(add_batch_s),
        "stream.rows_per_batch": sum(p["numInputRows"] for p in busy) / len(busy) if busy else 0.0,
        "stream.idle_share": 1 - sum(trigger_s) / stream_wall,
        "stream.state_rows": float(sum(op.get("numRowsTotal", 0) for op in last_state)),
        "stream.backlog_max": float(max((b for _, b in watcher.backlog), default=0)),
        "stream.silver_files": float(watcher.n_files),
    }
    return Result(
        op_p50_s=e2e_p50,
        rate_per_s=a["delivered"] / ctx.seconds,
        prep_s=prep_s,
        windows_ms=[(t0_ms, t1_ms)],
        named=named,
        layers=layers,
    )


def engine_layers(ctx: Ctx, log) -> dict[str, float]:
    import eventlog

    jobs = {j for j in log.stream_jobs}
    st = eventlog.job_stats(log, jobs)
    batches = max(1, len({log.job_batch.get(j) for j in jobs}))
    return {"stream.tasks_per_batch": st.tasks / batches}
