"""Definitions shared by the benchmark's harness and its workloads:
the metric lists, the run context, a workload's result, and the
process-memory probe."""

from __future__ import annotations

import os
from dataclasses import dataclass, field

# end-to-end metrics: every workload reports all of them
E2E = {
    "setup_s": "s",
    "op_p50_s": "s",
    "rate_per_s": "1/s",
}

PANELS = (
    "funnel",
    "conversion_rates",
    "sales_totals",
    "agent_table",
    "agent_ranking",
    "goal_progress",
    "monthly_trend",
    "detail_listing",
)
SELF_LAYERS = (
    "bench",
    "session",
    "sources.rest",
    "jobs.run_backfill_merge",
    "sources.webhook",
    "jobs.refresh_gold",
    "plans.gold",
    "jobs.run_curation_pipeline",
    "sources.http_receiver",
    "streaming.pipeline",
)
# self-time layers only the ungated webhook_push workload reaches
PUSH_SELF_LAYERS = ("sources.http_receiver", "streaming.pipeline")

# per-layer metrics of the gated workloads: every traced run reports
# all of them; a layer the workload does not call reads 0
LAYER = {
    "session.build_s": "s",
    "rest.fetch_s": "s",
    "rest.pages": "count",
    "rest.fetch_calls": "count",
    "rest.retries": "count",
    "backfill.merge_s": "s",
    "backfill.shuffle_bytes": "B",
    "ingest.batch_s": "s",
    "ingest.rows_in": "count",
    "ingest.rows_out": "count",
    "ingest.dedup_ratio": "ratio",
    "ingest.quarantined": "count",
    "refresh.gold_s": "s",
    "refresh.jobs": "count",
    "refresh.silver_scans": "count",
    "refresh.shuffle_bytes": "B",
    "refresh.files_written": "count",
    "refresh.bytes_written": "B",
    **{f"gold.{p}_p50_s": "s" for p in PANELS},
    "gold.jobs_per_panel": "count",
    "gold.tasks_per_panel": "count",
    "gold.files_read_per_panel": "count",
    "curation.jobs": "count",
    "curation.stages": "count",
    "curation.single_task_stages": "count",
    "curation.shuffle_bytes": "B",
    "curation.rows_out_per_in": "ratio",
    "spark.busy_share": "ratio",
    "spark.scheduler_delay_share": "ratio",
    "spark.spill_bytes": "B",
    "spark.gc_share": "ratio",
    **{f"self_s.{layer}": "s" for layer in SELF_LAYERS if layer not in PUSH_SELF_LAYERS},
    "trace.spans": "count",
    "trace.overhead_share": "ratio",
}

# per-layer metrics of webhook_push: printed by its traced run, left out
# of the JSON line because the workload is not gated while the spool
# loses acknowledged events
PUSH_LAYER = {
    "receiver.ack_p50_ms": "ms",
    "receiver.ack_p99_ms": "ms",
    "receiver.refused": "count",
    "stream.batches": "count",
    "stream.trigger_p50_s": "s",
    "stream.add_batch_p50_s": "s",
    "stream.rows_per_batch": "count",
    "stream.idle_share": "ratio",
    "stream.state_rows": "count",
    "stream.tasks_per_batch": "count",
    "stream.backlog_max": "count",
    "stream.silver_files": "count",
    **{f"self_s.{layer}": "s" for layer in PUSH_SELF_LAYERS},
}


def layer_of(span_name: str) -> str:
    """Self-time layer of a span: its module path (span names are
    ``<module>.<function>``; benchmark-side spans start with
    ``bench.``)."""
    for layer in SELF_LAYERS:
        if span_name == layer or span_name.startswith(layer + "."):
            return layer
    raise ValueError(f"span {span_name!r} belongs to no layer")


@dataclass
class Ctx:
    spark: object
    tracer: object
    seed: int
    seconds: int
    work: str
    cores: int
    failures: list[str] = field(default_factory=list)
    attempted: int = 0

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def op(self, ok: bool, what: str) -> None:
        """Count one operation; a failed check makes it a failed op."""
        self.attempted += 1
        if not ok:
            self.failures.append(what)


@dataclass
class Result:
    """What a workload hands back to the harness."""

    op_p50_s: float
    rate_per_s: float
    prep_s: float  # set-up after the session build
    windows_ms: list[tuple[float, float]]  # timed intervals, epoch ms
    named: list[tuple[str, float, str, str]] = field(default_factory=list)
    layers: dict[str, float] = field(default_factory=dict)


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def cpu_times() -> tuple[int, int]:
    """(steal, total) jiffies of the whole machine, from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields)


def _children(pid: int) -> list[int]:
    kids = []
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        if int(stat.rsplit(")", 1)[1].split()[1]) == pid:
            kids.append(int(d))
    return kids


def peak_rss_mb() -> float:
    """Sum of the peak resident sizes (VmHWM) of this process and every
    descendant: the Spark JVM and its Python workers."""
    todo, total = [os.getpid()], 0
    while todo:
        pid = todo.pop()
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total += int(line.split()[1])
        except OSError:
            continue
        todo.extend(_children(pid))
    return total / 1024.0
