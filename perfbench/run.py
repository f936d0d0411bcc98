"""CRM/BI end-to-end benchmark.

    python3 perfbench/run.py --workload dashboard --seed 1 --seconds 8 --trace 0

Run from the repository root. The command generates seeded inputs under
``.perfbench_out/``, builds the tuned Spark session
(``session.get_spark``, ``local[<cpus>]``), drives the program's public
functions from outside, checks every output against the generator's
ground truth or DuckDB, and prints the workload's named metrics, then
one JSON line: ``{"correct", "attempted", "failed", "metrics"}``.
``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the
per-layer metrics (spans around every layer call, Spark job groups and
the Spark event log). The exit code is non-zero when any check fails.
See perfbench/README.md for the workloads and the metric map.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
from collections import Counter

from common import E2E, LAYER, PUSH_LAYER, Ctx, Result, cpu_times, layer_of, nproc, peak_rss_mb

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

WORKLOADS = ("dashboard", "refresh", "webhook_push")


def prepare_env(work: str) -> None:
    """Keep every file Spark, its JVM and its Python workers write
    inside the run's work directory, and let workers import the
    package and the generator."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TZ"] = "UTC"
    time.tzset()
    os.environ["TMPDIR"] = tmp
    # every JVM, the launcher too: temp files here, no perf-data file in /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, HERE, os.environ.get("PYTHONPATH", "")) if p
    )
    for p in (ROOT, HERE):
        if p not in sys.path:
            sys.path.insert(0, p)


def build_session(work: str, trace: bool, cores: int):
    from cloud_based_bi_etl_automation_for_real_estate_company_spark.session import (
        get_spark,
    )

    conf = {
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.local.dir": os.path.join(work, "tmp"),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        os.makedirs(os.path.join(work, "eventlog"), exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + os.path.join(work, "eventlog"),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    t = time.perf_counter()
    spark = get_spark("perfbench", cpus=cores, extra_conf=conf)
    t1 = time.perf_counter()
    spark.sparkContext.setLogLevel("ERROR")
    return spark, t, t1


def stop_spark(spark) -> None:
    """Stop Spark and wait until its JVM, and with it every Python
    worker, has exited: the gateway JVM exits when its stdin closes."""
    from pyspark import SparkContext

    spark.stop()
    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def _fmt(v: float) -> str:
    return f"{v:.6g}"


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    trace = bool(args.trace)

    out_root = os.path.join(os.getcwd(), ".perfbench_out")
    work = os.path.join(out_root, f"{args.workload}-{args.seed}-{args.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    prepare_env(work)

    import importlib

    from spans import Tracer, span_cost

    mod = importlib.import_module(f"wl_{args.workload}")
    cores = nproc()
    spark, t_build, t_built = build_session(work, trace, cores)
    build_s = t_built - t_build
    tracer = Tracer(trace, spark)
    tracer.record("session.get_spark", t_build, t_built, "setup")
    ctx = Ctx(spark, tracer, args.seed, args.seconds, work, cores)
    steal0, total0 = cpu_times()
    try:
        res: Result = mod.run(ctx)
        rss = peak_rss_mb()
        run_s = time.perf_counter() - t_built
        cost_s = span_cost(spark) if trace else 0.0
    finally:
        stop_spark(spark)
    steal1, total1 = cpu_times()

    setup_s = build_s + res.prep_s
    e2e = {
        "setup_s": setup_s,
        "op_p50_s": res.op_p50_s,
        "rate_per_s": res.rate_per_s,
    }
    failed = len(ctx.failures)
    named = [
        ("setup_s", setup_s, "s", f"session build {build_s:.3f} s + workload prep {res.prep_s:.3f} s"),
        ("failed_ratio", failed / max(1, ctx.attempted), "ratio", f"{failed}/{ctx.attempted} ops"),
        ("peak_rss_mb", rss, "MB", "JVM plus Python, summed per-process peaks"),
        ("cpu_steal_share", (steal1 - steal0) / max(1, total1 - total0), "ratio",
         "CPU time taken by other guests on this host during the run"),
        *res.named,
    ]
    for name, value, unit, note in named:
        print(f"{name:32s} {_fmt(value):>14s} {unit:6s} {note}")
    for what, n in Counter(ctx.failures).most_common(20):
        print(f"FAILED x{n}: {what}")

    if trace:
        metrics_raw = layer_metrics(ctx, res, build_s, args.workload)
        metrics_raw["trace.overhead_share"] = cost_s * len(tracer.spans) / run_s
        tracer.dump(os.path.join(work, "spans.jsonl"))
        units = {**LAYER, **PUSH_LAYER}
        for k in sorted(metrics_raw):
            print(f"  {k:34s} {_fmt(metrics_raw[k]):>14s} {units[k]}")
        metrics = {k: {"value": metrics_raw[k], "unit": LAYER[k]} for k in LAYER}
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in E2E.items()}
    for sub in ("silver", "gold", "data", "tmp", "warehouse", "checkpoint"):
        shutil.rmtree(os.path.join(work, sub), ignore_errors=True)
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": ctx.attempted,
                "failed": failed,
                "metrics": metrics,
            }
        )
    )
    return 0 if failed == 0 else 1


def layer_metrics(ctx: Ctx, res: Result, build_s: float, workload: str) -> dict:
    """Per-layer numbers of a traced run: the workload's own counts,
    self time per layer from the spans, and engine numbers from the
    event log. Only the ``LAYER`` entries reach the JSON line;
    webhook_push's ``PUSH_LAYER`` entries are printed."""
    import eventlog
    from spans import self_times

    m = {k: 0.0 for k in LAYER}
    m["session.build_s"] = build_s
    m.update(res.layers)
    by_layer: dict[str, float] = {}
    for name, s in self_times(ctx.tracer.spans).items():
        layer = layer_of(name)
        by_layer[layer] = by_layer.get(layer, 0.0) + s
    for layer, s in by_layer.items():
        m[f"self_s.{layer}"] = s
    m["trace.spans"] = float(len(ctx.tracer.spans))
    log = eventlog.read(ctx.path("eventlog"))
    m.update(eventlog.engine_stats(log, res.windows_ms, ctx.cores))
    m.update(sys.modules[f"wl_{workload}"].engine_layers(ctx, log))
    unknown = set(m) - set(LAYER) - set(PUSH_LAYER)
    if unknown:
        raise KeyError(f"unlisted per-layer metrics {sorted(unknown)}")
    return m


if __name__ == "__main__":
    sys.exit(main())
