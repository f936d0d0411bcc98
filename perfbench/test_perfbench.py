"""Self-tests of the benchmark's own machinery (no Spark needed).

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os
import sys
import threading
from http.server import BaseHTTPRequestHandler, HTTPServer

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import common  # noqa: E402
import eventlog  # noqa: E402
import gen  # noqa: E402
import oracle  # noqa: E402
from spans import (  # noqa: E402
    Span,
    Tracer,
    beyond,
    covered,
    percentile,
    self_times,
    span_cost,
    tail_quantile,
)
from wl_webhook_push import PushLoad, Sent, account, backlog_growing  # noqa: E402

# ---------------------------------------------------------------- generator


def test_increment_same_seed_is_byte_identical():
    a, ta = gen.CrmGen(7).increment(3000)
    b, tb = gen.CrmGen(7).increment(3000)
    assert "\n".join(a).encode() == "\n".join(b).encode()
    assert ta == tb
    c, _ = gen.CrmGen(8).increment(3000)
    assert a != c


def test_increment_ground_truth_matches_lines():
    lines, truth = gen.CrmGen(3).increment(5000)
    corrupt = foreign = 0
    ids = []
    for line in lines:
        try:
            obj = json.loads(line)
        except json.JSONDecodeError:
            corrupt += 1
            continue
        if obj["account"] not in gen.ACCOUNTS:
            foreign += 1
            continue
        ids.append(obj["webhook_event"]["id"])
    assert truth.lines == len(lines) == 5000
    assert corrupt == truth.corrupt > 0
    assert foreign == truth.foreign > 0
    assert len(set(ids)) == truth.valid_unique
    assert len(ids) - len(set(ids)) == truth.dups > 0


def test_other_inputs_are_seeded():
    assert gen.slicers(1, 50) == gen.slicers(1, 50) != gen.slicers(2, 50)
    assert gen.push_schedule(1, (50, 200), 1.0) == gen.push_schedule(1, (50, 200), 1.0)
    assert gen.push_schedule(1, (50, 200), 1.0) != gen.push_schedule(2, (50, 200), 1.0)
    d1, t1 = gen.documents(1, 300)
    d2, _ = gen.documents(1, 300)
    d3, _ = gen.documents(2, 300)
    assert d1 == d2 != d3
    assert t1.exact_dups > 0 and t1.near_dups > 0
    texts = [r[1] for r in d1]
    assert len(texts) - len(set(texts)) >= t1.exact_dups
    s1, s2 = gen.PageServer(1, 250, 50), gen.PageServer(2, 250, 50)
    assert s1.page("office_a", 100, 200) == gen.PageServer(1, 250, 50).page("office_a", 100, 200)
    assert s1.page("office_a", 100, 0) != s2.page("office_a", 100, 0)
    assert len(s1.page("office_b", 100, 200)) == 50
    assert s1.page("office_b", 100, 300) == []
    assert len(s1.lead_ids()) == 3 * 250


def test_documents_file_is_byte_identical(tmp_path):
    for name in ("a", "b"):
        gen.write_documents(str(tmp_path / f"{name}.parquet"), gen.documents(5, 200)[0])
    assert (tmp_path / "a.parquet").read_bytes() == (tmp_path / "b.parquet").read_bytes()


# ---------------------------------------------------------------- percentiles


def test_tail_quantile_keeps_ten_samples_beyond():
    for n, q in ((15, None), (20, 0.5), (40, 0.75), (100, 0.9), (200, 0.95), (1000, 0.99)):
        xs = [float(i) for i in range(n)]
        assert tail_quantile(xs) == q, n
        if q is not None:
            assert beyond(xs, q) >= 10


def test_percentile_interpolates():
    assert percentile([1.0, 2.0, 3.0, 4.0], 0.5) == 2.5
    assert percentile([5.0], 0.99) == 5.0


# ---------------------------------------------------------------- self time


def test_covered_merges_and_clips():
    assert covered([(1, 3), (2, 5), (8, 12)], 0, 10) == 6
    assert covered([], 0, 10) == 0
    assert covered([(11, 12)], 0, 10) == 0


def test_self_time_subtracts_children_union():
    spans = [
        Span(1, "bench.view", 0.0, 10.0),
        Span(2, "plans.gold.funnel", 1.0, 3.0, parent=1),
        Span(3, "plans.gold.funnel", 2.0, 5.0, parent=1),
        Span(4, "jobs.refresh_gold", 4.0, 4.5, parent=3),
    ]
    st = self_times(spans)
    assert st["bench.view"] == 10 - 4
    assert st["plans.gold.funnel"] == 2 + (3 - 0.5)
    assert st["jobs.refresh_gold"] == 0.5


def test_tracer_nests_and_inherits_request():
    tr = Tracer(True)
    with tr.span("bench.cycle", "cycle-0") as outer:
        with tr.span("sources.webhook.ingest_batch") as inner:
            pass
    assert inner.parent == outer.id and inner.request == "cycle-0"
    assert [s.name for s in tr.spans] == ["sources.webhook.ingest_batch", "bench.cycle"]
    off = Tracer(False)
    with off.span("bench.cycle") as s:
        pass
    assert s.dur >= 0 and off.spans == []


def test_span_cost_is_small():
    cost = span_cost(None)
    assert -1e-3 < cost < 1e-3


def test_push_layers_stay_out_of_the_gated_list():
    assert not set(common.PUSH_LAYER) & set(common.LAYER)
    for layer in common.SELF_LAYERS:
        assert (f"self_s.{layer}" in common.LAYER) != (f"self_s.{layer}" in common.PUSH_LAYER)


def test_every_span_name_has_a_layer():
    for name in ("bench.view", "plans.gold.funnel", "jobs.refresh_gold",
                 "sources.webhook.ingest_batch", "session.get_spark",
                 "streaming.pipeline.stream_silver", "sources.http_receiver.start"):
        assert common.layer_of(name) in common.SELF_LAYERS


# ---------------------------------------------------------------- open loop


def test_latency_runs_from_due_time_and_lateness_is_reported():
    recs = [
        Sent(1, 50, due=0.0, sent=0.0, acked=0.01, status=200),
        Sent(2, 50, due=0.02, sent=0.5, acked=0.51, status=200),  # generator stalled
        Sent(3, 50, due=0.04, sent=0.51, acked=0.52, status=500),
    ]
    a = account(recs, {1: 0.3, 2: 0.9}, limit_s=0.6)
    assert a["latencies"] == [0.3, 0.9 - 0.02]
    assert a["on_time"] == 1
    assert a["refused"] == 1 and a["lost"] == 0
    assert max(a["lateness"]) == 0.5 - 0.02
    assert a["per_rate_on_time"][50] == 1 / 3


def test_backlog_growth():
    flat = [(t, 5) for t in range(10)]
    rising = [(t, t) for t in range(10)]
    assert not backlog_growing(flat, 0, 9)
    assert backlog_growing(rising, 0, 9)


class _StubReceiver:
    """Acknowledges every POST but makes only even event ids readable
    (the loss the real spool shows); refuses ids divisible by 7."""

    def __init__(self):
        self.readable: set[int] = set()
        stub = self

        class H(BaseHTTPRequestHandler):
            def do_POST(self):  # noqa: N802
                body = json.loads(self.rfile.read(int(self.headers["Content-Length"])))
                eid = body["webhook_event"]["id"]
                if eid % 7 == 0:
                    self.send_response(503)
                    self.end_headers()
                    return
                if eid % 2 == 0:
                    stub.readable.add(eid)
                self.send_response(200)
                self.end_headers()

            def log_message(self, *a):
                pass

        self.server = HTTPServer(("127.0.0.1", 0), H)
        self.thread = threading.Thread(target=self.server.serve_forever, daemon=True)
        self.thread.start()

    def close(self):
        self.server.shutdown()
        self.server.server_close()
        self.thread.join(10)


def test_lost_events_counted_against_stub_receiver():
    stub = _StubReceiver()
    try:
        schedule = gen.push_schedule(1, (100,), 0.4)
        load = PushLoad(stub.server.server_address[1], 1, schedule).start()
        load.join(30)
    finally:
        stub.close()
    n = len(schedule)
    seen = {eid: load.records[eid - 1].acked for eid in stub.readable}
    a = account(load.records, seen, limit_s=5.0)
    refused = sum(1 for i in range(1, n + 1) if i % 7 == 0)
    lost = sum(1 for i in range(1, n + 1) if i % 7 and i % 2)
    assert a["attempted"] == n
    assert a["refused"] == refused
    assert a["lost"] == lost
    assert a["delivered"] == a["on_time"] == n - refused - lost


# ---------------------------------------------------------------- event log


def test_event_log_maps_jobs_to_span_groups(tmp_path):
    evs = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0, 1],
         "Properties": {"spark.jobGroup.id": "pb1", "spark.sql.execution.id": "3"}},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [2],
         "Properties": {"spark.jobGroup.id": "pb2"}},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 0, "Number of Tasks": 4}},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 2, "Number of Tasks": 1}},
        *[
            {"Event": "SparkListenerTaskEnd", "Stage ID": 0,
             "Task Info": {"Launch Time": 1000, "Finish Time": 1100, "Getting Result Time": 0},
             "Task Metrics": {"Executor Run Time": 80, "Executor Deserialize Time": 5,
                              "Result Serialization Time": 0, "JVM GC Time": 8,
                              "Memory Bytes Spilled": 0, "Disk Bytes Spilled": 0,
                              "Shuffle Write Metrics": {"Shuffle Bytes Written": 10}}}
            for _ in range(4)
        ],
        {"Event": eventlog.SQL_START, "executionId": 3, "sparkPlanInfo": {
            "nodeName": "Exchange", "metadata": {}, "metrics": [], "children": [
                {"nodeName": "Scan parquet ", "metadata": {"Location": "InMemoryFileIndex[file:/w/silver]"},
                 "metrics": [{"name": "number of files read", "accumulatorId": 9}], "children": []},
            ]}},
        {"Event": eventlog.DRIVER_ACCUMS, "executionId": 3, "accumUpdates": [[9, 6]]},
    ]
    (tmp_path / "app").write_text("\n".join(json.dumps(e) for e in evs) + "\n")
    log = eventlog.read(str(tmp_path))
    st = eventlog.group_stats(log, {"pb1"})
    assert (st.jobs, st.stages, st.tasks, st.shuffle_bytes, st.files_read) == (1, 1, 4, 40, 6)
    assert eventlog.group_stats(log, {"pb2"}).single_task_stages == 1
    assert eventlog.scans_of(log, {"pb1"}, "/w/silver") == 1
    eng = eventlog.engine_stats(log, [(1000, 1100)], cores=4)
    assert eng["spark.busy_share"] == 320 / (100 * 4)
    assert eng["spark.gc_share"] == 32 / 320
    assert abs(eng["spark.scheduler_delay_share"] - 60 / 400) < 1e-12


# ---------------------------------------------------------------- oracle, config


def test_diff_tolerates_order_and_float_noise_only():
    assert oracle.diff([(1, 0.1 + 0.2)], [(1, 0.3)], ordered=False) is None
    assert oracle.diff([(2, "b"), (1, "a")], [(1, "a"), (2, "b")], ordered=False) is None
    assert oracle.diff([(2, "b"), (1, "a")], [(1, "a"), (2, "b")], ordered=True)
    assert oracle.diff([(1, None)], [(1, 0.0)], ordered=False)
    assert oracle.diff([(1,)], [], ordered=False)


def test_benchmark_json_matches_the_harness():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [m["name"] for m in spec["end_to_end"]] == list(common.E2E)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == common.E2E
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == common.LAYER
    import run

    assert {w["name"] for w in spec["workloads"]} <= set(run.WORKLOADS)
