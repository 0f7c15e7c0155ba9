"""``ratings_stream``: the reference pipeline under an open-loop load.

One generator thread drops ratings files into a watched directory at a
fixed rate while the reference's three standing queries run on it:

* ``enriched_events`` -> ``elasticsearch_sink`` over ``es_http_transport``
  to the ``_bulk`` stub;
* ``unhappy_vip_customers`` -> ``alert_sink``;
* ``windowed_counts`` (1-minute tumbling, update mode) -> ``mongo_sink``
  over ``MongoWireTransport`` to the OP_MSG stub.

Latency is the stub's receive time minus the event's creation stamp, for
events created inside the measured window. Capacity is measured after
the pipeline stops, with the machine to the enrichment -> Elasticsearch
path: a fresh query starts on a directory already holding a standing
backlog, and the events it reads per second of trigger time is the
drain rate.
"""

from __future__ import annotations

import bisect
import glob
import os
import statistics
import time

import numpy as np
import pyarrow.parquet as pq

from pipebench import datagen, harness, stats
from pipebench.loadgen import OpenLoopGenerator
from pipebench.stubs import EsBulkStub, MongoStub, TimedTransport, read_call_log

RATE_EPS = 2_000        # the fixed offered rate, well below saturation
TICK_S = 0.25
WARM_IN_S = 4.0         # stream start-up, excluded from latency samples
BURST_EVENTS = 150_000  # one standing backlog for the drain measurement
BURST_FILES = 8
BURSTS = 2
BACKLOG_FIRST_ID = 10**12  # backlog event ids never meet generated ones
LADDER_EPS = (8_000, 16_000, 32_000, 64_000)   # traced run only
LADDER_STEP_S = 6.0
BASELINE_S = 6.0                # local[1] baseline window, traced run only
BASELINE_BURST_EVENTS = 50_000
CUSTOMER_SF = 0.1       # 15k customer keys
WINDOW = "1 minute"
ES_INDEX = "ratings"
MONGO_COLLECTION = "window_counts"


class _Pipeline:
    """The three standing queries plus their stubs and call logs."""

    def __init__(self, ctx, spark, tag: str, watch: str, customer_path: str, schema):
        from pyspark.sql import functions as F

        from data_pipeline_kafka_ek_spark.plans import reference
        from data_pipeline_kafka_ek_spark.sources.tables import normalize_events_ts
        from data_pipeline_kafka_ek_spark.streaming import runtime, sinks
        from data_pipeline_kafka_ek_spark.streaming.mongo_wire import MongoWireTransport

        self.ctx, self.spark, self.tag = ctx, spark, tag
        self.es, self.mongo = EsBulkStub(), MongoStub()
        self.alerts: list[tuple[float, int]] = []
        self.alert_calls: list[float] = []
        self.es_log = ctx.path("calls", tag, "es")
        self.mongo_log = ctx.path("calls", tag, "mongo")
        out = ctx.dir("sink-out", tag)
        customer = spark.read.parquet(customer_path)

        def source():
            return normalize_events_ts(spark.readStream.schema(schema).parquet(watch))

        def notify(text: str) -> None:
            self.alerts.append((time.time(), int(text)))

        alert = sinks.alert_sink(notify, max_rows_per_batch=1_000_000)

        def timed_alert(df, batch_id):
            t0 = time.perf_counter()
            alert(df, batch_id)
            self.alert_calls.append(time.perf_counter() - t0)

        def start(df, name, fn, mode="append"):
            # the default trigger: the next batch starts when one ends
            return (
                df.writeStream.queryName(f"{name}_{tag}")
                .outputMode(mode)
                .foreachBatch(fn)
                .option("checkpointLocation", ctx.path("ckpt", tag, name))
                .start()
            )

        with ctx.tracer.span("streaming.runtime", "start_queries"):
            self.q_es = start(
                reference.enriched_events(source(), customer),
                "enriched",
                sinks.elasticsearch_sink(
                    ES_INDEX, "event_id", out,
                    transport=TimedTransport(sinks.es_http_transport(self.es.url), self.es_log),
                ),
            )
            self.q_alert = start(
                reference.unhappy_vip_customers(source(), customer).select(
                    F.col("event_id").cast("string").alias("alert_text")
                ),
                "alerts",
                timed_alert,
            )
            self.q_win = start(
                runtime.windowed_counts(source(), WINDOW).withColumn(
                    "wkey", F.concat_ws("|", "window_start", "event_type")
                ),
                "windows",
                sinks.mongo_sink(
                    MONGO_COLLECTION, "wkey", out,
                    transport=TimedTransport(
                        MongoWireTransport("127.0.0.1", self.mongo.port), self.mongo_log
                    ),
                ),
                mode="update",
            )
        self.out = out
        self.queries = [self.q_es, self.q_alert, self.q_win]
        self.progress: dict[str, dict[int, dict]] = {q.name: {} for q in self.queries}

    def poll_progress(self) -> None:
        for q in self.queries:
            for p in q.recentProgress:
                self.progress[q.name].setdefault(p["batchId"], p)

    def es_rows_processed(self) -> int:
        self.poll_progress()
        return sum(p["numInputRows"] for p in self.progress[self.q_es.name].values())

    def drain(self) -> None:
        with self.ctx.tracer.span("streaming.runtime", "processAllAvailable"):
            for q in self.queries:
                if q.isActive:
                    q.processAllAvailable()
        self.poll_progress()

    def stop_queries(self, queries) -> None:
        """Drain, then stop — stopping a query mid-batch can kill its
        stream execution thread with an error instead of a clean stop."""
        try:
            self.drain()
        finally:
            for q in queries:
                q.stop()

    def stop(self) -> None:
        try:
            self.stop_queries(self.queries)
        finally:
            self.es.close()
            self.mongo.close()


def _latencies_ms(recv, created_at: "dict[int, int]", lo_s: float, hi_s: float):
    """(receive time, event id) pairs -> latency in ms for events created
    in [lo_s, hi_s)."""
    firsts = sorted(created_at)
    out = []
    for t, eid in recv:
        ts_us = created_at[firsts[bisect.bisect_right(firsts, eid) - 1]]
        if lo_s * 1e6 <= ts_us < hi_s * 1e6:
            out.append((t - ts_us / 1e6) * 1e3)
    return out


def _warmup(warm_file: str, customer_path: str):
    """Setup warm-up: load the dimension and run the enrichment as a
    batch twin over one generated file. The sinks and the streaming
    plans warm up in the stream's own warm-in, outside the measurement."""

    def warm(spark):
        from data_pipeline_kafka_ek_spark.plans import reference
        from data_pipeline_kafka_ek_spark.sources.tables import normalize_events_ts

        ev = normalize_events_ts(spark.read.parquet(warm_file))
        cust = spark.read.parquet(customer_path)
        cust.count()
        reference.enriched_events(ev, cust).count()

    return warm


def _drain(ctx, spark, tag: str, first: int, n_events: int, rng, n_cust, customer_path, schema, es):
    """Catch-up after an outage: drop a standing backlog of ``n_events``
    into a fresh directory, then start fresh enrichment -> Elasticsearch
    and alert queries on it together, so each reads the whole backlog in
    one batch. Returns the time from the start to the backlog's last
    document at the ES stub and to its last alert, the events the ES
    query read per second of trigger time, the backlog dir and the alert
    ids."""
    from pyspark.sql import functions as F

    from data_pipeline_kafka_ek_spark.plans import reference
    from data_pipeline_kafka_ek_spark.sources.tables import normalize_events_ts
    from data_pipeline_kafka_ek_spark.streaming import sinks

    backlog = ctx.dir("stream", tag)
    per = n_events // BURST_FILES
    ts_us = int(time.time() * 1e6)
    for i in range(BURST_FILES):
        pq.write_table(
            datagen.rating_batch(rng, first + i * per, per, ts_us, n_cust),
            os.path.join(backlog, f"backlog-{i:03d}.parquet"),
        )
    customer = spark.read.parquet(customer_path)
    alerts: list[tuple[float, int]] = []

    def source():
        return normalize_events_ts(spark.readStream.schema(schema).parquet(backlog))

    def start(df, name, fn):
        return (
            df.writeStream.queryName(f"{name}_{tag}")
            .foreachBatch(fn)
            .option("checkpointLocation", ctx.path("ckpt", tag, name))
            .start()
        )

    with ctx.tracer.span("streaming.runtime", f"drain_{tag}"):
        t0 = time.time()
        q_es = start(
            reference.enriched_events(source(), customer), "drain_es",
            sinks.elasticsearch_sink(
                ES_INDEX, "event_id", ctx.dir("sink-out", tag),
                transport=sinks.es_http_transport(es.url),
            ),
        )
        q_alert = start(
            reference.unhappy_vip_customers(source(), customer).select(
                F.col("event_id").cast("string").alias("alert_text")
            ),
            "drain_alerts",
            sinks.alert_sink(
                lambda text: alerts.append((time.time(), int(text))),
                max_rows_per_batch=1_000_000,
            ),
        )
        try:
            q_es.processAllAvailable()
            q_alert.processAllAvailable()
            prog = [p for p in q_es.recentProgress if p["numInputRows"] > 0]
        finally:
            q_es.stop()
            q_alert.stop()
    rows = sum(p["numInputRows"] for p in prog)
    busy = sum(p["durationMs"]["triggerExecution"] for p in prog) / 1e3
    last_doc = max(
        (t for t, _, _, ids in es.snapshot() for i in ids if first <= int(i) < first + n_events),
        default=None,
    )
    if rows != per * BURST_FILES or busy <= 0 or last_doc is None or not alerts:
        raise RuntimeError(f"backlog not consumed: {rows} rows")
    return {
        # enriched events drop ~24% (errors, unmatched users); the rate
        # counts every event read, not documents shipped
        "eps": rows / busy,
        "es_s": last_doc - t0,
        "alert_s": max(t for t, _ in alerts) - t0,
        "dir": backlog,
        "alert_ids": [i for _, i in alerts],
    }


def _run_stream(
    ctx, spark, tag: str, rate: int, seconds: float, customer_path, n_cust, schema,
    burst_events: int = BURST_EVENTS,
):
    """One pipeline lifetime — warm-in, then the measured window at
    ``rate`` — followed by ``BURSTS`` backlog drains. Returns a dict of
    raw observations."""
    watch = ctx.dir("stream", tag, "events")
    pipe = _Pipeline(ctx, spark, tag, watch, customer_path, schema)
    gen = OpenLoopGenerator(watch, rate, TICK_S, n_cust, seed=ctx.seed)
    backlog: list[tuple[float, int]] = []
    try:
        gen.start()
        lo = time.time() + WARM_IN_S
        hi = lo + seconds
        while time.time() < hi:
            time.sleep(0.25)
            backlog.append((time.time(), gen.events_emitted() - pipe.es_rows_processed()))
    finally:
        gen.stop()
        pipe.stop()
    # capacity, with the machine to the enrichment -> Elasticsearch path
    rng = np.random.default_rng([ctx.seed, 5])
    es = EsBulkStub()
    try:
        drains = [
            _drain(
                ctx, spark, f"{tag}-backlog{i}", BACKLOG_FIRST_ID + i * burst_events,
                burst_events, rng, n_cust, customer_path, schema, es,
            )
            for i in range(BURSTS)
        ]
    finally:
        es.close()
    return {
        "pipe": pipe, "gen": gen, "lo": lo, "hi": hi, "watch": watch,
        "backlog": backlog, "drains": drains, "backlog_es": es,
    }


def _correctness(ctx, spark, obs, customer_path) -> None:
    """ES ids == batch enriched_events over every generated file; final
    Mongo counts == batch windowed_counts; alerts == batch alert set."""
    from pyspark.sql import functions as F

    from data_pipeline_kafka_ek_spark.plans import reference
    from data_pipeline_kafka_ek_spark.sources.tables import normalize_events_ts
    from data_pipeline_kafka_ek_spark.streaming import runtime

    pipe = obs["pipe"]
    ev = normalize_events_ts(spark.read.parquet(obs["watch"]))
    cust = spark.read.parquet(customer_path)
    want_es = {r[0] for r in reference.enriched_events(ev, cust).select("event_id").collect()}
    got_es = {int(i) for _, _, _, ids in pipe.es.snapshot() for i in ids}
    diff = len(want_es ^ got_es)
    ctx.check(diff == 0, len(want_es), diff, f"ES ids differ from batch twin by {diff}")
    bl = normalize_events_ts(spark.read.parquet(*[d["dir"] for d in obs["drains"]]))
    want = {r[0] for r in reference.enriched_events(bl, cust).select("event_id").collect()}
    got = {int(i) for _, _, _, ids in obs["backlog_es"].snapshot() for i in ids}
    diff = len(want ^ got)
    ctx.check(diff == 0, len(want), diff, f"backlog ES ids differ from batch twin by {diff}")
    want = {
        r[0] for r in reference.unhappy_vip_customers(bl, cust).select("event_id").collect()
    }
    got = {i for d in obs["drains"] for i in d["alert_ids"]}
    diff = len(want ^ got)
    ctx.check(diff == 0, len(want), diff, f"backlog alerts differ from batch twin by {diff}")
    want_alerts = {
        r[0] for r in reference.unhappy_vip_customers(ev, cust).select("event_id").collect()
    }
    got_alerts = {eid for _, eid in pipe.alerts}
    diff = len(want_alerts ^ got_alerts)
    ctx.check(diff == 0, len(want_alerts), diff, f"alerts differ from batch twin by {diff}")
    want_win = {
        f"{r.window_start}|{r.event_type}": r.event_count
        for r in runtime.windowed_counts(ev, WINDOW).collect()
    }
    got_win: dict[str, int] = {}
    for _, _, _, ups in sorted(pipe.mongo.snapshot(), key=lambda c: c[0]):
        for _id, doc in ups:
            got_win[_id] = doc["event_count"]
    bad = sum(1 for k in want_win.keys() | got_win.keys() if want_win.get(k) != got_win.get(k))
    ctx.check(bad == 0, len(want_win), bad, f"{bad} Mongo window counts differ from batch twin")
    dlq = sum(
        sum(1 for _ in open(p, encoding="utf-8"))
        for p in glob.glob(os.path.join(pipe.out, "*__dlq", "*.jsonl"))
    )
    ctx.check(dlq == 0, 0, dlq, f"{dlq} docs dead-lettered")
    ctx.put("streaming.sinks.dlq_docs", dlq, "count")


def _p50(xs, default=0.0):
    return statistics.median(xs) if xs else default


def _report(obs) -> "dict[str, float]":
    pipe, gen = obs["pipe"], obs["gen"]
    created = gen.created_at_us()
    es_recv = [(t, int(i)) for t, _, _, ids in pipe.es.snapshot() for i in ids]
    lat = _latencies_ms(es_recv, created, obs["lo"], obs["hi"])
    alat = _latencies_ms(pipe.alerts, created, obs["lo"], obs["hi"])
    if not lat or not alat:
        raise RuntimeError("no ES documents or alerts from the measured window")
    out = {
        "latency_p50_ms": statistics.median(lat),
        "alert_latency_p50_ms": statistics.median(alat),
        "drain_eps": statistics.median(d["eps"] for d in obs["drains"]),
        "catchup_ms": statistics.median(d["es_s"] for d in obs["drains"]) * 1e3,
        "alert_catchup_ms": statistics.median(d["alert_s"] for d in obs["drains"]) * 1e3,
    }
    p = stats.supported_percentile(len(lat), 99)
    if p is not None:
        out["latency_tail_pct"] = p
        out["latency_tail_ms"] = stats.percentile(lat, p)
    return out


def _layer_metrics(ctx, obs) -> None:
    """Per-layer numbers read from outside: the queries' public progress
    reports, the stubs' receive logs and the transports' call logs."""
    pipe = obs["pipe"]
    prog = [p for d in pipe.progress.values() for p in d.values()]
    dur = lambda k: [p["durationMs"].get(k, 0) for p in prog if "durationMs" in p]
    for key, name in (
        ("latestOffset", "latest_offset_ms_p50"), ("getBatch", "get_batch_ms_p50"),
        ("queryPlanning", "query_planning_ms_p50"), ("walCommit", "wal_commit_ms_p50"),
        ("commitOffsets", "commit_offsets_ms_p50"), ("triggerExecution", "trigger_ms_p50"),
        ("addBatch", "add_batch_ms_p50"),
    ):
        ctx.put(f"streaming.runtime.{name}", _p50(dur(key)), "ms")
    es_prog = list(pipe.progress[pipe.q_es.name].values())
    ctx.put("streaming.runtime.batches", len(es_prog), "count")
    ctx.put(
        "streaming.runtime.input_rows_per_batch_p50",
        _p50([p["numInputRows"] for p in es_prog if p["numInputRows"] > 0]), "count",
    )
    per_tick = obs["gen"].per_tick
    ctx.put(
        "streaming.runtime.backlog_files_max",
        max((b for _, b in obs["backlog"]), default=0) / per_tick, "count",
    )
    win = [p for p in pipe.progress[pipe.q_win.name].values() if p.get("stateOperators")]
    last = max(win, key=lambda p: p["batchId"])["stateOperators"][0] if win else {}
    ctx.put("streaming.runtime.state_rows", last.get("numRowsTotal", 0), "count")
    ctx.put("streaming.runtime.state_memory_bytes", last.get("memoryUsedBytes", 0), "bytes")
    ctx.put(
        "streaming.runtime.rows_dropped_by_watermark",
        sum(p["stateOperators"][0].get("numRowsDroppedByWatermark", 0) for p in win), "count",
    )
    es_req = pipe.es.snapshot()
    es_calls = read_call_log(pipe.es_log)
    mongo_calls = read_call_log(pipe.mongo_log)
    ctx.put("streaming.sinks.es_call_ms_p50", _p50([(b - a) * 1e3 for a, b, _ in es_calls]), "ms")
    ctx.put("streaming.sinks.es_bulk_requests", len(es_req), "count")
    ctx.put("streaming.sinks.es_docs_per_request_p50", _p50([len(r[3]) for r in es_req]), "count")
    n_docs = sum(len(r[3]) for r in es_req)
    ctx.put("streaming.sinks.es_bytes_per_doc", sum(r[2] for r in es_req) / max(1, n_docs), "bytes")
    span = max(r[0] for r in es_req) - min(r[0] for r in es_req) if es_req else 0
    ctx.put("streaming.sinks.es_stub_busy_share", sum(r[1] for r in es_req) / span if span else 0, "share")
    ctx.put("streaming.sinks.mongo_call_ms_p50", _p50([(b - a) * 1e3 for a, b, _ in mongo_calls]), "ms")
    ctx.put("streaming.sinks.mongo_upserts", sum(len(c[3]) for c in pipe.mongo.snapshot()), "count")
    ctx.put("streaming.sinks.alert_call_ms_p50", _p50([x * 1e3 for x in pipe.alert_calls]), "ms")
    ctx.put("streaming.sinks.alerts", len(pipe.alerts), "count")
    late = obs["gen"].lateness_s()
    ctx.put("stream.gen_lag_ms", max(late) * 1e3 if late else 0.0, "ms")
    for p in prog:
        ctx.tracer.event("progress", query=p["name"], batch=p["batchId"],
                         rows=p["numInputRows"], durationMs=p.get("durationMs"))
    for t, busy, nbytes, ids in es_req:
        ctx.tracer.event("es_recv", t=t, busy_s=busy, bytes=nbytes, docs=len(ids))
    for t, busy, nbytes, ups in pipe.mongo.snapshot():
        ctx.tracer.event("mongo_recv", t=t, busy_s=busy, bytes=nbytes, upserts=len(ups))


def run(ctx) -> None:
    data = ctx.dir("data")
    datagen.write_tables(data, CUSTOMER_SF, ctx.seed, names=("customer",))
    customer_path = os.path.join(data, "customer.parquet")
    n_cust = datagen.make_table("customer", CUSTOMER_SF, ctx.seed).num_rows
    warm_file = os.path.join(data, "events_warm.parquet")
    pq.write_table(
        datagen.rating_batch(np.random.default_rng([ctx.seed, 3]), 0, 5_000,
                             int(time.time() * 1e6), n_cust),
        warm_file,
    )
    spark = harness.timed_setup(ctx, "ratings_stream", _warmup(warm_file, customer_path))
    schema = spark.read.parquet(warm_file).schema
    obs = _run_stream(ctx, spark, "main", RATE_EPS, ctx.seconds, customer_path, n_cust, schema)
    rep = _report(obs)
    ctx.put("main_p50_ms", rep["catchup_ms"], "ms")
    ctx.put("side_p50_ms", rep["alert_catchup_ms"], "ms")
    ctx.put("throughput_per_s", rep["drain_eps"], "1/s")
    ctx.put("stream.latency_p50_ms", rep["latency_p50_ms"], "ms")
    ctx.put("stream.alert_latency_p50_ms", rep["alert_latency_p50_ms"], "ms")
    ctx.put("stream.drain_eps", rep["drain_eps"], "1/s")
    ctx.put("stream.catchup_ms", rep["catchup_ms"], "ms")
    ctx.put("stream.alert_catchup_ms", rep["alert_catchup_ms"], "ms")
    if "latency_tail_ms" in rep:
        ctx.put("stream.latency_tail_ms", rep["latency_tail_ms"], "ms")
        ctx.put("stream.latency_tail_pct", rep["latency_tail_pct"], "pct")
    _layer_metrics(ctx, obs)
    with ctx.tracer.span("checks", "ratings_stream"):
        _correctness(ctx, spark, obs, customer_path)
    if ctx.traced:
        _ladder(ctx, spark, customer_path, n_cust, schema)
        _single_thread_baseline(ctx, spark, customer_path, n_cust, schema, warm_file)


def _ladder(ctx, spark, customer_path, n_cust, schema) -> None:
    """Sustained rate: the highest ladder rate at which the Elasticsearch
    query's backlog does not grow. Each step runs ``LADDER_STEP_S``
    seconds on a fresh generator; the queries drain between steps."""
    watch = ctx.dir("stream", "ladder", "events")
    pipe = _Pipeline(ctx, spark, "ladder", watch, customer_path, schema)
    steps = []
    first_id = 0
    try:
        for rate in LADDER_EPS:
            gen = OpenLoopGenerator(
                watch, rate, TICK_S, n_cust, seed=ctx.seed, first_id=first_id, prefix=f"ev{rate}"
            )
            base = pipe.es_rows_processed()
            ts, backlog = [], []
            with ctx.tracer.span("streaming.runtime", f"ladder_{rate}"):
                gen.start()
                t0 = time.time()
                while time.time() < t0 + LADDER_STEP_S:
                    time.sleep(0.25)
                    ts.append(time.time() - t0)
                    backlog.append(gen.events_emitted() - (pipe.es_rows_processed() - base))
                gen.stop()
            steps.append((rate, ts, backlog))
            first_id = gen.next_id
            pipe.drain()
            if stats.backlog_grows(ts, backlog, rate):
                break
    finally:
        pipe.stop()
    best = stats.sustained_rate(steps)
    ctx.put("stream.sustained_eps", best or 0.0, "1/s")


def _single_thread_baseline(ctx, spark, customer_path, n_cust, schema, warm_file) -> None:
    """The same pipeline at ``local[1]``, at the fixed rate, for scale:
    not gated, reported beside the traced run's numbers."""
    spark.stop()
    spark = harness.start_session(ctx, "ratings_stream_local1", cpus=1)
    _warmup(warm_file, customer_path)(spark)
    obs = _run_stream(
        ctx, spark, "local1", RATE_EPS, BASELINE_S, customer_path, n_cust, schema,
        burst_events=BASELINE_BURST_EVENTS,
    )
    rep = _report(obs)
    ctx.put("stream.single_thread_latency_p50_ms", rep["latency_p50_ms"], "ms")
    ctx.put("stream.single_thread_drain_eps", rep["drain_eps"], "1/s")
