"""The realtime-server workloads.

``rt_ingest`` is an open loop: every 2 s the generator encodes one
differential FeedMessage and pushes it through the spool edge; then
``run_spool_stream`` (default trigger) merges them with a
``NominalIndexCache`` matcher while one reader GETs the trip-updates feed
1 s after each response. Freshness is the time from a message's due time
until the served feed first shows its sequence number.

``feed_read`` is a closed loop of 2 clients over a merged state with no
writes, each cycling through the read mix.
"""

from __future__ import annotations

import datetime as dt
import itertools
import json
import os
import re
import statistics
import sys
import threading
import time

import gen
from common import Ctx, Result, cpu_seconds, fresh_dir, http_get, quantile
from instrument import Layers

from py_gtfs_duckdb_spark.config import load_config
from py_gtfs_duckdb_spark.queries import GtfsQueries
from py_gtfs_duckdb_spark.sources.gtfs import load_static_zip
from py_gtfs_duckdb_spark.streaming import gtfsrt, gtfsrt_wire
from py_gtfs_duckdb_spark.streaming.matching import NominalIndexCache
from py_gtfs_duckdb_spark.streaming.merge import run_spool_stream
from py_gtfs_duckdb_spark.streaming.spool import (
    feed_message_to_spool_dicts,
    spool_write_json,
)

# Scaled so that a run, Spark start included, fits the benchmark's time
# budget: 100 routes, 1,200 stops, 3,000 trips, 60,000 stop_times.
FEED_SCALE = gen.FeedScale(routes_per_agency=25, stops=1200, trips=3000, stops_per_trip=20)
# the tables the matcher, the monitor page and the day queries read
SERVING_TABLES = ("stops", "routes", "trips", "stop_times", "calendar", "calendar_dates")
INTERVAL_S = 2.0
# feed_read state: trip updates x stop-time updates, vehicles, alerts
STATE = dict(trip_updates=500, stus_per_update=10, vehicles=300, alerts=50)
# realtime table -> (entity key, row builder), the merge's own families
_SNAPSHOT_TABLES = {
    "realtime_trip_updates": ("trip_update_id", gtfsrt.trip_update_rows),
    "realtime_trip_stop_time_updates": ("trip_update_id", gtfsrt.stop_time_update_rows),
    "realtime_vehicle_positions": ("vehicle_position_id", gtfsrt.vehicle_position_rows),
    "realtime_service_alerts": ("service_alert_id", gtfsrt.alert_rows),
    "realtime_alert_active_periods": ("service_alert_id", gtfsrt.alert_active_period_rows),
    "realtime_alert_informed_entities": ("service_alert_id", gtfsrt.alert_informed_entity_rows),
}

_SEQ = re.compile(r"seq-(\d+)")


def _setup_lake(ctx: Ctx, layers: Layers, feed: gen.Feed):
    zip_path = os.path.join(ctx.run_dir, "feed.zip")
    with open(zip_path, "wb") as fh:
        fh.write(feed.zip_bytes(SERVING_TABLES))
    lake = layers.Lake(ctx.spark, os.path.join(ctx.run_dir, "lake"))
    with ctx.span("sources.gtfs.load", spark_counts=True):
        load_static_zip(lake, zip_path)
    return lake


def _monitor_counts(html: str) -> tuple[int, int]:
    green = html.count('style="color:green"')
    red = html.count('style="color:red"')
    return green + red, green


def _merge_snapshot(spark, lake, spool: str) -> None:
    """Load a spooled snapshot (distinct entity ids, no tombstones) into the
    keyed realtime layout with the lake's keyed merge, one call per table
    - the layout the streaming merge leaves behind. The six calls touch
    six tables, so they run side by side."""
    from concurrent.futures import ThreadPoolExecutor

    from pyspark.sql import functions as F

    parsed = gtfsrt.parse_spool_lines(spark.read.text(spool)).cache()

    def merge(table: str) -> None:
        key, rows_of = _SNAPSHOT_TABLES[table]
        rows = rows_of(parsed).withColumn("last_updated_timestamp", F.current_timestamp())
        lake.merge_keyed(table, rows, rows.select(key), key=key)

    try:
        with ThreadPoolExecutor(max_workers=len(_SNAPSHOT_TABLES)) as pool:
            for done in [pool.submit(merge, t) for t in _SNAPSHOT_TABLES]:
                done.result()
    finally:
        parsed.unpersist()


def _push(ctx: Ctx, spool: str, feed: dict, op: str) -> None:
    """The producer side: encode one FeedMessage, decode it through the
    spool edge and commit it as one spool file."""
    with ctx.span("streaming.gtfsrt_wire.encode", op=op):
        payload = gtfsrt_wire.encode(feed)
    with ctx.span("streaming.gtfsrt_wire.decode", op=op):
        dicts = feed_message_to_spool_dicts(payload)
    with ctx.span("streaming.spool.write", op=op):
        spool_write_json(spool, dicts)


def _record_batch_errors(merger) -> list[str]:
    """Keep the traceback of every micro-batch that raises (the stream
    then fails, as it would without the benchmark)."""
    import traceback

    errors: list[str] = []
    process = merger.process_batch

    def recorded(batch_df, batch_id=None):
        try:
            process(batch_df, batch_id)
        except Exception:
            errors.append(traceback.format_exc())
            raise

    merger.process_batch = recorded
    return errors


# -- rt_ingest ----------------------------------------------------------------


def rt_ingest(ctx: Ctx) -> Result:
    res = Result()
    tracer = ctx.tracer
    layers = Layers(tracer)
    cfg = load_config()
    routing = cfg["app"]["routing"]
    feed = gen.static_feed(ctx.seed, FEED_SCALE)
    spool = fresh_dir(ctx.run_dir, "spool")
    ckpt = os.path.join(ctx.run_dir, "ckpt")

    ctx.begin_setup()
    lake = _setup_lake(ctx, layers, feed)
    res.info["rows_in"] = sum(len(feed.tables[name][1]) for name in SERVING_TABLES)
    cache = NominalIndexCache(lake, **cfg["matching"])
    with ctx.span("streaming.matching.refresh", spark_counts=True):
        matcher = cache.matcher()
    merger = layers.Merger(lake, trip_matcher=matcher)
    batch_errors = _record_batch_errors(merger)
    server = layers.Server(lake, config=cfg)
    server.start()
    ctx.end_setup(res)
    base = f"http://127.0.0.1:{server.port}"
    n_msgs = int(ctx.seconds / INTERVAL_S) + 1
    # one planted stale message per run, at a seeded position
    sched = gen.rt_schedule(ctx.seed, feed, n_msgs, interval_s=INTERVAL_S,
                            stale=frozenset({1 + ctx.seed % max(1, n_msgs - 1)}),
                            now=time.time())

    query = None
    reads: list[dict] = []
    gen_log: list[dict] = []
    stop_reader = threading.Event()
    try:
        # warm-up read (serving path), excluded from the figures
        ctx.phase("warm-up")
        http_get(f"{base}{routing['trip_updates_endpoint']}?rid=warm")
        ctx.phase("measure")
        t0 = time.time() + 0.2
        cpu0 = cpu_seconds(ctx.spark)
        rid = itertools.count()

        def reader():
            while not stop_reader.is_set():
                r = {"rid": next(rid), "sent": time.time()}
                try:
                    status, body, secs = http_get(
                        f"{base}{routing['trip_updates_endpoint']}?rid={r['rid']}")
                    r["recv"] = time.time()
                    r["ms"] = 1000 * secs
                    r["ok"] = status == 200
                    r["bytes"] = len(body)
                    labels = (
                        e.get("trip_update", {}).get("vehicle", {}).get("label", "")
                        for e in gtfsrt_wire.decode(body).get("entity", [])
                    ) if r["ok"] else ()
                    r["seq"] = max(
                        (int(m.group(1)) for m in map(_SEQ.search, labels) if m),
                        default=0,
                    )
                except Exception as exc:  # an undecodable body counts as failed
                    r.update(ok=False, seq=0, error=repr(exc), recv=time.time(),
                             ms=1000 * (time.time() - r["sent"]))
                reads.append(r)
                stop_reader.wait(1.0)

        def generator():
            for m in sched.messages:
                due = t0 + m.due
                time.sleep(max(0.0, due - time.time()))
                entry = {"seq": m.seq, "due": due, "late_ms": 1000 * (time.time() - due)}
                _push(ctx, spool, m.feed, op=f"msg-{m.seq}")
                gen_log.append(entry)

        reader_t = threading.Thread(target=reader, daemon=True)
        gen_t = threading.Thread(target=generator, daemon=True)
        reader_t.start()
        gen_t.start()
        gen_t.join()
        # The stream starts once the window's messages are queued: its
        # first trigger fires at start, so every run merges the same
        # messages in its first micro-batch, with no wait for a trigger
        # tick whose phase would differ from run to run.
        query = run_spool_stream(ctx.spark, lake, spool, merger=merger,
                                 checkpoint_dir=ckpt)
        last_fresh = max(m.seq for m in sched.messages if not m.stale)
        deadline = time.time() + 150
        while time.time() < deadline and query.exception() is None:
            if any(r["seq"] >= last_fresh for r in list(reads)):
                break
            time.sleep(0.2)
        t_visible = time.time()
        phases = {"visible_after_t0_s": t_visible - t0}
        stop_reader.set()
        reader_t.join(timeout=180)
        res.check(not reader_t.is_alive(), "reader thread did not stop")
        res.check(query.exception() is None, f"stream failed: {query.exception()}")
        # the trip-update family merges before the vehicle family: let the
        # micro-batch finish and commit before stopping the stream
        t = time.time()
        if query.exception() is None:
            query.processAllAvailable()
        batches = sum(1 for p in query.recentProgress if p["numInputRows"])
        cpu_used = cpu_seconds(ctx.spark) - cpu0
        query.stop()
        phases["rest_of_batch_s"] = time.time() - t
        t = time.time()
        # drain whatever the stream had not committed, then check the state
        drain = run_spool_stream(ctx.spark, lake, spool, merger=merger,
                                 available_now=True, checkpoint_dir=ckpt)
        drain.awaitTermination(170)
        res.check(not drain.isActive and drain.exception() is None,
                  f"availableNow drain failed: {drain.exception()}")
        phases["drain_s"] = time.time() - t
        t = time.time()
        _check_rt_state(res, server, routing, sched, feed)
        phases["check_s"] = time.time() - t
        for err in batch_errors:
            res.problems.append(f"micro-batch failed: {err.splitlines()[-1]}")
            print(err, file=sys.stderr)
    finally:
        stop_reader.set()
        if query is not None and query.isActive:
            query.stop()
        server.stop()

    # freshness: first read at or after a message's due time showing a
    # sequence >= its own
    fresh_s, invisible = [], 0
    for entry in gen_log:
        m = sched.messages[entry["seq"] - 1]
        if m.stale:
            continue
        seen = [r["recv"] for r in reads if r["ok"] and r["seq"] >= m.seq]
        if seen:
            fresh_s.append(min(seen) - entry["due"])
        else:
            invisible += 1
    measured_reads = [r for r in reads if r["sent"] >= t0]
    failed_reads = sum(not r["ok"] for r in measured_reads)
    n_fresh_msgs = sum(not m.stale for m in sched.messages)
    res.check(len(gen_log) == len(sched.messages), "generator did not send every message")
    res.check(invisible == 0, f"{invisible} messages never became visible")
    res.attempted = n_fresh_msgs + len(measured_reads)
    sent = sum(not sched.messages[e["seq"] - 1].stale for e in gen_log)
    stream_failed = any(p.startswith(("stream failed", "availableNow")) for p in res.problems)
    res.failed = invisible + (n_fresh_msgs - sent) + failed_reads + stream_failed
    read_ms = [r["ms"] for r in measured_reads if r["ok"]]
    res.named["op_p50_ms"] = (1000 * statistics.median(fresh_s) if fresh_s else float("nan"), "ms")
    res.e2e["op_cpu_ms"] = (1000 * cpu_used / max(1, n_fresh_msgs), "ms")
    res.named.update({
        "rt_freshness_p50_s": (statistics.median(fresh_s) if fresh_s else float("nan"), "s"),
        "rt_freshness_p90_s": (quantile(fresh_s, 0.9), "s"),
        "rt_read_p50_ms": (statistics.median(read_ms) if read_ms else float("nan"), "ms"),
        "fail_ratio": (res.failed / max(1, res.attempted), "ratio"),
    })
    res.info.update({
        "ops": n_fresh_msgs,
        "messages": len(sched.messages),
        "freshness_samples": len(fresh_s),
        "reads": len(measured_reads),
        "planted_shares": {k: round(v, 4) for k, v in sched.shares.items()},
        "gen_late_ms_max": max((e["late_ms"] for e in gen_log), default=0.0),
        "batches": batches,
        "phases_s": {k: round(v, 2) for k, v in phases.items()},
    })
    if tracer is not None:
        res.layers.update(_stream_layers(tracer, query, sched, window=(t0, t_visible)))
        res.layers.update(_http_layers(layers, reads))
        res.layers["gen.late_ms"] = (res.info["gen_late_ms_max"], "ms")
    return res


def _check_rt_state(res: Result, server, routing, sched, feed) -> None:
    base = f"http://127.0.0.1:{server.port}"
    model = gen.last_writer_wins(sched.messages)
    stale_labels = {f"seq-{m.seq:06d}" for m in sched.messages if m.stale}

    status, body, _ = http_get(f"{base}{routing['trip_updates_endpoint']}?rid=check")
    res.check(status == 200, f"trip-updates status {status}")
    served = {
        e["id"]: (e["trip_update"]["vehicle"]["label"], len(e["trip_update"].get("stop_time_update", [])))
        for e in gtfsrt_wire.decode(body).get("entity", [])
    }
    res.check(served == model["trip_update"],
              f"trip updates differ from the model: {len(served)} served, "
              f"{len(model['trip_update'])} expected, "
              f"{sum(served.get(k) != v for k, v in model['trip_update'].items())} mismatched")

    status, body, _ = http_get(f"{base}{routing['vehicle_positions_endpoint']}?rid=check")
    res.check(status == 200, f"vehicle-positions status {status}")
    vehicles = {
        e["id"]: (e["vehicle"]["vehicle"]["label"], 0)
        for e in gtfsrt_wire.decode(body).get("entity", [])
    }
    res.check(vehicles == model["vehicle"],
              f"vehicle positions differ from the model: {len(vehicles)} served, "
              f"{len(model['vehicle'])} expected")
    res.check(not ({v[0] for v in served.values()} | {v[0] for v in vehicles.values()})
              & stale_labels, "a stale message became visible")

    status, body, _ = http_get(f"{base}{routing['service_alerts_endpoint']}?rid=check")
    alerts = {e["id"] for e in gtfsrt_wire.decode(body).get("entity", [])} if status == 200 else None
    res.check(alerts == set(model["alert"]), f"alerts {alerts} != {set(model['alert'])}")

    status, body, _ = http_get(f"{base}{routing['monitor_endpoint']}?rid=check")
    today = feed.active_trips(dt.date.today())
    rows, green = _monitor_counts(body.decode()) if status == 200 else (-1, -1)
    res.check(rows == len(today), f"monitor shows {rows} trips, calendar model {len(today)}")
    res.check(green == len(set(model["trip_update"]) & today),
              f"monitor flags {green} trips realtime, model {len(model['trip_update'])}")


def _http_layers(layers, reads) -> dict:
    waits = [r["ms"] - layers.render_ms[str(r["rid"])] for r in reads
             if "ms" in r and str(r["rid"]) in layers.render_ms]
    return {
        "serving_http.wait_ms": (statistics.median(waits) if waits else 0.0, "ms"),
        "serving.bytes_per_read": (
            sum(r.get("bytes", 0) for r in reads) / max(1, len(reads)), "bytes"),
    }


def _stream_layers(tracer, query, sched, window) -> dict:
    """Micro-batch figures from the merge spans, the StreamingQuery's own
    progress durations (median over batches that read input) and the
    stale-message count; ``window`` is the wall interval the merge was
    measured over (idle = window - busy)."""
    out: dict[str, tuple[float, str]] = {}
    batches = tracer.named("streaming.merge.batch")
    counts = tracer.inclusive_counts()
    c = tracer.count

    def med(values):
        return statistics.median(values) if values else 0.0

    out["streaming.merge.batches"] = (len(batches), "count")
    out["streaming.merge.batch_s"] = (med([tracer.duration(b) for b in batches]), "s")
    out["streaming.merge.entities_per_batch"] = (
        c("streaming.merge.entities") / max(1, len(batches)), "count")
    out["streaming.merge.spark_jobs_per_batch"] = (
        med([counts[b["id"]]["jobs"] for b in batches]), "count")
    out["streaming.merge.spark_stages_per_batch"] = (
        med([counts[b["id"]]["stages"] for b in batches]), "count")
    offset = time.time() - time.perf_counter()
    busy = sum(
        max(0.0, min(b["end"] + offset, window[1]) - max(b["start"] + offset, window[0]))
        for b in batches
    )
    out["streaming.merge.idle_s"] = (max(0.0, window[1] - window[0] - busy), "s")
    progress = [p for p in query.recentProgress if p["numInputRows"]]
    for key in ("addBatch", "getBatch", "latestOffset", "queryPlanning",
                "triggerExecution", "walCommit", "commitOffsets"):
        out[f"streaming.progress.{key}_ms"] = (
            med([p["durationMs"].get(key, 0) for p in progress]), "ms")
    offered = c("streaming.matching.offered")
    out["streaming.matching.match_ratio"] = (
        c("streaming.matching.matched") / offered if offered else 0.0, "ratio")
    out["streaming.gtfsrt.stale_rejected"] = (c("streaming.gtfsrt.stale_rejected"), "count")
    out["streaming.gtfsrt.stale_planted"] = (sum(m.stale for m in sched.messages), "count")
    return out


# -- feed_read ----------------------------------------------------------------

MIN_CYCLES = 3
READ_MIX = ("trip_updates", "vehicle_positions", "alerts", "trip_updates_debug",
            "monitor", "opday_trips")


def feed_read(ctx: Ctx) -> Result:
    res = Result()
    tracer = ctx.tracer
    layers = Layers(tracer)
    cfg = load_config()
    routing = cfg["app"]["routing"]
    feed = gen.static_feed(ctx.seed, FEED_SCALE)
    messages, tu_trips = gen.rt_snapshot(ctx.seed, feed, now=time.time(), **STATE)
    spool = fresh_dir(ctx.run_dir, "spool")
    for n, m in enumerate(messages):
        _push(ctx, spool, m, op=f"snapshot-{n}")
    if tracer is not None:
        tracer.add("lake.merge_keyed.entities", sum(len(m["entity"]) for m in messages))

    ctx.begin_setup()
    lake = _setup_lake(ctx, layers, feed)
    res.info["rows_in"] = sum(len(feed.tables[name][1]) for name in SERVING_TABLES)
    with ctx.span("setup.realtime_state", spark_counts=True):
        _merge_snapshot(ctx.spark, lake, spool)
    server = layers.Server(lake, config=cfg)
    server.start()
    ctx.end_setup(res)

    base = f"http://127.0.0.1:{server.port}"
    today = feed.active_trips(dt.date.today())
    expect = {
        "trip_updates": len(tu_trips),
        "vehicle_positions": STATE["vehicles"],
        "alerts": STATE["alerts"],
        "monitor": (len(today), len(tu_trips & today)),
    }
    day_trips = {d: len(feed.active_trips(d)) for d in gen.QUERY_DAYS}
    queries = GtfsQueries(lake)
    ops: list[dict] = []  # measured reads only
    lock = threading.Lock()
    rid = itertools.count()

    def read(kind: str, day_index: int) -> dict:
        r = {"kind": kind, "rid": next(rid), "ok": False}
        t = time.perf_counter()
        try:
            if kind == "opday_trips":
                day = gen.QUERY_DAYS[day_index % len(gen.QUERY_DAYS)]
                with ctx.span("queries.opday_trips", op=f"read-{r['rid']}", spark_counts=True):
                    n = len(queries.fetch_nominal_operation_day_trips(day).collect())
                r["ok"] = n == day_trips[day]
                r["bytes"] = 0
                r["why"] = f"{n} trips on {day}, calendar model {day_trips[day]}"
            else:
                path = {
                    "trip_updates": routing["trip_updates_endpoint"],
                    "trip_updates_debug": routing["trip_updates_endpoint"],
                    "vehicle_positions": routing["vehicle_positions_endpoint"],
                    "alerts": routing["service_alerts_endpoint"],
                    "monitor": routing["monitor_endpoint"],
                }[kind]
                q = f"rid={r['rid']}" + ("&debug" if kind == "trip_updates_debug" else "")
                status, body, _ = http_get(f"{base}{path}?{q}")
                r["bytes"] = len(body)
                if status != 200:
                    r["why"] = f"status {status}"
                elif kind == "monitor":
                    got = _monitor_counts(body.decode())
                    r["ok"], r["why"] = got == expect["monitor"], f"monitor {got} != {expect['monitor']}"
                else:
                    doc = json.loads(body) if kind == "trip_updates_debug" else gtfsrt_wire.decode(body)
                    n = len(doc.get("entity", []))
                    want = expect["trip_updates" if kind.startswith("trip") else kind]
                    r["ok"], r["why"] = n == want, f"{kind}: {n} entities != {want}"
        except Exception as exc:  # a read that raised counts as failed
            r["why"] = repr(exc)
        r["ms"] = 1000 * (time.perf_counter() - t)
        return r

    cycles: list[float] = []
    ctx.phase("warm-up")
    cpu: dict[str, float] = {}

    def begin_measure():
        ctx.phase("measure")
        cpu["start"] = cpu_seconds(ctx.spark)

    start = threading.Barrier(2, action=begin_measure)
    window: dict[str, float] = {}

    def client(k: int) -> None:
        """One closed-loop client: a warm-up cycle (excluded), then whole
        cycles through the mix until the window is spent and at least
        MIN_CYCLES cycles are done, so every run times the same reads."""
        order = READ_MIX[k * 3 % len(READ_MIX):] + READ_MIX[:k * 3 % len(READ_MIX)]
        for kind in order:
            read(kind, ctx.seed + k)
        start.wait(timeout=170)
        window.setdefault("start", time.perf_counter())
        n = 0
        while n < MIN_CYCLES or time.perf_counter() < window["start"] + ctx.seconds:
            t = time.perf_counter()
            got = [read(kind, ctx.seed + 2 * n + k) for kind in order]
            with lock:
                cycles.append(1000 * (time.perf_counter() - t))
                ops.extend(got)
            n += 1

    try:
        threads = [threading.Thread(target=client, args=(k,), daemon=True) for k in range(2)]
        for th in threads:
            th.start()
        for th in threads:
            th.join(timeout=170)
            res.check(not th.is_alive(), "client thread did not finish")
        elapsed = time.perf_counter() - window.get("start", time.perf_counter())
        res.e2e["op_cpu_ms"] = (
            1000 * (cpu_seconds(ctx.spark) - cpu.get("start", 0.0)) / max(1, len(ops)), "ms")
    finally:
        server.stop()

    bad = [r for r in ops if not r["ok"]]
    for r in bad[:3]:
        res.problems.append(f"read {r['kind']} failed: {r['why']}")
    res.attempted, res.failed = len(ops), len(bad)
    read_ms = [r["ms"] for r in ops]
    # the mix's read latency: each kind's median, averaged over the kinds
    # (a plain median over the reads would jump between kinds as the
    # number of completed reads per kind shifts)
    per_kind = [statistics.median([r["ms"] for r in ops if r["kind"] == k])
                for k in READ_MIX if any(r["kind"] == k for r in ops)]
    res.named["op_p50_ms"] = (statistics.fmean(per_kind) if per_kind else float("nan"), "ms")
    res.named.update({
        "read_p50_ms": (statistics.median(read_ms) if read_ms else float("nan"), "ms"),
        "read_p90_ms": (quantile(read_ms, 0.9), "ms"),
        "reads_per_s": (len(ops) / elapsed, "1/s"),
        "fail_ratio": (res.failed / max(1, res.attempted), "ratio"),
    })
    res.info.update({"reads": len(ops), "cycles": len(cycles),
                     "read_ms_by_kind": {k: [round(r["ms"]) for r in ops if r["kind"] == k]
                                         for k in READ_MIX}})
    if tracer is not None:
        res.layers.update(_http_layers(layers, ops))
    return res
