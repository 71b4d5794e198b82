"""The per-layer figures a traced run derives from its spans. BENCHMARK.json
names the ones it gates and their units; run.py reads them from there."""

from __future__ import annotations

import time


def _span_cost_s(n: int = 2000) -> float:
    """Wall time of one empty span, measured here."""
    from tracing import Tracer

    probe = Tracer()
    t = time.perf_counter()
    for _ in range(n):
        with probe.span("probe"):
            pass
    return (time.perf_counter() - t) / n


def layer_metrics(tracer, rows_in: int, ops: int) -> dict[str, tuple[float, str]]:
    """The per-layer figures every workload's traced run derives the same
    way; workloads add their own (streaming, HTTP waits) on top.

    ``ops`` is the number of operations the measured window ran. Totals
    (``.s``, ``.calls``, bytes, files, buckets) count set-up spans once
    and measured spans per operation; ``_per_op`` figures count the
    measured spans only, per operation; ``ms`` figures are medians per
    call. None of them grows with how many operations fit in the window.
    """
    ms = tracer.median_ms
    dur = tracer.duration

    def secs(name):
        return tracer.per_op(lambda ph: sum(dur(s) for s in tracer.spans_in(ph, name)), ops)

    def calls(name):
        return tracer.per_op(lambda ph: len(tracer.spans_in(ph, name)), ops)

    def counter(name):
        return tracer.per_op(lambda ph: tracer.counters.get(ph, {}).get(name, 0), ops)

    def measured_per_op(values):
        return sum(values) / max(1, ops)

    entities = tracer.count("lake.merge_keyed.entities")
    measured = tracer.spans_in("measure")
    span_cost = _span_cost_s()
    values = {
        "session.start_s": (secs("session.start"), "s"),
        "sources.gtfs.load_s": (secs("sources.gtfs.load"), "s"),
        "sources.gtfs.rows_in": (rows_in, "count"),
        "lake.write.calls": (calls("lake.write"), "count"),
        "lake.write.s": (secs("lake.write"), "s"),
        "lake.bytes_written": (counter("lake.write.bytes"), "bytes"),
        "lake.files_written": (counter("lake.write.files"), "count"),
        "lake.merge_keyed.calls": (calls("lake.merge_keyed"), "count"),
        "lake.merge_keyed.s": (secs("lake.merge_keyed"), "s"),
        "lake.merge_keyed.buckets_rewritten": (counter("lake.merge_keyed.buckets"), "count"),
        "lake.merge_keyed.bytes_per_entity": (
            tracer.count("lake.merge_keyed.bytes") / entities if entities else 0.0, "bytes"),
        "lake.expire_keyed.s": (secs("lake.expire_keyed"), "s"),
        "lake.table.calls_per_op": (
            measured_per_op(1 for s in measured if s["name"] == "lake.table"), "count"),
        "lake.table.s": (secs("lake.table"), "s"),
        "streaming.merge.expire_s": (secs("streaming.merge.expire"), "s"),
        "streaming.merge.merge_entities_s": (secs("streaming.merge.merge_entities"), "s"),
        "streaming.matching.refresh_s": (secs("streaming.matching.refresh"), "s"),
        "streaming.spool.write_ms": (ms("streaming.spool.write"), "ms"),
        "streaming.gtfsrt_wire.decode_ms": (ms("streaming.gtfsrt_wire.decode"), "ms"),
        "streaming.gtfsrt_wire.encode_ms": (ms("streaming.gtfsrt_wire.encode"), "ms"),
        "serving.trip_updates.ms": (ms("serving.trip_updates"), "ms"),
        "serving.vehicle_positions.ms": (ms("serving.vehicle_positions"), "ms"),
        "serving.alerts.ms": (ms("serving.alerts"), "ms"),
        "serving.monitor_html.ms": (ms("serving.monitor_html"), "ms"),
        "serving.to_protobuf.ms": (ms("serving.to_protobuf"), "ms"),
        "serving_http.render.ms": (ms("serving_http.render"), "ms"),
        "queries.opday_trips.ms": (ms("queries.opday_trips"), "ms"),
        "queries.monitor_trips.ms": (ms("queries.monitor_trips"), "ms"),
        "queries.rows_out_per_op": (
            tracer.counters.get("measure", {}).get("queries.rows_out", 0) / max(1, ops), "count"),
        "spark.jobs_per_op": (measured_per_op(s.get("jobs", 0) for s in measured), "count"),
        "spark.stages_per_op": (measured_per_op(s.get("stages", 0) for s in measured), "count"),
        "spark.tasks_per_op": (measured_per_op(s.get("tasks", 0) for s in measured), "count"),
        "trace.spans_per_op": (measured_per_op(1 for _ in measured), "count"),
        "trace.overhead_s": (tracer.per_op(
            lambda ph: tracer.overhead_s.get(ph, 0.0) + len(tracer.spans_in(ph)) * span_cost,
            ops), "s"),
        "lake.remove_pattern.s": (secs("lake.remove_pattern"), "s"),
        "lake.cascade_clean.s": (secs("lake.cascade_clean"), "s"),
        "strategies.merge_subset.s": (secs("strategies.merge_subset"), "s"),
        "sources.gtfs.export_s": (secs("sources.gtfs.export"), "s"),
        "operators.curate_corpus.s": (secs("operators.curate_corpus"), "s"),
    }
    for stage in ("minhash_lsh_dedup", "connected_components", "keep_canonical",
                  "quality_rules", "pii_scrub"):
        values[f"operators.{stage}.s"] = (secs(f"operators.{stage}"), "s")
    return {k: (float(v), unit) for k, (v, unit) in values.items()}
