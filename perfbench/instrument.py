"""Traced stand-ins for the package classes the benchmark constructs, and
the module attributes it wraps, all from outside the package.

``Layers(tracer)`` hands out the classes to construct: the package's own
when ``tracer`` is None (untraced runs), traced subclasses otherwise.
"""

from __future__ import annotations

import os

from py_gtfs_duckdb_spark import serving
from py_gtfs_duckdb_spark.lake import GtfsLake
from py_gtfs_duckdb_spark.queries import GtfsQueries
from py_gtfs_duckdb_spark.serving_http import RealtimeHttpServer
from py_gtfs_duckdb_spark.streaming import gtfsrt
from py_gtfs_duckdb_spark.streaming.merge import RealtimeMerger


def _version_dirs(table_dir: str) -> set[str]:
    try:
        return {e for e in os.listdir(table_dir) if e.startswith("v=")}
    except FileNotFoundError:
        return set()


def _dir_usage(path: str) -> tuple[int, int, int]:
    """(bytes, data files, bucket dirs) under ``path``."""
    size = files = buckets = 0
    for root, dirs, names in os.walk(path):
        buckets += sum(d.startswith("__bucket=") for d in dirs)
        for n in names:
            if n.endswith(".parquet"):
                files += 1
                size += os.path.getsize(os.path.join(root, n))
    return size, files, buckets


class _Rows:
    """A collected query result standing in for its DataFrame: the monitor
    page only calls ``collect()`` on what the query methods return."""

    def __init__(self, rows):
        self._rows = rows

    def collect(self):
        return self._rows


class Layers:
    def __init__(self, tracer=None):
        if tracer is None:
            self.Lake, self.Merger, self.Server = GtfsLake, RealtimeMerger, RealtimeHttpServer
            return
        self.Lake = self._lake_class(tracer)
        self.Merger = self._merger_class(tracer)
        self.render_ms: dict[str, float] = {}
        self.Server = self._server_class(tracer, self.render_ms)
        for attr, name in (
            ("feed_message_trip_updates", "serving.trip_updates"),
            ("feed_message_vehicle_positions", "serving.vehicle_positions"),
            ("feed_message_alerts", "serving.alerts"),
            ("monitor_html", "serving.monitor_html"),
            ("to_protobuf", "serving.to_protobuf"),
        ):
            tracer.patch(serving, attr, name, spark_counts=attr != "to_protobuf")
        self._patch_monitor_query(tracer)

    # -- lake ---------------------------------------------------------------

    @staticmethod
    def _lake_class(tracer):
        def written(lake, table, before, prefix):
            tdir = os.path.join(lake.root, table)
            for v in _version_dirs(tdir) - before:
                size, files, buckets = _dir_usage(os.path.join(tdir, v))
                tracer.add(f"{prefix}.bytes", size)
                tracer.add(f"{prefix}.files", files)
                tracer.add(f"{prefix}.buckets", buckets)

        class TracedLake(GtfsLake):
            def table(self, table):
                with tracer.span("lake.table"):
                    return super().table(table)

            def write(self, table, df, dedup_pk=True):
                before = _version_dirs(os.path.join(self.root, table))
                with tracer.span("lake.write", spark_counts=True):
                    super().write(table, df, dedup_pk)
                written(self, table, before, "lake.write")

            def merge_keyed(self, table, fresh, changed_keys, key, **kw):
                before = _version_dirs(os.path.join(self.root, table))
                with tracer.span("lake.merge_keyed", spark_counts=True):
                    super().merge_keyed(table, fresh, changed_keys, key, **kw)
                written(self, table, before, "lake.merge_keyed")

            def expire_keyed(self, table, cutoff_epoch, **kw):
                before = _version_dirs(os.path.join(self.root, table))
                with tracer.span("lake.expire_keyed", spark_counts=True):
                    super().expire_keyed(table, cutoff_epoch, **kw)
                written(self, table, before, "lake.expire_keyed")

            def remove_pattern(self, agency_pattern):
                with tracer.span("lake.remove_pattern", spark_counts=True):
                    super().remove_pattern(agency_pattern)

            def cascade_clean(self):
                with tracer.span("lake.cascade_clean", spark_counts=True):
                    super().cascade_clean()

        return TracedLake

    # -- streaming merge ----------------------------------------------------

    @staticmethod
    def _merger_class(tracer):
        class TracedMerger(RealtimeMerger):
            def __init__(self, lake, trip_matcher=None, **kw):
                if trip_matcher is not None:
                    trip_matcher = self._traced_matcher(trip_matcher)
                super().__init__(lake, trip_matcher=trip_matcher, **kw)

            @staticmethod
            def _traced_matcher(matcher):
                def match(parents, stus):
                    with tracer.span("streaming.matching.match"):
                        out_parents, out_stus = matcher(parents, stus)
                    with tracer.own():
                        tracer.add("streaming.matching.offered", parents.count())
                        tracer.add("streaming.matching.matched", out_parents.count())
                    return out_parents, out_stus

                return match

            def process_batch(self, batch_df, batch_id=None):
                with tracer.span("streaming.merge.batch", op=f"batch-{batch_id}",
                                 spark_counts=True):
                    with tracer.own():
                        parsed = gtfsrt.parse_spool_lines(batch_df)
                        kept = gtfsrt.reject_stale(parsed, self.max_age_seconds)
                        entities = parsed.count()
                        tracer.add("streaming.merge.entities", entities)
                        tracer.add("lake.merge_keyed.entities", entities)
                        tracer.add(
                            "streaming.gtfsrt.stale_rejected",
                            parsed.select("feed_timestamp").distinct().count()
                            - kept.select("feed_timestamp").distinct().count(),
                        )
                    super().process_batch(batch_df, batch_id)

            def expire(self):
                with tracer.span("streaming.merge.expire"):
                    super().expire()

            def merge_entities(self, parsed):
                with tracer.span("streaming.merge.merge_entities"):
                    super().merge_entities(parsed)

        return TracedMerger

    # -- serving ------------------------------------------------------------

    @staticmethod
    def _server_class(tracer, render_ms):
        class TracedServer(RealtimeHttpServer):
            def render(self, path, query):
                rid = (query.get("rid") or [""])[0]
                with tracer.span("serving_http.render", op=f"read-{rid}") as rec:
                    out = super().render(path, query)
                render_ms[rid] = 1000 * (rec["end"] - rec["start"])
                return out

        return TracedServer

    @staticmethod
    def _patch_monitor_query(tracer):
        for attr, name in (
            ("fetch_realtime_operation_day_monitor_trips", "queries.monitor_trips"),
            ("fetch_realtime_monitor_alerts", "queries.monitor_alerts"),
        ):
            original = getattr(GtfsQueries, attr)

            def materialized(self, *args, _orig=original, _name=name, **kw):
                with tracer.span(_name, spark_counts=True):
                    rows = _orig(self, *args, **kw).collect()
                tracer.add("queries.rows_out", len(rows))
                return _Rows(rows)

            tracer.replace(GtfsQueries, attr, materialized)
