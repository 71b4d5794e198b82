"""Seeded input generators for the benchmark.

Everything the system under test receives is made here from ``seed``: a
static GTFS feed (ZIP), a second feed for ``merge_subset``, the GTFS-RT
message schedule and a text corpus. Each generator also returns the
Python-side facts the correctness checks need (row sets, planted shares),
so the checks never ask the system what it was given.

Service calendars are day-independent on purpose: the matcher and the
``/monitor`` page resolve "today" from the wall clock, so the services a
realtime message can hit run on every day (``ALL_*``) or on none
(``NEVER_*``); weekday/weekend services are equal-sized. The
``calendar_dates`` additions and removals sit on fixed dates of a past
window (``QUERY_DAYS``) that the read workload queries explicitly.
"""

from __future__ import annotations

import csv
import datetime as dt
import io
import random
import zipfile
from dataclasses import dataclass, field

AGENCIES = ("AG0", "AG1", "AG2", "AG3")
REMOVED_AGENCY = "AG3"
MERGE_AGENCY = "AGX"
SERVICE_PATTERNS = {
    # pattern -> (mon..sun)
    "ALL": (1, 1, 1, 1, 1, 1, 1),
    "WKDY": (1, 1, 1, 1, 1, 0, 0),
    "WKND": (0, 0, 0, 0, 0, 1, 1),
    "NEVER": (0, 0, 0, 0, 0, 0, 0),
}
SERVICES_PER_PATTERN = 4
CAL_START, CAL_END = 20200101, 20991231
QUERY_DAYS = tuple(dt.date(2024, 3, 4) + dt.timedelta(days=i) for i in range(14))

# share of trips per service pattern, by trip index modulo 20
_PATTERN_BY_SLOT = ["ALL"] * 12 + ["WKDY"] * 3 + ["WKND"] * 3 + ["NEVER"] * 2


@dataclass(frozen=True)
class FeedScale:
    routes_per_agency: int
    stops: int
    trips: int
    stops_per_trip: int


@dataclass
class Feed:
    """A generated static feed: CSV rows per table plus the facts the
    checks and the realtime generator derive from it."""

    tables: dict[str, tuple[list[str], list[list[str]]]]
    planted_duplicates: dict[str, int] = field(default_factory=dict)

    def zip_bytes(self, tables: tuple[str, ...] | None = None) -> bytes:
        buf = io.BytesIO()
        with zipfile.ZipFile(buf, "w", compression=zipfile.ZIP_DEFLATED) as zf:
            for table, (header, rows) in self.tables.items():
                if tables is None or table in tables:
                    zf.writestr(f"{table}.txt", _csv_text(header, rows))
        return buf.getvalue()

    def csv_bytes(self) -> int:
        return sum(
            len(_csv_text(h, r).encode()) for h, r in self.tables.values()
        )

    def unique_trips(self) -> dict[str, tuple[str, str]]:
        """trip_id -> (route_id, service_id); planted duplicates are exact
        copies, so the first row stands for all."""
        out: dict[str, tuple[str, str]] = {}
        for rid, service, tid, *_ in self.tables["trips"][1]:
            out.setdefault(tid, (rid, service))
        return out

    def active_services(self, day: dt.date) -> set[str]:
        """The calendar model: services whose calendar row covers ``day``
        on its weekday, plus ``calendar_dates`` additions, minus removals."""
        ymd = int(day.strftime("%Y%m%d"))
        wd = day.weekday()
        active = {
            r[0] for r in self.tables["calendar"][1]
            if int(r[8]) <= ymd <= int(r[9]) and r[1 + wd] == "1"
        }
        for service, date, kind in self.tables["calendar_dates"][1]:
            if int(date) == ymd and kind == "1":
                active.add(service)
        for service, date, kind in self.tables["calendar_dates"][1]:
            if int(date) == ymd and kind == "2":
                active.discard(service)
        return active

    def active_trips(self, day: dt.date) -> set[str]:
        active = self.active_services(day)
        return {t for t, (_, s) in self.unique_trips().items() if s in active}


def _csv_text(header: list[str], rows: list[list[str]]) -> str:
    out = io.StringIO()
    w = csv.writer(out, lineterminator="\n")
    w.writerow(header)
    w.writerows(rows)
    return out.getvalue()


def _hms(seconds: int) -> str:
    # GTFS times may pass 24:00:00 for trips running past midnight
    return f"{seconds // 3600:02d}:{seconds // 60 % 60:02d}:{seconds % 60:02d}"


def static_feed(seed: int, scale: FeedScale) -> Feed:
    """The main feed: 4 agencies, stations with platforms, four service
    patterns, trips with times past 24 h, shapes, transfers, and planted
    primary-key duplicates (exact copies, so dedup is deterministic)."""
    rng = random.Random(seed)
    n_stations = scale.stops // 4
    stations = [f"ST{i:05d}" for i in range(n_stations)]
    platforms = [f"P{i:05d}" for i in range(scale.stops - n_stations)]

    agency = [
        [a, f"Agency {a}", f"https://{a.lower()}.example", "Europe/Berlin", "de",
         "", "", ""]
        for a in AGENCIES
    ]
    stops = [
        [s, "", f"Station {s}", "", "", f"{48 + rng.random():.6f}",
         f"{9 + rng.random():.6f}", "", "", "1", "", "", "", "", ""]
        for s in stations
    ]
    for i, p in enumerate(platforms):
        # a platform's location_type is '0' or '' (both platforms); every
        # fifth platform has no parent station
        parent = "" if i % 5 == 0 else stations[i % n_stations]
        stops.append(
            [p, "", f"Platform {p}", "", "", f"{48 + rng.random():.6f}",
             f"{9 + rng.random():.6f}", "", "", "0" if i % 2 else "", parent,
             "", "", "", str(i % 3)]
        )

    routes, trips, stop_times, shapes, transfers = [], [], [], [], []
    route_ids = []
    for a in AGENCIES:
        for r in range(scale.routes_per_agency):
            rid = f"{a}_R{r:03d}"
            route_ids.append((a, rid))
            routes.append(
                [a, rid, f"{r}", f"Line {rid}", "", str(rng.choice((0, 2, 3))),
                 "", "", "", "", "", "", ""]
            )
    trips_per_route = max(1, scale.trips // len(route_ids))
    for route_n, (a, rid) in enumerate(route_ids):
        pattern = rng.sample(platforms, scale.stops_per_trip)
        hop = rng.randint(90, 240)
        headway = max(60, (20 * 3600) // trips_per_route)
        first = 4 * 3600 + rng.randint(0, 1800)
        for d in (0, 1):
            shape_id = f"SH_{rid}_{d}"
            for k in range(8):
                shapes.append(
                    [shape_id, f"{48 + rng.random():.6f}",
                     f"{9 + rng.random():.6f}", str(k + 1), ""]
                )
        for k in range(trips_per_route):
            tid = f"T_{rid}_{k:04d}"
            pat = _PATTERN_BY_SLOT[(k * 7 + route_n) % len(_PATTERN_BY_SLOT)]
            service = f"{pat}_{k % SERVICES_PER_PATTERN}"
            d = k % 2
            trips.append(
                [rid, service, tid, f"To {pattern[-1]}", "", str(d), "",
                 f"SH_{rid}_{d}", "", ""]
            )
            # distinct start times per route: a (route, start_time) pair
            # names at most one trip, whatever day it is
            start = first + k * headway
            seq_stops = pattern if d == 0 else pattern[::-1]
            for s, stop_id in enumerate(seq_stops):
                t = _hms(start + s * hop)
                stop_times.append(
                    [tid, t, t, stop_id, "", "", str(s + 1), "", "", "", "0",
                     "0", "", "", "", "1", "", ""]
                )
    for i in range(len(route_ids)):
        (_, r1), (_, r2) = route_ids[i], route_ids[(i + 1) % len(route_ids)]
        transfers.append(["", "", r1, r2, "", "", "1", "120"])
    for i in range(0, len(trips) - 1, max(1, len(trips) // 40)):
        transfers.append(["", "", "", "", trips[i][2], trips[i + 1][2], "2", ""])

    calendar = []
    for pat, days in SERVICE_PATTERNS.items():
        for j in range(SERVICES_PER_PATTERN):
            calendar.append(
                [f"{pat}_{j}", *map(str, days), str(CAL_START), str(CAL_END)]
            )
    calendar_dates = []
    for day in QUERY_DAYS:
        ymd = day.strftime("%Y%m%d")
        for pat in ("ALL", "WKDY", "WKND"):
            if rng.random() < 0.4:
                calendar_dates.append(
                    [f"{pat}_{rng.randrange(SERVICES_PER_PATTERN)}", ymd, "2"]
                )
        if rng.random() < 0.5:
            calendar_dates.append(
                [f"NEVER_{rng.randrange(SERVICES_PER_PATTERN)}", ymd, "1"]
            )
    calendar_dates = [list(r) for r in dict.fromkeys(map(tuple, calendar_dates))]

    feed_info = [["Benchmark Publisher", "https://example.org", "de", "", "",
                  "", "1", "", ""]]

    tables = {
        "agency": (_AGENCY_COLS, agency),
        "stops": (_STOPS_COLS, stops),
        "routes": (_ROUTES_COLS, routes),
        "trips": (_TRIPS_COLS, trips),
        "stop_times": (_STOP_TIMES_COLS, stop_times),
        "calendar": (_CALENDAR_COLS, calendar),
        "calendar_dates": (_CALENDAR_DATES_COLS, calendar_dates),
        "shapes": (_SHAPES_COLS, shapes),
        "transfers": (_TRANSFERS_COLS, transfers),
        "feed_info": (_FEED_INFO_COLS, feed_info),
    }
    planted = {}
    for table, share in (
        ("stop_times", 0.01), ("stops", 0.01), ("trips", 0.01),
        ("routes", 0.02), ("calendar_dates", 0.05),
    ):
        header, rows = tables[table]
        dupes = rng.sample(rows, max(1, int(len(rows) * share)))
        rows.extend(list(r) for r in dupes)
        rng.shuffle(rows)
        planted[table] = len(dupes)
    return Feed(tables, planted)


def merge_feed(seed: int, main: Feed, routes: int, trips_per_route: int) -> Feed:
    """The feed ``merge_subset`` folds in: a fifth agency whose trips run
    over stops shared with the main feed (renamed, so the stop upsert
    replaces them), plus a few stops of its own."""
    rng = random.Random(seed ^ 0x5EED)
    main_stops = {r[0]: r for r in main.tables["stops"][1]}
    platforms = sorted(s for s in main_stops if s.startswith("P"))
    shared = rng.sample(platforms, 12)
    own = [f"PX{i:03d}" for i in range(8)]
    stops = []
    for s in shared:
        row = list(main_stops[s])
        row[2] = f"{row[2]} (merged)"
        stops.append(row)
    for s in own:
        stops.append(
            [s, "", f"Platform {s}", "", "", f"{48 + rng.random():.6f}",
             f"{9 + rng.random():.6f}", "", "", "0", "", "", "", "", ""]
        )
    agency = [[MERGE_AGENCY, "Merged Agency", "https://agx.example",
               "Europe/Berlin", "de", "", "", ""]]
    route_rows, trips, stop_times = [], [], []
    for r in range(routes):
        rid = f"{MERGE_AGENCY}_R{r:03d}"
        route_rows.append([MERGE_AGENCY, rid, str(r), f"Line {rid}", "", "3",
                           "", "", "", "", "", "", ""])
        pattern = rng.sample(shared + own, 6)
        for k in range(trips_per_route):
            tid = f"T_{rid}_{k:04d}"
            trips.append([rid, f"ALL_{k % SERVICES_PER_PATTERN}", tid, "", "",
                          "0", "", "", "", ""])
            start = 6 * 3600 + k * 900
            for s, stop_id in enumerate(pattern):
                t = _hms(start + s * 120)
                stop_times.append(
                    [tid, t, t, stop_id, "", "", str(s + 1), "", "", "", "0",
                     "0", "", "", "", "1", "", ""]
                )
    tables = {
        "agency": (_AGENCY_COLS, agency),
        "stops": (_STOPS_COLS, stops),
        "routes": (_ROUTES_COLS, route_rows),
        "trips": (_TRIPS_COLS, trips),
        "stop_times": (_STOP_TIMES_COLS, stop_times),
    }
    return Feed(tables)


# -- GTFS-Realtime schedule -------------------------------------------------


@dataclass
class RtMessage:
    seq: int
    due: float  # seconds after the schedule starts
    stale: bool
    feed: dict  # FeedMessage dict for gtfsrt_wire.encode
    # entity bookkeeping for the last-writer-wins model:
    # (family or "tombstone", stored key, label, n_stop_time_updates)
    effects: list[tuple[str, str, str, int]]


@dataclass
class RtSchedule:
    messages: list[RtMessage]
    shares: dict[str, float]


def _trip_index(feed: Feed):
    """(running trips, never-running trips), each as a list of
    (trip_id, route_id, start_time, [stop_ids by sequence])."""
    first: dict[str, list] = {}
    for r in feed.tables["stop_times"][1]:
        first.setdefault(r[0], {})[int(r[6])] = (r[2], r[3])
    running, never = [], []
    seen = set()
    for rid, service, tid, *_ in feed.tables["trips"][1]:
        if tid in seen:
            continue
        seen.add(tid)
        seqs = first[tid]
        stops = [seqs[k][1] for k in sorted(seqs)]
        entry = (tid, rid, seqs[1][0], stops)
        if service.startswith("ALL_"):
            running.append(entry)
        elif service.startswith("NEVER_"):
            never.append(entry)
    running.sort()
    never.sort()
    return running, never


def rt_schedule(
    seed: int,
    feed: Feed,
    n_messages: int,
    *,
    interval_s: float,
    trip_updates: int = 100,
    stus_per_update: int = 5,
    vehicles: int = 100,
    alert_every: int = 15,
    stale: frozenset[int] = frozenset(),
    now: float,
) -> RtSchedule:
    """Differential FeedMessages, one per ``interval_s``. About 30% of
    trip updates carry no trip_id (matched by route + start time), about
    10% name trips that do not run today, about 1% of entities are
    tombstones, every ``alert_every``-th message carries an alert and the
    messages whose index is in ``stale`` have a 3-hour-old header. The
    message sequence number travels in ``vehicle.label``.

    A trip is referred to in one way only (by id, or by route + start
    time), as one producer does; its stored key is the trip id either
    way. ``now`` stamps headers and event times."""
    rng = random.Random(seed ^ 0x7EA1)
    running, never = _trip_index(feed)
    rng.shuffle(running)
    cut = int(len(running) * 0.3)
    by_route = running[:cut]  # referred to by route + start time only
    by_id = running[cut:]
    n_vehicles = max(vehicles * 4, 400)
    messages = []
    counts = {"tu": 0, "unknown": 0, "not_running": 0, "tombstone": 0,
              "entities": 0, "stale": 0}
    for n in range(n_messages):
        seq = n + 1
        label = f"seq-{seq:06d}"
        is_stale = n in stale
        header_ts = int(now + n * interval_s) - (3 * 3600 if is_stale else 0)
        entities, effects = [], []
        taken: set[str] = set()  # one entity per trip and message
        for _ in range(trip_updates):
            u = rng.random()
            pool = never if u < 0.10 else by_route if u < 0.40 and by_route else by_id
            tid, rid, start, stops = rng.choice(pool)
            if tid in taken:
                continue
            taken.add(tid)
            if pool is never:
                kind, key = "not_running", None
                ent_id, trip = tid, {"trip_id": tid, "route_id": rid,
                                     "start_time": start}
            elif pool is by_route:
                kind, key = "unknown", tid
                ent_id, trip = f"m-{tid}", {"route_id": rid, "start_time": start}
            else:
                kind, key = "known", tid
                ent_id, trip = tid, {"trip_id": tid, "route_id": rid,
                                     "start_time": start}
            first_seq = rng.randint(1, max(1, len(stops) - stus_per_update + 1))
            stus = [
                {
                    "stop_sequence": s,
                    "stop_id": stops[s - 1],
                    "arrival": {"time": int(now) + 60 * s, "delay": rng.randint(-60, 600)},
                    "departure": {"time": int(now) + 60 * s + 30, "delay": rng.randint(-60, 600)},
                }
                for s in range(first_seq, min(len(stops), first_seq + stus_per_update - 1) + 1)
            ]
            entities.append({
                "id": ent_id,
                "trip_update": {
                    "trip": {**trip, "start_date": "20240101"},
                    "vehicle": {"id": f"veh-{rng.randrange(n_vehicles)}", "label": label},
                    "timestamp": header_ts,
                    "stop_time_update": stus,
                },
            })
            counts["tu"] += 1
            counts["unknown"] += kind == "unknown"
            counts["not_running"] += kind == "not_running"
            if key is not None:
                effects.append(("trip_update", key, label, len(stus)))
        vids = [f"v-{i}" for i in rng.sample(range(n_vehicles), vehicles)]
        for vid in vids:
            tid, rid, start, stops = rng.choice(by_id)
            entities.append({
                "id": vid,
                "vehicle": {
                    "trip": {"trip_id": tid, "route_id": rid, "start_time": start},
                    "vehicle": {"id": vid, "label": label},
                    "position": {"latitude": 48 + rng.random(), "longitude": 9 + rng.random()},
                    "current_stop_sequence": 1,
                    "stop_id": stops[0],
                    "timestamp": header_ts,
                },
            })
            effects.append(("vehicle", vid, label, 0))
        # ~1% tombstones, over ids an earlier message may have written
        # and this one does not upsert
        for _ in range(max(1, (trip_updates + vehicles) // 100)):
            if rng.random() < 0.5:
                dead = rng.choice(by_id)[0]
            else:
                dead = f"v-{rng.randrange(n_vehicles)}"
            if dead in taken or dead in vids:
                continue
            taken.add(dead)
            entities.append({"id": dead, "is_deleted": True})
            effects.append(("tombstone", dead, label, 0))
            counts["tombstone"] += 1
        if alert_every > 0 and n % alert_every == 0:
            aid = f"alert-{n // alert_every % 10}"
            a_tid, a_rid, _, _ = rng.choice(by_id)
            entities.append({
                "id": aid,
                "alert": {
                    "active_period": [{"start": int(now), "end": int(now) + 3600}],
                    "informed_entity": [{"route_id": a_rid}, {"trip": {"trip_id": a_tid}}],
                    "cause": "CONSTRUCTION",
                    "effect": "DETOUR",
                    "header_text": {"translation": [{"text": f"Works {label}", "language": "de"}]},
                    "description_text": {"translation": [{"text": f"Detour on {a_rid}", "language": "de"}]},
                },
            })
            effects.append(("alert", aid, label, 0))
        counts["entities"] += len(entities)
        counts["stale"] += is_stale
        messages.append(RtMessage(
            seq=seq,
            due=n * interval_s,
            stale=is_stale,
            feed={
                "header": {"gtfs_realtime_version": "2.0",
                           "incrementality": "DIFFERENTIAL",
                           "timestamp": header_ts},
                "entity": entities,
            },
            effects=effects,
        ))
    tu = max(1, counts["tu"])
    shares = {
        "unknown_trip": counts["unknown"] / tu,
        "not_running": counts["not_running"] / tu,
        "tombstone": counts["tombstone"] / max(1, counts["entities"]),
        "stale": counts["stale"] / max(1, n_messages),
    }
    return RtSchedule(messages, shares)


def rt_snapshot(seed: int, feed: Feed, *, trip_updates: int, stus_per_update: int,
                vehicles: int, alerts: int, now: float, per_message: int = 500
                ) -> tuple[list[dict], set[str]]:
    """A realtime state to serve: FeedMessages of ``per_message`` entities
    holding ``trip_updates`` trip updates over distinct trips (any
    service), ``vehicles`` vehicle positions and ``alerts`` alerts, every
    entity id distinct. Returns the messages and the trip ids updated."""
    rng = random.Random(seed ^ 0x57A7)
    by_trip: dict[str, dict[int, str]] = {}
    for r in feed.tables["stop_times"][1]:
        by_trip.setdefault(r[0], {})[int(r[6])] = r[3]
    trips = sorted(feed.unique_trips().items())
    chosen = rng.sample(trips, min(trip_updates, len(trips)))
    entities = []
    for tid, (rid, _) in chosen:
        stops = by_trip[tid]
        entities.append({
            "id": tid,
            "trip_update": {
                "trip": {"trip_id": tid, "route_id": rid},
                "vehicle": {"id": f"veh-{tid}", "label": "snapshot"},
                "timestamp": int(now),
                "stop_time_update": [
                    {"stop_sequence": s, "stop_id": stops[s],
                     "arrival": {"time": int(now) + 60 * s, "delay": rng.randint(0, 300)}}
                    for s in sorted(stops)[:stus_per_update]
                ],
            },
        })
    for i in range(vehicles):
        tid, (rid, _) = rng.choice(trips)
        entities.append({
            "id": f"v-{i}",
            "vehicle": {
                "trip": {"trip_id": tid, "route_id": rid},
                "vehicle": {"id": f"v-{i}", "label": "snapshot"},
                "position": {"latitude": 48 + rng.random(), "longitude": 9 + rng.random()},
                "timestamp": int(now),
            },
        })
    for i in range(alerts):
        _, (rid, _) = rng.choice(trips)
        entities.append({
            "id": f"alert-{i}",
            "alert": {
                "active_period": [{"start": int(now) - i, "end": int(now) + 3600}],
                "informed_entity": [{"route_id": rid}],
                "header_text": {"translation": [{"text": f"Alert {i}", "language": "de"}]},
                "description_text": {"translation": [{"text": f"On {rid}", "language": "de"}]},
            },
        })
    messages = [
        {
            "header": {"gtfs_realtime_version": "2.0",
                       "incrementality": "FULL_DATASET", "timestamp": int(now)},
            "entity": entities[i:i + per_message],
        }
        for i in range(0, len(entities), per_message)
    ]
    return messages, {tid for tid, _ in chosen}


def last_writer_wins(messages: list[RtMessage]) -> dict[str, dict[str, tuple[str, int]]]:
    """Pure-Python model of the realtime state after ``messages`` are
    applied in order: per family, stored key -> (label, stop-time-update
    count). Stale messages are skipped whole; a tombstone deletes its id
    from every family."""
    state: dict[str, dict[str, tuple[str, int]]] = {
        "trip_update": {}, "vehicle": {}, "alert": {},
    }
    for m in messages:
        if m.stale:
            continue
        # within a message the merge applies deletes and upserts by key
        # together: a key both upserted and tombstoned is dropped
        dead = {key for fam, key, *_ in m.effects if fam == "tombstone"}
        for fam, key, label, n_stu in m.effects:
            if fam != "tombstone" and key not in dead:
                state[fam][key] = (label, n_stu)
        for fam in state:
            for key in dead:
                state[fam].pop(key, None)
    return state


# -- text corpus -------------------------------------------------------------

# The shape of the repository's sf0.1 ``documents`` table (5,000 docs), as
# measured with the package's own stages: every word is drawn uniformly
# from these 28 (26 content words and the English stopwords "a" and
# "the"), word counts are uniform in [10, 100], 5% of the documents are a
# copy of another document with " dup" appended (so two copies of one
# document are exact duplicates, and a copy of a copy makes a cluster of
# three or more), no document holds PII, and the ``lang`` label is en 40%,
# de/fr/es/zh 15% each, independent of the text. With the rule thresholds
# of operators/text.py about 58% of the documents pass the quality rules
# (22% have fewer than 30 words, 37% lack one of the two stopwords).
_WORDS = (
    "batch part spark line column order small sort fast value scan hash slow "
    "group agg filter query big key window row table stream merge data join "
    "vector customer a the"
).split()
_MIN_WORDS, _MAX_WORDS = 10, 100
DUP_SHARE = 0.05
_LANGS = ("en", "de", "fr", "es", "zh")
_LANG_WEIGHTS = (0.40, 0.15, 0.15, 0.15, 0.15)


def documents(seed: int, n_docs: int) -> tuple[list[dict], dict[str, float]]:
    """A corpus shaped like the repository's ``documents`` table
    (doc_id, text, lang, source, n_chars); see the constants above.
    Exactly ``DUP_SHARE`` of the documents are copies, each of a document
    drawn from all made before it (copies included). Returns the rows and
    the measured shares: copies, exact duplicates after case and
    whitespace folding, copies of copies, PII, and documents under 30
    words."""
    rng = random.Random(seed ^ 0xD0C5)
    n_dup = round(DUP_SHARE * n_docs)
    texts = [
        " ".join(rng.choice(_WORDS) for _ in range(rng.randint(_MIN_WORDS, _MAX_WORDS)))
        for _ in range(n_docs - n_dup)
    ]
    for _ in range(n_dup):
        texts.append(texts[rng.randrange(len(texts))] + " dup")
    rng.shuffle(texts)
    docs = [
        {"doc_id": i, "text": t, "lang": rng.choices(_LANGS, _LANG_WEIGHTS)[0],
         "source": f"src{i % 20}", "n_chars": len(t)}
        for i, t in enumerate(texts)
    ]
    folded = [" ".join(t.lower().split()) for t in texts]
    shares = {
        "copy": n_dup / n_docs,
        "exact_dup": (n_docs - len(set(folded))) / n_docs,
        "copy_of_copy": sum(t.endswith("dup dup") for t in texts) / n_docs,
        "pii": 0.0,
        "under_30_words": sum(len(t.split()) < 30 for t in texts) / n_docs,
    }
    return docs, shares


_AGENCY_COLS = ["agency_id", "agency_name", "agency_url", "agency_timezone",
                "agency_lang", "agency_phone", "agency_fare_url", "agency_email"]
_STOPS_COLS = ["stop_id", "stop_code", "stop_name", "tts_stop_name", "stop_desc",
               "stop_lat", "stop_lon", "zone_id", "stop_url", "location_type",
               "parent_station", "stop_timezone", "wheelchair_boarding",
               "level_id", "platform_code"]
_ROUTES_COLS = ["agency_id", "route_id", "route_short_name", "route_long_name",
                "route_desc", "route_type", "route_url", "route_color",
                "route_text_color", "route_sort_order", "continuous_pickup",
                "continuous_drop_off", "network_id"]
_TRIPS_COLS = ["route_id", "service_id", "trip_id", "trip_headsign",
               "trip_short_name", "direction_id", "block_id", "shape_id",
               "wheelchair_accessible", "bikes_allowed"]
_STOP_TIMES_COLS = ["trip_id", "arrival_time", "departure_time", "stop_id",
                    "location_group_id", "location_id", "stop_sequence",
                    "stop_headsign", "start_pickup_drop_off_window",
                    "end_pickup_drop_off_window", "pickup_type", "drop_off_type",
                    "continuous_pickup", "continuous_drop_off",
                    "shape_dist_traveled", "timepoint", "pickup_booking_rule_id",
                    "drop_off_booking_rule_id"]
_CALENDAR_COLS = ["service_id", "monday", "tuesday", "wednesday", "thursday",
                  "friday", "saturday", "sunday", "start_date", "end_date"]
_CALENDAR_DATES_COLS = ["service_id", "date", "exception_type"]
_SHAPES_COLS = ["shape_id", "shape_pt_lat", "shape_pt_lon", "shape_pt_sequence",
                "shape_dist_traveled"]
_TRANSFERS_COLS = ["from_stop_id", "to_stop_id", "from_route_id", "to_route_id",
                   "from_trip_id", "to_trip_id", "transfer_type",
                   "min_transfer_time"]
_FEED_INFO_COLS = ["feed_publisher_name", "feed_publisher_url", "feed_lang",
                   "default_lang", "feed_start_date", "feed_end_date",
                   "feed_version", "feed_contact_email", "feed_contact_url"]
