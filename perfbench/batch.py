"""The batch workloads: the nightly static refresh (``static_etl``) and
corpus curation (``curate``). Each run repeats its job until the measured
window is spent; the first job after Spark start is timed too, because a
nightly job pays a cold JVM every time it runs."""

from __future__ import annotations

import hashlib
import os
import statistics
import threading
import time
import zipfile

import gen
from common import Ctx, Result, cpu_seconds, fresh_dir
from instrument import Layers
from realtime import FEED_SCALE

from py_gtfs_duckdb_spark.sources.gtfs import export_static_zip, load_static_zip
from py_gtfs_duckdb_spark.strategies import merge_subset

MERGE_ROUTES, MERGE_TRIPS_PER_ROUTE = 5, 10
N_DOCS = 500
WARMUP_CALLS = 2  # untimed calls after Spark start
MIN_CALLS = 5  # every run times at least this many calls


# -- static_etl ---------------------------------------------------------------


def static_etl(ctx: Ctx) -> Result:
    res = Result()
    layers = Layers(ctx.tracer)
    feed = gen.static_feed(ctx.seed, FEED_SCALE)
    sub = gen.merge_feed(ctx.seed, feed, MERGE_ROUTES, MERGE_TRIPS_PER_ROUTE)
    inputs = fresh_dir(ctx.run_dir, "inputs")
    main_zip, sub_zip = os.path.join(inputs, "feed.zip"), os.path.join(inputs, "merge.zip")
    with open(main_zip, "wb") as fh:
        fh.write(feed.zip_bytes())
    with open(sub_zip, "wb") as fh:
        fh.write(sub.zip_bytes())
    input_bytes = feed.csv_bytes() + sub.csv_bytes()
    res.info["rows_in"] = sum(len(rows) for f in (feed, sub) for _, rows in f.tables.values())
    expected = expected_etl_counts(feed, sub)

    ctx.begin_setup()
    ctx.end_setup(res)  # the session is the whole set-up
    ctx.phase("measure")
    times, cpu, n = [], [], 0
    window = time.perf_counter() + ctx.seconds
    while not times or time.perf_counter() < window:
        root = fresh_dir(ctx.run_dir, f"etl{n}")
        out_zip = os.path.join(root, "export.zip")
        t, c = time.perf_counter(), cpu_seconds(ctx.spark)
        with ctx.span("static_etl.cycle", op=f"etl-{n}"):
            lake = layers.Lake(ctx.spark, os.path.join(root, "lake"))
            subset = layers.Lake(ctx.spark, os.path.join(root, "subset"))
            with ctx.span("sources.gtfs.load", spark_counts=True):
                load_static_zip(lake, main_zip)
                load_static_zip(subset, sub_zip)
            with ctx.span("strategies.merge_subset", spark_counts=True):
                merge_subset(lake, subset.root, "match_stop_id")
            lake.remove_pattern(gen.REMOVED_AGENCY)
            lake.cascade_clean()
            with ctx.span("sources.gtfs.export", spark_counts=True):
                export_static_zip(lake, out_zip)
        times.append(time.perf_counter() - t)
        cpu.append(cpu_seconds(ctx.spark) - c)
        res.attempted += 1
        if n == 0:
            ok = _check_etl(res, lake, out_zip, expected)
            lake_bytes = _current_bytes(lake.root)
        else:
            ok = True
        res.failed += not ok
        n += 1

    res.named["op_p50_ms"] = (1000 * statistics.median(times), "ms")
    res.e2e["op_cpu_ms"] = (1000 * sum(cpu) / len(cpu), "ms")
    res.named.update({
        "etl_s": (statistics.median(times), "s"),
        "lake_bytes_per_input_byte": (lake_bytes / input_bytes, "ratio"),
        "fail_ratio": (res.failed / res.attempted, "ratio"),
    })
    res.info.update({"cycles": len(times), "input_csv_bytes": input_bytes,
                     "planted_duplicates": feed.planted_duplicates})
    return res


def _nullable(row: list[str]) -> list[str | None]:
    # Spark's CSV reader reads an empty field as NULL
    return [v if v != "" else None for v in row]


def _keep_not_in(value, keys: list) -> bool:
    """Whether ``DELETE ... WHERE value NOT IN (keys)`` keeps the row, in
    SQL three-valued logic."""
    if not keys:
        return False
    if value is None or None in keys:
        return True
    return value in set(keys)


def expected_etl_counts(feed: gen.Feed, sub: gen.Feed) -> dict[str, int]:
    """Row counts per table after load, merge_subset(match_stop_id),
    remove_pattern and cascade_clean, computed in Python."""
    pk = {"agency": [0], "calendar_dates": [0, 1], "calendar": [0], "routes": [1],
          "stop_times": [0, 3, 6], "stops": [0], "trips": [2]}

    def load(f: gen.Feed) -> dict[str, list[list]]:
        out = {}
        for table, (_, rows) in f.tables.items():
            rows = [_nullable(r) for r in rows]
            if table in pk:
                rows = list({tuple(r[i] for i in pk[table]): r for r in rows}.values())
            out[table] = rows
        return out

    main, s = load(feed), load(sub)
    for table, rows in s.items():
        if table == "stops":
            ids = {r[0] for r in rows}
            main[table] = rows + [r for r in main[table] if r[0] not in ids]
        else:
            merged = main.get(table, []) + rows
            main[table] = list({tuple(r[i] for i in pk[table]): r for r in merged}.values())
    t = main
    t["agency"] = [r for r in t["agency"] if r[0] != gen.REMOVED_AGENCY]
    t["routes"] = [r for r in t["routes"] if r[0] != gen.REMOVED_AGENCY]
    for _ in range(2):  # remove_pattern's cascade, then the explicit one
        t["routes"] = [r for r in t["routes"]
                       if _keep_not_in(r[0], [a[0] for a in t["agency"]])]
        route_ids = [r[1] for r in t["routes"]]
        t["trips"] = [r for r in t["trips"] if _keep_not_in(r[0], route_ids)]
        trip_ids = [r[2] for r in t["trips"]]
        t["stop_times"] = [r for r in t["stop_times"] if _keep_not_in(r[0], trip_ids)]
        used = [r[3] for r in t["stop_times"]]
        platforms = [r for r in t["stops"] if r[9] in ("", "0")]
        stations = [r for r in t["stops"] if r[9] == "1"]
        others = [r for r in t["stops"] if r[9] not in ("", "0", "1")]
        kept_platforms = [r for r in platforms if _keep_not_in(r[0], used)]
        parents = [r[10] for r in kept_platforms + stations + others]
        kept_stations = [r for r in stations if _keep_not_in(r[0], parents)]
        t["stops"] = kept_platforms + kept_stations + others
        t["shapes"] = [r for r in t["shapes"]
                       if _keep_not_in(r[0], [r2[7] for r2 in t["trips"]])]
        tr = t["transfers"]
        for col, keys in ((2, route_ids), (3, route_ids), (4, trip_ids), (5, trip_ids)):
            tr = [r for r in tr if _keep_not_in(r[col], keys)]
        t["transfers"] = tr
        services = [r[1] for r in t["trips"]]
        t["calendar"] = [r for r in t["calendar"] if _keep_not_in(r[0], services)]
        t["calendar_dates"] = [r for r in t["calendar_dates"]
                               if _keep_not_in(r[0], services)]
    return {table: len(rows) for table, rows in t.items()}


def _check_etl(res: Result, lake, out_zip: str, expected: dict[str, int]) -> bool:
    ok = True
    got = {table: lake.table(table).count() for table in expected}
    for table, n in expected.items():
        ok &= res.check(got[table] == n, f"{table}: {got[table]} rows, expected {n}")
    orphans = (
        lake.table("stop_times").join(lake.table("trips"), "trip_id", "left_anti").count()
        + lake.table("trips").join(lake.table("routes"), "route_id", "left_anti").count()
    )
    ok &= res.check(orphans == 0, f"{orphans} orphan rows after the cascade")
    with zipfile.ZipFile(out_zip) as zf, zf.open("stop_times.txt") as fh:
        exported = sum(1 for _ in fh) - 1
    ok &= res.check(exported == got["stop_times"],
                    f"exported {exported} stop_times, lake has {got['stop_times']}")
    return ok


def _current_bytes(root: str) -> int:
    """Bytes of every table's current version (``_CURRENT`` pointer)."""
    total = 0
    for table in os.listdir(root):
        pointer = os.path.join(root, table, "_CURRENT")
        if not os.path.exists(pointer):
            continue
        with open(pointer) as fh:
            vdir = os.path.join(root, table, f"v={fh.read().strip()}")
        for dirpath, _, names in os.walk(vdir):
            total += sum(os.path.getsize(os.path.join(dirpath, n)) for n in names
                         if n.endswith(".parquet"))
    return total


# -- curate -------------------------------------------------------------------

CURATE_COLS = ("doc_id", "pred_lang", "split", "n_tokens")


def _digest(rows) -> str:
    """Order-insensitive hash of result rows."""
    lines = sorted(repr(tuple(r)) for r in rows)
    return hashlib.sha256("\n".join(lines).encode()).hexdigest()


def _curate_oracle(path: str, out: dict) -> None:
    """The repository's DuckDB oracle SQL for q_curate_rules over the same
    documents file; fills ``out`` with rows (or the error) and seconds."""
    import duckdb

    from py_gtfs_duckdb_spark.plans import ORACLE

    t = time.perf_counter()
    con = duckdb.connect(config={"threads": 2})
    try:
        con.execute(f"CREATE VIEW documents AS SELECT * FROM '{path}'")
        cur = con.execute(ORACLE["q_curate_rules"])
        names = [d[0] for d in cur.description]
        out["rows"] = [tuple(r[names.index(c)] for c in CURATE_COLS) for r in cur.fetchall()]
    except Exception as exc:  # reported as a failed check
        out["error"] = repr(exc)
    finally:
        con.close()
    out["seconds"] = time.perf_counter() - t


def curate(ctx: Ctx) -> Result:
    import pyarrow as pa
    import pyarrow.parquet as pq

    from py_gtfs_duckdb_spark.api import shared_scope
    from py_gtfs_duckdb_spark.operators.pipeline import curate_corpus

    res = Result()
    docs, shares = gen.documents(ctx.seed, N_DOCS)
    path = os.path.join(fresh_dir(ctx.run_dir, "corpus"), "documents.parquet")
    pq.write_table(pa.Table.from_pylist(docs, schema=pa.schema([
        ("doc_id", pa.int64()), ("text", pa.string()), ("lang", pa.string()),
        ("source", pa.string()), ("n_chars", pa.int64()),
    ])), path)
    ctx.begin_setup()
    frame = ctx.spark.read.parquet(path)
    ctx.end_setup(res)

    if ctx.tracer is not None:
        from py_gtfs_duckdb_spark.operators import dedup, graph, text

        for module, attr in ((dedup, "minhash_lsh_dedup"), (dedup, "keep_canonical"),
                             (graph, "connected_components"), (text, "quality_rules"),
                             (text, "pii_scrub")):
            ctx.tracer.patch(module, attr, f"operators.{attr}", spark_counts=True)

    def run_once(docs_frame) -> list:
        with ctx.span("operators.curate_corpus", spark_counts=True):
            with shared_scope(ctx.spark):
                out, _ = curate_corpus(docs_frame, apply_quality_rules=True,
                                       with_report=False)
                return out.select(*CURATE_COLS).collect()

    # The DuckDB oracle of the same composition runs beside the warm-up
    # call (excluded from the figures) and is done before timing starts.
    oracle: dict[str, object] = {}
    oracle_t = threading.Thread(target=_curate_oracle, args=(path, oracle), daemon=True)
    t = time.perf_counter()
    oracle_t.start()
    ctx.phase("warm-up")
    for _ in range(WARMUP_CALLS):
        run_once(frame)
    ctx.phase("measure")
    oracle_t.join(timeout=170)
    res.info["warmup_s"] = time.perf_counter() - t
    res.info["oracle_s"] = oracle.get("seconds")

    times, cpu, digests = [], [], set()
    window = time.perf_counter() + ctx.seconds
    while len(times) < MIN_CALLS or time.perf_counter() < window:
        t, c = time.perf_counter(), cpu_seconds(ctx.spark)
        rows = run_once(frame)
        times.append(time.perf_counter() - t)
        cpu.append(cpu_seconds(ctx.spark) - c)
        digests.add(_digest(rows))
    res.attempted = len(times)
    res.e2e["op_cpu_ms"] = (1000 * sum(cpu) / len(cpu), "ms")
    want = _digest(oracle.get("rows", [])) if "rows" in oracle else oracle.get("error")
    res.check(digests == {want},
              f"curate_corpus result differs from the DuckDB oracle: {len(rows)} rows "
              f"vs {len(oracle.get('rows', []))} ({oracle.get('error', 'hash mismatch')})")
    res.failed = 0 if digests == {want} else len(times)
    res.named["op_p50_ms"] = (1000 * statistics.median(times), "ms")
    res.named.update({
        "curate_s": (statistics.median(times), "s"),
        "fail_ratio": (res.failed / res.attempted, "ratio"),
    })
    res.info.update({"calls": [round(x, 3) for x in times],
                     "call_cpu_s": [round(x, 3) for x in cpu], "rows_out": len(rows),
                     "pass_share": len(rows) / N_DOCS,
                     "planted_shares": {k: round(v, 4) for k, v in shares.items()}})
    return res
