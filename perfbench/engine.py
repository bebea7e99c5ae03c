"""Engine process for the HTTP workloads: the same server that
``python -m quackpipe_spark --serve`` starts, optionally with a preloaded
store and with spans recorded around the engine's public functions.

    python perfbench/engine.py --root DIR --out FILE [--trace] [--preload S:A:H:R:P]

Prints ``listening on http://HOST:PORT`` once serving; on SIGTERM it stops
the server (final flush included), then writes FILE (JSON: session
context, floor probes, preload timings, traced per-request Spark
profiles) and, when tracing, FILE.spans (one span per line).
"""

from __future__ import annotations

import argparse
import json
import os
import queue
import signal
import sys
import threading
import time

if __name__ == "__main__":
    # the checkout root, not this script's directory (see run.py)
    sys.path[0] = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

from perfbench import gen, sparkprof  # noqa: E402
from perfbench.trace import Tracer  # noqa: E402

REQ_HEADER = "X-Bench-Request"


def _file_bytes(paths) -> int:
    total = 0
    for p in paths or ():
        try:
            total += os.path.getsize(p)
        except OSError:
            pass
    return total


def install_tracing(T: Tracer, spark, profiles: dict) -> threading.Thread:
    """Wrap the public functions of each engine module the HTTP doors
    reach. Returns the worker that reads per-request Spark profiles after
    each response, off the request path."""
    from quackpipe_spark import api, catalog, ingest, query, writer
    from quackpipe_spark.plans import compactor, index
    from quackpipe_spark.sources import lineproto

    parse = lineproto.parse_lines

    def parse_lines(text, *a, **k):
        with T.span("lineproto.parse_lines") as attrs:
            out = list(parse(text, *a, **k))
            attrs["lines"] = text.count("\n") + (not text.endswith("\n"))
            attrs["batches"] = len(out)
            return out

    lineproto.parse_lines = parse_lines
    T.wrap(ingest, "ingest_lines", "ingest.ingest_lines")
    api.ingest_lines = ingest.ingest_lines

    def store_after(at, a, k, out):
        data = a[3] if len(a) > 3 else k.get("data")
        at["rows"] = len(next(iter(data.values()))) if data else 0

    T.wrap(ingest.IngestService, "store", "ingest.store", after=store_after)
    T.wrap(ingest.IngestService, "validate_schema", "catalog.validate_schema")
    T.wrap(ingest.IngestService, "flush", "ingest.flush",
           after=lambda at, a, k, out: at.update(rows=out))
    T.wrap(catalog.Catalog, "get_or_create", "catalog.get_or_create")
    T.wrap(catalog.Catalog, "update_schema", "catalog.update_schema")

    def write_after(at, a, k, out):
        at.update(files=len(out), bytes=_file_bytes(out), rows=len(next(iter(a[3].values()), ())))

    T.wrap(writer.HiveWriter, "write_columnar", "writer.write_columnar", after=write_after)
    T.wrap(index.PartitionIndex, "load", "index.load")
    T.wrap(index.PartitionIndex, "save", "index.save")
    T.wrap(compactor.Compactor, "run_once", "compactor.run_once")
    execute = compactor.Compactor._execute

    def merge(self, plan):
        with T.span("compactor.merge") as attrs:
            if not plan.promote:
                attrs["bytes_in"] = _file_bytes(
                    os.path.join(plan.partition_dir, f) for f in plan.files
                )
            return execute(self, plan)

    compactor.Compactor._execute = merge
    T.wrap(query, "extract_time_bounds_per_table", "query.bounds")

    def files_after(at, a, k, out):
        total = 0
        for pdir in a[1].partition_dirs():  # read directly: no extra spans
            try:
                with open(os.path.join(pdir, index.PartitionIndex.INDEX_NAME)) as f:
                    total += len(json.load(f).get("files", {}))
            except (OSError, ValueError):
                pass
        at.update(kept=len(out), total=total)

    T.wrap(query.QueryEngine, "table_files", "query.table_files", after=files_after)
    T.wrap(query.QueryEngine, "table_df", "query.table_df")
    seen: dict[int, object] = {}
    local = threading.local()
    engine_sql = query.QueryEngine.sql

    def sql(self, *a, **k):
        with T.span("query.sql") as attrs:
            try:
                df = engine_sql(self, *a, **k)
            except BaseException as e:
                attrs["error"] = type(e).__name__
                raise
            if T.enabled:
                attrs["hit"] = id(df) in seen
                local.df = df
            # recorded while tracing is off too: a traced hit on a plan
            # first built in an untraced second is still a hit
            seen[id(df)] = df  # keeps the id from being reused
            return df

    query.QueryEngine.sql = sql

    work: queue.Queue = queue.Queue()
    last_totals: dict[int, dict] = {}

    def profile_worker():
        tracker = spark.sparkContext.statusTracker()
        while True:
            item = work.get()
            if item is None:
                return
            req, df = item
            try:
                prof = sparkprof.profile(df)
                prev = last_totals.get(id(df), {})
                last_totals[id(df)] = dict(prof)
                for key, v in prev.items():
                    if key != "planning_ms":
                        prof[key] = v and prof[key] - v
                prof["jobs"] = len(tracker.getJobIdsForGroup(req))
                profiles[req] = prof
            except Exception as e:  # a profile is best effort
                profiles[req] = {"error": f"{type(e).__name__}: {e}"}

    worker = threading.Thread(target=profile_worker, daemon=True, name="bench-profile")
    worker.start()
    worker.queue = work

    start = api.GigapiServer.start

    def start_traced(srv):
        start(srv)
        handler = srv._httpd.RequestHandlerClass
        do_post, stream_rows = handler.do_POST, handler._stream_rows

        def traced_post(h):
            req = h.headers.get(REQ_HEADER)
            T.request, local.df = req, None
            if req:
                spark.sparkContext.setJobGroup(req, "bench")
            try:
                with T.span("api.request"):
                    do_post(h)
            finally:
                T.request = None
                if req and local.df is not None:
                    work.put((req, local.df))

        def traced_stream(h, df):
            with T.span("query.exec"):
                return stream_rows(h, df)

        handler.do_POST, handler._stream_rows = traced_post, traced_stream

    api.GigapiServer.start = start_traced
    return worker


def preload(spark, root: str, db: str, spec: str) -> dict:
    """Build the dashboard store through IngestService, one flush per
    slice, then compact it with Compactor."""
    from quackpipe_spark.catalog import Catalog
    from quackpipe_spark.ingest import IngestService
    from quackpipe_spark.plans.compactor import Compactor

    seed, anchor, hours, rows, parts = (int(x) for x in spec.split(":"))
    cat = Catalog(root)
    svc = IngestService(spark, cat)
    t0 = time.perf_counter()
    n = 0
    for part in range(parts):
        cols = gen.preload_columns(seed, anchor, hours, rows, part)
        svc.store(db, "cpu", cols)
        n += svc.flush()
    t1 = time.perf_counter()
    for t in cat.tables(db):
        Compactor(spark, t).run_once()
    return {"rows": n, "ingest_s": t1 - t0, "compact_s": time.perf_counter() - t1}


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--root", required=True)
    ap.add_argument("--db", default="bench")
    ap.add_argument("--out", required=True)
    ap.add_argument("--trace", action="store_true")
    ap.add_argument("--preload")
    args = ap.parse_args()

    from quackpipe_spark import __main__ as cli
    from quackpipe_spark.session import get_spark

    spark = get_spark()
    spark.sparkContext.setLogLevel("ERROR")
    report: dict = {"context": sparkprof.session_context(spark)}
    report["floor_ms_start"] = sparkprof.floor_ms(spark)
    tracer, profiles, worker = Tracer(), {}, None
    if args.trace:
        worker = install_tracing(tracer, spark, profiles)
        # the client turns tracing on (USR1) and off (USR2) to measure its
        # overhead; a state per signal, because two pending signals of one
        # kind are delivered once
        signal.signal(signal.SIGUSR1, lambda *_: setattr(tracer, "enabled", True))
        signal.signal(signal.SIGUSR2, lambda *_: setattr(tracer, "enabled", False))
    if args.preload:
        report["preload"] = preload(spark, args.root, args.db, args.preload)
    cli.main(["--serve", "--root", args.root, "--port", "0"])
    report["floor_ms_end"] = sparkprof.floor_ms(spark)
    if worker is not None:
        worker.queue.put(None)
        worker.join(timeout=60)
        tracer.dump(args.out + ".spans")
        report["profiles"] = profiles
    with open(args.out + ".tmp", "w") as f:
        json.dump(report, f)
    os.replace(args.out + ".tmp", args.out)
    sparkprof.stop_session(spark)
    return 0


if __name__ == "__main__":
    sys.exit(main())
