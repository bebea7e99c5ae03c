"""The ``serving`` workload, driven only through ``POST /write`` and
``POST /query`` of an engine process (engine.py).

Set-up: the engine starts over a preloaded, compacted store (8 hourly
``cpu`` partitions in database ``bench``) and answers one query of each
panel class and every ``repeat`` text. Then two phases:

1. bulk ingest: a closed loop of 2 connections sends a fixed set of large
   line-protocol bodies into database ``ingest``; the phase ends at the
   last ack;
2. dashboard, for ``--seconds`` and at least ``MIN_QUERIES`` panels: 2
   closed-loop readers issue the seeded panel mix against ``bench`` while
   an open loop of at most 3 connections writes small bodies at a fixed
   rate into the same tables and the store's newest hour. ``recent`` and
   ``scan`` panels miss the plan cache (new files, and a text of their
   own) and ``repeat`` panels hit it.

Once merges are quiescent, row counts through ``/query`` must equal the
acknowledged rows of each database.
"""

from __future__ import annotations

import http.client
import itertools
import json
import os
import signal
import subprocess
import sys
import threading
import time

from perfbench import gen, procs
from perfbench.engine import REQ_HEADER
from perfbench.stats import geomean, median, tail
from perfbench.trace import load_spans

DB = "bench"
INGEST_DB = "ingest"
# open-loop write rate of the dashboard phase, bodies/s: below ingest
# capacity, low enough that 3 connections cover every body waiting for one
# ~1 s flush tick, and not a fraction of the flush period, so send times
# spread over the timer
STEADY_RATE = 2.37
# merge-ticker period (s) of the engine: several merge rounds fit in one
# run instead of at most one at the 10 s default
MERGE_PERIOD_S = 2
STEADY_LINES = 500
STEADY_BODIES = 16
# age (s) of the write stream's timestamps at the preload's anchor hour
STEADY_AGE_S = 300
MIN_QUERIES = 60
# the preloaded store: HOURS hourly partitions, PRELOAD_PARTS flushes each
HOURS = 8
ROWS_PER_HOUR = 6000
PRELOAD_PARTS = 2
# bulk phase: these bodies (lines) over 2 connections. A body is acked at
# the engine's first 1 s flush tick after its parse; unequal bodies keep
# the two connections from finishing every parse together and waiting out
# the same ticks
BULK_SIZES = (15_000, 11_000, 13_000, 9_000)


class Engine:
    """An engine process from spawn to first ``/ping`` (its set-up time)
    until SIGTERM and the exit of its whole process tree."""

    def __init__(self, root: str, work: str, env: dict, trace: bool, preload: str | None = None):
        self.out = os.path.join(work, "engine.json")
        cmd = [sys.executable, "-u", os.path.join(root, "perfbench", "engine.py"),
               "--root", os.path.join(work, "data"), "--db", DB, "--out", self.out]
        if trace:
            cmd.append("--trace")
        if preload:
            cmd += ["--preload", preload]
        self.err = open(os.path.join(work, "engine.log"), "w")
        self.t0 = t0 = time.perf_counter()
        self.proc = subprocess.Popen(
            cmd, cwd=root, env=env, stdout=subprocess.PIPE, stderr=self.err, text=True
        )
        self.rss = procs.RssSampler(self.proc.pid)
        self.port = self._await_port(timeout=170)
        while self.get("/ping") != 204:
            time.sleep(0.05)
        self.setup_s = time.perf_counter() - t0

    def _await_port(self, timeout: float) -> int:
        found: list[int] = []
        ready = threading.Event()

        def read():
            for line in self.proc.stdout:
                if line.startswith("listening on http://") and not found:
                    found.append(int(line.rsplit(":", 1)[1]))
                    ready.set()
            ready.set()

        threading.Thread(target=read, daemon=True).start()
        if not ready.wait(timeout) or not found:
            self.stop()
            raise RuntimeError("engine did not start; see engine.log")
        return found[0]

    def get(self, path: str) -> int:
        try:
            c = http.client.HTTPConnection("127.0.0.1", self.port, timeout=10)
            c.request("GET", path)
            status = c.getresponse().status
            c.close()
            return status
        except OSError:
            return 0

    def post(self, path: str, body: bytes, req: str) -> tuple[int, bytes]:
        c = http.client.HTTPConnection("127.0.0.1", self.port, timeout=120)
        try:
            c.request("POST", path, body=body, headers={REQ_HEADER: req})
            r = c.getresponse()
            return r.status, r.read()
        finally:
            c.close()

    def query(self, sql: str, req: str, db: str = DB) -> tuple[bool, list]:
        """``(ok, rows)``; on failure ``rows`` holds the error text."""
        status, data = self.post(f"/query?db={db}", json.dumps({"query": sql}).encode(), req)
        doc = json.loads(data) if data else {}
        if status != 200 or "error" in doc:
            return False, [f"{status}: {doc.get('error', data[:200])}"]
        return True, doc.get("results", [])

    def set_trace(self, on: bool) -> None:
        self.proc.send_signal(signal.SIGUSR1 if on else signal.SIGUSR2)

    def stop(self) -> dict:
        """SIGTERM, wait for the tree to exit, return the engine report."""
        pids = procs.tree(self.proc.pid)
        peak = self.rss.stop()
        if self.proc.poll() is None:
            self.proc.send_signal(signal.SIGTERM)
            try:
                self.proc.wait(90)
            except subprocess.TimeoutExpired:
                self.proc.kill()
                self.proc.wait()
        left = procs.wait_gone(pids, 30)
        for p in left:
            try:
                os.kill(p, signal.SIGKILL)
            except OSError:
                pass
        procs.wait_gone(left, 10)
        self.err.close()
        report = {"peak_rss_mb": peak, "rss_peaks_mb": self.rss.peaks_mb()}
        if os.path.exists(self.out):
            with open(self.out) as f:
                report.update(json.load(f))
        if os.path.exists(self.out + ".spans"):
            report["spans"] = load_spans(self.out + ".spans")
        return report


class Log:
    """Client-side record of every operation: kind, class (panel class or
    database), request id, phase, due/start/end times, ok, rows written,
    and whether engine tracing was on when it was sent."""

    def __init__(self):
        self.ops: list[dict] = []
        self.traced = True
        self._ids = itertools.count(1)

    def next_id(self, kind: str) -> str:
        return f"{kind}-{next(self._ids)}"

    def add(self, **op) -> None:
        self.ops.append(op)

    def select(self, kind=None, cls=None, phase=None):
        return [o for o in self.ops if (kind is None or o["kind"] == kind)
                and (cls is None or o.get("cls") == cls)
                and (phase is None or o.get("phase") == phase)]


def _write(eng: Engine, log: Log, body: bytes, rows: int, scheduled: float, phase: str,
           db: str = DB):
    req, traced = log.next_id("w"), log.traced
    t0 = time.perf_counter()
    try:
        status, resp = eng.post(f"/write?db={db}", body, req)
    except OSError as e:
        status, resp = 0, repr(e).encode()
    t1 = time.perf_counter()
    log.add(kind="write", cls=db, req=req, phase=phase, due=scheduled, start=t0, end=t1,
            ok=status == 204, rows=rows, status=status, error=resp[:300].decode(errors="replace"),
            traced=traced)


def _read(eng: Engine, log: Log, cls: str, sql: str, phase: str):
    req, traced = log.next_id("q"), log.traced
    t0 = time.perf_counter()
    try:
        ok, rows = eng.query(sql, req)
        err = "" if ok else str(rows)[:300]
    except (OSError, ValueError) as e:
        ok, err = False, repr(e)
    t1 = time.perf_counter()
    log.add(kind="query", cls=cls, req=req, phase=phase, due=t0, start=t0, end=t1, ok=ok,
            error=err, traced=traced)


def open_loop(rate: float, stop: threading.Event, conns: int, send) -> None:
    """Calls ``send(i, due)`` for i = 0, 1, ... at ``start + i / rate`` on
    ``conns`` threads until ``stop`` is set; a send that finds no free
    connection goes out late, and its latency still counts from ``due``."""
    start = time.perf_counter()
    counter = itertools.count()
    lock = threading.Lock()

    def worker():
        while True:
            with lock:
                i = next(counter)
            due = start + i / rate
            if stop.wait(max(0.0, due - time.perf_counter())):
                return
            send(i, due)

    threads = [threading.Thread(target=worker) for _ in range(conns)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()


def _closed_loop(conns: int, go, op) -> None:
    """``conns`` threads call ``op(i)`` for i = 0, 1, ... while ``go(i)``."""
    counter = itertools.count()
    lock = threading.Lock()

    def worker():
        while True:
            with lock:
                i = next(counter)
            if not go(i):
                return
            op(i)

    threads = [threading.Thread(target=worker) for _ in range(conns)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()


def _tracing_phases(eng: Engine, log: Log, stop: threading.Event, trace: bool):
    """In a traced run, flip engine tracing off and on every second until
    ``stop`` so the run also measures its own untraced latency."""
    if not trace:
        return None

    def flip():
        while not stop.wait(1.0):
            log.traced = not log.traced
            eng.set_trace(log.traced)
        log.traced = True
        eng.set_trace(True)

    t = threading.Thread(target=flip, daemon=True)
    t.start()
    return t


def _live_files(data_root: str) -> dict[str, int]:
    """Live files listed in every partition's metadata.json -> bytes."""
    out = {}
    for d, _dirs, files in os.walk(data_root):
        if "metadata.json" in files:
            try:
                with open(os.path.join(d, "metadata.json")) as f:
                    idx = json.load(f)
            except (OSError, ValueError):
                continue
            for name, e in idx.get("files", {}).items():
                out[os.path.join(d, name)] = e["size_bytes"]
    return out


def _quiesce(data_root: str, period: float, cap: float) -> dict[str, int]:
    """Waits until the live-file lists stop changing for longer than one
    merge period (or ``cap`` seconds pass)."""
    deadline = time.perf_counter() + cap
    last, since = _live_files(data_root), time.perf_counter()
    while time.perf_counter() < deadline:
        time.sleep(0.25)
        cur = _live_files(data_root)
        if cur != last:
            last, since = cur, time.perf_counter()
        elif time.perf_counter() - since > period + 0.5:
            break
    return last


def _count(eng: Engine, db: str, tables) -> int | str:
    """Rows in ``tables`` of ``db`` through ``/query``, or the error."""
    n = 0
    for t in tables:
        ok, rows = eng.query(f"SELECT count(*) AS n FROM {t}", f"check-{db}-{t}", db)
        if not ok or not rows:
            return f"{t}: {rows}"
        n += rows[0]["n"]
    return n


def _latencies(ops, from_due: bool = False) -> list[float]:
    return [((o["end"] - (o["due"] if from_due else o["start"])) * 1e3) for o in ops if o["ok"]]


def serving(ctx) -> dict:
    seed, secs = ctx.seed, ctx.seconds
    anchor = (time.time_ns() // gen.HOUR_NS) * gen.HOUR_NS
    spec = f"{seed}:{anchor}:{HOURS}:{ROWS_PER_HOUR}:{PRELOAD_PARTS}"
    t0_ns = gen.bulk_t0_ns(seed)
    bulk = [gen.lp_body(seed, i, n, t0_ns + i * gen.NS) for i, n in enumerate(BULK_SIZES)]
    # the write stream lands in the store's newest hour, inside the
    # ``recent`` window: each flush changes the file lists that ``recent``
    # and ``scan`` read (their texts never repeat either), and ``repeat``
    # (older hours) hits the plan cache. No new fields in the dashboard
    # tables: a schema change would drop every cached plan of the table
    steady_ns = anchor - STEADY_AGE_S * gen.NS
    steady = [gen.lp_body(seed, 1000 + i, STEADY_LINES, steady_ns + i * gen.NS,
                          extra_share=0.0) for i in range(STEADY_BODIES + 1)]
    lines = [ln for body in bulk + steady for ln in body.splitlines()]
    escaped = sum(b"\\" in ln for ln in lines) / len(lines)
    # measurements each database receives, for the row-count check
    tables = {db: {ln.split(b",", 1)[0].decode() for body in bodies for ln in body.splitlines()}
              for db, bodies in ((DB, steady), (INGEST_DB, bulk))}
    tables[DB].add("cpu")
    # one panel of each class, then every repeat text: repeat panels hit
    # the plan cache from the first timed one
    warm = [gen.panel_sql(seed, anchor, HOURS, -i) for i in range(1, len(gen.PANEL_SCHEDULE) + 1)]
    warm += [("repeat", t) for t in gen.repeat_texts(seed, anchor, HOURS)]

    eng = Engine(ctx.root, ctx.work, ctx.env, ctx.trace, preload=spec)
    log = Log()
    try:
        # untimed warm-up, part of set-up: the dashboard tables get their
        # final schema, then the warm-up panels
        _write(eng, log, steady[-1], STEADY_LINES, time.perf_counter(), "warmup")
        for cls, sql in warm:
            _read(eng, log, cls, sql, "warmup")
        setup_s = time.perf_counter() - eng.t0
        t_start = time.perf_counter()
        stop = threading.Event()
        flipper = _tracing_phases(eng, log, stop, ctx.trace)
        # bulk phase: a fixed amount of work; it ends at the last ack
        _closed_loop(2, lambda i: i < len(bulk), lambda i: _write(
            eng, log, bulk[i], BULK_SIZES[i], time.perf_counter(), "bulk", INGEST_DB))
        bulk_ops = log.select("write", phase="bulk")
        bulk_wall = max(o["end"] for o in bulk_ops) - t_start
        # dashboard phase: panels beside an open-loop write stream
        until = time.perf_counter() + secs
        writer = threading.Thread(target=open_loop, args=(
            STEADY_RATE, stop, 3,
            lambda i, due: _write(eng, log, steady[i % len(steady)], STEADY_LINES, due, "steady")))
        writer.start()

        def panel(i):
            cls, sql = gen.panel_sql(seed, anchor, HOURS, i)
            _read(eng, log, cls, sql, "panels")

        # at least MIN_QUERIES panels, so the tail is always the same
        # percentile (p75); at most 9x the run length
        cap = until + 8 * secs
        t_panels = time.perf_counter()
        _closed_loop(2, lambda i: (time.perf_counter() < until or i < MIN_QUERIES)
                     and time.perf_counter() < cap, panel)
        panel_wall = time.perf_counter() - t_panels
        stop.set()
        writer.join()
        if flipper:
            flipper.join()
        t_quiesce = time.perf_counter()
        live = _quiesce(os.path.join(ctx.work, "data"), MERGE_PERIOD_S, 12.0)
        acked = {db: sum(o["rows"] for o in log.select("write", cls=db) if o["ok"])
                 for db in (DB, INGEST_DB)}
        preload_rows = HOURS * ROWS_PER_HOUR * PRELOAD_PARTS
        counted = {db: _count(eng, db, sorted(tables[db])) for db in (DB, INGEST_DB)}
        t_stop = time.perf_counter()
    finally:
        rep = eng.stop()
    phases = {"engine_start_s": eng.setup_s, "warmup_s": setup_s - eng.setup_s,
              "bulk_s": bulk_wall, "panels_s": panel_wall, "quiesce_s": t_stop - t_quiesce,
              "stop_s": time.perf_counter() - t_stop}
    timed = [o for o in log.ops if o["phase"] != "warmup"]
    failed = sum(not o["ok"] for o in timed)
    use = [o for o in timed if o["traced"] or not ctx.trace]
    reads = [o for o in use if o["kind"] == "query"]
    lat = _latencies(reads)
    q_tail = tail(lat)
    ack = _latencies([o for o in use if o["phase"] == "steady"], from_due=True)
    a_tail = tail(ack)
    rows_per_s = sum(o["rows"] for o in bulk_ops if o["ok"]) / bulk_wall
    ingest_bytes = sum(v for k, v in live.items() if f"{os.sep}{INGEST_DB}{os.sep}" in k)
    report = {
        "ingest_rows_per_s": (rows_per_s, "rows/s"),
        "write_ack_p50_ms": (median(ack), "ms"),
        "write_ack_tail_ms": (a_tail[1], "ms"),
        "write_ack_tail_pct": (a_tail[0], "pct"),
        "write_ack_samples": (a_tail[2], "count"),
        "stored_bytes_per_row": (ingest_bytes / max(acked[INGEST_DB], 1), "B/row"),
        "query_p50_ms": (median(lat), "ms"),
        "query_tail_ms": (q_tail[1], "ms"),
        "query_tail_pct": (q_tail[0], "pct"),
        "query_samples": (q_tail[2], "count"),
    }
    class_p50 = []
    for cls, _w in gen.PANEL_MIX:
        xs = _latencies([o for o in reads if o["cls"] == cls])
        class_p50.append(median(xs) if xs else 0.0)
        report[f"{cls}_p50_ms"] = (class_p50[-1], "ms")
        report[f"{cls}_samples"] = (len(xs), "count")
    return {
        "setup_s": setup_s, "peak_rss_mb": rep["peak_rss_mb"],
        # the classes' medians, weighted alike: a pooled median sits on a
        # class boundary and jumps between classes from run to run
        "latency_ms": geomean(class_p50),
        # panels/s, not bulk rows/s: acks wait for the engine's 1 s flush
        # tick, so a bulk phase of a few seconds moves by a whole tick
        # (about 20% on a 4-core VM) from run to run; rows/s stays in the
        # report
        "throughput_per_s": len(lat) / panel_wall,
        "attempted": len(timed), "failed": failed,
        "checks": {
            f"row_count.{INGEST_DB}": counted[INGEST_DB] == acked[INGEST_DB],
            f"row_count.{DB}": counted[DB] == acked[DB] + preload_rows,
        },
        "report": report, "engine": rep, "log": log, "live_files": live,
        "lag_ms": [max(0.0, o["start"] - o["due"]) * 1e3 for o in timed if o["phase"] == "steady"],
        "input": {"escaped_line_share": escaped, "acked": acked, "counted": counted,
                  "preload_rows": preload_rows, "phases": phases,
                  "errors": [o["error"] for o in timed if not o["ok"]][:5]},
    }
