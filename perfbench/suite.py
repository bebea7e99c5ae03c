"""The ``gate_suite`` workload: the 50 registry gates in process, on seeded
tables, one sweep in registry-name order, each gate timed with a full
materialization (rows collected to the driver, as a DuckDB ``fetchall``
would) and checked afterwards against its DuckDB oracle.

The sweep is the first execution of each gate's plan shapes in a fresh
JVM, so its first-use costs (code generation, class loading) are part of
every gate's time. The order is fixed because those costs land on
whichever gate first needs them: a seeded order moved them between gates
and spread the suite time by a quarter across five seeds on a 4-core VM."""

from __future__ import annotations

import datetime as dt
import math
import os
import re
import time

from perfbench import gen, procs, sparkprof
from perfbench.stats import geomean, median, tail

GATE_SCALE = 0.5
FAMILIES = ("sql_surface", "llm_ops", "curation", "timeseries", "dataflow")
REL_TOL = 1e-9
# a round() argument this many ulps from an exact decimal tie sits on it
# as far as summation order can tell; at most MAX_TIES ties per gate are
# broken both ways when a mismatch is checked
TIE_ULPS = 1024
MAX_TIES = 8
HOOK_FN = "perfbench_round_arg"


def _canon(v):
    """One comparable form per value: numbers as doubles, dates and
    midnight datetimes as dates, NaN distinct from null, lists recursed."""
    if v is None:
        return ("null",)
    if hasattr(v, "tolist") and not isinstance(v, (str, bytes)):
        v = v.tolist()
    if isinstance(v, (list, tuple)):
        return ("list", tuple(_canon(x) for x in v))
    if isinstance(v, bool):
        return ("bool", v)
    if isinstance(v, (int, float)) or type(v).__name__ == "Decimal":
        f = float(v)
        if math.isnan(f):
            return ("nan",)
        if isinstance(v, int) and abs(v) >= 1 << 53:
            return ("int", v)  # beyond a double's exact integers
        return ("num", f + 0.0)
    if hasattr(v, "to_pydatetime"):
        if str(v) == "NaT":
            return ("null",)
        v = v.to_pydatetime()
    if isinstance(v, dt.datetime):
        if v.tzinfo is None and v.time() == dt.time(0):
            return ("date", v.date().isoformat())
        return ("ts", v.isoformat())
    if isinstance(v, dt.date):
        return ("date", v.isoformat())
    return ("str", str(v))


def canonical(pdf) -> tuple[list, list]:
    """``(sorted column names, canonical rows)`` of a pandas frame."""
    cols = sorted(pdf.columns)
    rows = [tuple(_canon(x) for x in row)
            for row in pdf[cols].astype(object).itertuples(index=False, name=None)]
    return cols, rows


def _close(a, b) -> bool:
    if a[0] == b[0] == "num":
        # summation order moves an unrounded double by a few ulps
        x, y = a[1], b[1]
        return abs(x - y) <= REL_TOL * max(abs(x), abs(y))
    if a[0] == b[0] == "list":
        return len(a[1]) == len(b[1]) and all(map(_close, a[1], b[1]))
    return a == b


def same_result(got, want) -> bool:
    """Order-insensitive comparison of two canonical results: the same
    column names and row count, then row by row after sorting. Columns
    holding a non-integral number on either side are compared with
    ``_close`` and sorted on last, so a tolerated difference cannot reorder
    rows; every other value must be equal."""
    (cols, rows), (w_cols, w_rows) = got, want
    if cols != w_cols or len(rows) != len(w_rows):
        return False
    inexact = {j for j in range(len(cols)) for r in rows + w_rows
               if r[j][0] == "num" and not r[j][1].is_integer()}

    def key(r):
        return (tuple(v for j, v in enumerate(r) if j not in inexact),
                tuple(v for j, v in enumerate(r) if j in inexact))

    return all(_close(a, b) for r, w in zip(sorted(rows, key=key), sorted(w_rows, key=key))
               for a, b in zip(r, w))


def _arg_end(sql: str, i: int) -> int:
    """Index of the ``,`` or ``)`` ending the call argument that starts at
    ``i``."""
    depth, quoted = 0, False
    while i < len(sql):
        c = sql[i]
        if quoted:
            quoted = c != "'"
        elif c == "'":
            quoted = True
        elif depth == 0 and c in ",)":
            return i
        elif c == "(":
            depth += 1
        elif c == ")":
            depth -= 1
        i += 1
    return i


def hook_rounds(sql: str) -> str:
    """``sql`` with every ``round(x[, d])`` outside a string literal
    rewritten to ``round(HOOK_FN(x, d)[, d])``."""
    literals = [m.span() for m in re.finditer(r"'(?:[^']|'')*'", sql)]
    edits = []
    for m in re.finditer(r"(?i)\bround\s*\(", sql):
        if any(a <= m.start() < b for a, b in literals):
            continue
        end = _arg_end(sql, m.end())
        digits = sql[end + 1:_arg_end(sql, end + 1)].strip() if sql[end:end + 1] == "," else "0"
        edits += [(m.end(), f"{HOOK_FN}("), (end, f", {digits})")]
    for pos, text in sorted(edits, reverse=True):
        sql = sql[:pos] + text + sql[pos:]
    return sql


class TieHook:
    """The oracle's hook on every round() argument (see ``hook_rounds``).
    With ``mask`` None it records the arguments that sit on an exact
    decimal tie, within the summation-order noise of ``TIE_ULPS`` ulps;
    otherwise it moves the j-th recorded tie (in ``ties``) past the tie,
    up when bit j of ``mask`` is set and down when not."""

    def __init__(self) -> None:
        self.found: set = set()
        self.ties: list = []
        self.mask: int | None = None

    def __call__(self, x: float, digits: int) -> float:
        scaled = x * 10.0 ** digits
        window = TIE_ULPS * math.ulp(scaled)
        if not math.isfinite(scaled) or abs(scaled - math.floor(scaled) - 0.5) > window:
            return x
        key = (math.floor(scaled), digits)
        if self.mask is None:
            self.found.add(key)
            return x
        if key not in self.ties:
            return x
        up = self.mask >> self.ties.index(key) & 1
        return (key[0] + 0.5 + (2 * window if up else -2 * window)) / 10.0 ** digits


def _oracle_con(sf_dir: str, hook: TieHook | None = None):
    import duckdb
    from duckdb.typing import DOUBLE, INTEGER

    con = duckdb.connect()
    for f in sorted(os.listdir(sf_dir)):
        if f.endswith(".parquet"):
            con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM '{os.path.join(sf_dir, f)}'")
    if hook is not None:
        con.create_function(HOOK_FN, hook, [DOUBLE, INTEGER], DOUBLE, side_effects=True)
    return con


def oracle_results(sf_dir: str, names) -> dict[str, tuple]:
    """Canonical DuckDB oracle results of the gates ``names``."""
    import __spark_entry__ as entry

    sql = entry.oracle_sql()
    con = _oracle_con(sf_dir)
    out = {name: canonical(con.sql(sql[name]).df()) for name in names if name in sql}
    con.close()
    return out


def tie_match(sf_dir: str, sql: str, got) -> bool:
    """Whether ``got`` is the result of the oracle ``sql`` for some way of
    breaking the exact decimal ties its round() calls meet: the two
    engines' summation orders leave such a tie's double on either side of
    it. Tries every way when there are at most ``MAX_TIES`` ties."""
    hook = TieHook()
    con = _oracle_con(sf_dir, hook)
    sql = hook_rounds(sql)
    con.sql(sql).fetchall()
    hook.ties = sorted(hook.found)
    matched = False
    if 0 < len(hook.ties) <= MAX_TIES:
        for hook.mask in range(2 ** len(hook.ties)):
            if same_result(got, canonical(con.sql(sql).df())):
                matched = True
                break
    con.close()
    return matched


def check(sf_dir: str, got: dict) -> tuple[list, list]:
    """``(mismatches, ties)`` of the gate results ``got`` against DuckDB. A
    mismatch that ``tie_match`` explains counts as a match and is listed
    in ``ties``."""
    import __spark_entry__ as entry

    sql = entry.oracle_sql()
    oracle = oracle_results(sf_dir, sorted(got))
    bad = [n for n in sorted(got) if n not in oracle or not same_result(got[n], oracle[n])]
    ties = [n for n in bad if n in sql and tie_match(sf_dir, sql[n], got[n])]
    return [n for n in bad if n not in ties], ties


def _warm_up(spark, sf_dir: str) -> None:
    """One of each action shape the gates use: scan, exchange, join and a
    Python stage, so the first timed gate is not the one paying for it."""
    li = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))
    orders = spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))
    li.groupBy("l_returnflag").count().toPandas()
    li.join(orders, li.l_orderkey == orders.o_orderkey).groupBy("o_orderstatus").count().toPandas()
    spark.range(1000).repartition(4).mapInPandas(lambda it: it, "id long").toPandas()


def gate_suite(ctx) -> dict:
    sf_dir = os.path.join(ctx.work, "gates")
    counts = gen.write_gate_tables(ctx.seed, sf_dir, GATE_SCALE)
    rss = procs.RssSampler(os.getpid())
    t_setup = time.perf_counter()

    import __spark_entry__ as entry
    from quackpipe_spark.session import get_spark
    from quackpipe_spark.workloads import all_prebuilds
    from quackpipe_spark.workloads import curation, dataflow, llm_ops, sql_surface, timeseries

    spark = get_spark(app_name="perfbench_gate_suite")
    spark.sparkContext.setLogLevel("ERROR")
    queries = entry.queries()
    t_session = time.perf_counter()
    for hook in all_prebuilds().values():
        hook(spark, sf_dir)
    t_prebuild = time.perf_counter()
    _warm_up(spark, sf_dir)
    setup_s = time.perf_counter() - t_setup
    setup_parts = {"session_s": t_session - t_setup, "prebuild_s": t_prebuild - t_session,
                   "warm_up_s": t_setup + setup_s - t_prebuild}
    floor_start = sparkprof.floor_ms(spark)

    family = {}
    for fam, mod in zip(FAMILIES, (sql_surface, llm_ops, curation, timeseries, dataflow)):
        family.update({name: fam for name in mod.QUERIES})
    order = sorted(queries)

    tracker = spark.sparkContext.statusTracker()
    gates: dict[str, dict] = {}
    for name in order:
        rec = gates[name] = {"family": family.get(name, "other"), "ok": True}
        if ctx.trace:
            spark.sparkContext.setJobGroup(name, "gate")
        try:
            t0 = time.perf_counter()
            df = queries[name](spark, sf_dir)
            t1 = time.perf_counter()
            pdf = df.toPandas()
            t2 = time.perf_counter()
        except Exception as e:  # a failed gate is a failed operation
            rec.update(ok=False, error=f"{type(e).__name__}: {e}"[:300])
            continue
        rec.update(build_ms=(t1 - t0) * 1e3, action_ms=(t2 - t1) * 1e3,
                   ms=(t2 - t0) * 1e3, pdf=pdf)
        if ctx.trace:
            try:
                rec["spark"] = sparkprof.profile(df)
                rec["spark"]["jobs"] = len(tracker.getJobIdsForGroup(name))
            except Exception as e:
                rec["spark"] = {"error": f"{type(e).__name__}: {e}"}
    floor_end = sparkprof.floor_ms(spark)
    context = sparkprof.session_context(spark)
    jvm = [p for p in procs.tree(os.getpid()) if p != os.getpid()]
    peak = rss.stop()
    sparkprof.stop_session(spark)
    procs.wait_gone(jvm, 30)

    # correctness, outside every timed window
    t_check = time.perf_counter()
    mismatches, ties = check(sf_dir, {n: canonical(r.pop("pdf")) for n, r in gates.items()
                                      if r["ok"]})
    check_s = time.perf_counter() - t_check
    done = [r for r in gates.values() if r["ok"]]
    times = [r["ms"] for r in done]
    suite_s = sum(times) / 1e3
    g_tail = tail(times)
    report = {
        "suite_s": (suite_s, "s"),
        "suite_geomean_ms": (geomean(times), "ms"),
        "gate_p50_ms": (median(times), "ms"),
        "gate_tail_ms": (g_tail[1], "ms"),
        "gate_tail_pct": (g_tail[0], "pct"),
        "gates_timed": (len(times), "count"),
    }
    for fam in FAMILIES:
        report[f"{fam}_s"] = (sum(r["ms"] for r in done if r["family"] == fam) / 1e3, "s")
    return {
        "setup_s": setup_s, "peak_rss_mb": peak,
        "latency_ms": geomean(times),
        "throughput_per_s": len(times) / suite_s,
        "attempted": len(gates), "failed": len(gates) - len(done),
        "checks": {f"oracle.{n}": n not in mismatches for n in sorted(gates) if gates[n]["ok"]},
        "report": report,
        "engine": {"context": context, "floor_ms_start": floor_start, "floor_ms_end": floor_end,
                   "rss_peaks_mb": rss.peaks_mb()},
        "gates": gates,
        "input": {"rows": counts,
                  "errors": {n: r["error"] for n, r in gates.items() if not r["ok"]},
                  "mismatches": mismatches, "tie_matches": ties, "check_s": check_s,
                  "setup": setup_parts},
    }
