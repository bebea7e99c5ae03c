"""Spark-side readings taken after an action, outside any timed window:
QueryPlanningTracker phase times and the executed plan's SQL metrics,
plus the fixed per-action floor and the session context."""

from __future__ import annotations

import time

from perfbench.stats import median

# SQL metric name -> profile key; values are summed over the plan's nodes
_METRICS = {
    "scanTime": "scan_ms",
    "shuffleWriteTime": "shuffle_write_ms",
    "aggTime": "agg_ms",
    "pythonBootTime": "python_ms",
    "pythonInitTime": "python_ms",
    "pythonTotalTime": "python_ms",
}


def _seq(s) -> list:
    return [s.apply(i) for i in range(s.size())]


def _walk(node, out: dict) -> None:
    name = node.nodeName()
    if name == "AdaptiveSparkPlan":
        _walk(node.executedPlan(), out)
        return
    it = node.metrics().iterator()
    while it.hasNext():
        kv = it.next()
        key = _METRICS.get(kv._1())
        if key is not None:
            m = kv._2()
            v = float(m.value())
            out[key] = out.get(key, 0.0) + (v / 1e6 if m.metricType() == "nsTiming" else v)
    if "QueryStage" in name:
        _walk(node.plan(), out)
    elif name == "ReusedExchange":
        _walk(node.child(), out)
    for child in _seq(node.children()):
        _walk(child, out)


def profile(df) -> dict[str, float]:
    """Planning time and per-operator SQL metrics (ms) of ``df``'s last
    execution. Metrics accumulate over re-executions of one DataFrame."""
    qe = df._jdf.queryExecution()
    out = {k: 0.0 for k in set(_METRICS.values())}
    phases = qe.tracker().phases()
    it = phases.iterator()
    planning = 0.0
    while it.hasNext():
        planning += float(it.next()._2().durationMs())
    out["planning_ms"] = planning
    _walk(qe.executedPlan(), out)
    return out


def floor_ms(spark, reps: int = 5) -> float:
    """Median wall time of a trivial one-job action."""
    df = spark.range(100).selectExpr("sum(id) AS s")
    times = []
    for _ in range(reps):
        t0 = time.perf_counter()
        df.collect()
        times.append((time.perf_counter() - t0) * 1e3)
    return median(times)


def session_context(spark) -> dict:
    sc = spark.sparkContext
    return {
        "defaultParallelism": sc.defaultParallelism,
        "master": sc.master,
        "driver_memory": sc.getConf().get("spark.driver.memory", "unset"),
        "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
    }


def stop_session(spark) -> None:
    """Stops the session and its JVM, and waits for the JVM to exit."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        gw.shutdown()
        if getattr(gw, "proc", None) is not None:
            gw.proc.stdin.close()
            gw.proc.wait(60)
