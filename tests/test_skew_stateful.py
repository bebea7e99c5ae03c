"""Salted-join equivalence + stateful streaming operator."""

from __future__ import annotations

import time

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_DIR


def test_ntz_event_time_timezone_independent(spark):
    """Naive (NTZ) event times must mean UTC under ANY session timezone —
    the calendar-pure conversion never consults the zone, so neither a
    non-UTC session nor a tz change after plan construction shifts event
    times or window boundaries. Includes a DST spring-forward-gap wall
    time, which even timestampdiff-based conversions shift by +1h."""
    from quackpipe_spark.streaming.ingest import _event_time

    df = spark.sql(
        "SELECT TIMESTAMP_NTZ '2021-01-01 00:00:00' AS ts"
        " UNION ALL SELECT TIMESTAMP_NTZ '2023-03-12 02:30:00.123456'"
    )
    want = {1609459200000000, 1678588200123456}
    old = spark.conf.get("spark.sql.session.timeZone")
    try:
        spark.conf.set("spark.sql.session.timeZone", "America/New_York")
        got = {
            r["us"]
            for r in df.select(
                F.unix_micros(_event_time(df, "ts")).alias("us")
            ).collect()
        }
        # unix_micros reads an instant — tz-independent — so comparing
        # under the non-UTC session is valid
        assert got == want
    finally:
        spark.conf.set("spark.sql.session.timeZone", old)
    got = {
        r["us"]
        for r in df.select(F.unix_micros(_event_time(df, "ts")).alias("us")).collect()
    }
    assert got == want


def test_salted_join_matches_plain_join(spark):
    from quackpipe_spark.operators.skew import salted_join

    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet").select(
        "l_orderkey", "l_suppkey", "l_quantity"
    )
    sup = spark.read.parquet(f"{SF_DIR}/supplier.parquet")
    plain = (
        li.join(sup, li.l_suppkey == sup.s_suppkey)
        .groupBy("s_name")
        .agg(F.count("*").alias("n"), F.round(F.sum("l_quantity"), 2).alias("q"))
    )
    li2 = li.withColumnRenamed("l_suppkey", "s_suppkey")
    salted = (
        __import__("quackpipe_spark.operators.skew", fromlist=["salted_join"])
        .salted_join(li2, sup, key="s_suppkey", salt=8)
        .groupBy("s_name")
        .agg(F.count("*").alias("n"), F.round(F.sum("l_quantity"), 2).alias("q"))
    )
    assert sorted(map(tuple, plain.collect())) == sorted(map(tuple, salted.collect()))


def test_salted_left_join_keeps_unmatched(spark):
    from quackpipe_spark.operators.skew import salted_join

    big = spark.createDataFrame([(1, "a"), (2, "b"), (99, "zz")], "k int, v string")
    small = spark.createDataFrame([(1, "one"), (2, "two")], "k int, name string")
    out = {tuple(r) for r in salted_join(big, small, key="k", salt=4, how="left").collect()}
    assert (99, "zz", None) in out
    assert (1, "a", "one") in out and len(out) == 3


def test_stateful_running_totals_across_batches(spark, tmp_path):
    from quackpipe_spark.streaming.stateful import running_totals

    src = tmp_path / "stream_src"
    src.mkdir()
    (src / "b1.json").write_text(
        '{"user_id": 1, "value": 10.0}\n{"user_id": 1, "value": 5.0}\n{"user_id": 2, "value": 1.0}\n'
    )
    stream = (
        spark.readStream.schema("user_id long, value double")
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    out = running_totals(stream)
    q = (
        out.writeStream.format("memory")
        .queryName("running_totals_test")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        # second batch arrives later → state must carry over
        (src / "b2.json").write_text(
            '{"user_id": 1, "value": 2.0}\n{"user_id": 3, "value": 7.0}\n'
        )
        q.processAllAvailable()
        rows = spark.sql("SELECT * FROM running_totals_test").collect()
    finally:
        q.stop()
    latest = {}
    for r in rows:  # update mode appends per batch; keep the last per user
        latest[r["user_id"]] = (r["n"], r["total"])
    assert latest[1] == (3, 17.0)  # 10+5 in b1, +2 in b2 — state carried
    assert latest[2] == (1, 1.0)
    assert latest[3] == (1, 7.0)


def test_streaming_exact_dedup_across_batches(spark, tmp_path):
    """Cross-batch dedup state: a text re-sent in a later batch must NOT
    be new, its copy count must accumulate, and the survivor must be the
    smallest id across ALL batches — identical semantics to the batch
    exact_dedup on the concatenated stream."""
    import json

    from quackpipe_spark.streaming.stateful import streaming_exact_dedup

    src = tmp_path / "dedup_src"
    src.mkdir()
    b1 = [(10, "alpha"), (11, "beta"), (12, "alpha")]
    b2 = [(5, "alpha"), (13, "gamma"), (14, "beta")]
    (src / "b1.json").write_text(
        "\n".join(json.dumps({"doc_id": i, "text": t}) for i, t in b1)
    )
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    out = streaming_exact_dedup(stream)
    q = (
        out.writeStream.format("memory")
        .queryName("stream_dedup_test")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "dedup_ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        first = {
            r["fingerprint"]: r
            for r in spark.sql("SELECT * FROM stream_dedup_test").collect()
        }
        assert all(r["is_new"] for r in first.values())
        (src / "b2.json").write_text(
            "\n".join(json.dumps({"doc_id": i, "text": t}) for i, t in b2)
        )
        q.processAllAvailable()
        rows = spark.sql("SELECT * FROM stream_dedup_test").collect()
    finally:
        q.stop()

    import hashlib

    fp = lambda t: hashlib.md5(t.encode()).hexdigest()
    latest = {}
    for r in rows:  # keep the last update per fingerprint
        latest[r["fingerprint"]] = (r["keep_id"], r["n_copies"], r["is_new"])
    # alpha: ids 10,12 in b1, then 5 in b2 → survivor 5, 3 copies, not new
    assert latest[fp("alpha")] == (5, 3, False)
    # beta re-sent in b2 → 2 copies, survivor 11, not new
    assert latest[fp("beta")] == (11, 2, False)
    # gamma first seen in b2 → new
    assert latest[fp("gamma")] == (13, 1, True)

    # batch-parity: same corpus through the batch operator → same triples
    from quackpipe_spark.operators.dedup import exact_dedup

    batch = exact_dedup(
        spark.createDataFrame(b1 + b2, "doc_id long, text string")
    ).collect()
    batch_map = {r["fingerprint"]: (r["keep_id"], r["n_copies"]) for r in batch}
    assert {k: v[:2] for k, v in latest.items()} == batch_map


def test_integral_batch_min_of_empty_chunk(spark):
    """An empty pandas chunk has no survivor: None, like the string path,
    not min()'s opaque ValueError."""
    import pandas as pd

    from quackpipe_spark.streaming.stateful import _id_codec

    docs = spark.createDataFrame([], "doc_id long, text string")
    _expr, _type, batch_min_of, batch_ids_of = _id_codec(docs, "doc_id")
    null_id = (1 << 63) - 1
    empty = pd.DataFrame({"_id": pd.Series([], dtype="int64")})
    assert batch_min_of(empty) is None
    assert batch_ids_of(empty) == []
    assert batch_min_of(pd.DataFrame({"_id": [null_id]})) is None
    assert batch_min_of(pd.DataFrame({"_id": [null_id, 7, 3]})) == 3


@pytest.mark.parametrize("safe_cast", ["false", "true"])
def test_streaming_exact_dedup_null_keep_id_row(spark, tmp_path, safe_cast):
    """A group whose every id is NULL emits keep_id=None, is_new=True from
    an object-dtype pandas frame: Spark's pandas→Arrow writer must cast
    each object cell (None, python int, bool, str) to the declared LONG /
    BOOLEAN / STRING output types, also with
    convertToArrowArraySafely on."""
    import hashlib

    from quackpipe_spark.streaming.stateful import streaming_exact_dedup

    conf = "spark.sql.execution.pandas.convertToArrowArraySafely"
    prev = spark.conf.get(conf)
    spark.conf.set(conf, safe_cast)
    src = tmp_path / "null_id_src"
    src.mkdir()
    (src / "b1.json").write_text(
        '{"doc_id": null, "text": "orphan"}\n{"doc_id": 4, "text": "kept"}\n'
    )
    stream = spark.readStream.schema("doc_id long, text string").json(str(src))
    name = f"null_keep_id_{safe_cast}"
    q = (
        streaming_exact_dedup(stream)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        rows = spark.sql(f"SELECT * FROM {name}").collect()
    finally:
        q.stop()
        spark.conf.set(conf, prev)
    fp = lambda t: hashlib.md5(t.encode()).hexdigest()
    got = {r["fingerprint"]: (r["keep_id"], r["n_copies"], r["is_new"]) for r in rows}
    assert got == {fp("orphan"): (None, 1, True), fp("kept"): (4, 1, True)}


def test_streaming_exact_dedup_string_ids(spark, tmp_path):
    """String doc ids: survivors are the lexicographic min (same semantics
    as the batch operator's F.min), not silently-NULLed casts."""
    import hashlib
    import json

    import pytest

    from quackpipe_spark.streaming.stateful import streaming_exact_dedup

    src = tmp_path / "sdd_src"
    src.mkdir()
    rows = [("doc-b", "alpha"), ("doc-a", "alpha"), ("doc-c", "beta")]
    (src / "b1.json").write_text(
        "\n".join(json.dumps({"doc_id": i, "text": t}) for i, t in rows)
    )
    stream = (
        spark.readStream.schema("doc_id string, text string")
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    q = (
        streaming_exact_dedup(stream)
        .writeStream.format("memory")
        .queryName("sdd_test")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "sdd_ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        got = {
            r["fingerprint"]: (r["keep_id"], r["n_copies"])
            for r in spark.sql("SELECT * FROM sdd_test").collect()
        }
    finally:
        q.stop()
    fp = lambda t: hashlib.md5(t.encode()).hexdigest()
    assert got[fp("alpha")] == ("doc-a", 2)
    assert got[fp("beta")] == ("doc-c", 1)
    # unsupported id types reject loudly instead of nulling survivors
    bad = spark.createDataFrame([(1.5, "x")], "doc_id double, text string")
    with pytest.raises(TypeError, match="integral or string"):
        streaming_exact_dedup(bad)


def test_running_totals_string_key(spark, tmp_path):
    """The output schema derives from the key column — string keys work
    and keep their name (the old hardcoded 'user_id LONG' crashed)."""
    import json

    from quackpipe_spark.streaming.stateful import running_totals

    src = tmp_path / "rt_src"
    src.mkdir()
    (src / "b1.json").write_text(
        "\n".join(
            json.dumps({"host": h, "value": v})
            for h, v in [("db-01", 2.0), ("db-01", 3.0), ("web-01", 1.0)]
        )
    )
    stream = (
        spark.readStream.schema("host string, value double")
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    q = (
        running_totals(stream, key_col="host")
        .writeStream.format("memory")
        .queryName("rt_str_test")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "rt_str_ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        got = {
            r["host"]: (r["n"], r["total"])
            for r in spark.sql("SELECT * FROM rt_str_test").collect()
        }
    finally:
        q.stop()
    assert got == {"db-01": (2, 5.0), "web-01": (1, 1.0)}
