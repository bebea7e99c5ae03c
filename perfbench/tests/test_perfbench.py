"""The benchmark's own tests: seeded generators are deterministic, the tail
rule picks the right percentile, and span self-time arithmetic is exact.

    python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))))

from perfbench import gen  # noqa: E402
from perfbench.stats import pct, tail  # noqa: E402
from perfbench.trace import Tracer, covered, self_by_layer, self_times  # noqa: E402

ANCHOR = 1_760_000_000 * gen.NS // gen.HOUR_NS * gen.HOUR_NS


def test_lp_bodies_are_byte_identical_per_seed():
    a = gen.lp_body(7, 3, 2000, 10**18)
    assert a == gen.lp_body(7, 3, 2000, 10**18)
    assert a != gen.lp_body(8, 3, 2000, 10**18)
    assert a != gen.lp_body(7, 4, 2000, 10**18)
    assert a.count(b"\n") == 2000


@pytest.mark.parametrize("seed", [0, 7, 1794349156, 2**32 - 1, 2**63 - 1])
def test_bulk_timestamps_stay_in_int64_ns_for_any_seed(seed):
    t0 = gen.bulk_t0_ns(seed)
    assert t0 == gen.bulk_t0_ns(seed)
    last = max(int(ln.rsplit(b" ", 1)[1]) for ln in gen.lp_body(seed, 3, 15_000, t0 + 3 * gen.NS)
               .splitlines())
    assert 1_700_000_000 * gen.NS <= t0 < last < 2**63


def test_lp_bodies_parse_with_the_declared_properties():
    from quackpipe_spark.sources.lineproto import parse_lines

    body = gen.lp_body(5, 0, 5000, 10**18, extra_share=0.5)
    lines = body.decode().splitlines()
    escaped = sum("\\" in ln for ln in lines) / len(lines)
    assert 0.01 < escaped < 0.06
    batches = parse_lines(body.decode(), database="b")
    assert sum(len(next(iter(b.data.values()))) for b in batches) == 5000
    cols = set().union(*(b.data for b in batches if b.table == "cpu"))
    assert cols & set(gen.EXTRA_FIELDS), "schema union needs an extra field"
    assert {b.table for b in batches} == {"cpu", "mem"}


def test_panel_texts_are_identical_per_seed_and_only_repeat_texts_repeat():
    texts = [gen.panel_sql(3, ANCHOR, 24, i) for i in range(300)]
    assert texts == [gen.panel_sql(3, ANCHOR, 24, i) for i in range(300)]
    assert texts != [gen.panel_sql(4, ANCHOR, 24, i) for i in range(300)]
    by_cls: dict[str, list[str]] = {}
    for cls, sql in texts:
        by_cls.setdefault(cls, []).append(sql)
    assert set(by_cls) == {name for name, _w in gen.PANEL_MIX}
    assert len(set(by_cls["range"])) == len(by_cls["range"])
    assert len(set(by_cls["recent"])) == len(by_cls["recent"])
    assert len(set(by_cls["repeat"])) <= gen.REPEAT_TEXTS
    assert len(set(by_cls["scan"])) == len(by_cls["scan"])


def test_panel_schedule_has_the_declared_mix():
    n = len(gen.PANEL_SCHEDULE)
    assert {c: gen.PANEL_SCHEDULE.count(c) / n for c, _w in gen.PANEL_MIX} == dict(gen.PANEL_MIX)


def test_preload_columns_are_identical_per_seed_and_inside_the_window():
    a = gen.preload_columns(2, ANCHOR, 6, 50, 0)
    assert a == gen.preload_columns(2, ANCHOR, 6, 50, 0)
    assert a != gen.preload_columns(2, ANCHOR, 6, 50, 1)
    ts = a["__timestamp"]
    assert len(ts) == 300 and ANCHOR - 6 * gen.HOUR_NS <= min(ts) and max(ts) < ANCHOR


def test_gate_tables_are_byte_identical_per_seed(tmp_path):
    a, b, c = tmp_path / "a", tmp_path / "b", tmp_path / "c"
    counts = gen.write_gate_tables(9, str(a), 0.05)
    gen.write_gate_tables(9, str(b), 0.05)
    gen.write_gate_tables(10, str(c), 0.05)
    assert len(counts) == 10
    for name in counts:
        fa = (a / f"{name}.parquet").read_bytes()
        assert fa == (b / f"{name}.parquet").read_bytes()
    assert (a / "lineitem.parquet").read_bytes() != (c / "lineitem.parquet").read_bytes()


@pytest.mark.parametrize(
    "n, want",
    [(1, 50.0), (19, 50.0), (20, 50.0), (39, 50.0), (40, 75.0), (99, 75.0),
     (100, 90.0), (199, 90.0), (200, 95.0), (1000, 99.0), (10_000, 99.9)],
)
def test_tail_is_the_highest_percentile_with_ten_samples_beyond(n, want):
    p, value, count = tail(list(range(n)))
    assert (p, count) == (want, n)
    assert value == pct(list(range(n)), want)


def test_percentile_interpolates():
    assert pct([1, 2, 3, 4], 50) == 2.5
    assert pct([5], 99) == 5
    assert pct([3, 1, 2], 0) == 1 and pct([3, 1, 2], 100) == 3


def test_covered_merges_overlaps_and_clips():
    assert covered(0, 10, []) == 0
    assert covered(0, 10, [(1, 3), (2, 5), (7, 8)]) == 5
    assert covered(0, 10, [(-5, 2), (9, 20)]) == 3
    assert covered(0, 10, [(11, 12)]) == 0


def test_self_time_subtracts_the_union_of_direct_children():
    # the two query spans overlap: the root loses their union, not the sum
    spans = [
        (1, None, "api.request", 0.0, 10.0, "r1", None),
        (2, 1, "query.sql", 1.0, 3.0, "r1", None),
        (3, 1, "query.exec", 2.0, 5.0, "r1", None),
        (4, 3, "index.load", 2.5, 4.0, "r1", None),
        (5, 1, "index.load", 7.0, 8.0, "r1", None),
    ]
    st = self_times(spans)
    assert st == {1: 5.0, 2: 2.0, 3: 1.5, 4: 1.5, 5: 1.0}
    assert self_by_layer(spans) == {"api": 5.0, "query": 3.5, "index": 2.5}


class _Thing:
    def method(self, x):
        return self.helper(x) + 1

    def helper(self, x):
        return x * 2

    @classmethod
    def make(cls, x):
        return x

    def boom(self):
        raise KeyError("x")


def test_wrapped_calls_nest_and_record_errors():
    tr = Tracer()
    tr.wrap(_Thing, "method", "layer.method")
    tr.wrap(_Thing, "helper", "layer.helper", after=lambda at, a, k, out: at.update(out=out))
    tr.wrap(_Thing, "make", "layer.make")
    tr.wrap(_Thing, "boom", "layer.boom")
    tr.request = "req-1"
    t = _Thing()
    assert t.method(2) == 5 and _Thing.make(3) == 3
    with pytest.raises(KeyError):
        t.boom()
    spans = {s[2]: s for s in tr.spans}
    assert spans["layer.helper"][1] == spans["layer.method"][0]
    assert spans["layer.helper"][6] == {"out": 4}
    assert spans["layer.make"][1] is None
    assert spans["layer.boom"][6] == {"error": "KeyError"}
    assert {s[5] for s in tr.spans} == {"req-1"}
    tr.enabled = False
    t.method(1)
    assert len(tr.spans) == 4


def test_metric_names_and_units_match_benchmark_json():
    import json

    from perfbench import layers, run

    root = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == layers.UNITS


def test_oracle_comparison_ignores_order_but_not_values():
    import pandas as pd

    from perfbench.suite import canonical, same_result

    a = pd.DataFrame({
        "k": [1, 2], "s": ["x", None],
        "d": pd.to_datetime(["2024-01-01 00:00", "2024-01-02 03:00"]),
    })

    def same(x, y):
        return same_result(canonical(x), canonical(y))

    assert same(a, a.iloc[::-1][["d", "s", "k"]])
    assert same(a, a.assign(k=[1.0, 2.0]))
    assert not same(a, a.assign(s=["x", "None"]))
    assert not same(a, a.assign(k=[1, 3]))
    assert not same(a, a.iloc[:1])


def test_oracle_comparison_tolerates_summation_order_only():
    import pandas as pd

    from perfbench.suite import canonical, same_result

    def same(x, y):
        return same_result(canonical(pd.DataFrame(x)), canonical(pd.DataFrame(y)))

    assert same({"v": [0.1 + 0.2]}, {"v": [0.3]})
    assert same({"n": ["a", "b"], "v": [1.5, 0.1 + 0.2]}, {"n": ["b", "a"], "v": [0.3, 1.5]})
    assert not same({"v": [1.23]}, {"v": [1.24]})
    assert not same({"v": [2.0]}, {"v": [3.0]})
    assert not same({"v": [None]}, {"v": [1.5]})


def test_hook_wraps_every_round_argument_outside_literals():
    from perfbench.suite import HOOK_FN, hook_rounds

    sql = "SELECT ROUND(avg(f(a, b)), 2), round(x), 'round(1, 2)' AS s, round(round(y, 1) * 2, 0)"
    want = (f"SELECT ROUND({HOOK_FN}(avg(f(a, b)), 2), 2), round({HOOK_FN}(x, 0)), "
            "'round(1, 2)' AS s, "
            f"round({HOOK_FN}(round({HOOK_FN}(y, 1), 1) * 2, 0), 0)")
    assert hook_rounds(sql) == want
    assert hook_rounds("SELECT 1") == "SELECT 1"


def test_tie_hook_breaks_each_exact_tie_both_ways_and_nothing_else():
    import duckdb
    from duckdb.typing import DOUBLE, INTEGER

    from perfbench.suite import HOOK_FN, TieHook, hook_rounds

    # avg(1.00, 1.01) and avg(-2.00, -2.01) are decimal ties; 1.0049 is not
    sql = hook_rounds(
        "SELECT round(avg(v), 2) AS a, round(avg(w), 2) AS b, round(1.0049, 2) AS c "
        "FROM (SELECT CAST(v AS DOUBLE) v, CAST(w AS DOUBLE) w "
        "FROM (VALUES (1.0, -2.0), (1.01, -2.01)) t(v, w))")
    hook = TieHook()
    con = duckdb.connect()
    con.create_function(HOOK_FN, hook, [DOUBLE, INTEGER], DOUBLE, side_effects=True)
    con.sql(sql).fetchall()
    hook.ties = sorted(hook.found)
    assert len(hook.ties) == 2
    seen = set()
    for hook.mask in range(4):
        seen.add(con.sql(sql).fetchone())
    assert seen == {(a, b, 1.0) for a in (1.0, 1.01) for b in (-2.0, -2.01)}
