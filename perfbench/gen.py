"""Seeded input generators. Every function here is a pure function of its
arguments: the same seed (and anchor) gives byte-identical output.

- ``lp_body``: an influx line-protocol body for the ingest door;
- ``preload_columns``: columnar rows for the dashboard store;
- ``panel_sql``: the dashboard's SQL texts by panel class;
- ``write_gate_tables``: the ten parquet tables the 50 gates read.
"""

from __future__ import annotations

import json
import random

NS = 1_000_000_000
HOUR_NS = 3600 * NS

REGIONS = ["us-east", "us-west", "eu-central", "ap-south", "sa-east"]
STATUSES = ["ok", "warn", "crit", "idle"]
# each field name keeps one type across every body: a conflict would be a
# rejected write, not load
EXTRA_FIELDS = ["load1", "load5", "load15", "temp_c"]


def rng_for(seed: int, *salt) -> random.Random:
    return random.Random(f"{seed}:" + ":".join(map(str, salt)))


def host_names(seed: int) -> list[str]:
    """Seeded tag cardinality: 80 to 120 hosts. The ``recent`` panel
    returns a row per host, so a wider range makes the seed, not the
    engine, set much of that panel's latency."""
    r = rng_for(seed, "hosts")
    return [f"h{i:03d}" for i in range(r.randint(80, 120))]


def bulk_t0_ns(seed: int) -> int:
    """Base timestamp of the bulk bodies: a seeded whole hour of 2023-24.
    Any seed, however large, keeps every line's timestamp in int64 ns."""
    return 1_700_000_000 * NS + rng_for(seed, "bulk").randrange(8760) * HOUR_NS


def _esc_tag(v: str) -> str:
    return v.replace(",", "\\,").replace(" ", "\\ ").replace("=", "\\=")


def lp_body(
    seed: int, idx: int, n_lines: int, t0_ns: int, mem_share: float = 0.3, block: int = 500,
    extra_share: float = 0.1,
) -> bytes:
    """Body ``idx``: ``n_lines`` lines in blocks of ``block`` lines, each
    block one measurement as a collecting agent would send them: ``cpu``
    (float, integer ``i``, string and bool fields) or, for a ``mem_share``
    of blocks, ``mem``. An ``extra_share`` of ``cpu`` blocks adds an extra
    field (schema union); about 3% of lines need escaping."""
    r = rng_for(seed, "lp", idx)
    hosts = host_names(seed)
    out = []
    for b0 in range(0, n_lines, block):
        is_mem = r.random() < mem_share
        extra = r.choice(EXTRA_FIELDS) if not is_mem and r.random() < extra_share else None
        for k in range(b0, min(b0 + block, n_lines)):
            host = r.choice(hosts)
            status = r.choice(STATUSES)
            if r.random() < 0.03:
                host = f"{host} rack,{r.randint(1, 9)}"
                status = f'say \\"{status}\\" now'
            tags = f"host={_esc_tag(host)},region={r.choice(REGIONS)}"
            ts = t0_ns + k * 1000
            if is_mem:
                out.append(
                    f"mem,{tags} free={r.randint(0, 1 << 34)}i,"
                    f"used_pct={r.random() * 100:.2f} {ts}"
                )
                continue
            fields = (
                f"usage={r.random() * 100:.3f},procs={r.randint(1, 500)}i,"
                f'status="{status}",up={"true" if r.random() < 0.9 else "false"}'
            )
            if extra:
                fields += f",{extra}={r.random() * 10:.2f}"
            out.append(f"cpu,{tags} {fields} {ts}")
    return ("\n".join(out) + "\n").encode()


def preload_columns(seed: int, anchor_ns: int, hours: int, rows_per_hour: int, part: int):
    """One columnar slice (``part`` of several) of the dashboard store:
    ``rows_per_hour`` rows in each of the ``hours`` full hours before
    ``anchor_ns``, with an explicit ``__timestamp``."""
    r = rng_for(seed, "preload", part)
    hosts = host_names(seed)
    cols: dict[str, list] = {
        "__timestamp": [], "host": [], "region": [], "usage": [], "procs": [],
        "status": [], "up": [],
    }
    for h in range(hours):
        base = anchor_ns - (h + 1) * HOUR_NS
        for _ in range(rows_per_hour):
            cols["__timestamp"].append(base + r.randrange(HOUR_NS))
            cols["host"].append(r.choice(hosts))
            cols["region"].append(r.choice(REGIONS))
            cols["usage"].append(round(r.random() * 100, 3))
            cols["procs"].append(r.randint(1, 500))
            cols["status"].append(r.choice(STATUSES))
            cols["up"].append(r.random() < 0.9)
    return cols


def recent_sql(anchor_ns: int, idx: int) -> str:
    """Panel ``idx`` of the ``recent`` class: the last ~10 minutes, with a
    literal lower bound that moves 1 ms per panel, as a dashboard's
    clock-derived bounds move on every refresh."""
    lo = anchor_ns - 600 * NS + idx * (NS // 1000)
    return (
        "SELECT host, count(*) AS n, avg(usage) AS u FROM cpu "
        f"WHERE __timestamp >= {lo} GROUP BY host ORDER BY host"
    )


def scan_sql(anchor_ns: int, idx: int) -> str:
    """Panel ``idx`` of the ``scan`` class: a group-by over the last 7
    days, which is the whole store, with a lower bound that moves 1 ms per
    panel like ``recent``'s. A text of its own per panel misses the plan
    cache whether or not a flush landed since the previous scan."""
    lo = anchor_ns - 7 * 24 * HOUR_NS + idx * (NS // 1000)
    return (
        "SELECT region, status, count(*) AS n, avg(usage) AS u, max(procs) AS p "
        f"FROM cpu WHERE __timestamp >= {lo} GROUP BY region, status ORDER BY region, status"
    )


def _range_text(lo: int, hi: int, agg: str) -> str:
    return (
        "SELECT toStartOfFiveMinutes(from_epoch_ns(__timestamp)) AS b, region, "
        f"{agg} AS v FROM cpu WHERE __timestamp >= {lo} AND __timestamp < {hi} "
        "GROUP BY b, region ORDER BY b, region"
    )


REPEAT_TEXTS = 4


def repeat_texts(seed: int, anchor_ns: int, hours: int) -> list[str]:
    """A few fixed texts over the older half of the store: they fit the
    engine's 64-entry plan cache, and new writes never touch them."""
    r = rng_for(seed, "repeat")
    aggs = ["avg(usage)", "max(usage)", "count(*)", "sum(procs)"]
    out = []
    for i in range(REPEAT_TEXTS):
        span = r.randint(1, 3) * HOUR_NS
        lo = anchor_ns - r.randint(hours // 2 + 3, hours) * HOUR_NS
        out.append(_range_text(lo, lo + span, aggs[i % len(aggs)]))
    return out


PANEL_MIX = (("recent", 0.25), ("range", 0.25), ("scan", 0.25), ("repeat", 0.25))
# the class of panel i is PANEL_SCHEDULE[i % 4]: every seed runs the same
# mix in the same order, and the seed picks the texts. Equal shares give
# each class's median the same number of samples
PANEL_SCHEDULE = ("recent", "range", "scan", "repeat")


def panel_sql(seed: int, anchor_ns: int, hours: int, idx: int) -> tuple[str, str]:
    """Panel ``idx``: ``(class, sql)``. ``recent``, ``range`` and ``scan``
    texts never repeat."""
    r = rng_for(seed, "panel", idx)
    cls = PANEL_SCHEDULE[idx % len(PANEL_SCHEDULE)]
    if cls == "recent":
        return cls, recent_sql(anchor_ns, idx)
    if cls == "scan":
        return cls, scan_sql(anchor_ns, idx)
    if cls == "repeat":
        return cls, r.choice(repeat_texts(seed, anchor_ns, hours))
    span = r.randint(HOUR_NS, hours * HOUR_NS // 2)
    lo = anchor_ns - r.randint(hours * HOUR_NS // 2, hours * HOUR_NS)
    return cls, _range_text(lo, lo + span, "avg(usage)")


_WORDS = (
    "row the query stream fast spark line small customer group value hash "
    "batch sort data big filter dup key agg scan slow table part a merge "
    "window order column join vector"
).split()


def write_gate_tables(seed: int, out_dir: str, scale: float = 1.0) -> dict[str, int]:
    """The ten gate tables with the column names and types of the TPC-H-ish
    test data the gates are written for; ``scale`` 1.0 is 20k lineitems.
    Returns row counts per table."""
    import os
    from datetime import datetime

    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    g = np.random.default_rng(rng_for(seed, "gates").getrandbits(63))
    n_li = int(20_000 * scale)
    n_ord, n_cust, n_part = n_li // 4, n_li // 40, n_li // 30
    n_supp, n_ev, n_docs, n_emb = max(10, n_li // 500), n_li // 5, 400, 400

    def ts(start: datetime, span_days: int, n: int, unit_s: int):
        secs = g.integers(0, span_days * 86400 // unit_s, n) * unit_s
        base = np.datetime64(start, "us")
        return pa.array(base + secs.astype("timedelta64[s]"), pa.timestamp("us"))

    def choice(vals, n):
        return pa.array([vals[i] for i in g.integers(0, len(vals), n)], pa.string())

    def money(lo, hi, n):
        return pa.array(np.round(g.uniform(lo, hi, n), 2), pa.float64())

    region_names = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
    adjs = ["blue", "hot", "small", "old", "red", "cold", "new", "large"]
    nouns = ["bolt", "gear", "anvil", "ring", "widget", "rod", "plate", "gizmo"]
    texts, langs = [], ["en", "zh", "de", "fr", "es"]
    for i in range(n_docs):
        if i >= 20 and g.random() < 0.15:  # exact and near duplicates
            words = texts[int(g.integers(0, i))].split()
            if g.random() < 0.5:
                words[int(g.integers(0, len(words)))] = _WORDS[int(g.integers(0, len(_WORDS)))]
            texts.append(" ".join(words))
        else:
            k = int(g.integers(10, 100))
            texts.append(" ".join(_WORDS[j] for j in g.integers(0, len(_WORDS), k)))
    emb = g.normal(0, 1, (n_emb, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)

    tables = {
        "region": {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": pa.array(region_names),
        },
        "nation": {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        },
        "customer": {
            "c_custkey": pa.array(range(n_cust), pa.int64()),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
            "c_nationkey": pa.array(g.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": money(-999, 9999, n_cust),
            "c_mktsegment": choice(
                ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_cust
            ),
        },
        "supplier": {
            "s_suppkey": pa.array(range(n_supp), pa.int64()),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
            "s_nationkey": pa.array(g.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": money(-999, 9999, n_supp),
        },
        "part": {
            "p_partkey": pa.array(range(n_part), pa.int64()),
            "p_name": choice([f"{a} {b}" for a in adjs for b in nouns], n_part),
            "p_brand": choice([f"Brand#{i}" for i in range(1, 26)], n_part),
            "p_type": choice(["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"], n_part),
            "p_size": pa.array(g.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": money(900, 2000, n_part),
        },
        "orders": {
            "o_orderkey": pa.array(range(n_ord), pa.int64()),
            "o_custkey": pa.array(g.integers(0, n_cust, n_ord), pa.int64()),
            "o_orderstatus": choice(["F", "O", "P"], n_ord),
            "o_totalprice": money(1000, 500_000, n_ord),
            "o_orderdate": ts(datetime(1995, 1, 1), 2404, n_ord, 86400),
            "o_orderpriority": choice(
                ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord
            ),
        },
        "lineitem": {
            "l_orderkey": pa.array(g.integers(0, n_ord, n_li), pa.int64()),
            "l_partkey": pa.array(g.integers(0, n_part, n_li), pa.int64()),
            "l_suppkey": pa.array(g.integers(0, n_supp, n_li), pa.int64()),
            "l_linenumber": pa.array(g.integers(1, 8, n_li), pa.int32()),
            "l_quantity": pa.array(g.integers(1, 51, n_li).astype(float), pa.float64()),
            "l_extendedprice": money(900, 105_000, n_li),
            "l_discount": pa.array(g.integers(0, 11, n_li) / 100.0, pa.float64()),
            "l_tax": pa.array(g.integers(0, 9, n_li) / 100.0, pa.float64()),
            "l_returnflag": choice(["A", "N", "R"], n_li),
            "l_linestatus": choice(["F", "O"], n_li),
            "l_shipdate": ts(datetime(1995, 1, 2), 2497, n_li, 86400),
        },
        "events": {
            "event_id": pa.array(range(n_ev), pa.int64()),
            "ts": ts(datetime(2024, 1, 1), 30, n_ev, 1),
            "user_id": pa.array(g.integers(0, 150, n_ev), pa.int64()),
            "event_type": choice(["click", "signup", "error", "view", "purchase"], n_ev),
            "value": pa.array(np.round(g.uniform(0, 100, n_ev), 2), pa.float64()),
            "props": pa.array([json.dumps({"k": int(k)}) for k in g.integers(0, 100, n_ev)]),
        },
        "documents": {
            "doc_id": pa.array(range(n_docs), pa.int64()),
            "text": pa.array(texts),
            "lang": choice(langs, n_docs),
            "source": choice([f"src{i}" for i in range(20)], n_docs),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        },
        "embeddings": {
            "vec_id": pa.array(range(n_emb), pa.int64()),
            "embedding": pa.array(list(emb), pa.list_(pa.float32())),
            "label": pa.array(g.integers(0, 10, n_emb), pa.int32()),
        },
    }
    os.makedirs(out_dir, exist_ok=True)
    counts = {}
    for name, cols in tables.items():
        t = pa.table(cols)
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
        counts[name] = t.num_rows
    return counts
