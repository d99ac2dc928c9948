"""Seeded input generator for the benchmark.

Two kinds of input, both a pure function of ``(seed, parameters)``:

- ``write_catalog``: a scale-factor directory in the layout the registry
  queries read (``<dir>/<table>.parquet`` for every table in
  ``sources.tables.TABLE_NAMES``), with the value domains of the
  TPC-H-shaped test tables (segment names, regions, date ranges, 2-decimal
  money columns) so every query's filters select rows.
- ``write_medallion``: events-shaped bronze spanning many months with
  stated rates of NULL metrics, duplicate ``(user_id, ts)`` keys and late
  records, plus small daily increment files for the streaming rollup.

Timestamps are written as parquet TIMESTAMP(MICROS) without a timezone,
the same physical type as the test tables.
"""

from __future__ import annotations

import os
from dataclasses import asdict, dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

US_PER_DAY = 86_400 * 1_000_000
EVENT_TYPES = ("click", "view", "purchase", "signup", "error")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
P_TYPES = ("ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO")
P_ADJ = ("blue", "old", "small", "new", "hot", "large", "cold", "red")
P_NOUN = ("widget", "gizmo", "ring", "gear", "bolt", "plate", "anvil", "rod")
WORDS = (
    "a agg batch big column customer data dup fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
LANGS = ("en", "zh", "de", "fr", "es")
LANG_P = (0.44, 0.14, 0.14, 0.14, 0.14)


def _us(date: str) -> int:
    return int(np.datetime64(date, "us").astype(np.int64))


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("datetime64[us]"), pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(path: str, cols: dict) -> int:
    pq.write_table(pa.table(cols), path)
    return os.path.getsize(path)


def write_catalog(out_dir: str, seed: int, sf: float) -> dict:
    """Write every registry table at scale ``sf`` (lineitem ≈ 6M·sf rows).

    Documents and embeddings stay at 500 rows, as in the small test
    scales. Returns ``{table: rows}``."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 1])
    n_cust, n_supp = int(150_000 * sf), max(10, int(10_000 * sf))
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_line, n_ev = 4 * n_ord, int(1_000_000 * sf)
    n_users = max(15, int(15_000 * sf))
    d0, d1 = _us("1995-01-01"), _us("2001-08-01")
    rows: dict[str, int] = {}

    def put(name: str, cols: dict) -> None:
        _write(f"{out_dir}/{name}.parquet", cols)
        rows[name] = len(next(iter(cols.values())))

    put("region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": list(REGIONS),
    })
    put("nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    put("customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust, dtype=np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust),
    })
    put("supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp, dtype=np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    put("part", {
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": np.char.add(
            np.char.add(rng.choice(P_ADJ, n_part), " "), rng.choice(P_NOUN, n_part)
        ),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": rng.choice(P_TYPES, n_part),
        "p_size": rng.integers(1, 51, n_part, dtype=np.int32),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 2),
    })
    put("orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": rng.choice(("F", "O", "P"), n_ord),
        "o_totalprice": _money(rng, 1000, 500_000, n_ord),
        "o_orderdate": _ts(rng.integers(0, (d1 - d0) // US_PER_DAY, n_ord) * US_PER_DAY + d0),
        "o_orderpriority": rng.choice(PRIORITIES, n_ord),
    })
    line_order = np.sort(rng.integers(0, n_ord, n_line))
    first = np.r_[True, line_order[1:] != line_order[:-1]]
    starts = np.maximum.accumulate(np.where(first, np.arange(n_line), 0))
    put("lineitem", {
        "l_orderkey": line_order.astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_line),
        "l_suppkey": rng.integers(0, n_supp, n_line),
        "l_linenumber": (np.arange(n_line) - starts + 1).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 105_000, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100,
        "l_tax": rng.integers(0, 9, n_line) / 100,
        "l_returnflag": rng.choice(("A", "N", "R"), n_line),
        "l_linestatus": rng.choice(("F", "O"), n_line),
        "l_shipdate": _ts(rng.integers(0, (d1 - d0) // US_PER_DAY + 90, n_line) * US_PER_DAY + d0),
    })
    e0 = _us("2024-01-01")
    put("events", {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": _ts(np.sort(rng.integers(e0, e0 + 30 * US_PER_DAY, n_ev))),
        "user_id": rng.integers(0, n_users, n_ev),
        "event_type": rng.choice(EVENT_TYPES, n_ev),
        "value": np.round(rng.exponential(45.0, n_ev) + 0.01, 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    n_doc = 500
    lens = rng.integers(8, 80, n_doc)
    texts = [" ".join(rng.choice(WORDS, k)) for k in lens]
    put("documents", {
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, n_doc, p=LANG_P),
        "source": np.char.add("src", rng.integers(0, 20, n_doc).astype(str)),
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    n_vec, dim = 500, 64
    labels = rng.integers(0, 10, n_vec)
    centers = rng.normal(0.0, 1.0, (10, dim))
    vecs = centers[labels] * 0.15 + rng.normal(0.0, 1.0, (n_vec, dim))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    put("embeddings", {
        "vec_id": np.arange(n_vec, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": labels.astype(np.int32),
    })
    return rows


@dataclass(frozen=True)
class MedallionParams:
    """What the ``etl_medallion`` inputs are made of; printed with every run."""

    rows: int = 40_000
    months: int = 12
    days_per_month: int = 1
    users: int = 2_000
    null_rate: float = 0.03
    dup_rate: float = 0.05
    late_rate: float = 0.04
    increments: int = 2
    increment_rows: int = 2_000
    start: str = "2022-01"


def _events(rng: np.random.Generator, n: int, ids: np.ndarray, ts: np.ndarray,
            p: MedallionParams) -> dict:
    value = np.round(rng.exponential(45.0, n) + 0.01, 2)
    etype = rng.choice(EVENT_TYPES, n).astype(object)
    nulls = rng.random(n) < p.null_rate
    which = rng.random(n) < 0.5  # a NULL lands on value or on event_type
    value_mask = nulls & which
    etype[nulls & ~which] = None
    return {
        "event_id": ids.astype(np.int64),
        "ts": _ts(ts),
        "user_id": rng.integers(0, p.users, n),
        "event_type": pa.array(etype, pa.string()),
        "value": pa.array(value, pa.float64(), mask=value_mask),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
    }


def write_medallion(out_dir: str, seed: int, p: MedallionParams) -> dict:
    """Write ``bronze/events.parquet`` and ``increments/day_XX.parquet``.

    - bronze: ``p.rows`` events on ``p.days_per_month`` days (the 1st,
      11th, 21st) of each of ``p.months`` calendar months from ``p.start``; a
      ``p.dup_rate`` share of rows repeat an earlier row's
      ``(user_id, ts)`` key with a new ``event_id`` and value, and a
      ``p.null_rate`` share have a NULL ``value`` or ``event_type``.
    - increments: ``p.increments`` files of ``p.increment_rows`` events on
      consecutive days after the bronze span; a ``p.late_rate`` share
      carry a timestamp from an earlier bronze month.

    Returns the parameters plus row and byte counts."""
    rng = np.random.default_rng([seed, 2])
    os.makedirs(f"{out_dir}/bronze", exist_ok=True)
    os.makedirs(f"{out_dir}/increments", exist_ok=True)
    month0 = np.datetime64(p.start, "M")
    firsts = (month0 + np.arange(p.months + 1)).astype("datetime64[us]").astype(np.int64)
    end = int(firsts[-1])
    n_dup = int(p.rows * p.dup_rate)
    n_base = p.rows - n_dup
    day = firsts[rng.integers(0, p.months, n_base)] + rng.integers(0, p.days_per_month, n_base) * 10 * US_PER_DAY
    ts = day + rng.integers(0, US_PER_DAY, n_base)
    cols = _events(rng, p.rows, np.arange(p.rows), np.r_[ts, np.zeros(n_dup, np.int64)], p)
    src = rng.integers(0, n_base, n_dup)
    ts_all = np.r_[ts, ts[src]]
    users = cols["user_id"]
    users[n_base:] = users[src]
    cols["ts"] = _ts(ts_all)
    order = rng.permutation(p.rows)
    table = pa.table(cols).take(pa.array(order))
    pq.write_table(table, f"{out_dir}/bronze/events.parquet")
    in_bytes = os.path.getsize(f"{out_dir}/bronze/events.parquet")

    next_id = p.rows
    for k in range(p.increments):
        n = p.increment_rows
        day0 = end + k * US_PER_DAY
        inc_ts = rng.integers(day0, day0 + US_PER_DAY, n)
        late = rng.random(n) < p.late_rate
        inc_ts[late] = ts[rng.integers(0, n_base, int(late.sum()))]
        ids = np.arange(next_id, next_id + n)
        next_id += n
        in_bytes += _write(f"{out_dir}/increments/day_{k:02d}.parquet",
                           _events(rng, n, ids, inc_ts, p))
    return {**asdict(p), "input_bytes": in_bytes,
            "increment_total_rows": p.increments * p.increment_rows}
