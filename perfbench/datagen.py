"""Synthetic source tables for the benchmark, written as parquet.

The benchmark may read nothing outside its checkout, and the project's
test data is not part of a checkout, so the benchmark writes tables of
the same shape: a TPC-H-like star schema plus the ``events`` stream,
the ``documents`` corpus and the ``embeddings`` vectors, with the test
data's parquet column types (every timestamp TIMESTAMP(MICROS), not
UTC-adjusted) and value distributions.  ``sf`` scales row counts the
same way (sf 0.1 gives 100,000 events).  The same ``seed`` always
writes the same rows.

    python3 perfbench/datagen.py --sf 0.1 --compare <test-data dir>

writes the tables to a temporary directory and prints, next to the
same figures of the test data, each table's row count and parquet
schema and the events' hourly rate, users, types and values.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENTS_START = dt.datetime(2024, 1, 1)
EVENTS_DAYS = 30

_EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
_VOCAB = (
    "a the join hash row batch scan column customer filter small slow merge "
    "order vector line table data agg value key stream window spark part "
    "group big sort query fast"
).split()
_LANGS = (["en", "zh", "es", "de", "fr"], [0.44, 0.14, 0.14, 0.14, 0.14])
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_PART_ADJ = ["blue", "cold", "hot", "large", "old", "red", "small", "green"]
_PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]

ALL_TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings")


def micros(t: dt.datetime) -> int:
    """Microseconds since the Unix epoch of a naive UTC datetime."""
    return (t - dt.datetime(1970, 1, 1)) // dt.timedelta(microseconds=1)


def _days(rng, n: int, first: dt.datetime, last: dt.datetime) -> pa.Array:
    span = (last - first).days
    us = micros(first) + rng.integers(0, span + 1, n) * 86_400_000_000
    return pa.array(us, pa.timestamp("us"))


def _money(rng, n: int, lo: float, hi: float):
    return np.round(rng.uniform(lo, hi, n), 2)


def _events_ts_micros(n: int, seed: int) -> np.ndarray:
    """Distinct event times (int64 micros), uniform over the event span
    and in ``event_id`` order: a Poisson stream, as in the test data."""
    rng = np.random.default_rng([seed, 1])
    span_us = EVENTS_DAYS * 86_400_000_000
    ts = np.unique(rng.integers(0, span_us, n + n // 100))
    return micros(EVENTS_START) + np.sort(rng.choice(ts, n, replace=False))


def _events(rng, sf: float, seed: int) -> pa.Table:
    n = int(1_000_000 * sf)
    return pa.table({
        "event_id": pa.array(np.arange(n), pa.int64()),
        "ts": pa.array(_events_ts_micros(n, seed), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, max(n * 3 // 200, 1), n), pa.int64()),
        "event_type": pa.array(np.array(_EVENT_TYPES)[rng.integers(0, 5, n)]),
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    })


def _documents(rng, sf: float) -> pa.Table:
    n = max(int(50_000 * sf), 500)
    texts: list[str] = []
    for i in range(n):
        if i > 10 and rng.random() < 0.05:
            # near-duplicate of an earlier document, as in the test corpus
            texts.append(texts[rng.integers(0, i)] + " dup")
        else:
            words = np.array(_VOCAB)[rng.integers(0, len(_VOCAB), rng.integers(10, 100))]
            texts.append(" ".join(words))
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": texts,
        "lang": pa.array(rng.choice(_LANGS[0], n, p=_LANGS[1])),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng, sf: float) -> pa.Table:
    n = max(int(20_000 * sf), 500)
    x = rng.normal(size=(n, 64))
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    flat = pa.array(x.astype(np.float32).ravel(), pa.float32())
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.ListArray.from_arrays(pa.array(np.arange(n + 1) * 64, pa.int32()), flat),
        "label": pa.array(rng.integers(0, 10, n), pa.int32()),
    })


def _tpch(rng, sf: float) -> dict[str, pa.Table]:
    n_cust, n_supp = int(150_000 * sf), max(int(10_000 * sf), 1)
    n_part, n_ord, n_line = int(200_000 * sf), int(1_500_000 * sf), int(6_000_000 * sf)
    nations = np.arange(25, dtype=np.int32)
    return {
        "region": pa.table({
            "r_regionkey": pa.array(np.arange(5), pa.int32()),
            "r_name": _REGIONS,
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(nations),
            "n_name": [f"NATION_{i}" for i in nations],
            "n_regionkey": pa.array(nations % 5),
        }),
        "customer": pa.table({
            "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
            "c_mktsegment": pa.array(np.array(_SEGMENTS)[rng.integers(0, 5, n_cust)]),
        }),
        "supplier": pa.table({
            "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": _money(rng, n_supp, -999.99, 9999.99),
        }),
        "part": pa.table({
            "p_partkey": pa.array(np.arange(n_part), pa.int64()),
            "p_name": [f"{_PART_ADJ[a]} {_PART_NOUN[b]}"
                       for a, b in rng.integers(0, 8, (n_part, 2))],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": pa.array(np.array(_PART_TYPES)[rng.integers(0, 6, n_part)]),
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 1),
        }),
        "orders": pa.table({
            "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
            "o_orderstatus": pa.array(np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)]),
            "o_totalprice": _money(rng, n_ord, 1000.0, 500000.0),
            "o_orderdate": _days(rng, n_ord, dt.datetime(1995, 1, 1), dt.datetime(2001, 8, 1)),
            "o_orderpriority": pa.array(np.array(_PRIORITIES)[rng.integers(0, 5, n_ord)]),
        }),
        "lineitem": pa.table({
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
            "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": _money(rng, n_line, 900.0, 105000.0),
            "l_discount": np.round(rng.uniform(0.0, 0.1, n_line), 2),
            "l_tax": np.round(rng.uniform(0.0, 0.08, n_line), 2),
            "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)]),
            "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, n_line)]),
            "l_shipdate": _days(rng, n_line, dt.datetime(1995, 1, 2), dt.datetime(2001, 11, 4)),
        }),
    }


def generate(out_dir: str, sf: float, seed: int, tables=ALL_TABLES) -> None:
    """Write ``<out_dir>/<table>.parquet`` for each requested table."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    built = _tpch(rng, sf) if set(tables) - {"events", "documents", "embeddings"} else {}
    for name in tables:
        if name == "events":
            table = _events(rng, sf, seed)
        elif name == "documents":
            table = _documents(rng, sf)
        elif name == "embeddings":
            table = _embeddings(rng, sf)
        else:
            table = built[name]
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


def _profile(data_dir: str) -> dict[str, object]:
    """Figures that decide what the benchmark's workloads run."""
    out: dict[str, object] = {}
    for name in ALL_TABLES:
        pf = pq.ParquetFile(os.path.join(data_dir, f"{name}.parquet"))
        cols = [(c.name, c.physical_type, str(c.logical_type)) for c in pf.schema]
        out[f"{name}.rows"] = pf.metadata.num_rows
        out[f"{name}.schema"] = "; ".join(" ".join(c) for c in cols)
    ev = pq.read_table(os.path.join(data_dir, "events.parquet")).to_pandas()
    per_hour = ev["ts"].dt.floor("h").value_counts()
    out["events per hour (mean, sd, min, max)"] = (
        round(per_hour.mean(), 1), round(per_hour.std(), 1), per_hour.min(), per_hour.max())
    out["events ts range"] = (str(ev["ts"].min()), str(ev["ts"].max()))
    out["events in ts order"] = bool(ev["ts"].is_monotonic_increasing)
    out["events users (count, events per user sd)"] = (
        ev["user_id"].nunique(), round(ev["user_id"].value_counts().std(), 1))
    out["events type shares"] = ev["event_type"].value_counts(normalize=True).round(2).to_dict()
    out["events value (mean, sd, min)"] = (
        round(ev["value"].mean(), 1), round(ev["value"].std(), 1), ev["value"].min())
    return out


def main() -> None:
    import argparse
    import tempfile

    ap = argparse.ArgumentParser(description="Compare the generated tables with test data.")
    ap.add_argument("--sf", type=float, required=True)
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--compare", required=True, metavar="DIR",
                    help="directory of the test data at the same scale")
    args = ap.parse_args()
    with tempfile.TemporaryDirectory() as tmp:
        generate(tmp, args.sf, args.seed)
        ours, theirs = _profile(tmp), _profile(args.compare)
    for key, value in theirs.items():
        same = "same" if ours[key] == value else "differs"
        print(f"{key}: {same}\n  test data: {value}\n  generated: {ours[key]}")


if __name__ == "__main__":
    main()
