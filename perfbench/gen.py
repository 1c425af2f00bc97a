"""Seeded input generators for the benchmark.

Everything the engine reads is written here from ``--seed``: the same
seed gives byte-identical inputs, and the engine receives only the
files (never the seed).

- :func:`write_star_tables` writes the ten star-schema tables
  (``tables.TABLE_NAMES``) in the column types, value domains and
  cardinality ratios of the engine's fixtures, at a scale factor ``sf``
  (``sf=0.1`` -> 600k lineitem rows, 100k events).
- :func:`write_journey_extracts` writes months of weekly journey CSV
  extracts (one file per 7-day slice from the 1st) in the reference
  wire format (all-string columns,
  ``dd/MM/yyyy HH:mm`` timestamps, the messy headers of
  ``sources.raw.RAW_EVENT_COLUMNS``) with a fixed seasonal volume
  profile, plus the station source ``supplier.parquet``.
"""

from __future__ import annotations

import calendar
import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

#: month-volume profile of the journey feed (share of the peak month):
#: a winter trough and a summer peak, so the backfill sees both small
#: months bound by per-job overhead and large ones bound by volume.
SEASONAL = (0.20, 0.25, 0.40, 0.60, 0.80, 1.00, 1.00, 0.90, 0.70, 0.50, 0.30, 0.20)
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
RAW_EVENT_COLUMNS = ("Event Id", "User Id", "Event Type", "Event Date", "Value")
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
LANGS = ("en", "de", "es", "fr", "zh")
LANG_P = (0.40, 0.15, 0.15, 0.15, 0.15)


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, row_group_size=1 << 20)


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _timestamps(rng: np.random.Generator, start: str, days: int, n: int, unit: str) -> np.ndarray:
    base = np.datetime64(start, unit)
    span = days * (86_400 if unit == "s" else 86_400_000_000)
    return base + np.sort(rng.integers(0, span, n)).astype(f"timedelta64[{unit}]")


def _docs(rng: np.random.Generator, n: int) -> list[str]:
    """Word-salad documents over a 31-word vocabulary; one in ten is a
    near-copy of an earlier document (a few words replaced), so the
    dedup operators find real clusters."""
    vocab = np.array(WORDS)
    lengths = rng.integers(8, 100, n)
    texts: list[str] = []
    for i in range(n):
        if i > 10 and rng.random() < 0.10:
            words = texts[int(rng.integers(0, i))].split()
            for j in rng.integers(0, len(words), max(1, len(words) // 20)):
                words[j] = vocab[rng.integers(0, len(vocab))]
        else:
            words = list(vocab[rng.integers(0, len(vocab), lengths[i])])
        texts.append(" ".join(words))
    return texts


def write_star_tables(out_dir: str, sf: float, seed: int) -> dict[str, int]:
    """Write the ten star-schema tables under ``out_dir`` at scale
    ``sf``; returns row counts per table."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust = int(150_000 * sf)
    n_ord = int(1_500_000 * sf)
    n_line = int(6_000_000 * sf)
    n_part = int(200_000 * sf)
    n_supp = max(25, int(10_000 * sf))
    n_ev = int(1_000_000 * sf)
    n_users = max(10, n_cust // 10)
    n_docs = max(50, int(50_000 * sf))
    n_vecs = max(50, int(20_000 * sf))
    tables: dict[str, pa.Table] = {}

    tables["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    tables["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    tables["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": np.array(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
        )[rng.integers(0, 5, n_cust)],
    })
    tables["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    adjectives = np.array(["blue", "cold", "hot", "large", "old", "red", "small", "tiny"])
    nouns = np.array(["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"])
    tables["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": np.char.add(
            np.char.add(adjectives[rng.integers(0, 8, n_part)], " "),
            nouns[rng.integers(0, 8, n_part)],
        ),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])[
            rng.integers(0, 6, n_part)
        ],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 1),
    })
    tables["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
        "o_orderdate": pa.array(
            np.datetime64("1995-01-01", "us")
            + (rng.integers(0, 2404, n_ord) * 86_400_000_000).astype("timedelta64[us]"),
            pa.timestamp("us"),
        ),
        "o_orderpriority": np.array(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
        )[rng.integers(0, 5, n_ord)],
    })
    qty = rng.integers(1, 51, n_line).astype(float)
    tables["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_line), 2),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
        "l_shipdate": pa.array(
            np.datetime64("1995-01-02", "us")
            + (rng.integers(0, 2499, n_line) * 86_400_000_000).astype("timedelta64[us]"),
            pa.timestamp("us"),
        ),
    })
    tables["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": pa.array(_timestamps(rng, "2024-01-01", 30, n_ev, "us"), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n_ev), pa.int64()),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    texts = _docs(rng, n_docs)
    tables["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(5, n_docs, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    vecs = rng.normal(size=(n_vecs, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    tables["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_vecs), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_vecs), pa.int32()),
    })
    for name, table in tables.items():
        _write(table, os.path.join(out_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}


def write_journey_extracts(
    out_dir: str,
    station_path: str,
    year: int,
    first_month: int,
    months: int,
    peak_rows: int,
    seed: int,
    n_users: int = 1500,
) -> list[dict]:
    """Write ``months`` months, from ``first_month`` of ``year``, of
    weekly journey CSV extracts under
    ``out_dir/<yyyyMM>/week_<n>.csv`` and the station source (a
    ``supplier`` table) at ``station_path``.

    Returns one record per month: ``{"month", "files", "rows",
    "csv_bytes"}`` — ``rows`` is the exact fact-row count the month
    must land. Event ids are unique across the whole feed; rows of a
    month fall strictly inside it, at minute grain (the wire format
    carries no seconds)."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_supp = 1000
    _write(
        pa.table({
            "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }),
        station_path,
    )
    manifest = []
    next_id = 0
    for m in range(first_month, first_month + months):
        ym = f"{year}{m:02d}"
        rows = int(peak_rows * SEASONAL[(m - 1) % 12])
        month_dir = os.path.join(out_dir, ym)
        os.makedirs(month_dir, exist_ok=True)
        days = calendar.monthrange(year, m)[1]
        minutes = rng.integers(0, days * 1440, rows)
        minutes.sort()
        day_prefix = np.array([f"{d:02d}/{m:02d}/{year} " for d in range(1, days + 1)])
        clock = np.array([f"{h:02d}:{mi:02d}" for h in range(24) for mi in range(60)])
        frame = pd.DataFrame({
            RAW_EVENT_COLUMNS[0]: np.arange(next_id, next_id + rows).astype(str),
            RAW_EVENT_COLUMNS[1]: rng.integers(0, n_users, rows).astype(str),
            RAW_EVENT_COLUMNS[2]: np.array(EVENT_TYPES)[rng.integers(0, 5, rows)],
            RAW_EVENT_COLUMNS[3]: np.char.add(day_prefix[minutes // 1440], clock[minutes % 1440]),
            RAW_EVENT_COLUMNS[4]: np.round(rng.exponential(50.0, rows), 2).astype(str),
        })
        next_id += rows
        week = (minutes // (7 * 1440)).astype(int)
        files = []
        csv_bytes = 0
        for w in range(-(-days // 7)):
            path = os.path.join(month_dir, f"week_{w}.csv")
            frame[week == w].to_csv(path, index=False)
            files.append(path)
            csv_bytes += os.path.getsize(path)
        manifest.append({"month": ym, "files": files, "rows": rows, "csv_bytes": csv_bytes})
    return manifest
