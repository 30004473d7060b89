"""Seeded input generator for the layered benchmark.

Writes the engine's fixture schemas (the ten tables of
``sources.catalog.TABLES``) as pandas/pyarrow parquet under
``<root>/v<VERSION>_seed<seed>_sf<sf>/``:

- ``base/``  one parquet file per table at scale factor ``sf``, with
  the row counts, value ranges and categorical domains of the
  repository's sf fixtures (TESTDATA.md: uniform keys, exponential
  event values, 31-word document vocabulary with 5 % exact
  duplicates, unit-norm 64-d embeddings).  One departure, on purpose:
  ``lineitem`` follows TPC-H's key (1-7 lines per order, numbered
  1..k), so ``(l_orderkey, l_linenumber)`` is unique, where the
  fixtures repeat pairs.  ``window_running_sum_frame`` uses that pair
  as its ORDER BY tie-breaker, so on this data its output is
  deterministic and its check cannot catch the tie-break defect (see
  README.md).
- ``stream/events.parquet/``  the base events as ``N_PARTS`` part
  files whose assignment of events to files is seeded and out of
  timestamp order, with increasing file mtimes, so a
  ``maxFilesPerTrigger=1`` stream drains it one file per micro-batch
  in a fixed order.
- ``x10/events.parquet``  the key-shifted x10 replica of ``events``
  (the ``FACT_SHIFTS`` method of ``tools/scale_bench.py``: copy i adds
  ``i * (max + 1)`` to ``event_id`` and ``user_id``).  Only ``events``
  is consumed at x10.

The same (seed, sf) always produces the same tables.  A ``_DONE``
marker makes the directory a cache entry; at most ``KEEP`` entries
stay on disk.
"""

from __future__ import annotations

import json
import os
import shutil
import time

import numpy as np
import pandas as pd

EVENT_SHIFTS = ["event_id", "user_id"]
VERSION = 2  # part of the cache key: bump when the generated data changes
N_PARTS = 3  # stream part files, one micro-batch each
LATE_FRAC = 0.25  # share of events moved to a random part file
KEEP = 4  # cache entries kept on disk

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["small", "large", "red", "blue", "hot", "cold", "old", "new"]
PART_NOUN = ["ring", "bolt", "widget", "plate", "gear", "rod", "anvil", "gizmo"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ["en", "es", "zh", "de", "fr"]
LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]

DAY_US = 86_400 * 1_000_000


def _days(start: str, n_days: np.ndarray) -> np.ndarray:
    return (np.datetime64(start, "D") + n_days.astype("timedelta64[D]")).astype(
        "datetime64[us]"
    )


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def base_tables(seed: int, sf: float) -> dict[str, pd.DataFrame]:
    rng = np.random.default_rng(seed)
    n_cust = max(15, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(20, int(200_000 * sf))
    n_ord = max(150, int(1_500_000 * sf))
    n_ev = max(100, int(1_000_000 * sf))
    n_users = max(15, int(15_000 * sf))
    n_docs = max(500, int(50_000 * sf))
    n_emb = max(500, int(20_000 * sf))

    t: dict[str, pd.DataFrame] = {}
    t["region"] = pd.DataFrame(
        {"r_regionkey": np.arange(5, dtype=np.int32), "r_name": REGIONS}
    )
    t["nation"] = pd.DataFrame(
        {
            "n_nationkey": np.arange(25, dtype=np.int32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": (np.arange(25) % 5).astype(np.int32),
        }
    )
    t["customer"] = pd.DataFrame(
        {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": rng.choice(SEGMENTS, n_cust),
        }
    )
    t["supplier"] = pd.DataFrame(
        {
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }
    )
    pk = np.arange(n_part, dtype=np.int64)
    t["part"] = pd.DataFrame(
        {
            "p_partkey": pk,
            "p_name": [
                f"{PART_ADJ[a]} {PART_NOUN[b]}"
                for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
            ],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": rng.choice(PART_TYPES, n_part),
            "p_size": rng.integers(1, 51, n_part).astype(np.int32),
            "p_retailprice": np.round(900.0 + (pk % 1000) * 0.1, 1),
        }
    )
    order_day = rng.integers(0, 2404, n_ord)  # 1995-01-01 .. 2001-08-01
    t["orders"] = pd.DataFrame(
        {
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
            "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
            "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
            "o_orderdate": _days("1995-01-01", order_day),
            "o_orderpriority": rng.choice(PRIORITIES, n_ord),
        }
    )
    # TPC-H layout: 1-7 lines per order, numbered 1..k, so
    # (l_orderkey, l_linenumber) is a key — the registry's window
    # queries order by it as a tie-breaker
    lines = rng.integers(1, 8, n_ord)
    n_li = int(lines.sum())
    starts = np.repeat(np.cumsum(lines) - lines, lines)
    t["lineitem"] = pd.DataFrame(
        {
            "l_orderkey": np.repeat(np.arange(n_ord, dtype=np.int64), lines),
            "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
            "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
            "l_linenumber": (np.arange(n_li) - starts + 1).astype(np.int32),
            "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105_000.0, n_li),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], n_li),
            "l_linestatus": rng.choice(["F", "O"], n_li),
            "l_shipdate": _days("1995-01-02", rng.integers(0, 2498, n_li)),
        }
    )
    ts_us = np.sort(rng.integers(0, 30 * DAY_US, n_ev))
    t["events"] = pd.DataFrame(
        {
            "event_id": np.arange(n_ev, dtype=np.int64),
            "ts": np.datetime64("2024-01-01", "us") + ts_us.astype("timedelta64[us]"),
            "user_id": rng.integers(0, n_users, n_ev).astype(np.int64),
            "event_type": rng.choice(EVENT_TYPES, n_ev),
            "value": np.round(rng.exponential(50.0, n_ev), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        }
    )
    n_words = rng.integers(10, 101, n_docs)
    words = rng.integers(0, len(VOCAB), int(n_words.sum()))
    offs = np.concatenate([[0], np.cumsum(n_words)])
    texts = [" ".join(VOCAB[w] for w in words[offs[i] : offs[i + 1]]) for i in range(n_docs)]
    dup = np.flatnonzero(rng.random(n_docs) < 0.05)
    for i in dup[dup > 0]:  # exact duplicate of an earlier document
        texts[i] = texts[int(rng.integers(0, i))]
    t["documents"] = pd.DataFrame(
        {
            "doc_id": np.arange(n_docs, dtype=np.int64),
            "text": texts,
            "lang": rng.choice(LANGS, n_docs, p=LANG_P),
            "source": [f"src{i % 20}" for i in range(n_docs)],
            "n_chars": np.array([len(s) for s in texts], dtype=np.int64),
        }
    )
    emb = rng.normal(size=(n_emb, 64))
    emb = (emb / np.linalg.norm(emb, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pd.DataFrame(
        {
            "vec_id": np.arange(n_emb, dtype=np.int64),
            "embedding": list(emb),
            "label": rng.integers(0, 10, n_emb).astype(np.int32),
        }
    )
    return t


def replicate(df: pd.DataFrame, shift_cols: list[str], k: int) -> pd.DataFrame:
    """k key-shifted copies: copy i adds i * (max + 1) to each column."""
    strides = {c: int(df[c].max()) + 1 for c in shift_cols}
    copies = []
    for i in range(k):
        c = df.copy()
        for col, stride in strides.items():
            c[col] = c[col] + i * stride
        copies.append(c)
    return pd.concat(copies, ignore_index=True)


def split_out_of_order(events: pd.DataFrame, rng: np.random.Generator) -> list[pd.DataFrame]:
    """Assign events to ``N_PARTS`` files mostly by time, but move a
    seeded ``LATE_FRAC`` of them to a random file — so later files carry
    older timestamps — and shuffle rows within each file."""
    order = np.argsort(events["ts"].to_numpy(), kind="stable")
    part = np.empty(len(events), dtype=np.int64)
    part[order] = np.arange(len(events)) * N_PARTS // len(events)
    late = rng.random(len(events)) < LATE_FRAC
    part[late] = rng.integers(0, N_PARTS, int(late.sum()))
    out = []
    for p in range(N_PARTS):
        idx = np.flatnonzero(part == p)
        out.append(events.iloc[rng.permutation(idx)].reset_index(drop=True))
    return out


def generate(root: str, seed: int, sf: float) -> str:
    """Write (or reuse) the inputs of (seed, sf) under ``root``; return their directory."""
    out = os.path.join(root, f"v{VERSION}_seed{seed}_sf{sf:g}")
    if os.path.exists(os.path.join(out, "_DONE")):
        os.utime(out)  # most recently used
        return out
    shutil.rmtree(out, ignore_errors=True)
    base, x10 = os.path.join(out, "base"), os.path.join(out, "x10")
    ev_dir = os.path.join(out, "stream", "events.parquet")
    for d in (base, x10, ev_dir):
        os.makedirs(d)
    tables = base_tables(seed, sf)
    for name, df in tables.items():
        df.to_parquet(os.path.join(base, f"{name}.parquet"), index=False)
    replicate(tables["events"], EVENT_SHIFTS, 10).to_parquet(os.path.join(x10, "events.parquet"), index=False)
    rng = np.random.default_rng([seed, 1])
    parts = split_out_of_order(tables["events"], rng)
    t0 = time.time() - 10 * N_PARTS
    for p, part in enumerate(parts):
        path = os.path.join(ev_dir, f"part-{p:05d}.parquet")
        part.to_parquet(path, index=False)
        os.utime(path, (t0 + 10 * p, t0 + 10 * p))
    with open(os.path.join(out, "_DONE"), "w") as fh:
        json.dump({"seed": seed, "sf": sf, "n_parts": N_PARTS}, fh)
    _evict(root)
    return out


def _evict(root: str) -> None:
    entries = sorted(
        (os.path.join(root, d) for d in os.listdir(root)),
        key=os.path.getmtime,
        reverse=True,
    )
    for old in entries[KEEP:]:
        shutil.rmtree(old, ignore_errors=True)

