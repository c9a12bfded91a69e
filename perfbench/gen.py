"""Seeded synthetic input tables for the benchmark.

Writes the ten tables the declared queries read (``region nation
customer supplier part orders lineitem events documents embeddings``)
as one parquet file each, in the same schema and value domains as the
TPC-H-ish testdata the query oracles were written against:
uniform keys, exponential event values, 30 days of sorted event
timestamps, bag-of-words documents with ~5% near-duplicates, and
unit-norm 64-d embeddings. The same ``(seed, sf)`` always gives the
same values, so a run is reproducible from its seed.

Also cuts the events stream into JSON files for the stream workload
(:func:`stream_files`).
"""

from __future__ import annotations

import json
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
COLORS = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUNS = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()

EPOCH_2024 = np.datetime64("2024-01-01T00:00:00", "us")
ORDER_DAY0 = np.datetime64("1995-01-01", "D")
SHIP_DAY0 = np.datetime64("1995-01-02", "D")


def _ts_days(day0: np.datetime64, days: np.ndarray) -> pa.Array:
    return pa.array((day0 + days.astype("timedelta64[D]")).astype("datetime64[us]"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _names(prefix: str, n: int) -> list[str]:
    return [f"{prefix}#{i:09d}" for i in range(n)]


def sizes(sf: float) -> dict[str, int]:
    """Row counts per table at scale factor ``sf`` (lineitem = 6M x sf)."""
    return {
        "customer": int(150_000 * sf),
        "supplier": max(int(10_000 * sf), 10),
        "part": int(200_000 * sf),
        "orders": int(1_500_000 * sf),
        "lineitem": int(6_000_000 * sf),
        "events": int(1_000_000 * sf),
        "users": max(int(15_000 * sf), 10),
        "documents": int(50_000 * sf),
        "embeddings": max(int(20_000 * sf), 500),
    }


def events_table(
    rng: np.random.Generator, n: int, n_users: int, first_id: int = 0, span_s: int = 30 * 86_400
) -> pa.Table:
    """``n`` events over ``span_s`` seconds from 2024-01-01, ids from
    ``first_id``, ts ascending."""
    offs = np.sort(rng.integers(0, span_s * 1_000_000, n)).astype("timedelta64[us]")
    return pa.table(
        {
            "event_id": pa.array(np.arange(first_id, first_id + n, dtype=np.int64)),
            "ts": pa.array(EPOCH_2024 + offs),
            "user_id": pa.array(rng.integers(0, n_users, n, dtype=np.int64)),
            "event_type": pa.array(np.array(EVENT_TYPES)[rng.integers(0, 5, n)]),
            "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
        }
    )


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    texts: list[str] = []
    for i in range(n):
        if i > 0 and rng.random() < 0.05:
            # near-duplicate of an earlier document: a prefix plus a marker
            src = texts[int(rng.integers(0, i))].split()
            keep = max(3, int(len(src) * rng.uniform(0.8, 1.0)))
            texts.append(" ".join(src[:keep] + ["dup"]))
        else:
            k = int(rng.integers(10, 100))
            texts.append(" ".join(np.array(WORDS)[rng.integers(0, len(WORDS), k)]))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": pa.array(texts),
            "lang": pa.array(np.array(LANGS)[rng.choice(5, n, p=LANG_P)]),
            "source": pa.array([f"src{i % 20}" for i in range(n)]),
            "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
        }
    )


def _embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    x = rng.standard_normal((n, 64)).astype(np.float32)
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n, dtype=np.int64)),
            "embedding": pa.array(list(x), type=pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n).astype(np.int32)),
        }
    )


def make_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """All ten tables for ``(seed, sf)``; each table has its own stream
    so adding a table never shifts another table's values."""
    n = sizes(sf)
    rngs = {t: np.random.default_rng([seed, i]) for i, t in enumerate(
        "customer supplier part orders lineitem events documents embeddings".split())}
    r = rngs["customer"]
    customer = pa.table(
        {
            "c_custkey": pa.array(np.arange(n["customer"], dtype=np.int64)),
            "c_name": pa.array(_names("Customer", n["customer"])),
            "c_nationkey": pa.array(r.integers(0, 25, n["customer"]).astype(np.int32)),
            "c_acctbal": pa.array(_money(r, -999.99, 9999.99, n["customer"])),
            "c_mktsegment": pa.array(np.array(SEGMENTS)[r.integers(0, 5, n["customer"])]),
        }
    )
    r = rngs["supplier"]
    supplier = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n["supplier"], dtype=np.int64)),
            "s_name": pa.array(_names("Supplier", n["supplier"])),
            "s_nationkey": pa.array(r.integers(0, 25, n["supplier"]).astype(np.int32)),
            "s_acctbal": pa.array(_money(r, -999.99, 9999.99, n["supplier"])),
        }
    )
    r = rngs["part"]
    keys = np.arange(n["part"], dtype=np.int64)
    part = pa.table(
        {
            "p_partkey": pa.array(keys),
            "p_name": pa.array(
                [f"{COLORS[c]} {NOUNS[w]}" for c, w in r.integers(0, 8, (n["part"], 2))]
            ),
            "p_brand": pa.array([f"Brand#{b}" for b in r.integers(1, 26, n["part"])]),
            "p_type": pa.array(np.array(PART_TYPES)[r.integers(0, 6, n["part"])]),
            "p_size": pa.array(r.integers(1, 51, n["part"]).astype(np.int32)),
            "p_retailprice": pa.array(np.round(900.0 + (keys % 1000) / 10.0, 1)),
        }
    )
    r = rngs["orders"]
    orders = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n["orders"], dtype=np.int64)),
            "o_custkey": pa.array(r.integers(0, n["customer"], n["orders"], dtype=np.int64)),
            "o_orderstatus": pa.array(np.array(["F", "O", "P"])[r.integers(0, 3, n["orders"])]),
            "o_totalprice": pa.array(_money(r, 1000.0, 500000.0, n["orders"])),
            "o_orderdate": _ts_days(ORDER_DAY0, r.integers(0, 2405, n["orders"])),
            "o_orderpriority": pa.array(np.array(PRIORITIES)[r.integers(0, 5, n["orders"])]),
        }
    )
    r = rngs["lineitem"]
    m = n["lineitem"]
    lineitem = pa.table(
        {
            "l_orderkey": pa.array(r.integers(0, n["orders"], m, dtype=np.int64)),
            "l_partkey": pa.array(r.integers(0, n["part"], m, dtype=np.int64)),
            "l_suppkey": pa.array(r.integers(0, n["supplier"], m, dtype=np.int64)),
            "l_linenumber": pa.array(r.integers(1, 8, m).astype(np.int32)),
            "l_quantity": pa.array(r.integers(1, 51, m).astype(np.float64)),
            "l_extendedprice": pa.array(_money(r, 900.0, 105000.0, m)),
            "l_discount": pa.array(r.integers(0, 11, m) / 100.0),
            "l_tax": pa.array(r.integers(0, 9, m) / 100.0),
            "l_returnflag": pa.array(np.array(["A", "N", "R"])[r.integers(0, 3, m)]),
            "l_linestatus": pa.array(np.array(["F", "O"])[r.integers(0, 2, m)]),
            "l_shipdate": _ts_days(SHIP_DAY0, r.integers(0, 2499, m)),
        }
    )
    return {
        "region": pa.table(
            {"r_regionkey": pa.array(np.arange(5, dtype=np.int32)), "r_name": pa.array(REGIONS)}
        ),
        "nation": pa.table(
            {
                "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
                "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
                "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32)),
            }
        ),
        "customer": customer,
        "supplier": supplier,
        "part": part,
        "orders": orders,
        "lineitem": lineitem,
        "events": events_table(rngs["events"], n["events"], n["users"]),
        "documents": _documents(rngs["documents"], n["documents"]),
        "embeddings": _embeddings(rngs["embeddings"], n["embeddings"]),
    }


def write_tables(out_dir: Path, seed: int, sf: float) -> Path:
    """Materialise the tables under ``out_dir`` (idempotent per seed/sf)."""
    done = out_dir / "_DONE"
    if done.exists():
        return out_dir
    out_dir.mkdir(parents=True, exist_ok=True)
    for name, table in make_tables(seed, sf).items():
        pq.write_table(table, out_dir / f"{name}.parquet", compression="snappy")
    done.write_text(json.dumps({"seed": seed, "sf": sf}))
    return out_dir


def stream_files(
    seed: int, n_files: int, per_file: int, n_users: int, first_id: int = 0
) -> list[list[dict]]:
    """Events cut into ``n_files`` JSON-lines files of ``per_file`` rows.

    Event time runs forward five minutes per file (so the watermark
    advances), but the seed decides which events land in which file:
    neighbouring events are shuffled across a window of three files,
    the out-of-order arrival a real topic shows. Fifteen minutes of
    disorder stays inside the alert rollup's 30-minute watermark, so
    no event is dropped as late.
    """
    rng = np.random.default_rng([seed, 99, first_id])
    t = events_table(rng, n_files * per_file, n_users, first_id, span_s=300 * n_files).to_pylist()
    jitter = rng.uniform(0.0, 3.0, len(t))
    order = np.argsort(np.arange(len(t)) / per_file + jitter, kind="stable")
    rows = [t[i] for i in order]
    for r in rows:
        r["ts"] = r["ts"].isoformat(sep=" ")
    return [rows[i * per_file : (i + 1) * per_file] for i in range(n_files)]
