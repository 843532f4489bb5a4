"""Seeded input generators for the benchmark.

Everything the engine reads during a benchmark run is made here from the
``--seed`` argument: the ten registry tables (the schemas and value
distributions of the engine's sf fixtures, see FIXTURES.md) and the inbound
CSV files the ``etl_load`` workload feeds to ``pipeline.run_load``. The same
seed and size always give byte-identical files.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PART_COLORS = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
PART_NOUNS = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
LANGS = ("en", "zh", "de", "fr", "es")
LANG_P = (0.44, 0.14, 0.14, 0.14, 0.14)
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
EMBED_DIM = 64

_EPOCH = dt.datetime(1970, 1, 1)
_DAY_US = 86_400_000_000


def _us(d: dt.datetime) -> int:
    return int((d - _EPOCH).total_seconds()) * 1_000_000


def _days(rng, n, lo: dt.datetime, hi: dt.datetime) -> pa.Array:
    """Midnight timestamps drawn uniformly between two dates."""
    us = _us(lo) + rng.integers(0, (hi - lo).days + 1, n) * _DAY_US
    return pa.array(us, pa.timestamp("us"))


def _money(rng, n, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, values, n, p=None) -> pa.Array:
    idx = rng.choice(len(values), n, p=p)
    return pa.array(np.asarray(values, dtype=object)[idx], pa.string())


def _numbered(prefix: str, keys: np.ndarray) -> pa.Array:
    return pa.array([f"{prefix}#{k:09d}" for k in keys.tolist()], pa.string())


def table_rows(sf: float) -> dict[str, int]:
    """Row counts per table at scale factor ``sf`` (the fixture ratios)."""
    return {
        "customer": max(1, round(150_000 * sf)),
        "supplier": max(1, round(10_000 * sf)),
        "part": max(1, round(200_000 * sf)),
        "orders": max(1, round(1_500_000 * sf)),
        "lineitem": max(1, round(6_000_000 * sf)),
        "events": max(1, round(1_000_000 * sf)),
        "users": max(2, round(150_000 * sf)),
        "documents": max(500, round(50_000 * sf)),
        "embeddings": max(500, round(20_000 * sf)),
    }


def make_tables(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write the ten registry tables as ``<out_dir>/<name>.parquet``.

    Returns the bytes written per table."""
    os.makedirs(out_dir, exist_ok=True)
    n = table_rows(sf)
    rng = np.random.default_rng([seed, 1])
    tables: dict[str, pa.Table] = {}

    tables["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": pa.array(REGIONS, pa.string()),
    })
    tables["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })

    ck = np.arange(n["customer"], dtype=np.int64)
    tables["customer"] = pa.table({
        "c_custkey": ck,
        "c_name": _numbered("Customer", ck),
        "c_nationkey": pa.array(rng.integers(0, 25, len(ck)), pa.int32()),
        "c_acctbal": _money(rng, len(ck), -999.99, 9999.99),
        "c_mktsegment": _pick(rng, SEGMENTS, len(ck)),
    })

    sk = np.arange(n["supplier"], dtype=np.int64)
    tables["supplier"] = pa.table({
        "s_suppkey": sk,
        "s_name": _numbered("Supplier", sk),
        "s_nationkey": pa.array(rng.integers(0, 25, len(sk)), pa.int32()),
        "s_acctbal": _money(rng, len(sk), -999.99, 9999.99),
    })

    pk = np.arange(n["part"], dtype=np.int64)
    names = [f"{c} {w}" for c in PART_COLORS for w in PART_NOUNS]
    retail = np.round(900.0 + (pk % 1000) / 10.0, 2)
    brands = rng.integers(1, 26, len(pk)).tolist()
    tables["part"] = pa.table({
        "p_partkey": pk,
        "p_name": _pick(rng, names, len(pk)),
        "p_brand": pa.array([f"Brand#{b}" for b in brands], pa.string()),
        "p_type": _pick(rng, PART_TYPES, len(pk)),
        "p_size": pa.array(rng.integers(1, 51, len(pk)), pa.int32()),
        "p_retailprice": retail,
    })

    ok = np.arange(n["orders"], dtype=np.int64)
    tables["orders"] = pa.table({
        "o_orderkey": ok,
        "o_custkey": rng.integers(0, len(ck), len(ok)),
        "o_orderstatus": _pick(rng, ("F", "O", "P"), len(ok)),
        "o_totalprice": _money(rng, len(ok), 1000.0, 500000.0),
        "o_orderdate": _days(rng, len(ok), dt.datetime(1995, 1, 1), dt.datetime(2001, 8, 1)),
        "o_orderpriority": _pick(rng, PRIORITIES, len(ok)),
    })

    nl = n["lineitem"]
    l_part = rng.integers(0, len(pk), nl)
    qty = rng.integers(1, 51, nl).astype(np.float64)
    tables["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, len(ok), nl),
        "l_partkey": l_part,
        "l_suppkey": rng.integers(0, len(sk), nl),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * retail[l_part], 2),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": _pick(rng, ("A", "N", "R"), nl),
        "l_linestatus": _pick(rng, ("F", "O"), nl),
        "l_shipdate": _days(rng, nl, dt.datetime(1995, 1, 2), dt.datetime(2001, 11, 4)),
    })

    ne = n["events"]
    ts = np.sort(_us(dt.datetime(2024, 1, 1)) + rng.integers(0, 30 * _DAY_US, ne))
    props = [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne).tolist()]
    tables["events"] = pa.table({
        "event_id": np.arange(ne, dtype=np.int64),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": rng.integers(0, n["users"], ne),
        "event_type": _pick(rng, EVENT_TYPES, ne),
        "value": np.maximum(0.01, np.round(rng.exponential(50.0, ne), 2)),
        "props": pa.array(props, pa.string()),
    })

    tables["documents"] = _documents(rng, n["documents"])

    nv = n["embeddings"]
    vec = rng.standard_normal((nv, EMBED_DIM)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    flat = pa.FixedSizeListArray.from_arrays(pa.array(vec.ravel()), EMBED_DIM)
    tables["embeddings"] = pa.table({
        "vec_id": np.arange(nv, dtype=np.int64),
        "embedding": flat.cast(pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, nv), pa.int32()),
    })

    sizes = {}
    for name, table in tables.items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(table, path, compression="snappy")
        sizes[name] = os.path.getsize(path)
    return sizes


def _documents(rng, nd: int) -> pa.Table:
    """Random-word documents; about 5% repeat an earlier document with a
    ' dup' tail (the near-duplicates the dedup queries look for)."""
    vocab = np.asarray(VOCAB, dtype=object)
    lengths = rng.integers(10, 101, nd)
    near_dup = rng.random(nd) < 0.05
    texts: list[str] = []
    for i in range(nd):
        if near_dup[i] and i > 0:
            base = texts[int(rng.integers(0, i))]
            texts.append(base + " dup" * int(rng.integers(1, 3)))
        else:
            texts.append(" ".join(vocab[rng.integers(0, len(vocab), lengths[i])]))
    return pa.table({
        "doc_id": np.arange(nd, dtype=np.int64),
        "text": pa.array(texts, pa.string()),
        "lang": _pick(rng, LANGS, nd, p=LANG_P),
        "source": pa.array([f"src{i % 20}" for i in range(nd)], pa.string()),
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


# --- etl_load inbound files --------------------------------------------------

ETL_TABLE = "orders"
ETL_SCHEMA = {
    "order_id": "bigint",
    "customer_id": "bigint",
    "status": "string",
    "amount": "double",
    "quantity": "int",
    "updated_at": "string",
}
ETL_PK = ["order_id"]
ETL_STATUSES = ("NEW", "PAID", "SHIPPED", "RETURNED")


def etl_days(n_days: int) -> list[str]:
    first = dt.date(2024, 3, 1)
    return [(first + dt.timedelta(days=i)).strftime("%Y%m%d") for i in range(n_days)]


def make_inbound(
    out_dir: str, seed: int, n_days: int, rows_per_day: int, repeat_share: float = 0.2
) -> dict[str, str]:
    """Write ``n_days`` daily CSV files and one re-delivered correction.

    - ``daily/orders_<YYYYMMDD>.csv``: ``rows_per_day`` rows, ``order_id``
      distinct within a file; ``repeat_share`` of each later day's keys
      repeat keys of earlier days (another ``(pk, dt)`` row for MERGE);
    - ``correction/orders_<YYYYMMDD>.csv``: a re-delivery for the second
      day whose first half updates that day's rows and second half adds new
      keys, so MERGE hits matched rows.

    The ``YYYYMMDD`` run in each name is what ``dt_from_filename`` turns
    into the ``dt`` partition. Returns ``{"daily": dir, "correction": dir}``."""
    if n_days < 2:
        raise ValueError("etl inputs need at least two days")
    rng = np.random.default_rng([seed, 2])
    days = etl_days(n_days)
    dirs = {"daily": os.path.join(out_dir, "daily"), "correction": os.path.join(out_dir, "correction")}
    for d in dirs.values():
        os.makedirs(d, exist_ok=True)
    next_key = 0
    keys_by_day: list[np.ndarray] = []
    for i, day in enumerate(days):
        n_rep = int(rows_per_day * repeat_share) if i else 0
        rep = rng.choice(np.concatenate(keys_by_day), n_rep, replace=False) if n_rep else []
        fresh = np.arange(next_key, next_key + rows_per_day - n_rep, dtype=np.int64)
        next_key += len(fresh)
        keys = rng.permutation(np.concatenate([rep, fresh]).astype(np.int64))
        keys_by_day.append(keys)
        _write_orders_csv(os.path.join(dirs["daily"], f"{ETL_TABLE}_{day}.csv"), rng, keys, day)
    n_corr = max(2, rows_per_day // 5)
    updated = rng.choice(keys_by_day[1], n_corr // 2, replace=False)
    new = np.arange(next_key, next_key + n_corr - len(updated), dtype=np.int64)
    keys = rng.permutation(np.concatenate([updated, new]))
    _write_orders_csv(os.path.join(dirs["correction"], f"{ETL_TABLE}_{days[1]}.csv"), rng, keys, days[1])
    return dirs


def _write_orders_csv(path: str, rng, keys: np.ndarray, day: str) -> None:
    n = len(keys)
    cust = rng.integers(0, 50_000, n).tolist()
    status = np.asarray(ETL_STATUSES, dtype=object)[rng.integers(0, len(ETL_STATUSES), n)].tolist()
    amount = np.round(rng.uniform(1.0, 5000.0, n), 2).tolist()
    qty = rng.integers(1, 100, n).tolist()
    secs = rng.integers(0, 86_400, n).tolist()
    date = f"{day[:4]}-{day[4:6]}-{day[6:]}"
    lines = [",".join(ETL_SCHEMA)]
    for k, c, s, a, q, t in zip(keys.tolist(), cust, status, amount, qty, secs):
        lines.append(f"{k},{c},{s},{a:.2f},{q},{date} {t // 3600:02d}:{t // 60 % 60:02d}:{t % 60:02d}")
    with open(path, "w", encoding="ascii", newline="\n") as fh:
        fh.write("\n".join(lines) + "\n")
