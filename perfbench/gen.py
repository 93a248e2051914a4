"""Seeded input generator for the benchmark.

Everything is synthesized from ``--seed`` with numpy; nothing is read
from outside the checkout.  The tables follow the engine's test-data
layout (``{dir}/{table}.parquet``, one file each) with the same schemas,
value domains and duplicate structure as the star-schema test data the
registry entries are written against:

- TPC-H-ish ``region nation customer supplier part orders lineitem``;
- ``events``: strictly increasing microsecond timestamps over 30 days;
- ``documents``: 10-100 words from a 30-word vocabulary, 5% planted near
  duplicates (another document's text plus `` dup``);
- ``embeddings``: 64-d unit vectors with a 10-class label.

``change_log`` builds the ``elt_merge`` input: a base snapshot plus
batches of updates, inserts, hard deletes, re-sent boundary rows and
stale re-sends.  Hard deletes carry a non-NULL ``deleted`` marker and live
rows carry NULL, because ``merge_dataframes`` deletes on non-NULL.

The same seed gives byte-identical files: every table has its own
``default_rng([seed, salt])`` stream, and tables are written from arrow
arrays (no pandas metadata, fixed compression).
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ("en", "zh", "es", "fr", "de")
LANG_P = (0.41, 0.1475, 0.1475, 0.1475, 0.1475)
SEGMENTS = ("MACHINERY", "FURNITURE", "BUILDING", "AUTOMOBILE", "HOUSEHOLD")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
P_TYPES = ("MEDIUM", "STANDARD", "LARGE", "PROMO", "SMALL", "ECONOMY")
ADJ = ("small", "red", "blue", "hot", "large", "green", "cold", "shiny")
NOUN = ("ring", "widget", "bolt", "gear", "nut", "screw", "spring", "valve")
EVENT_TYPES = ("signup", "error", "click", "view", "purchase")

_US_PER_DAY = 86_400_000_000
_D1995 = int(np.datetime64("1995-01-01", "us").astype(np.int64))
_D2024 = int(np.datetime64("2024-01-01", "us").astype(np.int64))


def _rng(seed: int, salt: int) -> np.random.Generator:
    return np.random.default_rng([seed, salt])


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, values, n: int, p=None) -> pa.Array:
    idx = rng.choice(len(values), size=n, p=p)
    return pa.DictionaryArray.from_arrays(
        pa.array(idx, pa.int32()), pa.array(values)
    ).cast(pa.string())


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("datetime64[us]"), pa.timestamp("us"))


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, compression="snappy", use_dictionary=True,
                   write_statistics=True)


def sizes(sf: float) -> dict[str, int]:
    """Row counts per scale factor (the test data's ratios)."""
    return {
        "customer": int(150_000 * sf),
        "supplier": int(10_000 * sf),
        "part": int(200_000 * sf),
        "orders": int(1_500_000 * sf),
        "lineitem": int(6_000_000 * sf),
        "events": int(1_000_000 * sf),
        "users": int(15_000 * sf),
        "documents": max(500, int(50_000 * sf)),
        "embeddings": max(500, int(20_000 * sf)),
    }


def _documents(rng, n: int) -> pa.Table:
    lens = rng.integers(10, 101, n)
    words = rng.integers(0, len(VOCAB), int(lens.sum()))
    ends = np.cumsum(lens)
    texts = [" ".join(VOCAB[w] for w in words[e - k:e]) for e, k in zip(ends, lens)]
    # 5% planted near duplicates, each of a different original document
    # (its text + " dup"), so every seed has the same duplicate structure
    dup = rng.choice(n, size=n // 20, replace=False)
    originals = rng.choice(np.setdiff1d(np.arange(n), dup), size=len(dup), replace=False)
    for i, j in zip(dup, originals):
        texts[i] = texts[j] + " dup"
    ids = np.arange(n, dtype=np.int64)
    return pa.table({
        "doc_id": ids,
        "text": pa.array(texts),
        "lang": _pick(rng, LANGS, n, LANG_P),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng, n: int) -> pa.Table:
    x = rng.standard_normal((n, 64)).astype(np.float32)
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    emb = pa.FixedSizeListArray.from_arrays(pa.array(x.ravel()), 64).cast(
        pa.list_(pa.float32()))
    return pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": emb,
        "label": pa.array(rng.integers(0, 10, n), pa.int32()),
    })


def star_schema(out_dir: str, sf: float, seed: int) -> dict[str, int]:
    """Write the ten tables at scale ``sf``; returns their row counts."""
    os.makedirs(out_dir, exist_ok=True)
    n = sizes(sf)
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    r = _rng(seed, 3)
    k = n["customer"]
    t["customer"] = pa.table({
        "c_custkey": np.arange(k, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(k)],
        "c_nationkey": pa.array(r.integers(0, 25, k), pa.int32()),
        "c_acctbal": _money(r, -999.99, 9999.99, k),
        "c_mktsegment": _pick(r, SEGMENTS, k),
    })
    r = _rng(seed, 4)
    k = n["supplier"]
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(k, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(k)],
        "s_nationkey": pa.array(r.integers(0, 25, k), pa.int32()),
        "s_acctbal": _money(r, -999.99, 9999.99, k),
    })
    r = _rng(seed, 5)
    k = n["part"]
    keys = np.arange(k, dtype=np.int64)
    names = [f"{a} {b}" for a in ADJ for b in NOUN]
    t["part"] = pa.table({
        "p_partkey": keys,
        "p_name": _pick(r, names, k),
        "p_brand": _pick(r, [f"Brand#{i}" for i in range(1, 26)], k),
        "p_type": _pick(r, P_TYPES, k),
        "p_size": pa.array(r.integers(1, 51, k), pa.int32()),
        "p_retailprice": np.round(900.0 + (keys % 1000) / 10.0, 2),
    })
    r = _rng(seed, 6)
    k = n["orders"]
    t["orders"] = pa.table({
        "o_orderkey": np.arange(k, dtype=np.int64),
        "o_custkey": r.integers(0, n["customer"], k).astype(np.int64),
        "o_orderstatus": _pick(r, ("F", "O", "P"), k),
        "o_totalprice": _money(r, 1000.0, 500_000.0, k),
        "o_orderdate": _ts(_D1995 + r.integers(0, 2405, k) * _US_PER_DAY),
        "o_orderpriority": _pick(r, PRIORITIES, k),
    })
    r = _rng(seed, 7)
    k = n["lineitem"]
    t["lineitem"] = pa.table({
        "l_orderkey": r.integers(0, n["orders"], k).astype(np.int64),
        "l_partkey": r.integers(0, n["part"], k).astype(np.int64),
        "l_suppkey": r.integers(0, n["supplier"], k).astype(np.int64),
        "l_linenumber": pa.array(r.integers(1, 8, k), pa.int32()),
        "l_quantity": r.integers(1, 51, k).astype(np.float64),
        "l_extendedprice": _money(r, 900.0, 105_000.0, k),
        "l_discount": r.integers(0, 11, k) / 100.0,
        "l_tax": r.integers(0, 9, k) / 100.0,
        "l_returnflag": _pick(r, ("A", "N", "R"), k),
        "l_linestatus": _pick(r, ("O", "F"), k),
        "l_shipdate": _ts(_D1995 + (1 + r.integers(0, 2499, k)) * _US_PER_DAY),
    })
    r = _rng(seed, 8)
    k = n["events"]
    us = np.sort(r.integers(0, 30 * _US_PER_DAY, k))
    steps = np.arange(k)
    us = np.maximum.accumulate(us - steps) + steps  # strictly increasing
    t["events"] = pa.table({
        "event_id": np.arange(k, dtype=np.int64),
        "ts": _ts(_D2024 + us),
        "user_id": r.integers(0, n["users"], k).astype(np.int64),
        "event_type": _pick(r, EVENT_TYPES, k),
        "value": np.round(r.exponential(50.0, k), 2),
        "props": pa.array([f'{{"k": {v}}}' for v in r.integers(0, 100, k)]),
    })
    t["documents"] = _documents(_rng(seed, 9), n["documents"])
    t["embeddings"] = _embeddings(_rng(seed, 10), n["embeddings"])
    for name, table in t.items():
        _write(table, os.path.join(out_dir, f"{name}.parquet"))
    return {name: table.num_rows for name, table in t.items()}


CHANGE_SCHEMA = pa.schema([
    ("id", pa.int64()),
    ("lsn", pa.int64()),
    ("updated_at", pa.int64()),
    ("amount", pa.float64()),
    ("status", pa.string()),
    ("note", pa.string()),
    ("deleted", pa.string()),
])
STATUSES = ("new", "paid", "shipped", "returned", "closed")


def change_log(out_dir: str, seed: int, base_rows: int, batches: int,
               batch_rows: int) -> dict:
    """Write ``base.parquet`` and ``batch_NN.parquet`` for ``elt_merge``.

    Each batch has ``batch_rows`` new change rows (75% updates of live
    keys, 10% second updates of a key already changed in the batch, 12%
    inserts, 3% hard deletes) plus two kinds of re-read rows the
    incremental cursor must skip: the previous batch's rows at its maximum
    ``updated_at`` (sent again, as a ``>=`` re-read does) and a few stale
    rows from older batches.  The first new rows of each batch tie the
    previous batch's maximum ``updated_at``, so a ``>`` cursor would lose
    them.  ``lsn`` is unique and increasing; the latest row per key by
    ``lsn`` is the true table state.
    """
    os.makedirs(out_dir, exist_ok=True)
    r = _rng(seed, 20)
    live = np.arange(base_rows, dtype=np.int64)
    next_id = base_rows
    lsn = 0

    def rows(ids, t, deleted):
        nonlocal lsn
        k = len(ids)
        out = {
            "id": ids.astype(np.int64),
            "lsn": np.arange(lsn, lsn + k, dtype=np.int64),
            "updated_at": t.astype(np.int64),
            "amount": _money(r, 1.0, 10_000.0, k),
            "status": _pick(r, STATUSES, k),
            "note": pa.array([f"n{v:06d}" for v in r.integers(0, 1_000_000, k)]),
            "deleted": pa.array(deleted, pa.string()),
        }
        lsn += k
        return pa.table(out, schema=CHANGE_SCHEMA)

    base = rows(live, np.zeros(base_rows, np.int64), [None] * base_rows)
    _write(base.drop_columns(["deleted"]), os.path.join(out_dir, "base.parquet"))
    t0 = 1_000_000
    prev_boundary: pa.Table | None = None
    prev_tmax = 0
    history: list[pa.Table] = []
    for b in range(batches):
        n_upd = int(batch_rows * 0.75)
        n_twice = int(batch_rows * 0.10)
        n_ins = int(batch_rows * 0.12)
        n_del = batch_rows - n_upd - n_twice - n_ins
        pick = r.choice(len(live), size=n_upd + n_del, replace=False)
        upd_ids, del_ids = live[pick[:n_upd]], live[pick[n_upd:]]
        twice_ids = r.choice(upd_ids, size=n_twice, replace=False)
        ins_ids = np.arange(next_id, next_id + n_ins, dtype=np.int64)
        next_id += n_ins
        # change order: updates+inserts interleaved, then second updates,
        # then deletes; cursor values never decrease within the batch
        first = np.concatenate([upd_ids, ins_ids])
        r.shuffle(first)
        ids = np.concatenate([first, twice_ids, del_ids])
        k = len(ids)
        t = np.sort(r.integers(0, 1000, k)) + t0 + b * 1000
        if prev_boundary is not None:
            t[:5] = prev_tmax  # ties the previous batch's maximum cursor
        deleted = [None] * (k - n_del) + ["D"] * n_del
        new = rows(ids, t, deleted)
        parts = [new]
        if prev_boundary is not None:
            parts.append(prev_boundary)
        if history:
            old = pa.concat_tables(history)
            parts.append(old.take(r.choice(old.num_rows, size=20, replace=False)))
        batch = pa.concat_tables(parts)
        _write(batch, os.path.join(out_dir, f"batch_{b:02d}.parquet"))
        prev_tmax = int(t.max())
        prev_boundary = new.filter(pc.equal(new["updated_at"], prev_tmax))
        history.append(new)
        keep = np.ones(len(live), bool)
        keep[pick[n_upd:]] = False
        live = np.concatenate([live[keep], ins_ids])
    return {"base_rows": base_rows, "batches": batches, "batch_rows": batch_rows,
            "final_live": int(len(live))}
