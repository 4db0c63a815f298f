"""Seeded synthetic inputs for the benchmark.

``write_tables`` writes the ten source tables the registered queries read
(the TPC-H-like star schema plus ``events``, ``documents`` and
``embeddings``), with the column names, types and value domains of the
repository's test data (TESTDATA.md), scaled by ``sf`` (sf=1 would be 6M
lineitem rows).

``write_ticks`` writes the ``txtable_ingest`` tick stream: per tick one
keyed events batch (a fixed share of keys updating earlier rows) and one
documents batch with planted exact and near duplicates, plus the point
lookups and delete sets the loop issues. Everything derives from the seed
alone, so the same seed gives byte-identical inputs.
"""

from __future__ import annotations

import json
import os
import shutil
from pathlib import Path

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
P_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
P_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "zh", "es", "de", "fr"]
LANG_P = [0.43, 0.15, 0.14, 0.14, 0.14]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]


def _write(df: pd.DataFrame, path: Path) -> None:
    # pandas -> arrow without the index; microsecond timestamps like the
    # repository's test files (Spark 4 rejects parquet TIMESTAMP(NANOS)).
    table = pa.Table.from_pandas(df, preserve_index=False)
    pq.write_table(table, path, coerce_timestamps="us")


def _days(rng, lo: str, n_days: int, size: int) -> np.ndarray:
    base = np.datetime64(lo, "us")
    return base + rng.integers(0, n_days, size).astype("timedelta64[D]")


def _texts(rng, n: int, dup_share: float) -> list[str]:
    """Random word texts; ``dup_share`` of them copy an earlier text with
    one appended word (near duplicates), and a tenth of those are exact
    copies."""
    lens = rng.integers(10, 101, n)
    out: list[str] = []
    for i in range(n):
        if out and rng.random() < dup_share:
            src = out[int(rng.integers(0, len(out)))]
            out.append(src if rng.random() < 0.1 else src + " dup")
        else:
            out.append(" ".join(rng.choice(WORDS, int(lens[i]))))
    return out


def _documents(rng, n: int) -> pd.DataFrame:
    text = _texts(rng, n, dup_share=0.05)
    ids = np.arange(n, dtype=np.int64)
    return pd.DataFrame({
        "doc_id": ids,
        "text": text,
        "lang": rng.choice(LANGS, n, p=LANG_P),
        "source": [f"src{i % 20}" for i in ids],
        "n_chars": np.array([len(t) for t in text], dtype=np.int64),
    })


def build_tables(sf: float, seed: int) -> dict[str, pd.DataFrame]:
    rng = np.random.default_rng(seed)
    n_cust, n_supp = int(150_000 * sf), max(int(10_000 * sf), 25)
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_line, n_ev = int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc, n_emb = int(50_000 * sf), int(20_000 * sf)
    n_users = max(int(15_000 * sf), 10)

    t: dict[str, pd.DataFrame] = {}
    t["region"] = pd.DataFrame({
        "r_regionkey": np.arange(5, dtype=np.int32), "r_name": REGIONS})
    t["nation"] = pd.DataFrame({
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype(np.int32)})
    t["customer"] = pd.DataFrame({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust)})
    t["supplier"] = pd.DataFrame({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)})
    pk = np.arange(n_part, dtype=np.int64)
    t["part"] = pd.DataFrame({
        "p_partkey": pk,
        "p_name": [f"{P_ADJ[a]} {P_NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(P_TYPES, n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": 900.0 + (pk % 1000) / 10.0})
    t["orders"] = pd.DataFrame({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n_ord), 2),
        "o_orderdate": _days(rng, "1995-01-01", 2405, n_ord),
        "o_orderpriority": rng.choice(PRIORITIES, n_ord)})
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    t["lineitem"] = pd.DataFrame({
        "l_orderkey": rng.integers(0, n_ord, n_line).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_line).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.lognormal(4.4, 1.0, n_line), 2) + 900.0,
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_line),
        "l_linestatus": rng.choice(["F", "O"], n_line),
        "l_shipdate": _days(rng, "1995-01-02", 2499, n_line)})
    ts = np.sort(np.datetime64("2024-01-01", "us")
                 + rng.integers(0, 30 * 86_400_000_000, n_ev).astype("timedelta64[us]"))
    t["events"] = pd.DataFrame({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": ts,
        "user_id": rng.integers(0, n_users, n_ev).astype(np.int64),
        "event_type": rng.choice(EVENT_TYPES, n_ev),
        "value": np.maximum(np.round(rng.exponential(50.0, n_ev), 2), 0.01),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    t["documents"] = _documents(rng, n_doc)
    labels = rng.integers(0, 10, n_emb).astype(np.int32)
    centers = rng.normal(0.0, 0.01, (10, 64))
    v = centers[labels] + rng.normal(0.0, 0.125, (n_emb, 64))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    t["embeddings"] = pd.DataFrame({
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": list(v.astype(np.float32)),
        "label": labels})
    return t


def write_tables(out_dir: Path, sf: float, seed: int) -> None:
    """Write every source table under ``out_dir`` (atomically: a partial
    directory from an interrupted run is never mistaken for a complete one)."""
    if (out_dir / "_SUCCESS").exists():
        return
    tmp = out_dir.with_name(out_dir.name + f".tmp{os.getpid()}")
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    for name, df in build_tables(sf, seed).items():
        _write(df, tmp / f"{name}.parquet")
    (tmp / "_SUCCESS").write_text(json.dumps({"sf": sf, "seed": seed}))
    shutil.rmtree(out_dir, ignore_errors=True)
    tmp.rename(out_dir)


# txtable_ingest stream shape: 64 ticks is far more than a run replays
N_TICKS = 64
INIT_ROWS = 20_000  # rows appended before the first tick
BATCH_ROWS = 2_000  # events per tick ...
UPDATE_SHARE = 0.2  # ... of which this share updates live keys ...
UPDATE_WINDOW = 3  # ... inserted by the last this many ticks
BATCH_DOCS = 100  # documents per tick ...
DUP_SHARE = 0.1  # ... of which this share are planted duplicates
LOOKUPS = 6  # point lookups per tick, half hits and half misses
DELETE_KEYS = 20  # recent live keys deleted by delete_keys every tick


def write_ticks(out_dir: Path, documents: Path, seed: int) -> None:
    """The ``txtable_ingest`` input stream, derived from ``seed`` alone.

    Keys grow with random gaps, so a point miss usually falls inside a
    data dir's min/max range and only the Bloom filter can skip it. Each
    tick's events batch updates ``UPDATE_SHARE`` of its rows' keys, drawn
    from the live keys the last ``UPDATE_WINDOW`` ticks inserted (late
    updates to recent events, so a merge pruned on the key leaves the
    initial rows alone; the first tick only inserts), and its
    ``delete_keys`` retracts ``DELETE_KEYS`` keys from the same window;
    its documents are originals drawn from ``documents``
    (without replacement) plus planted exact and near duplicates of
    documents ingested earlier in the stream. ``plan.json`` lists, per
    tick, the lookup keys (half hits, half misses), the slice, the keys to
    delete and the planted duplicate ids."""
    rng = np.random.default_rng(seed)
    out_dir.mkdir(parents=True, exist_ok=True)

    next_key = 0

    def new_keys(n: int) -> np.ndarray:
        nonlocal next_key
        ks = next_key + np.cumsum(rng.integers(1, 4, n))
        next_key = int(ks[-1]) + 1
        return ks.astype(np.int64)

    def events(keys: np.ndarray, tick: int) -> pd.DataFrame:
        n = len(keys)
        return pd.DataFrame({
            "key": keys.astype(np.int64),
            "tick": np.full(n, tick, dtype=np.int64),
            "user_id": rng.integers(0, 5000, n).astype(np.int64),
            "value": np.round(rng.exponential(50.0, n), 2),
        })

    init = new_keys(INIT_ROWS)
    live = set(init.tolist())
    recent: list[np.ndarray] = []  # keys inserted by the last ticks
    _write(events(init, 0), out_dir / "events_init.parquet")

    pool = pd.read_parquet(documents, columns=["text"])["text"]
    pool = pool[~pool.str.endswith(" dup")].drop_duplicates().tolist()
    order = rng.permutation(len(pool))
    drawn = 0
    stream_texts: list[str] = []
    doc_id = 1_000_000

    ticks = []
    for t in range(N_TICKS):
        pool_upd = [k for k in np.concatenate(recent or [np.empty(0, np.int64)]).tolist() if k in live]
        n_upd = int(round(BATCH_ROWS * UPDATE_SHARE)) if pool_upd else 0
        upd = rng.choice(np.array(pool_upd, dtype=np.int64), n_upd, replace=False) if n_upd else []
        inserted = new_keys(BATCH_ROWS - n_upd)
        keys = np.concatenate([upd, inserted]).astype(np.int64)
        _write(events(keys, t + 1), out_dir / f"events_{t:04d}.parquet")
        live.update(keys.tolist())
        recent = (recent + [inserted])[-UPDATE_WINDOW:]

        ids, texts, planted = [], [], []
        for _ in range(BATCH_DOCS):
            if stream_texts and rng.random() < DUP_SHARE:
                src = stream_texts[int(rng.integers(0, len(stream_texts)))]
                text = src if rng.random() < 0.2 else src + " dup"
                planted.append(doc_id)
            else:
                if drawn < len(pool):
                    text = pool[order[drawn]]
                    drawn += 1
                else:  # source exhausted: fresh random text
                    text = " ".join(rng.choice(WORDS, int(rng.integers(10, 101))))
                stream_texts.append(text)
            ids.append(doc_id)
            texts.append(text)
            doc_id += 1
        n = len(ids)
        _write(pd.DataFrame({
            "doc_id": np.array(ids, dtype=np.int64),
            "text": texts,
            "lang": rng.choice(LANGS, n, p=LANG_P),
            "source": [f"src{i % 20}" for i in ids],
            "n_chars": np.array([len(x) for x in texts], dtype=np.int64),
        }), out_dir / f"docs_{t:04d}.parquet")

        pool_del = np.array([k for k in np.concatenate(recent).tolist() if k in live], dtype=np.int64)
        dele = sorted(int(k) for k in rng.choice(pool_del, DELETE_KEYS, replace=False))
        live.difference_update(dele)
        live_arr = np.fromiter(live, dtype=np.int64)
        hits = rng.choice(live_arr, LOOKUPS // 2, replace=False)
        misses = []
        while len(misses) < LOOKUPS - LOOKUPS // 2:
            k = int(rng.integers(0, next_key))
            if k not in live:
                misses.append(k)
        look = [int(k) for k in hits] + misses
        rng.shuffle(look)
        lo = int(rng.integers(0, next_key))
        ticks.append({
            "lookups": look,
            "slice": [lo, lo + next_key // 100],
            "delete": dele,
            "planted": planted,
        })
    (out_dir / "plan.json").write_text(json.dumps({"seed": seed, "ticks": ticks}))
