"""Seeded input generator for the benchmark.

Writes the ten tables the engine reads (``session.TABLES``) as single
parquet files, with the schemas and value domains of the sf0.1 test
fixtures, at ``SCALE`` times their row counts. The hot-key geometry
follows ``tools/scalecheck.py``'s ``gen_*`` functions: ten power users
absorb 1/37 of all orders and events (their events bunched into one
six-hour burst), ten blockbuster parts absorb 1/200 of all order lines,
and documents and embeddings carry planted near-duplicates.

The same seed gives byte-identical files: every random draw comes from
one ``numpy.random.Generator`` seeded with the seed, and the parquet
writer gets fixed options.

Usage: python3 perfbench/gen.py --seed 1 --out DIR
"""

from __future__ import annotations

import argparse
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Share of the sf0.1 fixture's row counts. Chosen so that each
# workload's fixed pass list fits the benchmark's run length on 4 cores.
SCALE = 0.1

BASE_ROWS = {
    "supplier": 1_000,
    "customer": 15_000,
    "part": 20_000,
    "orders": 150_000,
    "events": 100_000,
    "documents": 5_000,
    "embeddings": 2_000,
}

N_POWER = 10  # power users / blockbuster parts, as in tools/scalecheck.py

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
P_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
P_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()

DAY_US = 86_400 * 1_000_000


def _rows(name: str) -> int:
    return max(N_POWER * 10, int(BASE_ROWS[name] * SCALE))


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, values: list[str], n: int) -> pa.Array:
    return pa.array(np.array(values)[rng.integers(0, len(values), n)])


def _keyed(prefix: str, keys: np.ndarray) -> pa.Array:
    return pa.array([f"{prefix}#{k:09d}" for k in keys])


def _hot(rng, n: int, n_keys: int, every: int) -> np.ndarray:
    """Uniform keys in [N_POWER, n_keys) except that 1/every of the rows
    go to the N_POWER hot keys 0..N_POWER-1."""
    keys = rng.integers(N_POWER, n_keys, n)
    hot = rng.random(n) < 1.0 / every
    keys[hot] = rng.integers(0, N_POWER, int(hot.sum()))
    return keys


def _dims(rng) -> dict[str, pa.Table]:
    n_supp, n_cust, n_part = _rows("supplier"), _rows("customer"), _rows("part")
    sk, ck, pk = np.arange(n_supp), np.arange(n_cust), np.arange(n_part)
    nk = np.arange(25, dtype=np.int32)
    return {
        "region": pa.table({
            "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
            "r_name": pa.array(REGIONS),
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(nk),
            "n_name": pa.array([f"NATION_{k}" for k in nk]),
            "n_regionkey": pa.array(nk % 5),
        }),
        "supplier": pa.table({
            "s_suppkey": pa.array(sk),
            "s_name": _keyed("Supplier", sk),
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp, dtype=np.int32)),
            "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp)),
        }),
        "customer": pa.table({
            "c_custkey": pa.array(ck),
            "c_name": _keyed("Customer", ck),
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust, dtype=np.int32)),
            "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust)),
            "c_mktsegment": _pick(rng, SEGMENTS, n_cust),
        }),
        "part": pa.table({
            "p_partkey": pa.array(pk),
            "p_name": pa.array([
                f"{P_ADJ[a]} {P_NOUN[b]}"
                for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
            ]),
            "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
            "p_type": _pick(rng, P_TYPES, n_part),
            "p_size": pa.array(rng.integers(1, 51, n_part, dtype=np.int32)),
            "p_retailprice": pa.array(900.0 + (pk % 1000) / 10.0),
        }),
    }


def _orders_lineitem(rng) -> dict[str, pa.Table]:
    n_ord, n_cust, n_part = _rows("orders"), _rows("customer"), _rows("part")
    ok = np.arange(n_ord)
    odate = np.datetime64("1995-01-01", "D") + rng.integers(0, 2405, n_ord)
    orders = pa.table({
        "o_orderkey": pa.array(ok),
        "o_custkey": pa.array(_hot(rng, n_ord, n_cust, 37)),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
        "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, n_ord)),
        "o_orderdate": pa.array(odate.astype("datetime64[us]")),
        "o_orderpriority": _pick(rng, PRIORITIES, n_ord),
    })

    per_order = rng.integers(1, 8, n_ord)
    l_order = np.repeat(ok, per_order)
    n = len(l_order)
    first = np.repeat(np.cumsum(per_order) - per_order, per_order)
    part = _hot(rng, n, n_part, 200)
    qty = rng.integers(1, 51, n).astype(np.float64)
    ship = odate[l_order] + rng.integers(1, 122, n)
    lineitem = pa.table({
        "l_orderkey": pa.array(l_order),
        "l_partkey": pa.array(part),
        "l_suppkey": pa.array(rng.integers(0, _rows("supplier"), n)),
        "l_linenumber": pa.array((np.arange(n) - first + 1).astype(np.int32)),
        "l_quantity": pa.array(qty),
        # whole hundreds: price * (1 - discount) * (1 + tax) then has at
        # most two decimals, so the oracles' 2-decimal sums never land on
        # a rounding tie that floating-point summation order could flip
        "l_extendedprice": pa.array(100.0 * np.round(
            qty * (900.0 + (part % 1000) / 10.0) * rng.uniform(0.95, 1.05, n) / 100.0)),
        "l_discount": pa.array(rng.integers(0, 11, n) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n) / 100.0),
        "l_returnflag": _pick(rng, ["A", "N", "R"], n),
        "l_linestatus": _pick(rng, ["F", "O"], n),
        "l_shipdate": pa.array(ship.astype("datetime64[us]")),
    })
    return {"orders": orders, "lineitem": lineitem}


def _events(rng) -> pa.Table:
    n = _rows("events")
    n_users = max(N_POWER * 10, int(1500 * SCALE))
    user = _hot(rng, n, n_users, 37)
    off = rng.integers(0, 30 * DAY_US, n)
    # power users are a bot burst: all their events fall in one six-hour
    # window of day 1, so their sessions are the long ones
    burst = user < N_POWER
    off[burst] = rng.integers(0, DAY_US // 4, int(burst.sum()))
    order = np.argsort(off, kind="stable")
    ts = np.datetime64("2024-01-01", "us") + off[order]
    return pa.table({
        "event_id": pa.array(np.arange(n)),
        "ts": pa.array(ts),
        "user_id": pa.array(user[order]),
        "event_type": _pick(rng, EVENT_TYPES, n),
        "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    })


def _documents(rng) -> pa.Table:
    n = _rows("documents")
    words = np.array(WORDS)
    toks: list[np.ndarray] = []
    for i in range(n):
        r = rng.random()
        if i >= 50 and r < 0.02:  # exact duplicate
            t = toks[i - int(rng.integers(1, 50))].copy()
        elif i >= 50 and r < 0.14:  # near duplicate: ~15% of tokens mutated
            t = toks[i - int(rng.integers(1, 50))].copy()
            flip = rng.random(len(t)) < 0.15
            t[flip] = rng.integers(0, len(words), int(flip.sum()))
        else:
            t = rng.integers(0, len(words), int(rng.integers(10, 101)))
        toks.append(t)
    texts = [" ".join(words[t]) for t in toks]
    return pa.table({
        "doc_id": pa.array(np.arange(n)),
        "text": pa.array(texts),
        "lang": _pick(rng, LANGS, n),
        "source": pa.array([f"src{s}" for s in rng.integers(0, 20, n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })


def _embeddings(rng) -> pa.Table:
    n, dim = _rows("embeddings"), 64
    centers = rng.normal(0.0, 1.0, (10, dim))
    labels = rng.integers(0, 10, n).astype(np.int32)
    vecs = centers[labels] + rng.normal(0.0, 2.4, (n, dim))
    # 4% planted near-duplicates of a recent vector
    for i in np.flatnonzero(rng.random(n) < 0.04):
        if i >= 20:
            j = i - int(rng.integers(1, 20))
            vecs[i] = vecs[j] + rng.normal(0.0, 0.05, dim)
            labels[i] = labels[j]
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    return pa.table({
        "vec_id": pa.array(np.arange(n)),
        "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(labels),
    })


def generate(seed: int, out: str) -> None:
    """Write every table for ``seed`` into ``out`` (created if missing)."""
    rng = np.random.default_rng(seed)
    tables = _dims(rng)
    tables.update(_orders_lineitem(rng))
    tables["events"] = _events(rng)
    tables["documents"] = _documents(rng)
    tables["embeddings"] = _embeddings(rng)
    os.makedirs(out, exist_ok=True)
    for name, tbl in tables.items():
        pq.write_table(tbl, os.path.join(out, f"{name}.parquet"),
                       compression="snappy", store_schema=False)


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    generate(args.seed, args.out)


if __name__ == "__main__":
    main()
