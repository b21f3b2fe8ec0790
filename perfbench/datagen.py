"""Seeded workload generator: tables and operation plans.

Everything the system under test receives is made here, from the seed
alone, before any timed call: the ten parquet tables the registry reads
(same names, columns and types as the engine's test data, same
value distributions), and the per-workload operation plans (query order
per round, the request schedule, the lake cycles). Nothing here imports
Spark or the engine, so the generator cannot share state with the calls
it feeds.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EPOCH_1995 = np.datetime64("1995-01-01", "D")

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, start, n_days, n):
    d = start + rng.integers(0, n_days, n).astype("timedelta64[D]")
    return pa.array(d.astype("datetime64[us]"), pa.timestamp("us"))


def _texts(rng, n, dup_frac=0.0, near_frac=0.05):
    """Random word sequences. A ``dup_frac`` share repeats an earlier
    text exactly and a ``near_frac`` share copies one with a tenth of
    its words replaced, so the dedup and near-dup operators find work."""
    out = []
    for _ in range(n):
        r = rng.random()
        if out and r < dup_frac:
            out.append(out[int(rng.integers(0, len(out)))])
            continue
        if out and r < dup_frac + near_frac:
            words = out[int(rng.integers(0, len(out)))].split()
            for j in rng.choice(len(words), max(1, len(words) // 10), replace=False):
                words[j] = WORDS[int(rng.integers(0, len(WORDS)))]
            out.append(" ".join(words))
            continue
        k = int(rng.integers(8, 95))
        out.append(" ".join(WORDS[j] for j in rng.integers(0, len(WORDS), k)))
    return out


def make_tables(sf: float, seed: int) -> dict[str, pa.Table]:
    """The registry's ten tables at scale ``sf``; row counts follow the
    engine's test data (lineitem = 6M x sf, documents >= 500, ...)."""
    rng = np.random.default_rng(seed)
    n_cust = max(int(150_000 * sf), 150)
    n_supp = max(int(10_000 * sf), 10)
    n_part = max(int(200_000 * sf), 200)
    n_ord = max(int(1_500_000 * sf), 1500)
    n_line = max(int(6_000_000 * sf), 6000)
    n_ev = max(int(1_000_000 * sf), 1000)
    n_doc = max(int(50_000 * sf), 500)
    n_emb = max(int(20_000 * sf), 500)
    n_users = max(int(15_000 * sf), 15)

    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    t["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, n_cust)],
    })
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    adj = rng.integers(0, 8, n_part)
    noun = rng.integers(0, 8, n_part)
    t["part"] = pa.table({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in zip(adj, noun)],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": [PART_TYPES[i] for i in rng.integers(0, 6, n_part)],
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) * 0.1, 1),
    })
    t["orders"] = orders_table(rng, 0, n_ord, n_cust)
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_line),
        "l_partkey": rng.integers(0, n_part, n_line),
        "l_suppkey": rng.integers(0, n_supp, n_line),
        "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 105_000, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, n_line)],
        "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, n_line)],
        "l_shipdate": _days(rng, EPOCH_1995 + 1, 2497, n_line),
    })
    step_us = rng.integers(1, int(2 * 30 * 86_400e6 / n_ev), n_ev)
    ts = np.datetime64("2024-01-01", "us") + np.cumsum(step_us).astype("timedelta64[us]")
    t["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": rng.integers(0, n_users, n_ev),
        "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, n_ev)],
        "value": _money(rng, 0.01, 500.0, n_ev),
        "props": [f'{{"k": {i}}}' for i in rng.integers(0, 100, n_ev)],
    })
    t["documents"] = documents_table(rng, 0, n_doc)
    emb = rng.standard_normal((n_emb, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n_emb).astype(np.int32),
    })
    return t


def orders_table(rng, first_key: int, n: int, n_cust: int) -> pa.Table:
    return pa.table({
        "o_orderkey": np.arange(first_key, first_key + n, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n),
        "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, n)],
        "o_totalprice": _money(rng, 1000, 500_000, n),
        "o_orderdate": _days(rng, EPOCH_1995, 2404, n),
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, n)],
    })


def documents_table(rng, first_id: int, n: int, dup_frac=0.0) -> pa.Table:
    texts = _texts(rng, n, dup_frac)
    return pa.table({
        "doc_id": np.arange(first_id, first_id + n, dtype=np.int64),
        "text": texts,
        "lang": [LANGS[i] for i in rng.choice(5, n, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(first_id, first_id + n)],
        "n_chars": np.array([len(s) for s in texts], dtype=np.int64),
    })


def write_tables(tables: dict[str, pa.Table], out_dir: str) -> str:
    os.makedirs(out_dir, exist_ok=True)
    for name, tbl in tables.items():
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))
    return out_dir


# ---------------------------------------------------------------- plans


def batch_order(names: list[str], seed: int, round_no: int) -> list[str]:
    """The headline set in this round's seeded order."""
    rng = np.random.default_rng([seed, round_no])
    return [names[i] for i in rng.permutation(len(names))]


#: the registered reports the serve mix draws from (the reference's
#: /data/pivot_report and /data/joined_df3 plus light registry reports)
SERVE_REPORTS = [
    "pivot_report", "live_comparison", "pricing_summary",
    "filters_inlist_range", "first_match_join", "window_suite",
]

#: ad-hoc analyst join-aggregates; ``{lit}`` takes a seeded literal so
#: every request is a fresh parse + analysis
SERVE_SQL = [
    "SELECT n.n_name, count(*) AS n_orders, sum(o.o_totalprice) AS total "
    "FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey "
    "JOIN nation n ON c.c_nationkey = n.n_nationkey "
    "WHERE o.o_totalprice > {lit} GROUP BY n.n_name",
    "SELECT l.l_returnflag, l.l_linestatus, count(*) AS n, "
    "sum(l.l_quantity) AS qty FROM lineitem l JOIN orders o "
    "ON l.l_orderkey = o.o_orderkey WHERE o.o_custkey % 97 = {lit} % 97 "
    "GROUP BY l.l_returnflag, l.l_linestatus",
    "SELECT p.p_type, count(*) AS n, max(l.l_extendedprice) AS top "
    "FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey "
    "WHERE p.p_size <= {lit} % 50 + 1 GROUP BY p.p_type",
]


@dataclass
class Request:
    due_s: float  # offset from the start of the open loop
    path: str
    params: dict
    kind: str  # "report" | "sql"
    name: str  # the report, or the ad-hoc template as "sql<i>"


def serve_schedule(seed: int, rounds: int, rate: float, first: int = 0) -> list[Request]:
    """Open-loop arrivals, ``rounds`` rounds of one request per kind:
    every report of ``SERVE_REPORTS`` (6) and every ``SERVE_SQL``
    template (3) with a seeded literal, about 70/30. The order is
    seeded per round; arrivals are evenly spaced at ``rate`` with a
    seeded jitter of at most a quarter interval. Round ``first`` is the
    first one drawn, so later windows get fresh literals."""
    gap = 1.0 / rate
    out = []
    for r in range(first, first + rounds):
        rng = np.random.default_rng([seed, 7, r])
        kinds = ([("report", n) for n in SERVE_REPORTS]
                 + [("sql", k) for k in range(len(SERVE_SQL))])
        for i in rng.permutation(len(kinds)):
            kind, what = kinds[i]
            due = len(out) * gap + float(rng.uniform(0, gap / 4))
            if kind == "report":
                out.append(Request(due, f"/data/{what}", {"limit": ["200"]}, kind, what))
            else:
                q = SERVE_SQL[what].format(lit=int(rng.integers(1000, 400_000)))
                out.append(Request(due, "/sql", {"q": [q], "limit": ["200"]}, kind, f"sql{what}"))
    return out


@dataclass
class Cycle:
    number: int  # the ledger txn version of this delivery
    orders: pa.Table  # the slice appended and upserted
    redeliver: int | None  # an earlier cycle re-delivered after this one
    probe_keys: list[int]  # point lookups for read_where_in
    docs: pa.Table  # the ingest micro-batch
    travel: list[int]  # how many versions back each time-travel read goes


def lake_cycles(seed: int, n_cycles: int, rows: int, docs: int,
                n_cust: int = 15_000) -> list[Cycle]:
    """Seeded micro-batches. Each cycle's slice overlaps the previous
    key range by a third, so the ledger upsert updates as well as
    inserts; every third cycle re-delivers an earlier batch."""
    rng = np.random.default_rng([seed, 11])
    out = []
    first = 0
    for c in range(n_cycles):
        first = max(first - rows // 3, 0)
        orders = orders_table(rng, first, rows, n_cust)
        first += rows
        redeliver = int(rng.integers(0, c)) if c >= 2 and c % 3 == 2 else None
        keys = orders.column("o_orderkey").to_numpy()
        probe = sorted(int(k) for k in rng.choice(keys, 8, replace=False))
        # one time-travel read a few versions back, one far back (the
        # workload clamps it to the oldest version it committed)
        travel = [int(rng.integers(1, 8)), int(rng.integers(20, 40))]
        out.append(Cycle(
            c, orders, redeliver, probe,
            documents_table(rng, 1_000_000 + c * docs, docs, dup_frac=0.2),
            travel=travel,
        ))
    return out
