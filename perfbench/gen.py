"""Seeded synthetic inputs for the benchmark workloads.

Every table the workloads read is generated here from ``--seed`` with
numpy's PCG64 generator, so the same seed gives byte-identical inputs
and the engine never reads anything it did not get from this module.
Shapes follow the star schema the engine's query registry is written
against (region, nation, customer, supplier, part, orders, lineitem,
events, documents): the same column names, types and value domains,
with row counts proportional to a scale factor ``sf`` (lineitem holds
about ``6_000_000 * sf`` rows).
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PART_ADJ = ("large", "small", "hot", "cold", "blue", "red", "green", "shiny")
PART_NOUN = ("ring", "bolt", "nut", "screw", "gear", "valve", "pipe", "spring")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
VOCAB = ("a", "agg", "batch", "big", "column", "customer", "data", "fast",
         "filter", "group", "hash", "join", "key", "line", "merge", "order",
         "part", "query", "row", "scan", "slow", "small", "sort", "spark",
         "stream", "table", "the", "value", "vector", "window")
LANGS = ("en", "en", "en", "de", "es", "fr", "zh")

# Base row counts at sf = 1 (lineitem holds 1-7 lines per order).
BASE_ROWS = {"customer": 150_000, "supplier": 10_000, "part": 200_000,
             "orders": 1_500_000, "events": 1_000_000, "documents": 50_000}
EVENTS_START = np.datetime64("2024-01-01T00:00:00", "us")
MONTH_US = 30 * 86_400 * 1_000_000
ORDER_DAY0 = np.datetime64("1995-01-01", "D")
ORDER_DAYS = 2404                      # 1995-01-01 .. 2001-08-01


def _rows(name: str, sf: float) -> int:
    return max(int(BASE_ROWS[name] * sf), 20)


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, values, n):
    return np.asarray(values, dtype=object)[rng.integers(0, len(values), n)]


def _write(out_dir: str, name: str, cols: dict) -> str:
    path = os.path.join(out_dir, f"{name}.parquet")
    pq.write_table(pa.table(cols), path)
    return path


def _events(rng, first_id: int, n: int, n_users: int,
            month: int) -> dict:
    """``n`` events of calendar-month slot ``month`` (30-day months from
    2024-01-01), sorted by time like an append-only event stream."""
    offs = np.sort(rng.integers(0, MONTH_US, n)) + month * MONTH_US
    return {
        "event_id": pa.array(np.arange(first_id, first_id + n), pa.int64()),
        "ts": pa.array(EVENTS_START + offs.astype("timedelta64[us]"),
                       pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n), pa.int64()),
        "event_type": pa.array(_pick(rng, EVENT_TYPES, n), pa.string()),
        "value": pa.array(np.round(rng.gamma(2.0, 30.0, n), 2), pa.float64()),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
                          pa.string()),
    }


def n_users(sf: float) -> int:
    return max(int(15_000 * sf), 10)


def generate_tables(out_dir: str, seed: int, sf: float,
                    tables: tuple[str, ...] | None = None) -> dict:
    """Write the star-schema tables for ``(seed, sf)`` into ``out_dir``
    as single parquet files. Returns ``{table: (rows, bytes)}``."""
    rng = np.random.default_rng([seed, 1])
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_supp, n_part = (_rows(t, sf) for t in
                              ("customer", "supplier", "part"))
    n_ord = _rows("orders", sf)
    out = {}

    def emit(name, cols):
        if tables is None or name in tables:
            p = _write(out_dir, name, cols)
            out[name] = (len(next(iter(cols.values()))), os.path.getsize(p))

    emit("region", {"r_regionkey": pa.array(range(5), pa.int32()),
                    "r_name": pa.array(REGIONS, pa.string())})
    emit("nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    emit("customer", {
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust)),
        "c_mktsegment": pa.array(_pick(rng, SEGMENTS, n_cust), pa.string())})
    emit("supplier", {
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp))})
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    emit("part", {
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": pa.array(_pick(rng, names, n_part), pa.string()),
        "p_brand": pa.array([f"Brand#{b}" for b in
                             rng.integers(1, 26, n_part)], pa.string()),
        "p_type": pa.array(_pick(rng, PART_TYPES, n_part), pa.string()),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": pa.array(
            np.round(900 + (np.arange(n_part) % 1000) / 10, 1))})
    odays = rng.integers(0, ORDER_DAYS, n_ord)
    emit("orders", {
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": pa.array(_pick(rng, tuple("OFP"), n_ord), pa.string()),
        "o_totalprice": pa.array(_money(rng, 1000, 500_000, n_ord)),
        "o_orderdate": pa.array(
            (ORDER_DAY0 + odays).astype("datetime64[us]"),
            pa.timestamp("us")),
        "o_orderpriority": pa.array(_pick(rng, PRIORITIES, n_ord),
                                    pa.string())})
    lines = rng.integers(1, 8, n_ord)           # 1-7 lines per order
    lok = np.repeat(np.arange(n_ord), lines)
    n_li = len(lok)
    linenumber = np.arange(n_li) - np.repeat(np.cumsum(lines) - lines, lines) + 1
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    emit("lineitem", {
        "l_orderkey": pa.array(lok, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(linenumber, pa.int32()),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(
            qty * rng.uniform(900, 2100, n_li), 2)),
        "l_discount": pa.array(rng.integers(0, 11, n_li) / 100),
        "l_tax": pa.array(rng.integers(0, 9, n_li) / 100),
        "l_returnflag": pa.array(_pick(rng, tuple("ANR"), n_li), pa.string()),
        "l_linestatus": pa.array(_pick(rng, tuple("FO"), n_li), pa.string()),
        "l_shipdate": pa.array(
            (ORDER_DAY0 + odays[lok] + rng.integers(1, 122, n_li)
             ).astype("datetime64[us]"), pa.timestamp("us"))})
    emit("events", _events(rng, 0, _rows("events", sf), n_users(sf), 0))
    if tables is None or "documents" in tables:
        emit("documents", documents(rng, 0, _rows("documents", sf)))
    return out


def new_month_events(out_dir: str, seed: int, sf: float, month: int,
                     name: str = "events_new") -> tuple[int, int]:
    """A seeded batch of events for month slot ``month`` (ids above
    every base event), sized at 1/8 of the base events table. The
    same user and type domains as the base, so it reaches exactly
    the events cone of the asset graph."""
    rng = np.random.default_rng([seed, 2, month])
    base = _rows("events", sf)
    n = max(base // 8, 10)
    cols = _events(rng, base + month * n, n, n_users(sf), month)
    p = _write(out_dir, name, cols)
    return n, os.path.getsize(p)


# ------------------------------------------------------------ documents

def documents(rng, first_id: int, n: int, dup_frac: float = 0.05) -> dict:
    """``n`` docs of 10-100 vocabulary words; ``dup_frac`` of them are
    lightly mutated copies of an earlier doc, so the corpus carries
    near-duplicate structure."""
    texts: list[str] = []
    for i in range(n):
        if i > 10 and rng.random() < dup_frac:
            src = texts[int(rng.integers(0, i))]
            texts.append(mutate(src, f"d{first_id + i}", 3))
        else:
            k = int(rng.integers(10, 101))
            texts.append(" ".join(np.asarray(VOCAB)[rng.integers(
                0, len(VOCAB), k)]))
    return doc_columns(range(first_id, first_id + n), texts, rng)


def doc_columns(ids, texts: list[str], rng) -> dict:
    n = len(texts)
    return {
        "doc_id": pa.array(ids, pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(_pick(rng, LANGS, n), pa.string()),
        "source": pa.array([f"src{i % 20}" for i in ids], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }


def mutate(text: str, tag: str, rate: int) -> str:
    """Deterministic same-length word substitution keyed on (word, tag):
    each word is replaced with probability ``rate``% by an md5-derived
    token of the same length (the corpus scaler's mutation recipe), so
    two docs mutated under one tag keep their shared words shared."""
    out = []
    for w in text.split(" "):
        h = hashlib.md5(f"{w}:{tag}".encode()).hexdigest()
        if w and int(h[:8], 16) % 100 < rate:
            w = (h * (1 + len(w) // 32))[:len(w)]
        out.append(w)
    return " ".join(out)


def write_docs(path: str, ids: list[int], texts: list[str],
               seed: int) -> tuple[int, int]:
    rng = np.random.default_rng([seed, 3, ids[0]])
    pq.write_table(pa.table(doc_columns(ids, texts, rng)), path)
    return len(texts), os.path.getsize(path)


def doc_batch(corpus: list[str], held_out: list[str], seed: int,
              cycle: int, size: int) -> list[str]:
    """One ingest batch: near-duplicates (3% mutation) of held-out and
    corpus docs mixed with unrelated rewrites (60% mutation), in a
    fixed proportion so every batch does the same amount of work."""
    rng = np.random.default_rng([seed, 4, cycle])
    out = []
    for j in range(size):
        pool = held_out if j % 2 == 0 else corpus
        src = pool[int(rng.integers(0, len(pool)))]
        rate = 3 if j % 4 < 2 else 60
        out.append(mutate(src, f"b{cycle}.{j}", rate))
    return out
