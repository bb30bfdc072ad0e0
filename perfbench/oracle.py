"""Correctness gate: independent recomputation of the workloads' outputs.

Relational outputs are checked against each query's registered DuckDB
SQL (``plans.queries.ORACLES``) over the same parquet inputs, with the
column-sorted canonical comparison of ``tools/driver_sim.compare``.
Near-duplicate probes are checked against an exact shingle-Jaccard
recomputation in plain Python.
"""

from __future__ import annotations

import importlib.util
import os
from collections import defaultdict

import duckdb

ANALYST_TABLES = ("region", "nation", "customer", "supplier", "part",
                  "orders", "lineitem", "events")

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _driver_sim():
    spec = importlib.util.spec_from_file_location(
        "driver_sim", os.path.join(_ROOT, "tools", "driver_sim.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


compare = _driver_sim().compare


def parquet_glob(path: str) -> str:
    return os.path.join(path, "**", "*.parquet") if os.path.isdir(path) \
        else path


def duck_over(data_dir: str, tables=ANALYST_TABLES):
    """A DuckDB connection with one view per table under ``data_dir``
    (a parquet file or a directory of part files per table)."""
    con = duckdb.connect()
    for t in tables:
        p = os.path.join(data_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{parquet_glob(p)}')")
    return con


def compare_query(con, name: str, got) -> str | None:
    from pudl_spark.plans.queries import ORACLES

    return compare(name, got, con.execute(ORACLES[name]).df())


# ------------------------------------------------------ shingle Jaccard

def shingles(text: str, k: int = 3) -> frozenset:
    """k-word shingles over whitespace tokens, as the engine defines
    them (documents shorter than k words have none)."""
    t = text.strip().split()
    return frozenset(" ".join(t[i:i + k]) for i in range(len(t) - k + 1))


class ShingleIndex:
    """Exact Jaccard similarity of a document against every indexed
    document, through an inverted shingle index."""

    def __init__(self):
        self.sets: dict[int, frozenset] = {}
        self._post: dict[str, list[int]] = defaultdict(list)

    def add(self, doc_id: int, text: str) -> None:
        s = shingles(text)
        self.sets[doc_id] = s
        for sh in s:
            self._post[sh].append(doc_id)

    def similar(self, text: str, threshold: float) -> dict[int, float]:
        q = shingles(text)
        inter: dict[int, int] = defaultdict(int)
        for sh in q:
            for d in self._post.get(sh, ()):
                inter[d] += 1
        out = {}
        for d, n in inter.items():
            union = len(q) + len(self.sets[d]) - n
            j = n / union if union else 0.0
            if j >= threshold:
                out[d] = j
        return out


def check_probe(index: ShingleIndex, batch: dict[int, str], pairs,
                threshold: float, must_find: float = 0.9) -> str | None:
    """Every returned pair must be a real pair with the exact Jaccard
    value; every pair at or above ``must_find`` must be returned (LSH
    may miss pairs nearer the threshold, with small probability)."""
    got = {(int(r.new_id), int(r.corpus_id)): float(r.jaccard)
           for r in pairs.itertuples(index=False)}
    for new_id, text in batch.items():
        exact = index.similar(text, threshold)
        for cid, j in exact.items():
            g = got.pop((new_id, cid), None)
            if g is None and j >= must_find:
                return f"missed pair ({new_id}, {cid}) jaccard={j:.3f}"
            if g is not None and abs(g - j) > 1e-12:
                return f"pair ({new_id}, {cid}) jaccard {g} != exact {j}"
    if got:
        return f"{len(got)} pairs below threshold or unknown, e.g. " \
               f"{next(iter(got))}"
    return None
