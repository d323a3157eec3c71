"""Seeded benchmark inputs.

Everything the program under test reads is generated here from the
workload seed: the source-code corpus (through the engine's own
``sources.corpus.generate_corpus``, which also yields the ground truth
the build workloads are checked against) and a TPC-H-shaped key schema
from which ``sources.tpch_kg`` derives the analytics knowledge graph.
"""

from __future__ import annotations

import os
import random

# TPC-H cardinalities per scale factor (spec 4.2.5); only the key
# columns the KG derivation reads are generated
_TPCH_BASE = {"customer": 150_000, "supplier": 10_000, "part": 200_000, "orders": 1_500_000}
TPCH_TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem")


def corpus(files: int, call_lines: int, funcs: int, seed: int):
    """(rows, truth) of a corpus with ``files`` files in 50-file repos,
    ``call_lines`` call sites per file over ``funcs`` function names."""
    from kgw_spark.sources.corpus import generate_corpus

    return generate_corpus(
        n_repos=max(1, files // 50),
        files_per_repo=min(50, files),
        seed=seed,
        n_funcs=funcs,
        n_call_lines=call_lines,
        track_truth=True,
    )


def write_corpus(path: str, rows: list[dict], files: int) -> None:
    """The corpus table as ``files`` parquet files (the scan's input
    splits), written without Spark."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(path, exist_ok=True)
    cols = ["repo", "path", "commit", "lang", "content", "content_sha256"]
    step = -(-len(rows) // files)
    for i in range(0, len(rows), step):
        chunk = rows[i : i + step]
        table = pa.table({c: pa.array([r[c] for r in chunk], type=pa.string()) for c in cols})
        pq.write_table(table, os.path.join(path, f"part-{i // step:05d}.parquet"))


def alias_rows(truth) -> list[tuple[str, str, float]]:
    return [(a, c, float(s)) for a, (c, s) in sorted(truth.alias_dict.items())]


def tpch_tables(sf: float, seed: int) -> dict[str, dict[str, list[int]]]:
    """Column dicts of the seven TPC-H tables the KG view reads, with
    TPC-H's key relationships: nations in 5 regions, customers and
    suppliers in nations, 1-7 lineitems per order, and each part
    supplied by one of 4 suppliers."""
    rng = random.Random(seed)
    n = {t: max(4, int(c * sf)) for t, c in _TPCH_BASE.items()}
    t: dict[str, dict[str, list[int]]] = {
        "region": {"r_regionkey": list(range(5))},
        "nation": {"n_nationkey": list(range(25)), "n_regionkey": [k % 5 for k in range(25)]},
    }
    t["customer"] = {
        "c_custkey": list(range(1, n["customer"] + 1)),
        "c_nationkey": [rng.randrange(25) for _ in range(n["customer"])],
    }
    t["supplier"] = {
        "s_suppkey": list(range(1, n["supplier"] + 1)),
        "s_nationkey": [rng.randrange(25) for _ in range(n["supplier"])],
    }
    t["part"] = {"p_partkey": list(range(1, n["part"] + 1))}
    # TPC-H leaves every third customer without orders
    buyers = [c for c in t["customer"]["c_custkey"] if c % 3]
    orders = list(range(1, n["orders"] + 1))
    t["orders"] = {"o_orderkey": orders, "o_custkey": [rng.choice(buyers) for _ in orders]}
    lo, lp, ls = [], [], []
    n_supp = n["supplier"]
    for o in orders:
        for _ in range(rng.randint(1, 7)):
            p = rng.randint(1, n["part"])
            lo.append(o)
            lp.append(p)
            ls.append((p + rng.randrange(4) * (n_supp // 4 + 1)) % n_supp + 1)
    t["lineitem"] = {"l_orderkey": lo, "l_partkey": lp, "l_suppkey": ls}
    return t


def write_tpch(sf_dir: str, tables: dict[str, dict[str, list[int]]]) -> None:
    """One single-file ``<table>.parquet`` per table, as the testdata
    layout ``tpch_kg.load_tables`` reads."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(sf_dir, exist_ok=True)
    for name, cols in tables.items():
        arrays = {c: pa.array(v, type=pa.int64()) for c, v in cols.items()}
        pq.write_table(pa.table(arrays), os.path.join(sf_dir, f"{name}.parquet"))
