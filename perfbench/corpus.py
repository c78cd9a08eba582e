"""Seeded input corpora for the benchmark workloads.

The benchmark must run from a bare checkout, so it cannot read the shared
test corpora; it writes its own. Schemas, value shapes and the parquet
encodings (TIMESTAMP(MICROS) date columns, int32 keys where the corpus has
them) follow the corpus the engine is built for (see ``catalog.COLUMNS``);
every value is drawn from ``numpy.random.default_rng(seed)``, and the rows
are permuted with the same generator, so the same seed always gives the
same tables.
"""

from __future__ import annotations

import hashlib
import json
import os

import numpy as np
import pandas as pd

SEGMENTS = ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]

# Rows per table for each corpus size. "lineitem_20k" is large enough that
# per-value work is a visible share of a profiling pass, and small enough
# that its DuckDB oracle check, the cold pass and the timed passes fit one
# run. "octopus_supplier100" pairs the sf0.01 supplier table (100 rows),
# which every predict profiles, with sf0.001-sized training tables, which
# keep the cold training in set-up short. The sf0.001 sizes are for the
# smoke mode.
SIZES: dict[str, dict[str, int]] = {
    "lineitem_20k": {"lineitem": 20_000, "orders": 5_000, "part": 700, "supplier": 35},
    "lineitem_sf0.001": {"lineitem": 6_000, "orders": 1_500, "part": 200, "supplier": 10},
    "octopus_supplier100": {"customer": 150, "orders": 1_500, "supplier": 100},
    "octopus_sf0.001": {"customer": 150, "orders": 1_500, "supplier": 10},
}


def _lineitem(rng, n: int, n_orders: int, n_part: int, n_supp: int) -> pd.DataFrame:
    odate = pd.Timestamp("1995-01-01") + pd.to_timedelta(
        rng.integers(0, 2405, n_orders), unit="D"
    )
    l_ord = rng.integers(0, n_orders, n).astype(np.int64)
    qty = rng.integers(1, 51, n).astype(float)
    # TPC-H-style retail prices keep every extended price in [900, 105000):
    # Spark renders doubles of 1e7 and above in scientific notation and
    # DuckDB does not, so larger values would break the oracle comparison
    unit = rng.uniform(900.0, 2100.0, n)
    return pd.DataFrame({
        "l_orderkey": l_ord,
        "l_partkey": rng.integers(0, n_part, n).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * unit, 2),
        "l_discount": np.round(rng.integers(0, 11, n) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, n) / 100.0, 2),
        "l_returnflag": rng.choice(["N", "R", "A"], n),
        "l_linestatus": rng.choice(["F", "O"], n),
        "l_shipdate": odate.values[l_ord] + rng.integers(1, 96, n) * np.timedelta64(1, "D"),
    })


def _octopus_tables(rng, n_cust: int, n_ord: int, n_supp: int) -> dict[str, pd.DataFrame]:
    odate = pd.Timestamp("1995-01-01") + pd.to_timedelta(
        rng.integers(0, 2405, n_ord), unit="D"
    )
    return {
        "nation": pd.DataFrame({
            "n_nationkey": np.arange(25, dtype=np.int32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": (np.arange(25) % 5).astype(np.int32),
        }),
        "customer": pd.DataFrame({
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": np.round(rng.uniform(-1000, 10000, n_cust), 2),
            "c_mktsegment": rng.choice(SEGMENTS, n_cust),
        }),
        "orders": pd.DataFrame({
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
            "o_orderstatus": rng.choice(["P", "O", "F"], n_ord),
            "o_totalprice": np.round(rng.uniform(1000, 500000, n_ord), 2),
            "o_orderdate": odate,
            "o_orderpriority": rng.choice(PRIORITIES, n_ord),
        }),
        "supplier": pd.DataFrame({
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
            "s_acctbal": np.round(rng.uniform(-1000, 10000, n_supp), 2),
        }),
    }


def generate(size: str, seed: int) -> dict[str, pd.DataFrame]:
    """All tables of one corpus size, drawn and row-permuted from ``seed``."""
    rows = SIZES[size]
    rng = np.random.default_rng(seed)
    if size.startswith("lineitem"):
        tables = {"lineitem": _lineitem(
            rng, rows["lineitem"], rows["orders"], rows["part"], rows["supplier"]
        )}
    else:
        tables = _octopus_tables(rng, rows["customer"], rows["orders"], rows["supplier"])
    return {
        name: df.iloc[rng.permutation(len(df))].reset_index(drop=True)
        for name, df in tables.items()
    }


def digest(tables: dict[str, pd.DataFrame]) -> str:
    """Content digest of a corpus: table names, schemas and every value."""
    h = hashlib.sha256()
    for name in sorted(tables):
        df = tables[name]
        h.update(f"{name}:{list(df.columns)}:{list(map(str, df.dtypes))}".encode())
        h.update(pd.util.hash_pandas_object(df, index=False).values.tobytes())
    return h.hexdigest()[:16]


def write_corpus(size: str, seed: int, root: str) -> dict:
    """Write the corpus for (size, seed) under ``root`` once; later calls
    reuse it. Returns its manifest (digest, row and column counts) plus the
    directory it lives in."""
    out = os.path.join(root, f"{size}-seed{seed}")
    manifest_path = os.path.join(out, "manifest.json")
    if not os.path.exists(manifest_path):
        tables = generate(size, seed)
        os.makedirs(out, exist_ok=True)
        for name, df in tables.items():
            df = df.copy()
            for c in df.columns:
                if str(df[c].dtype).startswith("datetime64"):
                    df[c] = df[c].astype("datetime64[us]")
            df.to_parquet(os.path.join(out, f"{name}.parquet"), index=False)
        manifest = {
            "size": size,
            "seed": seed,
            "digest": digest(tables),
            "rows": {name: len(df) for name, df in tables.items()},
            "cols": {name: len(df.columns) for name, df in tables.items()},
        }
        # written last: its presence marks a complete corpus
        with open(manifest_path, "w", encoding="utf-8") as fh:
            json.dump(manifest, fh)
    with open(manifest_path, encoding="utf-8") as fh:
        return dict(json.load(fh), dir=out)
