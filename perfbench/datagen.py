"""Deterministic synthetic fixture tables for the benchmark.

Writes one parquet file per table (``{out_dir}/{name}.parquet``) with the
schemas and value domains of the engine's fixture universe
(``sources.catalog.TABLES``): a TPC-H-shaped star schema and an ``events``
stream table. Row counts scale linearly with ``sf`` (``sf=0.01``
gives 60,000 ``lineitem`` rows). The same ``(sf, seed)`` always writes the
same rows.

Run directly to materialize a tier: ``python3 perfbench/datagen.py OUT_DIR SF``.
"""

from __future__ import annotations

import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: bump when the generated rows change, so cached tiers are rebuilt
VERSION = 1

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
COLORS = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUNS = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]

_DAY_US = 86_400 * 1_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
_EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)


def _ts(values_us: np.ndarray) -> pa.Array:
    return pa.array(values_us.astype(np.int64), type=pa.int64()).cast(
        pa.timestamp("us")
    )


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng: np.random.Generator, choices: list[str], n: int, p=None) -> pa.Array:
    idx = rng.choice(len(choices), size=n, p=p)
    return pa.DictionaryArray.from_arrays(
        pa.array(idx, type=pa.int32()), pa.array(choices)
    ).cast(pa.string())


def _keyed_names(prefix: str, n: int) -> pa.Array:
    return pa.array([f"{prefix}#{i:09d}" for i in range(n)])


def tables(sf: float, seed: int) -> dict[str, pa.Table]:
    """Build every fixture table in memory."""
    rng = np.random.Generator(np.random.PCG64(seed))
    n_cust = max(150, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(1_500, int(1_500_000 * sf))
    n_line = max(6_000, int(6_000_000 * sf))
    n_evt = max(1_000, int(1_000_000 * sf))
    n_user = max(150, int(15_000 * sf))
    i32 = lambda a: pa.array(np.asarray(a, dtype=np.int32))  # noqa: E731
    i64 = lambda a: pa.array(np.asarray(a, dtype=np.int64))  # noqa: E731

    out: dict[str, pa.Table] = {}
    out["region"] = pa.table(
        {"r_regionkey": i32(np.arange(5)), "r_name": pa.array(REGIONS)}
    )
    out["nation"] = pa.table(
        {
            "n_nationkey": i32(np.arange(25)),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": i32(np.arange(25) % 5),
        }
    )
    out["customer"] = pa.table(
        {
            "c_custkey": i64(np.arange(n_cust)),
            "c_name": _keyed_names("Customer", n_cust),
            "c_nationkey": i32(rng.integers(0, 25, n_cust)),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": _pick(rng, SEGMENTS, n_cust),
        }
    )
    out["supplier"] = pa.table(
        {
            "s_suppkey": i64(np.arange(n_supp)),
            "s_name": _keyed_names("Supplier", n_supp),
            "s_nationkey": i32(rng.integers(0, 25, n_supp)),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }
    )
    part_names = [f"{c} {n}" for c in COLORS for n in NOUNS]
    out["part"] = pa.table(
        {
            "p_partkey": i64(np.arange(n_part)),
            "p_name": _pick(rng, part_names, n_part),
            "p_brand": _pick(rng, [f"Brand#{i}" for i in range(1, 26)], n_part),
            "p_type": _pick(rng, PART_TYPES, n_part),
            "p_size": i32(rng.integers(1, 51, n_part)),
            "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 1),
        }
    )
    out["orders"] = pa.table(
        {
            "o_orderkey": i64(np.arange(n_ord)),
            "o_custkey": i64(rng.integers(0, n_cust, n_ord)),
            "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
            "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
            "o_orderdate": _ts(_EPOCH_1995 + rng.integers(0, 2404, n_ord) * _DAY_US),
            "o_orderpriority": _pick(rng, PRIORITIES, n_ord),
        }
    )
    out["lineitem"] = pa.table(
        {
            "l_orderkey": i64(rng.integers(0, n_ord, n_line)),
            "l_partkey": i64(rng.integers(0, n_part, n_line)),
            "l_suppkey": i64(rng.integers(0, n_supp, n_line)),
            "l_linenumber": i32(rng.integers(1, 8, n_line)),
            "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105000.0, n_line),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": _pick(rng, ["A", "N", "R"], n_line),
            "l_linestatus": _pick(rng, ["F", "O"], n_line),
            "l_shipdate": _ts(
                _EPOCH_1995 + (1 + rng.integers(0, 2499, n_line)) * _DAY_US
            ),
        }
    )
    gaps = rng.exponential(30 * _DAY_US / (n_evt + 1), n_evt)
    out["events"] = pa.table(
        {
            "event_id": i64(np.arange(n_evt)),
            "ts": _ts(_EPOCH_2024 + np.cumsum(gaps).astype(np.int64) + 1),
            "user_id": i64(rng.integers(0, n_user, n_evt)),
            "event_type": _pick(rng, EVENT_TYPES, n_evt),
            "value": np.round(0.01 + rng.exponential(50.0, n_evt), 2),
            "props": pa.array(
                [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)]
            ),
        }
    )
    return out


def write_tier(out_dir: str, sf: float, seed: int = 42) -> str:
    """Materialize every table under ``out_dir`` unless a complete tier of
    this generator version is already there. Writes to a sibling temp
    directory first and renames it into place, so a crashed write never
    leaves a half tier behind."""
    marker = os.path.join(out_dir, f".complete-v{VERSION}-sf{sf}-seed{seed}")
    if os.path.exists(marker):
        return out_dir
    tmp = f"{out_dir}.tmp-{os.getpid()}"
    os.makedirs(tmp, exist_ok=True)
    for name, table in tables(sf, seed).items():
        pq.write_table(table, os.path.join(tmp, f"{name}.parquet"))
    open(os.path.join(tmp, os.path.basename(marker)), "w").close()
    if os.path.exists(out_dir):
        import shutil

        shutil.rmtree(out_dir)
    os.replace(tmp, out_dir)
    return out_dir


if __name__ == "__main__":
    write_tier(sys.argv[1], float(sys.argv[2]))
