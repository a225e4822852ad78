"""Seeded input generator (numpy + pyarrow; never touches Spark).

Produces the TPC-H-shaped star schema the sync and catalog workloads read,
shaped like the sf0.1 fixtures (600k lineitem rows, 150k orders, one row
group per file, snappy), plus the two change streams:

* ``snapshot_pair``: lineitem snapshots A and B that differ by an exact 1%
  I/U/D mix (``SNAPSHOT_CHANGES`` rows of each op). A -> B and B -> A
  reconcile the same changeset size.
* ``CdcStream``: orders plus a ``change_version`` column; each ``step()``
  bumps ``CDC_UPDATES`` existing keys and appends ``CDC_INSERTS`` new ones at
  a fresh version (no deletes: a version filter cannot see them).

The same seed gives the same tables, byte for byte, and the same expected
op counts.
"""

from __future__ import annotations

import hashlib
import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

N_ORDERS = 150_000
N_LINEITEM = 600_000
N_CUSTOMER = 15_000
N_PART = 20_000
N_SUPPLIER = 1_000
MAX_LINES = 7

SNAPSHOT_CHANGES = N_LINEITEM // 300  # per op: 1% of the table split evenly over I/U/D
CDC_UPDATES = 300
CDC_INSERTS = 100

LINEITEM_PK = ["l_orderkey", "l_linenumber"]
ORDERS_PK = ["o_orderkey"]
VERSION_COL = "change_version"

_EPOCH_US = 788_918_400 * 1_000_000  # 1995-01-01T00:00:00Z
_DAY_US = 86_400 * 1_000_000
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_ADJ = ["large", "hot", "blue", "small", "green", "red", "cold", "dark"]
_NOUN = ["ring", "bolt", "nut", "gear", "pipe", "valve", "screw", "spring"]


def _strings(choices: list[str], idx: np.ndarray) -> pa.Array:
    return pa.DictionaryArray.from_arrays(pa.array(idx, pa.int32()), pa.array(choices)).cast(
        pa.string()
    )


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng: np.random.Generator, lo: int, hi: int, n: int) -> pa.Array:
    return pa.array(_EPOCH_US + rng.integers(lo, hi, n) * _DAY_US, pa.timestamp("us"))


def _replace(table: pa.Table, **columns: pa.Array) -> pa.Table:
    for name, values in columns.items():
        table = table.set_column(table.schema.get_field_index(name), name, values)
    return table


def _lineitem_rows(rng: np.random.Generator, slots: np.ndarray) -> pa.Table:
    """Lineitem rows for the given (orderkey * MAX_LINES + linenumber - 1) slots."""
    n = len(slots)
    qty = rng.integers(1, 51, n).astype(np.float64)
    return pa.table(
        {
            "l_orderkey": pa.array(slots // MAX_LINES, pa.int64()),
            "l_linenumber": pa.array(slots % MAX_LINES + 1, pa.int32()),
            "l_partkey": pa.array(rng.integers(0, N_PART, n), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, N_SUPPLIER, n), pa.int64()),
            "l_quantity": pa.array(qty),
            "l_extendedprice": pa.array(_money(rng, 900.0, 105_000.0, n)),
            "l_discount": pa.array(rng.integers(0, 11, n) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, n) / 100.0),
            "l_returnflag": _strings(["A", "N", "R"], rng.integers(0, 3, n)),
            "l_linestatus": _strings(["F", "O"], rng.integers(0, 2, n)),
            "l_shipdate": _days(rng, 1, 2500, n),
        }
    )


def _orders_rows(rng: np.random.Generator, keys: np.ndarray, version: int) -> pa.Table:
    n = len(keys)
    return pa.table(
        {
            "o_orderkey": pa.array(keys, pa.int64()),
            "o_custkey": pa.array(rng.integers(0, N_CUSTOMER, n), pa.int64()),
            "o_orderstatus": _strings(["F", "O", "P"], rng.integers(0, 3, n)),
            "o_totalprice": pa.array(_money(rng, 1000.0, 500_000.0, n)),
            "o_orderdate": _days(rng, 0, 2404, n),
            "o_orderpriority": _strings(_PRIORITIES, rng.integers(0, 5, n)),
            VERSION_COL: pa.array(np.full(n, version), pa.int64()),
        }
    )


def lineitem_table(seed: int) -> pa.Table:
    """600k lineitem rows over distinct (orderkey, linenumber) slots.

    The PK columns lead the schema: ``merge_apply`` writes the using-join
    keys first, and ``snapshot_diff``'s digest is positional, so a source
    whose PK columns do not lead would diff as fully updated against any
    merged target (see perfbench/README.md, "Known defect")."""
    rng = np.random.default_rng([seed, 0, 7])
    slots = np.sort(rng.choice(N_ORDERS * MAX_LINES, N_LINEITEM, replace=False))
    return _lineitem_rows(rng, rng.permutation(slots))


STAR_TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem")


def star_schema(seed: int) -> dict[str, pa.Table]:
    """The STAR_TABLES, keyed by name."""
    rng = np.random.default_rng([seed, 0])
    nation = np.arange(25)
    cust = np.arange(N_CUSTOMER)
    supp = np.arange(N_SUPPLIER)
    part = np.arange(N_PART)
    # balances with more than two decimals on ~12% of rows, like the fixtures
    acct = _money(rng, -999.99, 9999.99, N_CUSTOMER)
    acct[rng.random(N_CUSTOMER) < 0.12] += 0.001
    orders = _orders_rows(rng, np.arange(N_ORDERS), 1).drop_columns([VERSION_COL])
    return {
        "region": pa.table(
            {"r_regionkey": pa.array(np.arange(5), pa.int32()), "r_name": pa.array(_REGIONS)}
        ),
        "nation": pa.table(
            {
                "n_nationkey": pa.array(nation, pa.int32()),
                "n_name": pa.array([f"NATION_{i}" for i in nation]),
                "n_regionkey": pa.array(nation % 5, pa.int32()),
            }
        ),
        "customer": pa.table(
            {
                "c_custkey": pa.array(cust, pa.int64()),
                "c_name": pa.array([f"Customer#{i:09d}" for i in cust]),
                "c_nationkey": pa.array(rng.integers(0, 25, N_CUSTOMER), pa.int32()),
                "c_acctbal": pa.array(acct),
                "c_mktsegment": _strings(_SEGMENTS, rng.integers(0, 5, N_CUSTOMER)),
            }
        ),
        "supplier": pa.table(
            {
                "s_suppkey": pa.array(supp, pa.int64()),
                "s_name": pa.array([f"Supplier#{i:09d}" for i in supp]),
                "s_nationkey": pa.array(rng.integers(0, 25, N_SUPPLIER), pa.int32()),
                "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, N_SUPPLIER)),
            }
        ),
        "part": pa.table(
            {
                "p_partkey": pa.array(part, pa.int64()),
                "p_name": pa.array(
                    [f"{_ADJ[a]} {_NOUN[b]}" for a, b in rng.integers(0, 8, (N_PART, 2))]
                ),
                "p_brand": pa.array([f"Brand#{i}" for i in rng.integers(1, 26, N_PART)]),
                "p_type": _strings(_PTYPES, rng.integers(0, 6, N_PART)),
                "p_size": pa.array(rng.integers(1, 51, N_PART), pa.int32()),
                "p_retailprice": pa.array(np.round(900.0 + (part % 1000) / 10.0, 2)),
            }
        ),
        "orders": orders,
        "lineitem": lineitem_table(seed),
    }


def write_parquet(table: pa.Table, path: str) -> int:
    """Write atomically (tmp + rename) and return the file size in bytes."""
    tmp = path + ".tmp"
    pq.write_table(table, tmp)
    os.replace(tmp, path)
    return os.path.getsize(path)


def write_star_schema(tables: dict[str, pa.Table], data_dir: str) -> None:
    os.makedirs(data_dir, exist_ok=True)
    for name, table in tables.items():
        write_parquet(table, os.path.join(data_dir, f"{name}.parquet"))


@dataclass(frozen=True)
class SnapshotPair:
    a: pa.Table
    b: pa.Table
    counts_a_to_b: dict[str, int]
    counts_b_to_a: dict[str, int]


def snapshot_pair(lineitem: pa.Table, seed: int) -> SnapshotPair:
    """Snapshot B = A minus SNAPSHOT_CHANGES deleted rows, with SNAPSHOT_CHANGES
    rows updated and SNAPSHOT_CHANGES new keys inserted."""
    rng = np.random.default_rng([seed, 1])
    n = lineitem.num_rows
    k = SNAPSHOT_CHANGES
    picked = rng.choice(n, 2 * k, replace=False)
    deleted, updated = picked[:k], picked[k:]
    keep = np.ones(n, dtype=bool)
    keep[deleted] = False

    qty = lineitem["l_quantity"].to_numpy().copy()
    price = lineitem["l_extendedprice"].to_numpy().copy()
    qty[updated] = (qty[updated] % 50) + 1  # always a different value
    price[updated] = np.round(price[updated] + 1.0, 2)
    b = _replace(lineitem, l_quantity=pa.array(qty), l_extendedprice=pa.array(price))
    used = lineitem["l_orderkey"].to_numpy() * MAX_LINES + lineitem["l_linenumber"].to_numpy() - 1
    free = np.setdiff1d(np.arange(N_ORDERS * MAX_LINES), used, assume_unique=True)
    inserts = _lineitem_rows(rng, rng.choice(free, k, replace=False))
    b = pa.concat_tables([b.filter(pa.array(keep)), inserts])
    ops = {"I": k, "U": k, "D": k}
    return SnapshotPair(lineitem, b, dict(ops), dict(ops))


@dataclass
class CdcStream:
    """Orders with a change-version column, mutated one seeded batch at a time."""

    seed: int
    table: pa.Table = field(init=False)
    version: int = field(init=False, default=1)
    steps: int = field(init=False, default=0)

    def __post_init__(self) -> None:
        rng = np.random.default_rng([self.seed, 2])
        self.table = _orders_rows(rng, np.arange(N_ORDERS), self.version)

    def step(self) -> dict[str, int]:
        """Apply the next batch; return its expected op counts."""
        self.steps += 1
        self.version += 1
        rng = np.random.default_rng([self.seed, 3, self.steps])
        n = self.table.num_rows
        updated = rng.choice(n, CDC_UPDATES, replace=False)
        price = self.table["o_totalprice"].to_numpy().copy()
        price[updated] = np.round(price[updated] + 1.0, 2)
        ver = self.table[VERSION_COL].to_numpy().copy()
        ver[updated] = self.version
        t = _replace(self.table, o_totalprice=pa.array(price), **{VERSION_COL: pa.array(ver)})
        new_keys = np.arange(N_ORDERS + (self.steps - 1) * CDC_INSERTS, N_ORDERS + self.steps * CDC_INSERTS)
        self.table = pa.concat_tables([t, _orders_rows(rng, new_keys, self.version)]).combine_chunks()
        return {"I": CDC_INSERTS, "U": CDC_UPDATES}


def canonical_hash(table: pa.Table, pk: list[str]) -> str:
    """Order- and encoding-insensitive content hash: PK-sorted rows, columns
    by name, timestamps as epoch microseconds, strings dictionary-encoded in
    order of first appearance (the same for the same sorted column)."""
    t = table.sort_by([(c, "ascending") for c in pk])
    h = hashlib.sha256()
    for name in sorted(t.column_names):
        col = t[name].combine_chunks()
        h.update(name.encode())
        if pa.types.is_timestamp(col.type):
            col = col.cast(pa.timestamp("us", tz=col.type.tz)).cast(pa.int64())
        if pa.types.is_string(col.type) or pa.types.is_large_string(col.type):
            col = col.dictionary_encode()
            h.update("\0".join(col.dictionary.to_pylist()).encode())
            col = col.indices
        h.update(col.to_numpy(zero_copy_only=False).tobytes())
    return h.hexdigest()
