"""Fixed-schema table registry.

The reference's data model is fixed-schema relational tables keyed on a
primary key (SURVEY.md §1.1); this registry is our equivalent of its schema
catalog. Schemas are transcribed from FIXTURES.md (measured from the parquet
files, not inferred) so schema drift in the input is *detected*, not silently
absorbed — see ``operators/schema_drift.py``.

``load`` reads with the declared schema; Catalyst still gets parquet
predicate pushdown and column pruning (the schema is the full file schema, so
the vectorized reader path is unchanged).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

__all__ = ["SCHEMAS", "PRIMARY_KEYS", "TABLES", "path_for", "load", "register_views"]


def _struct(*fields: tuple[str, T.DataType]) -> T.StructType:
    return T.StructType([T.StructField(name, dtype, True) for name, dtype in fields])


# Measured schemas (FIXTURES.md). All timestamps — including events.ts — are
# parquet timestamp[us] (re-probed via pyarrow 2026-08-13 at sf0.001/0.01/0.1),
# which Spark maps natively to TimestampType. A canary test
# (tests/test_catalog_oracle.py) pins events.ts to 2024-era values so a
# regenerated-testdata unit change fails loudly instead of silently shifting
# every event-time query.
SCHEMAS: dict[str, T.StructType] = {
    "region": _struct(
        ("r_regionkey", T.IntegerType()),
        ("r_name", T.StringType()),
    ),
    "nation": _struct(
        ("n_nationkey", T.IntegerType()),
        ("n_name", T.StringType()),
        ("n_regionkey", T.IntegerType()),
    ),
    "customer": _struct(
        ("c_custkey", T.LongType()),
        ("c_name", T.StringType()),
        ("c_nationkey", T.IntegerType()),
        ("c_acctbal", T.DoubleType()),
        ("c_mktsegment", T.StringType()),
    ),
    "supplier": _struct(
        ("s_suppkey", T.LongType()),
        ("s_name", T.StringType()),
        ("s_nationkey", T.IntegerType()),
        ("s_acctbal", T.DoubleType()),
    ),
    "part": _struct(
        ("p_partkey", T.LongType()),
        ("p_name", T.StringType()),
        ("p_brand", T.StringType()),
        ("p_type", T.StringType()),
        ("p_size", T.IntegerType()),
        ("p_retailprice", T.DoubleType()),
    ),
    "orders": _struct(
        ("o_orderkey", T.LongType()),
        ("o_custkey", T.LongType()),
        ("o_orderstatus", T.StringType()),
        ("o_totalprice", T.DoubleType()),
        ("o_orderdate", T.TimestampType()),
        ("o_orderpriority", T.StringType()),
    ),
    "lineitem": _struct(
        ("l_orderkey", T.LongType()),
        ("l_partkey", T.LongType()),
        ("l_suppkey", T.LongType()),
        ("l_linenumber", T.IntegerType()),
        ("l_quantity", T.DoubleType()),
        ("l_extendedprice", T.DoubleType()),
        ("l_discount", T.DoubleType()),
        ("l_tax", T.DoubleType()),
        ("l_returnflag", T.StringType()),
        ("l_linestatus", T.StringType()),
        ("l_shipdate", T.TimestampType()),
    ),
    "events": _struct(
        ("event_id", T.LongType()),
        ("ts", T.TimestampType()),
        ("user_id", T.LongType()),
        ("event_type", T.StringType()),
        ("value", T.DoubleType()),
        ("props", T.StringType()),
    ),
    "documents": _struct(
        ("doc_id", T.LongType()),
        ("text", T.StringType()),
        ("lang", T.StringType()),
        ("source", T.StringType()),
        ("n_chars", T.LongType()),
    ),
    "embeddings": _struct(
        ("vec_id", T.LongType()),
        ("embedding", T.ArrayType(T.FloatType())),
        ("label", T.IntegerType()),
    ),
}

TABLES: tuple[str, ...] = tuple(SCHEMAS)

# Sync operators are keyed on these (SURVEY.md §1.1: sync is PK-keyed).
PRIMARY_KEYS: dict[str, tuple[str, ...]] = {
    "region": ("r_regionkey",),
    "nation": ("n_nationkey",),
    "customer": ("c_custkey",),
    "supplier": ("s_suppkey",),
    "part": ("p_partkey",),
    "orders": ("o_orderkey",),
    "lineitem": ("l_orderkey", "l_linenumber"),
    "events": ("event_id",),
    "documents": ("doc_id",),
    "embeddings": ("vec_id",),
}


def path_for(sf_dir: str, table: str) -> str:
    if table not in SCHEMAS:
        raise KeyError(f"unknown table {table!r}; known: {TABLES}")
    return f"{sf_dir.rstrip('/')}/{table}.parquet"


def rowcount(sf_dir: str, table: str) -> int:
    """Exact row count from parquet FOOTER metadata, no Spark job.

    For data-driven plan parameters (e.g. the semantic-dedup codebook size
    K = ceil(n/target)) the count is needed on the DRIVER before the plan
    is built; ``df.count()`` is also metadata-only under Spark's parquet
    aggregate pushdown but still schedules a job per fragment. Reading the
    footers via pyarrow.dataset is milliseconds and works for both a
    single parquet file and a directory of part files."""
    return parquet_rows(path_for(sf_dir, table))


def parquet_rows(path: str) -> int:
    """``rowcount`` for any parquet file or directory of part files (files
    starting with ``_`` or ``.``, such as ``_SUCCESS``, are skipped)."""
    import pyarrow.dataset as pads

    ds = pads.dataset(path, format="parquet")
    return sum(frag.metadata.num_rows for frag in ds.get_fragments())


def table_bytes(sf_dir: str, table: str) -> int:
    """On-disk (compressed) size of one registry table, no Spark job.

    Companion to ``rowcount`` for data-driven plan decisions that should
    key on SCAN COST rather than cardinality (e.g. dq_constraint_report's
    single-scan fold gate): sums the parquet fragment file sizes via
    pyarrow.dataset, so a single file and a directory of part files both
    work."""
    import pyarrow.dataset as pads

    ds = pads.dataset(path_for(sf_dir, table), format="parquet")
    return sum(os.path.getsize(f) for f in ds.files)


def load(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    """Read one registry table with its declared schema.

    Declared (not inferred) schema mirrors the reference's fixed-schema model;
    pushdown/pruning still apply because the schema matches the file. Every
    timestamp column (o_orderdate, l_shipdate, events.ts) is parquet
    timestamp[us], which Spark maps natively to TimestampType — no unit
    conversion is performed here.
    """
    return spark.read.schema(SCHEMAS[table]).parquet(path_for(sf_dir, table))


def register_views(spark: SparkSession, sf_dir: str, tables: tuple[str, ...] = TABLES) -> None:
    """Register every table as a temp view so ``spark.sql`` queries (EP3,
    SURVEY.md §3.1) see the same relations the oracle sees."""
    for table in tables:
        load(spark, sf_dir, table).createOrReplaceTempView(table)
