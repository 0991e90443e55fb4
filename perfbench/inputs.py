"""Seeded inputs: row-permuted copies of the benchmark's source tables.

The TPC-H-style tables (plus ``events``, ``documents``, ``embeddings``)
are the sf0.01 set kept under ``perfbench/data``. The 50 healthcare
source tables are rendered by ``fixtures.rows(n)``. The seed only
permutes row order: every file keeps its schema, compression and
row-group layout, so a correct query gives the same answer for every
seed. Files are written fresh for every run, so stores keyed by the input
file manifest are rebuilt each time.
"""

from __future__ import annotations

import hashlib
import os
import zlib

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
TPCH_DIR = os.path.join(HERE, "data", "sf0.01")
TPCH_TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


def _rng(seed: int, name: str) -> np.random.Generator:
    # numpy seeds are non-negative; two's complement keeps seeds distinct
    return np.random.default_rng([seed & (2**64 - 1), zlib.crc32(name.encode())])


def _write_permuted(table: pa.Table, path: str, seed: int, name: str, row_group: int) -> None:
    perm = _rng(seed, name).permutation(table.num_rows)
    pq.write_table(
        table.take(pa.array(perm)),
        path,
        row_group_size=max(row_group, 1),
        compression="snappy",
    )


def write_tpch(out_dir: str, seed: int) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name in TPCH_TABLES:
        src = os.path.join(TPCH_DIR, f"{name}.parquet")
        meta = pq.ParquetFile(src).metadata
        row_group = max(meta.row_group(i).num_rows for i in range(meta.num_row_groups))
        _write_permuted(pq.read_table(src), os.path.join(out_dir, f"{name}.parquet"), seed, name, row_group)


def _arrow_type(t):
    from pyspark.sql.types import BooleanType, DateType, DecimalType, IntegerType

    if isinstance(t, IntegerType):
        return pa.int32()
    if isinstance(t, DateType):
        return pa.date32()
    if isinstance(t, BooleanType):
        return pa.bool_()
    if isinstance(t, DecimalType):
        return pa.decimal128(t.precision, t.scale)
    return pa.string()


def healthcare_schema(name: str) -> pa.Schema:
    from data_engineer_project_spark.schemas import ALL_TABLES

    return pa.schema(
        [pa.field(f.name, _arrow_type(f.dataType)) for f in ALL_TABLES[name].fields]
    )


def write_healthcare(out_dir: str, seed: int, members: int) -> None:
    """The 50 source tables at ``members`` members, one parquet file each."""
    from data_engineer_project_spark import fixtures

    os.makedirs(out_dir, exist_ok=True)
    for name, rows in fixtures.rows(members).items():
        schema = healthcare_schema(name)
        cols = list(zip(*rows)) if rows else [() for _ in schema]
        table = pa.table(
            [pa.array(list(c), type=f.type) for c, f in zip(cols, schema)], schema=schema
        )
        _write_permuted(table, os.path.join(out_dir, f"{name}.parquet"), seed, name, table.num_rows)


def content_id(members: int) -> str:
    """Identity of the row multisets every seed permutes: the kept
    sf0.01 files, the fixture generator and its scale. Oracle answers
    depend on this, not on the seed."""
    from data_engineer_project_spark import fixtures, schemas

    h = hashlib.sha256(f"members={members}\n".encode())
    paths = [os.path.join(TPCH_DIR, f"{name}.parquet") for name in TPCH_TABLES]
    for path in paths + [fixtures.__file__, schemas.__file__]:
        with open(path, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]
