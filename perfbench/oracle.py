"""Expected results from DuckDB over the same generated files.

Each result is reduced to ``tools/check_correctness.result_fingerprint``:
row count, sorted column names and an order-insensitive hash. Oracle
SQL is written against ``@DIR@`` placeholders, so an answer can be cached
under the SQL and the identity of the input row multisets
(``inputs.content_id``). The seed only permutes rows, so the cached
answer of one seed is the answer for every seed.
"""

from __future__ import annotations

import hashlib
import json
import os

import duckdb

from data_engineer_project_spark import fixtures
from data_engineer_project_spark.schemas import ALL_TABLES
from perfbench.inputs import TPCH_TABLES
from tools.check_correctness import result_fingerprint

HC_DIR = "@DIR@/healthcare"
TPCH_DIR = "@DIR@/tpch"


def healthcare_sql(sql: str) -> str:
    """Point an oracle's inlined fixture CTEs at the generated files."""
    for name in ALL_TABLES:
        body = fixtures.table_cte(name)
        if body in sql:
            sql = sql.replace(body, f"SELECT * FROM read_parquet('{HC_DIR}/{name}.parquet')")
    return sql


def written_table_sql(out_dir: str, name: str) -> str:
    """A table written by ``write_star``, without its partition column."""
    return (
        f"SELECT * FROM read_parquet('{out_dir}/{name}/**/*.parquet', "
        "hive_partitioning = false)"
    )


def fingerprint(con, sql: str) -> dict:
    cur = con.execute(sql)
    cols = [d[0] for d in cur.description]
    fp = result_fingerprint(cols, cur.fetchall())
    return {"rows": fp["rows"], "cols": fp["cols"], "hash": fp["hash"]}


def connect(work_dir: str):
    con = duckdb.connect()
    con.execute("SET threads = 2")
    tpch = TPCH_DIR.replace("@DIR@", work_dir)
    if os.path.isdir(tpch):
        for name in TPCH_TABLES:
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{tpch}/{name}.parquet'")
    return con


class Oracle:
    """Fingerprints of oracle SQL, cached on disk by SQL and content id."""

    def __init__(self, work_dir: str, cache_path: str, content: str):
        self._work = work_dir
        self._cache_path = cache_path
        self._content = content
        self._con = None
        try:
            with open(cache_path) as f:
                self._cache = json.load(f)
        except (OSError, ValueError):
            self._cache = {}
        self._dirty = False

    def _db(self):
        if self._con is None:
            self._con = connect(self._work)
        return self._con

    def expected(self, sql_template: str) -> dict:
        key = hashlib.sha256(f"{self._content}\n{sql_template}".encode()).hexdigest()
        hit = self._cache.get(key)
        if hit is None:
            hit = fingerprint(self._db(), sql_template.replace("@DIR@", self._work))
            self._cache[key] = hit
            self._dirty = True
        return hit

    def actual(self, sql: str) -> dict:
        return fingerprint(self._db(), sql)

    def close(self) -> None:
        if self._con is not None:
            self._con.close()
            self._con = None
        if self._dirty:
            os.makedirs(os.path.dirname(self._cache_path), exist_ok=True)
            tmp = f"{self._cache_path}.{os.getpid()}"
            with open(tmp, "w") as f:
                json.dump(self._cache, f)
            os.replace(tmp, self._cache_path)
