"""DuckDB oracle results, cached per fixture dir.

Each gate's Spark output is compared with its DuckDB oracle through
``tools/check_oracle.compare``. Running DuckDB on every benchmark run
would add seconds of work that is not the program's, so the oracle
results for the fixture dir are stored beside the fixtures, in the
form ``compare`` reduces rows to (``check_oracle.norm`` strings), and
served through a stand-in for the DuckDB connection. A gate whose
oracle SQL changed since the cache was written falls back to DuckDB
in memory.

Rebuild the cache after changing a workload's gates or a fixture:

    python3 perfbench/oracle.py
"""

from __future__ import annotations

import hashlib
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def cache_path(sf_dir: str) -> str:
    return os.path.join(sf_dir, "oracle.json")


def sql_key(sql: str) -> str:
    return hashlib.sha256(sql.encode()).hexdigest()[:16]


def _duck(sf_dir: str):
    import duckdb

    con = duckdb.connect()
    for name in sorted(os.listdir(sf_dir)):
        if name.endswith(".parquet"):
            con.sql(f"CREATE VIEW {name[:-8]} AS SELECT * FROM '{sf_dir}/{name}'")
    return con


class _Result:
    def __init__(self, entry: dict):
        self.columns = entry["columns"]
        self.types = entry["types"]
        self._rows = [tuple(r) for r in entry["rows"]]

    def fetchall(self) -> list[tuple]:
        return self._rows


def _reduce(res, norm) -> dict:
    return {
        "columns": list(res.columns),
        "types": [str(t) for t in res.types],
        "rows": [[norm(v) for v in row] for row in res.fetchall()],
    }


class CachedOracle:
    """Quacks like the DuckDB connection ``compare`` expects."""

    def __init__(self, sf_dir: str):
        self.sf_dir = sf_dir
        try:
            with open(cache_path(sf_dir)) as fh:
                self._cache = json.load(fh)
        except FileNotFoundError:
            self._cache = {}
        self._con = None
        self.misses = 0

    def sql(self, sql: str) -> _Result:
        entry = self._cache.get(sql_key(sql))
        if entry is None:
            from tools.check_oracle import norm

            self.misses += 1
            if self._con is None:
                self._con = _duck(self.sf_dir)
            entry = self._cache[sql_key(sql)] = _reduce(self._con.sql(sql), norm)
        return _Result(entry)

    def rows(self, sql: str) -> int:
        return len(self.sql(sql).fetchall())


def build(sf_dir: str, gates: list[str]) -> None:
    sys.path.insert(0, ROOT)
    import __spark_entry__ as entry
    from tools.check_oracle import norm

    sqls = entry.oracle_sql()
    con = _duck(sf_dir)
    cache = {sql_key(sqls[g]): _reduce(con.sql(sqls[g]), norm) for g in gates}
    with open(cache_path(sf_dir), "w") as fh:
        json.dump(cache, fh, separators=(",", ":"), sort_keys=True)
        fh.write("\n")


if __name__ == "__main__":
    sys.path.insert(0, HERE)
    from workloads import FIXTURE_DIR, GATE_WORKLOADS

    build(FIXTURE_DIR, sorted({g for gates in GATE_WORKLOADS.values() for g in gates}))
